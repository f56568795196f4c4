#!/usr/bin/env python
"""spark-submit entry point: batch top-k retrieval from a checkpointed
index, writing a TREC-format run file. Rules: BM25 (default, optionally
RM3-expanded), Dirichlet QL (--method dir, Indri method:dir) or
two-stage smoothing (--method two, Indri method:two).

    spark-submit --py-files sqe.zip jobs/query_job.py \
        --index <index dir> --topics <topics file> --output <run dir> \
        [--k 1000] [--method bm25|dir|two] [--mu 1600] [--lam 0.4] \
        [--rm3] [--fb-docs 10] [--fb-terms 20] [--orig-weight 0.7] \
        [--indri]

``--indri`` treats each topic's text as an Indri query-language string
(`#weight/#combine/#odN/#uwN`, the strings an indriRunQuery.cfg
carries) executed through the phrase-clause scorer — requires an index
published with the positional stage when window operators appear.
``--indri --rm3`` composes them: RM3 PRF over the structured query,
the reference's full cfg configuration.

Topics format: `qid:text` lines (clueWeb style) or TREC SGML (auto by
extension .sgml). Local smoke:
    python jobs/query_job.py --index /tmp/idx_job \
        --topics /tmp/topics.txt --output /tmp/run
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--topics", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--k", type=int, default=1000)
    ap.add_argument("--method", default="bm25",
                    choices=["bm25", "dir", "two"],
                    help="retrieval rule: bm25 (contract-pinned), dir "
                         "(Dirichlet QL, Indri method:dir) or two "
                         "(two-stage smoothing, Indri method:two)")
    ap.add_argument("--mu", type=float, default=1600.0)
    ap.add_argument("--lam", type=float, default=0.4,
                    help="JM mixing weight for --method two")
    ap.add_argument("--rm3", action="store_true")
    ap.add_argument("--fb-docs", type=int, default=10)
    ap.add_argument("--fb-terms", type=int, default=20)
    ap.add_argument("--orig-weight", type=float, default=0.7)
    ap.add_argument("--indri", action="store_true",
                    help="topic text is Indri query language "
                         "(#weight/#combine/#odN/#uwN)")
    args = ap.parse_args()

    spark = SparkSession.getActiveSession()
    if spark is None:
        from sequential_query_expansion_spark.session import get_spark

        spark = get_spark("sqe-query")

    from sequential_query_expansion_spark.expansion.rm3 import rm3_topk
    from sequential_query_expansion_spark.index.maintenance import (
        load_index_live,
    )
    from sequential_query_expansion_spark.scoring.bm25 import (
        query_term_table, score_topk,
    )
    from sequential_query_expansion_spark.sources import trec

    # live load: pending delete_docs tombstones (pre-compact) are
    # applied, so runs never surface deleted docs — same semantics as
    # the serving tier (LocalSearcher live mode)
    idx = load_index_live(spark, args.index)
    if args.topics.endswith((".sgml", ".xml")):
        topics = trec.read_trec_topics_sgml(spark, args.topics)
    else:
        topics = trec.read_topics_lines(spark, args.topics)
    qt = query_term_table(topics)
    if args.indri:
        if args.method != "bm25":
            raise SystemExit("--indri runs the phrase-clause BM25 scorer "
                             "(no --method combination)")
        from sequential_query_expansion_spark.indriql import (
            parse_indri_topics,
        )
        from sequential_query_expansion_spark.scoring.phrase import (
            phrase_clauses_df, phrase_rm3_topk, phrase_weighted_topk,
        )
        from sequential_query_expansion_spark.util import local_frame

        # parse once, feed the clause tables to the scorer directly
        tmap = {r["qid"]: r["text"] for r in topics.collect()}
        term_rows, phrase_rows = parse_indri_topics(tmap)
        if phrase_rows and idx.positional is None:
            raise SystemExit(
                "--indri with #odN/#uwN operators requires an index "
                "published with --with-positions"
            )
        tc = local_frame(
            spark, term_rows, "qid string, term string, weight double"
        )
        pc = phrase_clauses_df(spark, phrase_rows) if phrase_rows else None
        if args.rm3:
            run = phrase_rm3_topk(
                spark, idx, idx.positional, tc, pc, k=args.k,
                fb_docs=args.fb_docs, fb_terms=args.fb_terms,
                orig_weight=args.orig_weight,
            )
        else:
            run = phrase_weighted_topk(idx, idx.positional, tc, pc, k=args.k)
    elif args.rm3:
        if args.method == "two":
            raise SystemExit("--rm3 supports --method bm25 or dir")
        run = rm3_topk(
            idx, qt, k=args.k, fb_docs=args.fb_docs,
            fb_terms=args.fb_terms, orig_weight=args.orig_weight,
            method=("dir" if args.method == "dir" else "bm25"), mu=args.mu,
        )
    elif args.method == "dir":
        from sequential_query_expansion_spark.scoring.lm import dirichlet_topk

        run = dirichlet_topk(idx, qt, k=args.k, mu=args.mu)
    elif args.method == "two":
        from sequential_query_expansion_spark.scoring.lm import two_stage_topk

        run = two_stage_topk(idx, qt, k=args.k, mu=args.mu, lam=args.lam)
    else:
        run = score_topk(idx, qt, k=args.k)
    trec.write_trec_run(run, args.output, tag="sqe-spark")
    # count the written file: counting `run` would execute the whole
    # retrieval (expansion and scoring) a second time
    n_rows = spark.read.text(args.output).count()
    print(f"wrote run ({n_rows} rows) -> {args.output}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
