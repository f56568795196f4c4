#!/usr/bin/env python
"""spark-submit entry point: checkpointed, resumable index build.

Cluster:
    zip -r sqe.zip sequential_query_expansion_spark
    spark-submit --py-files sqe.zip \
        --conf spark.sql.adaptive.enabled=true \
        --conf spark.sql.shuffle.partitions=<2-3x cores> \
        jobs/build_index_job.py --input <pages-or-docs path/table> \
        --output <index dir> [--text-col text] [--id-col doc_id] \
        [--num-buckets 64] [--salt-ranges 8]

Re-running after a failure resumes: finished stages and finished
term-hash buckets are never recomputed (index/checkpoint.py manifest).
Local smoke: python jobs/build_index_job.py --input \
/root/testdata/sf0.001/documents.parquet --output /tmp/idx_job
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from sequential_query_expansion_spark.session import (  # noqa: E402
    job_spark, read_input,
)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--num-buckets", type=int, default=64)
    ap.add_argument("--salt-ranges", type=int, default=8)
    ap.add_argument("--with-positions", action="store_true",
                    help="also persist the positional stage (serves "
                         "#odN/#uwN phrase queries off the stored index)")
    ap.add_argument("--with-doc-vectors", action="store_true",
                    help="also persist the forward index (doc_id-sorted "
                         "doc vectors; serves PRF/RM3 without re-scan)")
    ap.add_argument("--codec", default="varint", choices=["varint", "pfor"],
                    help="posting-block codec (varint: fastest encode for "
                         "ingest; pfor: smaller + faster decode — or keep "
                         "varint here and re-encode via maintain_index_job "
                         "--compact --codec pfor)")
    args = ap.parse_args()

    spark = job_spark("sqe-build-index")

    from sequential_query_expansion_spark.index.checkpoint import (
        build_index_checkpointed,
    )

    docs = read_input(spark, args.input).select(
        F.col(args.id_col).cast("long").alias("doc_id"),
        F.col(args.text_col).alias("text"),
    )
    idx = build_index_checkpointed(
        spark, docs, args.output,
        salt_ranges=args.salt_ranges, num_buckets=args.num_buckets,
        with_positions=args.with_positions,
        with_doc_vectors=args.with_doc_vectors,
        codec=args.codec,
    )
    print(f"indexed {idx.n_docs} docs, avgdl={idx.avgdl:.2f} -> {args.output}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
