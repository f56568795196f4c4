#!/usr/bin/env python
"""spark-submit entry point: the full training-data pipeline.

Chains every pre-training pass over a web-text table and writes a
packed training set:

    [URL dedup] -> line dedup -> PII redaction -> repetition gate ->
    [decontamination] -> mixture sampling -> sequence packing

(the repetition gate runs on the REDACTED deduplicated text — the text
that would actually be trained on)

Bracketed stages run only when their input exists (--url-col for URL
dedup, --bench for decontamination); the rest always run. Output
parquet: (doc_id, source, n_tokens, sample_weight, start_tok, bin_id,
overflow, text) — `text` is the deduplicated, redacted training text.

Cluster:
    zip -r sqe.zip sequential_query_expansion_spark
    spark-submit --py-files sqe.zip \
        --conf spark.sql.adaptive.enabled=true \
        jobs/pipeline_job.py --input <docs path/table> --output <dir> \
        [--url-col url] [--bench <bench items parquet>] \
        [--rates src0=0.5,src1=0.25] [--capacity 2048] \
        [--min-tokens 24] [--max-dup-word 0.6]

Local smoke: python jobs/pipeline_job.py \
    --input /root/testdata/sf0.001/documents.parquet --output /tmp/tset
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


def _parse_rates(spec: str) -> dict:
    rates = {}
    for part in filter(None, spec.split(",")):
        src, eq, r = part.partition("=")
        try:
            if not eq:
                raise ValueError
            rates[src.strip()] = float(r)
        except ValueError:
            raise SystemExit(
                f"--rates entry {part!r} is not src=rate (rate a float)"
            )
    return rates


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--source-col", default="source")
    ap.add_argument("--url-col", default=None,
                    help="run URL dedup first, keeping each canonical "
                         "URL's smallest id")
    ap.add_argument("--bench", default=None,
                    help="parquet of (bench_id, text) eval items; docs "
                         "overlapping any item >= --decon-threshold of "
                         "its distinct --decon-n-grams are dropped")
    ap.add_argument("--decon-n", type=int, default=8)
    ap.add_argument("--decon-threshold", type=float, default=0.5)
    ap.add_argument("--line-min-count", type=int, default=2)
    ap.add_argument("--min-tokens", type=int, default=24)
    ap.add_argument("--max-dup-word", type=float, default=0.6)
    ap.add_argument("--rates", default="",
                    help="comma list src=rate; unlisted sources keep "
                         "--default-rate")
    ap.add_argument("--default-rate", type=float, default=1.0)
    ap.add_argument("--salt", default="mix")
    ap.add_argument("--capacity", type=int, default=2048,
                    help="tokens per packed training sequence")
    args = ap.parse_args()
    rates = _parse_rates(args.rates)  # fail fast, before any Spark work

    spark = job_spark("sqe-pipeline")

    from sequential_query_expansion_spark.functions.text import tokenize_col
    from sequential_query_expansion_spark.operators import (
        decontam,
        dedup,
        pii,
        text_analysis,
        training_prep,
    )
    from sequential_query_expansion_spark.util import Caches

    docs = read_input(spark, args.input)
    idc, txc = args.id_col, args.text_col

    if args.url_col:
        keep = dedup.url_dedup(
            docs.select(F.col(idc), F.col(args.url_col).alias("url")),
            id_col=idc,
        ).select(F.col("keep_doc").alias(idc))
        docs = docs.join(keep, idc)

    ld = dedup.line_dedup(
        docs.select(idc, txc), min_count=args.line_min_count, id_col=idc,
        text_col=txc,
    ).select(idc, F.col("text_dedup").alias("_t1"))
    d = docs.join(ld, idc).select(
        F.col(idc), F.col(args.source_col).alias("source"),
        pii.redact_col(F.col("_t1")).alias("text"),
    )

    rs = text_analysis.repetition_stats(d.select(idc, "text"), id_col=idc)
    good = rs.filter(
        (F.col("n_tokens") >= args.min_tokens)
        & (F.col("dup_word_frac") <= args.max_dup_word)
    ).select(idc, "n_tokens")
    d = d.join(good, idc)

    if args.bench:
        flagged = (
            decontam.ngram_overlap(
                d.select(idc, "text"), spark.read.parquet(args.bench),
                n=args.decon_n, threshold=args.decon_threshold, id_col=idc,
            )
            # ngram_overlap's output id column is always named doc_id
            .filter("flagged").select(F.col("doc_id").alias(idc)).distinct()
        )
        d = d.join(flagged, idc, "left_anti")

    # samp is cached: pack_sequences and the final join both read it, and
    # uncached the upstream chain runs twice. The owner releases it and
    # pack_sequences' cache once the output is written.
    with Caches() as caches:
        samp = caches.persist(training_prep.mixture_sample(
            d, rates, default_rate=args.default_rate, id_col=idc,
            salt=args.salt,
        ))
        packed = training_prep.pack_sequences(
            samp.select(idc, "n_tokens"), capacity=args.capacity, id_col=idc,
            caches=caches,
        )
        out = packed.join(
            samp.select(idc, "source", "sample_weight", "text"), idc
        ).select(
            idc, "source", "n_tokens", "sample_weight",
            "start_tok", "bin_id", "overflow", "text",
        )
        out.write.mode("overwrite").parquet(args.output)

    # summary reads the (small) OUTPUT only — no extra pass over the
    # input table just for a log line
    written = spark.read.parquet(args.output)
    n, bins = written.count(), written.select("bin_id").distinct().count()
    toks = written.agg(F.sum("n_tokens")).first()[0] or 0
    print(f"PIPELINE kept_docs={n} bins={bins} "
          f"tokens={toks} capacity={args.capacity} -> {args.output}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
