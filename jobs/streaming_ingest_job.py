#!/usr/bin/env python
"""spark-submit entry point: streaming ingestion front of the engine
(streaming/pipeline.py) — watermarked URL dedup + quality gates, with
optional stateful per-host statistics.

    spark-submit --py-files sqe.zip jobs/streaming_ingest_job.py \
        --input <page parquet dir> --output <out dir> \
        [--watermark "1 hour"] [--min-tokens 10] \
        [--max-stopword-ratio 0.5] [--host-stats] [--continuous]

Default is a catch-up run (trigger availableNow): process everything
present, then exit — the batch-friendly mode the driver/tests use.
``--continuous`` leaves the query running for a live crawl feed.
Accepted pages land in <out>/accepted (feeding the incremental segment
build, jobs/build_index_job.py or streaming/incremental.py); host stats
in <out>/host_stats.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sequential_query_expansion_spark.session import job_spark  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--watermark", default="1 hour")
    ap.add_argument("--min-tokens", type=int, default=10)
    ap.add_argument("--max-stopword-ratio", type=float, default=0.5)
    ap.add_argument("--host-stats", action="store_true")
    ap.add_argument("--continuous", action="store_true")
    args = ap.parse_args()

    spark = job_spark("sqe-streaming-ingest")

    from sequential_query_expansion_spark.streaming import pipeline

    queries = [
        pipeline.start_quality_ingest(
            spark, args.input, args.output,
            watermark=args.watermark,
            min_tokens=args.min_tokens,
            max_stopword_ratio=args.max_stopword_ratio,
            available_now=not args.continuous,
        )
    ]
    if args.host_stats:
        queries.append(
            pipeline.start_host_stats(
                spark, args.input, args.output,
                available_now=not args.continuous,
            )
        )
    for q in queries:
        q.awaitTermination()
    accepted = os.path.join(args.output, "accepted")
    if os.path.isdir(accepted):
        n = spark.read.parquet(accepted).count()
        print(f"accepted {n} pages -> {accepted}")
    if args.host_stats:
        hs = os.path.join(args.output, "host_stats")
        if os.path.isdir(hs):
            print(f"host stats rows: {spark.read.parquet(hs).count()} -> {hs}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
