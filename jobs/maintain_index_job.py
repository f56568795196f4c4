#!/usr/bin/env python
"""spark-submit entry point: S14 index maintenance (delete + compact).

Cluster:
    zip -r sqe.zip sequential_query_expansion_spark
    spark-submit --py-files sqe.zip jobs/maintain_index_job.py \
        --index <index dir> [--delete-ids 1,2,3 | --delete-file ids.parquet] \
        [--compact]

Semantics (index/maintenance.py): --delete-ids tombstones documents
(O(deleted); flat-path queries pick the deletes up immediately through
load_index_live); --compact physically applies tombstones with a
bucket-pruned rewrite and re-encodes the blocked/block-max table with
the refreshed collection stats. Run compact on a schedule, like an
Iceberg rewrite_data_files job.

Local smoke:
    python jobs/build_index_job.py --input \
        /root/testdata/sf0.001/documents.parquet --output /tmp/midx
    python jobs/maintain_index_job.py --index /tmp/midx \
        --delete-ids 1,2,3 --compact
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sequential_query_expansion_spark.session import job_spark  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--delete-ids", default=None,
                    help="comma-separated doc ids to tombstone")
    ap.add_argument("--delete-file", default=None,
                    help="parquet with a doc_id column to tombstone")
    ap.add_argument("--compact", action="store_true")
    ap.add_argument("--codec", default="pfor", choices=["pfor", "varint"],
                    help="posting-block codec for the compacted blocked "
                         "table (pfor: smaller + faster decode; varint: "
                         "faster encode)")
    args = ap.parse_args()

    spark = job_spark("sqe-maintain")

    from sequential_query_expansion_spark.index import maintenance as mt

    if args.delete_ids:
        ids = [int(x) for x in args.delete_ids.split(",") if x]
        mt.delete_docs(spark, args.index, ids)
        print(f"tombstoned {len(ids)} docs")
    if args.delete_file:
        mt.delete_docs(spark, args.index, spark.read.parquet(args.delete_file))
        print(f"tombstoned ids from {args.delete_file}")
    if args.compact:
        idx = mt.compact_index(spark, args.index, codec=args.codec)
        print(f"compacted ({args.codec}); {idx.n_docs} docs remain")
    if not (args.delete_ids or args.delete_file or args.compact):
        print("nothing to do (pass --delete-ids/--delete-file/--compact)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
