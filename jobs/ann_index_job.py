#!/usr/bin/env python
"""spark-submit entry point: build or query a persisted IVF-PQ ANN index.

Cluster:
    zip -r sqe.zip sequential_query_expansion_spark
    spark-submit --py-files sqe.zip jobs/ann_index_job.py build \
        --input <embeddings path/table> --output <index dir> \
        [--id-col vec_id] [--vec-col embedding] \
        [--n-centroids 256] [--m 16] [--n-codes 256] \
        [--train-iters 5] [--score-round 6]
    spark-submit --py-files sqe.zip jobs/ann_index_job.py query \
        --index <index dir> --probes <parquet with id+vec cols> \
        --output <result parquet> [--k 10] [--nprobe 8] \
        [--refine 4 --input <embeddings path>]

`build` trains the coarse centroids with plain-L2 Lloyd passes —
`pq_train` at m=1 IS a distributed full-vector L2 k-means, so the coarse
quantizer's training metric matches the L2 assignment the index uses —
then derives PQ codebooks from coarse residuals and publishes
bucket-partitioned codes + manifest (index/ann.py).

An --input/--probes string containing '/' or ending in .parquet is read as
parquet, a bare name as a metastore table (session.read_input).

Local smoke: python jobs/ann_index_job.py build \
    --input /root/testdata/sf0.001/embeddings.parquet --output /tmp/annidx
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
    sub = ap.add_subparsers(dest="cmd", required=True)
    b = sub.add_parser("build")
    b.add_argument("--input", required=True)
    b.add_argument("--output", required=True)
    b.add_argument("--id-col", default="vec_id")
    b.add_argument("--vec-col", default="embedding")
    b.add_argument("--n-centroids", type=int, default=256)
    b.add_argument("--m", type=int, default=16)
    b.add_argument("--n-codes", type=int, default=256)
    b.add_argument("--train-iters", type=int, default=5)
    b.add_argument("--score-round", type=int, default=6)
    b.add_argument("--seed", type=int, default=42)
    q = sub.add_parser("query")
    q.add_argument("--index", required=True)
    q.add_argument("--probes", required=True)
    q.add_argument("--output", required=True)
    q.add_argument("--id-col", default="vec_id")
    q.add_argument("--vec-col", default="embedding")
    q.add_argument("--k", type=int, default=10)
    q.add_argument("--nprobe", type=int, default=8)
    q.add_argument("--refine", type=int, default=None)
    q.add_argument("--input", default=None,
                   help="source embeddings (required with --refine)")
    args = ap.parse_args()
    if args.cmd == "query" and args.refine is not None and not args.input:
        ap.error("--refine requires --input (source embeddings for the "
                 "exact re-rank)")

    spark = job_spark("sqe-ann-index")

    import numpy as np

    from sequential_query_expansion_spark.index import ann
    from sequential_query_expansion_spark.operators import similarity as sim

    if args.cmd == "build":
        emb = read_input(spark, args.input)
        # coarse quantizer: deterministic sampled-row init, refined with
        # plain-L2 Lloyd passes — pq_train at m=1 is exactly a
        # distributed full-vector L2 k-means (one assignment job + one
        # map-side-combined groupBy per pass), matching the L2
        # assignment write_ivfpq/query_ivfpq use
        seed_rows = (
            emb.orderBy(args.id_col)
            .limit(max(args.n_centroids, args.n_codes))
            .select(args.vec_col).toPandas()
        )
        S = np.asarray(seed_rows[args.vec_col].to_list(), dtype=np.float64)
        if args.train_iters > 0:
            cents = sim.pq_train(
                emb, iters=args.train_iters,
                init=S[: args.n_centroids][None, :, :],
                vec_col=args.vec_col,
            )[0]
        else:
            cents = S[: args.n_centroids]
        # PQ codebooks on COARSE RESIDUALS (what ivfpq encodes):
        # deterministic sampled rows minus their nearest centroid
        D = ((S[: args.n_codes] ** 2).sum(1, keepdims=True)
             - 2.0 * (S[: args.n_codes] @ cents.T)
             + (cents ** 2).sum(1)[None, :])
        R = S[: args.n_codes] - cents[np.argmin(D, axis=1)]
        cbs = sim.pq_codebooks_from_rows(R, args.m)
        ann.write_ivfpq(
            emb, args.output, cents, cbs,
            id_col=args.id_col, vec_col=args.vec_col,
            score_round=args.score_round,
        )
        n = spark.read.parquet(os.path.join(args.output, "codes")).count()
        print(f"published {n} coded vectors "
              f"({args.n_centroids} lists, m={args.m}) -> {args.output}")
        return 0

    probes = read_input(spark, args.probes).select(
        F.col(args.id_col).alias("probe_id"),
        F.col(args.vec_col).alias("embedding"),
    )
    emb = read_input(spark, args.input) if args.input else None
    out = ann.query_ivfpq(
        spark, args.index, probes, k=args.k, nprobe=args.nprobe,
        refine=args.refine,
        embeddings=emb.select(
            F.col(args.id_col).alias("vec_id"),
            F.col(args.vec_col).alias("embedding"),
        ) if emb is not None else None,
    )
    out.orderBy("probe_id", "rank").write.mode("overwrite").parquet(
        args.output
    )
    # count from the WRITTEN result — re-counting `out` would re-run the
    # whole ADC DAG a second time just for a log line
    n = (
        spark.read.parquet(args.output)
        .select("probe_id").distinct().count()
    )
    print(f"wrote top-{args.k} for {n} probes -> {args.output}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
