"""Persisted IVF-PQ ANN index: bucket-partitioned codes on disk.

Layout under ``out_dir``::

    codes/bucket=<b>/*.parquet   — (vec_id, codes array<int>) per coarse list
    segments/segment=<batch>/bucket=<b>/   — streamed appends (frozen
                                   codebooks) until compact_ann_codes
    centroids.json               — coarse codebook, row-major
    codebooks.json               — PQ codebooks, (m, k, dsub) nested
    manifest.json                — dims + params + row count

The write is the at-scale shape the in-memory ``ivfpq_topk`` docstring
promises: encoding happens once, the codes land PARTITIONED BY BUCKET,
and a query's ``nprobe`` lists become parquet PARTITION PRUNING — the
scan literally never opens the other lists' files. Codes are m small
ints per vector, so the index is ~16-32× smaller than the vectors; the
optional refine stage reads original vectors from the SOURCE table for
the shortlist only.

Reference parity: the reference serves from a prebuilt on-disk Indri
index rather than recomputing per query (`configs/*/indriRunQuery.cfg`
<index> paths); this module is the same publish-once-query-many shape
for the embedding column.
"""

from __future__ import annotations

import json
import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import similarity as sim
from ..util import local_frame

_FMT_VERSION = 1


def _require_local(out_dir: str) -> None:
    """The matrix/manifest sidecars use driver-local file IO; a remote
    URI would land codes in the object store and then fail (or
    mis-place) the sidecars AFTER the expensive encode. Refuse up
    front — at cluster scale, publish locally and sync, or extend the
    sidecar IO to the Hadoop FS API."""
    import re

    if re.match(r"^[A-Za-z][A-Za-z0-9+.-]*://", out_dir):
        raise NotImplementedError(
            f"ANN index sidecars are written with local file IO; got "
            f"non-local path {out_dir!r}"
        )


def write_ivfpq(
    embeddings: DataFrame,
    out_dir: str,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_round: int | None = None,
) -> None:
    """Encode (one mapInPandas pass: coarse assignment + residual PQ
    codes) and publish bucket-partitioned. The manifest is REMOVED
    first and rewritten LAST, so a crash anywhere inside the write —
    including a REpublish over an existing index — leaves a dir
    `load_ivfpq` refuses, never a stale manifest silently paired with
    new codes."""
    import shutil

    _require_local(out_dir)
    centroids = np.asarray(centroids, dtype=np.float64)
    codebooks = np.asarray(codebooks, dtype=np.float64)
    mpath = os.path.join(out_dir, "manifest.json")
    if os.path.exists(mpath):
        os.remove(mpath)
    # a REpublish (e.g. after retraining codebooks) must also invalidate
    # anything streamed against the OLD codebooks: stale segments would
    # be silently unioned back in by _code_frames under the new
    # manifest, and a stale stream checkpoint would skip re-ingesting
    # the dropped files under the new codebooks
    for stale in ("segments", "_stream_checkpoint"):
        shutil.rmtree(os.path.join(out_dir, stale), ignore_errors=True)
    coded = sim.ivfpq_encode(
        embeddings.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec")
        ),
        centroids, codebooks, score_round,
    )
    coded.write.mode("overwrite").partitionBy("bucket").parquet(
        os.path.join(out_dir, "codes")
    )
    for name, arr in (("centroids", centroids), ("codebooks", codebooks)):
        tmp = os.path.join(out_dir, f"{name}.json.tmp")
        with open(tmp, "w") as f:
            json.dump(arr.tolist(), f)
        os.replace(tmp, os.path.join(out_dir, f"{name}.json"))
    man = {
        "format_version": _FMT_VERSION,
        "dim": int(centroids.shape[1]),
        "n_centroids": int(centroids.shape[0]),
        "m": int(codebooks.shape[0]),
        "k": int(codebooks.shape[1]),
        "score_round": score_round,
    }
    tmp = os.path.join(out_dir, "manifest.json.tmp")
    with open(tmp, "w") as f:
        json.dump(man, f, indent=1, sort_keys=True)
    os.replace(tmp, os.path.join(out_dir, "manifest.json"))


def load_ivfpq(out_dir: str):
    """(manifest, centroids, codebooks) — refuses an incomplete dir."""
    mpath = os.path.join(out_dir, "manifest.json")
    if not os.path.exists(mpath):
        raise FileNotFoundError(
            f"{out_dir} is not a complete IVF-PQ index (no manifest.json)"
        )
    with open(mpath) as f:
        man = json.load(f)
    if man.get("format_version") != _FMT_VERSION:
        raise ValueError(
            f"unsupported ANN index format {man.get('format_version')}"
        )
    cents = np.array(
        json.load(open(os.path.join(out_dir, "centroids.json"))),
        dtype=np.float64,
    )
    cbs = np.array(
        json.load(open(os.path.join(out_dir, "codebooks.json"))),
        dtype=np.float64,
    )
    return man, cents, cbs


def start_incremental_ann(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    schema: str | None = None,
    available_now: bool = True,
):
    """Stream new embedding files into a published IVF-PQ index.

    Mirrors `streaming/incremental.start_incremental_build`'s
    segment→merge design for the text index: each micro-batch encodes
    against the index's FROZEN codebooks (the standard IVF-PQ append —
    codebooks only change on retrain+republish) and overwrites ITS OWN
    `segments/segment=<batch_id>` dir, so a batch replay after failure
    is idempotent (exactly-once via the streaming checkpoint).
    `query_ivfpq` reads base codes + segments; `compact_ann_codes`
    folds segments into the base. Returns the streaming query."""
    from ..streaming.incremental import start_segment_stream

    man, cents, cbs = load_ivfpq(index_dir)

    def encode(batch_df: DataFrame) -> DataFrame:
        return sim.ivfpq_encode(
            batch_df.select(
                F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec")
            ),
            cents, cbs, man["score_round"],
        )

    return start_segment_stream(
        spark, input_dir, index_dir,
        schema or f"{id_col} long, {vec_col} array<double>",
        encode, available_now, partition_by=("bucket",),
    )


def _code_frames(spark: SparkSession, out_dir: str, bucket_filter=None):
    """Base codes + any streamed segments, each root read separately so
    the bucket filter stays a PartitionFilter on every scan."""
    frames = []
    base = spark.read.parquet(os.path.join(out_dir, "codes"))
    if bucket_filter is not None:
        base = base.filter(bucket_filter)
    frames.append(base.select("vec_id", "bucket", "codes"))
    seg_root = os.path.join(out_dir, "segments")
    if os.path.isdir(seg_root) and any(
        e.startswith("segment=") for e in os.listdir(seg_root)
    ):
        seg = spark.read.parquet(seg_root)  # partition cols: segment, bucket
        if bucket_filter is not None:
            seg = seg.filter(bucket_filter)
        frames.append(seg.select("vec_id", "bucket", "codes", "segment"))
    if len(frames) == 1:
        return frames[0]  # base-only reads skip the exchange
    # A vec_id can legitimately appear twice: compact_ann_codes may fold
    # a segment whose stream batch never COMMITTED, and the replayed
    # batch then rewrites the same segment (rows bit-identical under the
    # frozen codebooks). But a caller may also stream an UPDATED vector
    # for an existing id, where an arbitrary pick would be wrong — so
    # resolve deterministically: newest segment wins, segments win over
    # base (base rows get priority -1; segment ids are monotone stream
    # batch ids).
    df = (
        frames[0].withColumn("_prio", F.lit(-1).cast("long"))
        .unionByName(
            frames[1].withColumn("_prio", F.col("segment").cast("long"))
            .drop("segment")
        )
        .groupBy("vec_id")
        .agg(
            F.max_by(F.struct("bucket", "codes"), F.col("_prio")).alias("_r")
        )
        .select("vec_id", F.col("_r.bucket").alias("bucket"),
                F.col("_r.codes").alias("codes"))
    )
    return df


def compact_ann_codes(spark: SparkSession, out_dir: str) -> None:
    """Fold streamed segments into the base codes dir (one rewrite
    partitioned by bucket). The manifest is removed before the swap and
    restored after, so a crash mid-compaction leaves a dir
    `load_ivfpq` refuses rather than a silently-torn index; at cluster
    scale this whole operation is an Iceberg rewrite instead."""
    import shutil

    man, _, _ = load_ivfpq(out_dir)
    seg_root = os.path.join(out_dir, "segments")
    if not (os.path.isdir(seg_root)
            and any(e.startswith("segment=") for e in os.listdir(seg_root))):
        return  # nothing streamed since the last compact
    merged = _code_frames(spark, out_dir)
    tmp = os.path.join(out_dir, "codes.compact.tmp")
    merged.write.mode("overwrite").partitionBy("bucket").parquet(tmp)
    mpath = os.path.join(out_dir, "manifest.json")
    os.remove(mpath)  # fence: refusable until the swap completes
    shutil.rmtree(os.path.join(out_dir, "codes"))
    os.rename(tmp, os.path.join(out_dir, "codes"))
    shutil.rmtree(seg_root)
    with open(mpath + ".tmp", "w") as f:
        json.dump(man, f, indent=1, sort_keys=True)
    os.replace(mpath + ".tmp", mpath)


def query_ivfpq(
    spark: SparkSession,
    out_dir: str,
    probes: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    probe_id_col: str = "probe_id",
    vec_col: str = "embedding",
    refine: int | None = None,
    embeddings: DataFrame | None = None,
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC top-k against the published codes. The bucket filter is a
    PartitionFilter on the parquet scan — only the probed lists' files
    are opened. ``refine`` re-ranks the shortlist with exact distances
    read from the SOURCE ``embeddings`` table (required iff refine)."""
    man, centroids, codebooks = load_ivfpq(out_dir)
    score_round = man["score_round"]
    probe_rows = probes.select(
        F.col(probe_id_col).alias("probe_id"), F.col(vec_col).alias("p_vec")
    ).collect()  # probe side only — never the corpus
    lut_rows = sim._ivfpq_probe_luts(
        probe_rows, centroids, codebooks, nprobe, score_round
    )
    p = local_frame(
        spark, lut_rows, "probe_id long, bucket int, lut array<array<bigint>>"
    )
    probed = sorted({b for _, b, _ in lut_rows})
    coded = _code_frames(
        spark, out_dir,
        bucket_filter=F.col("bucket").isin(probed),  # -> partition pruning
    )
    return sim._adc_rank_topk(
        spark, coded, p, k, on_bucket=True, refine=refine,
        probe_rows=probe_rows,
        source_e=embeddings.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec")
        ) if embeddings is not None else None,
        score_round=score_round,
    )
