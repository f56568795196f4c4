"""Persisted IVF-PQ index: publish bucket-partitioned codes, query with
partition pruning, results identical to the in-memory operator."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from sequential_query_expansion_spark.index import ann
from sequential_query_expansion_spark.operators import similarity as sim

SF_DIR = "/root/testdata/sf0.001"
K = 10


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").persist()


@pytest.fixture(scope="module")
def probes(emb):
    return emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    ).persist()


@pytest.fixture(scope="module")
def codebooks(emb):
    import numpy as np

    rows = (
        emb.filter(F.col("vec_id").between(100, 115))
        .select("vec_id", "embedding").toPandas().sort_values("vec_id")
    )
    return sim.pq_codebooks_from_rows(
        np.asarray(rows.embedding.to_list(), dtype=np.float64), 16
    )


@pytest.fixture(scope="module")
def idx_dir(spark, emb, codebooks, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("annidx") / "ivfpq")
    cents = sim.ivf_centroids(64, 8, seed=9)
    ann.write_ivfpq(emb, out, cents, codebooks, score_round=6)
    return out


def test_layout_and_manifest(idx_dir):
    parts = sorted(glob.glob(os.path.join(idx_dir, "codes", "bucket=*")))
    assert len(parts) >= 2, parts  # codes really are bucket-partitioned
    man, cents, cbs = ann.load_ivfpq(idx_dir)
    assert man["dim"] == 64 and man["m"] == 16 and man["k"] == 16
    assert cents.shape == (8, 64) and cbs.shape == (16, 16, 4)


def test_query_identical_to_in_memory_operator(spark, emb, probes,
                                               codebooks, idx_dir):
    cents = sim.ivf_centroids(64, 8, seed=9)
    want = sim.ivfpq_topk(
        emb, probes, cents, codebooks, k=K, nprobe=3, score_round=6
    ).toPandas().sort_values(["probe_id", "rank"]).reset_index(drop=True)
    got = ann.query_ivfpq(
        spark, idx_dir, probes, k=K, nprobe=3
    ).toPandas().sort_values(["probe_id", "rank"]).reset_index(drop=True)
    import pandas as pd

    pd.testing.assert_frame_equal(got, want, check_dtype=False)

    # refined path too (reads vectors from the source table)
    want_r = sim.ivfpq_topk(
        emb, probes, cents, codebooks, k=K, nprobe=3, score_round=6,
        refine=3,
    ).toPandas().sort_values(["probe_id", "rank"]).reset_index(drop=True)
    got_r = ann.query_ivfpq(
        spark, idx_dir, probes, k=K, nprobe=3, refine=3, embeddings=emb
    ).toPandas().sort_values(["probe_id", "rank"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got_r, want_r, check_dtype=False)


def test_bucket_filter_is_partition_pruned(spark, probes, idx_dir):
    """The nprobe bucket filter must reach the scan as a PartitionFilter
    (the codes dir is partitioned by bucket) — NOT a post-scan filter."""
    plan = ann.query_ivfpq(
        spark, idx_dir, probes, k=K, nprobe=2
    )._jdf.queryExecution().executedPlan().toString()
    import re

    mt = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert mt, plan
    assert "bucket" in mt.group(1), mt.group(1)


def test_incomplete_dir_refused(tmp_path):
    with pytest.raises(FileNotFoundError):
        ann.load_ivfpq(str(tmp_path))


def test_republish_crash_leaves_refusable_dir(spark, emb, codebooks,
                                              idx_dir, monkeypatch):
    """A crash during a REpublish must not leave the OLD manifest paired
    with NEW codes: write_ivfpq removes the manifest first, so any
    failure before the final manifest write leaves a dir load_ivfpq
    refuses."""
    import shutil
    import tempfile

    work = tempfile.mkdtemp(prefix="ann_crash_") + "/idx"
    shutil.copytree(idx_dir, work)
    cents = sim.ivf_centroids(64, 8, seed=9)

    real_write = ann.sim.ivfpq_encode

    def boom(*a, **k):
        raise RuntimeError("simulated crash mid-republish")

    monkeypatch.setattr(ann.sim, "ivfpq_encode", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        ann.write_ivfpq(emb, work, cents, codebooks, score_round=6)
    monkeypatch.setattr(ann.sim, "ivfpq_encode", real_write)
    with pytest.raises(FileNotFoundError):
        ann.load_ivfpq(work)
    # a full re-run repairs it
    ann.write_ivfpq(emb, work, cents, codebooks, score_round=6)
    man, _, _ = ann.load_ivfpq(work)
    assert man["m"] == 16
    shutil.rmtree(os.path.dirname(work), ignore_errors=True)


def test_non_local_output_refused(emb, codebooks):
    cents = sim.ivf_centroids(64, 8, seed=9)
    with pytest.raises(NotImplementedError, match="non-local"):
        ann.write_ivfpq(emb, "s3a://bucket/idx", cents, codebooks)


def test_streaming_append_then_compact(spark, emb, codebooks,
                                       tmp_path_factory):
    """Streamed embedding drops must be query-identical to a from-scratch
    publish over the union (codebooks frozen -> encode deterministic per
    vector), before AND after folding segments into the base codes."""
    import pandas as pd

    root = tmp_path_factory.mktemp("annstream")
    out = str(root / "idx")
    full = str(root / "idx_full")
    drops = str(root / "drops")
    os.makedirs(drops)
    cents = sim.ivf_centroids(64, 8, seed=9)

    def as_double(df):
        return df.select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias(
                "embedding"
            ),
        )

    ann.write_ivfpq(
        as_double(emb.filter(F.col("vec_id") < 300)), out, cents,
        codebooks, score_round=6,
    )
    ann.write_ivfpq(as_double(emb), full, cents, codebooks, score_round=6)

    probes = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )

    # two drops -> two availableNow runs -> two segments
    for lo, hi in [(300, 400), (400, 500)]:
        as_double(
            emb.filter(F.col("vec_id").between(lo, hi - 1))
        ).write.mode("append").parquet(drops)
        q = ann.start_incremental_ann(spark, drops, out)
        q.awaitTermination()

    want = ann.query_ivfpq(
        spark, full, probes, k=K, nprobe=3
    ).toPandas().sort_values(["probe_id", "rank"]).reset_index(drop=True)
    got = ann.query_ivfpq(
        spark, out, probes, k=K, nprobe=3
    ).toPandas().sort_values(["probe_id", "rank"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)

    ann.compact_ann_codes(spark, out)
    assert not os.path.isdir(os.path.join(out, "segments"))
    got2 = ann.query_ivfpq(
        spark, out, probes, k=K, nprobe=3
    ).toPandas().sort_values(["probe_id", "rank"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got2, want, check_dtype=False)
    # compact is a no-op when nothing streamed since
    ann.compact_ann_codes(spark, out)


def test_streamed_update_resolves_newest_wins(spark, emb, codebooks,
                                              tmp_path_factory):
    """When a caller streams an UPDATED embedding for an EXISTING vec_id,
    resolution must be deterministic: segment rows beat base rows and a
    newer segment beats an older one (not an arbitrary dropDuplicates
    pick). Verified by checking the merged code row for the updated id
    equals a fresh encode of the LAST streamed vector."""
    import numpy as np

    root = tmp_path_factory.mktemp("annupd")
    out = str(root / "idx")
    drops = str(root / "drops")
    os.makedirs(drops)
    cents = sim.ivf_centroids(64, 8, seed=9)

    def as_double(df):
        return df.select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias(
                "embedding"
            ),
        )

    ann.write_ivfpq(
        as_double(emb.filter(F.col("vec_id") < 100)), out, cents,
        codebooks, score_round=6,
    )
    # two updates for the SAME existing id=5: first to vec 450's
    # embedding, then to vec 470's — each its own micro-batch/segment
    for src in (450, 470):
        as_double(
            emb.filter(F.col("vec_id") == src)
        ).withColumn("vec_id", F.lit(5).cast("long")).write.mode(
            "append"
        ).parquet(drops)
        ann.start_incremental_ann(spark, drops, out).awaitTermination()

    merged = ann._code_frames(spark, out).filter(F.col("vec_id") == 5)
    rows = merged.collect()
    assert len(rows) == 1, rows  # exactly one surviving row per id
    _, c, cbs = ann.load_ivfpq(out)
    want = sim.ivfpq_encode(
        as_double(emb.filter(F.col("vec_id") == 470)).select(
            F.lit(5).cast("long").alias("vec_id"),
            F.col("embedding").alias("vec"),
        ),
        c, cbs, 6,
    ).collect()[0]
    assert rows[0]["bucket"] == want["bucket"]
    assert list(rows[0]["codes"]) == list(want["codes"])
    # and the loser vectors encode differently, so the assert is not
    # vacuous (id 5's original and id 450's update differ from 470's)
    for src in (5, 450):
        other = sim.ivfpq_encode(
            as_double(emb.filter(F.col("vec_id") == src)).select(
                F.lit(5).cast("long").alias("vec_id"),
                F.col("embedding").alias("vec"),
            ),
            c, cbs, 6,
        ).collect()[0]
        assert (other["bucket"], list(other["codes"])) != (
            want["bucket"], list(want["codes"])
        )


def test_streamed_move_not_served_from_old_bucket(spark, emb, codebooks,
                                                  tmp_path_factory):
    """A streamed update that moves a vec_id to another bucket must hide
    its base row: a query probing ONLY the old bucket must not return
    the id, whose current code lives in the new bucket."""
    root = tmp_path_factory.mktemp("annmove")
    out = str(root / "idx")
    drops = str(root / "drops")
    os.makedirs(drops)
    cents = sim.ivf_centroids(64, 8, seed=9)

    def as_double(df):
        return df.select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias(
                "embedding"
            ),
        )

    ann.write_ivfpq(
        as_double(emb.filter(F.col("vec_id") < 100)), out, cents,
        codebooks, score_round=6,
    )
    _, c, cbs = ann.load_ivfpq(out)
    buckets = {
        r["vec_id"]: r["bucket"]
        for r in sim.ivfpq_encode(
            as_double(emb.filter(F.col("vec_id").between(5, 140))).select(
                "vec_id", F.col("embedding").alias("vec")
            ),
            c, cbs, 6,
        ).collect()
    }
    src = min(v for v in buckets if v >= 100 and buckets[v] != buckets[5])
    probe = emb.filter(F.col("vec_id") == 5).select(
        F.lit(0).cast("long").alias("probe_id"), "embedding"
    )

    def hits():
        return {
            r["vec_id"]
            for r in ann.query_ivfpq(spark, out, probe, k=K, nprobe=1)
            .collect()
        }

    assert 5 in hits()  # the probe reaches id 5's original bucket
    as_double(emb.filter(F.col("vec_id") == src)).withColumn(
        "vec_id", F.lit(5).cast("long")
    ).write.mode("append").parquet(drops)
    ann.start_incremental_ann(spark, drops, out).awaitTermination()
    assert 5 not in hits()


def test_duplicate_components_rejects_nonpositive_iters(spark):
    from sequential_query_expansion_spark.operators import dedup

    pairs = spark.createDataFrame(
        [(1, 2)], "doc_a long, doc_b long"
    )
    with pytest.raises(ValueError, match="max_iters"):
        dedup.duplicate_components(pairs, max_iters=0)


def test_republish_invalidates_stale_segments(spark, emb, codebooks,
                                              tmp_path_factory):
    """A republish (e.g. after retraining codebooks) must clear streamed
    segments and the stream checkpoint: stale segments encoded under the
    OLD codebooks would otherwise be silently unioned into queries under
    the new manifest."""
    root = tmp_path_factory.mktemp("annrepub")
    out = str(root / "idx")
    drops = str(root / "drops")
    os.makedirs(drops)
    cents = sim.ivf_centroids(64, 8, seed=9)

    def as_double(df):
        return df.select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias(
                "embedding"
            ),
        )

    ann.write_ivfpq(
        as_double(emb.filter(F.col("vec_id") < 300)), out, cents,
        codebooks, score_round=6,
    )
    as_double(
        emb.filter(F.col("vec_id") >= 300)
    ).write.mode("append").parquet(drops)
    ann.start_incremental_ann(spark, drops, out).awaitTermination()
    assert os.path.isdir(os.path.join(out, "segments"))

    # republish over the FULL set: stale segments + checkpoint must go
    ann.write_ivfpq(as_double(emb), out, cents, codebooks, score_round=6)
    assert not os.path.isdir(os.path.join(out, "segments"))
    assert not os.path.isdir(os.path.join(out, "_stream_checkpoint"))

    probes = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    out_df = ann.query_ivfpq(spark, out, probes, k=K, nprobe=3).toPandas()
    # no duplicate (probe, vec) rows — the stale-union failure mode
    assert not out_df.duplicated(["probe_id", "vec_id"]).any()
