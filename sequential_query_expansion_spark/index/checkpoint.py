"""Resumable, checkpointed index build with per-partition lineage+metrics.

Re-creates the reference's memoization/resume machinery — the on-disk
`count_history` TSV and in-memory probe caches that let its grid searches
restart without re-running probes (optParams/wsdm12-improved-NThrsh-
coordAsc.ipynb:240-260 load, cell 13 dedup guards ~556-560) and the
repository merge (occuranceCount.cpp:700-708) — as stage-level parquet
checkpoints plus BUCKET-level resume for the expensive blocked-postings
stage, per the north_rule ("resumable from checkpoint with per-partition
lineage + metrics").

Layout under ``out_dir``:
    stats.json                   — n_docs, avgdl, build params
    docmap/ doc_len/ vocab/      — stage checkpoints (parquet)
    postings_flat/               — parquet partitioned by bucket=NN
    postings/                    — blocked+compressed, partitioned by bucket=NN
    manifest.json                — stages done + buckets done (postings)
    build_metrics/               — lineage: one row per (stage, partition)
                                   with rows and ts (blocked rows add
                                   wall_ms_total); compact appends
                                   compact_* rows per table it rewrites

Resume: a stage listed in the manifest is loaded, not rebuilt; for the
blocked-postings stage only the MISSING buckets are encoded and appended
(term-hash bucketing makes buckets disjoint, so append is safe), which is
exactly the segment-merge restart the reference's repository merge
implies. At cluster scale the same manifest lives next to the Iceberg
table and buckets map 1:1 to term-hash partitions.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .build import (
    IndexTables,
    build_blocked_postings,
    build_index_from_docs,
)
from .codec import BLOCK_FORMAT
from .xxh64 import term_bucket_col

NUM_BUCKETS = 64


def _manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, "manifest.json")


def _load_manifest(out_dir: str) -> dict:
    p = _manifest_path(out_dir)
    if os.path.exists(p):
        with open(p) as f:
            return json.load(f)
    return {"stages": [], "buckets_done": []}


def _save_manifest(out_dir: str, man: dict) -> None:
    tmp = _manifest_path(out_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(man, f, indent=1, sort_keys=True)
    os.replace(tmp, _manifest_path(out_dir))


def _append_metrics(spark: SparkSession, out_dir: str, stage: str,
                    df_metrics: DataFrame) -> None:
    (
        df_metrics.withColumn("stage", F.lit(stage))
        .withColumn("ts", F.lit(time.time()))
        .write.mode("append")
        .parquet(os.path.join(out_dir, "build_metrics"))
    )


def _record_lineage(spark: SparkSession, out_dir: str, stage: str,
                    path: str) -> None:
    """Append one lineage row (partition_id, rows) per partition of the
    table written at ``path``, read back from disk, so the rows sum to
    what it holds (no extra shuffle: spark_partition_id is free)."""
    _append_metrics(
        spark, out_dir, stage,
        spark.read.parquet(path)
        .groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(F.count("*").alias("rows")),
    )


def _write_table(df: DataFrame, path: str, num_buckets: int | None = None,
                 sort_by: tuple = ("doc_id",), mode: str = "overwrite") -> None:
    """Write one index table in its on-disk layout. There are two:
    term-keyed tables (``num_buckets`` given) go to ``bucket=NN``
    partitions by ``term_bucket_col``, so a reader of one term opens one
    bucket; doc-keyed tables are globally sorted by ``sort_by`` (doc_id
    first), so point fetches by doc_id prune parquet row groups by their
    min/max stats, and the sort's range partitioning gives each output
    file a contiguous doc span."""
    if num_buckets is None:
        df.sort(*sort_by).write.mode(mode).parquet(path)
    else:
        (
            df.withColumn("bucket", term_bucket_col(num_buckets))
            .write.mode(mode).partitionBy("bucket").parquet(path)
        )


def build_index_checkpointed(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    salt_ranges: int = 8,
    num_buckets: int = NUM_BUCKETS,
    with_positions: bool = False,
    with_doc_vectors: bool = False,
    with_docs: bool = False,
    codec: str = "varint",
) -> IndexTables:
    """docs(doc_id, text) -> IndexTables, all stages checkpointed under
    ``out_dir``; safe to re-invoke after a crash — finished stages and
    finished postings buckets are never recomputed.

    ``with_positions`` additionally persists the positional postings
    (term, doc_id, positions) as a bucketed stage — Indri keeps
    positions in its inverted file (occuranceCount.cpp:310-351); with
    this stage #odN/#uwN phrase queries run off the STORED index instead
    of re-tokenizing the corpus.

    ``with_doc_vectors`` persists the FORWARD index (doc_id, term, tf,
    dl) sorted by doc_id — Indri's stored document vectors (`dumpindex
    dv`, occuranceCount.cpp:631-663). The serving tier's PRF reads the
    feedback docs' vectors through parquet row-group doc_id pruning.

    The stages run in order on the caller's thread (flat, blocked, then
    the optional doc_vectors, docs and positional), so every Spark job
    carries the caller's job group."""
    os.makedirs(out_dir, exist_ok=True)
    man = _load_manifest(out_dir)

    def commit(stage: str, path: str) -> None:
        # a stage enters the manifest only after its writes commit, with
        # one lineage row per partition of the table it wrote
        _record_lineage(spark, out_dir, stage, path)
        man["stages"].append(stage)
        _save_manifest(out_dir, man)

    flat_path = os.path.join(out_dir, "postings_flat")

    if "flat" not in man["stages"]:
        t0 = time.perf_counter()
        idx = build_index_from_docs(docs)
        _write_table(idx.postings_flat, flat_path, num_buckets)
        # docmap and doc_len are doc-keyed: the serving tier's reverse
        # lookup (LocalSearcher.urls_for) and its live-mode init (the
        # tombstoned ids' dls) filter on doc_id
        _write_table(idx.docmap, os.path.join(out_dir, "docmap"))
        _write_table(idx.doc_len, os.path.join(out_dir, "doc_len"))
        idx.vocab.write.mode("overwrite").parquet(os.path.join(out_dir, "vocab"))
        # every later stage reads the checkpoint, not these caches
        idx.release()
        with open(os.path.join(out_dir, "stats.json"), "w") as f:
            json.dump(
                {
                    "n_docs": idx.n_docs,
                    "avgdl": idx.avgdl,
                    "salt_ranges": salt_ranges,
                    "num_buckets": num_buckets,
                    "block_format": BLOCK_FORMAT,
                    "build_wall_s": time.perf_counter() - t0,
                },
                f,
            )
        commit("flat", flat_path)

    with open(os.path.join(out_dir, "stats.json")) as f:
        stats = json.load(f)
    n_docs, avgdl = stats["n_docs"], stats["avgdl"]

    flat = spark.read.parquet(flat_path)
    postings_path = os.path.join(out_dir, "postings")

    if "blocked" not in man["stages"]:
        todo = sorted(set(range(num_buckets)) - set(man["buckets_done"]))
        if todo:
            # Crash window: a previous run may have committed bucket=NN
            # dirs on disk but died before recording them in the manifest.
            # Re-appending would duplicate every posting row in those
            # buckets (inflating df/cf and corrupting WAND reads), so any
            # on-disk bucket not marked done is stale output — drop it
            # before rebuilding.
            for b in todo:
                stale = os.path.join(postings_path, f"bucket={b}")
                if os.path.exists(stale):
                    shutil.rmtree(stale)
            remaining = flat.filter(F.col("bucket").isin(todo)).drop("bucket")
            t0 = time.perf_counter()
            blocked = build_blocked_postings(
                remaining, n_docs, avgdl, salt_ranges=salt_ranges,
                num_buckets=num_buckets, codec=codec,
            )
            _write_table(blocked, postings_path, num_buckets, mode="append")
            wall_ms = (time.perf_counter() - t0) * 1000
            written = spark.read.parquet(postings_path).filter(
                F.col("bucket").isin(todo)
            )
            _append_metrics(
                spark, out_dir, "blocked",
                written.groupBy(F.col("bucket").alias("partition_id")).agg(
                    F.count("*").alias("rows")
                ).withColumn("wall_ms_total", F.lit(wall_ms)),
            )
            man["buckets_done"] = sorted(set(man["buckets_done"]) | set(todo))
            _save_manifest(out_dir, man)
        man["stages"].append("blocked")
        _save_manifest(out_dir, man)

    if with_doc_vectors and "doc_vectors" not in man["stages"]:
        # forward index, doc-keyed and sorted by term within a doc
        dv_path = os.path.join(out_dir, "doc_vectors")
        _write_table(
            flat.select("doc_id", "term", "tf", "dl"), dv_path,
            sort_by=("doc_id", "term"),
        )
        commit("doc_vectors", dv_path)

    if with_docs and "docs" not in man["stages"]:
        # stored document table — Indri's CompressedCollection (parquet
        # columns are already compressed), backing `dumpindex dt/dd/dcsv`
        # (occuranceCount.cpp:516-523, :551-593, :595-630)
        docs_path = os.path.join(out_dir, "docs")
        _write_table(docs, docs_path)
        commit("docs", docs_path)

    if with_positions and "positional" not in man["stages"]:
        from ..functions.text import tokenize_col
        from .positions import build_positional_postings

        doc_terms = docs.select(
            "doc_id", tokenize_col(F.col("text")).alias("tokens")
        )
        pos_path = os.path.join(out_dir, "positional")
        _write_table(build_positional_postings(doc_terms), pos_path, num_buckets)
        commit("positional", pos_path)

    return load_index(spark, out_dir)


def validate_index_dir(out_dir: str) -> dict:
    """Shared consistency gate for every reader of an on-disk index
    (Spark ``load_index`` and the serving-tier ``LocalSearcher``):
    refuses torn compacts and unreadable block formats, returns stats.
    """
    if os.path.exists(os.path.join(out_dir, "_COMPACTING")):
        # a compact crashed (or is running) somewhere between its first
        # rewrite and its final commit — flat/doc/vocab/stats/blocked
        # may disagree about deleted docs; every compact step is
        # idempotent, so the repair is to re-run it
        raise ValueError(
            f"index at {out_dir} has an unfinished compact "
            "(_COMPACTING sentinel present); re-run compact_index to "
            "bring it to a consistent state."
        )
    with open(os.path.join(out_dir, "stats.json")) as f:
        stats = json.load(f)
    got = stats.get("block_format", 1)
    if got != BLOCK_FORMAT:
        # format 1 (pre-tag) buffers are indistinguishable from payload
        # bytes — refuse loudly rather than risk a silent misdecode
        raise ValueError(
            f"index at {out_dir} has posting block_format={got}; this "
            f"reader needs {BLOCK_FORMAT} (tagged varint/pfor buffers). "
            "Migrate in place by running compact_index with THIS version "
            "(it re-encodes from the flat postings without reading old "
            "blocked buffers), or rebuild."
        )
    # torn-compact detection: compact stamps the re-encoded blocked dir
    # (_GENERATION marker) and stats.json with one shared generation id;
    # block max_score embeds n_docs/avgdl, so a crash between the two
    # writes would pair stats with bounds computed under DIFFERENT stats
    # and make WAND pruning unsound. None == None for never-compacted
    # indexes.
    gen_file = os.path.join(out_dir, "postings", "_GENERATION")
    gen_on_disk = None
    if os.path.exists(gen_file):
        with open(gen_file) as f:
            gen_on_disk = f.read().strip()
    if stats.get("generation") != gen_on_disk:
        raise ValueError(
            f"index at {out_dir} is torn mid-compact (stats generation "
            f"{stats.get('generation')!r} != blocked generation "
            f"{gen_on_disk!r}); re-run compact_index to repair."
        )
    return stats


def load_index(spark: SparkSession, out_dir: str) -> IndexTables:
    stats = validate_index_dir(out_dir)
    flat = spark.read.parquet(os.path.join(out_dir, "postings_flat")).drop("bucket")
    pos_path = os.path.join(out_dir, "positional")
    positional = (
        spark.read.parquet(pos_path).drop("bucket")
        if os.path.isdir(pos_path)
        else None
    )
    return IndexTables(
        docmap=spark.read.parquet(os.path.join(out_dir, "docmap")),
        doc_terms=None,
        doc_len=spark.read.parquet(os.path.join(out_dir, "doc_len")),
        vocab=spark.read.parquet(os.path.join(out_dir, "vocab")),
        postings_flat=flat,
        postings=spark.read.parquet(os.path.join(out_dir, "postings")),
        n_docs=stats["n_docs"],
        avgdl=stats["avgdl"],
        positional=positional,
    )


def invalidate_buckets(out_dir: str, buckets: list) -> None:
    """Testing/maintenance hook: mark buckets as not-done so the next
    build re-encodes them (simulates a mid-build crash)."""
    man = _load_manifest(out_dir)
    man["buckets_done"] = [b for b in man["buckets_done"] if b not in buckets]
    if "blocked" in man["stages"]:
        man["stages"].remove("blocked")
    for b in buckets:
        p = os.path.join(out_dir, "postings", f"bucket={b}")
        if os.path.isdir(p):
            shutil.rmtree(p)
    _save_manifest(out_dir, man)
