"""Adapter between the driver's testdata tables and the engine.

The driver generates deterministic parquet at /root/testdata/sf*/:
``documents(doc_id, text, lang, source, n_chars)`` plays the web-page
corpus role (the Iceberg ``pages`` table of BASELINE.json at test scale)
and ``embeddings(vec_id, embedding float[], label)`` backs the
similarity-search operators.

``WEB_QUERIES`` is the frozen query set for this corpus: deterministic,
drawn from its 31-term vocabulary, mixing head terms, stopword-ish terms
('the', 'a'), an OOV term, and multi-term queries — the shapes the
reference's TREC topic sets exercise (configs/trec7n8/topics.351-400).
"""

from __future__ import annotations

import functools
import os
from collections import Counter
from typing import Dict, List

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .index.build import IndexTables, build_index_from_docs
from .util import ensure_parallelism, local_frame

# qid -> query text (frozen; contract entries and their oracles share them).
WEB_QUERIES: Dict[str, str] = {
    "q01": "spark hash join",
    "q02": "window agg group",
    "q03": "fast scan filter column",
    "q04": "merge sort order",
    "q05": "stream batch data",
    "q06": "customer table query",
    "q07": "big small slow",
    "q08": "vector value key",
    "q09": "dup row line",
    "q10": "the a spark spark",          # stopwords + duplicate term
    "q11": "zzzunseen scan",             # OOV term mixed with a real one
    "q12": "part",
}


def load_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ensure_parallelism(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    )


def load_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ensure_parallelism(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    )


def queries_df(spark: SparkSession) -> DataFrame:
    return local_frame(
        spark, sorted(WEB_QUERIES.items()), "qid string, text string"
    )


def query_term_rows(weights_scale: float = 1.0) -> List[tuple]:
    """(qid, term, weight) rows matching query_term_table(queries_df) —
    used to inline the query side into oracle SQL VALUES lists."""
    out = []
    for qid in sorted(WEB_QUERIES):
        for term, c in sorted(Counter(WEB_QUERIES[qid].split()).items()):
            out.append((qid, term, float(c) * weights_scale))
    return out


# Every index accessor below is memoized with functools.cache, keyed by
# (spark, sf_dir[, min_df_both]): SparkSession keeps object identity for
# equality, and holding the session in the key means a later session can
# never be handed this one's cached tables.


@functools.cache
def _flat_index(spark: SparkSession, sf_dir: str) -> IndexTables:
    return build_index_from_docs(
        load_documents(spark, sf_dir).select("doc_id", "text")
    )


def doc_index(spark: SparkSession, sf_dir: str, blocked: bool = False) -> IndexTables:
    """The memoized inverted index over documents.

    The blocked/compressed postings are attached lazily to the SAME cached
    IndexTables, so flat-join queries and the WAND path share one build.
    """
    idx = _flat_index(spark, sf_dir)
    if blocked and idx.postings is None:
        from .index.build import build_blocked_postings

        idx.postings = build_blocked_postings(
            idx.postings_flat, idx.n_docs, idx.avgdl, salt_ranges=8
        ).persist()
    return idx


@functools.cache
def disk_index_dir(spark: SparkSession, sf_dir: str) -> str:
    """Checkpointed on-disk index over documents (memoized); backs the
    serving-tier contract entries (scoring/local.LocalSearcher reads it
    without Spark)."""
    import atexit
    import shutil
    import tempfile

    from .index.checkpoint import build_index_checkpointed

    out = tempfile.mkdtemp(prefix="sqe_srvidx_")
    atexit.register(shutil.rmtree, out, ignore_errors=True)
    build_index_checkpointed(
        spark,
        load_documents(spark, sf_dir).select("doc_id", "text"),
        out,
        with_positions=True,      # serving index answers phrase queries
        with_doc_vectors=True,    # ... and PRF (RM3) queries
        # bucket count is a pure layout knob: 64 term-hash buckets on
        # a 500-doc test corpus is 3 stages x 64 near-empty parquet
        # dirs of write overhead; 8 keeps the same pruning story at
        # test scale (production builds keep the 64 default)
        num_buckets=8,
    )
    return out


@functools.cache
def incremental_index(spark: SparkSession, sf_dir: str):
    """Memoized index built through the STREAMING incremental path
    (streaming/incremental.py): the documents table lands as two
    separate file drops, each picked up by its own availableNow stream
    run into a posting segment, then ``compact_segments`` merges them.
    Index-identical to the batch build over the same docs by
    construction (regression-tested in test_streaming_train.py), which
    is what lets the incremental contract entry share bm25_topk's
    DuckDB oracle."""
    import atexit
    import shutil
    import tempfile

    from .streaming.incremental import (
        compact_segments, start_incremental_build,
    )

    root = tempfile.mkdtemp(prefix="sqe_incr_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    in_dir = os.path.join(root, "in")
    out_dir = os.path.join(root, "idx")
    docs = load_documents(spark, sf_dir).select("doc_id", "text")
    # two deterministic file drops -> two independent stream runs ->
    # two segments; the merge result does not depend on the split
    docs.filter(F.col("doc_id") % 2 == 0).write.mode(
        "overwrite").parquet(os.path.join(in_dir, "batch_a"))
    start_incremental_build(
        spark, in_dir + "/*", out_dir).awaitTermination()
    docs.filter(F.col("doc_id") % 2 == 1).write.mode(
        "overwrite").parquet(os.path.join(in_dir, "batch_b"))
    start_incremental_build(
        spark, in_dir + "/*", out_dir).awaitTermination()
    idx = compact_segments(spark, out_dir, build_blocked=False)
    idx.postings_flat.persist().count()
    return idx


@functools.cache
def positional_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized positional postings (term, doc_id, positions) over the
    documents table — shared by the phrase-counting and phrase-scoring
    contract entries so they reuse one build."""
    from .index.positions import build_positional_postings

    return build_positional_postings(doc_index(spark, sf_dir).doc_terms).persist()


@functools.cache
def cooccur_edges(
    spark: SparkSession, sf_dir: str, *, min_df_both: int
) -> DataFrame:
    """Corpus-derived concept graph for the feature-expansion contract
    entries: edge (src, dst) iff >= ``min_df_both`` docs contain both
    terms. Plays the role of the reference's external graph dim table
    (UMLS MRREL / ConceptNet adjacency) deterministically, so the DuckDB
    oracle can recompute it.

    src is restricted to the 2-hop frontier of the frozen query set
    (query terms + their co-occurrence neighbours): an unrestricted
    co-occurrence graph is quadratic in vocabulary at web scale, and the
    layered expansion only ever looks up edges whose src is a query term
    (layer 1) or a layer-1 candidate (layer 2). The doc_id-keyed pair
    join shuffles only the seed-restricted postings. ``min_df_both`` is
    keyword-only, so every call builds the same memo key.
    """
    pf = doc_index(spark, sf_dir).postings_flat.select("term", "doc_id")

    def pairs(src_terms: DataFrame) -> DataFrame:
        a = pf.join(F.broadcast(src_terms), "term").select(
            F.col("term").alias("src"), "doc_id"
        )
        return (
            a.join(pf.withColumnRenamed("term", "dst"), "doc_id")
            .filter(F.col("src") != F.col("dst"))
            .groupBy("src", "dst")
            .agg(F.count("*").alias("df_both"))
            .filter(F.col("df_both") >= min_df_both)
            .select("src", "dst")
        )

    seeds = local_frame(
        spark,
        [(t,) for t in sorted({t for _, t, _ in query_term_rows()})],
        "term string",
    )
    e1 = pairs(seeds).persist()
    frontier = e1.select(F.col("dst").alias("term")).distinct()
    return (
        e1.unionByName(pairs(frontier))
        .dropDuplicates(["src", "dst"])
        .persist()
    )


@functools.cache
def pseudo_qrels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic relevance labels: a doc is relevant (rel=1) to qid iff
    its token set contains EVERY query term; rel=2 if additionally each
    query term occurs ≥2 times. Purely derivable → the DuckDB oracle can
    recompute them, giving the eval metrics a closed-form gold standard.

    Memoized + persisted per sf_dir: evaluate() references the qrels
    from FOUR subtrees (join, n_rel, n_nonrel, ideal-DCG) and several
    contract entries (eval, inferred, grid, hard-topics) consume them —
    without the cache each reference re-derives the postings scan +
    aggregation chain inside one plan."""
    idx = doc_index(spark, sf_dir)
    qt = local_frame(
        spark,
        [(q, t) for q, t, _ in query_term_rows()], "qid string, term string"
    ).distinct()
    n_terms = qt.groupBy("qid").agg(F.count("*").alias("n_terms"))
    hits = (
        idx.postings_flat.join(qt, "term")
        .groupBy("qid", "doc_id")
        .agg(F.count("*").alias("n_hit"), F.min("tf").alias("min_tf"))
    )
    return (
        hits.join(n_terms, "qid")
        .filter(F.col("n_hit") == F.col("n_terms"))
        .select(
            "qid",
            "doc_id",
            F.when(F.col("min_tf") >= 2, F.lit(2)).otherwise(F.lit(1)).alias("rel"),
        )
        .persist()
    )
