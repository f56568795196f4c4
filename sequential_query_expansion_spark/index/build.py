"""Inverted-index build as DataFrame programs.

Re-creates what Indri's `IndriBuildIndex` + the reference's `dumpindex`
views expose (occuranceCount.cpp:317-378 inverted file + vocabulary,
:595-663 forward index, :678-698 stats, :525-549 docid<->docno map) as a
set of Spark tables:

    docmap(doc_id, url)                — deterministic global ids
    doc_terms(doc_id, tokens)          — forward index (transient)
    doc_len(doc_id, dl)
    vocab(term, df, cf)
    postings_flat(term, doc_id, tf, dl) — the scoring-join representation
    postings(term, bucket, df, cf, max_score, blocks[...])
                                        — blocked, delta + varint/PForDelta
                                          compressed (codec=, tagged buffers),
                                          block-max metadata (WAND path)
    stats: n_docs, avgdl, n_terms, total_terms

Scale notes (the 100 TB design):
- doc ids are partition-contiguous after a range-partition on url: one
  range exchange, then a per-partition window — never a single-partition
  global window. Contiguity keeps docID deltas small (tight varints).
- tf via explode + hash-agg with MAP-SIDE partial aggregation: duplicate
  (doc, term) pairs collapse before the exchange, so the doc-major →
  term-major shuffle moves postings-sized rows, entirely in codegen
  (zero Python anywhere in the build).
- that exchange is salted by doc-range (`ceil(doc_id / range)`): a
  stopword with df = 60% of docs lands in S bounded groups instead of one
  giant one (north_rule's "salted repartition-by-term"). Because salt is
  a doc-RANGE, concatenating per-salt segments in salt order preserves
  global docID sort — deterministic block layout, rank-identity safe.
- per-partition lineage/metrics checkpointing lives in index/checkpoint.py.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.text import explode_term_frequencies, stem_tokens, tokenize_col
from ..util import Caches, ensure_parallelism, range_prefix_sum
from .codec import encode_block
from .xxh64 import term_bucket_col

BLOCK_SIZE = 128

# BM25 parameters are fixed at block-max build time; queries using the same
# params can trust max_score as an upper bound. Keep in sync with oracle.
K1 = 1.2
B = 0.75


@dataclass
class IndexTables:
    docmap: DataFrame        # doc_id long, url string
    doc_terms: DataFrame     # doc_id long, tokens array<string>
    doc_len: DataFrame       # doc_id long, dl int
    vocab: DataFrame         # term string, df long, cf long
    postings_flat: DataFrame  # term, doc_id, tf, dl
    postings: DataFrame | None  # blocked (built lazily)
    n_docs: int
    avgdl: float
    # positional postings (term, doc_id, positions array<int>) — persisted
    # as a checkpoint stage; None until built (Indri stores positions in
    # its inverted file, occuranceCount.cpp:310-351)
    positional: DataFrame | None = None
    # owner of the tables the build persisted
    caches: Caches = field(default_factory=Caches, repr=False)

    def idf_col(self, df_col):
        return F.log(F.lit(1.0) + (F.lit(self.n_docs) - df_col + 0.5) / (df_col + 0.5))

    def release(self) -> None:
        """Unpersist every table the build persisted."""
        self.caches.release()


def assign_doc_ids(pages: DataFrame, caches: Caches) -> DataFrame:
    """docmap(doc_id, url): doc_id == rank of url in global sort order
    (:func:`util.range_prefix_sum`). ``caches`` owns the partitioned
    urls, which must stay cached until the docmap is materialized."""
    return range_prefix_sum(
        caches, pages.select("url"), "url", None, "doc_id"
    ).select("doc_id", "url")


def build_index(
    pages: DataFrame,
    stem: bool = False,
    build_blocked: bool = False,
    salt_ranges: int = 8,
    codec: str = "varint",
) -> IndexTables:
    """pages(url, warc_ts, html, text, lang) -> IndexTables: the global
    url ranking of :func:`assign_doc_ids`, then :func:`build_index_from_docs`
    over (doc_id, text), keeping the url-bearing docmap."""
    caches = Caches()
    docmap = caches.persist(assign_doc_ids(pages, caches))
    docs = pages.select("url", "text").join(docmap, "url").select("doc_id", "text")
    idx = _build(docs, caches, stem, build_blocked, salt_ranges, codec)
    idx.docmap = docmap
    return idx


def build_index_from_docs(
    docs: DataFrame,
    stem: bool = False,
    build_blocked: bool = False,
    salt_ranges: int = 8,
    codec: str = "varint",
) -> IndexTables:
    """Same build over a pre-keyed table docs(doc_id long, text string).

    Used for corpora that already carry a stable integer key (the driver's
    ``documents`` testdata table); skips the global url-ranking exchange
    entirely — one less shuffle than :func:`build_index`.
    """
    return _build(docs, Caches(), stem, build_blocked, salt_ranges, codec)


def _build(docs: DataFrame, caches: Caches, stem: bool, build_blocked: bool,
           salt_ranges: int, codec: str) -> IndexTables:
    """The build over docs(doc_id, text); the returned IndexTables owns
    ``caches``. NULL text is built as empty text: a zero-length doc."""
    docs = ensure_parallelism(docs)
    docmap = docs.select("doc_id", F.col("doc_id").cast("string").alias("url"))

    # not coalesce: a literal fallback makes tokens and dl non-nullable,
    # which changes the parquet layout the checkpoint writes
    text = F.when(F.col("text").isNull(), "").otherwise(F.col("text"))
    doc_terms = docs.select("doc_id", tokenize_col(text).alias("tokens"))
    if stem:
        doc_terms = doc_terms.select("doc_id", stem_tokens("tokens").alias("tokens"))
    doc_terms = caches.persist(doc_terms)

    doc_len = doc_terms.select("doc_id", F.size("tokens").alias("dl"))

    postings_flat = caches.persist(explode_term_frequencies(doc_terms))

    vocab = postings_flat.groupBy("term").agg(
        F.count("*").alias("df"), F.sum("tf").alias("cf")
    )

    gstats = doc_len.agg(F.count("*").alias("n"), F.avg("dl").alias("avgdl")).collect()[0]
    if not gstats["n"]:
        caches.release()
        raise ValueError(
            "cannot build an index: the input table has no documents"
        )
    n_docs, avgdl = int(gstats["n"]), float(gstats["avgdl"])

    blocked = None
    if build_blocked:
        blocked = build_blocked_postings(
            postings_flat, n_docs, avgdl, salt_ranges=salt_ranges, codec=codec
        )

    return IndexTables(
        docmap=docmap,
        doc_terms=doc_terms,
        doc_len=doc_len,
        vocab=caches.persist(vocab),
        postings_flat=postings_flat,
        postings=blocked,
        n_docs=n_docs,
        avgdl=avgdl,
        caches=caches,
    )


# ---------------------------------------------------------------------------
# Blocked compressed postings (two-phase salted merge)
# ---------------------------------------------------------------------------

_SEGMENT_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType()),
        T.StructField("salt", T.IntegerType()),
        T.StructField("df_part", T.LongType()),
        T.StructField("cf_part", T.LongType()),
        T.StructField(
            "blocks",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("first_doc", T.LongType()),
                        T.StructField("max_doc", T.LongType()),
                        T.StructField("n", T.IntegerType()),
                        T.StructField("max_score", T.DoubleType()),
                        T.StructField("docs", T.BinaryType()),
                        T.StructField("tfs", T.BinaryType()),
                        T.StructField("dls", T.BinaryType()),
                    ]
                )
            ),
        ),
    ]
)


def _bm25_upper(tf: np.ndarray, dl: np.ndarray, df: int, n_docs: int, avgdl: float) -> np.ndarray:
    idf = math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
    return idf * tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl))


def build_blocked_postings(
    postings_flat: DataFrame,
    n_docs: int,
    avgdl: float,
    salt_ranges: int = 8,
    block_size: int = BLOCK_SIZE,
    num_buckets: int = 64,
    codec: str = "varint",
) -> DataFrame:
    """Phase 1: encode per-(term, doc-range-salt) sorted segments.

    ``codec`` selects the per-block compression ("varint" or "pfor").
    varint encodes ~5× faster (best for ingest throughput); pfor decodes
    ~2× faster and is ~30% smaller (best for a serving index — compact
    with codec="pfor" to re-encode). Buffers are tagged, so readers and
    mixed-codec indexes need no configuration.
    Phase 2: merge segments per term in salt order (ranges are contiguous,
    so concatenation preserves global docID sort — SURVEY §7 hard part ii).

    Note on max_score: block-max needs the true per-(term,doc) BM25, which
    needs the term's GLOBAL df. We compute global df first (vocab-sized
    aggregate, small relative to postings) and broadcast-join it into the
    segment encoder so phase 1 can emit exact block maxima.
    """
    range_size = max(1, (n_docs + salt_ranges - 1) // salt_ranges)

    df_global = postings_flat.groupBy("term").agg(F.count("*").alias("df_g"))

    with_salt = (
        postings_flat.join(F.broadcast(df_global), "term")
        .withColumn("salt", (F.col("doc_id") / F.lit(range_size)).cast("int"))
    )

    def encode_segment(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        term = pdf["term"].iloc[0]
        salt = int(pdf["salt"].iloc[0])
        df_g = int(pdf["df_g"].iloc[0])
        doc_ids = pdf["doc_id"].to_numpy(np.int64)
        tfs = pdf["tf"].to_numpy(np.int64)
        dls = pdf["dl"].to_numpy(np.int64)
        scores = _bm25_upper(tfs.astype(np.float64), dls.astype(np.float64),
                             df_g, n_docs, avgdl)
        blocks = []
        for s in range(0, len(doc_ids), block_size):
            e = min(s + block_size, len(doc_ids))
            docs_b, tfs_b, dls_b = encode_block(
                doc_ids[s:e], tfs[s:e], dls[s:e], codec=codec
            )
            blocks.append(
                {
                    "first_doc": int(doc_ids[s]),
                    "max_doc": int(doc_ids[e - 1]),
                    "n": int(e - s),
                    "max_score": float(scores[s:e].max()),
                    "docs": docs_b,
                    "tfs": tfs_b,
                    "dls": dls_b,
                }
            )
        return pd.DataFrame(
            [
                {
                    "term": term,
                    "salt": salt,
                    "df_part": int(len(doc_ids)),
                    "cf_part": int(tfs.sum()),
                    "blocks": blocks,
                }
            ]
        )

    segments = with_salt.groupBy("term", "salt").applyInPandas(
        encode_segment, schema=_SEGMENT_SCHEMA
    )

    # Phase 2: tiny groups (≤ salt_ranges rows per term) — no skew possible.
    merged = (
        segments.groupBy("term")
        .agg(
            F.sum("df_part").alias("df"),
            F.sum("cf_part").alias("cf"),
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("salt", "blocks"))
                    ),
                    lambda s: s["blocks"],
                )
            ).alias("blocks"),
        )
        .withColumn(
            "max_score",
            F.array_max(F.transform("blocks", lambda b: b["max_score"])),
        )
        .withColumn("bucket", term_bucket_col(num_buckets))
        .select("term", "bucket", "df", "cf", "max_score", "blocks")
    )
    return merged
