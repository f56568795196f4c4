"""Benchmark decontamination for a training-data pipeline.

Before training on web text, a pipeline must find documents that overlap
the evaluation benchmarks (test-set leakage) and drop or flag them. The
standard mechanism (GPT-3 appendix C; The Pile; FineWeb) is word-n-gram
overlap: a document is contaminated w.r.t. a benchmark item when it
contains at least a threshold fraction of the item's distinct n-grams.

100 TB shape: the benchmark side is small and FIXED (a few thousand eval
items) -> broadcast it; the corpus side streams its distinct per-doc
n-grams through a broadcast hash join, so nothing corpus-sized ever
shuffles on the gram key. Only the (rare) matching rows reach the
per-(doc, bench) aggregate, which is map-side combinable on doc_id.
Grams are joined as exact strings here; at petabyte scale you would
xxhash64 them to fixed width first (index/xxh64.py) — noted, not done,
because exact strings keep the DuckDB oracle byte-for-byte replayable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokenize_col
from ..util import local_frame
from .dedup import _shingle_col


def _distinct_grams(
    df: DataFrame, id_col: str, text_col: str, n: int, out_id: str
) -> DataFrame:
    # reuse dedup's zip_with gram builder (one evaluation of the token
    # array per row; the index-transform form re-runs the tokenizer per
    # element — see _shingle_col's docstring)
    return df.select(
        F.col(id_col).alias(out_id),
        F.explode(_shingle_col(text_col, n)).alias("gram"),
    )


def ngram_overlap(
    docs: DataFrame,
    bench: DataFrame,
    n: int = 8,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    bench_id_col: str = "bench_id",
    text_col: str = "text",
    bench_text_col: str = "text",
) -> DataFrame:
    """(doc_id, bench_id, matched_ngrams, bench_ngrams, overlap_frac,
    flagged) for every (document, benchmark item) pair sharing at least
    one distinct word n-gram; ``flagged`` when the document contains
    >= ``threshold`` of the item's distinct n-grams.

    Both sides run the frozen tokenizer contract, so a benchmark item
    whose text was normalized elsewhere still matches byte-for-byte.

    Refuses bench items shorter than ``n`` tokens: they produce zero
    n-grams, so they could never flag ANY document — a silent hole in
    the decontamination guarantee (short QA answers are common in real
    eval sets). Lower ``n`` or pre-filter such items explicitly.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    # the bench side is small by design (it gets broadcast below): ONE
    # collect feeds the guard, and the rows go back as a local table, so
    # the gram build never executes the bench lineage again and nothing
    # stays persisted. coalesce: a NULL text tokenizes to NULL, which
    # `< n` would let slip past the guard — exactly the silent hole
    # being closed.
    items = bench.select(bench_id_col, bench_text_col)
    rows = items.withColumn(
        "_n", F.coalesce(F.size(tokenize_col(F.col(bench_text_col))), F.lit(0))
    ).collect()
    n_short = sum(r["_n"] < n for r in rows)
    if n_short:
        raise ValueError(
            f"{n_short} bench item(s) have fewer than n={n} tokens and "
            "would silently never match any document; lower n or "
            "pre-filter them"
        )
    bench = local_frame(
        bench.sparkSession, [r[:2] for r in rows], items.schema.toDDL()
    )
    bench_g = _distinct_grams(bench, bench_id_col, bench_text_col, n, "bench_id")
    totals = bench_g.groupBy("bench_id").agg(
        F.count("*").alias("bench_ngrams")
    )
    doc_g = _distinct_grams(docs, id_col, text_col, n, "doc_id")
    matched = (
        doc_g.join(F.broadcast(bench_g), "gram")
        .groupBy("doc_id", "bench_id")
        .agg(F.count("*").alias("matched_ngrams"))
    )
    frac = F.col("matched_ngrams").cast("double") / F.col("bench_ngrams")
    return (
        matched.join(F.broadcast(totals), "bench_id")
        .select(
            "doc_id",
            "bench_id",
            F.col("matched_ngrams").cast("long").alias("matched_ngrams"),
            F.col("bench_ngrams").cast("long").alias("bench_ngrams"),
            F.round(frac, 6).alias("overlap_frac"),
            (frac >= threshold).alias("flagged"),
        )
    )
