"""Text-analysis operators for a large-scale training-data pipeline.

Everything here is built-in column algebra over the frozen tokenizer
contract (functions/text.py) — whole-stage codegen, no Python in the hot
path — so each operator is a narrow projection+agg that Catalyst can
pipeline into the parquet scan.

Operators:
  token_stats        — per-doc token / unique-token counts
  quality_score      — length / stopword-ratio / mean-token-length gates
  fingerprint        — md5 document fingerprint over normalized text
  langid             — stopword-profile language heuristic
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokenize_col

# Tiny per-language stopword profiles for the heuristic language id.
# Deterministic + SQL-expressible (the DuckDB oracle mirrors this table).
LANG_STOPWORDS = {
    "en": ["the", "a", "of", "and", "to"],
    "de": ["der", "die", "das", "und", "ein"],
    "fr": ["le", "la", "les", "et", "un"],
    "es": ["el", "los", "las", "y", "una"],
}

QUALITY_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is"]


def _norm_text(col: Column) -> Column:
    """The normalization half of the tokenizer contract: lowercase, every
    non-[a-z0-9] run → single space, trim."""
    return F.trim(F.regexp_replace(F.lower(col), "[^a-z0-9]+", " "))


def token_stats(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, n_tokens, n_unique, n_chars_norm)."""
    toks = tokenize_col(F.col(text_col))
    return docs.select(
        F.col(id_col),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique"),
        F.length(_norm_text(F.col(text_col))).alias("n_chars_norm"),
    )


# GPT-2-style pre-tokenizer, simplified to be engine-portable: no
# lookahead (RE2/DuckDB lacks it), ASCII classes (identical semantics in
# Java regex and RE2). Counts approximate BPE token counts the way data
# pipelines budget context windows.
BPE_ISH_REGEX = (
    "'(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\\s]+|\\s+"
)


def token_counts(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """(doc_id, ws_tokens, bpe_ish_tokens): whitespace token count and a
    BPE-ish pre-tokenizer match count — the two standard size estimators
    for training-data budgeting. Pure built-in regex functions."""
    ws = F.size(
        F.filter(F.split(F.col(text_col), "\\s+"), lambda t: t != "")
    )
    bpe = F.size(
        F.regexp_extract_all(F.col(text_col), F.lit(BPE_ISH_REGEX), F.lit(0))
    )
    return docs.select(
        F.col(id_col),
        ws.cast("long").alias("ws_tokens"),
        bpe.cast("long").alias("bpe_ish_tokens"),
    )


def quality_score(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 10,
    max_stopword_ratio: float = 0.5,
) -> DataFrame:
    """(doc_id, n_tokens, stopword_ratio, mean_token_len, keep).

    The classic CCNet/Gopher-style cheap gates: token count floor,
    stopword-ratio ceiling. All built-in higher-order array functions.
    """
    toks = tokenize_col(F.col(text_col))
    d = docs.select(F.col(id_col), toks.alias("toks"))
    n = F.size("toks")
    sw = F.size(F.filter("toks", lambda t: t.isin(QUALITY_STOPWORDS)))
    total_len = F.aggregate(
        "toks", F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    out = d.select(
        id_col,
        n.alias("n_tokens"),
        F.when(n > 0, sw.cast("double") / n).otherwise(0.0).alias("stopword_ratio"),
        F.when(n > 0, total_len.cast("double") / n).otherwise(0.0).alias("mean_token_len"),
    )
    return out.withColumn(
        "keep",
        (F.col("n_tokens") >= min_tokens)
        & (F.col("stopword_ratio") <= max_stopword_ratio),
    )


def _grams_sql(toks: str, n: int) -> str:
    """SQL expr building the word n-gram array of ``toks`` (space-joined,
    empty array below n tokens). The sequence() is guarded because Spark's
    sequence(1, 0) yields a DESCENDING [1, 0], not an empty array."""
    return (
        f"IF(size({toks}) >= {n}, "
        f"transform(sequence(1, size({toks}) - {n - 1}), "
        f"i -> concat_ws(' ', slice({toks}, i, {n}))), "
        f"CAST(array() AS array<string>))"
    )


def repetition_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, n_tokens, dup_word_frac, top_bigram_frac, dup_trigram_frac)
    — Gopher-style within-document repetition signals (Rae et al. 2021,
    "Scaling Language Models", Table A1), the standard quality gates a
    training-data pipeline runs after the cheap length filters:

      dup_word_frac     1 - distinct/total tokens
      top_bigram_frac   occurrences of the most frequent bigram / (n-1)
      dup_trigram_frac  occurrences of trigrams appearing >= 2x / (n-2)

    100 TB shape: pure per-row array algebra — grams never leave their
    document, so there is NO explode and NO shuffle; the whole operator is
    one whole-stage-codegen projection over the scan. Multiplicities come
    from sorted-array adjacency (run length == gram count), which Spark's
    higher-order ``aggregate``/``filter`` evaluate in-line per row.
    """
    d = docs.select(
        F.col(id_col), tokenize_col(F.col(text_col)).alias("toks")
    ).withColumn("n", F.size("toks"))
    d = d.withColumn("bg", F.expr("array_sort(" + _grams_sql("toks", 2) + ")"))
    d = d.withColumn("tg", F.expr("array_sort(" + _grams_sql("toks", 3) + ")"))
    # longest run in the sorted bigram array == max bigram multiplicity
    top_bg = F.expr(
        "aggregate(bg, "
        "named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'best', 0L), "
        "(acc, g) -> named_struct("
        "  'prev', g, "
        "  'run', IF(acc.prev <=> g, acc.run + 1L, 1L), "
        "  'best', GREATEST(acc.best, IF(acc.prev <=> g, acc.run + 1L, 1L))), "
        "acc -> acc.best)"
    )
    # positions whose trigram occurs >= 2x == sorted positions that equal a
    # neighbor (guarded: empty array would make sequence(1, 0) descend)
    dup_tg = F.expr(
        "IF(size(tg) = 0, 0L, CAST(size(filter(sequence(1, size(tg)), i -> "
        "(i > 1 AND element_at(tg, i) = element_at(tg, i - 1)) OR "
        "(i < size(tg) AND element_at(tg, i) = element_at(tg, i + 1)))) "
        "AS BIGINT))"
    )
    n = F.col("n")
    return d.select(
        id_col,
        n.cast("long").alias("n_tokens"),
        F.round(
            F.when(
                n > 0,
                (n - F.size(F.array_distinct("toks"))).cast("double") / n,
            ).otherwise(0.0),
            6,
        ).alias("dup_word_frac"),
        F.round(
            F.when(n >= 2, top_bg.cast("double") / (n - 1)).otherwise(0.0), 6
        ).alias("top_bigram_frac"),
        F.round(
            F.when(n >= 3, dup_tg.cast("double") / (n - 2)).otherwise(0.0), 6
        ).alias("dup_trigram_frac"),
    )


def fingerprint(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, fp) — md5 of the normalized text. The exact-dedup key:
    identical-after-normalization docs share fp (reference analogue: the
    docno-keyed dedup guards, occuranceCount.cpp:59-65)."""
    return docs.select(
        F.col(id_col), F.md5(_norm_text(F.col(text_col))).alias("fp")
    )


def langid(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, lang_pred, lang_hits) — argmax over per-language stopword
    hit counts; 'und' (undetermined) when no profile fires. Deterministic
    tie-break: higher count wins, then language code ascending."""
    toks = tokenize_col(F.col(text_col))
    d = docs.select(F.col(id_col), toks.alias("toks"))
    langs = sorted(LANG_STOPWORDS)
    hit_cols = [
        F.size(F.filter("toks", lambda t: t.isin(LANG_STOPWORDS[lang]))).alias(lang)
        for lang in langs
    ]
    d = d.select(id_col, *hit_cols)
    # argmax via greatest + case chain (ascending code order on ties)
    best = F.greatest(*[F.col(lang) for lang in langs])
    pred = F.lit("und")
    for lang in reversed(langs):
        pred = F.when((best > 0) & (F.col(lang) == best), F.lit(lang)).otherwise(pred)
    return d.select(
        id_col, pred.alias("lang_pred"), best.cast("int").alias("lang_hits")
    )
