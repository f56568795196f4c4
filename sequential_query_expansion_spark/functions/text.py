"""Tokenize / normalize contract + HTML text extraction.

The reference normalizes text with a punctuation→space regex, bracket
stripping, lowercasing, and slash/dash/quote→space substitution before
feeding Indri (reference: umls/umlsSeqPubMed.ipynb:85-92 — ENG filter,
bracket strip, lower, isalpha gate; optParams/wsdm12-improved-NThrsh-
coordAsc.ipynb:353-392 — re.sub('/|-|"|_',' ') chain; :557 — punctuation
class substitution). We collapse that behavior into ONE byte-stable
contract, implemented three ways that must agree exactly:

1. ``tokenize_py``   — pure Python (the oracle engine uses this)
2. ``tokenize_col``  — Spark built-in column expression (JVM, codegen)
3. ``TOKENIZE_SQL_DUCKDB`` / ``TOKENIZE_SQL_SPARK`` — SQL fragments for
   the driver's DuckDB oracle comparison

Contract (version 1, frozen — rank-identity depends on it):
  a. NFC is NOT applied (input is synthetic ASCII-mostly; revisit for CC)
  b. lowercase (ASCII + unicode default casefold of lower())
  c. every char outside [a-z0-9] becomes a space
  d. split on runs of whitespace; drop empty tokens

Stemming (reference: Krovetz via Indri processTerm,
occuranceCount.cpp:425-426) is a separate, optional stage — a deterministic
rule stemmer applied AFTER tokenization via pandas UDF (``stem_tokens``).
The oracle applies the same pure function, so rank-identity holds with
stemming on or off.
"""

from __future__ import annotations

import re
from typing import List

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --- contract regexes (keep in sync across the three implementations) ---
_NON_ALNUM = re.compile(r"[^a-z0-9]+")

# SQL fragments parameterized by the text column name.
TOKENIZE_SQL_DUCKDB = (
    "list_filter(string_split_regex(regexp_replace(lower({col}), "
    "'[^a-z0-9]+', ' ', 'g'), ' '), t -> t <> '')"
)
TOKENIZE_SQL_SPARK = (
    "filter(split(regexp_replace(lower({col}), '[^a-z0-9]+', ' '), ' '), "
    "t -> t != '')"
)


def tokenize_py(text: str) -> List[str]:
    """Pure-Python tokenizer — the oracle's implementation of the contract."""
    if text is None:
        return []
    return [t for t in _NON_ALNUM.sub(" ", text.lower()).split(" ") if t]


def tokenize_col(col: Column | str) -> Column:
    """Spark built-in implementation — stays inside whole-stage codegen."""
    c = F.col(col) if isinstance(col, str) else col
    toks = F.split(F.regexp_replace(F.lower(c), "[^a-z0-9]+", " "), " ")
    return F.filter(toks, lambda t: t != F.lit(""))


# ---------------------------------------------------------------------------
# Krovetz-style rule stemmer (deterministic, dependency-free).
# NOT the real Krovetz lexicon stemmer — a fixed, versioned rule subset that
# both engine and oracle share. Reference behavior it replaces: per-term
# Indri stem probes (occuranceCount.cpp:425-426; notebook cell 10).
# ---------------------------------------------------------------------------

def stem_py(token: str) -> str:
    t = token
    n = len(t)
    if n > 4 and t.endswith("ies"):
        return t[:-3] + "y"
    if n > 3 and t.endswith("es") and not t.endswith(("ses", "zes", "oes")):
        return t[:-1]  # "makes" -> "make"
    if n > 3 and t.endswith("s") and not t.endswith(("ss", "us", "is")):
        return t[:-1]
    if n > 5 and t.endswith("ing"):
        stem = t[:-3]
        if len(stem) > 2 and stem[-1] == stem[-2]:  # "running" -> "run"
            return stem[:-1]
        return stem
    if n > 4 and t.endswith("ed"):
        stem = t[:-2]
        if len(stem) > 2 and stem[-1] == stem[-2]:
            return stem[:-1]
        return stem
    return t


@F.pandas_udf(T.ArrayType(T.StringType()))
def stem_tokens(series: pd.Series) -> pd.Series:
    """Vectorized (Arrow-batched) stemming of token arrays."""
    return series.map(lambda toks: [stem_py(t) for t in toks] if toks is not None else None)


# ---------------------------------------------------------------------------
# HTML text extraction — the per-row invariant of BASELINE.json input_hint:
# extracted ``text`` must be byte-identical per ``url`` between the table's
# text column and extract_text(html). Deterministic tag-strip extractor
# (no external parser libs in this container).
# ---------------------------------------------------------------------------

_TAG = re.compile(rb"<[^>]*>")
_SCRIPT = re.compile(rb"<(script|style|head)\b[^>]*>.*?</\1>", re.DOTALL | re.IGNORECASE)
_WS = re.compile(rb"\s+")


def extract_text_py(html: bytes) -> str:
    """Strip head/script/style blocks and all tags, collapse whitespace,
    trim. Body text only — the page title lives in metadata, not text."""
    if html is None:
        return ""
    body = _SCRIPT.sub(b" ", html)
    body = _TAG.sub(b" ", body)
    body = _WS.sub(b" ", body).strip()
    return body.decode("utf-8", errors="replace")


@F.pandas_udf(T.StringType())
def extract_text(html: pd.Series) -> pd.Series:
    """Arrow-batched HTML→text extraction (Series[bytes] → Series[str])."""
    return html.map(extract_text_py)


def bigrams_col(tokens) -> Column:
    """X6: adjacent-token bigram strings (reference builds them for
    `#od4` clauses at umls/umlsSeqPubMed.ipynb:584-589:
    ``concStrs1 = [w_i + " " + w_{i+1}]``). zip_with against the shifted
    array so the token expression is evaluated once per row."""
    c = F.col(tokens) if isinstance(tokens, str) else tokens
    shifted = F.slice(c, 2, F.greatest(F.size(c), F.lit(1)))
    pairs = F.zip_with(c, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
    return F.filter(pairs, lambda g: g.isNotNull())


def explode_term_frequencies(doc_terms, id_col: str = "doc_id",
                             tokens_col: str = "tokens"):
    """(doc_id, tokens) -> (term, doc_id, tf, dl), zero Python.

    explode + hash-aggregate: Catalyst's PARTIAL HashAggregate collapses
    duplicate (doc, term) pairs map-side, so the exchange moves rows of
    postings size (doc × distinct-term), not token size — and the whole
    path is whole-stage codegen.

    Two rejected alternatives, both measured slower:
    - a per-row Python dict counter (pandas UDF): allocation-bound,
      anti-scales past ~8 concurrent workers (memory bandwidth);
    - a built-in sort+run-length column program: Catalyst's project
      collapse inlines the array_sort/filter subtrees into the
      higher-order-function lambdas (no CSE inside lambdas), making it
      O(n²) per row however the stages are arranged.
    """
    return (
        doc_terms.select(
            F.col(id_col).alias("doc_id"),
            F.size(tokens_col).alias("dl"),
            F.explode(tokens_col).alias("term"),
        )
        .groupBy("term", "doc_id", "dl")
        .agg(F.count("*").cast("int").alias("tf"))
        .select("term", "doc_id", "tf", "dl")
    )
