"""PII detection + redaction for a web-text training pipeline.

Before web text is trained on (or shipped to annotators), the pipeline
scans for personally identifiable information and masks it — the C4 /
FineWeb / Dolma pipelines all run a regex pass of exactly this shape
for emails, IP addresses, and phone numbers (the ML-ops consensus is
that regex catches the structured PII classes; NER models are layered
on top for names, which needs model weights this sandbox doesn't have).

100 TB shape: pure per-row regexp algebra over the scan — counts via
``regexp_extract_all`` + ``size``, masking via a chain of
``regexp_replace``. No shuffle, no UDF, whole-stage codegen end to end
(same zero-exchange plan class as text_analysis.repetition_stats).

The patterns are deliberately restricted to syntax with IDENTICAL
semantics in Java regex (Spark) and RE2 (DuckDB) — ASCII classes,
bounded quantifiers, ``\\b`` word boundaries — so the DuckDB oracle
replays them verbatim. A production deployment extends the pattern
table (IBANs, SSNs, locale phone formats); the table-driven shape here
is the engine part.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Ordered: redaction applies top to bottom, so earlier patterns must not
# produce text a later pattern matches ("[EMAIL]" etc. contain no digits
# or '@'). Email runs first and also takes an IPv4-literal host
# (user@1.2.3.4), so an IP-looking mail host is masked as part of the
# address, never left half-redacted.
PII_PATTERNS = (
    ("email", r"[a-zA-Z0-9._%+-]+@([a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
              r"|(\d{1,3}\.){3}\d{1,3}\b)"),
    ("ipv4", r"\b(\d{1,3}\.){3}\d{1,3}\b"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"),
)


def _count(col: Column, pattern: str) -> Column:
    return F.size(F.regexp_extract_all(col, F.lit(pattern), F.lit(0)))


def redact_col(col: Column) -> Column:
    """Masked form of ``col``: every PII match replaced by its
    ``[CLASS]`` placeholder, applied in PII_PATTERNS order."""
    out = col
    for name, pat in PII_PATTERNS:
        out = F.regexp_replace(out, pat, f"[{name.upper()}]")
    return out


def pii_scan(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, n_email, n_ipv4, n_phone, has_pii, redacted) — per-class
    match counts plus the masked text. Callers keeping only the flag
    project ``has_pii`` and Spark prunes the redaction expression."""
    text = F.col(text_col)
    counts = [
        _count(text, pat).cast("long").alias(f"n_{name}")
        for name, pat in PII_PATTERNS
    ]
    any_pii = None
    for name, _ in PII_PATTERNS:
        c = F.col(f"n_{name}") > 0
        any_pii = c if any_pii is None else (any_pii | c)
    return docs.select(
        F.col(id_col), *counts, redact_col(text).alias("redacted")
    ).select(
        id_col,
        *[f"n_{name}" for name, _ in PII_PATTERNS],
        any_pii.alias("has_pii"),
        "redacted",
    )
