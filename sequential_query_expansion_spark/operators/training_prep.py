"""Training-set preparation: mixture sampling + sequence packing.

The last pipeline stages before web text reaches a trainer: (1) sample
each source at its mixture rate (the data-mixing step every LM corpus
recipe publishes — C4/Pile/Dolma weights), carrying importance weights
so downstream statistics stay unbiased; (2) pack documents into
fixed-capacity token bins (sequence packing for efficient pre-training
batches).

Both are DETERMINISTIC — sampling by md5-prefix hash (portable across
Spark's Java md5 and DuckDB's, same trick as the LSH plane oracles),
packing by a pure prefix-sum rule — so reruns, resumes, and the DuckDB
oracles all reproduce the same rows bit-for-bit. A `rand()`-based
sample would be cheaper by a hash but unreplayable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..util import Caches, range_prefix_sum

HASH_MOD = 16 ** 6  # first 6 md5 hex chars -> uniform int in [0, 2^24)


def hash_unit(col: Column) -> Column:
    """Deterministic uniform [0, 1) from the md5 prefix of ``col``.
    Exact in float64 (24-bit int over a power of two), so `<` threshold
    comparisons agree bit-for-bit between Spark and DuckDB."""
    h = F.conv(F.substring(F.md5(col.cast("binary")), 1, 6), 16, 10)
    return h.cast("long") / F.lit(float(HASH_MOD))


def mixture_sample(
    docs: DataFrame,
    rates: dict,
    default_rate: float = 1.0,
    source_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "mix",
) -> DataFrame:
    """Per-source Bernoulli sampling at the mixture ``rates``
    (source -> keep probability), deterministic in (salt, id). Keeps the
    input columns and adds ``sample_weight`` = 1/rate so weighted
    downstream aggregates remain unbiased estimates of the full corpus.

    100 TB shape: a pure per-row filter over the scan — no shuffle, no
    sampleBy (whose seed semantics vary across Spark versions), and the
    hash guarantees the SAME rows survive on reruns and resumes, which
    is what makes downstream incremental stages checkpointable.
    """
    for src, r in rates.items():
        if not 0.0 <= r <= 1.0:
            raise ValueError(f"rate for {src!r} must be in [0, 1], got {r}")
    if not 0.0 <= default_rate <= 1.0:
        raise ValueError(f"default_rate must be in [0, 1], got {default_rate}")
    rate = F.lit(float(default_rate))
    for src, r in rates.items():
        rate = F.when(F.col(source_col) == src, F.lit(float(r))).otherwise(rate)
    u = hash_unit(
        F.concat(F.lit(salt), F.lit(":"), F.col(id_col).cast("string"))
    )
    return (
        docs.withColumn("_rate", rate)
        .where(u < F.col("_rate"))
        .withColumn("sample_weight", F.lit(1.0) / F.col("_rate"))
        .drop("_rate")
    )


def pack_sequences(
    docs: DataFrame,
    capacity: int,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    *,
    caches: Caches,
) -> DataFrame:
    """Assign documents (in ``id_col`` order) to fixed-capacity token
    bins: a document belongs to the bin where its global token offset
    starts (``bin_id = floor(start_tok / capacity)``). -> (id, n_tokens,
    start_tok, bin_id, overflow) where ``overflow`` marks documents
    crossing their bin's boundary (a trainer splits or drops those; the
    boundary-rule packing is the standard parallel approximation of
    greedy first-fit — greedy's reset makes every bin depend on all
    prior bins, which cannot scale past one partition).

    100 TB shape: the token offsets are a distributed prefix sum
    (:func:`util.range_prefix_sum`), not a global window. Refuses rows
    whose ``tokens_col`` is NULL. ``caches`` owns the range-partitioned
    input that prefix sum persists; release it once the output is read.
    """
    if capacity < 1:
        raise ValueError(f"capacity must be >= 1, got {capacity}")
    d = range_prefix_sum(
        caches, docs.select(id_col, tokens_col), id_col, tokens_col,
        "start_tok",
    )
    start = F.col("start_tok")
    cap = F.lit(int(capacity))
    return d.select(
        id_col,
        F.col(tokens_col).cast("long").alias(tokens_col),
        start,
        F.floor(start / cap).cast("long").alias("bin_id"),
        ((start % cap) + F.col(tokens_col) > cap).alias("overflow"),
    )
