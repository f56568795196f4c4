"""Small shared utilities.

Every cache has one owner, which releases it: the function that made it
(when its result does not read it), the ``IndexTables`` a build returns,
or a :class:`Caches` the caller passes in. ``Caches.persist`` is the
only code that persists a DataFrame."""

from __future__ import annotations

from typing import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition up when the source has fewer partitions than cores —
    a single small parquet file otherwise serializes every downstream
    Arrow kernel onto one task. No-op when the input is already wide
    (the real-table case at scale: thousands of files/splits)."""
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def local_frame(
    spark: SparkSession, rows: Sequence[Sequence], schema: str
) -> DataFrame:
    """Driver-held rows (tuples or Rows, positional in ``schema`` order)
    -> a DataFrame whose plan is a ``LocalRelation``.

    ``spark.createDataFrame(list, ddl)`` plans a ``LogicalRDD`` over
    ``parallelize``: every consumer then runs Python tasks only to
    unpickle rows the driver already holds. An Arrow table goes to the
    JVM once and is planned as a ``LocalTableScan``. The table is built
    column by column against the DDL's Arrow types, never through
    pandas, which would turn a nullable long column into float64 (and
    lose precision above 2**53)."""
    struct = DataType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    cols = [
        pa.array([r[i] for r in rows], type=f.type)
        for i, f in enumerate(arrow)
    ]
    table = pa.Table.from_arrays(cols, schema=arrow)
    return spark.createDataFrame(table, struct)


class Caches:
    """Owner of the DataFrames persisted through it; ``release`` (or the
    end of a ``with`` block) unpersists them."""

    def __init__(self) -> None:
        self._owned: list = []

    def persist(self, df: DataFrame) -> DataFrame:
        """``df`` persisted and owned here — or ``df`` itself, not
        owned, when its caller had persisted it already."""
        if df.is_cached:
            return df
        df = df.persist()
        self._owned.append(df)
        return df

    def release(self) -> None:
        for df in self._owned:
            df.unpersist()
        self._owned.clear()

    def __enter__(self) -> "Caches":
        return self

    def __exit__(self, *exc) -> None:
        self.release()


def range_prefix_sum(
    caches: Caches, df: DataFrame, order_col: str, value_col: str | None,
    out_col: str,
) -> DataFrame:
    """``df`` plus ``out_col``: the exclusive running sum of ``value_col``
    (1 per row when None) in ``order_col`` order; equal keys get
    distinct offsets. Refuses NULL values.

    A distributed prefix sum, never a one-task global window:
    range-partition, collect one sum per partition, broadcast the
    partition offsets, window within partitions. ``caches`` owns the
    partitioned rows, so the sums and the windows see the SAME sampled
    range boundaries; offset + local sum telescopes to the global sum,
    so the output does not depend on them."""
    part = caches.persist(
        df.repartitionByRange(order_col)
        .withColumn("_pid", F.spark_partition_id())
    )
    v = F.lit(1) if value_col is None else F.col(value_col)
    stats = part.groupBy("_pid").agg(
        F.sum(v).alias("s"), F.sum(v.isNull().cast("long")).alias("n_null")
    ).collect()
    n_null = sum(r["n_null"] for r in stats)
    if n_null:
        raise ValueError(f"{n_null} row(s) have a NULL {value_col!r}")
    offsets, acc = [], 0
    for r in sorted(stats, key=lambda r: r["_pid"]):  # ranges ascend with pid
        offsets.append((r["_pid"], acc))
        acc += int(r["s"])
    off = local_frame(df.sparkSession, offsets, "_pid int, _off long")
    # explicit ROWS frame: the default RANGE frame would sum PEER rows
    # (equal keys) into both peers' sums
    w = (
        Window.partitionBy("_pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    excl = F.col("_off") + F.sum(v).over(w) - v
    return (
        part.join(F.broadcast(off), "_pid")
        .withColumn(out_col, excl.cast("long"))
        .drop("_pid", "_off")
    )
