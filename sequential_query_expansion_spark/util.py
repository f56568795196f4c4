"""Small shared utilities."""

from __future__ import annotations

from typing import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
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
