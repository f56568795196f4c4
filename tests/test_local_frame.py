"""util.local_frame: driver rows become an Arrow-built LocalRelation
(no ``parallelize`` RDD) and round-trip every value unchanged."""

from __future__ import annotations

import pytest
from pyspark.sql.types import DataType

from sequential_query_expansion_spark.util import local_frame


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.mark.parametrize(
    "rows", [[(1, "a"), (2, None)], []], ids=["rows", "empty"]
)
def test_plan_is_local_relation(spark, rows):
    df = local_frame(spark, rows, "x long, y string")
    plan = _optimized(df)
    assert plan.startswith("LocalRelation"), plan
    assert "LogicalRDD" not in plan
    assert [tuple(r) for r in df.collect()] == rows


def test_nullable_long_is_exact(spark):
    # the pandas path turns this column into float64 -> 2**60
    rows = [(2**60 + 1,), (None,)]
    df = local_frame(spark, rows, "x long")
    assert [tuple(r) for r in df.collect()] == rows


@pytest.mark.parametrize(
    "rows, ddl",
    [
        (  # index/ann.py probe LUTs
            [(7, 1, [[1, 2**40], [3]]), (8, 0, [])],
            "probe_id long, bucket int, lut array<array<bigint>>",
        ),
        (  # scoring/phrase.py clause rows
            [("q1", "q1:od0", ["big", "data"], 1, True, 0.1),
             ("q1", "q1:uw", ["big", "data", "scan"], 12, False, 0.1)],
            "qid string, clause_id string, terms array<string>, n int, "
            "ordered boolean, weight double",
        ),
    ],
    ids=["ann_lut", "phrase_clauses"],
)
def test_nested_rows_round_trip(spark, rows, ddl):
    df = local_frame(spark, rows, ddl)
    assert df.schema == DataType.fromDDL(ddl)
    assert [tuple(r) for r in df.collect()] == rows
