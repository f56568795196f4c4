"""Driver-mimic: run every __spark_entry__ query against its DuckDB
oracle on the driver-generated testdata, exactly like the per-round
correctness gate (row-count + schema + order-insensitive values). The
comparison itself is jobs/run_contract_mimic.py's."""

from __future__ import annotations

import importlib.util
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def _load_mimic():
    spec = importlib.util.spec_from_file_location(
        "run_contract_mimic", os.path.join(REPO, "jobs", "run_contract_mimic.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


mimic = _load_mimic()


@pytest.fixture(scope="module")
def duck():
    return mimic.oracle_views(SF_DIR)


ORACLES = entrymod.oracle_sql()
QUERIES = entrymod.queries()


def test_oracles_and_queries_have_the_same_keys():
    assert set(ORACLES) == set(QUERIES)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(name, spark, duck):
    rec = mimic.compare(
        QUERIES[name](spark, SF_DIR).toPandas(), duck.execute(ORACLES[name]).df()
    )
    assert rec["hash_match"], f"{name}: {rec['err']}"


def test_entry_smoke(spark, monkeypatch):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"qid", "doc_id", "rank", "score"} <= set(df.columns)
