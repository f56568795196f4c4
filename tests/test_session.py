"""session.default_cpus, read_input and job_spark: the local parallelism
get_spark falls back to, the jobs' table-or-path rule and their session
getter, checked without starting a session."""

from __future__ import annotations

import os
from types import SimpleNamespace

import pytest

from sequential_query_expansion_spark import session
from sequential_query_expansion_spark.session import (
    default_cpus, job_spark, read_input,
)


def test_default_cpus_is_affinity_set(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cpus() == len(os.sched_getaffinity(0))


def test_env_var_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == 3


# records which reader read_input picked
_STUB = SimpleNamespace(read=SimpleNamespace(
    parquet=lambda n: ("parquet", n), table=lambda n: ("table", n),
))


@pytest.mark.parametrize("name, reader", [
    ("db.pages", "table"),
    ("pages", "table"),
    ("/abs/dir", "parquet"),
    ("rel/dir", "parquet"),
    ("s3a://b/k", "parquet"),
    ("x.parquet", "parquet"),
])
def test_read_input_rule(name, reader):
    assert read_input(_STUB, name) == (reader, name)


def test_read_input_ignores_local_files(tmp_path, monkeypatch):
    # a bare name stays a table even when the driver's cwd holds a file
    # of that name
    monkeypatch.chdir(tmp_path)
    (tmp_path / "pages").mkdir()
    assert read_input(_STUB, "pages") == ("table", "pages")


def test_job_spark_prefers_the_active_session(monkeypatch):
    active = object()
    monkeypatch.setattr(session.SparkSession, "getActiveSession",
                        staticmethod(lambda: active))
    monkeypatch.setattr(session, "get_spark", lambda name: pytest.fail(
        "get_spark called although a session is active"))
    assert job_spark("job") is active


def test_job_spark_falls_back_to_get_spark(monkeypatch):
    monkeypatch.setattr(session.SparkSession, "getActiveSession",
                        staticmethod(lambda: None))
    monkeypatch.setattr(session, "get_spark", lambda name: ("new", name))
    assert job_spark("job") == ("new", "job")
