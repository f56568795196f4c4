"""session.default_cpus: the local parallelism get_spark falls back to,
checked without starting a session."""

from __future__ import annotations

import os

from sequential_query_expansion_spark.session import default_cpus


def test_default_cpus_is_affinity_set(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cpus() == len(os.sched_getaffinity(0))


def test_env_var_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == 3
