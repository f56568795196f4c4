#!/usr/bin/env python
"""Two-cluster-size scaling evidence for the index build.

    python bench.py --scaling

re-runs the index build at two parallelism levels (local[N] and
local[4N], N = SPARK_GRAFT_SCALE_BASE or 2; 4N must fit the process's
CPU affinity set) in fresh subprocesses and reports throughput +
scaling efficiency — the evidence of BASELINE.md, written to
``artifacts/scaling.json``. The repo benchmark is ``perfbench/run.py``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

from sequential_query_expansion_spark.session import default_cpus, get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = default_cpus()
_ARTIFACTS = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "artifacts")


def _sf_from_dir(d: str) -> float:
    base = os.path.basename(d.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def _build_and_time(spark, sf_dir, replicate: int = 1):
    from pyspark.sql import functions as F

    from sequential_query_expansion_spark.index.build import build_index_from_docs
    from sequential_query_expansion_spark.webtext import load_documents

    docs = load_documents(spark, sf_dir).select("doc_id", "text")
    if replicate > 1:
        # deterministic corpus enlargement for throughput/scaling runs:
        # same input at every parallelism level, compute-dominated
        reps = spark.range(replicate).select(F.col("id").alias("rep"))
        docs = docs.crossJoin(F.broadcast(reps)).select(
            (F.col("doc_id") * replicate + F.col("rep")).alias("doc_id"),
            "text",
        )
    t0 = time.perf_counter()
    idx = build_index_from_docs(docs, build_blocked=True)
    # materialize every index table incl. compressed blocks
    idx.postings_flat.count()
    idx.vocab.count()
    blocked = idx.postings.persist()
    blocked.agg(F.sum("df")).collect()
    return idx.n_docs, time.perf_counter() - t0


def run_scaling() -> None:
    """Same index-build job at N and 4N cores; efficiency =
    throughput(4N) / (4 × throughput(N)).

    Each run is PINNED to exactly that many physical cores (taskset):
    this is the faithful local simulation of a cluster of N vs 4N
    executors — without pinning, the small run's JVM/python helper
    threads spill onto the idle cores and the baseline is unfairly fast.

    Each level is measured SPARK_GRAFT_SCALE_REPEATS times (default 2)
    and the BEST throughput is kept: the max is the standard
    noise-robust estimator for a deterministic workload — observed
    back-to-back runs of the 2-core baseline differ by ~20% with
    machine state (turbo/cache residency), which alone can swing the
    efficiency ratio across the 0.8 line.
    """
    import shutil

    base = int(os.environ.get("SPARK_GRAFT_SCALE_BASE", "2"))
    repeats = int(os.environ.get("SPARK_GRAFT_SCALE_REPEATS", "2"))
    usable = sorted(os.sched_getaffinity(0))
    if base * 4 > len(usable):
        sys.exit(
            f"bench.py --scaling: the {base * 4}-core level needs {base * 4} "
            f"CPUs, but this process may run on {len(usable)}; set "
            f"SPARK_GRAFT_SCALE_BASE so that 4 x base <= {len(usable)}"
        )
    levels = [base, base * 4]
    if base * 16 <= len(usable):
        levels.append(base * 16)  # extra point: shows the box's ceiling
    have_taskset = shutil.which("taskset") is not None
    results = {}
    for cpus in levels:
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus),
                   SPARK_GRAFT_BENCH_MODE="build_only")
        cmd = [sys.executable, os.path.abspath(__file__)]
        if have_taskset:
            # pin the JVM + python workers to exactly `cpus` cores: the
            # faithful local simulation of an N-executor cluster
            cpu_list = ",".join(str(c) for c in usable[:cpus])
            cmd = ["taskset", "-c", cpu_list] + cmd
        best = None
        for _ in range(max(1, repeats)):
            out = subprocess.run(
                cmd, env=env, capture_output=True, text=True, timeout=1800,
            )
            json_lines = [
                l for l in out.stdout.strip().splitlines() if l.startswith("{")
            ]
            if out.returncode != 0 or not json_lines:
                raise RuntimeError(
                    f"scaling child at {cpus} cores failed "
                    f"(rc={out.returncode}); stderr tail:\n"
                    + "\n".join(out.stderr.strip().splitlines()[-20:])
                )
            got = json.loads(json_lines[-1])
            if best is None or got["docs_per_sec"] > best["docs_per_sec"]:
                best = got
        results[cpus] = best
    tp_n = results[base]["docs_per_sec"]
    tp_4n = results[base * 4]["docs_per_sec"]
    eff = tp_4n / (4.0 * tp_n)
    # every adjacent 4x pair, so the artifact carries the whole curve
    # (BASELINE.md discusses the 8->32 pair explicitly: one socket's
    # memory bandwidth is shared by all local cores, unlike a real
    # 4x-executor scale-out which adds 4x memory controllers)
    pair_eff = {
        f"{a}->{b}": round(
            results[b]["docs_per_sec"] / (4.0 * results[a]["docs_per_sec"]),
            3,
        )
        for a, b in zip(levels, levels[1:])
    }
    line = json.dumps({
        "metric": "scaling_efficiency",
        "value": round(eff, 3),
        "unit": "ratio",
        "throughput": {str(c): results[c]["docs_per_sec"] for c in levels},
        "pair_efficiency": pair_eff,
        "n_docs": results[base].get("n_docs"),
        "sf": _sf_from_dir(SF_DIR),
    })
    print(line)
    os.makedirs(_ARTIFACTS, exist_ok=True)
    with open(os.path.join(_ARTIFACTS, "scaling.json"), "w") as f:
        f.write(line + "\n")


def run_build_only() -> None:
    replicate = int(os.environ.get("SPARK_GRAFT_SCALE_REPL", "400"))
    spark = get_spark("sqe-bench-build", master=f"local[{CPUS}]",
                      shuffle_partitions=CPUS)
    # warmup: tiny build first so JVM/codegen/python-worker startup is not
    # attributed to the measured run (smallest sibling sf dir; falls back
    # to an un-replicated pass over SF_DIR, which is tiny pre-replication)
    warm_dir = os.path.join(os.path.dirname(SF_DIR.rstrip("/")), "sf0.001")
    _build_and_time(spark, warm_dir if os.path.isdir(warm_dir) else SF_DIR,
                    replicate=1)
    spark.catalog.clearCache()
    n_docs, t_build = _build_and_time(spark, SF_DIR, replicate=replicate)
    spark.stop()           # before the print: keep our JSON the last line
    print(json.dumps({
        "metric": "index_build_sec",
        "value": round(t_build, 3),
        "unit": "sec",
        "queries": {"index_build": round(t_build, 3)},
        "sf": _sf_from_dir(SF_DIR),
        "n_docs": n_docs,
        "docs_per_sec": round(n_docs / t_build, 1),
        "cpus": CPUS,
    }))


if __name__ == "__main__":
    if "--scaling" in sys.argv:
        run_scaling()
    elif os.environ.get("SPARK_GRAFT_BENCH_MODE") == "build_only":
        run_build_only()
    else:
        sys.exit("usage: python bench.py --scaling "
                 "(the repo benchmark is perfbench/run.py)")
