#!/usr/bin/env python3
"""Benchmark of the program's user paths, run from the repository root:

    python3 perfbench/run.py --workload publish-serve|seqexp-batch \
        --seed N --seconds S --trace 0|1

Each run is one fresh process: it records the box, times a calibration
probe, generates its inputs from the seed, starts a Spark session on
``local[cores]``, sets up, measures for about S seconds, checks the
outputs against the program's oracle, and stops every process it
started. Everything it writes lives under ``.perfbench/`` in the
checkout; the run's scratch directory is deleted before it reports.

The last stdout line is the result::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics when ``--trace 0`` and the per-layer metrics
when ``--trace 1`` (BENCHMARK.json names both; METRICS.md says what each
one means on each workload and what it should move). The line before it
starts with ``PERFBENCH`` and holds the full report: box, input
digests, every named workload metric, the correctness verdicts and, for
traced runs, the per-layer rows and the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import time
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import box  # noqa: E402
import spans  # noqa: E402
import sparkrun  # noqa: E402
import workloads  # noqa: E402

SPAN_LAYERS = ("index.checkpoint", "index.build", "expansion.concept_graph",
               "scoring.bm25", "sources.trec", "evalmetrics", "jobs.pipeline_job")


def metric_units(kind: str) -> dict:
    """{name: unit} of the ``end_to_end`` or ``per_layer`` metrics that
    BENCHMARK.json declares."""
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


class Run:
    """State of one benchmark run, filled in by a workload."""

    def __init__(self, args, cores: int, root: box.TempRoot):
        self.workload = args.workload
        self.seed, self.seconds, self.trace = args.seed, args.seconds, args.trace
        self.cores, self.root = cores, root
        self.checkout, self.bench_dir = CHECKOUT, BENCH_DIR
        self.tracer = spans.Tracer()
        self.spark = None
        self.session_start_s = self.setup_s = self.rss_mb = 0.0
        self.attempted = self.failed = 0
        self.e2e: dict = {}
        self.layer: dict = {}
        self.report: dict = {"workload": args.workload, "seed": args.seed,
                             "seconds": args.seconds, "trace": args.trace}
        self.checks: list = []
        self._cached = 0
        self.event_dir = root.sub("eventlog") if args.trace else None

    def inputs(self, inp, prefix: str = "") -> None:
        self.report.setdefault("input_sha256", {}).update(
            {prefix + k: v for k, v in inp.digests.items()})

    def start_spark(self) -> None:
        self.spark, self.session_start_s = sparkrun.start(
            f"perfbench-{self.workload}", self.cores, self.root.tmp, self.event_dir)
        self.layer["session.start_s"] = self.session_start_s

    def cached_before(self) -> None:
        self._cached = sparkrun.persistent_rdds(self.spark)

    def cached_after(self) -> None:
        self.layer["cached_rdds_leaked"] = sparkrun.persistent_rdds(self.spark) - self._cached

    def check(self, name: str, ok: bool, detail=None) -> None:
        self.checks.append({"check": name, "ok": bool(ok), "detail": detail})

    def stop_spark(self) -> None:
        if self.spark is not None:
            sparkrun.stop(self.spark)
            self.spark = None


def _layer_rows(run: Run) -> None:
    """Per-layer metrics from the spans and the Spark event log."""
    log = spans.parse_event_log(sparkrun.event_log_lines(run.event_dir))
    sp = run.tracer.spans
    rows = spans.attribute(sp, log, run.cores)
    zero = dict.fromkeys(spans.SPAN_STATS, 0)
    cg = dict(rows.get("expansion.concept_graph", zero))
    feats = rows.get("expansion.concept_graph.features", zero)
    for k in spans.SPAN_STATS:
        cg[k] += feats[k]
    cg["busy"] = cg["task_s"] / (cg["wall_s"] * run.cores) if cg["wall_s"] else 0.0
    rows["expansion.concept_graph"] = cg
    for layer in SPAN_LAYERS:
        for stat, v in rows.get(layer, zero).items():
            run.layer[f"{layer}.{stat}"] = v
    calls = sum(1 for s in sp if s.name == "expansion.concept_graph.features")
    run.layer["expansion.concept_graph.calls"] = calls
    run.layer["expansion.concept_graph.jobs_per_call"] = feats["jobs"] / calls if calls else 0
    run.layer["expansion.concept_graph.tasks_per_call"] = feats["tasks"] / calls if calls else 0
    batches = [s for s in sp if s.name == "batch"]
    run.layer["seqexp.jobs_per_batch"] = (
        sum(1 for _, t in log.jobs if any(b.start <= t < b.end for b in batches))
        / len(batches) if batches else 0)
    encode = [st for st in log.stages if "FlatMapGroupsInPandas" in st.scopes]
    run.layer["index.build.encode.tasks"] = sum(st.n_tasks for st in encode)
    run.layer["index.build.encode.task_s"] = sum(st.task_s for st in encode)
    run.layer["index.build.encode.max_task_s"] = max((st.max_task_s for st in encode), default=0)
    run.layer["index.build.encode.groups"] = sum(
        log.node_metric(st, "FlatMapGroupsInPandas", "number of output rows") for st in encode)
    run.layer["jobs.pipeline_job.single_task_stages"] = sum(
        1 for st in spans.stages_in(sp, log, "jobs.pipeline_job") if st.n_tasks == 1)


def _results_file(workload: str, trace: int) -> str:
    d = os.path.join(CHECKOUT, ".perfbench", "results")
    os.makedirs(d, exist_ok=True)
    return os.path.join(d, f"{workload}.trace{trace}.jsonl")


def _overhead(run: Run, e2e: dict) -> dict | None:
    """Traced minus untraced end-to-end values, against the median of
    the untraced runs of this workload recorded in this checkout."""
    path = _results_file(run.workload, 0)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        past = [json.loads(line)["e2e"] for line in f if line.strip()]
    if not past:
        return None
    return {k: v - statistics.median(p[k] for p in past) for k, v in e2e.items()}


def measure(args) -> tuple[dict, dict]:
    cores = box.cores_for_spark()
    info = box.preflight(cores)
    probe = box.calibration_probe(cores)
    root = box.TempRoot(CHECKOUT, f"{args.workload}-{args.seed}-t{args.trace}")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (CHECKOUT, os.environ.get("PYTHONPATH")) if p)
    run = Run(args, cores, root)
    run.report["box"] = info
    run.report["calib"] = probe
    run.layer["calib.probe_s"] = probe["probe_s"]
    try:
        try:
            workloads.WORKLOADS[args.workload](run)
        finally:
            run.stop_spark()
            run.tracer.unwrap()
        if args.trace:
            _layer_rows(run)
        run.layer["temp_bytes_left"] = root.left_behind()
    finally:
        root.close()

    e2e = dict(run.e2e, setup_s=run.setup_s, peak_rss_mb=run.rss_mb)
    run.report["e2e"] = e2e
    run.report["peak_rss_mb"] = run.rss_mb
    run.report["setup_s"] = run.setup_s
    run.report["failed_ratio"] = run.failed / run.attempted
    run.report["checks"] = run.checks
    if args.trace:
        run.report["layers"] = run.layer
        run.report["tracing_overhead"] = _overhead(run, e2e)
    with open(_results_file(args.workload, args.trace), "a") as f:
        f.write(json.dumps({"seed": args.seed, "e2e": e2e}) + "\n")

    if args.trace:
        metrics = {name: {"value": run.layer.get(name, 0), "unit": unit}
                   for name, unit in metric_units("per_layer").items()}
    else:
        metrics = {name: {"value": e2e[name], "unit": unit}
                   for name, unit in metric_units("end_to_end").items()}
    result = {
        "correct": run.failed == 0 and all(c["ok"] for c in run.checks),
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }
    return run.report, result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()
    # a terminated run still stops its JVM and deletes its scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    if not os.path.isdir(os.path.join(CHECKOUT, "sequential_query_expansion_spark")):
        print("perfbench: the program is not in this checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, CHECKOUT)
    t0 = time.perf_counter()
    box.become_subreaper()
    try:
        report, result = measure(args)
    except box.Refused as exc:
        print(f"perfbench: refused to measure: {exc}", file=sys.stderr)
        return 3
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        # nothing the run started outlives it
        stray = box.stop_children()
    report["stray_processes"] = stray
    report["run_wall_s"] = time.perf_counter() - t0
    print("PERFBENCH " + json.dumps(report, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
