"""Serving process of the publish-serve workload: a fresh Python process
with no JVM, like ``jobs/local_query_job.py``, that opens a
``LocalSearcher`` on the published index and serves an open-loop query
stream.

Protocol: print ``READY`` once the searcher is open, wait for one line
on stdin, serve the first ``WARMUP`` queries back to back, untimed,
then serve the rest, query i at ``go + i / RATE``, for ``seconds``
seconds and write the result JSON to ``--out``. A single server thread
answers in arrival order, so a slow query delays the ones due after it;
latency is measured from each query's due time, which counts that wait.

    python3 perfbench/serve_worker.py --index DIR --queries PARQUET \
        --seconds 10 --trace 0 --out FILE
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import box

RATE = 20.0         # queries per second, open loop
K = 10              # top-k of every query
CHECK_EVERY = 5     # the oracle checks the timed queries whose qno it divides
WARMUP = 100        # untimed queries before the stream: a fresh process
                    # and term cache serve the first few seconds of a
                    # stream about twice as slowly, and by an amount that
                    # varies from run to run


class _DatasetProxy:
    """Stands in for the ``pyarrow.dataset`` module bound in
    ``scoring.local``: counts ``dataset()`` opens, forwards the rest."""

    def __init__(self, module, counters: dict):
        self._module = module
        self._counters = counters

    def dataset(self, *a, **kw):
        self._counters["reads"] += 1
        return self._module.dataset(*a, **kw)

    def __getattr__(self, name):
        return getattr(self._module, name)


def _instrument(local_mod, wand_mod, counters: dict) -> None:
    """Time decode_block (as bound in scoring.wand and scoring.local) and
    the WAND kernel (as bound in scoring.local). Kernel time excludes the
    decodes it makes, so decode and kernel self times add up."""
    state = {"in_kernel": False}

    def timed_decode(orig):
        def decode(*a, **kw):
            t0 = time.perf_counter()
            try:
                return orig(*a, **kw)
            finally:
                dt = time.perf_counter() - t0
                counters["decode_calls"] += 1
                counters["decode_s"] += dt
                if state["in_kernel"]:
                    counters["decode_in_kernel_s"] += dt
        return decode

    kernel_orig = local_mod._wand_kernel

    def kernel(*a, **kw):
        t0 = time.perf_counter()
        state["in_kernel"] = True
        try:
            return kernel_orig(*a, **kw)
        finally:
            state["in_kernel"] = False
            counters["kernel_calls"] += 1
            counters["kernel_total_s"] += time.perf_counter() - t0

    wand_mod.decode_block = timed_decode(wand_mod.decode_block)
    local_mod.decode_block = timed_decode(local_mod.decode_block)
    local_mod._wand_kernel = kernel
    local_mod.pads = _DatasetProxy(local_mod.pads, counters)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--queries", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    import pandas as pd

    from sequential_query_expansion_spark.functions.text import tokenize_py
    from sequential_query_expansion_spark.scoring import local as local_mod
    from sequential_query_expansion_spark.scoring import wand as wand_mod

    counters = dict.fromkeys(
        ("reads", "decode_calls", "decode_s", "decode_in_kernel_s",
         "kernel_calls", "kernel_total_s"), 0)
    if args.trace:
        _instrument(local_mod, wand_mod, counters)
    queries = pd.read_parquet(args.queries)
    n = min(len(queries) - WARMUP, int(RATE * args.seconds))
    stream = [
        (int(r.qno), r.kind, tokenize_py(r.text))
        for r in queries.head(WARMUP + n).itertuples(index=False)
    ]
    searcher = local_mod.LocalSearcher(args.index)
    print("READY", flush=True)
    sys.stdin.readline()

    for _, kind, terms in stream[:WARMUP]:
        if kind == "rm3":
            searcher.rm3_topk(terms, k=K)
        else:
            searcher.topk(terms, k=K)
    stream = stream[WARMUP:]
    counters.update(dict.fromkeys(counters, 0))

    records, checked = [], {}
    busy_s = 0.0
    go = time.perf_counter()
    for i, (qno, kind, terms) in enumerate(stream):
        due = go + i / RATE
        now = time.perf_counter()
        idle = now < due
        if idle:
            time.sleep(due - now)
        start = time.perf_counter()
        err = None
        try:
            if kind == "rm3":
                res = searcher.rm3_topk(terms, k=K)
            else:
                res = searcher.topk(terms, k=K)
        except Exception as exc:   # one failed query must not end the stream
            err = f"{type(exc).__name__}: {exc}"
            res = []
        end = time.perf_counter()
        busy_s += end - start
        records.append({
            "kind": kind,
            "latency_ms": (end - due) * 1000.0,
            "late_ms": (start - due) * 1000.0 if idle else None,
            "hits": len(res),
            "error": err,
        })
        if qno % CHECK_EVERY == 0:
            checked[qno] = res
    counters["query_s"] = busy_s
    with open(args.out + ".tmp", "w") as f:
        json.dump({
            "records": records,
            "checked": {str(k): v for k, v in checked.items()},
            "counters": counters,
            "vm_hwm_mb": box.vm_hwm_mb(os.getpid()),
        }, f)
    os.replace(args.out + ".tmp", args.out)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
