"""The two workloads, publish-serve and seqexp-batch, and the pipeline
pass that traced seqexp-batch runs add.

Each ``run_*`` function receives the run state (``run.Run``): it
generates its inputs, sets up, measures, checks the outputs, and fills
in the run's end-to-end values, named report values and layer counters.
Spans named after program modules wrap the benchmark's own calls into
those modules; a lazy call is spanned together with the action that
materializes it.
"""

from __future__ import annotations

import importlib.util
import json
import os
import statistics
import subprocess
import sys
import time

import box
import gen
import sparkrun
from checks import mixed_weights, pipeline_invariants, ranked_match, read_trec_run
from serve_worker import K as SERVE_K
from serve_worker import RATE as SERVE_RATE
from serve_worker import WARMUP as SERVE_WARMUP
from spans import percentile, tail

# publish-serve ---------------------------------------------------------------
PUBLISH_PAGES = 70         # short pages; see METRICS.md for the scale
RM3_SHARE = 0.10
PUBLISH_BUCKETS = 8        # test-scale layout, as webtext.disk_index_dir

# seqexp-batch ----------------------------------------------------------------
SEQEXP_PAGES = 1500
BATCH_TOPICS = 50
HARD_SHARE = 0.30
RUN_K = 1000
SETUP_REPEATS = 3

# pipeline pass (traced seqexp-batch runs only) --------------------------------
PIPELINE_PAGES = 1500
BENCH_ITEMS = 20
CAPACITY = 2048
DECON_N, DECON_THRESHOLD = 8, 0.5   # pipeline_job's defaults


def _spark_rss(run) -> float:
    """Peak RSS of this driver process plus its JVM."""
    return box.vm_hwm_mb(os.getpid()) + box.vm_hwm_mb(sparkrun.jvm_pid(run.spark))


# ----------------------------------------------------------------------------
# publish-serve
# ----------------------------------------------------------------------------


def run_publish_serve(run) -> None:
    from sequential_query_expansion_spark import oracle
    from sequential_query_expansion_spark.functions.text import tokenize_py
    from sequential_query_expansion_spark.index.checkpoint import build_index_checkpointed

    import pandas as pd

    inp = gen.publish_serve(run.seed, run.root.data, PUBLISH_PAGES, SERVE_WARMUP,
                            int(SERVE_RATE * run.seconds), RM3_SHARE)
    run.inputs(inp)
    run.report["serve_query_term_pool"] = inp.facts["query_term_pool"]
    run.start_spark()
    spark = run.spark

    index_dir = run.root.sub("index")
    docs = spark.read.parquet(inp.paths["pages"]).select("doc_id", "text")
    run.cached_before()
    run.attempted += 1
    with run.tracer.span("index.checkpoint") as sp:
        build_index_checkpointed(spark, docs, index_dir, num_buckets=PUBLISH_BUCKETS,
                                 with_doc_vectors=True)
    publish_s = sp.end - sp.start
    run.cached_after()
    # the index tables only: stats.json and the build_metrics lineage
    # hold this run's timings, whose digits vary from run to run
    stored = sum(box.dir_bytes(os.path.join(index_dir, d)) for d in os.listdir(index_dir)
                 if d != "build_metrics" and os.path.isdir(os.path.join(index_dir, d)))
    run.report["publish_docs_per_s"] = PUBLISH_PAGES / publish_s
    run.report["stored_bytes_per_input_byte"] = stored / inp.facts["text_bytes"]
    run.layer["index.checkpoint.bytes_written"] = stored
    run.e2e["throughput_per_s"] = PUBLISH_PAGES / publish_s
    # the publish job ends before serving starts, as a spark-submit job
    # would: the serving process shares the box with no idle JVM
    spark_rss = _spark_rss(run)
    run.stop_spark()

    out_path = run.root.sub("serve.json")
    cmd = [sys.executable, os.path.join(run.bench_dir, "serve_worker.py"),
           "--index", index_dir, "--queries", inp.paths["queries"],
           "--seconds", str(run.seconds), "--trace", str(run.trace),
           "--out", out_path]
    t0 = time.perf_counter()
    worker = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                              text=True)
    try:
        ready = worker.stdout.readline().strip()
        serve_setup_s = time.perf_counter() - t0
        if ready != "READY":
            raise RuntimeError(f"serving process did not start: {ready!r}")
        worker.stdin.write("go\n")
        worker.stdin.flush()
        worker.stdin.close()
        worker.stdout.read()
        rc = worker.wait(timeout=run.seconds * 10 + 120)
    finally:
        if worker.poll() is None:
            worker.kill()
            worker.wait()
    if rc != 0:
        raise RuntimeError(f"serving process exited with {rc}")
    with open(out_path) as f:
        served = json.load(f)
    run.setup_s = run.session_start_s + serve_setup_s

    recs = served["records"]
    lat = [r["latency_ms"] for r in recs]
    rm3 = [r["latency_ms"] for r in recs if r["kind"] == "rm3"]
    errors = [r["error"] for r in recs if r["error"]]
    # every query holds a term the pages contain, so an empty top-k is
    # wrong, and a stream of them would time no decode or kernel work
    empty = [i for i, r in enumerate(recs) if not r["error"] and r["hits"] == 0]
    run.attempted += len(recs)
    run.failed += len(errors) + len(empty)
    run.check("serve.no_errors", not errors, errors[:3])
    run.check("serve.every_query_hits", not empty, {"empty": len(empty), "first": empty[:5]})
    run.report["serve_empty_share"] = len(empty) / len(recs)
    run.e2e["p50_ms"] = statistics.median(lat)
    t = tail(lat)
    run.report["serve_p50_ms"] = run.e2e["p50_ms"]
    run.report["serve_tail"] = {"percentile": t[0], "ms": t[1], "samples": len(lat)} if t else None
    run.report["serve_rm3_p50_ms"] = statistics.median(rm3) if rm3 else None
    run.report["serve_queries"] = {"bm25": len(lat) - len(rm3), "rm3": len(rm3)}
    late = [r["late_ms"] for r in recs if r["late_ms"] is not None]
    run.layer["serve.gen_late_ms"] = percentile(late, 99) if late else 0.0
    run.layer["serve.tail_ms"] = t[1] if t else 0.0
    run.layer["serve.rm3_p50_ms"] = run.report["serve_rm3_p50_ms"] or 0.0
    run.layer["scoring.local.bm25.calls"] = len(lat) - len(rm3)
    run.layer["scoring.local.rm3.calls"] = len(rm3)
    c = served["counters"]
    if run.trace:
        run.layer["scoring.local.reads"] = c["reads"]
        run.layer["index.codec.decode_calls"] = c["decode_calls"]
        run.layer["index.codec.decode_s"] = c["decode_s"]
        run.layer["scoring.wand.kernel_calls"] = c["kernel_calls"]
        run.layer["scoring.wand.kernel_calls_per_query"] = c["kernel_calls"] / len(recs)
        run.layer["scoring.wand.kernel_s"] = c["kernel_total_s"] - c["decode_in_kernel_s"]
        run.layer["scoring.local.read_s"] = c["query_s"] - c["kernel_total_s"] - (
            c["decode_s"] - c["decode_in_kernel_s"])
    run.rss_mb = spark_rss + served["vm_hwm_mb"]

    pages = pd.read_parquet(inp.paths["pages"])
    oidx = oracle.build_index([str(d) for d in pages["doc_id"]], list(pages["text"]))
    queries = pd.read_parquet(inp.paths["queries"]).set_index("qno")
    mismatches = []
    for qno, got in served["checked"].items():
        q = queries.loc[int(qno)]
        terms = tokenize_py(q["text"])
        if q["kind"] == "rm3":
            w = oracle.rm3_expand(oidx, terms, fb_docs=10, fb_terms=20, orig_weight=0.5)
            want = oracle.bm25_topk(oidx, sorted(w), k=SERVE_K + 20, weights=w)
        else:
            want = oracle.bm25_topk(oidx, terms, k=SERVE_K + 20)
        why = ranked_match([tuple(x) for x in got], want, SERVE_K, 1e-9)
        if why:
            mismatches.append(f"query {qno} ({q['kind']}): {why}")
    run.failed += len(mismatches)
    run.check("serve.oracle_rank_identity", not mismatches,
              {"checked": len(served["checked"]), "mismatches": mismatches[:3]})


# ----------------------------------------------------------------------------
# seqexp-batch
# ----------------------------------------------------------------------------


def run_seqexp(run) -> None:
    from pyspark.sql import functions as F

    from sequential_query_expansion_spark import oracle
    from sequential_query_expansion_spark.evalmetrics import evaluate
    from sequential_query_expansion_spark.expansion import concept_graph
    from sequential_query_expansion_spark.index.build import build_index_from_docs
    from sequential_query_expansion_spark.scoring.bm25 import query_term_table
    from sequential_query_expansion_spark.sources import trec

    import pandas as pd

    inp = gen.seqexp(run.seed, run.root.data, SEQEXP_PAGES, BATCH_TOPICS, HARD_SHARE)
    run.inputs(inp)
    run.start_spark()
    spark = run.spark
    docs = spark.read.parquet(inp.paths["pages"]).select("doc_id", "text")
    graph = spark.read.parquet(inp.paths["graph"])
    qrels = spark.read.parquet(inp.paths["qrels"])
    topics = pd.read_parquet(inp.paths["topics"])

    builds, idx = [], None
    for _ in range(SETUP_REPEATS):
        if idx is not None:
            for df in (idx.doc_terms, idx.postings_flat, idx.vocab):
                df.unpersist()
        with run.tracer.span("index.build") as sp:
            idx = build_index_from_docs(docs)
            idx.postings_flat.count()
            idx.vocab.count()
        builds.append(sp.end - sp.start)
    run.setup_s = run.session_start_s + statistics.median(builds)
    run.report["index_build_s"] = builds

    # the expansion table is captured (not re-computed) so the check can
    # rebuild the final query weights; traced runs also time it
    captured = []
    seq_orig = concept_graph.sequential_expand

    def capture(*a, **kw):
        out = seq_orig(*a, **kw)
        captured.append(out)
        return out

    concept_graph.sequential_expand = capture
    if run.trace:
        run.tracer.wrap(concept_graph, "sequential_expand", "expansion.concept_graph")
        run.tracer.wrap(concept_graph, "concept_features", "expansion.concept_graph.features")

    # one cold batch: a run's budget allows no second one (see METRICS.md)
    run.cached_before()
    run.attempted += 1
    run_dir = run.root.sub("run")
    try:
        with run.tracer.span("batch") as batch_sp:
            qt = query_term_table(spark.createDataFrame(topics[["qid", "text"]]))
            with run.tracer.span("scoring.bm25"):
                res = concept_graph.expanded_topk(idx, qt, graph, k=RUN_K).persist()
                res.count()
            with run.tracer.span("sources.trec"):
                trec.write_trec_run(res, run_dir)
            with run.tracer.span("evalmetrics"):
                ranked = trec.read_trec_run(spark, run_dir).select(
                    "qid", F.col("docno").cast("long").alias("doc_id"), "rank", "score")
                ev = evaluate(ranked, qrels).filter(F.col("metric") == "map").collect()
        res.unpersist()
    finally:
        run.tracer.unwrap()
        concept_graph.sequential_expand = seq_orig
    run.cached_after()
    batch_s = batch_sp.end - batch_sp.start
    run.e2e["throughput_per_s"] = len(topics) / batch_s
    run.e2e["p50_ms"] = batch_s * 1000.0
    run.report["topics_per_s"] = run.e2e["throughput_per_s"]
    run.report["batch_s"] = batch_s
    run.rss_mb = _spark_rss(run)

    pages = pd.read_parquet(inp.paths["pages"])
    oidx = oracle.build_index([str(d) for d in pages["doc_id"]], list(pages["text"]))
    rel = pd.read_parquet(inp.paths["qrels"])
    rel_sets = {q: set(g.loc[g["rel"] > 0, "doc_id"]) for q, g in rel.groupby("qid")}
    got_runs = read_trec_run(run_dir)
    mixed = mixed_weights([tuple(r) for r in captured[-1].collect()])
    ev_map = {r["qid"]: r["value"] for r in ev}
    bad, aps = [], []
    for qid in topics["qid"]:
        w = mixed.get(qid, {})
        want = oracle.bm25_topk(oidx, sorted(w), k=RUN_K + 50, weights=w)
        got = got_runs.get(qid, [])
        why = ranked_match(got, want, RUN_K, 2e-6)
        ap = oracle.average_precision([d for d, _ in got], rel_sets.get(qid, set()))
        if why is None and abs(ap - ev_map.get(qid, -1.0)) > 1e-9:
            why = f"AP {ap} != evaluate's {ev_map.get(qid)}"
        if why:
            bad.append(f"{qid}: {why}")
        aps.append(ap)
    if bad:
        run.failed += 1
    run.check("seqexp.oracle_rank_identity_and_map", not bad,
              {"topics": bad[:3], "n_bad": len(bad)})
    run.report["map"] = statistics.fmean(aps)
    run.layer["seqexp.map"] = run.report["map"]
    if run.trace:
        run_pipeline_pass(run)


# ----------------------------------------------------------------------------
# pipeline
# ----------------------------------------------------------------------------


def _pipeline_job(checkout: str):
    spec = importlib.util.spec_from_file_location(
        "pipeline_job", os.path.join(checkout, "jobs", "pipeline_job.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def run_pipeline_pass(run) -> None:
    """``jobs/pipeline_job.main`` once, in the traced seqexp-batch run,
    after every end-to-end value is taken: it keeps the
    ``jobs.pipeline_job.*`` layer rows measured without a workload (and
    its cold JVM) of its own."""
    from sequential_query_expansion_spark.functions.text import tokenize_py

    import pandas as pd

    inp = gen.pipeline(run.seed, run.root.data, PIPELINE_PAGES, BENCH_ITEMS)
    run.inputs(inp, "pipeline.")
    pj = _pipeline_job(run.checkout)
    rates = ",".join(f"{k}={v}" for k, v in gen.RATES.items())

    cached = sparkrun.persistent_rdds(run.spark)
    out_dir = run.root.sub("train")
    argv = sys.argv
    sys.argv = ["pipeline_job.py", "--input", inp.paths["pages"],
                "--output", out_dir, "--url-col", "url",
                "--bench", inp.paths["bench"], "--rates", rates,
                "--capacity", str(CAPACITY)]
    run.attempted += 1
    try:
        with run.tracer.span("jobs.pipeline_job") as sp:
            rc = pj.main()
    finally:
        sys.argv = argv
    if rc != 0:
        raise RuntimeError(f"pipeline_job.main returned {rc}")
    run.report["pipeline_cached_rdds_leaked"] = sparkrun.persistent_rdds(run.spark) - cached
    wall = sp.end - sp.start
    run.report["pipeline_docs_per_s"] = PIPELINE_PAGES / wall
    run.report["pipeline_s"] = wall

    out = pd.read_parquet(out_dir)
    bench = list(pd.read_parquet(inp.paths["bench"])["text"])
    bad = pipeline_invariants(out, CAPACITY, inp.facts["pii"], bench,
                              inp.facts["bench_docs"], tokenize_py,
                              DECON_N, DECON_THRESHOLD)
    if bad:
        run.failed += 1
    run.check("pipeline.invariants", not bad, bad[:3])
    run.report["pipeline_output"] = {
        "docs": len(out), "bins": int(out["bin_id"].nunique()),
        "tokens": int(out["n_tokens"].sum()),
    }


WORKLOADS = {
    "publish-serve": run_publish_serve,
    "seqexp-batch": run_seqexp,
}
