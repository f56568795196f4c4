"""End-to-end test of jobs/pipeline_job.py — the full training-data
pipeline (line dedup -> PII redact -> repetition gate -> decontam ->
mixture sample -> pack) over the sf0.001 fixture, in-process against
the shared session."""

from __future__ import annotations

import importlib.util
import os
import sys

import numpy as np
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def _load_job():
    spec = importlib.util.spec_from_file_location(
        "pipeline_job", os.path.join(REPO, "jobs", "pipeline_job.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _persisted_rdds(spark):
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.fixture(scope="module")
def job():
    return _load_job()


def test_pipeline_job_end_to_end(spark, tmp_path, monkeypatch, job):
    docs_path = os.path.join(SF_DIR, "documents.parquet")
    bench_path = str(tmp_path / "bench.parquet")
    out_path = str(tmp_path / "tset")
    # bench items lifted from the corpus: their source docs MUST be
    # decontaminated away
    docs = spark.read.parquet(docs_path)
    bench = (
        docs.where("length(text) >= 120")
        .orderBy("doc_id")
        .limit(3)
        .selectExpr("doc_id AS bench_id", "substr(text, 20, 80) AS text")
    )
    bench.write.parquet(bench_path)
    bench_ids = {r["bench_id"] for r in bench.collect()}

    monkeypatch.setattr(
        sys, "argv",
        ["pipeline_job.py", "--input", docs_path, "--output", out_path,
         "--rates", "src0=0.0,src1=0.5", "--bench", bench_path,
         "--capacity", "256"],
    )
    before = _persisted_rdds(spark)
    assert job.main() == 0
    # every cache the job and its operators make is released
    assert _persisted_rdds(spark) == before

    out = spark.read.parquet(out_path).toPandas().sort_values("doc_id")
    assert len(out) > 0
    # rate-0 source fully dropped; rate-0.5 survivors carry weight 2
    assert not (out["source"] == "src0").any()
    w1 = out[out.source == "src1"]["sample_weight"]
    assert (w1 == 2.0).all()
    # bench source docs decontaminated away
    assert not bench_ids & set(out["doc_id"])
    # gates honored on the FINAL text
    assert (out["n_tokens"] >= 24).all()
    # packing offsets telescope exactly in id order
    starts = out["start_tok"].to_numpy()
    toks = out["n_tokens"].to_numpy()
    assert (starts == np.concatenate([[0], np.cumsum(toks)[:-1]])).all()
    assert (out["bin_id"] == starts // 256).all()
    # the training text is redacted + line-deduped, never empty
    assert (out["text"].str.len() > 0).all()


def test_pipeline_job_rejects_bad_rates(spark, tmp_path, monkeypatch, job):
    for bad in ("src0:0.5", "src0=", "src0=abc"):
        monkeypatch.setattr(
            sys, "argv",
            ["pipeline_job.py", "--input",
             os.path.join(SF_DIR, "documents.parquet"),
             "--output", str(tmp_path / "x"), "--rates", bad],
        )
        with pytest.raises(SystemExit):
            job.main()


def test_pipeline_job_custom_id_col(spark, tmp_path, monkeypatch, job):
    # every stage must thread a non-default id column (url dedup,
    # decontam's fixed doc_id output, packing)
    docs_path = str(tmp_path / "renamed.parquet")
    bench_path = str(tmp_path / "bench.parquet")
    out_path = str(tmp_path / "tset")
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    docs.selectExpr(
        "doc_id AS page_id", "text", "source",
        "concat('https://h.org/', CAST(doc_id % 100 AS STRING)) AS url",
    ).write.parquet(docs_path)
    docs.limit(2).selectExpr(
        "doc_id AS bench_id", "substr(text, 1, 80) AS text"
    ).write.parquet(bench_path)

    monkeypatch.setattr(
        sys, "argv",
        ["pipeline_job.py", "--input", docs_path, "--output", out_path,
         "--id-col", "page_id", "--url-col", "url",
         "--bench", bench_path, "--capacity", "256"],
    )
    assert job.main() == 0
    out = spark.read.parquet(out_path)
    assert "page_id" in out.columns and out.count() > 0
    # url dedup kept one page per canonical (100 distinct urls)
    assert out.count() <= 100
