"""End-to-end test of jobs/query_job.py: an RM3 run over a checkpointed
index, in-process against the shared session."""

from __future__ import annotations

import importlib.util
import os
import re
import sys
from pathlib import Path

from sequential_query_expansion_spark.index import checkpoint as cp

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_job():
    spec = importlib.util.spec_from_file_location(
        "query_job", os.path.join(REPO, "jobs", "query_job.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_query_job_rm3_count_matches_run_file(
    spark, tiny_corpus, tmp_path, monkeypatch, capsys
):
    pages = tiny_corpus.pages.sort_values("url").reset_index(drop=True)
    pdf = pages[["text"]].head(80).copy()
    pdf["doc_id"] = range(len(pdf))
    index_dir = str(tmp_path / "idx")
    cp.build_index_checkpointed(
        spark, spark.createDataFrame(pdf[["doc_id", "text"]]), index_dir,
        num_buckets=4,
    )
    topics = tmp_path / "topics.txt"
    topics.write_text("".join(
        f"{r.qid}:{r.text}\n" for r in tiny_corpus.queries.head(3).itertuples()
    ))
    out = str(tmp_path / "run")

    monkeypatch.setattr(
        sys, "argv",
        ["query_job.py", "--index", index_dir, "--topics", str(topics),
         "--output", out, "--k", "5", "--rm3"],
    )
    assert _load_job().main() == 0

    printed = re.search(r"wrote run \((\d+) rows\)", capsys.readouterr().out)
    lines = [
        line
        for part in sorted(Path(out).glob("part-*"))
        for line in part.read_text().splitlines()
    ]
    assert printed is not None
    assert 0 < int(printed.group(1)) == len(lines)
    assert all(len(line.split()) == 6 for line in lines)
