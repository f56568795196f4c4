"""End-to-end test of jobs/maintain_index_job.py: tombstone deletes on a
checkpointed index, in-process against the shared session, which the
job must leave running."""

from __future__ import annotations

import importlib.util
import os
import sys

from sequential_query_expansion_spark.index import checkpoint as cp
from sequential_query_expansion_spark.index import maintenance as mt

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_job():
    spec = importlib.util.spec_from_file_location(
        "maintain_index_job",
        os.path.join(REPO, "jobs", "maintain_index_job.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_delete_ids_tombstones_and_keeps_session(
    spark, tiny_corpus, tmp_path, monkeypatch
):
    pages = tiny_corpus.pages.sort_values("url").reset_index(drop=True)
    pdf = pages[["text"]].head(80).copy()
    pdf["doc_id"] = range(len(pdf))
    index_dir = str(tmp_path / "idx")
    cp.build_index_checkpointed(
        spark, spark.createDataFrame(pdf[["doc_id", "text"]]), index_dir,
        num_buckets=4,
    )

    monkeypatch.setattr(
        sys, "argv",
        ["maintain_index_job.py", "--index", index_dir,
         "--delete-ids", "3,17,42"],
    )
    assert _load_job().main() == 0

    tomb = mt.tombstones(spark, index_dir)
    assert tomb is not None
    assert {r["doc_id"] for r in tomb.collect()} == {3, 17, 42}
    # the job ran in the caller's session and left it usable
    assert spark.range(5).count() == 5
