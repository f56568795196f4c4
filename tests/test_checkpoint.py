"""Resumable build: kill after partition p, restart, identical index +
lineage rows (SURVEY §5 test item 4)."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from sequential_query_expansion_spark.index import checkpoint as cp


@pytest.fixture(scope="module")
def docs_df(spark, tiny_corpus):
    pages = tiny_corpus.pages.sort_values("url").reset_index(drop=True)
    pdf = pages[["text"]].copy()
    pdf["doc_id"] = range(len(pdf))
    return spark.createDataFrame(pdf[["doc_id", "text"]]).repartition(4).persist()


def _postings_signature(spark, out_dir):
    df = spark.read.parquet(os.path.join(out_dir, "postings"))
    return (
        df.select(
            "term",
            "df",
            "cf",
            F.round("max_score", 9).alias("ms"),
            F.size("blocks").alias("nb"),
        )
        .orderBy("term")
        .collect()
    )


def test_build_resume_identical(spark, docs_df, tmp_path_factory):
    out1 = str(tmp_path_factory.mktemp("idx_full"))
    out2 = str(tmp_path_factory.mktemp("idx_resume") / "idx")

    idx1 = cp.build_index_checkpointed(spark, docs_df, out1, num_buckets=16)
    sig_full = _postings_signature(spark, out1)

    # a copy of the finished build, then simulate a crash that lost 5
    # buckets mid-merge
    shutil.copytree(out1, out2)
    lost = [1, 3, 7, 8, 15]
    cp.invalidate_buckets(out2, lost)
    man = cp._load_manifest(out2)
    assert set(man["buckets_done"]).isdisjoint(lost)

    # untouched buckets must not be rewritten on resume
    kept_dir = os.path.join(out2, "postings", "bucket=0")
    mtime_before = os.path.getmtime(kept_dir) if os.path.isdir(kept_dir) else None

    idx2 = cp.build_index_checkpointed(spark, docs_df, out2, num_buckets=16)
    sig_resumed = _postings_signature(spark, out2)

    assert sig_full == sig_resumed
    assert idx1.n_docs == idx2.n_docs
    if mtime_before is not None:
        assert os.path.getmtime(kept_dir) == mtime_before

    man = cp._load_manifest(out2)
    assert "blocked" in man["stages"]
    assert set(man["buckets_done"]) == set(range(16))


def _persisted_rdds(spark):
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.fixture(scope="module")
def built_index(spark, docs_df, tmp_path_factory):
    """A checkpointed build (with the positional stage) loaded back from
    disk, the number of persisted RDDs the build left behind, and its
    directory."""
    docs_df.count()  # the fixture's own cache counts as already there
    before = _persisted_rdds(spark)
    out = str(tmp_path_factory.mktemp("idx_load"))
    cp.build_index_checkpointed(spark, docs_df, out, num_buckets=8,
                                with_positions=True)
    return cp.load_index(spark, out), _persisted_rdds(spark) - before, out


def test_lineage_metrics_written(spark, built_index):
    m = spark.read.parquet(os.path.join(built_index[2], "build_metrics"))
    stages = {r["stage"] for r in m.select("stage").distinct().collect()}
    assert {"flat", "blocked"} <= stages
    assert m.filter(F.col("rows") <= 0).count() == 0


def test_loaded_index_queries(spark, built_index, tiny_corpus):
    from sequential_query_expansion_spark.scoring.bm25 import (
        query_term_table, score_topk,
    )

    qdf = spark.createDataFrame(tiny_corpus.queries)
    res = score_topk(built_index[0], query_term_table(qdf), k=5)
    assert res.count() > 0


@pytest.mark.parametrize(
    "case", ["build_index_checkpointed", "two_stage_topk", "phrase_weighted_topk"]
)
def test_leaves_no_persisted_rdds(spark, built_index, tiny_corpus, case):
    from sequential_query_expansion_spark.scoring.bm25 import query_term_table
    from sequential_query_expansion_spark.scoring.lm import two_stage_topk
    from sequential_query_expansion_spark.scoring.phrase import (
        concept_query_topk,
    )

    idx, build_leaked, _ = built_index
    if case == "build_index_checkpointed":
        assert build_leaked == 0
        return
    before = _persisted_rdds(spark)
    if case == "two_stage_topk":
        qt = query_term_table(spark.createDataFrame(tiny_corpus.queries))
        assert two_stage_topk(idx, qt, k=5).count() > 0
    else:
        # goes through phrase_weighted_topk with #od/#uw phrase clauses
        concepts = {"c1": "term00000 term00001", "c2": "term00002 term00000"}
        res = concept_query_topk(spark, idx, idx.positional, concepts, k=5)
        assert res.count() > 0
    assert _persisted_rdds(spark) == before
