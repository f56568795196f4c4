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
    "case",
    [
        "build_index_checkpointed", "two_stage_topk", "phrase_weighted_topk",
        "build_index", "minhash_lsh_dedup", "pack_sequences",
        "concept_features", "sequential_expand", "coordinate_ascent",
    ],
)
def test_leaves_no_persisted_rdds(spark, built_index, docs_df, tiny_corpus,
                                  case):
    """Every cache has one owner that releases it: after each public
    function that caches runs to a collect (and its owner, where it
    takes one, is released), no persisted RDD is left."""
    from sequential_query_expansion_spark.expansion import concept_graph as cg
    from sequential_query_expansion_spark.expansion import train
    from sequential_query_expansion_spark.functions.text import tokenize_col
    from sequential_query_expansion_spark.index.build import build_index
    from sequential_query_expansion_spark.operators import (
        dedup, training_prep,
    )
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
    qt = query_term_table(spark.createDataFrame(tiny_corpus.queries))
    graph = spark.createDataFrame(tiny_corpus.graph_edges)
    if case == "two_stage_topk":
        assert two_stage_topk(idx, qt, k=5).count() > 0
    elif case == "phrase_weighted_topk":
        # goes through phrase_weighted_topk with #od/#uw phrase clauses
        concepts = {"c1": "term00000 term00001", "c2": "term00002 term00000"}
        res = concept_query_topk(spark, idx, idx.positional, concepts, k=5)
        assert res.count() > 0
    elif case == "build_index":
        built = build_index(spark.createDataFrame(tiny_corpus.pages))
        assert built.docmap.join(built.postings_flat, "doc_id").count() > 0
        assert built.vocab.count() > 0
        built.release()
    elif case == "minhash_lsh_dedup":
        dedup.minhash_lsh_dedup(docs_df, threshold=0.5).collect()
    elif case == "pack_sequences":
        from sequential_query_expansion_spark.util import Caches

        toks = docs_df.select(
            "doc_id", F.size(tokenize_col(F.col("text"))).alias("n_tokens")
        )
        with Caches() as caches:
            packed = training_prep.pack_sequences(toks, 64, caches=caches)
            assert len(packed.collect()) == docs_df.count()
    elif case == "concept_features":
        assert cg.concept_features(idx, qt, graph, top_t=5).count() > 0
    elif case == "sequential_expand":
        assert cg.sequential_expand(idx, qt, graph, top_t=5).count() > 0
    else:
        # docs_df ids are the url sort order of the pages
        pages = tiny_corpus.pages.sort_values("url").reset_index(drop=True)
        url_to_doc = dict(zip(pages.url, pages.index))
        qrels = spark.createDataFrame(
            tiny_corpus.qrels.assign(doc_id=lambda d: d.url.map(url_to_doc))
            [["qid", "doc_id", "rel"]]
        )
        feats = cg.concept_features(idx, qt, graph, top_t=5)
        _, best, _ = train.coordinate_ascent(
            idx, feats, qt, qrels, max_rounds=0, n_terms=5, k=50
        )
        assert best > 0
    assert _persisted_rdds(spark) == before
