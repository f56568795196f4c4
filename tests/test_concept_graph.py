"""Concept-graph sequential expansion: candidate gating, feature
correctness (brute-force recomputation for one query), layering, and the
final weighted run."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from sequential_query_expansion_spark.expansion import concept_graph as cg
from sequential_query_expansion_spark.scoring.bm25 import (
    query_term_table,
    score_topk,
)

TOP_T = 10


@pytest.fixture(scope="module")
def queries_df(spark, tiny_corpus):
    return spark.createDataFrame(tiny_corpus.queries)


@pytest.fixture(scope="module")
def graph_df(spark, tiny_corpus):
    return spark.createDataFrame(tiny_corpus.graph_edges)


@pytest.fixture(scope="module")
def qt(queries_df):
    return query_term_table(queries_df).persist()


@pytest.fixture(scope="module")
def features(spark, index_tables, qt, graph_df):
    return cg.concept_features(
        index_tables, qt, graph_df, top_t=TOP_T, count_lim=0
    ).persist()


def test_candidates_exclude_orig_terms(qt, graph_df, features, tiny_corpus):
    orig = {
        (row.qid, t)
        for _, row in tiny_corpus.queries.iterrows()
        for t in row.text.split()
    }
    got = {(r["qid"], r["cand"]) for r in features.select("qid", "cand").collect()}
    assert got, "no candidates generated"
    assert got.isdisjoint(orig)


def test_features_finite_nonnegative(features):
    pdf = features.toPandas()
    for f in cg.FEATURES:
        assert np.isfinite(pdf[f]).all(), f
        assert (pdf[f] >= 0).all(), f


def test_feedback_features_brute_force(spark, index_tables, qt, features,
                                       tiny_corpus, oracle_index):
    """Recompute expTDocScore / numCanDocs / conIdf for one query by hand
    from the oracle index and the engine's own top-T run."""
    qid = tiny_corpus.queries.qid.iloc[0]
    top = (
        score_topk(index_tables, qt.filter(F.col("qid") == qid), k=TOP_T)
        .select("doc_id", "score")
        .collect()
    )
    top_scores = {r["doc_id"]: r["score"] for r in top}
    pdf = features.filter(F.col("qid") == qid).toPandas()
    n = index_tables.n_docs
    for _, row in pdf.head(10).iterrows():
        plist = oracle_index.postings.get(row["cand"], {})
        in_top = [d for d in top_scores if d in plist]
        assert row["numCanDocs"] == len(in_top), row["cand"]
        assert row["expTDocScore"] == pytest.approx(
            sum(top_scores[d] for d in in_top), abs=1e-6
        ), row["cand"]
        if plist:
            assert row["conIdf"] == pytest.approx(
                abs(math.log(n / len(plist))), abs=1e-9
            ), row["cand"]


def test_normalize_combine_unit_scale(features):
    weighted = cg.normalize_and_combine(features)
    pdf = weighted.toPandas()
    assert (pdf.weight >= 0).all()
    # sum-normalized features dotted with unit weights: per-qid total ==
    # sum of weights over features that had any nonzero mass
    tot = pdf.groupby("qid").weight.sum()
    assert (tot <= len(cg.FEATURES) + 1e-6).all()


def test_select_topn_and_threshold(features):
    weighted = cg.normalize_and_combine(features).persist()
    sel = cg.select_expansion_terms(weighted, n_terms=5).toPandas()
    assert (sel.groupby("qid").size() <= 5).all()
    th = cg.select_expansion_terms(weighted, threshold=0.5).toPandas()
    assert (th.weight >= 0.5).all()


def test_sequential_layers(spark, index_tables, qt, graph_df):
    exp = cg.sequential_expand(
        index_tables, qt, graph_df, layers=2,
        per_layer_terms=(5, 3), layer_weights=(0.3, 0.1), top_t=TOP_T,
    ).persist()
    pdf = exp.toPandas()
    assert set(pdf.layer.unique()) <= {0, 1, 2}
    assert (pdf[pdf.layer == 0].groupby("qid").size() >= 1).all()
    # a term never appears in two layers for the same qid
    assert not pdf.duplicated(["qid", "term"]).any()
    l1 = pdf[pdf.layer == 1]
    assert (l1.groupby("qid").size() <= 5).all()


def test_expansion_jobs_keep_callers_job_group(spark, index_tables, qt,
                                               graph_df):
    """Every job a layered expansion runs carries the caller's job group:
    the expansion runs its jobs on the caller's thread, so the group (a
    thread-local property) reaches each of them."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("concept-graph-test", "layered expansion")
    try:
        cg.sequential_expand(
            index_tables, qt, graph_df, layers=2,
            per_layer_terms=(5, 3), layer_weights=(0.3, 0.1), top_t=TOP_T,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    outside = set(tracker.getJobIdsForGroup(None)) - ungrouped
    assert not outside, sorted(outside)
    assert tracker.getJobIdsForGroup("concept-graph-test")


def test_empty_graph_yields_no_candidates(spark, index_tables, qt):
    """No edges -> empty feature table (schema intact), and the layered
    expansion still returns the layer-0 query terms untouched."""
    empty = spark.createDataFrame([], "src string, dst string")
    feats = cg.concept_features(index_tables, qt, empty, top_t=TOP_T)
    assert feats.count() == 0
    assert feats.columns == ["qid", "cand"] + cg.FEATURES
    exp = cg.sequential_expand(
        index_tables, qt, empty, layers=2,
        per_layer_terms=(5, 3), layer_weights=(0.3, 0.1), top_t=TOP_T,
    ).toPandas()
    assert set(exp.layer.unique()) == {0}
    assert len(exp) == qt.count()


def test_expanded_run_executes(spark, index_tables, qt, graph_df):
    res = cg.expanded_topk(
        index_tables, qt, graph_df, k=10,
        layers=1, per_layer_terms=(5,), layer_weights=(0.3,),
    )
    pdf = res.toPandas()
    assert len(pdf) > 0
    assert (pdf.groupby("qid")["rank"].max() <= 10).all()


def test_driver_tables_are_local_relations(spark, index_tables, qt, graph_df):
    """The tables the loop builds from driver rows are planned as Arrow
    LocalRelations, never as a LogicalRDD whose every consumer runs
    Python tasks to unpickle the rows again."""
    feats = cg.concept_features(index_tables, qt, graph_df, top_t=TOP_T)
    exp = cg.sequential_expand(
        index_tables, qt, graph_df, layers=1,
        per_layer_terms=(5,), layer_weights=(0.3,), top_t=TOP_T,
    )
    for df in (feats, exp):
        # a plan equal to a cached one shows as InMemoryRelation over
        # the physical scan, so both scan names are checked
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "LogicalRDD" not in plan and "ExistingRDD" not in plan, plan
