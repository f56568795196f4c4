"""Incremental streaming index build + training harness."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from sequential_query_expansion_spark.streaming import incremental as inc


def test_incremental_build_matches_batch(spark, tiny_corpus, tmp_path):
    pages = tiny_corpus.pages.sort_values("url").reset_index(drop=True)
    pdf = pages[["text"]].copy()
    pdf["doc_id"] = range(len(pdf))
    half = len(pdf) // 2

    in_dir = str(tmp_path / "incoming")
    out_dir = str(tmp_path / "idx")
    os.makedirs(in_dir)

    full = spark.createDataFrame(pdf[["doc_id", "text"]])

    # drop 1 → stream → drop 2 → stream again
    spark.createDataFrame(pdf.iloc[:half][["doc_id", "text"]]).write.parquet(
        os.path.join(in_dir, "drop1")
    )
    q = inc.start_incremental_build(spark, in_dir + "/*", out_dir)
    q.awaitTermination(120)
    spark.createDataFrame(pdf.iloc[half:][["doc_id", "text"]]).write.parquet(
        os.path.join(in_dir, "drop2")
    )
    q = inc.start_incremental_build(spark, in_dir + "/*", out_dir)
    q.awaitTermination(120)

    idx = inc.compact_segments(spark, out_dir, build_blocked=False)
    assert idx.n_docs == len(pdf)

    # flat postings must equal a from-scratch batch build
    from sequential_query_expansion_spark.index.build import build_index_from_docs

    batch_idx = build_index_from_docs(full)
    a = idx.postings_flat.groupBy("term").agg(
        F.count("*").alias("df_a"), F.sum("tf").alias("cf_a")
    )
    b = batch_idx.vocab.select(
        "term", F.col("df").alias("df_b"), F.col("cf").alias("cf_b")
    )
    diff = a.join(b, "term", "full_outer").filter(
        (F.col("df_a") != F.col("df_b"))
        | (F.col("cf_a") != F.col("cf_b"))
        | F.col("df_a").isNull()
        | F.col("df_b").isNull()
    )
    assert diff.count() == 0


def test_coordinate_ascent_improves_or_holds(spark, index_tables, tiny_corpus):
    from sequential_query_expansion_spark.expansion import concept_graph as cg
    from sequential_query_expansion_spark.expansion import train
    from sequential_query_expansion_spark.scoring.bm25 import query_term_table

    qdf = spark.createDataFrame(tiny_corpus.queries.head(4))
    qt = query_term_table(qdf).persist()
    graph = spark.createDataFrame(tiny_corpus.graph_edges)
    feats = cg.concept_features(index_tables, qt, graph, top_t=5).persist()

    url_to_doc = {r["url"]: r["doc_id"] for r in index_tables.docmap.collect()}
    qrels_pdf = tiny_corpus.qrels.assign(
        doc_id=lambda d: d.url.map(url_to_doc)
    )[["qid", "doc_id", "rel"]]
    qrels = spark.createDataFrame(qrels_pdf).persist()

    base = train._map_for_weights(
        index_tables, feats, qt, qrels, {f: 1.0 for f in cg.FEATURES},
        n_terms=5, k=50,
    )
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    w, best, hist = train.coordinate_ascent(
        index_tables, feats, qt, qrels,
        step=0.5, step_span=0.5, max_rounds=1, n_terms=5, k=50,
    )
    assert best >= base - 1e-12
    assert len(hist) > 1
    assert set(w) == set(cg.FEATURES)
    # a search persists only features the caller left unpersisted, and
    # releases what it persisted
    _, rs_best, _ = train.random_search(
        index_tables, feats.filter(F.col("numCanDocs") >= 0), qt, qrels,
        iterations=0, n_terms=5, k=50,
    )
    assert rs_best == pytest.approx(base)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted
