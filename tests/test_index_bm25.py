"""End-to-end slice: index build invariants + BM25 top-k rank-identity
against the pure-Python oracle (SURVEY §5.2-5.3; north_rule rank-identity).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sequential_query_expansion_spark.index.build import (
    build_index,
    build_index_from_docs,
)
from sequential_query_expansion_spark.oracle import bm25_topk
from sequential_query_expansion_spark.scoring.bm25 import (
    query_term_table,
    score_topk,
)
from sequential_query_expansion_spark.functions.text import tokenize_py

K = 50


def test_docmap_is_url_rank(index_tables, tiny_corpus):
    rows = index_tables.docmap.orderBy("doc_id").collect()
    urls_sorted = sorted(tiny_corpus.pages.url.tolist())
    assert [r["url"] for r in rows] == urls_sorted
    assert [r["doc_id"] for r in rows] == list(range(len(urls_sorted)))


def test_vocab_matches_oracle(index_tables, oracle_index):
    got = {
        r["term"]: (r["df"], r["cf"])
        for r in index_tables.vocab.collect()
    }
    assert got == oracle_index.vocab


def test_doc_len_matches_oracle(index_tables, oracle_index):
    got = {r["doc_id"]: r["dl"] for r in index_tables.doc_len.collect()}
    assert got == oracle_index.doc_len


def test_index_invariants(index_tables):
    """validate()-style checks (occuranceCount.cpp:276-308):
    sum(df) == #(term,doc) pairs; per-doc sum(tf) == doc_len."""
    n_pairs = index_tables.postings_flat.count()
    sum_df = index_tables.vocab.agg(F.sum("df")).collect()[0][0]
    assert sum_df == n_pairs

    per_doc = (
        index_tables.postings_flat.groupBy("doc_id")
        .agg(F.sum("tf").alias("s"))
        .join(index_tables.doc_len, "doc_id")
        .filter(F.col("s") != F.col("dl"))
        .count()
    )
    assert per_doc == 0


def test_avgdl_and_ndocs(index_tables, oracle_index):
    assert index_tables.n_docs == oracle_index.n_docs
    assert index_tables.avgdl == pytest.approx(oracle_index.avgdl, abs=1e-9)


def test_null_text_is_a_zero_length_doc(spark):
    # n_docs counts the NULL-text doc, so avgdl must count it too
    docs = spark.createDataFrame(
        [(1, None), (2, "a b c d"), (3, "")], "doc_id long, text string"
    )
    idx = build_index_from_docs(docs)
    assert idx.n_docs == 3
    assert idx.avgdl == pytest.approx(4 / 3)
    assert sorted(tuple(r) for r in idx.doc_len.collect()) == [
        (1, 0), (2, 4), (3, 0)
    ]
    idx.release()


@pytest.mark.parametrize(
    "build, ddl",
    [
        (build_index, "url string, text string"),
        (build_index_from_docs, "doc_id long, text string"),
    ],
    ids=["build_index", "build_index_from_docs"],
)
def test_empty_input_is_refused(spark, build, ddl):
    rdds = spark.sparkContext._jsc.getPersistentRDDs
    before = rdds().size()
    with pytest.raises(ValueError, match="the input table has no documents"):
        build(spark.createDataFrame([], ddl))
    assert rdds().size() == before  # the refused build released its caches


def _spark_run(spark, index_tables, queries_pdf, k=K):
    qdf = spark.createDataFrame(queries_pdf)
    res = score_topk(index_tables, query_term_table(qdf), k=k)
    out = {}
    for r in res.collect():
        out.setdefault(r["qid"], []).append((r["rank"], r["doc_id"], r["score"]))
    for v in out.values():
        v.sort()
    return out


def test_bm25_topk_rank_identical(spark, index_tables, oracle_index, tiny_corpus):
    got = _spark_run(spark, index_tables, tiny_corpus.queries)
    for _, qrow in tiny_corpus.queries.iterrows():
        qid, text = qrow["qid"], qrow["text"]
        expected = bm25_topk(oracle_index, tokenize_py(text), k=K)
        spark_ranked = got.get(qid, [])
        assert len(spark_ranked) == len(expected), qid
        for (rank, doc_id, score), (e_doc, e_score) in zip(spark_ranked, expected):
            assert doc_id == e_doc, f"{qid} rank {rank}: {doc_id} != {e_doc}"
            assert score == pytest.approx(e_score, abs=1e-9)


def test_oov_query_returns_empty(spark, index_tables):
    qdf = spark.createDataFrame([("qx", "zzznothere qqqmissing")], "qid string, text string")
    res = score_topk(index_tables, query_term_table(qdf), k=10)
    assert res.count() == 0


def test_dirichlet_topk_rank_identical(spark, index_tables, oracle_index, tiny_corpus):
    """Dirichlet query-likelihood (scoring/lm.py, the reference's
    method:dir rule) is rank-identical to the pure-Python oracle —
    duplicate query terms accumulate weight, OOV terms only affect the
    doc-length prior through W_q exactly like both implementations."""
    from collections import Counter

    from sequential_query_expansion_spark.oracle import (
        dirichlet_topk as oracle_dirichlet,
    )
    from sequential_query_expansion_spark.scoring.lm import dirichlet_topk

    qt = query_term_table(spark.createDataFrame(tiny_corpus.queries))
    got_rows = (
        dirichlet_topk(index_tables, qt, k=K, mu=1600.0, rank_round=9)
        .collect()
    )
    got = {}
    for r in got_rows:
        got.setdefault(r["qid"], []).append((r["rank"], r["doc_id"], r["score"]))
    for qid in got:
        got[qid].sort()
    for _, qrow in tiny_corpus.queries.iterrows():
        qid, text = qrow["qid"], qrow["text"]
        toks = tokenize_py(text)
        weights = {t: float(c) for t, c in Counter(toks).items()}
        expected = oracle_dirichlet(
            oracle_index, sorted(set(toks)), k=K, mu=1600.0, weights=weights
        )
        spark_ranked = got.get(qid, [])
        assert len(spark_ranked) == len(expected), qid
        for (rank, doc_id, score), (e_doc, e_score) in zip(spark_ranked, expected):
            assert doc_id == e_doc, f"{qid} rank {rank}: {doc_id} != {e_doc}"
            assert score == pytest.approx(e_score, abs=1e-9)


def test_two_stage_topk_rank_identical(spark, index_tables, oracle_index, tiny_corpus):
    """method:two smoothing (the reference's CDS14 rule) rank-identical
    to the pure-Python oracle, including absent-term (tf=0)
    contributions on candidate docs."""
    from collections import Counter

    from sequential_query_expansion_spark.oracle import (
        two_stage_topk as oracle_two,
    )
    from sequential_query_expansion_spark.scoring.lm import two_stage_topk

    qt = query_term_table(spark.createDataFrame(tiny_corpus.queries))
    got_rows = two_stage_topk(
        index_tables, qt, k=K, mu=1600.0, lam=0.4, rank_round=9
    ).collect()
    got = {}
    for r in got_rows:
        got.setdefault(r["qid"], []).append((r["rank"], r["doc_id"], r["score"]))
    for qid in got:
        got[qid].sort()
    for _, qrow in tiny_corpus.queries.iterrows():
        qid, text = qrow["qid"], qrow["text"]
        toks = tokenize_py(text)
        weights = {t: float(c) for t, c in Counter(toks).items()}
        expected = oracle_two(
            oracle_index, sorted(set(toks)), k=K, mu=1600.0, lam=0.4,
            weights=weights,
        )
        spark_ranked = got.get(qid, [])
        assert len(spark_ranked) == len(expected), qid
        for (rank, doc_id, score), (e_doc, e_score) in zip(spark_ranked, expected):
            assert doc_id == e_doc, f"{qid} rank {rank}: {doc_id} != {e_doc}"
            assert score == pytest.approx(e_score, abs=1e-9)
