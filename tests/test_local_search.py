"""Serving-tier LocalSearcher: xxh64 parity, rank-identity, validation.

The searcher (scoring/local.py) must read the exact index Spark wrote
(bucket layout from index/checkpoint.py) and reproduce score_topk /
wand_topk rankings bit-for-bit — it shares their kernel, so any drift
here means the client-side bucket hash or the parquet read is wrong.
"""

import os

import pytest
from pyspark.sql import functions as F

from sequential_query_expansion_spark.index.checkpoint import (
    build_index_checkpointed,
)
from sequential_query_expansion_spark.index.xxh64 import (
    spark_xxhash64,
    term_bucket,
    term_bucket_col,
)
from sequential_query_expansion_spark.scoring.bm25 import score_topk
from sequential_query_expansion_spark.scoring.local import LocalSearcher
from sequential_query_expansion_spark.webtext import load_documents

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")

# inputs chosen to cover every XXH64 tail path: empty, <4B, 4-7B, 8-31B,
# exactly 32B, >32B, multi-byte UTF-8
XXH_CASES = [
    "", "a", "abc", "abcd", "abcdefg", "abcdefgh", "abcdefghi",
    "x" * 31, "y" * 32, "z" * 33, "q" * 100,
    "straße", "étude", "日本語テスト", "mixed-ascii-日本語",
]


def test_xxh64_matches_spark(spark):
    df = spark.createDataFrame([(c,) for c in XXH_CASES], "term string")
    rows = df.select(
        "term",
        F.xxhash64("term").alias("h"),
        term_bucket_col(64).alias("b"),
    ).collect()
    for r in rows:
        assert spark_xxhash64(r["term"]) == r["h"], r["term"]
        assert term_bucket(r["term"], 64) == r["b"], r["term"]


@pytest.fixture(scope="module", params=["varint", "pfor"])
def disk_index(request, spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp(f"srvidx_{request.param}"))
    docs = load_documents(spark, SF_DIR).select("doc_id", "text")
    idx = build_index_checkpointed(
        spark, docs, out, codec=request.param
    )
    return out, idx


def test_local_topk_rank_identical_to_spark(spark, disk_index):
    out_dir, idx = disk_index
    searcher = LocalSearcher(out_dir)

    # multi-term weighted queries incl. absent terms and duplicates
    queries = {
        "q1": {"the": 1.0, "of": 0.5},
        "q2": [("scan", 1.0), ("scan", 1.0), ("window", 2.0)],
        "q3": ["join", "nosuchterm_zzz"],
    }
    for qid, q in queries.items():
        if isinstance(q, dict):
            rows = [(qid, t, w) for t, w in q.items()]
        else:
            rows = [
                (qid, t, 1.0) if isinstance(t, str) else (qid, t[0], t[1])
                for t in q
            ]
        qt = spark.createDataFrame(rows, "qid string, term string, weight double")
        expect = [
            (r["doc_id"], round(r["score"], 9))
            for r in score_topk(idx, qt, k=10).orderBy("rank").collect()
        ]
        got = [(d, round(s, 9)) for d, s in searcher.topk(q, k=10)]
        assert got == expect, qid


def test_local_lm_rank_identical_to_spark(spark, disk_index):
    """lm_topk(method=dir/two) must reproduce scoring/lm.py's rankings
    off the on-disk index — same candidates, same smoothing, same
    (score desc, doc_id asc) tie-break."""
    from sequential_query_expansion_spark.scoring.lm import (
        dirichlet_topk,
        two_stage_topk,
    )

    out_dir, idx = disk_index
    s = LocalSearcher(out_dir)
    queries = {
        "q1": {"the": 1.0, "of": 0.5},
        "q2": [("scan", 1.0), ("window", 2.0), ("nosuchterm_zzz", 3.0)],
    }
    for fn, kw in [
        (dirichlet_topk, {"method": "dir", "mu": 1600.0}),
        (two_stage_topk, {"method": "two", "mu": 1600.0, "lam": 0.4}),
    ]:
        for qid, q in queries.items():
            rows = [
                (qid, t, w) for t, w in (
                    q.items() if isinstance(q, dict) else q
                )
            ]
            qt = spark.createDataFrame(
                rows, "qid string, term string, weight double"
            )
            spark_kw = {k: v for k, v in kw.items() if k != "method"}
            expect = [
                (r["doc_id"], round(r["score"], 9))
                for r in fn(idx, qt, k=10, **spark_kw).orderBy("rank").collect()
            ]
            got = [(d, round(sc, 9)) for d, sc in s.lm_topk(q, k=10, **kw)]
            assert got == expect, (kw["method"], qid)


@pytest.fixture(scope="module")
def disk_index_pos(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("srvidx_pos"))
    docs = load_documents(spark, SF_DIR).select("doc_id", "text")
    idx = build_index_checkpointed(spark, docs, out, with_positions=True)
    return out, idx


def test_local_phrase_rank_identical_to_spark(spark, disk_index_pos):
    """concept_topk must reproduce scoring/phrase.concept_query_topk's
    rankings off the stored positional stage — same clause rendering,
    same window kernels, same BM25 pseudo-term scoring."""
    from sequential_query_expansion_spark.scoring.phrase import (
        concept_query_topk,
    )
    from sequential_query_expansion_spark.webtext import positional_index

    out_dir, idx = disk_index_pos
    s = LocalSearcher(out_dir)
    positional = positional_index(spark, SF_DIR)
    concepts = {"c1": "hash join", "c2": "merge", "c3": "group agg sort"}
    expect_df = concept_query_topk(spark, idx, positional, concepts, k=10)
    for qid, phrase in concepts.items():
        expect = [
            (r["doc_id"], round(r["score"], 9))
            for r in expect_df.filter(expect_df.qid == qid)
            .orderBy("rank").collect()
        ]
        got = [(d, round(sc, 9)) for d, sc in s.concept_topk(phrase, k=10)]
        assert got == expect, (qid, got[:3], expect[:3])


@pytest.fixture(scope="module")
def disk_index_dv(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("srvidx_dv"))
    docs = load_documents(spark, SF_DIR).select("doc_id", "text")
    idx = build_index_checkpointed(spark, docs, out, with_doc_vectors=True)
    return out, idx


def test_local_rm3_rank_identical_to_spark(spark, disk_index_dv):
    """rm3_topk must reproduce expansion.rm3.rm3_topk's rankings off the
    stored forward index (with_doc_vectors stage) — same feedback run,
    same RM1 term model, same tie-breaks, for both bm25 and dir PRF."""
    from sequential_query_expansion_spark.expansion.rm3 import rm3_topk

    out_dir, idx = disk_index_dv
    s = LocalSearcher(out_dir)
    queries = {
        "q1": {"hash": 1.0, "join": 1.0},
        "q2": [("scan", 1.0), ("window", 2.0), ("nosuchterm_zzz", 1.0)],
    }
    for method, kw in [("bm25", {}), ("dir", {"mu": 1600.0})]:
        for qid, q in queries.items():
            rows = [
                (qid, t, w)
                for t, w in (q.items() if isinstance(q, dict) else q)
            ]
            qt = spark.createDataFrame(
                rows, "qid string, term string, weight double"
            )
            expect = [
                (r["doc_id"], round(r["score"], 9))
                for r in rm3_topk(
                    idx, qt, k=10, fb_docs=5, fb_terms=10,
                    orig_weight=0.6, method=method, **kw
                ).orderBy("rank").collect()
            ]
            got = [
                (d, round(sc, 9))
                for d, sc in s.rm3_topk(
                    q, k=10, fb_docs=5, fb_terms=10,
                    orig_weight=0.6, method=method, **kw
                )
            ]
            assert got, (method, qid)  # guard: never a vacuous [] == []
            assert got == expect, (method, qid)


def test_rounded_topk_boundary_tie_matches_spark_selection(disk_index):
    """Feedback-doc selection must mimic the Spark scorers' rank on
    round(score, d): when a rounded-tie group straddles the k boundary,
    the SMALLEST doc_ids in the group win, even if their exact scores
    are lower — the over-fetch loop must widen the pool until the tie
    group is fully inside."""
    out_dir, _ = disk_index
    s = LocalSearcher(out_dir)
    # 20 docs, exact scores ascending with doc_id (jitter below the
    # rounding grain), so exact-top-k order is doc_id DESC but every
    # rounded score ties at 1.0 -> rounded selection is doc_id ASC
    docs = [(i, 1.0 + i * 1e-9) for i in range(20)]

    def run(k):
        return sorted(docs, key=lambda ds: (-ds[1], ds[0]))[:k]

    got = s._rounded_topk(run, 5, 6)
    assert [d for d, _ in got] == [0, 1, 2, 3, 4]
    # rank_round=None keeps the exact-score selection
    got_exact = s._rounded_topk(run, 5, None)
    assert [d for d, _ in got_exact] == [19, 18, 17, 16, 15]


def test_local_rm3_rejects_unknown_method(disk_index_dv):
    out_dir, _ = disk_index_dv
    s = LocalSearcher(out_dir)
    with pytest.raises(ValueError, match="unknown RM3 method"):
        s.rm3_topk(["the"], k=5, method="two")


def test_local_rm3_requires_doc_vectors_stage(disk_index):
    out_dir, _ = disk_index
    s = LocalSearcher(out_dir)
    with pytest.raises(ValueError, match="no doc_vectors stage"):
        s.rm3_topk(["the"], k=5)


def test_local_rm3_all_absent_terms(disk_index_dv):
    out_dir, _ = disk_index_dv
    s = LocalSearcher(out_dir)
    assert s.rm3_topk(["nosuchterm_zzz"], k=5) == []


def test_local_indri_query_matches_concept_rendering(disk_index_pos):
    """indri_topk executing the rendered Indri STRING must reproduce
    concept_topk on the underlying phrase — same parse as the Spark
    indri_query_topk path. The strings below are exactly what the
    reference's rendering loop emits for 2- and 3-term concepts."""
    out_dir, _ = disk_index_pos
    s = LocalSearcher(out_dir)
    cases = {
        "hash join": (
            "#weight(0.8 #combine(hash join) "
            "0.1 #od4(hash join) 0.1 #uw9(hash join))"
        ),
        "group agg sort": (
            "#weight(0.8 #combine(group agg sort) "
            "0.1 #combine(#od4(group agg) #od4(agg sort)) "
            "0.1 #uw13(group agg sort))"
        ),
    }
    for phrase, text in cases.items():
        got = s.indri_topk(text, k=10)
        want = s.concept_topk(phrase, k=10)
        assert got, phrase
        assert got == want, phrase


def test_local_indri_query_bare_terms(disk_index):
    """Term-only Indri strings serve without a positional stage."""
    out_dir, _ = disk_index
    s = LocalSearcher(out_dir)
    got = s.indri_topk("#combine(hash join)", k=5)
    want = s.phrase_topk([("hash", 0.5), ("join", 0.5)], [], k=5)
    assert got and got == want


def test_local_phrase_requires_positional_stage(disk_index):
    out_dir, _ = disk_index
    s = LocalSearcher(out_dir)
    with pytest.raises(ValueError, match="no positional stage"):
        s.phrase_topk([], [(["hash", "join"], 4, True, 1.0)], k=5)


def test_local_lm_all_absent_terms(disk_index):
    out_dir, _ = disk_index
    s = LocalSearcher(out_dir)
    assert s.lm_topk(["nosuchterm_zzz"], k=5, method="dir") == []
    assert s.lm_topk(["nosuchterm_zzz"], k=5, method="two") == []


def test_local_query_job_end_to_end(tmp_path, disk_index):
    """The no-Spark run job: topics file in, valid 6-col TREC run out,
    rankings matching the searcher API directly."""
    import subprocess
    import sys

    out_dir, _ = disk_index
    topics = tmp_path / "topics.txt"
    topics.write_text("q1:the scan\nq2:window merge\n")
    run = tmp_path / "run.txt"
    proc = subprocess.run(
        [
            sys.executable, "jobs/local_query_job.py",
            "--index", out_dir, "--topics", str(topics),
            "--output", str(run), "--k", "5", "--method", "dir",
            "--names", "doc_id",
        ],
        capture_output=True, text=True, timeout=300,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = run.read_text().strip().splitlines()
    assert lines and all(len(l.split(" ")) == 6 for l in lines)
    s = LocalSearcher(out_dir)
    expect = s.lm_topk(["the", "scan"], k=5, method="dir")
    got = [
        (int(l.split(" ")[2]), float(l.split(" ")[4]))
        for l in lines if l.startswith("q1 ")
    ]
    assert [d for d, _ in got] == [d for d, _ in expect]
    for (_, a), (_, b) in zip(got, expect):
        assert abs(a - b) < 1e-5


def test_local_topk_all_absent_terms(disk_index):
    out_dir, _ = disk_index
    assert LocalSearcher(out_dir).topk(["nosuchterm_zzz"], k=5) == []


def test_batch_topk_matches_single(disk_index):
    out_dir, _ = disk_index
    s = LocalSearcher(out_dir)
    qs = {"a": ["the"], "b": {"science": 2.0, "the": 1.0}}
    batch = s.batch_topk(qs, k=7)
    for qid, q in qs.items():
        assert batch[qid] == s.topk(q, k=7)


def test_urls_for_roundtrip(spark, disk_index):
    out_dir, idx = disk_index
    s = LocalSearcher(out_dir)
    some = [r["doc_id"] for r in idx.docmap.limit(5).collect()]
    urls = s.urls_for(some)
    expect = {
        r["doc_id"]: r["url"]
        for r in idx.docmap.filter(F.col("doc_id").isin(some)).collect()
    }
    assert urls == expect


def test_searcher_refuses_torn_index(disk_index, tmp_path):
    """The serving tier must hit the same consistency gate as the Spark
    reader: a _COMPACTING sentinel means the index may be mid-rewrite."""
    out_dir, _ = disk_index
    sentinel = os.path.join(out_dir, "_COMPACTING")
    open(sentinel, "w").close()
    try:
        with pytest.raises(ValueError, match="unfinished compact"):
            LocalSearcher(out_dir)
    finally:
        os.remove(sentinel)


def test_term_cache_serves_second_read(disk_index):
    out_dir, _ = disk_index
    s = LocalSearcher(out_dir)
    first = s.topk(["the"], k=5)
    # poison the postings dir path: a cache hit must not re-read disk
    s._postings_dir = os.path.join(out_dir, "_does_not_exist")
    assert s.topk(["the"], k=5) == first
