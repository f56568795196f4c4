"""S14 delete + compact maintenance: tombstoned/compacted index must be
rank-identical to a fresh build over the surviving docs (the
`dumpindex` repository compact/delete analogue, occuranceCount.cpp:
700-723, as Iceberg-style delete-then-rewrite)."""

from __future__ import annotations

import glob
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from sequential_query_expansion_spark.index.build import build_index_from_docs
from sequential_query_expansion_spark.index.checkpoint import (
    build_index_checkpointed,
)
from sequential_query_expansion_spark.index import maintenance as mt
from sequential_query_expansion_spark.scoring.bm25 import score_topk
from sequential_query_expansion_spark.scoring.wand import wand_topk

DELETED = list(range(0, 60, 3))        # every 3rd of the first 60 ids


@pytest.fixture(scope="module")
def docs_df(spark, tiny_corpus):
    pages = tiny_corpus.pages.sort_values("url").reset_index(drop=True)
    rows = [(i, t) for i, t in enumerate(pages.text.tolist())]
    return spark.createDataFrame(rows, "doc_id long, text string").persist()


@pytest.fixture(scope="module")
def built_dir(spark, docs_df, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("maint") / "idx")
    build_index_checkpointed(spark, docs_df, out, salt_ranges=4,
                             num_buckets=8)
    mt.delete_docs(spark, out, DELETED)
    return out


@pytest.fixture(scope="module")
def fresh_kept(spark, docs_df):
    kept = docs_df.filter(~F.col("doc_id").isin(DELETED))
    return build_index_from_docs(kept, build_blocked=True, salt_ranges=4)


@pytest.fixture(scope="module")
def qt(spark, tiny_corpus):
    from sequential_query_expansion_spark.scoring.bm25 import query_term_table

    return query_term_table(spark.createDataFrame(tiny_corpus.queries)).persist()


def _runs_equal(a, b):
    a = a.sort_values(["qid", "rank"]).reset_index(drop=True)
    b = b.sort_values(["qid", "rank"]).reset_index(drop=True)
    assert list(a.qid) == list(b.qid)
    assert list(a.doc_id) == list(b.doc_id)
    assert np.allclose(a.score, b.score, atol=1e-9)


def test_live_tombstoned_index_matches_fresh_build(spark, built_dir, fresh_kept, qt):
    """Flat-path queries served BETWEEN delete and compact are exact:
    stats/df recomputed from surviving rows."""
    live = mt.load_index_live(spark, built_dir)
    assert live.n_docs == fresh_kept.n_docs
    assert abs(live.avgdl - fresh_kept.avgdl) < 1e-9
    got = score_topk(live, qt, k=10, rank_round=9).toPandas()
    want = score_topk(fresh_kept, qt, k=10, rank_round=9).toPandas()
    _runs_equal(got, want)
    assert not set(got.doc_id) & set(DELETED)


def test_compact_restores_wand_rank_identity(spark, built_dir, fresh_kept, qt):
    """After compaction the blocked/WAND path is sound again (block-max
    metadata re-encoded with the refreshed collection stats)."""
    idx = mt.compact_index(spark, built_dir)
    assert mt.tombstones(spark, built_dir) is None
    assert idx.n_docs == fresh_kept.n_docs
    got = wand_topk(idx, qt, k=10, salt_ranges=4, rank_round=9).toPandas()
    want = score_topk(fresh_kept, qt, k=10, rank_round=9).toPandas()
    _runs_equal(
        got[["qid", "doc_id", "rank", "score"]],
        want[["qid", "doc_id", "rank", "score"]],
    )
    # resume machinery still intact: a further load sees a complete index
    re = mt.load_index_live(spark, built_dir)
    assert re.n_docs == fresh_kept.n_docs


def test_stored_positional_stage_and_maintenance(spark, docs_df, tmp_path_factory):
    """with_positions=True persists the positional postings as a
    checkpoint stage; phrase queries off the STORED index must equal the
    freshly-built table, and delete+compact must purge deleted docs from
    it."""
    from pyspark.sql import functions as F
    from sequential_query_expansion_spark.functions.text import tokenize_col
    from sequential_query_expansion_spark.index.positions import (
        build_positional_postings,
        phrase_counts,
    )

    out = str(tmp_path_factory.mktemp("maintp") / "idx")
    idx = build_index_checkpointed(spark, docs_df, out, salt_ranges=4,
                                   num_buckets=8, with_positions=True)
    assert idx.positional is not None

    fresh = build_positional_postings(
        docs_df.select("doc_id", tokenize_col(F.col("text")).alias("tokens"))
    )
    pair = ["term00000", "term00001"]
    a = phrase_counts(idx.positional, pair, 4).toPandas().sort_values("doc_id")
    b = phrase_counts(fresh, pair, 4).toPandas().sort_values("doc_id")
    assert list(a.doc_id) == list(b.doc_id)
    assert list(a.matches) == list(b.matches)

    # resume skips the stage (no rebuild): call again, still loadable
    idx2 = build_index_checkpointed(spark, docs_df, out, salt_ranges=4,
                                    num_buckets=8, with_positions=True)
    assert idx2.positional is not None

    mt.delete_docs(spark, out, DELETED)
    live = mt.load_index_live(spark, out)
    live_docs = {r["doc_id"] for r in
                 phrase_counts(live.positional, pair, 4).collect()}
    assert not live_docs & set(DELETED)
    idx3 = mt.compact_index(spark, out)
    comp_docs = {r["doc_id"] for r in
                 phrase_counts(idx3.positional, pair, 4).collect()}
    assert comp_docs == {d for d in b.doc_id if d not in DELETED}


def test_compact_handles_fully_deleted_buckets(spark, tmp_path_factory):
    """A term-hash bucket whose every posting belongs to deleted docs
    produces NO staging partition in the single-job rewrite — its stale
    dir must still disappear and the index must stay loadable."""
    rows = [
        (0, " ".join(f"only0tok{i}" for i in range(12))),
        (1, " ".join(f"only1tok{i}" for i in range(12))),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = str(tmp_path_factory.mktemp("maint3") / "idx")
    build_index_checkpointed(spark, docs, out, salt_ranges=2, num_buckets=4)
    mt.delete_docs(spark, out, [0])
    idx = mt.compact_index(spark, out)
    assert idx.n_docs == 1
    terms = {r["term"] for r in idx.postings_flat.select("term").collect()}
    assert terms and all(t.startswith("only1tok") for t in terms)


def test_local_searcher_live_mode_rank_identical(spark, docs_df,
                                                 tmp_path_factory):
    """A LocalSearcher mounting an index with pending tombstones must
    serve the SAME rankings as the Spark live path (load_index_live +
    the batch scorers): deleted docs gone, n_docs/avgdl/df recomputed
    from the survivors, for BM25, both LM rules, and RM3."""
    from sequential_query_expansion_spark.expansion.rm3 import rm3_topk
    from sequential_query_expansion_spark.scoring.bm25 import (
        score_topk as bm25_topk,
    )
    from sequential_query_expansion_spark.scoring.lm import (
        dirichlet_topk, two_stage_topk,
    )
    from sequential_query_expansion_spark.scoring.local import LocalSearcher

    out = str(tmp_path_factory.mktemp("maintlive") / "idx")
    build_index_checkpointed(spark, docs_df, out, salt_ranges=4,
                             num_buckets=8, with_doc_vectors=True)
    mt.delete_docs(spark, out, DELETED)
    live = mt.load_index_live(spark, out)
    s = LocalSearcher(out)

    assert s.n_docs == live.n_docs
    assert abs(s.avgdl - live.avgdl) < 1e-9

    q = {"term00000": 1.0, "term00001": 2.0}
    qt = spark.createDataFrame(
        [("q", t, w) for t, w in q.items()],
        "qid string, term string, weight double",
    )

    def run(df):
        return [(r["doc_id"], round(r["score"], 9))
                for r in df.orderBy("rank").collect()]

    cases = [
        (bm25_topk(live, qt, k=10), s.topk(q, k=10)),
        (dirichlet_topk(live, qt, k=10, mu=1600.0),
         s.lm_topk(q, k=10, method="dir", mu=1600.0)),
        (two_stage_topk(live, qt, k=10, mu=1600.0, lam=0.4),
         s.lm_topk(q, k=10, method="two", mu=1600.0, lam=0.4)),
        (rm3_topk(live, qt, k=10, fb_docs=5, fb_terms=10, orig_weight=0.6),
         s.rm3_topk(q, k=10, fb_docs=5, fb_terms=10, orig_weight=0.6)),
    ]
    for i, (spark_df, local_res) in enumerate(cases):
        expect = run(spark_df)
        got = [(d, round(sc, 9)) for d, sc in local_res]
        assert got, i
        assert got == expect, i
        assert not {d for d, _ in got} & set(DELETED), i

    # urls_for must not resolve tombstoned ids
    assert set(s.urls_for(DELETED[:5] + [d for d, _ in cases[0][1][:2]])) \
        == {d for d, _ in cases[0][1][:2]}


def test_compact_purges_doc_vectors_stage(spark, docs_df, tmp_path_factory):
    """The optional forward-index stage (with_doc_vectors=True) must be
    rewritten by compact like docmap/doc_len: deleted docs gone, global
    doc_id sort preserved (row-group pruning contract), and the serving
    tier's PRF still runs and never surfaces a deleted doc."""
    from sequential_query_expansion_spark.scoring.local import LocalSearcher

    out = str(tmp_path_factory.mktemp("maintdv") / "idx")
    build_index_checkpointed(spark, docs_df, out, salt_ranges=4,
                             num_buckets=8, with_doc_vectors=True)
    mt.delete_docs(spark, out, DELETED)
    mt.compact_index(spark, out)

    dv = spark.read.parquet(os.path.join(out, "doc_vectors")).toPandas()
    assert len(dv) > 0
    assert not set(dv.doc_id) & set(DELETED)

    import pyarrow.parquet as pq
    for f in glob.glob(os.path.join(out, "doc_vectors", "*.parquet")):
        ids = pq.read_table(f, columns=["doc_id"])["doc_id"].to_numpy()
        assert (np.diff(ids) >= 0).all(), f  # sorted within each file

    s = LocalSearcher(out)
    res = s.rm3_topk(["term00000", "term00001"], k=20, fb_docs=5, fb_terms=10)
    assert res and not {d for d, _ in res} & set(DELETED)

    # the newest lineage rows of each table compact rewrote sum to the
    # rows that table now holds
    m = spark.read.parquet(os.path.join(out, "build_metrics")).toPandas()
    for stage, table in (("compact_flat", "postings_flat"),
                         ("compact_doc_vectors", "doc_vectors")):
        rows = m[m.stage == stage]
        newest = rows[rows.ts == rows.ts.max()]
        held = spark.read.parquet(os.path.join(out, table)).count()
        assert newest.rows.sum() == held, stage


def test_compact_recovers_doc_table_swap_crash(spark, docs_df,
                                               tmp_path_factory):
    """Doc-table rewrites swap via tmp: a crash BETWEEN rmtree(p) and
    os.replace(tmp, p) leaves the stage dir missing with the finished
    rewrite in tmp. Re-running compact (the documented repair — the
    _COMPACTING sentinel blocks readers meanwhile) must restore it, NOT
    silently drop the optional doc_vectors stage."""
    import shutil
    from sequential_query_expansion_spark.scoring.local import LocalSearcher

    out = str(tmp_path_factory.mktemp("maintcrash") / "idx")
    build_index_checkpointed(spark, docs_df, out, salt_ranges=4,
                             num_buckets=8, with_doc_vectors=True)
    mt.delete_docs(spark, out, DELETED)

    # simulate the crash window for doc_vectors: tmp fully written
    # (tombstones applied), original dir removed, sentinel + tombstones
    # still on disk
    p = os.path.join(out, "doc_vectors")
    tomb = mt.tombstones(spark, out)
    spark.read.parquet(p).join(
        F.broadcast(tomb), "doc_id", "left_anti"
    ).sort("doc_id").write.parquet(p + ".compact.tmp")
    shutil.rmtree(p)
    open(os.path.join(out, "_COMPACTING"), "w").close()

    mt.compact_index(spark, out)
    dv = spark.read.parquet(p).toPandas()
    assert len(dv) > 0
    assert not set(dv.doc_id) & set(DELETED)
    res = LocalSearcher(out).rm3_topk(
        ["term00000", "term00001"], k=10, fb_docs=5, fb_terms=10
    )
    assert res and not {d for d, _ in res} & set(DELETED)


def test_publish_sorts_doc_tables(spark, docs_df, tmp_path_factory):
    """docmap, doc_len and doc_vectors publish globally sorted by
    doc_id — the serving tier's point fetches (urls_for, live-mode
    tombstone dls, PRF doc vectors) rely on parquet row-group min/max
    pruning."""
    import pyarrow.parquet as pq

    out = str(tmp_path_factory.mktemp("maintsort") / "idx")
    build_index_checkpointed(spark, docs_df.repartition(8), out,
                             salt_ranges=4, num_buckets=8,
                             with_doc_vectors=True)
    for name in ("docmap", "doc_len", "doc_vectors"):
        for f in glob.glob(os.path.join(out, name, "*.parquet")):
            ids = pq.read_table(f, columns=["doc_id"])["doc_id"].to_numpy()
            assert (np.diff(ids) >= 0).all(), (name, f)


def test_compact_reduces_file_count(spark, docs_df, tmp_path_factory):
    """No tombstones → pure small-file compaction (one file per bucket)."""
    out = str(tmp_path_factory.mktemp("maint2") / "idx")
    build_index_checkpointed(spark, docs_df.repartition(8), out,
                             salt_ranges=4, num_buckets=4)
    before = len(glob.glob(os.path.join(out, "postings_flat", "*", "*.parquet")))
    mt.compact_index(spark, out)
    after = len(glob.glob(os.path.join(out, "postings_flat", "*", "*.parquet")))
    assert after <= before
    assert after == len(glob.glob(os.path.join(out, "postings_flat", "bucket=*")))
    after_idx = mt.load_index_live(spark, out)
    assert after_idx.n_docs == docs_df.count()


def test_torn_compact_detected(spark, tmp_path_factory):
    """Crash-atomicity guard: if the blocked postings and stats.json
    carry different generation ids (a crash between the postings swap
    and the stats write), load_index must refuse — block max_score
    embeds collection stats, so a torn pair makes WAND pruning unsound."""
    import json

    from sequential_query_expansion_spark.index.checkpoint import load_index

    out = str(tmp_path_factory.mktemp("torn"))
    docs = spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("alpha beta doc "), F.col("id")).alias("text"),
    )
    build_index_checkpointed(spark, docs, out, salt_ranges=2, num_buckets=4)
    mt.delete_docs(spark, out, [1])
    mt.compact_index(spark, out)
    load_index(spark, out)  # consistent pair loads fine

    # simulate the torn window: blocked generation != stats generation
    with open(os.path.join(out, "postings", "_GENERATION"), "w") as f:
        f.write("deadbeef")
    with pytest.raises(ValueError, match="torn mid-compact"):
        load_index(spark, out)

    # re-running compact repairs it
    mt.compact_index(spark, out)
    assert load_index(spark, out).n_docs == 39
    with open(os.path.join(out, "stats.json")) as f:
        assert json.load(f)["generation"]


def test_compact_rejects_unknown_codec_before_rewriting(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("codecval"))
    docs = spark.range(10).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("alpha doc "), F.col("id")).alias("text"),
    )
    build_index_checkpointed(spark, docs, out, salt_ranges=2, num_buckets=2)
    before = sorted(glob.glob(os.path.join(out, "postings_flat", "*", "*")))
    with pytest.raises(ValueError, match="unknown codec"):
        mt.compact_index(spark, out, codec="pforr")
    # nothing was rewritten
    assert sorted(glob.glob(os.path.join(out, "postings_flat", "*", "*"))) == before


def test_unfinished_compact_sentinel_blocks_load(spark, tmp_path_factory):
    """A compact that crashed between its FIRST rewrite and its final
    commit leaves the _COMPACTING sentinel; load_index must refuse the
    (possibly flat/blocked-inconsistent) state until compact re-runs."""
    from sequential_query_expansion_spark.index.checkpoint import load_index

    out = str(tmp_path_factory.mktemp("sentinel"))
    docs = spark.range(30).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("alpha beta doc "), F.col("id")).alias("text"),
    )
    build_index_checkpointed(spark, docs, out, salt_ranges=2, num_buckets=4)
    # simulate the crash window
    with open(os.path.join(out, "_COMPACTING"), "w") as f:
        f.write("1")
    with pytest.raises(ValueError, match="unfinished compact"):
        load_index(spark, out)
    # re-running compact clears it and restores service
    mt.compact_index(spark, out)
    assert load_index(spark, out).n_docs == 30


def test_compact_recovers_docmap_swap_crash(spark, tmp_path_factory):
    """ADVICE r3: the zero-survivor guard reads docmap BEFORE the crash
    restore used to run — a crash between rmtree(docmap) and
    os.replace(tmp, docmap) then made the re-run fail at the survivors
    read instead of self-repairing. The restore must run first."""
    import shutil

    from sequential_query_expansion_spark.index.checkpoint import load_index

    out = str(tmp_path_factory.mktemp("docmapcrash"))
    docs = spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("alpha beta doc "), F.col("id")).alias("text"),
    )
    build_index_checkpointed(spark, docs, out, salt_ranges=2, num_buckets=4)
    mt.delete_docs(spark, out, [0, 3, 6])

    # simulate the docmap swap-crash window: tmp fully written
    # (tombstones applied), original dir removed, sentinel + tombstones
    # still on disk
    p = os.path.join(out, "docmap")
    tomb = mt.tombstones(spark, out)
    spark.read.parquet(p).join(
        F.broadcast(tomb), "doc_id", "left_anti"
    ).sort("doc_id").write.parquet(p + ".compact.tmp")
    shutil.rmtree(p)
    open(os.path.join(out, "_COMPACTING"), "w").close()

    idx = mt.compact_index(spark, out)
    assert idx.n_docs == 37
    got = load_index(spark, out).docmap.toPandas()
    assert len(got) == 37 and not set(got.doc_id) & {0, 3, 6}


def test_merge_clears_stale_out_dir_state(spark, tmp_path_factory):
    """ADVICE r3: a reused out_dir carrying a previous index's
    tombstones/ (or stage dirs the merge doesn't write) must not leak
    into the merged index — stale tombstones would silently delete
    RENUMBERED merged docs in the final compact."""
    root = tmp_path_factory.mktemp("mergestale")

    def build(sub, lo, hi):
        d = str(root / sub)
        docs = spark.range(lo, hi).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("alpha beta doc "), F.col("id")).alias("text"),
        )
        build_index_checkpointed(spark, docs, d, salt_ranges=2, num_buckets=4)
        return d

    a = build("a", 0, 20)
    b = build("b", 0, 15)
    out = str(root / "out")
    os.makedirs(out)
    # stale state from a "previous index" at the same path
    spark.createDataFrame([(0,), (1,), (2,)], "doc_id long").write.parquet(
        os.path.join(out, "tombstones")
    )
    spark.createDataFrame(
        [(999, "stale text")], "doc_id long, text string"
    ).write.parquet(os.path.join(out, "docs"))

    idx = mt.merge_indexes(spark, out, [a, b])
    assert idx.n_docs == 35                      # nothing falsely deleted
    assert not os.path.isdir(os.path.join(out, "tombstones"))
    # inputs carry no docs stage -> merged index must not either
    assert not os.path.isdir(os.path.join(out, "docs"))


def test_index_writes_keep_callers_job_group(spark, docs_df, tmp_path_factory):
    """Every job of a checkpointed build with all optional stages, a
    tombstoned compact and a merge carries the caller's job group: each
    runs its stages in order on the caller's thread, so the group (a
    thread-local property) reaches every job."""
    root = tmp_path_factory.mktemp("jobgroup")
    idx_dir = str(root / "idx")
    docs = docs_df.filter(F.col("doc_id") < 60)

    def build():
        build_index_checkpointed(
            spark, docs, idx_dir, salt_ranges=2, num_buckets=4,
            with_positions=True, with_doc_vectors=True, with_docs=True,
        )

    def compact():
        mt.delete_docs(spark, idx_dir, [1, 2, 40])
        mt.compact_index(spark, idx_dir)

    def merge():
        mt.merge_indexes(spark, str(root / "merged"), [idx_dir, idx_dir])

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    outside = {}
    for call in (build, compact, merge):
        ungrouped = set(tracker.getJobIdsForGroup(None))
        sc.setJobGroup("index-write-test", call.__name__)
        try:
            call()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        new = set(tracker.getJobIdsForGroup(None)) - ungrouped
        if new:
            outside[call.__name__] = sorted(new)
    assert not outside, outside
    assert tracker.getJobIdsForGroup("index-write-test")
