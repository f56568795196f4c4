"""Driver-contract implementations: Spark queries + DuckDB oracle SQL.

One entry per implemented operator family from SURVEY.md §2 plus the
training-data-pipeline operators. Each Spark callable takes
(spark, sf_dir), reads the driver's parquet tables, and returns a
DataFrame whose column names/types line up exactly with the paired
DuckDB SQL in ``ORACLE_SQL`` (the driver compares row-count + schema +
order-insensitive value-hash at sf=0.01).

Cross-engine float policy: every floating aggregate is rounded in BOTH
engines before hashing, and every rank that feeds a comparison is
computed over the ROUNDED sort key, so last-ulp summation-order
differences between Spark and DuckDB can neither flip a rank nor change
a hash (SURVEY §7 hard part iii).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .evalmetrics import evaluate
from .expansion.rm3 import rm3_expand_df, rm3_topk
from .functions.text import TOKENIZE_SQL_DUCKDB, tokenize_col
from .index.build import K1, B
from .operators import dedup, similarity, text_analysis
from .scoring.bm25 import query_term_table, score_topk
from .util import Caches, local_frame
from .webtext import (
    WEB_QUERIES,
    cooccur_edges,
    doc_index,
    load_documents,
    load_embeddings,
    pseudo_qrels,
    queries_df,
    query_term_rows,
)

TOPK = 10
FB_DOCS = 10
FB_TERMS = 20
ORIG_W = 0.7           # reference's #weight(0.7 orig ...) interpolation
RANK_ROUND = 6
SCORE_ROUND = 4
COOC_MIN_DOCS = 5
PROBE_IDS = [0, 1, 2, 3]

# ---------------------------------------------------------------------------
# Shared DuckDB fragments
# ---------------------------------------------------------------------------

_TOK = TOKENIZE_SQL_DUCKDB.format(col="text")

_BASE = f"""
doctoks AS (
  SELECT doc_id, {_TOK} AS toks FROM documents
),
tok AS (SELECT doc_id, unnest(toks) AS term FROM doctoks),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY doc_id, term),
dl AS (SELECT d.doc_id, count(t.term)::BIGINT AS dl
       FROM documents d LEFT JOIN tok t ON d.doc_id = t.doc_id GROUP BY d.doc_id),
stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl)::DOUBLE AS avgdl FROM dl),
vocab AS (SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS cf FROM tf GROUP BY term)
"""


def _qterms_cte() -> str:
    vals = ",\n    ".join(
        f"('{q}', '{t}', {w})" for q, t, w in query_term_rows()
    )
    return f"qterms(qid, term, weight) AS (VALUES\n    {vals})"


def _bm25(w: str, tf: str = "tf.tf", df: str = "v.df",
          k1: float = K1, b: float = B) -> str:
    """One BM25 contribution, weighted by ``w``; needs ``stats s`` and
    ``dl`` in scope (Lucene-style non-negative idf, as scoring/bm25.py)."""
    return (
        f"{w} * ln(1.0 + (s.n_docs - {df} + 0.5) / ({df} + 0.5)) "
        f"* {tf} * {k1 + 1.0} "
        f"/ ({tf} + {k1} * (1.0 - {b} + {b} * dl.dl / s.avgdl))"
    )


def _bm25_scored(name: str, terms: str, where: str = "",
                 k1: float = K1, b: float = B) -> str:
    """CTE ``{name}(qid, doc_id, score)``: Σ BM25 over the query-term
    relation ``{terms}(qid, term, weight)``, optionally restricted by a
    ``where`` clause over ``tf``."""
    where = f"\n  WHERE {where}" if where else ""
    return f"""{name} AS (
  SELECT q.qid, tf.doc_id, sum({_bm25("q.weight", k1=k1, b=b)}) AS score
  FROM {terms} q
  JOIN tf ON q.term = tf.term
  JOIN vocab v ON v.term = q.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s{where}
  GROUP BY q.qid, tf.doc_id)"""


def _ranked(name: str, src: str, limit: int | None = None) -> str:
    """CTE ``{name}(qid, doc_id, score, rank)`` over ``{src}(qid, doc_id,
    score)``: rank in the engines' shared total order (score desc on
    round(score, RANK_ROUND), doc_id asc), cut to ``rank <= limit``."""
    cut = f" WHERE rank <= {limit}" if limit is not None else ""
    return f"""{name} AS (
  SELECT * FROM (
    SELECT qid, doc_id, score,
           row_number() OVER (PARTITION BY qid
                              ORDER BY round(score, {RANK_ROUND}) DESC, doc_id) AS rank
    FROM {src}){cut})"""


def _dirichlet_scored(name: str, terms: str) -> str:
    """CTEs ending in ``{name}(qid, doc_id, score)``: Dirichlet query
    likelihood (mu 1600) over ``{terms}(qid, term, weight)`` for the docs
    matching >= 1 term, Σ w·ln(1 + tf·C/(mu·cf)) + W_q·ln(mu/(dl+mu));
    needs ``c(c_total)`` in scope."""
    return f"""{name}_wq AS (SELECT qid, sum(weight)::DOUBLE AS w_q FROM {terms} GROUP BY qid),
{name}_m AS (
  SELECT q.qid, tf.doc_id,
         sum(q.weight * ln(1.0 + tf.tf * c.c_total / (1600.0 * v.cf))) AS m,
         min(dl.dl) AS dl
  FROM {terms} q
  JOIN vocab v ON v.term = q.term
  JOIN tf ON q.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN c
  GROUP BY q.qid, tf.doc_id),
{name} AS (
  SELECT m.qid, m.doc_id, m.m + wq.w_q * ln(1600.0 / (m.dl + 1600.0)) AS score
  FROM {name}_m m JOIN {name}_wq wq ON wq.qid = m.qid)"""


# RM1 feedback-doc weights over fbtop(qid, doc_id, score, top), where top
# is the qid's best feedback score: each doc's share of the BM25 mass, or
# the posterior softmax(log-QL) for the Dirichlet LM
_SCORE_SHARE = "score / sum(score) OVER (PARTITION BY qid)"
_SOFTMAX = "exp(score - top) / sum(exp(score - top)) OVER (PARTITION BY qid)"


def _rm1(topk: str, w_doc: str = _SCORE_SHARE) -> str:
    """CTEs ending in ``rm1n(qid, term, weight)``: RM1 over the
    top-FB_DOCS docs of ``{topk}(qid, doc_id, score, rank)`` with doc
    weights ``w_doc``, cut to FB_TERMS terms with mass 1 - ORIG_W."""
    return f"""fbtop AS (SELECT qid, doc_id, score, max(score) OVER (PARTITION BY qid) AS top
          FROM {topk} WHERE rank <= {FB_DOCS}),
fb AS (SELECT qid, doc_id, {w_doc} AS w_doc FROM fbtop),
rm1 AS (
  SELECT fb.qid, tf.term, sum(fb.w_doc * tf.tf::DOUBLE / dl.dl) AS w
  FROM fb JOIN tf ON tf.doc_id = fb.doc_id JOIN dl ON dl.doc_id = fb.doc_id
  GROUP BY fb.qid, tf.term),
rm1top AS (
  SELECT * FROM (
    SELECT qid, term, w,
           row_number() OVER (PARTITION BY qid
                              ORDER BY round(w, {RANK_ROUND + 3}) DESC, term) AS rn
    FROM rm1) WHERE rn <= {FB_TERMS}),
rm1n AS (SELECT qid, term,
                {1.0 - ORIG_W} * w / sum(w) OVER (PARTITION BY qid) AS weight
         FROM rm1top)"""


_SCORED = _bm25_scored("scored", "qterms") + ",\n" + _ranked("topk", "scored")


def _rm3(topk: str, w_doc: str = _SCORE_SHARE) -> str:
    """CTEs ending in ``expanded(qid, term, weight)``: RM3 over the
    unexpanded run ``{topk}`` (mirrors expansion/rm3.py) — :func:`_rm1`
    interpolated with the ORIG_W-normalized ``qterms``."""
    return _rm1(topk, w_doc) + f""",
orig AS (SELECT qid, term,
                {ORIG_W} * weight / sum(weight) OVER (PARTITION BY qid) AS weight
         FROM qterms),
expanded AS (
  SELECT qid, term, sum(weight) AS weight
  FROM (SELECT * FROM orig UNION ALL SELECT * FROM rm1n) GROUP BY qid, term
)"""

_SHINGLES = """
sh AS (
  SELECT doc_id, unnest(list_distinct(
    list_transform(generate_series(1, len(toks) - 7),
                   i -> array_to_string(toks[i:i+7], ' ')))) AS shingle
  FROM doctoks WHERE len(toks) >= 8
),
shsz AS (SELECT doc_id, count(*)::BIGINT AS sz FROM sh GROUP BY doc_id),
jpairs AS (
  SELECT doc_a, doc_b,
         common::DOUBLE / (sa.sz + sb.sz - common) AS jaccard
  FROM (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS common
        FROM sh a JOIN sh b USING (shingle)
        WHERE a.doc_id < b.doc_id GROUP BY 1, 2) p
  JOIN shsz sa ON sa.doc_id = p.doc_a
  JOIN shsz sb ON sb.doc_id = p.doc_b
)
"""

# the oracle's normalization sum iterates the SAME feature list as the
# Spark combine — importing it keeps the two from desyncing silently
from .expansion.concept_graph import FEATURES as _FEATURES_SQL_ORDER  # noqa: E402


def _feature_sql(p: str, src: str, excl: str, top_t: int, n_sel: int) -> str:
    """CTE chain recomputing one layer of expansion.concept_graph:
    sources ``{src}(qid, term, weight)`` -> ``{p}sel(qid, cand, weight,
    rank)`` — BM25 feedback docs, candidate edges (minus ``{excl}(qid,
    term)``), the 14-feature block, per-query sum-normalization, uniform
    weighted combine, top-``n_sel`` on round(weight, RANK_ROUND)."""
    norm_sum = "\n       + ".join(
        f"(CASE WHEN sum({f}) OVER (PARTITION BY qid) > 0 "
        f"THEN {f} / sum({f}) OVER (PARTITION BY qid) ELSE 0.0 END)"
        for f in _FEATURES_SQL_ORDER
    )
    t = float(top_t)
    return f"""
{_bm25_scored(f"{p}scored", src)},
{_ranked(f"{p}topdocs", f"{p}scored", top_t)},
{p}srct AS (SELECT DISTINCT qid, term AS orig FROM {src}),
{p}cands AS (
  SELECT DISTINCT s.qid, s.orig, e.cand, e.df_both
  FROM {p}srct s JOIN edges e ON e.orig = s.orig
  WHERE NOT EXISTS (SELECT 1 FROM {excl} x
                    WHERE x.qid = s.qid AND x.term = e.cand)),
{p}candq AS (SELECT DISTINCT qid, cand FROM {p}cands),
{p}cit AS (
  SELECT c.qid, c.cand, t.doc_id, t.tf, td.score
  FROM {p}candq c
  JOIN tf t ON t.term = c.cand
  JOIN {p}topdocs td ON td.qid = c.qid AND td.doc_id = t.doc_id),
{p}topdl AS (
  SELECT td.qid, sum(dl.dl)::DOUBLE AS top_dl_sum
  FROM {p}topdocs td JOIN dl USING (doc_id) GROUP BY td.qid),
{p}fb AS (
  SELECT qid, cand, sum(score) AS expTDocScore, sum(tf)::DOUBLE AS tf_top,
         count(*)::DOUBLE AS numCanDocs, avg(score) AS avgCDocScore,
         max(score) AS maxCDocScore
  FROM {p}cit GROUP BY qid, cand),
{p}oit AS (
  SELECT s.qid, s.orig, t.doc_id
  FROM {p}srct s
  JOIN tf t ON t.term = s.orig
  JOIN {p}topdocs td ON td.qid = s.qid AND td.doc_id = t.doc_id),
{p}bothtop AS (
  SELECT c.qid, o.orig, c.cand, count(*)::BIGINT AS df_both_top
  FROM {p}cit c JOIN {p}oit o ON o.qid = c.qid AND o.doc_id = c.doc_id
  GROUP BY 1, 2, 3),
{p}pairf AS (
  SELECT c.qid, c.orig, c.cand,
         c.df_both::DOUBLE / sqrt(vo.df::DOUBLE * vc.df) AS colCor,
         coalesce(bt.df_both_top, 0)::DOUBLE / {t} AS topColCor,
         abs(ln((s.n_docs * c.df_both + 0.5)
                / (vo.df::DOUBLE * vc.df + 0.5))) AS colPCor,
         abs(ln(({t} * coalesce(bt.df_both_top, 0) + 0.5)
                / (c.df_both + 0.5))) AS topColPCor
  FROM {p}cands c
  JOIN vocab vo ON vo.term = c.orig
  JOIN vocab vc ON vc.term = c.cand
  LEFT JOIN {p}bothtop bt
    ON bt.qid = c.qid AND bt.orig = c.orig AND bt.cand = c.cand
  CROSS JOIN stats s),
{p}cooc AS (
  SELECT qid, cand,
         avg(colCor) AS avgColCor, max(colCor) AS maxColCor,
         avg(topColCor) AS avgTopColCor, max(topColCor) AS maxTopColCor,
         avg(colPCor) AS avgColPCor, max(colPCor) AS maxColPCor,
         avg(topColPCor) AS avgTopColPCor, max(topColPCor) AS maxTopColPCor
  FROM {p}pairf GROUP BY qid, cand),
{p}feat AS (
  SELECT c.qid, c.cand,
         abs(coalesce(fb.expTDocScore, 0.0)) AS expTDocScore,
         abs(coalesce(fb.tf_top / td.top_dl_sum, 0.0)) AS topTermFrac,
         abs(coalesce(fb.numCanDocs, 0.0)) AS numCanDocs,
         abs(coalesce(fb.avgCDocScore, 0.0)) AS avgCDocScore,
         abs(coalesce(fb.maxCDocScore, 0.0)) AS maxCDocScore,
         abs(ln(s.n_docs / v.df)) AS conIdf,
         abs(coalesce(cc.avgColCor, 0.0)) AS avgColCor,
         abs(coalesce(cc.maxColCor, 0.0)) AS maxColCor,
         abs(coalesce(cc.avgTopColCor, 0.0)) AS avgTopColCor,
         abs(coalesce(cc.maxTopColCor, 0.0)) AS maxTopColCor,
         abs(coalesce(cc.avgColPCor, 0.0)) AS avgColPCor,
         abs(coalesce(cc.maxColPCor, 0.0)) AS maxColPCor,
         abs(coalesce(cc.avgTopColPCor, 0.0)) AS avgTopColPCor,
         abs(coalesce(cc.maxTopColPCor, 0.0)) AS maxTopColPCor
  FROM {p}candq c
  JOIN vocab v ON v.term = c.cand
  CROSS JOIN stats s
  LEFT JOIN {p}fb fb ON fb.qid = c.qid AND fb.cand = c.cand
  LEFT JOIN {p}topdl td ON td.qid = c.qid
  LEFT JOIN {p}cooc cc ON cc.qid = c.qid AND cc.cand = c.cand),
{p}wsel AS (
  SELECT qid, cand,
         {norm_sum} AS weight
  FROM {p}feat),
{p}sel AS (
  SELECT qid, cand, weight, rn AS rank FROM (
    SELECT qid, cand, weight,
           row_number() OVER (PARTITION BY qid
                              ORDER BY round(weight, {RANK_ROUND}) DESC, cand) AS rn
    FROM {p}wsel) WHERE rn <= {n_sel})
"""


_QRELS = """
nterms AS (SELECT qid, count(DISTINCT term) AS n_terms FROM qterms GROUP BY qid),
qhits AS (SELECT q.qid, tf.doc_id, count(*) AS n_hit, min(tf.tf) AS min_tf
          FROM (SELECT DISTINCT qid, term FROM qterms) q
          JOIN tf USING (term) GROUP BY q.qid, tf.doc_id),
qrels AS (SELECT h.qid, h.doc_id,
                 CASE WHEN min_tf >= 2 THEN 2 ELSE 1 END AS rel
          FROM qhits h JOIN nterms USING (qid) WHERE n_hit = n_terms)
"""

_SW = "', '".join(text_analysis.QUALITY_STOPWORDS)
_LANGS = sorted(text_analysis.LANG_STOPWORDS)


# ---------------------------------------------------------------------------
# Spark callables
# ---------------------------------------------------------------------------

def q_collection_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = doc_index(spark, sf_dir)
    v = idx.vocab.agg(
        F.count("*").cast("long").alias("n_terms"),
        F.sum("cf").cast("long").alias("total_terms"),
    )
    d = idx.doc_len.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(F.avg("dl"), 6).alias("avgdl"),
    )
    return d.crossJoin(v).select("n_docs", "n_terms", "total_terms", "avgdl")


def q_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return doc_index(spark, sf_dir).vocab.select(
        "term", F.col("df").cast("long").alias("df"), F.col("cf").cast("long").alias("cf")
    )


def q_postings_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        doc_index(spark, sf_dir)
        .postings_flat.groupBy("term")
        .agg(
            F.count("*").cast("long").alias("df"),
            F.sum("tf").cast("long").alias("cf"),
            F.array_join(F.array_sort(F.collect_list("doc_id")), ",").alias("doc_csv"),
        )
    )


def q_doc_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    return doc_index(spark, sf_dir).doc_terms.select(
        "doc_id", F.concat_ws(" ", "tokens").alias("terms_str")
    )


def q_doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = text_analysis.token_stats(load_documents(spark, sf_dir))
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_unique").cast("long").alias("n_unique"),
        F.col("n_chars_norm").cast("long").alias("n_chars_norm"),
    )


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = text_analysis.quality_score(load_documents(spark, sf_dir))
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
        F.round("mean_token_len", 6).alias("mean_token_len"),
        "keep",
    )


def q_langid_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = text_analysis.langid(load_documents(spark, sf_dir))
    return out.groupBy("lang_pred").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("lang_hits").cast("long").alias("total_hits"),
    )


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_analysis.fingerprint(load_documents(spark, sf_dir))


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = dedup.exact_dedup(load_documents(spark, sf_dir))
    return out.select(
        "fp",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("keep_doc").cast("long").alias("keep_doc"),
        F.array_join("dup_docs", ",").alias("dup_csv"),
    )


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = dedup.ngram_jaccard_pairs(load_documents(spark, sf_dir), threshold=0.8)
    return out.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


def q_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = dedup.minhash_lsh_dedup(load_documents(spark, sf_dir), threshold=0.8)
    return out.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs, value-oracled: the md5-derived term hash
    lets DuckDB recompute every sign-vote bit-for-bit."""
    return dedup.simhash_pairs(load_documents(spark, sf_dir), max_hamming=6)


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLUSTERING over the simhash near-dup pair graph:
    (doc_id, component) with component = min reachable doc id — the step
    every dedup pipeline needs between pair generation and survivor
    selection (dup chains a-b, b-c collapse to one representative). The
    oracle recomputes the same pairs bit-for-bit and closes them with a
    recursive CTE, so the distributed min-label propagation loop is
    value-checked against a true transitive closure."""
    pairs = dedup.simhash_pairs(load_documents(spark, sf_dir), max_hamming=6)
    out = dedup.duplicate_components(pairs)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("component"),
    )


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish-pretokenizer token counts (training-data
    budget estimators); the regex is engine-portable (no lookahead,
    ASCII classes) so DuckDB's RE2 counts identically."""
    return text_analysis.token_counts(load_documents(spark, sf_dir))


WINNOW_K = 5
WINNOW_W = 4


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprinting (winnowing/MOSS): distinct
    window-min k-gram hashes per doc; md5-derived so DuckDB recomputes
    every fingerprint bit-for-bit."""
    return dedup.winnow_fingerprints(
        load_documents(spark, sf_dir), k=WINNOW_K, w=WINNOW_W
    )


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = doc_index(spark, sf_dir)
    qt = query_term_table(queries_df(spark))
    out = score_topk(idx, qt, k=TOPK, rank_round=RANK_ROUND)
    return out.select(
        "qid",
        "doc_id",
        F.col("rank").cast("long").alias("rank"),
        F.round("score", SCORE_ROUND).alias("score"),
    )


def q_bm25_topk_wand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same retrieval as q_bm25_topk but through the compressed blocked
    postings + block-max WAND kernel — shares bm25_topk's oracle SQL."""
    from .scoring.wand import wand_topk

    idx = doc_index(spark, sf_dir, blocked=True)
    qt = query_term_table(queries_df(spark))
    out = wand_topk(idx, qt, k=TOPK, salt_ranges=8, rank_round=RANK_ROUND)
    return out.select(
        "qid",
        "doc_id",
        F.col("rank").cast("long").alias("rank"),
        F.round("score", SCORE_ROUND).alias("score"),
    )


def q_incremental_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (append-snapshot) build queried with the standard
    BM25 scorer: the corpus lands as two separate file drops, each
    ingested by its own Structured Streaming run into a posting SEGMENT
    (exactly-once via the stream checkpoint), then ``compact_segments``
    merges them with the usual salted term-major merge — the continuous
    version of the reference's by-hand repository merge (`dumpindex m`,
    occuranceCount.cpp:700-708). The merged index is identical to a
    batch build over the same docs by construction, so this entry shares
    bm25_topk's DuckDB oracle: the value hash proves the stream-built
    index ranks exactly like the from-scratch one."""
    from .webtext import incremental_index

    idx = incremental_index(spark, sf_dir)
    qt = query_term_table(queries_df(spark))
    out = score_topk(idx, qt, k=TOPK, rank_round=RANK_ROUND)
    return out.select(
        "qid",
        "doc_id",
        F.col("rank").cast("long").alias("rank"),
        F.round("score", SCORE_ROUND).alias("score"),
    )


def q_local_wand_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving-tier BM25 top-k: ``LocalSearcher`` answers the query set
    straight off the checkpointed blocked index (client-side xxh64
    bucket pruning + pyarrow term-filtered reads + the numpy WAND
    kernel, zero Spark jobs per query — the IndriRunQuery analogue).
    Must hash-match the SAME DuckDB scoring-join oracle as bm25_topk:
    one ranking contract across all three surfaces (batch join, Spark
    WAND, serving tier)."""
    return _local_searcher_run(spark, sf_dir)


def _local_searcher_run(spark: SparkSession, sf_dir: str, **kw) -> DataFrame:
    """Run the contract query set through ``LocalSearcher`` (kwargs pick
    the rule: none = BM25/WAND, method="dir"/"two" = the LM rules) and
    re-rank on the ROUNDED score key exactly like score_topk/wand_topk's
    final window (cross-engine float policy, module docstring)."""
    from .scoring.local import LocalSearcher
    from .webtext import disk_index_dir

    searcher = LocalSearcher(disk_index_dir(spark, sf_dir))
    qmap: dict[str, list] = {}
    for qid, term, w in query_term_rows():
        qmap.setdefault(qid, []).append((term, w))
    is_rm3 = kw.pop("_rm3", False)
    rows = []
    for qid in sorted(qmap):
        if is_rm3:
            res = searcher.rm3_topk(qmap[qid], k=TOPK, **kw)
        elif kw:
            res = searcher.lm_topk(qmap[qid], k=TOPK,
                                   rank_round=RANK_ROUND, **kw)
        else:
            res = searcher.topk(qmap[qid], k=TOPK, rank_round=RANK_ROUND)
        for rank, (doc_id, score) in enumerate(res, 1):
            rows.append((qid, doc_id, rank, round(score, SCORE_ROUND)))
    return local_frame(
        spark, rows, "qid string, doc_id long, rank long, score double"
    )


def q_local_lm_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving-tier Dirichlet query likelihood (IndriRunQuery's default
    `method:dir,mu:1600` rule served without Spark): ``LocalSearcher.
    lm_topk(method="dir")`` must hash-match the SAME DuckDB oracle as
    lm_topk — the ranking contract holds across batch and serving."""
    return _local_searcher_run(spark, sf_dir, method="dir", mu=1600.0)


def q_local_two_stage_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving-tier two-stage smoothing (`method:two`, the reference's
    CDS14 headline rule) — shares two_stage_topk's DuckDB oracle."""
    return _local_searcher_run(spark, sf_dir, method="two", mu=1600.0, lam=0.4)


def q_local_rm3_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving-tier RM3 PRF (Indri fbDocs/fbTerms + #weight interp):
    feedback docs, RM1 over the stored doc_vectors stage, and the
    expanded re-run all execute in ``LocalSearcher`` without Spark —
    shares bm25_rm3_topk's DuckDB oracle."""
    return _local_searcher_run(
        spark, sf_dir, _rm3=True, fb_docs=FB_DOCS, fb_terms=FB_TERMS,
        orig_weight=ORIG_W, rank_round=RANK_ROUND,
    )


def q_local_lm_rm3_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving-tier RM3 under the Dirichlet-LM rule (the reference's
    actual Indri PRF configuration) — shares lm_rm3_topk's oracle."""
    return _local_searcher_run(
        spark, sf_dir, _rm3=True, fb_docs=FB_DOCS, fb_terms=FB_TERMS,
        orig_weight=ORIG_W, rank_round=RANK_ROUND, method="dir", mu=1600.0,
    )


def q_local_phrase_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving-tier concept queries: the reference's `#weight(0.8 name
    0.1 #od4 0.1 #uwN)` rendering answered by ``LocalSearcher.
    concept_topk`` off the stored positional stage — shares
    phrase_weighted_topk's DuckDB oracle (the full entry-point-1 query
    shape at serving latency)."""
    from .scoring.local import LocalSearcher
    from .webtext import disk_index_dir

    searcher = LocalSearcher(disk_index_dir(spark, sf_dir))
    rows = []
    for qid in sorted(CONCEPT_PHRASES):
        res = searcher.concept_topk(CONCEPT_PHRASES[qid], k=TOPK,
                                    rank_round=RANK_ROUND)
        for rank, (doc_id, score) in enumerate(res, 1):
            rows.append((qid, doc_id, rank, round(score, SCORE_ROUND)))
    return local_frame(
        spark, rows, "qid string, doc_id long, rank long, score double"
    )


def _concept_indri_topics() -> dict:
    """CONCEPT_PHRASES rendered as the Indri strings an
    indriRunQuery.cfg carries (all 2-term phrases here)."""
    return {
        qid: (
            f"#weight({W_TERM} #combine({p}) "
            f"{W_OD} #od4({p}) {W_UW} #uw{UW2_N}({p}))"
        )
        for qid, p in CONCEPT_PHRASES.items()
    }


def q_phrase_rm3_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R4 × R2: RM3 PRF over the STRUCTURED concept queries — the
    reference's full entry-point-1 retrieval, whose cfgs carry the
    rendered #weight query AND <fbDocs>/<fbTerms> together
    (umls/umlsSeqPubMed.ipynb:602-603): feedback run on the phrase
    clauses, RM1 expansion, final interpolated re-run."""
    from .scoring.phrase import indri_rm3_topk
    from .webtext import positional_index

    idx = doc_index(spark, sf_dir)
    positional = positional_index(spark, sf_dir)
    out = indri_rm3_topk(
        spark, idx, positional, _concept_indri_topics(), k=TOPK,
        fb_docs=FB_DOCS, fb_terms=FB_TERMS, orig_weight=ORIG_W,
        rank_round=RANK_ROUND,
    )
    return out.select(
        "qid",
        "doc_id",
        F.col("rank").cast("long").alias("rank"),
        F.round("score", SCORE_ROUND).alias("score"),
    )


def q_local_indri_rm3_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving-tier analogue of q_phrase_rm3_topk: the whole
    structured-query PRF loop (phrase feedback run, stored-forward-index
    RM1, interpolated re-run) in ``LocalSearcher`` without Spark —
    shares phrase_rm3_topk's oracle."""
    from .scoring.local import LocalSearcher
    from .webtext import disk_index_dir

    searcher = LocalSearcher(disk_index_dir(spark, sf_dir))
    rows = []
    for qid, text in sorted(_concept_indri_topics().items()):
        res = searcher.indri_rm3_topk(
            text, k=TOPK, fb_docs=FB_DOCS, fb_terms=FB_TERMS,
            orig_weight=ORIG_W, rank_round=RANK_ROUND,
        )
        for rank, (doc_id, score) in enumerate(res, 1):
            rows.append((qid, doc_id, rank, round(score, SCORE_ROUND)))
    return local_frame(
        spark, rows, "qid string, doc_id long, rank long, score double"
    )


def q_lm_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirichlet query-likelihood top-k (the reference's `method:dir,
    mu:1600` rule, configs/trec7n8) — same query set and top-k contract
    as q_bm25_topk, scored by scoring/lm.py."""
    from .scoring.lm import dirichlet_topk

    idx = doc_index(spark, sf_dir)
    qt = query_term_table(queries_df(spark))
    out = dirichlet_topk(idx, qt, k=TOPK, mu=1600.0, rank_round=RANK_ROUND)
    return out.select(
        "qid",
        "doc_id",
        F.col("rank").cast("long").alias("rank"),
        F.round("score", SCORE_ROUND).alias("score"),
    )


def q_lm_rm3_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RM3 PRF with Dirichlet-LM feedback and final pass (the
    reference's actual Indri PRF configuration — fbDocs/fbTerms under
    method:dir): feedback-doc posteriors are a softmax over log-QL
    scores (expansion/rm3.py method='dir')."""
    from .expansion.rm3 import rm3_topk

    idx = doc_index(spark, sf_dir)
    qt = query_term_table(queries_df(spark))
    out = rm3_topk(
        idx, qt, k=TOPK, fb_docs=FB_DOCS, fb_terms=FB_TERMS,
        orig_weight=ORIG_W, rank_round=RANK_ROUND, method="dir", mu=1600.0,
    )
    return out.select(
        "qid",
        "doc_id",
        F.col("rank").cast("long").alias("rank"),
        F.round("score", SCORE_ROUND).alias("score"),
    )


def q_two_stage_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage-smoothing top-k (the reference's CDS14 `method:two`
    rule, configs/cds14/indriRunQuery.cfg) — scoring/lm.py."""
    from .scoring.lm import two_stage_topk

    idx = doc_index(spark, sf_dir)
    qt = query_term_table(queries_df(spark))
    out = two_stage_topk(idx, qt, k=TOPK, mu=1600.0, lam=0.4,
                         rank_round=RANK_ROUND)
    return out.select(
        "qid",
        "doc_id",
        F.col("rank").cast("long").alias("rank"),
        F.round("score", SCORE_ROUND).alias("score"),
    )


def q_rm3_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = doc_index(spark, sf_dir)
    qt = query_term_table(queries_df(spark))
    out = rm3_expand_df(
        idx, qt, fb_docs=FB_DOCS, fb_terms=FB_TERMS, orig_weight=ORIG_W,
        rank_round=RANK_ROUND,
    )
    return out.select("qid", "term", F.round("weight", 6).alias("weight"))


def q_bm25_rm3_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = doc_index(spark, sf_dir)
    qt = query_term_table(queries_df(spark))
    out = rm3_topk(
        idx, qt, k=TOPK, fb_docs=FB_DOCS, fb_terms=FB_TERMS,
        orig_weight=ORIG_W, rank_round=RANK_ROUND,
    )
    return out.select(
        "qid",
        "doc_id",
        F.col("rank").cast("long").alias("rank"),
        F.round("score", SCORE_ROUND).alias("score"),
    )


P_CUTS = [5, 10, 20, 100]      # trec_eval P_k ladder (subset)
NDCG_CUTS = [10, 100]
# F6 hard-topics projection: the frozen "hard" subset of the query set
# (stopword-dominated q10, OOV-bearing q11, short ambiguous q07) — the
# reference slices its per-topic tables to such a list (hardTopics
# filter, optParams/wsdm12-improved-NThrsh-coordAsc.ipynb cell 13)
HARD_TOPICS = ["q07", "q10", "q11"]


def q_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = doc_index(spark, sf_dir)
    qt = query_term_table(queries_df(spark))
    run = score_topk(idx, qt, k=TOPK, rank_round=RANK_ROUND).select(
        "qid", "doc_id", "rank", "score"
    )
    qrels = pseudo_qrels(spark, sf_dir)
    out = evaluate(run, qrels, p_at=P_CUTS, ndcg_at=NDCG_CUTS)
    return out.select("metric", "qid", F.round("value", 6).alias("value"))


def q_hard_topics_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 hard-topics projection: the run sliced to HARD_TOPICS before
    evaluation, so every metric (including 'all') aggregates over the
    hard subset only."""
    idx = doc_index(spark, sf_dir)
    qt = query_term_table(queries_df(spark))
    run = (
        score_topk(idx, qt, k=TOPK, rank_round=RANK_ROUND)
        .filter(F.col("qid").isin(HARD_TOPICS))      # <- F6, the projection
        .select("qid", "doc_id", "rank", "score")
    )
    out = evaluate(run, pseudo_qrels(spark, sf_dir), p_at=[10], ndcg_at=[10])
    return out.select("metric", "qid", F.round("value", 6).alias("value"))


GRID_K1B = [(0.9, 0.4), (1.2, 0.75), (1.6, 0.3), (2.0, 0.75)]


def q_grid_search_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 parameter-sweep argmax (the reference trains by sweeping
    settings and keeping the max-MAP one, optParams/wsdm12-improved-
    NThrsh-coordAsc.ipynb:1356-1399, argmax :1382): MAP over the
    pseudo-qrels at each (k1, b) grid point, ranked best-first (MAP
    desc, k1 asc). The sweep loop stays in the driver (SURVEY §7 hard
    part iv); the oracle replays every grid point's retrieval + AP."""
    from functools import reduce

    idx = doc_index(spark, sf_dir)
    qt = query_term_table(queries_df(spark))
    qrels = pseudo_qrels(spark, sf_dir)
    # ONE Spark action for the whole sweep: each grid point's run gets a
    # "g{i}|" qid prefix, the prefixed runs/qrels union, and a single
    # evaluate() pass yields every point's per-query APs together (the
    # 4-round driver loop was 4x the stage latency for identical math;
    # the sweep ITSELF stays driver-side per SURVEY §7 hard part iv).
    runs, qr_all = [], []
    for i, (k1, b) in enumerate(GRID_K1B):
        tag = F.concat(F.lit(f"g{i}|"), F.col("qid")).alias("qid")
        runs.append(
            score_topk(idx, qt, k=TOPK, k1=k1, b=b, rank_round=RANK_ROUND)
            .select(tag, "doc_id", "rank", "score")
        )
        qr_all.append(qrels.select(tag, "doc_id", "rel"))
    m = evaluate(
        reduce(DataFrame.unionByName, runs),
        reduce(DataFrame.unionByName, qr_all),
        p_at=[10], ndcg_at=[10],
    )
    per_q = m.filter(
        (F.col("metric") == "map") & (F.col("qid") != "all")
    ).collect()
    rows = []
    for i, (k1, b) in enumerate(GRID_K1B):
        # mean over qids ordered by qid — the same arithmetic evaluate's
        # 'all' row performs, reassembled per grid point
        vals = [r["value"] for r in sorted(per_q, key=lambda r: r["qid"])
                if r["qid"].startswith(f"g{i}|")]
        rows.append((float(k1), float(b), round(sum(vals) / len(vals), 6)))
    rows.sort(key=lambda r: (-r[2], r[0]))
    return local_frame(
        spark,
        [(k1, b, m, i + 1) for i, (k1, b, m) in enumerate(rows)],
        "k1 double, b double, map double, rank long",
    )


ASSOC_MIN_DF_BOTH = 2
ASSOC_N_TERMS = 10


def q_assoc_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`assoc` method (evals/assoc*/ golden families): candidates
    weighted by a static association score — here the corpus-derived
    doc-set Jaccard table — instead of the 14-feature combine."""
    from .expansion.assoc import assoc_expand

    idx = doc_index(spark, sf_dir)
    qt = query_term_table(queries_df(spark))
    out = assoc_expand(
        idx, qt, n_terms=ASSOC_N_TERMS, min_df_both=ASSOC_MIN_DF_BOTH,
        rank_round=RANK_ROUND + 3,
    )
    return out.select("qid", "term", F.round("weight", 6).alias("weight"))


def q_inferred_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 inferred measures (sample_eval.pl analogue — the reference's
    CDS14 headline metric is infNDCG): infAP/infNDCG over a
    deterministic 50% 'sample' of the pseudo-qrels (doc_id even,
    rate 0.5), so the DuckDB oracle recomputes the IPW estimators
    value-for-value."""
    from .evalmetrics import evaluate_inferred

    idx = doc_index(spark, sf_dir)
    qt = query_term_table(queries_df(spark))
    run = score_topk(idx, qt, k=TOPK, rank_round=RANK_ROUND).select(
        "qid", "doc_id", "rank", "score"
    )
    sq = pseudo_qrels(spark, sf_dir).filter(
        F.col("doc_id") % 2 == 0
    ).withColumn("rate", F.lit(0.5))
    out = evaluate_inferred(run, sq)
    return out.select("metric", "qid", F.round("value", 6).alias("value"))


def q_cooccur_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hop co-occurrence expansion: J1 graph lookup + A1 mutual-count
    filter + F5 orig-term exclusion + T1 top-N, over the corpus itself."""
    idx = doc_index(spark, sf_dir)
    qt = local_frame(
        spark,
        [(q, t) for q, t, _ in query_term_rows()], "qid string, term string"
    ).distinct()
    qdocs = (
        idx.postings_flat.join(F.broadcast(qt), "term")
        .select("qid", "doc_id")
        .distinct()
    )
    cands = (
        qdocs.join(idx.postings_flat.select("doc_id", F.col("term").alias("cand")), "doc_id")
        .groupBy("qid", "cand")
        .agg(F.count_distinct("doc_id").cast("long").alias("n_docs"))
        .join(
            qt.select("qid", F.col("term").alias("cand")),
            ["qid", "cand"],
            "left_anti",
        )
        .filter(F.col("n_docs") >= COOC_MIN_DOCS)
    )
    w = Window.partitionBy("qid").orderBy(F.desc("n_docs"), F.asc("cand"))
    return (
        cands.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("qid", "cand", "n_docs", "rank")
    )


FEAT_TOP_T = FB_DOCS       # feedback docs feeding the 14-feature block
FEAT_EDGE_MIN = 5          # df_both threshold of the corpus-derived graph
FEAT_N_TERMS = 5           # expansion terms kept per query (T1 head-N)
SEQ_LAYER_TERMS = (5, 3)   # per-layer truncation (T3)
SEQ_LAYER_WEIGHTS = (0.3, 0.05)  # reference layer weights (umls :525-544)


def q_feature_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 14-feature block (weightRelConcept, optParams/wsdm12-improved-
    NThrsh-coordAsc.ipynb:767-891) + A4 per-query sum-normalization
    (:903-958) + A5 weighted combine + A6 cross-orig accumulation + T1
    top-N selection (:1027-1043), with J1 candidate generation over the
    corpus-derived co-occurrence graph and F5 orig-term exclusion. The
    DuckDB oracle recomputes all 14 features value-for-value."""
    from .expansion.concept_graph import (
        concept_features,
        normalize_and_combine,
        select_expansion_terms,
    )

    idx = doc_index(spark, sf_dir)
    qt = query_term_table(queries_df(spark))
    edges = cooccur_edges(spark, sf_dir, min_df_both=FEAT_EDGE_MIN)
    feats = concept_features(
        idx, qt, edges, top_t=FEAT_TOP_T, rank_round=RANK_ROUND,
    )
    weighted = normalize_and_combine(feats)
    sel = select_expansion_terms(
        weighted, n_terms=FEAT_N_TERMS, rank_round=RANK_ROUND
    )
    # materialize (≤ queries × FEAT_N_TERMS rows) and rank client-side
    # on the same (rounded weight desc, cand asc) key the selection
    # used — no second window pass
    rows = sel.select("qid", "cand", "weight").collect()
    rows.sort(key=lambda r: (r["qid"], -round(r["weight"], RANK_ROUND), r["cand"]))
    out, rank, prev_qid = [], 0, None
    for r in rows:
        rank = rank + 1 if r["qid"] == prev_qid else 1
        prev_qid = r["qid"]
        out.append((r["qid"], r["cand"], round(r["weight"], SCORE_ROUND), rank))
    return local_frame(
        spark, out, "qid string, cand string, weight double, rank long"
    )


def q_sequential_expand_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entry point 1 end-to-end: R5 sequential layered expansion
    (2 layers, dist=1,2 — optParams/...coordAsc.ipynb cells 25-30) with
    T3 per-layer truncation, then the R2 final run
    `#weight(0.7 orig 0.3 layer1 0.05 layer2)` scored with BM25 (T2).
    The DuckDB oracle replays both layers' feature blocks and the final
    weighted retrieval."""
    from .expansion.concept_graph import expanded_topk

    idx = doc_index(spark, sf_dir)
    qt = query_term_table(queries_df(spark))
    edges = cooccur_edges(spark, sf_dir, min_df_both=FEAT_EDGE_MIN)
    out = expanded_topk(
        idx, qt, edges, k=TOPK, orig_weight=ORIG_W,
        layers=2, per_layer_terms=SEQ_LAYER_TERMS,
        layer_weights=SEQ_LAYER_WEIGHTS, top_t=FEAT_TOP_T,
        rank_round=RANK_ROUND,
    )
    return out.select(
        "qid",
        "doc_id",
        F.col("rank").cast("long").alias("rank"),
        F.round("score", SCORE_ROUND).alias("score"),
    )


# ---------------------------------------------------------------------------
# Deterministic source fixtures (UMLS RRF / ConceptNet CSV / TREC SGML).
# The FIXTURE rows are shared between the Spark side (written to disk and
# read through the real source readers) and the oracle (inlined as SQL
# VALUES); the TRANSFORMS — gates, normalization, joins — are recomputed
# independently by each engine.
# ---------------------------------------------------------------------------

_FIXTURE_PATHS: dict = {}


def _umls_fixture() -> tuple:
    """UMLS-style RRF rows derived from the frozen query vocabulary.

    Per query term t (cui Qi): one valid preferred MRCONSO row, one
    related concept CAi ("t disorder", good STY T184; every third gets
    bracket noise exercising X2), one CBi ("t chaos", bad STY — F2 must
    drop it), plus one gate-violating MRCONSO row per F1 gate
    (lat/ts/stt/ispref) and a digit-bearing name (X3 alpha gate) — each
    with a DISTINCT name, so any leaked row surfaces as extra output.
    MRREL: t->CAi (doubled for even i: A1 multiplicity), t->CBi, a
    self-loop (dropped), and t->t' chains between consecutive vocabulary
    terms (F5: excluded only for queries containing both).
    """
    terms = sorted({t for _, t, _ in query_term_rows()})
    cui = {t: f"C{i:07d}" for i, t in enumerate(terms)}
    mrconso, mrrel, mrsty = [], [], []

    def conso(c, lat, ts, stt, ispref, s):
        row = [""] * 18
        row[0], row[1], row[2], row[4], row[6], row[14] = (
            c, lat, ts, stt, ispref, s,
        )
        mrconso.append(row)

    def rel(src, r, dst):
        row = [""] * 16
        row[0], row[3], row[4] = src, r, dst
        mrrel.append(row)

    for i, t in enumerate(terms):
        conso(cui[t], "ENG", "P", "PF", "Y", t)
        mrsty.append([cui[t], "T047"])
        ca, cb = f"CA{i:06d}", f"CB{i:06d}"
        name_a = f"{t} (finding) disorder" if i % 3 == 0 else f"{t} disorder"
        conso(ca, "ENG", "P", "PF", "Y", name_a)
        conso(cb, "ENG", "P", "PF", "Y", f"{t} chaos")
        mrsty.append([ca, "T184"])
        mrsty.append([ca, "T999"])     # extra STY: semi-join must not dup
        mrsty.append([cb, "T999"])     # bad STY only -> F2 drops edges to cb
        # F1 gate violations + X3 alpha gate, each with a unique name
        conso(ca, "FRE", "P", "PF", "Y", f"{t} trouble")
        conso(ca, "ENG", "S", "PF", "Y", f"{t} syndrome")
        conso(ca, "ENG", "P", "VCW", "Y", f"{t} illness")
        conso(ca, "ENG", "P", "PF", "N", f"{t} malady")
        conso(ca, "ENG", "P", "PF", "Y", f"{t} disorder 2")
        rel(cui[t], "RO", ca)
        if i % 2 == 0:
            rel(cui[t], "RO", ca)      # duplicate edge -> weight 2
        rel(cui[t], "RB", cb)
        rel(cui[t], "SY", cui[t])      # self-loop -> dropped
        if i + 1 < len(terms):
            rel(cui[t], "RO", cui[terms[i + 1]])
    return mrconso, mrrel, mrsty


def _umls_fixture_dir() -> str:
    if "umls" not in _FIXTURE_PATHS:
        import os
        import tempfile

        d = tempfile.mkdtemp(prefix="sqe_umls_")
        mrconso, mrrel, mrsty = _umls_fixture()
        for name, rows in (
            ("MRCONSO.RRF", mrconso),
            ("MRREL.RRF", mrrel),
            ("MRSTY.RRF", [r + [""] * 4 for r in mrsty]),
        ):
            with open(os.path.join(d, name), "w") as f:
                f.write("\n".join("|".join(r) for r in rows) + "\n")
        _FIXTURE_PATHS["umls"] = d
    return _FIXTURE_PATHS["umls"]


def _conceptnet_rows() -> list:
    """(rel, start, end) triples: valid edges between query-vocabulary
    terms plus one non-printable row (F3 must drop it and its inverse)."""
    terms = sorted({t for _, t, _ in query_term_rows()})
    rows = []
    for i, t in enumerate(terms):
        rows.append(("RelatedTo", t, f"{t}ness"))
        if i + 1 < len(terms):
            rows.append(("IsA", t, terms[i + 1]))
    rows.append(("RelatedTo", "café", "coffee"))  # non-printable src
    rows.append(("RelatedTo", "tea", "café"))     # non-printable dst
    return rows


def _conceptnet_path() -> str:
    if "conceptnet" not in _FIXTURE_PATHS:
        import os
        import tempfile

        d = tempfile.mkdtemp(prefix="sqe_cnet_")
        p = os.path.join(d, "edges.csv")
        with open(p, "w", encoding="utf-8") as f:
            f.write("\n".join(",".join(r) for r in _conceptnet_rows()) + "\n")
        _FIXTURE_PATHS["conceptnet"] = p
    return _FIXTURE_PATHS["conceptnet"]


def _sgml_qid_map() -> dict:
    return {qid: str(351 + i) for i, qid in enumerate(sorted(WEB_QUERIES))}


def _trec_topics_sgml_path() -> str:
    if "topics" not in _FIXTURE_PATHS:
        import os
        import tempfile

        d = tempfile.mkdtemp(prefix="sqe_topics_")
        m = _sgml_qid_map()
        lines = []
        for qid in sorted(WEB_QUERIES):
            lines += [
                "<top>",
                "",
                f"<num> Number: {m[qid]}",
                f"<title> {WEB_QUERIES[qid]}",
                "",
                "<desc> Description:",
                "free text the parser must ignore",
                "</top>",
            ]
        p = os.path.join(d, "topics.sgml")
        with open(p, "w") as f:
            f.write("\n".join(lines) + "\n")
        _FIXTURE_PATHS["topics"] = p
    return _FIXTURE_PATHS["topics"]


def q_umls_concept_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 RRF scan with the F1 ENG/P/PF/Y gates + X2 bracket-strip + X3
    alpha gate (readRrfFile, umls/umlsSeqPubMed.ipynb:70-128), S4/F2 STY
    whitelist, J1 1-hop MRREL expansion with A1 edge multiplicity, J2
    cui->name join, F4 candidate validity (name AND good STY), F5
    orig-term exclusion — over the deterministic RRF fixture, with the
    oracle recomputing every gate from the same raw rows."""
    from .sources.graph import (
        GOOD_TUIS,
        read_mrconso,
        read_mrrel,
        read_mrsty,
        sty_whitelist_filter,
    )

    d = _umls_fixture_dir()
    names = read_mrconso(spark, f"{d}/MRCONSO.RRF")
    sty = read_mrsty(spark, f"{d}/MRSTY.RRF")
    edges = sty_whitelist_filter(
        read_mrrel(spark, f"{d}/MRREL.RRF"), sty, GOOD_TUIS
    )
    qt = local_frame(
        spark,
        [(q, t) for q, t, _ in query_term_rows()], "qid string, term string"
    ).distinct()
    qcui = qt.join(names.withColumnRenamed("name", "term"), "term")
    cand = (
        qcui.select("qid", F.col("cui").alias("src"))
        .join(edges, "src")
        .join(
            names.select(
                F.col("cui").alias("dst"), F.col("name").alias("cand_name")
            ),
            "dst",
        )
        .join(
            qt.select("qid", F.col("term").alias("cand_name")),
            ["qid", "cand_name"],
            "left_anti",
        )
        .groupBy("qid", F.col("dst").alias("cui"), "cand_name")
        .agg(F.sum("weight").cast("long").alias("weight"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("weight"), F.asc("cui"))
    return cand.withColumn("rank", F.row_number().over(w).cast("long")).select(
        "qid",
        "cui",
        "cand_name",
        # X8: multiword concept names become underscore query tokens
        # (w.replace(" ","_"), optParams/...coordAsc.ipynb cell 16)
        F.regexp_replace("cand_name", " ", "_").alias("concept_key"),
        "weight",
        "rank",
    )


LIVE_DELETE_MOD = 50           # tombstone every 50th doc_id
_LIVE_DELETE_DIRS: dict = {}   # sf_dir -> (index copy dir, compacted?)


def q_live_delete_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S14 end-to-end, driver-verified: tombstone every
    ``LIVE_DELETE_MOD``-th doc on a copy of the serving index, answer the
    query set LIVE (tombstone anti-joins; WAND stays disabled because the
    stale block-max bounds are unsound once deletes raise idf —
    index/maintenance.py module docstring), then ``compact_index`` and
    re-answer through the re-encoded blocked postings + WAND kernel.
    Both phases must equal BM25 over the surviving docs — one oracle
    (documents minus doc_id % mod == 0), two phases.

    The live phase is materialized BEFORE compact mutates the directory,
    so the tombstone path genuinely executes."""
    import shutil
    import tempfile

    from .index import maintenance as mt
    from .index.checkpoint import load_index
    from .scoring.wand import wand_topk
    from .webtext import disk_index_dir

    if sf_dir not in _LIVE_DELETE_DIRS:
        import atexit

        src = disk_index_dir(spark, sf_dir)
        work = tempfile.mkdtemp(prefix="sqe_livedel_")
        atexit.register(shutil.rmtree, work, ignore_errors=True)
        d = work + "/idx"
        shutil.copytree(src, d)
        docmap = spark.read.parquet(f"{d}/docmap")
        mt.delete_docs(
            spark, d,
            docmap.filter(F.col("doc_id") % LIVE_DELETE_MOD == 0)
            .select("doc_id"),
        )
        _LIVE_DELETE_DIRS[sf_dir] = {"dir": d, "compacted": False}
    state = _LIVE_DELETE_DIRS[sf_dir]
    d = state["dir"]
    qt = query_term_table(queries_df(spark))

    def run_rows(idx, use_wand: bool, phase: str) -> list:
        if use_wand:
            out = wand_topk(idx, qt, k=TOPK, salt_ranges=8,
                            rank_round=RANK_ROUND)
        else:
            out = score_topk(idx, qt, k=TOPK, rank_round=RANK_ROUND,
                             with_url=False)
        return [
            (r["qid"], r["doc_id"], int(r["rank"]),
             round(r["score"], SCORE_ROUND), phase)
            for r in out.select("qid", "doc_id", "rank", "score").collect()
        ]

    rows = run_rows(mt.load_index_live(spark, d), False, "live")
    if not state["compacted"]:
        mt.compact_index(spark, d, codec="pfor")
        state["compacted"] = True
    rows += run_rows(load_index(spark, d), True, "compacted")
    return local_frame(
        spark,
        rows,
        "qid string, doc_id long, rank long, score double, phase string",
    )


MERGE_SPLIT = 250              # docs < SPLIT -> input A, rest -> input B
MERGE_DEL_MOD = 25             # pre-merge: delete every 25th id from A
_MERGE_DIRS: dict = {}


def q_merge_then_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13 repository merge end-to-end, driver-verified — Indri's
    `dumpindex m` (occuranceCount.cpp:700-708) via
    ``index/maintenance.merge_indexes``: split documents into two
    checkpointed indexes, tombstone + compact input A first (leaving
    NON-contiguous doc ids — the id-offset regression case), merge,
    then answer the query set through the merged index's re-encoded
    blocked postings + WAND. Output keys on url (== original doc_id
    string), which survives the merge renumbering, so one oracle —
    BM25 over the surviving union — verifies doc identity, ranks AND
    scores (df/cf/avgdl/n_docs must all have been rebuilt over the
    union for the scores to match)."""
    import shutil
    import tempfile

    from .index import maintenance as mt
    from .index.checkpoint import build_index_checkpointed, load_index
    from .scoring.wand import wand_topk

    if sf_dir not in _MERGE_DIRS:
        import atexit

        work = tempfile.mkdtemp(prefix="sqe_merge_")
        atexit.register(shutil.rmtree, work, ignore_errors=True)
        docs = load_documents(spark, sf_dir).select("doc_id", "text")
        a, b, out = f"{work}/a", f"{work}/b", f"{work}/merged"
        build_index_checkpointed(
            spark, docs.filter(F.col("doc_id") < MERGE_SPLIT), a,
            num_buckets=8,
        )
        build_index_checkpointed(
            spark, docs.filter(F.col("doc_id") >= MERGE_SPLIT), b,
            num_buckets=8,
        )
        mt.delete_docs(
            spark, a, list(range(0, MERGE_SPLIT, MERGE_DEL_MOD))
        )
        mt.compact_index(spark, a)
        mt.merge_indexes(spark, out, [a, b])
        _MERGE_DIRS[sf_dir] = out
    idx = load_index(spark, _MERGE_DIRS[sf_dir])
    qt = query_term_table(queries_df(spark))
    run = wand_topk(idx, qt, k=TOPK, salt_ranges=8, rank_round=RANK_ROUND)
    # renumbered ids map back through docmap's url; the id->url map is
    # monotone per input and inputs stay id-ordered, so the oracle's
    # original-doc_id tie-break order is preserved
    return run.join(idx.docmap, "doc_id").select(
        "qid", "url", F.col("rank").cast("long").alias("rank"),
        F.round("score", SCORE_ROUND).alias("score"),
    )


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-doc repetition gates (operators/text_analysis
    .repetition_stats): zero-shuffle per-row array algebra; the oracle
    recomputes multiplicities relationally (explode → GROUP BY) — a
    different op shape on purpose, so the sorted-adjacency/longest-run
    kernel is verified against an independent counting method."""
    return text_analysis.repetition_stats(load_documents(spark, sf_dir))


DECON_N = 8                    # n-gram order for decontamination
DECON_THRESHOLD = 0.5
DECON_BENCH_ITEMS = 5          # bench items derived from the corpus
DECON_SPAN = (5, 15)           # tokens 5..19 of each source doc
DECON_MIN_TOKENS = 24


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/decontam.ngram_overlap):
    bench items are 15-token spans lifted from the corpus's 5 smallest
    long docs, so every item's source doc must flag at overlap 1.0 (plus
    any byte-duplicate of it) — the entry cannot be vacuously green. The
    oracle re-derives the bench spans and the distinct-8-gram overlap
    from the raw documents table."""
    from .operators import decontam

    docs = load_documents(spark, sf_dir)
    d = docs.select("doc_id", tokenize_col(F.col("text")).alias("toks"))
    off, span = DECON_SPAN
    bench = (
        d.filter(F.size("toks") >= DECON_MIN_TOKENS)
        .orderBy("doc_id")
        .limit(DECON_BENCH_ITEMS)
        .select(
            F.col("doc_id").alias("bench_id"),
            F.concat_ws(" ", F.expr(f"slice(toks, {off}, {span})")).alias("text"),
        )
    )
    return decontam.ngram_overlap(
        docs, bench, n=DECON_N, threshold=DECON_THRESHOLD
    )


def _planted_url_col():
    """Deterministic variant URLs derived from doc_id: every group of 4
    consecutive ids carries the same page behind scheme/www/query/
    fragment/case noise — shared by q_url_dedup and the training-set
    pipeline entry."""
    base = F.floor(F.col("doc_id") / 4).cast("long")
    v = F.col("doc_id") % 4
    return (
        F.when(v == 0, F.concat(F.lit("https://example.org/p"), base))
        .when(v == 1, F.concat(F.lit("http://www.example.org/p"), base, F.lit("/")))
        .when(v == 2, F.concat(F.lit("https://example.org/p"), base,
                               F.lit("?utm_source=feed")))
        .otherwise(F.concat(F.lit("HTTPS://EXAMPLE.ORG/p"), base, F.lit("#frag")))
    )


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup (operators/dedup.url_dedup) over deterministic
    variant URLs derived from doc_id: every group of 4 consecutive ids
    carries the same page behind scheme/www/query/fragment/case noise,
    and both engines must canonicalize all four variants together."""
    docs = load_documents(spark, sf_dir).select(
        "doc_id", _planted_url_col().alias("url")
    )
    return dedup.url_dedup(docs).select(
        "canonical",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("keep_doc").cast("long").alias("keep_doc"),
        F.array_join("dup_docs", ",").alias("dup_csv"),
    )


MIX_RATES = {"src0": 0.0, "src1": 0.25, "src2": 0.5, "src3": 0.75}
MIX_DEFAULT = 1.0
MIX_SALT = "mix"
PACK_CAP = 96                  # tokens per packed training sequence


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture sampling (operators/training_prep
    .mixture_sample): per-source keep rates via an md5-prefix hash, so
    the DuckDB oracle replays the exact surviving row set (the hash int
    is 24-bit over a power-of-two modulus — the u < rate comparison is
    exact in float64 in both engines). src0 at rate 0 proves drops;
    unlisted sources default to 1.0 and must appear with weight 1."""
    from .operators import training_prep

    docs = load_documents(spark, sf_dir).select("doc_id", "source")
    out = training_prep.mixture_sample(
        docs, MIX_RATES, default_rate=MIX_DEFAULT, salt=MIX_SALT
    )
    return out.select(
        "doc_id", "source", F.round("sample_weight", 6).alias("sample_weight")
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (operators/training_prep.pack_sequences): global
    token offsets from a distributed two-pass prefix sum (per-partition
    sums -> broadcast offsets -> within-partition windows; NEVER a
    global no-partition window). The oracle computes the same offsets
    with one global SQL window — independent op shapes, identical
    start/bin/overflow values."""
    from .operators import training_prep

    toks = tokenize_col(F.col("text"))
    d = load_documents(spark, sf_dir).select(
        "doc_id", F.size(toks).cast("long").alias("n_tokens")
    )
    with Caches() as caches:
        out = training_prep.pack_sequences(d, capacity=PACK_CAP, caches=caches)
        return local_frame(spark, out.collect(), out.schema.simpleString())


REP_MIN_TOKENS = 24            # training-set gate: minimum tokens
REP_MAX_DUP = 0.6              # training-set gate: max dup_word_frac


def q_training_set_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capstone pipeline entry: EVERY pre-training pass chained over
    one corpus, end-to-end value-oracled —

      URL dedup (keep smallest id per canonical URL)
      -> corpus-level line dedup over re-lined text + planted boilerplate
      -> PII redaction (planted emails/IPs/phones)
      -> Gopher repetition gate (n_tokens >= 24, dup_word_frac <= 0.6,
         computed on the REDACTED deduped text)
      -> benchmark decontamination (drop flagged docs)
      -> mixture sampling by source (importance weights)
      -> sequence packing into 96-token bins

    Each stage reuses the operator the standalone entries verify; the
    oracle composes the stage CTEs, so a single wrong byte anywhere in
    the chain (a line wrongly dropped, a redaction off by one char, a
    gate rounding differently) shifts every downstream token offset and
    fails the value hash. -> (doc_id, source, n_tokens, sample_weight,
    start_tok, bin_id, overflow, text_fp)."""
    from .operators import decontam, pii, training_prep

    docs = load_documents(spark, sf_dir)
    # 1. URL dedup: survivors are each group's keep_doc
    keep = dedup.url_dedup(
        docs.select("doc_id", _planted_url_col().alias("url"))
    ).select(F.col("keep_doc").alias("doc_id"))
    d1 = docs.join(keep, "doc_id").select(
        "doc_id", "source", tokenize_col(F.col("text")).alias("toks")
    )
    # 2. line dedup over the re-lined survivor corpus
    ld = dedup.line_dedup(
        d1.select("doc_id", _relined_text_col().alias("text")), min_count=2
    ).select("doc_id", F.col("text_dedup").alias("text1"))
    # 3. PII plant + redaction
    d3 = ld.select(
        "doc_id",
        pii.redact_col(_pii_planted_col(F.col("text1"))).alias("text2"),
    )
    # 4. repetition gate on the redacted text
    rs = text_analysis.repetition_stats(
        d3.select("doc_id", F.col("text2").alias("text"))
    )
    good = rs.filter(
        (F.col("n_tokens") >= REP_MIN_TOKENS)
        & (F.col("dup_word_frac") <= REP_MAX_DUP)
    ).select("doc_id", "n_tokens")
    d4 = d3.join(good, "doc_id")
    # 5. decontamination: bench spans from the ORIGINAL corpus, matched
    # against the pipeline text
    dt = docs.select("doc_id", tokenize_col(F.col("text")).alias("toks"))
    off, span = DECON_SPAN
    bench = (
        dt.filter(F.size("toks") >= DECON_MIN_TOKENS)
        .orderBy("doc_id")
        .limit(DECON_BENCH_ITEMS)
        .select(
            F.col("doc_id").alias("bench_id"),
            F.concat_ws(" ", F.expr(f"slice(toks, {off}, {span})")).alias("text"),
        )
    )
    flagged = (
        decontam.ngram_overlap(
            d4.select("doc_id", F.col("text2").alias("text")), bench,
            n=DECON_N, threshold=DECON_THRESHOLD,
        )
        .filter("flagged")
        .select("doc_id")
        .distinct()
    )
    d5 = d4.join(flagged, "doc_id", "left_anti")
    with Caches() as caches:
        # 6. mixture sampling by source (source rejoined from the
        # corpus), cached: pack_sequences and the final join both read
        # samp — uncached, the whole 6-stage lineage executes twice
        samp = caches.persist(training_prep.mixture_sample(
            d5.join(docs.select("doc_id", "source"), "doc_id"),
            MIX_RATES, default_rate=MIX_DEFAULT, salt=MIX_SALT,
        ))
        # 7. sequence packing over the sampled survivors
        packed = training_prep.pack_sequences(
            samp.select("doc_id", "n_tokens"), capacity=PACK_CAP, caches=caches
        )
        out = packed.join(
            samp.select(
                "doc_id", "source",
                F.round("sample_weight", 6).alias("sample_weight"),
                F.md5(F.col("text2").cast("binary")).alias("text_fp"),
            ),
            "doc_id",
        ).select(
            "doc_id", "source", "n_tokens", "sample_weight",
            "start_tok", "bin_id", "overflow", "text_fp",
        )
        return local_frame(spark, out.collect(), out.schema.simpleString())


LINE_W = 6                     # tokens per synthetic line for line_dedup


def _relined_text_col():
    """Document text re-lined into LINE_W-token lines with planted
    boilerplate (a shared footer on every doc, one of three promo lines
    on every 5th) — the deterministic line_dedup fixture, shared by
    q_line_dedup and the training-set pipeline entry. Expects columns
    ``doc_id`` and ``toks``."""
    body = F.concat_ws(
        "\n",
        F.expr(
            f"IF(size(toks) = 0, CAST(array() AS array<string>), "
            f"transform(sequence(1, CAST(ceil(size(toks) / {LINE_W}.0) AS INT)), "
            f"i -> concat_ws(' ', slice(toks, (i - 1) * {LINE_W} + 1, {LINE_W}))))"
        ),
    )
    did = F.col("doc_id")
    return F.concat(
        body,
        F.lit("\nall rights reserved footer"),
        F.when(
            did % 5 == 0,
            F.concat(F.lit("\nsubscribe tier "), (did % 3).cast("string")),
        ).otherwise(F.lit("")),
    )


def _pii_planted_col(text_col):
    """``text_col`` with deterministic planted PII (emails on ids %3,
    IPs on %4, phones on %5) — shared by q_pii_scan and the training-set
    pipeline entry. Expects a ``doc_id`` column."""
    d = F.col("doc_id")

    def s(col):
        return col.cast("string")

    return F.concat(
        text_col,
        F.when(
            d % 3 == 0,
            F.concat(F.lit(" mail u"), s(d % 7), F.lit("@host"), s(d % 5),
                     F.lit(".example.org")),
        ).otherwise(F.lit("")),
        F.when(
            d % 4 == 0,
            F.concat(F.lit(" from 10."), s(d % 200), F.lit("."), s(d % 50),
                     F.lit(".7")),
        ).otherwise(F.lit("")),
        F.when(
            d % 5 == 0,
            F.concat(F.lit(" call 555-0"), s(d % 90 + 10), F.lit("-"),
                     s(d % 9000 + 1000)),
        ).otherwise(F.lit("")),
    )


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level line dedup (operators/dedup.line_dedup — the C4/CCNet
    boilerplate pass) over documents re-lined into 6-token lines with
    planted boilerplate: every doc gets the same footer line and every
    5th doc one of three promo lines, so the corpus-wide duplicate groups
    are guaranteed and only the first (doc_id, pos) occurrence of each
    may survive. The oracle rebuilds the lines and replays the keep rule
    with an independent op shape (count + row_number windows instead of
    the engine's groupBy-argmin + inner-join-drops); md5(text_dedup)
    pins the byte-level reassembly."""
    toks = tokenize_col(F.col("text"))
    d = load_documents(spark, sf_dir).select("doc_id", toks.alias("toks"))
    out = dedup.line_dedup(
        d.select("doc_id", _relined_text_col().alias("text")), min_count=2
    )
    return out.select(
        "doc_id",
        "n_lines",
        "n_kept",
        F.md5(F.col("text_dedup").cast("binary")).alias("text_fp"),
    )


def q_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot resolution (operators/dedup.latest_snapshot) over the
    planted URL variants plus a deterministic warc_ts (epoch seconds =
    base + doc_id // 2, so every 4-variant URL group holds two ts TIES
    and the (ts, id) struct-max must break them by id — the oracle
    replays the pick with a row_number window ordered ts DESC, id DESC,
    an independent op shape)."""
    ts = (F.lit(1_700_000_000) + F.floor(F.col("doc_id") / 2)).cast("long")
    docs = load_documents(spark, sf_dir).select(
        "doc_id", _planted_url_col().alias("url"), ts.alias("warc_ts")
    )
    return dedup.latest_snapshot(docs).select(
        "canonical",
        F.col("n_snapshots").cast("long").alias("n_snapshots"),
        F.col("keep_doc").cast("long").alias("keep_doc"),
        F.col("latest_ts").cast("long").alias("latest_ts"),
    )


def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (operators/pii.pii_scan) over the corpus
    text with deterministic planted PII (emails on ids %3, IPs on %4,
    phones on %5) so counts are non-trivially non-zero at every sf. The
    oracle replays the plant and the pattern table verbatim in RE2 (the
    patterns are restricted to Java/RE2-identical syntax) and matches
    md5(redacted) — byte-level masking is what the value check verifies."""
    from .operators import pii

    docs = load_documents(spark, sf_dir).select(
        "doc_id", _pii_planted_col(F.col("text")).alias("text")
    )
    return pii.pii_scan(docs).select(
        "doc_id",
        "n_email",
        "n_ipv4",
        "n_phone",
        "has_pii",
        F.md5(F.col("redacted").cast("binary")).alias("redacted_fp"),
    )


def q_conceptnet_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 ConceptNet CSV scan with the F3 printable-ASCII gate and the
    two-way adjacency insert (optParams/...coordAsc.ipynb:277-295)."""
    from .sources.graph import read_conceptnet_csv

    return read_conceptnet_csv(spark, _conceptnet_path(), with_inverse=True)


_INFLECT_SUFFIXES = ["", "s", "es", "ies", "ing", "ed"]


def q_stemmed_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 rule stemmer (functions/text.stem_py, replacing the
    reference's per-term Indri stem probes, occuranceCount.cpp:425-426)
    run through the real Arrow-batched ``stem_tokens`` UDF. The corpus
    vocabulary contains no stemmable surface forms, so BOTH engines
    derive inflected variants from it (term+s/es/ies/ing/ed and the
    doubled-final-letter forms) — every rule branch is exercised, and
    the oracle recomputes the cascade as SQL string functions."""
    from .functions.text import stem_tokens

    idx = doc_index(spark, sf_dir)
    base = idx.vocab.select("term")
    variants = [
        base.select(F.concat(F.col("term"), F.lit(sfx)).alias("token"))
        for sfx in _INFLECT_SUFFIXES
    ] + [
        base.select(
            F.concat(
                F.col("term"), F.substring(F.col("term"), -1, 1), F.lit(sfx)
            ).alias("token")
        )
        for sfx in ("ing", "ed")
    ]
    toks = variants[0]
    for v in variants[1:]:
        toks = toks.unionByName(v)
    return (
        toks.distinct()
        .withColumn("stem", stem_tokens(F.array("token")).getItem(0))
        .select("token", "stem")
    )


def indri_cfg_query_rows() -> list:
    """The cfg-roundtrip query set: the frozen queries PLUS expanded
    queries carrying underscored multiword concept tokens — X8's
    `w.replace(" ","_")` (optParams/...coordAsc.ipynb cell 16, raw
    ~966): the reference serializes multiword concept names as single
    underscore-joined query tokens. Including them here makes the XML
    serialize→parse roundtrip (and its oracle) verify that underscored
    tokens survive escaping, tokenization, and weight normalization."""
    extra = []
    for i, cid in enumerate(sorted(CONCEPT_PHRASES), 1):
        phrase = CONCEPT_PHRASES[cid]
        extra.append((f"x{i:02d}", phrase.replace(" ", "_"), 0.5))
        extra.append((f"x{i:02d}", phrase.split()[-1], 1.0))
    return query_term_rows() + extra


def q_indri_cfg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 Indri cfg sink closed end-to-end: serialize the frozen query
    set as an Indri `<parameters>` XML batch (write_indri_cfg, the shape
    genQueries emits at umls/umlsSeqPubMed.ipynb:555-633), read the file
    back, and execute each `<text>#weight(...)` through the indriql
    parser. Output = the parsed per-query term weights (indriql
    normalizes #weight masses to sum 1); the oracle recomputes the
    6-dp-serialized normalization from the raw query rows. The query
    set includes underscored multiword concept tokens (X8 — see
    indri_cfg_query_rows)."""
    import re
    import tempfile

    from .indriql import parse_indri_query
    from .sources.trec import write_indri_cfg

    qt = local_frame(
        spark, indri_cfg_query_rows(), "qid string, term string, weight double"
    )
    path = tempfile.mkdtemp(prefix="sqe_cfg_") + "/queries.cfg"
    write_indri_cfg(qt, path)
    rows = []
    for m in re.finditer(
        r"<query><number>(.*?)</number><text>(.*?)</text></query>",
        open(path).read(),
        re.DOTALL,
    ):
        qid, text = m.group(1), m.group(2)
        for term, w in parse_indri_query(text)[0]:
            rows.append((qid, term, round(w, 6)))
    return local_frame(spark, rows, "qid string, term string, weight double")


def q_trec_run_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 SGML topics parse -> tokenized query table -> BM25 top-k ->
    S11 6-col TREC run sink -> read back: the sink must be lossless at
    6 dp (format_string, NOT format_number whose locale separators
    corrupt scores >= 1000) and the SGML parse must reproduce the frozen
    query set, or the parsed run diverges from the oracle's retrieval."""
    import tempfile

    from .sources.trec import (
        read_trec_run,
        read_trec_topics_sgml,
        write_trec_run,
    )

    idx = doc_index(spark, sf_dir)
    topics = read_trec_topics_sgml(spark, _trec_topics_sgml_path())
    qt = query_term_table(topics)
    run = score_topk(idx, qt, k=TOPK, rank_round=RANK_ROUND)
    out_dir = tempfile.mkdtemp(prefix="sqe_run_") + "/run"
    write_trec_run(run, out_dir)
    back = read_trec_run(spark, out_dir)
    return back.select(
        "qid", "docno", F.col("rank").cast("long").alias("rank"), "score"
    )


WORKING_SET_MAX_DOC = 50
OD_PAIRS = [("hash", "join"), ("group", "agg"), ("sort", "order")]
OD_WINDOW = 4
# Concept queries for the phrase-clause *scoring* entry (the reference's
# #weight(0.8 name 0.1 #od4 0.1 #uwN) rendering); 2-term names keep the
# uw clause DuckDB-expressible (consecutive-opposite-event formulation).
CONCEPT_PHRASES = {"c1": "hash join", "c2": "group agg", "c3": "sort order"}
UW2_N = 9                  # default_uw_n(2) = 4·m + 1
W_TERM, W_OD, W_UW = 0.8, 0.1, 0.1
FETCH_IDS = [1, 10, 17, 23]


def q_working_set_rescore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R6 `<workingSetDocno>` analogue: score only a given doc set."""
    from .scoring.bm25 import score_topk_working_set

    idx = doc_index(spark, sf_dir)
    qt = query_term_table(queries_df(spark))
    ws = spark.range(WORKING_SET_MAX_DOC).select(F.col("id").alias("doc_id"))
    out = score_topk_working_set(idx, qt, ws, k=5, rank_round=RANK_ROUND)
    return out.select(
        "qid",
        "doc_id",
        F.col("rank").cast("long").alias("rank"),
        F.round("score", SCORE_ROUND).alias("score"),
    )


def q_od_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 `#odN(a b)` ordered-window counts over the corpus."""
    from .functions.positional import bigram_od_count_col

    docs = load_documents(spark, sf_dir).select(
        "doc_id", F.expr(
            "filter(split(regexp_replace(lower(text), '[^a-z0-9]+', ' '), ' '),"
            " t -> t != '')"
        ).alias("toks")
    )
    parts = []
    for a, b in OD_PAIRS:
        cnt = bigram_od_count_col(F.col("toks"), a, b, OD_WINDOW)
        agg = docs.select(cnt.alias("c")).agg(
            F.sum((F.col("c") > 0).cast("long")).alias("n_docs"),
            F.sum("c").cast("long").alias("total_matches"),
        )
        parts.append(
            agg.select(
                F.lit(a).alias("a"), F.lit(b).alias("b"),
                "n_docs", "total_matches",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def q_od_bigram_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same #od4 counts as q_od_bigram_counts but answered from the
    POSITIONAL POSTINGS index (postings intersection + position kernel)
    instead of a forward-index scan — shares its oracle SQL."""
    from .index.positions import phrase_counts
    from .webtext import positional_index

    positional = positional_index(spark, sf_dir)
    parts = []
    for a, b in OD_PAIRS:
        m = phrase_counts(positional, [a, b], OD_WINDOW, ordered=True)
        agg = m.agg(
            F.count("*").cast("long").alias("n_docs"),
            F.coalesce(F.sum("matches"), F.lit(0)).cast("long").alias("total_matches"),
        )
        parts.append(
            agg.select(
                F.lit(a).alias("a"), F.lit(b).alias("b"),
                "n_docs", "total_matches",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def q_phrase_weighted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2 + W1/W2 as *scoring*: the reference's concept rendering
    `#weight(0.8 #combine(name) 0.1 #combine(#od4 bigrams) 0.1 #uwN(name))`
    (umls/umlsSeqPubMed.ipynb:555-633) — phrase matches contribute
    BM25-scored pseudo-term weight to the retrieval score."""
    from .scoring.phrase import concept_query_topk
    from .webtext import positional_index

    idx = doc_index(spark, sf_dir)
    positional = positional_index(spark, sf_dir)
    out = concept_query_topk(
        spark, idx, positional, CONCEPT_PHRASES, k=TOPK,
        rank_round=RANK_ROUND,
    )
    return out.select(
        "qid",
        "doc_id",
        F.col("rank").cast("long").alias("rank"),
        F.round("score", SCORE_ROUND).alias("score"),
    )


def q_indri_query_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same concept queries as phrase_weighted_topk, entering from
    the reference's QUERY-LANGUAGE surface: the rendered Indri strings
    an indriRunQuery.cfg carries (configs/*/indriRunQuery.cfg;
    umls/umlsSeqPubMed.ipynb:586-593), parsed by ``indriql`` and scored
    by the same clause plan — shares phrase_weighted_topk's oracle."""
    from .scoring.phrase import indri_query_topk
    from .webtext import positional_index

    idx = doc_index(spark, sf_dir)
    positional = positional_index(spark, sf_dir)
    out = indri_query_topk(
        spark, idx, positional, _concept_indri_topics(), k=TOPK,
        rank_round=RANK_ROUND,
    )
    return out.select(
        "qid",
        "doc_id",
        F.col("rank").cast("long").alias("rank"),
        F.round("score", SCORE_ROUND).alias("score"),
    )


def q_uw_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 `#uwN(a b)` unordered-window counts from the positional
    postings (2-term case: count = consecutive events of differing terms
    within span ≤ N in the merged position stream, which is what the
    DuckDB oracle recomputes with lag())."""
    from .index.positions import phrase_counts
    from .webtext import positional_index

    positional = positional_index(spark, sf_dir)
    parts = []
    for a, b in OD_PAIRS:
        m = phrase_counts(positional, [a, b], UW2_N, ordered=False)
        agg = m.agg(
            F.count("*").cast("long").alias("n_docs"),
            F.coalesce(F.sum("matches"), F.lit(0)).cast("long").alias("total_matches"),
        )
        parts.append(
            agg.select(
                F.lit(a).alias("a"), F.lit(b).alias("b"),
                "n_docs", "total_matches",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def q_doc_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 point lookups (dt/dd by id)."""
    return load_documents(spark, sf_dir).filter(
        F.col("doc_id").isin(FETCH_IDS)
    ).select("doc_id", "text", "lang", "source")


def q_stats_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_documents(spark, sf_dir)
    toks = F.expr(
        "filter(split(regexp_replace(lower(text), '[^a-z0-9]+', ' '), ' '),"
        " t -> t != '')"
    )
    return docs.select("source", "lang", F.size(toks).alias("n_tok")).groupBy(
        "source"
    ).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(F.avg("n_tok"), 6).alias("avg_tokens"),
        F.count_distinct("lang").cast("long").alias("n_langs"),
    )


def q_bigram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6 bigram generation + frequency table (bigrams with count ≥ 20 —
    threshold chosen to be non-empty at BOTH driver SFs, so the oracle
    row carries real values; ≥ 50 was vacuous at sf0.01)."""
    from .functions.text import bigrams_col, tokenize_col

    docs = load_documents(spark, sf_dir)
    return (
        docs.select(F.explode(bigrams_col(tokenize_col(F.col("text")))).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").cast("long").alias("n"))
        .filter(F.col("n") >= 20)
    )


def q_quality_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data filter pipeline: quality gates + near-dup removal
    (keep the smaller doc_id of each pair) -> surviving doc ids."""
    docs = load_documents(spark, sf_dir)
    q = text_analysis.quality_score(docs).filter(F.col("keep")).select("doc_id")
    dups = dedup.ngram_jaccard_pairs(docs, threshold=0.8).select(
        F.col("doc_b").alias("doc_id")
    ).distinct()
    return q.join(dups, "doc_id", "left_anti").select(
        F.col("doc_id").cast("long").alias("doc_id")
    )


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_embeddings(spark, sf_dir)
    probes = emb.filter(F.col("vec_id").isin(PROBE_IDS)).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("p_vec")
    )
    scored = (
        emb.select("vec_id", F.col("embedding").alias("vec"))
        .join(F.broadcast(probes), F.col("vec_id") != F.col("probe_id"))
        .withColumn(
            "cos",
            similarity.cosine_similarity_col(F.col("p_vec"), F.col("vec")),
        )
    )
    # rank on the rounded cosine for cross-engine stability
    w = Window.partitionBy("probe_id").orderBy(
        F.desc(F.round("cos", RANK_ROUND)), F.asc("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOPK)
        .select("probe_id", "vec_id", "rank", F.round("cos", 5).alias("cos"))
    )


LSH_N_PLANES = 12
EMB_DIM = 64
IVF_CENTROID_IDS = list(range(100, 116))   # 16 fixed rows as the codebook
IVF_NPROBE = 4


def q_cosine_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN, value-oracled: md5-parity ±1 projection
    planes are recomputed verbatim by the DuckDB oracle, so the bucket
    assignment, probing set, and ranked output all hash-match. The
    approximation (vs exact top-k) is the method; the VALUES are exact."""
    emb = load_embeddings(spark, sf_dir)
    probes = emb.filter(F.col("vec_id").isin(PROBE_IDS)).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    planes = similarity.hyperplanes_md5pm1(EMB_DIM, LSH_N_PLANES)
    out = similarity.cosine_topk_lsh(
        emb, probes, k=TOPK, probe_bits=1, planes=planes,
        score_round=RANK_ROUND, rank_round=RANK_ROUND,
    )
    return out.select(
        "probe_id", "vec_id", F.col("rank").cast("long").alias("rank"),
        F.round("cos", 5).alias("cos"),
    )


def _ivf_fixed_codebook(emb: DataFrame):
    """The 16 fixed table rows (IVF_CENTROID_IDS, vec_id order) both IVF
    entries share — the invariant that keeps the query path's codebook
    and the trainer's init identical, and lets the SQL oracle rebuild
    either."""
    import numpy as np

    cent_rows = (
        emb.filter(F.col("vec_id").isin(IVF_CENTROID_IDS))
        .select("vec_id", "embedding")
        .collect()
    )
    return np.array(
        [r["embedding"] for r in sorted(cent_rows, key=lambda r: r["vec_id"])],
        dtype=np.float64,
    )


def q_cosine_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN, value-oracled: the codebook is 16 FIXED table rows
    (deterministic sample — a trained k-means codebook drops into the
    same parameter), so DuckDB reconstructs assignment + nprobe lists."""
    emb = load_embeddings(spark, sf_dir)
    probes = emb.filter(F.col("vec_id").isin(PROBE_IDS)).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    cents = _ivf_fixed_codebook(emb)
    out = similarity.cosine_topk_ivf(
        emb, probes, k=TOPK, nprobe=IVF_NPROBE, centroids=cents,
        score_round=RANK_ROUND, rank_round=RANK_ROUND,
    )
    return out.select(
        "probe_id", "vec_id", F.col("rank").cast("long").alias("rank"),
        F.round("cos", 5).alias("cos"),
    )


def q_ivf_train_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One distributed Lloyd iteration of the spherical-k-means IVF
    trainer (`similarity.ivf_train`), value-oracled: init = the same 16
    fixed table rows the `cosine_topk_ivf` codebook uses, assignment =
    the query path's own rounded argmax bucketing, recompute = per-dim
    means L2-normalized. The oracle replays assignment + mean + norm in
    SQL, so the training step's bucket counts AND every centroid
    coordinate hash-match. (iters>1 is the same step composed; one step
    keeps the oracle non-iterative.)"""
    emb = load_embeddings(spark, sf_dir)
    counts: dict = {}
    cents = similarity.ivf_train(
        emb, iters=1, init=_ivf_fixed_codebook(emb),
        score_round=RANK_ROUND, counts_out=counts,
    )
    out = []
    for b in sorted(counts):
        for d in range(EMB_DIM):
            out.append((b, counts[b], d, round(float(cents[b][d]), 5)))
    return local_frame(
        spark, out, "bucket long, n long, dim long, c double"
    )


IVF_TRAIN_ITERS = 3


def q_ivf_train_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THREE composed Lloyd iterations of the IVF trainer — guards the
    iteration LOOP, not just one step (`ivf_train_step` oracles a
    single step). ``centroid_round`` pins each iteration's centroids to
    6 dp so the DuckDB oracle can replay the full trajectory (iteration
    k+1's rounded-argmax assignments depend bit-for-bit on iteration
    k's centroids). Output = final assignment's bucket counts + every
    final centroid coordinate."""
    emb = load_embeddings(spark, sf_dir)
    counts: dict = {}
    cents = similarity.ivf_train(
        emb, iters=IVF_TRAIN_ITERS, init=_ivf_fixed_codebook(emb),
        score_round=RANK_ROUND, centroid_round=RANK_ROUND,
        counts_out=counts,
    )
    out = []
    for b in sorted(counts):
        for d in range(EMB_DIM):
            # centroids are ALREADY 6-dp-rounded (centroid_round); do
            # NOT re-round to 5 — the 6-dp values sit exactly on 5-dp
            # half boundaries, where Python (half-to-even) and DuckDB
            # (half-away) tie-break differently (52/1024 diverged)
            out.append((b, counts[b], d, float(cents[b][d])))
    return local_frame(
        spark, out, "bucket long, n long, dim long, c double"
    )


PQ_M = 16         # subspaces → dsub = EMB_DIM / PQ_M = 4 dims each
PQ_K = 16         # codewords per subspace (the 16 fixed rows, sliced)


def q_pq_topk_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: the corpus is encoded to m=16 one-byte
    codes per vector (16× smaller than the float vectors) and scored by
    ADC — per-probe lookup tables over INTEGER micro-units, so the
    ranking sum is exact in any engine. Codebooks = the 16 fixed table
    rows sliced per subspace (same rows as the IVF entries), so DuckDB
    rebuilds encode + LUT + ranking value-for-value. m·k = 256 > the
    literal-plan cap, so this entry's green row is the broadcast-tensor
    mapInPandas SCALE path under a value oracle."""
    emb = load_embeddings(spark, sf_dir)
    probes = emb.filter(F.col("vec_id").isin(PROBE_IDS))
    cbs = similarity.pq_codebooks_from_rows(_ivf_fixed_codebook(emb), PQ_M)
    out = similarity.pq_topk_adc(
        emb, probes.select(F.col("vec_id").alias("probe_id"), "embedding"),
        cbs, k=TOPK, score_round=RANK_ROUND,
    )
    return out.select(
        F.col("probe_id").cast("long").alias("probe_id"),
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("rank").cast("long").alias("rank"),
        F.col("adist_u").cast("long").alias("adist_u"),
    )


def q_pq_train_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One distributed Lloyd iteration of the PQ codebook trainer — all
    16 subspaces in ONE assignment job + ONE groupBy. Init = the fixed-row
    codebooks the ADC entry queries with; assignment = pq_encode's own
    rounded argmin (training and encoding share the kernel). The oracle
    replays assignment + per-dim means in SQL, so bucket counts AND every
    codeword coordinate hash-match."""
    emb = load_embeddings(spark, sf_dir)
    counts: dict = {}
    cbs = similarity.pq_train(
        emb, iters=1,
        init=similarity.pq_codebooks_from_rows(_ivf_fixed_codebook(emb), PQ_M),
        score_round=RANK_ROUND, counts_out=counts,
    )
    dsub = cbs.shape[2]
    out = []
    for (j, code) in sorted(counts):
        for d in range(dsub):
            out.append(
                (j, code, counts[(j, code)], d, round(float(cbs[j, code, d]), 5))
            )
    return local_frame(
        spark, out, "j long, code long, n long, dim long, c double"
    )


PQ_TRAIN_ITERS = 3


def q_pq_train_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THREE composed Lloyd iterations of the PQ trainer — guards the
    iteration LOOP (empty-cluster carry-forward, per-iteration rounding,
    assignment against the PREVIOUS iteration's codebooks), not just one
    step. ``codebook_round`` pins each iteration's codebooks so the
    DuckDB oracle can replay the whole trajectory, exactly the
    `ivf_train_multi` construction applied per subspace. Output = final
    assignment's per-(subspace, codeword) counts + every final codeword
    coordinate (already 6-dp rounded — NOT re-rounded, per the
    half-boundary lesson in `q_ivf_train_multi`)."""
    emb = load_embeddings(spark, sf_dir)
    counts: dict = {}
    cbs = similarity.pq_train(
        emb, iters=PQ_TRAIN_ITERS,
        init=similarity.pq_codebooks_from_rows(_ivf_fixed_codebook(emb), PQ_M),
        score_round=RANK_ROUND, codebook_round=RANK_ROUND,
        counts_out=counts,
    )
    dsub = cbs.shape[2]
    out = []
    for (j, code) in sorted(counts):
        for d in range(dsub):
            out.append(
                (j, code, counts[(j, code)], d, float(cbs[j, code, d]))
            )
    return local_frame(
        spark, out, "j long, code long, n long, dim long, c double"
    )


IVFPQ_CENT_IDS = list(range(100, 108))   # 8 coarse lists (fixed rows)
IVFPQ_NPROBE = 3


def _ivfpq_fixed_setup(emb: DataFrame):
    """(cents, cbs) both IVF-PQ entries share: coarse centroids = the
    first 8 fixed rows, residual codebooks = the 16 fixed rows minus
    their own rounded-direct-argmin nearest centroid. ONE copy, because
    the two entries share one oracle — divergent codebook constructions
    would silently test different things."""
    import numpy as np

    rows16 = _ivf_fixed_codebook(emb)
    cents = rows16[: len(IVFPQ_CENT_IDS)]
    D = np.round(((rows16[:, None, :] - cents[None]) ** 2).sum(-1),
                 RANK_ROUND)
    cbs = similarity.pq_codebooks_from_rows(
        rows16 - cents[np.argmin(D, axis=1)], PQ_M
    )
    return cents, cbs


def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN end-to-end under a value oracle: coarse L2 lists from
    8 fixed rows, residual PQ codebooks from the 16 fixed rows minus
    their own nearest centroid, one integer LUT per probed list. DuckDB
    replays coarse assignment, residual codebook construction, encode,
    LUTs, and the exact-integer ADC ranking — the newest ANN layout's
    driver row is a full SQL recomputation, not a rows-only check."""
    emb = load_embeddings(spark, sf_dir)
    cents, cbs = _ivfpq_fixed_setup(emb)
    probes = emb.filter(F.col("vec_id").isin(PROBE_IDS))
    out = similarity.ivfpq_topk(
        emb, probes.select(F.col("vec_id").alias("probe_id"), "embedding"),
        cents, cbs, k=TOPK, nprobe=IVFPQ_NPROBE, score_round=RANK_ROUND,
    )
    return out.select(
        F.col("probe_id").cast("long").alias("probe_id"),
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("rank").cast("long").alias("rank"),
        F.col("adist_u").cast("long").alias("adist_u"),
    )


def q_ivfpq_incremental_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streamed ANN index queried with the standard partition-pruned ADC
    path: half the embeddings are published batch-style, the other half
    arrive as two file drops ingested by two availableNow stream runs
    into code SEGMENTS against the FROZEN codebooks (index/ann.py —
    the incremental_topk construction applied to the ANN family), then
    segments are folded into the base with ``compact_ann_codes``.
    Encode is deterministic per vector under frozen codebooks, so the
    result is identical to publishing everything at once — this entry
    shares ivfpq_topk's full DuckDB oracle: the value hash proves the
    stream-built ANN index ranks exactly like the from-scratch one."""
    import atexit
    import shutil
    import tempfile

    from .index import ann

    emb = load_embeddings(spark, sf_dir).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    cents, cbs = _ivfpq_fixed_setup(emb)
    root = tempfile.mkdtemp(prefix="sqe_annincr_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    idx_dir = os.path.join(root, "idx")
    drops = os.path.join(root, "drops")
    ann.write_ivfpq(
        emb.filter(F.col("vec_id") % 2 == 0), idx_dir, cents, cbs,
        score_round=RANK_ROUND,
    )
    for rem in (1, 3):
        emb.filter(F.col("vec_id") % 4 == rem).write.mode("append").parquet(
            drops
        )
        ann.start_incremental_ann(spark, drops, idx_dir).awaitTermination()
    ann.compact_ann_codes(spark, idx_dir)
    probes = emb.filter(F.col("vec_id").isin(PROBE_IDS)).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    out = ann.query_ivfpq(
        spark, idx_dir, probes, k=TOPK, nprobe=IVFPQ_NPROBE
    )
    return out.select(
        F.col("probe_id").cast("long").alias("probe_id"),
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("rank").cast("long").alias("rank"),
        F.col("adist_u").cast("long").alias("adist_u"),
    )


COS_PAIR_THRESHOLD = 0.45

# --- banded near-dup fixture (round 4) -------------------------------------
# The r3 entry was vacuously green: a SINGLE 12-plane sign-LSH band at
# t=0.45 generated 40 candidates of which 0 were true pairs (exact path
# found 14) — recall 0/14, and the 0-row output matched a 0-row oracle.
# Round 4 makes the entry a real near-dup surface: 32 md5-parity planes
# in 4 BANDS of 8 (minhash-banding shape) at a near-dup threshold of
# 0.9, over the fixture embeddings PLUS six planted near-identical
# twins (vec + eps·s, s a fixed ±1 md5-parity direction; two eps tiers
# land the twins at cos ≈ 0.993 and ≈ 0.94). Measured on this fixture:
# banded recall 6/6 true pairs verifying ~1.8% of all pairs;
# single-band-32 recall 0/6 (tests/test_similarity.py pins both).
ND_THRESHOLD = 0.9
ND_N_PLANES = 32
ND_BANDS = 4
ND_TWIN_OFFSET = 1_000_000
ND_PLANT_T1 = [7, 123, 333]     # eps1 twins: cos ≈ 0.993
ND_PLANT_T2 = [42, 256, 444]    # eps2 twins: cos ≈ 0.94 (near threshold)
ND_EPS1, ND_EPS2 = 0.015, 0.045


def _plant_signs():
    """Fixed ±1 perturbation direction, s[d] from md5('p:{d}') parity —
    the same recomputable-in-SQL construction as hyperplanes_md5pm1."""
    import hashlib

    import numpy as np

    return np.array([
        1.0
        if int(hashlib.md5(f"p:{d}".encode()).hexdigest()[0], 16) & 1
        else -1.0
        for d in range(EMB_DIM)
    ])


def near_dup_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings (as double) ∪ planted twins: twin_id = vec_id + 10^6,
    twin vec = v + eps·s with eps by tier. Exact double arithmetic in
    both engines (float→double is exact; one mul + one add per dim)."""
    emb = load_embeddings(spark, sf_dir).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("vec"),
    )
    sign_arr = F.array(*[F.lit(float(x)) for x in _plant_signs()])
    # eps must be materialized BEFORE the projection that renames
    # vec_id: an outer reference inside the zip_with lambda binds
    # against the projection's OUTPUT, so `vec_id.isin(T1)` would see
    # the shifted twin ids (verified: all twins silently got eps2)
    twins = (
        emb.filter(F.col("vec_id").isin(ND_PLANT_T1 + ND_PLANT_T2))
        .withColumn(
            "eps",
            F.when(F.col("vec_id").isin(ND_PLANT_T1), F.lit(ND_EPS1))
            .otherwise(F.lit(ND_EPS2)),
        )
        .select(
            (F.col("vec_id") + F.lit(ND_TWIN_OFFSET)).alias("vec_id"),
            F.zip_with(
                "vec", sign_arr, lambda a, b: a + F.col("eps") * b
            ).alias("vec"),
        )
    )
    return emb.unionByName(twins)


def q_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold (embedding near-dup surface)."""
    out = similarity.cosine_pairs_exact(
        load_embeddings(spark, sf_dir), COS_PAIR_THRESHOLD
    )
    return out.select("doc_a", "doc_b", F.round("cos", 5).alias("cos"))


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BANDED LSH near-dup pairs — the 100 TB scale path for
    `cosine_pairs` at near-dup thresholds: (band, code) equi-join
    candidates OR-ed across 4 bands of 8 md5-parity planes, dedup, then
    exact-cosine verify. Input includes six planted near-identical
    twins (see near_dup_input), so a green row requires the candidate
    join to actually FIND pairs (6 expected — recall measured 6/6, vs
    0/6 for the r3 single-band parameterization). The DuckDB oracle
    recomputes twins, band codes and verification bit-for-bit."""
    aug = near_dup_input(spark, sf_dir)
    planes = similarity.hyperplanes_md5pm1(EMB_DIM, ND_N_PLANES)
    out = similarity.embedding_near_dup(
        aug, threshold=ND_THRESHOLD, bands=ND_BANDS,
        planes=planes, score_round=RANK_ROUND, vec_col="vec",
    )
    return out.select("doc_a", "doc_b", F.round("cos", 5).alias("cos"))


STREAM_TS0 = 1704067200          # 2024-01-01T00:00:00Z, deterministic


def q_streaming_host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming path end-to-end, value-oracled: documents
    become crawl pages (url/warc_ts/html/text/lang per BASELINE.json's
    input hint), flow through the watermarked-dedup + quality-gate
    readStream and the applyInPandasWithState per-host running-counters
    operator (availableNow), and the FINAL running totals per host are
    returned. The oracle recomputes the gates and per-host totals from
    `documents` directly, so state handling across micro-batches is what
    the value comparison verifies. URLs are unique by construction, so
    the watermark dedup must be an exact no-op (any false-positive drop
    shows up as a count mismatch)."""
    import tempfile

    from .streaming import pipeline as sp

    docs = load_documents(spark, sf_dir)
    pages = docs.select(
        F.concat(
            F.lit("https://"), F.col("source"),
            F.lit(".example.org/doc/"), F.col("doc_id"),
        ).alias("url"),
        F.timestamp_seconds(F.lit(STREAM_TS0) + F.col("doc_id")).alias(
            "warc_ts"
        ),
        F.lit(None).cast("binary").alias("html"),
        "text",
        "lang",
    )
    work = tempfile.mkdtemp(prefix="sqe_stream_")
    in_dir = os.path.join(work, "pages")
    out_dir = os.path.join(work, "out")
    pages.write.mode("overwrite").parquet(in_dir)
    q = sp.start_host_stats(spark, in_dir, out_dir, available_now=True)
    q.awaitTermination()
    sink = spark.read.parquet(os.path.join(out_dir, "host_stats"))
    # running totals append once per (host, micro-batch); the final row
    # per host is the one with the largest n_pages (strictly increasing)
    w = Window.partitionBy("host").orderBy(F.desc("n_pages"))
    final = (
        sink.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "host",
            F.col("n_pages").cast("long").alias("n_pages"),
            F.col("n_kept").cast("long").alias("n_kept"),
            F.round("mean_tokens", 6).alias("mean_tokens"),
        )
    )
    # lineage cut: a handful of host rows; the sink tmp dir need not
    # outlive this call
    rows = final.collect()
    import shutil

    shutil.rmtree(work, ignore_errors=True)
    return local_frame(
        spark,
        rows, "host string, n_pages long, n_kept long, mean_tokens double"
    )


# ---------------------------------------------------------------------------
# Oracle SQL
# ---------------------------------------------------------------------------

def _eval_sql(qterms: str, p_cuts: list, ndcg_cuts: list,
              run_where: str = "") -> str:
    """trec_eval-equivalent metric block over the BM25 run, as one
    DuckDB query. ``run_where`` restricts the evaluated run (the F6
    hard-topics projection); metric inventory follows the cut lists."""
    P_CUTS, NDCG_CUTS = p_cuts, ndcg_cuts
    return f"""
WITH {_BASE},
{qterms},
{_SCORED},
{_QRELS},
run AS (SELECT qid, doc_id, rank FROM topk
        WHERE rank <= {TOPK}{run_where}),
j AS (SELECT r.qid, r.doc_id, r.rank, coalesce(qr.rel, 0) AS rel
      FROM run r LEFT JOIN qrels qr ON r.qid = qr.qid AND r.doc_id = qr.doc_id),
nrel AS (SELECT qid, count(*)::BIGINT AS n_rel FROM qrels GROUP BY qid),
perhit AS (
  SELECT qid, doc_id, rank, rel,
         sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END)
           OVER (PARTITION BY qid ORDER BY rank) AS hits
  FROM j),
aggq AS (
  SELECT p.qid,
         sum(CASE WHEN rel > 0 THEN hits::DOUBLE / rank END) AS sum_prec,
         min(CASE WHEN rel > 0 THEN rank END) AS first_rel,
         {", ".join(
             f"sum(CASE WHEN rel > 0 AND rank <= {p} THEN 1 ELSE 0 END) AS hits_at_{p}"
             for p in P_CUTS
         )},
         {", ".join(
             f"sum(CASE WHEN rel > 0 AND rank <= {n} "
             f"THEN (pow(2.0, rel) - 1.0) / log2(rank + 1.0) END) AS dcg_{n}"
             for n in NDCG_CUTS
         )},
         sum(CASE WHEN rel > 0 AND rank <= n.n_rel THEN 1 ELSE 0 END) AS rprec_hits,
         sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS rel_ret,
         count(*) AS num_ret,
         {", ".join(
             f"max(CASE WHEN rel > 0 AND hits * 10 >= {lvl} * n.n_rel "
             f"THEN hits::DOUBLE / rank END) AS ip{lvl}"
             for lvl in range(11)
         )}
  FROM perhit p LEFT JOIN nrel n USING (qid) GROUP BY p.qid),
ideal AS (
  SELECT qid,
         {", ".join(
             f"sum(CASE WHEN irank <= {n} "
             f"THEN (pow(2.0, rel) - 1.0) / log2(irank + 1.0) END) AS idcg_{n}"
             for n in NDCG_CUTS
         )}
  FROM (SELECT qid, rel,
               row_number() OVER (PARTITION BY qid ORDER BY rel DESC, doc_id) AS irank
        FROM qrels)
  WHERE irank <= {max(NDCG_CUTS)} GROUP BY qid),
perq AS (
  SELECT q.qid,
         CASE WHEN coalesce(n.n_rel, 0) > 0
              THEN coalesce(a.sum_prec, 0) / n.n_rel ELSE 0.0 END AS map,
         {", ".join(
             f'coalesce(a.hits_at_{p}, 0)::DOUBLE / {p} AS "P_{p}"'
             for p in P_CUTS
         )},
         {", ".join(
             f"CASE WHEN i.idcg_{n} > 0 "
             f"THEN coalesce(a.dcg_{n}, 0) / i.idcg_{n} ELSE 0.0 END AS ndcg_cut_{n}"
             for n in NDCG_CUTS
         )},
         CASE WHEN a.first_rel IS NOT NULL
              THEN 1.0 / a.first_rel ELSE 0.0 END AS recip_rank,
         CASE WHEN coalesce(n.n_rel, 0) > 0
              THEN coalesce(a.rprec_hits, 0)::DOUBLE / n.n_rel
              ELSE 0.0 END AS rprec,
         -- pseudo-qrels carry no judged-nonrelevant docs, so every
         -- retrieved relevant contributes 1 (trec_eval N=0 behavior)
         CASE WHEN coalesce(n.n_rel, 0) > 0
              THEN coalesce(a.rel_ret, 0)::DOUBLE / n.n_rel
              ELSE 0.0 END AS bpref,
         coalesce(a.num_ret, 0)::DOUBLE AS num_ret,
         coalesce(n.n_rel, 0)::DOUBLE AS num_rel,
         coalesce(a.rel_ret, 0)::DOUBLE AS num_rel_ret,
         {", ".join(
             f"coalesce(a.ip{lvl}, 0.0) AS ip{lvl}" for lvl in range(11)
         )}
  FROM (SELECT DISTINCT qid FROM run) q
  LEFT JOIN aggq a USING (qid)
  LEFT JOIN nrel n USING (qid)
  LEFT JOIN ideal i USING (qid)),
longf AS (
  SELECT 'map' AS metric, qid, map AS value FROM perq
  {" ".join(
      "UNION ALL SELECT 'P_{p}', qid, {q}P_{p}{q} FROM perq".format(p=p, q=chr(34))
      for p in P_CUTS
  )}
  {" ".join(
      f"UNION ALL SELECT 'ndcg_cut_{n}', qid, ndcg_cut_{n} FROM perq"
      for n in NDCG_CUTS
  )}
  UNION ALL SELECT 'recip_rank', qid, recip_rank FROM perq
  UNION ALL SELECT 'Rprec', qid, rprec FROM perq
  UNION ALL SELECT 'bpref', qid, bpref FROM perq
  UNION ALL SELECT 'num_ret', qid, num_ret FROM perq
  UNION ALL SELECT 'num_rel', qid, num_rel FROM perq
  UNION ALL SELECT 'num_rel_ret', qid, num_rel_ret FROM perq
  {" ".join(
      f"UNION ALL SELECT 'iprec_at_recall_{lvl / 10:.2f}', qid, ip{lvl} FROM perq"
      for lvl in range(11)
  )})
SELECT metric, qid, round(value, 6) AS value FROM longf
UNION ALL
SELECT metric, 'all' AS qid,
       round(CASE WHEN metric IN ('num_ret', 'num_rel', 'num_rel_ret')
                  THEN sum(value) ELSE avg(value) END, 6) AS value
FROM longf GROUP BY metric
"""


def build_oracle_sql() -> dict:
    qterms = _qterms_cte()
    langs_hits = ",\n  ".join(
        "len(list_filter(toks, t -> list_contains(['{words}'], t))) AS {lang}".format(
            words="', '".join(text_analysis.LANG_STOPWORDS[lang]), lang=lang
        )
        for lang in _LANGS
    )
    lang_case = " ".join(
        f"WHEN {lang} = best THEN '{lang}'" for lang in _LANGS
    )
    greatest = ", ".join(_LANGS)

    sql = {}

    sql["collection_stats"] = f"""
WITH {_BASE}
SELECT (SELECT count(*) FROM documents)::BIGINT AS n_docs,
       (SELECT count(*) FROM vocab)::BIGINT AS n_terms,
       (SELECT sum(cf) FROM vocab)::BIGINT AS total_terms,
       round((SELECT avgdl FROM stats), 6) AS avgdl
"""

    sql["vocab_stats"] = f"""
WITH {_BASE}
SELECT term, df, cf FROM vocab
"""

    sql["postings_lists"] = f"""
WITH {_BASE}
SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS cf,
       array_to_string(list_sort(list(doc_id)), ',') AS doc_csv
FROM tf GROUP BY term
"""

    sql["doc_vectors"] = f"""
WITH {_BASE}
SELECT doc_id, array_to_string(toks, ' ') AS terms_str FROM doctoks
"""

    sql["doc_token_stats"] = f"""
WITH {_BASE}
SELECT d.doc_id, len(toks)::BIGINT AS n_tokens,
       len(list_distinct(toks))::BIGINT AS n_unique,
       length(trim(regexp_replace(lower(d.text), '[^a-z0-9]+', ' ', 'g')))::BIGINT AS n_chars_norm
FROM documents d JOIN doctoks USING (doc_id)
"""

    sql["quality_score"] = f"""
WITH {_BASE},
q AS (
  SELECT doc_id, len(toks)::BIGINT AS n_tokens,
         CASE WHEN len(toks) > 0
              THEN len(list_filter(toks, t -> list_contains(['{_SW}'], t)))::DOUBLE / len(toks)
              ELSE 0.0 END AS stopword_ratio,
         CASE WHEN len(toks) > 0
              THEN list_sum(list_transform(toks, t -> length(t)))::DOUBLE / len(toks)
              ELSE 0.0 END AS mean_token_len
  FROM doctoks)
SELECT doc_id, n_tokens, round(stopword_ratio, 6) AS stopword_ratio,
       round(mean_token_len, 6) AS mean_token_len,
       (n_tokens >= 10 AND stopword_ratio <= 0.5) AS keep
FROM q
"""

    sql["langid_counts"] = f"""
WITH {_BASE},
hits AS (
  SELECT doc_id,
  {langs_hits}
  FROM doctoks),
pred AS (
  SELECT doc_id, greatest({greatest}) AS best,
         CASE WHEN greatest({greatest}) = 0 THEN 'und' {lang_case} END AS lang_pred
  FROM hits)
SELECT lang_pred, count(*)::BIGINT AS n_docs, sum(best)::BIGINT AS total_hits
FROM pred GROUP BY lang_pred
"""

    sql["fingerprint"] = """
SELECT doc_id,
       md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
FROM documents
"""

    sql["exact_dedup"] = """
SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp,
       count(*)::BIGINT AS n_docs,
       min(doc_id)::BIGINT AS keep_doc,
       coalesce(array_to_string(list_sort(list(doc_id))[2:], ','), '') AS dup_csv
FROM documents GROUP BY 1
"""

    jaccard_select = f"""
SELECT doc_a, doc_b, round(jaccard, 6) AS jaccard
FROM jpairs WHERE jaccard >= 0.8
"""
    sql["ngram_jaccard"] = f"WITH {_BASE},\n{_SHINGLES}\n{jaccard_select}"
    # LSH recall at j≥0.8 with 128 hashes / 32 bands is ≈1, BUT
    # minhash_lsh_dedup(collapse_exact=True) reports pairs between
    # exact-duplicate REPRESENTATIVES (min doc_id per fingerprint group)
    # — so the oracle must too, or the gate breaks the moment the
    # corpus contains a byte-identical pair (intra-group and
    # non-representative pairs belong to exact_dedup's output).
    rep_shingles = _SHINGLES.replace(
        "FROM doctoks WHERE len(toks) >= 8",
        "FROM doctoks WHERE len(toks) >= 8 "
        "AND doc_id IN (SELECT doc_id FROM reps)",
    )
    sql["minhash_dedup"] = f"""WITH {_BASE},
reps AS (
  SELECT min(doc_id) AS doc_id
  FROM (SELECT doc_id,
               md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
        FROM documents)
  GROUP BY fp
),
{rep_shingles.lstrip()}
{jaccard_select}"""

    bpe_re = text_analysis.BPE_ISH_REGEX.replace("'", "''")
    sql["token_counts"] = f"""
SELECT doc_id,
       len(list_filter(string_split_regex(text, '\\s+'), t -> t <> ''))::BIGINT AS ws_tokens,
       len(regexp_extract_all(text, '{bpe_re}'))::BIGINT AS bpe_ish_tokens
FROM documents
"""

    sql["winnow_fingerprints"] = f"""
WITH {_BASE},
kg AS (
  SELECT doc_id, unnest(generate_series(1, len(toks) - {WINNOW_K - 1})) AS i,
         len(toks) - {WINNOW_K - 1} AS n_grams
  FROM doctoks WHERE len(toks) >= {WINNOW_K}),
kh AS (
  SELECT k.doc_id, k.i, k.n_grams,
         ('0x' || substring(md5(array_to_string(d.toks[k.i:k.i+{WINNOW_K - 1}], ' ')),
                            1, 15))::BIGINT AS h
  FROM kg k JOIN doctoks d USING (doc_id)),
wmin AS (
  SELECT doc_id, i, n_grams,
         min(h) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING) AS m
  FROM kh)
SELECT DISTINCT doc_id, m AS fp FROM wmin
WHERE n_grams >= {WINNOW_W} AND i <= n_grams - {WINNOW_W - 1}
UNION
SELECT doc_id, min(h) AS fp FROM kh WHERE n_grams < {WINNOW_W} GROUP BY doc_id
"""

    # SimHash bit-for-bit: term hash = ('0x'||md5[:16])::UBIGINT exactly
    # matches the engine's _simhash_term_hash; per-bit tf-weighted sign
    # votes, then all-pairs hamming (oracle-sized; the engine side uses
    # pigeonhole-piece candidate generation instead of all-pairs).
    simhash_ctes = f"""{_BASE},
bitsidx AS (SELECT unnest(generate_series(0, 63)) AS bit),
termh AS (
  SELECT term, ('0x' || substring(md5(term), 1, 16))::UBIGINT AS h
  FROM vocab),
votes AS (
  SELECT tf.doc_id, b.bit,
         sum(tf.tf * (CASE WHEN ((th.h >> b.bit::UBIGINT) & 1::UBIGINT) = 1
                           THEN 1 ELSE -1 END)) AS v
  FROM tf JOIN termh th USING (term) CROSS JOIN bitsidx b
  GROUP BY tf.doc_id, b.bit),
signs AS (
  SELECT d.doc_id, b.bit,
         CASE WHEN coalesce(v.v, 0) > 0 THEN 1 ELSE 0 END AS s
  FROM documents d CROSS JOIN bitsidx b
  LEFT JOIN votes v ON v.doc_id = d.doc_id AND v.bit = b.bit),
ham AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         sum(CASE WHEN a.s <> b.s THEN 1 ELSE 0 END)::BIGINT AS hamming
  FROM signs a JOIN signs b ON a.bit = b.bit AND a.doc_id < b.doc_id
  GROUP BY doc_a, doc_b)"""
    sql["simhash_pairs"] = f"""
WITH {simhash_ctes}
SELECT doc_a, doc_b, hamming FROM ham WHERE hamming <= 6
"""

    # duplicate clustering over the same pair graph: component = min
    # reachable doc id, computed by a TRUE transitive closure (recursive
    # CTE) — an algorithm-independent check of the distributed
    # min-label-propagation loop
    sql["dedup_components"] = f"""
WITH RECURSIVE {simhash_ctes},
dedges AS (
  SELECT doc_a AS src, doc_b AS dst FROM ham WHERE hamming <= 6
  UNION ALL
  SELECT doc_b, doc_a FROM ham WHERE hamming <= 6),
reach(node, r) AS (
  SELECT DISTINCT src, src FROM dedges
  UNION
  SELECT rc.node, e.dst FROM reach rc JOIN dedges e ON e.src = rc.r)
SELECT node::BIGINT AS doc_id, min(r)::BIGINT AS component
FROM reach GROUP BY node
"""

    sql["bm25_topk"] = f"""
WITH {_BASE},
{qterms},
{_SCORED}
SELECT qid, doc_id, rank::BIGINT AS rank, round(score, {SCORE_ROUND}) AS score
FROM topk WHERE rank <= {TOPK}
"""
    # WAND must produce the identical result set through the compressed path
    sql["bm25_topk_wand"] = sql["bm25_topk"]
    # ... and so must the serving tier reading the same index off disk
    sql["local_wand_topk"] = sql["bm25_topk"]
    # ... and the streaming-segment incremental build (index-identical
    # to the batch build over the same docs, so same ranking)
    sql["incremental_topk"] = sql["bm25_topk"]

    # Dirichlet query likelihood (method:dir, mu:1600)
    sql["lm_topk"] = f"""
WITH {_BASE},
{qterms},
c AS (SELECT sum(cf)::DOUBLE AS c_total FROM vocab),
{_dirichlet_scored("lmscored", "qterms")},
{_ranked("lmtopk", "lmscored")}
SELECT qid, doc_id, rank::BIGINT AS rank, round(score, {SCORE_ROUND}) AS score
FROM lmtopk WHERE rank <= {TOPK}
"""

    # RM3 over Dirichlet-LM feedback + final pass (method:dir PRF):
    # posteriors = softmax(log-QL) over the top-FB_DOCS run, RM1 term
    # weights, top-FB_TERMS renormalized, ORIG_W interpolation, then the
    # same lm scoring with the expanded weights.
    sql["lm_rm3_topk"] = f"""
WITH {_BASE},
{qterms},
c AS (SELECT sum(cf)::DOUBLE AS c_total FROM vocab),
{_dirichlet_scored("lmscored", "qterms")},
{_ranked("lmtopk", "lmscored")},
{_rm3("lmtopk", _SOFTMAX)},
{_dirichlet_scored("lmscored2", "expanded")},
{_ranked("lmtopk2", "lmscored2")}
SELECT qid, doc_id, rank::BIGINT AS rank, round(score, {SCORE_ROUND}) AS score
FROM lmtopk2 WHERE rank <= {TOPK}
"""

    # Two-stage smoothing (method:two, mu=1600, lambda=0.4). Candidates
    # match >= 1 in-vocab term; EVERY in-vocab query term contributes
    # (tf=0 when absent): p(t|d) = 0.6*(tf + mu*p_t)/(dl+mu) + 0.4*p_t.
    sql["two_stage_topk"] = f"""
WITH {_BASE},
{qterms},
c AS (SELECT sum(cf)::DOUBLE AS c_total FROM vocab),
qv AS (
  SELECT q.qid, q.term, q.weight, v.cf / c.c_total AS p_t
  FROM qterms q JOIN vocab v ON v.term = q.term CROSS JOIN c
),
qpairs AS (
  SELECT qv.qid, qv.term, tf.doc_id, tf.tf
  FROM qv JOIN tf ON tf.term = qv.term
),
cands AS (SELECT DISTINCT qid, doc_id FROM qpairs),
fullq AS (
  SELECT cd.qid, cd.doc_id, qv.weight, qv.p_t,
         coalesce(p.tf, 0) AS tf, dl.dl
  FROM cands cd
  JOIN qv ON qv.qid = cd.qid
  LEFT JOIN qpairs p
    ON p.qid = cd.qid AND p.term = qv.term AND p.doc_id = cd.doc_id
  JOIN dl ON dl.doc_id = cd.doc_id
),
tsscored AS (
  SELECT qid, doc_id,
         sum(weight * ln(0.6 * (tf + 1600.0 * p_t) / (dl + 1600.0)
                         + 0.4 * p_t)) AS score
  FROM fullq GROUP BY qid, doc_id
),
{_ranked("tstopk", "tsscored")}
SELECT qid, doc_id, rank::BIGINT AS rank, round(score, {SCORE_ROUND}) AS score
FROM tstopk WHERE rank <= {TOPK}
"""

    # the serving tier must reproduce both LM rules off the same index
    sql["local_lm_topk"] = sql["lm_topk"]
    sql["local_two_stage_topk"] = sql["two_stage_topk"]
    sql["local_lm_rm3_topk"] = sql["lm_rm3_topk"]

    sql["rm3_expansion"] = f"""
WITH {_BASE},
{qterms},
{_SCORED},
{_rm3("topk")}
SELECT qid, term, round(weight, 6) AS weight FROM expanded
"""

    sql["bm25_rm3_topk"] = f"""
WITH {_BASE},
{qterms},
{_SCORED},
{_rm3("topk")},
{_bm25_scored("scored2", "expanded")},
{_ranked("topk2", "scored2")}
SELECT qid, doc_id, rank::BIGINT AS rank, round(score, {SCORE_ROUND}) AS score
FROM topk2 WHERE rank <= {TOPK}
"""
    sql["local_rm3_topk"] = sql["bm25_rm3_topk"]

    # S14 live-delete/compact: both phases must equal BM25 over the
    # surviving docs (documents minus the deleted residue class)
    base_kept = _BASE.replace(
        "FROM documents",
        "FROM (SELECT * FROM documents "
        f"WHERE doc_id % {LIVE_DELETE_MOD} <> 0)",
    )
    sql["live_delete_topk"] = f"""
WITH {base_kept},
{qterms},
{_SCORED}
SELECT ph.phase, qid, doc_id, rank::BIGINT AS rank,
       round(score, {SCORE_ROUND}) AS score
FROM topk CROSS JOIN (VALUES ('live'), ('compacted')) ph(phase)
WHERE rank <= {TOPK}
"""

    # S13 merge: BM25 over the union of input B and input A's survivors,
    # keyed on url (the original doc_id as string — renumber-invariant)
    base_merged = _BASE.replace(
        "FROM documents",
        "FROM (SELECT * FROM documents "
        f"WHERE doc_id >= {MERGE_SPLIT} OR doc_id % {MERGE_DEL_MOD} <> 0)",
    )
    sql["merge_then_query"] = f"""
WITH {base_merged},
{qterms},
{_SCORED}
SELECT qid, doc_id::VARCHAR AS url, rank::BIGINT AS rank,
       round(score, {SCORE_ROUND}) AS score
FROM topk WHERE rank <= {TOPK}
"""

    sql["eval_metrics"] = _eval_sql(qterms, P_CUTS, NDCG_CUTS)
    # F6 hard-topics projection: the same evaluation restricted to the
    # frozen hard-topic subset BEFORE aggregation (the reference slices
    # its per-topic result tables to a hard-query list; SURVEY §2 F6)
    sql["hard_topics_eval"] = _eval_sql(
        qterms, [10], [10],
        run_where=" AND qid IN ({})".format(
            ", ".join(f"'{q}'" for q in HARD_TOPICS)
        ),
    )


    sql["assoc_expand"] = f"""
WITH {_BASE},
{qterms},
aqt AS (SELECT DISTINCT qid, term AS orig FROM qterms),
srcs AS (SELECT DISTINCT orig FROM aqt),
docs_per AS (SELECT term, doc_id FROM tf),
pairdf AS (
  SELECT sp.orig, dp.term AS cand, count(*)::BIGINT AS df_both
  FROM (SELECT d.term AS orig, d.doc_id
        FROM docs_per d JOIN srcs s ON s.orig = d.term) sp
  JOIN docs_per dp ON dp.doc_id = sp.doc_id AND dp.term <> sp.orig
  GROUP BY sp.orig, dp.term
  HAVING count(*) >= {ASSOC_MIN_DF_BOTH}),
assoc AS (
  SELECT p.orig, p.cand,
         p.df_both::DOUBLE / (vs.df + vc.df - p.df_both) AS assoc
  FROM pairdf p
  JOIN vocab vs ON vs.term = p.orig
  JOIN vocab vc ON vc.term = p.cand),
acand AS (
  SELECT q.qid, a.cand, sum(a.assoc) AS score
  FROM aqt q JOIN assoc a USING (orig)
  LEFT JOIN aqt x ON x.qid = q.qid AND x.orig = a.cand
  WHERE x.orig IS NULL AND regexp_matches(a.cand, '^[\\x20-\\x7e]+$')
  GROUP BY q.qid, a.cand),
atop AS (
  SELECT qid, cand, score FROM (
    SELECT qid, cand, score,
           row_number() OVER (PARTITION BY qid
                              ORDER BY round(score, {RANK_ROUND + 3}) DESC, cand) AS rn
    FROM acand) WHERE rn <= {ASSOC_N_TERMS})
SELECT qid, cand AS term,
       round(score / sum(score) OVER (PARTITION BY qid), 6) AS weight
FROM atop
"""

    sql["inferred_eval"] = f"""
WITH {_BASE},
{qterms},
{_SCORED},
{_QRELS},
sq AS (SELECT qid, doc_id, rel, 0.5 AS rate FROM qrels WHERE doc_id % 2 = 0),
irun AS (SELECT qid, doc_id, rank FROM topk WHERE rank <= {TOPK}),
ij AS (SELECT r.qid, r.doc_id, r.rank, s.rel, s.rate,
              CASE WHEN s.rel > 0 THEN 1.0 / s.rate ELSE 0.0 END AS w_rel
       FROM irun r LEFT JOIN sq s ON r.qid = s.qid AND r.doc_id = s.doc_id),
iph AS (SELECT *, coalesce(sum(w_rel) OVER (
              PARTITION BY qid ORDER BY rank
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS rel_above
        FROM ij),
irhat AS (SELECT qid, sum(1.0 / rate) AS r_hat FROM sq WHERE rel > 0 GROUP BY qid),
isums AS (SELECT qid,
            sum((1.0 / rate) * (1.0 + rel_above) / rank) AS ap_sum,
            sum((pow(2.0, rel) - 1.0) / log2(rank + 1.0) / rate) AS dcg_hat
          FROM iph WHERE rel > 0 GROUP BY qid),
igc AS (SELECT qid, rel, round(sum(1.0 / rate))::BIGINT AS n_g
        FROM sq WHERE rel > 0 GROUP BY qid, rel
        HAVING round(sum(1.0 / rate)) > 0),
igs AS (SELECT qid, rel, n_g,
               coalesce(sum(n_g) OVER (PARTITION BY qid ORDER BY rel DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS strt
        FROM igc),
iidcg AS (SELECT qid, sum(part) AS idcg_hat FROM (
            SELECT qid,
                   (pow(2.0, rel) - 1.0)
                   / log2(unnest(generate_series((strt + 1)::BIGINT,
                                                 (strt + n_g)::BIGINT)) + 1.0) AS part
            FROM igs)
          GROUP BY qid),
iperq AS (SELECT q.qid,
            CASE WHEN coalesce(r.r_hat, 0) > 0
                 THEN coalesce(s.ap_sum, 0) / r.r_hat ELSE 0.0 END AS infap,
            CASE WHEN coalesce(i.idcg_hat, 0) > 0
                 THEN coalesce(s.dcg_hat, 0) / i.idcg_hat ELSE 0.0 END AS infndcg
          FROM (SELECT DISTINCT qid FROM irun) q
          LEFT JOIN isums s USING (qid)
          LEFT JOIN irhat r USING (qid)
          LEFT JOIN iidcg i USING (qid)),
ilong AS (SELECT 'infAP' AS metric, qid, infap AS value FROM iperq
          UNION ALL SELECT 'infNDCG', qid, infndcg FROM iperq)
SELECT metric, qid, round(value, 6) AS value FROM ilong
UNION ALL
SELECT metric, 'all' AS qid, round(avg(value), 6) AS value
FROM ilong GROUP BY metric
"""

    sql["cooccur_expand"] = f"""
WITH {_BASE},
{_qterms_cte()},
qt AS (SELECT DISTINCT qid, term FROM qterms),
qdocs AS (SELECT DISTINCT qt.qid, tf.doc_id FROM qt JOIN tf USING (term)),
cands AS (
  SELECT q.qid, tf.term AS cand, count(DISTINCT tf.doc_id)::BIGINT AS n_docs
  FROM qdocs q JOIN tf ON tf.doc_id = q.doc_id
  GROUP BY q.qid, tf.term),
filtered AS (
  SELECT c.* FROM cands c
  LEFT JOIN qt ON qt.qid = c.qid AND qt.term = c.cand
  WHERE qt.term IS NULL AND c.n_docs >= {COOC_MIN_DOCS}),
ranked AS (
  SELECT qid, cand, n_docs,
         row_number() OVER (PARTITION BY qid ORDER BY n_docs DESC, cand) AS rank
  FROM filtered)
SELECT qid, cand, n_docs, rank::BIGINT AS rank FROM ranked WHERE rank <= 5
"""

    # Corpus-derived co-occurrence graph shared by the feature-expansion
    # entries (mirrors webtext.cooccur_edges; the SQL side needs no
    # frontier restriction — candidate generation inner-joins on src, so
    # unused src rows cannot change the result).
    edges_cte = f"""
edges AS (
  SELECT a.term AS orig, b.term AS cand, count(*)::BIGINT AS df_both
  FROM tf a JOIN tf b USING (doc_id)
  WHERE a.term <> b.term
  GROUP BY 1, 2
  HAVING count(*) >= {FEAT_EDGE_MIN})
"""

    sql["feature_expand"] = f"""
WITH {_BASE},
{qterms},
{edges_cte.strip()},
{_feature_sql('f1', 'qterms', 'qterms', FEAT_TOP_T, FEAT_N_TERMS).strip()}
SELECT qid, cand, round(weight, {SCORE_ROUND}) AS weight, rank::BIGINT AS rank
FROM f1sel
"""

    # Two-layer sequential expansion + final #weight(0.7 orig ...) run.
    # Layer 2's sources are layer 1's selected terms (weight 1.0);
    # layer-2 candidates exclude layer-1 selections at generation time
    # (candidate_edges' src exclusion) and the ORIGINAL query terms
    # post-selection (sequential_expand's anti-join vs `out`).
    lw1, lw2 = SEQ_LAYER_WEIGHTS
    n1, n2 = SEQ_LAYER_TERMS
    sql["sequential_expand_topk"] = f"""
WITH {_BASE},
{qterms},
{edges_cte.strip()},
{_feature_sql('f1', 'qterms', 'qterms', FEAT_TOP_T, n1).strip()},
l2src AS (SELECT qid, cand AS term, 1.0 AS weight FROM f1sel),
l2excl AS (SELECT qid, cand AS term FROM f1sel),
{_feature_sql('f2', 'l2src', 'l2excl', FEAT_TOP_T, n2).strip()},
l2sel AS (
  SELECT s.* FROM f2sel s
  WHERE NOT EXISTS (SELECT 1 FROM qterms q
                    WHERE q.qid = s.qid AND q.term = s.cand)),
orign AS (
  SELECT qid, term,
         {ORIG_W} * weight / sum(weight) OVER (PARTITION BY qid) AS weight
  FROM qterms),
expall AS (
  SELECT qid, cand AS term, {lw1} * weight AS weight FROM f1sel
  UNION ALL
  SELECT qid, cand AS term, {lw2} * weight AS weight FROM l2sel),
expn AS (
  SELECT qid, term,
         CASE WHEN sum(weight) OVER (PARTITION BY qid) > 0
              THEN {1.0 - ORIG_W} * weight
                   / sum(weight) OVER (PARTITION BY qid)
              ELSE 0.0 END AS weight
  FROM expall),
mixed AS (
  SELECT qid, term, sum(weight) AS weight
  FROM (SELECT * FROM orign UNION ALL SELECT * FROM expn)
  GROUP BY qid, term),
{_bm25_scored("fin", "mixed")},
{_ranked("fintop", "fin")}
SELECT qid, doc_id, rank::BIGINT AS rank, round(score, {SCORE_ROUND}) AS score
FROM fintop WHERE rank <= {TOPK}
"""

    # --- source fixtures: raw rows shared, transforms recomputed -----
    from .sources.graph import GOOD_TUIS

    mrconso, mrrel_rows, mrsty_rows = _umls_fixture()
    conso_vals = ",\n    ".join(
        f"('{r[0]}', '{r[1]}', '{r[2]}', '{r[4]}', '{r[6]}', '{r[14]}')"
        for r in mrconso
    )
    rel_vals = ",\n    ".join(
        f"('{r[0]}', '{r[3]}', '{r[4]}')" for r in mrrel_rows
    )
    sty_vals = ",\n    ".join(f"('{r[0]}', '{r[1]}')" for r in mrsty_rows)
    good_list = "', '".join(GOOD_TUIS)
    sql["umls_concept_expand"] = f"""
WITH {qterms},
mrconso(cui, lat, ts, stt, ispref, str) AS (VALUES
    {conso_vals}),
mrrel(src, rel, dst) AS (VALUES
    {rel_vals}),
mrsty(cui, tui) AS (VALUES
    {sty_vals}),
names AS (
  SELECT cui,
         lower(trim(regexp_replace(str, '[\\(\\[].*?[\\)\\]]', '', 'g'))) AS name
  FROM mrconso
  WHERE lat = 'ENG' AND ts = 'P' AND stt = 'PF' AND ispref = 'Y'),
namesf AS (SELECT * FROM names WHERE regexp_matches(name, '^[a-z ]+$')),
gredges AS (
  SELECT rel, src, dst, count(*)::BIGINT AS weight
  FROM mrrel WHERE src <> dst GROUP BY 1, 2, 3),
goodcui AS (SELECT DISTINCT cui FROM mrsty WHERE tui IN ('{good_list}')),
gedges AS (SELECT e.* FROM gredges e JOIN goodcui g ON g.cui = e.dst),
qtd AS (SELECT DISTINCT qid, term FROM qterms),
qcui AS (SELECT q.qid, n.cui FROM qtd q JOIN namesf n ON n.name = q.term),
cand AS (
  SELECT qc.qid, e.dst AS cui, n2.name AS cand_name,
         sum(e.weight)::BIGINT AS weight
  FROM qcui qc
  JOIN gedges e ON e.src = qc.cui
  JOIN namesf n2 ON n2.cui = e.dst
  WHERE NOT EXISTS (SELECT 1 FROM qtd q2
                    WHERE q2.qid = qc.qid AND q2.term = n2.name)
  GROUP BY 1, 2, 3)
SELECT qid, cui, cand_name,
       replace(cand_name, ' ', '_') AS concept_key,
       weight, rank::BIGINT AS rank FROM (
  SELECT qid, cui, cand_name, weight,
         row_number() OVER (PARTITION BY qid
                            ORDER BY weight DESC, cui) AS rank
  FROM cand)
"""

    cnet_vals = ",\n    ".join(
        f"('{r[0]}', '{r[1]}', '{r[2]}')" for r in _conceptnet_rows()
    )
    sql["conceptnet_edges"] = f"""
WITH rawcn(rel, src, dst) AS (VALUES
    {cnet_vals}),
filt AS (
  SELECT * FROM rawcn
  WHERE regexp_matches(src, '^[\\x20-\\x7e]+$')
    AND regexp_matches(dst, '^[\\x20-\\x7e]+$'))
SELECT rel, src, dst FROM filt
UNION
SELECT rel, dst AS src, src AS dst FROM filt
"""

    inflect_union = "\n  UNION ALL ".join(
        [f"SELECT term || '{s}' AS token FROM vocab" for s in _INFLECT_SUFFIXES]
        + [
            f"SELECT term || substr(term, length(term), 1) || '{s}' FROM vocab"
            for s in ("ing", "ed")
        ]
    )
    # the CASE cascade must mirror stem_py's RULE ORDER exactly
    stem_case = """CASE
  WHEN length(token) > 4 AND token LIKE '%ies'
    THEN substr(token, 1, length(token) - 3) || 'y'
  WHEN length(token) > 3 AND token LIKE '%es'
       AND NOT (token LIKE '%ses' OR token LIKE '%zes' OR token LIKE '%oes')
    THEN substr(token, 1, length(token) - 1)
  WHEN length(token) > 3 AND token LIKE '%s'
       AND NOT (token LIKE '%ss' OR token LIKE '%us' OR token LIKE '%is')
    THEN substr(token, 1, length(token) - 1)
  WHEN length(token) > 5 AND token LIKE '%ing'
    THEN CASE WHEN length(token) - 3 > 2
                   AND substr(token, length(token) - 3, 1)
                       = substr(token, length(token) - 4, 1)
              THEN substr(token, 1, length(token) - 4)
              ELSE substr(token, 1, length(token) - 3) END
  WHEN length(token) > 4 AND token LIKE '%ed'
    THEN CASE WHEN length(token) - 2 > 2
                   AND substr(token, length(token) - 2, 1)
                       = substr(token, length(token) - 3, 1)
              THEN substr(token, 1, length(token) - 3)
              ELSE substr(token, 1, length(token) - 2) END
  ELSE token END"""
    sql["stemmed_tokens"] = f"""
WITH {_BASE},
inflected AS (
  {inflect_union})
SELECT DISTINCT token, {stem_case} AS stem FROM inflected
"""

    grid_blocks, grid_rows = [], []
    for gi, (gk1, gb) in enumerate(GRID_K1B):
        grid_blocks.append(f"""
{_bm25_scored(f"g{gi}s", "qterms", k1=gk1, b=gb)},
{_ranked(f"g{gi}r", f"g{gi}s", TOPK)},
g{gi}p AS (
  SELECT r.qid, r.rank, coalesce(qr.rel, 0) AS rel,
         sum(CASE WHEN coalesce(qr.rel, 0) > 0 THEN 1 ELSE 0 END)
           OVER (PARTITION BY r.qid ORDER BY r.rank) AS hits
  FROM g{gi}r r
  LEFT JOIN qrels qr ON qr.qid = r.qid AND qr.doc_id = r.doc_id),
g{gi}a AS (
  SELECT qid, sum(CASE WHEN rel > 0 THEN hits::DOUBLE / rank END) AS sum_prec
  FROM g{gi}p GROUP BY qid),
g{gi}m AS (
  SELECT avg(CASE WHEN coalesce(n.n_rel, 0) > 0
                  THEN coalesce(a.sum_prec, 0) / n.n_rel
                  ELSE 0.0 END) AS map
  FROM (SELECT DISTINCT qid FROM g{gi}r) q
  LEFT JOIN g{gi}a a USING (qid)
  LEFT JOIN gnrel n USING (qid))""")
        grid_rows.append(
            f"SELECT {gk1} AS k1, {gb} AS b,"
            f" (SELECT round(map, 6) FROM g{gi}m) AS map"
        )
    grid_union = "\n  UNION ALL ".join(grid_rows)
    sql["grid_search_map"] = f"""
WITH {_BASE},
{qterms},
{_QRELS.strip()},
gnrel AS (SELECT qid, count(*)::BIGINT AS n_rel FROM qrels GROUP BY qid),
{",".join(grid_blocks)},
grid AS (
  {grid_union})
SELECT k1, b, map, rank::BIGINT AS rank FROM (
  SELECT k1, b, map,
         row_number() OVER (ORDER BY map DESC, k1) AS rank
  FROM grid)
"""

    # S10 roundtrip: %.6f serialization of the raw weights, then the
    # parser's per-query #weight mass normalization
    # serialized 6-dp weights -> per-clause normalized mass -> each
    # ENGINE-TOKENIZER token of the clause's term string receives the
    # full clause mass (indriql._flatten's term rule), summed per
    # (qid, token). Tokenizing the term strings with the shared DuckDB
    # tokenizer makes the underscored X8 tokens a cross-engine check.
    cfg_vals = ",\n    ".join(
        f"('{q}', '{t}', {w})" for q, t, w in indri_cfg_query_rows()
    )
    _cfg_tok = TOKENIZE_SQL_DUCKDB.format(col="term")
    sql["indri_cfg_roundtrip"] = f"""
WITH cfgq(qid, term, weight) AS (VALUES
    {cfg_vals}),
ser AS (SELECT qid, term, round(weight, 6) AS w FROM cfgq),
norm AS (SELECT qid, term,
                w / sum(w) OVER (PARTITION BY qid) AS nw
         FROM ser),
tokd AS (SELECT qid, unnest({_cfg_tok}) AS tok, nw FROM norm)
SELECT qid, tok AS term, round(sum(nw), 6) AS weight
FROM tokd GROUP BY qid, tok
"""

    qm = _sgml_qid_map()
    tq_vals = ",\n    ".join(
        f"('{qm[q]}', '{t}', {w})" for q, t, w in query_term_rows()
    )
    sql["trec_run_roundtrip"] = f"""
WITH {_BASE},
tq(qid, term, weight) AS (VALUES
    {tq_vals}),
{_bm25_scored("scored2", "tq")},
{_ranked("topk2", "scored2")}
SELECT qid, doc_id::VARCHAR AS docno, rank::BIGINT AS rank,
       round(score, 6) AS score
FROM topk2 WHERE rank <= {TOPK}
"""

    sql["working_set_rescore"] = f"""
WITH {_BASE},
{_qterms_cte()},
{_bm25_scored("scored_ws", "qterms", f"tf.doc_id < {WORKING_SET_MAX_DOC}")},
{_ranked("topk_ws", "scored_ws")}
SELECT qid, doc_id, rank::BIGINT AS rank, round(score, {SCORE_ROUND}) AS score
FROM topk_ws WHERE rank <= 5
"""

    od_parts = []
    for a, b in OD_PAIRS:
        od_parts.append(f"""
SELECT '{a}' AS a, '{b}' AS b,
       sum(CASE WHEN c > 0 THEN 1 ELSE 0 END)::BIGINT AS n_docs,
       sum(c)::BIGINT AS total_matches
FROM (
  SELECT len(list_filter(generate_series(1, len(toks)),
             i -> toks[i] = '{a}'
                  AND list_contains(toks[i+1:i+{OD_WINDOW}], '{b}')))::BIGINT AS c
  FROM doctoks)
""")
    sql["od_bigram_counts"] = (
        f"WITH {_BASE}\n" + "\nUNION ALL\n".join(od_parts)
    )
    # the positional-postings path must produce identical counts
    sql["od_bigram_postings"] = sql["od_bigram_counts"]

    uw_parts = []
    for a, b in OD_PAIRS:
        uw_parts.append(f"""
SELECT '{a}' AS a, '{b}' AS b,
       sum(CASE WHEN c > 0 THEN 1 ELSE 0 END)::BIGINT AS n_docs,
       sum(c)::BIGINT AS total_matches
FROM (
  SELECT doc_id, count(*) FILTER (WHERE tid <> ptid AND pos - ppos + 1 <= {UW2_N}) AS c
  FROM (
    SELECT doc_id, pos, tid,
           lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS ppos,
           lag(tid) OVER (PARTITION BY doc_id ORDER BY pos) AS ptid
    FROM (
      SELECT doc_id, unnest(list_filter(generate_series(1, len(toks)),
                                        j -> toks[j] = '{a}')) AS pos, 0 AS tid
      FROM doctoks
      UNION ALL
      SELECT doc_id, unnest(list_filter(generate_series(1, len(toks)),
                                        j -> toks[j] = '{b}')) AS pos, 1 AS tid
      FROM doctoks))
  GROUP BY doc_id)
""")
    sql["uw_pair_counts"] = (
        f"WITH {_BASE}\n" + "\nUNION ALL\n".join(uw_parts)
    )

    # phrase-clause scoring: each 2-term concept qid scores as
    #   0.4·BM25(a) + 0.4·BM25(b)            (#combine(name), w=0.8)
    # + 0.1·BM25(tf=#od4 count, df=od docs)  (#combine(#od4(a b)))
    # + 0.1·BM25(tf=#uw9 count, df=uw docs)  (#uw9(a b))
    # The 2-term #uwN count equals the number of CONSECUTIVE events in
    # the merged (a|b) position stream with differing terms and span ≤ N
    # (left-minimal covering windows) — expressible with lag().
    pw_ctes, pw_contribs = [], []
    for qid in sorted(CONCEPT_PHRASES):
        a, b = CONCEPT_PHRASES[qid].split()
        pw_ctes.append(f"""
od_{qid} AS (
  SELECT doc_id, len(list_filter(generate_series(1, len(toks)),
         j -> toks[j] = '{a}' AND list_contains(toks[j+1:j+{OD_WINDOW}], '{b}')))::BIGINT AS tf
  FROM doctoks),
odp_{qid} AS (SELECT doc_id, tf FROM od_{qid} WHERE tf > 0),
oddf_{qid} AS (SELECT count(*)::DOUBLE AS df FROM odp_{qid}),
ev_{qid} AS (
  SELECT doc_id, unnest(list_filter(generate_series(1, len(toks)),
                                    j -> toks[j] = '{a}')) AS pos, 0 AS tid
  FROM doctoks
  UNION ALL
  SELECT doc_id, unnest(list_filter(generate_series(1, len(toks)),
                                    j -> toks[j] = '{b}')) AS pos, 1 AS tid
  FROM doctoks),
uw_{qid} AS (
  SELECT doc_id,
         count(*) FILTER (WHERE tid <> ptid AND pos - ppos + 1 <= {UW2_N})::BIGINT AS tf
  FROM (SELECT doc_id, pos, tid,
               lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS ppos,
               lag(tid) OVER (PARTITION BY doc_id ORDER BY pos) AS ptid
        FROM ev_{qid})
  GROUP BY doc_id),
uwp_{qid} AS (SELECT doc_id, tf FROM uw_{qid} WHERE tf > 0),
uwdf_{qid} AS (SELECT count(*)::DOUBLE AS df FROM uwp_{qid})""")
        t_expr = _bm25(W_TERM / 2.0)
        od_expr = _bm25(W_OD, tf="p.tf", df="f.df")
        uw_expr = _bm25(W_UW, tf="p.tf", df="f.df")
        pw_contribs.append(f"""
  SELECT '{qid}' AS qid, tf.doc_id, {t_expr} AS contrib
  FROM tf JOIN vocab v USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s
  WHERE tf.term IN ('{a}', '{b}')
  UNION ALL
  SELECT '{qid}', p.doc_id, {od_expr}
  FROM odp_{qid} p JOIN dl USING (doc_id) CROSS JOIN oddf_{qid} f CROSS JOIN stats s
  UNION ALL
  SELECT '{qid}', p.doc_id, {uw_expr}
  FROM uwp_{qid} p JOIN dl USING (doc_id) CROSS JOIN uwdf_{qid} f CROSS JOIN stats s""")
    sql["phrase_weighted_topk"] = f"""
WITH {_BASE},{",".join(pw_ctes)},
contribs AS ({" UNION ALL ".join(pw_contribs)}),
pscored AS (
  SELECT qid, doc_id, sum(contrib) AS score FROM contribs GROUP BY qid, doc_id),
{_ranked("ptopk", "pscored")}
SELECT qid, doc_id, rank::BIGINT AS rank, round(score, {SCORE_ROUND}) AS score
FROM ptopk WHERE rank <= {TOPK}
"""

    # serving tier shares the phrase-scoring oracle
    sql["local_phrase_topk"] = sql["phrase_weighted_topk"]
    # same queries entering as rendered Indri query-language strings
    sql["indri_query_topk"] = sql["phrase_weighted_topk"]

    # RM3 over the structured queries: feedback = the phrase-scored
    # top-FB_DOCS, RM1 over raw tf/dl, final = ORIG_W·phrase_score +
    # expansion-term BM25 (orig clause mass is 0.8+0.1+0.1 = 1.0)
    sql["phrase_rm3_topk"] = f"""
WITH {_BASE},{",".join(pw_ctes)},
contribs AS ({" UNION ALL ".join(pw_contribs)}),
pscored AS (
  SELECT qid, doc_id, sum(contrib) AS score FROM contribs GROUP BY qid, doc_id),
{_ranked("ptopk", "pscored")},
{_rm1("ptopk")},
expc AS (
  SELECT r.qid, tf.doc_id,
         {_bm25("r.weight")} AS c
  FROM rm1n r JOIN tf ON tf.term = r.term JOIN vocab v ON v.term = r.term
  JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats s),
pfinal AS (
  SELECT qid, doc_id, sum(c) AS score FROM (
    SELECT qid, doc_id, {ORIG_W} * score AS c FROM pscored
    UNION ALL SELECT qid, doc_id, c FROM expc) GROUP BY qid, doc_id),
{_ranked("pftopk", "pfinal")}
SELECT qid, doc_id, rank::BIGINT AS rank, round(score, {SCORE_ROUND}) AS score
FROM pftopk WHERE rank <= {TOPK}
"""
    sql["local_indri_rm3_topk"] = sql["phrase_rm3_topk"]

    fetch_list = ", ".join(str(i) for i in FETCH_IDS)
    sql["doc_fetch"] = f"""
SELECT doc_id, text, lang, source FROM documents WHERE doc_id IN ({fetch_list})
"""

    sql["stats_by_source"] = f"""
WITH {_BASE}
SELECT d.source, count(*)::BIGINT AS n_docs,
       round(avg(len(t.toks)), 6) AS avg_tokens,
       count(DISTINCT d.lang)::BIGINT AS n_langs
FROM documents d JOIN doctoks t USING (doc_id)
GROUP BY d.source
"""

    sql["bigram_stats"] = f"""
WITH {_BASE}
SELECT bigram, count(*)::BIGINT AS n FROM (
  SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                               i -> toks[i] || ' ' || toks[i+1])) AS bigram
  FROM doctoks WHERE len(toks) >= 2)
GROUP BY bigram HAVING count(*) >= 20
"""

    sql["quality_pipeline"] = f"""
WITH {_BASE},
{_SHINGLES},
q AS (
  SELECT doc_id FROM (
    SELECT doc_id, len(toks)::BIGINT AS n_tokens,
           CASE WHEN len(toks) > 0
                THEN len(list_filter(toks, t -> list_contains(['{_SW}'], t)))::DOUBLE / len(toks)
                ELSE 0.0 END AS stopword_ratio
    FROM doctoks)
  WHERE n_tokens >= 10 AND stopword_ratio <= 0.5),
dupped AS (SELECT DISTINCT doc_b AS doc_id FROM jpairs WHERE jaccard >= 0.8)
SELECT q.doc_id::BIGINT AS doc_id FROM q
LEFT JOIN dupped d ON d.doc_id = q.doc_id WHERE d.doc_id IS NULL
"""

    probe_list = ", ".join(str(p) for p in PROBE_IDS)
    sql["cosine_topk"] = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
p AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id IN ({probe_list})),
scored AS (
  SELECT p.probe_id, e.vec_id, list_cosine_similarity(p.pv, e.v) AS cos
  FROM p, e WHERE e.vec_id <> p.probe_id),
ranked AS (
  SELECT probe_id, vec_id, cos,
         row_number() OVER (PARTITION BY probe_id
                            ORDER BY round(cos, {RANK_ROUND}) DESC, vec_id) AS rank
  FROM scored)
SELECT probe_id, vec_id, rank::BIGINT AS rank, round(cos, 5) AS cos
FROM ranked WHERE rank <= {TOPK}
"""

    cent_list = ", ".join(str(c) for c in IVF_CENTROID_IDS)
    sql["cosine_topk_lsh"] = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
pl AS (
  SELECT j.j, d.d,
         CASE WHEN ('0x' || substring(md5(j.j::VARCHAR || ':' || d.d::VARCHAR), 1, 1))::INT % 2 = 1
              THEN 1.0 ELSE -1.0 END AS w
  FROM generate_series(0, {LSH_N_PLANES - 1}) AS j(j),
       generate_series(0, {EMB_DIM - 1}) AS d(d)),
sgn AS (
  SELECT e.vec_id, p.j,
         CASE WHEN round(sum(e.v[p.d + 1] * p.w), {RANK_ROUND}) > 0
              THEN 1 ELSE 0 END AS bit
  FROM e, pl p GROUP BY e.vec_id, p.j),
bkt AS (
  SELECT vec_id, sum(bit * (1::BIGINT << j))::BIGINT AS bucket
  FROM sgn GROUP BY vec_id),
nbr AS (
  SELECT b.vec_id AS probe_id,
         xor(b.bucket, CASE WHEN f.f < 0 THEN 0 ELSE (1::BIGINT << f.f) END) AS nb
  FROM bkt b, generate_series(-1, {LSH_N_PLANES - 1}) AS f(f)
  WHERE b.vec_id IN ({probe_list})),
cand AS (
  SELECT DISTINCT n.probe_id, v.vec_id
  FROM nbr n JOIN bkt v ON v.bucket = n.nb
  WHERE v.vec_id <> n.probe_id),
lscored AS (
  SELECT c.probe_id, c.vec_id, list_cosine_similarity(pe.v, e.v) AS cos
  FROM cand c JOIN e pe ON pe.vec_id = c.probe_id JOIN e ON e.vec_id = c.vec_id),
lranked AS (
  SELECT probe_id, vec_id, cos,
         row_number() OVER (PARTITION BY probe_id
                            ORDER BY round(cos, {RANK_ROUND}) DESC, vec_id) AS rank
  FROM lscored)
SELECT probe_id, vec_id, rank::BIGINT AS rank, round(cos, 5) AS cos
FROM lranked WHERE rank <= {TOPK}
"""

    sql["cosine_topk_ivf"] = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cents AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS i, v
  FROM e WHERE vec_id IN ({cent_list})),
cscore AS (
  SELECT e.vec_id, c.i, round(list_dot_product(e.v, c.v), {RANK_ROUND}) AS s
  FROM e, cents c),
assign AS (
  SELECT vec_id, i AS bucket FROM (
    SELECT vec_id, i,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, i DESC) AS rn
    FROM cscore) WHERE rn = 1),
pprobe AS (
  SELECT vec_id AS probe_id, i AS bucket FROM (
    SELECT vec_id, i,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, i DESC) AS rn
    FROM cscore WHERE vec_id IN ({probe_list})) WHERE rn <= {IVF_NPROBE}),
cand AS (
  SELECT DISTINCT p.probe_id, a.vec_id
  FROM pprobe p JOIN assign a ON a.bucket = p.bucket
  WHERE a.vec_id <> p.probe_id),
iscored AS (
  SELECT c.probe_id, c.vec_id, list_cosine_similarity(pe.v, e.v) AS cos
  FROM cand c JOIN e pe ON pe.vec_id = c.probe_id JOIN e ON e.vec_id = c.vec_id),
iranked AS (
  SELECT probe_id, vec_id, cos,
         row_number() OVER (PARTITION BY probe_id
                            ORDER BY round(cos, {RANK_ROUND}) DESC, vec_id) AS rank
  FROM iscored)
SELECT probe_id, vec_id, rank::BIGINT AS rank, round(cos, 5) AS cos
FROM iranked WHERE rank <= {TOPK}
"""

    # one Lloyd step of the spherical-k-means IVF trainer: same fixed-row
    # init + rounded argmax assignment as cosine_topk_ivf, then per-dim
    # means L2-normalized per bucket
    sql["ivf_train_step"] = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cents AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS i, v
  FROM e WHERE vec_id IN ({cent_list})),
cscore AS (
  SELECT e.vec_id, c.i, round(list_dot_product(e.v, c.v), {RANK_ROUND}) AS s
  FROM e, cents c),
assign AS (
  SELECT vec_id, i AS bucket FROM (
    SELECT vec_id, i,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, i DESC) AS rn
    FROM cscore) WHERE rn = 1),
dims AS (SELECT d AS dim FROM generate_series(1, {EMB_DIM}) AS t(d)),
mu AS (
  SELECT a.bucket, d.dim, avg(e.v[d.dim]) AS m, count(*)::BIGINT AS n
  FROM assign a JOIN e USING (vec_id), dims d
  GROUP BY a.bucket, d.dim),
nrm AS (SELECT bucket, sqrt(sum(m * m)) AS nn FROM mu GROUP BY bucket)
SELECT mu.bucket::BIGINT AS bucket, mu.n AS n, (mu.dim - 1)::BIGINT AS dim,
       round(mu.m / nrm.nn, 5) AS c
FROM mu JOIN nrm USING (bucket)
"""

    # 3 composed Lloyd iterations: each iteration = rounded-argmax
    # assignment against the previous centroids, per-dim mean,
    # L2-normalize, round to 6 dp (matching ivf_train's centroid_round).
    # Empty buckets carry the previous centroid forward (rounded, since
    # np.round applies to the whole array).
    def _ivf_iter(k: int, prev: str) -> str:
        return f"""
a{k} AS (
  SELECT vec_id, i AS bucket FROM (
    SELECT e.vec_id, c.i,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY round(list_dot_product(e.v, c.v), {RANK_ROUND}) DESC,
                                       c.i DESC) AS rn
    FROM e, {prev} c) WHERE rn = 1),
mu{k} AS (
  SELECT a.bucket, d.dim, avg(e.v[d.dim]) AS m, count(*)::BIGINT AS n
  FROM a{k} a JOIN e USING (vec_id), dims d
  GROUP BY a.bucket, d.dim),
nr{k} AS (SELECT bucket, sqrt(sum(m * m)) AS nn FROM mu{k} GROUP BY bucket),
cl{k} AS (
  SELECT mu{k}.bucket,
         list(round(mu{k}.m / nr{k}.nn, {RANK_ROUND}) ORDER BY mu{k}.dim) AS v
  FROM mu{k} JOIN nr{k} USING (bucket)
  WHERE nr{k}.nn > 0 GROUP BY mu{k}.bucket),
c{k} AS (
  SELECT p.i,
         coalesce(cl{k}.v, list_transform(p.v, x -> round(x, {RANK_ROUND}))) AS v
  FROM {prev} p LEFT JOIN cl{k} ON cl{k}.bucket = p.i)"""

    iters_sql = ",".join(
        _ivf_iter(k, "cents" if k == 1 else f"c{k - 1}")
        for k in range(1, IVF_TRAIN_ITERS + 1)
    )
    fin = IVF_TRAIN_ITERS
    sql["ivf_train_multi"] = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cents AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS i, v
  FROM e WHERE vec_id IN ({cent_list})),
dims AS (SELECT d AS dim FROM generate_series(1, {EMB_DIM}) AS t(d)),
{iters_sql}
SELECT cnt.bucket::BIGINT AS bucket, cnt.n AS n,
       (d.dim - 1)::BIGINT AS dim, c{fin}.v[d.dim] AS c
FROM (SELECT bucket, count(*)::BIGINT AS n FROM a{fin} GROUP BY bucket) cnt
JOIN c{fin} ON c{fin}.i = cnt.bucket, dims d
"""

    # PQ: codebooks = the fixed rows sliced into PQ_M subspaces; encode =
    # rounded argmin per (vec, subspace) with ties -> lowest codeword;
    # ADC = integer micro-unit LUT sums (exact — no float accumulation).
    # dist_u = round(round(sqdist, R) * 1e6): for a 6-dp-rounded double,
    # *1e6 is within 1e-9 of an integer, so the int recovery is exact and
    # order-identical to comparing the rounded doubles themselves.
    pq_dsub = EMB_DIM // PQ_M
    pq_sq = f"""
sq AS (
  SELECT e.vec_id, s.j, c.i,
         CAST(round(round(sum(pow(e.v[s.j * {pq_dsub} + d.d + 1]
                                  - c.v[s.j * {pq_dsub} + d.d + 1], 2)),
                          {RANK_ROUND}) * 1000000, 0) AS BIGINT) AS dist_u
  FROM e, generate_series(0, {PQ_M - 1}) AS s(j), cents c,
       generate_series(0, {pq_dsub - 1}) AS d(d)
  GROUP BY e.vec_id, s.j, c.i),
codes AS (
  SELECT vec_id, j, i AS code FROM (
    SELECT vec_id, j, i,
           row_number() OVER (PARTITION BY vec_id, j
                              ORDER BY dist_u ASC, i ASC) AS rn
    FROM sq) WHERE rn = 1)"""
    sql["pq_topk_adc"] = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cents AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS i, v
  FROM e WHERE vec_id IN ({cent_list})),
{pq_sq},
lut AS (
  SELECT vec_id AS probe_id, j, i, dist_u FROM sq
  WHERE vec_id IN ({probe_list})),
adist AS (
  SELECT l.probe_id, c.vec_id, sum(l.dist_u)::BIGINT AS adist_u
  FROM codes c JOIN lut l ON l.j = c.j AND l.i = c.code
  WHERE c.vec_id <> l.probe_id
  GROUP BY l.probe_id, c.vec_id),
pranked AS (
  SELECT probe_id, vec_id, adist_u,
         row_number() OVER (PARTITION BY probe_id
                            ORDER BY adist_u ASC, vec_id ASC) AS rank
  FROM adist)
SELECT probe_id::BIGINT AS probe_id, vec_id::BIGINT AS vec_id,
       rank::BIGINT AS rank, adist_u
FROM pranked WHERE rank <= {TOPK}
"""

    # one Lloyd step of the PQ trainer: same fixed-row codebooks + the
    # SAME rounded-argmin assignment as pq_topk_adc's encode, then
    # per-dim means per (subspace, codeword)
    sql["pq_train_step"] = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cents AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS i, v
  FROM e WHERE vec_id IN ({cent_list})),
{pq_sq},
mu AS (
  SELECT c.j, c.code, d.d AS dim,
         avg(e.v[c.j * {pq_dsub} + d.d + 1]) AS m, count(*)::BIGINT AS n
  FROM codes c JOIN e USING (vec_id),
       generate_series(0, {pq_dsub - 1}) AS d(d)
  GROUP BY c.j, c.code, d.d)
SELECT j::BIGINT AS j, code::BIGINT AS code, n, dim::BIGINT AS dim,
       round(m, 5) AS c
FROM mu
"""

    # 3 composed PQ Lloyd iterations: each iteration assigns every
    # (vector, subspace) against the PREVIOUS iteration's codebooks
    # (rounded argmin, ties -> lowest codeword), recomputes per-dim
    # means, rounds to 6 dp (pq_train's codebook_round); empty codewords
    # carry the previous (rounded) value forward — the ivf_train_multi
    # construction applied per subspace.
    def _pq_iter(k: int, prev: str) -> str:
        return f"""
pd{k} AS (
  SELECT e.vec_id, c.j, c.i,
         round(sum(pow(e.v[c.j * {pq_dsub} + d.d + 1] - c.rv[d.d + 1], 2)),
               {RANK_ROUND}) AS dist
  FROM e, {prev} c, generate_series(0, {pq_dsub - 1}) AS d(d)
  GROUP BY e.vec_id, c.j, c.i),
pa{k} AS (
  SELECT vec_id, j, i AS code FROM (
    SELECT vec_id, j, i,
           row_number() OVER (PARTITION BY vec_id, j
                              ORDER BY dist ASC, i ASC) AS rn
    FROM pd{k}) WHERE rn = 1),
pm{k} AS (
  SELECT a.j, a.code, d.d AS dim,
         avg(e.v[a.j * {pq_dsub} + d.d + 1]) AS m, count(*)::BIGINT AS n
  FROM pa{k} a JOIN e USING (vec_id),
       generate_series(0, {pq_dsub - 1}) AS d(d)
  GROUP BY a.j, a.code, d.d),
pn{k} AS (
  SELECT j, code, list(round(m, {RANK_ROUND}) ORDER BY dim) AS rv
  FROM pm{k} GROUP BY j, code),
pc{k} AS (
  SELECT p.j, p.i,
         coalesce(n.rv, list_transform(p.rv, x -> round(x, {RANK_ROUND}))) AS rv
  FROM {prev} p LEFT JOIN pn{k} n ON n.j = p.j AND n.code = p.i)"""

    pq_iters_sql = ",".join(
        _pq_iter(k, "pc0" if k == 1 else f"pc{k - 1}")
        for k in range(1, PQ_TRAIN_ITERS + 1)
    )
    pq_fin = PQ_TRAIN_ITERS
    sql["pq_train_multi"] = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cents AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS i, v
  FROM e WHERE vec_id IN ({cent_list})),
pc0 AS (
  SELECT s.j, cb.i,
         list_transform(generate_series(1, {pq_dsub}),
                        d -> cb.v[s.j * {pq_dsub} + d]) AS rv
  FROM cents cb, generate_series(0, {PQ_M - 1}) AS s(j)),
{pq_iters_sql}
SELECT cnt.j::BIGINT AS j, cnt.code::BIGINT AS code, cnt.n,
       d.d::BIGINT AS dim, pc{pq_fin}.rv[d.d + 1] AS c
FROM (SELECT j, code, count(*)::BIGINT AS n FROM pa{pq_fin}
      GROUP BY j, code) cnt
JOIN pc{pq_fin} ON pc{pq_fin}.j = cnt.j AND pc{pq_fin}.i = cnt.code,
     generate_series(0, {pq_dsub - 1}) AS d(d)
"""

    # the streamed ANN index must rank exactly like the from-scratch
    # publish (frozen codebooks -> deterministic encode), so it shares
    # the full ivfpq oracle; assigned below after it is defined
    # IVF-PQ: coarse L2 assignment to 8 fixed-row centroids, residual
    # codebooks = the 16 fixed rows minus their own nearest centroid,
    # residual encode, one integer LUT per (probe, probed list), exact
    # BIGINT ADC sums. Every stage recomputed from the raw table.
    ivfpq_cc = ", ".join(str(c) for c in IVFPQ_CENT_IDS)
    sql["ivfpq_topk"] = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cc AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS b, v
  FROM e WHERE vec_id IN ({ivfpq_cc})),
cb16 AS (
  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS i, v
  FROM e WHERE vec_id IN ({cent_list})),
cdist AS (
  SELECT e.vec_id, c.b,
         round(sum(pow(e.v[d.d + 1] - c.v[d.d + 1], 2)), {RANK_ROUND}) AS dist
  FROM e, cc c, generate_series(0, {EMB_DIM - 1}) AS d(d)
  GROUP BY e.vec_id, c.b),
assign AS (
  SELECT vec_id, b AS bucket FROM (
    SELECT vec_id, b,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY dist ASC, b ASC) AS rn
    FROM cdist) WHERE rn = 1),
cbres AS (
  SELECT cb16.i,
         list_transform(generate_series(1, {EMB_DIM}),
                        d -> cb16.v[d] - cc.v[d]) AS rv
  FROM cb16 JOIN assign a USING (vec_id) JOIN cc ON cc.b = a.bucket),
rsq AS (
  SELECT a.vec_id, s.j, r.i,
         CAST(round(round(sum(pow((e.v[s.j * {pq_dsub} + d.d + 1]
                                   - c.v[s.j * {pq_dsub} + d.d + 1])
                                  - r.rv[s.j * {pq_dsub} + d.d + 1], 2)),
                          {RANK_ROUND}) * 1000000, 0) AS BIGINT) AS dist_u
  FROM assign a JOIN e USING (vec_id) JOIN cc c ON c.b = a.bucket,
       generate_series(0, {PQ_M - 1}) AS s(j), cbres r,
       generate_series(0, {pq_dsub - 1}) AS d(d)
  GROUP BY a.vec_id, s.j, r.i),
rcodes AS (
  SELECT vec_id, j, i AS code FROM (
    SELECT vec_id, j, i,
           row_number() OVER (PARTITION BY vec_id, j
                              ORDER BY dist_u ASC, i ASC) AS rn
    FROM rsq) WHERE rn = 1),
pprobe AS (
  SELECT vec_id AS probe_id, b AS bucket FROM (
    SELECT vec_id, b,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY dist ASC, b ASC) AS rn
    FROM cdist WHERE vec_id IN ({probe_list}))
  WHERE rn <= {IVFPQ_NPROBE}),
plut AS (
  SELECT p.probe_id, p.bucket, s.j, r.i,
         CAST(round(round(sum(pow((pe.v[s.j * {pq_dsub} + d.d + 1]
                                   - c.v[s.j * {pq_dsub} + d.d + 1])
                                  - r.rv[s.j * {pq_dsub} + d.d + 1], 2)),
                          {RANK_ROUND}) * 1000000, 0) AS BIGINT) AS dist_u
  FROM pprobe p JOIN e pe ON pe.vec_id = p.probe_id
       JOIN cc c ON c.b = p.bucket,
       generate_series(0, {PQ_M - 1}) AS s(j), cbres r,
       generate_series(0, {pq_dsub - 1}) AS d(d)
  GROUP BY p.probe_id, p.bucket, s.j, r.i),
iadist AS (
  SELECT l.probe_id, cd.vec_id, sum(l.dist_u)::BIGINT AS adist_u
  FROM rcodes cd
  JOIN assign a ON a.vec_id = cd.vec_id
  JOIN plut l ON l.bucket = a.bucket AND l.j = cd.j AND l.i = cd.code
  WHERE cd.vec_id <> l.probe_id
  GROUP BY l.probe_id, cd.vec_id),
iqranked AS (
  SELECT probe_id, vec_id, adist_u,
         row_number() OVER (PARTITION BY probe_id
                            ORDER BY adist_u ASC, vec_id ASC) AS rank
  FROM iadist)
SELECT probe_id::BIGINT AS probe_id, vec_id::BIGINT AS vec_id,
       rank::BIGINT AS rank, adist_u
FROM iqranked WHERE rank <= {TOPK}
"""
    sql["ivfpq_incremental_topk"] = sql["ivfpq_topk"]

    sql["cosine_pairs"] = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
       round(list_cosine_similarity(a.v, b.v), 5) AS cos
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.v, b.v) >= {COS_PAIR_THRESHOLD}
"""

    # near-dup scale path (round 4, BANDED): embeddings ∪ planted twins,
    # 32 md5-parity planes in 4 bands of 8, candidates = pairs sharing
    # any band's full code, verify = exact cosine >= threshold
    nd_r = ND_N_PLANES // ND_BANDS
    nd_t1 = ", ".join(str(i) for i in ND_PLANT_T1)
    nd_all = ", ".join(str(i) for i in ND_PLANT_T1 + ND_PLANT_T2)
    sql["embedding_near_dup"] = f"""
WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
tw AS (
  SELECT vec_id + {ND_TWIN_OFFSET} AS vec_id,
         list_transform(v, (x, i) -> x +
           (CASE WHEN vec_id IN ({nd_t1}) THEN {ND_EPS1} ELSE {ND_EPS2} END) *
           (CASE WHEN ('0x' || substring(md5('p:' || (i - 1)::VARCHAR), 1, 1))::INT % 2 = 1
                 THEN 1.0 ELSE -1.0 END)) AS v
  FROM e0 WHERE vec_id IN ({nd_all})),
allv AS (SELECT * FROM e0 UNION ALL SELECT * FROM tw),
pl AS (
  SELECT j.j, d.d,
         CASE WHEN ('0x' || substring(md5(j.j::VARCHAR || ':' || d.d::VARCHAR), 1, 1))::INT % 2 = 1
              THEN 1.0 ELSE -1.0 END AS w
  FROM generate_series(0, {ND_N_PLANES - 1}) AS j(j),
       generate_series(0, {EMB_DIM - 1}) AS d(d)),
sgn AS (
  SELECT a.vec_id, p.j,
         CASE WHEN round(sum(a.v[p.d + 1] * p.w), {RANK_ROUND}) > 0
              THEN 1 ELSE 0 END AS bit
  FROM allv a, pl p GROUP BY a.vec_id, p.j),
bkt AS (
  SELECT vec_id, j // {nd_r} AS band,
         sum(bit * (1::BIGINT << (j % {nd_r})))::BIGINT AS code
  FROM sgn GROUP BY vec_id, band),
cand AS (
  SELECT DISTINCT a.vec_id AS doc_a, b.vec_id AS doc_b
  FROM bkt a JOIN bkt b
    ON a.band = b.band AND a.code = b.code AND a.vec_id < b.vec_id),
ver AS (
  SELECT c.doc_a, c.doc_b, list_cosine_similarity(ea.v, eb.v) AS cos
  FROM cand c JOIN allv ea ON ea.vec_id = c.doc_a
              JOIN allv eb ON eb.vec_id = c.doc_b)
SELECT doc_a, doc_b, round(cos, 5) AS cos
FROM ver WHERE cos >= {ND_THRESHOLD}
"""

    # streaming host stats: the state-machine's final running totals must
    # equal a plain batch aggregate over the same pages (URLs unique ->
    # watermark dedup is a no-op; gates are the quality_score exprs)
    sql["streaming_host_stats"] = f"""
WITH {_BASE},
g AS (
  SELECT d.source, len(toks)::BIGINT AS n_tokens,
         CASE WHEN len(toks) > 0
              THEN len(list_filter(toks, t -> list_contains(['{_SW}'], t)))::DOUBLE / len(toks)
              ELSE 0.0 END AS stopword_ratio
  FROM documents d JOIN doctoks USING (doc_id))
SELECT source || '.example.org' AS host,
       count(*)::BIGINT AS n_pages,
       sum(CASE WHEN n_tokens >= 10 AND stopword_ratio <= 0.5
                THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       round(sum(n_tokens)::DOUBLE / count(*), 6) AS mean_tokens
FROM g GROUP BY source
"""

    # Gopher repetition gates: multiplicities recomputed RELATIONALLY
    # (explode -> GROUP BY) vs the engine's zero-shuffle sorted-array
    # kernel — independent op shapes, identical integer counts
    sql["repetition_stats"] = f"""
WITH {_BASE},
bgi AS (SELECT doc_id, unnest(generate_series(1, len(toks) - 1)) AS i
        FROM doctoks WHERE len(toks) >= 2),
bg AS (SELECT b.doc_id, array_to_string(d.toks[b.i:b.i+1], ' ') AS g
       FROM bgi b JOIN doctoks d USING (doc_id)),
tgi AS (SELECT doc_id, unnest(generate_series(1, len(toks) - 2)) AS i
        FROM doctoks WHERE len(toks) >= 3),
tg AS (SELECT t.doc_id, array_to_string(d.toks[t.i:t.i+2], ' ') AS g
       FROM tgi t JOIN doctoks d USING (doc_id)),
btop AS (SELECT doc_id, max(c) AS topc FROM (
           SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g)
         GROUP BY doc_id),
tdup AS (SELECT doc_id, sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dupocc FROM (
           SELECT doc_id, g, count(*) AS c FROM tg GROUP BY doc_id, g)
         GROUP BY doc_id)
SELECT d.doc_id, len(d.toks)::BIGINT AS n_tokens,
       round(CASE WHEN len(d.toks) > 0
             THEN (len(d.toks) - len(list_distinct(d.toks)))::DOUBLE / len(d.toks)
             ELSE 0.0 END, 6) AS dup_word_frac,
       round(CASE WHEN len(d.toks) >= 2
             THEN coalesce(b.topc, 0)::DOUBLE / (len(d.toks) - 1)
             ELSE 0.0 END, 6) AS top_bigram_frac,
       round(CASE WHEN len(d.toks) >= 3
             THEN coalesce(t.dupocc, 0)::DOUBLE / (len(d.toks) - 2)
             ELSE 0.0 END, 6) AS dup_trigram_frac
FROM doctoks d LEFT JOIN btop b USING (doc_id) LEFT JOIN tdup t USING (doc_id)
"""

    # decontamination: bench spans + distinct-8-gram overlap re-derived
    # from the raw documents table (source docs must flag at 1.0)
    doff, dspan = DECON_SPAN
    sql["decontaminate"] = f"""
WITH {_BASE},
longd AS (SELECT doc_id AS bench_id, toks[{doff}:{doff + dspan - 1}] AS btoks
          FROM doctoks WHERE len(toks) >= {DECON_MIN_TOKENS}
          ORDER BY doc_id LIMIT {DECON_BENCH_ITEMS}),
bgi AS (SELECT bench_id, unnest(generate_series(1, {dspan - DECON_N + 1})) AS i
        FROM longd),
bgrams AS (SELECT DISTINCT b.bench_id,
                  array_to_string(l.btoks[b.i:b.i+{DECON_N - 1}], ' ') AS gram
           FROM bgi b JOIN longd l USING (bench_id)),
btot AS (SELECT bench_id, count(*)::BIGINT AS bench_ngrams
         FROM bgrams GROUP BY bench_id),
dgi AS (SELECT doc_id, unnest(generate_series(1, len(toks) - {DECON_N - 1})) AS i
        FROM doctoks WHERE len(toks) >= {DECON_N}),
dgrams AS (SELECT DISTINCT g.doc_id,
                  array_to_string(d.toks[g.i:g.i+{DECON_N - 1}], ' ') AS gram
           FROM dgi g JOIN doctoks d USING (doc_id)),
m AS (SELECT d.doc_id, b.bench_id, count(*)::BIGINT AS matched_ngrams
      FROM dgrams d JOIN bgrams b USING (gram) GROUP BY d.doc_id, b.bench_id)
SELECT m.doc_id, m.bench_id, m.matched_ngrams, t.bench_ngrams,
       round(m.matched_ngrams::DOUBLE / t.bench_ngrams, 6) AS overlap_frac,
       (m.matched_ngrams::DOUBLE / t.bench_ngrams) >= {DECON_THRESHOLD} AS flagged
FROM m JOIN btot t USING (bench_id)
"""

    # URL dedup: the same four canonicalization regexes replayed verbatim
    sql["url_dedup"] = """
WITH u AS (
  SELECT doc_id,
         CASE doc_id % 4
           WHEN 0 THEN 'https://example.org/p' || (doc_id // 4)
           WHEN 1 THEN 'http://www.example.org/p' || (doc_id // 4) || '/'
           WHEN 2 THEN 'https://example.org/p' || (doc_id // 4) || '?utm_source=feed'
           ELSE 'HTTPS://EXAMPLE.ORG/p' || (doc_id // 4) || '#frag'
         END AS url
  FROM documents),
c AS (SELECT doc_id,
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                 lower(url), '^https?://', ''), '^www\\.', ''),
                 '[?#].*$', ''), '/$', '') AS canonical
      FROM u)
SELECT canonical, count(*)::BIGINT AS n_docs, min(doc_id)::BIGINT AS keep_doc,
       coalesce(array_to_string(list_sort(list(doc_id))[2:], ','), '') AS dup_csv
FROM c GROUP BY canonical
"""

    # mixture sampling: the md5-prefix hash and the rate CASE replayed
    # verbatim; the u < rate comparison is exact in float64 (24-bit int
    # over 2^24), so the surviving row set matches bit-for-bit
    mix_case = " ".join(
        f"WHEN '{src}' THEN {r!r}" for src, r in MIX_RATES.items()
    )
    sql["mixture_sample"] = f"""
WITH r AS (
  SELECT doc_id, source,
         CASE source {mix_case} ELSE {MIX_DEFAULT!r} END AS rate,
         ('0x' || substr(md5('{MIX_SALT}:' || doc_id), 1, 6))::BIGINT
             / {16 ** 6}.0 AS u
  FROM documents)
SELECT doc_id, source, round(1.0 / rate, 6) AS sample_weight
FROM r WHERE u < rate
"""

    # sequence packing: ONE global window replays the engine's
    # distributed two-pass prefix sum
    sql["pack_sequences"] = f"""
WITH {_BASE},
s AS (SELECT doc_id, len(toks)::BIGINT AS n_tokens,
             (sum(len(toks)) OVER (ORDER BY doc_id
                  ROWS UNBOUNDED PRECEDING) - len(toks))::BIGINT AS start_tok
      FROM doctoks)
SELECT doc_id, n_tokens, start_tok,
       (start_tok // {PACK_CAP})::BIGINT AS bin_id,
       ((start_tok % {PACK_CAP}) + n_tokens > {PACK_CAP}) AS overflow
FROM s
"""

    # line dedup: same 6-token re-lining + boilerplate plant, but the keep
    # rule replayed with count/row_number WINDOWS (vs the engine's
    # groupBy-argmin + drop-join) — independent op shapes, identical rows
    sql["line_dedup"] = f"""
WITH {_BASE},
ci AS (SELECT doc_id,
              unnest(generate_series(1, CAST(ceil(len(toks) / {LINE_W}.0) AS INT))) AS i
       FROM doctoks WHERE len(toks) > 0),
body AS (SELECT c.doc_id,
                string_agg(array_to_string(
                    d.toks[(c.i - 1) * {LINE_W} + 1:(c.i - 1) * {LINE_W} + {LINE_W}],
                    ' '), chr(10) ORDER BY c.i) AS b
         FROM ci c JOIN doctoks d USING (doc_id) GROUP BY c.doc_id),
txt AS (SELECT d.doc_id,
               coalesce(b.b, '') || chr(10) || 'all rights reserved footer' ||
               CASE WHEN d.doc_id % 5 = 0
                    THEN chr(10) || 'subscribe tier ' || (d.doc_id % 3)
                    ELSE '' END AS t
        FROM doctoks d LEFT JOIN body b USING (doc_id)),
l0 AS (SELECT doc_id, string_split(t, chr(10)) AS lst FROM txt),
li AS (SELECT doc_id, unnest(generate_series(1, len(lst))) AS i FROM l0),
lns AS (SELECT li.doc_id, li.i, l0.lst[li.i] AS ln
        FROM li JOIN l0 USING (doc_id)),
rk AS (SELECT doc_id, i, ln,
              count(*) OVER (PARTITION BY ln) AS cnt,
              row_number() OVER (PARTITION BY ln ORDER BY doc_id, i) AS rn
       FROM lns),
kept AS (SELECT doc_id, i, ln FROM rk WHERE cnt < 2 OR rn = 1),
agg AS (SELECT doc_id, count(*)::BIGINT AS n_kept,
               string_agg(ln, chr(10) ORDER BY i) AS t2
        FROM kept GROUP BY doc_id)
SELECT l0.doc_id, len(l0.lst)::BIGINT AS n_lines,
       coalesce(a.n_kept, 0)::BIGINT AS n_kept,
       md5(coalesce(a.t2, '')) AS text_fp
FROM l0 LEFT JOIN agg a USING (doc_id)
"""

    # latest snapshot: arg-max replayed with a window (independent shape
    # vs the engine's struct-max aggregate); ties planted by construction
    sql["latest_snapshot"] = """
WITH u AS (
  SELECT doc_id, 1700000000 + (doc_id // 2) AS warc_ts,
         CASE doc_id % 4
           WHEN 0 THEN 'https://example.org/p' || (doc_id // 4)
           WHEN 1 THEN 'http://www.example.org/p' || (doc_id // 4) || '/'
           WHEN 2 THEN 'https://example.org/p' || (doc_id // 4) || '?utm_source=feed'
           ELSE 'HTTPS://EXAMPLE.ORG/p' || (doc_id // 4) || '#frag'
         END AS url
  FROM documents),
c AS (SELECT doc_id, warc_ts,
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                 lower(url), '^https?://', ''), '^www\\.', ''),
                 '[?#].*$', ''), '/$', '') AS canonical
      FROM u),
r AS (SELECT canonical, doc_id, warc_ts,
             count(*) OVER (PARTITION BY canonical) AS n_snapshots,
             row_number() OVER (PARTITION BY canonical
                                ORDER BY warc_ts DESC, doc_id DESC) AS rn
      FROM c)
SELECT canonical, n_snapshots::BIGINT AS n_snapshots,
       doc_id::BIGINT AS keep_doc, warc_ts::BIGINT AS latest_ts
FROM r WHERE rn = 1
"""

    # PII scan: the plant and the pattern table replayed verbatim (the
    # patterns use only Java/RE2-identical syntax); md5(redacted) pins the
    # byte-level masking, not just the counts
    from .operators.pii import PII_PATTERNS as _PII

    pii_counts = ",\n  ".join(
        f"len(regexp_extract_all(t, '{pat}', 0))::BIGINT AS n_{name}"
        for name, pat in _PII
    )
    pii_redact = "t"
    for name, pat in _PII:
        pii_redact = (
            f"regexp_replace({pii_redact}, '{pat}', '[{name.upper()}]', 'g')"
        )
    pii_any = " OR ".join(
        f"len(regexp_extract_all(t, '{pat}', 0)) > 0" for name, pat in _PII
    )
    sql["pii_scan"] = f"""
WITH p AS (
  SELECT doc_id, text ||
    CASE WHEN doc_id % 3 = 0 THEN ' mail u' || (doc_id % 7) || '@host' ||
         (doc_id % 5) || '.example.org' ELSE '' END ||
    CASE WHEN doc_id % 4 = 0 THEN ' from 10.' || (doc_id % 200) || '.' ||
         (doc_id % 50) || '.7' ELSE '' END ||
    CASE WHEN doc_id % 5 = 0 THEN ' call 555-0' || (doc_id % 90 + 10) || '-' ||
         (doc_id % 9000 + 1000) ELSE '' END AS t
  FROM documents)
SELECT doc_id,
  {pii_counts},
  ({pii_any}) AS has_pii,
  md5({pii_redact}) AS redacted_fp
FROM p
"""

    # training-set build: the full pipeline composed as one CTE chain —
    # url dedup -> line dedup -> PII redact -> repetition gate ->
    # decontamination -> mixture sample -> sequence packing. Every stage
    # reuses the standalone entry's SQL shape; a wrong byte anywhere
    # shifts every downstream token offset and fails the hash.
    def _redact(col):
        out = col
        for name, pat in _PII:
            out = f"regexp_replace({out}, '{pat}', '[{name.upper()}]', 'g')"
        return out

    _pii_plant = """
        CASE WHEN doc_id % 3 = 0 THEN ' mail u' || (doc_id % 7) || '@host' ||
             (doc_id % 5) || '.example.org' ELSE '' END ||
        CASE WHEN doc_id % 4 = 0 THEN ' from 10.' || (doc_id % 200) || '.' ||
             (doc_id % 50) || '.7' ELSE '' END ||
        CASE WHEN doc_id % 5 = 0 THEN ' call 555-0' || (doc_id % 90 + 10) ||
             '-' || (doc_id % 9000 + 1000) ELSE '' END
    """
    _tok2 = TOKENIZE_SQL_DUCKDB.format(col="text2")
    sql["training_set_build"] = f"""
WITH {_BASE},
uu AS (
  SELECT doc_id,
         CASE doc_id % 4
           WHEN 0 THEN 'https://example.org/p' || (doc_id // 4)
           WHEN 1 THEN 'http://www.example.org/p' || (doc_id // 4) || '/'
           WHEN 2 THEN 'https://example.org/p' || (doc_id // 4) || '?utm_source=feed'
           ELSE 'HTTPS://EXAMPLE.ORG/p' || (doc_id // 4) || '#frag'
         END AS url
  FROM documents),
uc AS (SELECT doc_id,
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                 lower(url), '^https?://', ''), '^www\\.', ''),
                 '[?#].*$', ''), '/$', '') AS canonical
       FROM uu),
surv1 AS (SELECT min(doc_id) AS doc_id FROM uc GROUP BY canonical),
ci AS (SELECT d.doc_id,
              unnest(generate_series(1, CAST(ceil(len(d.toks) / {LINE_W}.0) AS INT))) AS i
       FROM doctoks d JOIN surv1 USING (doc_id) WHERE len(d.toks) > 0),
body AS (SELECT c.doc_id,
                string_agg(array_to_string(
                    d.toks[(c.i - 1) * {LINE_W} + 1:(c.i - 1) * {LINE_W} + {LINE_W}],
                    ' '), chr(10) ORDER BY c.i) AS b
         FROM ci c JOIN doctoks d USING (doc_id) GROUP BY c.doc_id),
txt AS (SELECT s.doc_id,
               coalesce(b.b, '') || chr(10) || 'all rights reserved footer' ||
               CASE WHEN s.doc_id % 5 = 0
                    THEN chr(10) || 'subscribe tier ' || (s.doc_id % 3)
                    ELSE '' END AS t
        FROM surv1 s LEFT JOIN body b USING (doc_id)),
l0 AS (SELECT doc_id, string_split(t, chr(10)) AS lst FROM txt),
li AS (SELECT doc_id, unnest(generate_series(1, len(lst))) AS i FROM l0),
lns AS (SELECT li.doc_id, li.i, l0.lst[li.i] AS ln
        FROM li JOIN l0 USING (doc_id)),
rk AS (SELECT doc_id, i, ln,
              count(*) OVER (PARTITION BY ln) AS cnt,
              row_number() OVER (PARTITION BY ln ORDER BY doc_id, i) AS rn
       FROM lns),
kept AS (SELECT doc_id, i, ln FROM rk WHERE cnt < 2 OR rn = 1),
t1 AS (SELECT l0.doc_id,
              coalesce(k.t2, '') AS text1
       FROM l0 LEFT JOIN (SELECT doc_id, string_agg(ln, chr(10) ORDER BY i) AS t2
                          FROM kept GROUP BY doc_id) k USING (doc_id)),
red AS (SELECT doc_id,
               {_redact("(text1 || " + _pii_plant + ")")} AS text2
        FROM t1),
dt2 AS (SELECT doc_id, {_tok2} AS toks2 FROM red),
gate AS (SELECT doc_id, len(toks2)::BIGINT AS n_tokens FROM dt2
         WHERE len(toks2) >= {REP_MIN_TOKENS}
           AND round(CASE WHEN len(toks2) > 0
                 THEN (len(toks2) - len(list_distinct(toks2)))::DOUBLE / len(toks2)
                 ELSE 0.0 END, 6) <= {REP_MAX_DUP}),
longd AS (SELECT doc_id AS bench_id, toks[{DECON_SPAN[0]}:{DECON_SPAN[0] + DECON_SPAN[1] - 1}] AS btoks
          FROM doctoks WHERE len(toks) >= {DECON_MIN_TOKENS}
          ORDER BY doc_id LIMIT {DECON_BENCH_ITEMS}),
bgi AS (SELECT bench_id, unnest(generate_series(1, {DECON_SPAN[1] - DECON_N + 1})) AS i
        FROM longd),
bgrams AS (SELECT DISTINCT b.bench_id,
                  array_to_string(l.btoks[b.i:b.i+{DECON_N - 1}], ' ') AS gram
           FROM bgi b JOIN longd l USING (bench_id)),
btot AS (SELECT bench_id, count(*)::BIGINT AS bench_ngrams
         FROM bgrams GROUP BY bench_id),
dgi2 AS (SELECT d.doc_id, unnest(generate_series(1, len(d.toks2) - {DECON_N - 1})) AS i
         FROM dt2 d JOIN gate USING (doc_id) WHERE len(d.toks2) >= {DECON_N}),
dgrams2 AS (SELECT DISTINCT g.doc_id,
                   array_to_string(d.toks2[g.i:g.i+{DECON_N - 1}], ' ') AS gram
            FROM dgi2 g JOIN dt2 d USING (doc_id)),
m2 AS (SELECT d.doc_id, b.bench_id, count(*)::BIGINT AS matched
       FROM dgrams2 d JOIN bgrams b USING (gram) GROUP BY d.doc_id, b.bench_id),
flag AS (SELECT DISTINCT m2.doc_id
         FROM m2 JOIN btot USING (bench_id)
         WHERE matched::DOUBLE / bench_ngrams >= {DECON_THRESHOLD}),
mx AS (SELECT g.doc_id, g.n_tokens, doc.source,
              CASE doc.source {mix_case} ELSE {MIX_DEFAULT!r} END AS rate,
              ('0x' || substr(md5('{MIX_SALT}:' || g.doc_id), 1, 6))::BIGINT
                  / {16 ** 6}.0 AS u
       FROM gate g JOIN documents doc USING (doc_id)
       WHERE g.doc_id NOT IN (SELECT doc_id FROM flag)),
sampled AS (SELECT doc_id, source, n_tokens, round(1.0 / rate, 6) AS sample_weight
            FROM mx WHERE u < rate),
pk AS (SELECT doc_id, source, n_tokens, sample_weight,
              (sum(n_tokens) OVER (ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING) - n_tokens)::BIGINT AS start_tok
       FROM sampled)
SELECT pk.doc_id, pk.source, pk.n_tokens, pk.sample_weight, pk.start_tok,
       (pk.start_tok // {PACK_CAP})::BIGINT AS bin_id,
       ((pk.start_tok % {PACK_CAP}) + pk.n_tokens > {PACK_CAP}) AS overflow,
       md5(red.text2) AS text_fp
FROM pk JOIN red USING (doc_id)
"""

    return {name: _materialize_ctes(body) for name, body in sql.items()}


# CTEs referenced from several places in one oracle. DuckDB (1.0) inlines
# plain CTEs per reference, so e.g. eval_metrics' 22 UNION ALL branches
# over `perq` re-ran the whole tokenize+score prefix 22 times (~15 s at
# sf0.01); `AS MATERIALIZED` evaluates each once (14.7 s -> 0.09 s,
# results verified identical). Purely a DuckDB evaluation hint — the
# relational semantics of every oracle are unchanged.
_MAT_CTES = (
    "doctoks", "tok", "tf", "dl", "stats", "vocab", "edges",
    "scored", "topk", "perq", "longf", "iperq", "ilong", "expanded",
)

_MAT_RE = re.compile(r"\b(" + "|".join(_MAT_CTES) + r") AS \(")


def _materialize_ctes(sql: str) -> str:
    return _MAT_RE.sub(lambda m: f"{m.group(1)} AS MATERIALIZED (", sql)


# Ordered dict IS the driver's execution order, and the driver caps a
# round's correctness run at the FIRST 50 entries. The order is the one
# the r05 driver run used: its first 50 entries are all green in
# CORRECTNESS_r05, and every entry past them is green in
# CORRECTNESS_r04. Every entry, past the cap too, is re-verified by
# jobs/run_contract_mimic.py (same DuckDB comparison;
# artifacts/CORRECTNESS_MIMIC_r*.json).
SPARK_QUERIES = {
    "repetition_stats": q_repetition_stats,  # Gopher repetition gates
    "decontaminate": q_decontaminate,        # benchmark n-gram overlap
    "url_dedup": q_url_dedup,                # URL canonicalization dedup
    "latest_snapshot": q_latest_snapshot,    # keep newest crawl per URL
    "pii_scan": q_pii_scan,                  # PII counts + redaction
    "line_dedup": q_line_dedup,              # C4-style boilerplate lines
    "mixture_sample": q_mixture_sample,      # deterministic data mixing
    "pack_sequences": q_pack_sequences,      # token-bin sequence packing
    "training_set_build": q_training_set_build,  # full pipeline composed
    "cooccur_expand": q_cooccur_expand,
    "feature_expand": q_feature_expand,
    "sequential_expand_topk": q_sequential_expand_topk,
    "umls_concept_expand": q_umls_concept_expand,
    "conceptnet_edges": q_conceptnet_edges,
    "trec_run_roundtrip": q_trec_run_roundtrip,
    "indri_cfg_roundtrip": q_indri_cfg_roundtrip,
    "stemmed_tokens": q_stemmed_tokens,
    "grid_search_map": q_grid_search_map,
    "assoc_expand": q_assoc_expand,
    "working_set_rescore": q_working_set_rescore,
    "od_bigram_counts": q_od_bigram_counts,
    "od_bigram_postings": q_od_bigram_postings,
    "uw_pair_counts": q_uw_pair_counts,
    "phrase_weighted_topk": q_phrase_weighted_topk,
    "indri_query_topk": q_indri_query_topk,
    "phrase_rm3_topk": q_phrase_rm3_topk,
    "local_indri_rm3_topk": q_local_indri_rm3_topk,
    "doc_fetch": q_doc_fetch,
    "stats_by_source": q_stats_by_source,
    "bigram_stats": q_bigram_stats,
    "ivfpq_incremental_topk": q_ivfpq_incremental_topk,  # streamed ANN
    "dedup_components": q_dedup_components,  # dup clustering + survivor
    "quality_pipeline": q_quality_pipeline,
    "cosine_topk": q_cosine_topk,
    "cosine_topk_lsh": q_cosine_topk_lsh,    # LSH-bucketed (approximate)
    "cosine_topk_ivf": q_cosine_topk_ivf,    # IVF (approximate)
    "ivf_train_step": q_ivf_train_step,      # IVF codebook trainer
    "cosine_pairs": q_cosine_pairs,
    "embedding_near_dup": q_embedding_near_dup,
    "streaming_host_stats": q_streaming_host_stats,
    "hard_topics_eval": q_hard_topics_eval,
    "live_delete_topk": q_live_delete_topk,
    "merge_then_query": q_merge_then_query,
    "ivf_train_multi": q_ivf_train_multi,
    "pq_topk_adc": q_pq_topk_adc,            # PQ codes + integer ADC
    "pq_train_step": q_pq_train_step,        # PQ codebook trainer
    "pq_train_multi": q_pq_train_multi,      # PQ trainer iteration loop
    "ivfpq_topk": q_ivfpq_topk,              # coarse lists + residual PQ
    "collection_stats": q_collection_stats,
    "vocab_stats": q_vocab_stats,
    "postings_lists": q_postings_lists,
    "doc_vectors": q_doc_vectors,
    "doc_token_stats": q_doc_token_stats,
    "quality_score": q_quality_score,
    "langid_counts": q_langid_counts,
    "fingerprint": q_fingerprint,
    "exact_dedup": q_exact_dedup,
    "ngram_jaccard": q_ngram_jaccard,
    "minhash_dedup": q_minhash_dedup,
    "simhash_pairs": q_simhash_pairs,
    "winnow_fingerprints": q_winnow_fingerprints,
    "token_counts": q_token_counts,
    "bm25_topk": q_bm25_topk,
    "bm25_topk_wand": q_bm25_topk_wand,
    "incremental_topk": q_incremental_topk,
    "local_wand_topk": q_local_wand_topk,
    "local_lm_topk": q_local_lm_topk,
    "local_two_stage_topk": q_local_two_stage_topk,
    "local_rm3_topk": q_local_rm3_topk,
    "local_lm_rm3_topk": q_local_lm_rm3_topk,
    "local_phrase_topk": q_local_phrase_topk,
    "lm_topk": q_lm_topk,
    "lm_rm3_topk": q_lm_rm3_topk,
    "two_stage_topk": q_two_stage_topk,
    "rm3_expansion": q_rm3_expansion,
    "bm25_rm3_topk": q_bm25_rm3_topk,
    "eval_metrics": q_eval_metrics,
    "inferred_eval": q_inferred_eval,
}
