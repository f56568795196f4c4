"""BM25 top-k as a DataFrame scoring join.

Reproduces Indri's `#combine(t1 .. tn)` ranked retrieval with `<count>k`
(reference: configs/robust/dir/indriRunQuery.cfg:5-8 and every other
config; executed at umls/umlsSeqPubMed.ipynb:31348) — rescored with BM25
per BASELINE.json north_rule, and `#weight(w1 e1 ...)` weighted mixing
(configs/trec7n8/wsdmImpr/cnet/indriRunQuery.cfg:5-8) via per-term
weights.

Physical shape (the part that must survive 100 TB):
- the query side is tiny (hundreds of (qid, term, weight) rows) → it is
  BROADCAST into the postings scan; the big side never shuffles for the
  join.
- per-(qid, doc) aggregation shuffles only MATCHED postings — Catalyst
  does a partial hash agg map-side first.
- top-k uses a per-(qid) window; with bucketed postings the scan prunes
  to the query terms' buckets (PushedFilters on term).
- everything below is built-in pyspark.sql.functions — whole-stage
  codegen, zero Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import tokenize_col
from ..index.build import IndexTables, K1, B


def query_term_table(queries: DataFrame, weights: bool = False) -> DataFrame:
    """queries(qid, text) -> (qid, term, weight).

    Duplicate terms in a query accumulate weight (matches oracle: each
    occurrence contributes weight 1).
    """
    exploded = queries.select(
        "qid", F.explode(tokenize_col(F.col("text"))).alias("term")
    )
    return exploded.groupBy("qid", "term").agg(
        F.count("*").cast("double").alias("weight")
    )


def bm25_score_expr(tf, dl, df, n_docs: int, avgdl: float,
                    k1: float = K1, b: float = B):
    """Column-level BM25 (Lucene-style non-negative idf)."""
    idf = F.log(F.lit(1.0) + (F.lit(float(n_docs)) - df + 0.5) / (df + 0.5))
    return idf * tf * F.lit(k1 + 1.0) / (tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl / F.lit(avgdl)))


def score_topk(
    index: IndexTables,
    query_terms: DataFrame,
    k: int = 10,
    k1: float = K1,
    b: float = B,
    rank_round: int | None = None,
    with_url: bool = True,
) -> DataFrame:
    """query_terms(qid, term, weight) -> (qid, doc_id, url, rank, score).

    Tie-break (score desc, doc_id asc) — the total order shared with the
    oracle (SURVEY §7 hard part iii). ``rank_round``: rank on
    round(score, d) instead of the raw score — used for cross-engine
    (DuckDB-oracle) comparisons where last-ulp float-sum differences must
    not flip near-tied ranks. ``with_url=False`` skips the docmap join
    for internal consumers (PRF feedback sets) that only need doc_ids.
    """
    qt = query_terms.join(F.broadcast(index.vocab.select("term", "df")), "term")
    scored = (
        index.postings_flat.join(F.broadcast(qt), "term")
        .withColumn(
            "contrib",
            F.col("weight")
            * bm25_score_expr(
                F.col("tf").cast("double"),
                F.col("dl").cast("double"),
                F.col("df").cast("double"),
                index.n_docs,
                index.avgdl,
                k1,
                b,
            ),
        )
        .groupBy("qid", "doc_id")
        .agg(F.sum("contrib").alias("score"))
    )
    sort_score = (
        F.round("score", rank_round) if rank_round is not None else F.col("score")
    )
    w = Window.partitionBy("qid").orderBy(F.desc(sort_score), F.asc("doc_id"))
    ranked = scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
    if not with_url:
        return ranked.select("qid", "doc_id", "rank", "score")
    return ranked.join(index.docmap, "doc_id").select(
        "qid", "doc_id", "url", "rank", "score"
    )


def score_topk_working_set(
    index: IndexTables,
    query_terms: DataFrame,
    working_set: DataFrame,
    k: int = 1000,
    **kw,
) -> DataFrame:
    """Working-set restriction (reference `<workingSetDocno>`,
    optParams/wsdm12-improved-NThrsh-coordAsc.ipynb:490-495): score only
    docs in ``working_set(doc_id)`` — a semi-join pushed below scoring."""
    restricted_index = IndexTables(
        docmap=index.docmap,
        doc_terms=index.doc_terms,
        doc_len=index.doc_len,
        vocab=index.vocab,
        postings_flat=index.postings_flat.join(
            F.broadcast(working_set.select("doc_id")), "doc_id", "left_semi"
        ),
        postings=index.postings,
        n_docs=index.n_docs,
        avgdl=index.avgdl,
    )
    return score_topk(restricted_index, query_terms, k=k, **kw)
