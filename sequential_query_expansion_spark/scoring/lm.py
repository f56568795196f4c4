"""Dirichlet-smoothed query-likelihood retrieval (Indri `method:dir`).

The reference's actual retrieval model: every Indri config it ships sets
`<rule>method:dir,mu:1600</rule>` (e.g. configs/trec7n8, mu:1400 for
Robust04 — the BASELINE.md effectiveness table keys on it), and
`#combine` under that rule IS Dirichlet query likelihood. The engine's
contract-pinned model is BM25 (north_rule), so this ships as a parallel
scorer with the same top-k contract, giving users of the reference the
same `method:dir` knob.

Scoring decomposition (rank-equivalent, standard):

    score(q, d) = Σ_{t ∈ q ∩ d} w_t · ln(1 + tf_td · C / (mu · cf_t))
                + W_q · ln(mu / (dl_d + mu))

where C = total collection terms (Σ cf), cf_t the term's collection
frequency, and W_q = Σ_t w_t. Only docs matching ≥ 1 query term are
scored (the Σ-part is 0 otherwise and Indri's ranked retrieval does the
same). The doc-length prior is applied per (qid, doc) AFTER the matched
aggregation, so the postings side still never shuffles for the join —
the physical plan is identical to scoring/bm25.py::score_topk
(broadcast query side, map-side partial sum, windowed top-k with the
(score desc, doc_id asc) tie-break).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..index.build import IndexTables


def _collection_size(index: IndexTables) -> float:
    """Total collection terms C = Σ cf = Σ dl. Recovered WITHOUT a Spark
    job: avgdl is Σ dl / n_docs in float64, so n_docs·avgdl is Σ dl to
    within a few ulp and rounding restores the exact integer (Σ dl is far
    below 2^53) — keeps the serving path free of a per-query vocab scan."""
    return float(round(index.n_docs * index.avgdl))


def dirichlet_topk(
    index: IndexTables,
    query_terms: DataFrame,
    k: int = 10,
    mu: float = 1600.0,
    rank_round: int | None = None,
) -> DataFrame:
    """query_terms(qid, term, weight) -> (qid, doc_id, url, rank, score).

    Same output contract as ``score_topk``; ``mu`` mirrors the
    reference's per-collection rule (1600 TREC7&8, 1400 Robust04).
    """
    c_total = _collection_size(index)

    qt = query_terms.join(
        index.vocab.select("term", "cf"), "term"
    )  # OOV terms drop out of the matched Σ, like every LM implementation
    w_q = query_terms.groupBy("qid").agg(F.sum("weight").alias("w_q"))

    matched = (
        index.postings_flat.join(F.broadcast(qt), "term")
        .groupBy("qid", "doc_id")
        .agg(
            F.sum(
                F.col("weight")
                * F.log(
                    F.lit(1.0)
                    + F.col("tf").cast("double") * F.lit(c_total)
                    / (F.lit(mu) * F.col("cf").cast("double"))
                )
            ).alias("matched"),
            F.first("dl").alias("dl"),
        )
    )
    scored = matched.join(F.broadcast(w_q), "qid").select(
        "qid",
        "doc_id",
        (
            F.col("matched")
            + F.col("w_q")
            * F.log(F.lit(mu) / (F.col("dl").cast("double") + F.lit(mu)))
        ).alias("score"),
    )
    return _windowed_topk(scored, index, k, rank_round)


def _windowed_topk(scored: DataFrame, index: IndexTables, k: int,
                   rank_round: int | None) -> DataFrame:
    sort_score = (
        F.round("score", rank_round) if rank_round is not None else F.col("score")
    )
    w = Window.partitionBy("qid").orderBy(F.desc(sort_score), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .join(F.broadcast(index.docmap), "doc_id")
        .select("qid", "doc_id", "url", "rank", "score")
    )


def two_stage_topk(
    index: IndexTables,
    query_terms: DataFrame,
    k: int = 10,
    mu: float = 1600.0,
    lam: float = 0.4,
    rank_round: int | None = None,
) -> DataFrame:
    """Two-stage smoothing (Indri `method:two` — the reference's CDS14
    headline rule, configs/cds14/indriRunQuery.cfg tail; README.md:28
    infNDCG 0.2889 is computed under it):

        p(t|d) = (1-λ)·(tf + mu·p(t|C))/(dl + mu) + λ·p(t|C)
        score(q, d) = Σ_t w_t · ln p(t|d)

    Unlike Dirichlet, the missing-term contribution depends on BOTH the
    term (p_t) and the doc (dl), so it cannot be folded into a per-doc
    prior. Candidate docs (those matching ≥ 1 query term) are therefore
    crossed with the full query-term list — candidate-set × |q| rows,
    small by construction — and tf defaults to 0 on the left join. The
    big postings side is only ever touched by broadcast joins.
    """
    c_total = _collection_size(index)
    qt = query_terms.join(index.vocab.select("term", "cf"), "term").select(
        "qid", "term", "weight",
        (F.col("cf").cast("double") / F.lit(c_total)).alias("p_t"),
    )

    # restrict postings to the query vocabulary FIRST (broadcast semi
    # join into the scan): every later join touches only candidate-sized
    # data — the full postings table never shuffles. Not persisted: no
    # caller could release the cache, so the plan reads it twice instead
    pairs = (
        index.postings_flat.join(
            F.broadcast(qt.select("qid", "term").distinct()), "term"
        )
        .select("qid", "term", "doc_id", "tf", "dl")
    )
    cands = pairs.groupBy("qid", "doc_id").agg(F.first("dl").alias("dl"))
    full = (
        cands.join(F.broadcast(qt), "qid")
        .join(
            pairs.select("qid", "term", "doc_id", "tf"),
            ["qid", "term", "doc_id"],
            "left",
        )
        .fillna({"tf": 0})
    )
    p_td = (
        F.lit(1.0 - lam)
        * (F.col("tf").cast("double") + F.lit(mu) * F.col("p_t"))
        / (F.col("dl").cast("double") + F.lit(mu))
        + F.lit(lam) * F.col("p_t")
    )
    scored = full.groupBy("qid", "doc_id").agg(
        F.sum(F.col("weight") * F.log(p_td)).alias("score")
    )
    return _windowed_topk(scored, index, k, rank_round)
