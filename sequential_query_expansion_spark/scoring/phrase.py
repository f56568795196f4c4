"""Phrase clauses (#odN / #uwN) as *scoring* sub-expressions.

The reference scores every expansion concept as a weighted structured
query — `1.0 #weight(0.8 #combine(name) 0.1 #combine(#od4 bigrams)
0.1 #uw17(name))` (umls/umlsSeqPubMed.ipynb:555-633; the rendering loop
at :586-593, group weights at :525-544): ordered/unordered window
matches CONTRIBUTE TO the retrieval score, they are not just counted.
This module is that path for the BM25 re-expression:

  - a phrase clause behaves as a pseudo-term whose per-doc tf is its
    window match count and whose df is the number of docs with ≥1
    match; it is scored with the same BM25 formula as a plain term;
  - `#weight(w1 #combine(g1) w2 #combine(g2) ...)` becomes
    Σ_i w_i · mean(clause scores in g_i) — i.e. each clause in a group
    of size m carries weight w_i / m (the arithmetic-mean analogue of
    Indri's log-space #combine average).

Physical shape (what survives 10^12 docs):
  - ALL clauses of ALL queries run in ONE plan: the tiny clause table is
    broadcast into the positional-postings scan (term pushdown prunes
    the scan), matched rows shuffle once on (clause, doc) — the same
    broadcast-small-side / shuffle-matched-only shape as the BM25
    scoring join;
  - the window kernels run post-intersection only, one Arrow batch per
    partition (mapInPandas), never per-row Python over the corpus;
  - phrase df is a per-clause aggregate of the (small) match result,
    broadcast back — no second pass over the postings.
"""

from __future__ import annotations

from typing import Dict, Iterable, List, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.positional import od_count_positions
from ..index.build import IndexTables, K1, B
from ..index.positions import _uw_from_positions
from ..util import local_frame
from .bm25 import bm25_score_expr

# Indri convention used by the reference: unordered window width scales
# with the phrase length (#uw17 ≈ 4 tokens + 1 for a 4-word concept name).
DEFAULT_W_TERM = 0.8
DEFAULT_W_OD = 0.1
DEFAULT_W_UW = 0.1
DEFAULT_OD_N = 4


def default_uw_n(m: int) -> int:
    """#uwN width for an m-term phrase (4m+1, reference's #uw17 shape)."""
    return 4 * m + 1


def render_concept_clauses(
    concepts: Iterable[Tuple[str, str]],
    w_term: float = DEFAULT_W_TERM,
    w_od: float = DEFAULT_W_OD,
    w_uw: float = DEFAULT_W_UW,
    od_n: int = DEFAULT_OD_N,
    uw_n: int | None = None,
) -> Tuple[List[tuple], List[tuple]]:
    """Render (qid, phrase-text) pairs into the reference's structured
    form (umls/umlsSeqPubMed.ipynb:586-593).

    Returns (term_rows, phrase_rows):
      term_rows   — (qid, term, weight)
      phrase_rows — (qid, clause_id, terms, n, ordered, weight)

    An m-term phrase yields: each term at w_term/m; the m-1 adjacent
    bigrams as #od{od_n} clauses at w_od/(m-1); one #uw clause over the
    distinct terms at w_uw. A single-term phrase degenerates to the bare
    term at full weight w_term + w_od + w_uw (the reference renders
    single-word concepts as a plain #combine(name))."""
    term_rows: List[tuple] = []
    phrase_rows: List[tuple] = []
    for qid, phrase in concepts:
        toks = phrase.split()
        m = len(toks)
        if m == 0:
            continue
        if m == 1:
            term_rows.append((qid, toks[0], w_term + w_od + w_uw))
            continue
        for t in toks:
            term_rows.append((qid, t, w_term / m))
        for i in range(m - 1):
            phrase_rows.append(
                (qid, f"{qid}:od{i}", [toks[i], toks[i + 1]], od_n, True,
                 w_od / (m - 1))
            )
        uniq = list(dict.fromkeys(toks))
        phrase_rows.append(
            (qid, f"{qid}:uw", uniq, uw_n or default_uw_n(m), False, w_uw)
        )
    return term_rows, phrase_rows


def phrase_clauses_df(spark: SparkSession, phrase_rows: List[tuple]) -> DataFrame:
    return local_frame(
        spark,
        phrase_rows,
        "qid string, clause_id string, terms array<string>, n int, "
        "ordered boolean, weight double",
    )


def phrase_match_counts(
    positional: DataFrame, phrase_clauses: DataFrame
) -> DataFrame:
    """phrase_clauses(qid, clause_id, terms, n, ordered, weight) ×
    positional(term, doc_id, positions) -> (qid, clause_id, doc_id, tf)
    with tf = window match count > 0.

    One plan for every clause: broadcast the exploded clause terms into
    the positional scan (term pushdown), shuffle matched rows once on
    (clause_id, doc_id), run the window kernel post-intersection."""
    meta = phrase_clauses.select(
        "qid", "clause_id", "n", "ordered", F.size("terms").alias("n_slots")
    )
    slots = phrase_clauses.select(
        "clause_id", F.posexplode("terms").alias("slot", "term")
    )
    matched = positional.join(F.broadcast(slots), "term")
    per_doc = matched.groupBy("clause_id", "doc_id").agg(
        F.collect_list(F.struct("slot", "positions")).alias("slots"),
        F.count("*").alias("n_present"),
    )
    cand = per_doc.join(F.broadcast(meta), "clause_id").filter(
        F.col("n_present") == F.col("n_slots")
    ).select("qid", "clause_id", "doc_id", "n", "ordered", "n_slots", "slots")

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            counts = []
            for row in pdf.itertuples(index=False):
                arrs: List[np.ndarray] = [None] * row.n_slots  # type: ignore
                for s in row.slots:
                    arrs[s["slot"]] = np.asarray(s["positions"], dtype=np.int64)
                if row.ordered:
                    counts.append(od_count_positions(arrs, row.n))
                else:
                    counts.append(_uw_from_positions(arrs, row.n))
            out = pd.DataFrame(
                {
                    "qid": pdf["qid"].values,
                    "clause_id": pdf["clause_id"].values,
                    "doc_id": pdf["doc_id"].values,
                    "tf": counts,
                }
            )
            yield out[out.tf > 0]

    return cand.mapInPandas(
        kernel, schema="qid string, clause_id string, doc_id long, tf int"
    )


def phrase_weighted_topk(
    index: IndexTables,
    positional: DataFrame,
    term_clauses: DataFrame,
    phrase_clauses: DataFrame | None,
    k: int = 10,
    k1: float = K1,
    b: float = B,
    rank_round: int | None = None,
) -> DataFrame:
    """Score `#weight(...)` queries whose sub-expressions mix plain terms
    and #odN/#uwN phrase clauses; rank-contract (score desc, doc_id asc).

    term_clauses(qid, term, weight) contribute weight × BM25(term);
    each phrase clause contributes weight × BM25(tf=match count,
    df=docs with ≥1 match). Returns (qid, doc_id, url, rank, score)."""
    qt = term_clauses.join(
        F.broadcast(index.vocab.select("term", "df")), "term"
    )
    term_contrib = (
        index.postings_flat.join(F.broadcast(qt), "term")
        .select(
            "qid",
            "doc_id",
            (
                F.col("weight")
                * bm25_score_expr(
                    F.col("tf").cast("double"),
                    F.col("dl").cast("double"),
                    F.col("df").cast("double"),
                    index.n_docs,
                    index.avgdl,
                    k1,
                    b,
                )
            ).alias("contrib"),
        )
    )

    parts = [term_contrib]
    if phrase_clauses is not None:
        # the clause df (docs with >= 1 match) is a window over the same
        # rows, so the positional join + match kernel run once, uncached
        pm = phrase_match_counts(positional, phrase_clauses).withColumn(
            "df",
            F.count("*").over(Window.partitionBy("clause_id")).cast("double"),
        )
        weights = phrase_clauses.select("clause_id", "weight")
        phrase_contrib = (
            pm.join(F.broadcast(weights), "clause_id")
            .join(index.doc_len, "doc_id")
            .select(
                "qid",
                "doc_id",
                (
                    F.col("weight")
                    * bm25_score_expr(
                        F.col("tf").cast("double"),
                        F.col("dl").cast("double"),
                        F.col("df"),
                        index.n_docs,
                        index.avgdl,
                        k1,
                        b,
                    )
                ).alias("contrib"),
            )
        )
        parts.append(phrase_contrib)

    all_contrib = parts[0]
    for p in parts[1:]:
        all_contrib = all_contrib.unionByName(p)
    scored = all_contrib.groupBy("qid", "doc_id").agg(
        F.sum("contrib").alias("score")
    )
    sort_score = (
        F.round("score", rank_round) if rank_round is not None else F.col("score")
    )
    w = Window.partitionBy("qid").orderBy(F.desc(sort_score), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .join(index.docmap, "doc_id")
        .select("qid", "doc_id", "url", "rank", "score")
    )


def concept_query_topk(
    spark: SparkSession,
    index: IndexTables,
    positional: DataFrame,
    concepts: Dict[str, str],
    k: int = 10,
    **kw,
) -> DataFrame:
    """Convenience: {qid: phrase} -> top-k via the reference's rendering
    (0.8 terms / 0.1 od bigrams / 0.1 uw window)."""
    term_rows, phrase_rows = render_concept_clauses(sorted(concepts.items()))
    tc = local_frame(
        spark, term_rows, "qid string, term string, weight double"
    )
    pc = phrase_clauses_df(spark, phrase_rows) if phrase_rows else None
    return phrase_weighted_topk(index, positional, tc, pc, k=k, **kw)


def phrase_rm3_topk(
    spark: SparkSession,
    index: IndexTables,
    positional: DataFrame,
    term_clauses: DataFrame,
    phrase_clauses: DataFrame | None,
    k: int = 10,
    fb_docs: int = 10,
    fb_terms: int = 20,
    orig_weight: float = 0.5,
    k1: float = K1,
    b: float = B,
    rank_round: int | None = None,
) -> DataFrame:
    """RM3 PRF on top of a structured (#weight / phrase-clause) query —
    the reference's ACTUAL retrieval configuration: every concept-query
    cfg carries <fbDocs>/<fbTerms> alongside the rendered #weight query
    (configs/*/indriRunQuery.cfg tails; umls/umlsSeqPubMed.ipynb:
    602-603), so Indri expands the STRUCTURED query with a relevance
    model and interpolates `#weight(ow orig (1-ow) expansion)`.

    Steps: (1) feedback run = ``phrase_weighted_topk`` on the original
    clauses; (2) doc weights score-proportional per qid; (3) RM1 joins
    ``postings_flat`` against the tiny broadcast feedback set (the big
    table never shuffles); (4) top ``fb_terms`` by (weight desc, term
    asc) on rounded keys, renormalized, ×(1-ow); (5) final pass is ONE
    ``phrase_weighted_topk`` over the combined clause set — original
    clauses scaled by ow/Σw_orig plus the expansion terms — since BM25
    clause mixing is linear in the weights, that equals
    ow·orig_score + (1-ow)·expansion_score."""
    fb = phrase_weighted_topk(
        index, positional, term_clauses, phrase_clauses,
        k=fb_docs, k1=k1, b=b, rank_round=rank_round,
    ).select("qid", "doc_id", "score")
    w_tot = Window.partitionBy("qid")
    fbw = fb.withColumn(
        "w_doc", F.col("score") / F.sum("score").over(w_tot)
    ).select("qid", "doc_id", "w_doc")

    rm1 = (
        index.postings_flat.join(F.broadcast(fbw), "doc_id")
        .groupBy("qid", "term")
        .agg(F.sum(F.col("w_doc") * F.col("tf") / F.col("dl")).alias("w"))
    )
    sort_w = (
        F.round("w", rank_round + 3) if rank_round is not None else F.col("w")
    )
    w_rank = Window.partitionBy("qid").orderBy(F.desc(sort_w), F.asc("term"))
    rm1_top = rm1.withColumn("rn", F.row_number().over(w_rank)).filter(
        F.col("rn") <= fb_terms
    )
    rm1_n = rm1_top.withColumn(
        "w_n", F.col("w") / F.sum("w").over(w_tot)
    ).select(
        "qid", "term",
        (F.lit(1.0 - orig_weight) * F.col("w_n")).alias("weight"),
    )

    # per-qid original clause mass (Σ term weights + Σ phrase weights);
    # scaling every original clause by ow/mass makes the final linear
    # score ow·orig + (1-ow)·expansion regardless of how the input
    # #weight was normalized
    t_mass = term_clauses.groupBy("qid").agg(F.sum("weight").alias("mass"))
    if phrase_clauses is not None:
        p_mass = phrase_clauses.groupBy("qid").agg(
            F.sum("weight").alias("mass")
        )
        mass = (
            t_mass.unionByName(p_mass)
            .groupBy("qid")
            .agg(F.sum("mass").alias("mass"))
        )
    else:
        mass = t_mass
    orig_terms = term_clauses.join(F.broadcast(mass), "qid").select(
        "qid", "term",
        (F.lit(orig_weight) * F.col("weight") / F.col("mass")).alias("weight"),
    )
    tc_final = (
        orig_terms.unionByName(rm1_n)
        .groupBy("qid", "term")
        .agg(F.sum("weight").alias("weight"))
    )
    pc_final = (
        phrase_clauses.join(F.broadcast(mass), "qid")
        .select(
            "qid", "clause_id", "terms", "n", "ordered",
            (F.lit(orig_weight) * F.col("weight") / F.col("mass"))
            .alias("weight"),
        )
        if phrase_clauses is not None
        else None
    )
    return phrase_weighted_topk(
        index, positional, tc_final, pc_final,
        k=k, k1=k1, b=b, rank_round=rank_round,
    )


def indri_rm3_topk(
    spark: SparkSession,
    index: IndexTables,
    positional: DataFrame,
    topics: Dict[str, str],
    k: int = 10,
    **kw,
) -> DataFrame:
    """{qid: Indri query string} -> RM3-expanded top-k (parse via
    ``indriql``, then ``phrase_rm3_topk``) — IndriRunQuery with
    fbDocs/fbTerms set, end to end."""
    from ..indriql import parse_indri_topics

    term_rows, phrase_rows = parse_indri_topics(topics)
    tc = local_frame(
        spark, term_rows, "qid string, term string, weight double"
    )
    pc = phrase_clauses_df(spark, phrase_rows) if phrase_rows else None
    return phrase_rm3_topk(spark, index, positional, tc, pc, k=k, **kw)


def indri_query_topk(
    spark: SparkSession,
    index: IndexTables,
    positional: DataFrame,
    topics: Dict[str, str],
    k: int = 10,
    **kw,
) -> DataFrame:
    """{qid: Indri query-language string} -> top-k. Executes the strings
    the reference's indriRunQuery.cfg `<query><text>` blocks carry
    (`#weight(.. #combine(..) #odN(..) #uwN(..))`), parsed by
    ``indriql.parse_indri_topics`` into the same clause form
    ``phrase_weighted_topk`` scores."""
    from ..indriql import parse_indri_topics

    term_rows, phrase_rows = parse_indri_topics(topics)
    tc = local_frame(
        spark, term_rows, "qid string, term string, weight double"
    )
    pc = phrase_clauses_df(spark, phrase_rows) if phrase_rows else None
    return phrase_weighted_topk(index, positional, tc, pc, k=k, **kw)
