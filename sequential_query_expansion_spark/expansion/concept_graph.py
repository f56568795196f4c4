"""Feature-based sequential concept-graph query expansion.

Re-creates the reference's wsdm12 pipeline (optParams/wsdm12-improved-
NThrsh-coordAsc.ipynb) as DataFrame programs:

  probe pass A   — unexpanded top-T feedback docs + scores
                   (`getRelWords_train` :712-766 / runCommandsinHist_i)
  candidate gen  — 1-hop graph expansion of query terms (J1, lookup at
                   conceptNet adjacency cell 6 :277-295) with
                   edge-multiplicity / mutual-count filter (A1,
                   `Counter` at umls :153, countLim gate :477/:499),
                   printable filter (F3 :283/:1038) and original-term
                   exclusion (F5 :1039)
  features (A3)  — the 14-feature block of `weightRelConcept` :767-891:
                   expTDocScore, topTermFrac, numCanDocs, avgCDocScore,
                   maxCDocScore, conIdf (log(N/df), :815), avgColCor,
                   maxColCor, avgTopColCor, maxTopColCor, avgColPCor,
                   maxColPCor, avgTopColPCor, maxTopColPCor — computed
                   from feedback-doc stats, collection stats and
                   co-occurrence counts (the `fx` probe batch of
                   occuranceCount.cpp:49-93 becomes one collect of pair
                   and term counts; the `efb` batch of :191-208 one
                   collect of the feedback docs' term vectors)
  normalize (A4) — per-feature sum-normalization per query
                   (`normDictOfDicts` :903-958)
  combine (A5)   — weighted linear combination (`weightedCombineDicts`)
  select (T1)    — sort desc + greedy top-N (:1027-1043), NaN→0 and
                   abs like :891
  layers (R5)    — selected terms become the next layer's source
                   concepts (dist=2 re-run, cells 25-30); the loop stays
                   in the driver per SURVEY §7 hard part (iv).

Exact Indri-side count semantics are not reproducible without Indri; the
feature DEFINITIONS here are fixed, documented, and deterministic, which
is what the downstream contract (normalize→combine→select) needs.
"""

from __future__ import annotations

import math
from typing import Dict, List

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..index.build import IndexTables
from ..scoring.bm25 import score_topk
from ..util import local_frame

FEATURES: List[str] = [
    "expTDocScore", "topTermFrac", "numCanDocs", "avgCDocScore",
    "maxCDocScore", "conIdf", "avgColCor", "maxColCor", "avgTopColCor",
    "maxTopColCor", "avgColPCor", "maxColPCor", "avgTopColPCor",
    "maxTopColPCor",
]

# uniform default weights (the reference trains these by coordinate
# ascent; see train.py for the ascent harness)
DEFAULT_WEIGHTS: Dict[str, float] = {f: 1.0 for f in FEATURES}

PRINTABLE_RE = "^[\\x20-\\x7e]+$"


def candidate_edges(
    query_terms: DataFrame,
    graph_edges: DataFrame,
    count_lim: int = 0,
) -> DataFrame:
    """(qid, src term) × graph -> (qid, orig, cand, n_links).

    n_links = number of distinct query terms linking to the candidate
    (the reference's mutual-count `l.count(x) > countLim`); candidates
    already present in the query are excluded (F5)."""
    qt = query_terms.select("qid", F.col("term").alias("orig")).distinct()
    edges = graph_edges.select(
        F.col("src").alias("orig"), F.col("dst").alias("cand")
    ).filter(F.col("cand").rlike(PRINTABLE_RE))
    cands = qt.join(F.broadcast(edges), "orig")
    cands = cands.join(
        qt.select("qid", F.col("orig").alias("cand")).distinct(),
        ["qid", "cand"],
        "left_anti",
    )
    # ONE aggregation instead of window+distinct: n_links counts edge
    # rows (multiplicity, the reference's l.count(x)); the exploded
    # orig-set reproduces the distinct (qid, orig, cand) rows
    return (
        cands.groupBy("qid", "cand")
        .agg(
            F.count("*").alias("n_links"),
            F.collect_set("orig").alias("origs"),
        )
        .filter(F.col("n_links") > count_lim)
        .select(
            "qid", F.explode("origs").alias("orig"), "cand", "n_links"
        )
    )


def concept_features(
    index: IndexTables,
    query_terms: DataFrame,
    graph_edges: DataFrame,
    top_t: int = 10,
    count_lim: int = 0,
    rank_round: int | None = None,
    caches: list | None = None,
) -> DataFrame:
    """-> (qid, cand, <14 feature columns>) per weightRelConcept.

    ``rank_round`` selects the top-T feedback docs on round(score, d)
    (the cross-engine float policy) instead of the exact score.
    ``caches``: if given, the DataFrames this pass persists are appended
    so the caller can unpersist them once the output is materialized —
    the layered loop would otherwise accumulate per-layer cached
    partitions across iterations (executor memory at scale).

    One serial chain of four collects on the caller's thread, so every
    job keeps the caller's job group: candidate edges, the feedback
    top-T, the feedback docs' vectors over the layer's term set (the
    reference's ``efb`` probe) and one union of pair and term counts
    over the collection (its ``fx`` probe). Each collected set is
    bounded by queries × top_t × |term set| or by the candidate pairs
    and does NOT grow with the corpus; the features are assembled from
    them driver-side, as weightRelConcept does in python dicts
    (:767-891). Both postings consumers share ONE term-pruned scan
    (`pf_sub`) — at web scale that filter is the bucket/partition
    prune, and it is the only big-table read here besides the feedback
    BM25 pass."""
    n_docs = float(index.n_docs)
    spark = query_terms.sparkSession

    cand_rows = candidate_edges(query_terms, graph_edges, count_lim).collect()
    term_set = sorted(
        {r["cand"] for r in cand_rows} | {r["orig"] for r in cand_rows}
    )
    if not term_set:
        return local_frame(
            spark,
            [],
            "qid string, cand string, "
            + ", ".join(f"{f} double" for f in FEATURES),
        )
    topdoc_rows = (
        score_topk(
            index, query_terms, k=top_t, rank_round=rank_round,
            with_url=False,
        )
        .join(index.doc_len, "doc_id")
        .select("qid", "doc_id", "score", "dl")
        .collect()
    )

    pf_sub = (
        index.postings_flat.filter(F.col("term").isin(term_set))
        .select("term", "doc_id", "tf")
        .persist()
    )
    if caches is not None:
        caches.append(pf_sub)

    # --- feedback docs' vectors: ≤ |feedback docs| × |term set| rows ----
    vecs: Dict[int, Dict[str, int]] = {}
    fb_ids = sorted({r["doc_id"] for r in topdoc_rows})
    for r in pf_sub.filter(F.col("doc_id").isin(fb_ids)).collect():
        vecs.setdefault(r["doc_id"], {})[r["term"]] = r["tf"]
    # qid -> [(score, {term: tf})] over its top-T docs, in doc_id order
    fb: Dict[str, list] = {}
    top_dl_sum: Dict[str, int] = {}
    for r in sorted(topdoc_rows, key=lambda r: (r["qid"], r["doc_id"])):
        fb.setdefault(r["qid"], []).append(
            (r["score"], vecs.get(r["doc_id"], {}))
        )
        top_dl_sum[r["qid"]] = top_dl_sum.get(r["qid"], 0) + r["dl"]

    # --- collection counts: pair co-occurrence ∪ per-term df ------------
    # a term's df is keyed as the pair (t, t): candidate_edges drops the
    # query's own terms, so no real pair has orig == cand. Per-term df
    # over pf_sub == vocab.df (one postings row per (term, doc)).
    p = local_frame(
        spark,
        sorted({(r["orig"], r["cand"]) for r in cand_rows}),
        "orig string, cand string",
    )
    counts = (
        pf_sub.select(F.col("term").alias("orig"), "doc_id")
        .join(F.broadcast(p), "orig")
        .join(
            pf_sub.select(F.col("term").alias("cand"), "doc_id"),
            ["cand", "doc_id"],
        )
        .groupBy("orig", "cand")
        .agg(F.count("*").alias("n"))
        .unionByName(
            pf_sub.groupBy("term")
            .agg(F.count("*").alias("n"))
            .select(
                F.col("term").alias("orig"), F.col("term").alias("cand"), "n"
            )
        )
    )
    tdf: Dict[str, int] = {}
    db: Dict[tuple, int] = {}
    for r in counts.collect():
        if r["orig"] == r["cand"]:
            tdf[r["orig"]] = r["n"]
        else:
            db[(r["orig"], r["cand"])] = r["n"]

    # per-(qid, orig, cand) co-occurrence correlations, then avg/max per
    # (qid, cand) — orig terms absent from the vocabulary drop out of
    # the denominators exactly as the former inner vocab join did
    pair_lists: Dict[tuple, list] = {}
    for r in sorted(
        cand_rows, key=lambda r: (r["qid"], r["cand"], r["orig"])
    ):
        q, o, c = r["qid"], r["orig"], r["cand"]
        if o not in tdf or c not in tdf:
            continue
        dfo, dfc = tdf[o], tdf[c]
        dbv = db.get((o, c), 0)
        btv = sum(1 for _, v in fb.get(q, ()) if o in v and c in v)
        pair_lists.setdefault((q, c), []).append((
            dbv / math.sqrt(dfo * dfc),
            btv / float(top_t),
            abs(math.log((n_docs * dbv + 0.5) / (dfo * dfc + 0.5))),
            abs(math.log((float(top_t) * btv + 0.5) / (dbv + 0.5))),
        ))

    def _clean(v: float) -> float:
        return abs(v) if v == v else 0.0   # NaN→0 + abs (:891)

    out_rows = []
    for q, c in sorted({(r["qid"], r["cand"]) for r in cand_rows}):
        feat = dict.fromkeys(FEATURES, 0.0)
        in_top = [(s, v[c]) for s, v in fb.get(q, ()) if c in v]
        if in_top:
            scores = [s for s, _ in in_top]
            feat["expTDocScore"] = sum(scores)
            feat["numCanDocs"] = float(len(in_top))
            feat["avgCDocScore"] = sum(scores) / len(in_top)
            feat["maxCDocScore"] = max(scores)
            feat["topTermFrac"] = (
                sum(tf for _, tf in in_top) / top_dl_sum[q]
            )
        if c in tdf:
            feat["conIdf"] = math.log(n_docs / tdf[c])
        pl = pair_lists.get((q, c))
        if pl:
            cols = list(zip(*pl))
            for i, nm in enumerate(
                ["ColCor", "TopColCor", "ColPCor", "TopColPCor"]
            ):
                feat["avg" + nm] = sum(cols[i]) / len(pl)
                feat["max" + nm] = max(cols[i])
        out_rows.append(
            (q, c) + tuple(_clean(feat[name]) for name in FEATURES)
        )
    return local_frame(
        spark,
        out_rows,
        "qid string, cand string, "
        + ", ".join(f"{name} double" for name in FEATURES),
    )


def normalize_and_combine(
    features: DataFrame, weights: Dict[str, float] | None = None
) -> DataFrame:
    """A4 sum-normalization per qid + A5 weighted combination ->
    (qid, cand, weight)."""
    weights = weights or DEFAULT_WEIGHTS
    w = Window.partitionBy("qid")
    score = F.lit(0.0)
    df = features
    for f in FEATURES:
        tot = F.sum(f).over(w)
        norm = F.when(tot > 0, F.col(f) / tot).otherwise(0.0)
        score = score + F.lit(float(weights.get(f, 0.0))) * norm
    return df.withColumn("weight", score).select("qid", "cand", "weight")


def select_expansion_terms(
    weighted: DataFrame, n_terms: int = 20, threshold: float | None = None,
    rank_round: int | None = None,
) -> DataFrame:
    """T1: rank desc (weight, cand asc tie-break) and keep top-N, or the
    probability-threshold variant (wsdm12-improved-probThrsh).
    ``rank_round`` ranks on round(weight, d) for cross-engine stability."""
    if threshold is not None:
        return weighted.filter(F.col("weight") >= threshold)
    key = (
        F.round("weight", rank_round) if rank_round is not None
        else F.col("weight")
    )
    w = Window.partitionBy("qid").orderBy(F.desc(key), F.asc("cand"))
    return (
        weighted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n_terms)
        .drop("rn")
    )


def sequential_expand(
    index: IndexTables,
    query_terms: DataFrame,
    graph_edges: DataFrame,
    layers: int = 2,
    per_layer_terms: tuple = (20, 2),
    layer_weights: tuple = (0.3, 0.05),
    top_t: int = 10,
    count_lim: int = 0,
    feature_weights: Dict[str, float] | None = None,
    rank_round: int | None = None,
) -> DataFrame:
    """R5 layered expansion: layer ℓ candidates come from layer ℓ-1's
    selected terms (dist grows per layer). Returns
    (qid, term, weight, layer) with layer 0 = original query terms
    (weight = multiplicity), layers ≥ 1 scaled by ``layer_weights``.
    ``rank_round`` makes every discrete selection (feedback docs,
    per-layer term pick) rank on rounded keys — the cross-engine policy.
    """
    spark = query_terms.sparkSession
    # The loop's bookkeeping state (selected terms so far, next layer's
    # sources) is <= queries × (|q| + Σ per_layer_terms) rows and every
    # layer boundary needs a hard lineage cut anyway (without it, layer
    # ℓ+1's lazy plan re-derives the whole layer-ℓ feature pipeline once
    # per reference — an iterative-lineage blowup that turns 2 layers
    # into an hours-long analysis/execution). So the state lives in the
    # driver: the earlier-layer exclusion is a set lookup instead of an
    # anti-join, and each layer's sources feed concept_features as a
    # LocalRelation (util.local_frame).
    out_rows = [
        (r["qid"], r["term"], float(r["weight"]), 0)
        for r in query_terms.select("qid", "term", "weight").collect()
    ]
    seen = {(q, t) for q, t, _, _ in out_rows}
    src_rows = [(q, t, w) for q, t, w, _ in out_rows]
    for ell in range(1, layers + 1):
        sources = local_frame(
            spark, src_rows, "qid string, term string, weight double"
        )
        layer_caches: list = []
        feats = concept_features(
            index, sources, graph_edges, top_t=top_t, count_lim=count_lim,
            rank_round=rank_round, caches=layer_caches,
        )
        weighted = normalize_and_combine(feats, feature_weights)
        sel = select_expansion_terms(
            weighted, n_terms=per_layer_terms[ell - 1], rank_round=rank_round
        )
        sel_rows = sel.select("qid", "cand", "weight").collect()
        # the selection is materialized — release this layer's caches so
        # iterations don't accumulate persisted partitions
        for df in layer_caches:
            df.unpersist()
        # exclude anything already selected in ANY earlier layer (the
        # reference drops, not replaces: exclusion runs AFTER the top-N)
        lw = float(layer_weights[ell - 1])
        src_rows = []
        for r in sel_rows:
            if (r["qid"], r["cand"]) in seen:
                continue
            seen.add((r["qid"], r["cand"]))
            out_rows.append((r["qid"], r["cand"], lw * r["weight"], ell))
            src_rows.append((r["qid"], r["cand"], 1.0))
    return local_frame(
        spark, out_rows, "qid string, term string, weight double, layer int"
    )


def expanded_topk(
    index: IndexTables,
    query_terms: DataFrame,
    graph_edges: DataFrame,
    k: int = 1000,
    orig_weight: float = 0.7,
    rank_round: int | None = None,
    **kwargs,
) -> DataFrame:
    """R2 `#weight(w orig (1-w) expansion)` final run over the layered
    expansion (the reference's genQueries + precisionCompute stage)."""
    exp = sequential_expand(
        index, query_terms, graph_edges, rank_round=rank_round, **kwargs
    )
    # The expansion table is <= queries x (|q| + Σ per_layer_terms) rows
    # and its layers were already materialized driver-side by
    # sequential_expand's lineage cuts — normalize/interpolate in the
    # driver and feed ONE scoring join, instead of two window passes +
    # union + re-aggregation over a 100-row DataFrame (4 exchanges of
    # pure stage latency at any scale; the scoring join is unchanged).
    rows = exp.collect()
    orig_tot: dict = {}
    rest_tot: dict = {}
    for r in rows:
        if r["layer"] == 0:
            orig_tot[r["qid"]] = orig_tot.get(r["qid"], 0.0) + r["weight"]
        else:
            rest_tot[r["qid"]] = rest_tot.get(r["qid"], 0.0) + r["weight"]
    mixed: dict = {}
    for r in rows:
        if r["layer"] == 0:
            w = orig_weight * r["weight"] / orig_tot[r["qid"]]
        elif rest_tot.get(r["qid"], 0.0) > 0:
            w = (1.0 - orig_weight) * r["weight"] / rest_tot[r["qid"]]
        else:
            w = 0.0
        key = (r["qid"], r["term"])
        mixed[key] = mixed.get(key, 0.0) + w
    mixed_df = local_frame(
        exp.sparkSession,
        [(q, t, w) for (q, t), w in sorted(mixed.items())],
        "qid string, term string, weight double",
    )
    return score_topk(index, mixed_df, k=k, rank_round=rank_round)
