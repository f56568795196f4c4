"""Feature-weight training: coordinate ascent + random search on MAP.

Re-creates the reference's optimization harness (A8):
  coordinate ascent — sweep each of the 14 feature weights ±``step_span``
    in ``step`` increments, keep the argmax-MAP setting, iterate
    (optParams/wsdm12-improved-NThrsh-coordAsc.ipynb cell 29 :1356-1399;
    log coordinateAscent/steps.txt)
  random search     — uniform re-draws of the weight vector, keep the
    best (wsdm12-improved-probThrsh-rand.ipynb, maxIteration grid)

The inner evaluation is one Spark pass: features are computed ONCE and
cached; each candidate weight vector only re-runs the (cheap)
normalize→combine→select→score→evaluate tail. The ascent loop itself is
driver-side by design — SURVEY §7 hard part (iv): never fold an
iterative optimizer into a single plan.
"""

from __future__ import annotations

import random
from contextlib import contextmanager
from typing import Dict, Iterator, Tuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..evalmetrics import evaluate
from ..index.build import IndexTables
from ..scoring.bm25 import score_topk
from .concept_graph import (
    FEATURES,
    normalize_and_combine,
    select_expansion_terms,
)


@contextmanager
def _cached(features: DataFrame) -> Iterator[DataFrame]:
    """``features`` persisted for the search's many evaluations, and
    released after it unless the caller had persisted it already."""
    if features.is_cached:
        yield features
        return
    features = features.persist()
    try:
        yield features
    finally:
        features.unpersist()


def _map_for_weights(
    index: IndexTables,
    features: DataFrame,
    query_terms: DataFrame,
    qrels: DataFrame,
    weights: Dict[str, float],
    n_terms: int = 10,
    exp_weight: float = 0.3,
    k: int = 100,
) -> float:
    """MAP of the expanded run under one feature-weight vector."""
    sel = select_expansion_terms(
        normalize_and_combine(features, weights), n_terms=n_terms
    )
    w_tot = Window.partitionBy("qid")
    exp = sel.select(
        "qid",
        F.col("cand").alias("term"),
        F.when(
            F.sum("weight").over(w_tot) > 0,
            F.lit(exp_weight) * F.col("weight") / F.sum("weight").over(w_tot),
        ).otherwise(0.0).alias("weight"),
    )
    orig = query_terms.select(
        "qid", "term",
        (F.lit(1.0 - exp_weight) * F.col("weight")
         / F.sum("weight").over(w_tot)).alias("weight"),
    )
    mixed = orig.unionByName(exp).groupBy("qid", "term").agg(
        F.sum("weight").alias("weight")
    )
    run = score_topk(index, mixed, k=k).select("qid", "doc_id", "rank", "score")
    row = (
        evaluate(run, qrels)
        .filter((F.col("metric") == "map") & (F.col("qid") == "all"))
        .head()
    )
    return float(row["value"]) if row else 0.0


def coordinate_ascent(
    index: IndexTables,
    features: DataFrame,
    query_terms: DataFrame,
    qrels: DataFrame,
    init: Dict[str, float] | None = None,
    step: float = 0.2,
    step_span: float = 0.4,
    max_rounds: int = 2,
    **eval_kw,
) -> Tuple[Dict[str, float], float, list]:
    """-> (best_weights, best_map, history). history = list of
    (feature, tried_value, map) like coordinateAscent/steps.txt."""
    with _cached(features) as features:
        weights = dict(init or {f: 1.0 for f in FEATURES})
        best = _map_for_weights(index, features, query_terms, qrels,
                                weights, **eval_kw)
        history = [("init", 0.0, best)]
        deltas = [
            d for d in _frange(-step_span, step_span, step) if abs(d) > 1e-12
        ]
        for _ in range(max_rounds):
            improved = False
            for f in FEATURES:
                base_v = weights[f]
                for d in deltas:
                    cand = dict(weights)
                    cand[f] = base_v + d
                    m = _map_for_weights(index, features, query_terms, qrels,
                                         cand, **eval_kw)
                    history.append((f, base_v + d, m))
                    if m > best:
                        best, weights, improved = m, cand, True
            if not improved:
                break
    return weights, best, history


def random_search(
    index: IndexTables,
    features: DataFrame,
    query_terms: DataFrame,
    qrels: DataFrame,
    iterations: int = 20,
    seed: int = 42,
    lo: float = 0.0,
    hi: float = 2.0,
    **eval_kw,
) -> Tuple[Dict[str, float], float, list]:
    with _cached(features) as features:
        rng = random.Random(seed)
        best_w = {f: 1.0 for f in FEATURES}
        best = _map_for_weights(index, features, query_terms, qrels, best_w,
                                **eval_kw)
        history = [(dict(best_w), best)]
        for _ in range(iterations):
            cand = {f: rng.uniform(lo, hi) for f in FEATURES}
            m = _map_for_weights(index, features, query_terms, qrels, cand,
                                 **eval_kw)
            history.append((cand, m))
            if m > best:
                best, best_w = m, cand
    return best_w, best, history


def lr_labels(
    index: IndexTables, features: DataFrame, qrels: DataFrame
) -> DataFrame:
    """(qid, cand, label): positive iff the candidate term occurs in ≥1
    relevant doc of the query — the qrels-derived supervision behind the
    reference's `lr` method (golden families evals/lr/{trec7n8,robust,
    gov}/cnet; best Robust04 MAP 0.2541)."""
    rel_docs = qrels.filter(F.col("rel") > 0).select("qid", "doc_id")
    cand_terms = features.select("qid", "cand").distinct()
    pos = (
        index.postings_flat.select(F.col("term").alias("cand"), "doc_id")
        .join(
            F.broadcast(cand_terms.select("cand").distinct()), "cand"
        )
        .join(rel_docs, "doc_id")
        .select("qid", "cand")
        .distinct()
        .withColumn("label", F.lit(1.0))
    )
    return cand_terms.join(pos, ["qid", "cand"], "left").fillna(
        0.0, subset=["label"]
    )


def lr_weights(
    features: DataFrame,
    labels: DataFrame,
    reg_param: float = 1e-3,
    max_iter: int = 50,
) -> Dict[str, float]:
    """`lr` feature weighting: logistic regression (Spark ML) over the
    per-qid sum-NORMALIZED 14-feature block; the learned coefficients
    drop into the same normalize→combine→select tail as the
    coordinate-ascent weights (the LR decision function is monotone in
    w·x̃, so ranking by the linear combine reproduces the classifier's
    ordering; the intercept cannot change ranks).

    features(qid, cand, <14 features>); labels(qid, cand, label)."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    w = Window.partitionBy("qid")
    df = features.join(labels, ["qid", "cand"])
    for f in FEATURES:
        tot = F.sum(f).over(w)
        df = df.withColumn(
            f"{f}_n", F.when(tot > 0, F.col(f) / tot).otherwise(0.0)
        )
    assembled = VectorAssembler(
        inputCols=[f"{f}_n" for f in FEATURES], outputCol="fvec"
    ).transform(df)
    model = LogisticRegression(
        featuresCol="fvec", labelCol="label",
        regParam=reg_param, maxIter=max_iter, standardization=True,
    ).fit(assembled)
    coefs = model.coefficients.toArray()
    return {f: float(c) for f, c in zip(FEATURES, coefs)}


def save_trained_weights(path: str, weights: Dict[str, float], best_map: float,
                         history: list, meta: Dict | None = None) -> None:
    """Persist an ascent run the way the reference checks in
    coordinateAscent/steps.txt: every (feature, tried_value, map) step
    plus the final weights, as JSON."""
    import json

    with open(path, "w") as f:
        json.dump(
            {
                "weights": weights,
                "best_map": best_map,
                "steps": [
                    {"feature": f_, "value": v, "map": m} for f_, v, m in history
                ],
                "meta": meta or {},
            },
            f,
            indent=1,
            sort_keys=True,
        )


def load_trained_weights(path: str) -> Dict[str, float]:
    """Load a checked-in weight table (coordinateAscent/steps.txt
    analogue); validates that every expected feature is present."""
    import json

    with open(path) as f:
        data = json.load(f)
    w = data["weights"]
    missing = set(FEATURES) - set(w)
    if missing:
        raise ValueError(f"weight table missing features: {sorted(missing)}")
    return {f_: float(w[f_]) for f_ in FEATURES}


def _frange(lo: float, hi: float, step: float):
    out = []
    v = lo
    while v <= hi + 1e-12:
        out.append(round(v, 10))
        v += step
    return out
