"""Correctness checks on the program's outputs. Every failed check counts
as a failed operation in the run's result."""

from __future__ import annotations

import glob
import os

import pandas as pd


def ranked_match(got: list, want: list, k: int, tol: float) -> str | None:
    """Compare a program's top-k [(doc, score)] with the oracle's ranked
    list (which may run past k). Scores must agree rank by rank within
    ``tol``; a different document at a rank is accepted only as a
    near-tie swap, i.e. the oracle scores that document within ``tol``
    of the program's score. Returns None on a match, else the reason."""
    expect_len = min(k, len(want))
    if len(got) != expect_len:
        return f"{len(got)} results, oracle has {expect_len}"
    if len({d for d, _ in got}) != len(got):
        return "duplicate documents"
    oracle_score = dict(want)
    for rank, ((d, s), (wd, ws)) in enumerate(zip(got, want), 1):
        if abs(s - ws) > tol * max(1.0, abs(ws)):
            return f"rank {rank}: score {s!r} != oracle {ws!r}"
        if d != wd and (d not in oracle_score
                        or abs(oracle_score[d] - s) > tol * max(1.0, abs(s))):
            return f"rank {rank}: doc {d} != oracle doc {wd}"
    return None


def mixed_weights(expansion_rows: list, orig_weight: float = 0.7) -> dict:
    """{qid: {term: weight}} of ``expanded_topk``'s final query, from
    the layered expansion rows (qid, term, weight, layer): original terms
    share ``orig_weight`` in proportion to their weight, expansion terms
    share the rest in proportion to theirs (``#weight(w orig (1-w) exp)``,
    the interpolation ``expansion.concept_graph.expanded_topk`` documents)."""
    orig_tot: dict = {}
    rest_tot: dict = {}
    for q, t, w, layer in expansion_rows:
        tot = orig_tot if layer == 0 else rest_tot
        tot[q] = tot.get(q, 0.0) + w
    mixed: dict = {}
    for q, t, w, layer in expansion_rows:
        if layer == 0:
            share = orig_weight * w / orig_tot[q]
        elif rest_tot.get(q, 0.0) > 0:
            share = (1.0 - orig_weight) * w / rest_tot[q]
        else:
            share = 0.0
        mixed.setdefault(q, {})
        mixed[q][t] = mixed[q].get(t, 0.0) + share
    return mixed


def read_trec_run(path: str) -> dict:
    """{qid: [(doc_id, score)]} in rank order from a 6-column TREC run
    written as a directory of part files."""
    rows = []
    for fp in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(fp) as f:
            for line in f:
                qid, _, doc, rank, score, _tag = line.split()
                rows.append((qid, int(rank), int(doc), float(score)))
    out: dict = {}
    for qid, _, doc, score in sorted(rows):
        out.setdefault(qid, []).append((doc, score))
    return out


def grams(tokens: list, n: int) -> set:
    return {tuple(tokens[i:i + n]) for i in range(len(tokens) - n + 1)}


def pipeline_invariants(out: pd.DataFrame, capacity: int, pii: list,
                        bench: list, bench_docs: list, tokenize,
                        n: int, threshold: float) -> list:
    """Reasons the packed training set is wrong; empty when it is right.

    ``bench``: benchmark item texts; ``bench_docs``: ids of the pages
    they were cut from. ``n``/``threshold`` are the decontamination
    settings the job ran with."""
    bad = []
    if out.empty:
        return ["empty output"]
    if out["doc_id"].duplicated().any():
        bad.append("duplicated doc ids")
    o = out.sort_values("doc_id")
    start = o["start_tok"].to_numpy()
    ntok = o["n_tokens"].to_numpy()
    if start[0] != 0 or (start[1:] != (start + ntok)[:-1]).any():
        bad.append("start_tok is not the running token sum in id order")
    if (o["bin_id"].to_numpy() != start // capacity).any():
        bad.append("bin_id != start_tok // capacity")
    over = (start % capacity) + ntok > capacity
    if (over & ~o["overflow"].to_numpy(bool)).any():
        bad.append("a document crosses its bin without the overflow flag")
    text = "\n".join(o["text"])
    left = [p for p in pii if p in text]
    if left:
        bad.append(f"{len(left)} planted PII strings left, e.g. {left[0]!r}")
    if set(o["doc_id"]) & set(bench_docs):
        bad.append("a page that a benchmark item was cut from survived")
    item_grams = [grams(tokenize(b), n) for b in bench]
    for doc_id, t in zip(o["doc_id"], o["text"]):
        g = grams(tokenize(t), n)
        for ig in item_grams:
            if ig and len(g & ig) / len(ig) >= threshold:
                bad.append(f"doc {doc_id} still overlaps a benchmark item")
                return bad
    return bad
