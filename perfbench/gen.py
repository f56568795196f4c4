"""Seeded workload inputs, generated here so the program sees only tables.

Every table is a pure function of ``(seed, workload)``: one numpy
Generator per workload, no wall-clock or hash-order input. The tables
are written as parquet and each file's SHA-256 is recorded, so a change
to this generator (or to anything it imports) shows up as a new digest
instead of silently changing the workload.

Text is drawn from a Zipf(1.07) vocabulary of 10,000 terms, the same
shape as ``corpus.make_corpus``; topics and serving queries take 1-5
terms from frequency ranks 100-3000, the draw ``make_corpus`` uses for
topics (serving queries only those ranks that occur in the pages).
"""

from __future__ import annotations

import hashlib
import math
import os
from dataclasses import dataclass, field
from statistics import NormalDist

import numpy as np
import pandas as pd

VOCAB_SIZE = 10_000
ZIPF_S = 1.07
QUERY_RANKS = (100, 3000)       # topic / query term draw
RELATED_RANKS = (3000, 6000)    # hard topics' expansion-only concepts
_STREAM = {"publish-serve": 1, "seqexp-batch": 2, "pipeline": 3}


def _rng(seed: int, workload: str) -> np.random.Generator:
    return np.random.default_rng([seed, _STREAM[workload]])


def _vocab() -> np.ndarray:
    return np.asarray([f"w{i:05d}" for i in range(VOCAB_SIZE)], dtype=object)


def _zipf_probs() -> np.ndarray:
    p = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64) ** (-ZIPF_S)
    return p / p.sum()


def _balanced(rng, values, n: int) -> np.ndarray:
    """``values`` repeated to length n, in random order: every seed gets
    the same mix, so seeds differ in which items they draw, not in how
    much work the mix adds up to."""
    return rng.permutation(np.resize(np.asarray(values), n))


def _zipf_docs(rng, n: int, log_mean: float, log_sigma: float) -> list:
    """n token lists over the Zipf vocab. Lengths (>= 5) are the
    lognormal's n evenly spaced quantiles in random order."""
    vocab = _vocab()
    nd = NormalDist(log_mean, log_sigma)
    quantiles = [math.exp(nd.inv_cdf((i + 0.5) / n)) for i in range(n)]
    lengths = np.maximum(5, _balanced(rng, quantiles, n).astype(int))
    flat = vocab[rng.choice(VOCAB_SIZE, size=int(lengths.sum()), p=_zipf_probs())]
    cuts = np.cumsum(lengths)[:-1]
    return [list(t) for t in np.split(flat, cuts)]


def _query_terms(rng, n: int, pool=None) -> list:
    """n queries of 1-5 distinct terms drawn uniformly from ``pool``
    (vocab ranks; default: all of QUERY_RANKS)."""
    vocab = _vocab()
    pool = np.arange(*QUERY_RANKS) if pool is None else np.asarray(pool)
    return [
        [str(vocab[j]) for j in rng.choice(pool, int(k), replace=False)]
        for k in _balanced(rng, range(1, 6), n)
    ]


@dataclass
class Inputs:
    """Paths of the generated parquet tables plus facts the checks need."""
    paths: dict = field(default_factory=dict)
    digests: dict = field(default_factory=dict)
    facts: dict = field(default_factory=dict)

    def write(self, name: str, df: pd.DataFrame, root: str) -> None:
        path = os.path.join(root, f"{name}.parquet")
        df.to_parquet(path, index=False)
        with open(path, "rb") as f:
            self.digests[name] = hashlib.sha256(f.read()).hexdigest()
        self.paths[name] = path


def publish_serve(seed: int, root: str, n_pages: int, n_warmup: int, n_queries: int,
                  rm3_share: float) -> Inputs:
    """Short pages to publish, and the serving stream's query mix:
    ``n_warmup`` warm-up queries, then the ``n_queries`` of the stream.

    Query terms are the QUERY_RANKS terms that occur in the pages: a
    short corpus holds only a fraction of them, and a query with no
    indexed term returns before it decodes a block or enters the WAND
    kernel. A random ``rm3_share`` of each part are RM3; the order of
    the stream is the order of the table."""
    rng = _rng(seed, "publish-serve")
    docs = _zipf_docs(rng, n_pages, log_mean=3.4, log_sigma=0.5)
    pages = pd.DataFrame({
        "doc_id": np.arange(n_pages, dtype=np.int64),
        "text": [" ".join(d) for d in docs],
    })
    present = {int(t[1:]) for d in docs for t in d}
    pool = sorted(r for r in range(*QUERY_RANKS) if r in present)
    terms, kind = [], []
    for n in (n_warmup, n_queries):
        terms += _query_terms(rng, n, pool)
        kind += list(np.where(rng.permutation(n) < round(n * rm3_share), "rm3", "bm25"))
    queries = pd.DataFrame({
        "qno": np.arange(n_warmup + n_queries, dtype=np.int64),
        "text": [" ".join(t) for t in terms],
        "kind": kind,
    })
    out = Inputs()
    out.write("pages", pages, root)
    out.write("queries", queries, root)
    out.facts["text_bytes"] = int(pages["text"].str.len().sum())
    out.facts["query_term_pool"] = len(pool)
    return out


def seqexp(seed: int, root: str, n_pages: int, n_topics: int,
           hard_share: float) -> Inputs:
    """Pages with planted relevant documents, one batch of topics, qrels
    and a concept graph biased toward each topic's co-planted terms.

    Hard topics (``hard_share`` of the batch) plant half their relevant
    documents with only the related concepts, which unexpanded BM25
    cannot reach and graph expansion can."""
    rng = _rng(seed, "seqexp-batch")
    vocab = _vocab()
    qids = [f"q{i:02d}" for i in range(n_topics)]
    terms = dict(zip(qids, _query_terms(rng, n_topics)))
    hard = set(qids[:int(n_topics * hard_share)])
    related = {
        q: [str(vocab[j]) for j in rng.choice(np.arange(*RELATED_RANKS), 3, replace=False)]
        for q in qids if q in hard
    }
    rel_docs = {
        q: [int(d) for d in rng.choice(n_pages, int(k), replace=False)]
        for q, k in zip(qids, _balanced(rng, range(5, 51), n_topics))
    }
    inject: dict = {}
    for q, docs in rel_docs.items():
        for j, d in enumerate(docs):
            planted = related[q] if (q in hard and j % 2) else terms[q] + related.get(q, [])
            inject.setdefault(d, []).extend(planted)
    docs = _zipf_docs(rng, n_pages, log_mean=5.0, log_sigma=0.6)
    for d, extra in inject.items():
        toks = docs[d]
        reps = [t for t in extra for _ in range(int(rng.integers(2, 5)))]
        for p, t in zip(sorted(rng.integers(0, len(toks) + 1, len(reps)), reverse=True), reps):
            toks.insert(int(p), t)
    pages = pd.DataFrame({
        "doc_id": np.arange(n_pages, dtype=np.int64),
        "text": [" ".join(d) for d in docs],
    })
    topics = pd.DataFrame({
        "qid": qids,
        "text": [" ".join(terms[q]) for q in qids],
    })
    qrels = pd.DataFrame(
        [(q, d, 1 + d % 2) for q, docs in rel_docs.items() for d in docs],
        columns=["qid", "doc_id", "rel"],
    ).astype({"doc_id": "int64", "rel": "int32"})
    rels = ["RelatedTo", "IsA", "PartOf", "Synonym"]
    edges = []
    for q in qids:
        for t in terms[q]:
            for t2 in terms[q] + related.get(q, []):
                if t2 != t:
                    edges.append((rels[len(edges) % 4], t, t2, 3))
            for j in rng.integers(0, VOCAB_SIZE, 3):
                edges.append((rels[len(edges) % 4], t, str(vocab[int(j)]), 1))
    graph = (
        pd.DataFrame(edges, columns=["rel", "src", "dst", "weight"])
        .drop_duplicates(["src", "dst"]).reset_index(drop=True)
    )
    out = Inputs()
    out.write("pages", pages, root)
    out.write("topics", topics, root)
    out.write("qrels", qrels, root)
    out.write("graph", graph, root)
    out.facts["hard_topics"] = len(hard)
    return out


BOILERPLATE = [
    f"{a} {b} {c}"
    for a in ("home", "about us", "contact", "privacy policy", "terms of use")
    for b in ("subscribe to our newsletter", "all rights reserved", "follow us")
    for c in ("copyright 2024", "cookie settings")
]
SOURCES = ("web", "books", "code")
RATES = {"web": 1.0, "books": 0.5, "code": 0.25}


def pipeline(seed: int, root: str, n_pages: int, n_bench: int) -> Inputs:
    """Web pages with the features every pipeline stage acts on:
    newline-separated lines with shared boilerplate (line dedup), 10%
    URL variants of an earlier page (URL dedup), 5% planted e-mail /
    phone / IPv4 PII (redaction), three sources (mixture sampling) and
    ``n_bench`` benchmark items cut from page text (decontamination)."""
    rng = _rng(seed, "pipeline")
    bodies = _zipf_docs(rng, n_pages, log_mean=5.0, log_sigma=0.5)
    with_pii = set(rng.choice(n_pages, round(0.05 * n_pages), replace=False).tolist())
    variant = set(rng.choice(np.arange(11, n_pages), round(0.10 * n_pages),
                             replace=False).tolist())
    texts, urls, pii = [], [], []
    for i, toks in enumerate(bodies):
        lines = [" ".join(toks[s:s + 12]) for s in range(0, len(toks), 12)]
        for _ in range(int(rng.integers(0, 4))):
            lines.insert(int(rng.integers(0, len(lines) + 1)),
                         BOILERPLATE[int(rng.integers(len(BOILERPLATE)))])
        if i in with_pii:
            planted = [
                f"user{i}@mail{i % 7}.example.com",
                f"555-{100 + i % 900:03d}-{1000 + i % 9000:04d}",
                f"10.{i % 250}.{(i // 250) % 250}.{1 + i % 200}",
            ]
            pii.extend(planted)
            lines.insert(int(rng.integers(0, len(lines) + 1)), "reach me at " + " or ".join(planted))
        texts.append("\n".join(lines))
        if i in variant:
            j = int(rng.integers(0, i))
            urls.append(f"HTTP://WWW.site{j % 97}.example.org/p/{j}/?utm_source=feed{i}")
        else:
            urls.append(f"https://site{i % 97}.example.org/p/{i}")
    # an item is one whole 12-token body line: no boilerplate or PII
    # line can split it, so its source page must be flagged
    long_enough = np.flatnonzero([len(t) >= 12 for t in bodies])
    bench_docs = rng.choice(long_enough, n_bench, replace=False)
    bench = []
    for b, d in enumerate(bench_docs):
        toks = bodies[int(d)]
        s = 12 * int(rng.integers(0, len(toks) // 12))
        bench.append((f"bench{b:02d}", " ".join(toks[s:s + 12])))
    pages = pd.DataFrame({
        "doc_id": np.arange(n_pages, dtype=np.int64),
        "url": urls,
        "source": _balanced(rng, SOURCES, n_pages),
        "text": texts,
    })
    out = Inputs()
    out.write("pages", pages, root)
    out.write("bench", pd.DataFrame(bench, columns=["bench_id", "text"]), root)
    out.facts["pii"] = pii
    out.facts["bench_docs"] = sorted(int(d) for d in bench_docs)
    return out
