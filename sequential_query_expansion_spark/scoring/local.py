"""Serving-tier point queries straight off the on-disk blocked index.

The reference answers queries with a long-lived IndriRunQuery process
that memory-maps its index files (configs/*/indriRunQuery.cfg,
umls/umlsSeqPubMed.ipynb:31348) — per-query cost is a few posting-list
reads, never a cluster job. A per-query Spark plan (scoring/bm25.py)
is floor-bound by job scheduling (~0.5 s/query on local[32] regardless
of corpus size). ``LocalSearcher`` closes that gap: it reads the SAME
checkpointed index the Spark jobs write (index/checkpoint.py layout) and
serves BM25 top-k rank-identically in milliseconds.

Why this is the right 100 TB architecture and not a local-mode hack:
- the blocked postings live partitioned by ``bucket = pmod(xxhash64(
  term), num_buckets)``; the searcher recomputes the bucket client-side
  (index/xxh64.py) and opens ONLY those bucket directories — at cluster
  scale that is object-store partition pruning, so per-query I/O is
  O(query terms' postings), independent of corpus size;
- inside a bucket, parquet row-group statistics on ``term`` prune
  further (pyarrow pushes the ``term ∈ {...}`` filter down);
- scoring reuses the numpy block-max WAND kernel (scoring/wand.py
  ``_wand_kernel``) byte-for-byte, so serving results are
  rank-identical to ``wand_topk`` / ``score_topk`` by construction —
  one kernel, two surfaces (batch Spark, serving tier);
- Spark stays the system of record: builds, merges, compacts and
  deletes go through the cluster; any number of stateless searcher
  replicas mount the index read-only (the validate_index_dir gate
  refuses torn compacts exactly like the Spark reader).
"""

from __future__ import annotations

import math
import os
from collections import OrderedDict

import numpy as np
import pandas as pd
import pyarrow.dataset as pads
import pyarrow.compute as pc

from ..index.build import B, K1
from ..index.checkpoint import validate_index_dir
from ..index.codec import decode_block
from ..index.xxh64 import term_bucket
from .wand import _wand_kernel

_TERM_CACHE_SIZE = 4096  # hot-vocabulary cache (term -> df/blocks row)


class LocalSearcher:
    """Read-only retrieval over a checkpointed index directory.

    ``topk`` (BM25/WAND) results are rank-identical to
    ``scoring.bm25.score_topk`` and ``scoring.wand.wand_topk``;
    ``lm_topk`` (method:dir / method:two) to ``scoring.lm``'s scorers —
    same formulas, same (score desc, doc_id asc) tie-break, pinned by
    tests/test_local_search.py against both codecs.

    An index with pending ``maintenance.delete_docs`` tombstones (not
    yet compacted) serves in LIVE mode: tombstoned docs are dropped and
    n_docs/avgdl/df recomputed from the survivors, rank-identical to
    the Spark live path (``maintenance.load_index_live`` + the batch
    scorers). Live BM25 scores exhaustively — the stored block-max
    bounds assume the published stats, and deletes RAISE idf, so WAND
    pruning over stale bounds would be unsound (the Spark live path
    disables WAND the same way). Run ``compact_index`` to restore the
    pruned point-query path.
    """

    def __init__(self, out_dir: str, k1: float = K1, b: float = B):
        stats = validate_index_dir(out_dir)
        self.out_dir = out_dir
        self.n_docs = int(stats["n_docs"])
        self.avgdl = float(stats["avgdl"])
        self.num_buckets = int(stats["num_buckets"])
        self.k1, self.b = float(k1), float(b)
        self._postings_dir = os.path.join(out_dir, "postings")
        self._positional_dir = os.path.join(out_dir, "positional")
        self._docmap_dir = os.path.join(out_dir, "docmap")
        # LRU of term -> {"df": int, "blocks": [block dicts]} | None
        self._terms: OrderedDict[str, dict | None] = OrderedDict()
        # LRU of term -> {doc_id: positions ndarray} (positional stage)
        self._positions: OrderedDict[str, dict] = OrderedDict()
        self._tomb: np.ndarray | None = None   # sorted tombstoned ids
        self._tomb_set: frozenset[int] = frozenset()
        self._load_tombstones()

    # -- live (tombstoned, pre-compact) mode ---------------------------

    def _load_tombstones(self) -> None:
        """Serve a live index exactly like the Spark reader
        (maintenance.load_index_live): if ``delete_docs`` tombstones
        exist but ``compact_index`` hasn't run, drop the tombstoned rows
        and recompute n_docs/avgdl (and per-term df at decode time) from
        the SURVIVORS. O(deleted) at init — tombstones are a tiny table
        by contract."""
        tdir = os.path.join(self.out_dir, "tombstones")
        if not os.path.isdir(tdir):
            return
        tomb = np.unique(
            pads.dataset(tdir, format="parquet")
            .to_table(columns=["doc_id"])["doc_id"]
            .to_numpy()
        ).astype(np.int64)
        if not len(tomb):
            return
        # exact live stats: published totals minus the tombstoned rows'
        # (doc_len is published doc_id-sorted -> row-group pruned read)
        dl_tbl = pads.dataset(
            os.path.join(self.out_dir, "doc_len"), format="parquet"
        ).to_table(
            columns=["doc_id", "dl"],
            filter=pc.field("doc_id").isin([int(d) for d in tomb]),
        )
        n_del = dl_tbl.num_rows
        dl_del = int(pc.sum(dl_tbl["dl"]).as_py() or 0)
        total = round(self.n_docs * self.avgdl)
        self.n_docs -= n_del
        self.avgdl = (total - dl_del) / self.n_docs if self.n_docs else 0.0
        self._tomb = tomb
        self._tomb_set = frozenset(tomb.tolist())

    def _decode_live(self, got: dict):
        """``_decode_term`` minus the tombstoned docs (no-op when the
        index carries no tombstones)."""
        d, tf, dl = self._decode_term(got)
        if self._tomb is not None and len(d):
            keep = ~np.isin(d, self._tomb)
            d, tf, dl = d[keep], tf[keep], dl[keep]
        return d, tf, dl

    # -- index reads --------------------------------------------------

    def _fetch_terms(self, terms: list[str]) -> dict[str, dict | None]:
        """Load postings rows for ``terms``; None for absent terms.

        One pyarrow read per distinct bucket, filtered to that bucket's
        wanted terms (row-group pruning applies on the term column).
        """
        out: dict[str, dict | None] = {}
        missing_by_bucket: dict[int, list[str]] = {}
        for t in terms:
            if t in self._terms:
                self._terms.move_to_end(t)
                out[t] = self._terms[t]
            else:
                missing_by_bucket.setdefault(
                    term_bucket(t, self.num_buckets), []
                ).append(t)
        for bucket, ts in missing_by_bucket.items():
            bdir = os.path.join(self._postings_dir, f"bucket={bucket}")
            found: dict[str, dict] = {}
            if os.path.isdir(bdir):
                dset = pads.dataset(bdir, format="parquet")
                tbl = dset.to_table(
                    columns=["term", "df", "blocks"],
                    filter=pc.field("term").isin(ts),
                )
                for row in tbl.to_pylist():
                    found[row["term"]] = {
                        "df": int(row["df"]), "blocks": row["blocks"]
                    }
            for t in ts:
                got = found.get(t)
                self._terms[t] = got
                out[t] = got
        while len(self._terms) > _TERM_CACHE_SIZE:
            self._terms.popitem(last=False)
        return out

    def _fetch_positions(self, terms: list[str]) -> dict[str, dict]:
        """term -> {doc_id: sorted positions ndarray} off the stored
        positional-postings stage (checkpoint with_positions=True) —
        same bucket pruning + term-filtered reads as ``_fetch_terms``.
        """
        if not os.path.isdir(self._positional_dir):
            raise ValueError(
                f"index at {self.out_dir} has no positional stage; "
                "publish with build_index_checkpointed(..., "
                "with_positions=True) to serve phrase queries."
            )
        out: dict[str, dict] = {}
        missing_by_bucket: dict[int, list[str]] = {}
        for t in terms:
            if t in self._positions:
                self._positions.move_to_end(t)
                out[t] = self._positions[t]
            else:
                missing_by_bucket.setdefault(
                    term_bucket(t, self.num_buckets), []
                ).append(t)
        for bucket, ts in missing_by_bucket.items():
            bdir = os.path.join(self._positional_dir, f"bucket={bucket}")
            found: dict[str, dict] = {t: {} for t in ts}
            if os.path.isdir(bdir):
                dset = pads.dataset(bdir, format="parquet")
                tbl = dset.to_table(
                    columns=["term", "doc_id", "positions"],
                    filter=pc.field("term").isin(ts),
                )
                for row in tbl.to_pylist():
                    found[row["term"]][int(row["doc_id"])] = np.asarray(
                        row["positions"], dtype=np.int64
                    )
            for t in ts:
                self._positions[t] = found[t]
                out[t] = found[t]
        while len(self._positions) > _TERM_CACHE_SIZE:
            self._positions.popitem(last=False)
        return out

    def urls_for(self, doc_ids: list[int]) -> dict[int, str]:
        """doc_id -> url from the docmap checkpoint (result-page joins).

        The checkpoint publishes the docmap SORTED by doc_id
        (index/checkpoint.py flat stage), so this filtered read prunes
        on parquet row-group min/max stats — top-k-sized id lists touch
        a handful of row groups, not the whole table.
        """
        dset = pads.dataset(self._docmap_dir, format="parquet")
        wanted = [int(d) for d in doc_ids if int(d) not in self._tomb_set]
        tbl = dset.to_table(
            columns=["doc_id", "url"],
            filter=pc.field("doc_id").isin(wanted),
        )
        return {int(r["doc_id"]): r["url"] for r in tbl.to_pylist()}

    # -- scoring ------------------------------------------------------

    @staticmethod
    def _weights(query_terms) -> dict[str, float]:
        """Normalize {term: w} / [(term, w), ...] / [term, ...] to a
        weight dict (bare terms get 1.0; duplicates sum)."""
        weights: dict[str, float] = {}
        if isinstance(query_terms, dict):
            items = query_terms.items()
        else:
            items = [
                (t, 1.0) if isinstance(t, str) else (t[0], float(t[1]))
                for t in query_terms
            ]
        for t, w in items:
            weights[t] = weights.get(t, 0.0) + float(w)
        return weights

    def topk(self, query_terms, k: int = 10,
             rank_round: int | None = None) -> list[tuple[int, float]]:
        """``query_terms``: {term: weight} or [(term, weight), ...] (a
        bare list of terms gets weight 1.0 each, duplicates summed).
        Returns [(doc_id, score)] sorted (score desc, doc_id asc).
        ``rank_round`` selects/sorts on round(score, d) like the Spark
        scorers' cross-engine float policy (see ``_rounded_topk``).
        """
        if rank_round is not None:
            return self._rounded_topk(
                lambda kk: self.topk(query_terms, k=kk), k, rank_round
            )
        weights = self._weights(query_terms)
        rows = self._fetch_terms(list(weights))
        if self._tomb is not None:
            return self._topk_exhaustive(weights, rows, k)
        recs = [
            {
                "qid": "_q",
                "term": t,
                "weight": weights[t],
                "df": got["df"],
                "blocks": got["blocks"],
            }
            for t, got in rows.items()
            if got is not None
        ]
        if not recs:
            return []
        res = _wand_kernel(
            pd.DataFrame(recs), k, self.n_docs, self.avgdl, self.k1, self.b
        )
        return [
            (int(d), float(s))
            for d, s in zip(res["doc_id"].tolist(), res["score"].tolist())
        ]

    def _topk_exhaustive(self, weights: dict, rows: dict, k: int):
        """BM25 over the query terms' full surviving postings — the live
        (tombstoned) path. The stored block-max bounds are computed
        against the PUBLISHED stats; deletes raise idf, so ``max_score``
        is no longer a sound upper bound and WAND pruning is disabled —
        exactly mirroring the Spark live path, where
        ``maintenance.load_index_live`` sets ``postings=None``. df is
        recounted from the survivors (= the live-recomputed vocab)."""
        decoded = {
            t: v
            for t, got in rows.items()
            if got is not None
            for v in [self._decode_live(got)]
            if len(v[0])
        }
        if not decoded:
            return []
        cands = np.unique(np.concatenate([d for d, _, _ in decoded.values()]))
        score = np.zeros(len(cands), dtype=np.float64)
        for t, (d, tf, dl) in decoded.items():
            contrib = self._bm25(tf, dl, float(len(d)), weights[t])
            np.add.at(score, np.searchsorted(cands, d), contrib)
        order = np.lexsort((cands, -score))[:k]
        return [(int(cands[i]), float(score[i])) for i in order]

    def batch_topk(
        self, queries: dict[str, object], k: int = 10, **kw
    ) -> dict[str, list[tuple[int, float]]]:
        """{qid: query_terms} -> {qid: topk(...)}; terms are fetched in
        one pass across queries so shared vocabulary is read once.
        Extra kwargs (method=, mu=, ...) route through ``lm_topk``."""
        all_terms: set[str] = set()
        for q in queries.values():
            if isinstance(q, dict):
                all_terms.update(q)
            else:
                all_terms.update(t if isinstance(t, str) else t[0] for t in q)
        self._fetch_terms(sorted(all_terms))  # warm the cache in one read
        if kw:
            return {qid: self.lm_topk(q, k=k, **kw) for qid, q in queries.items()}
        return {qid: self.topk(q, k=k) for qid, q in queries.items()}

    # -- language-model scoring (Indri method:dir / method:two) --------

    @staticmethod
    def _decode_term(got: dict):
        """Decode a term's full posting list -> (doc_ids, tfs, dls)
        float64/int64 arrays concatenated across blocks (doc-sorted:
        blocks are written in ascending doc order)."""
        ds, ts, ls = [], [], []
        for blk in got["blocks"]:
            d, t, l = decode_block(blk["docs"], blk["tfs"], blk["dls"], blk["n"])
            ds.append(d)
            ts.append(t)
            ls.append(l)
        return (
            np.concatenate(ds),
            np.concatenate(ts).astype(np.float64),
            np.concatenate(ls).astype(np.float64),
        )

    def lm_topk(
        self,
        query_terms,
        k: int = 10,
        method: str = "dir",
        mu: float = 1600.0,
        lam: float = 0.4,
        rank_round: int | None = None,
    ) -> list[tuple[int, float]]:
        """Language-model top-k off the on-disk index, rank-identical to
        the Spark scorers (scoring/lm.py): ``method="dir"`` is Dirichlet
        query likelihood (Indri method:dir — IndriRunQuery's DEFAULT
        rule, every reference config sets it), ``method="two"`` is
        two-stage smoothing (method:two, the CDS14 headline rule).

        There is no LM analogue of the block-max bound in the stored
        metadata (max_score is a BM25 bound), so scoring is exhaustive
        over the query terms' postings — exactly the per-query I/O
        IndriRunQuery pays, still O(query terms' postings) total.
        cf comes out of the decode for free (cf = Σ tf over the term's
        full list, byte-identical to the vocab table's cf).
        """
        if method not in ("dir", "two"):
            raise ValueError(f"unknown LM method {method!r}")
        if rank_round is not None:
            return self._rounded_topk(
                lambda kk: self.lm_topk(
                    query_terms, k=kk, method=method, mu=mu, lam=lam
                ),
                k, rank_round,
            )
        weights = self._weights(query_terms)
        rows = self._fetch_terms(list(weights))
        c_total = float(round(self.n_docs * self.avgdl))  # Σ dl, exact

        decoded = {
            t: v
            for t, got in rows.items()
            if got is not None
            for v in [self._decode_live(got)]
            if len(v[0])  # fully-tombstoned terms drop out of the vocab
        }
        if not decoded:
            return []

        # candidate docs = union of the query terms' postings (docs with
        # zero matched terms score strictly lower under both rules)
        cands = np.unique(np.concatenate([d for d, _, _ in decoded.values()]))
        dl = np.zeros(len(cands), dtype=np.float64)
        for d, _, l in decoded.values():
            dl[np.searchsorted(cands, d)] = l
        score = np.zeros(len(cands), dtype=np.float64)

        if method == "dir":
            # Σ_t w·ln(1 + tf·C/(mu·cf)) + W_q·ln(mu/(dl+mu)); W_q sums
            # ALL query weights incl. out-of-vocabulary terms, matching
            # scoring/lm.dirichlet_topk's prior
            for t, (d, tf, _) in decoded.items():
                cf = float(tf.sum())
                contrib = weights[t] * np.log(1.0 + tf * c_total / (mu * cf))
                np.add.at(score, np.searchsorted(cands, d), contrib)
            w_q = sum(weights.values())
            score += w_q * np.log(mu / (dl + mu))
        else:
            # p(t|d) = (1-λ)(tf + mu·p_t)/(dl + mu) + λ·p_t, summed as
            # w·ln p over EVERY in-vocab query term per candidate doc
            # (absent terms take tf=0) — the same candidates × |q| cross
            # scoring/lm.two_stage_topk materializes
            for t, (d, tf, _) in decoded.items():
                p_t = float(tf.sum()) / c_total
                tf_full = np.zeros(len(cands), dtype=np.float64)
                tf_full[np.searchsorted(cands, d)] = tf
                p_td = (
                    (1.0 - lam) * (tf_full + mu * p_t) / (dl + mu)
                    + lam * p_t
                )
                score += weights[t] * np.log(p_td)

        order = np.lexsort((cands, -score))[:k]
        return [(int(cands[i]), float(score[i])) for i in order]

    # -- phrase-clause scoring (#odN / #uwN as scored sub-expressions) -

    def _bm25(self, tf, dl, df: float, w: float) -> np.ndarray:
        idf = math.log(
            1.0 + (self.n_docs - df + 0.5) / (df + 0.5)
        )
        return (
            w * idf * tf * (self.k1 + 1.0)
            / (tf + self.k1 * (1.0 - self.b + self.b * dl / self.avgdl))
        )

    def phrase_topk(
        self,
        term_clauses: list[tuple[str, float]],
        phrase_clauses: list[tuple[list, int, bool, float]],
        k: int = 10,
        rank_round: int | None = None,
    ) -> list[tuple[int, float]]:
        """`#weight(...)` mixing plain terms and window clauses, served
        off the on-disk index — rank-identical to
        ``scoring.phrase.phrase_weighted_topk``.

        ``term_clauses``: [(term, weight)] — weight × BM25(term).
        ``phrase_clauses``: [(terms, n, ordered, weight)] — each clause
        is a pseudo-term: tf = window match count (ordered=#odN else
        #uwN), df = docs with ≥1 match, scored with the same BM25.
        Positions come from the stored positional stage; candidate docs
        are the intersection of the clause terms' postings, window
        kernels run post-intersection only (same shape as the Spark
        path, scoring/phrase.py).
        """
        from ..functions.positional import od_count_positions
        from ..index.positions import _uw_from_positions

        if rank_round is not None:
            return self._rounded_topk(
                lambda kk: self.phrase_topk(term_clauses, phrase_clauses,
                                            k=kk),
                k, rank_round,
            )
        all_terms = sorted(
            {t for t, _ in term_clauses}
            | {t for terms, _, _, _ in phrase_clauses for t in terms}
        )
        rows = self._fetch_terms(all_terms)
        decoded = {
            t: v
            for t, got in rows.items()
            if got is not None
            for v in [self._decode_live(got)]
            if len(v[0])
        }

        scores: dict[int, float] = {}
        dl_map: dict[int, float] = {}
        for d, _, l in decoded.values():
            dl_map.update(zip(d.tolist(), l.tolist()))

        def add(doc_ids, contribs) -> None:
            for d, c in zip(doc_ids, contribs):
                scores[d] = scores.get(d, 0.0) + c

        for t, w in term_clauses:
            if t not in decoded:
                continue
            d, tf, dl = decoded[t]
            # live mode recounts df from the survivors (== stored df on
            # a compacted index, where the decode is the full list)
            df = float(len(d)) if self._tomb is not None else float(rows[t]["df"])
            add(d.tolist(), self._bm25(tf, dl, df, w).tolist())

        needed = sorted(
            {t for terms, _, _, _ in phrase_clauses for t in terms}
        )
        pos_by_term = self._fetch_positions(needed) if needed else {}
        for terms, n, ordered, w in phrase_clauses:
            per_term = [pos_by_term.get(t, {}) for t in terms]
            if not per_term or any(not p for p in per_term):
                continue
            cand = set(per_term[0])
            for p in per_term[1:]:
                cand &= set(p)
            cand -= self._tomb_set
            matches: dict[int, int] = {}
            for doc in cand:
                arrs = [p[doc] for p in per_term]
                cnt = (
                    od_count_positions(arrs, n)
                    if ordered
                    else _uw_from_positions(arrs, n)
                )
                if cnt > 0:
                    matches[doc] = cnt
            if not matches:
                continue
            clause_df = float(len(matches))
            docs = np.fromiter(matches, dtype=np.int64)
            tf = np.fromiter(matches.values(), dtype=np.float64)
            dl = np.array([dl_map[int(d)] for d in docs])
            add(docs.tolist(), self._bm25(tf, dl, clause_df, w).tolist())

        if not scores:
            return []
        docs = np.fromiter(scores, dtype=np.int64)
        vals = np.fromiter(scores.values(), dtype=np.float64)
        order = np.lexsort((docs, -vals))[:k]
        return [(int(docs[i]), float(vals[i])) for i in order]

    # -- pseudo-relevance feedback (Indri fbDocs/fbTerms) --------------

    def _fetch_doc_vectors(self, doc_ids: list[int]) -> pd.DataFrame:
        """(doc_id, term, tf, dl) rows for ``doc_ids`` off the stored
        forward index (checkpoint with_doc_vectors=True). The stage is
        published SORTED by doc_id, so parquet row-group min/max stats
        prune the read to the feedback docs' spans."""
        dv_dir = os.path.join(self.out_dir, "doc_vectors")
        if not os.path.isdir(dv_dir):
            raise ValueError(
                f"index at {self.out_dir} has no doc_vectors stage; "
                "publish with build_index_checkpointed(..., "
                "with_doc_vectors=True) to serve PRF queries."
            )
        dset = pads.dataset(dv_dir, format="parquet")
        tbl = dset.to_table(
            columns=["doc_id", "term", "tf", "dl"],
            filter=pc.field("doc_id").isin([int(d) for d in doc_ids]),
        )
        return tbl.to_pandas()

    def rm3_topk(
        self,
        query_terms,
        k: int = 10,
        fb_docs: int = 10,
        fb_terms: int = 20,
        orig_weight: float = 0.5,
        method: str = "bm25",
        mu: float = 1600.0,
        rank_round: int | None = None,
    ) -> list[tuple[int, float]]:
        """RM3-expanded retrieval off the on-disk index, rank-identical
        to ``expansion.rm3.rm3_topk`` (same feedback model, same
        selection ties, same interpolation):

          1. unexpanded top-``fb_docs`` (BM25, or Dirichlet for
             method="dir" — the reference's actual Indri PRF);
          2. doc weights: score-proportional (bm25) / softmax over
             log-QL (dir);
          3. RM1 over the feedback docs' STORED vectors
             (``with_doc_vectors`` stage) — P(t|R) = Σ w_d·tf/dl;
          4. top ``fb_terms`` by (weight desc, term asc), renormalized;
          5. ow·orig/|q| + (1-ow)·rm1, re-run through the same scorer.

        ``rank_round`` mirrors the Spark scorers' cross-engine float
        policy: feedback docs and fb terms are selected on ROUNDED keys.
        """
        if method not in ("bm25", "dir"):
            raise ValueError(
                f"unknown RM3 method {method!r}; choose 'bm25' or 'dir' "
                "(same contract as expansion.rm3.rm3_expand_df)"
            )
        weights = self._weights(query_terms)
        if method == "dir":
            fb_run = self._rounded_topk(
                lambda kk: self.lm_topk(weights, k=kk, method="dir", mu=mu),
                fb_docs, rank_round,
            )
        else:
            fb_run = self._rounded_topk(
                lambda kk: self.topk(weights, k=kk), fb_docs, rank_round
            )
        if not fb_run:
            return []
        w_by_doc = self._fb_doc_weights(fb_run, method)
        rm1_n = (1.0 - orig_weight) * self._rm1_terms(
            w_by_doc, fb_terms, rank_round
        )

        n_q = sum(weights.values())
        expanded: dict[str, float] = {
            t: orig_weight * w / n_q for t, w in weights.items()
        }
        for t, w in rm1_n.items():
            expanded[t] = expanded.get(t, 0.0) + float(w)

        if method == "dir":
            return self.lm_topk(expanded, k=k, method="dir", mu=mu,
                                rank_round=rank_round)
        return self.topk(expanded, k=k, rank_round=rank_round)

    def _rounded_topk(self, run, k: int, rank_round: int | None) -> list:
        """Emulate the Spark scorers' selection on round(score,
        rank_round) (tie-break doc_id asc) with an exact-score top-k
        runner ``run(k')``. Over-fetch until every doc that ties the
        k-th selected doc on the ROUNDED key is inside the pool: any doc
        outside the pool has exact score ≤ the pool's worst, and
        rounding is monotone, so once worst_rounded < kth_rounded the
        outside docs rank strictly below — selection is then exact."""
        if rank_round is None:
            return run(k)

        def rsort(res):
            return sorted(
                res, key=lambda ds: (-round(ds[1], rank_round), ds[0])
            )

        pool = max(2 * k, k + 10)
        while True:
            res = run(pool)
            if len(res) < pool or len(res) <= k:
                break  # the pool is the entire candidate set
            kth = round(rsort(res)[k - 1][1], rank_round)
            if round(res[-1][1], rank_round) < kth:
                break
            pool *= 4
        return rsort(res)[:k]

    @staticmethod
    def _fb_doc_weights(fb_run: list, method: str = "bm25") -> dict:
        """Feedback-doc posterior weights: score-proportional for BM25
        scores, stable softmax for log-QL (method='dir') — matching
        expansion.rm3.rm3_expand_df."""
        scores = np.array([s for _, s in fb_run])
        if method == "dir":
            e = np.exp(scores - scores.max())
            w = e / e.sum()
        else:
            w = scores / scores.sum()
        return {d: wi for (d, _), wi in zip(fb_run, w)}

    def _rm1_terms(self, w_by_doc: dict, fb_terms: int,
                   rank_round: int | None) -> pd.Series:
        """Relevance model over the feedback docs' stored vectors:
        P(t|R) = Σ_d w_d·tf/dl, top ``fb_terms`` by (weight desc, term
        asc) selected on ROUNDED keys when ``rank_round`` is set,
        renormalized to a distribution."""
        dv = self._fetch_doc_vectors(list(w_by_doc))
        dv = dv.assign(
            contrib=dv["doc_id"].map(w_by_doc) * dv["tf"] / dv["dl"]
        )
        rm1 = dv.groupby("term")["contrib"].sum()
        sort_key = (
            rm1.round(rank_round + 3) if rank_round is not None else rm1
        )
        order = sorted(rm1.index, key=lambda t: (-sort_key[t], t))[:fb_terms]
        top_w = rm1[order]
        return top_w / top_w.sum()

    def indri_rm3_topk(
        self,
        text: str,
        k: int = 10,
        fb_docs: int = 10,
        fb_terms: int = 20,
        orig_weight: float = 0.5,
        rank_round: int | None = None,
    ) -> list[tuple[int, float]]:
        """RM3 PRF on top of a STRUCTURED (Indri query-language) query —
        the reference's actual configuration: its concept-query cfgs
        carry <fbDocs>/<fbTerms> alongside the #weight rendering, so
        Indri expands the structured query and interpolates
        `#weight(ow orig (1-ow) expansion)`.

        Feedback run = the phrase-clause scorer on the parsed query; doc
        weights score-proportional; RM1 off the stored forward index;
        the final pass re-scores ONE combined clause set — original
        clauses scaled by ow/Σw_orig, expansion terms at (1-ow)·w.
        Rank-identical to ``scoring.phrase.phrase_rm3_topk``."""
        from ..indriql import parse_indri_query

        term_clauses, phrase_clauses = parse_indri_query(text)
        fb_run = self._rounded_topk(
            lambda kk: self.phrase_topk(term_clauses, phrase_clauses, k=kk),
            fb_docs, rank_round,
        )
        if not fb_run:
            return []
        w_by_doc = self._fb_doc_weights(fb_run)
        rm1_n = (1.0 - orig_weight) * self._rm1_terms(
            w_by_doc, fb_terms, rank_round
        )

        mass = sum(w for _, w in term_clauses) + sum(
            w for _, _, _, w in phrase_clauses
        )
        expanded: dict[str, float] = {
            t: orig_weight * w / mass for t, w in term_clauses
        }
        for t, w in rm1_n.items():
            expanded[t] = expanded.get(t, 0.0) + float(w)
        scaled_phrases = [
            (terms, n, ordered, orig_weight * w / mass)
            for terms, n, ordered, w in phrase_clauses
        ]
        return self.phrase_topk(
            sorted(expanded.items()), scaled_phrases, k=k,
            rank_round=rank_round,
        )

    def concept_topk(self, phrase: str, k: int = 10,
                     rank_round: int | None = None, **kw) -> list:
        """One concept query under the reference's rendering
        `#weight(0.8 #combine(name) 0.1 #combine(#od4 bigrams) 0.1
        #uwN(name))` (umls/umlsSeqPubMed.ipynb:555-633) — the serving
        analogue of ``scoring.phrase.concept_query_topk``. Extra kwargs
        go to ``render_concept_clauses`` (clause weights)."""
        from .phrase import render_concept_clauses

        term_rows, phrase_rows = render_concept_clauses([("q", phrase)], **kw)
        return self.phrase_topk(
            [(t, w) for _, t, w in term_rows],
            [
                (terms, n, ordered, w)
                for _, _, terms, n, ordered, w in phrase_rows
            ],
            k=k,
            rank_round=rank_round,
        )

    def indri_topk(self, text: str, k: int = 10,
                   rank_round: int | None = None) -> list:
        """Serve one Indri query-language string (the grammar subset in
        ``indriql``: #weight/#combine/#odN/#N/#uwN plus bare terms) —
        the serving-tier analogue of IndriRunQuery executing a cfg
        query, rank-identical to ``scoring.phrase.indri_query_topk``."""
        from ..indriql import parse_indri_query

        term_clauses, phrase_clauses = parse_indri_query(text)
        return self.phrase_topk(term_clauses, phrase_clauses, k=k,
                                rank_round=rank_round)
