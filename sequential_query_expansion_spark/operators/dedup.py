"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale notes (the 100 TB story):
- exact dedup is one hash-groupBy on a 16-byte fingerprint — the shuffle
  moves fingerprints, never text.
- exact all-pairs Jaccard self-joins on shingles; a shingle shared by m
  docs emits m^2 candidates, so it is only for oracle-sized verification.
  The production path is MinHash+LSH: candidate generation shuffles only
  (band_id, band_hash, doc_id) triples and the quadratic blowup is capped
  per bucket; the exact-Jaccard verify then runs ONLY on candidates.
- signatures are computed in one Arrow-batched mapInPandas pass: per-
  shingle 64-bit blake2b base hash, then a splitmix64-mixed permutation
  family evaluated chunked/in-place (cache-resident), per-row minima via
  minimum.reduceat — no per-row Python beyond the digest loop.

Reference analogue: the reference dedups probe expressions via std::set /
dict guards (occuranceCount.cpp:59-65, notebook cell 13) — document-level
dedup is the training-pipeline generalization.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.text import tokenize_col
from ..util import ensure_parallelism, local_frame
from .text_analysis import fingerprint

# MinHash parameters (fixed so signatures are comparable across runs).
DEFAULT_NUM_HASHES = 128
DEFAULT_BANDS = 32


def _shingle_col(text_col, n: int):
    """Distinct token n-gram strings (space-joined) as an array column.

    Built as a chain of n-1 zip_withs against shifted copies of the
    token array. Every token-array reference is a CHILD of a zip_with /
    slice — evaluated once per row — unlike an index-transform
    formulation (`transform(sequence(...), i -> slice(toks, i+1, n))`),
    whose lambda body re-evaluates the tokenizer per element (no CSE
    inside higher-order lambdas → O(len²) per row).

    The trailing n-1 positions pair with null from the shorter shifted
    array; F.concat propagates the null and a final filter drops them.
    """
    toks = tokenize_col(F.col(text_col))
    grams = toks
    for shift in range(1, n):
        shifted = F.slice(
            toks, shift + 1, F.greatest(F.size(toks), F.lit(1))
        )
        grams = F.zip_with(
            grams, shifted, lambda a, b: F.concat(a, F.lit(" "), b)
        )
    return F.array_distinct(F.filter(grams, lambda g: g.isNotNull()))


def _dup_groups(keyed: DataFrame, key: str, id_col: str) -> DataFrame:
    """(key, n_docs, keep_doc, dup_docs) groups from (key, id) pairs:
    keep_doc the smallest id, dup_docs the rest ascending (unbounded —
    the slice length is the group size, so a hot key with millions of
    members is never silently truncated). One hash-groupBy; only
    (key, id) pairs shuffle."""
    return (
        keyed.groupBy(key)
        .agg(
            F.count("*").alias("n_docs"),
            F.array_sort(F.collect_list(id_col)).alias("ids"),
        )
        .select(
            key,
            "n_docs",
            F.element_at("ids", 1).alias("keep_doc"),
            F.expr("slice(ids, 2, size(ids))").alias("dup_docs"),
        )
    )


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (post-normalization) docs.

    -> (fp, n_docs, keep_doc, dup_docs) where keep_doc is the smallest id
    and dup_docs the others, ascending. One groupBy on md5 fingerprints.
    """
    fp = fingerprint(docs, id_col=id_col, text_col=text_col)
    return _dup_groups(fp, "fp", id_col)


def canonical_url(col) -> Column:
    """Canonical form of a web URL for URL-level dedup: lowercase, strip
    the scheme, a leading ``www.``, everything from the first ``?`` or
    ``#`` (query/fragment), and a trailing slash. Pure built-in regex
    chain — whole-stage codegen, and the same four regexes replay
    verbatim in the DuckDB oracle. (A production pipeline adds
    tracking-param stripping and IDN normalization; those are
    site-policy, not engine, concerns.)"""
    c = F.lower(col)
    c = F.regexp_replace(c, "^https?://", "")
    c = F.regexp_replace(c, "^www\\.", "")
    c = F.regexp_replace(c, "[?#].*$", "")
    return F.regexp_replace(c, "/$", "")


def url_dedup(docs: DataFrame, url_col: str = "url",
              id_col: str = "doc_id") -> DataFrame:
    """URL-level dedup groups — the FIRST pass a Common-Crawl-style
    pipeline runs (cheaper than any content hash; CC itself is ~25%
    same-URL recrawls). -> (canonical, n_docs, keep_doc, dup_docs),
    keep_doc the smallest id. Same single hash-groupBy shape as
    exact_dedup: only (canonical, id) pairs shuffle, never pages."""
    return _dup_groups(
        docs.select(
            canonical_url(F.col(url_col)).alias("canonical"), F.col(id_col)
        ),
        "canonical",
        id_col,
    )


def latest_snapshot(
    docs: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    id_col: str = "doc_id",
) -> DataFrame:
    """Snapshot resolution for re-crawled pages: per canonical URL keep
    the LATEST crawl (max ``ts_col``; ties broken by max ``id_col`` so
    the winner is deterministic). This is the ingest-time complement of
    url_dedup — url_dedup keeps the first id (cheapest stable pick for
    dedup bookkeeping), latest_snapshot keeps the newest content (what a
    training corpus actually wants from a crawl with a ``warc_ts``
    column).

    -> (canonical, n_snapshots, keep_doc, latest_ts).

    100 TB shape: one hash-groupBy carrying a single (ts, id) struct
    max per group — map-side combined, constant state per key; neither
    page text nor the loser rows ever shuffle."""
    best = F.max(F.struct(F.col(ts_col), F.col(id_col))).alias("best")
    return (
        docs.select(
            canonical_url(F.col(url_col)).alias("canonical"),
            F.col(ts_col), F.col(id_col),
        )
        .groupBy("canonical")
        .agg(F.count("*").alias("n_snapshots"), best)
        .select(
            "canonical",
            "n_snapshots",
            F.col(f"best.{id_col}").alias("keep_doc"),
            F.col(f"best.{ts_col}").alias("latest_ts"),
        )
    )


def line_dedup(
    docs: DataFrame,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """Corpus-level line deduplication (the C4 / CCNet / RefinedWeb
    boilerplate pass): a line occurring >= ``min_count`` times across the
    corpus is kept only at its FIRST occurrence (lexicographically
    smallest (doc_id, position)) and dropped everywhere else — cookie
    banners, nav menus, copyright footers.

    -> (doc_id, n_lines, n_kept, text_dedup) with surviving lines
    rejoined in original order.

    100 TB shape: two narrow shuffles and NO full-text reshuffle —
    (1) exploded (line, doc, pos) triples groupBy line (map-side
    combined) to get count + argmin-first; (2) only rows whose line IS
    duplicated join back (inner join against the dup-lines subset, which
    is the boilerplate minority) to produce a per-doc drop-position
    list; the document table itself is joined on doc_id and filtered
    in-row by position, so full document text never leaves its
    partition. At petabyte scale you'd xxhash64 the line before the
    groupBy (index/xxh64.py) — exact strings kept here so the DuckDB
    oracle replays byte-for-byte (same note as decontam)."""
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")
    if "\\E" in sep:
        raise ValueError("sep must not contain the regex literal-quote end \\E")
    # F.split takes a REGEX; \Q...\E quotes the separator so regex
    # metacharacters ('|', '.', tabs) split literally, matching the
    # literal concat_ws rejoin below
    d = docs.select(
        id_col, F.split(F.col(text_col), "\\Q" + sep + "\\E").alias("lines")
    )
    lines = d.select(
        id_col, F.posexplode("lines").alias("pos", "line")
    )
    dup_stats = (
        lines.groupBy("line")
        .agg(
            F.count("*").alias("cnt"),
            F.min(F.struct(id_col, "pos")).alias("first"),
        )
        .filter(F.col("cnt") >= min_count)
    )
    drops = (
        lines.join(dup_stats, "line")
        .filter(
            F.struct(F.col(id_col), F.col("pos")) != F.col("first")
        )
        .groupBy(id_col)
        .agg(F.collect_list("pos").alias("drop_pos"))
    )
    keep = F.filter(
        "lines",
        lambda x, i: ~F.array_contains(F.col("drop_pos"), i),
    )
    return (
        d.join(drops, id_col, "left")
        .withColumn(
            "drop_pos",
            F.coalesce(F.col("drop_pos"), F.array().cast("array<int>")),
        )
        .select(
            id_col,
            F.size("lines").cast("long").alias("n_lines"),
            (F.size("lines") - F.size("drop_pos")).cast("long").alias("n_kept"),
            F.concat_ws(sep, keep).alias("text_dedup"),
        )
    )


def shingle_sets(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                 n: int = 8) -> DataFrame:
    """(doc_id, shingle) exploded distinct n-gram shingles."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(_shingle_col(text_col, n)).alias("shingle"),
    )


def jaccard_pairs(
    shingles: DataFrame,
    threshold: float = 0.8,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard over shingle sets -> (doc_a, doc_b, jaccard ≥ t).

    ``shingles`` is (doc_id, shingle) with distinct rows per doc. When
    ``candidates`` (doc_a, doc_b) is given — e.g. from LSH — the shingle
    self-join is replaced by a semi-join-restricted verify (the scale
    path); otherwise all co-shingled pairs are considered (oracle path).
    """
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("sz"))
    probe = shingles
    if candidates is not None:
        # scale path: the self-join only ever sees candidate docs
        cand_docs = (
            candidates.select(F.col("doc_a").alias("doc_id"))
            .unionByName(candidates.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        probe = shingles.join(F.broadcast(cand_docs), "doc_id", "left_semi")
    a = probe.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = probe.select(F.col("doc_id").alias("doc_b"), "shingle")
    pairs = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("common"))
    )
    if candidates is not None:
        pairs = pairs.join(
            candidates.select("doc_a", "doc_b"), ["doc_a", "doc_b"], "left_semi"
        )
    sz_a = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    return (
        pairs.join(sz_a, "doc_a")
        .join(sz_b, "doc_b")
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs (oracle-sized)."""
    docs = ensure_parallelism(docs)
    return jaccard_pairs(shingle_sets(docs, id_col, text_col, n), threshold)


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def _hash_seeds(num_hashes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.integers(0, 1 << 64, size=num_hashes, dtype=np.uint64)


_M1 = np.uint64(0xBF58476D1CE4E5B9)
_M2 = np.uint64(0x94D049BB133111EB)


def _mix64(v: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — full-avalanche 64-bit mix, native uint64
    (multiplication wraps mod 2^64 by construction). A plain
    (a·h+b) mod p family is NOT usable here: with p >> max(h) it barely
    wraps, stays near-monotonic in h, and the per-function minimum is
    then dominated by the globally smallest base hash — which destroys
    the P(min_a == min_b) = Jaccard property MinHash relies on."""
    v = (v ^ (v >> np.uint64(30))) * _M1
    v = (v ^ (v >> np.uint64(27))) * _M2
    return v ^ (v >> np.uint64(31))


def _base_hash(shingle: str) -> int:
    """Deterministic 64-bit shingle hash (blake2b truncated)."""
    return int.from_bytes(
        hashlib.blake2b(shingle.encode(), digest_size=8).digest(), "big"
    )


def _minhash_mins(base: np.ndarray, seeds: np.ndarray,
                  offsets: np.ndarray, chunk: int = 16) -> np.ndarray:
    """Per-row-segment minima of mix64(base ^ seed) -> (n_rows, H).

    Chunked over hash functions with preallocated buffers and in-place
    ops: the naive (H, N) broadcast allocates ~8 full-size temporaries
    per op and becomes memory-bandwidth-bound when 32 workers run it
    concurrently; a (chunk, N) working set stays in cache. Bit-identical
    to _mix64 (regression-tested)."""
    h_all, n = len(seeds), len(base)
    out = np.empty((len(offsets), h_all), dtype=np.int64)
    tmp = np.empty((chunk, n), dtype=np.uint64)
    sh = np.empty_like(tmp)
    s30, s27, s31 = np.uint64(30), np.uint64(27), np.uint64(31)
    for h0 in range(0, h_all, chunk):
        h1 = min(h0 + chunk, h_all)
        t, s = tmp[: h1 - h0], sh[: h1 - h0]
        np.bitwise_xor(base[None, :], seeds[h0:h1, None], out=t)
        np.right_shift(t, s30, out=s)
        np.bitwise_xor(t, s, out=t)
        np.multiply(t, _M1, out=t)
        np.right_shift(t, s27, out=s)
        np.bitwise_xor(t, s, out=t)
        np.multiply(t, _M2, out=t)
        np.right_shift(t, s31, out=s)
        np.bitwise_xor(t, s, out=t)
        out[:, h0:h1] = np.minimum.reduceat(t, offsets, axis=1).T.astype(np.int64)
    return out


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    num_hashes: int = DEFAULT_NUM_HASHES,
    seed: int = 42,
) -> DataFrame:
    """(doc_id, sig array<long>) — num_hashes MinHash values per doc.

    Docs with no shingles (fewer than n tokens) are dropped (they cannot
    collide meaningfully).
    """
    seeds = _hash_seeds(num_hashes, seed)

    # mapInPandas, not a scalar pandas_udf: chaining select(udf) with a
    # filter on the udf output makes Catalyst re-evaluate the (expensive)
    # input expression several times — one explicit pass computes
    # shingles→signatures once and drops empty rows inside the kernel.
    # Shingling happens HERE (cheap python string joins in the same batch
    # loop) so the Arrow transfer carries tokens once, not 8× duplicated
    # shingle strings.
    def sig_fn(batches):
        join = " ".join
        for pdf in batches:
            shingle_sets_b = [
                list(dict.fromkeys(
                    join(t[i:i + n]) for i in range(len(t) - n + 1)
                )) if t is not None and len(t) >= n else []
                for t in pdf["tokens"]
            ]
            lens = np.fromiter(
                (len(a) for a in shingle_sets_b), dtype=np.int64,
                count=len(shingle_sets_b),
            )
            nz = lens > 0
            if not nz.any():
                continue
            flat = [s for a in shingle_sets_b for s in a]
            # batch-vectorized: hash every shingle in the batch once,
            # then per-row minima via minimum.reduceat
            base = np.fromiter(
                (_base_hash(s) for s in flat), dtype=np.uint64, count=len(flat)
            )
            offsets = np.zeros(int(nz.sum()), dtype=np.int64)
            np.cumsum(lens[nz][:-1], out=offsets[1:])
            mins = _minhash_mins(base, seeds, offsets)  # (n_nonempty, H)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].values[nz], "sig": list(mins)}
            )

    return docs.select(
        F.col(id_col).alias("doc_id"),
        tokenize_col(F.col(text_col)).alias("tokens"),
    ).mapInPandas(sig_fn, schema="doc_id long, sig array<long>")


def lsh_candidates(
    signatures: DataFrame,
    bands: int = DEFAULT_BANDS,
    max_bucket: int | None = None,
) -> DataFrame:
    """Band the signatures, bucket-join, emit candidate (doc_a, doc_b).

    Shuffle payload is (band_id, band_hash, doc_id) only. Pairs come
    from a SELF-JOIN on (band_id, band_hash) — never a groupBy+collect:
    a degenerate bucket (mass near-identical docs) under collect_list
    concentrates its m² pair expansion in one task and one giant array
    row, and AQE cannot split a grouped row. The equi-join form keeps
    the same output while letting AQE's skew-join split oversized
    buckets across tasks. ``max_bucket`` (optional) drops buckets larger
    than the cap — explicit recall loss for adversarial inputs; the
    intended guard for mass EXACT duplicates is collapsing them before
    signatures (see ``minhash_lsh_dedup``).
    """
    sig_len_row = signatures.select(F.size("sig").alias("n")).head()
    if sig_len_row is None:
        return local_frame(
            signatures.sparkSession, [], "doc_a long, doc_b long"
        )
    rows_per_band = max(1, sig_len_row["n"] // bands)

    banded = signatures.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda i: F.xxhash64(
                    F.slice("sig", i * rows_per_band + 1, rows_per_band)
                ),
            )
        ).alias("band_id", "band_hash"),
    )
    if max_bucket is not None:
        ok = (
            banded.groupBy("band_id", "band_hash")
            .agg(F.count("*").alias("bsz"))
            .filter(F.col("bsz") <= max_bucket)
            .select("band_id", "band_hash")
        )
        banded = banded.join(ok, ["band_id", "band_hash"], "left_semi")
    a = banded.select("band_id", "band_hash", F.col("doc_id").alias("doc_a"))
    b = banded.select("band_id", "band_hash", F.col("doc_id").alias("doc_b"))
    return (
        a.join(b, ["band_id", "band_hash"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def minhash_lsh_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    threshold: float = 0.8,
    seed: int = 42,
    collapse_exact: bool = True,
) -> DataFrame:
    """MinHash→LSH→exact-verify near-dup pairs (doc_a, doc_b, jaccard).

    At threshold 0.8 with 128 hashes / 32 bands of 4 the candidate recall
    is ≈1, so the verified output matches exact ``ngram_jaccard_pairs``
    computed over the exact-duplicate REPRESENTATIVES (see
    ``collapse_exact`` below — with ``collapse_exact=False`` it matches
    the all-docs ``ngram_jaccard_pairs``), while scaling linearly in
    corpus size.

    ``collapse_exact`` (default on) first collapses byte-identical docs
    to their min-id representative: a mass-duplicated page (the normal
    adversary of web dedup) would otherwise put m identical signatures
    into every band bucket and force an m² candidate expansion that no
    skew handling can shrink. Exact-dup groups are already the output of
    ``exact_dedup`` — re-emitting their member×member pairs here would
    itself be quadratic, so near-dup pairs are reported BETWEEN
    representatives; consumers union with ``exact_dedup`` groups for
    full lineage.
    """
    docs = ensure_parallelism(docs)
    if collapse_exact:
        fps = fingerprint(docs, id_col=id_col, text_col=text_col)
        reps = fps.groupBy("fp").agg(F.min(id_col).alias(id_col)).select(id_col)
        docs = docs.join(reps, id_col, "left_semi")
    sigs = minhash_signatures(docs, id_col, text_col, n, num_hashes, seed)
    # uncached: caching both inputs timed within run-to-run spread
    return jaccard_pairs(
        shingle_sets(docs, id_col, text_col, n), threshold,
        candidates=lsh_candidates(sigs, bands),
    )


# ---------------------------------------------------------------------------
# Winnowing (rolling-hash document fingerprints)
# ---------------------------------------------------------------------------

def _winnow_hash(gram: str) -> int:
    """60-bit k-gram hash from md5 — DuckDB recomputes it exactly as
    ('0x' || substring(md5(gram), 1, 15))::BIGINT (15 hex chars keep the
    value inside signed 64-bit for both engines)."""
    return int(hashlib.md5(gram.encode()).hexdigest()[:15], 16)


def winnow_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Winnowing (the MOSS fingerprinting scheme): hash every token
    k-gram with a rolling window of hashes; each window of ``w``
    consecutive k-gram hashes contributes its MINIMUM, and the distinct
    minima form the document's fingerprint set -> (doc_id, fp).

    Guarantees: any shared substring of ≥ w+k-1 tokens between two docs
    yields ≥ 1 shared fingerprint — the candidate-generation property
    plagiarism/near-dup detection relies on. Docs with fewer than w
    windows contribute the min over all their k-gram hashes; docs with
    < k tokens contribute nothing.

    Kernel shape: one mapInPandas pass, numpy sliding-window minima
    (stride tricks) — no per-row Python beyond the md5 digest loop,
    mirroring the MinHash signature kernel.
    """
    def fp_fn(batches):
        from numpy.lib.stride_tricks import sliding_window_view

        join = " ".join
        for pdf in batches:
            ids_out, fps_out = [], []
            for doc_id, toks in zip(pdf["doc_id"], pdf["tokens"]):
                if toks is None or len(toks) < k:
                    continue
                grams = [join(toks[i:i + k]) for i in range(len(toks) - k + 1)]
                h = np.fromiter(
                    (_winnow_hash(g) for g in grams), dtype=np.int64,
                    count=len(grams),
                )
                if len(h) >= w:
                    mins = sliding_window_view(h, w).min(axis=1)
                else:
                    mins = h.min(keepdims=True)
                fps = np.unique(mins)
                ids_out.append(np.full(len(fps), doc_id, dtype=np.int64))
                fps_out.append(fps)
            if ids_out:
                yield pd.DataFrame(
                    {
                        "doc_id": np.concatenate(ids_out),
                        "fp": np.concatenate(fps_out),
                    }
                )

    return docs.select(
        F.col(id_col).alias("doc_id"),
        tokenize_col(F.col(text_col)).alias("tokens"),
    ).mapInPandas(fp_fn, schema="doc_id long, fp long")


def winnow_candidates(
    fingerprints: DataFrame, max_fp_freq: int | None = 1000
) -> DataFrame:
    """Docs sharing ≥ 1 winnowing fingerprint -> (doc_a, doc_b,
    n_shared). Equi-join on fp — the same bucketed no-cross-join shape
    as LSH candidate generation.

    ``max_fp_freq`` drops fingerprints shared by more than that many
    docs before pairing: a boilerplate k-gram (navbars, licence
    headers) appearing in m docs would emit m² pairs for that single
    fp — and a fingerprint that common carries no near-dup signal
    anyway (the standard winnowing-dedup stopword analogue). Pass None
    to disable."""
    if max_fp_freq is not None:
        rare = (
            fingerprints.groupBy("fp")
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") <= max_fp_freq)
            .select("fp")
        )
        fingerprints = fingerprints.join(rare, "fp", "left_semi")
    a = fingerprints.select(F.col("doc_id").alias("doc_a"), "fp")
    b = fingerprints.select(F.col("doc_id").alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 64
# token budget per vectorized chunk: bounds the (tokens × 64) int32 vote
# matrix at ~50 MB regardless of Arrow batch row count
_SIMHASH_CHUNK_TOKENS = 200_000


def _simhash_term_hash(term: str) -> int:
    """64-bit term hash = first 16 hex chars of md5 — chosen because the
    DuckDB oracle recomputes it exactly as
    ('0x' || substring(md5(term), 1, 16))::UBIGINT, making the whole
    SimHash bit-for-bit verifiable cross-engine."""
    return int(hashlib.md5(term.encode()).hexdigest()[:16], 16)


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, simhash long) — 64-bit SimHash over token frequencies.

    Batch-vectorized (no per-row Python over tokens): each chunk hashes
    its UNIQUE terms once, expands per-token ±1 bit votes through the
    unique-inverse index, and reduces per row with add.reduceat — the
    same shape as the MinHash signature kernel. tf weighting falls out of
    iterating tokens rather than unique terms."""
    shifts = np.arange(SIMHASH_BITS, dtype=np.uint64)

    def fp_chunk(toks_list) -> np.ndarray:
        lens = np.fromiter(
            (len(t) for t in toks_list), dtype=np.int64, count=len(toks_list)
        )
        fps = np.zeros(len(toks_list), dtype=np.uint64)
        flat = [s for t in toks_list for s in t]
        if not flat:
            return fps.view(np.int64)
        uniq, inv = np.unique(np.asarray(flat, dtype=object), return_inverse=True)
        h = np.fromiter(
            (_simhash_term_hash(s) for s in uniq), dtype=np.uint64,
            count=len(uniq),
        )
        bits = ((h[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int32)
        contrib = (2 * bits - 1)[inv]                    # (n_tokens, 64) ±1
        nz = lens > 0
        offsets = np.zeros(int(nz.sum()), dtype=np.int64)
        np.cumsum(lens[nz][:-1], out=offsets[1:])
        votes = np.add.reduceat(contrib, offsets, axis=0)
        fp_bits = (votes > 0).astype(np.uint64)
        fps[nz] = (fp_bits << shifts[None, :]).sum(axis=1)
        return fps.view(np.int64)                        # two's-complement

    def fp_fn(batches):
        for pdf in batches:
            toks_list = [t if t is not None else [] for t in pdf["tokens"]]
            if not toks_list:
                continue
            out_parts, ids_parts = [], []
            i = 0
            while i < len(toks_list):
                j, tok_budget = i, 0
                while j < len(toks_list) and tok_budget < _SIMHASH_CHUNK_TOKENS:
                    tok_budget += len(toks_list[j])
                    j += 1
                out_parts.append(fp_chunk(toks_list[i:j]))
                ids_parts.append(pdf["doc_id"].values[i:j])
                i = j
            yield pd.DataFrame(
                {
                    "doc_id": np.concatenate(ids_parts),
                    "simhash": np.concatenate(out_parts),
                }
            )

    return docs.select(
        F.col(id_col).alias("doc_id"),
        tokenize_col(F.col(text_col)).alias("tokens"),
    ).mapInPandas(fp_fn, schema="doc_id long, simhash long")


def simhash_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    chunks: int | None = None,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ max_hamming — EXACT.

    Candidate generation by the pigeonhole trick: split the 64-bit print
    into ``chunks`` equal pieces; any pair within distance ≤ chunks-1
    agrees on ≥1 piece, so an equi-join per piece finds all candidates —
    no cross join anywhere. Verify with bit_count(xor). ``chunks``
    defaults to the smallest power-of-two ≥ max_hamming+1 so the
    pigeonhole guarantee actually covers the requested radius (4 pieces
    with max_hamming=6 would silently drop pairs at distance 4-6).
    """
    if chunks is None:
        chunks = 2
        while chunks - 1 < max_hamming:
            chunks *= 2
    if chunks - 1 < max_hamming or SIMHASH_BITS % chunks:
        raise ValueError(f"chunks={chunks} cannot cover max_hamming={max_hamming}")
    fp = simhash(docs, id_col, text_col)
    width = SIMHASH_BITS // chunks
    pieces_arr = F.array(
        *[
            F.shiftrightunsigned("simhash", i * width).bitwiseAND(
                F.lit((1 << width) - 1)
            )
            for i in range(chunks)
        ]
    )
    pieces = fp.select(
        "doc_id",
        "simhash",
        F.posexplode(pieces_arr).alias("piece_id", "piece"),
    )
    a = pieces.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"),
        "piece_id", "piece",
    )
    b = pieces.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"),
        "piece_id", "piece",
    )
    return (
        a.join(b, ["piece_id", "piece"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sh_a", "sh_b")
        .distinct()
        .withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


# ---------------------------------------------------------------------------
# Duplicate clustering: pairs -> connected components -> canonical survivor
# ---------------------------------------------------------------------------

def duplicate_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iters: int = 50,
) -> DataFrame:
    """(doc_id, component) for every doc appearing in ``pairs``;
    component = MIN doc id reachable through the pair graph — the
    deterministic canonical representative every dedup pipeline needs
    after pair generation (a dup CHAIN a-b, b-c must collapse to one
    survivor even though (a, c) was never emitted as a pair).

    Min-label propagation: each round every node takes the min label
    among itself and its neighbors; converges in O(component diameter)
    rounds, and near-dup components are shallow (dup chains, not long
    paths). Only docs that APPEAR IN PAIRS enter the label table — the
    corpus-sized side never joins in — and each round is one equi-join +
    one groupBy on that small set, with a driver-side converged check.
    Each iteration's result is `localCheckpoint`ed: iterative DataFrame
    algorithms MUST cut lineage per round or the logical plan grows
    with the iteration count until planning itself OOMs (measured: a
    40-round run died building the plan STRING). On a cluster where
    executor loss matters, swap in reliable `checkpoint()` with a
    checkpoint dir. At extreme component sizes the alternating
    small-star/large-star rewrite bounds rounds at O(log n); not needed
    at near-dup pair-graph shapes, noted so nobody rediscovers it at
    scale-up.
    """
    if max_iters < 1:
        raise ValueError(f"max_iters must be >= 1, got {max_iters}")
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(
            pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
        )
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("node")).distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    converged = False
    for _ in range(max_iters):
        nbr = edges.join(
            labels.select(
                F.col("node").alias("src"), F.col("label").alias("nlabel")
            ),
            "src",
        ).select(F.col("dst").alias("node"), F.col("nlabel").alias("label"))
        new = (
            labels.unionByName(nbr)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint()   # lineage cut — see docstring
        )
        changed = (
            new.join(
                labels.select("node", F.col("label").alias("old")), "node"
            )
            .filter(F.col("label") < F.col("old"))
            .count()
        )
        # rebinding drops the only reference to the superseded
        # checkpoint; CPython refcounting releases the JVM handle
        # immediately and ContextCleaner unpersists its blocks, so
        # storage stays O(1) label-table copies across iterations
        labels = new
        if changed == 0:
            converged = True
            break
    if not converged:
        # returning split components here would SILENTLY leak
        # duplicates through dedup_survivors — refuse instead
        raise RuntimeError(
            f"duplicate_components did not converge in {max_iters} "
            f"iterations ({changed} labels still changing): a component "
            f"diameter exceeds max_iters. Raise max_iters, or switch to "
            f"the small-star/large-star O(log n) variant for adversarial "
            f"graph shapes."
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("component")
    )


def dedup_survivors(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """Keep exactly one doc per duplicate component (the min id) plus
    every doc with no duplicate pair — the standard post-dedup corpus.
    The anti-join side is (dup docs − survivors), bounded by the pair
    graph, never the corpus."""
    comps = duplicate_components(pairs, a_col, b_col)
    losers = comps.filter(F.col("doc_id") != F.col("component")).select(
        F.col("doc_id").alias(id_col)
    )
    return docs.join(losers, id_col, "left_anti")
