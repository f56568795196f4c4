"""Similarity search over an embedding column (array<float>).

Two paths:
- ``cosine_topk``      — exact brute-force top-k, built-in column algebra
  only (F.zip_with dot product + F.aggregate norms, deterministic left
  fold so the DuckDB oracle's sequential sum matches bit-for-bit-ish).
- ``cosine_topk_lsh``  — random-hyperplane LSH bucketing: each vector is
  signed against H fixed hyperplanes → a bucket code; probes search only
  their own bucket plus ``probe_bits``-hamming neighbor buckets. The scan
  side shuffles once on bucket code; probe side is broadcast.
- ``embedding_near_dup`` — all-pairs cosine ≥ t via BANDED sign-LSH
  (OR over bands of planes — the minhash-banding shape; a single band
  has ~zero recall at any usable threshold, measured in r3).

At 100 TB the brute path is a single broadcast-join + window (no shuffle
of the big side beyond the top-k agg); the LSH path prunes the scan by
bucket equality — partition pruning if the table is written bucketed by
code.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..util import local_frame


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine_similarity_col(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(
    embeddings: DataFrame,
    probes: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
) -> DataFrame:
    """Exact top-k neighbors for each probe.

    probes(probe_id, embedding) is tiny → broadcast; the big embeddings
    table is scanned once, never shuffled before the per-probe top-k agg.
    Self-matches (same id) are excluded. Order: (cos desc, vec_id asc).
    """
    p = probes.select(
        F.col(probe_id_col).alias("probe_id"), F.col(vec_col).alias("p_vec")
    )
    scored = (
        embeddings.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec"))
        .join(F.broadcast(p), F.col("vec_id") != F.col("probe_id"))
        .withColumn("cos", cosine_similarity_col(F.col("p_vec"), F.col("vec")))
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "vec_id", "rank", "cos")
    )


# ---------------------------------------------------------------------------
# Random-hyperplane LSH
# ---------------------------------------------------------------------------

def hyperplanes(dim: int, n_planes: int = 16, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).astype(np.float64)


def hyperplanes_md5pm1(dim: int, n_planes: int = 12) -> np.ndarray:
    """±1 random-projection planes derived from md5 parity:
    w[j, d] = +1 iff the first hex digit of md5(f"{j}:{d}") is odd.

    A ±1 family is a standard sign-random-projection LSH; deriving it
    from md5 makes the bucketing recomputable in ANSI SQL
    (('0x' || substring(md5(j || ':' || d), 1, 1))::INT % 2), which is
    what gives the LSH contract entry a value-level DuckDB oracle."""
    import hashlib

    w = np.empty((n_planes, dim), dtype=np.float64)
    for j in range(n_planes):
        for d in range(dim):
            bit = int(hashlib.md5(f"{j}:{d}".encode()).hexdigest()[0], 16) & 1
            w[j, d] = 1.0 if bit else -1.0
    return w


def bucket_code_col(vec_col, planes: np.ndarray, score_round: int | None = None):
    """Sign-pattern bucket code as a long column — built-ins only:
    code = Σ_i [dot(vec, plane_i) > 0] << i. ``score_round`` rounds each
    dot product before the sign test so a cross-engine oracle whose
    summation order differs cannot flip a near-zero sign."""
    code = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(float(x)) for x in plane])
        d = _dot(vec_col, lit_plane)
        if score_round is not None:
            d = F.round(d, score_round)
        code = code + F.when(d > 0, F.lit(1 << i)).otherwise(0)
    return code


# Above this many planes/centroids the literal-column path (one
# generated array literal per plane/centroid) explodes the Catalyst
# plan — a 4k-centroid codebook would be 4k generated expressions
# (VERDICT r3 watch-item). Past it, the codebook rides into the tasks
# as a captured numpy matrix (serialized once with the function — the
# broadcast-variable pattern without the sc handle) and the argmax /
# sign kernel is ONE matmul per Arrow batch.
LITERAL_CODEBOOK_MAX = 64


def _plus_bucket_schema(df: DataFrame, kind: str):
    """df's schema + a bucket column — built FRESH: StructType.add
    mutates in place, and df.schema hands back the DataFrame's cached
    instance, so .add() would poison the source DataFrame's own
    column list."""
    from pyspark.sql import types as T

    t = T.LongType() if kind == "long" else T.IntegerType()
    return T.StructType(
        list(df.schema.fields) + [T.StructField("bucket", t)]
    )


def _matrix_bucket_fn(mat: np.ndarray, vec_col: str,
                      score_round: int | None, kind: str):
    """mapInPandas kernel: kind='signs' → banded sign code (long),
    kind='argmax' → nearest-centroid index (int). Tie-breaking matches
    the literal path exactly: argmax ties pick the HIGHEST index (the
    array_max-over-struct semantics)."""
    C = np.ascontiguousarray(mat, dtype=np.float64)

    def fn(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.asarray(pdf[vec_col].to_list(), dtype=np.float64)
            S = V @ C.T
            if score_round is not None:
                S = np.round(S, score_round)
            if kind == "signs":
                bits = (S > 0).astype(np.int64)
                code = (bits << np.arange(C.shape[0], dtype=np.int64)).sum(
                    axis=1
                )
                yield pdf.assign(bucket=pd.Series(code, index=pdf.index))
            else:
                idx = C.shape[0] - 1 - np.argmax(S[:, ::-1], axis=1)
                yield pdf.assign(
                    bucket=pd.Series(idx.astype(np.int32), index=pdf.index)
                )

    return fn


def with_bucket(
    embeddings: DataFrame,
    planes: np.ndarray,
    vec_col: str = "embedding",
    score_round: int | None = None,
    max_literal: int = LITERAL_CODEBOOK_MAX,
) -> DataFrame:
    if len(planes) <= max_literal:
        return embeddings.withColumn(
            "bucket", bucket_code_col(F.col(vec_col), planes, score_round)
        )
    if len(planes) > 63:
        raise ValueError("sign codes are packed into a long: <= 63 planes")
    return embeddings.mapInPandas(
        _matrix_bucket_fn(planes, vec_col, score_round, "signs"),
        schema=_plus_bucket_schema(embeddings, "long"),
    )


def _neighbor_codes(code: int, n_planes: int, probe_bits: int) -> list:
    """All codes within hamming distance ≤ probe_bits (probe_bits ≤ 2)."""
    out = {code}
    if probe_bits >= 1:
        for i in range(n_planes):
            out.add(code ^ (1 << i))
    if probe_bits >= 2:
        for i in range(n_planes):
            for j in range(i + 1, n_planes):
                out.add(code ^ (1 << i) ^ (1 << j))
    return sorted(out)


def cosine_topk_lsh(
    embeddings: DataFrame,
    probes: DataFrame,
    k: int = 10,
    n_planes: int = 12,
    probe_bits: int = 1,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
    planes: np.ndarray | None = None,
    score_round: int | None = None,
    rank_round: int | None = None,
) -> DataFrame:
    """Approximate top-k: score only vectors whose bucket is within
    ``probe_bits`` sign flips of the probe's bucket (multi-probe LSH).

    Pass ``planes`` (e.g. ``hyperplanes_md5pm1``) + ``score_round`` +
    ``rank_round`` to make the whole computation reproducible in a SQL
    oracle; default planes are seeded Gaussian."""
    if planes is None:
        dim = len(embeddings.select(vec_col).head()[0])
        planes = hyperplanes(dim, n_planes, seed)
    n_planes = len(planes)

    base = with_bucket(
        embeddings.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec")),
        planes,
        "vec",
        score_round,
    )
    p = with_bucket(
        probes.select(
            F.col(probe_id_col).alias("probe_id"), F.col(vec_col).alias("p_vec")
        ),
        planes,
        "p_vec",
        score_round,
    )
    n_codes = F.udf(
        lambda c: _neighbor_codes(c, n_planes, probe_bits), "array<long>"
    )  # driver-tiny probe side only — never on the scan path
    p = p.select(
        "probe_id", "p_vec", F.explode(n_codes("bucket")).alias("bucket")
    )
    scored = (
        base.join(F.broadcast(p), "bucket")
        .filter(F.col("vec_id") != F.col("probe_id"))
        .withColumn("cos", cosine_similarity_col(F.col("p_vec"), F.col("vec")))
    )
    sort_cos = (
        F.round("cos", rank_round) if rank_round is not None else F.col("cos")
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc(sort_cos), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "vec_id", "rank", "cos")
    )


def cosine_pairs_exact(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold (oracle-sized; the LSH-bucketed
    ``embedding_near_dup`` is the scale path for high thresholds)."""
    a = embeddings.select(
        F.col(id_col).alias("doc_a"), F.col(vec_col).alias("vec_a")
    )
    b = embeddings.select(
        F.col(id_col).alias("doc_b"), F.col(vec_col).alias("vec_b")
    )
    return (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .withColumn("cos", cosine_similarity_col(F.col("vec_a"), F.col("vec_b")))
        .filter(F.col("cos") >= threshold)
        .select("doc_a", "doc_b", "cos")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: seeded centroids, argmax assignment, multi-probe
# ---------------------------------------------------------------------------

def ivf_centroids(dim: int, n_centroids: int = 16, seed: int = 42) -> np.ndarray:
    """Deterministic unit-norm centroids (seeded Gaussian). A trained
    k-means codebook drops in here without touching the query path."""
    rng = np.random.default_rng(seed + 1)
    c = rng.standard_normal((n_centroids, dim))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def _centroid_scores(vec_col, centroids: np.ndarray,
                     score_round: int | None = None):
    """array<struct<s double, i int>> of dot products per centroid."""
    entries = []
    for i, c in enumerate(centroids):
        lit_c = F.array(*[F.lit(float(x)) for x in c])
        s = _dot(vec_col, lit_c)
        if score_round is not None:
            s = F.round(s, score_round)
        entries.append(F.struct(s.alias("s"), F.lit(i).alias("i")))
    return F.array(*entries)


def with_ivf_bucket(
    embeddings: DataFrame, centroids: np.ndarray, vec_col: str = "vec",
    score_round: int | None = None,
    max_literal: int = LITERAL_CODEBOOK_MAX,
) -> DataFrame:
    """bucket = argmax_i dot(v, centroid_i) — struct array_max compares
    by score first, so the max struct carries the winning index (ties →
    highest index; the SQL oracle orders (s DESC, i DESC) to match).

    Codebooks above ``max_literal`` switch to the broadcast-matrix
    mapInPandas argmax (identical tie-breaking, rank-identity-tested):
    the literal path generates one array literal PER CENTROID, which
    explodes the Catalyst plan long before a production IVF codebook
    (4k-64k centroids) is reached."""
    if len(centroids) <= max_literal:
        return embeddings.withColumn(
            "bucket",
            F.array_max(
                _centroid_scores(F.col(vec_col), centroids, score_round)
            ).getField("i"),
        )
    return embeddings.mapInPandas(
        _matrix_bucket_fn(centroids, vec_col, score_round, "argmax"),
        schema=_plus_bucket_schema(embeddings, "int"),
    )


def ivf_train(
    embeddings: DataFrame,
    n_centroids: int = 16,
    iters: int = 5,
    seed: int = 42,
    vec_col: str = "embedding",
    init: np.ndarray | None = None,
    score_round: int | None = None,
    centroid_round: int | None = None,
    counts_out: dict | None = None,
) -> np.ndarray:
    """Distributed spherical k-means (Lloyd's) for the IVF codebook.

    Assignment reuses ``with_ivf_bucket`` — the query path's own argmax
    bucketing, so training and serving can never disagree on the
    assignment rule. The recompute is ONE groupBy per iteration with
    per-dimension partial sums: map-side combine means only
    n_centroids × (dim + 1) doubles cross the wire regardless of corpus
    size, and the scan side never shuffles vectors. Centroids are
    L2-normalized each step (spherical variant — the right objective for
    the dot-product assignment); empty clusters keep their previous
    centroid. ``counts_out``: if given, filled with the final
    iteration's per-bucket vector counts. The result drops into
    ``cosine_topk_ivf(centroids=...)``.

    ``centroid_round``: round every centroid coordinate after each
    update — with ``score_round`` this makes the WHOLE multi-iteration
    trajectory replayable by a cross-engine SQL oracle (iteration k+1's
    assignments depend on iteration k's centroids, so without the
    rounding a last-ulp summation-order difference could diverge the
    trajectories).
    """
    if init is None:
        dim = len(embeddings.select(vec_col).head()[0])
        cents = ivf_centroids(dim, n_centroids, seed)
    else:
        cents = np.asarray(init, dtype=np.float64).copy()
    dim = cents.shape[1]
    base = embeddings.select(F.col(vec_col).alias("vec"))
    aggs = [F.count("*").alias("n")] + [
        F.sum(F.element_at("vec", i + 1).cast("double")).alias(f"s{i}")
        for i in range(dim)
    ]
    for _ in range(iters):
        assigned = with_ivf_bucket(base, cents, score_round=score_round)
        rows = assigned.groupBy("bucket").agg(*aggs).collect()
        new = cents.copy()
        if counts_out is not None:
            counts_out.clear()
        for r in rows:
            if counts_out is not None:
                counts_out[int(r["bucket"])] = int(r["n"])
            m = np.array(
                [r[f"s{i}"] for i in range(dim)], dtype=np.float64
            ) / float(r["n"])
            nrm = float(np.linalg.norm(m))
            if nrm > 0.0:
                new[r["bucket"]] = m / nrm
        cents = new
        if centroid_round is not None:
            cents = np.round(cents, centroid_round)
    return cents


def cosine_topk_ivf(
    embeddings: DataFrame,
    probes: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
    centroids: np.ndarray | None = None,
    score_round: int | None = None,
    rank_round: int | None = None,
) -> DataFrame:
    """Approximate top-k: scan side is assigned to its nearest centroid
    once (write-time partitioning at scale → partition pruning); each
    probe searches its ``nprobe`` nearest centroid lists.

    Pass ``centroids`` (e.g. fixed rows of the table itself — a
    deterministic "sample codebook" the SQL oracle can reconstruct) +
    ``score_round``/``rank_round`` for cross-engine value checks; a
    trained k-means codebook drops into the same parameter."""
    if centroids is None:
        dim = len(embeddings.select(vec_col).head()[0])
        centroids = ivf_centroids(dim, n_centroids, seed)

    base = with_ivf_bucket(
        embeddings.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec")),
        centroids,
        score_round=score_round,
    )
    p0 = probes.select(
        F.col(probe_id_col).alias("probe_id"), F.col(vec_col).alias("p_vec")
    )
    if len(centroids) <= LITERAL_CODEBOOK_MAX:
        p = p0.withColumn(
            "buckets",
            F.slice(
                F.reverse(
                    F.array_sort(
                        _centroid_scores(F.col("p_vec"), centroids, score_round)
                    )
                ),
                1,
                nprobe,
            ),
        ).select(
            "probe_id", "p_vec", F.explode("buckets.i").alias("bucket")
        )
    else:
        # big codebook: top-nprobe centroid lists via one matmul per
        # Arrow batch; tie order (s DESC, i DESC) matches the
        # reverse(array_sort(struct)) of the literal path
        C = np.ascontiguousarray(centroids, dtype=np.float64)

        def probe_fn(batches):
            import pandas as pd

            for pdf in batches:
                if len(pdf) == 0:
                    continue
                V = np.asarray(pdf["p_vec"].to_list(), dtype=np.float64)
                S = V @ C.T
                if score_round is not None:
                    S = np.round(S, score_round)
                n = C.shape[0]
                rows = []
                for r in range(len(pdf)):
                    order = np.lexsort((-np.arange(n), -S[r]))[:nprobe]
                    for b in order:
                        rows.append(
                            (pdf["probe_id"].iloc[r],
                             pdf["p_vec"].iloc[r], int(b))
                        )
                yield pd.DataFrame(
                    rows, columns=["probe_id", "p_vec", "bucket"]
                )

        from pyspark.sql import types as T

        schema = T.StructType([
            p0.schema["probe_id"],
            p0.schema["p_vec"],
            T.StructField("bucket", T.IntegerType()),
        ])
        p = p0.mapInPandas(probe_fn, schema=schema)
    scored = (
        base.join(F.broadcast(p), "bucket")
        .filter(F.col("vec_id") != F.col("probe_id"))
        .withColumn("cos", cosine_similarity_col(F.col("p_vec"), F.col("vec")))
    )
    sort_cos = (
        F.round("cos", rank_round) if rank_round is not None else F.col("cos")
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc(sort_cos), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "vec_id", "rank", "cos")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): compact codes + asymmetric-distance top-k
# ---------------------------------------------------------------------------
#
# The 100 TB memory story for ANN: a 64-dim float32 vector is 256 bytes;
# its PQ code (m subspaces × 1 byte) is m bytes — a 32× compression at
# m=8 that turns "the vectors don't fit" into "the codes fit in RAM".
# Queries never decompress: ADC (asymmetric distance computation) scores
# a coded vector as Σ_j LUT[j][code_j] where the per-query LUT holds the
# exact query-subvector↔codeword distances — one table of m×k doubles
# per query, computed once. Combine with `with_ivf_bucket` for the
# classic IVF-PQ layout (coarse lists → ADC within the probed lists).


def pq_split(dim: int, m: int) -> int:
    """Subspace width; PQ requires m to divide the dimension evenly."""
    if dim % m != 0:
        raise ValueError(f"m={m} must divide dim={dim}")
    return dim // m


def pq_codebooks_from_rows(rows: np.ndarray, m: int) -> np.ndarray:
    """(k, dim) sample rows → (m, k, dsub) codebooks: subspace j's
    codewords are the j-th slices of the SAME k rows. A deterministic
    'sample codebook' a SQL oracle can rebuild from the table itself —
    `pq_train` output drops into the same parameter."""
    rows = np.asarray(rows, dtype=np.float64)
    dsub = pq_split(rows.shape[1], m)
    return np.stack(
        [rows[:, j * dsub:(j + 1) * dsub] for j in range(m)], axis=0
    )


def _sqdist(a, b):
    """Left-fold Σ (x-y)² — the same op order as the numpy kernels'
    sequential last-axis sum, so literal and matrix paths agree."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _pq_encode_fn(codebooks: np.ndarray, vec_col: str,
                  score_round: int | None):
    """mapInPandas kernel: per Arrow batch, one (n, k) distance matrix
    per subspace; codes = argmin with ties → LOWEST index (np.argmin),
    matching the literal path's array_min-over-struct order."""
    C = np.ascontiguousarray(codebooks, dtype=np.float64)  # (m, k, dsub)
    m, _, dsub = C.shape

    def fn(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.asarray(pdf[vec_col].to_list(), dtype=np.float64)
            codes = np.empty((len(pdf), m), dtype=np.int32)
            for j in range(m):
                # dual-form via _coarse_l2: the (n × dsub × k) direct
                # temp is fine at oracle-checked codebook sizes but
                # ~GBs at e.g. dsub=64, k=256 (m=1 coarse training)
                D = _coarse_l2(V[:, j * dsub:(j + 1) * dsub], C[j])
                if score_round is not None:
                    D = np.round(D, score_round)
                codes[:, j] = np.argmin(D, axis=1)
            yield pdf.assign(
                codes=pd.Series(list(codes), index=pdf.index)
            )

    return fn


def pq_encode(
    embeddings: DataFrame,
    codebooks: np.ndarray,
    vec_col: str = "vec",
    score_round: int | None = None,
    max_literal: int = LITERAL_CODEBOOK_MAX,
) -> DataFrame:
    """Append ``codes`` (array<int>, length m): codes[j] = argmin_i of
    the squared L2 distance between the j-th subvector and codeword i
    (ties → lowest i). Codebooks with more than ``max_literal`` total
    codewords switch from literal column algebra to the broadcast-tensor
    mapInPandas kernel (rank-identity-tested against the literal path);
    ``score_round`` rounds distances before the argmin so a cross-engine
    oracle cannot flip a near-tie.

    Residual caveat (same family as _coarse_l2's cancellation note): at
    an EXACT decimal half boundary of ``score_round`` the two paths can
    disagree — the literal path rounds via Spark ``F.round`` (HALF_UP)
    while the kernel uses ``np.round`` (half-even). Real squared
    distances land on exact halves with probability ~0 and the
    rank-identity tests straddle the threshold without hitting one; we
    keep each side's native rounding because the oracle-checked literal
    path must match SQL ROUND and the kernel must match the numpy
    trainer, and forcing either onto the other would trade a
    theoretical tie for a real cross-engine mismatch."""
    codebooks = np.asarray(codebooks, dtype=np.float64)
    m, k, dsub = codebooks.shape
    if m * k > max_literal:
        from pyspark.sql import types as T

        schema = T.StructType(
            list(embeddings.schema.fields)
            + [T.StructField("codes", T.ArrayType(T.IntegerType()))]
        )
        return embeddings.mapInPandas(
            _pq_encode_fn(codebooks, vec_col, score_round), schema=schema
        )
    code_cols = []
    for j in range(m):
        sub = F.slice(F.col(vec_col), j * dsub + 1, dsub)
        entries = []
        for i in range(k):
            lit_c = F.array(*[F.lit(float(x)) for x in codebooks[j, i]])
            d = _sqdist(sub, lit_c)
            if score_round is not None:
                d = F.round(d, score_round)
            entries.append(F.struct(d.alias("s"), F.lit(i).alias("i")))
        # array_min on struct: min (s asc, then i asc) → ties pick LOWEST i
        code_cols.append(F.array_min(F.array(*entries)).getField("i"))
    return embeddings.withColumn("codes", F.array(*code_cols))


def pq_lut(probe_vec: np.ndarray, codebooks: np.ndarray,
           score_round: int | None = None) -> np.ndarray:
    """(m, k) BIGINT micro-unit LUT for one query: entry [j, i] =
    round(‖q_j − c_{j,i}‖² · 10⁶). Integer entries make the ADC sum
    EXACT — no cross-engine float-accumulation risk in the ranking."""
    C = np.asarray(codebooks, dtype=np.float64)
    m, _, dsub = C.shape
    q = np.asarray(probe_vec, dtype=np.float64)
    lut = np.empty(C.shape[:2], dtype=np.int64)
    for j in range(m):
        d = ((q[j * dsub:(j + 1) * dsub][None, :] - C[j]) ** 2).sum(axis=1)
        if score_round is not None:
            d = np.round(d, score_round)
        lut[j] = np.round(d * 1e6).astype(np.int64)
    return lut


def _probe_vec_df(spark, probe_rows):
    return local_frame(
        spark,
        [(r["probe_id"], [float(x) for x in r["p_vec"]])
         for r in probe_rows],
        "probe_id long, p_vec array<double>",
    )


def _adc_rank_topk(spark, coded, lut_df, k, on_bucket, refine,
                   probe_rows, source_e, score_round):
    """The ONE copy of the ADC tail every PQ surface shares (flat PQ,
    in-memory IVF-PQ, persisted IVF-PQ): broadcast the per-probe LUT
    rows, score codes with an exact integer fold, rank
    (adist_u ASC, vec_id ASC); with ``refine``, re-rank the refine·k
    shortlist by exact distances read from ``source_e`` (vec_id, vec).
    Tie order and micro-unit rounding live HERE only, so the persisted
    index can never drift from the in-memory operators."""
    if on_bucket:
        scored = coded.join(F.broadcast(lut_df), "bucket").filter(
            F.col("vec_id") != F.col("probe_id")
        )
    else:
        scored = coded.join(
            F.broadcast(lut_df), F.col("vec_id") != F.col("probe_id")
        )
    scored = scored.withColumn(
        "adist_u",
        F.aggregate(
            F.zip_with(
                "codes", "lut", lambda c, row: F.element_at(row, c + 1)
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ),
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.asc("adist_u"), F.asc("vec_id")
    )
    ranked = scored.withColumn("rank", F.row_number().over(w))
    if refine is None:
        return ranked.filter(F.col("rank") <= k).select(
            "probe_id", "vec_id", "rank", "adist_u"
        )
    if source_e is None:
        raise ValueError("refine requires the source embeddings table")
    short = ranked.filter(F.col("rank") <= refine * k).select(
        "probe_id", "vec_id"
    )
    exact = (
        short.join(source_e, "vec_id")
        .join(F.broadcast(_probe_vec_df(spark, probe_rows)), "probe_id")
        .withColumn("d", _sqdist(F.col("vec"), F.col("p_vec")))
    )
    d = F.round("d", score_round) if score_round is not None else F.col("d")
    exact = exact.withColumn("adist_u", F.round(d * 1e6, 0).cast("long"))
    w2 = Window.partitionBy("probe_id").orderBy(
        F.asc("adist_u"), F.asc("vec_id")
    )
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("probe_id", "vec_id", "rank", "adist_u")
    )


def _ivfpq_probe_luts(probe_rows, centroids, codebooks, nprobe,
                      score_round):
    """(probe_id, bucket, lut) rows: each probe's nprobe L2-nearest
    coarse lists (direct-form rounded distances, ties → lowest index)
    with one residual LUT per probed list."""
    out = []
    for r in probe_rows:
        q = np.asarray(r["p_vec"], dtype=np.float64)
        d = ((q[None, :] - centroids) ** 2).sum(axis=1)
        if score_round is not None:
            d = np.round(d, score_round)
        order = np.lexsort((np.arange(len(centroids)), d))[:nprobe]
        for b in order:
            lut = pq_lut(q - centroids[b], codebooks, score_round)
            out.append(
                (r["probe_id"], int(b),
                 [[int(x) for x in row] for row in lut])
            )
    return out


def pq_topk_adc(
    embeddings: DataFrame,
    probes: DataFrame,
    codebooks: np.ndarray,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
    score_round: int | None = None,
    refine: int | None = None,
) -> DataFrame:
    """Approximate top-k nearest (squared-L2) neighbors via PQ codes +
    per-probe ADC lookup tables.

    The big side is encoded ONCE (m small ints per vector — at scale the
    codes are a written artifact, re-encoded only when the codebook
    changes) and never shuffled; probes are collected driver-side (the
    reference-query-set shape: a handful of rows), their LUTs computed
    in numpy, and broadcast. Scoring is pure JVM column algebra:
    adist_u = Σ_j lut[j][code_j] over integer micro-units — exact, so
    ranking is reproducible bit-for-bit in any engine. Output:
    (probe_id, vec_id, rank, adist_u).

    ``refine``: if set, the ADC pass keeps a shortlist of refine·k per
    probe and a second stage re-ranks it with EXACT squared distances —
    the classic PQ+refine layout. Only the shortlist's vectors are ever
    read back (probes × refine·k rows — a broadcast-sized join against
    the full table), so the quantization coarseness bounds recall only
    through shortlist membership, not final ordering; adist_u is then
    the exact distance in the same micro-units."""
    codebooks = np.asarray(codebooks, dtype=np.float64)
    coded = pq_encode(
        embeddings.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec")
        ),
        codebooks,
        score_round=score_round,
    ).select("vec_id", "codes")
    probe_rows = probes.select(
        F.col(probe_id_col).alias("probe_id"), F.col(vec_col).alias("p_vec")
    ).collect()  # probe side only — never the corpus
    spark = embeddings.sparkSession
    lut_rows = [
        (r["probe_id"],
         [[int(x) for x in row]
          for row in pq_lut(r["p_vec"], codebooks, score_round)])
        for r in probe_rows
    ]
    p = local_frame(
        spark, lut_rows, "probe_id long, lut array<array<bigint>>"
    )
    return _adc_rank_topk(
        spark, coded, p, k, on_bucket=False, refine=refine,
        probe_rows=probe_rows,
        source_e=embeddings.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec")
        ),
        score_round=score_round,
    )


def pq_train(
    embeddings: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    iters: int = 5,
    seed: int = 42,
    vec_col: str = "embedding",
    init: np.ndarray | None = None,
    score_round: int | None = None,
    codebook_round: int | None = None,
    counts_out: dict | None = None,
) -> np.ndarray:
    """Distributed PQ codebook training: plain-L2 Lloyd's, all m
    subspaces in ONE job per iteration.

    Each vector explodes into m (subspace, subvector) rows; assignment
    runs the SAME rounded-argmin kernel as ``pq_encode`` (training and
    encoding can never disagree); the recompute is one groupBy
    (subspace, code) with per-dim partial sums — map-side combine means
    m × k × (dsub + 1) doubles cross the wire per iteration regardless
    of corpus size. Empty clusters keep their previous codeword.
    ``codebook_round`` pins each iteration's codebooks so a SQL oracle
    can replay the trajectory (same rationale as ``ivf_train``'s
    centroid_round). ``counts_out``: filled with the final iteration's
    {(subspace, code): n}."""
    if init is None:
        dim = len(embeddings.select(vec_col).head()[0])
        rng = np.random.default_rng(seed + 2)
        cb = rng.standard_normal((m, n_codes, pq_split(dim, m)))
    else:
        cb = np.asarray(init, dtype=np.float64).copy()
        m, n_codes, _ = cb.shape
    dsub = cb.shape[2]
    subs = embeddings.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(j).alias("j"),
                    F.slice(
                        F.transform(vec_col, lambda x: x.cast("double")),
                        j * dsub + 1, dsub,
                    ).alias("sv"),
                )
                for j in range(m)
            ])
        ).alias("s")
    ).select("s.j", "s.sv")
    aggs = [F.count("*").alias("n")] + [
        F.sum(F.element_at("sv", d + 1)).alias(f"s{d}") for d in range(dsub)
    ]
    for _ in range(iters):
        C = np.ascontiguousarray(cb)

        def assign_fn(batches, C=C):
            import pandas as pd

            for pdf in batches:
                if len(pdf) == 0:
                    continue
                out_codes = np.empty(len(pdf), dtype=np.int32)
                jv = pdf["j"].to_numpy()
                V = np.asarray(pdf["sv"].to_list(), dtype=np.float64)
                for j in np.unique(jv):
                    rows = jv == j
                    # dual-form (see _coarse_l2): keeps m=1 full-vector
                    # coarse training memory-safe at big k
                    D = _coarse_l2(V[rows], C[j])
                    if score_round is not None:
                        D = np.round(D, score_round)
                    out_codes[rows] = np.argmin(D, axis=1)
                yield pdf.assign(code=pd.Series(out_codes, index=pdf.index))

        assigned = subs.mapInPandas(
            assign_fn, schema="j int, sv array<double>, code int"
        )
        rows = assigned.groupBy("j", "code").agg(*aggs).collect()
        new = cb.copy()
        if counts_out is not None:
            counts_out.clear()
        for r in rows:
            if counts_out is not None:
                counts_out[(int(r["j"]), int(r["code"]))] = int(r["n"])
            new[r["j"], r["code"]] = np.array(
                [r[f"s{d}"] for d in range(dsub)], dtype=np.float64
            ) / float(r["n"])
        cb = new
        if codebook_round is not None:
            cb = np.round(cb, codebook_round)
    return cb


def _coarse_l2(V: np.ndarray, CC: np.ndarray) -> np.ndarray:
    """(n, n_centroids) squared L2 distances. Small codebooks use the
    element-wise direct form — the SAME op shape as the SQL oracles'
    sum(pow(v−c, 2)) and the probe-side loop, so near-tie rounding can't
    diverge between the corpus and oracle/probe paths. Big codebooks
    fall back to the expansion form (||v||² − 2v·c + ||c||²): one
    matmul instead of an (n × k × dim) broadcast temp that would not
    fit in a task's memory at production codebook sizes. The expansion
    form's extra cancellation error (~1e-12) only matters within
    0.5·10^-score_round of an exact tie — the big-codebook path is the
    un-oracled scale path, where that risk is accepted and documented."""
    if CC.shape[0] <= LITERAL_CODEBOOK_MAX:
        return ((V[:, None, :] - CC[None, :, :]) ** 2).sum(axis=2)
    return ((V ** 2).sum(1, keepdims=True) - 2.0 * (V @ CC.T)
            + (CC ** 2).sum(1)[None, :])


def _ivfpq_encode_fn(centroids: np.ndarray, codebooks: np.ndarray,
                     vec_col: str, score_round: int | None):
    """mapInPandas kernel for the IVF-PQ big side: ONE pass computes the
    L2-nearest coarse centroid (ties → lowest index) AND the PQ codes of
    the RESIDUAL v − c_bucket. Residual coding is what makes IVF-PQ
    tighter than flat PQ: within a list the residuals are small, so the
    same codebook budget quantizes them with far less error."""
    CC = np.ascontiguousarray(centroids, dtype=np.float64)
    CB = np.ascontiguousarray(codebooks, dtype=np.float64)
    m, _, dsub = CB.shape

    def fn(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.asarray(pdf[vec_col].to_list(), dtype=np.float64)
            D = _coarse_l2(V, CC)
            if score_round is not None:
                D = np.round(D, score_round)
            bucket = np.argmin(D, axis=1)
            R = V - CC[bucket]
            codes = np.empty((len(pdf), m), dtype=np.int32)
            for j in range(m):
                Dj = ((R[:, j * dsub:(j + 1) * dsub, None]
                       - CB[j].T[None, :, :]) ** 2).sum(axis=1)
                if score_round is not None:
                    Dj = np.round(Dj, score_round)
                codes[:, j] = np.argmin(Dj, axis=1)
            yield pdf.assign(
                bucket=pd.Series(bucket.astype(np.int32), index=pdf.index),
                codes=pd.Series(list(codes), index=pdf.index),
            )

    return fn


def ivfpq_encode(e: DataFrame, centroids: np.ndarray,
                 codebooks: np.ndarray,
                 score_round: int | None = None) -> DataFrame:
    """(vec_id, bucket, codes) for a (vec_id, vec) frame — the single
    encode entry both the in-memory query path and the persisted-index
    writer go through."""
    from pyspark.sql import types as T

    schema = T.StructType(
        list(e.schema.fields)
        + [T.StructField("bucket", T.IntegerType()),
           T.StructField("codes", T.ArrayType(T.IntegerType()))]
    )
    return e.mapInPandas(
        _ivfpq_encode_fn(
            np.asarray(centroids, dtype=np.float64),
            np.asarray(codebooks, dtype=np.float64),
            "vec", score_round,
        ),
        schema=schema,
    ).select("vec_id", "bucket", "codes")


def ivfpq_topk(
    embeddings: DataFrame,
    probes: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
    score_round: int | None = None,
    refine: int | None = None,
) -> DataFrame:
    """The classic IVF-PQ layout: coarse L2 centroid lists prune the
    scan, residual PQ codes + ADC rank within the probed lists.

    Big side: ONE mapInPandas pass assigns each vector to its L2-nearest
    coarse centroid and PQ-encodes the residual — at scale both are
    write-time artifacts (partition by bucket, store m bytes of codes).
    Probe side (driver-tiny): each probe takes its ``nprobe`` nearest
    lists and carries one integer micro-unit LUT PER PROBED LIST, built
    from the residual q − c_bucket — candidates join on bucket and are
    scored with the LUT of their own list, all in JVM column algebra.
    ``refine`` re-ranks the ADC shortlist with exact distances, as in
    ``pq_topk_adc``. Output: (probe_id, vec_id, rank, adist_u)."""
    centroids = np.asarray(centroids, dtype=np.float64)
    codebooks = np.asarray(codebooks, dtype=np.float64)
    e = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec")
    )
    coded = ivfpq_encode(e, centroids, codebooks, score_round)

    probe_rows = probes.select(
        F.col(probe_id_col).alias("probe_id"), F.col(vec_col).alias("p_vec")
    ).collect()  # probe side only — never the corpus
    spark = embeddings.sparkSession
    p = local_frame(
        spark,
        _ivfpq_probe_luts(probe_rows, centroids, codebooks, nprobe,
                          score_round),
        "probe_id long, bucket int, lut array<array<bigint>>",
    )
    return _adc_rank_topk(
        spark, coded, p, k, on_bucket=True, refine=refine,
        probe_rows=probe_rows, source_e=e, score_round=score_round,
    )


def embedding_near_dup(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 32,
    bands: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: np.ndarray | None = None,
    score_round: int | None = None,
) -> DataFrame:
    """All-pairs cosine ≥ threshold via BANDED sign-LSH candidates +
    exact-cosine verification — the minhash-banding shape
    (`dedup.lsh_candidates`) applied to random-hyperplane signatures.

    The planes split into ``bands`` contiguous groups of
    r = n_planes // bands; a pair is a candidate iff it agrees on EVERY
    sign in at least ONE band. Per-pair candidate probability at cosine
    c is 1 - (1 - p^r)^bands with p = 1 - arccos(c)/π — the OR over
    bands is what buys recall. A single band (bands=1, the pre-round-4
    parameterization) has essentially no recall at any usable
    threshold: measured on the 500-vector fixture + planted twins,
    single-band-32 found 0/6 true pairs at t=0.9 while 4 bands × 8
    planes found 6/6 (plants down to cos 0.937) verifying only ~1.8%
    of all pairs. Candidates dedup BEFORE the exact verify, so each
    surviving pair is scored once.

    Pass ``planes`` (e.g. ``hyperplanes_md5pm1``) + ``score_round`` for
    a bucketing a cross-engine SQL oracle can recompute bit-for-bit.

    At 100 TB: band codes are a narrow explode (bands × ~8 bytes per
    vector); the candidate join is an AQE-splittable equi-join on
    (band, code); exact cosine touches only deduped candidates.
    """
    if planes is None:
        dim = len(embeddings.select(vec_col).head()[0])
        planes = hyperplanes(dim, n_planes, seed)
    n_planes = len(planes)
    if n_planes % bands != 0:
        raise ValueError(f"bands={bands} must divide n_planes={n_planes}")
    r = n_planes // bands
    mask = (1 << r) - 1
    base = with_bucket(
        embeddings.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec")),
        planes,
        "vec",
        score_round=score_round,
    ).select(
        "vec_id",
        "vec",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftright("bucket", b * r)
                    .bitwiseAND(F.lit(mask))
                    .alias("code"),
                )
                for b in range(bands)
            ])
        ).alias("bc"),
    ).select("vec_id", "vec", "bc.band", "bc.code")
    a = base.select(
        F.col("vec_id").alias("doc_a"), F.col("vec").alias("vec_a"),
        "band", "code",
    )
    b = base.select(
        F.col("vec_id").alias("doc_b"), F.col("vec").alias("vec_b"),
        "band", "code",
    )
    cand = (
        a.join(b, ["band", "code"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])   # verify each pair ONCE
    )
    return (
        cand.withColumn(
            "cos", cosine_similarity_col(F.col("vec_a"), F.col("vec_b"))
        )
        .filter(F.col("cos") >= threshold)
        .select("doc_a", "doc_b", "cos")
    )
