"""Pure-Python XXH64 matching Spark's ``F.xxhash64`` on string columns.

The term-keyed index tables (flat, blocked and positional postings) are
written partitioned by ``bucket = pmod(xxhash64(term), num_buckets)``:
``term_bucket_col`` below, the one column every writer uses. A client
that wants to read ONE term's postings without Spark (scoring/local.py,
the serving tier) must recompute that bucket exactly: Spark's XxHash64
expression is standard XXH64 with seed 42 over the column's UTF-8
bytes, so a faithful reimplementation lets the reader prune 63 of 64
bucket directories before touching parquet.

Parity of ``term_bucket`` with ``term_bucket_col`` is pinned by
tests/test_local_search.py (empty string, ASCII, multi-byte UTF-8,
>32-byte inputs covering every tail path).

Speed is irrelevant here — this hashes a handful of query terms per
request, never a corpus (the build-side hashing stays in the JVM).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M = (1 << 64) - 1

SPARK_SEED = 42  # Spark's XxHash64 default seed


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, inp: int) -> int:
    acc = (acc + inp * _P2) & _M
    return (_rotl(acc, 31) * _P1) & _M


def _merge(h: int, v: int) -> int:
    h ^= _round(0, v)
    return (h * _P1 + _P4) & _M


def xxh64(data: bytes, seed: int = SPARK_SEED) -> int:
    """XXH64 of ``data`` -> unsigned 64-bit int."""
    n = len(data)
    off = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed & _M
        v4 = (seed - _P1) & _M
        while off + 32 <= n:
            v1 = _round(v1, int.from_bytes(data[off:off + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[off + 8:off + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[off + 16:off + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[off + 24:off + 32], "little"))
            off += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        for v in (v1, v2, v3, v4):
            h = _merge(h, v)
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while off + 8 <= n:
        h ^= _round(0, int.from_bytes(data[off:off + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        off += 8
    if off + 4 <= n:
        h ^= (int.from_bytes(data[off:off + 4], "little") * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        off += 4
    while off < n:
        h ^= (data[off] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        off += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h


def spark_xxhash64(s: str, seed: int = SPARK_SEED) -> int:
    """Signed 64-bit value equal to Spark's ``F.xxhash64(col)`` on ``s``."""
    h = xxh64(s.encode("utf-8"), seed)
    return h - (1 << 64) if h >= (1 << 63) else h


def term_bucket(term: str, num_buckets: int) -> int:
    """``pmod(xxhash64(term), num_buckets)`` — the build's bucket id."""
    return spark_xxhash64(term) % num_buckets


def term_bucket_col(num_buckets: int) -> Column:
    """The Spark twin of ``term_bucket``: the bucket column every
    term-keyed index table is partitioned by."""
    return F.pmod(F.xxhash64("term"), F.lit(num_buckets)).cast("int")
