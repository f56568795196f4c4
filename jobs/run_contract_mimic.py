"""Emit a CORRECTNESS-style JSON from the in-repo driver mimic.

The per-round driver caps its correctness run at 50 entries, so some
long-green entries rotate out of CORRECTNESS_r{N}.json even when the
code under them changed (VERDICT r3 item 3). This job runs EVERY
oracle-backed contract entry against its DuckDB oracle — the same
row-count + schema + order-insensitive value comparison as
tests/test_driver_contract.py — and writes the result in the driver's
JSON shape, so the judge can diff driver-vs-mimic per round and every
entry has a green row dated after its last code change.

``oracle_views`` and ``compare`` are the one copy of that comparison;
tests/test_driver_contract.py loads them from this file.

Usage:
    python jobs/run_contract_mimic.py [--sf /root/testdata/sf0.01] \
        [--out artifacts/CORRECTNESS_MIMIC_r04.json]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(list(df.columns)).reset_index(drop=True)
    return df


def oracle_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per testdata table present."""
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def compare(got: pd.DataFrame, want: pd.DataFrame) -> dict:
    """Row-count + schema + exact order-insensitive value comparison of
    an entry's result with its oracle's; ``err`` says what mismatched
    (None when everything matches)."""
    got, want = _normalize(got), _normalize(want)
    rec = {
        "rows_match": len(got) == len(want),
        "schema_match": list(got.columns) == list(want.columns),
        "hash_match": False, "spark_rows": len(got),
        "oracle_rows": len(want), "err": None,
    }
    if not rec["schema_match"]:
        rec["err"] = f"columns {list(got.columns)} != {list(want.columns)}"
    elif not rec["rows_match"]:
        rec["err"] = f"{len(got)} rows vs oracle {len(want)}"
    else:
        try:
            pd.testing.assert_frame_equal(
                got, want, check_dtype=False, check_exact=True
            )
            rec["hash_match"] = True
        except AssertionError as e:
            rec["err"] = f"value mismatch: {e}"
    return rec


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default="artifacts/CORRECTNESS_MIMIC.json")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from sequential_query_expansion_spark.session import get_spark

    spark = get_spark("contract-mimic")
    con = oracle_views(args.sf)

    oracles = entrymod.oracle_sql()
    queries = entrymod.queries()
    results: dict = {}
    failed = {"rows_match": False, "schema_match": False,
              "hash_match": False, "spark_rows": None, "oracle_rows": None}
    for name in sorted(queries):
        try:
            got = queries[name](spark, args.sf).toPandas()
            rec = compare(got, con.execute(oracles[name]).df())
        except Exception as e:  # noqa: BLE001 — record, keep going
            rec = dict(failed, err=f"{type(e).__name__}: {e}")
        rec["err"] = rec["err"] and rec["err"][:300]
        results[name] = rec
        status = "ok" if rec["hash_match"] else f"FAIL ({rec['err']})"
        print(f"{name}: {rec['spark_rows']} rows — {status}", flush=True)

    os.makedirs(os.path.dirname(args.out) or ".", exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(results, f, indent=2)
    n_ok = sum(1 for r in results.values() if r["hash_match"])
    print(f"\n{n_ok}/{len(results)} green -> {args.out}")
    return 0 if n_ok == len(results) else 1


if __name__ == "__main__":
    raise SystemExit(main())
