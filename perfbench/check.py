"""Output check: order-insensitive result fingerprints.

A fingerprint is the sorted column names, the row count and the sum of
a per-row 64-bit hash over the columns in name order. A sum (unlike an
XOR) changes when a row is duplicated or dropped, and summing the hash
as DECIMAL(20,0) cannot overflow under ANSI arithmetic. Each column's
null flag is hashed beside it, because Spark's hash skips null inputs.

Expected fingerprints live in ``expected.json``, keyed by a digest of
the lake's files, then by query name. Running this file records them for
every workload query on the benchmark's lake (the generated one, or
``$SPARK_GRAFT_SF_DIR``) and refuses any query whose result does not
first match its DuckDB oracle.

Usage: [SPARK_GRAFT_SF_DIR=DIR] python3 perfbench/check.py
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED = os.path.join(HERE, "expected.json")


def lake_digest(lake_dir: str) -> str:
    """sha256 over the lake's parquet files (names and bytes)."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(lake_dir)):
        if name.endswith(".parquet"):
            h.update(name.encode())
            with open(os.path.join(lake_dir, name), "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def fingerprint(df) -> dict:
    """Run ``df`` once and return its fingerprint."""
    from pyspark.sql import functions as F

    cols = sorted(df.columns)
    hashed = [x for c in cols for x in (F.col(f"`{c}`"), F.col(f"`{c}`").isNull())]
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*hashed).cast("decimal(20,0)")).alias("h"),
    ).collect()[0]
    return {"columns": cols, "rows": int(row["n"]), "hash": str(row["h"] or 0)}


def load_expected(path: str = EXPECTED) -> dict:
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


def record(lake_dir: str, names: list[str]) -> int:
    """Oracle-check each query on ``lake_dir`` and store its fingerprint."""
    from openseizuredatabase_spark.plans.oracle_check import _duckdb_conn, compare_query
    from openseizuredatabase_spark.plans.registry import QUERIES
    from openseizuredatabase_spark.session import get_spark
    from workloads import stop_spark

    spark = get_spark("perfbench-record")
    con = _duckdb_conn(lake_dir)
    expected = load_expected()
    table = expected.setdefault(lake_digest(lake_dir), {})
    refused = []
    for name in names:
        spec = QUERIES[name]
        try:
            ok, msg = compare_query(spark, con, spec, lake_dir)
        except Exception as e:  # noqa: BLE001 - report and refuse this query
            ok, msg = False, f"{type(e).__name__}: {e}"
        if spec.oracle is None:
            ok, msg = False, "no DuckDB oracle to match"
        print(f"{'PASS' if ok else 'FAIL'} {name}: {msg}", flush=True)
        if not ok:
            refused.append(name)
            continue
        table[name] = fingerprint(spec.fn(spark, lake_dir))
    with open(EXPECTED, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    stop_spark(spark)
    if refused:
        print(f"not recorded (no oracle match): {' '.join(refused)}")
    return 1 if refused else 0


def main() -> int:
    from workloads import ROOT, WORKLOADS, resolve_lake, session_env

    names = sorted({q for w in WORKLOADS.values() for q in w.queries})
    lake_dir, _ = resolve_lake()
    sys.path.insert(0, ROOT)
    scratch = os.path.join(HERE, ".scratch", f"record-{os.getpid()}")
    session_env(scratch, {})
    try:
        return record(lake_dir, names)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
