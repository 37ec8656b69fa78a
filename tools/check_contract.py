"""Local replica of the driver's correctness gate.

Runs every __spark_entry__.queries() entry on Spark and, where an
oracle_sql() entry exists, the same query on DuckDB over the same parquet
tables; compares row count, column names, and an order-insensitive value
hash (columns sorted by name, rows sorted, floats rounded).

Usage: python tools/check_contract.py [sf_dir]
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import __spark_entry__ as E  # noqa: E402


def _norm_val(v):
    if v is None or (isinstance(v, float) and np.isnan(v)):
        return "<null>"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (float, np.floating)):
        f = round(float(v), 4)
        return str(int(f)) if f.is_integer() else str(f)
    return str(v)


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    df.columns = [c.lower() for c in df.columns]
    df = df[sorted(df.columns)]
    for c in df.columns:
        df[c] = df[c].map(_norm_val)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def duckdb_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with the contract tables as views over sf_dir."""
    con = duckdb.connect()
    for t in E.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def check_query(spark, con, name: str, sf_dir: str,
                oracles: dict[str, str]) -> tuple[bool, str]:
    """Run one queries() entry on Spark and its `oracles` (oracle_sql())
    entry on DuckDB. Returns (ok, message); a query without an oracle only
    needs rows."""
    try:
        got = E.queries()[name](spark, sf_dir).toPandas()
    except Exception as exc:
        return False, f"spark error: {exc}"
    oracle = oracles.get(name)
    if oracle is None:
        return len(got) > 0, f"[rows-only] {len(got)} rows"
    try:
        want = con.execute(oracle).df()
    except Exception as exc:
        return False, f"duckdb error: {exc}"
    g, w = normalize(got), normalize(want)
    if list(g.columns) != list(w.columns):
        return False, f"schema mismatch {list(g.columns)} vs {list(w.columns)}"
    if len(g) != len(w):
        return False, f"row count {len(g)} vs {len(w)}"
    if not g.equals(w):
        bad = (g != w).any(axis=1)
        return False, (f"{bad.sum()}/{len(g)} differing rows\n"
                       f"  got : {g[bad].head(3).to_dict('records')}\n"
                       f"  want: {w[bad].head(3).to_dict('records')}")
    return True, f"{len(g)} rows match"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from cld2_spark.session import get_spark
    spark = get_spark("contract-check", cores=8, shuffle_partitions=8)
    con = duckdb_views(sf_dir)

    only = set(sys.argv[2:])  # optional query-name filter for iteration
    oracles = E.oracle_sql()
    failures = []
    for name in E.queries():
        if only and name not in only:
            continue
        ok, msg = check_query(spark, con, name, sf_dir, oracles)
        if ok:
            print(f"[OK]   {name}: {msg}")
        else:
            failures.append(name)
            print(f"[FAIL] {name}: {msg}")

    spark.stop()
    if failures:
        print(f"\n{len(failures)} FAILURES: {failures}")
        return 1
    print("\nall queries match")
    return 0


if __name__ == "__main__":
    sys.exit(main())
