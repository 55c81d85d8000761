"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
at the given sf dir, compares row count + column names + order-insensitive
values. Usage: python tools/check_oracles.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import duckdb
import numpy as np
import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64").round(9)
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
        elif pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("string")
        else:
            df[c] = s.map(
                lambda v: str(sorted(v)) if isinstance(v, (list, np.ndarray)) else str(v)
            )
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with one view per sf table."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def compare(got: pd.DataFrame, exp: pd.DataFrame) -> str | None:
    """Why the Spark result ``got`` differs from the oracle's ``exp`` (row
    count, column names, then order-insensitive values), or None."""
    if len(got) != len(exp):
        return f"rowcount spark={len(got)} duck={len(exp)}"
    if sorted(got.columns) != sorted(exp.columns):
        return f"cols spark={sorted(got.columns)} duck={sorted(exp.columns)}"
    g, e = canon(got), canon(exp)
    if g.equals(e):
        return None
    neq_cols = [c for c in g.columns if not g[c].equals(e[c])]
    lines = [f"values differ in {neq_cols}"]
    for c in neq_cols[:2]:
        idx = (g[c] != e[c]).idxmax()
        lines.append(f"      first diff col={c} spark={g[c][idx]!r} duck={e[c][idx]!r}")
    return "\n".join(lines)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    # Python workers find the package only through PYTHONPATH, which
    # must be set before the session starts
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from dataflow_spark.entry_queries import build_oracles, build_queries
    from dataflow_spark.session import get_spark

    spark = get_spark("oracle-check", cores=8)
    spark.sparkContext.setLogLevel("ERROR")
    con = connect(sf_dir)

    queries, oracles = build_queries(), build_oracles()
    n_pass = n_fail = n_noracle = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error {str(e)[:200]}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"noracle {name}: rows={len(got)} cols={sorted(got.columns)}")
            n_noracle += 1
            continue
        try:
            exp = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            why = f"duckdb error {str(e)[:200]}"
        else:
            why = compare(got, exp)
        if why is not None:
            print(f"FAIL  {name}: {why}")
            n_fail += 1
            continue
        print(f"PASS  {name} rows={len(got)}")
        n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail, {n_noracle} rows-only ==")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
