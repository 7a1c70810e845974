"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark at the given sf dir, runs the
matching ``oracle_sql()`` in DuckDB with the same tables registered as
views, and compares row count + schema + order-insensitive value hash
(columns sorted by name, rows sorted, values stringified with repr).

Usage: python scripts/check_contract.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def _hash(df: pd.DataFrame) -> str:
    import hashlib

    h = hashlib.sha256()
    for c in df.columns:
        col = df[c]
        if col.dtype.kind == "f":
            vals = [repr(float(v)) for v in col]
        else:
            vals = [repr(v) for v in col]
        h.update(("\n".join(vals) + f"|{c}").encode())
    return h.hexdigest()[:16]


def compare(sdf: pd.DataFrame, odf: pd.DataFrame) -> tuple[str, str]:
    """(status, detail) of a Spark result against its oracle result:
    MATCH, ROWCOUNT_MISMATCH, SCHEMA_MISMATCH or VALUE_MISMATCH."""
    s, o = _canon(sdf), _canon(odf)
    if len(s) != len(o):
        return "ROWCOUNT_MISMATCH", f"spark={len(s)} oracle={len(o)}"
    if list(s.columns) != list(o.columns):
        return "SCHEMA_MISMATCH", f"spark={list(s.columns)} oracle={list(o.columns)}"
    # dtype harmonization: ints may come back as int32 vs int64
    for c in s.columns:
        if s[c].dtype != o[c].dtype:
            try:
                s[c] = s[c].astype("float64") if s[c].dtype.kind == "f" or o[c].dtype.kind == "f" else s[c].astype("int64")
                o[c] = o[c].astype(s[c].dtype)
            except Exception:
                s[c] = s[c].astype(str)
                o[c] = o[c].astype(str)
    s = s.sort_values(by=list(s.columns), kind="mergesort").reset_index(drop=True)
    o = o.sort_values(by=list(o.columns), kind="mergesort").reset_index(drop=True)
    if _hash(s) == _hash(o):
        return "MATCH", ""
    diff = ""
    for c in s.columns:
        neq = (s[c].values != o[c].values)
        try:
            import numpy as np

            if s[c].dtype.kind == "f":
                neq = ~np.isclose(s[c].values, o[c].values, rtol=0, atol=0, equal_nan=True)
        except Exception:
            pass
        if neq.any():
            i = int(neq.argmax())
            diff += f"[{c}@{i}: spark={s[c].iloc[i]!r} oracle={o[c].iloc[i]!r} ({int(neq.sum())} diffs)] "
    return "VALUE_MISMATCH", diff[:300]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as E
    from geodistpy_spark import get_spark

    spark = get_spark("check_contract")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs = E.queries()
    oracles = E.oracle_sql()
    results = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            results.append((name, "SPARK_ERROR", str(ex)[:200]))
            continue
        t_spark = time.time() - t0
        if name not in oracles:
            results.append((name, f"rows-only ({len(sdf)} rows, {t_spark:.1f}s)", ""))
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as ex:
            results.append((name, "ORACLE_ERROR", str(ex)[:200]))
            continue
        status, detail = compare(sdf, odf)
        if status == "MATCH":
            status = f"MATCH ({len(sdf)} rows, {t_spark:.1f}s)"
        results.append((name, status, detail))

    print()
    width = max(len(n) for n, _, _ in results)
    n_match = n_ro = n_bad = 0
    for name, status, detail in results:
        print(f"{name:<{width}}  {status}  {detail}")
        if status.startswith("MATCH"):
            n_match += 1
        elif status.startswith("rows-only"):
            n_ro += 1
        else:
            n_bad += 1
    print(f"\n{n_match} match, {n_ro} rows-only, {n_bad} BAD")
    spark.stop()
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
