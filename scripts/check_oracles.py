"""Local stand-in for the driver's correctness gate: run every
queries() entry on Spark and its oracle_sql() on DuckDB over the same
parquet tables, compare row count, schema-ish dtypes, and exact values
(columns sorted by name, rows sorted by all columns)."""

from __future__ import annotations

import os
import sys
import traceback

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            # normalize lists/arrays to tuples for sorting
            df[c] = df[c].map(
                lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v
            )
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(name: str, a: pd.DataFrame, b: pd.DataFrame) -> list[str]:
    problems = []
    if len(a) != len(b):
        return [f"rowcount spark={len(a)} duckdb={len(b)}"]
    a, b = canon(a), canon(b)
    if list(a.columns) != list(b.columns):
        return [f"columns spark={list(a.columns)} duckdb={list(b.columns)}"]
    for c in a.columns:
        av, bv = a[c], b[c]
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            ok = np.allclose(
                av.astype(float), bv.astype(float), rtol=0, atol=0, equal_nan=True
            )
        else:
            ok = av.equals(bv) or (av.astype(object) == bv.astype(object)).all()
        if not ok:
            diff = (av.astype(object) != bv.astype(object))
            i = int(np.argmax(diff.to_numpy()))
            problems.append(
                f"col {c}: {int(diff.sum())} diffs, first at row {i}: "
                f"spark={av.iloc[i]!r} duckdb={bv.iloc[i]!r}"
            )
        # dtype parity (loose: int kinds equal, float kinds equal)
        if av.dtype.kind != bv.dtype.kind:
            problems.append(f"col {c}: dtype kind spark={av.dtype} duckdb={bv.dtype}")
    return problems


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    only = sys.argv[1:] or None

    import __spark_entry__ as E
    from pii_redaction_data_pipeline_spark import get_spark

    spark = get_spark(app_name="check_oracles")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = E.queries(), E.oracle_sql()
    n_ok = n_bad = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception:
            print(f"[FAIL] {name}: SPARK ERROR")
            traceback.print_exc(limit=3)
            n_bad += 1
            continue
        if name not in oracles:
            print(f"[rows-only] {name}: {len(sdf)} rows")
            continue
        try:
            ddf = con.execute(oracles[name]).fetchdf()
        except Exception:
            print(f"[FAIL] {name}: DUCKDB ERROR")
            traceback.print_exc(limit=3)
            n_bad += 1
            continue
        problems = compare(name, sdf, ddf)
        if problems:
            n_bad += 1
            print(f"[FAIL] {name}:")
            for p in problems:
                print("   ", p)
        else:
            n_ok += 1
            print(f"[ok] {name}: {len(sdf)} rows")
    print(f"\n{n_ok} ok, {n_bad} failed")
    spark.stop()
    return 1 if n_bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
