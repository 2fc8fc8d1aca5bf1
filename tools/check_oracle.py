"""Local replica of the driver's correctness gate: run each
__spark_entry__.queries() entry against its oracle_sql() in DuckDB at
sf0.01 and compare row-count + schema + order-insensitive values
(columns sorted by name, rows sorted by all columns).

Usage: python tools/check_oracle.py [sf_dir] [name ...]
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def dtype_kind(dtype) -> str:
    """Collapse a pandas dtype to the kind the driver's typed value hash
    distinguishes: int-like, float, bool, datetime, or object/string."""
    s = str(dtype).lower()
    if "datetime" in s:
        return "datetime"
    if "bool" in s:
        return "bool"
    if "int" in s:
        return "int"
    if "float" in s:
        return "float"
    return "object"


def strict_dtype_mismatches(sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    """Columns whose FETCHED dtype kind differs between Spark and DuckDB.

    The driver hashes typed values, so an int64 Spark column vs a float64
    oracle column (e.g. DuckDB HUGEINT window sums fetching as float64)
    hash-fails even when every value compares equal — this check makes the
    local gate predict the driver's verdict instead of silently coercing.
    """
    return [
        c
        for c in sorted(sdf.columns)
        if dtype_kind(sdf[c].dtype) != dtype_kind(odf[c].dtype)
    ]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].where(pd.notna(df[c]), None).astype(str)
        elif "float" in str(df[c].dtype):
            df[c] = df[c].astype("float64").round(6)
        elif "datetime" in str(df[c].dtype):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == bool or "bool" in str(df[c].dtype):
            df[c] = df[c].astype("boolean")
        elif "int" in str(df[c].dtype).lower():
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main() -> int:
    import __spark_entry__ as E
    from pacasam_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    # codegen.fallback=false: a janino compile failure (method > 64KB
    # from an over-inlined expression) normally falls back to SLOW
    # interpreted evaluation with only a stderr ERROR — here it must
    # fail the gate loudly instead (caught a 12k-line generate method
    # in the LSH probe stage that had been silently interpreted).
    spark = get_spark(
        cores=16, extra_conf={"spark.sql.codegen.fallback": "false"}
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"create view {t} as select * from '{sf_dir}/{t}.parquet'"
        )

    queries, oracles = E.queries(), E.oracle_sql()
    failed = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:
            print(f"{name}: SPARK ERROR {type(exc).__name__}: {exc}")
            failed.append(name)
            continue
        if name not in oracles:
            print(f"{name}: rows-only check, n={len(sdf)}")
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as exc:
            print(f"{name}: ORACLE ERROR {type(exc).__name__}: {exc}")
            failed.append(name)
            continue
        if len(sdf) != len(odf):
            print(f"{name}: ROWCOUNT spark={len(sdf)} oracle={len(odf)}")
            failed.append(name)
            continue
        if sorted(sdf.columns) != sorted(odf.columns):
            print(f"{name}: SCHEMA spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}")
            failed.append(name)
            continue
        mism = strict_dtype_mismatches(sdf, odf)
        if mism:
            kinds = {
                c: (str(sdf[c].dtype), str(odf[c].dtype)) for c in mism
            }
            print(f"{name}: DTYPE spark-vs-oracle kind mismatch {kinds}")
            failed.append(name)
            continue
        s, o = normalize(sdf), normalize(odf)
        bad_cols = []
        for c in s.columns:
            a, b = s[c], o[c]
            try:
                eq = a.equals(b) or bool((a.fillna(-9e9) == b.fillna(-9e9)).all())
            except Exception:
                eq = bool((a.astype(str) == b.astype(str)).all())
            if not eq:
                bad_cols.append(c)
        if bad_cols:
            print(f"{name}: VALUES differ in {bad_cols}")
            for c in bad_cols[:2]:
                diff = s[c] != o[c]
                print("   spark:", s.loc[diff, c].head(3).tolist(),
                      " oracle:", o.loc[diff, c].head(3).tolist())
            failed.append(name)
        else:
            print(f"{name}: OK n={len(sdf)}")
    print(f"\n{len(queries) - len(failed)}/{len(queries)} matched" + (f"; FAILED: {failed}" if failed else ""))
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
