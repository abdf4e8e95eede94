"""Local stand-in for the driver's correctness gate: run every __spark_entry__
query at sf0.01 via Spark AND its DuckDB oracle, compare row count, column
names, and (column-name-sorted, row-sorted) values. Strict equality — the
driver hashes values, so 'close' is not enough.
``tests/test_oracle_sweep.py`` runs the same comparison over every query as
part of the test suite.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from timberjack_spark.session import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
# the correctness-check scale, next to the entry module's default data
SF_DIR = os.path.join(os.path.dirname(entrymod.SF_DEFAULT), "sf0.01")


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with one view per table of ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    issues = []
    if sorted(sdf.columns) != sorted(odf.columns):
        return [f"schema mismatch: spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}"]
    # the driver's value hash is dtype-sensitive: DuckDB HUGEINT (bare integer
    # sum) lands as float64 while Spark emits int64 — catch that here too
    for c in sorted(sdf.columns):
        s_int = pd.api.types.is_integer_dtype(sdf[c])
        o_int = pd.api.types.is_integer_dtype(odf[c])
        s_f = pd.api.types.is_float_dtype(sdf[c])
        o_f = pd.api.types.is_float_dtype(odf[c])
        if (s_int and o_f) or (s_f and o_int):
            issues.append(
                f"dtype mismatch col={c}: spark={sdf[c].dtype} oracle={odf[c].dtype}"
                " (driver hash would fail — cast the oracle, e.g. ::BIGINT)"
            )
    if len(sdf) != len(odf):
        issues.append(f"row count: spark={len(sdf)} oracle={len(odf)}")
    a, b = normalize(sdf), normalize(odf)
    if len(a) == len(b):
        for c in a.columns:
            av, bv = a[c].values, b[c].values
            if pd.api.types.is_float_dtype(a[c]):
                neq = ~(np.isclose(av, bv, rtol=0, atol=0, equal_nan=True))
            else:
                neq = ~((pd.Series(av).astype(object) == pd.Series(bv).astype(object))
                        | (pd.Series(av).isna() & pd.Series(bv).isna())).values
            if neq.any():
                k = int(np.argmax(neq))
                issues.append(f"value mismatch col={c} at sorted-row {k}: spark={av[k]!r} oracle={bv[k]!r} ({int(neq.sum())} rows differ)")
    return issues


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else SF_DIR
    only = set(sys.argv[2:])
    spark = get_spark(cores=8)
    con = oracle_connection(sf_dir)
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}")
            failed.append(name)
            continue
        if name not in oracles:
            print(f"OK?  {name}: rows-only ({len(sdf)} rows, no oracle)")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as ex:
            print(f"FAIL {name}: oracle error: {ex}")
            failed.append(name)
            continue
        issues = compare(name, sdf, odf)
        if issues:
            print(f"FAIL {name}: " + "; ".join(issues))
            failed.append(name)
        else:
            print(f"PASS {name} ({len(sdf)} rows)")
    print(f"\n{len(failed)} failed" + (f": {failed}" if failed else ""))
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
