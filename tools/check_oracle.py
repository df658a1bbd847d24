"""Local emulation of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB (same parquet tables), then compares
row count, column names, and order-insensitive values.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

# DuckDB output types that map exactly to a Spark type. Any other oracle
# column type fails the query before values are compared: HUGEINT
# (``sum(BIGINT)``) or a DECIMAL (decimal literals in arithmetic) can
# never hash-equal Spark's LongType/DoubleType output, even when the
# values compare equal after the float conversion below.
SPARK_TYPES = {
    "BOOLEAN", "TINYINT", "SMALLINT", "INTEGER", "BIGINT", "FLOAT",
    "DOUBLE", "VARCHAR", "BLOB", "DATE", "TIMESTAMP",
}

# Numeric kind of a Spark simpleString or DuckDB type name. A column
# whose kinds differ fails: an exact hash of a BIGINT oracle column never
# equals that of a DOUBLE Spark column, even when the values compare
# equal after rounding both to float.
INTEGRAL = {"tinyint", "smallint", "int", "integer", "bigint"}
FRACTIONAL = {"float", "double"}


def numeric_kind(type_name: str) -> str | None:
    t = type_name.lower()
    if t in INTEGRAL:
        return "integer"
    if t in FRACTIONAL:
        return "float"
    return None


TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_float_dtype(s):
            df[c] = np.round(s.astype("float64"), 6)
        elif pd.api.types.is_datetime64_any_dtype(s):
            df[c] = pd.to_datetime(s).dt.tz_localize(None)
        elif s.dtype == object:
            df[c] = s.astype(str)
        else:
            try:
                df[c] = s.astype("int64")
            except (TypeError, ValueError):
                df[c] = s.astype(str)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(
    name: str,
    sdf: pd.DataFrame,
    ddf: pd.DataFrame,
    spark_types: dict[str, str],
    duck_types: dict[str, str],
) -> bool:
    """Row count, column names, numeric kinds, then values.
    ``spark_types``/``duck_types`` map each column to its declared type
    name (Spark simpleString, DuckDB type)."""
    ok = True
    if len(sdf) != len(ddf):
        print(f"  [{name}] ROWCOUNT spark={len(sdf)} duckdb={len(ddf)}")
        ok = False
    if sorted(sdf.columns) != sorted(ddf.columns):
        print(f"  [{name}] SCHEMA spark={sorted(sdf.columns)} duckdb={sorted(ddf.columns)}")
        return False
    for c in sorted(sdf.columns):
        ks, kd = numeric_kind(spark_types[c]), numeric_kind(duck_types[c])
        if ks and kd and ks != kd:
            print(f"  [{name}] TYPE column {c}: spark={spark_types[c]} duckdb={duck_types[c]}")
            ok = False
    if not ok:
        return False
    a, b = normalize(sdf), normalize(ddf)
    for c in a.columns:
        ca, cb = a[c], b[c]
        if pd.api.types.is_float_dtype(ca) or pd.api.types.is_float_dtype(cb):
            # Exact after round-6 — the driver hashes values, it does not
            # tolerance-compare, so anything looser than this lets a local
            # PASS hide a driver hash FAIL (VERDICT r01: quality_scores).
            fa = np.round(ca.astype(float), 6)
            fb = np.round(cb.astype(float), 6)
            same = ((fa == fb) | (np.isnan(fa) & np.isnan(fb))).all()
        else:
            same = (ca.astype(str) == cb.astype(str)).all()
        if not same:
            bad = (ca.astype(str) != cb.astype(str))
            idx = bad[bad].index[:3]
            print(f"  [{name}] VALUES differ in column {c}; e.g.:")
            for i in idx:
                print(f"    spark={ca[i]!r} duckdb={cb[i]!r}")
            ok = False
    return ok


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entry_mod
    from loganalyzer_spark.session import get_spark

    # size the gate to the host, as the Tier-1 command does
    spark = get_spark(
        cores=int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    n_pass = n_fail = n_weak = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf_spark = fn(spark, sf_dir)
            spark_types = {f.name: f.dataType.simpleString() for f in sdf_spark.schema.fields}
            sdf = sdf_spark.toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"weak {name}: rows={len(sdf)} (no oracle) [{time.time()-t0:.1f}s]")
            n_weak += 1
            continue
        try:
            rel = con.sql(oracles[name])
            leaks = [
                f"{c} {t}" for c, t in zip(rel.columns, rel.types)
                if str(t) not in SPARK_TYPES
            ]
            ddf = rel.df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        if leaks:
            print(f"FAIL {name}: oracle column(s) {leaks} have a type outside SPARK_TYPES")
            n_fail += 1
            continue
        duck_types = {c: str(t) for c, t in zip(rel.columns, rel.types)}
        if compare(name, sdf, ddf, spark_types, duck_types):
            print(f"PASS {name}: rows={len(sdf)} [{time.time()-t0:.1f}s]")
            n_pass += 1
        else:
            print(f"FAIL {name}")
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_weak} weak/rows-only")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
