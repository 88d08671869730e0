"""Simulate the driver's correctness gate: run each __spark_entry__ query
on Spark and its oracle SQL on DuckDB at the same sf, compare row count,
column names, and order-insensitive values.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entrymod  # noqa: E402
from fastselect_spark.runtime.session import get_spark  # noqa: E402


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(9)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("Int64")
        elif pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    # data-dependent oracles (IVF centroid literals) must target this sf
    import os

    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir
    spark = get_spark(app_name="oracle-check", master="local[8]", shuffle_partitions=16)
    # bounded: DuckDB's defaults (80% of RAM, one thread per core, spill
    # without limit) starve the Spark JVM that shares the host and can
    # fill the disk, and the run is killed mid-way
    con = duckdb.connect(
        config={"memory_limit": "3GB", "threads": 4, "max_temp_directory_size": "4GB"}
    )
    for t in entrymod.TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
            if name not in oracles:
                print(f"{name:24s} rows-only: {len(spark_pdf)} rows")
                continue
            duck_pdf = con.sql(oracles[name]).df()
        except Exception as e:  # one failing query must not end the run
            failures += 1
            print(f"{name:24s} ERROR: {type(e).__name__}: {str(e)[:200]}")
            continue
        a, b = normalize(spark_pdf), normalize(duck_pdf)
        status = []
        if len(a) != len(b):
            status.append(f"ROWS {len(a)} vs {len(b)}")
        if list(a.columns) != list(b.columns):
            status.append(f"COLS {list(a.columns)} vs {list(b.columns)}")
        if not status:
            eq = True
            for c in a.columns:
                av, bv = a[c], b[c]
                # Driver hazard: its value-hash is dtype/repr-sensitive, so a
                # float64 column on one side vs int64 on the other ("3.0" vs
                # "3") mismatches even when values are numerically equal.
                # DuckDB HUGEINT (SUM of ints) -> pandas float64 is the
                # classic source (round-4 session_features red) — flag it.
                if pd.api.types.is_float_dtype(av) != pd.api.types.is_float_dtype(bv):
                    eq = False
                    status.append(
                        f"DTYPE {c}: spark={av.dtype} vs oracle={bv.dtype}"
                        " (driver hash would mismatch; CAST the oracle column)"
                    )
                    continue
                if pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv):
                    av = av.astype(float)
                    bv = bv.astype(float)
                    ok = ((av.isna() & bv.isna()) | (np.abs(av - bv) <= 1e-9)).all()
                else:
                    ok = (av.fillna("∅").astype(str) == bv.fillna("∅").astype(str)).all()
                if not ok:
                    eq = False
                    diff = (
                        av.astype(str).fillna("∅") != bv.astype(str).fillna("∅")
                        if not pd.api.types.is_float_dtype(av)
                        else ~((av.isna() & bv.isna()) | (np.abs(av - bv) <= 1e-9))
                    )
                    idx = np.where(diff)[0][:3]
                    status.append(f"VAL {c} @{idx}: {av.iloc[idx].tolist()} vs {bv.iloc[idx].tolist()}")
            if eq:
                print(f"{name:24s} OK ({len(a)} rows)")
                continue
        failures += 1
        print(f"{name:24s} FAIL: {'; '.join(status)}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
