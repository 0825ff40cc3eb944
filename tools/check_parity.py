"""Local twin of the driver's t2 correctness gate: run every
``__spark_entry__.queries()`` entry and its DuckDB oracle side by side,
compare row count, column names/types, and values. Names that share
one oracle text evaluate it once (the repeat prints ``oracle cached``).

Usage: python tools/check_parity.py [sf_dir] [name_filter]
"""

from __future__ import annotations

import os
import re
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
from tabular_to_parquet_spark.session import get_spark
from tabular_to_parquet_spark.sources.tables import TABLE_NAMES


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: v.hex() if isinstance(v, (bytes, bytearray)) else v
            )
        elif str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
    return df.reset_index(drop=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    name_filter = sys.argv[2] if len(sys.argv) > 2 else ""
    spark = get_spark("parity-check")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    oracle_rows: dict[str, pd.DataFrame] = {}
    failures = []
    n_selected = 0
    for name, fn in qs.items():
        if name_filter and not re.search(name_filter, name):
            continue
        n_selected += 1
        t0 = time.monotonic()
        try:
            out = fn(spark, sf_dir)
            # The driver's canonicalizer sorts results through pandas;
            # ARRAY/MAP/STRUCT cells are unhashable there and turn an
            # exact-match answer into an error row (x29_kwic, r6).
            # Flag the output TYPE here so the class can't recur.
            from pyspark.sql import types as T

            nested = [
                f"{f.name}:{f.dataType.simpleString()}"
                for f in out.schema.fields
                if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
            ]
            if nested:
                failures.append(name)
                print(f"FAIL {name}: driver-unhashable output column(s) "
                      f"{nested} — project to scalars (concat_ws)")
                continue
            sdf = out.toPandas()
            spark_s = time.monotonic() - t0
        except Exception as exc:
            failures.append(name)
            print(f"FAIL {name}: spark error: {exc}")
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only, {len(sdf)} rows "
                  f"(spark {spark_s:.1f}s)")
            if len(sdf) == 0:
                print(f"WARN {name}: 0 rows")
            continue
        sql = oracles[name]
        if sql in oracle_rows:
            ddf, oracle_t = oracle_rows[sql], "oracle cached"
        else:
            t1 = time.monotonic()
            try:
                ddf = con.sql(sql).df()
            except Exception as exc:
                failures.append(name)
                print(f"FAIL {name}: oracle error: {exc}")
                continue
            oracle_rows[sql] = ddf
            oracle_t = f"oracle {time.monotonic() - t1:.1f}s"
        status = []
        if len(sdf) != len(ddf):
            status.append(f"rowcount {len(sdf)} vs {len(ddf)}")
        if sorted(sdf.columns) != sorted(ddf.columns):
            status.append(f"columns {sorted(sdf.columns)} vs {sorted(ddf.columns)}")
        if not status:
            a, b = normalize(sdf), normalize(ddf)
            try:
                pd.testing.assert_frame_equal(
                    a, b, check_dtype=False, check_exact=True
                )
            except AssertionError as exc:
                status.append(f"values: {str(exc).splitlines()[-1][:200]}")
        if status:
            failures.append(name)
            print(f"FAIL {name}: {'; '.join(status)}")
        else:
            print(f"ok   {name}: {len(sdf)} rows exact-match "
                  f"(spark {spark_s:.1f}s, {oracle_t})")
    print(f"\n{n_selected - len(failures)}/{n_selected} selected pass "
          f"({len(qs)} in catalog)")
    if n_selected == 0:
        print("FAIL: name filter matched no queries")
        return 1
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
