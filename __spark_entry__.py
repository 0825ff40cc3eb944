"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship query (the reference's whole product
surface: delimited text → inference → lenient-cast projection →
Parquet → typed DataFrame; cf. reference conversion.rs:28-120).
``queries``/``oracle_sql`` expose the full parity catalog — reference
operators (tabular_to_parquet_spark/parity/catalog.py) plus the
training-data extensions (parity/extensions.py).

Determinism: the driver's value-hash compare must see identical row
sets; Spark output order is nondeterministic across partitions
(SURVEY.md §4.3), so every query is wrapped in a total ORDER BY over
all columns (positional) on the Spark side and ``ORDER BY ALL NULLS
FIRST`` (same positional order, same nulls-first ordering as Spark's
default asc_nulls_first) on the DuckDB side.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from tabular_to_parquet_spark.parity import curation_queries as _curation_queries  # noqa: F401  (registers)
from tabular_to_parquet_spark.parity import extensions as _extensions  # noqa: F401  (registers)
from tabular_to_parquet_spark.parity import pipeline_queries as _pipeline_queries  # noqa: F401  (registers)
from tabular_to_parquet_spark.parity import profiling_queries as _profiling_queries  # noqa: F401  (registers)
from tabular_to_parquet_spark.parity import tpch_queries as _tpch_queries  # noqa: F401  (registers)
from tabular_to_parquet_spark.parity.catalog import CATALOG


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return CATALOG["s6_conversion_roundtrip"].spark(spark, "/root/testdata/sf0.001")


def _ordered(fn: Callable[[SparkSession, str], DataFrame]):
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        from tabular_to_parquet_spark.sources.tables import _ensure_session_confs

        _ensure_session_confs(spark)  # driver sessions: UTC + ns-parquet
        df = fn(spark, sf_dir)
        return df.orderBy(*[df[c] for c in df.columns])

    return wrapped


# Priority order for the capped (~50-row) driver sweep, computed from
# the committed CORRECTNESS_r*.json rows at import time. Each query is
# keyed by the ROUND of its most recent *passing* driver row (never
# passed → -1, so never-verified / errored / mismatched / oracle-
# upgraded queries still go first), tie-broken by registration order.
# With the whole catalog driver-green after r10, a plain "never passed
# first" priority degenerates to re-certifying the same first 50
# registrations forever while the tail goes driver-invisible (r10
# verdict item 1); staleness rotation instead re-certifies the slice
# whose last green row is oldest, so every query cycles back under the
# driver every ~ceil(catalog/50) rounds. A row counts as passing only
# if err is unset and no recorded match flag is false (rows-only
# queries record null hash/schema flags — null is not a failure;
# err='no_oracle' with a row count is the documented weaker pass, but
# only while the catalog still declares no oracle: a query that GAINED
# an oracle since must re-queue so its certification upgrades to
# value-hash, cf. r10 pr08/pr09). Robust to missing/corrupt files.


def _last_pass_round() -> dict[str, int]:
    import glob as _glob
    import json as _json
    import os as _os
    import re as _re

    here = _os.path.dirname(_os.path.abspath(__file__))
    last: dict[str, int] = {}
    for path in sorted(_glob.glob(_os.path.join(here, "CORRECTNESS_r*.json"))):
        m = _re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if m is None:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                rows = _json.load(fh)
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            if row.get("err") == "no_oracle" and row.get("spark_rows") is not None:
                q = CATALOG.get(name)
                if q is None or q.oracle is None:
                    last[name] = max(last.get(name, rnd), rnd)
                continue
            if row.get("err") is not None:
                continue
            flags = [row.get(k) for k in ("rows_match", "schema_match", "hash_match")]
            if any(f is False for f in flags):
                continue
            if all(f is None for f in flags) and row.get("spark_rows") is None:
                continue  # no evidence at all — not a pass
            last[name] = max(last.get(name, rnd), rnd)
    return last


_LAST_PASS = _last_pass_round()


def _catalog_ordered():
    names = list(CATALOG)
    reg_index = {n: i for i, n in enumerate(names)}
    for name in sorted(names, key=lambda n: (_LAST_PASS.get(n, -1), reg_index[n])):
        yield name, CATALOG[name]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _ordered(qd.spark) for name, qd in _catalog_ordered()}


def oracle_sql() -> dict[str, str]:
    return {
        name: f"SELECT * FROM (\n{qd.oracle}\n) AS _q ORDER BY ALL NULLS FIRST"
        for name, qd in _catalog_ordered()
        if qd.oracle is not None
    }
