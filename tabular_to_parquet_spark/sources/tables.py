"""Canonical loaders for the testdata star schema.

Two timestamp quirks handled here once, so every query sees plain
TIMESTAMP (µs, UTC session — watermarks and unix_micros require
TIMESTAMP, not NTZ):

- parquet TIMESTAMP(NANOS) (older testdata generations), which Spark's
  parquet reader rejects: with
  ``spark.sql.legacy.parquet.nanosAsLong=true`` (set in session.py) the
  column arrives as a raw ns BIGINT; we convert with exact integer
  division (``DIV`` — a double division would lose precision above
  2^53 ns). DuckDB truncates ns→µs the same way on CAST.
- parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) (current testdata),
  which Spark 4 reads as TIMESTAMP_NTZ under
  ``inferTimestampNTZ.enabled=true``: cast NTZ→TIMESTAMP, which under
  the UTC session timezone is value-preserving (same wall-clock
  micros), so oracle hash comparisons are unchanged.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tabular_to_parquet_spark.session import resolve_cpus

TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def reset_managed_table(spark: SparkSession, table_name: str) -> None:
    """Make ``saveAsTable(table_name)`` safe to run from ANY process
    state: drop the catalog entry if present, then remove an ORPHANED
    warehouse directory if one is left over. A previous process that
    wrote the managed table leaves its data directory behind in
    ``spark.sql.warehouse.dir``; a fresh session has no catalog entry
    for it, so a plain ``mode("overwrite")`` write dies with
    LOCATION_ALREADY_EXISTS instead of overwriting."""
    import shutil

    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "")
    for prefix in ("file://", "file:"):
        if warehouse.startswith(prefix):
            warehouse = warehouse[len(prefix):]
            break
    leaf = table_name.split(".")[-1].lower()
    orphan = os.path.join(warehouse, leaf)
    if warehouse and os.path.isdir(orphan):
        shutil.rmtree(orphan, ignore_errors=True)


def _ensure_session_confs(spark: SparkSession) -> None:
    """Make a caller-provided session (e.g. the driver harness's) safe
    for these tables: ns-parquet read path and UTC timestamp rendering.
    Both confs are runtime-settable; idempotent."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        # Arrow-batched UDTF evaluation (ArrowEvalPythonUDTF, not
        # row-at-a-time pickling). Set here — uniformly, as a session
        # default — rather than inside the one UDTF query builder,
        # which would mutate the shared session as a hidden
        # order-dependent side effect. Set BEFORE the shuffle-partition
        # sizing below: a conf-get/parse failure there must not
        # silently drop x21 back to pickled row-at-a-time eval.
        spark.conf.set("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
        # size shuffles to the machine instead of the 200 default —
        # the small-SF harness otherwise pays 200-task overhead per
        # shuffle (AQE may be off in a caller-provided session)
        cpus = resolve_cpus()
        if int(spark.conf.get("spark.sql.shuffle.partitions")) > cpus * 2:
            spark.conf.set("spark.sql.shuffle.partitions", str(cpus))
    except Exception:  # pragma: no cover - never settable-failure in 4.x
        pass


def _normalize_ts(df: DataFrame) -> DataFrame:
    """Cast TIMESTAMP_NTZ columns to TIMESTAMP (UTC session ⇒ identical
    micros values). A pure projection — no shuffle, pushdown-safe."""
    ntz = [f.name for f in df.schema.fields if isinstance(f.dataType, T.TimestampNTZType)]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast(T.TimestampType()))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _ensure_session_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        df = df.withColumn(
            "ts",
            F.timestamp_micros(F.expr("ts DIV 1000")),
        )
    return _normalize_ts(df)


def create_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLE_NAMES
) -> None:
    """Register the star schema as temp views so users drive the engine
    with raw ``spark.sql(...)`` — the same table names the DuckDB
    oracle sees, with the canonical timestamp normalization applied.
    Temp views are lazy: no data moves until a query runs, and every
    Catalyst optimization (pushdown, pruning, join planning) applies
    to SQL text exactly as to the DataFrame API."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def load_events_stream(spark: SparkSession, path: str) -> DataFrame:
    """Streaming variant of the events loader (same ns→µs conversion).

    Spark's file stream source requires a *directory*; a single-file
    path is exposed through a temp directory symlink.
    """
    _ensure_session_confs(spark)
    static = spark.read.parquet(path)
    if os.path.isfile(path):
        d = tempfile.mkdtemp(prefix="events_stream_")
        os.symlink(os.path.abspath(path), os.path.join(d, os.path.basename(path)))
        path = d
    df = spark.readStream.schema(static.schema).parquet(path)
    if isinstance(df.schema["ts"].dataType, T.LongType):
        df = df.withColumn(
            "ts",
            F.timestamp_micros(F.expr("ts DIV 1000")),
        )
    return _normalize_ts(df)
