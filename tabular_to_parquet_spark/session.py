"""SparkSession factory with engine defaults.

Defaults chosen for the engine's workloads:
- UTC session timezone so TIMESTAMP / TIMESTAMP_NTZ arithmetic is
  deterministic and oracle-comparable (DuckDB timestamps are UTC-naive).
- zstd parquet compression (reference uses ZSTD level 5,
  reference src/conversion.rs:168).
- AQE on: runtime coalescing + skew-join handling matter at 100 TB.
- Arrow enabled for the Pandas-UDF slow paths.
"""

from __future__ import annotations

import logging
import os
import re

from pyspark.sql import SparkSession

_log = logging.getLogger(__name__)

#: a ``,spark.<key>=`` inside a value: a ','-separated entry that a ';'
#: split folded into the value before it
_FOLDED_ENTRY_RE = re.compile(r",\s*spark\.[^=,;]*=")


def resolve_cpus() -> int:
    """The engine's core count: ``$SPARK_GRAFT_CPUS`` when set, else
    the host's CPU count (8 when unknown). :func:`get_spark` sizes
    ``local[N]`` and the shuffle partitions from it, and so do the
    table loaders for a caller-provided session."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def parse_extra_conf(env_conf: str) -> tuple[dict[str, str], list[str]]:
    """Parse ``SPARK_GRAFT_EXTRA_CONF`` into ``(confs, malformed)``.

    Entries split on ';' when one is present, else ',' (r14 ADVICE:
    conf values like ``extraJavaOptions`` legitimately contain commas —
    spell those with ';'). Malformed (non-``k=v``) entries are returned
    for loud reporting instead of being silently dropped. A ';' split
    that leaves ``,spark.<key>=`` inside a value (','-separated entries
    mixed with a ';') keeps the value as written and logs a warning."""
    sep = ";" if ";" in env_conf else ","
    confs: dict[str, str] = {}
    bad: list[str] = []
    for item in filter(None, (s.strip() for s in env_conf.split(sep))):
        k, _, v = item.partition("=")
        if k and v:
            confs[k] = v
            if sep == ";" and _FOLDED_ENTRY_RE.search(v):
                _log.warning(
                    "SPARK_GRAFT_EXTRA_CONF: %s=%r looks like ','-separated "
                    "entries folded into one value by the ';' split; "
                    "separate every entry with ';'",
                    k,
                    v,
                )
        else:
            bad.append(item)
    return confs, bad


def _env_extra_conf() -> dict[str, str]:
    """The confs in ``$SPARK_GRAFT_EXTRA_CONF``; malformed entries are
    logged as a warning and ignored."""
    confs, bad = parse_extra_conf(os.environ.get("SPARK_GRAFT_EXTRA_CONF", ""))
    if bad:
        _log.warning("SPARK_GRAFT_EXTRA_CONF entries not k=v — IGNORED: %s", bad)
    return confs


def get_spark(
    app_name: str = "tabular_to_parquet_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with engine defaults.

    On a real cluster, ``master`` comes from spark-submit and
    ``shuffle_partitions`` should be sized to cores × a small factor;
    locally we default to the CPU count so tiny data isn't
    over-parallelized (AQE coalesces further at runtime).
    """
    cpus = resolve_cpus()
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # reference pins ZSTD level 5 (src/conversion.rs:168)
        .config("spark.hadoop.parquet.compression.codec.zstd.level", "5")
        # read parquet TIMESTAMP (isAdjustedToUTC=false) back as NTZ
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        # parquet TIMESTAMP(NANOS) (e.g. the events table) is illegal for
        # Spark's vectorized reader; read as raw ns longs and convert in
        # sources/tables.py (exact integer DIV, no precision loss)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    # deployment-specific conf without code edits (r14): e.g.
    # SPARK_GRAFT_EXTRA_CONF="spark.sql.join.preferSortMergeJoin=false,
    # spark.sql.adaptive.advisoryPartitionSizeInBytes=256m" — the knob
    # a cluster submit script owns; local defaults stay untouched so
    # bench runs remain comparable across rounds.  ';'-separated when
    # a ';' is present, else ','; malformed items are reported loudly
    # instead of silently dropped (r14 ADVICE — parse_extra_conf).
    for k, v in _env_extra_conf().items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
