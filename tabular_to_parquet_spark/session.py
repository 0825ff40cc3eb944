"""SparkSession factory with engine defaults.

Defaults chosen for the engine's workloads:
- UTC session timezone so TIMESTAMP / TIMESTAMP_NTZ arithmetic is
  deterministic and oracle-comparable (DuckDB timestamps are UTC-naive).
- zstd parquet compression (reference uses ZSTD level 5,
  reference src/conversion.rs:168).
- AQE on: runtime coalescing + skew-join handling matter at 100 TB.
- Arrow enabled for the Pandas-UDF slow paths.

A JVM that ``get_spark`` launches itself starts from the class archive
of :mod:`tabular_to_parquet_spark.appcds` when one applies.
"""

from __future__ import annotations

import logging
import os
import re

from pyspark import SparkContext
from pyspark.errors import PySparkRuntimeError
from pyspark.sql import SparkSession

from tabular_to_parquet_spark import appcds

_log = logging.getLogger(__name__)

#: a ``,spark.<key>=`` inside a value: a ','-separated entry that a ';'
#: split folded into the value before it
_FOLDED_ENTRY_RE = re.compile(r",\s*spark\.[^=,;]*=")
#: what ``-Xmx`` accepts: a byte count with an optional k/m/g/t unit
_JVM_SIZE_RE = re.compile(r"[1-9][0-9]*[kKmMgGtT]?")


def resolve_cpus() -> int:
    """The engine's core count: ``$SPARK_GRAFT_CPUS`` when set, else
    the host's CPU count (8 when unknown). :func:`get_spark` sizes
    ``local[N]`` and the shuffle partitions from it, and so do the
    table loaders for a caller-provided session. A value that is not a
    positive integer raises ``ValueError``."""
    raw = os.environ.get("SPARK_GRAFT_CPUS")
    if raw is None:
        return os.cpu_count() or 8
    try:
        cpus = int(raw)
    except ValueError:
        cpus = 0
    if cpus <= 0:
        raise ValueError(f"SPARK_GRAFT_CPUS={raw!r} is not a positive integer")
    return cpus


def resolve_driver_memory() -> str:
    """The driver heap: ``$SPARK_GRAFT_DRIVER_MEM`` when set, else 8g.
    It becomes the JVM's ``-Xmx``, so a value that is not a JVM size
    (digits and an optional k/m/g/t unit, e.g. ``2g`` or ``512m``)
    raises ``ValueError`` before any JVM starts."""
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    if not _JVM_SIZE_RE.fullmatch(mem):
        raise ValueError(
            f"SPARK_GRAFT_DRIVER_MEM={mem!r} is not a JVM size such as 2g or 512m"
        )
    return mem


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

    confs = {
        "spark.app.name": app_name,
        "spark.master": master,
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.compression.codec": "zstd",
        # reference pins ZSTD level 5 (src/conversion.rs:168)
        "spark.hadoop.parquet.compression.codec.zstd.level": "5",
        # read parquet TIMESTAMP (isAdjustedToUTC=false) back as NTZ
        "spark.sql.parquet.inferTimestampNTZ.enabled": "true",
        # parquet TIMESTAMP(NANOS) (e.g. the events table) is illegal for
        # Spark's vectorized reader; read as raw ns longs and convert in
        # sources/tables.py (exact integer DIV, no precision loss)
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.ui.enabled": "false",
        "spark.driver.memory": resolve_driver_memory(),
    }
    # deployment-specific conf without code edits (r14): e.g.
    # SPARK_GRAFT_EXTRA_CONF="spark.sql.join.preferSortMergeJoin=false,
    # spark.sql.adaptive.advisoryPartitionSizeInBytes=256m" — the knob
    # a cluster submit script owns; local defaults stay untouched so
    # bench runs remain comparable across rounds.  ';'-separated when
    # a ';' is present, else ','; malformed items are reported loudly
    # instead of silently dropped (r14 ADVICE — parse_extra_conf).
    confs.update(_env_extra_conf())
    confs.update(extra_conf or {})

    launch = None
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        # this call starts the JVM: start it from the class archive
        appcds.adopt_exited()
        launch = appcds.plan(confs)
    try:
        spark = _create(confs, launch)
    except PySparkRuntimeError:  # JAVA_GATEWAY_EXITED
        if launch is None or SparkContext._gateway is not None:
            raise
        # the JVM did not start with the archive flags: start it without
        # them, and keep them off from now on if that works
        spark = _create(confs, None)
        appcds.mark_failed(launch)
        _log.warning("the JVM did not start with its class archive flags; started it without them")
    else:
        appcds.started(launch, getattr(SparkContext._gateway, "proc", None), spark._jvm)
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _create(confs: dict[str, str], launch: appcds.Launch | None) -> SparkSession:
    """``getOrCreate`` with ``confs``; with ``launch``, the JVM starts
    with its flags ahead of the user's java options and with its empty
    ``SPARK_CONF_DIR`` in place of a conf dir that holds only templates."""
    builder = SparkSession.builder
    for k, v in confs.items():
        builder = builder.config(k, v)
    if launch is None:
        return builder.getOrCreate()
    user_options = confs.get("spark.driver.defaultJavaOptions", "")
    builder = builder.config(
        "spark.driver.defaultJavaOptions", f"{launch.options} {user_options}".strip()
    )
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = launch.conf_dir
    try:
        return builder.getOrCreate()
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved


def stop_spark(spark: SparkSession) -> None:
    """Stop ``spark`` and the JVM this process launched for it, and
    return once that JVM has exited; a class archive it wrote on exit
    is adopted for the next launch. A JVM this process did not launch
    (``PYSPARK_GATEWAY_PORT``) is left running."""
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    appcds.wait_for_exit(proc)
    SparkContext._gateway = None
    SparkContext._jvm = None
    appcds.adopt_exited()
