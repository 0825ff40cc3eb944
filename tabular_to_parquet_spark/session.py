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

import os

from pyspark.sql import SparkSession


def ensure_utc(spark: SparkSession) -> str | None:
    """Pin a caller-provided session to UTC at runtime.

    The epoch-integer timestamp path (parsers.parse_timestamp_ms) goes
    through unix_timestamp/cast, which is session-timezone-sensitive;
    under a non-UTC session epoch values would shift by the zone offset
    while text timestamps round-trip — internally inconsistent columns.
    Sessions built by :func:`get_spark` are already UTC; this covers
    driver-harness or user sessions.

    Returns the PRIOR timezone string when the session had to be
    re-pinned (``None`` when it was already UTC). The conversion run
    scopes its own pin (``operators.convert.run_conversion``); callers
    that hand back a LAZY DataFrame must leave the pin in place — the
    conf is read at action time, so un-pinning would shift the frame's
    epoch casts.
    """
    prior = spark.conf.get("spark.sql.session.timeZone", "")
    if prior != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        return prior or None
    return None


def warm_codegen(*frames) -> float:
    """Pre-compile whole-stage-codegen classes for the given plans by
    executing them through the noop sink; returns seconds spent.

    The one-shot wall time of codegen-heavy operators (minhash
    signatures: 16 fused MIN aggregates; IVF: 16×64 literal dot
    products) is dominated by one-time Janino compilation — measured at
    sf0.01: minhash_pairs 8.0 s cold vs 2.4 s warm in the same JVM.
    Janino's class cache is keyed on generated source, which depends on
    plan STRUCTURE, not data volume — so build each frame over a tiny
    slice of the real input (e.g. ``minhash_pairs(docs.limit(200))``)
    and the real run reuses the compiled classes (measured: full run
    after a 200-row warm = 2.5 s ≈ the 2.4 s fully-warm floor).

    Do NOT build the warm plan over ``limit(0)``: Catalyst's
    OptimizeLimitZero collapses it to an empty LocalRelation and most
    stages are never generated. On a long-running cluster this matters
    less (compilation amortizes); for latency-sensitive one-shot jobs,
    call this at session start — e.g. while input data is still
    landing.
    """
    import time

    t0 = time.monotonic()
    for df in frames:
        df.write.format("noop").mode("overwrite").save()
    return time.monotonic() - t0


def parse_extra_conf(env_conf: str) -> tuple[dict[str, str], list[str]]:
    """Parse ``SPARK_GRAFT_EXTRA_CONF`` into ``(confs, malformed)``.

    Entries split on ';' when one is present, else ',' (r14 ADVICE:
    conf values like ``extraJavaOptions`` legitimately contain commas —
    spell those with ';'). Malformed (non-``k=v``) entries are returned
    for loud reporting instead of being silently dropped."""
    sep = ";" if ";" in env_conf else ","
    confs: dict[str, str] = {}
    bad: list[str] = []
    for item in filter(None, (s.strip() for s in env_conf.split(sep))):
        k, _, v = item.partition("=")
        if k and v:
            confs[k] = v
        else:
            bad.append(item)
    return confs, bad


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
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
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
    env_confs, env_bad = parse_extra_conf(
        os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    )
    if env_bad:
        import sys

        print(
            f"[get_spark] SPARK_GRAFT_EXTRA_CONF entries not k=v — "
            f"IGNORED: {env_bad}",
            file=sys.stderr,
        )
    for k, v in env_confs.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
