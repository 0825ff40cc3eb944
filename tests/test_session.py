"""Session-level defaults shared by every table loader."""

from __future__ import annotations

from tabular_to_parquet_spark.sources.tables import _ensure_session_confs

_CONFS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.session.timeZone",
    "spark.sql.execution.pythonUDTF.arrow.enabled",
)


def test_table_confs_size_shuffles_from_resolved_cpus(spark, monkeypatch):
    # the loaders size shuffle partitions from session.resolve_cpus(),
    # the one core-count source, not from the host's os.cpu_count()
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    saved = {k: spark.conf.get(k, None) for k in _CONFS}
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "200")
        _ensure_session_confs(spark)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
    finally:
        for key, value in saved.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)
