"""Session-level defaults shared by every table loader."""

from __future__ import annotations

import pytest

from tabular_to_parquet_spark import session
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


@pytest.mark.parametrize("value", ["four", "0", "-2", "2.5", ""])
def test_malformed_cpus_fail_before_any_jvm(value, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", value)
    monkeypatch.setattr(session, "_create", _no_jvm)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        session.get_spark("malformed_env")


@pytest.mark.parametrize("value", ["lots", "2gb", "0g", "-1g", "1.5g", ""])
def test_malformed_driver_memory_fails_before_any_jvm(value, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", value)
    monkeypatch.setattr(session, "_create", _no_jvm)
    with pytest.raises(ValueError, match="SPARK_GRAFT_DRIVER_MEM"):
        session.get_spark("malformed_env")


@pytest.mark.parametrize("value", ["2g", "512m", "1T", "4294967296"])
def test_jvm_sizes_pass(value, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", value)
    assert session.resolve_driver_memory() == value


def test_cli_reports_a_malformed_setting(tmp_path, monkeypatch, capsys):
    from tabular_to_parquet_spark import cli

    src = tmp_path / "t.csv"
    src.write_text("a\n1\n")
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "four")
    monkeypatch.setattr(session, "_create", _no_jvm)
    assert cli.main([str(src)]) == 1
    assert "SPARK_GRAFT_CPUS='four' is not a positive integer" in capsys.readouterr().err


def _no_jvm(*args, **kwargs):
    raise AssertionError("a JVM launch was attempted")
