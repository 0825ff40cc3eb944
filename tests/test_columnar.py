"""ORC/Avro columnar-source tests (sources/columnar.py)."""

from __future__ import annotations

import duckdb
import pytest

from tabular_to_parquet_spark.operators.convert import run_conversion
from tabular_to_parquet_spark.sources.columnar import (
    columnar_adapter,
    read_columnar,
)


def test_orc_typed_passthrough(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, 2.5, "a"), (2, 3.5, "b")], "i long, f double, s string"
    )
    src = str(tmp_path / "t.orc")
    df.write.orc(src)
    out = str(tmp_path / "t.parquet")
    res = run_conversion(spark, columnar_adapter(spark, src, "orc"), out)
    assert res.columns == ["i", "f", "s"] and res.types is None and res.rows == 2
    got = duckdb.sql(f"SELECT * FROM '{out}/*.parquet' ORDER BY i").fetchall()
    assert got == [(1, 2.5, "a"), (2, 3.5, "b")]


def test_orc_string_reinference(spark, tmp_path):
    df = spark.createDataFrame(
        [("1", "true", "2024-01-01"), ("2", "false", "2024-01-02")] * 20,
        "i string, b string, d string",
    )
    src = str(tmp_path / "s.orc")
    df.write.orc(src)
    out = str(tmp_path / "s.parquet")
    res = run_conversion(spark, columnar_adapter(spark, src, "orc"), out)
    assert [t.kind for t in res.types] == ["uint64", "bool", "date"]
    assert res.rows == 40
    kinds = {r[0]: r[1] for r in duckdb.sql(
        f"DESCRIBE SELECT * FROM '{out}/*.parquet'").fetchall()}
    assert kinds == {"i": "BIGINT", "b": "BOOLEAN", "d": "DATE"}


AVRO_SCHEMA = {"type": "record", "name": "r", "fields": [
    {"name": "id", "type": "long"},
    {"name": "n", "type": ["null", "int"]},          # null-first union
    {"name": "x", "type": ["double", "null"]},       # null-last union
    {"name": "s", "type": ["null", "string"]},
    {"name": "b", "type": "boolean"},
    {"name": "raw", "type": ["null", "bytes"]},
    {"name": "d", "type": {"type": "int", "logicalType": "date"}},
    {"name": "ts", "type": ["null", {"type": "long",
                                     "logicalType": "timestamp-micros"}]},
]}
AVRO_RECORDS = [
    {"id": 1, "n": 5, "x": 1.5, "s": "héllo", "b": True, "raw": b"\x00\xff",
     "d": 19000, "ts": 1_700_000_000_123_456},
    {"id": 2 ** 62 + 3, "n": None, "x": None, "s": None, "b": False,
     "raw": None, "d": 0, "ts": None},
    {"id": -3, "n": -7, "x": -2.25, "s": "", "b": True, "raw": b"",
     "d": -1, "ts": 0},
]


def _write_parts(tmp_path, codecs=("deflate", "null")):
    from tabular_to_parquet_spark.sources import avro_python as ap

    d = tmp_path / "avro"
    d.mkdir()
    ap.write_container(str(d / "part-0000.avro"), AVRO_SCHEMA,
                       AVRO_RECORDS[:2], codec=codecs[0])
    ap.write_container(str(d / "part-0001.avro"), AVRO_SCHEMA,
                       AVRO_RECORDS[2:], codec=codecs[1])
    return str(d)


def test_avro_python_roundtrip_all_types(spark, tmp_path):
    """Pure-Python fallback: both union orders, both codecs, date and
    timestamp-micros logical types, 64-bit long exactness, empty vs
    null string/bytes — decoded through binaryFile + mapInPandas."""
    import datetime

    src = _write_parts(tmp_path)
    df = read_columnar(spark, src, "avro")
    assert [f"{f.name}:{f.dataType.simpleString()}" for f in df.schema.fields] == [
        "id:bigint", "n:int", "x:double", "s:string", "b:boolean",
        "raw:binary", "d:date", "ts:timestamp",
    ]
    rows = {r["id"]: r for r in df.collect()}
    assert set(rows) == {1, 2 ** 62 + 3, -3}
    assert rows[1]["s"] == "héllo" and rows[1]["raw"] == b"\x00\xff"
    assert rows[1]["d"] == datetime.date(1970, 1, 1) + datetime.timedelta(19000)
    assert rows[1]["ts"] == datetime.datetime(2023, 11, 14, 22, 13, 20, 123456)
    assert rows[2 ** 62 + 3]["n"] is None and rows[2 ** 62 + 3]["ts"] is None
    assert rows[-3]["s"] == "" and rows[-3]["raw"] == b""


def test_avro_convert_typed_and_reinference(spark, tmp_path):
    from tabular_to_parquet_spark.sources import avro_python as ap

    src = _write_parts(tmp_path)
    out = str(tmp_path / "typed.parquet")
    res = run_conversion(spark, columnar_adapter(spark, src, "avro"), out)
    assert res.types is None and res.rows == 3

    # all-string container goes through shared inference
    sschema = {"type": "record", "name": "s", "fields": [
        {"name": "i", "type": ["null", "string"]},
        {"name": "flag", "type": ["null", "string"]},
    ]}
    d2 = tmp_path / "avro_str"
    d2.mkdir()
    ap.write_container(
        str(d2 / "p.avro"), sschema,
        [{"i": str(k), "flag": "true" if k % 2 else "false"}
         for k in range(40)],
    )
    out2 = str(tmp_path / "inferred.parquet")
    res2 = run_conversion(spark, columnar_adapter(spark, str(d2), "avro"), out2)
    assert [t.kind for t in res2.types] == ["uint64", "bool"] and res2.rows == 40


def test_avro_unsupported_shapes_raise(tmp_path):
    from tabular_to_parquet_spark.sources import avro_python as ap

    with pytest.raises(ValueError, match="union"):
        ap.parse_record_schema(
            '{"type":"record","name":"r","fields":'
            '[{"name":"u","type":["int","string"]}]}'
        )
    with pytest.raises(ValueError, match="unsupported Avro type"):
        ap.parse_record_schema(
            '{"type":"record","name":"r","fields":'
            '[{"name":"m","type":{"type":"map","values":"int"}}]}'
        )
    # corrupt sync marker must not decode silently
    path = str(tmp_path / "c.avro")
    ap.write_container(path, {"type": "record", "name": "r", "fields": [
        {"name": "i", "type": "long"}]}, [{"i": 1}])
    blob = bytearray(open(path, "rb").read())
    blob[-1] ^= 0xFF
    open(path, "wb").write(bytes(blob))
    with pytest.raises(ValueError, match="sync"):
        list(ap.iter_records(bytes(blob)))


def test_unknown_format_rejected(spark):
    with pytest.raises(ValueError, match="unsupported"):
        read_columnar(spark, "/nonexistent", "xml")


def test_python_datasource_avro_roundtrip(spark, tmp_path):
    """The Spark 4 Python DataSource path (format 'avro_py') decodes
    the same container the binaryFile+mapInPandas path reads, one
    InputPartition per file."""
    import json as _json

    import pandas as pd

    from tabular_to_parquet_spark.sources import avro_python as ap
    from tabular_to_parquet_spark.sources.datasource_py import (
        AvroContainerDataSource,
    )

    pdf = pd.DataFrame({"a": [1, 2, None], "s": ["x", None, "z"]})
    schema = {"type": "record", "name": "t", "fields": [
        {"name": "a", "type": ["null", "long"]},
        {"name": "s", "type": ["null", "string"]},
    ]}
    fields = ap.parse_record_schema(_json.dumps(schema))
    d = tmp_path / "avro"
    d.mkdir()
    ap.write_container(
        str(d / "part0.avro"), schema, ap.pandas_to_records(pdf, fields)
    )
    spark.dataSource.register(AvroContainerDataSource)
    rows = sorted(
        spark.read.format("avro_py").load(str(d)).collect(),
        key=lambda r: (r["a"] is None, r["a"]),
    )
    assert [(r["a"], r["s"]) for r in rows] == [
        (1, "x"), (2, None), (None, "z")
    ]


def test_python_datasource_filter_pushdown(spark, tmp_path):
    """pushFilters: comparison filters on non-temporal columns are
    applied at decode time (rows never cross the Python boundary);
    results equal the unfiltered frame filtered in Spark."""
    import json as _json

    import pandas as pd

    from tabular_to_parquet_spark.sources import avro_python as ap
    from tabular_to_parquet_spark.sources.datasource_py import (
        AvroContainerDataSource,
    )

    pdf = pd.DataFrame({"a": list(range(20)), "s": [f"v{i%3}" for i in range(20)]})
    schema = {"type": "record", "name": "t", "fields": [
        {"name": "a", "type": ["null", "long"]},
        {"name": "s", "type": ["null", "string"]},
    ]}
    fields = ap.parse_record_schema(_json.dumps(schema))
    d = tmp_path / "avro"
    d.mkdir()
    ap.write_container(
        str(d / "part0.avro"), schema, ap.pandas_to_records(pdf, fields)
    )
    from tabular_to_parquet_spark.sources.datasource_py import (
        AvroPushdownDataSource,
    )

    spark.dataSource.register(AvroPushdownDataSource)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        df = spark.read.format("avro_py_pd").load(str(d))
        got = sorted(
            r["a"] for r in df.filter("a >= 10 AND s = 'v0'").collect()
        )
    finally:
        spark.conf.unset("spark.sql.python.filterPushdown.enabled")
    want = sorted(i for i in range(10, 20) if i % 3 == 0)
    assert got == want


def test_sqlite_datasource_partitions_and_types(spark, tmp_path):
    import sqlite3

    from tabular_to_parquet_spark.sources.datasource_py import SqliteDataSource

    db = str(tmp_path / "t.sqlite")
    con = sqlite3.connect(db)
    con.execute("CREATE TABLE t (a INTEGER, s TEXT, x REAL)")
    con.executemany(
        "INSERT INTO t VALUES (?, ?, ?)",
        [(i, f"r{i}", i / 2.0) for i in range(100)],
    )
    con.commit()
    con.close()
    spark.dataSource.register(SqliteDataSource)
    df = (
        spark.read.format("sqlite_py")
        .option("path", db).option("table", "t")
        .option("partitions", "3").load()
    )
    assert df.rdd.getNumPartitions() == 3
    assert dict(df.dtypes) == {"a": "bigint", "s": "string", "x": "double"}
    rows = sorted((r["a"], r["s"], r["x"]) for r in df.collect())
    assert rows[0] == (0, "r0", 0.0) and len(rows) == 100
