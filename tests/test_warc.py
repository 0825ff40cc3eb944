"""WARC source: record grammar, gzip layouts, HTTP split, reader
plumbing, and the CLI conversion branch."""

from __future__ import annotations

import gzip

import pytest

from tabular_to_parquet_spark.operators.convert import run_conversion
from tabular_to_parquet_spark.sources import warc


def _record(i: int, body: bytes = b"hello") -> bytes:
    return warc.write_warc_record(
        {
            "WARC-Type": "response",
            "WARC-Record-ID": f"<urn:uuid:{i}>",
            "WARC-Target-URI": f"http://ex.com/doc/{i}",
            "WARC-Date": "2024-03-01T00:00:05Z",
            "Content-Type": "application/http; msgtype=response",
        },
        warc.http_response_payload(body),
    )


def test_roundtrip_plain_records():
    blob = _record(0) + _record(1, b"x" * 100)
    recs = list(warc.parse_warc_records(blob))
    assert len(recs) == 2
    headers, payload = recs[1]
    assert headers["warc-target-uri"] == "http://ex.com/doc/1"
    status, http, body = warc.split_http_response(payload)
    assert status == 200 and http["content-type"] == "text/plain"
    assert body == b"x" * 100


def test_gzip_whole_file_and_member_layouts_agree():
    blob = _record(0) + _record(1)
    whole = gzip.compress(blob, mtime=0)
    members = warc.gzip_member(_record(0)) + warc.gzip_member(_record(1))
    assert list(warc.parse_warc_records(whole)) == list(
        warc.parse_warc_records(members)
    ) == list(warc.parse_warc_records(blob))


def test_truncated_record_raises():
    blob = _record(0)
    with pytest.raises(ValueError, match="truncated"):
        list(warc.parse_warc_records(blob[:-10]))


def test_non_warc_bytes_raise():
    with pytest.raises(ValueError, match="not a WARC record"):
        list(warc.parse_warc_records(b"HTTP/1.1 200 OK\r\n\r\n"))


def test_non_http_payload_passthrough():
    status, headers, body = warc.split_http_response(b"software: fixture")
    assert status is None and headers == {} and body == b"software: fixture"


def test_binary_body_with_crlf_inside_survives():
    # payload bytes containing the record terminator sequence must not
    # split the record: Content-Length is authoritative
    body = b"a\r\n\r\nb" * 7
    blob = _record(0, body) + _record(1, b"tail")
    recs = list(warc.parse_warc_records(blob))
    assert len(recs) == 2
    _, payload = recs[0]
    assert warc.split_http_response(payload)[2] == body


def test_reader_dataframe(spark, tmp_path):
    import pyspark.sql.functions as F

    d = tmp_path / "arch"
    d.mkdir()
    (d / "a.warc").write_bytes(_record(0) + _record(1, b"bb"))
    (d / "b.warc.gz").write_bytes(warc.gzip_member(_record(2, b"ccc")))
    df = warc.read_warc_python(spark, str(d))
    rows = {
        r["target_uri"]: r
        for r in df.filter(F.col("warc_type") == "response").collect()
    }
    assert len(rows) == 3
    assert rows["http://ex.com/doc/2"]["payload_len"] == 3
    assert bytes(rows["http://ex.com/doc/2"]["http_body"]) == b"ccc"
    assert rows["http://ex.com/doc/0"]["http_status"] == 200
    assert rows["http://ex.com/doc/0"]["warc_date"].isoformat().startswith(
        "2024-03-01T00:00:05"
    )


def test_convert_cli_branch(spark, tmp_path):
    d = tmp_path / "arch"
    d.mkdir()
    (d / "a.warc").write_bytes(_record(0))
    out = str(tmp_path / "out.parquet")
    res = run_conversion(spark, warc.warc_adapter(spark, str(d)), out)
    assert res.types is None and res.rows == 1
    back = spark.read.parquet(out)
    assert back.count() == 1
    assert dict(back.dtypes)["warc_date"] == "timestamp"
    assert dict(back.dtypes)["http_body"] == "binary"


def test_write_warc_roundtrip_and_manifest(spark, tmp_path):
    import pyspark.sql.functions as F

    out = str(tmp_path / "arch")
    src = spark.range(0, 40).select(
        F.concat(F.lit("http://ex.com/doc/"), F.col("id")).alias("target_uri"),
        F.timestamp_seconds(F.lit(1709251200) + F.col("id")).alias("warc_date"),
        F.encode(F.concat(F.lit("body-"), F.col("id")), "UTF-8").alias(
            "http_body"
        ),
    )
    manifest = warc.write_warc(src.repartition(3), out)
    assert sum(n for _, n in manifest) == 40
    assert len(manifest) <= 3 and all(f.endswith(".warc.gz") for f, _ in manifest)

    back = warc.read_warc_python(spark, out)
    assert back.count() == 40

    # torn-task simulation: an UNLISTED orphan part must be ignored
    import shutil

    parts = sorted((tmp_path / "arch").glob("part-*.warc.gz"))
    shutil.copy(parts[0], tmp_path / "arch" / ("part-" + "0" * 32 + ".warc.gz"))
    assert warc.read_warc_python(spark, out).count() == 40
