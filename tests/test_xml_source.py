"""XML source tests (sources/xml_source): tag discovery, null-token
collapse for missing/empty elements, typed conversion, and the CLI
path.  Exact roundtrip values are oracle-gated (xml1)."""

from __future__ import annotations

import os
import subprocess
import sys

import duckdb
import pytest

from tabular_to_parquet_spark.operators.convert import run_conversion
from tabular_to_parquet_spark.sources import xml_source as xs

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture()
def xml_file(tmp_path):
    p = tmp_path / "data.xml"
    p.write_text(
        "<rows>\n"
        "<row><id>1</id><name>alice</name><score>2.5</score></row>\n"
        "<row><id>2</id><score>3.5</score><extra>tail</extra></row>\n"
        "<row><id>3</id><name></name><score>NA</score></row>\n"
        "</rows>\n",
        encoding="utf-8",
    )
    return str(p)


def test_tag_discovery_first_seen_order(xml_file):
    assert xs.read_xml_tags(xml_file, "row") == ["id", "name", "score", "extra"]


def test_missing_and_empty_collapse_to_null(spark, xml_file, tmp_path):
    out = str(tmp_path / "out.parquet")
    res = run_conversion(spark, xs.xml_adapter(spark, xml_file), out)
    names, types = res.columns, res.types
    assert names == ["id", "name", "score", "extra"]
    rows = {r["id"]: r for r in spark.read.parquet(out).collect()}
    assert rows[1]["score"] == 2.5 and rows[1]["name"] == "alice"
    assert rows[2]["name"] is None          # absent element
    assert rows[3]["name"] is None          # empty element
    assert rows[3]["score"] is None         # 'NA' null token
    assert rows[2]["extra"] == "tail"
    # inference picked uint64 for the non-negative id column (reference
    # semantics, schema.rs uint preference) and float64 for score
    kinds = {n: t.kind for n, t in zip(names, types)}
    assert kinds["id"] == "uint64" and kinds["score"] == "float64"


def test_cli_xml_format(xml_file, tmp_path):
    out = str(tmp_path / "cli_out.parquet")
    r = subprocess.run(
        [sys.executable, "-m", "tabular_to_parquet_spark.cli",
         xml_file, "--format", "xml", "--output", out],
        capture_output=True, text=True, cwd=REPO,
        env={**os.environ, "PYTHONPATH": REPO},
        timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert duckdb.sql(f"SELECT COUNT(*) FROM '{out}/*.parquet'").fetchone()[0] == 3
    # the same banner as the delimited path: rows and throughput
    assert "conversion done: 3 rows in" in r.stderr and "lines/s" in r.stderr
