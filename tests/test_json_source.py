"""JSON-lines source tests (format extension; same inference+casts)."""

from __future__ import annotations

import datetime

import duckdb

from tabular_to_parquet_spark.operators.convert import run_conversion
from tabular_to_parquet_spark.sources.json_lines import (
    json_adapter,
    read_json_header,
)


def test_json_lines_conversion(spark, tmp_path):
    src = tmp_path / "d.ndjson"
    lines = ['{"i": 1, "f": 1.5, "b": true, "d": "2024-01-02"}',
             '{"i": "NA", "f": null, "b": "off", "d": "02/01/2024"}',
             '{"i": 3, "b": false, "d": "2024-01-04"}']  # missing key f
    lines += [f'{{"i": {n}, "f": {n}.5, "b": true, "d": "2024-01-02"}}'
              for n in range(200)]
    src.write_text("\n".join(lines) + "\n")
    assert read_json_header(str(src)) == ["i", "f", "b", "d"]
    out = tmp_path / "d.parquet"
    res = run_conversion(spark, json_adapter(spark, str(src)), str(out))
    assert res.columns == ["i", "f", "b", "d"]
    assert [t.kind for t in res.types] == ["uint64", "float64", "bool", "date"]
    rows = duckdb.sql(
        f"SELECT * FROM '{out}/*.parquet' ORDER BY i NULLS FIRST LIMIT 3"
    ).fetchall()
    # null token NA -> null; "off" -> false; day-first date; missing key -> null
    assert rows[0] == (None, None, False, datetime.date(2024, 1, 2))
    assert rows[1] == (0, 0.5, True, datetime.date(2024, 1, 2))
    assert res.rows == 203


def test_json_full_scan_inference(spark, tmp_path):
    src = tmp_path / "late.ndjson"
    vals = [str(n) for n in range(1200)]
    vals[1100] = "99.5"
    src.write_text("\n".join(f'{{"x": {v}}}' for v in vals) + "\n")
    out = tmp_path / "late.parquet"
    res_sample = run_conversion(spark, json_adapter(spark, str(src)), str(out))
    assert res_sample.types[0].kind == "uint64"
    res_full = run_conversion(spark, json_adapter(spark, str(src)), str(out), infer_full=True)
    assert res_full.types[0].kind == "float64"
