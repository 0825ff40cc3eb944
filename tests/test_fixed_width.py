"""Fixed-width source: slicing, trimming, ragged short lines, and the
shared inference pipeline (cross-engine value parity is the fw1 gate)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import types as T

from tabular_to_parquet_spark.operators.convert import run_conversion
from tabular_to_parquet_spark.sources.fixed_width import (
    FWField,
    fields_from_widths,
    fixed_width_adapter,
    read_fixed_width_as_strings,
)


def test_fields_from_widths_contiguous():
    fs = fields_from_widths([("a", 3), ("b", 5), ("c", 2)])
    assert fs == [FWField("a", 1, 3), FWField("b", 4, 5), FWField("c", 9, 2)]


@pytest.mark.parametrize("spec", ["a:x", "a", "a:0", "a:-3", "a:5,:4"])
def test_cli_rejects_malformed_spec_before_spark(spec, tmp_path, capsys):
    # argparse exits 2 while parsing, so no Spark session is ever built
    from tabular_to_parquet_spark import cli

    src = tmp_path / "fw.txt"
    src.write_text("abc\n")
    with pytest.raises(SystemExit) as exc:
        cli.main([str(src), "--format", "fixed-width", "--fixed-width-spec", spec])
    assert exc.value.code == 2
    assert "--fixed-width-spec" in capsys.readouterr().err


def test_read_and_convert_fixed_width(spark, tmp_path):
    # widths: id=4 right-aligned, name=6 left-aligned, price=8, date=10
    def mk(i, name, price, d):
        return f"{i:>4}{name:<6}{price:>8}{d:<10}"

    lines = [
        mk("1", "ab", "1.25", "2024-01-02"),
        mk("22", "x y", "11.5", "2024-02-03"),
        mk("333", "veryln", "0.75", "invalid-dt"),
        " 444",  # ragged: short line -> empty fields -> nulls
    ]
    src = tmp_path / "fw.txt"
    src.write_text("\n".join(lines) + "\n")
    fields = fields_from_widths(
        [("id", 4), ("name", 6), ("price", 8), ("d", 10)]
    )

    raw = {r["id"]: r for r in
           read_fixed_width_as_strings(spark, str(src), fields).collect()}
    assert raw["22"]["name"] == "x y"          # inner space kept
    assert raw["333"]["name"] == "veryln"
    assert raw["444"]["price"] == ""           # ragged -> empty

    out = str(tmp_path / "fw.parquet")
    res = run_conversion(spark, fixed_width_adapter(spark, str(src), fields), out)
    assert res.columns == ["id", "name", "price", "d"]
    got = spark.read.parquet(out)
    schema = {f.name: f.dataType for f in got.schema.fields}
    assert schema["id"] == T.LongType()
    assert schema["price"] == T.DoubleType()
    assert schema["name"] == T.StringType()
    # 'invalid-dt' forces the date column to string, not date
    assert schema["d"] == T.StringType()
    rows = {r["id"]: r for r in got.collect()}
    assert rows[22]["price"] == 11.5
    assert rows[444]["name"] is None and rows[444]["price"] is None


def test_date_column_infers_date(spark, tmp_path):
    src = tmp_path / "d.txt"
    src.write_text("2024-01-02\n2024-02-03\n")
    out = str(tmp_path / "d.parquet")
    run_conversion(spark, fixed_width_adapter(spark, str(src), [FWField("d", 1, 10)]), out)
    got = spark.read.parquet(out)
    assert got.schema.fields[0].dataType == T.DateType()
    assert got.count() == 2


def test_fixed_width_slicing_differential(spark, tmp_path):
    """The driver-side sampling twin must agree with the distributed
    substring/trim projection on randomized lines (seeded): ragged
    short lines, all-space fields, values touching field boundaries."""
    import random

    from tabular_to_parquet_spark.sources.fixed_width import _slice_line

    rng = random.Random(7)
    fields = fields_from_widths([("a", 4), ("b", 7), ("c", 3), ("d", 9)])
    chars = "xy9. -"
    lines = []
    for _ in range(200):
        # random total length: shorter, exact, or longer than the spec
        ln = "".join(rng.choices(chars, k=rng.randint(0, 28)))
        lines.append(ln)
    src = tmp_path / "fuzz.txt"
    src.write_text("\n".join(lines) + "\n")

    got = sorted(
        tuple(r)
        for r in read_fixed_width_as_strings(spark, str(src), fields)
        .toPandas().itertuples(index=False)
    )
    expected = sorted(tuple(_slice_line(l, fields)) for l in lines)
    assert got == expected
