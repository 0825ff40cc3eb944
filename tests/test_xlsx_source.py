"""XLSX source: cell-reference math, shared/inline strings, writer
roundtrip, ragged padding, XML escaping, conversion pipeline."""

from __future__ import annotations

import io
import zipfile

from tabular_to_parquet_spark.operators.convert import run_conversion
from tabular_to_parquet_spark.sources import xlsx_source as xs


def test_col_index():
    assert xs._col_index("A1") == 0
    assert xs._col_index("Z9") == 25
    assert xs._col_index("AA10") == 26
    assert xs._col_index("BC12") == 54


def test_writer_reader_roundtrip(tmp_path):
    rows = [["k", "v"], ["1", "x,<&>"], ["2", 'he said "hi"'], ["3", ""]]
    p = str(tmp_path / "t.xlsx")
    xs.write_xlsx(rows, p)
    back = xs.sheet_rows(open(p, "rb").read())
    assert back == [[str(c) for c in r] for r in rows]


def test_shared_strings_and_numbers(tmp_path):
    # hand-built workbook exercising the t="s" shared-string path and
    # raw numeric <v> cells (what real producers emit)
    ss = (
        '<?xml version="1.0"?><sst xmlns="http://schemas.openxmlformats.org/'
        'spreadsheetml/2006/main" count="2" uniqueCount="2">'
        "<si><t>name</t></si><si><t>alpha</t></si></sst>"
    )
    sheet = (
        '<?xml version="1.0"?><worksheet xmlns="http://schemas.'
        'openxmlformats.org/spreadsheetml/2006/main"><sheetData>'
        '<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="inlineStr">'
        "<is><t>n</t></is></c></row>"
        '<row r="2"><c r="A2" t="s"><v>1</v></c><c r="B2"><v>42.5</v></c></row>'
        "</sheetData></worksheet>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("[Content_Types].xml", xs._CONTENT_TYPES)
        zf.writestr("_rels/.rels", xs._RELS)
        zf.writestr("xl/workbook.xml", xs._WORKBOOK)
        zf.writestr("xl/_rels/workbook.xml.rels", xs._WORKBOOK_RELS)
        zf.writestr("xl/sharedStrings.xml", ss)
        zf.writestr("xl/worksheets/sheet1.xml", sheet)
    assert xs.sheet_rows(buf.getvalue()) == [["name", "n"], ["alpha", "42.5"]]


def test_sparse_rows_pad(tmp_path):
    sheet = (
        '<?xml version="1.0"?><worksheet xmlns="http://schemas.'
        'openxmlformats.org/spreadsheetml/2006/main"><sheetData>'
        '<row r="1"><c r="A1" t="inlineStr"><is><t>a</t></is></c>'
        '<c r="C1" t="inlineStr"><is><t>c</t></is></c></row>'
        '<row r="2"><c r="B2"><v>7</v></c></row>'
        "</sheetData></worksheet>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("xl/worksheets/sheet1.xml", sheet)
    # A..C from row 1; row 2 only B -> pads to width 3
    assert xs.sheet_rows(buf.getvalue()) == [["a", "", "c"], ["", "7", ""]]


def test_convert_infers_types(spark, tmp_path):
    d = tmp_path / "books"
    d.mkdir()
    rows = [["n", "f", "s"]] + [[str(i), f"{i}.5", f"w{i}"] for i in range(40)]
    xs.write_xlsx(rows, str(d / "b.xlsx"))
    out = str(tmp_path / "out.parquet")
    res = run_conversion(spark, xs.xlsx_adapter(spark, str(d)), out)
    assert res.columns == ["n", "f", "s"]
    back = spark.read.parquet(out)
    dt = dict(back.dtypes)
    assert dt["n"] == "bigint" and dt["f"] == "double" and dt["s"] == "string"
    assert back.count() == 40
