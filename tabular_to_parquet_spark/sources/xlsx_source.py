"""XLSX source — minimal Office Open XML spreadsheet reader on the
stdlib only (``zipfile`` + ``xml.etree``; the container has no
openpyxl/xlrd, and the engine needs none: an ``.xlsx`` is a zip of
XML parts).

Scope (documented, not a general Excel implementation): the FIRST
worksheet of each workbook, cell values as their stored text — shared
strings (``t="s"``), inline strings (``t="inlineStr"``), and raw
``<v>`` texts (numbers/booleans as Excel serialized them).  Formulas
surface as their cached ``<v>`` result; styles/dates are NOT decoded
(Excel's day-serial convention is a presentation concern — a date
column round-trips as its serial text and the lenient casts own any
re-typing, exactly like every other stringly wire format here).

Scan shape (the tar/warc recipe): ``binaryFile`` lists workbooks —
one row per ``.xlsx`` — and an Arrow-batched ``mapInPandas`` parses
executor-side; names come from the first row of the first workbook;
everything downstream is the SHARED inference + lenient-cast
pipeline.  One task per workbook; dumps shard across files.
"""

from __future__ import annotations

import io
import re
import zipfile
from xml.etree import ElementTree as ET

from pyspark.sql import DataFrame, SparkSession

from tabular_to_parquet_spark.sources.adapter import Adapter, first_container
from tabular_to_parquet_spark.sources.text import sanitize_names

_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_CELL_REF = re.compile(r"^([A-Z]+)[0-9]+$")


def _col_index(ref: str) -> int:
    """'A1' -> 0, 'BC12' -> 54 (base-26 letters)."""
    m = _CELL_REF.match(ref)
    if not m:
        raise ValueError(f"bad cell reference {ref!r}")
    n = 0
    for ch in m.group(1):
        n = n * 26 + (ord(ch) - 64)
    return n - 1


def _shared_strings(zf: zipfile.ZipFile) -> list[str]:
    """The shared-string table (streamed like sheet_rows — the string
    LIST is inherent state, the XML DOM around it is not)."""
    if "xl/sharedStrings.xml" not in zf.namelist():
        return []
    out = []
    with zf.open("xl/sharedStrings.xml") as fh:
        root = None
        for event, el in ET.iterparse(fh, events=("start", "end")):
            if event == "start":
                if root is None:
                    root = el
                continue
            if el.tag == f"{_NS}si":
                out.append(
                    "".join(t.text or "" for t in el.iter(f"{_NS}t"))
                )
                el.clear()
                if root is not None:
                    root.clear()
    return out


def _first_sheet_name(zf: zipfile.ZipFile) -> str:
    for name in sorted(zf.namelist()):
        if re.fullmatch(r"xl/worksheets/sheet[0-9]+\.xml", name):
            return name
    raise ValueError("workbook has no worksheet parts")


def sheet_rows(buf: bytes) -> list[list[str]]:
    """All rows of the first worksheet as dense string lists (missing
    cells pad with ``""`` — the engine's null token).

    Streaming parse: ``ET.iterparse`` over the zip member with
    per-row subtree clearing, NOT ``fromstring`` — the full-DOM form
    held the whole decompressed sheet as an Element tree per task,
    which the r11 100x CLI soak measured at ~3.5 GiB PER WORKER on
    625k-row sheets (125 GiB tree RSS across 32 workers, an OOM at
    the OOXML 1,048,576-row sheet limit).  Clearing the finished
    <row> subtree and the <sheetData> child list after every row
    keeps live memory O(one row) + O(sharedStrings)."""
    with zipfile.ZipFile(io.BytesIO(buf)) as zf:
        shared = _shared_strings(zf)
        rows: list[list[str]] = []
        width = 0
        with zf.open(_first_sheet_name(zf)) as fh:
            sheet_data = None
            for event, el in ET.iterparse(fh, events=("start", "end")):
                if event == "start":
                    if el.tag == f"{_NS}sheetData":
                        sheet_data = el
                    continue
                if el.tag != f"{_NS}row":
                    continue
                cells: dict[int, str] = {}
                for c in el.iter(f"{_NS}c"):
                    ref = c.get("r")
                    idx = _col_index(ref) if ref else len(cells)
                    t = c.get("t")
                    if t == "inlineStr":
                        val = "".join(
                            e.text or "" for e in c.iter(f"{_NS}t")
                        )
                    else:
                        v = c.find(f"{_NS}v")
                        val = (
                            v.text
                            if v is not None and v.text is not None
                            else ""
                        )
                        if t == "s":
                            val = shared[int(val)] if val != "" else ""
                    cells[idx] = val
                el.clear()
                if sheet_data is not None:
                    sheet_data.clear()
                if not cells:
                    rows.append([])
                    continue
                width = max(width, max(cells) + 1)
                rows.append([cells.get(i, "") for i in range(max(cells) + 1)])
    return [r + [""] * (width - len(r)) for r in rows]


def read_xlsx_header(spark: SparkSession, path: str) -> list[str]:
    """Column names from the first row of the first workbook.

    The header row defines the table width (the tar/csv convention:
    wider data rows are truncated, shorter ones padded) — so trailing
    ``""`` cells are stripped: sheet_rows pads every row to the SHEET
    max width, and without the strip a single ragged-wide data row
    would silently widen the schema with empty-named columns (found
    by the r11 xlsx fuzzer)."""
    rows = sheet_rows(first_container(spark, path, "workbooks"))
    if not rows:
        raise ValueError("first workbook's sheet is empty")
    header = list(rows[0])
    while header and header[-1] == "":
        header.pop()
    if not header:
        raise ValueError("first workbook's header row is empty")
    return header


def read_xlsx_as_strings(
    spark: SparkSession, path: str, names: list[str]
) -> DataFrame:
    import pandas as pd

    files = spark.read.format("binaryFile").load(path)
    width = len(names)

    def decode(batches):
        for pdf in batches:
            for content in pdf["content"]:
                rows = sheet_rows(bytes(content))[1:]  # per-sheet header
                fixed = [
                    (r + [""] * (width - len(r)))[:width] for r in rows if r
                ]
                yield pd.DataFrame(fixed, columns=names, dtype=object)

    schema = ", ".join(f"`{n}` string" for n in names)
    return files.select("content").mapInPandas(decode, schema=schema)


def xlsx_adapter(spark: SparkSession, path: str) -> Adapter:
    """Workbooks as a conversion adapter; names and the sample come
    from the first workbook's sheet."""
    names = sanitize_names(read_xlsx_header(spark, path))
    width = len(names)

    def sample() -> list[list[str]]:
        rows = sheet_rows(first_container(spark, path, "workbooks"))[1:1001]
        return [(r + [""] * (width - len(r)))[:width] for r in rows]

    return Adapter(names, read_xlsx_as_strings(spark, path, names), path, sample)


# ---------------------------------------------------------------------------
# minimal writer (fixtures + "export to Excel")

_CONTENT_TYPES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
    '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
    '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
    "</Types>"
)
_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
    "</Relationships>"
)
_WORKBOOK = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
    'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
    '<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>'
)
_WORKBOOK_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
    "</Relationships>"
)


def _xml_escape(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    )


def write_xlsx(rows: list[list[str]], path: str) -> None:
    """Minimal single-sheet workbook: every cell an inline string —
    self-contained (no sharedStrings part), valid for any OOXML
    reader, and exactly the subset ``sheet_rows`` decodes."""
    body = []
    for ri, row in enumerate(rows, start=1):
        cells = []
        for ci, val in enumerate(row):
            ref = ""
            n = ci + 1
            while n:
                n, rem = divmod(n - 1, 26)
                ref = chr(65 + rem) + ref
            cells.append(
                f'<c r="{ref}{ri}" t="inlineStr"><is><t xml:space="preserve">'
                f"{_xml_escape(str(val))}</t></is></c>"
            )
        body.append(f'<row r="{ri}">' + "".join(cells) + "</row>")
    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        "<sheetData>" + "".join(body) + "</sheetData></worksheet>"
    )
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("[Content_Types].xml", _CONTENT_TYPES)
        zf.writestr("_rels/.rels", _RELS)
        zf.writestr("xl/workbook.xml", _WORKBOOK)
        zf.writestr("xl/_rels/workbook.xml.rels", _WORKBOOK_RELS)
        zf.writestr("xl/worksheets/sheet1.xml", sheet)
