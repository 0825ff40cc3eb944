"""XML source — record-per-element documents through the SAME
format-agnostic pipeline (cf. json_lines.py, fixed_width.py,
logfmt.py; the reference reads delimited text only, SURVEY.md §2.8).

Spark 4 ships the spark-xml reader natively (``format("xml")``); an
all-string schema keeps its type inference out of the way so the
shared inference thresholds and lenient cast builders own every type
decision.  The scan is distributed and splittable on row tags.

Record grammar kept deliberately simple (child elements only, no
attributes/namespaces — the fixture-generation subset): a missing
child and an empty element both surface as ``""``, the engine's null
token, matching the JSON-null and logfmt-missing collapse.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tabular_to_parquet_spark.sources.adapter import Adapter, first_data_file


def read_xml_tags(path: str, row_tag: str, max_rows: int = 100) -> list[str]:
    """Column names = union of child tags over the first ``max_rows``
    records, in first-seen order (XML has no header)."""
    names: list[str] = []
    seen: set[str] = set()
    n = 0
    for _, elem in ET.iterparse(path, events=("end",)):
        if elem.tag != row_tag:
            continue
        for child in elem:
            if child.tag not in seen:
                seen.add(child.tag)
                names.append(child.tag)
        n += 1
        elem.clear()
        if n >= max_rows:
            break
    return names


def read_xml_as_strings(
    spark: SparkSession, path: str, row_tag: str, columns: list[str]
) -> DataFrame:
    """Distributed string-typed scan: every child element read as raw
    text (exact source text — no double round-trip)."""
    schema = T.StructType(
        [T.StructField(name, T.StringType(), True) for name in columns]
    )
    df = (
        spark.read.format("xml")
        .schema(schema)
        .option("rowTag", row_tag)
        .load(path)
    )
    # absent child → null → "" so the null-token rule owns the decision
    return df.select(*[F.coalesce(F.col(c), F.lit("")).alias(c) for c in columns])


def sample_xml_rows(
    path: str, row_tag: str, names: list[str], max_rows: int = 1000
) -> list[list[str]]:
    """Driver-side sample in document order (the delimited default's
    first-1000 twin)."""
    rows: list[list[str]] = []
    for _, elem in ET.iterparse(path, events=("end",)):
        if elem.tag != row_tag:
            continue
        vals = {child.tag: (child.text or "") for child in elem}
        rows.append([vals.get(n, "") for n in names])
        elem.clear()
        if len(rows) >= max_rows:
            break
    return rows


def xml_adapter(spark: SparkSession, path: str, row_tag: str = "row") -> Adapter:
    """Record-per-element XML as a conversion adapter; tags and the
    sample come from the first file."""
    head = first_data_file(path)
    names = read_xml_tags(head, row_tag)
    return Adapter(
        names,
        read_xml_as_strings(spark, path, row_tag, names),
        path,
        sample=lambda: sample_xml_rows(head, row_tag, names),
    )
