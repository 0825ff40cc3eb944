"""JSON-lines source — a format extension beyond the reference (which
reads delimited text only, SURVEY.md §2.8 "no JSON/Avro/ORC sources").

The whole engine after the scan is format-agnostic: inference and the
lenient casts operate on a string-typed frame. This source reads
ndjson with every field as a raw string (``primitivesAsString`` keeps
Spark's JSON reader from making its own type decisions), after which
the SAME inference thresholds and cast builders apply — one pipeline,
two wire formats.
"""

from __future__ import annotations

import json
from itertools import islice

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tabular_to_parquet_spark.sources.adapter import Adapter, first_data_file


def _json_objects(path: str):
    """One item per line: the parsed object, or ``None`` for a blank,
    malformed or non-object line."""
    with open(path, encoding="utf-8", errors="replace") as fh:
        for line in fh:
            try:
                obj = json.loads(line)
            except ValueError:
                obj = None
            yield obj if isinstance(obj, dict) else None


def read_json_header(path: str, max_lines: int = 100) -> list[str]:
    """Column names = union of keys over the first ``max_lines``
    objects, in first-seen order (JSON has no header line)."""
    names: dict[str, None] = {}  # an insertion-ordered set
    for obj in islice(_json_objects(path), max_lines):
        names.update(dict.fromkeys(obj or ()))
    return list(names)


def read_json_as_strings(
    spark: SparkSession, path: str, columns: list[str]
) -> DataFrame:
    """Distributed string-typed scan of a JSON-lines file: every field
    read as its raw text so the shared cast builders own ALL type
    decisions (numbers keep their exact source text — no double
    round-trip).

    A line that is not valid UTF-8 is one Jackson rejects outright (a
    PERMISSIVE all-NULL row); it is re-parsed from its U+FFFD-decoded
    text instead, as the delimited reader sees such a line — so its
    values survive the default repair and ``strict_drop`` recognizes
    the row."""
    fields = [T.StructField(name, T.StringType(), True) for name in columns]
    schema = T.StructType(fields)
    df = (
        spark.read.schema(T.StructType(fields + [T.StructField("__line", T.StringType())]))
        .option("primitivesAsString", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "__line")
        .json(path)
    )
    invalid = ~F.is_valid_utf8("__line")  # NULL (not invalid) for parsed lines
    repaired = F.from_json(F.make_valid_utf8("__line"), schema)
    return df.select(
        *[F.when(invalid, repaired[c]).otherwise(F.col(c)).alias(c) for c in columns]
    )


def json_adapter(spark: SparkSession, path: str) -> Adapter:
    """JSON lines as a conversion adapter; names and the sample come
    from the first file."""
    head = first_data_file(path)
    names = read_json_header(head)

    def sample() -> list[list[str]]:
        # JSON null / missing key observed as "" (a null token),
        # matching the ragged-row rule
        objs = islice((o for o in _json_objects(head) if o is not None), 1000)
        return [["" if o.get(n) is None else str(o.get(n)) for n in names] for o in objs]

    return Adapter(names, read_json_as_strings(spark, path, names), path, sample)
