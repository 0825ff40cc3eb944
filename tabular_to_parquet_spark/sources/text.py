"""Delimited-text sources (operators S1/S2/I4, SURVEY.md §2.1/§2.3).

Two read paths:

- ``read_sample_rows`` — driver-side: the first N data rows in FILE
  ORDER, parsed with Python's csv module (semantics equivalent to the
  Rust csv crate with ``flexible=true``: ragged rows pass through,
  quoting honored). Used for default schema inference, where "first
  1,000 rows" must be deterministic file order (reference
  src/schema.rs:11,329-331) — Spark's ``limit()`` gives no such
  guarantee across partitions.

- ``read_delimited_as_strings`` — the distributed path: Spark CSV
  reader, every column StringType, PERMISSIVE. Ragged rows are
  null-filled / truncated exactly like the reference's converter
  (missing field → "" → null, extras dropped; analyse.rs:98-105).
  Quote doubling (RFC 4180) matches the Rust csv crate via
  ``escape='"'``.
"""

from __future__ import annotations

import csv
import io

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from tabular_to_parquet_spark.sources.adapter import Adapter, first_data_file
from tabular_to_parquet_spark.sources.sniff import detect_delimiter


def open_text(path: str):
    """Text handle with transparent gzip: if the file starts with the
    gzip magic (1f 8b) decompress on the fly — Spark's csv scan
    already handles .gz by extension, so this keeps the driver-side
    sniff/header/sample readers in step with the distributed scan."""
    with open(path, "rb") as fh:
        magic = fh.read(2)
    if magic == b"\x1f\x8b":
        import gzip

        return io.TextIOWrapper(
            gzip.open(path, "rb"), encoding="utf-8", errors="replace",
            newline="",
        )
    return io.open(path, "r", encoding="utf-8", errors="replace", newline="")


def read_header(path: str, delimiter: str) -> list[str]:
    """Column names from line 1 (headers are mandatory in the reference —
    schema.rs:307,310)."""
    with open_text(path) as fh:
        reader = csv.reader(fh, delimiter=delimiter, quotechar='"')
        try:
            return next(reader)
        except StopIteration:
            return []


def read_sample_rows(
    path: str, delimiter: str, max_rows: int = 1000
) -> tuple[list[str], list[list[str]]]:
    """(header, first ``max_rows`` data rows) in file order — the
    default sample inference (reference schema.rs:11). Whole-file
    inference (--infer-full-schema) is Spark-side instead
    (:func:`~tabular_to_parquet_spark.plans.inference.infer_schema_distributed`).
    Unreadable rows are skipped, like the reference's inference loop
    (schema.rs:317-320).
    """
    rows: list[list[str]] = []
    with open_text(path) as fh:
        reader = csv.reader(fh, delimiter=delimiter, quotechar='"')
        header = next(reader, [])
        for rec in reader:
            # the reference's line reader drops non-UTF-8 lines before
            # they reach inference (.lines().filter_map(Result::ok),
            # schema.rs:317-320 via conversion.rs:208) — mirror that by
            # skipping rows carrying the decode-replacement character,
            # so "first N rows" means the first N READABLE rows
            if any("�" in field for field in rec):
                continue
            rows.append(rec)
            if len(rows) >= max_rows:
                break
    return header, rows


def sanitize_names(names: list[str]) -> list[str]:
    """Make header names usable as Spark column names.

    The reference keeps names verbatim (Arrow allows duplicates/empty);
    Spark does not — dedupe with a ``_N`` suffix and name empties
    ``col_i``. Documented divergence (only reachable with degenerate
    headers).
    """
    out: list[str] = []
    seen: dict[str, int] = {}
    for i, raw in enumerate(names):
        name = raw.strip() or f"col_{i}"
        if name in seen:
            seen[name] += 1
            name = f"{name}_{seen[name]}"
        else:
            seen[name] = 0
        out.append(name)
    return out


def delimited_reader(reader, delimiter: str, columns: list[str]):
    """The string-typed delimited scan definition, applied to a batch
    ``spark.read`` or a streaming ``spark.readStream``: every column
    StringType, header line skipped, RFC 4180 quoting, PERMISSIVE.
    Call ``.csv(path)`` on the result."""
    schema = T.StructType(
        [T.StructField(name, T.StringType(), True) for name in columns]
    )
    return reader.schema(schema).options(
        header=True,  # skip line 1; names come from `schema`
        delimiter=delimiter,
        quote='"',
        escape='"',  # RFC 4180 doubled quotes, like the csv crate
        multiLine=False,
        mode="PERMISSIVE",
        emptyValue="",
    )


def read_delimited_as_strings(
    spark: SparkSession,
    path: str,
    delimiter: str,
    columns: list[str],
) -> DataFrame:
    """Distributed string-typed scan of a delimited file with header.

    All parsing/casting happens later via the expression builders
    (functions/parsers.py), so Catalyst sees one scan → one projection
    and can pipeline the whole thing in a single codegen stage.
    """
    return delimited_reader(spark.read, delimiter, columns).csv(path)


def delimited_adapter(
    spark: SparkSession, path: str, delimiter: str | None = None
) -> Adapter:
    """Delimited text as a conversion adapter. For a directory input the
    sniff, header and sample read the lexicographically-first file (the
    same file whose rows come first under preserve_order)."""
    head = first_data_file(path)
    delim = delimiter or detect_delimiter(head)
    names = sanitize_names(read_header(head, delim))
    return Adapter(
        names,
        read_delimited_as_strings(spark, path, delim, names),
        path,
        sample=lambda: read_sample_rows(head, delim)[1],
        delimiter=delim,
    )
