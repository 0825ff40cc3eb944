"""Fixed-width text source — a format extension beyond the reference
(which reads delimited text only; SURVEY.md §2.8 lists the absent
formats). Mainframe/COBOL exports and many regulatory feeds arrive as
fixed-width records; the engine after the scan is format-agnostic, so
this source only has to produce a string-typed frame — the SAME
inference thresholds and lenient cast builders then own every type
decision, exactly like the delimited and JSON-lines paths.

Scan shape: ``spark.read.text`` (splittable, embarrassingly parallel)
→ one ``substring`` + ``trim`` per field — a codegen'd projection,
zero shuffles at any scale.

Field semantics: ``start`` is 1-based (matching SQL ``substring``);
values are space-trimmed at both ends (fixed-width padding), so
leading/trailing-space content is not representable — the standard
trade of the format. Lines shorter than a field's extent yield the
available prefix (possibly ``""``, which the null-token rule maps to
NULL downstream).
"""

from __future__ import annotations

from dataclasses import dataclass
from itertools import islice

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tabular_to_parquet_spark.sources.adapter import Adapter, first_data_file


@dataclass(frozen=True)
class FWField:
    """One fixed-width field: 1-based ``start`` offset and ``width``."""

    name: str
    start: int
    width: int


def fields_from_widths(names_widths: list[tuple[str, int]]) -> list[FWField]:
    """Build contiguous field specs from ``(name, width)`` pairs."""
    fields, pos = [], 1
    for name, width in names_widths:
        fields.append(FWField(name, pos, width))
        pos += width
    return fields


def read_fixed_width_as_strings(
    spark: SparkSession, path: str, fields: list[FWField]
) -> DataFrame:
    """Distributed string-typed scan: substring + trim per field."""
    # invalid UTF-8 bytes decode to U+FFFD, as in the delimited reader
    # (strict_drop keys on it)
    line = F.make_valid_utf8("value")
    return spark.read.text(path).select(
        *[F.trim(F.substring(line, f.start, f.width)).alias(f.name) for f in fields]
    )


def _slice_line(line: str, fields: list[FWField]) -> list[str]:
    """Driver-side sampling twin of the Spark projection: identical
    1-based slicing, identical space-only trim."""
    return [
        line[f.start - 1 : f.start - 1 + f.width].strip(" ") for f in fields
    ]


def fixed_width_adapter(
    spark: SparkSession, path: str, fields: list[FWField]
) -> Adapter:
    """Fixed-width text as a conversion adapter; the sample slices the
    first lines of the first file with the Spark projection's rules."""

    def sample() -> list[list[str]]:
        with open(first_data_file(path), encoding="utf-8", errors="replace") as fh:
            return [_slice_line(line.rstrip("\r\n"), fields) for line in islice(fh, 1000)]

    frame = read_fixed_width_as_strings(spark, path, fields)
    return Adapter([f.name for f in fields], frame, path, sample)
