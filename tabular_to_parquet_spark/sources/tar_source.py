"""TAR container source — archives of delimited-text members (the
"dataset dump" layout: many small CSVs shipped as one ``.tar`` /
``.tar.gz``; web dumps and dataset hubs use exactly this shape).

The engine's delimited pipeline is file-oriented; this layer re-yields
MEMBER text as string rows executor-side and the SHARED inference +
lenient-cast pipeline owns every type decision afterwards (the
json_lines / fixed_width / logfmt rule: the format layer ends at the
scan).

Scan shape (the avro_python/warc recipe): ``binaryFile`` lists the
archives — one row per ``.tar``/``.tar.gz`` — and an Arrow-batched
``mapInPandas`` walks each archive with the stdlib ``tarfile`` reader
(``r:*`` mode decompresses gzip/bz2/xz transparently), parsing each
member with ``csv.reader`` under the same RFC 4180 grammar the Spark
csv scan is configured with (doubled quotes); every member's header
line is skipped, names come from the first member of the first
archive.  One task per archive; parallelism is across archives,
exactly how such dumps shard.  Short rows pad with ``""`` — the
engine's null token, so they surface as NULL after the cast projection
(the logfmt collapse, documented).
"""

from __future__ import annotations

import csv
import io
import tarfile

from pyspark.sql import DataFrame, SparkSession

from tabular_to_parquet_spark.sources.adapter import Adapter, first_container
from tabular_to_parquet_spark.sources.text import sanitize_names


def _iter_members(buf: bytes):
    """Yield ``(name, text)`` per regular-file member, archive order."""
    with tarfile.open(fileobj=io.BytesIO(buf), mode="r:*") as tf:
        for m in tf:
            if not m.isfile():
                continue
            fh = tf.extractfile(m)
            if fh is None:  # pragma: no cover - defensive
                continue
            yield m.name, fh.read().decode("utf-8", errors="replace")


def _member_rows(text: str, delimiter: str):
    return csv.reader(io.StringIO(text), delimiter=delimiter, quotechar='"')


def read_tar_csv_header(
    spark: SparkSession, path: str, delimiter: str = ","
) -> list[str]:
    """Column names from the first member of the first archive (same
    single-writer-directory assumption as the Avro/IPC readers)."""
    for _name, text in _iter_members(first_container(spark, path, "archives")):
        for row in _member_rows(text, delimiter):
            return [c for c in row]
    raise ValueError(f"no delimited members in the first archive under {path!r}")


def read_tar_csv_as_strings(
    spark: SparkSession, path: str, names: list[str], delimiter: str = ","
) -> DataFrame:
    """Distributed string-typed scan: one task per archive, members
    parsed executor-side, all columns string."""
    import pandas as pd

    files = spark.read.format("binaryFile").load(path)
    width = len(names)

    def decode(batches):
        for pdf in batches:
            for content in pdf["content"]:
                out: list[list[str]] = []
                for _name, text in _iter_members(bytes(content)):
                    rows = _member_rows(text, delimiter)
                    next(rows, None)  # member header
                    for row in rows:
                        if not row:
                            continue
                        if len(row) < width:
                            row = row + [""] * (width - len(row))
                        out.append(row[:width])
                yield pd.DataFrame(out, columns=names, dtype=object)

    schema = ", ".join(f"`{n}` string" for n in names)
    return files.select("content").mapInPandas(decode, schema=schema)


def sample_rows(path_content: bytes, delimiter: str, limit: int = 1000):
    """Driver-side sampling twin over ONE archive's members (the
    logfmt `_extract_line` role): first ``limit`` data rows in
    archive/member order — the same first-1000 file-order rule as the
    delimited sampler (schema.rs:11 parity)."""
    rows: list[list[str]] = []
    width = None
    for _name, text in _iter_members(path_content):
        it = _member_rows(text, delimiter)
        header = next(it, None)
        if width is None and header is not None:
            width = len(header)
        for row in it:
            if not row:
                continue
            if width is not None and len(row) < width:
                row = row + [""] * (width - len(row))
            rows.append(row if width is None else row[:width])
            if len(rows) >= limit:
                return rows
    return rows


def tar_adapter(spark: SparkSession, path: str, delimiter: str = ",") -> Adapter:
    """tar-of-CSVs as a conversion adapter; names and the sample come
    from the first archive."""
    names = sanitize_names(read_tar_csv_header(spark, path, delimiter))
    return Adapter(
        names,
        read_tar_csv_as_strings(spark, path, names, delimiter),
        path,
        sample=lambda: sample_rows(first_container(spark, path, "archives"), delimiter),
        delimiter=delimiter,
    )
