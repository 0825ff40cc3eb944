"""What one input format hands the shared conversion run
(``operators.convert.run_conversion``).

Every wire format ends at its scan: an adapter names the columns,
supplies the scan frame and, for default inference, a driver-side
sample in file order. Inference, the lenient casts, parse-error
accounting and the zstd sink are the same code for every format.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Adapter:
    """One input format as the conversion run sees it.

    ``frame`` is string-typed (one column per name, inference and casts
    apply) unless ``typed``, in which case its schema is authoritative
    and it is written as-is. ``sample`` returns the first data rows in
    file order for default inference; ``None`` means the source has no
    driver-side reader and always infers over the whole frame.
    """

    columns: list[str]
    frame: DataFrame
    #: the input file or directory (split sizing reads its byte size)
    path: str
    sample: Callable[[], list[list[str]]] | None = None
    typed: bool = False
    delimiter: str | None = None


def first_data_file(path: str) -> str:
    """A file path: ``path`` itself, or the lexicographically-first
    regular file under a directory input (header/sample source)."""
    if os.path.isfile(path):
        return path
    for name in sorted(os.listdir(path)):
        cand = os.path.join(path, name)
        if os.path.isfile(cand) and not name.startswith((".", "_")):
            return cand
    raise FileNotFoundError(f"no data files under {path!r}")


def first_container(spark: SparkSession, path: str, what: str) -> bytes:
    """Bytes of the path-order-first file under ``path`` (archives and
    workbooks: names and the inference sample come from it)."""
    first = (
        spark.read.format("binaryFile")
        .load(path)
        .orderBy("path")
        .select("content")
        .head()
    )
    if first is None:
        raise ValueError(f"no {what} under {path!r}")
    return bytes(first["content"])
