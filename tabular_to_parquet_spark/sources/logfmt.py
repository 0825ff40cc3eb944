"""logfmt source — ``key=value`` pairs per line (the de-facto
structured-logging wire format: Heroku, Grafana, Go kit). A fourth
wire format through the SAME format-agnostic pipeline: the scan
produces a string-typed frame, then the shared inference thresholds
and lenient cast builders own every type decision (cf. json_lines.py,
fixed_width.py).

Scan shape: ``spark.read.text`` → one ``regexp_extract`` per key — a
codegen'd projection, zero shuffles, splittable.

Value grammar (kept in the Java-regex ∩ Python-re subset so the
driver-side sampling twin matches the distributed scan exactly):
bare values are space-free runs; quoted values are double-quoted
without escapes. A missing key and an empty value both surface as
``""`` — which IS the engine's null token, so both become NULL after
the cast projection (documented collapse).
"""

from __future__ import annotations

import re
from itertools import islice

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tabular_to_parquet_spark.sources.adapter import Adapter, first_data_file

_KEY_RE = re.compile(r'(?:^| )([A-Za-z_][A-Za-z0-9_]*)=')


def _value_pattern(key: str) -> str:
    """Regex with group 1 = quoted content, group 2 = bare value."""
    return rf'(?:^| ){re.escape(key)}=(?:"([^"]*)"|([^ ]*))'


def read_logfmt_keys(path: str, max_lines: int = 100) -> list[str]:
    """Column names = union of keys over the first ``max_lines``
    lines, in first-seen order (logfmt has no header line)."""
    names: list[str] = []
    seen: set[str] = set()
    with open(path, encoding="utf-8", errors="replace") as fh:
        for i, line in enumerate(fh):
            if i >= max_lines:
                break
            for m in _KEY_RE.finditer(line):
                k = m.group(1)
                if k not in seen:
                    seen.add(k)
                    names.append(k)
    return names


def read_logfmt_as_strings(
    spark: SparkSession, path: str, keys: list[str]
) -> DataFrame:
    """Distributed string-typed scan: one regexp per key; quoted
    content wins over the bare capture."""
    raw = spark.read.text(path)
    # invalid UTF-8 bytes decode to U+FFFD, as in the delimited reader
    # (strict_drop keys on it)
    line = F.make_valid_utf8("value")
    cols = []
    for k in keys:
        pat = _value_pattern(k)
        quoted = F.regexp_extract(line, pat, 1)
        bare = F.regexp_extract(line, pat, 2)
        cols.append(F.when(quoted != "", quoted).otherwise(bare).alias(k))
    return raw.select(*cols)


def _extract_line(line: str, keys: list[str]) -> list[str]:
    """Driver-side sampling twin of the Spark projection."""
    out = []
    for k in keys:
        m = re.search(_value_pattern(k), line)
        if m is None:
            out.append("")
        elif m.group(1):
            out.append(m.group(1))
        else:
            out.append(m.group(2) or "")
    return out


def logfmt_adapter(spark: SparkSession, path: str) -> Adapter:
    """logfmt as a conversion adapter; keys and the sample come from
    the first file."""
    head = first_data_file(path)
    keys = read_logfmt_keys(head)

    def sample() -> list[list[str]]:
        with open(head, encoding="utf-8", errors="replace") as fh:
            return [_extract_line(line.rstrip("\r\n"), keys) for line in islice(fh, 1000)]

    return Adapter(keys, read_logfmt_as_strings(spark, path, keys), path, sample)
