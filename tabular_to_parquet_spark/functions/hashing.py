"""Cross-engine deterministic hashing.

MinHash / SimHash / LSH / fingerprinting all need a hash function that
an independent SQL engine (the DuckDB oracle) can reproduce bit-for-bit.
Spark's `hash()`/`xxhash64()` and DuckDB's `hash()` are different
algorithms, so we derive integers from md5 hex digests — md5 is
identical everywhere.

``md5_i64`` takes the first 15 hex chars (60 bits) → always a
non-negative BIGINT in both engines:

- Spark:  ``conv(substr(md5(x), 1, 15), 16, 10)::long``
- DuckDB: ``('0x' || substr(md5(x), 1, 15))::BIGINT``

:func:`md5_i64_sql` is the one DuckDB spelling; every oracle builds
its md5-derived integers through it.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: number of md5 hex chars used → 60-bit non-negative ints
HEX_CHARS = 15


def md5_i64(c: Column, seed: str | None = None) -> Column:
    """Deterministic 60-bit integer hash of a string column.

    ``seed`` namespaces independent hash functions (minhash
    permutations, LSH planes) by prefixing the input.
    """
    if seed is not None:
        c = F.concat(F.lit(f"{seed}#"), c)
    return F.conv(F.substring(F.md5(c), 1, HEX_CHARS), 16, 10).cast("long")


def md5_i64_sql(expr: str, seed: str | None = None) -> str:
    """DuckDB SQL text computing the same value as :func:`md5_i64`."""
    if seed is not None:
        expr = f"('{seed}#' || {expr})"
    return f"(('0x' || substr(md5({expr}), 1, {HEX_CHARS}))::BIGINT)"

