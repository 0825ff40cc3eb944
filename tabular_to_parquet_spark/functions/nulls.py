"""Null-token normalization (operator P1, SURVEY.md §2.2).

Reference semantics (reference src/utils.rs:48-57, `est_null_texte`):
trim the value; empty → null; case-insensitive membership in
{null, none, nan, n/a, na} → null. Every cast builder applies this
before attempting a parse.

All builders are pure ``Column -> Column`` functions over built-in
expressions, evaluated JVM-side; no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: case-insensitive null tokens after trimming (utils.rs:53-56)
NULL_TOKENS = ("null", "none", "nan", "n/a", "na")

#: the exact Unicode White_Space set — Rust char::is_whitespace, i.e.
#: the reference's str::trim (utils.rs:49). Java's plain \s is
#: ASCII-only, which would let NBSP-padded values slip past the trim
#: (and disagree with the driver-side Python inference); a literal
#: enumeration keeps Spark (Java regex), DuckDB (RE2) and Python
#: (str.strip) bit-identical.
WHITESPACE = (
    "\t\n\x0b\x0c\r \x85\xa0 "
    "           "
    "    　"
)

#: the whole null-token test as one anchored regex on the raw value:
#: WHITESPACE*, at most one token, WHITESPACE*, end of input. ``\z``,
#: not ``$``: Java's ``$`` also matches before a final line terminator.
#: The runs are possessive (``*+``), so a long blank run followed by
#: text fails in linear time.
#: ``(?i)`` folds ASCII case only, which is exact here: no non-ASCII
#: character lower-cases into a token letter (Python's ``str.lower``
#: maps U+212A to "k" and U+0130 to "i̇", neither a token letter).
NULL_TOKEN_RE = (
    f"(?i)^[{WHITESPACE}]*+(?:{'|'.join(NULL_TOKENS)})?[{WHITESPACE}]*+\\z"
)


def trimmed(c: Column) -> Column:
    """Whitespace-trim (utils.rs:49 `v.trim()`).

    ``btrim(str, trimStr)`` strips any leading/trailing characters in
    the set — same semantics as a ``^[ws]+|[ws]+$`` regex over the
    WHITESPACE class, but a codepoint set-membership loop instead of a
    regex engine pass: measured ~30% of conversion wall at sf0.1 when
    this was regexp_replace (the cast projection trims every column)."""
    return F.btrim(c, F.lit(WHITESPACE))


def is_null_token(c: Column) -> Column:
    """Boolean: value is a null token (utils.rs:48-57).

    One regex pass over the raw value (:data:`NULL_TOKEN_RE`): no
    trimmed or lower-cased copy of the string is built."""
    return c.isNull() | c.rlike(NULL_TOKEN_RE)


def normalize_nulls(c: Column) -> Column:
    """Null-token → NULL, else the original (untrimmed) string.

    Matches the reference converter, which stores the raw (untrimmed)
    string for string-typed columns (analyse.rs:252-274) but parses the
    trimmed text for every typed column.
    """
    return F.when(is_null_token(c), F.lit(None)).otherwise(c)
