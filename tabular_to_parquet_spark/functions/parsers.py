"""Lenient cast expression builders (operators P2-P12, SURVEY.md §2.2).

Each builder is a pure ``Column -> Column`` over built-in Spark SQL
expressions (no Python UDFs; everything is evaluated JVM-side).
Shared template (reference src/analyse.rs:108-315): null-token → NULL;
parse success → value; parse failure / out-of-range → NULL, never error.

Every fallible builder but ``parse_bool`` and the DECIMAL(20,0)
``parse_uint64`` is ``coalesce(clean(c), lenient(c))``. The
lenient half is the full parse above. The clean half is one
``\\z``-anchored shape regex on the raw, untrimmed value and one native
``try_cast``: a value of a clean shape is never a null token and needs
no trim, and the clean half returns NULL or exactly the lenient value,
so the lenient half runs only on the values the clean one misses
(padding, null tokens, other spellings, out-of-range values). For the
timestamp casts that equality needs a UTC session, which every
conversion pins (see :func:`parse_timestamp`).

Reference cites use file:line of /root/reference (read-only snapshot).
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tabular_to_parquet_spark.functions.nulls import is_null_token, trimmed

# ---------------------------------------------------------------------------
# token sets / regexes mirroring the Rust parsers

#: parse_bool token sets (utils.rs:59-65)
BOOL_TRUE_TOKENS = ("true", "1", "t", "y", "yes", "on")
BOOL_FALSE_TOKENS = ("false", "0", "f", "n", "no", "off")

#: Rust `str::parse::<i128>` accepted syntax: optional sign + digits
INT_RE = r"^[+-]?[0-9]+$"

#: Rust `str::parse::<f64>` accepted syntax (lenient float grammar):
#: optional sign; inf/infinity/nan keywords; or decimal with optional
#: fraction and exponent ("3.", ".5", "1e5" all accepted)
FLOAT_RE = r"(?i)^[+-]?(inf(inity)?|nan|([0-9]+(\.[0-9]*)?|\.[0-9]+)([eE][+-]?[0-9]+)?)$"

#: dash-form datetime: %Y-%m-%d[ T]%H:%M:%S with optional .1-9-digit
#: fraction (utils.rs:88-91 — chrono %.f accepts 1-9 fractional digits)
TS_DASH_RE = r"^([0-9]{4}-[0-9]{1,2}-[0-9]{1,2})[T ]([0-9]{1,2}:[0-9]{1,2}:[0-9]{1,2})(\.([0-9]{1,9}))?$"

#: clean shapes (see the module docstring). ``\z``, not ``$``: Java's
#: ``$`` also matches before a final line terminator, and a value with
#: one is not clean (the lenient half trims it). The float shape allows
#: at most 200 integer digits and a 1-2 digit exponent, so its value is
#: always finite (below 10**299) and needs no range check.
CLEAN_INT_RE = r"^[+-]?[0-9]+\z"
CLEAN_UINT_RE = r"^\+?[0-9]+\z"
CLEAN_FLOAT_RE = r"^[+-]?(?:[0-9]{1,200}(?:\.[0-9]*)?|\.[0-9]+)(?:[eE][+-]?[0-9]{1,2})?\z"
CLEAN_DATE_RE = r"^[0-9]{4}-[0-9]{2}-[0-9]{2}\z"
_CLEAN_TS_TAIL = r"-[0-9]{2}-[0-9]{2}[T ][0-9]{2}:[0-9]{2}:[0-9]{2}(?:\.[0-9]{1,9})?\z"
CLEAN_TS_RE = r"^[0-9]{4}" + _CLEAN_TS_TAIL
#: years 1971-9999 only: there the epoch is positive under any session
#: offset up to ±14 h, so flooring to seconds equals the lenient path's
#: truncation toward zero. Equal results still need a UTC session: the
#: lenient path maps the wall clock through the session time zone, which
#: shifts times inside a DST gap, and this path reads no zone.
CLEAN_TS_EPOCH_RE = r"^(?:19(?:7[1-9]|[89][0-9])|[2-9][0-9]{3})" + _CLEAN_TS_TAIL

I64_MIN = -(2**63)
I64_MAX = 2**63 - 1
U64_MAX = 2**64 - 1


def _decimal38(c: Column) -> Column:
    """try_cast trimmed text to DECIMAL(38,0) — the i128 stand-in.

    Guarded by INT_RE so decimal rounding ("1.5" → 2) can't diverge from
    Rust's integer parse (which rejects "1.5" outright).
    """
    t = trimmed(c)
    return F.when(t.rlike(INT_RE), t.try_cast(T.DecimalType(38, 0)))


def _clean(c: Column, shape: str, to: str) -> Column:
    """The clean half: a raw value of ``shape``, natively cast to ``to``
    (NULL when the value does not have the shape or the cast fails)."""
    return F.when(c.rlike(shape), c.try_cast(to))


# ---------------------------------------------------------------------------
# P2 — boolean


def parse_bool(c: Column) -> Column:
    """Boolean cast (utils.rs:59-65, analyse.rs:114-126).

    NOT Spark's native cast: the reference accepts on/off and rejects
    Spark-only spellings; unmatched tokens → NULL.
    """
    t = F.lower(trimmed(c))
    return (
        F.when(is_null_token(c), F.lit(None).cast("boolean"))
        .when(t.isin(*BOOL_TRUE_TOKENS), F.lit(True))
        .when(t.isin(*BOOL_FALSE_TOKENS), F.lit(False))
        .otherwise(F.lit(None).cast("boolean"))
    )


# ---------------------------------------------------------------------------
# P3 / P4 — integers


def parse_int64(c: Column) -> Column:
    """Int64 cast: parse as big integer, range-check to i64, else NULL
    (analyse.rs:128-144)."""
    d = _decimal38(c)
    out = F.when(d.between(I64_MIN, I64_MAX), d.cast("long"))
    return F.coalesce(_clean(c, CLEAN_INT_RE, "long"), F.when(~is_null_token(c), out))


def parse_uint64(c: Column, as_decimal: bool = False) -> Column:
    """UInt64 cast: range [0, u64::MAX] (analyse.rs:146-162).

    Spark has no unsigned 64-bit type. Lowering (SURVEY.md §1.2): LongType
    when the column's observed max fits i64 (``as_decimal=False``), else
    DECIMAL(20,0) — the type Spark itself uses when reading parquet
    UINT(64).
    """
    d = _decimal38(c)
    if as_decimal:
        in_range = (d >= 0) & (d <= F.lit(Decimal(U64_MAX)))
        out = F.when(in_range, d.cast(T.DecimalType(20, 0)))
    else:
        # LongType lowering cannot represent (i64::MAX, u64::MAX]; such
        # values become NULL instead of overflowing — documented
        # divergence from the reference, which stores them in a true
        # UInt64 column. With full-scan inference they are absent by
        # construction (the scan would have picked DECIMAL(20,0)); with
        # the default 1,000-row sample, later rows CAN exceed i64 — the
        # loss is counted in parse_errors and warned on (convert.py).
        out = F.when(d.between(0, I64_MAX), d.cast("long"))
    lenient = F.when(~is_null_token(c), out)
    if as_decimal:
        # no clean half: values past i64::MAX need the 38-digit parse
        return lenient
    # unsigned shape: "-0" and negatives are left to the lenient half
    return F.coalesce(_clean(c, CLEAN_UINT_RE, "long"), lenient)


# ---------------------------------------------------------------------------
# P5 — float


def parse_float64(c: Column) -> Column:
    """Float64 cast; non-finite (±inf; nan is already a null token) → NULL
    (analyse.rs:164-180)."""
    t = trimmed(c)
    d = F.when(t.rlike(FLOAT_RE), t.try_cast("double"))
    finite = d.isNotNull() & ~F.isnan(d) & (d != float("inf")) & (d != float("-inf"))
    lenient = F.when(~is_null_token(c) & finite, d)
    return F.coalesce(_clean(c, CLEAN_FLOAT_RE, "double"), lenient)


# ---------------------------------------------------------------------------
# P6 — date


def parse_date(c: Column) -> Column:
    """Date cast: %Y-%m-%d, then %d/%m/%Y, then %m/%d/%Y — day-first
    beats month-first on ambiguous input (utils.rs:67-79; confirmed by
    reference tests/utils_tests.rs:29-31: 02/01/1970 → 1970-01-02).

    chrono's numeric fields accept unpadded 1-2 digit values, so each
    Java pattern appears in its single-letter (lenient-width) form; the
    coalesce order preserves the day-first priority either way.
    """
    t = trimmed(c)
    out = F.coalesce(
        F.try_to_date(t, "yyyy-M-d"),
        F.try_to_date(t, "d/M/yyyy"),
        F.try_to_date(t, "M/d/yyyy"),
    )
    return F.coalesce(_clean(c, CLEAN_DATE_RE, "date"), F.when(~is_null_token(c), out))


# ---------------------------------------------------------------------------
# P7 / P8 — timestamp text + epoch-number parse, to milliseconds


def _clean_timestamp(c: Column, unit: str) -> Column:
    """Clean half of the timestamp casts: the TIMESTAMP_NTZ of a dash
    datetime, floored to ms by cutting the text after three fraction
    digits (to whole seconds for ``unit="s"``, by cutting it after the
    seconds). The year has four digits, so the cut is a floor; it reads
    no time zone."""
    if unit == "s":
        return F.when(
            c.rlike(CLEAN_TS_EPOCH_RE), F.substring(c, 1, 19).try_cast("timestamp_ntz")
        )
    return F.when(c.rlike(CLEAN_TS_RE), F.substring(c, 1, 23).try_cast("timestamp_ntz"))


def parse_timestamp_ms(c: Column) -> Column:
    """Timestamp parse → epoch milliseconds BIGINT (utils.rs:81-118).

    Order of attempts, mirroring `parse_timestamp_ms`:
      1. dash datetimes `%Y-%m-%d[ T]%H:%M:%S%.f` — fraction optional,
         1-9 digits, TRUNCATED to ms (chrono `.timestamp_millis()`);
      2. `%d/%m/%Y %H:%M:%S` then `%Y/%m/%d %H:%M:%S` (no fraction);
      3. pure integer epochs in windows [1e9,4e9)→s, [1e12,4e12)→ms,
         [1e15,4e15)→µs, ≥1e18→ns, each rescaled to ms; outside all
         windows → NULL (e.g. 5e9).
    Timezone-offset strings are NOT accepted (inference↔conversion
    asymmetry — utils.rs:87-94 has no %z formats).

    Both halves read a datetime's wall clock in the session time zone
    (UTC for a conversion).
    """
    clean = F.unix_millis(_clean_timestamp(c, "ms").cast("timestamp"))
    return F.coalesce(clean, _timestamp_ms_lenient(c))


def _timestamp_ms_lenient(c: Column) -> Column:
    """The lenient half of :func:`parse_timestamp_ms`."""
    t = trimmed(c)

    # --- 1. dash form with optional fraction --------------------------------
    date_part = F.regexp_extract(t, TS_DASH_RE, 1)
    time_part = F.regexp_extract(t, TS_DASH_RE, 2)
    frac_part = F.regexp_extract(t, TS_DASH_RE, 4)  # '' when absent
    base1 = F.try_to_timestamp(
        F.concat(date_part, F.lit(" "), time_part), F.lit("yyyy-M-d H:m:s")
    )
    # first 3 fractional digits, right-padded: truncation to ms
    frac_ms = F.substring(F.rpad(frac_part, 3, "0"), 1, 3).cast("long")
    ms_dash = F.unix_timestamp(base1) * 1000 + frac_ms
    dash_ok = t.rlike(TS_DASH_RE) & base1.isNotNull()

    # --- 2. slash forms (day-first priority, then Y/m/d) --------------------
    base2 = F.try_to_timestamp(t, F.lit("d/M/yyyy H:m:s"))
    base3 = F.try_to_timestamp(t, F.lit("yyyy/M/d H:m:s"))

    # --- 3. integer epoch windows ------------------------------------------
    # try_cast on the final narrowing: ANSI mode is on, and an unguarded
    # cast would *throw* on pathological ns-epochs beyond i64 ms range
    # (the reference wrap-casts those to garbage; we null them instead)
    d = _decimal38(c)
    ms_epoch = (
        F.when(d.between(1_000_000_000, 3_999_999_999), (d * 1000).cast("long"))
        .when(d.between(1_000_000_000_000, 3_999_999_999_999), d.cast("long"))
        .when(
            d.between(1_000_000_000_000_000, 3_999_999_999_999_999),
            F.floor(d / 1000).cast("long"),
        )
        .when(d >= 1_000_000_000_000_000_000, F.floor(d / 1_000_000).try_cast("long"))
    )

    out = F.coalesce(
        F.when(dash_ok, ms_dash),
        F.unix_timestamp(base2) * 1000,
        F.unix_timestamp(base3) * 1000,
        ms_epoch,
    )
    return F.when(~is_null_token(c), out)


def parse_timestamp(c: Column, unit: str = "ms") -> Column:
    """Full timestamp cast → TIMESTAMP_NTZ, truncated to the column's
    inferred unit (P9, analyse.rs:196-250).

    The reference stores ms-precision values rescaled into the target
    unit's physical representation; in Spark everything lands in NTZ
    (µs precision — lossless, values only ever carry ms precision).
    A second-unit column floor-truncates to whole seconds
    (analyse.rs:201-204, integer division ms/1000).

    Precondition: a UTC session time zone (every conversion,
    ``get_spark`` and ``load_table`` pin it). The clean half reads no
    zone; the lenient half maps the wall clock to an epoch and back in
    the session zone, so under another zone the two halves differ for
    wall-clock times inside a DST gap.
    """
    ms = _timestamp_ms_lenient(c)
    if unit == "s":
        # Rust i64 `/` truncates toward zero; double-division + cast('long')
        # reproduces that (values ≪ 2^53 so the division is exact enough)
        us = F.try_multiply((ms / 1000).try_cast("long"), F.lit(1_000_000))
    elif unit in ("ms", "us", "ns"):
        us = F.try_multiply(ms, F.lit(1000))
    else:  # pragma: no cover
        raise ValueError(f"unknown timestamp unit: {unit}")
    lenient = F.timestamp_micros(us).cast(T.TimestampNTZType())
    return F.coalesce(_clean_timestamp(c, unit), lenient)


# ---------------------------------------------------------------------------
# P10 / P11 / P12 — strings, binary, catch-all


def parse_string(c: Column) -> Column:
    """Utf8/LargeUtf8 passthrough: null-token → NULL, else the raw
    (untrimmed) string (analyse.rs:252-274)."""
    return F.when(~is_null_token(c), c)


def parse_binary(c: Column) -> Column:
    """Binary/LargeBinary: the string's UTF-8 bytes (analyse.rs:276-298)."""
    return F.when(~is_null_token(c), F.encode(c, "UTF-8"))
