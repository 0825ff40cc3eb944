"""Differential fuzzing of the lenient-cast builders.

Each parser (functions/parsers.py, built from Spark expressions) is
checked against an INDEPENDENT pure-Python port of the reference's
semantics (utils.rs / analyse.rs, as documented in SURVEY.md §2.2) on
hypothesis-generated value mixes. One Spark job per example keeps it
fast; generators stay inside the domains where Java's and Python's
datetime grammars agree (4-digit years etc.) — the goal is
differential coverage of the semantic rules (null tokens, ranges,
format priority, truncation, windows), not of parser-grammar edges
the reference can never produce.
"""

from __future__ import annotations

import math
import re
from datetime import date, datetime

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tabular_to_parquet_spark.functions import parsers
from tabular_to_parquet_spark.functions.nulls import WHITESPACE, is_null_token
from tabular_to_parquet_spark.plans.inference import _is_null_token_py

# ---------------------------------------------------------------------------
# pure-Python twins (independent ports of the reference semantics)

NULL_TOKENS = {"null", "none", "nan", "n/a", "na"}
TRUE_TOKENS = {"true", "1", "t", "y", "yes", "on"}
FALSE_TOKENS = {"false", "0", "f", "n", "no", "off"}
I64_MIN, I64_MAX = -(2**63), 2**63 - 1
INT_RE = re.compile(r"^[+-]?[0-9]+$")
FLOAT_RE = re.compile(
    r"^[+-]?(inf(inity)?|nan|([0-9]+(\.[0-9]*)?|\.[0-9]+)([eE][+-]?[0-9]+)?)$", re.I
)
TS_DASH_RE = re.compile(
    r"^([0-9]{4})-([0-9]{1,2})-([0-9]{1,2})[T ]"
    r"([0-9]{1,2}):([0-9]{1,2}):([0-9]{1,2})(\.([0-9]{1,9}))?$"
)
SLASH_DMY_RE = re.compile(
    r"^([0-9]{1,2})/([0-9]{1,2})/([0-9]{4}) ([0-9]{1,2}):([0-9]{1,2}):([0-9]{1,2})$"
)
SLASH_YMD_RE = re.compile(
    r"^([0-9]{4})/([0-9]{1,2})/([0-9]{1,2}) ([0-9]{1,2}):([0-9]{1,2}):([0-9]{1,2})$"
)


def _is_null_token(v: str | None) -> bool:
    return v is None or v.strip() == "" or v.strip().lower() in NULL_TOKENS


def _d38(t: str):
    """try_cast(decimal(38,0)) twin: int-regex gate + 38-digit capacity."""
    if not INT_RE.match(t):
        return None
    n = int(t)
    return n if abs(n) <= 10**38 - 1 else None


def py_bool(v):
    if _is_null_token(v):
        return None
    t = v.strip().lower()
    return True if t in TRUE_TOKENS else False if t in FALSE_TOKENS else None


def py_int64(v):
    if _is_null_token(v):
        return None
    n = _d38(v.strip())
    return n if n is not None and I64_MIN <= n <= I64_MAX else None


def py_uint64_long(v):
    if _is_null_token(v):
        return None
    n = _d38(v.strip())
    return n if n is not None and 0 <= n <= I64_MAX else None


def py_float64(v):
    if _is_null_token(v):
        return None
    t = v.strip()
    if not FLOAT_RE.match(t):
        return None
    x = float(t)
    return None if (math.isinf(x) or math.isnan(x)) else x


_EPOCH_ORDINAL = date(1970, 1, 1).toordinal()
#: one 400-year Gregorian cycle: shifting year 0 (valid for chrono's %Y,
#: not for Python's date) by it keeps every calendar rule
_CYCLE_DAYS = 146_097


def _epoch_s(y, mo, d, h=0, mi=0, s=0):
    """Seconds since 1970-01-01 00:00:00 (proleptic Gregorian, years
    0-9999), None for an invalid date or time."""
    cycles = 1 if y < 1 else 0
    try:
        day = datetime(y + 400 * cycles, mo, d, h, mi, s).toordinal()
    except ValueError:
        return None
    days = day - cycles * _CYCLE_DAYS - _EPOCH_ORDINAL
    return days * 86_400 + h * 3600 + mi * 60 + s


def py_date(v):
    """Date twin, as days since 1970-01-01."""
    if _is_null_token(v):
        return None
    t = v.strip()
    m = re.match(r"^([0-9]{4})-([0-9]{1,2})-([0-9]{1,2})$", t)
    if m:
        secs = _epoch_s(int(m[1]), int(m[2]), int(m[3]))
        if secs is not None:
            return secs // 86_400
    m = re.match(r"^([0-9]{1,2})/([0-9]{1,2})/([0-9]{4})$", t)
    if m:
        # day-first beats month-first (utils.rs:72-75)
        for mo, d in ((int(m[2]), int(m[1])), (int(m[1]), int(m[2]))):
            secs = _epoch_s(int(m[3]), mo, d)
            if secs is not None:
                return secs // 86_400
    return None


def py_ts_ms(v):
    """Epoch-ms twin of parse_timestamp_ms (utils.rs:81-118)."""
    if _is_null_token(v):
        return None
    t = v.strip()
    m = TS_DASH_RE.match(t)
    if m:
        secs = _epoch_s(*(int(m[i]) for i in range(1, 7)))
        if secs is not None:
            frac = (m[8] or "")[:3].ljust(3, "0")
            return secs * 1000 + int(frac)
        return None  # shape matched but invalid date → no fallthrough
    for rx, order in ((SLASH_DMY_RE, (3, 2, 1)), (SLASH_YMD_RE, (1, 2, 3))):
        m = rx.match(t)
        if m:
            secs = _epoch_s(int(m[order[0]]), int(m[order[1]]), int(m[order[2]]),
                            int(m[4]), int(m[5]), int(m[6]))
            if secs is not None:
                return secs * 1000
    n = _d38(t)
    if n is None:
        return None
    if 1_000_000_000 <= n < 4_000_000_000:
        return n * 1000
    if 1_000_000_000_000 <= n < 4_000_000_000_000:
        return n
    if 1_000_000_000_000_000 <= n < 4_000_000_000_000_000:
        return n // 1000
    if n >= 1_000_000_000_000_000_000:
        ms = n // 1_000_000
        return ms if ms <= I64_MAX else None
    return None


def py_ts_us(v, unit):
    """Twin of parse_timestamp's TIMESTAMP_NTZ, as epoch microseconds:
    the epoch ms, truncated toward zero to whole seconds for unit "s"
    (Rust i64 division, analyse.rs:201-204)."""
    ms = py_ts_ms(v)
    if ms is None:
        return None
    if unit == "s":
        secs = abs(ms) // 1000
        return (secs if ms >= 0 else -secs) * 1_000_000
    return ms * 1000


# ---------------------------------------------------------------------------
# value generators

_null_tokens = st.sampled_from(["", " ", "NULL", "None", "nan", "N/A", " na "])
_int_like = st.integers(-(10**40), 10**40).map(str)
_signed_pad = st.integers(-(2**64), 2**64).map(lambda n: f" {'+' if n >= 0 else ''}{n} ")
_float_like = st.one_of(
    st.floats(allow_nan=True, allow_infinity=True).map(repr),
    st.sampled_from(["inf", "-inf", "Infinity", "1e400", ".5", "3.", "2E-2", "1_0"]),
)
_date_like = st.builds(
    lambda y, m, d, fmt, pad: fmt.format(
        y=y, m=f"{m:02d}" if pad else m, d=f"{d:02d}" if pad else d
    ),
    st.integers(1000, 9999), st.integers(1, 13), st.integers(1, 31),
    st.sampled_from(["{y}-{m}-{d}", "{d}/{m}/{y}", "{m}/{d}/{y}"]),
    st.booleans(),
)
_ts_like = st.builds(
    lambda y, mo, d, h, mi, s, sep, frac: (
        f"{y}-{mo}-{d}{sep}{h}:{mi}:{s}" + (f".{frac}" if frac else "")
    ),
    st.integers(1900, 2200), st.integers(1, 13), st.integers(1, 31),
    st.integers(0, 24), st.integers(0, 60), st.integers(0, 60),
    st.sampled_from([" ", "T"]),
    st.sampled_from(["", "1", "12", "123", "123456", "123456789"]),
)
_slash_ts = st.builds(
    lambda a, b, y, h: f"{a}/{b}/{y} {h}:30:15",
    st.integers(1, 31), st.integers(1, 31), st.integers(1900, 2200), st.integers(0, 23),
)
_epoch_like = st.sampled_from(
    ["999999999", "1000000000", "3999999999", "4000000000", "5000000000",
     "1700000000123", "1700000000123456", "1700000000123456789",
     "99999999999999999999999", "-1700000000"]
)
_bool_like = st.sampled_from(
    ["true", "FALSE", " T ", "y", "No", "on", "OFF", "2", "tru", "10"]
)
_garbage = st.text(max_size=12)

VALUES = st.lists(
    st.one_of(_null_tokens, _int_like, _signed_pad, _float_like, _date_like,
              _ts_like, _slash_ts, _epoch_like, _bool_like, _garbage),
    min_size=40, max_size=150,
)

_SETTINGS = dict(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


def _spark_parse(spark, builder, vals, out_cast=None):
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    col = builder(F.col("v"))
    if out_cast:
        col = col.cast(out_cast)
    return [r.o for r in df.select(col.alias("o")).collect()]


def _diff(vals, got, want_fn):
    want = [want_fn(v) for v in vals]
    bad = [(v, g, w) for v, g, w in zip(vals, got, want) if g != w]
    assert not bad, f"{len(bad)} diffs, first 5: {bad[:5]}"


@settings(**_SETTINGS)
@given(vals=VALUES)
def test_bool_differential(spark, vals):
    _diff(vals, _spark_parse(spark, parsers.parse_bool, vals), py_bool)


@settings(**_SETTINGS)
@given(vals=VALUES)
def test_int64_differential(spark, vals):
    _diff(vals, _spark_parse(spark, parsers.parse_int64, vals), py_int64)


@settings(**_SETTINGS)
@given(vals=VALUES)
def test_uint64_long_differential(spark, vals):
    _diff(vals, _spark_parse(spark, parsers.parse_uint64, vals), py_uint64_long)


@settings(**_SETTINGS)
@given(vals=VALUES)
def test_float64_differential(spark, vals):
    got = _spark_parse(spark, parsers.parse_float64, vals)
    want = [py_float64(v) for v in vals]
    bad = [
        (v, g, w)
        for v, g, w in zip(vals, got, want)
        if (g is None) != (w is None) or (g is not None and g != w)
    ]
    assert not bad, f"{len(bad)} diffs, first 5: {bad[:5]}"


@settings(**_SETTINGS)
@given(vals=VALUES)
def test_date_differential(spark, vals):
    got = _spark_parse(spark, lambda c: F.unix_date(parsers.parse_date(c)), vals)
    _diff(vals, got, py_date)


@settings(**_SETTINGS)
@given(vals=VALUES)
def test_timestamp_ms_differential(spark, vals):
    _diff(vals, _spark_parse(spark, parsers.parse_timestamp_ms, vals), py_ts_ms)


# ---------------------------------------------------------------------------
# the clean-value fast path: values at and just past the clean shapes
# (functions/parsers.py), so both halves of every cast are compared

#: kind → (Spark builder, twin); dates and timestamps compare as epoch
#: integers, because Python's date cannot hold year 0000
_KINDS = {
    "bool": (parsers.parse_bool, py_bool),
    "int64": (parsers.parse_int64, py_int64),
    "uint64": (parsers.parse_uint64, py_uint64_long),
    "float64": (parsers.parse_float64, py_float64),
    "date": (lambda c: F.unix_date(parsers.parse_date(c)), py_date),
    "epoch_ms": (parsers.parse_timestamp_ms, py_ts_ms),
    **{
        f"ts_{u}": (
            lambda c, u=u: F.unix_micros(parsers.parse_timestamp(c, u).cast("timestamp")),
            lambda v, u=u: py_ts_us(v, u),
        )
        for u in ("s", "ms", "us", "ns")
    },
}

#: ways a clean value stops being clean: a trailing line terminator
#: (Java's ``$`` would still match), a control character, Unicode
#: padding, another case
_PERTURB = (
    lambda v: v,
    lambda v: v + "\n",
    lambda v: "\x01" + v,
    lambda v: "\xa0" + v + "\xa0",
    lambda v: " " + v,
    lambda v: v + "\u3000",
    str.upper,
)

NEAR_CLEAN_BOUNDARIES = [
    "5", "+5", "-5", "007", "-0", "+0", "0",
    "9223372036854775807", "9223372036854775808", "-9223372036854775808",
    "-9223372036854775809", "18446744073709551615", "18446744073709551616",
    "1" * 19, "9" * 20, "0" * 40 + "5",
    ".5", "3.", "-.5", "+3.e1", "1e309", "-1e309", "1e308", "1E-400", "2e-2",
    "1" * 200, "1" * 201, "1" * 200 + ".5e99", "1" * 310,
    "0000-01-01", "0000-02-29", "0001-02-29", "1900-02-29", "2023-02-29",
    "2024-02-29", "2024-13-01", "2024-00-10", "2024-1-5", "9999-12-31",
    "0000-01-01 00:00:00", "1969-12-31 23:59:59.5", "1969-12-31 23:59:59",
    "1970-01-01 00:00:00.999999999", "1970-12-31 23:59:59.5",
    "1971-01-01 00:00:00.5", "2024-01-01 12:00:60",
    "2023-02-29 00:00:00", "2024-02-29T23:59:59.1234567",
    "2024-01-01 12:34:56.12345678", "2024-01-01 12:34:56.123456789",
    "2024-01-01 12:34:56.1234567890", "2024-01-01 12:34:56.",
    "2024-01-01 24:00:00", "2024-01-01T12:34:56Z", "9999-12-31 23:59:59.999",
    "true", "false", "on", "off", "yes", "no", "t", "f", "y", "n", "1", "0",
]

_digits = st.text("0123456789", min_size=1, max_size=22)
_near_clean_core = st.one_of(
    st.sampled_from(NEAR_CLEAN_BOUNDARIES),
    st.builds(lambda sign, d: sign + d, st.sampled_from(["", "+", "-"]), _digits),
    st.builds(
        lambda sign, i, f, e: f"{sign}{i}.{f}{e}",
        st.sampled_from(["", "+", "-"]),
        st.text("0123456789", max_size=4),
        st.text("0123456789", max_size=4),
        st.sampled_from(["", "e5", "E-7", "e+308", "e309", "e-330"]),
    ).filter(lambda v: any(ch.isdigit() for ch in v.split("e")[0].split("E")[0])),
    st.builds(
        lambda y, mo, d: f"{y:04d}-{mo:02d}-{d:02d}",
        st.integers(0, 9999), st.integers(0, 13), st.integers(0, 31),
    ),
    st.builds(
        lambda y, mo, d, sep, h, mi, sec, frac: (
            f"{y:04d}-{mo:02d}-{d:02d}{sep}{h:02d}:{mi:02d}:{sec:02d}"
            + (f".{frac}" if frac else "")
        ),
        st.integers(0, 9999), st.integers(1, 12), st.integers(1, 31),
        st.sampled_from([" ", "T"]), st.integers(0, 24), st.integers(0, 60),
        st.integers(0, 60), st.text("0123456789", max_size=10),
    ),
    st.sampled_from(sorted(TRUE_TOKENS | FALSE_TOKENS)),
)
NEAR_CLEAN = st.lists(
    st.builds(lambda v, p: p(v), _near_clean_core, st.sampled_from(_PERTURB)),
    min_size=40, max_size=150,
)


def _diff_all_kinds(spark, vals):
    """One Spark job: every kind's cast of ``vals`` against its twin."""
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    rows = df.select(*[b(F.col("v")).alias(k) for k, (b, _) in _KINDS.items()]).collect()
    bad = [
        (k, v, r[k], want(v))
        for v, r in zip(vals, rows)
        for k, (_, want) in _KINDS.items()
        if r[k] != want(v)
    ]
    assert not bad, f"{len(bad)} diffs, first 5: {bad[:5]}"


def test_near_clean_boundaries(spark):
    vals = [p(v) for v in NEAR_CLEAN_BOUNDARIES for p in _PERTURB]
    _diff_all_kinds(spark, vals + [None])


@settings(**_SETTINGS)
@given(vals=NEAR_CLEAN)
def test_near_clean_differential(spark, vals):
    _diff_all_kinds(spark, vals)


def test_null_token_regex_matches_python(spark):
    """``is_null_token``'s one regex agrees with the Python-side
    inference test for every WHITESPACE character around each
    mixed-case token, and for characters Python lower-cases oddly."""
    words = [
        case(t)
        for t in sorted(NULL_TOKENS) + ["", "nul", "nana", "x"]
        for case in (str.lower, str.upper, str.title, str.swapcase)
    ] + ["nUlL", "N/a", "nA"]
    vals = [
        f"{lead}{w}{trail}"
        for ws in WHITESPACE
        for w in words
        for lead, trail in ((ws, ""), ("", ws), (ws, ws), (ws + ws, " "))
    ]
    vals += ["\u212a", "\u0130", "na\u212a", "\u0130na", "NULL\u0130", "n\u0130l"]
    vals += ["na\n", "\nNA", "\x1cna", "n a", "null null"]
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    got = [r.o for r in df.select(is_null_token(F.col("v")).alias("o")).collect()]
    bad = [(v, g) for v, g in zip(vals, got) if g != _is_null_token_py(v)]
    assert not bad, f"{len(bad)} diffs, first 5: {bad[:5]}"


@settings(**_SETTINGS)
@given(
    cols=st.lists(
        st.lists(
            st.one_of(_null_tokens, _int_like, _float_like, _date_like,
                      _ts_like, _bool_like, _garbage),
            min_size=20, max_size=60,
        ),
        min_size=1, max_size=3,
    )
)
def test_inference_driver_vs_distributed(spark, cols, tmp_path_factory):
    """I1-I5 coherence: the driver-side sample reader and the
    distributed counters agg must infer IDENTICAL logical types
    whenever the file fits inside the sample cap."""
    import csv as _csv

    from tabular_to_parquet_spark.plans.inference import (
        infer_schema,
        infer_schema_distributed,
    )
    from tabular_to_parquet_spark.sources.text import read_delimited_as_strings

    n_rows = max(len(c) for c in cols)
    rows = [
        [c[i] if i < len(c) else "" for c in cols] for i in range(n_rows)
    ]
    p = tmp_path_factory.mktemp("fuzz") / "f.csv"
    with open(p, "w", newline="") as fh:
        w = _csv.writer(fh)
        w.writerow([f"c{i}" for i in range(len(cols))])
        w.writerows(rows)

    names, driver_types = infer_schema(str(p), ",")
    raw = read_delimited_as_strings(spark, str(p), ",", names)
    dist_types = infer_schema_distributed(raw)
    assert [
        (t.kind, t.unit, t.uint_exceeds_i64) for t in driver_types
    ] == [(t.kind, t.unit, t.uint_exceeds_i64) for t in dist_types]


# ---------------------------------------------------------------------------
# chunk_documents window arithmetic vs a direct Python reference


@settings(max_examples=300, deadline=None)
@given(
    n=st.integers(min_value=1, max_value=500),
    chunk=st.integers(min_value=2, max_value=64),
    data=st.data(),
)
def test_chunk_window_formula_covers_all_tokens(n, chunk, data):
    """The closed-form chunk count / start positions must cover every
    token exactly like the obvious Python loop: starts every `stride`
    while any token remains uncovered."""
    overlap = data.draw(st.integers(min_value=0, max_value=chunk - 1))
    stride = chunk - overlap
    extra = max(0, n - chunk)
    n_chunks = 1 + (extra + stride - 1) // stride

    # reference: greedy cover
    ref_starts = [0]
    while ref_starts[-1] + chunk < n:
        ref_starts.append(ref_starts[-1] + stride)
    starts = [i * stride for i in range(n_chunks)]
    assert starts == ref_starts
    # full coverage, no empty chunks
    covered = set()
    for s in starts:
        piece = range(s, min(n, s + chunk))
        assert len(piece) > 0
        covered.update(piece)
    assert covered == set(range(n))


def test_clean_timestamp_matches_lenient_ahead_of_utc(spark):
    """East of UTC, a 1970 wall clock can have a negative epoch, where the
    lenient second-unit cast truncates toward zero. The clean half must
    leave such years to it, so a value and its space-padded copy (which
    only the lenient half parses) cast alike in a zone with no DST."""
    vals = [
        f"{y}-{md} {hms}.5"
        for y in (1970, 1971, 2024)
        for md in ("01-01", "12-31")
        for hms in ("00:00:00", "08:59:59", "23:59:59")
    ]
    df = spark.createDataFrame([(v, " " + v) for v in vals], "v string, p string")
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    try:
        rows = df.select(
            *[
                parsers.parse_timestamp(F.col(c), unit).alias(f"{c}_{unit}")
                for unit in ("s", "ms")
                for c in ("v", "p")
            ],
            parsers.parse_timestamp_ms(F.col("v")).alias("v_epoch"),
            parsers.parse_timestamp_ms(F.col("p")).alias("p_epoch"),
        ).collect()
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    for v, r in zip(vals, rows):
        assert r["v_s"] == r["p_s"] is not None, v
        assert r["v_ms"] == r["p_ms"] is not None, v
        assert r["v_epoch"] == r["p_epoch"] is not None, v
