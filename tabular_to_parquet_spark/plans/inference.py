"""Sample-based schema inference (operators I1-I5, SURVEY.md §2.3).

Two implementations sharing one decision function:

- **Driver path** (default): first 1,000 data rows in file order
  (reference src/schema.rs:11,329-331), observed value-by-value in pure
  Python — an exact port of `StatistiquesColonne::observer_valeur`
  (schema.rs:129-210) and `choisir_type_large` (schema.rs:236-296).
  File-order determinism is the point: Spark `limit()` has no ordering
  guarantee, and 1,000 rows never justify a cluster job.

- **Distributed path** (``--infer-full-schema`` on big inputs): one
  Spark `agg()` pass computing the same 14 counters per column with
  built-in conditional expressions — map-side partial aggregation, one
  tiny result row to the driver, no Python in the hot loop. Scales to
  100 TB (single scan, O(columns) state).

Decision thresholds (schema.rs:236-296): ts/date/bool ratio ≥ 0.995;
f64 & i128 ratio ≥ 0.98; negatives ratio < 0.005 → unsigned.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql import DataFrame, functions as F

from tabular_to_parquet_spark.functions.nulls import (
    NULL_TOKENS,
    WHITESPACE,
    is_null_token,
    trimmed,
)
from tabular_to_parquet_spark.functions.parsers import (
    BOOL_FALSE_TOKENS,
    BOOL_TRUE_TOKENS,
    FLOAT_RE,
    INT_RE,
    TS_DASH_RE,
)
from tabular_to_parquet_spark.plans.logical_types import LogicalType, timestamp

I64_MIN = -(2**63)
I64_MAX = 2**63 - 1
U64_MAX = 2**64 - 1
I128_MIN = -(2**127)
I128_MAX = 2**127 - 1

#: default inference sample size (schema.rs:11 MAX_LIGNES_INFERENCE)
MAX_INFERENCE_ROWS = 1000

_INT_RE = re.compile(INT_RE)
_FLOAT_RE = re.compile(FLOAT_RE)
_BOOL_TOKENS = {t: True for t in BOOL_TRUE_TOKENS} | {t: False for t in BOOL_FALSE_TOKENS}

# rfc3339: 'T'/'t' separator, offset Z or ±HH:MM (chrono parse_from_rfc3339)
_RFC3339_RE = re.compile(
    r"^(\d{4}-\d{2}-\d{2})[Tt](\d{2}:\d{2}:\d{2})(\.\d+)?([Zz]|[+-]\d{2}:\d{2})$"
)
# the 8 %z/%:z formats (schema.rs:58-67): ' '/'T' separator, ±HHMM or ±HH:MM
_TZ_RE = re.compile(
    r"^(\d{4}-\d{1,2}-\d{1,2})[T ](\d{1,2}:\d{1,2}:\d{1,2})(\.\d{1,9})?([+-]\d{2}:?\d{2})$"
)
# naive dash forms (schema.rs:76-84): fraction absent or EXACTLY 3/6/9 digits
_NAIVE_DASH_RE = re.compile(
    r"^(\d{4}-\d{1,2}-\d{1,2})[T ](\d{1,2}:\d{1,2}:\d{1,2})(\.(\d{3}|\d{6}|\d{9}))?$"
)
_EPOCH_CHARS_RE = re.compile(r"^[0-9+\-]+$")


def _parse_date_text(t: str) -> bool:
    """est_date_texte (schema.rs:13-18): any of the 3 formats parses."""
    for fmt in ("%Y-%m-%d", "%d/%m/%Y", "%m/%d/%Y"):
        try:
            datetime.strptime(t, fmt)
            return True
        except ValueError:
            pass
    return False


def _valid_ymd_hms(date_part: str, time_part: str) -> bool:
    try:
        datetime.strptime(f"{date_part} {time_part}", "%Y-%m-%d %H:%M:%S")
        return True
    except ValueError:
        return False


def _frac_precision(t: str) -> int | None:
    """precision_fractionnelle_datetime (schema.rs:20-37): digits after
    the first '.', None if no dot or no digit after it."""
    pos = t.find(".")
    if pos < 0:
        return None
    n = 0
    for ch in t[pos + 1 :]:
        if ch.isdigit():
            n += 1
        else:
            break
    return n or None


def _unit_from_precision(p: int) -> str:
    """unite_timestamp_depuis_precision (schema.rs:39-49)."""
    if p >= 9:
        return "ns"
    if p >= 6:
        return "us"
    if p >= 3:
        return "ms"
    return "s"


def _datetime_text_unit(t: str) -> str | None:
    """detecter_unite_datetime_texte (schema.rs:51-97)."""
    m = _RFC3339_RE.match(t) or _TZ_RE.match(t)
    if m and _valid_ymd_hms(m.group(1), m.group(2)):
        return _unit_from_precision(_frac_precision(t) or 3)
    m = _NAIVE_DASH_RE.match(t)
    if m and _valid_ymd_hms(m.group(1), m.group(2)):
        return _unit_from_precision(_frac_precision(t) or 3)
    for fmt in ("%d/%m/%Y %H:%M:%S", "%Y/%m/%d %H:%M:%S"):
        try:
            datetime.strptime(t, fmt)
            return _unit_from_precision(_frac_precision(t) or 3)
        except ValueError:
            pass
    return None


def _epoch_unit(t: str) -> str | None:
    """detecter_unite_epoch (schema.rs:99-123) — NOTE: different windows
    than the converter's epoch parse (abs thresholds 1e11/1e14/1e17)."""
    if not t or not _EPOCH_CHARS_RE.match(t):
        return None
    if not _INT_RE.match(t):
        return None
    v = int(t)
    if not (I128_MIN <= v <= I128_MAX):
        return None
    a = abs(v)
    if a < 100_000_000_000:
        return "s"
    if a < 100_000_000_000_000:
        return "ms"
    if a < 100_000_000_000_000_000:
        return "us"
    return "ns"


def _is_null_token_py(v: str) -> bool:
    t = v.strip(WHITESPACE)
    return t == "" or t.lower() in NULL_TOKENS


@dataclass
class ColumnStats:
    """The 14 per-column counters (schema.rs:129-145)."""

    nonnull: int = 0
    bool_ok: int = 0
    date_ok: int = 0
    ts_s: int = 0
    ts_ms: int = 0
    ts_us: int = 0
    ts_ns: int = 0
    f64_ok: int = 0
    i128_ok: int = 0
    negatives: int = 0
    float_syntax_seen: bool = False
    min_i128: int = I128_MAX
    max_i128: int = I128_MIN
    max_len: int = 0


def observe_value(stats: ColumnStats, value: str) -> None:
    """Exact port of observer_valeur (schema.rs:167-210)."""
    if _is_null_token_py(value):
        return
    stats.nonnull += 1
    t = value.strip(WHITESPACE)
    stats.max_len = max(stats.max_len, len(t))

    if t.lower() in _BOOL_TOKENS:
        stats.bool_ok += 1
    if _parse_date_text(t):
        stats.date_ok += 1

    # timestamp gate: len ≥ 8 AND contains '-', ':' or 'T' (schema.rs:184)
    if len(t) >= 8 and any(ch in t for ch in "-:T"):
        unit = _datetime_text_unit(t) or _epoch_unit(t)
        if unit == "s":
            stats.ts_s += 1
        elif unit == "ms":
            stats.ts_ms += 1
        elif unit == "us":
            stats.ts_us += 1
        elif unit == "ns":
            stats.ts_ns += 1

    if _FLOAT_RE.match(t):
        stats.f64_ok += 1
        if "." in t or "e" in t or "E" in t:
            stats.float_syntax_seen = True

    if _INT_RE.match(t):
        v = int(t)
        if I128_MIN <= v <= I128_MAX:
            stats.i128_ok += 1
            if v < 0:
                stats.negatives += 1
            stats.min_i128 = min(stats.min_i128, v)
            stats.max_i128 = max(stats.max_i128, v)


def _vote_unit(s: ColumnStats) -> str:
    """choisir_unite_timestamp (schema.rs:220-234): plurality vote,
    ms wins ties (it is the seed AND candidates only beat on >)."""
    best_unit, best_n = "ms", s.ts_ms
    for unit, n in (("s", s.ts_s), ("ms", s.ts_ms), ("us", s.ts_us), ("ns", s.ts_ns)):
        if n > best_n:
            best_unit, best_n = unit, n
    return best_unit


def decide_type(s: ColumnStats) -> LogicalType:
    """Exact port of choisir_type_large (schema.rs:236-296)."""
    if s.nonnull == 0:
        return LogicalType("string")

    nn = s.nonnull
    ts_total = s.ts_s + s.ts_ms + s.ts_us + s.ts_ns

    if ts_total / nn >= 0.995:
        return timestamp(_vote_unit(s))
    if s.date_ok / nn >= 0.995:
        return LogicalType("date")
    if s.bool_ok / nn >= 0.995:
        return LogicalType("bool")

    if s.f64_ok / nn >= 0.98:
        if s.float_syntax_seen:
            return LogicalType("float64")
        ratio_neg = s.negatives / max(s.i128_ok, 1)
        if s.i128_ok / nn >= 0.98:
            if s.min_i128 < I64_MIN or s.max_i128 > U64_MAX:
                return LogicalType("float64")
            if s.min_i128 >= 0 and s.max_i128 <= U64_MAX:
                if s.max_i128 > I64_MAX:
                    return LogicalType("uint64", uint_exceeds_i64=True)
                if ratio_neg < 0.005:
                    return LogicalType("uint64")
            if s.min_i128 >= I64_MIN and s.max_i128 <= I64_MAX:
                return LogicalType("int64")
            return LogicalType("float64")
        return LogicalType("float64")

    return LogicalType("string")


def infer_from_rows(n_cols: int, rows: list[list[str]]) -> list[LogicalType]:
    """Infer one LogicalType per column from raw string rows.

    Ragged rows: missing fields observed as "" (a null token — no-op),
    extras ignored, matching `ligne.get(index).unwrap_or("")`
    (schema.rs:324-327). All-nullable is implicit: every Spark field we
    later build is nullable (I5, conversion.rs:249-257).
    """
    stats = [ColumnStats() for _ in range(n_cols)]
    for row in rows:
        for i in range(n_cols):
            observe_value(stats[i], row[i] if i < len(row) else "")
    return [decide_type(s) for s in stats]


def infer_schema(path: str, delimiter: str) -> tuple[list[str], list[LogicalType]]:
    """Driver-side inference over the first :data:`MAX_INFERENCE_ROWS`
    data rows (the default path). Returns (names, types)."""
    from tabular_to_parquet_spark.sources.text import read_sample_rows, sanitize_names

    header, rows = read_sample_rows(path, delimiter, MAX_INFERENCE_ROWS)
    names = sanitize_names(header)
    return names, infer_from_rows(len(names), rows)


# ---------------------------------------------------------------------------
# Distributed counters (one agg pass, built-in expressions only)

# Spark-side regex mirrors of the Python matchers above. Java regex and
# Python regex agree on these patterns (no lookbehind/unicode classes).
_RFC3339_SPARK = r"^\d{4}-\d{2}-\d{2}[Tt]\d{2}:\d{2}:\d{2}(\.\d+)?([Zz]|[+-]\d{2}:\d{2})$"
_TZ_SPARK = r"^\d{4}-\d{1,2}-\d{1,2}[T ]\d{1,2}:\d{1,2}:\d{1,2}(\.\d{1,9})?[+-]\d{2}:?\d{2}$"
_NAIVE_DASH_SPARK = r"^\d{4}-\d{1,2}-\d{1,2}[T ]\d{1,2}:\d{1,2}:\d{1,2}(\.(\d{3}|\d{6}|\d{9}))?$"
_SLASH_DMY_SPARK = r"^\d{1,2}/\d{1,2}/\d{4} \d{1,2}:\d{1,2}:\d{1,2}$"
_SLASH_YMD_SPARK = r"^\d{4}/\d{1,2}/\d{1,2} \d{1,2}:\d{1,2}:\d{1,2}$"
_EPOCH_SPARK = r"^[+-]?[0-9]+$"


def _value_exprs(col_name: str) -> list:
    """Per-row intermediates for one column (the expensive regex /
    try_to_timestamp logic), as projection columns. Splitting these out
    of the aggregate keeps the Aggregate's codegen tiny — the giant
    expression tree compiles once in a Project stage instead of being
    replicated into 14 aggregate functions (first-run Janino compile
    drops severalfold)."""
    c = F.col(col_name)
    nn = ~is_null_token(c)
    t = trimmed(c)
    low = F.lower(t)

    bool_ok = low.isin(*(BOOL_TRUE_TOKENS + BOOL_FALSE_TOKENS))
    # cheap shape gate first: And short-circuits in codegen, so the 3
    # Java parser attempts only run on date-shaped values. The gate is a
    # strict SUPERSET of every shape the lenient patterns can accept
    # (yyyy/%Y take 1-4 digits), so it never changes the outcome.
    date_shape = t.rlike(r"^\d{1,4}[-/]\d{1,2}[-/]\d{1,4}$")
    date_ok = date_shape & F.coalesce(
        F.try_to_date(t, "yyyy-M-d"),
        F.try_to_date(t, "d/M/yyyy"),
        F.try_to_date(t, "M/d/yyyy"),
    ).isNotNull()

    # --- timestamp unit detection, mirroring _datetime_text_unit ---------
    gate = (F.length(t) >= 8) & t.rlike("[-:T]")
    # strip fraction+offset down to "date time" and validate it
    date_p = F.regexp_extract(t, r"^(\d{4}-\d{1,2}-\d{1,2})[Tt ]", 1)
    time_p = F.regexp_extract(t, r"[Tt ](\d{1,2}:\d{1,2}:\d{1,2})", 1)
    base_ok = F.try_to_timestamp(
        F.concat(date_p, F.lit(" "), time_p), F.lit("yyyy-M-d H:m:s")
    ).isNotNull()
    # one alternation regex = one compiled pattern + one pass per value
    text_shape = t.rlike(f"({_RFC3339_SPARK})|({_TZ_SPARK})|({_NAIVE_DASH_SPARK})")
    # regex first: And short-circuits, so the parser only runs on
    # slash-shaped values
    slash_ok = (
        t.rlike(_SLASH_DMY_SPARK)
        & F.try_to_timestamp(t, F.lit("d/M/yyyy H:m:s")).isNotNull()
    ) | (
        t.rlike(_SLASH_YMD_SPARK)
        & F.try_to_timestamp(t, F.lit("yyyy/M/d H:m:s")).isNotNull()
    )
    text_valid = (text_shape & base_ok) | slash_ok
    fd = F.length(F.regexp_extract(t, r"^[^.]*\.(\d+)", 1))  # digits after first '.'
    prec = F.when(fd > 0, fd).otherwise(F.lit(3))
    text_unit = (
        F.when(prec >= 9, "ns").when(prec >= 6, "us").when(prec >= 3, "ms").otherwise("s")
    )
    # epoch fallback (schema.rs:99-123) — only reachable for values that
    # pass the gate, i.e. integers containing '-' (negatives)
    d38 = F.when(t.rlike(_EPOCH_SPARK), t.try_cast("decimal(38,0)"))
    a = F.abs(d38)
    epoch_unit = (
        F.when(a < 100_000_000_000, "s")
        .when(a < 100_000_000_000_000, "ms")
        .when(a < 100_000_000_000_000_000, "us")
        .otherwise("ns")
    )
    unit = F.when(text_valid, text_unit).when(gate & d38.isNotNull(), epoch_unit)
    ts_unit = F.when(gate, unit)

    f64_ok = t.rlike(FLOAT_RE) & t.try_cast("double").isNotNull()
    i128_ok = d38.isNotNull()

    return [
        nn.alias("_nn"),
        bool_ok.alias("_bool"),
        date_ok.alias("_date"),
        ts_unit.alias("_unit"),
        f64_ok.alias("_f64"),
        i128_ok.alias("_i128"),
        (i128_ok & (d38 < 0)).alias("_neg"),
        (f64_ok & t.rlike(r"[.eE]")).alias("_fsyn"),
        d38.alias("_d38"),
        F.length(t).alias("_len"),
    ]


def _agg_exprs() -> list:
    """The 14 counters of a column, aggregating the `_value_exprs`
    intermediates (trivial sums/min/max — tiny codegen)."""
    nn = F.col("_nn")
    unit = F.col("_unit")
    d38 = F.col("_d38")

    def cnt(pred):
        return F.sum(F.when(nn & pred, 1).otherwise(0))

    return [
        cnt(F.lit(True)).alias("nonnull"),
        cnt(F.col("_bool")).alias("bool"),
        cnt(F.col("_date")).alias("date"),
        cnt(unit == "s").alias("ts_s"),
        cnt(unit == "ms").alias("ts_ms"),
        cnt(unit == "us").alias("ts_us"),
        cnt(unit == "ns").alias("ts_ns"),
        cnt(F.col("_f64")).alias("f64"),
        cnt(F.col("_i128")).alias("i128"),
        cnt(F.col("_neg")).alias("neg"),
        cnt(F.col("_fsyn")).alias("fsyn"),
        F.min(F.when(nn, d38)).alias("min"),
        F.max(F.when(nn, d38)).alias("max"),
        F.max(F.when(nn, F.col("_len"))).alias("len"),
    ]


def counters_long(df: DataFrame) -> DataFrame:
    """I1 in LONG format: one output row per column.

    The per-value expression tree (regexes, timestamp probes) is the
    expensive part of this plan. Laid out one column per counter set,
    it would be codegen-replicated once per column, so first-run Janino
    compile would grow linearly with column count. Here the columns
    are unpivoted to ``(col_idx, v)`` rows first (posexplode — same
    stage, no shuffle), so the tree compiles exactly ONCE regardless
    of width, and the aggregate is 14 counters grouped by ``col_idx``
    (map-side partial agg; N tiny rows to the driver). Total
    per-value work is rows × columns evaluations either way.
    """
    stacked = df.select(
        F.posexplode(F.array(*[F.col(c) for c in df.columns])).alias("col_idx", "v")
    )
    proj = stacked.select("col_idx", *_value_exprs("v"))
    return proj.groupBy("col_idx").agg(*_agg_exprs())


def infer_schema_distributed(df: DataFrame) -> list[LogicalType]:
    """Full-scan inference as ONE Spark aggregation over a string-typed
    DataFrame (I1 distributed). Partial aggregation happens map-side;
    exactly one small row per column reaches the driver, where the
    shared decision function runs (I2/I3).
    """
    rows = {r["col_idx"]: r.asDict() for r in counters_long(df).collect()}

    out: list[LogicalType] = []
    for i in range(len(df.columns)):
        row = rows.get(i, {})
        s = ColumnStats(
            nonnull=row.get("nonnull") or 0,
            bool_ok=row.get("bool") or 0,
            date_ok=row.get("date") or 0,
            ts_s=row.get("ts_s") or 0,
            ts_ms=row.get("ts_ms") or 0,
            ts_us=row.get("ts_us") or 0,
            ts_ns=row.get("ts_ns") or 0,
            f64_ok=row.get("f64") or 0,
            i128_ok=row.get("i128") or 0,
            negatives=row.get("neg") or 0,
            float_syntax_seen=bool(row.get("fsyn") or 0),
            min_i128=int(row["min"]) if row.get("min") is not None else I128_MAX,
            max_i128=int(row["max"]) if row.get("max") is not None else I128_MIN,
            max_len=row.get("len") or 0,
        )
        out.append(decide_type(s))
    return out
