"""The declared-query catalog: every operator exposed through
``__spark_entry__.queries()`` with its DuckDB oracle SQL.

Design rules that make cross-engine value-hash comparison possible:

- Token/test-data derivation snippets are written in the SQL dialect
  intersection (``CASE``, ``%``, ``||``, ``CAST(x AS STRING)``) and
  embedded verbatim on BOTH sides, so inputs are identical strings.
- The Spark side always goes through the ENGINE's builders; the oracle
  re-implements the semantics independently in DuckDB SQL.
- No multi-term double sums — aggregates use exact integer/decimal
  math (cast to double only at the very end); per-row float math is
  restricted to operations with one IEEE-correct rounding (single
  divisions, sqrt) or sequential folds that both engines evaluate
  left-to-right, which are bit-identical.
- Every computed column is aliased identically in both dialects.
"""

from __future__ import annotations

import glob
import os
import tempfile
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from tabular_to_parquet_spark.functions import parsers
from tabular_to_parquet_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# registry

@dataclass(frozen=True)
class QueryDef:
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL, or None → driver does rows-only check


CATALOG: dict[str, QueryDef] = {}


def register(name: str, oracle: str | None):
    def deco(fn):
        CATALOG[name] = QueryDef(fn, oracle)
        return fn
    return deco


# ---------------------------------------------------------------------------
# shared SQL snippets (valid in BOTH Spark SQL and DuckDB)

ROW_ID = "(l_orderkey * 10 + l_linenumber)"

from tabular_to_parquet_spark.functions.nulls import WHITESPACE


def wtrim(expr: str) -> str:
    """Oracle-side Unicode trim — same White_Space set as the engine's
    trimmed() (functions/nulls.py); DuckDB's plain trim() is
    ASCII-space-only and would diverge on NBSP-padded values."""
    return f"regexp_replace({expr}, '^[{WHITESPACE}]+|[{WHITESPACE}]+$', '', 'g')"


_TRIM = wtrim("tok")

#: null-token predicate over a column named tok (oracle side)
NULLTOK = f"(tok IS NULL OR {_TRIM} = '' OR lower({_TRIM}) IN ('null','none','nan','n/a','na'))"

_INT_RE_SQL = "'^[+-]?[0-9]+$'"
_D38 = f"try_cast({_TRIM} AS DECIMAL(38,0))"


def _case(expr: str, arms: list[str], n: int | None = None) -> str:
    n = n if n is not None else len(arms)
    whens = " ".join(f"WHEN {i} THEN {v}" for i, v in enumerate(arms))
    return f"(CASE ({expr} % {n}) {whens} END)"


def _cast_query(tok_sql: str, builder, out_type_alias: str = "out"):
    """Spark side of a cast-parity query: derive tok from lineitem with
    the SHARED snippet, then apply the engine's builder."""

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        li = load_table(spark, sf_dir, "lineitem")
        return li.select(
            F.expr(ROW_ID).alias("row_id"),
            builder(F.expr(tok_sql)).alias(out_type_alias),
        )

    return fn


def _oracle(tok_sql: str, out_sql: str) -> str:
    return (
        f"SELECT {ROW_ID} AS row_id, {out_sql} AS out "
        f"FROM (SELECT *, {tok_sql} AS tok FROM lineitem)"
    )


# ---------------------------------------------------------------------------
# P1 — null-token normalization

_TOK_NULL = _case(
    ROW_ID,
    ["'NULL'", "'none'", "'NaN'", "' n/a '", "'NA'", "''", "' '",
     "'keep me'", "CAST(l_orderkey AS STRING)", "'0'", "'false'",
     "' null '", "' '", "' keep '"],
)

register("p01_null_normalization", _oracle(
    _TOK_NULL, f"CASE WHEN {NULLTOK} THEN NULL ELSE tok END"
))(_cast_query(_TOK_NULL, parsers.parse_string))

# ---------------------------------------------------------------------------
# P2 — boolean cast

_TOK_BOOL = _case(
    ROW_ID,
    ["'true'", "'1'", "'t'", "'y'", "'YES'", "'on'", "'false'", "'0'",
     "'f'", "'n'", "'No'", "'OFF'", "' TRUE '", "'maybe'", "'NA'", "''"],
)

register("p02_cast_bool", _oracle(
    _TOK_BOOL,
    f"""CASE WHEN {NULLTOK} THEN NULL
            WHEN lower({_TRIM}) IN ('true','1','t','y','yes','on') THEN true
            WHEN lower({_TRIM}) IN ('false','0','f','n','no','off') THEN false
            ELSE NULL END""",
))(_cast_query(_TOK_BOOL, parsers.parse_bool))

# ---------------------------------------------------------------------------
# P3 — int64 cast

_TOK_INT = _case(
    ROW_ID,
    ["CAST(l_orderkey AS STRING)",
     "CAST(0 - l_orderkey AS STRING)",
     "'+5'", "' 42 '",
     "'9223372036854775807'", "'9223372036854775808'",
     "'-9223372036854775808'", "'-9223372036854775809'",
     "'1.5'", "'1e3'", "'abc'", "'NA'", "' 7 '",
     "CAST(l_orderkey AS STRING) || CAST(l_partkey AS STRING) || '9999999999999'"],
)

register("p03_cast_int64", _oracle(
    _TOK_INT,
    f"""CASE WHEN NOT {NULLTOK}
              AND regexp_matches({_TRIM}, {_INT_RE_SQL})
              AND {_D38} BETWEEN '-9223372036854775808'::DECIMAL(38,0)
                             AND '9223372036854775807'::DECIMAL(38,0)
            THEN CAST({_D38} AS BIGINT) END""",
))(_cast_query(_TOK_INT, parsers.parse_int64))

# ---------------------------------------------------------------------------
# P4 — uint64 cast (both lowerings)

_TOK_UINT = _case(
    ROW_ID,
    ["CAST(l_orderkey AS STRING)", "'0'", "'+7'", "' 42 '",
     "'9223372036854775807'", "'9223372036854775808'",
     "'18446744073709551615'", "'18446744073709551616'",
     "'-1'", "'1.0'", "'NA'"],
)

register("p04_cast_uint64_long", _oracle(
    _TOK_UINT,
    f"""CASE WHEN NOT {NULLTOK}
              AND regexp_matches({_TRIM}, {_INT_RE_SQL})
              AND {_D38} BETWEEN 0::DECIMAL(38,0)
                             AND '9223372036854775807'::DECIMAL(38,0)
            THEN CAST({_D38} AS BIGINT) END""",
))(_cast_query(_TOK_UINT, lambda c: parsers.parse_uint64(c, as_decimal=False)))

# output transported as VARCHAR: DECIMAL(20,0) values exceed int64, and
# pandas/duckdb decimal→float coercion would corrupt them in the compare;
# the DecimalType(20,0) lowering itself is pinned by tests/test_parsers.py
register("p04_cast_uint64_decimal", _oracle(
    _TOK_UINT,
    f"""CASE WHEN NOT {NULLTOK}
              AND regexp_matches({_TRIM}, {_INT_RE_SQL})
              AND {_D38} BETWEEN 0::DECIMAL(38,0)
                             AND '18446744073709551615'::DECIMAL(38,0)
            THEN CAST({_D38} AS DECIMAL(20,0))::VARCHAR END""",
))(_cast_query(_TOK_UINT, lambda c: parsers.parse_uint64(c, as_decimal=True).cast("string")))

# ---------------------------------------------------------------------------
# P5 — float64 cast

_TOK_FLOAT = _case(
    ROW_ID,
    ["CAST(l_quantity AS STRING)", "CAST(l_discount AS STRING)",
     "CAST(l_extendedprice AS STRING)", "CAST(0 - l_tax AS STRING)",
     "'.5'", "'3.'", "'1e3'", "'2E-2'", "'+1.5'",
     "'inf'", "'-inf'", "'Infinity'", "'nan'", "'abc'", "'1_0'", "'NA'"],
)

_FLOAT_RE_SQL = r"'^[+-]?(inf(inity)?|nan|([0-9]+(\.[0-9]*)?|\.[0-9]+)([eE][+-]?[0-9]+)?)$'"

register("p05_cast_float64", _oracle(
    _TOK_FLOAT,
    f"""CASE WHEN NOT {NULLTOK}
              AND regexp_matches({_TRIM}, {_FLOAT_RE_SQL}, 'i')
              AND isfinite(try_cast({_TRIM} AS DOUBLE))
            THEN try_cast({_TRIM} AS DOUBLE) END""",
))(_cast_query(_TOK_FLOAT, parsers.parse_float64))

# ---------------------------------------------------------------------------
# P6 — date cast (generation is engine-specific, tokens identical)


def _q_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    tok = F.expr(
        _case(
            ROW_ID,
            ["date_format(l_shipdate, 'yyyy-MM-dd')",
             "date_format(l_shipdate, 'dd/MM/yyyy')",
             "date_format(l_shipdate, 'MM/dd/yyyy')",
             "'1970-01-01'", "'02/01/1970'", "'invalid'", "'2024-13-01'", "'NA'"],
        )
    )
    # transported as ISO strings: DATE round-trips through pandas as
    # object-dtype dates on one engine and datetime64 on the other
    return li.select(
        F.expr(ROW_ID).alias("row_id"),
        F.date_format(parsers.parse_date(tok), "yyyy-MM-dd").alias("out"),
    )


_TOK_DATE_DUCK = _case(
    ROW_ID,
    ["strftime(l_shipdate, '%Y-%m-%d')",
     "strftime(l_shipdate, '%d/%m/%Y')",
     "strftime(l_shipdate, '%m/%d/%Y')",
     "'1970-01-01'", "'02/01/1970'", "'invalid'", "'2024-13-01'", "'NA'"],
)

register("p06_cast_date", _oracle(
    _TOK_DATE_DUCK,
    f"""CASE WHEN NOT {NULLTOK} THEN strftime(CAST(COALESCE(
            try_strptime({_TRIM}, '%Y-%m-%d'),
            try_strptime({_TRIM}, '%d/%m/%Y'),
            try_strptime({_TRIM}, '%m/%d/%Y')) AS DATE), '%Y-%m-%d') END""",
))(_q_date)

# ---------------------------------------------------------------------------
# P7 — timestamp-text cast: 6 accepted formats + rejected offset forms.
# The oracle derives EXPECTED values straight from l_shipdate (it knows
# which variant each row got), independent of any parsing.


def _q_ts_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    tok = F.expr(
        _case(
            ROW_ID,
            ["date_format(l_shipdate, 'yyyy-MM-dd HH:mm:ss')",
             "date_format(l_shipdate, \"yyyy-MM-dd'T'HH:mm:ss\")",
             "date_format(l_shipdate, 'yyyy-MM-dd HH:mm:ss.SSS')",
             "date_format(l_shipdate, 'yyyy-MM-dd HH:mm:ss.SSSSSS')",
             "date_format(l_shipdate, 'dd/MM/yyyy HH:mm:ss')",
             "date_format(l_shipdate, 'yyyy/MM/dd HH:mm:ss')",
             "date_format(l_shipdate, 'yyyy-MM-dd HH:mm:ss') || '+02:00'",
             "'garbage'"],
        )
    )
    return li.select(
        F.expr(ROW_ID).alias("row_id"),
        parsers.parse_timestamp(tok, "ms").alias("out"),
    )


register("p07_cast_timestamp_text", f"""
SELECT {ROW_ID} AS row_id,
       (CASE ({ROW_ID} % 8)
            WHEN 0 THEN date_trunc('second', l_shipdate)
            WHEN 1 THEN date_trunc('second', l_shipdate)
            WHEN 2 THEN date_trunc('milliseconds', l_shipdate)
            WHEN 3 THEN date_trunc('milliseconds', l_shipdate)
            WHEN 4 THEN date_trunc('second', l_shipdate)
            WHEN 5 THEN date_trunc('second', l_shipdate)
            ELSE NULL END)::TIMESTAMP AS out
FROM lineitem
""")(_q_ts_text)

# ---------------------------------------------------------------------------
# P8 — epoch-number windows (shared arithmetic token, oracle computes
# expected timestamps by construction)

_EPOCH_ARMS = [
    ("CAST(1000000000 + (l_orderkey % 999999999) AS STRING)",
     "make_timestamp((1000000000 + (l_orderkey % 999999999)) * 1000000)"),
    ("CAST(4000000000 + (l_orderkey % 999999999) AS STRING)", "NULL"),
    ("CAST(l_orderkey % 999999999 AS STRING)", "NULL"),
    ("CAST(1000000000000 + l_orderkey AS STRING)",
     "make_timestamp((1000000000000 + l_orderkey) * 1000)"),
    ("CAST(1000000000000000 + l_orderkey * 1000 + 999 AS STRING)",
     "make_timestamp(1000000000000000 + l_orderkey * 1000 + 999 "
     "- ((1000000000000000 + l_orderkey * 1000 + 999) % 1000))"),
    ("CAST(1000000000000000000 + l_orderkey * 1000000 AS STRING)",
     "make_timestamp((1000000000000000000 + l_orderkey * 1000000) // 1000000 * 1000)"),
    ("CAST(0 - (1000000000 + l_orderkey) AS STRING)", "NULL"),
    ("'99999999999999999999999999999999999999990'", "NULL"),
]

_TOK_EPOCH = _case(ROW_ID, [a for a, _ in _EPOCH_ARMS])

register("p08_cast_epoch", f"""
SELECT {ROW_ID} AS row_id,
       ({_case(ROW_ID, [e for _, e in _EPOCH_ARMS])})::TIMESTAMP AS out
FROM lineitem
""")(_cast_query(_TOK_EPOCH, lambda c: parsers.parse_timestamp(c, "ms")))

# ---------------------------------------------------------------------------
# P9 — unit rescaling: seconds-unit column truncates ms


def _q_ts_unit_s(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    tok = F.expr("date_format(l_shipdate, 'yyyy-MM-dd HH:mm:ss') || '.' || CAST(l_orderkey % 1000 AS STRING)")
    return li.select(
        F.expr(ROW_ID).alias("row_id"),
        parsers.parse_timestamp(tok, "s").alias("out"),
    )


register("p09_timestamp_unit_seconds", f"""
SELECT {ROW_ID} AS row_id,
       date_trunc('second', l_shipdate)::TIMESTAMP AS out
FROM lineitem
""")(_q_ts_unit_s)

# ---------------------------------------------------------------------------
# P10/P11 — string passthrough & binary

_TOK_STR = _case(
    ROW_ID,
    ["'  padded  '", "CAST(l_orderkey AS STRING) || ' x'", "l_returnflag",
     "'NULL'", "''", "'ünïcode'"],
)

register("p10_cast_string", _oracle(
    _TOK_STR, f"CASE WHEN {NULLTOK} THEN NULL ELSE tok END"
))(_cast_query(_TOK_STR, parsers.parse_string))


def _q_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    tok = F.expr(_TOK_STR)
    return li.select(
        F.expr(ROW_ID).alias("row_id"),
        F.lower(F.hex(parsers.parse_binary(tok))).alias("out"),
    )


register("p11_cast_binary_hex", _oracle(
    _TOK_STR,
    f"CASE WHEN {NULLTOK} THEN NULL ELSE lower(hex(encode(tok))) END",
))(_q_binary)

# ---------------------------------------------------------------------------
# I1 — inference counters over stringified lineitem columns (the
# distributed-inference statistics pass, checked column by column)

_I1_COLS = {
    "qty": "CAST(l_quantity AS STRING)",
    "flag": "l_returnflag",
    "linenum": "CAST(l_linenumber AS STRING)",
    "ship_iso": None,  # engine-specific formatting below
}
_I1_SHIP_SPARK = "date_format(l_shipdate, 'yyyy-MM-dd HH:mm:ss.SSS')"
_I1_SHIP_DUCK = "strftime(l_shipdate, '%Y-%m-%d %H:%M:%S.%g')"


def _q_i1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tabular_to_parquet_spark.plans.inference import counters_long

    li = load_table(spark, sf_dir, "lineitem")
    frames = []
    for label, snippet in _I1_COLS.items():
        snippet = snippet or _I1_SHIP_SPARK
        src = li.select(F.expr(snippet).alias("v"))
        agg = counters_long(src).select(
            F.lit(label).alias("col_label"),
            "nonnull",
            F.col("bool").alias("bool_ok"),
            F.col("date").alias("date_ok"),
            "ts_s",
            "ts_ms",
            "ts_us",
            "ts_ns",
            F.col("f64").alias("f64_ok"),
            F.col("i128").alias("i128_ok"),
            F.col("neg").alias("negatives"),
            F.col("fsyn").alias("float_syntax"),
            F.col("min").try_cast("long").alias("min_i"),
            F.col("max").try_cast("long").alias("max_i"),
            F.col("len").cast("long").alias("max_len"),
        )
        frames.append(agg)
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def _i1_oracle_one(label: str, snippet: str) -> str:
    t = wtrim("v")
    nn = f"NOT (v IS NULL OR {t} = '' OR lower({t}) IN ('null','none','nan','n/a','na'))"
    num = f"try_cast({t} AS DECIMAL(38,0))"
    intre = f"regexp_matches({t}, {_INT_RE_SQL})"
    date_ok = (f"COALESCE(try_strptime({t}, '%Y-%m-%d'), try_strptime({t}, '%d/%m/%Y'), "
               f"try_strptime({t}, '%m/%d/%Y')) IS NOT NULL")
    f64_ok = (f"regexp_matches({t}, {_FLOAT_RE_SQL}, 'i') "
              f"AND try_cast({t} AS DOUBLE) IS NOT NULL")
    # naive dash-form detection with 3/6/9-digit fraction rule + unit from
    # fraction digits (sufficient for these four shapes; negatives-epoch
    # path included for completeness)
    dash_re = r"'^\d{4}-\d{1,2}-\d{1,2}[T ]\d{1,2}:\d{1,2}:\d{1,2}(\.(\d{3}|\d{6}|\d{9}))?$'"
    base_ok = (f"try_strptime(regexp_extract({t}, '^(\\d{{4}}-\\d{{1,2}}-\\d{{1,2}})[T ]"
               f"(\\d{{1,2}}:\\d{{1,2}}:\\d{{1,2}})', 1) || ' ' || "
               f"regexp_extract({t}, '^(\\d{{4}}-\\d{{1,2}}-\\d{{1,2}})[T ]"
               f"(\\d{{1,2}}:\\d{{1,2}}:\\d{{1,2}})', 2), '%Y-%m-%d %H:%M:%S') IS NOT NULL")
    gate = f"(length({t}) >= 8 AND regexp_matches({t}, '[-:T]'))"
    text_ts = f"({gate} AND regexp_matches({t}, {dash_re}) AND {base_ok})"
    neg_epoch = f"({gate} AND regexp_matches({t}, '^-[0-9]+$') AND {num} IS NOT NULL)"
    fd = f"length(regexp_extract({t}, '^[^.]*\\.(\\d+)', 1))"
    prec = f"(CASE WHEN {fd} > 0 THEN {fd} ELSE 3 END)"
    text_unit = (f"(CASE WHEN {prec} >= 9 THEN 'ns' WHEN {prec} >= 6 THEN 'us' "
                 f"WHEN {prec} >= 3 THEN 'ms' ELSE 's' END)")
    abs_num = f"abs({num})"
    epoch_unit = (f"(CASE WHEN {abs_num} < 100000000000 THEN 's' "
                  f"WHEN {abs_num} < 100000000000000 THEN 'ms' "
                  f"WHEN {abs_num} < 100000000000000000 THEN 'us' ELSE 'ns' END)")
    unit = f"(CASE WHEN {text_ts} THEN {text_unit} WHEN {neg_epoch} THEN {epoch_unit} END)"

    def cnt(pred: str) -> str:
        # CAST: DuckDB SUM(BIGINT) yields HUGEINT, which pandas floats
        return f"CAST(SUM(CASE WHEN {nn} AND {pred} THEN 1 ELSE 0 END) AS BIGINT)"

    return f"""
SELECT '{label}' AS col_label,
       {cnt('TRUE')} AS nonnull,
       {cnt("lower(" + t + ") IN ('true','1','t','y','yes','on','false','0','f','n','no','off')")} AS bool_ok,
       {cnt(date_ok)} AS date_ok,
       {cnt(unit + " = 's'")} AS ts_s,
       {cnt(unit + " = 'ms'")} AS ts_ms,
       {cnt(unit + " = 'us'")} AS ts_us,
       {cnt(unit + " = 'ns'")} AS ts_ns,
       {cnt(f64_ok)} AS f64_ok,
       {cnt(intre + " AND " + num + " IS NOT NULL")} AS i128_ok,
       {cnt(intre + " AND " + num + " < 0")} AS negatives,
       {cnt(f64_ok + " AND regexp_matches(" + t + ", '[.eE]')")} AS float_syntax,
       CAST(MIN(CASE WHEN {nn} AND {intre} THEN {num} END) AS BIGINT) AS min_i,
       CAST(MAX(CASE WHEN {nn} AND {intre} THEN {num} END) AS BIGINT) AS max_i,
       CAST(MAX(CASE WHEN {nn} THEN length({t}) END) AS BIGINT) AS max_len
FROM (SELECT {snippet} AS v FROM lineitem)
"""


register("i1_inference_counters", " UNION ALL ".join(
    _i1_oracle_one(label, snippet or _I1_SHIP_DUCK)
    for label, snippet in _I1_COLS.items()
))(_q_i1)

# ---------------------------------------------------------------------------
# S1-S7 end-to-end: lineitem → CSV → full conversion pipeline → parquet,
# compared against direct SELECT of the expected typed values.

_LINEITEM_COLS = [
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
    "l_linestatus", "l_shipdate",
]


def _q_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tabular_to_parquet_spark.operators.convert import convert_delimited_to_parquet

    li = load_table(spark, sf_dir, "lineitem").select(*_LINEITEM_COLS)
    tmp = tempfile.mkdtemp(prefix="s6_roundtrip_")
    csv_dir = os.path.join(tmp, "csv")
    (
        li.coalesce(1)
        .write.option("header", True)
        .option("timestampNTZFormat", "yyyy-MM-dd HH:mm:ss.SSS")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSS")
        .csv(csv_dir)
    )
    csv_file = glob.glob(os.path.join(csv_dir, "part-*.csv"))[0]
    out = os.path.join(tmp, "lineitem_roundtrip.parquet")
    convert_delimited_to_parquet(spark, csv_file, out)
    return spark.read.parquet(out)


register("s6_conversion_roundtrip", f"""
SELECT l_orderkey, l_partkey, l_suppkey,
       CAST(l_linenumber AS BIGINT) AS l_linenumber,
       l_quantity, l_extendedprice, l_discount, l_tax,
       l_returnflag, l_linestatus,
       date_trunc('milliseconds', l_shipdate)::TIMESTAMP AS l_shipdate
FROM lineitem
""")(_q_roundtrip)


def _q_inferred_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only check: the inferred logical schema of the roundtrip CSV
    (inference decisions are pinned by unit tests; this exposes them)."""
    from tabular_to_parquet_spark.plans.inference import infer_schema

    li = load_table(spark, sf_dir, "lineitem").select(*_LINEITEM_COLS)
    tmp = tempfile.mkdtemp(prefix="infer_schema_")
    csv_dir = os.path.join(tmp, "csv")
    (
        li.coalesce(1)
        .write.option("header", True)
        .option("timestampNTZFormat", "yyyy-MM-dd HH:mm:ss.SSS")
        .csv(csv_dir)
    )
    csv_file = glob.glob(os.path.join(csv_dir, "part-*.csv"))[0]
    names, types = infer_schema(csv_file, ",")
    rows = [
        (n, t.kind, t.unit, t.uint_exceeds_i64)
        for n, t in zip(names, types)
    ]
    return spark.createDataFrame(
        rows, "col_name string, kind string, unit string, uint_exceeds_i64 boolean"
    )


# literal-VALUES oracle: the decision function is deterministic on the
# lineitem CSV shapes (verified identical at sf0.001/sf0.01 — integer
# keys all non-negative → uint64 per the schema.rs:276-283 rule, money
# columns float64, flags string, ms-formatted shipdate → timestamp[ms])
register("i3_inferred_schema_decisions", """
SELECT col_name, kind, unit, uint_exceeds_i64 FROM (VALUES
    ('l_orderkey',      'uint64',    CAST(NULL AS VARCHAR), false),
    ('l_partkey',       'uint64',    CAST(NULL AS VARCHAR), false),
    ('l_suppkey',       'uint64',    CAST(NULL AS VARCHAR), false),
    ('l_linenumber',    'uint64',    CAST(NULL AS VARCHAR), false),
    ('l_quantity',      'float64',   CAST(NULL AS VARCHAR), false),
    ('l_extendedprice', 'float64',   CAST(NULL AS VARCHAR), false),
    ('l_discount',      'float64',   CAST(NULL AS VARCHAR), false),
    ('l_tax',           'float64',   CAST(NULL AS VARCHAR), false),
    ('l_returnflag',    'string',    CAST(NULL AS VARCHAR), false),
    ('l_linestatus',    'string',    CAST(NULL AS VARCHAR), false),
    ('l_shipdate',      'timestamp', 'ms',                  false)
) AS t(col_name, kind, unit, uint_exceeds_i64)
""")(_q_inferred_schema)


def _q_gzip_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s6's pipeline over a GZIPPED input file: the driver-side
    sniffer/header/sample readers decompress transparently
    (sources/text.open_text) and Spark's csv scan handles .gz by
    extension — same inference, same casts, same parquet. Note the
    scale caveat every engine shares: gzip is NOT splittable, so one
    .gz file scans as one task; many .gz files (the standard log
    layout) parallelize per file."""
    import gzip
    import shutil

    from tabular_to_parquet_spark.operators.convert import (
        convert_delimited_to_parquet,
    )

    li = load_table(spark, sf_dir, "lineitem").select(*_LINEITEM_COLS)
    tmp = tempfile.mkdtemp(prefix="s8_gzip_")
    csv_dir = os.path.join(tmp, "csv")
    (
        li.coalesce(1)
        .write.option("header", True)
        .option("timestampNTZFormat", "yyyy-MM-dd HH:mm:ss.SSS")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSS")
        .csv(csv_dir)
    )
    csv_file = glob.glob(os.path.join(csv_dir, "part-*.csv"))[0]
    gz_file = os.path.join(tmp, "lineitem.csv.gz")
    with open(csv_file, "rb") as src, gzip.open(gz_file, "wb") as dst:
        shutil.copyfileobj(src, dst)
    out = os.path.join(tmp, "lineitem_gz.parquet")
    convert_delimited_to_parquet(spark, gz_file, out)
    return spark.read.parquet(out)


register("s8_gzip_conversion", f"""
SELECT l_orderkey, l_partkey, l_suppkey,
       CAST(l_linenumber AS BIGINT) AS l_linenumber,
       l_quantity, l_extendedprice, l_discount, l_tax,
       l_returnflag, l_linestatus,
       date_trunc('milliseconds', l_shipdate)::TIMESTAMP AS l_shipdate
FROM lineitem
""")(_q_gzip_roundtrip)
