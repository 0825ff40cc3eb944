"""End-to-end conversion tests (the SURVEY.md §7.2 minimum slice and
beyond): CSV → inferred schema → typed parquet, verified with DuckDB."""

from __future__ import annotations

import datetime
import logging
import os
import subprocess
import sys

import duckdb
import pytest

from tabular_to_parquet_spark.operators.convert import convert_delimited_to_parquet

MIXTE = "a,b,c\ntrue,2024-01-01,3.14\nfalse,2024-01-02,2.71\n"


def test_minimum_slice_fixture_mixte(spark, tmp_path):
    src = tmp_path / "mixte.csv"
    src.write_text(MIXTE)
    out = tmp_path / "mixte.parquet"
    res = convert_delimited_to_parquet(spark, str(src), str(out), single_file=True,
                                       preserve_order=True)
    assert [t.kind for t in res.types] == ["bool", "date", "float64"]
    assert res.delimiter == ","
    # rows metric must not double-count under preserve_order (the sort's
    # range-partitioning sampling pass must not ride the observation)
    assert res.rows == 2

    rows = duckdb.sql(f"SELECT * FROM '{out}' ORDER BY b").fetchall()
    assert rows == [
        (True, datetime.date(2024, 1, 1), 3.14),
        (False, datetime.date(2024, 1, 2), 2.71),
    ]
    # DuckDB sees the expected physical types
    types = {r[0]: r[1] for r in duckdb.sql(f"DESCRIBE SELECT * FROM '{out}'").fetchall()}
    assert types == {"a": "BOOLEAN", "b": "DATE", "c": "DOUBLE"}


def test_dirty_data_null_tokens_and_ragged_rows(spark, tmp_path):
    src = tmp_path / "dirty.csv"
    clean = [f"{100 + i},{i}.5,row{i}" for i in range(200)]  # keep ratios ≥ 0.98
    src.write_text(
        "i,f,s\n"
        "1,1.5,hello\n"
        "NA,null,NONE\n"        # null tokens (P1)
        "2,2.5\n"               # ragged: missing field → null (P13)
        "3,3.5,world,EXTRA\n"   # ragged: extra field dropped (P13)
        "notint,notfloat,ok\n"  # parse failures → null, row kept
        + "\n".join(clean) + "\n"
    )
    out = tmp_path / "dirty.parquet"
    res = convert_delimited_to_parquet(spark, str(src), str(out), single_file=True,
                                       preserve_order=True)
    assert [t.kind for t in res.types] == ["uint64", "float64", "string"]
    rows = duckdb.sql(f"SELECT * FROM '{out}' LIMIT 5").fetchall()
    assert rows == [
        (1, 1.5, "hello"),
        (None, None, None),
        (2, 2.5, None),
        (3, 3.5, "world"),
        (None, None, "ok"),
    ]


def test_tsv_with_timestamps_and_order(spark, tmp_path):
    src = tmp_path / "t.tsv"
    lines = ["id\tts"]
    for i in range(500):
        lines.append(f"{i}\t2024-01-01 00:00:{i % 60:02d}.{i % 1000:03d}")
    src.write_text("\n".join(lines) + "\n")
    out = tmp_path / "t.parquet"
    res = convert_delimited_to_parquet(spark, str(src), str(out), single_file=True,
                                       preserve_order=True)
    assert res.delimiter == "\t"
    assert [t.kind for t in res.types] == ["uint64", "timestamp"]
    assert res.types[1].unit == "ms"
    # order preserved: id strictly increasing in file order
    ids = [r[0] for r in duckdb.sql(f"SELECT id FROM '{out}'").fetchall()]
    assert ids == list(range(500))
    # NTZ timestamp round-trips
    t0 = duckdb.sql(f"SELECT ts FROM '{out}' WHERE id = 1").fetchone()[0]
    assert t0 == datetime.datetime(2024, 1, 1, 0, 0, 1, 1000)


def test_quoted_fields_with_delimiters(spark, tmp_path):
    src = tmp_path / "q.csv"
    src.write_text('s,i\n"a,b",1\n"say ""hi""",2\n')
    out = tmp_path / "q.parquet"
    convert_delimited_to_parquet(spark, str(src), str(out), single_file=True,
                                 preserve_order=True)
    rows = duckdb.sql(f"SELECT * FROM '{out}'").fetchall()
    assert rows == [("a,b", 1), ('say "hi"', 2)]


def test_full_scan_inference_changes_decision(spark, tmp_path):
    # first 1000 rows are ints; a late float flips the column under full scan
    src = tmp_path / "late.csv"
    lines = ["x"] + [str(i) for i in range(1200)]
    lines[1100] = "99.5"
    src.write_text("\n".join(lines) + "\n")
    out = tmp_path / "late.parquet"
    res = convert_delimited_to_parquet(spark, str(src), str(out))
    assert res.types[0].kind == "uint64"  # sample: all ints
    res_full = convert_delimited_to_parquet(spark, str(src), str(out), infer_full=True)
    assert res_full.types[0].kind == "float64"


def test_cli_end_to_end(tmp_path):
    src = tmp_path / "cli.csv"
    src.write_text(MIXTE)
    proc = subprocess.run(
        [sys.executable, "-m", "tabular_to_parquet_spark.cli", str(src),
         "--single-file"],
        capture_output=True, text=True, timeout=600, cwd="/root/repo",
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = tmp_path / "cli.parquet"
    assert out.exists()
    n = duckdb.sql(f"SELECT count(*) FROM '{out}'").fetchone()[0]
    assert n == 2


def test_parse_error_accounting(spark, tmp_path):
    # O5: non-null-token values that cast to NULL are counted per column
    src = tmp_path / "errs.csv"
    clean = [f"{i},{i}.5" for i in range(200)]
    src.write_text(
        "i,f\n" + "\n".join(clean) + "\nnotint,notfloat\nbad,4.5\nNA,\n"
    )
    out = tmp_path / "errs.parquet"
    res = convert_delimited_to_parquet(spark, str(src), str(out))
    assert res.rows == 203
    # null tokens (NA, empty) are NOT errors; bad casts are
    assert res.parse_errors == {"i": 2, "f": 1}


def test_unparseable_row_divergence_p14(spark, tmp_path):
    """P14 default-mode pin: Spark's PERMISSIVE reader repairs an
    unclosed-quote row (quote consumed to end of line). NOTE the Rust
    csv crate is equally lenient with quotes — the reference's actual
    drop path is the producer's UTF-8 filter (conversion.rs:208),
    reproduced by strict_drop (test below).
    """
    src = tmp_path / "bad.csv"
    clean = [f"{i},ok{i}" for i in range(200)]
    src.write_text("i,s\n" + "\n".join(clean) + '\n998,"unclosed\n999,fine\n')
    out = tmp_path / "bad.parquet"
    res = convert_delimited_to_parquet(spark, str(src), str(out))
    got = duckdb.sql(f"SELECT * FROM '{out}/*.parquet' WHERE i >= 998 ORDER BY i").fetchall()
    # the unclosed-quote row survives (repaired), unlike the reference
    assert (998, "unclosed") in got or any(r[0] == 998 for r in got)
    assert (999, "fine") in got
    assert res.rows == 202


def test_non_utc_session_epoch_timestamps(spark, tmp_path):
    """ADVICE r1: epoch-integer timestamps must not shift under a
    non-UTC caller session (unix_timestamp is tz-sensitive; the
    conversion API pins UTC itself)."""
    src = tmp_path / "epoch.csv"
    # a timestamp column mixing epoch-integer and text spellings of the
    # SAME instant: under a non-UTC session the unpinned epoch path used
    # to shift by the zone offset while the text path did not
    src.write_text(
        "i,t\n"
        + "\n".join(f"{n},1600000000" for n in range(3))
        + "\n"
        + "\n".join(f"{n},2020-09-13 12:26:40" for n in range(3, 1000))
    )
    out = tmp_path / "epoch.parquet"
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        convert_delimited_to_parquet(spark, str(src), str(out))
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    vals = duckdb.sql(f"SELECT DISTINCT t FROM '{out}/*.parquet'").fetchall()
    # both spellings of the same instant must land on the same value
    assert vals == [(datetime.datetime(2020, 9, 13, 12, 26, 40),)]


def test_preserve_order_multi_file_roundtrip(spark, tmp_path):
    """preserve_order over a DIRECTORY input: files in lexicographic
    path order, rows in file order within each file — restored via the
    (_metadata.file_path, file_block_start, id) sort key even though
    Spark schedules splits by size."""
    d = tmp_path / "many"
    d.mkdir()
    # deliberately unequal sizes so split scheduling disagrees with
    # lexicographic order
    (d / "a.csv").write_text("x,y\n" + "".join(f"{i},a\n" for i in range(50)))
    (d / "b.csv").write_text("x,y\n" + "".join(f"{i},b\n" for i in range(2000, 2500)))
    (d / "c.csv").write_text("x,y\n5,c\n")
    out = tmp_path / "ordered.parquet"
    res = convert_delimited_to_parquet(
        spark, str(d), str(out), preserve_order=True, single_file=True,
        delimiter=","
    )
    assert res.rows == 50 + 500 + 1
    got = duckdb.sql(f"SELECT x, y FROM '{out}'").fetchall()
    want = [(i, "a") for i in range(50)] + [
        (i, "b") for i in range(2000, 2500)
    ] + [(5, "c")]
    assert got == want


def test_preserve_order_jsonl_library_and_cli_agree(spark, tmp_path):
    # jsonl is a string-typed file scan, so input order is defined for
    # it: the library keeps file order and the CLI no longer refuses it
    from tabular_to_parquet_spark.operators.convert import run_conversion
    from tabular_to_parquet_spark.sources.json_lines import json_adapter

    src = tmp_path / "in.jsonl"
    src.write_text("".join(f'{{"i": {i}}}\n' for i in range(300, 0, -1)))
    out = tmp_path / "lib.parquet"
    run_conversion(spark, json_adapter(spark, str(src)), str(out),
                   preserve_order=True, single_file=True)
    want = [(i,) for i in range(300, 0, -1)]
    assert duckdb.sql(f"SELECT i FROM '{out}'").fetchall() == want
    cli_out = tmp_path / "cli.parquet"
    proc = subprocess.run(
        [sys.executable, "-m", "tabular_to_parquet_spark.cli", str(src),
         "--format", "jsonl", "--preserve-order", "--single-file",
         "--output", str(cli_out)],
        capture_output=True, text=True, timeout=600,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert duckdb.sql(f"SELECT i FROM '{cli_out}'").fetchall() == want


def _convert_delimited(spark, tmp_path, out):
    src = tmp_path / "ok.csv"
    src.write_text("x\n1\n2\n")
    return convert_delimited_to_parquet(spark, str(src), out)


def _convert_jsonl(spark, tmp_path, out):
    from tabular_to_parquet_spark.operators.convert import run_conversion
    from tabular_to_parquet_spark.sources.json_lines import json_adapter

    src = tmp_path / "ok.ndjson"
    src.write_text('{"x": 1}\n{"x": 2}\n')
    return run_conversion(spark, json_adapter(spark, str(src)), out)


#: every format runs the same scoped-conf code; one delimited and one
#: non-delimited source pin that down
SCOPED_CONFS = ("spark.sql.files.maxPartitionBytes", "spark.sql.codegen.wholeStage")


def _check_scoped_confs_restored(spark, tmp_path, convert):
    before = [spark.conf.get(k, None) for k in SCOPED_CONFS]
    # force a write failure: output path is an unwritable location
    with pytest.raises(Exception):
        convert(spark, tmp_path, "/proc/definitely/not/writable.parquet")
    assert [spark.conf.get(k, None) for k in SCOPED_CONFS] == before
    convert(spark, tmp_path, str(tmp_path / "ok.parquet"))
    assert [spark.conf.get(k, None) for k in SCOPED_CONFS] == before


def test_max_partition_bytes_restored_on_failure(spark, tmp_path):
    _check_scoped_confs_restored(spark, tmp_path, _convert_delimited)


def test_scoped_confs_restored_jsonl(spark, tmp_path):
    _check_scoped_confs_restored(spark, tmp_path, _convert_jsonl)


def test_strict_drop_invalid_utf8_p14(spark, tmp_path):
    """P14 strict mode: rows carrying invalid UTF-8 are dropped exactly
    like the reference producer's .lines().filter_map(Result::ok)
    (conversion.rs:208); default mode keeps them (repaired with
    U+FFFD)."""
    src = tmp_path / "utf8.csv"
    rows = b"i,s\n" + b"".join(
        b"%d,ok%d\n" % (i, i) if i % 5 else b"%d,bad\xff\n" % i
        for i in range(100)
    )
    src.write_bytes(rows)

    out1 = tmp_path / "default.parquet"
    res1 = convert_delimited_to_parquet(spark, str(src), str(out1))
    assert res1.rows == 100  # repaired, all kept

    out2 = tmp_path / "strict.parquet"
    res2 = convert_delimited_to_parquet(spark, str(src), str(out2), strict_drop=True)
    assert res2.rows == 80  # every 5th row dropped
    kept = duckdb.sql(f"SELECT i FROM '{out2}/*.parquet' ORDER BY i").fetchall()
    assert [r[0] for r in kept] == [i for i in range(100) if i % 5]


def _check_timezone_restored(spark, tmp_path, convert):
    prev = spark.conf.get("spark.sql.session.timeZone")
    prev_wscg = spark.conf.get("spark.sql.codegen.wholeStage")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    spark.conf.set("spark.sql.codegen.wholeStage", "true")
    try:
        convert(spark, tmp_path, str(tmp_path / "tz.parquet"))
        assert spark.conf.get("spark.sql.session.timeZone") == "Asia/Tokyo"
        assert spark.conf.get("spark.sql.codegen.wholeStage") == "true"
        # and on failure too
        with pytest.raises(Exception):
            convert(spark, tmp_path, "/proc/definitely/not/writable.parquet")
        assert spark.conf.get("spark.sql.session.timeZone") == "Asia/Tokyo"
        assert spark.conf.get("spark.sql.codegen.wholeStage") == "true"
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
        spark.conf.set("spark.sql.codegen.wholeStage", prev_wscg)


def test_timezone_restored_after_conversion(spark, tmp_path):
    """ADVICE r2: a caller-provided session's timeZone must be restored
    after the (eager) conversion returns — pinning UTC is an internal
    detail, not a lasting side effect. The same holds for whole-stage
    codegen, which the conversion job pins off."""
    _check_timezone_restored(spark, tmp_path, _convert_delimited)


def test_timezone_restored_after_conversion_jsonl(spark, tmp_path):
    _check_timezone_restored(spark, tmp_path, _convert_jsonl)


def test_strict_full_inference_skips_invalid_utf8(spark, tmp_path):
    """ADVICE r2 (medium): full-scan inference must not observe rows the
    reference's reader never parses — a corrupt line whose field reads
    'bad\\xff' would otherwise flip the int column to string."""
    src = tmp_path / "corrupt_int.csv"
    rows = b"i,v\n" + b"".join(
        b"%d,%d\n" % (i, i * 10) if i % 10 else b"%d,\xff%d\n" % (i, i * 10)
        for i in range(100)
    )
    src.write_bytes(rows)
    out = tmp_path / "corrupt_int.parquet"
    res = convert_delimited_to_parquet(
        spark, str(src), str(out), infer_full=True, strict_drop=True
    )
    # non-negative ints infer as uint64 (reference semantics); the point
    # is the corrupt rows did NOT flip the column to string
    assert [t.kind for t in res.types] == ["uint64", "uint64"]
    assert res.rows == 90
    got = duckdb.sql(f"SELECT sum(v) FROM '{out}/*.parquet'").fetchone()[0]
    assert got == sum(i * 10 for i in range(100) if i % 10)


def test_sample_inferred_uint64_overflow_warns(spark, tmp_path, caplog):
    # the first 1,000 rows fit i64, so the sample picks the LongType
    # uint64 lowering; the 100 later values above i64 max cast to NULL
    big = 2**63 + 5
    src = tmp_path / "u.csv"
    src.write_text(
        "k,u\n"
        + "".join(f"{i},{i}\n" for i in range(1100))
        + "".join(f"{i},{big + i}\n" for i in range(1100, 1200))
    )
    out = tmp_path / "u.parquet"
    logger = "tabular_to_parquet_spark.operators.convert"
    with caplog.at_level(logging.WARNING, logger=logger):
        res = convert_delimited_to_parquet(spark, str(src), str(out))
    u = res.types[1]
    assert (u.kind, u.uint_exceeds_i64) == ("uint64", False)
    assert res.rows == 1200
    assert res.parse_errors == {"k": 0, "u": 100}
    warnings = [
        r for r in caplog.records if r.name == logger and r.levelno == logging.WARNING
    ]
    assert len(warnings) == 1
    assert "column 'u': 100 value(s)" in warnings[0].getMessage()
    nulled = duckdb.sql(
        f"SELECT min(k), count(*) FROM '{out}/*.parquet' WHERE u IS NULL"
    ).fetchone()
    assert nulled == (1100, 100)


def test_sink_storage_contract(spark, tmp_path):
    """S6 sink contract, verified from the parquet footers: zstd codec
    on every column chunk and row groups capped at the width-adaptive
    block size (<=20 cols -> 250k rows; here rows < cap -> 1 group)."""
    import sys
    sys.path.insert(0, "/root/repo/tools")
    from storage_report import report

    src = tmp_path / "s.csv"
    src.write_text("i,f\n" + "\n".join(f"{i},{i}.5" for i in range(5000)) + "\n")
    out = tmp_path / "s.parquet"
    convert_delimited_to_parquet(spark, str(src), str(out))
    rep = report(str(out))
    assert rep["rows"] == 5000
    assert rep["codecs"] == ["ZSTD"]
    assert rep["max_row_group_rows"] <= 250_000
    assert rep["ratio"] and rep["ratio"] > 1.0


#: one line per format carrying an integer i and a string s
_LINES = {
    "jsonl": lambda i, s: b'{"i": %d, "s": "%s"}' % (i, s),
    "fixed-width": lambda i, s: b"%4d%6s" % (i, s),
    "logfmt": lambda i, s: b"i=%d s=%s" % (i, s),
}


@pytest.mark.parametrize("fmt", list(_LINES))
def test_strict_drop_string_adapters(spark, tmp_path, fmt):
    # every string-typed adapter reads an invalid UTF-8 byte as U+FFFD,
    # like the delimited reader: the default keeps (repairs) the line,
    # strict drop removes exactly those lines
    from tabular_to_parquet_spark.operators.convert import run_conversion
    from tabular_to_parquet_spark.sources import fixed_width, json_lines, logfmt

    src = tmp_path / "in.txt"
    src.write_bytes(
        b"".join(_LINES[fmt](i, b"ok" if i % 5 else b"bad\xff") + b"\n" for i in range(50))
    )
    if fmt == "jsonl":
        adapter = json_lines.json_adapter(spark, str(src))
    elif fmt == "logfmt":
        adapter = logfmt.logfmt_adapter(spark, str(src))
    else:
        fields = fixed_width.fields_from_widths([("i", 4), ("s", 6)])
        adapter = fixed_width.fixed_width_adapter(spark, str(src), fields)
    lax = tmp_path / "lax.parquet"
    assert run_conversion(spark, adapter, str(lax)).rows == 50
    repaired = duckdb.sql(f"SELECT i, s FROM '{lax}/*.parquet' WHERE i = 5").fetchall()
    assert repaired == [(5, "bad\ufffd")]
    out = tmp_path / "strict.parquet"
    assert run_conversion(spark, adapter, str(out), strict_drop=True).rows == 40
    kept = duckdb.sql(f"SELECT i FROM '{out}/*.parquet' ORDER BY i").fetchall()
    assert [r[0] for r in kept] == [i for i in range(50) if i % 5]
