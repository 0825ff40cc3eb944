"""Round-10 hygiene fixes (ADVICE.md r9): the IPC reader's _SUCCESS
manifest is resolved through the Hadoop FileSystem API (so file:/ URIs
and remote filesystems behave like plain local paths) and degrades to
read-everything for the conventional EMPTY Hadoop marker or any content
that doesn't look like a part manifest — a valid directory must never
be filtered down to zero files by a foreign _SUCCESS."""

from __future__ import annotations

import pyspark.sql.functions as F


def _write_plain_containers(d, names_rows):
    import pyarrow as pa
    import pyarrow.ipc as pipc

    for name, ks in names_rows:
        t = pa.table({"k": pa.array(ks, type=pa.int64())})
        with pipc.new_file(str(d / name), t.schema) as w:
            w.write_table(t)


def test_empty_success_marker_reads_everything(spark, tmp_path):
    # The conventional Hadoop job marker is an EMPTY _SUCCESS file.
    # It must not be treated as a manifest listing zero parts.
    from tabular_to_parquet_spark.sources.columnar import read_ipc_python

    d = tmp_path / "hadoop_style"
    d.mkdir()
    _write_plain_containers(d, [("a.arrow", [0]), ("b.arrow", [1])])
    (d / "_SUCCESS").write_text("")
    got = read_ipc_python(spark, str(d)).orderBy("k").collect()
    assert [r["k"] for r in got] == [0, 1]


def test_malformed_success_marker_reads_everything(spark, tmp_path):
    # A _SUCCESS whose first tab-fields aren't .arrow basenames (e.g.
    # some other system's job metadata) is ignored, not applied.
    from tabular_to_parquet_spark.sources.columnar import read_ipc_python

    d = tmp_path / "foreign_marker"
    d.mkdir()
    _write_plain_containers(d, [("a.arrow", [0]), ("b.arrow", [1])])
    (d / "_SUCCESS").write_text('{"state": "finished", "parts": 2}\n')
    got = read_ipc_python(spark, str(d)).orderBy("k").collect()
    assert [r["k"] for r in got] == [0, 1]


def test_manifest_honored_via_file_uri(spark, tmp_path):
    # The orphan-exclusion scenario, but with the directory spelled as
    # a file:/ URI — the manifest must resolve through the same
    # filesystem as the binaryFile scan, not driver-local os.path.
    import glob
    import shutil

    from tabular_to_parquet_spark.sources.columnar import (
        read_ipc_python,
        write_ipc,
    )

    out = str(tmp_path / "ipc_uri")
    src = spark.range(0, 50).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    write_ipc(src.repartition(2), out)
    parts = sorted(glob.glob(f"{out}/part-*.arrow"))
    assert parts
    shutil.copy(parts[0], f"{out}/part-{'f' * 32}.arrow")

    back = read_ipc_python(spark, f"file://{out}")
    assert back.count() == 50
    total = back.agg(F.sum("v").alias("s")).head()["s"]
    assert total == sum(3 * i for i in range(50))


# ---------------------------------------------------------------------------
# pr08/pr09 — the sketch pair is now hash-gated: each query emits the
# exact counterpart plus an in-engine accuracy flag the oracle asserts.

SF_DIR = "/root/testdata/sf0.001"


def test_pr08_emits_exact_counts_and_green_flags(spark):
    from tabular_to_parquet_spark.parity import profiling_queries  # noqa: F401
    from tabular_to_parquet_spark.parity.catalog import CATALOG

    out = CATALOG["pr08_approx_distinct_users"].spark(spark, SF_DIR)
    assert out.columns == ["event_type", "nd_users_exact", "hll_within_3rsd"]
    rows = out.collect()
    assert rows
    assert all(r["hll_within_3rsd"] == 1 for r in rows)
    from tabular_to_parquet_spark.sources.tables import load_table

    exact = {
        r["event_type"]: r["nd"]
        for r in load_table(spark, SF_DIR, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("nd"))
        .collect()
    }
    assert {r["event_type"]: r["nd_users_exact"] for r in rows} == exact


def test_pr09_rank_flags_green_and_exact_percentiles(spark):
    from tabular_to_parquet_spark.parity import profiling_queries  # noqa: F401
    from tabular_to_parquet_spark.parity.catalog import CATALOG

    out = CATALOG["pr09_approx_event_percentiles"].spark(spark, SF_DIR)
    rows = out.collect()
    assert rows
    for r in rows:
        assert r["p50_rank_ok"] == 1 and r["p90_rank_ok"] == 1
        assert r["p99_rank_ok"] == 1
        # exact percentiles are ordered and within [min-cents, max-cents]
        assert r["p50_exact"] <= r["p90_exact"] <= r["p99_exact"]


# ---------------------------------------------------------------------------
# _never_driver_verified — CORRECTNESS_r*.json aggregation is a union of
# passing rows across rounds, so file order must not matter, and the
# zero-padded names must keep sorting correctly past r09 -> r10.


def test_correctness_glob_order_survives_two_digit_rounds():
    names = [f"CORRECTNESS_r{i:02d}.json" for i in (1, 2, 9, 10, 11, 12)]
    import random

    shuffled = names[:]
    random.Random(0).shuffle(shuffled)
    assert sorted(shuffled) == names


def test_last_pass_round_union_is_order_independent(tmp_path, monkeypatch):
    import json

    import __spark_entry__ as entry_mod

    rows_a = {"qx": {"rows_match": True, "schema_match": True,
                     "hash_match": True, "spark_rows": 1, "err": None}}
    rows_b = {"qy": {"rows_match": False, "schema_match": True,
                     "hash_match": False, "spark_rows": 1, "err": None}}
    (tmp_path / "CORRECTNESS_r09.json").write_text(json.dumps(rows_a))
    (tmp_path / "CORRECTNESS_r10.json").write_text(json.dumps(rows_b))
    # Point the function's glob at tmp_path by redirecting abspath for
    # the module file only.
    real_abspath = __import__("os").path.abspath
    monkeypatch.setattr(
        "os.path.abspath",
        lambda p: str(tmp_path / "x.py") if p == entry_mod.__file__ else real_abspath(p),
    )
    last = entry_mod._last_pass_round()
    # qx passed (r09) and carries its round; qy failed (r10) so it has
    # no pass round and would re-queue at the sweep head (key -1).
    assert last.get("qx") == 9
    assert "qy" not in last


def test_sweep_rotates_by_staleness(tmp_path, monkeypatch):
    """r10 verdict item 1: with every catalog query green, the sweep must
    order by (round of most recent passing row, registration order) so
    the stalest slice is re-certified first — not the same first-50
    registrations forever."""
    import json

    import __spark_entry__ as entry_mod

    names = list(entry_mod.CATALOG)
    fresh, stale, never = names[0], names[1], names[2]
    pass_row = {"rows_match": True, "schema_match": True,
                "hash_match": True, "spark_rows": 1, "err": None}
    (tmp_path / "CORRECTNESS_r03.json").write_text(json.dumps({stale: pass_row}))
    (tmp_path / "CORRECTNESS_r10.json").write_text(
        json.dumps({fresh: pass_row, stale: pass_row})
    )
    real_abspath = __import__("os").path.abspath
    monkeypatch.setattr(
        "os.path.abspath",
        lambda p: str(tmp_path / "x.py") if p == entry_mod.__file__ else real_abspath(p),
    )
    monkeypatch.setattr(entry_mod, "_LAST_PASS", entry_mod._last_pass_round())
    # newest round wins for a query passing in several files
    assert entry_mod._LAST_PASS[stale] == 10
    monkeypatch.setattr(
        entry_mod, "_LAST_PASS", {fresh: 10, stale: 3}
    )
    ordered = [n for n, _ in entry_mod._catalog_ordered()]
    # never-passed first, then the stale query, then the fresh one
    assert ordered.index(never) < ordered.index(stale) < ordered.index(fresh)
    assert set(ordered) == set(names) and len(ordered) == len(names)


def test_live_sweep_front_loads_oldest_rounds():
    """Against the real committed CORRECTNESS files: the first 50 sweep
    entries must all be at least as stale as every entry after them."""
    import __spark_entry__ as entry_mod

    ordered = [n for n, _ in entry_mod._catalog_ordered()]
    rounds = [entry_mod._LAST_PASS.get(n, -1) for n in ordered]
    assert rounds == sorted(rounds)


# ---------------------------------------------------------------------------
# write_ipc knobs — zstd level + rows-per-batch re-chunking (the parquet
# sink's row-group discipline transposed to the IPC sink)


def test_write_ipc_rechunks_to_target_rows(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.ipc as pipc

    from tabular_to_parquet_spark.sources.columnar import (
        read_ipc_python,
        write_ipc,
    )

    out = str(tmp_path / "chunked")
    src = spark.range(0, 10_000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    manifest = write_ipc(
        src.repartition(1), out, compression=None, rows_per_batch=1024
    )
    assert sum(r for _f, r in manifest) == 10_000
    fname, _rows = manifest[0]
    with pipc.open_file(f"{out}/{fname}") as rd:
        sizes = [rd.get_batch(i).num_rows for i in range(rd.num_record_batches)]
    # every batch hits the target except the final remainder
    assert all(s == 1024 for s in sizes[:-1])
    assert sum(sizes) == 10_000
    back = read_ipc_python(spark, out)
    assert back.agg(F.sum("k").alias("s")).head()["s"] == sum(range(10_000))


def test_write_ipc_compression_level_roundtrip(spark, tmp_path):
    from tabular_to_parquet_spark.sources.columnar import (
        read_ipc_python,
        write_ipc,
    )

    out = str(tmp_path / "zstd5")
    src = spark.range(0, 500).select(
        F.col("id").alias("k"), F.concat(F.lit("row-"), F.col("id")).alias("s")
    )
    write_ipc(src.repartition(2), out, compression="zstd",
              compression_level=5, rows_per_batch=128)
    back = read_ipc_python(spark, out)
    assert back.count() == 500
    assert back.agg(F.sum("k").alias("s")).head()["s"] == sum(range(500))


# ---------------------------------------------------------------------------
# CLI × non-delimited formats — --single-file is honored everywhere,
# --preserve-order refuses (instead of silently ignoring) for formats
# whose row order the reference contract doesn't define.


def _cli(args, timeout=600):
    import subprocess
    import sys as _sys

    return subprocess.run(
        [_sys.executable, "-m", "tabular_to_parquet_spark.cli", *args],
        capture_output=True, text=True, timeout=timeout, cwd="/root/repo",
    )


def test_cli_single_file_honored_for_ipc(spark, tmp_path):
    import duckdb

    from tabular_to_parquet_spark.sources.columnar import write_ipc

    src = spark.range(0, 300).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    ipc_dir = str(tmp_path / "in_ipc")
    write_ipc(src.repartition(3), ipc_dir)
    out = tmp_path / "in_ipc.parquet"
    proc = _cli([ipc_dir, "--format", "ipc", "--single-file",
                 "--output", str(out)])
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert out.is_file()  # one FILE, not a spark directory
    n, sk = duckdb.sql(f"SELECT count(*), sum(k) FROM '{out}'").fetchone()
    assert (n, sk) == (300, sum(range(300)))


def _check_cli_flag_refused_for_ipc(spark, tmp_path, flag):
    from tabular_to_parquet_spark.sources.columnar import write_ipc

    src = spark.range(0, 10).select(F.col("id").alias("k"))
    ipc_dir = str(tmp_path / "po_ipc")
    write_ipc(src, ipc_dir)
    proc = _cli([ipc_dir, "--format", "ipc", flag])
    assert proc.returncode == 1
    assert flag in proc.stderr


def test_cli_preserve_order_refused_for_container_formats(spark, tmp_path):
    # typed containers pass through: input order is not defined for them
    _check_cli_flag_refused_for_ipc(spark, tmp_path, "--preserve-order")


def test_cli_strict_drop_refused_for_container_formats(spark, tmp_path):
    # nor is the invalid-UTF-8 row drop: typed columns carry no raw text
    _check_cli_flag_refused_for_ipc(spark, tmp_path, "--strict-drop")


# ---------------------------------------------------------------------------
# pl36 — largest-remainder apportionment invariants


def test_apportionment_sums_exactly_to_slots(spark):
    from tabular_to_parquet_spark.operators.pipeline import (
        largest_remainder_allocation,
    )

    rows = [("a",)] * 7 + [("b",)] * 3 + [("c",)] * 13 + [("d",)] * 1
    df = spark.createDataFrame(rows, "domain_in string")
    out = largest_remainder_allocation(df, "domain_in", slots=997).collect()
    assert sum(r["alloc"] for r in out) == 997
    # every domain gets at least its floor quota; none exceeds +1
    by = {r["domain"]: r for r in out}
    assert set(by) == {"a", "b", "c", "d"}
    wsum = sum(r["weight"] for r in out)
    for r in out:
        base = (997 * r["weight"]) // wsum
        assert r["alloc"] in (base, base + 1)


def test_apportionment_single_domain_takes_all(spark):
    from tabular_to_parquet_spark.operators.pipeline import (
        largest_remainder_allocation,
    )

    df = spark.createDataFrame([("only",)] * 5, "d string")
    out = largest_remainder_allocation(df, "d", slots=1234).collect()
    assert len(out) == 1 and out[0]["alloc"] == 1234


def test_apportionment_remainder_tie_prefers_lexicographic(spark):
    from tabular_to_parquet_spark.operators.pipeline import (
        largest_remainder_allocation,
    )

    # two domains with IDENTICAL counts -> identical remainders; an
    # odd slot budget forces exactly one +1, which must go to the
    # lexicographically first domain
    rows = [("zz",)] * 4 + [("aa",)] * 4
    df = spark.createDataFrame(rows, "d string")
    out = {r["domain"]: r["alloc"] for r in
           largest_remainder_allocation(df, "d", slots=7).collect()}
    assert out["aa"] + out["zz"] == 7
    assert out["aa"] == out["zz"] + 1
