"""Structured Streaming tests: streaming conversion + windowed stats."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tabular_to_parquet_spark.operators.convert import typed_frame
from tabular_to_parquet_spark.plans.inference import infer_schema
from tabular_to_parquet_spark.sources.text import read_delimited_as_strings
from tabular_to_parquet_spark.streaming import (
    stream_convert_directory,
    windowed_event_stats,
)

SF = "/root/testdata/sf0.001"


def test_stream_convert_directory(spark, tmp_path):
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    # a quoted delimiter, a doubled quote, null tokens and two ragged
    # rows (one short, one long)
    (in_dir / "a.csv").write_text('i,f,s\n1,1.5,plain\n2,2.5,"x,y"\n')
    (in_dir / "b.csv").write_text(
        'i,f,s\n3,3.5,"say ""hi"""\nNA,null,z\n4,4.5\n5,5.5,w,extra\n'
    )

    names, types = infer_schema(str(in_dir / "a.csv"), ",")
    q = stream_convert_directory(
        spark, str(in_dir), names, types,
        str(tmp_path / "out"), str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "out"))

    def rows(df):
        return sorted([tuple(r) for r in df.collect()], key=lambda t: (t[0] is None, t[0]))

    assert rows(out) == [
        (1, 1.5, "plain"), (2, 2.5, "x,y"), (3, 3.5, 'say "hi"'),
        (4, 4.5, None), (5, 5.5, "w"), (None, None, "z"),
    ]
    assert [f.dataType.simpleString() for f in out.schema.fields] == [
        "bigint", "double", "string",
    ]
    # the stream and the batch conversion share one scan definition
    batch = typed_frame(read_delimited_as_strings(spark, str(in_dir), ",", names), types)
    assert rows(out) == rows(batch)


def test_windowed_event_stats_matches_batch(spark):
    stream_out = windowed_event_stats(spark, f"{SF}/events.parquet",
                                      query_name="wstats_test")
    from tabular_to_parquet_spark.sources.tables import load_table
    from tabular_to_parquet_spark.streaming.streams import windowed_event_stats_frame

    batch = windowed_event_stats_frame(load_table(spark, SF, "events"))
    s = {(r.window_start, r.event_type): (r.n_events, r.value_cents)
         for r in stream_out.collect()}
    b = {(r.window_start, r.event_type): (r.n_events, r.value_cents)
         for r in batch.collect()}
    assert s == b
    assert sum(v[0] for v in s.values()) == 1000  # every event in a window


def test_sessionize_stream_subset_of_batch(spark):
    from tabular_to_parquet_spark.sources.tables import load_table
    from tabular_to_parquet_spark.streaming.streams import (
        sessionize_frame,
        sessionize_stream,
    )

    batch = sessionize_frame(load_table(spark, SF, "events"), gap_minutes=240)
    b = {(r.user_id, r.session_start, r.session_end): (r.n_events, r.value_cents)
         for r in batch.collect()}
    metrics: dict = {}
    stream_out = sessionize_stream(spark, f"{SF}/events.parquet", gap_minutes=240,
                                   query_name="sess_test", metrics_out=metrics)
    s = {(r.user_id, r.session_start, r.session_end): (r.n_events, r.value_cents)
         for r in stream_out.collect()}
    # every closed streaming session matches the batch result exactly;
    # only final still-open sessions (≤ one per user) may be missing
    assert s.items() <= b.items()
    n_users = batch.select("user_id").distinct().count()
    assert len(b) - len(s) <= n_users
    assert len(s) > 0
    # state-store metrics of the drained query: still-open final
    # sessions are exactly the state rows left behind
    assert metrics["state_batches"] > 0
    assert metrics["numRowsTotal"] == len(b) - len(s)
    assert 0 < metrics["numRowsTotal"] <= n_users
    assert metrics["memoryUsedBytes"] > 0
    assert metrics["numRowsUpdated"] > 0


def test_stream_dedup_ingest_across_micro_batches(spark, tmp_path):
    """Two single-file micro-batches: wave 2 carries an in-wave dup, a
    dup of a wave-1 doc, and a dup of the seeded corpus — all dropped;
    the index accumulates the survivors' fingerprints."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tabular_to_parquet_spark.operators.pipeline import build_fingerprint_index
    from tabular_to_parquet_spark.streaming.streams import stream_dedup_ingest

    corpus = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")], "doc_id long, text string"
    )
    spark.sql(f"CREATE DATABASE IF NOT EXISTS sdi LOCATION '{tmp_path}/sdi'")
    try:
        build_fingerprint_index(corpus, "sdi.fps")
        n_fp0 = spark.table("sdi.fps").count()

        in_dir = tmp_path / "in"
        in_dir.mkdir()
        pq.write_table(
            pa.table({"doc_id": [10, 11], "text": ["epsilon zeta", "eta theta"]}),
            str(in_dir / "w0.parquet"),
        )
        # pin wave order: FileStreamSource sorts by mtime, and same-tick
        # writes make w1-before-w0 possible (observed: doc 12 survives
        # instead of doc 10)
        os.utime(str(in_dir / "w0.parquet"), (1_700_000_000, 1_700_000_000))
        pq.write_table(
            pa.table(
                {
                    "doc_id": [12, 13, 14, 15],
                    "text": [
                        "epsilon  zeta",   # dup of wave-1 doc 10 (normalized)
                        "alpha beta",      # dup of corpus doc 1
                        "iota kappa",      # new
                        "iota  kappa",     # in-wave dup of 14
                    ],
                }
            ),
            str(in_dir / "w1.parquet"),
        )
        q = stream_dedup_ingest(
            spark, str(in_dir), "sdi.fps", str(tmp_path / "out"), str(tmp_path / "ckpt")
        )
        q.awaitTermination()
        out = spark.read.parquet(str(tmp_path / "out"))
        assert sorted(r["doc_id"] for r in out.collect()) == [10, 11, 14]
        assert spark.table("sdi.fps").count() == n_fp0 + 3
        # restart on the same directory: nothing new, nothing re-ingested
        q2 = stream_dedup_ingest(
            spark, str(in_dir), "sdi.fps", str(tmp_path / "out"), str(tmp_path / "ckpt")
        )
        q2.awaitTermination()
        assert spark.read.parquet(str(tmp_path / "out")).count() == 3
    finally:
        spark.sql("DROP DATABASE IF EXISTS sdi CASCADE")


def test_click_purchase_join_interval_bounds(spark):
    from tabular_to_parquet_spark.streaming.streams import click_purchase_join_frame
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ev(eid, ts_off_min, user, etype):
        return (eid, t0 + dt.timedelta(minutes=ts_off_min), user, etype)

    rows = [
        ev(1, 0, 7, "click"),
        ev(2, 30, 7, "purchase"),   # exactly +30 min → included
        ev(3, 31, 7, "purchase"),   # past the bound → excluded
        ev(4, 0, 7, "purchase"),    # same instant → excluded (strict >)
        ev(5, 10, 8, "purchase"),   # other user → excluded
    ]
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    clicks = events.filter("event_type = 'click'")
    purchases = events.filter("event_type = 'purchase'")
    out = click_purchase_join_frame(clicks, purchases, within_minutes=30).collect()
    assert [(r["click_id"], r["purchase_id"], r["delay_sec"]) for r in out] == [
        (1, 2, 1800)
    ]


def test_watermark_finalization_and_late_merge_semantics(spark, tmp_path):
    """Watermark semantics pinned as they ACTUALLY are (probed on this
    engine): the watermark drives append-mode FINALIZATION and state
    eviction — it is NOT an input-admission filter.  A late row whose
    window state is still live MERGES into it before the window is
    emitted; numRowsDroppedByWatermark stays 0.  (Dropping is only
    guaranteed for state already evicted — the documented 'correct
    within watermark, best-effort beyond' contract.)  File order =
    ascending modification time, spaced far apart."""
    import datetime as dt
    import os
    import time as _time

    d = str(tmp_path / "stream_in")
    os.makedirs(d)
    t_early = dt.datetime(2024, 1, 1, 9, 30, 0)
    t_new = dt.datetime(2024, 1, 1, 12, 0, 0)
    t_late = dt.datetime(2024, 1, 1, 9, 0, 0)
    t_flush = dt.datetime(2024, 1, 1, 18, 0, 0)

    def write_file(name, rows, mtime):
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, value double"
        )
        p = os.path.join(d, name)
        df.coalesce(1).write.parquet(p)
        for root, _dirs, files in os.walk(p):
            for f in files:
                os.utime(os.path.join(root, f), (mtime, mtime))

    base = _time.time() - 50000
    # batch 0: a 9:30 event opens the 9-10 window; 12:00 events push
    # the post-batch watermark to 11:55
    write_file("f1", [(0, t_early, 1, 0.5), (1, t_new, 1, 1.0),
                      (2, t_new, 2, 2.0)], base)
    # batch 1: 9:00 arrives 2:55 behind the watermark — state for its
    # window is still live (eviction uses the PREVIOUS batch's mark),
    # so it merges; the window then finalizes with BOTH rows
    write_file("f2", [(9, t_late, 1, 9.0)], base + 15000)
    # batch 2: pushes the watermark past 13:00 → 12-13 finalizes
    write_file("f3", [(4, t_flush, 3, 4.0)], base + 30000)

    schema = spark.read.parquet(os.path.join(d, "f1")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d + "/*")
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("wm_semantics_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for op in p.get("stateOperators", [])
    )
    q.stop()
    got = {r["ws"]: r["n"] for r in spark.table("wm_semantics_test").collect()}
    assert got[dt.datetime(2024, 1, 1, 9, 0)] == 2, got   # late row MERGED
    assert got[dt.datetime(2024, 1, 1, 12, 0)] == 2, got  # finalized by f3
    assert dropped == 0, dropped


def test_python_stream_source_replays_in_micro_batches(spark):
    """The custom events_replay source (Spark 4 Python streaming data
    source) must deliver the table over MULTIPLE micro-batches (real
    offset progression, not one gulp) and reproduce the batch counts."""
    from tabular_to_parquet_spark.sources.datasource_py import (
        EventsReplayDataSource,
    )

    spark.dataSource.register(EventsReplayDataSource)
    path = "/root/testdata/sf0.001/events.parquet"
    stream = (
        spark.readStream.format("events_replay")
        .option("path", path)
        .option("batches", "3")
        .load()
    )
    q = (
        stream.groupBy().count()
        .writeStream.format("memory")
        .queryName("replay_probe")
        .outputMode("complete")
        .start()
    )
    q.processAllAvailable()
    n_batches = sum(
        1 for p in q.recentProgress if p["numInputRows"] > 0
    )
    q.stop()
    got = spark.table("replay_probe").collect()[0]["count"]
    want = spark.read.parquet(path).count()
    assert got == want
    assert n_batches >= 3, f"expected >=3 data micro-batches, saw {n_batches}"



#: streaming catalog queries whose only other gate is the full sf0.01
#: parity sweep
_STREAMING_QUERIES = [
    "st3_stream_decontaminated_ingest",
    "st4_stream_click_purchase_join",
    "st5_stream_dedup_within_watermark",
    "st6_stream_static_enrich",
    "ev09_hopping_window_streaming",
    "st11_stream_hll",
    "st12_stream_pareto",
]


@pytest.mark.parametrize("name", _STREAMING_QUERIES)
def test_streaming_query_matches_oracle(parity_compare, name):
    """The catalog's Spark side equals its DuckDB oracle at sf0.001,
    compared as tools/check_parity.py compares them."""
    parity_compare(name)
