"""Structured Streaming operators.

The reference is batch-only (README.md:169: "Pas de streaming pur");
these are engine extensions giving the conversion pipeline and the
event analytics a streaming surface:

- ``stream_convert_directory`` — the CSV→Parquet pipeline as a file
  stream: new delimited files landing in a directory are converted
  continuously with the SAME scan options and cast expressions as the
  batch path (exactly-once per file via checkpointing). This is the
  shape a 100 TB/day ingest takes: partition-parallel, no state, no
  shuffle.

The other operators run on one of two harness shapes:

- the drained memory sink (:func:`_drain_to_memory`): the streaming
  plan runs under ``availableNow`` until the input is consumed, and the
  memory table is returned — ``sessionize_stream``,
  ``windowed_event_stats``, ``stream_click_purchase_join``,
  ``stream_dedup_within_watermark``, ``stream_static_enrich`` and
  ``hopping_window_stats_stream``. Each reproduces a batch ``*_frame``
  twin (or its oracle) exactly on static input.
- the checkpointed ``foreachBatch`` file stream
  (:func:`_file_micro_batches`): parquet files landing in a directory
  arrive one file per micro-batch, and a per-batch function appends to
  an output directory — ``stream_dedup_ingest``, ``stream_countmin``,
  ``stream_hll`` and ``stream_pareto``. These return the started query;
  callers await it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tabular_to_parquet_spark.operators.convert import typed_frame
from tabular_to_parquet_spark.plans.logical_types import LogicalType
from tabular_to_parquet_spark.sources.tables import load_events_stream
from tabular_to_parquet_spark.sources.text import delimited_reader


def stream_convert_directory(
    spark: SparkSession,
    input_dir: str,
    columns: list[str],
    types: list[LogicalType],
    output_dir: str,
    checkpoint_dir: str,
    delimiter: str = ",",
):
    """Continuous conversion of delimited files appearing in a directory.

    Schema/types must be pre-inferred (run plans.inference on a seed
    file) — streaming requires a fixed schema. Returns the started
    StreamingQuery; callers stop it or await termination.
    """
    raw = delimited_reader(spark.readStream, delimiter, columns).csv(input_dir)
    typed = typed_frame(raw, types)
    return (
        typed.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def _drain_to_memory(frame: DataFrame, query_name: str, output_mode: str):
    """Run the streaming ``frame`` to completion into the memory sink
    ``query_name`` (read it back with ``spark.table(query_name)``) and
    return the stopped query, whose ``recentProgress`` stays readable.

    ``availableNow`` + ``processAllAvailable`` make the drain
    deterministic on static input while exercising the true streaming
    engine (state store, watermarks, event-time windows)."""
    q = (
        frame.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return q


def _file_micro_batches(
    spark: SparkSession, input_dir: str, checkpoint_dir: str, process_batch
):
    """Start a checkpointed ``foreachBatch`` stream over the parquet
    files in ``input_dir`` and return the started query
    (``availableNow`` trigger).

    Exactly one file per micro-batch: the file source orders files by
    mtime, so callers that pin mtimes get a fixed batch sequence (the
    st2/st3 dedup survivors depend on it)."""
    schema = spark.read.parquet(input_dir).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_dedup_ingest(
    spark: SparkSession,
    input_dir: str,
    index_table: str,
    output_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 64,
    eval_df: DataFrame | None = None,
    decontaminate_n: int = 4,
):
    """Continuous corpus ingest with incremental dedup: new parquet
    files landing in ``input_dir`` are exact-deduped in-batch, then
    anti-joined against the bucketed fingerprint index
    (``pipeline.build_fingerprint_index``) with NO corpus-side shuffle;
    survivors append to ``output_dir`` and their fingerprints append to
    the index, so later micro-batches — and later runs — dedup against
    everything already ingested.

    ``eval_df`` additionally DECONTAMINATES each micro-batch: dedup
    survivors sharing any word ``decontaminate_n``-gram with the eval
    set are dropped before the output/index appends (the eval-gram set
    is broadcast per batch — it is tiny and static, the right trade
    against pinning cluster memory for the stream's lifetime).

    The 100 TB/day corpus-refresh shape: per micro-batch cost is
    bounded by the batch (the corpus participates only through its
    bucketed fingerprint table). Delivery note: ``foreachBatch`` is
    at-least-once — the index append runs AFTER the output append, so
    a micro-batch retried between the two writes re-drops rows already
    in the index (duplicate-free output preferred over at-most-once
    loss; a transactional table format upgrades this to exactly-once).

    Returns the started StreamingQuery (``availableNow`` trigger).
    """
    from tabular_to_parquet_spark.operators.pipeline import (
        decontaminate,
        dedup_against_bucketed,
    )
    from tabular_to_parquet_spark.operators.text_analysis import normalized_text

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        kept = dedup_against_bucketed(
            spark, batch_df, index_table, text_col, id_col
        )
        if eval_df is not None:
            kept = decontaminate(
                kept, eval_df, text_col, id_col, n=decontaminate_n
            )
        kept = kept.persist()
        try:
            kept.write.mode("append").parquet(output_dir)
            fp = F.md5(normalized_text(F.col(text_col)))
            (
                kept.select(fp.alias("fp"))
                .write.mode("append")
                .bucketBy(buckets, "fp")
                .sortBy("fp")
                .format("parquet")
                .saveAsTable(index_table)
            )
        finally:
            kept.unpersist()

    return _file_micro_batches(spark, input_dir, checkpoint_dir, process_batch)


def windowed_event_stats_frame(events: DataFrame, window: str = "5 minutes") -> DataFrame:
    """The windowed aggregation shared by streaming and batch modes.

    ``floor(value*100)`` keeps the sum in exact integer math —
    deterministic under any aggregation order (a double SUM would be
    order-dependent and unverifiable).
    """
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 100)).alias("value_cents"),
            F.approx_count_distinct("user_id").alias("approx_users"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "value_cents",
            "approx_users",
        )
    )


def session_tags(events: DataFrame, gap_minutes: int = 240) -> DataFrame:
    """Per-EVENT session tagging: every input column plus
    ``session_no`` (1-based per user), sessions split on event-time
    gaps strictly greater than ``gap_minutes``. The lag + running-sum
    pair shares one (user_id)-partitioned sort; exact integer
    microsecond gap math. This is :func:`sessionize_frame`'s tagger,
    exposed so session-scoped analyses (e.g. the a30 sessionized
    funnel) can join behaviour to session boundaries without
    re-deriving them."""
    from pyspark.sql import Window as W

    gap_us = gap_minutes * 60_000_000
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev_us = F.lag(F.unix_micros(F.col("ts"))).over(w)
    is_new = F.when(
        prev_us.isNull() | (F.unix_micros(F.col("ts")) - prev_us > gap_us), 1
    ).otherwise(0)
    sess_no = F.sum(is_new).over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
    return events.withColumn("session_no", sess_no)


def sessionize_frame(events: DataFrame, gap_minutes: int = 240) -> DataFrame:
    """Batch sessionization: per-user sessions split on event-time gaps
    larger than ``gap_minutes``.

    lag + running-sum window over (user_id, ts) — the classic
    sessionize plan: ONE shuffle on user_id serves both window passes
    and the final per-session aggregate (all three are partitioned by
    user_id, Catalyst reuses the exchange). Gap math is exact integer
    microseconds; the value sum is integer cents — fully
    oracle-reproducible.
    """
    tagged = session_tags(events, gap_minutes).select(
        "user_id", "ts", "value", "event_id", "session_no"
    )
    return (
        tagged.groupBy("user_id", "session_no")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 100)).alias("value_cents"),
        )
    )


def collect_state_metrics(query) -> dict:
    """Aggregate state-store metrics from a drained StreamingQuery's
    progress history (StreamingQueryProgress.stateOperators).

    numRowsTotal / memoryUsedBytes are the last observed snapshot of
    live state (rows still held — e.g. still-open sessions);
    numRowsUpdated / numRowsRemoved accumulate across micro-batches.
    At 100 TB/day this is the signal that decides state-store sizing
    (state-store provider and executor memory) and watermark tuning —
    surfaced here so callers see it without scraping the Spark UI.
    """
    import json as _json

    metrics = {
        "numRowsTotal": 0,
        "numRowsUpdated": 0,
        "numRowsRemoved": 0,
        "memoryUsedBytes": 0,
        "state_batches": 0,
    }
    for p in query.recentProgress:
        d = p if isinstance(p, dict) else _json.loads(p.json)
        ops = d.get("stateOperators") or []
        if not ops:
            continue
        metrics["state_batches"] += 1
        metrics["numRowsTotal"] = sum(o.get("numRowsTotal", 0) for o in ops)
        metrics["memoryUsedBytes"] = sum(
            o.get("memoryUsedBytes", 0) for o in ops
        )
        metrics["numRowsUpdated"] += sum(o.get("numRowsUpdated", 0) for o in ops)
        metrics["numRowsRemoved"] += sum(o.get("numRowsRemoved", 0) for o in ops)
    return metrics


#: output/state schemas of :func:`sessionize_stream`
_SESSION_OUT = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events long, value_cents long"
)
_SESSION_STATE = "start_us long, end_us long, n long, cents long"


def sessionize_stream(
    spark: SparkSession,
    events_path: str,
    gap_minutes: int = 240,
    watermark: str = "10 minutes",
    query_name: str = "sessionize_stream",
    metrics_out: dict | None = None,
) -> DataFrame:
    """True stateful-streaming sessionization via
    ``applyInPandasWithState`` (custom per-key state, event-time
    timeout): sessions CLOSED by a later event are emitted as they
    close; the final still-open session per user stays in state when
    the bounded test stream ends (documented streaming/batch delta —
    on an unbounded stream the event-time timeout flushes it).

    Pass a dict as ``metrics_out`` to receive the drained query's
    state-store metrics (:func:`collect_state_metrics`) — still-held
    session rows and state memory, the numbers that size the state
    store on a real cluster.
    """
    import math

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_minutes * 60_000_000

    def fn(key, pdf_iter, state: GroupState):
        (user_id,) = key
        rows = []
        evs = []
        for pdf in pdf_iter:
            evs.append(pdf[["ts", "value"]])
        if evs:
            ev = pd.concat(evs).sort_values("ts")
            times = (ev["ts"].astype("datetime64[us]").astype("int64")).tolist()
            cents = [math.floor(v * 100) for v in ev["value"]]
            if state.exists:
                start, end, n, c = state.get
            else:
                start = end = None
                n = c = 0
            for t_us, cent in zip(times, cents):
                if start is None:
                    start, end, n, c = t_us, t_us, 1, cent
                elif t_us - end > gap_us:
                    rows.append((user_id, start, end, n, c))
                    start, end, n, c = t_us, t_us, 1, cent
                else:
                    end, n, c = t_us, n + 1, c + cent
            # a session whose close time is already behind the watermark
            # can never be extended (later events would be dropped as
            # late) — emit it now; otherwise keep it in state with an
            # event-time timeout at close time
            close_ms = end // 1000 + gap_us // 1000
            wm_ms = state.getCurrentWatermarkMs()
            if close_ms < wm_ms:
                rows.append((user_id, start, end, n, c))
                state.remove()
            else:
                state.update((start, end, n, c))
                state.setTimeoutTimestamp(max(close_ms, wm_ms + 1))
        elif state.hasTimedOut and state.exists:
            start, end, n, c = state.get
            rows.append((user_id, start, end, n, c))
            state.remove()
        out = pd.DataFrame(
            rows, columns=["user_id", "start_us", "end_us", "n_events", "value_cents"]
        )
        yield pd.DataFrame(
            {
                "user_id": out["user_id"],
                "session_start": pd.to_datetime(out["start_us"], unit="us"),
                "session_end": pd.to_datetime(out["end_us"], unit="us"),
                "n_events": out["n_events"],
                "value_cents": out["value_cents"],
            }
        )

    stream = load_events_stream(spark, events_path).withWatermark("ts", watermark)
    sessions = stream.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=_SESSION_OUT,
        stateStructType=_SESSION_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    q = _drain_to_memory(sessions, query_name, "append")
    if metrics_out is not None:
        metrics_out.update(collect_state_metrics(q))
    return spark.table(query_name)


def windowed_event_stats(
    spark: SparkSession,
    events_path: str,
    window: str = "5 minutes",
    query_name: str = "windowed_event_stats",
) -> DataFrame:
    """Run the windowed aggregation as a real streaming query over the
    parquet directory (file micro-batches), drain it to completion into
    a memory sink, and return the result table."""
    stream = load_events_stream(spark, events_path)
    agg = windowed_event_stats_frame(stream, window)
    _drain_to_memory(agg, query_name, "complete")
    return spark.table(query_name)


def click_purchase_join_frame(
    clicks: DataFrame, purchases: DataFrame, within_minutes: int = 30
) -> DataFrame:
    """Attribution join: every (click, purchase) pair for the same
    user with the purchase in ``(click_ts, click_ts + within]``.
    Works on static frames AND on watermarked streams (the interval
    condition is exactly the event-time-bound join Structured
    Streaming requires to expire state)."""
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    j = c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {within_minutes} MINUTES")
        ),
    )
    return j.select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        ((F.unix_micros(F.col("purchase_ts")) - F.unix_micros(F.col("click_ts"))) / 1_000_000)
        .cast("long")
        .alias("delay_sec"),
    )


def stream_click_purchase_join(
    spark: SparkSession,
    events_path: str,
    within_minutes: int = 30,
    watermark: str = "10 minutes",
    query_name: str = "click_purchase_join",
) -> DataFrame:
    """The attribution join as a REAL stream-stream self-join: one
    file stream filtered into two watermarked sides, inner-joined on
    user + event-time interval, drained append-mode into a memory
    sink.

    Scale shape: stream-stream join state is keyed by user and expired
    by the watermark + interval bound — state size is (events within
    the watermark horizon), not the full history.  On a cluster the
    state store shards by the join key across executors; the same
    plan runs unchanged against Kafka sources."""
    stream = load_events_stream(spark, events_path)
    clicks = stream.filter(F.col("event_type") == "click").withWatermark(
        "ts", watermark
    )
    purchases = stream.filter(F.col("event_type") == "purchase").withWatermark(
        "ts", watermark
    )
    j = click_purchase_join_frame(clicks, purchases, within_minutes)
    _drain_to_memory(j, query_name, "append")
    return spark.table(query_name)


def stream_dedup_within_watermark(
    spark: SparkSession,
    events_path: str,
    watermark: str = "10 minutes",
    query_name: str = "dedup_within_wm",
) -> DataFrame:
    """Exactly-once-per-key delivery over a DUPLICATED stream using
    the built-in ``dropDuplicatesWithinWatermark`` operator: the input
    is the event stream unioned with itself (every record delivered
    twice — the at-least-once-source shape), and the operator emits
    each event_id once, holding per-key state only within the
    watermark horizon.

    This is the engine-native complement to the foreachBatch +
    bucketed-fingerprint ingest (st2): no user state management, state
    bounded by (watermark window × key rate), the standard first stage
    in front of any streaming aggregation fed by an at-least-once
    source (Kafka with producer retries)."""
    s1 = load_events_stream(spark, events_path)
    s2 = load_events_stream(spark, events_path)
    dup = s1.unionByName(s2).withWatermark("ts", watermark)
    deduped = dup.dropDuplicatesWithinWatermark(["event_id"])
    out = deduped.select(
        "event_id",
        "user_id",
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("value_cents"),
    )
    _drain_to_memory(out, query_name, "append")
    return spark.table(query_name)


def stream_static_enrich_frame(
    events: DataFrame, dim: DataFrame
) -> DataFrame:
    """Stream-static dimension enrichment: join the event stream to a
    static customer dim on user_id and aggregate exact-cents revenue
    per (segment, event_type).

    Works on static frames AND streams — the static side of a
    stream-static join is re-read per micro-batch, never stateful, and
    Catalyst broadcasts it when small (the standard production
    enrichment shape: facts stream in, dims stay a table)."""
    d = dim.select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    return (
        events.join(d, "user_id")
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("value_cents"),
        )
    )


def stream_static_enrich(
    spark: SparkSession,
    events_path: str,
    dim: DataFrame,
    query_name: str = "stream_static_enrich",
) -> DataFrame:
    """The enrichment as a real streaming query: file micro-batches,
    complete-mode global agg (no watermark needed — the aggregate is
    not windowed), drained into a memory sink."""
    stream = load_events_stream(spark, events_path)
    agg = stream_static_enrich_frame(stream, dim)
    _drain_to_memory(agg, query_name, "complete")
    return spark.table(query_name)


def hopping_window_stats_frame(events: DataFrame) -> DataFrame:
    """15-minute windows sliding every 5 via built-in F.window(size,
    slide) — works on static frames and watermarked streams alike."""
    return (
        events.groupBy(
            F.window("ts", "15 minutes", "5 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("value_cents"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "value_cents",
        )
    )


def hopping_window_stats_stream(
    spark: SparkSession,
    events_path: str,
    watermark: str = "10 minutes",
    query_name: str = "hopping_window_stats",
) -> DataFrame:
    """The hopping-window aggregate as a REAL streaming query: each
    event updates size/slide = 3 window instances of keyed state; the
    watermark finalizes windows older than (max event time − delay).
    Complete-mode drain on static input reproduces the batch result
    exactly (same Expand → hash-agg plan under the micro-batcher)."""
    stream = load_events_stream(spark, events_path).withWatermark("ts", watermark)
    agg = hopping_window_stats_frame(stream)
    _drain_to_memory(agg, query_name, "complete")
    return spark.table(query_name)


def stream_countmin(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
):
    """Streaming count-min sketch build: each micro-batch folds its own
    token counts into a depth×width partial grid (operators/sketches)
    and APPENDS the partial to ``output_dir``; the live sketch at any
    moment is the per-cell SUM over the appended partials. CMS is a
    LINEAR sketch — cells are sums, merge is addition — so the
    streamed-and-merged grid equals the one-shot batch sketch
    bit-for-bit regardless of how the corpus was cut into
    micro-batches (st10 pins exactly that equality against the batch
    oracle).

    The 100 TB streaming-statistics shape: per micro-batch cost is one
    token-keyed agg over the BATCH only, state is the O(depth×width)
    grid (never the vocabulary), and no micro-batch ever re-touches
    prior data. At-least-once note: a retried micro-batch would append
    its partial twice and over-count — CMS estimates stay upper bounds
    (the sketch's contract) but drift from the batch twin; a
    transactional sink or batch_id-keyed idempotent write upgrades
    this to exactly-once.

    Returns the started StreamingQuery (``availableNow`` trigger).
    """
    from tabular_to_parquet_spark.operators import sketches as sk

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        partial = sk.cms_build(sk.token_counts(batch_df, text_col))
        partial.write.mode("append").parquet(output_dir)

    return _file_micro_batches(spark, input_dir, checkpoint_dir, process_batch)


def stream_hll(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    key_col: str = "user_id",
):
    """Streaming HLL register build: each micro-batch appends its own
    <=64-row partial register table (operators/sketches.hll_registers);
    the live sketch at any moment is the per-bucket MAX over appended
    partials.  HLL merges by register max — idempotent AND
    commutative, so unlike the CMS sum-merge (st10's at-least-once
    caveat) a RETRIED micro-batch cannot change the result: max-merge
    sketches are exactly-once under at-least-once delivery for free.
    st11 pins streamed == one-shot batch equality through the
    micro-batch path.

    Per micro-batch cost: one bucket-keyed agg over the batch only;
    state is the 64-row grid, never the key set."""
    from tabular_to_parquet_spark.operators import sketches as sk

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        sk.hll_registers(batch_df, key_col).write.mode("append").parquet(
            output_dir
        )

    return _file_micro_batches(spark, input_dir, checkpoint_dir, process_batch)


def stream_pareto(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    x_col: str,
    y_col: str,
):
    """Streaming 2-D Pareto frontier: each micro-batch appends its own
    LOCAL skyline (ordering.pareto_frontier_2d over the batch); the
    live frontier at any moment is the skyline over the appended
    survivors.  Correct because skylines form a sub-semilattice:
    skyline(A ∪ B) = skyline(skyline(A) ∪ skyline(B)) — the third
    merge algebra in the st10/st11 family (CMS: sum, HLL: max,
    skyline: dominance-elimination).  Replays are idempotent at the
    SET level: a re-appended survivor duplicates a row but cannot
    change which points are on the frontier, and exact duplicates
    survive dominance together by definition.

    Per micro-batch cost: two partitioned window passes over the batch
    only; appended state is the per-batch frontier (for any real
    metric pair, orders of magnitude below the batch)."""
    from tabular_to_parquet_spark.operators.ordering import pareto_frontier_2d

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        local = pareto_frontier_2d(
            batch_df, x_col, y_col,
            bucket=F.spark_partition_id() % F.lit(32),
        )
        local.write.mode("append").parquet(output_dir)

    return _file_micro_batches(spark, input_dir, checkpoint_dir, process_batch)
