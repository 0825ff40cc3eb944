"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line on stdout:
{"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Headline = the reference's whole product (delimited text -> inference
-> lenient-cast projection -> zstd parquet, BASELINE.md ~1e4 lines/s)
plus the scale-path extension operators. Timings exclude one-time
session startup (same timer placement as the reference,
src/conversion.rs:33,98) and force full execution via the noop sink
(no driver collect in the measured path).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile
import time

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tabular_to_parquet_spark.operators import dedup, multimodal, similarity
from tabular_to_parquet_spark.operators import text_analysis as ta
from tabular_to_parquet_spark.operators.convert import convert_delimited_to_parquet
from tabular_to_parquet_spark.plans.inference import infer_schema_distributed
from tabular_to_parquet_spark.session import get_spark, resolve_cpus
from tabular_to_parquet_spark.sources.tables import load_table
from tabular_to_parquet_spark.sources.text import (
    read_delimited_as_strings,
    read_header,
    sanitize_names,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: repetitions per query; "queries" reports the MIN (the number that
#: extrapolates to a warm long-running cluster), "queries_mean" the
#: mean. Query order is pinned (source order) so round-over-round
#: comparisons aren't confounded by JVM warm-up drift — the r3→r4
#: phantom 1.4× swings were exactly that. Default 3 (min-of-3): the
#: r6–r8 driver benches each produced a ±25% wash of phantom
#: regressions under co-tenant load that min-of-2 couldn't filter.
REPS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))

#: machine-checkable idle rule (NEXT.md): two bench runs are
#: comparable query-by-query only when BOTH started with 1-min load
#: below this; otherwise trust only the min column, with the spread
#: column as the noise bound. 2.0 on a 32-cpu box = effectively idle.
IDLE_LOAD1 = 2.0

#: queries whose min-of-REPS lands under this many seconds re-run to a
#: warm-up-discarded min-of-5 (r12 verdict item 8: sub-second queries
#: like event_window_stats had a 0.3–1.7 s spread at min-of-3 and were
#: perennial false flag-triggers; the extra reps cost <1 s each).
SUBSEC_LIFT = 1.0


def _sf() -> float:
    name = os.path.basename(SF_DIR.rstrip("/"))
    try:
        return float(name.replace("sf", ""))
    except ValueError:  # pragma: no cover
        return 0.1


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _snapshot_filename(idle: bool) -> str:
    """Where a full-suite run writes its snapshot.  Only an IDLE run
    may clobber BENCH_LOCAL.json — the committed idle snapshot is the
    regression baseline, and the r12 driver's load1-19 run overwriting
    it is exactly the ambiguity this split removes (r12 verdict
    item 1a).  Non-idle full runs keep their complete payload in a
    side file the history walker never reads."""
    return "BENCH_LOCAL.json" if idle else "BENCH_LOCAL_nonidle.json"


def _split_flags(
    regressions: dict[str, dict], advisory_run: bool
) -> tuple[dict[str, dict], dict[str, dict]]:
    """(hard, advisory): flags from a non-idle or subset run are never
    hard — co-tenant contention and cold-JVM subsets both manufacture
    >1.5x ratios with zero code change (r12 verdict item 1b)."""
    if advisory_run:
        return {}, regressions
    return regressions, {}


def _canary_sha256(reps: int = 5) -> float:
    """Fixed single-thread CPU canary: sha256 over a pinned 64 MiB of
    deterministic bytes, min-of-reps seconds.  Pure CPU, no Spark, no
    allocation churn — the host-speed denominator that makes bench
    snapshots comparable across host drift (r11 verdict item 1: r10's
    unchanged code re-ran 1.59x slower weeks later on the same box;
    per-query ratios are normalized by the canary ratio)."""
    import hashlib

    buf = bytes(range(256)) * 4096  # 1 MiB, pinned content
    best = float("inf")
    for _ in range(reps):
        t0 = time.monotonic()
        h = b"\x00" * 32
        for _ in range(64):  # 64 MiB hashed per rep
            h = hashlib.sha256(buf + h).digest()
        best = min(best, time.monotonic() - t0)
    return round(best, 4)


def _canary_spark_noop(spark, reps: int = 3) -> float:
    """JVM-side canary: 1M-row range scan + agg to the noop sink,
    min-of-reps seconds.  Captures Spark scheduling/codegen overhead
    under the current host state (context column; the sha256 canary
    is the normalizer).

    The first call runs as a DISCARDED warm-up (r13 verdict item 1):
    on a cold JVM the very first noop job pays context/codegen
    start-up (measured 1.14 s vs 0.24 s warm in the r13 snapshot),
    and since flag_regressions normalizes by max(sha, noop) ratio, a
    cold-JVM canary would make the whole run's baseline rescale
    lenient — exactly the leniency that suppressed (correctly, but
    for the wrong reason) the decontaminate near-flag in r13."""
    _noop(
        spark.range(0, 1_000_000, 1, 32).selectExpr(
            "sum(id % 7) AS s", "count(*) AS n"
        )
    )
    best = float("inf")
    for _ in range(reps):
        t0 = time.monotonic()
        _noop(
            spark.range(0, 1_000_000, 1, 32).selectExpr(
                "sum(id % 7) AS s", "count(*) AS n"
            )
        )
        best = min(best, time.monotonic() - t0)
    return round(best, 4)


def main() -> None:
    import argparse
    import re

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument(
        "--only",
        metavar="REGEX",
        default=None,
        help="run only queries whose name matches this regex "
        "(re.search). Subset runs print the same JSON shape but "
        "NEVER write BENCH_LOCAL.json — the committed full-suite "
        "snapshot is the only regression baseline.",
    )
    ap.add_argument(
        "--out",
        metavar="FILE",
        default=None,
        help="also write the FULL payload (every query, not the "
        "10-slowest stdout summary) to FILE — the adjudication "
        "side-channel for subset runs, which never touch "
        "BENCH_LOCAL.json",
    )
    cli = ap.parse_args()
    only_re = re.compile(cli.only) if cli.only else None
    # Load stamp BEFORE the session starts: the 1-min average at this
    # point is EXTERNAL load (co-tenant parity/judge processes), not
    # our own executors — the context that made the r6–r8 driver
    # numbers drift −17% while idle min-of-3 stayed flat.
    load_before = os.getloadavg()
    canary_sha = _canary_sha256()  # before the session: pure host CPU
    # host scheduling-latency stamp (r14 adjudication): p90 of 1 ms
    # sleep overshoot.  The host can enter a multi-ms-wakeup regime
    # (p90 4.2 ms vs healthy ~0.1 ms) that inflates tiny-task Spark
    # jobs 2-4x while sha256 and bulk scans stay flat — the exact
    # signature behind the r13 "advisory flag" wash; recording it per
    # run makes that state machine-checkable instead of forensic.
    _over = []
    for _ in range(200):
        _t0 = time.monotonic()
        time.sleep(0.001)
        _over.append((time.monotonic() - _t0 - 0.001) * 1e6)
    sched_latency_p90_us = round(sorted(_over)[180])
    spark = get_spark("bench")
    # EFFECTIVE core count: the resolver get_spark sizes local[N] and
    # shuffle.partitions N from. Stamping os.cpu_count() instead once
    # reported "cpus": 32 for an 8-core run, which tripped the
    # suspect_cpus_ignored check and voided the scaling comparison.
    eff_cpus = resolve_cpus()
    default_par = spark.sparkContext.defaultParallelism
    canary_noop = _canary_spark_noop(spark)
    print(
        f"[bench] canary: sha256 {canary_sha}s, spark-noop {canary_noop}s",
        file=sys.stderr,
    )
    work = tempfile.mkdtemp(prefix="bench_")
    timings: dict[str, float] = {}
    timings_mean: dict[str, float] = {}
    timings_spread: dict[str, float] = {}
    timings_load1: dict[str, float] = {}
    # per-query effective rep protocol (r13 ADVICE): min-of-REPS vs the
    # SUBSEC_LIFT warm-up-discarded min-of-5 change what a committed
    # minimum MEANS; the snapshot records which protocol produced each
    # number so the history walker can tell them apart
    timings_protocol: dict[str, str] = {}

    # -- setup (untimed, LAZY): materialize lineitem as a CSV file on
    # first need.  The need is declared at each consumer's @timed site
    # via needs_csv=True (r12 ADVICE: the old hardcoded name list would
    # silently desync when a new csv-consuming query was added, and
    # crash with csv_file=None only under --only subsets).
    _csv = {"file": None, "lines": 0}

    def _ensure_csv() -> str:
        if _csv["file"] is None:
            li = load_table(spark, SF_DIR, "lineitem")
            _csv["lines"] = li.count()
            csv_dir = os.path.join(work, "lineitem_csv")
            (
                li.coalesce(1)
                .write.option("header", True)
                .option("timestampNTZFormat", "yyyy-MM-dd HH:mm:ss.SSS")
                .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSS")
                .csv(csv_dir)
            )
            _csv["file"] = glob.glob(os.path.join(csv_dir, "part-*.csv"))[0]
        return _csv["file"]

    def timed(name, needs_csv=False):
        def deco(fn):
            if only_re is not None and not only_re.search(name):
                return
            if needs_csv:
                _ensure_csv()
            runs: list[float] = []
            timings_load1[name] = round(os.getloadavg()[0], 2)
            for _ in range(REPS):
                t0 = time.monotonic()
                fn()
                runs.append(time.monotonic() - t0)
            # sub-second queries get lifted to min-of-5 with the first
            # run discarded as warm-up (r12 verdict item 8): their
            # 0.3–1.7 s spread (event_window_stats) made them perennial
            # false flag-triggers at REPS=3, and one extra sub-second
            # rep costs almost nothing.
            if REPS > 1 and min(runs) < SUBSEC_LIFT:
                while len(runs) < 6:
                    t0 = time.monotonic()
                    fn()
                    runs.append(time.monotonic() - t0)
                stable = runs[1:]
                timings_protocol[name] = "min5_warmup_discarded"
            else:
                stable = runs
                timings_protocol[name] = f"min{len(stable)}"
            timings[name] = round(min(stable), 3)
            timings_mean[name] = round(sum(stable) / len(stable), 3)
            # per-query run-to-run spread (max - min) so a reader can
            # separate noise from regression without re-running
            timings_spread[name] = round(max(stable) - min(stable), 3)

        return deco

    docs = load_table(spark, SF_DIR, "documents")
    emb = load_table(spark, SF_DIR, "embeddings")
    events = load_table(spark, SF_DIR, "events")
    queries = emb.filter(F.expr("vec_id % 50 = 0"))

    # -- the product: full conversion pipeline (sniff+infer+cast+write) ----
    @timed("convert_csv_to_parquet", needs_csv=True)
    def _():
        convert_delimited_to_parquet(
            spark, _csv["file"], os.path.join(work, "lineitem.parquet")
        )

    # -- distributed full-file inference (one counters agg pass) -----------
    @timed("infer_schema_full", needs_csv=True)
    def _():
        names = sanitize_names(read_header(_csv["file"], ","))
        raw = read_delimited_as_strings(spark, _csv["file"], ",", names)
        infer_schema_distributed(raw)

    # -- dedup family -------------------------------------------------------
    @timed("dedup_exact")
    def _():
        _noop(dedup.dedup_exact(docs))

    @timed("minhash_pairs")
    def _():
        _noop(dedup.minhash_pairs(docs, threshold=0.5))

    # warm re-run of the identical plan: first-run wall is dominated by
    # one-time Janino codegen (amortized at scale); this is the number
    # that extrapolates to a long-running cluster
    @timed("minhash_pairs_warm")
    def _():
        _noop(dedup.minhash_pairs(docs, threshold=0.5))

    @timed("simhash_pairs")
    def _():
        _noop(dedup.simhash_pairs(docs, max_hamming=3))

    # -- similarity search --------------------------------------------------
    @timed("knn_bruteforce")
    def _():
        _noop(similarity.knn_bruteforce(emb, queries, k=5))

    @timed("knn_lsh")
    def _():
        _noop(similarity.knn_lsh(emb, queries, k=5))

    @timed("knn_ivf")
    def _():
        _noop(similarity.knn_ivf(emb, queries, k=5))

    # -- text analysis ------------------------------------------------------
    @timed("text_quality_lang")
    def _():
        q = ta.quality(docs)
        l = ta.lang_id(docs)
        _noop(q.join(l, "doc_id"))

    # -- real BPE token counting (64-merge replace chain, codegen'd) --------
    @timed("bpe_token_count_real")
    def _():
        from tabular_to_parquet_spark.functions import bpe

        _noop(
            docs.select(
                "doc_id",
                bpe.bpe_token_count(F.col("text"), bpe.BPE_MERGES).alias("n"),
            )
        )

    # -- winnowing fingerprints (per-doc rolling hash + deque min) -----------
    @timed("winnow_fingerprints")
    def _():
        _noop(ta.winnow_fingerprints(docs))

    # -- per-user sessionization (lag + running-sum windows) -----------------
    @timed("sessionize")
    def _():
        from tabular_to_parquet_spark.streaming.streams import sessionize_frame

        _noop(sessionize_frame(events, gap_minutes=240))

    # -- event-time windowed aggregation ------------------------------------
    @timed("event_window_stats")
    def _():
        _noop(
            events.groupBy(F.window("ts", "5 minutes"), "event_type").agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.floor(F.col("value") * 100)).alias("value_cents"),
                F.countDistinct("user_id").alias("n_users"),
            )
        )

    # -- multimodal plumbing (Arrow-batched mapInPandas) --------------------
    @timed("media_features")
    def _():
        _noop(multimodal.extract_features(multimodal.attach_payload(docs)))

    # -- real-codec decode path (synthetic BMPs → pure-Python decode) -------
    @timed("media_decode_bmp")
    def _():
        _noop(
            multimodal.decode_image_features(multimodal.attach_bmp_payload(docs))
        )

    # -- repetition filters (per-row array folds, pure projection) ----------
    @timed("repetition_stats")
    def _():
        _noop(ta.repetition_stats(docs))

    # -- benchmark decontamination (broadcast eval-gram anti-join) ----------
    @timed("decontaminate")
    def _():
        from tabular_to_parquet_spark.operators import pipeline as pl

        eval_df = docs.where(F.expr("doc_id % 97 = 0"))
        corpus = docs.where(~F.expr("doc_id % 97 = 0"))
        _noop(pl.decontaminate(corpus, eval_df, n=4))

    # -- SemDeDup cell-blocked near-dup pairs -------------------------------
    @timed("semantic_dup_pairs")
    def _():
        _noop(dedup.semantic_dup_pairs(emb, threshold=0.4))

    # the Arrow-vectorized scorer (non-oracle scale path)
    @timed("semantic_dup_pairs_fast")
    def _():
        _noop(dedup.semantic_dup_pairs(emb, threshold=0.4, fast=True))

    # -- RAG chunking (linear explode, zero shuffle) ------------------------
    @timed("chunk_documents")
    def _():
        from tabular_to_parquet_spark.operators import pipeline as pl

        _noop(pl.chunk_documents(docs, chunk_tokens=32, overlap=8))

    # -- dup-cluster assignment (2-hop min-label over minhash pairs) --------
    @timed("dup_clusters")
    def _():
        pairs = dedup.minhash_pairs(docs, threshold=0.5)
        _noop(dedup.dup_clusters(pairs, docs.select("doc_id"), hops=2))

    # -- fused per-row features (the no-join composition of
    # text_quality_lang — same outputs, zero shuffles) ----------------------
    @timed("text_features_fused")
    def _():
        _noop(ta.text_features(docs))

    # -- lexical retrieval: BM25 over the full corpus ----------------------
    @timed("bm25_topk")
    def _():
        from tabular_to_parquet_spark.operators import retrieval

        qs = docs.filter(F.expr("doc_id % 97 = 0")).select(
            F.col("doc_id").alias("query_id"), "text"
        )
        _noop(retrieval.bm25_topk(docs, qs, top_k=10))

    @timed("cms_heavy_hitters")
    def _():
        from tabular_to_parquet_spark.operators import sketches as sk

        counts = sk.token_counts(docs)
        sketch = sk.cms_build(counts)
        top = counts.orderBy(F.col("n").desc(), F.col("token")).limit(20)
        _noop(top.join(sk.cms_estimate(sketch, top.select("token")), "token"))

    @timed("event_transitions")
    def _():
        from tabular_to_parquet_spark.parity import extensions as _ext  # noqa: F401 (registers)
        from tabular_to_parquet_spark.parity.catalog import CATALOG as _C

        _noop(_C["a24_event_transitions"].spark(spark, SF_DIR))

    # -- adapted TPC-H joins (parity/tpch_queries.py; appended at the
    # end per the pinned-order rule) ---------------------------------------
    from tabular_to_parquet_spark.parity import curation_queries as _cur  # noqa: F401
    from tabular_to_parquet_spark.parity import profiling_queries as _prof  # noqa: F401
    from tabular_to_parquet_spark.parity import tpch_queries as _tpch  # noqa: F401
    from tabular_to_parquet_spark.parity.catalog import CATALOG as _CAT

    for _hq in (
        "h03_shipping_priority",
        "h05_local_supplier_volume",
        "h09_product_profit",
        "h18_large_volume_customers",
        "h21_waiting_suppliers",
        # round-8 additions: audits, equi-depth, session funnel,
        # rollup lattice, k-core fixpoint peel
        "pr13_fk_orphans",
        "pr14_equi_depth_histogram",
        "pr15_key_uniqueness",
        "a30_sessionized_funnel",
        "a31_rollup_revenue",
        "g03_kcore",
        # round-8 second wave: skew audit, winsorized stats, BFS,
        # gap-fill forward-fill
        "pr19_key_skew_audit",
        "pr20_winsorized_stats",
        "g04_bfs_hops",
        "a35_gap_fill",
        "m17_scene_cuts",
        "a36_weighted_median",
        "d18_source_overlap",
        "ev12_session_concurrency",
        "pr21_corr_matrix",
        "ev13_watermark_loss",
        "g05_link_prediction",
        "a37_rfm_scores",
        "s06_knn_graph",
        "x37_collocations",
        "pl31_length_buckets",
        # round-8 fourth wave: corpus accounting, vocab curve, split
        # hygiene, funnel audit, seasonal anomaly, assortativity,
        # sentence stats, ANN recall
        "d19_effective_data_size",
        "x38_zipf_rank_table",
        "pl32_cross_split_leakage",
        "pl33_filter_funnel",
        "pr22_seasonal_anomaly",
        "g06_degree_assortativity",
        "x39_sentence_stats",
        "s07_ann_recall_audit",
        # round-8 fifth wave: Arrow IPC source, novelty attribution,
        # fixed-point k-means, autocorrelation, streaming sketch
        "ipc1_typed_roundtrip",
        "x40_ngram_novelty",
        "s08_kmeans_fixed",
        "pr23_autocorrelation",
        "st10_stream_countmin",
        "g07_local_clustering",
        "pl34_rendezvous_shards",
        "s09_scalar_quantization",
        "pl35_quality_dup_calibration_scale",
        "a38_rising_streaks",
        "x41_code_switch_mixture",
        "a39_session_paths",
        "ipc3_writer_roundtrip",
        "s10_gram_matrix",
        "s10_gram_matrix_fast",
        "s05_nearest_centroid_confusion_fast",
        "s08_kmeans_fixed_fast",
        # round 10: oracle-upgraded sketch pair + new shapes
        "pr08_approx_distinct_users",
        "pr09_approx_event_percentiles",
        "pl36_epoch_apportionment",
        "pr24_token_concentration",
        "x42_vocab_growth",
        "a40_pareto_frontier",
        "pr25_chi2_contingency",
        "pr26_null_patterns",
        "s11_product_quantization",
        "warc1_response_extract",
        "st11_stream_hll",
        "s12_mmr_selection",
        "st12_stream_pareto",
        "warc3_writer_roundtrip",
        "pr27_hll_estimate_audit",
        "x43_bpe_merge_learning",
        "s13_knn_ivf_pq",
        "s13_knn_ivf_pq_fast",
        "d20_pq_dedup_cascade",
        # round 11: banding calibration, exact-substring dedup,
        # in-plan GD trainer
        "d21_banding_calibration",
        "d22_substring_dedup",
        "pl37_gd_linear_regressor",
        # round 12: per-doc duplicated-char fraction (the Lee et al.
        # filter metric over the d22 islands) + exact-substring
        # benchmark decontamination (broadcast eval side)
        "d23_dup_char_fraction",
        "d24_substring_decontaminate",
        # round 13: within-document self-repeat fraction (the axis
        # d23 scopes out, turned into its own column)
        "d25_self_repeat_fraction",
        # ipc2_string_inference is fixture-dominated (600k-row pandas
        # materialization + container write per rep) — a fixture cost
        # benchmark, not an engine one; avro2/orc2 are likewise
        # excluded. ipc1 stays as the format's bench presence.
    ):
        @timed(_hq)
        def _(q=_hq):
            _noop(_CAT[q].spark(spark, SF_DIR))

    # -- core-scaling probe (r14 verdict item 2b) ------------------------
    # The sf0.1 suite is scheduling/overhead-bound: per-query walls
    # cannot discriminate parallel from serial operators across core
    # counts (the 8-core total BEAT the 32-core total in r14's driver
    # runs).  This entry is the scaling-credible leg: the production
    # minhash signature+banding pipeline over the documents corpus
    # replicated 32x (~160k docs, an sf3-equivalent text volume) and
    # shuffled to 64 partitions.  Only that exchange stage has a fixed
    # task count; the scan side before it still splits by the core
    # count, so wall tracks executor slots on both.  Measured idle
    # (warm, min-of-3): ~2.8 s on local[32] vs ~6.6 s on local[8] —
    # ratio ~2.3 of the 4x core ratio; the residual is the fixed
    # scan+exchange+codegen floor (~1.2 s) every tiny-SF query shares.
    # Computed from the parquet input per run (no precomputation); the
    # copy salt keeps doc_ids distinct so the banding layout is real.
    @timed("scaleprobe_minhash_sig_32x")
    def _():
        rep = (
            docs.repartition(64)
            .select(
                "doc_id",
                "text",
                F.explode(F.sequence(F.lit(0), F.lit(31))).alias("_copy"),
            )
            .select(
                (F.col("doc_id") * 32 + F.col("_copy")).alias("doc_id"),
                "text",
            )
        )
        _noop(dedup.minhash_banded(rep))

    total = round(sum(timings.values()), 3)
    n_lines = _csv["lines"]
    conv = timings.get("convert_csv_to_parquet")
    if conv:
        print(
            f"[bench] {n_lines} lines converted in {conv:.2f}s "
            f"({n_lines / conv:,.0f} lines/s; reference ~1e4 lines/s)",
            file=sys.stderr,
        )
    # regression flag vs committed history (r10 verdict item 5;
    # host-normalized per r11 verdict item 1; contention-normalized by
    # max(sha, spark-noop) canary ratio per r12 verdict item 1): any
    # query >1.5x the min of its trailing 3 comparable (idle, same-sf,
    # same-cpus, canary-bearing) committed snapshots, after rescaling history to
    # today's host state. Flags from non-idle or subset runs are
    # ADVISORY — the r12 driver run at load1 19 shipped 3 hard flags
    # that were pure co-tenant contention; only an idle full-suite run
    # can assert a code regression.
    idle_now = load_before[0] < IDLE_LOAD1
    advisory_run = (cli.only is not None) or not idle_now
    regressions: dict[str, dict] = {}
    flagmeta: dict = {}
    try:
        import importlib.util as _ilu

        _bh_spec = _ilu.spec_from_file_location(
            "bench_history",
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "tools", "bench_history.py"),
        )
        _bh = _ilu.module_from_spec(_bh_spec)
        _bh_spec.loader.exec_module(_bh)
        _hist = _bh.read_csv()
        regressions = _bh.flag_regressions(
            _hist, timings, sf=_sf(), current_canary=canary_sha,
            current_noop=canary_noop,
            current_noop_protocol="warmed_min3",
            current_cpus=eff_cpus,
        )
        flagmeta = _bh.flag_meta(
            _hist, sf=_sf(), current_canary=canary_sha,
            current_noop_protocol="warmed_min3",
            current_cpus=eff_cpus,
        )
        if regressions:
            kind = "ADVISORY (non-idle/subset run)" if advisory_run else \
                "REGRESSIONS"
            print(
                f"[bench] {kind} vs trailing-3 host-normalized min: "
                f"{regressions}",
                file=sys.stderr,
            )
        elif flagmeta.get("bootstrap"):
            print(
                "[bench] regression flag in bootstrap: no canary-bearing "
                f"comparable snapshot at cpus={eff_cpus} and this sf yet",
                file=sys.stderr,
            )
    except Exception as exc:  # missing history file etc. — never fatal
        print(f"[bench] history check skipped: {exc}", file=sys.stderr)
    hard_flags, advisory_flags = _split_flags(regressions, advisory_run)
    shutil.rmtree(work, ignore_errors=True)
    load_after = os.getloadavg()
    payload = json.dumps(
        {
            "metric": "bench_total_sec",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "queries_mean": timings_mean,
            "queries_spread": timings_spread,
            # load context: load1_before is external load at start
            # (our executors aren't running yet); queries_load1 stamps
            # each query's start so mid-run contention is attributable.
            # idle == both rounds' load1_before < IDLE_LOAD1 is the
            # machine-checkable precondition for per-query comparison.
            "load1_before": round(load_before[0], 2),
            "load_before": [round(x, 2) for x in load_before],
            "load_after": [round(x, 2) for x in load_after],
            "queries_load1": timings_load1,
            # rep protocol per query (r13 ADVICE): "minN" = plain
            # min-of-N; "min5_warmup_discarded" = the SUBSEC_LIFT path
            "queries_protocol": timings_protocol,
            "subsec_lift_sec": SUBSEC_LIFT,
            "idle_at_start": idle_now,
            "idle_load1_threshold": IDLE_LOAD1,
            # effective cores (what get_spark actually ran with —
            # local[$SPARK_GRAFT_CPUS]); cpus_host is the machine
            "cpus": eff_cpus,
            "cpus_host": os.cpu_count(),
            "default_parallelism": default_par,
            "reps": REPS,
            "sf": _sf(),
            "lines": n_lines,
            "convert_lines_per_sec": round(n_lines / conv) if conv else None,
            "baseline_ref_lines_per_sec": 10_000,  # BASELINE.md, README.md:127
            # host-speed canaries (r11 verdict item 1): sha256 is the
            # normalizer for cross-snapshot comparison, spark-noop the
            # JVM-overhead context column
            "canary_sha256_sec": canary_sha,
            "canary_spark_noop_sec": canary_noop,
            # noop canary protocol (r13 verdict item 1): "warmed_min3"
            # = one discarded warm-up call before min-of-3; absent =
            # pre-r14 cold min-of-3 (the r13 snapshot's 1.14 s cold
            # reading vs its 0.24 s warm floor is the difference)
            "canary_noop_protocol": "warmed_min3",
            "sched_latency_p90_us": sched_latency_p90_us,
            "regressions": hard_flags,
            "regressions_advisory": advisory_flags,
            "advisory_run": advisory_run,
            "regression_flag_meta": flagmeta,
            "subset": cli.only,
        }
    )
    # The driver records the LAST stdout line as BENCH_r{N}.json and
    # clips long lines (r7 lost four query entries; r7–r9 all ended up
    # "parsed": null) — so the contract is split: the FULL payload goes
    # to BENCH_LOCAL.json (every judge/round reads complete numbers
    # there), and stdout ends with a compact (<2 KB) summary holding
    # the headline metric, machine-state stamps, and the 10 slowest
    # queries.
    if cli.out:
        # full payload to an explicit side file (adjudication runs —
        # works for subsets, which have no other full-payload outlet)
        try:
            with open(cli.out, "w") as fh:
                fh.write(payload + "\n")
        except OSError:
            pass
    if cli.only is None:
        # subset runs NEVER overwrite the committed full-suite
        # snapshot — it is the only sound regression baseline.  A
        # non-idle full run keeps its payload in a side file instead
        # of clobbering the idle snapshot (r12 verdict item 1a).
        fname = _snapshot_filename(idle_now)
        try:
            with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                   fname), "w") as fh:
                fh.write(payload + "\n")
        except OSError:
            pass
        if not idle_now:
            print(f"[bench] NON-IDLE run (load1 {load_before[0]:.2f} >= "
                  f"{IDLE_LOAD1}): full payload -> {fname}; "
                  "BENCH_LOCAL.json untouched", file=sys.stderr)
    else:
        print(f"[bench] subset run (--only {cli.only!r}): "
              "BENCH_LOCAL.json NOT written", file=sys.stderr)
    slowest = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:10]
    )
    # the scaling probe must be visible in BOTH core-count runs'
    # stdout payloads for the driver's low/high-core ratio to see it,
    # regardless of where it ranks — force-include it (adding entries
    # to "queries" is allowed; nothing is removed or renamed)
    for _name, _sec in timings.items():
        if _name.startswith("scaleprobe_"):
            slowest[_name] = _sec
    summary = json.dumps(
        {
            "metric": "bench_total_sec",
            "value": total,
            "unit": "sec",
            "queries": slowest,
            "queries_note": (
                f"10 slowest (+ scaling probes) of {len(timings)}; "
                + ("subset run — BENCH_LOCAL.json untouched"
                   if cli.only
                   else f"full set in {_snapshot_filename(idle_now)}")
            ),
            "sf": _sf(),
            "reps": REPS,
            "lines": n_lines,
            "convert_lines_per_sec": round(n_lines / conv) if conv else None,
            "baseline_ref_lines_per_sec": 10_000,
            "canary_sha256_sec": canary_sha,
            "canary_spark_noop_sec": canary_noop,
            "subset": cli.only,
            "load1_before": round(load_before[0], 2),
            "load1_after": round(load_after[0], 2),
            "idle_at_start": idle_now,
            "cpus": eff_cpus,
            "cpus_host": os.cpu_count(),
            # names only (full ratios in BENCH_LOCAL.json) to keep the
            # stdout line under the driver's clip limit
            "regressions": sorted(hard_flags),
            "regressions_advisory": sorted(advisory_flags),
        }
    )
    print(summary)


if __name__ == "__main__":
    main()
