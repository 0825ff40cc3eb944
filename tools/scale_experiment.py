"""Measured scaling curves for the round-5 operators: build a 10×
replica of the sf0.1 tables (key-shifted copies — PERF input only;
correctness oracles always run on the real driver testdata), run each
operator at sf0.1 and at the replica, and print the ratio.

A linear operator should cost ~10× on 10× data (modulo fixed
overheads); super-linear ratios expose the place a 100 TB run dies.
The replica is written as MULTI-file parquet so scans parallelize —
removing the single-row-group floor noted in SCALE.md §9.

Usage: python tools/scale_experiment.py [base_sf_dir] [copies] [name_regex]
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from tabular_to_parquet_spark.operators import dedup, graph, retrieval
from tabular_to_parquet_spark.operators import pipeline as pl
from tabular_to_parquet_spark.session import get_spark
from tabular_to_parquet_spark.sources.tables import load_table
from tabular_to_parquet_spark.streaming.streams import sessionize_frame


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def build_replica(spark, base_dir: str, out_dir: str, copies: int) -> None:
    """Key-shifted unions: orderkey/doc_id/event_id/vec_id shift per
    copy (dims — customer/supplier/part/nation/region — stay fixed, so
    every copy's FKs still resolve; each customer simply has 10× the
    orders, each user 10× the events: the realistic growth mode)."""
    shifts = {
        "orders": ("o_orderkey", 10_000_000),
        "lineitem": ("l_orderkey", 10_000_000),
        "events": ("event_id", 10_000_000),
        "documents": ("doc_id", 10_000_000),
        "embeddings": ("vec_id", 10_000_000),
    }
    for name, (key, off) in shifts.items():
        base = load_table(spark, base_dir, name)
        parts = [
            base.withColumn(key, F.col(key) + F.lit(i * off)) for i in range(copies)
        ]
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        u.repartition(32).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{name}.parquet")
        )
    for name in ("customer", "supplier", "part", "nation", "region"):
        load_table(spark, base_dir, name).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{name}.parquet")
        )


def run_suite(spark, sf_dir: str, name_regex: str = "") -> dict[str, float]:
    docs = load_table(spark, sf_dir, "documents")
    events = load_table(spark, sf_dir, "events")
    li = load_table(spark, sf_dir, "lineitem")

    import __spark_entry__ as entry

    qs = entry.queries()

    def h(name):
        return lambda: _noop(qs[name](spark, sf_dir))

    suite = {
        "dedup_exact": lambda: _noop(dedup.dedup_exact(docs)),
        "minhash_pairs": lambda: _noop(dedup.minhash_pairs(docs, threshold=0.5)),
        # fixed query workload (original-id docs only) — the corpus
        # scales, the query set must not, or the probe-join hit volume
        # grows quadratically and the ratio measures workload growth,
        # not corpus scaling
        "bm25_topk": lambda: _noop(
            retrieval.bm25_topk(
                docs,
                docs.filter(
                    F.expr("doc_id % 97 = 0 AND doc_id < 10000000")
                ).select(F.col("doc_id").alias("query_id"), "text"),
            )
        ),
        "temperature_mixture": lambda: _noop(
            pl.temperature_mixture(docs, "source", "doc_id")
        ),
        "sessionize": lambda: _noop(sessionize_frame(events, gap_minutes=240)),
        "pagerank_copurchase": lambda: _noop(
            graph.pagerank_fixed(graph.copurchase_edges(li), n_iter=3)
        ),
        "h05_local_supplier_volume": h("h05_local_supplier_volume"),
        "h21_waiting_suppliers": h("h21_waiting_suppliers"),
        # small outputs → the queries() total-order wrapper is free
        "cms_heavy_hitters": h("x25_countmin_heavy_hitters"),
        "event_transitions": h("a24_event_transitions"),
        # big output → call the operator directly (the wrapper's global
        # orderBy would measure the sort, not the window)
        "context_target_pairs": lambda: _noop(
            pl.context_target_pairs(events, context_len=3)
        ),
        "triangle_count": h("g02_triangle_count"),
        "boilerplate_strip": h("pl27_boilerplate_strip"),
        # round-6 additions: the session-3 families never 10x-measured
        "minhash_verified_pairs": h("d13_minhash_verified_pairs"),
        "sorted_neighborhood_pairs": h("d14_sorted_neighborhood_pairs"),
        # equi-join scale twin of d14 (no single-partition data window)
        "sorted_neighborhood_scale": lambda: _noop(
            dedup.sorted_neighborhood_pairs(docs)
        ),
        "window_function_zoo": h("a27_window_function_zoo"),
        "asof_forward": h("a29_asof_forward"),
        "association_rules": h("x32_association_rules"),
    }

    # round-7 additions: the families never 10x-measured, called via
    # the RAW catalog builders (no total-order wrapper — big-output
    # queries would otherwise measure the driver-facing global sort,
    # not the operator)
    from tabular_to_parquet_spark.parity.catalog import CATALOG

    def q(name):
        return lambda: _noop(CATALOG[name].spark(spark, sf_dir))

    suite.update({
        "r7_merge_upsert": q("pl15_merge_upsert"),
        "r7_snapshot_diff": q("pl16_snapshot_diff"),
        "r7_incremental_agg": q("pl17_incremental_agg"),
        "r7_budget_selection": q("pl20_budget_selection"),
        "r7_zorder_clusters": q("pl22_zorder_clusters"),
        "r7_epoch_shuffle": q("pl26_epoch_shuffle"),
        "r7_pack_bpe_budget": q("pl29_pack_bpe_budget"),
        "r7_value_outliers": q("pr06_value_outliers"),
        "r7_quality_expectations": q("pr07_quality_expectations"),
        "r7_approx_distinct_users": q("pr08_approx_distinct_users"),
        "r7_approx_event_percentiles": q("pr09_approx_event_percentiles"),
        "r7_ols_sufficient_stats": q("pr11_ols_sufficient_stats"),
        "r7_fd_audit": q("pr12_fd_audit"),
        "r7_red_part_shippers": q("h20_red_part_shippers"),
        "r7_sales_opportunity": q("h22_sales_opportunity"),
        "r7_kwic": q("x29_kwic"),
        "r7_postings": q("x33_postings"),
        "r7_decile_stats_scale": q("a16_decile_stats_scale"),
    })

    # round-8 additions: the unfreeze-round families
    suite.update({
        "r8_fk_orphans": q("pr13_fk_orphans"),
        "r8_equi_depth_histogram": q("pr14_equi_depth_histogram"),
        "r8_key_uniqueness": q("pr15_key_uniqueness"),
        "r8_kcore": q("g03_kcore"),
        "r8_sessionized_funnel": q("a30_sessionized_funnel"),
        "r8_rollup_revenue": q("a31_rollup_revenue"),
        "r8_cluster_representatives": q("d15_cluster_representatives"),
        "r8_containment_pairs": q("d16_containment_pairs"),
        "r8_trailing_active_users": q("a32_trailing_active_users"),
        "r8_image_ahash": q("m14_image_ahash"),
        "r8_image_dedup_groups": q("m15_image_dedup_groups"),
        "r8_grouped_profile": q("pr16_grouped_profile"),
        "r8_tokenizer_fertility": q("x36_tokenizer_fertility"),
        "r8_importance_sample": q("pl30_importance_sample"),
        "r8_mad_outliers": q("pr17_mad_outliers"),
        "r8_user_active_time": q("a33_user_active_time"),
        "r8_audio_fingerprint": q("m16_audio_fingerprint"),
        "r8_distribution_drift": q("pr18_distribution_drift"),
        "r8_revenue_share": q("a34_revenue_share"),
        "r8_event_disorder": q("ev11_event_disorder"),
        "r8_minhash_calibration": q("d17_minhash_calibration"),
        "r8_key_skew_audit": q("pr19_key_skew_audit"),
        "r8_winsorized_stats": q("pr20_winsorized_stats"),
        "r8_bfs_hops": q("g04_bfs_hops"),
        "r8_gap_fill": q("a35_gap_fill"),
        "r8_scene_cuts": q("m17_scene_cuts"),
        "r8_weighted_median": q("a36_weighted_median"),
        "r8_source_overlap": q("d18_source_overlap"),
        "r8_session_concurrency": q("ev12_session_concurrency"),
        "r8_corr_matrix": q("pr21_corr_matrix"),
        "r8_watermark_loss": q("ev13_watermark_loss"),
        "r8_link_prediction": q("g05_link_prediction"),
        "r8_rfm_scores": q("a37_rfm_scores"),
        "r8_knn_graph": q("s06_knn_graph"),
        "r8_collocations": q("x37_collocations"),
        "r8_length_buckets": q("pl31_length_buckets"),
        "r8_effective_data_size": q("d19_effective_data_size"),
        "r8_zipf_rank_table": q("x38_zipf_rank_table"),
        "r8_cross_split_leakage": q("pl32_cross_split_leakage"),
        "r8_filter_funnel": q("pl33_filter_funnel"),
        "r8_seasonal_anomaly": q("pr22_seasonal_anomaly"),
        "r8_degree_assortativity": q("g06_degree_assortativity"),
        "r8_sentence_stats": q("x39_sentence_stats"),
        "r8_ann_recall_audit": q("s07_ann_recall_audit"),
        "r8_ipc_roundtrip": q("ipc1_typed_roundtrip"),
        "r8_ngram_novelty": q("x40_ngram_novelty"),
        "r8_kmeans_fixed": q("s08_kmeans_fixed"),
        "r8_autocorrelation": q("pr23_autocorrelation"),
        "r8_stream_countmin": q("st10_stream_countmin"),
        "r8_ipc_inference": q("ipc2_string_inference"),
        "r8_local_clustering": q("g07_local_clustering"),
        "r8_rendezvous_shards": q("pl34_rendezvous_shards"),
        "r8_scalar_quantization": q("s09_scalar_quantization"),
        "r8_quality_calibration": q("pl35_quality_dup_calibration"),
        "r8_quality_calibration_scale": q("pl35_quality_dup_calibration_scale"),
        "r8_rising_streaks": q("a38_rising_streaks"),
        "r8_code_switch_mixture": q("x41_code_switch_mixture"),
        "r8_session_paths": q("a39_session_paths"),
        "r8_ipc_writer": q("ipc3_writer_roundtrip"),
        "r8_gram_matrix": q("s10_gram_matrix"),
        "r8_centroid_confusion": q("s05_nearest_centroid_confusion"),
    })
    if name_regex:
        import re as _re

        suite = {k: v for k, v in suite.items() if _re.search(name_regex, k)}
        if not suite:
            raise SystemExit("name filter matched no suite entries")
    out = {}
    for name, fn in suite.items():
        runs = []
        for _ in range(2):
            t0 = time.monotonic()
            fn()
            runs.append(time.monotonic() - t0)
        out[name] = min(runs)
    return out


def main() -> None:
    base = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    copies = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    spark = get_spark("scale-exp")
    replica = tempfile.mkdtemp(prefix="sfx_replica_")
    print(f"building {copies}x replica at {replica} ...", file=sys.stderr)
    build_replica(spark, base, replica, copies)
    name_regex = sys.argv[3] if len(sys.argv) > 3 else ""
    small = run_suite(spark, base, name_regex)
    big = run_suite(spark, replica, name_regex)
    print(f"{'operator':32s} {'sf0.1':>8s} {f'{copies}x':>8s} {'ratio':>7s}")
    for name in small:
        r = big[name] / small[name] if small[name] > 0 else float("inf")
        print(f"{name:32s} {small[name]:8.2f} {big[name]:8.2f} {r:7.1f}")


if __name__ == "__main__":
    main()
