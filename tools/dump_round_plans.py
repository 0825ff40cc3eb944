"""Dump `.explain("formatted")` plans for one optimization round's
targets into plans/r<round>/<query>_<tag>.txt (the round's plan
evidence files).

Usage: python tools/dump_round_plans.py <round> <tag> [name_regex]
  round: the round number, e.g. 15 (writes plans/r15/)
  tag:   "before" or "after"

Covers both catalog queries (by name) and the operator frames that are
not catalog queries (:func:`bench_only_frames`), so every touched
operator has a committed plan artifact. This is the one plan-dump tool:
it also regenerates the physical-plan audit behind SCALE.md.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def bench_only_frames(spark):
    """The operator frames that are not catalog queries: the bench
    entries, rebuilt as bench.py builds them (same operators, same
    inputs), plus the join, salted-aggregate and event-window operators
    whose plans back the SCALE.md audit (pushdown, broadcast, exchange
    counts, partial aggregation)."""
    from tabular_to_parquet_spark.operators import dedup, similarity
    from tabular_to_parquet_spark.operators import text_analysis as ta
    from tabular_to_parquet_spark.operators.joins import (
        asof_join,
        range_join_binned,
    )
    from tabular_to_parquet_spark.operators.skew import salted_agg
    from tabular_to_parquet_spark.sources.tables import load_table
    from tabular_to_parquet_spark.streaming.streams import (
        windowed_event_stats_frame,
    )

    docs = load_table(spark, SF_DIR, "documents")
    emb = load_table(spark, SF_DIR, "embeddings")
    events = load_table(spark, SF_DIR, "events")
    queries = emb.filter(F.expr("vec_id % 50 = 0"))

    def _dup_clusters():
        pairs = dedup.minhash_pairs(docs, threshold=0.5)
        return dedup.dup_clusters(pairs, docs.select("doc_id"), hops=2)

    def _decontaminate():
        from tabular_to_parquet_spark.operators import pipeline as pl

        eval_df = docs.where(F.expr("doc_id % 97 = 0"))
        corpus = docs.where(~F.expr("doc_id % 97 = 0"))
        return pl.decontaminate(corpus, eval_df, n=4)

    def _text_quality_lang():
        return ta.quality(docs).join(ta.lang_id(docs), "doc_id")

    def _asof_join():
        clicks = events.filter(F.col("event_type") == "click").select(
            "event_id", "user_id", "ts"
        )
        purchases = (
            events.filter(F.col("event_type") == "purchase")
            .groupBy("user_id", "ts")
            .agg(F.sum(F.floor(F.col("value") * 100)).alias("cents"))
        )
        return asof_join(clicks, purchases, on="ts", by="user_id")

    def _range_join_binned():
        errors = events.filter(F.col("event_type") == "error").select(
            F.col("event_id").alias("error_id"), F.unix_micros("ts").alias("t_us")
        )
        signups = events.filter(F.col("event_type") == "signup").select(
            F.col("event_id").alias("signup_id"),
            F.unix_micros("ts").alias("lo_us"),
            (F.unix_micros("ts") + 1_800_000_000).alias("hi_us"),
        )
        return range_join_binned(
            errors, signups, "t_us", "lo_us", "hi_us", 1_800_000_000
        )

    return {
        "dedup_exact": lambda: dedup.dedup_exact(docs),
        "simhash_pairs": lambda: dedup.simhash_pairs(docs, max_hamming=3),
        "minhash_pairs": lambda: dedup.minhash_pairs(docs, threshold=0.5),
        "dup_clusters": _dup_clusters,
        "knn_ivf": lambda: similarity.knn_ivf(emb, queries, k=5),
        "knn_lsh": lambda: similarity.knn_lsh(emb, queries, k=5),
        "knn_bruteforce": lambda: similarity.knn_bruteforce(emb, queries, k=5),
        "semantic_dup_pairs": lambda: dedup.semantic_dup_pairs(emb, threshold=0.4),
        "decontaminate": _decontaminate,
        "text_quality_lang": _text_quality_lang,
        "winnow_fingerprints": lambda: ta.winnow_fingerprints(docs),
        "quality": lambda: ta.quality(docs),
        "asof_join": _asof_join,
        "range_join_binned": _range_join_binned,
        "salted_agg": lambda: salted_agg(
            events, ["event_type"], {"value_cents": F.floor(F.col("value") * 100)}
        ),
        "event_window_stats": lambda: windowed_event_stats_frame(events),
        "sessionize": None,  # catalog-equivalent; skip
    }


def main() -> None:
    if len(sys.argv) < 2 or not sys.argv[1].isdigit():
        sys.exit(__doc__)
    rnd = f"r{int(sys.argv[1]):02d}"
    tag = sys.argv[2] if len(sys.argv) > 2 else "before"
    name_re = re.compile(sys.argv[3]) if len(sys.argv) > 3 else None

    import __spark_entry__ as entry_mod
    from tabular_to_parquet_spark.session import get_spark

    spark = get_spark(f"dump-{rnd}-plans")
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    outdir = os.path.join(here, "plans", rnd)
    os.makedirs(outdir, exist_ok=True)

    targets: dict[str, object] = {}
    qs = entry_mod.queries()
    for name, fn in qs.items():
        targets[name] = ("catalog", fn)
    for name, thunk in bench_only_frames(spark).items():
        if thunk is not None and name not in targets:
            targets[name] = ("bench", thunk)

    for name, (kind, fn) in sorted(targets.items()):
        if name_re is not None and not name_re.search(name):
            continue
        try:
            df = fn(spark, SF_DIR) if kind == "catalog" else fn()
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001
            plan = f"ERROR building plan: {exc}"
        with open(os.path.join(outdir, f"{name}_{tag}.txt"), "w") as fh:
            fh.write(plan)
        print(f"wrote {name}_{tag}.txt")


if __name__ == "__main__":
    main()
