"""Round-15 optimization pins: s07's shared corpus frame is
bit-identical to the per-leg build, and the round's exchange-reuse
plan shapes are asserted, not just dumped (r14 verdict item 4)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tabular_to_parquet_spark.operators import similarity as sim

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def queries(embeddings):
    return embeddings.filter(F.col("vec_id") % 100 == 0)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_knn_bruteforce_corpus_param_bit_identical(embeddings, queries):
    # the shared-corpus path must not change a single bit: same cosine
    # expression tree, the frame only adds one id-keyed exchange
    base = sim.knn_bruteforce(embeddings, queries, k=5)
    shared = sim.shared_corpus_frame(embeddings)
    via = sim.knn_bruteforce(embeddings, queries, k=5, corpus=shared)
    assert _rows(base) == _rows(via)


def test_knn_ivf_corpus_param_bit_identical(embeddings, queries):
    base = sim.knn_ivf(embeddings, queries, k=5)
    shared = sim.shared_corpus_frame(embeddings)
    via = sim.knn_ivf(embeddings, queries, k=5, corpus=shared)
    assert _rows(base) == _rows(via)


def _final_plan(df) -> str:
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def test_d22_window_exchange_reused_at_runtime(spark):
    # r14 verdict item 4a: d22's df-cap + pair self-join consume ONE
    # Exchange(g) over the window scan (ReusedExchange in the executed
    # plan) and the static plan stays at <=4 parquet scans — the r14
    # restructure must not silently regress to the 16-scan shape
    from tabular_to_parquet_spark.parity import curation_queries  # noqa: F401
    from tabular_to_parquet_spark.parity.catalog import CATALOG

    spark.catalog.clearCache()
    df = CATALOG["d22_substring_dedup"].spark(spark, SF)
    final = _final_plan(df)
    assert "ReusedExchange" in final
    assert final.count("Scan parquet") <= 4


def test_s06_and_d09_share_one_cell_exchange(spark):
    # r14 verdict item 4b: both self-join sides of knn_graph and
    # semantic_dup_pairs read ONE materialized cell exchange — exactly
    # one corpus scan in the executed plan, no corpus-sized broadcast
    from tabular_to_parquet_spark.operators import dedup as dd

    # a frame cached by an earlier test would surface as an
    # InMemoryTableScan and hide the exchange this test counts
    spark.catalog.clearCache()
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    for df in (
        sim.knn_graph(emb, k=3),
        dd.semantic_dup_pairs(emb, threshold=0.4),
    ):
        final = _final_plan(df)
        assert "ReusedExchange" in final
        assert final.count("Scan parquet") == 1, final.count("Scan parquet")


def test_suggest_cells_production_floor():
    # r14 verdict item 4c / ADVICE: repartition("cell") caps the pair
    # stage at |cells| tasks, so the production contract is that
    # anchors come from suggest_cells with an executor-task-sized
    # rows-per-cell target — then cells >> cores and the cap is moot.
    # Pin the arithmetic: at the SCALE §18 production target (512
    # rows/cell), any corpus >= 32k rows yields >= 64 cells (>= every
    # local[N] slot count this repo benches), and cells grow
    # monotonically with the corpus.
    last = 0
    for n in (32_000, 128_000, 2_000_000, 1_000_000_000):
        cells = sim.suggest_cells(n, target_rows_per_cell=512)
        assert cells >= 64
        assert cells >= last
        last = cells
    assert sim.suggest_cells(1_000_000_000, target_rows_per_cell=512) >= 1 << 20


def test_parse_extra_conf_separators_and_malformed(caplog, monkeypatch):
    # r14 ADVICE: ';' separator for comma-bearing values; malformed
    # entries surface instead of being silently dropped
    import logging

    from tabular_to_parquet_spark.session import _env_extra_conf, parse_extra_conf

    caplog.set_level(logging.WARNING, logger="tabular_to_parquet_spark.session")

    confs, bad = parse_extra_conf(
        "spark.sql.join.preferSortMergeJoin=false,"
        "spark.sql.adaptive.advisoryPartitionSizeInBytes=256m"
    )
    assert confs == {
        "spark.sql.join.preferSortMergeJoin": "false",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "256m",
    } and bad == []
    # ';' separator preserves commas inside values
    confs, bad = parse_extra_conf(
        "spark.executor.extraJavaOptions=-XX:+UseG1GC,-verbose:gc;"
        "spark.io.compression.codec=zstd"
    )
    assert confs["spark.executor.extraJavaOptions"] == "-XX:+UseG1GC,-verbose:gc"
    assert confs["spark.io.compression.codec"] == "zstd" and bad == []
    # malformed entries are REPORTED, valid siblings still apply
    confs, bad = parse_extra_conf("novalue,k=v,=bare")
    assert confs == {"k": "v"} and bad == ["novalue", "=bare"]
    assert parse_extra_conf("") == ({}, [])
    assert not caplog.records

    # a ';' anywhere splits on ';' only: ','-separated entries fold
    # into the value before them, kept as written but warned about
    confs, bad = parse_extra_conf(
        "spark.executor.extraJavaOptions=-Da=1;"
        "spark.sql.shuffle.partitions=8,spark.io.compression.codec=zstd"
    )
    assert confs == {
        "spark.executor.extraJavaOptions": "-Da=1",
        "spark.sql.shuffle.partitions": "8,spark.io.compression.codec=zstd",
    } and bad == []
    (rec,) = caplog.records
    assert rec.levelno == logging.WARNING
    assert "spark.sql.shuffle.partitions" in rec.getMessage()
    assert "spark.io.compression.codec=zstd" in rec.getMessage()
    caplog.clear()

    # get_spark's env read reports malformed entries through logging
    monkeypatch.setenv("SPARK_GRAFT_EXTRA_CONF", "novalue,k=v")
    assert _env_extra_conf() == {"k": "v"}
    (rec,) = caplog.records
    assert rec.levelno == logging.WARNING and "novalue" in rec.getMessage()


def test_gd_checkpoint_rounds_bit_identical(spark):
    # above GD_LAZY_MAX_ROUNDS the carried state is checkpointed; that
    # must not change a single emitted value
    from tabular_to_parquet_spark.operators.pipeline import (
        GD_LAZY_MAX_ROUNDS,
        gd_linear_regressor,
    )

    df = spark.createDataFrame(
        [(3, 7, 40), (5, 11, 62), (-2, 4, -8), (7, 1, 55)],
        "x0 long, x1 long, y long",
    )
    lazy_max = GD_LAZY_MAX_ROUNDS
    lazy = gd_linear_regressor(df, ["x0", "x1"], rounds=lazy_max).collect()
    ck = gd_linear_regressor(df, ["x0", "x1"], rounds=lazy_max + 1).collect()
    assert len(ck) == lazy_max + 1
    head = [r for r in ck if r["round"] <= lazy_max]
    assert sorted(map(tuple, head)) == sorted(map(tuple, lazy))


def test_gd_checkpoint_rounds_truncates_static_plan(spark):
    # the checkpoint's whole point: above the lazy cap the carried
    # state reads a materialized 1-row RDD instead of a tree that
    # doubles every round (the lazy rounds=12 plan ran the driver out
    # of memory, so only its size at the cap is built here)
    from tabular_to_parquet_spark.operators.pipeline import gd_linear_regressor

    # a range-derived input, so the only LogicalRDD is the checkpoint
    df = spark.range(2).select(
        (F.col("id") * 2 + 3).alias("x0"), (F.col("id") * 4 + 7).alias("y")
    )
    plan_lazy = gd_linear_regressor(df, ["x0"], rounds=8)._jdf.queryExecution().analyzed().toString()
    plan_ck = gd_linear_regressor(df, ["x0"], rounds=10)._jdf.queryExecution().analyzed().toString()
    # measured: 502 Aggregate nodes at lazy rounds=8, 26 at rounds=10
    assert "LogicalRDD" not in plan_lazy
    assert "LogicalRDD" in plan_ck
    assert plan_ck.count("Aggregate") < plan_lazy.count("Aggregate") / 4


def test_bench_stamps_effective_cpus_and_runs_scale_probe():
    # r14 verdict item 2: the payload must stamp the core count
    # get_spark actually used (SPARK_GRAFT_CPUS), not os.cpu_count() —
    # the driver's 8-core run printing "cpus": 32 is what voided its
    # scaling comparison — and the scaling probe entry must run and be
    # force-included in the stdout summary at any rank
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_BENCH_REPS="1",
        SPARK_GRAFT_CPUS="4",
    )
    out = subprocess.run(
        [sys.executable, os.path.join(repo, "bench.py"),
         "--only", "^(dedup_exact|scaleprobe_minhash_sig_32x)$"],
        cwd=repo, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    payload = json.loads(out.stdout.strip().splitlines()[-1])
    assert payload["cpus"] == 4
    assert payload["cpus_host"] == os.cpu_count()
    assert payload["queries"]["scaleprobe_minhash_sig_32x"] > 0
    assert payload["queries"]["dedup_exact"] > 0


def test_s07_shared_corpus_exchange_reused_at_runtime(spark):
    # executed-plan pin for the r15 s07 restructure: ONE corpus-frame
    # exchange feeds both the exact and the ANN leg (ReusedExchange),
    # i.e. the corpus scan + norm fold run once — and the audit's
    # single-pass aggregate leaves no second brute-force subtree
    from tabular_to_parquet_spark.parity import extensions  # noqa: F401
    from tabular_to_parquet_spark.parity.catalog import CATALOG

    # a cached embeddings frame from another test substitutes
    # InMemoryTableScan for the parquet scans and hides the shape this
    # test pins — assert against the uncached plan
    spark.catalog.clearCache()
    df = CATALOG["s07_ann_recall_audit"].spark(spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "ReusedExchange" in final
    # corpus scan exactly once in the final adaptive plan: every other
    # embeddings scan is a bounded query-side projection (vec_id % 50)
    corpus_scans = [
        line
        for line in final.splitlines()
        if "Scan parquet" in line and "% 50" not in line and "%50" not in line
    ]
    assert len(corpus_scans) == 1, corpus_scans
