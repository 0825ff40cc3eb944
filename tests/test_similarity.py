"""Similarity-search tests: brute-force exactness, LSH recall."""

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


def test_bruteforce_topk(embeddings, queries):
    out = sim.knn_bruteforce(embeddings, queries, k=5).collect()
    n_queries = queries.count()
    assert len(out) == 5 * n_queries
    by_q: dict = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rows in by_q.items():
        ranks = sorted(r.rank for r in rows)
        assert ranks == [1, 2, 3, 4, 5]
        cosines = [r.cosine for r in sorted(rows, key=lambda r: r.rank)]
        assert cosines == sorted(cosines, reverse=True)
        assert all(r.neighbor_id != q for r in rows)


def test_lsh_planes_deterministic():
    p1 = sim.lsh_planes()
    p2 = sim.lsh_planes()
    assert p1 == p2
    assert len(p1) == sim.LSH_BITS and len(p1[0]) == sim.EMBED_DIM
    assert all(-1.0 <= v <= 1.0 for row in p1 for v in row)


def test_lsh_recall_vs_bruteforce(embeddings, queries):
    exact = sim.knn_bruteforce(embeddings, queries, k=5).collect()
    approx = sim.knn_lsh(embeddings, queries, k=5).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    # 16-bit/4-band LSH on 500 random vectors: recall is imperfect by
    # design but must be well above chance (5/500 = 1%)
    assert recall >= 0.3, f"LSH recall too low: {recall}"
    # every returned neighbor must carry a correct exact cosine
    for r in approx[:20]:
        assert -1.0 <= r.cosine <= 1.0


def test_ivf_recall_vs_bruteforce(embeddings, queries):
    exact = sim.knn_bruteforce(embeddings, queries, k=5).collect()
    approx = sim.knn_ivf(embeddings, queries, k=5).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    # 16 cells / 4 probes = a quarter of the corpus scanned per query
    assert recall >= 0.3, f"IVF recall too low: {recall}"
    # each corpus vector belongs to exactly one cell → no duplicate pairs
    assert len(approx_set) == len(approx)


def test_ivf_cell_assignment_total(spark, embeddings):
    from pyspark.sql import functions as F

    cells = embeddings.select(sim.ivf_cell(F.col("embedding")).alias("cell"))
    got = {r.cell for r in cells.distinct().collect()}
    assert got <= set(range(sim.IVF_CELLS))
    assert len(got) > 1  # anchors actually partition the space


def test_cosine_vectorized_matches_fold(spark, embeddings):
    from pyspark.sql import functions as F

    from tabular_to_parquet_spark.operators.dedup import cosine

    a = embeddings.limit(50).select(
        F.col("vec_id"), F.col("embedding").alias("va")
    )
    b = embeddings.limit(50).select(
        F.col("vec_id"), F.col("embedding").alias("vb")
    )
    both = a.join(b, "vec_id")
    out = both.select(
        cosine(F.col("va"), F.col("vb")).alias("fold"),
        sim.cosine_vectorized(F.col("va"), F.col("vb")).alias("vec"),
    ).collect()
    assert len(out) == 50
    for r in out:
        assert abs(r.fold - r.vec) < 1e-12


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """SCALE.md §2 evidence: two tables bucketed on the join key join
    WITHOUT any Exchange in the physical plan (co-located join — the
    100 TB shape for repeated joins on a stable key)."""
    from pyspark.sql import functions as F

    spark.sql(f"CREATE DATABASE IF NOT EXISTS bkt LOCATION '{tmp_path}/bkt'")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        left = docs.select("doc_id", "lang")
        right = docs.select("doc_id", "n_chars")
        (left.write.mode("overwrite").bucketBy(8, "doc_id")
             .sortBy("doc_id").saveAsTable("bkt.left"))
        (right.write.mode("overwrite").bucketBy(8, "doc_id")
              .sortBy("doc_id").saveAsTable("bkt.right"))
        joined = spark.table("bkt.left").join(spark.table("bkt.right"), "doc_id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() == 500
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP DATABASE IF EXISTS bkt CASCADE")


def test_kmeans_anchors_recall_at_equal_probe_cost(embeddings, queries):
    """Trained centroids must recover at least as many true neighbors
    as the data-independent md5 anchors, at the same cells/probes."""
    exact = {(r.query_id, r.neighbor_id)
             for r in sim.knn_bruteforce(embeddings, queries, k=5).collect()}
    md5_hits = {(r.query_id, r.neighbor_id)
                for r in sim.knn_ivf(embeddings, queries, k=5).collect()}
    centers = sim.kmeans_anchors(embeddings)
    assert len(centers) == sim.IVF_CELLS and len(centers[0]) == sim.EMBED_DIM
    km_hits = {(r.query_id, r.neighbor_id)
               for r in sim.knn_ivf(embeddings, queries, k=5, anchors=centers).collect()}
    md5_recall = len(exact & md5_hits) / len(exact)
    km_recall = len(exact & km_hits) / len(exact)
    assert km_recall >= md5_recall, (km_recall, md5_recall)
    assert km_recall >= 0.3


def test_tune_probes_meets_slo_and_is_minimal(embeddings, queries):
    # a loose SLO is satisfiable with few probes; the returned recall
    # must actually meet it, and fewer probes must NOT meet it
    probes, recall = sim.tune_probes(embeddings, queries, k=5, recall_slo=0.6)
    assert recall >= 0.6
    assert 1 <= probes <= sim.IVF_CELLS
    if probes > 1:
        fewer = sim.knn_ivf(embeddings, queries, k=5, probes=probes - 1)
        truth = sim.knn_bruteforce(embeddings, queries, k=5)
        t = {(r["query_id"], r["neighbor_id"]) for r in truth.collect()}
        f = {(r["query_id"], r["neighbor_id"]) for r in fewer.collect()}
        assert len(f & t) / len(t) < 0.6

    # probing every cell is exhaustive → recall 1.0, so an SLO of 1.0
    # always terminates with probes <= IVF_CELLS
    probes_all, recall_all = sim.tune_probes(embeddings, queries, k=5, recall_slo=1.0)
    assert recall_all == 1.0 and probes_all <= sim.IVF_CELLS


def test_suggest_cells_scaling():
    assert sim.suggest_cells(1000) == 4                      # floor
    assert sim.suggest_cells(10_000_000) == 32               # ~312k/cell
    assert sim.suggest_cells(1_000_000_000) == 4096          # ~244k/cell
    # monotone in corpus size, clamped at the top
    assert sim.suggest_cells(10**13) == 1 << 20
