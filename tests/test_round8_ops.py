"""Round-8 operators: k-core peel (operators/graph.kcore), the FK
orphan audit and equi-depth histogram (operators/profiling), and the
session-tagger extraction (streaming/streams.session_tags).

Exact large-scale values are oracle-gated (g03, pr13, pr14, a30);
these tests pin the semantics on hand-built inputs plus the g03
oracle's unroll-depth safety margin."""

from __future__ import annotations

from pyspark.sql import functions as F

from tabular_to_parquet_spark.operators import graph
from tabular_to_parquet_spark.operators.profiling import (
    equi_depth_histogram,
    fk_orphan_audit,
)


def _sym(pairs):
    return [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]


def test_kcore_triangle_with_tail(spark):
    # triangle 1-2-3 plus a pendant 3-4: the 2-core is the triangle
    edges = spark.createDataFrame(
        _sym([(1, 2), (2, 3), (1, 3), (3, 4)]), "src long, dst long"
    )
    out = {r["node"]: r["core_degree"] for r in graph.kcore(edges, k=2).collect()}
    assert out == {1: 2, 2: 2, 3: 2}


def test_kcore_chain_peels_to_empty(spark):
    # 1-2-3-4 chain: each peel round exposes a new degree-1 endpoint,
    # so convergence needs >1 iteration and ends empty
    edges = spark.createDataFrame(
        _sym([(1, 2), (2, 3), (3, 4)]), "src long, dst long"
    )
    assert graph.kcore(edges, k=2).count() == 0


def test_kcore_keeps_whole_clique(spark):
    edges = spark.createDataFrame(
        _sym([(a, b) for a in range(4) for b in range(a + 1, 4)]),
        "src long, dst long",
    )
    out = {r["node"]: r["core_degree"] for r in graph.kcore(edges, k=3).collect()}
    assert out == {0: 3, 1: 3, 2: 3, 3: 3}


def test_kcore_oracle_unroll_depth_has_margin():
    """The g03 DuckDB oracle unrolls 16 peel rounds; the Spark side
    runs to fixpoint. Certification is only sound if the peel
    CONVERGES within the unroll at the certified scale — pin that
    round 15 and round 16 produce identical row sets (i.e. fixpoint
    reached with at least one round to spare)."""
    import duckdb

    from tabular_to_parquet_spark.parity.extensions import _kcore_oracle

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW lineitem AS "
        "SELECT * FROM '/root/testdata/sf0.01/lineitem.parquet'"
    )
    r15 = con.sql(_kcore_oracle(3, 15) + " ORDER BY node").fetchall()
    r16 = con.sql(_kcore_oracle(3, 16) + " ORDER BY node").fetchall()
    assert r15 == r16
    assert len(r16) > 0


def test_fk_orphan_audit_counts_orphans_not_nulls(spark):
    fact = spark.createDataFrame(
        [(1,), (1,), (2,), (99,), (None,)], "fk long"
    )
    dim = spark.createDataFrame([(1,), (2,), (3,)], "pk long")
    row = fk_orphan_audit([("fact.fk -> dim.pk", fact, "fk", dim, "pk")]).collect()[0]
    assert row["fk_name"] == "fact.fk -> dim.pk"
    assert row["n_rows"] == 4  # the NULL FK is excluded entirely
    assert row["n_orphans"] == 1  # only 99


def test_fk_orphan_audit_empty_fact(spark):
    fact = spark.createDataFrame([], "fk long")
    dim = spark.createDataFrame([(1,)], "pk long")
    row = fk_orphan_audit([("f", fact, "fk", dim, "pk")]).collect()[0]
    assert (row["n_rows"], row["n_orphans"]) == (0, 0)


def test_equi_depth_histogram_uniform_fill(spark):
    df = spark.createDataFrame([(i,) for i in range(16)], "v long")
    out = {
        r["bin"]: (r["n"], r["min_value"], r["max_value"])
        for r in equi_depth_histogram(df, F.col("v"), n_bins=4).collect()
    }
    # 16 uniform values into 4 bins: exactly 4 per bin, contiguous
    assert {b: n for b, (n, _, _) in out.items()} == {1: 4, 2: 4, 3: 4, 4: 4}
    assert out[1][1] == 0 and out[4][2] == 15


def test_session_tags_preserves_columns_and_matches_frame(spark):
    """The extracted tagger must carry every input column and
    reproduce sessionize_frame's boundaries (the ev03 contract)."""
    from tabular_to_parquet_spark.sources.tables import load_table
    from tabular_to_parquet_spark.streaming.streams import (
        session_tags,
        sessionize_frame,
    )

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    tagged = session_tags(ev)
    assert set(ev.columns) | {"session_no"} == set(tagged.columns)
    via_tags = (
        tagged.groupBy("user_id", "session_no")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    direct = sessionize_frame(ev).select("user_id", "session_no", "n_events")
    assert via_tags.exceptAll(direct).count() == 0
    assert direct.exceptAll(via_tags).count() == 0


def test_ivf_cell_vectorized_matches_expression(spark):
    """The batch-matmul cell assigner must agree with the expression
    argmax on real vectors (same tie-break: lowest index), at both the
    default and an enlarged anchor count."""
    from tabular_to_parquet_spark.operators.similarity import (
        ivf_anchors,
        ivf_cell,
        ivf_cell_vectorized,
    )
    from tabular_to_parquet_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    for anchors in (None, ivf_anchors(cells=64)):
        both = emb.select(
            ivf_cell(F.col("embedding"), anchors).alias("e"),
            ivf_cell_vectorized(F.col("embedding"), anchors).alias("v"),
        )
        assert both.where(F.col("e") != F.col("v")).count() == 0


def test_semantic_dup_pairs_fast_matches_exact_pair_set(spark):
    """fast=True (vectorized cells + cosine) must produce the same
    (id_a, id_b, cell) pair set as the exact fold away from the
    threshold boundary (cosines can differ in the last ulp)."""
    from tabular_to_parquet_spark.operators import dedup
    from tabular_to_parquet_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings").limit(500)
    exact = {
        (r.id_a, r.id_b, r.cell)
        for r in dedup.semantic_dup_pairs(emb, threshold=0.4).collect()
    }
    fast = {
        (r.id_a, r.id_b, r.cell)
        for r in dedup.semantic_dup_pairs(emb, threshold=0.4, fast=True).collect()
    }
    # identical up to threshold-boundary ulps: require symmetric
    # difference empty (the fixture has no cosine within 1e-9 of 0.4)
    assert exact == fast


def test_key_uniqueness_audit_finds_dups_and_nulls(spark):
    from tabular_to_parquet_spark.operators.profiling import key_uniqueness_audit

    df = spark.createDataFrame([(1,), (2,), (2,), (2,), (None,)], "k long")
    row = key_uniqueness_audit([("t.k", df, F.col("k"))]).collect()[0]
    assert row["n_rows"] == 5
    assert row["n_keys"] == 3  # 1, 2, NULL
    assert row["n_dup_keys"] == 1  # only 2
    assert row["max_multiplicity"] == 3


def test_cluster_representatives_picks_longest_then_lowest_id(spark):
    from tabular_to_parquet_spark.operators.dedup import cluster_representatives

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (9, 9)],
        "doc_id long, cluster_id long",
    )
    quality = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (4, 7), (5, 7), (9, 99)],
        "doc_id long, n_chars long",
    )
    out = {
        r["cluster_id"]: (r["rep_doc_id"], r["n_members"], r["max_quality"], r["sum_quality"])
        for r in cluster_representatives(clusters, quality).collect()
    }
    # cluster 1: quality tie 30/30 between 2 and 3 -> lowest id 2 wins
    assert out[1] == (2, 3, 30, 70)
    # cluster 4: tie 7/7 -> doc 4
    assert out[4] == (4, 2, 7, 14)
    # singleton cluster 9 dropped
    assert 9 not in out


def test_containment_catches_small_in_big_that_jaccard_misses(spark):
    from tabular_to_parquet_spark.operators.dedup import (
        containment_pairs,
        jaccard_pairs,
    )

    quote = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"word{i} plus{i} extra{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, quote, "en"), (2, filler + " " + quote + " " + filler, "en"),
         (3, "totally unrelated text about nothing at all here", "en")],
        "doc_id long, text string, lang string",
    )
    cont = containment_pairs(df, threshold=0.8).collect()
    assert [(r.id_a, r.id_b) for r in cont] == [(1, 2)]
    assert cont[0].containment == 1.0  # every quote shingle is in doc 2
    # whole-doc Jaccard misses the same pair at any usable threshold
    jac = jaccard_pairs(df, block_col="lang", threshold=0.5).collect()
    assert (1, 2) not in [(r.id_a, r.id_b) for r in jac]


def test_image_ahash_collides_for_identical_images(spark):
    """Identical pixel content -> identical aHash; different content
    -> different hash (the dedup contract); undecodable -> nulls."""
    from tabular_to_parquet_spark.operators.codecs import encode_bmp
    from tabular_to_parquet_spark.operators.multimodal import (
        _img_rgb,
        perceptual_hash_features,
    )

    rgb = _img_rgb(7, 12, 10)
    bmp = encode_bmp(12, 10, rgb)
    other = encode_bmp(12, 10, _img_rgb(8, 12, 10))
    df = spark.createDataFrame(
        [(1, bytearray(bmp)), (2, bytearray(bmp)), (3, bytearray(other)),
         (4, bytearray(b"not an image"))],
        "media_id long, payload binary",
    )
    out = {r.media_id: (r.ahash_lo, r.ahash_hi, r.decoded)
           for r in perceptual_hash_features(df).collect()}
    assert out[1] == out[2]
    assert out[1][:2] != out[3][:2]
    assert out[4] == (None, None, False)


def test_kcore_raises_instead_of_returning_non_core(spark):
    """A long path needs one peel round per endpoint pair; exhausting
    max_iters must raise, never return a subgraph with degree < k."""
    import pytest

    edges = spark.createDataFrame(
        _sym([(i, i + 1) for i in range(9)]), "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        graph.kcore(edges, k=2, max_iters=2)


def test_perceptual_hash_rejects_oversized_grid(spark):
    import pytest

    from tabular_to_parquet_spark.operators.multimodal import (
        perceptual_hash_features,
    )

    df = spark.createDataFrame([(1, bytearray(b"x"))], "media_id long, payload binary")
    with pytest.raises(ValueError, match="<= 64"):
        perceptual_hash_features(df, hash_w=16, hash_h=8)


def test_audits_reject_empty_specs(spark):
    import pytest

    from tabular_to_parquet_spark.operators.profiling import (
        fk_orphan_audit,
        key_uniqueness_audit,
    )

    with pytest.raises(ValueError):
        fk_orphan_audit([])
    with pytest.raises(ValueError):
        key_uniqueness_audit([])


def test_importance_sample_monotone_and_deterministic(spark):
    from tabular_to_parquet_spark.operators import pipeline as pl

    df = spark.createDataFrame([(i, i % 100) for i in range(2000)], "id long, q long")
    lo = set(r.id for r in pl.importance_sample(df, F.col("q"), 100, "id").collect())
    lo2 = set(r.id for r in pl.importance_sample(df, F.col("q"), 100, "id").collect())
    assert lo == lo2  # deterministic
    hi = set(r.id for r in pl.importance_sample(
        df, F.least(F.col("q") * 2, F.lit(100)), 100, "id").collect())
    assert lo <= hi  # monotone: raising scores only adds rows
    # zero score never accepted; max score always accepted
    zero = df.where(F.col("q") == 0)
    assert pl.importance_sample(zero, F.col("q"), 100, "id").count() == 0
    full = pl.importance_sample(df, F.lit(100), 100, "id").count()
    assert full == 2000


def test_mad_outliers_resists_contamination(spark):
    """One wild value must not move the median/MAD (the pr06 z-score
    contrast: it would shift a mean and explode a stddev)."""
    from tabular_to_parquet_spark.operators.profiling import mad_outliers

    rows = [("a", float(v)) for v in [10, 11, 12, 13, 14, 15, 16, 17, 18, 1_000_000]]
    df = spark.createDataFrame(rows, "g string, v double")
    out = mad_outliers(df, F.col("v").cast("long"), "g").collect()[0]
    assert out["med"] == 14.5 and out["mad"] == 2.5
    assert out["n_outliers"] == 1  # only the wild value
