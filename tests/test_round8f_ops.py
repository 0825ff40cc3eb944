"""Round-8 seventh-wave operators: rendezvous sharding (pl34), scalar
quantization audit (s09), quality-dup calibration + scale twin (pl35),
rising streaks (a38)."""

from __future__ import annotations

import datetime as dt
import os
import tempfile

import pandas as pd
import pyspark.sql.functions as F

from tabular_to_parquet_spark.parity import extensions as _ext  # noqa: F401
from tabular_to_parquet_spark.parity.catalog import CATALOG


def _write_docs(spark, rows):
    d = tempfile.mkdtemp(prefix="r8f_docs_")
    pdf = pd.DataFrame(
        {
            "doc_id": [r[0] for r in rows],
            "text": [r[1] for r in rows],
            "lang": [r[2] for r in rows],
            "source": ["s" for _ in rows],
            "n_chars": [len(r[1]) for r in rows],
        }
    )
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(
        os.path.join(d, "documents.parquet")
    )
    return d


# ---------------------------------------------------------------------------
# pl34 — rendezvous sharding


def test_pl34_hrw_movement_structure(spark):
    """The HRW contract: a doc moves on 8->12 growth iff its 12-shard
    argmax landed in a NEW shard (>= 8); survivors keep their shard
    exactly. Expected moved fraction ~ 1/3."""
    rows = CATALOG["pl34_rendezvous_shards"].spark(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    moved = 0
    for r in rows:
        assert 0 <= r["shard8"] <= 7
        assert 0 <= r["shard12"] <= 11
        if r["moved"]:
            assert r["shard12"] >= 8
            moved += 1
        else:
            assert r["shard12"] == r["shard8"]
    # 500 docs, p=1/3: a 10x-sigma band is [60, 280]
    assert 60 <= moved <= 280


def test_pl34_assignment_is_id_stable(spark):
    """Same doc_id -> same shard regardless of the rest of the corpus
    (the property mod-N resharding loses)."""
    d1 = _write_docs(spark, [(7, "a", "en"), (8, "b", "en")])
    d2 = _write_docs(spark, [(7, "zz", "fr"), (9, "y", "en"), (100, "q", "en")])
    s1 = {r["doc_id"]: r["shard12"]
          for r in CATALOG["pl34_rendezvous_shards"].spark(spark, d1).collect()}
    s2 = {r["doc_id"]: r["shard12"]
          for r in CATALOG["pl34_rendezvous_shards"].spark(spark, d2).collect()}
    assert s1[7] == s2[7]


# ---------------------------------------------------------------------------
# s09 — scalar quantization audit


def test_s09_error_bound(spark):
    """int8 reconstruction error per component is bounded by one code
    step: |f - r| <= ceil((mx-mn)/255). Checked via the reported max
    against the worst dim range on the real table."""
    from tabular_to_parquet_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    rows = CATALOG["s09_scalar_quantization"].spark(spark, sf).collect()
    assert len(rows) == 500
    ex = load_table(spark, sf, "embeddings").select(
        F.posexplode("embedding").alias("dim", "v")
    ).select(
        "dim", F.floor(F.col("v").cast("double") * 1048576.0).cast("long").alias("f")
    )
    worst = ex.groupBy("dim").agg((F.max("f") - F.min("f")).alias("rng")).agg(
        F.max("rng")
    ).collect()[0][0]
    step = worst // 255 + 1
    for r in rows:
        assert 0 <= r["max_abs_err_fixed"] <= step
        assert r["err_sq_fixed"] <= 64 * step * step


def test_s09_constant_dims_are_lossless(spark, tmp_path):
    """Vectors whose every dim is corpus-constant quantize losslessly
    (mx == mn branch): zero error."""
    pdf = pd.DataFrame(
        {
            "vec_id": [1, 2, 3],
            "embedding": [[0.5, -0.25]] * 3,
            "label": [0, 0, 0],
        }
    )
    spark.createDataFrame(pdf).select(
        "vec_id",
        F.col("embedding").cast("array<float>").alias("embedding"),
        F.col("label").cast("int").alias("label"),
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    rows = CATALOG["s09_scalar_quantization"].spark(spark, str(tmp_path)).collect()
    assert [(r["err_sq_fixed"], r["max_abs_err_fixed"]) for r in rows] == [(0, 0)] * 3


# ---------------------------------------------------------------------------
# pl35 — calibration table + scale twin


def test_pl35_window_and_scale_twin_agree(spark):
    a = sorted(
        CATALOG["pl35_quality_dup_calibration"]
        .spark(spark, "/root/testdata/sf0.001").collect(),
        key=lambda r: r["decile"],
    )
    b = sorted(
        CATALOG["pl35_quality_dup_calibration_scale"]
        .spark(spark, "/root/testdata/sf0.001").collect(),
        key=lambda r: r["decile"],
    )
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    assert sum(r["n_docs"] for r in a) == 500
    assert [r["decile"] for r in a] == list(range(1, 11))


def test_pl35_dup_labels(spark):
    """Two identical short docs + eight longer unique docs: the dup
    pair lands in the lowest deciles with dup_rate 1.0 there."""
    dup = "same text here"
    rows = [(1, dup, "en"), (2, dup, "en")] + [
        (i, "unique " + "x" * (10 + i) + f" {i}", "en") for i in range(3, 11)
    ]
    d = _write_docs(spark, rows)
    got = sorted(
        CATALOG["pl35_quality_dup_calibration"].spark(spark, d).collect(),
        key=lambda r: r["decile"],
    )
    assert sum(r["n_dups"] for r in got) == 2
    assert got[0]["n_dups"] == 1 and got[0]["dup_rate"] == 1.0
    assert got[1]["n_dups"] == 1 and got[1]["dup_rate"] == 1.0


# ---------------------------------------------------------------------------
# a38 — rising streaks


def test_a38_hand_series(spark, tmp_path):
    """Counts 1,2,3,1,2,3,4 on consecutive days: rising days are
    d1,d2,d4,d5,d6 -> islands {d1,d2} and {d4,d5,d6}; longest 3
    starting at d4; 5 rising days total. A calendar GAP breaks a
    streak even when the count rises across it."""
    t0 = dt.datetime(2024, 7, 1)
    day_counts = [(0, 1), (1, 2), (2, 3), (3, 1), (4, 2), (5, 3), (6, 4),
                  # gap: day 8 missing -> day 9's rise doesn't extend
                  (9, 10)]
    rows, eid = [], 0
    for day, n in day_counts:
        for _ in range(n):
            eid += 1
            rows.append((eid, t0 + dt.timedelta(days=day, hours=1)))
    pdf = pd.DataFrame(
        {
            "event_id": [r[0] for r in rows],
            "ts": [r[1] for r in rows],
            "user_id": [1] * len(rows),
            "event_type": ["a"] * len(rows),
            "value": [1.0] * len(rows),
            "props": [""] * len(rows),
        }
    )
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    got = CATALOG["a38_rising_streaks"].spark(spark, str(tmp_path)).collect()
    assert len(got) == 1
    r = got[0]
    base_day = int(t0.timestamp() // 86400)
    assert r["longest_streak"] == 3
    assert r["start_day"] == base_day + 4
    assert r["n_rising_days"] == 5


# ---------------------------------------------------------------------------
# x41 — code-switch mixture


def test_x41_bilingual_doc_hits_two_langs(spark):
    """'the house y la casa es the best' hits en ('the'x2) and es
    ('y','la','es'... note 'la' also scores fr) — the mixture exposes
    what x04's single argmax label hides."""
    d = _write_docs(
        spark,
        [
            (1, "the house y la casa es the best", "en"),
            (2, "nur deutsche worte ohne treffer", "de"),
        ],
    )
    got = {
        r["doc_id"]: r
        for r in CATALOG["x41_code_switch_mixture"].spark(spark, d).collect()
    }
    r1 = got[1]
    assert r1["n_tokens"] == 8
    assert r1["hits_en"] == 2  # 'the' x2
    assert r1["hits_es"] == 3  # 'y', 'la', 'es'
    assert r1["hits_fr"] == 1  # 'la' scores fr too — sets overlap by design
    assert r1["n_langs_hit"] == 3
    r2 = got[2]
    assert r2["hits_en"] == 0 and r2["hits_es"] == 0 and r2["hits_fr"] == 0
    # 'ohne'/'nur' are not in the de stopword set; only 'worte' etc. miss too
    assert r2["n_langs_hit"] == 0


def test_x41_matches_x04_evidence(spark):
    """The mixture's per-lang hit counts reproduce x04's argmax label
    on the real table (tie rule: LANG_ORDER)."""
    from tabular_to_parquet_spark.operators.text_analysis import LANG_ORDER

    sf = "/root/testdata/sf0.001"
    mix = {
        r["doc_id"]: r
        for r in CATALOG["x41_code_switch_mixture"].spark(spark, sf).collect()
    }
    pred = {
        r["doc_id"]: r["lang_pred"]
        for r in CATALOG["x04_lang_id"].spark(spark, sf).collect()
    }
    for doc_id, r in mix.items():
        hits = {la: r[f"hits_{la}"] for la in LANG_ORDER}
        best = max(hits.values())
        expect = "und"
        for la in LANG_ORDER:
            if hits[la] > 0 and hits[la] == best:
                expect = la
                break
        assert pred[doc_id] == expect


# ---------------------------------------------------------------------------
# a39 — session paths


def test_a39_hand_sessions(spark, tmp_path):
    """User 1: view,click,buy within minutes (one session, path
    view>click>buy) then a 5-hour gap and a lone view (path 'view').
    User 2: view,click (path view>click). Top paths counted with
    distinct users."""
    t0 = dt.datetime(2024, 2, 1, 8, 0, 0)
    m = dt.timedelta(minutes=5)
    rows = [
        (1, t0, 1, "view"), (2, t0 + m, 1, "click"), (3, t0 + 2 * m, 1, "buy"),
        (4, t0 + dt.timedelta(hours=9), 1, "view"),
        (5, t0, 2, "view"), (6, t0 + m, 2, "click"),
    ]
    pdf = pd.DataFrame(
        {
            "event_id": [r[0] for r in rows],
            "ts": [r[1] for r in rows],
            "user_id": [r[2] for r in rows],
            "event_type": [r[3] for r in rows],
            "value": [1.0] * len(rows),
            "props": [""] * len(rows),
        }
    )
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    got = {
        r["path"]: (r["n_sessions"], r["n_users"])
        for r in CATALOG["a39_session_paths"].spark(spark, str(tmp_path)).collect()
    }
    assert got == {
        "view>click>buy": (1, 1),
        "view>click": (1, 1),
        "view": (1, 1),
    }


# ---------------------------------------------------------------------------
# s10 gram matrix, s05 and s08 tie rules, over hand-written embeddings


def _write_vectors(spark, path, vecs, labels):
    pdf = pd.DataFrame(
        {
            "vec_id": list(range(1, len(vecs) + 1)),
            "embedding": vecs,
            "label": labels,
        }
    )
    spark.createDataFrame(pdf).select(
        "vec_id",
        F.col("embedding").cast("array<float>").alias("embedding"),
        F.col("label").cast("int").alias("label"),
    ).write.mode("overwrite").parquet(str(path / "embeddings.parquet"))


def test_s10_hand_vectors(spark, tmp_path):
    """Two 2-dim vectors (1.0, 0.5) and (0.25, -0.5): fixed-point
    f = v * 2^20 exactly (dyadic), gram sums computed by hand."""
    _write_vectors(spark, tmp_path, [[1.0, 0.5], [0.25, -0.5]], [0, 0])
    S = 1048576
    f = {1: (S, S // 2), 2: (S // 4, -S // 2)}
    got = {
        (r["i"], r["j"]): (r["n"], r["sum_fi"], r["sum_fj"], r["sum_prod"])
        for r in CATALOG["s10_gram_matrix"].spark(spark, str(tmp_path)).collect()
    }
    assert set(got) == {(0, 0), (0, 1), (1, 1)}
    assert got[(0, 0)] == (
        2, f[1][0] + f[2][0], f[1][0] + f[2][0],
        str(f[1][0] ** 2 + f[2][0] ** 2),
    )
    assert got[(0, 1)] == (
        2, f[1][0] + f[2][0], f[1][1] + f[2][1],
        str(f[1][0] * f[1][1] + f[2][0] * f[2][1]),
    )
    assert got[(1, 1)] == (
        2, f[1][1] + f[2][1], f[1][1] + f[2][1],
        str(f[1][1] ** 2 + f[2][1] ** 2),
    )


def test_s10_shape_and_symmetric_diagonal(spark):
    rows = CATALOG["s10_gram_matrix"].spark(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 64 * 65 // 2
    for r in rows:
        assert r["n"] == 500
        if r["i"] == r["j"]:
            assert r["sum_fi"] == r["sum_fj"]
            assert int(r["sum_prod"]) >= 0  # sum of squares


def test_s10_fast_merges_partitions_exactly(spark, tmp_path):
    """Many partitions, values engineered so per-partition products
    are large: the decimal merge reproduces the single-partition
    total exactly."""
    from tabular_to_parquet_spark.operators.similarity import gram_matrix

    pdf = pd.DataFrame(
        {
            "vec_id": list(range(1, 201)),
            "embedding": [[1.0, -1.0]] * 200,
            "label": [0] * 200,
        }
    )
    sdf = spark.createDataFrame(pdf).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )
    one = {
        (r["i"], r["j"]): (r["n"], r["sum_fi"], r["sum_fj"], r["sum_prod"])
        for r in gram_matrix(sdf.coalesce(1)).collect()
    }
    many = {
        (r["i"], r["j"]): (r["n"], r["sum_fi"], r["sum_fj"], r["sum_prod"])
        for r in gram_matrix(sdf.repartition(16)).collect()
    }
    assert one == many
    S = 1048576
    assert one[(0, 0)] == (200, 200 * S, 200 * S, str(200 * S * S))
    assert one[(0, 1)] == (200, 200 * S, -200 * S, str(-200 * S * S))
    # 140k vectors of 8.0 (f = 2^23): each partial fits a BIGINT, the
    # merged sum of products (140000 * 2^46) does not
    n, f = 140_000, 8 * S
    big = spark.range(n).select(
        F.array(F.lit(8.0)).cast("array<float>").alias("embedding")
    ).repartition(4)
    row = gram_matrix(big).collect()
    assert [tuple(r) for r in row] == [(0, 0, n, n * f, n * f, str(n * f * f))]
    assert n * f * f > 2**63


def test_s05_distance_ties_go_to_lowest_label(spark, tmp_path):
    """Labels 0 and 1 have the same centroid (0, 0), so every vector is
    equally far from both: each one is assigned label 0."""
    _write_vectors(
        spark, tmp_path,
        [[0.5, 0.0], [-0.5, 0.0], [0.0, 0.5], [0.0, -0.5]], [0, 0, 1, 1],
    )
    rows = CATALOG["s05_nearest_centroid_confusion"].spark(
        spark, str(tmp_path)
    ).collect()
    assert sorted(tuple(r) for r in rows) == [(0, 0, 2), (1, 0, 2)]


def test_s08_tied_seeds_go_to_lowest_cid(spark, tmp_path):
    """Vectors 1 and 2 are identical, so seeds 0 and 1 tie for every
    vector: both members join cid 0 and the empty cid 1 drops out."""
    _write_vectors(
        spark, tmp_path, [[0.5, 0.5], [0.5, 0.5], [-0.5, -0.25]], [0, 0, 0]
    )
    rows = CATALOG["s08_kmeans_fixed"].spark(spark, str(tmp_path)).collect()
    S = 1048576
    assert sorted(tuple(r) for r in rows) == [
        (0, 0, S // 2, 2), (0, 1, S // 2, 2), (2, 0, -S // 2, 1), (2, 1, -S // 4, 1),
    ]
