"""Unit tests for the corpus-preparation operators
(operators/pipeline.py): determinism, invariants, and plan shape.
Cross-engine value parity is covered by the pl01–pl06 oracle gates."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tabular_to_parquet_spark.operators import pipeline as pl
from tabular_to_parquet_spark.operators.dedup import minhash_banded


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (i, f"word{i} " * (5 + i % 37), ["en", "fr", "de"][i % 3], f"src{i % 4}")
        for i in range(600)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")


# ---------------------------------------------------------------------------
# hash_split


def test_hash_split_covers_and_is_stable(spark, docs):
    out = pl.hash_split(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 600
    # rough proportionality at n=600 (hash buckets, not rand)
    assert counts["train"] > 400

    # stability: the assignment of a given id never depends on the rest
    # of the corpus — the held-out property
    sub = pl.hash_split(docs.where(F.col("doc_id") < 100), "doc_id",
                        {"train": 0.8, "val": 0.1, "test": 0.1})
    full = {r["doc_id"]: r["split"] for r in out.where(F.col("doc_id") < 100).collect()}
    for r in sub.collect():
        assert full[r["doc_id"]] == r["split"]


def test_hash_split_is_pure_projection(spark, docs):
    plan = pl.hash_split(docs, "doc_id")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


# ---------------------------------------------------------------------------
# mixture_sample


def test_mixture_sample_monotone_and_exact_rates(spark, docs):
    lo = pl.mixture_sample(docs, "source", {"src0": 0.25}, "doc_id")
    hi = pl.mixture_sample(docs, "source", {"src0": 0.5}, "doc_id")
    lo_ids = {r["doc_id"] for r in lo.collect()}
    hi_ids = {r["doc_id"] for r in hi.collect()}
    assert lo_ids <= hi_ids  # raising a rate only adds documents
    # default_rate=0 drops every other source
    assert all(i % 4 == 0 for i in hi_ids)
    # rate 1.0 keeps a source wholesale
    full = pl.mixture_sample(docs, "source", {"src1": 1.0}, "doc_id")
    assert full.count() == 150


# ---------------------------------------------------------------------------
# stratified_sample


def test_stratified_sample_exact_k(spark, docs):
    out = pl.stratified_sample(docs, "lang", 5, "doc_id")
    per = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert per == {"en": 5, "fr": 5, "de": 5}
    # deterministic: second run picks the identical rows
    again = pl.stratified_sample(docs, "lang", 5, "doc_id")
    assert sorted(r["doc_id"] for r in out.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )
    # small stratum: returns the whole stratum, not an error
    tiny = pl.stratified_sample(docs.where(F.col("doc_id") < 4), "lang", 5, "doc_id")
    assert tiny.count() == 4


# ---------------------------------------------------------------------------
# redact_pii


def test_redact_pii_masks_each_kind(spark):
    df = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@corp.example.co now"),
            (2, "ssn 123-45-6789 leaked"),
            (3, "call 415-555-0042 or 415.555.0042"),
            (4, "host 192.168.0.1 up"),
            (5, "clean text 12345"),
        ],
        "id long, t string",
    )
    got = {r["id"]: r["t"] for r in pl.redact_pii(df, "t").collect()}
    assert got[1] == "mail <EMAIL> now"
    assert got[2] == "ssn <SSN> leaked"
    assert got[3] == "call <PHONE> or <PHONE>"
    assert got[4] == "host <IP> up"
    assert got[5] == "clean text 12345"


# ---------------------------------------------------------------------------
# pack_sequences


def test_pack_sequences_invariants(spark, docs):
    staged = docs.select(
        "doc_id",
        F.pmod(F.col("doc_id"), F.lit(4)).cast("int").alias("shard"),
        (F.pmod(F.col("doc_id"), F.lit(37)) + 5).cast("long").alias("tok"),
    )
    budget = 100
    packed = pl.pack_sequences(staged, "tok", budget, "doc_id", "shard").collect()
    max_tok = max(r["tok"] for r in packed)
    by_pack: dict[int, list] = {}
    for r in packed:
        by_pack.setdefault(r["pack_id"], []).append(r)
    for rows in by_pack.values():
        rows.sort(key=lambda r: r["doc_id"])
        # a pack never spans shards
        assert len({r["shard"] for r in rows}) == 1
        # packs overrun the budget by less than one document
        assert sum(r["tok"] for r in rows) < budget + max_tok
        # a document's start offset lies inside its pack's chunk
        for r in rows:
            assert r["pack_start"] // budget == r["pack_id"] % (1 << 32)
    # every document landed in exactly one pack
    assert sum(len(v) for v in by_pack.values()) == 600


def test_pack_sequences_single_shuffle(spark, docs):
    staged = docs.select("doc_id", F.lit(0).alias("shard"), F.lit(7).alias("tok"))
    plan = (
        pl.pack_sequences(staged, "tok", 100, "doc_id", "shard")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 1, plan


# ---------------------------------------------------------------------------
# shard_assign


def test_pack_sequences_global_window_warns(spark, docs):
    """shard_col=None plans a single-reducer global window — it must
    warn so the 100 TB caller notices (x09-class shape)."""
    import warnings

    staged = docs.select("doc_id", F.lit(10).alias("tok"))
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        pl.pack_sequences(staged, "tok", budget=100, order_col="doc_id")
    assert any("GLOBAL window" in str(w.message) for w in caught), caught
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        pl.pack_sequences(staged, "tok", budget=100, order_col="doc_id", shard_col="doc_id")
    assert not caught


def test_dedup_against_drops_batch_and_corpus_dups(spark):
    corpus = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [
            (10, "alpha  beta"),   # dup of corpus doc 1 after normalization
            (11, "epsilon zeta"),  # new
            (12, "epsilon zeta"),  # in-batch dup of 11
            (13, "eta theta"),     # new
        ],
        "doc_id long, text string",
    )
    kept = sorted(r["doc_id"] for r in pl.dedup_against(batch, corpus).collect())
    assert kept == [11, 13]


def test_dedup_against_bucketed_matches_and_skips_corpus_shuffle(spark, tmp_path):
    """build_fingerprint_index + dedup_against_bucketed: identical rows
    to dedup_against, and the bucketed corpus side of the anti-join
    reads with NO Exchange (the nightly-refresh plan shape)."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS fpidx LOCATION '{tmp_path}/fpidx'")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        batch = docs.where(F.col("doc_id") % 5 == 0)
        corpus = docs.where(F.col("doc_id") % 5 != 0)
        pl.build_fingerprint_index(corpus, "fpidx.fps")
        bucketed = pl.dedup_against_bucketed(spark, batch, "fpidx.fps")
        plain = pl.dedup_against(batch, corpus)
        assert sorted(r["doc_id"] for r in bucketed.collect()) == sorted(
            r["doc_id"] for r in plain.collect()
        )
        # probing the SAME files without bucket metadata needs exactly
        # one more Exchange — the corpus-side shuffle the bucketed
        # layout eliminates (the batch side's own shuffles are equal in
        # both plans and cancel out of the comparison). Compare fresh,
        # un-executed frames: AQE re-prints stage Exchanges after a
        # collect, which would skew the counts.
        plan = (
            pl.dedup_against_bucketed(spark, batch, "fpidx.fps")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Bucketed: true" in plan, plan
        flat = spark.read.parquet(f"{tmp_path}/fpidx/fps")
        from tabular_to_parquet_spark.operators.dedup import dedup_exact
        from tabular_to_parquet_spark.operators.text_analysis import normalized_text

        fp = F.md5(normalized_text(F.col("text")))
        flat_probe = (
            dedup_exact(batch)
            .withColumn("fp", fp)
            .join(flat, on="fp", how="left_anti")
            .drop("fp")
        )
        flat_plan = flat_probe._jdf.queryExecution().executedPlan().toString()
        assert flat_plan.count("Exchange") == plan.count("Exchange") + 1, (
            plan,
            flat_plan,
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP DATABASE IF EXISTS fpidx CASCADE")


def test_dedup_near_against_drops_near_dups_and_uses_band_join(spark, tmp_path):
    """Near-dup refresh: a batch doc whose shingle set mostly overlaps
    a corpus doc is dropped; unrelated docs survive; the probe join on
    the bucketed band index leaves the corpus side Exchange-free."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    corpus = spark.createDataFrame(
        [(1, base), (2, "one two three four five six seven eight nine ten")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, base + " lambda"),  # near-dup of corpus doc 1
            (11, "completely different words with no shared shingles at all"),
        ],
        "doc_id long, text string",
    )
    kept = sorted(
        r["doc_id"]
        for r in pl.dedup_near_against(
            batch, minhash_banded(corpus), threshold=0.3
        ).collect()
    )
    assert kept == [11]

    spark.sql(f"CREATE DATABASE IF NOT EXISTS bandidx LOCATION '{tmp_path}/bandidx'")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        pl.build_minhash_band_index(corpus, "bandidx.bands")
        out = pl.dedup_near_against(
            batch, spark.table("bandidx.bands"), threshold=0.3
        )
        assert sorted(r["doc_id"] for r in out.collect()) == [11]
        # fresh un-executed frame for the plan compare (AQE re-prints
        # stage Exchanges after a collect)
        plan = (
            pl.dedup_near_against(batch, spark.table("bandidx.bands"), threshold=0.3)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Bucketed: true" in plan, plan
        # same probe over the same files WITHOUT bucket metadata: one
        # extra Exchange (the corpus-side shuffle the index removes)
        flat = spark.read.parquet(f"{tmp_path}/bandidx/bands")
        flat_plan = (
            pl.dedup_near_against(batch, flat, threshold=0.3)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert flat_plan.count("Exchange") == plan.count("Exchange") + 1, (
            plan,
            flat_plan,
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP DATABASE IF EXISTS bandidx CASCADE")


def test_prepare_corpus_composition_adds_no_shuffles(spark, docs):
    from tabular_to_parquet_spark.operators.dedup import dedup_exact

    def exchanges(df):
        return df._jdf.queryExecution().executedPlan().toString().count("Exchange")

    base = exchanges(dedup_exact(docs))
    full = exchanges(pl.prepare_corpus(docs, n_shards=8, langs=("en", "fr")))
    assert full == base  # filters + split/shard fuse into the dedup plan

    out = pl.prepare_corpus(docs, n_shards=8, langs=("en", "fr"))
    rows = out.collect()
    assert rows and all(r["lang"] in ("en", "fr") for r in rows)
    assert all(r["split"] in ("train", "val", "test") for r in rows)
    assert all(0 <= r["shard"] < 8 for r in rows)


def test_shard_assign_range_and_no_shuffle(spark, docs):
    out = pl.shard_assign(docs, "doc_id", 16)
    shards = {r["shard"] for r in out.select("shard").distinct().collect()}
    assert shards <= set(range(16))
    assert len(shards) == 16  # 600 ids fill all 16 shards w.h.p.
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


# ---------------------------------------------------------------------------
# decontaminate


def test_decontamination_hits_counts_shared_ngrams(spark):
    # eval doc holds "a b c d e"; corpus doc 1 contains two of its
    # 4-grams ("a b c d", "b c d e"), doc 2 contains none
    eval_df = spark.createDataFrame(
        [(100, "a b c d e")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [(1, "x a b c d e y"), (2, "p q r s t u v")],
        "doc_id long, text string",
    )
    hits = {r["doc_id"]: r["n_hits"] for r in
            pl.decontamination_hits(corpus, eval_df, n=4).collect()}
    assert hits == {1: 2}

    kept = pl.decontaminate(corpus, eval_df, n=4)
    assert sorted(r["doc_id"] for r in kept.collect()) == [2]


def test_decontaminate_broadcasts_eval_grams(spark):
    eval_df = spark.createDataFrame([(0, "a b c d e")], "doc_id long, text string")
    corpus = spark.createDataFrame([(1, "a b c d f")], "doc_id long, text string")
    plan = (
        pl.decontamination_hits(corpus, eval_df, n=4)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # the eval-gram probe must be a broadcast hash join — the corpus
    # side never shuffles for the probe (only the per-doc count agg)
    assert "BroadcastHashJoin" in plan, plan


def test_build_index_survives_orphaned_warehouse_dir(spark, docs):
    """A previous process's managed-table directory (warehouse leftover
    with no catalog entry in THIS session) must not break the index
    builders — reset_managed_table removes the orphan first."""
    import os
    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir", "")
    for prefix in ("file://", "file:"):
        if warehouse.startswith(prefix):
            warehouse = warehouse[len(prefix):]
            break
    orphan = os.path.join(warehouse, "orphan_fp_idx")
    spark.sql("DROP TABLE IF EXISTS orphan_fp_idx")
    os.makedirs(os.path.join(orphan, "not_a_table"), exist_ok=True)
    try:
        pl.build_fingerprint_index(docs.limit(50), "orphan_fp_idx")
        assert spark.table("orphan_fp_idx").count() > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS orphan_fp_idx")
        shutil.rmtree(orphan, ignore_errors=True)


def test_chunk_documents_window_arithmetic(spark):
    df = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(33))),  # 33 toks -> 2 chunks
            (2, "a b c"),                                # short -> 1 chunk
            (3, "  "),                                   # empty -> no rows
        ],
        "doc_id long, text string",
    )
    out = pl.chunk_documents(df, chunk_tokens=32, overlap=8)
    rows = sorted(
        ((r["doc_id"], r["chunk_idx"], r["n_chunk_tokens"]) for r in out.collect())
    )
    assert rows == [(1, 0, 32), (1, 1, 9), (2, 0, 3)]
    chunks = {(r["doc_id"], r["chunk_idx"]): r["chunk_text"] for r in out.collect()}
    # stride 24: second chunk starts at token 24
    assert chunks[(1, 1)].split() == [f"w{i}" for i in range(24, 33)]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_chunk_documents_rejects_bad_overlap(spark, docs):
    import pytest as _pytest

    with _pytest.raises(ValueError):
        pl.chunk_documents(docs, chunk_tokens=8, overlap=8)


def test_create_views_sql_surface(spark):
    """Raw spark.sql over the registered star schema — the SQL twin of
    the DataFrame surface, same session normalizations."""
    from tabular_to_parquet_spark.sources.tables import create_views

    create_views(spark, "/root/testdata/sf0.001")
    row = spark.sql("""
        SELECT o.o_orderstatus AS st, COUNT(*) AS n
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1 ORDER BY n DESC LIMIT 1
    """).collect()[0]
    assert row["n"] > 0 and row["st"] is not None
    # events.ts must arrive as TIMESTAMP (not NTZ / raw ns) through SQL
    t = spark.sql("SELECT unix_micros(ts) AS us FROM events LIMIT 1").collect()
    assert t and t[0]["us"] > 0


def test_write_training_shards_prunes_partitions(spark, docs, tmp_path):
    out = str(tmp_path / "shards")
    pl.write_training_shards(docs, out, n_shards=8)
    back = spark.read.parquet(out)
    one = back.where(F.col("shard") == 2)
    plan = one._jdf.queryExecution().executedPlan().toString()
    # plan-time directory pruning, not a row filter over all shards
    assert "PartitionFilters: [isnotnull(shard" in plan, plan
    expected = {r["doc_id"] for r in pl.shard_assign(docs, "doc_id", 8)
                .where(F.col("shard") == 2).collect()}
    assert {r["doc_id"] for r in one.collect()} == expected and expected


def test_merge_upsert_three_branches(spark):
    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k long, name string, v double",
    )
    updates = spark.createDataFrame(
        [(2, "b2", 22.0), (9, "new", 90.0)], "k long, name string, v double"
    )
    out = {r["k"]: (r["name"], r["v"]) for r in pl.merge_upsert(target, updates, ["k"]).collect()}
    assert out == {
        1: ("a", 10.0),     # untouched
        2: ("b2", 22.0),    # update wins
        3: ("c", 30.0),     # untouched
        9: ("new", 90.0),   # insert
    }


def test_merge_upsert_single_shuffle(spark):
    target = spark.createDataFrame([(1, 1.0)], "k long, v double")
    updates = spark.createDataFrame([(2, 2.0)], "k long, v double")
    plan = (
        pl.merge_upsert(target, updates, ["k"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    # one hashpartitioning exchange on the merge key feeds the window
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_snapshot_diff_classification(spark):
    old = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0), (4, None, 4.0)],
        "k long, name string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 1.0), (2, "B", 2.0), (4, None, 4.0), (5, "e", 5.0)],
        "k long, name string, v double",
    )
    out = {r["k"]: r["change"] for r in pl.snapshot_diff(old, new, ["k"]).collect()}
    # 1 unchanged (absent), 2 changed, 3 removed, 4 unchanged nulls
    # (null-safe compare), 5 added
    assert out == {2: "changed", 3: "removed", 5: "added"}


def test_snapshot_diff_merge_roundtrip(spark):
    """merge_upsert(old, changed+added rows of the diff) == new minus
    removals — the documented inverse property."""
    old = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, v double")
    new = spark.createDataFrame([(1, 11.0), (3, 30.0)], "k long, v double")
    d = pl.snapshot_diff(old, new, ["k"])
    changes = d.filter("change != 'removed'").select("k", "v")
    replayed = pl.merge_upsert(old, changes, ["k"])
    assert {(r["k"], r["v"]) for r in replayed.collect()} == {
        (1, 11.0), (2, 20.0), (3, 30.0)
    }


def test_zorder_layout_tightens_file_envelopes(spark, tmp_path):
    """The pruning claim, measured: writing files in zorder_key order
    must shrink the per-file (dim_a, dim_b) min/max envelope area —
    the stats row-group pruning consults — versus writing in single-key
    order. Each layout: 8 range-partitioned files over the same rows."""
    import glob

    import duckdb
    from pyspark.sql import functions as F

    n = 4096
    df = spark.range(n).select(
        F.col("id"),
        (F.pmod(F.col("id") * 37, F.lit(256))).alias("a"),
        (F.pmod(F.col("id") * 101, F.lit(256))).alias("b"),
    )
    zkeyed = df.withColumn("z", pl.zorder_key(F.col("a"), F.col("b")))

    def envelope_area(path_dir):
        total = 0
        for f in glob.glob(path_dir + "/*.parquet"):
            row = duckdb.sql(
                f"SELECT max(a)-min(a), max(b)-min(b) FROM '{f}'"
            ).fetchone()
            total += (row[0] + 1) * (row[1] + 1)
        return total

    z_dir = str(tmp_path / "bylayout_z")
    a_dir = str(tmp_path / "bylayout_a")
    zkeyed.repartitionByRange(8, "z").write.parquet(z_dir)
    zkeyed.repartitionByRange(8, "id").write.parquet(a_dir)

    z_area, a_area = envelope_area(z_dir), envelope_area(a_dir)
    # id-order files span the full (256 x 256) square each; z-order
    # files cover compact sub-quadrants — expect a large gap
    assert z_area < a_area / 2, (z_area, a_area)


def test_negative_samples_never_self_and_deterministic(spark):
    from tabular_to_parquet_spark.operators.pipeline import negative_samples

    df = spark.createDataFrame([(i,) for i in range(17)], ["vec_id"])
    out1 = sorted(
        (r["vec_id"], r["j"], r["neg_id"])
        for r in negative_samples(df, "vec_id", k=3).collect()
    )
    out2 = sorted(
        (r["vec_id"], r["j"], r["neg_id"])
        for r in negative_samples(df, "vec_id", k=3).collect()
    )
    assert out1 == out2  # same hash draw every run
    assert len(out1) == 17 * 3
    for anchor, _j, neg in out1:
        assert neg != anchor
        assert 0 <= neg < 17


def test_negative_samples_single_row_returns_empty(spark):
    """N == 1: no valid negative exists (every draw would be the
    anchor), so the invariant-preserving answer is zero rows."""
    from tabular_to_parquet_spark.operators.pipeline import negative_samples

    df = spark.createDataFrame([(0,)], ["vec_id"])
    assert negative_samples(df, "vec_id", k=3).count() == 0
