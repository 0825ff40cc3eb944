"""Dedup operator tests (exact, minhash-LSH, simhash, Jaccard, embedding)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tabular_to_parquet_spark.operators import dedup

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_exact_groups_and_dedup(spark, docs):
    groups = dedup.exact_groups(docs)
    n_distinct = groups.count()
    total = groups.agg(F.sum("n_members")).collect()[0][0]
    assert total == 500
    deduped = dedup.dedup_exact(docs)
    assert deduped.count() == n_distinct
    # keeper is the min doc_id of its group
    assert deduped.count() <= 500


def test_exact_dedup_synthetic(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same  TEXT "), (3, "different")],
        "doc_id long, text string",
    )
    # normalization: case + whitespace collapse → 1 and 2 are the same
    out = dedup.dedup_exact(df).collect()
    assert sorted(r.doc_id for r in out) == [1, 3]


def test_minhash_identical_docs_full_agreement(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "alpha beta gamma delta epsilon zeta"),
         (3, "totally unrelated words here now friend")],
        "doc_id long, text string",
    )
    pairs = dedup.minhash_pairs(df, threshold=0.9).collect()
    assert len(pairs) == 1
    assert (pairs[0].id_a, pairs[0].id_b) == (1, 2)
    assert pairs[0].est_jaccard == 1.0


def test_minhash_near_duplicates(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, "completely different content with other words")],
        "doc_id long, text string",
    )
    pairs = {(r.id_a, r.id_b): r.est_jaccard for r in
             dedup.minhash_pairs(df, threshold=0.2).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


#: near-duplicates (1, 2, 5), unrelated text (3, 6) and two short
#: documents (4, 7) whose shingle sets are empty
_CROSS_ENGINE_DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
    (3, "completely different words appear in this sentence about cooking pasta"),
    (4, "short text"),
    (5, "a quick brown fox jumps over the lazy dog near the river bank today"),
    (6, "stock prices fell sharply after the central bank raised interest rates"),
    (7, "x"),
]
_SHORT_DOCS = {4, 7}


def test_minhash_spark_matches_duckdb_oracle(spark):
    # the MinHash family is defined once per engine (dedup.py and the
    # parity/extensions.py SQL generators); both must agree on every
    # signature component, band key and scored pair
    import duckdb

    from tabular_to_parquet_spark.parity.catalog import CATALOG
    from tabular_to_parquet_spark.parity.extensions import (
        _mh_banded_cte,
        _mh_sigs_cte,
    )

    df = spark.createDataFrame(_CROSS_ENGINE_DOCS, "doc_id long, text string")
    con = duckdb.connect()
    con.sql("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", _CROSS_ENGINE_DOCS)

    comps = ", ".join(f"mh_{j}" for j in range(dedup.MINHASH_K))
    oracle_banded = con.sql(
        f"WITH {_mh_sigs_cte('documents')}, {_mh_banded_cte()} "
        f"SELECT doc_id, {comps}, band, band_key FROM banded ORDER BY ALL"
    ).fetchall()
    spark_banded = sorted(tuple(r) for r in dedup.minhash_banded(df).collect())
    n_shingled = len(_CROSS_ENGINE_DOCS) - len(_SHORT_DOCS)
    assert len(spark_banded) == n_shingled * dedup.MINHASH_BANDS
    assert spark_banded == oracle_banded
    # the empty shingle set keeps its NULL signature row (d03) but gets
    # no band rows, so two short docs never pair on agreeing NULLs
    sigs = {r.doc_id: r.sig for r in dedup.minhash_frame(df).collect()}
    assert all(v is None for d in _SHORT_DOCS for v in sigs[d])

    oracle_pairs = con.sql(
        f"{CATALOG['d04_minhash_pairs'].oracle} ORDER BY ALL"
    ).fetchall()
    spark_pairs = sorted(tuple(r) for r in dedup.minhash_pairs(df).collect())
    assert spark_pairs == oracle_pairs
    assert (1, 2) in {(a, b) for a, b, _ in spark_pairs}
    for pairs in (spark_pairs, oracle_pairs):
        assert not _SHORT_DOCS & {d for a, b, _ in pairs for d in (a, b)}


def test_simhash_deterministic_and_near(spark):
    df = spark.createDataFrame(
        [(1, "shared words one two three four five six seven"),
         (2, "shared words one two three four five six seven"),  # identical
         (3, "zz yy xx ww vv uu tt ss rr qq")],
        "doc_id long, text string",
    )
    sims = {r.doc_id: r.simhash for r in dedup.simhash_frame(df).collect()}
    assert all(0 <= v < 2**32 for v in sims.values())
    assert sims[1] == sims[2] and sims[1] != sims[3]
    # identical input → identical hash (run twice)
    sims2 = {r.doc_id: r.simhash for r in dedup.simhash_frame(df).collect()}
    assert sims == sims2
    # banding guarantee: any pair within hamming ≤ 3 IS found
    pairs = dedup.simhash_pairs(df, max_hamming=3).collect()
    found = {(r.id_a, r.id_b): r.hamming for r in pairs}
    assert found.get((1, 2)) == 0
    assert (1, 3) not in found


def test_jaccard_pairs(spark):
    df = spark.createDataFrame(
        [(1, "en", "a b c d e f g h"),
         (2, "en", "a b c d e f g x"),
         (3, "en", "p q r s t u v w"),
         (4, "fr", "a b c d e f g h")],  # other block: never paired with 1
        "doc_id long, lang string, text string",
    )
    pairs = {(r.id_a, r.id_b): r.jaccard for r in
             dedup.jaccard_pairs(df, threshold=0.1).collect()}
    assert (1, 2) in pairs and 0.4 < pairs[(1, 2)] < 1.0
    assert (1, 4) not in pairs
    assert (1, 3) not in pairs


def test_embedding_dup_pairs(spark, embeddings):
    pairs = dedup.embedding_dup_pairs(embeddings, threshold=0.99).collect()
    for r in pairs:
        assert r.id_a < r.id_b
        assert r.cosine >= 0.99
    # sanity: a vector duplicated exactly must appear at cosine ~1
    two = embeddings.limit(1).collect()[0]
    df = embeddings.sparkSession.createDataFrame(
        [(9001, two.embedding, two.label), (9002, two.embedding, two.label)],
        embeddings.schema,
    )
    got = dedup.embedding_dup_pairs(df, threshold=0.999).collect()
    assert len(got) == 1 and abs(got[0].cosine - 1.0) < 1e-12


def _persisted_ids(spark):
    """Persistent RDD id set — compared as SETS OF IDS, not counts:
    checkpointed RDDs leaked by earlier tests get unpersisted
    asynchronously by the ContextCleaner, so a raw count can drift
    mid-test; new-id tracking pins exactly the claim under test."""
    jsc = spark.sparkContext._jsc
    return {int(i) for i in jsc.getPersistentRDDs().keySet().toArray()}


def test_pair_queries_leave_no_persisted_blocks(spark, docs):
    """VERDICT r2 #4: the one-shot pair queries must not pin storage."""
    docs.count()  # the module's cached fixture is not a new block
    base = _persisted_ids(spark)
    dedup.minhash_pairs(docs).count()
    dedup.simhash_pairs(docs).count()
    assert _persisted_ids(spark) - base == set()


# ---------------------------------------------------------------------------
# semantic dedup (SemDeDup)


def _unit(i: int, dim: int = 64) -> list[float]:
    v = [0.0] * dim
    v[i % dim] = 1.0
    return v


def test_semantic_dup_pairs_finds_planted_dup(spark):
    # vectors 1 and 2 are identical (cosine 1.0) — must land in the
    # same cell and be reported; vector 3 is orthogonal to both
    emb = spark.createDataFrame(
        [(1, _unit(0)), (2, _unit(0)), (3, _unit(17))],
        "vec_id long, embedding array<float>",
    )
    pairs = dedup.semantic_dup_pairs(emb, threshold=0.99).collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [(1, 2)]
    assert abs(pairs[0]["cosine"] - 1.0) < 1e-12


def test_semantic_pairs_join_is_cell_blocked(spark):
    emb = spark.createDataFrame(
        [(i, _unit(i)) for i in range(8)],
        "vec_id long, embedding array<float>",
    )
    plan = (
        dedup.semantic_dup_pairs(emb, threshold=0.5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # blocked by the cell equi-key — never a cartesian/BNL product
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan, plan


# ---------------------------------------------------------------------------
# dup cluster assignment (min-label propagation)


def test_dup_clusters_bounded_and_fixpoint(spark):
    # components: {1,2,3} (star via 1), chain {10-11-12-13}, singleton 99
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (10, 11), (11, 12), (12, 13)],
        "id_a long, id_b long",
    )
    ids = spark.createDataFrame([(i,) for i in (1, 2, 3, 10, 11, 12, 13, 99)],
                                "doc_id long")
    two_hop = {r["doc_id"]: r["cluster_id"]
               for r in dedup.dup_clusters(pairs, ids, hops=2).collect()}
    assert two_hop[1] == two_hop[2] == two_hop[3] == 1
    assert two_hop[99] == 99
    # the 4-chain needs 3 hops to pull 13 down to 10; 2 hops reaches 11
    assert two_hop[10] == 10 and two_hop[13] == 11

    fix = {r["doc_id"]: r["cluster_id"]
           for r in dedup.dup_clusters_fixpoint(pairs, ids).collect()}
    assert fix == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 13: 10, 99: 99}


def test_dup_clusters_fixpoint_raises_at_bound(spark):
    # a 30-document chain (i, i+1) needs 30 rounds: label 1 moves one
    # hop per round. At the bound the closure is partial, so it raises.
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 30)], "id_a long, id_b long"
    )
    ids = spark.createDataFrame([(i,) for i in range(1, 31)], "doc_id long")
    with pytest.raises(RuntimeError, match="max_iters=20"):
        dedup.dup_clusters_fixpoint(pairs, ids, max_iters=20)
    fix = {r["doc_id"]: r["cluster_id"]
           for r in dedup.dup_clusters_fixpoint(pairs, ids, max_iters=40).collect()}
    assert fix == {i: 1 for i in range(1, 31)}


# ---------------------------------------------------------------------------
# sorted-neighborhood: scale twin == global-window form


def test_sorted_neighborhood_scale_twin_matches_window_form(spark):
    """The equi-join scale path must reproduce the d14 catalog query
    (lead() over a global ORDER BY window) exactly, including pairs
    that cross coarse-block boundaries."""
    from tabular_to_parquet_spark.parity import extensions as _ext  # noqa: F401  (registers d14)
    from tabular_to_parquet_spark.parity.catalog import CATALOG
    from tabular_to_parquet_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    scale = {tuple(r) for r in dedup.sorted_neighborhood_pairs(docs).collect()}
    window = {
        tuple(r)
        for r in CATALOG["d14_sorted_neighborhood_pairs"].spark(spark, sf).collect()
    }
    assert scale == window and scale
    # force boundary crossings: 1-char blocks make nearly every
    # neighbor pair span a block edge — results must still match
    fine = {
        tuple(r)
        for r in dedup.sorted_neighborhood_pairs(docs, block_chars=1).collect()
    }
    assert fine == window


def test_sorted_neighborhood_scale_twin_has_no_data_single_partition(spark):
    """Every Exchange SinglePartition in the plan must sit over the
    per-block COUNT aggregate (one row per distinct block — bounded),
    never over the document rows: that's the difference between this
    path and the global-window form (measured 27.5x at 10x data)."""
    from tabular_to_parquet_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    plan = (
        dedup.sorted_neighborhood_pairs(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    lines = plan.splitlines()
    hits = [i for i, l in enumerate(lines) if "Exchange SinglePartition" in l]
    assert hits, "expected the bounded block-offset exchange"
    for i in hits:
        assert "HashAggregate" in lines[i + 1], lines[i : i + 2]
