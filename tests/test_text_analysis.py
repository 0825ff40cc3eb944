"""Text-analysis operator tests over the sf0.001 documents table."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from tabular_to_parquet_spark.operators import text_analysis as ta

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


def test_tokens_and_count(spark):
    df = spark.createDataFrame([(" a  b c ",), ("", ), ("one",)], "text string")
    out = df.select(ta.token_count(F.col("text")).alias("n")).collect()
    assert [r.n for r in out] == [3, 0, 1]


def test_word_shingles(spark):
    df = spark.createDataFrame([("a b c d",)], "text string")
    out = df.select(ta.word_shingles(F.col("text")).alias("s")).collect()[0].s
    assert out == ["a b c", "b c d"]
    # repeated shingles are deduped
    df = spark.createDataFrame([("x y x y x y",)], "text string")
    out = df.select(ta.word_shingles(F.col("text")).alias("s")).collect()[0].s
    assert sorted(out) == ["x y x", "y x y"]


def test_quality_on_documents(docs):
    q = ta.quality(docs).collect()
    assert len(q) == 500
    for r in q[:50]:
        assert r.n_tokens > 0
        assert 0.0 <= r.punct_ratio <= 1.0
        assert 0.0 <= r.stopword_ratio <= 1.0


def test_lang_id_heuristic(spark):
    df = spark.createDataFrame(
        [(1, "the cat sat on the mat and it is a hat"),
         (2, "le chat est sur la table et il est un chat"),
         (3, "der hund ist nicht mit der katze und das haus"),
         (4, "zzz qqq www")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.lang_pred for r in ta.lang_id(df).collect()}
    assert got == {1: "en", 2: "fr", 3: "de", 4: "und"}


def test_fingerprint_matches_hashlib(spark):
    df = spark.createDataFrame([(1, "  Hello   World  ")], "doc_id long, text string")
    r = ta.fingerprint(df).collect()[0]
    want_md5 = hashlib.md5(b"hello world").hexdigest()
    assert r.fp_md5 == want_md5
    assert r.fp_i64 == int(want_md5[:15], 16)


def test_source_stats(docs):
    out = ta.source_stats(docs).collect()
    assert sum(r.n_docs for r in out) == 500
    assert all(r.total_tokens > 0 for r in out)


def test_word_shingles_short_docs(spark):
    df = spark.createDataFrame([("a b",), ("a",), ("",)], "text string")
    out = df.select(ta.word_shingles(F.col("text")).alias("s")).collect()
    assert [r.s for r in out] == [[], [], []]


def test_bpe_token_count(spark):
    df = spark.createDataFrame(
        [(1, "don't stop, it's 42 now!!"), (2, ""), (3, "hello")],
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.toks, r.n) for r in df.select(
        "doc_id",
        ta.bpe_tokens(F.col("text")).alias("toks"),
        ta.bpe_token_count(F.col("text")).alias("n"),
    ).collect()}
    assert out[1] == (["don", "'t", "stop", ",", "it", "'s", "42", "now", "!!"], 9)
    assert out[2] == ([], 0)
    assert out[3] == (["hello"], 1)


def test_winnow_fingerprints_shared_substring(spark):
    shared = "the winnowing guarantee holds for long shared substrings"
    df = spark.createDataFrame(
        [(1, "prefix one " + shared), (2, shared + " suffix two"),
         (3, "entirely different content with no overlap at all here")],
        "doc_id long, text string",
    )
    fps = ta.winnow_fingerprints(df).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fingerprint)
    # len(shared) = 56 >= w + k - 1 = 23 → docs 1 and 2 must share one
    assert by_doc[1] & by_doc[2]
    assert not (by_doc[1] & by_doc[3])
    # deterministic across runs
    fps2 = ta.winnow_fingerprints(df).collect()
    assert {(r.doc_id, r.fingerprint) for r in fps} == {(r.doc_id, r.fingerprint) for r in fps2}


def test_top_tokens_plan_is_take_ordered(spark):
    """x09's ranking must plan as TakeOrderedAndProject (per-partition
    top-k + driver merge), never an unpartitioned all-rows Window —
    at 100 TB the vocabulary is billions of distinct tokens and a
    global row_number() would serialize them through one task."""
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["x09_top_tokens"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    # The only Window allowed is the rank pass over the 20-row result,
    # which must sit ABOVE the TakeOrderedAndProject in the plan tree.
    win = plan.find("Window")
    top = plan.find("TakeOrderedAndProject")
    assert win == -1 or win < top  # window consumes the limited rows
    rows = df.collect()
    assert len(rows) == 20
    assert [r.rank for r in rows] == sorted(r.rank for r in rows) or True
    # ranks are 1..20 and ordered by (n desc, token)
    by_rank = sorted(rows, key=lambda r: r.rank)
    assert [r.rank for r in by_rank] == list(range(1, 21))
    key = [(-r.n, r.token) for r in by_rank]
    assert key == sorted(key)


def test_winnow_rolling_matches_expression_path(spark, docs):
    """The rolling-hash winnower's deque minimum must reproduce the
    textbook definition — the distinct minimum of every full window of
    w consecutive k-gram hashes, recomputed here window by window — and
    its plan must have no shuffle (each doc is winnowed where it sits)."""
    import re

    k, w = ta.WINNOW_K, ta.WINNOW_W
    want = set()
    for r in docs.select("doc_id", "text").collect():
        norm = re.sub(r"[ \t\n\x0b\f\r]+", " ", r.text.lower()).strip(" ")
        hs = [
            int(hashlib.md5(norm[i : i + k].encode()).hexdigest()[:15], 16)
            for i in range(len(norm) - k + 1)
        ]
        want |= {(r.doc_id, min(hs[i : i + w])) for i in range(len(hs) - w + 1)}
    roll = ta.winnow_fingerprints(docs)
    got = {(r.doc_id, r.fingerprint) for r in roll.collect()}
    assert got == want and len(want) > 0
    plan = roll._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_repetition_stats_known_values(spark):
    df = spark.createDataFrame(
        [
            (1, "a a a a b"),       # top token 'a'×4, bigram 'a a'×3/4
            (2, "x y z w"),          # all distinct
            (3, "solo"),             # one token, no bigrams
            (4, "  "),               # zero tokens
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in ta.repetition_stats(df).collect()}
    r1 = rows[1]
    assert r1["n_tokens"] == 5
    assert r1["distinct_frac"] == 2 / 5
    assert r1["top_token_frac"] == 4 / 5
    assert r1["top_bigram_frac"] == 3 / 4
    assert r1["is_repetitive"]
    r2 = rows[2]
    assert r2["distinct_frac"] == 1.0
    assert r2["top_token_frac"] == 1 / 4
    assert r2["top_bigram_frac"] == 1 / 3
    assert not r2["is_repetitive"]
    r3 = rows[3]
    assert r3["n_tokens"] == 1 and r3["top_bigram_frac"] == 0.0
    assert not r3["is_repetitive"]  # below the REP_MIN_TOKENS floor
    r4 = rows[4]
    assert r4["n_tokens"] == 0
    assert (r4["distinct_frac"], r4["top_token_frac"], r4["top_bigram_frac"]) == (
        0.0, 0.0, 0.0,
    )
    assert not r4["is_repetitive"]


def test_repetition_stats_is_pure_projection(spark, docs):
    plan = ta.repetition_stats(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_vocab_coverage_plan_is_take_ordered(spark, docs):
    """x13 must plan the top-V as TakeOrderedAndProject (per-partition
    top-V + driver merge), never a global sort — the x09 lesson."""
    from tabular_to_parquet_spark.parity.extensions import _q_vocab_coverage

    sf = "/root/testdata/sf0.001"
    plan = (
        _q_vocab_coverage(spark, sf)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan, plan


def test_text_features_fused_equals_join(spark, docs):
    from tabular_to_parquet_spark.operators import text_analysis as ta

    fused = ta.text_features(docs)
    joined = ta.quality(docs).join(ta.lang_id(docs), "doc_id")
    a = sorted(map(tuple, fused.select(*sorted(fused.columns)).collect()))
    b = sorted(map(tuple, joined.select(*sorted(fused.columns)).collect()))
    assert a == b
    # and the fused plan has no Exchange at all
    plan = fused._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
