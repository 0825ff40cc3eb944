"""Round-12 ADVICE fixes: gd_linear_regressor pre-flight guards
(empty input, 2^53 gradient-bound breach) and the literal-n weight
state, pinned against the integer-numpy twin from test_round11_ops.
"""

from __future__ import annotations

import numpy as np
import pytest

from tabular_to_parquet_spark.operators.pipeline import gd_linear_regressor

from tests.test_round11_ops import _np_gd, _spark_gd


def test_gd_empty_input_raises(spark):
    df = spark.createDataFrame([], "x0 long, x1 long, y long")
    with pytest.raises(ValueError, match="empty input"):
        gd_linear_regressor(df, ["x0", "x1"], rounds=2)


def test_gd_overflow_envelope_raises(spark):
    # n * max|x| * (max|y| << 10) >= 2^53/4: one row is enough when
    # the magnitudes are extreme — the guard must fire BEFORE any
    # round runs (Spark would wrap the int64 gradient sum silently).
    big = 1 << 30
    df = spark.createDataFrame([(1, big, big)], "x0 long, x1 long, y long")
    with pytest.raises(ValueError, match="2\\^53"):
        gd_linear_regressor(df, ["x0", "x1"], rounds=1)


def test_gd_single_feature_guard_path(spark):
    # len(feature_cols) == 1 exercises the no-greatest() agg branch
    X = np.array([[3], [5], [9]], dtype=np.int64)
    y = np.array([7, 11, 23], dtype=np.int64)
    assert _spark_gd(spark, X, y, 2) == _np_gd(X, y, 2)


def test_gd_values_unchanged_after_literal_n(spark):
    # the r12 rewrite (driver-side n literal instead of in-plan count
    # aggregate) must be value-invisible: re-pin the r11 twin seed
    rng = np.random.default_rng(7)
    X = np.column_stack(
        [
            np.ones(40, dtype=np.int64),
            rng.integers(50, 600, 40),
            rng.integers(0, 2, 40),
            rng.integers(5, 120, 40),
        ]
    ).astype(np.int64)
    y = 3 * X[:, 1] - 2 * X[:, 3] + 17 * X[:, 2] + rng.integers(0, 10, 40)
    assert _spark_gd(spark, X, y, 3) == _np_gd(X, y, 3)


def test_pq_dedup_cascade_fast_twin(spark):
    # pq_dedup_cascade with a non-default, larger anchor set (the
    # suggest_cells scale path) equals tools/pq_fuzz.py's independent
    # cell-blocked SDC -> exact reference, planted clones included
    import random

    import numpy as np

    from tabular_to_parquet_spark.operators.similarity import (
        ivf_anchors,
        pq_codebooks_fixed,
        pq_dedup_cascade,
    )
    from tools.pq_fuzz import (
        ref_cascade,
        ref_cell,
        ref_codes,
        ref_fixed,
        ref_sdc_tables,
    )

    rng = random.Random(12)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(80)
    ]
    # planted near-dups: clone a few vectors with tiny perturbations
    for j in range(5):
        base = rows[j][1]
        rows.append((1000 + j, [x + 1e-4 for x in base]))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    anchors = ivf_anchors(cells=32)
    got = {
        tuple(r)
        for r in pq_dedup_cascade(emb, 10**13, 10**13, anchors=anchors).collect()
    }
    # the reference sees the float32 values the frame stores
    vecs = {i: np.asarray(v, dtype=np.float32).tolist() for i, v in rows}
    books = pq_codebooks_fixed()
    want = ref_cascade(
        [(i, ref_cell(v, anchors), ref_codes(v, books, 16)) for i, v in vecs.items()],
        {i: ref_fixed(v) for i, v in vecs.items()},
        ref_sdc_tables(books),
        10**13,
        10**13,
    )
    assert got == want
    # the planted clones must survive the cascade
    assert {(j, 1000 + j) for j in range(5)} <= {(a, b) for a, b, _, _ in got}


# duplicated_char_fraction (d23): per-doc interval-merge semantics


def _dcf(spark, docs, k=8, max_df=6):
    from tabular_to_parquet_spark.operators.dedup import (
        duplicated_char_fraction,
    )

    df = spark.createDataFrame(docs, "doc_id long, text string")
    return {
        r["doc_id"]: (r["n_chars"], r["dup_chars"], r["dup_permille"])
        for r in duplicated_char_fraction(df, k=k, max_df=max_df).collect()
    }


def test_dcf_single_shared_span(spark):
    S = "ABCDEFGHIJKL"  # 12 distinct chars, k=8
    got = _dcf(spark, [(1, "qrstuv" + S + "wxyz01"), (2, "mn" + S + "op")])
    assert got == {1: (24, 12, 500), 2: (16, 12, 750)}


def test_dcf_overlapping_intervals_merge(spark):
    A = "ABCDEFGHIJKLMNOPQRSTUVWX"  # 24 distinct chars
    docs = [
        (1, A),
        (2, "0z" + A[0:12] + "1y"),   # shares A[1..12]
        (3, "2w" + A[8:20] + "3v"),   # shares A[9..20] -> merge [1,20]
    ]
    got = _dcf(spark, docs)
    assert got[1] == (24, 20, 833)
    assert got[2] == (16, 12, 750)
    assert got[3] == (16, 12, 750)


def test_dcf_identical_docs_full_coverage(spark):
    got = _dcf(spark, [(1, "ABCDEFGHIJ"), (2, "ABCDEFGHIJ")])
    assert got == {1: (10, 10, 1000), 2: (10, 10, 1000)}


def test_dcf_every_doc_emitted(spark):
    got = _dcf(spark, [(1, "ABCDEFGHIJ"), (2, "ABCDEFGHIJ"),
                       (3, "unique!"), (4, "")])
    assert got[3] == (7, 0, 0)   # shorter than k: invisible, still a row
    assert got[4] == (0, 0, 0)   # empty text: permille guard, no div0
    assert len(got) == 4


def test_dcf_agrees_with_span_witnessing(spark):
    # the span operator and the fraction operator must agree on what
    # is duplicated: a df-capped (ubiquitous) window contributes to
    # NEITHER. 7 docs share S with max_df=6 -> no pair, zero dup.
    S = "ABCDEFGHIJKL"
    docs = [(i, f"x{i}y" + S + f"z{i}w") for i in range(7)]
    got = _dcf(spark, docs, max_df=6)
    assert all(v[1] == 0 for v in got.values())


# substring_decontaminate (d24): bipartite exact-span flagging


def _sdc(spark, corpus, eval_docs, k=8, max_df=6):
    from tabular_to_parquet_spark.operators.dedup import (
        substring_decontaminate,
    )

    c = spark.createDataFrame(corpus, "doc_id long, text string")
    e = spark.createDataFrame(eval_docs, "doc_id long, text string")
    return {
        r["doc_id"]: (r["max_shared_span"], r["n_eval_docs"], r["n_spans"])
        for r in substring_decontaminate(c, e, k=k, max_df=max_df).collect()
    }


def test_sdc_flags_shared_span(spark):
    S = "ABCDEFGHIJKL"  # 12 chars, k=8
    got = _sdc(spark, [(1, "qq" + S + "rr"), (2, "no overlap here!")],
               [(100, "xx" + S + "yy")])
    assert got == {1: (12, 1, 1)}


def test_sdc_eval_side_never_capped(spark):
    # 6 eval docs share S; corpus df of S is 1 <= max_df=2 — the cap
    # is corpus-side only, so ALL eval hits count
    S = "ABCDEFGHIJKL"
    evals = [(100 + i, f"x{i}" + S + f"y{i}") for i in range(6)]
    got = _sdc(spark, [(1, "qq" + S + "rr")], evals, max_df=2)
    assert got == {1: (12, 6, 6)}


def test_sdc_corpus_df_cap_drops_boilerplate(spark):
    # S appears in 3 corpus docs > max_df=2: the stop-phrase guard
    # drops it even though the eval side shares it
    S = "ABCDEFGHIJKL"
    corpus = [(i, f"a{i}b" + S + f"c{i}d") for i in range(3)]
    got = _sdc(spark, corpus, [(100, "xx" + S + "yy")], max_df=2)
    assert got == {}


def test_sdc_clean_corpus_empty(spark):
    got = _sdc(spark, [(1, "ABCDEFGHIJKL")], [(100, "mnopqrstuvwx")])
    assert got == {}


# chunk_chars: bounded per-row arrays, value-invariant windows


def test_chunked_windows_value_invariant(spark):
    # random-ish corpus incl. planted dups; chunked (tiny chunks) and
    # unchunked paths must emit IDENTICAL rows for all three operators
    import random

    from tabular_to_parquet_spark.operators.dedup import (
        duplicated_char_fraction,
        substring_decontaminate,
        substring_duplicate_spans,
    )

    rng = random.Random(3)
    alpha = "abcd"
    docs = []
    for d in range(8):
        docs.append(
            (d, "".join(rng.choice(alpha) for _ in range(rng.randint(0, 90))))
        )
    # plant a splice so spans exist
    docs[1] = (1, docs[1][1] + docs[0][1][:30] + docs[1][1])
    df = spark.createDataFrame(docs, "doc_id long, text string")
    k = 8
    for fn in (substring_duplicate_spans, duplicated_char_fraction):
        a = sorted(map(tuple, fn(df, k=k, max_df=6).collect()))
        b = sorted(map(tuple, fn(df, k=k, max_df=6, chunk_chars=20).collect()))
        assert a == b, fn.__name__
    corpus = df.filter("doc_id != 0")
    hold = df.filter("doc_id = 0")
    a = sorted(map(tuple, substring_decontaminate(corpus, hold, k=k).collect()))
    b = sorted(map(tuple,
                   substring_decontaminate(corpus, hold, k=k,
                                           chunk_chars=20).collect()))
    assert a == b and len(a) > 0


def test_chunked_windows_rejects_tiny_chunks(spark):
    import pytest as _pytest

    from tabular_to_parquet_spark.operators.dedup import (
        substring_duplicate_spans,
    )

    df = spark.createDataFrame([(1, "ABCDEFGHIJKL")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="chunk_chars"):
        substring_duplicate_spans(df, k=8, chunk_chars=8).collect()
