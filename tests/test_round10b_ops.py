"""Hand-computed semantics for the round-10 continuation wave:
pareto_frontier_2d (skyline identity + tie classes), vocab_growth
(Heaps checkpoints), chi2_contingency (margins + deviation identity),
null_pattern_audit (joint flags)."""

from __future__ import annotations

import pyspark.sql.functions as F

from tabular_to_parquet_spark.operators.ordering import pareto_frontier_2d
from tabular_to_parquet_spark.operators.profiling import (
    chi2_contingency,
    null_pattern_audit,
)
from tabular_to_parquet_spark.operators.text_analysis import vocab_growth


# ---------------------------------------------------------------------------
# pareto_frontier_2d


def _skyline_rows(spark, rows, buckets=3):
    df = spark.createDataFrame(rows, "id long, x long, y long")
    out = pareto_frontier_2d(df, "x", "y", bucket=F.pmod(F.col("id"), F.lit(buckets)))
    return sorted((r["id"], r["x"], r["y"]) for r in out.collect())


def test_skyline_basic(spark):
    # minimize x, maximize y; (3,1) is dominated by (2,5) and (1,3)
    rows = [(1, 1, 3), (2, 2, 5), (3, 3, 1), (4, 2, 5)]
    # (2,5): x=2 > 1 but y=5 > 3 -> both (1,3) and (2,5) survive;
    # duplicates of the same point both survive.
    assert _skyline_rows(spark, rows) == [(1, 1, 3), (2, 2, 5), (4, 2, 5)]


def test_skyline_equal_x_keeps_only_max_y(spark):
    rows = [(1, 5, 10), (2, 5, 7), (3, 5, 10)]
    assert _skyline_rows(spark, rows) == [(1, 5, 10), (3, 5, 10)]


def test_skyline_equal_y_keeps_only_min_x(spark):
    # same y at larger x is dominated (x strictly worse, y not better)
    rows = [(1, 2, 9), (2, 4, 9), (3, 6, 9)]
    assert _skyline_rows(spark, rows) == [(1, 2, 9)]


def test_skyline_fractional_x_strictness(spark):
    """r10 ADVICE (medium): with a RANGE frame over x itself, a bound
    of -1 skips dominators with x' in (x-1, x); the dense_rank frame
    must catch them for double x."""
    rows = [(1, 1.5, 10.0), (2, 2.0, 5.0), (3, 2.4, 9.0), (4, 0.9, 1.0)]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    out = pareto_frontier_2d(df, "x", "y", bucket=F.lit(0))
    # (2.0,5) and (2.4,9) are dominated by (1.5,10) at distance < 1;
    # (0.9,1) survives (smallest x), (1.5,10) survives (largest y).
    assert sorted((r["id"] for r in out.collect())) == [1, 4]


def test_skyline_fractional_x_across_buckets(spark):
    """Same strictness property through the local-then-global pass."""
    import random

    rng = random.Random(7)
    rows = [(i, rng.random() * 4.0, float(rng.randrange(100))) for i in range(80)]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    out = pareto_frontier_2d(df, "x", "y", bucket=F.pmod(F.col("id"), F.lit(5)))

    def dominated(a, b):
        return b[1] <= a[1] and b[2] >= a[2] and (b[1] < a[1] or b[2] > a[2])

    brute = sorted(
        r[0] for r in rows if not any(dominated(r, o) for o in rows if o is not r)
    )
    assert sorted(r["id"] for r in out.collect()) == brute


def test_skyline_matches_bruteforce_any_bucketing(spark):
    rows = [
        (i, (i * 7) % 13, (i * 11) % 17) for i in range(60)
    ]

    def dominated(a, b):  # b dominates a
        return (
            b[1] <= a[1]
            and b[2] >= a[2]
            and (b[1] < a[1] or b[2] > a[2])
        )

    brute = sorted(
        r for r in rows if not any(dominated(r, o) for o in rows if o is not r)
    )
    for nb in (1, 2, 7):
        assert _skyline_rows(spark, rows, buckets=nb) == brute


# ---------------------------------------------------------------------------
# vocab_growth


def test_vocab_growth_hand_case(spark):
    docs = spark.createDataFrame(
        [
            (0, "a b a"),
            (1, "b c"),
            (2, "c d d"),
            (3, "a"),
        ],
        "doc_id long, text string",
    )
    out = {r["bucket"]: r.asDict() for r in vocab_growth(docs, buckets=2).collect()}
    # max_id+1 = 4; bucket = ceil(2*(id+1)/4): ids 0,1 -> 1; ids 2,3 -> 2
    assert set(out) == {1, 2}
    assert out[1]["n_docs"] == 2 and out[2]["n_docs"] == 2
    # bucket 1 introduces a,b,c (c first at doc 1); bucket 2 only d
    assert out[1]["new_types"] == 3 and out[2]["new_types"] == 1
    assert out[1]["cum_tokens"] == 5 and out[2]["cum_tokens"] == 9
    assert out[1]["vocab_cum"] == 3 and out[2]["vocab_cum"] == 4


def test_vocab_growth_empty_docs_count_but_add_nothing(spark):
    docs = spark.createDataFrame(
        [(0, "x y"), (1, "   "), (2, "y z")], "doc_id long, text string"
    )
    out = {r["bucket"]: r.asDict() for r in vocab_growth(docs, buckets=3).collect()}
    assert out[1]["n_docs"] == 1 and out[2]["n_docs"] == 1
    assert out[2]["new_types"] == 0 and out[2]["cum_tokens"] == 2
    assert out[3]["vocab_cum"] == 3


# ---------------------------------------------------------------------------
# chi2_contingency


def test_chi2_margins_and_deviation(spark):
    rows = (
        [("en", "web")] * 3
        + [("en", "book")] * 1
        + [("fr", "web")] * 2
        + [("fr", "book")] * 4
    )
    df = spark.createDataFrame(rows, "lang string, source string")
    out = {
        (r["lang"], r["source"]): r.asDict()
        for r in chi2_contingency(df, "lang", "source").collect()
    }
    c = out[("en", "web")]
    assert c["observed"] == 3 and c["row_total"] == 4
    assert c["col_total"] == 5 and c["grand_total"] == 10
    # dev = n*O - R*C = 30 - 20 = 10
    assert c["dev_no_minus_rc"] == "10"
    assert out[("fr", "web")]["dev_no_minus_rc"] == "-10"
    # deviations over a row (or column) sum to zero
    assert sum(int(v["dev_no_minus_rc"]) for v in out.values()) == 0


# ---------------------------------------------------------------------------
# null_pattern_audit


def test_null_pattern_audit_joint_flags(spark):
    df = spark.createDataFrame(
        [
            (1, 10, None),
            (2, None, None),
            (3, 30, 3.5),
            (4, None, None),
        ],
        "k long, a long, b double",
    )
    out = {
        (r["a_null"], r["b_null"]): (r["n_rows"], r["example_key"])
        for r in null_pattern_audit(
            df, probes={"a_null": "a", "b_null": "b"}, example_col="k"
        ).collect()
    }
    assert out == {(0, 1): (1, 1), (1, 1): (2, 2), (0, 0): (1, 3)}


# ---------------------------------------------------------------------------
# product_quantize


def test_pq_exact_codeword_has_zero_error(spark):
    from tabular_to_parquet_spark.operators.similarity import (
        PQ_CODES,
        pq_codebooks,
        product_quantize,
    )

    books = pq_codebooks()
    vec = [v for book in books for v in book[2]]  # codeword 2 everywhere
    emb = spark.createDataFrame(
        [(1, vec)], "vec_id long, embedding array<double>"
    )
    row = product_quantize(emb).head()
    assert [row[f"code_s{s}"] for s in range(4)] == [2, 2, 2, 2]
    assert row["err_sq_fixed"] == 0
    assert row["pq_code"] == ((2 * PQ_CODES + 2) * PQ_CODES + 2) * PQ_CODES + 2


def test_pq_tie_breaks_to_lowest_code(spark):
    # a vector equidistant from two codewords must take the lower code:
    # use the midpoint of codewords 0 and 1 in every subspace. Fixed-
    # point floor makes exact midpoints unlikely to tie by accident, so
    # assert the invariant structurally: distance(code) == min distance
    # implies code <= any other argmin candidate — verified by scanning
    # the corpus output for agreement with a NumPy recomputation.
    import numpy as np

    from tabular_to_parquet_spark.operators.similarity import (
        pq_codebooks_fixed,
        product_quantize,
    )

    rng = [(i, [((i * 37 + d * 11) % 200 - 100) / 100.0 for d in range(64)])
           for i in range(40)]
    emb = spark.createDataFrame(rng, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r for r in product_quantize(emb).collect()}
    books = pq_codebooks_fixed()
    for vid, vec in rng:
        f = np.floor(np.array(vec) * 1048576.0).astype(np.int64)
        total = 0
        for s, book in enumerate(books):
            sl = f[s * 16:(s + 1) * 16]
            dists = [int(((sl - np.array(cw)) ** 2).sum()) for cw in book]
            best = min(dists)
            code = dists.index(best)  # first occurrence = lowest code
            assert out[vid][f"code_s{s}"] == code
            total += best
        assert out[vid]["err_sq_fixed"] == total


# ---------------------------------------------------------------------------
# hll_registers


def test_hll_duplicates_cannot_move_registers(spark):
    from tabular_to_parquet_spark.operators.sketches import hll_registers

    base = spark.createDataFrame(
        [(i,) for i in range(200)], "user_id long"
    )
    dup = base.union(base).union(base.limit(50))
    a = {r["bucket"]: r["register"] for r in hll_registers(base, "user_id").collect()}
    b = {r["bucket"]: r["register"] for r in hll_registers(dup, "user_id").collect()}
    assert a == b


def test_hll_max_merge_equals_batch_and_is_replay_proof(spark):
    import pyspark.sql.functions as F

    from tabular_to_parquet_spark.operators.sketches import hll_registers

    df = spark.createDataFrame([(i * 31 % 997,) for i in range(600)], "user_id long")
    parts = [
        df.filter(F.pmod(F.col("user_id"), F.lit(3)) == k) for k in range(3)
    ]
    # union of per-part partials + a REPLAYED part (at-least-once), max-merged
    partials = hll_registers(parts[0], "user_id")
    for p in parts[1:] + [parts[1]]:
        partials = partials.union(hll_registers(p, "user_id"))
    merged = {
        r["bucket"]: r["register"]
        for r in partials.groupBy("bucket")
        .agg(F.max("register").alias("register"))
        .collect()
    }
    batch = {
        r["bucket"]: r["register"] for r in hll_registers(df, "user_id").collect()
    }
    assert merged == batch


def test_hll_register_range_and_estimate_sanity(spark):
    import math

    from tabular_to_parquet_spark.operators.sketches import (
        HLL_BUCKETS,
        hll_registers,
    )

    n = 5000
    df = spark.createDataFrame([(i,) for i in range(n)], "user_id long")
    regs = {r["bucket"]: r["register"] for r in hll_registers(df, "user_id").collect()}
    assert all(1 <= v <= 49 for v in regs.values())
    assert len(regs) == HLL_BUCKETS  # 5000 keys: every bucket hit
    # standard HLL estimator within the 1.04/sqrt(m)*5 band (~65%)
    m = HLL_BUCKETS
    est = 0.709 * m * m / sum(2.0 ** -regs.get(b, 0) for b in range(m))
    assert abs(est - n) / n < 5 * 1.04 / math.sqrt(m)


# ---------------------------------------------------------------------------
# mmr_select


def _mmr_brute(vecs: dict[int, list[float]], qf: list[int], k: int):
    import math

    fx = {
        i: [math.floor(x * 1048576.0) for x in v] for i, v in vecs.items()
    }
    rel = {i: sum(a * b for a, b in zip(f, qf)) for i, f in fx.items()}
    picked, out = [], []
    for r in range(1, k + 1):
        best = None
        for i in sorted(fx):
            if i in picked:
                continue
            ms = max(
                (sum(a * b for a, b in zip(fx[i], fx[j])) for j in picked),
                default=0,
            )
            cand = (rel[i] - ms, i, ms)
            if best is None or cand[0] > best[0] or (
                cand[0] == best[0] and cand[1] < best[1]
            ):
                best = cand
        picked.append(best[1])
        out.append((r, best[1], rel[best[1]], best[2], best[0]))
    return out


def test_mmr_skips_planted_duplicate(spark):
    import math

    from tabular_to_parquet_spark.operators.similarity import mmr_select

    pad = [0.0] * 62
    vecs = {
        1: [0.9, 0.1] + pad,   # top relevance
        2: [0.9, 0.1] + pad,   # exact duplicate of 1
        3: [0.5, -0.5] + pad,  # less relevant but diverse
    }
    q = [1.0, 0.0] + pad
    qf = [math.floor(x * 1048576.0) for x in q]
    emb = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, embedding array<double>"
    )
    rows = mmr_select(emb, qf, k=2)
    assert rows[0]["vec_id"] == 1  # ties to lowest id between 1 and 2
    assert rows[1]["vec_id"] == 3  # the duplicate loses to the diverse doc
    assert rows == [
        {
            "rank": r,
            "vec_id": v,
            "rel_fixed": rel,
            "max_sim_fixed": ms,
            "score_fixed": sc,
        }
        for r, v, rel, ms, sc in _mmr_brute(vecs, qf, 2)
    ]


def test_mmr_matches_bruteforce(spark):
    import math

    from tabular_to_parquet_spark.operators.similarity import mmr_select

    vecs = {
        i: [((i * 13 + d * 7) % 41 - 20) / 20.0 for d in range(64)]
        for i in range(1, 30)
    }
    q = [((d * 3) % 17 - 8) / 8.0 for d in range(64)]
    qf = [math.floor(x * 1048576.0) for x in q]
    emb = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, embedding array<double>"
    )
    got = [
        (r["rank"], r["vec_id"], r["rel_fixed"], r["max_sim_fixed"], r["score_fixed"])
        for r in mmr_select(emb, qf, k=5)
    ]
    assert got == _mmr_brute(vecs, qf, 5)


# ---------------------------------------------------------------------------
# stream_pareto (the merge algebra, without the streaming harness)


def test_skyline_of_skylines_identity(spark):
    import pyspark.sql.functions as F

    rows = [(i, (i * 7) % 23, (i * 5) % 19) for i in range(80)]
    df = spark.createDataFrame(rows, "id long, x long, y long")
    whole = sorted(
        (r["id"], r["x"], r["y"])
        for r in pareto_frontier_2d(
            df, "x", "y", bucket=F.pmod(F.col("id"), F.lit(4))
        ).collect()
    )
    # micro-batch simulation: per-wave local skylines (one wave REPLAYED
    # — the at-least-once case), then the skyline of the union
    waves = [
        df.filter(F.pmod(F.col("id"), F.lit(3)) == k) for k in range(3)
    ]
    partials = None
    for w in waves + [waves[2]]:
        local = pareto_frontier_2d(w, "x", "y", bucket=F.pmod(F.col("id"), F.lit(4)))
        partials = local if partials is None else partials.union(local)
    merged = sorted(
        set(
            (r["id"], r["x"], r["y"])
            for r in pareto_frontier_2d(
                partials, "x", "y", bucket=F.pmod(F.col("id"), F.lit(4))
            ).collect()
        )
    )
    assert merged == whole


def test_hll_harmonic_numerator_identity(spark):
    # S = sum over 64 buckets of 2^(49-r); empty buckets contribute
    # 2^49. Verified against a python recomputation, and the float
    # estimate derived from S lands in the expected band.
    from tabular_to_parquet_spark.operators.sketches import (
        HLL_BUCKETS,
        hll_registers,
    )

    n = 3000
    df = spark.createDataFrame([(i,) for i in range(n)], "user_id long")
    regs = {r["bucket"]: r["register"] for r in hll_registers(df, "user_id").collect()}
    s = sum(1 << (49 - regs.get(b, 0)) for b in range(HLL_BUCKETS))
    est = 0.709 * HLL_BUCKETS * HLL_BUCKETS * (1 << 49) / s
    assert abs(est - n) / n < 0.65


# ---------------------------------------------------------------------------
# bpe_learn_merges


def test_bpe_learn_hand_case(spark):
    from tabular_to_parquet_spark.operators.text_analysis import (
        bpe_learn_merges,
    )

    docs = spark.createDataFrame(
        [
            (0, "the cat sat"),
            (1, "the cat ran"),
            (2, "the cat sat down"),
            (3, "a dog sat"),
        ],
        "doc_id long, text string",
    )
    rows = {r["round"]: (r["pair"], r["n"]) for r in bpe_learn_merges(docs).collect()}
    # round 1: 'the cat' x3 wins; round 2: after fusing, 'the@@cat sat' x2
    assert rows[1] == ("the cat", 3)
    assert rows[2] == ("the@@cat sat", 2)
    # round 3: all remaining pairs are singletons -> lexicographically
    # smallest singleton pair wins (deterministic tie)
    assert rows[3][1] == 1
    assert rows[3][0] == "a dog"


def test_bpe_learn_no_cross_token_fusion(spark):
    """r10 ADVICE: substring rewrite fused pair 'a b' inside 'xa b'
    (token 'xa' ends with 'a') producing 'xa@@b'. Whole-token rewrite
    must leave 'xa b' intact so round-2 counts stay token-faithful."""
    from tabular_to_parquet_spark.operators.text_analysis import (
        bpe_learn_merges,
    )

    docs = spark.createDataFrame(
        [(0, "a b"), (1, "a b"), (2, "xa b")], "doc_id long, text string"
    )
    rows = {r["round"]: (r["pair"], r["n"]) for r in bpe_learn_merges(docs, rounds=2).collect()}
    assert rows[1] == ("a b", 2)
    # under the old substring rewrite doc 2 became the single token
    # 'xa@@b' and round 2 had no pairs at all
    assert rows[2] == ("xa b", 1)


def test_bpe_learn_adjacent_occurrences_both_merge(spark):
    """Greedy left-to-right BPE merges consecutive non-overlapping
    occurrences: 'a b a b' -> 'a@@b a@@b' (the padded rewrite must not
    let one match consume the next one's separator)."""
    from tabular_to_parquet_spark.operators.text_analysis import (
        bpe_learn_merges,
    )

    docs = spark.createDataFrame(
        [(0, "a b a b"), (1, "a b")], "doc_id long, text string"
    )
    rows = {r["round"]: (r["pair"], r["n"]) for r in bpe_learn_merges(docs, rounds=2).collect()}
    assert rows[1] == ("a b", 3)
    # after fusing all three occurrences, the only remaining pair is
    # the fused bigram inside doc 0
    assert rows[2] == ("a@@b a@@b", 1)


def test_bpe_learn_overlap_is_left_to_right(spark):
    """'a a a' with pair 'a a': only the first occurrence merges."""
    from tabular_to_parquet_spark.operators.text_analysis import (
        bpe_learn_merges,
    )

    docs = spark.createDataFrame(
        [(0, "a a a"), (1, "a a")], "doc_id long, text string"
    )
    rows = {r["round"]: (r["pair"], r["n"]) for r in bpe_learn_merges(docs, rounds=2).collect()}
    assert rows[1] == ("a a", 3)
    assert rows[2] == ("a@@a a", 1)


def test_bpe_learn_tie_goes_to_smallest_pair(spark):
    from tabular_to_parquet_spark.operators.text_analysis import (
        bpe_learn_merges,
    )

    docs = spark.createDataFrame(
        [(0, "b c"), (1, "a b")], "doc_id long, text string"
    )
    rows = bpe_learn_merges(docs, rounds=1).collect()
    assert (rows[0]["pair"], rows[0]["n"]) == ("a b", 1)


# ---------------------------------------------------------------------------
# knn_ivf_pq (ADC)


def test_ivf_pq_adc_distances_match_recompute(spark):
    import math

    from tabular_to_parquet_spark.operators.similarity import (
        knn_ivf_pq,
        pq_codebooks_fixed,
        product_quantize,
    )

    vecs = {
        i: [((i * 17 + d * 5) % 37 - 18) / 18.0 for d in range(64)]
        for i in range(60)
    }
    emb = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, embedding array<double>"
    )
    queries = emb.filter("vec_id % 10 = 0")
    out = knn_ivf_pq(emb, queries, k=3).collect()
    assert out, "probing must surface candidates"
    codes = {
        r["vec_id"]: [r[f"code_s{s}"] for s in range(4)]
        for r in product_quantize(emb).collect()
    }
    books = pq_codebooks_fixed()
    for r in out:
        q = vecs[r["query_id"]]
        qf = [math.floor(x * 1048576.0) for x in q]
        want = 0
        for s in range(4):
            cw = books[s][codes[r["neighbor_id"]][s]]
            want += sum(
                (qf[s * 16 + i] - cw[i]) ** 2 for i in range(16)
            )
        assert r["adc_dist_fixed"] == want
        assert r["neighbor_id"] != r["query_id"]
    # ranks are dense 1..k per query
    from collections import defaultdict

    per_q = defaultdict(list)
    for r in out:
        per_q[r["query_id"]].append(r["rank"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_q.values())


def test_ivf_pq_fast_twin_equals_expression_form(spark):
    """knn_ivf_pq equals tools/pq_fuzz.py's independent ADC top-k
    (per-query LUT, probe cells by the sequential double fold,
    row_number ties to the lowest neighbor id) on a corpus with many
    repeated coordinates, so codes and distances tie."""
    from tabular_to_parquet_spark.operators.similarity import (
        IVF_PROBES,
        ivf_anchors,
        knn_ivf_pq,
        pq_codebooks_fixed,
    )
    from tools.pq_fuzz import ref_adc_topk, ref_cell, ref_codes

    vecs = {
        i: [((i * 23 + d * 3) % 29 - 14) / 14.0 for d in range(64)]
        for i in range(80)
    }
    emb = spark.createDataFrame(
        list(vecs.items()), "vec_id long, embedding array<double>"
    )
    q = emb.filter("vec_id % 8 = 0")
    got = {
        (r["query_id"], r["neighbor_id"], r["adc_dist_fixed"], r["rank"])
        for r in knn_ivf_pq(emb, q, k=4).collect()
    }
    anchors, books = ivf_anchors(), pq_codebooks_fixed()
    corpus = [
        (i, ref_cell(v, anchors), ref_codes(v, books, 16))
        for i, v in vecs.items()
    ]
    want = set()
    for qid in range(0, 80, 8):
        want.update(
            ref_adc_topk(corpus, (qid, vecs[qid]), anchors, books, 16,
                         IVF_PROBES, 4)
        )
    assert got == want and got


def test_pq_cell_codes_scores_cells_by_the_sequential_fold(spark):
    """Each vector ties between cells 0 and 1 under the sequential
    left-to-right double fold the DuckDB oracle uses (cell 0's score is
    that fold's exact result for cell 1), so the lowest cell, 0, must
    win. A pairwise or BLAS-ordered sum rounds cell 1's score apart."""
    import numpy as np

    from tabular_to_parquet_spark.operators.similarity import pq_cell_codes
    from tools.pq_fuzz import ref_cell, ref_scores

    for seed in (0, 1, 6, 8):
        rng = np.random.default_rng(seed)
        v = rng.uniform(-1, 1, 64).astype(np.float32).tolist()
        v[0] = 1.0
        a1 = rng.uniform(-1, 1, 64).tolist()
        a1[0] = 0.0
        anchors = [[ref_scores(v, [a1])[0]] + [0.0] * 63, a1]
        assert ref_cell(v, anchors) == 0
        emb = spark.createDataFrame(
            [(1, v)], "vec_id long, embedding array<float>"
        )
        assert pq_cell_codes(emb, anchors).head()["_cell"] == 0


# ---------------------------------------------------------------------------
# pq_dedup_cascade


def test_pq_cascade_keeps_planted_near_duplicates(spark):
    from tabular_to_parquet_spark.operators.similarity import (
        pq_dedup_cascade,
    )

    base = [((d * 7 + 19) % 31 - 15) / 15.0 for d in range(64)]
    near = list(base)
    near[0] += 1e-4  # tiny perturbation: same cell, same codes
    far = [((d * 11 + 5) % 27 - 13) / 13.0 for d in range(64)]
    emb = spark.createDataFrame(
        [(1, base), (2, near), (3, far)],
        "vec_id long, embedding array<double>",
    )
    out = pq_dedup_cascade(emb, sdc_bound=10**13, exact_bound=10**12).collect()
    got = {(r["id_a"], r["id_b"]) for r in out}
    assert (1, 2) in got
    row = next(r for r in out if (r["id_a"], r["id_b"]) == (1, 2))
    # identical codes => SDC distance 0; exact distance tiny but > 0
    assert row["sdc_dist_fixed"] == 0
    assert 0 < row["exact_dist_fixed"] <= 10**9


def test_pq_cascade_sdc_matches_code_tables(spark):
    from tabular_to_parquet_spark.operators.similarity import (
        pq_dedup_cascade,
        pq_sdc_tables,
        product_quantize,
    )

    vecs = [
        (i, [((i * 13 + d * 11) % 23 - 11) / 11.0 for d in range(64)])
        for i in range(30)
    ]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    out = pq_dedup_cascade(emb, sdc_bound=10**14, exact_bound=10**14).collect()
    assert out
    codes = {
        r["vec_id"]: [r[f"code_s{s}"] for s in range(4)]
        for r in product_quantize(emb).collect()
    }
    tables = pq_sdc_tables()
    for r in out:
        want = sum(
            tables[s][codes[r["id_a"]][s]][codes[r["id_b"]][s]]
            for s in range(4)
        )
        assert r["sdc_dist_fixed"] == want
