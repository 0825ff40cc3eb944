"""Differential fuzz for the PQ / IVF-ADC / SDC distance algebra
(r10 verdict item 6, first half).

The PQ arc (s11 product quantization, s13 IVF-ADC, d20 SDC dedup
cascade) is oracle-gated only at the fixture geometry (dim=64,
4 subspaces, 8 codes, 16 md5 anchors).  This fuzzer drives the SAME
production functions through random geometries and corpora and
checks them against an INDEPENDENT pure-Python int/float reference —
cell via the sequential IEEE double fold + lowest-index argmax, codes
via exact int64 fixed-point argmin with the lowest-code tie rule:

1. every seed: `pq_cell_codes` (the mapInArrow corpus coder behind
   s13 and d20);
2. rotating by seed: `product_quantize` codes (s11) and an `ivf_cell`
   projection; or `knn_ivf_pq` against a reference ADC top-k
   (per-query LUT + row_number tie semantics); or `pq_dedup_cascade`
   against a reference cell-blocked SDC->exact sweep with seed-drawn
   bounds.

Corpus regimes stress the corners the fixtures never hit: duplicate
vectors (argmin/argmax ties), exact-codeword vectors (zero distance),
zero vectors, +-8.0 magnitudes (fixed-point int64 headroom), tiny
corpora, subspaces in {1,2,4,8} x sub-dims in {1..16}, codebooks of
2..16 codewords, 2..8 IVF cells, 1..3 probes.

Usage: python tools/pq_fuzz.py [n_seeds] [seed0]
"""

from __future__ import annotations

import math
import os
import random
import sys

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SCALE = 1048576.0  # PQ_SCALE, 2^20


# ---------------------------------------------------------------------------
# pure-Python reference (independent of both production paths)


def ref_fixed(vec):
    return [int(math.floor(float(x) * SCALE)) for x in vec]


def ref_scores(vec, anchors):
    out = []
    for a in anchors:
        s = 0.0
        for x, y in zip(vec, a):
            s = s + float(x) * y
        out.append(s)
    return out


def ref_probe_cells(vec, anchors, probes):
    scores = ref_scores(vec, anchors)
    order = sorted(range(len(anchors)), key=lambda c: (-scores[c], c))
    return order[:probes]


def ref_cell(vec, anchors):
    return ref_probe_cells(vec, anchors, 1)[0]


def ref_codes(vec, books, sub):
    f = ref_fixed(vec)
    codes = []
    for s, book in enumerate(books):
        fs = f[s * sub : (s + 1) * sub]
        best = None
        for c, cw in enumerate(book):
            d = sum((a - b) * (a - b) for a, b in zip(fs, cw))
            if best is None or d < best[0]:
                best = (d, c)
        codes.append(best[1])
    return codes


def ref_adc_topk(corpus_rows, query, anchors, books, sub, probes, k):
    """corpus_rows: list of (vec_id, cell, codes). query: (qid, vec).
    Returns [(query_id, neighbor_id, adc, rank)] with row_number
    (adc, neighbor_id) tie semantics."""
    qid, qv = query
    qf = ref_fixed(qv)
    luts = []
    for s, book in enumerate(books):
        fs = qf[s * sub : (s + 1) * sub]
        luts.append(
            [sum((a - b) * (a - b) for a, b in zip(fs, cw)) for cw in book]
        )
    cells = set(ref_probe_cells(qv, anchors, probes))
    cands = []
    for vid, cell, codes in corpus_rows:
        if vid == qid or cell not in cells:
            continue
        adc = sum(luts[s][codes[s]] for s in range(len(books)))
        cands.append((adc, vid))
    cands.sort()
    return [
        (qid, vid, adc, r + 1) for r, (adc, vid) in enumerate(cands[:k])
    ]


def ref_sdc_tables(books):
    return [
        [
            [sum((ai - bi) ** 2 for ai, bi in zip(a, b)) for b in book]
            for a in book
        ]
        for book in books
    ]


def ref_cascade(rows, fixed_by_id, tables, sdc_bound, exact_bound):
    """rows: (vec_id, cell, codes) sorted any order. Returns the set of
    (id_a, id_b, sdc, exact) surviving both bounds, a<b, same cell."""
    out = set()
    by_cell: dict[int, list] = {}
    for vid, cell, codes in rows:
        by_cell.setdefault(cell, []).append((vid, codes))
    for members in by_cell.values():
        members.sort()
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                (ia, ca), (ib, cb) = members[i], members[j]
                sdc = sum(
                    tables[s][ca[s]][cb[s]] for s in range(len(tables))
                )
                if sdc > sdc_bound:
                    continue
                fa, fb = fixed_by_id[ia], fixed_by_id[ib]
                exact = sum((x - y) * (x - y) for x, y in zip(fa, fb))
                if exact <= exact_bound:
                    out.add((ia, ib, sdc, exact))
    return out


# ---------------------------------------------------------------------------
# seed-driven generation


def gen_geometry(rng: random.Random):
    subspaces = rng.choice([1, 2, 2, 4, 4, 8])
    sub_cap = 16 if subspaces <= 2 else 8
    sub = rng.choice([s for s in (1, 2, 3, 4, 8, 16) if s <= sub_cap])
    dim = subspaces * sub
    # plan-size budget: py4j expression building is the fuzz
    # bottleneck, so bound subspaces*codes (the LUT/fold count)
    codes = rng.choice(
        [c for c in (2, 3, 4, 8, 16) if subspaces * c <= 24]
    )
    cells = rng.choice([2, 3, 4])
    probes = rng.randint(1, min(3, cells))
    return subspaces, sub, dim, codes, cells, probes


def gen_anchors(rng: random.Random, cells: int, dim: int):
    return [
        [rng.uniform(-1.0, 1.0) for _ in range(dim)] for _ in range(cells)
    ]


def gen_books(rng: random.Random, subspaces, codes, sub):
    """Integer fixed-point codebooks (the pq_codebooks_fixed contract:
    books enter BOTH engines as int literals)."""
    return [
        [
            [rng.randint(-1048576, 1048576) for _ in range(sub)]
            for _ in range(codes)
        ]
        for _ in range(subspaces)
    ]


def gen_corpus(rng: random.Random, dim: int, books, sub):
    n = rng.randint(3, 40)
    style = rng.random()
    vecs: list[np.ndarray] = []
    pool = [
        np.array(
            [
                round(rng.uniform(-1.5, 1.5), rng.choice([1, 3, 6]))
                for _ in range(dim)
            ]
        )
        for _ in range(max(1, n // 5))
    ]
    for _ in range(n):
        r = rng.random()
        if style < 0.25 and r < 0.5:
            v = pool[rng.randrange(len(pool))].copy()  # dup regime
        elif r < 0.08:
            v = np.zeros(dim)
        elif r < 0.16:
            # exact-codeword vector: every subspace distance ties at 0
            v = np.array(
                [
                    cw_v / SCALE
                    for s in range(len(books))
                    for cw_v in books[s][rng.randrange(len(books[s]))]
                ]
            )
        elif r < 0.22:
            v = np.array([rng.uniform(-8.0, 8.0) for _ in range(dim)])
        else:
            v = np.array([rng.uniform(-1.0, 1.0) for _ in range(dim)])
        vecs.append(v.astype(np.float32))
    return vecs


# ---------------------------------------------------------------------------


def frame_rows(df) -> set:
    return set(tuple(r) for r in df.collect())


def main() -> int:
    n_seeds = int(sys.argv[1]) if len(sys.argv) > 1 else 200
    seed0 = int(sys.argv[2]) if len(sys.argv) > 2 else 0
    n_threads = int(os.environ.get("PQ_FUZZ_THREADS", "8"))

    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from tabular_to_parquet_spark.operators import similarity as sim
    from tabular_to_parquet_spark.session import get_spark

    spark = get_spark("pq-fuzz")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    # every seed is a NOVEL tiny plan: whole-stage codegen (janino
    # compile per plan) and AQE re-planning are pure overhead here —
    # interpreted evaluation of 40 rows is microseconds.  Correctness
    # coverage of the codegen path stays with the catalog oracles,
    # which run the default config.
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.adaptive.enabled", "false")

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )

    failures: list[tuple[int, str, str]] = []
    done = [0]

    def run_seed(seed: int):
        rng = random.Random(seed)
        subspaces, sub, dim, codes, cells, probes = gen_geometry(rng)
        anchors = gen_anchors(rng, cells, dim)
        books = gen_books(rng, subspaces, codes, sub)
        vecs = gen_corpus(rng, dim, books, sub)
        n = len(vecs)
        parts = rng.randint(1, 6)

        pdf = pd.DataFrame(
            {
                "vec_id": np.arange(n, dtype=np.int64),
                "embedding": [v.tolist() for v in vecs],
            }
        )
        emb = spark.createDataFrame(pdf, schema).repartition(parts)

        # the production functions regenerate books from (subspaces,
        # codes, dim); to fuzz RANDOM codebooks we patch the generator
        # with a THREAD-LOCAL override — plan building happens in the
        # calling thread, so concurrent seeds never see each other's
        # books (each mapInArrow/expression closure captures its book
        # literals at build time)
        tl.books = books

        exp_cells = [ref_cell(v, anchors) for v in vecs]
        exp_codes = [ref_codes(v, books, sub) for v in vecs]
        expected_corpus = {
            (int(i), int(exp_cells[i]), *[int(c) for c in exp_codes[i]])
            for i in range(n)
        }
        code_cols = [f"code_s{s}" for s in range(subspaces)]

        # 1. mapInArrow corpus coder vs reference — every seed
        coded = sim.pq_cell_codes(emb, anchors, subspaces, codes, dim)
        got = frame_rows(coded.select("vec_id", "_cell", *code_cols))
        if got != expected_corpus:
            return ("pq_cell_codes", f"{sorted(got ^ expected_corpus)[:4]}")

        corpus_rows = [
            (i, exp_cells[i], exp_codes[i]) for i in range(n)
        ]

        # the expression plans (product_quantize, ivf_cell) cost ~10x
        # the mapInArrow plan to BUILD (py4j), so the second leg
        # rotates by seed: 0,2 mod 4 -> expression codes and cells;
        # 1 mod 4 -> IVF-ADC end-to-end; 3 mod 4 -> SDC dedup cascade
        leg = seed % 4
        if leg in (0, 2):
            pq = sim.product_quantize(emb, subspaces, codes, dim=dim)
            got = frame_rows(pq.select("vec_id", *code_cols))
            want = {(i, *[int(c) for c in exp_codes[i]]) for i in range(n)}
            if got != want:
                return ("product_quantize", f"{sorted(got ^ want)[:4]}")
            cells_df = emb.select(
                "vec_id", sim.ivf_cell(F.col("embedding"), anchors)
            )
            got = frame_rows(cells_df)
            want = {(i, int(exp_cells[i])) for i in range(n)}
            if got != want:
                return ("ivf_cell", f"{sorted(got ^ want)[:4]}")
        elif leg == 1:
            # IVF-ADC end-to-end vs reference top-k
            k = rng.randint(1, 6)
            n_q = rng.randint(1, 4)
            qids = rng.sample(range(n), min(n_q, n))
            qpdf = pdf[pdf["vec_id"].isin(qids)]
            queries = spark.createDataFrame(qpdf, schema)
            expected_knn = set()
            for qid in sorted(qids):
                expected_knn.update(
                    ref_adc_topk(
                        corpus_rows, (qid, vecs[qid]), anchors, books,
                        sub, probes, k,
                    )
                )
            got = frame_rows(
                sim.knn_ivf_pq(
                    emb, queries, k=k, probes=probes, anchors=anchors,
                    subspaces=subspaces, codes=codes, dim=dim,
                )
            )
            if got != expected_knn:
                return ("knn_ivf_pq", f"{sorted(got ^ expected_knn)[:4]}")
        else:
            # SDC dedup cascade vs reference sweep
            tables = sim.pq_sdc_tables(subspaces, codes, dim)
            if tables != ref_sdc_tables(books):
                return ("sdc_tables", "table mismatch")
            all_sdc = sorted(
                sum(tables[s][exp_codes[a][s]][exp_codes[b][s]]
                    for s in range(subspaces))
                for a in range(n)
                for b in range(a + 1, n)
                if exp_cells[a] == exp_cells[b]
            )
            if not all_sdc:
                return None
            sdc_bound = all_sdc[rng.randrange(len(all_sdc))]
            fixed_by_id = {i: ref_fixed(vecs[i]) for i in range(n)}
            all_exact = sorted(
                sum((x - y) * (x - y)
                    for x, y in zip(fixed_by_id[a], fixed_by_id[b]))
                for a in range(n)
                for b in range(a + 1, n)
                if exp_cells[a] == exp_cells[b]
            )
            exact_bound = all_exact[rng.randrange(len(all_exact))]
            expected_casc = ref_cascade(
                corpus_rows, fixed_by_id, tables, sdc_bound, exact_bound
            )
            got = frame_rows(
                sim.pq_dedup_cascade(
                    emb, sdc_bound, exact_bound, anchors=anchors,
                    subspaces=subspaces, codes=codes, dim=dim,
                )
            )
            if got != expected_casc:
                return ("cascade", f"{sorted(got ^ expected_casc)[:4]}")
        return None

    # patch pq_codebooks_fixed ONCE with a thread-local lookup so
    # random codebooks flow through the production plan builders
    # unchanged
    import threading

    tl = threading.local()
    orig = sim.pq_codebooks_fixed

    def patched(subspaces=sim.PQ_SUBSPACES, codes=sim.PQ_CODES,
                dim=sim.EMBED_DIM):
        got = getattr(tl, "books", None)
        return got if got is not None else orig(subspaces, codes, dim)

    sim.pq_codebooks_fixed = patched

    def wrapped(seed: int):
        try:
            r = run_seed(seed)
        except Exception as e:  # noqa: BLE001
            r = ("exception", repr(e)[:300])
        done[0] += 1
        if done[0] % 100 == 0:
            print(f"  {done[0]}/{n_seeds} seeds, {len(failures)} failures",
                  flush=True)
        if r is not None:
            failures.append((seed, r[0], r[1]))

    try:
        with ThreadPoolExecutor(max_workers=n_threads) as ex:
            list(ex.map(wrapped, range(seed0, seed0 + n_seeds)))
    finally:
        sim.pq_codebooks_fixed = orig

    print(f"pq_fuzz: {n_seeds} seeds ({seed0}..{seed0 + n_seeds - 1}), "
          f"{len(failures)} failures")
    for seed, kind, detail in failures[:20]:
        print(f"  FAIL seed={seed} {kind}: {detail}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
