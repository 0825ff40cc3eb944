"""Differential fuzz of the s05/s08/s10 catalog entries against their
DuckDB oracles over random embedding corpora.

The catalog entries (operators/similarity.py: nearest_centroid_confusion,
kmeans_fixed, gram_matrix — one ``mapInArrow`` form each) claim
BIT-EXACT equality with their oracles at any corpus size. The catalog
gates that claim only on the fixed test tables; the failure modes live
in the corners the fixtures don't hit: odd dims, tiny corpora (fewer
vectors than k), duplicate/identical vectors (cluster collapse, argmin
ties), empty clusters, single-partition vs many-partition splits (the
partial → merge path), zero vectors, and negative / large-magnitude
coordinates.

Each seed synthesizes a random corpus (vector count, dim, partition
split, label pattern, duplicate/degenerate-vector mixture all drawn
from the seed). The Spark side runs the catalog entry through the
production code path (extensions._emb is monkeypatched to serve the
in-memory corpus — no parquet round-trip, the same query bodies the
driver certifies); the DuckDB side registers the same corpus as
``embeddings`` and runs ``CATALOG[name].oracle``. The two frames must
be equal exactly, compared as tools/check_parity.py compares them.

Usage: python tools/twin_fuzz.py [n_seeds] [seed0]
"""

from __future__ import annotations

import os
import random
import sys

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

QUERIES = [
    "s10_gram_matrix",
    "s05_nearest_centroid_confusion",
    "s08_kmeans_fixed",
]


def gen_corpus(seed: int) -> tuple[pd.DataFrame, int]:
    rng = random.Random(seed)
    n = rng.randint(3, 90)
    dim = rng.choice([2, 3, 5, 8, 16, 31, 64])
    n_labels = rng.randint(1, 5)
    style = rng.random()

    vecs = []
    base_pool = [
        np.round(
            np.array([rng.uniform(-1.5, 1.5) for _ in range(dim)]),
            rng.choice([1, 3, 6]),
        )
        for _ in range(max(1, rng.randint(1, max(1, n // 4))))
    ]
    for _ in range(n):
        r = rng.random()
        if style < 0.2 and r < 0.6:
            # heavy-duplicate regime: clusters collapse, argmin ties
            v = base_pool[rng.randrange(len(base_pool))].copy()
        elif r < 0.08:
            v = np.zeros(dim)
        elif r < 0.12:
            # large magnitudes stress the fixed-point int64 headroom
            v = np.array([rng.uniform(-8.0, 8.0) for _ in range(dim)])
        else:
            v = np.array([rng.uniform(-1.0, 1.0) for _ in range(dim)])
        vecs.append(v.astype(np.float32))

    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": [v.tolist() for v in vecs],
            "label": np.array(
                [rng.randrange(n_labels) for _ in range(n)], dtype=np.int32
            ),
        }
    ), rng.randint(1, 8)


def sorted_frame(df: pd.DataFrame, normalize) -> pd.DataFrame:
    df = normalize(df)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main() -> int:
    n_seeds = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    seed0 = int(sys.argv[2]) if len(sys.argv) > 2 else 0
    n_threads = int(os.environ.get("TWIN_FUZZ_THREADS", "4"))

    from concurrent.futures import ThreadPoolExecutor

    import duckdb
    from pyspark.sql import types as T

    from check_parity import normalize
    from tabular_to_parquet_spark.parity import extensions
    from tabular_to_parquet_spark.parity.catalog import CATALOG
    from tabular_to_parquet_spark.session import get_spark

    spark = get_spark("twin-fuzz")
    # tiny corpora: big shuffle fan-out is pure overhead here
    spark.conf.set("spark.sql.shuffle.partitions", "4")

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    )

    # seeds run concurrently (the per-seed jobs are tiny — scheduling
    # latency, not CPU, dominates), so the _emb hook must be race-free:
    # patch it ONCE with a registry lookup keyed by the fake sf_dir.
    corpora: dict[str, object] = {}
    extensions._emb = lambda _spark, sf_dir: corpora[sf_dir]

    failures: list[tuple[int, str, str]] = []
    done = [0]

    def run_seed(seed: int):
        key = f"<mem:{seed}>"
        pdf, parts = gen_corpus(seed)
        df = spark.createDataFrame(pdf, schema=schema).repartition(parts)
        df.persist()
        corpora[key] = df
        con = duckdb.connect()
        # embedding lands as DOUBLE[]: the float32 values convert
        # exactly, and every oracle casts its elements to DOUBLE
        con.register("embeddings", pdf)
        try:
            for name in QUERIES:
                try:
                    got = sorted_frame(
                        CATALOG[name].spark(spark, key).toPandas(), normalize
                    )
                    want = sorted_frame(
                        con.sql(CATALOG[name].oracle).df(), normalize
                    )
                    pd.testing.assert_frame_equal(
                        got, want, check_dtype=False, check_exact=True
                    )
                except AssertionError as exc:
                    failures.append(
                        (seed, name, f"mismatch: {str(exc).splitlines()[-1][:160]}")
                    )
                except Exception as exc:  # noqa: BLE001
                    failures.append(
                        (seed, name, f"error: {str(exc).splitlines()[0][:160]}")
                    )
        finally:
            con.close()
            corpora.pop(key, None)
            df.unpersist()
        done[0] += 1
        if done[0] % 100 == 0:
            print(
                f"[{done[0]}/{n_seeds}] ({len(failures)} failures)",
                flush=True,
            )

    with ThreadPoolExecutor(max_workers=n_threads) as pool:
        list(pool.map(run_seed, range(seed0, seed0 + n_seeds)))

    for seed, name, reason in failures:
        print(f"FAIL seed={seed} {name}: {reason}")
    print(
        f"{n_seeds - len(set(f[0] for f in failures))}/{n_seeds} seeds match "
        "their oracles"
    )
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
