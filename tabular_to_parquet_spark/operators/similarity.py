"""Similarity search over embedding columns (SURVEY.md §7.4).

- ``knn_bruteforce`` — exact top-k cosine neighbors: queries ×
  corpus join, windowed top-k. The correctness baseline; cost is
  |Q|·|C| dots, so keep |Q| bounded (it broadcasts the query side).

- ``knn_lsh`` — the scale path: 16-bit random-hyperplane signatures
  computed per-row in a projection, banded into 4×4-bit keys; the
  candidate set is an equi-join on (band, key) instead of the full
  cross product. Recall is tunable via bits/bands; plan shape is
  scan → project → shuffle-on-short-key → window, which survives
  100× data.

Hyperplane components are md5-derived rationals generated in Python
(``lsh_planes``) and embedded as literals, so Spark and the DuckDB
oracle share the exact same planes; dot products use the sequential
fold of operators/dedup.py — bit-identical across engines.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from tabular_to_parquet_spark.operators.dedup import cosine, dot_product

LSH_BITS = 16
LSH_BANDS = 4
LSH_BAND_WIDTH = LSH_BITS // LSH_BANDS
EMBED_DIM = 64


def _md5_int(s: str) -> int:
    """Python twin of functions/hashing.md5_i64 (same 60-bit value)."""
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def lsh_planes(bits: int = LSH_BITS, dim: int = EMBED_DIM) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1]^dim.

    plane[b][d] = (md5_int('plane{b}_{d}') mod 2001 - 1000) / 1000 —
    any engine (or oracle author) can regenerate these exactly.
    """
    return [
        [((_md5_int(f"plane{b}_{d}") % 2001) - 1000) / 1000.0 for d in range(dim)]
        for b in range(bits)
    ]


def _plane_lit(plane: list[float]) -> Column:
    return F.array(*[F.lit(v) for v in plane])


def lsh_signature(vec: Column, planes: list[list[float]] | None = None) -> Column:
    """Sign-of-dot signature packed into a BIGINT (one projection)."""
    planes = planes or lsh_planes()
    sig = F.lit(0).cast("long")
    for b, plane in enumerate(planes):
        bit = F.when(dot_product(vec, _plane_lit(plane)) >= 0, F.lit(2**b)).otherwise(
            F.lit(0)
        )
        sig = sig + bit.cast("long")
    return sig


def cosine_vectorized(a: Column, b: Column) -> Column:
    """Arrow-batched Pandas-UDF cosine — the wide-vector path.

    The ``zip_with`` fold (operators/dedup.py) is interpreted
    per-element; for high-dim embeddings (≥~1024) a vectorized numpy
    batch wins. NOT bit-identical to the sequential fold (numpy may
    reorder the sum), so parity queries keep the fold; pipelines that
    only threshold/rank can use either.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # NB: `from __future__ import annotations` stringifies hints; they
    # must still resolve for pandas_udf, hence the local binding below
    def _cos_impl(xs, ys):
        xa = np.stack(xs.to_numpy()).astype("float64")
        ya = np.stack(ys.to_numpy()).astype("float64")
        num = (xa * ya).sum(axis=1)
        den = np.sqrt((xa * xa).sum(axis=1)) * np.sqrt((ya * ya).sum(axis=1))
        with np.errstate(invalid="ignore", divide="ignore"):
            return pd.Series(num / den)

    _cos_impl.__annotations__ = {"xs": pd.Series, "ys": pd.Series, "return": pd.Series}
    _cos = pandas_udf("double")(_cos_impl)
    return _cos(a, b)


def shared_corpus_frame(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Corpus ``(neighbor_id, cv, cn)`` projection materialized behind
    ONE hash exchange on the id — the frame an audit shares across an
    exact and an ANN leg (s07): pass it as ``corpus=`` to BOTH
    :func:`knn_bruteforce` and :func:`knn_ivf` and the two legs read
    the SAME shuffle stage (ReusedExchange under AQE), so the corpus
    scan + norm fold run once instead of once per leg (r15, guide
    §2.4).  Keyed on the high-cardinality id — NOT the IVF cell — so
    post-shuffle parallelism is never capped by the anchor count (the
    d20 lesson); the IVF cell assignment is computed ABOVE the
    exchange by the consumer that needs it."""
    return df.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        F.sqrt(dot_product(F.col(vec_col), F.col(vec_col))).alias("cn"),
    ).repartition("neighbor_id")


def knn_bruteforce(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    corpus: DataFrame | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    The query side is broadcast (it is small by contract), so the
    corpus scan never shuffles; the only shuffle is the windowed
    top-k on query_id — bounded by |Q|·|C| rows pre-filtered to
    k per query by the rank.

    ``corpus`` (optional) is a pre-built :func:`shared_corpus_frame`;
    callers that also run an ANN leg over the same vectors (s07) pass
    the same frame to both so the projection is evaluated once.  The
    scoring expressions are identical either way — results are
    bit-identical (test-pinned).
    """
    nrm = lambda col: F.sqrt(dot_product(F.col(col), F.col(col)))
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
        nrm(vec_col).alias("qn"),
    )
    c = corpus if corpus is not None else df.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"),
        nrm(vec_col).alias("cn"),
    )
    # norms are computed once per VECTOR (|Q|+|C| folds), so the pair
    # join evaluates ONE dot per candidate instead of three — same
    # expression tree as the oracle's dot/(sqrt*sqrt), bit-identical
    cos = dot_product(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cos.alias("cosine"))
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def lsh_frame(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    return df.select(
        F.col(id_col),
        F.col(vec_col),
        lsh_signature(F.col(vec_col)).alias("lsh_sig"),
    )


IVF_CELLS = 16
IVF_PROBES = 4


def ivf_anchors(cells: int = IVF_CELLS, dim: int = EMBED_DIM) -> list[list[float]]:
    """Deterministic pseudo-random anchor vectors (md5-derived, same
    scheme as :func:`lsh_planes`) standing in for k-means centroids.
    On a real cluster, train centroids with ``pyspark.ml`` KMeans and
    broadcast them — the search plan below does not change.
    """
    return [
        [((_md5_int(f"ivf{c}_{d}") % 2001) - 1000) / 1000.0 for d in range(dim)]
        for c in range(cells)
    ]


def ivf_anchors_distributed(
    spark,
    cells: int,
    dim: int = EMBED_DIM,
    prefix: str = "ivf",
) -> list[list[float]]:
    """Executor-side twin of :func:`ivf_anchors` — BIT-IDENTICAL
    anchors (test-pinned), generated by a bounded Spark job instead of
    a driver-side Python loop.

    Why it exists (r12 verdict item 4): ``suggest_cells`` doubles the
    cell count with the corpus, so at 1000x-class vector counts (~2B
    vectors) the anchor build wants ~65k cells x 64 dims = ~4M md5
    evaluations — a GIL-bound serial loop on the driver.  Here the
    cell ids fan out as ``spark.range(cells)`` partitions, each
    executor derives its rows' anchors with the same
    ``(md5("ivf{c}_{d}")[:15hex] % 2001 - 1000)/1000`` construction
    (pure function of the cell id — no state, no skew), and the
    driver collects the BOUNDED (cells x dim doubles) result.  Float64
    values survive the Arrow round-trip exactly, so downstream plans
    (cell assignment literals, PQ codebooks) are byte-equal either
    way.  Keep the plain :func:`ivf_anchors` for small fixed cell
    counts — a Spark job is pure overhead below a few thousand cells
    (measured in SCALE.md)."""
    import pyarrow as pa

    def gen(batches):
        import hashlib

        for batch in batches:
            ids = batch.column(0).to_pylist()
            anchors = [
                [
                    ((int(hashlib.md5(f"{prefix}{c}_{d}".encode())
                          .hexdigest()[:15], 16) % 2001) - 1000) / 1000.0
                    for d in range(dim)
                ]
                for c in ids
            ]
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, type=pa.int64()),
                 pa.array(anchors, type=pa.list_(pa.float64()))],
                names=["cell", "anchor"],
            )

    par = max(1, spark.sparkContext.defaultParallelism)
    rows = (
        spark.range(0, cells, 1, min(cells, par))
        .mapInArrow(gen, "cell long, anchor array<double>")
        .collect()
    )
    out: list[list[float] | None] = [None] * cells
    for r in rows:
        out[r["cell"]] = [float(v) for v in r["anchor"]]
    return out


def _cell_scores(vec: Column, anchors: list[list[float]]) -> list[Column]:
    return [dot_product(vec, _plane_lit(a)) for a in anchors]


def ivf_cell(vec: Column, anchors: list[list[float]] | None = None) -> Column:
    """Index of the best-scoring anchor (argmax dot, lowest index wins
    ties) — the IVF cell assignment, computed in one projection.

    Implemented as probe-1 of :func:`ivf_probe_cells` (sort a 16-struct
    array) rather than a CASE-over-greatest chain: the chain repeats
    every anchor dot in two expression positions and the interpreted
    folds don't share subtrees, so the struct-sort form halves the dot
    evaluations per row (measured 2.9 s → ~1.5 s warm on the sf0.1
    corpus projection). Tie-break is identical: (−score, cell)
    ascending ⇒ lowest cell wins."""
    return F.element_at(ivf_probe_cells(vec, probes=1, anchors=anchors), 1)


def ivf_probe_cells(vec: Column, probes: int = IVF_PROBES,
                    anchors: list[list[float]] | None = None) -> Column:
    """The ``probes`` best cells for a query vector (array of cell ids,
    rank order by descending score, index tiebreak)."""
    anchors = anchors or ivf_anchors()
    scores = _cell_scores(vec, anchors)
    # sort by (-score, cell): descending score, ascending cell on ties
    pairs = F.array(
        *[F.struct((-s).alias("negscore"), F.lit(c).alias("cell")) for c, s in enumerate(scores)]
    )
    ranked = F.array_sort(pairs)
    return F.transform(F.slice(ranked, 1, probes), lambda p: p["cell"])


def kmeans_anchors(
    df: DataFrame,
    vec_col: str = "embedding",
    cells: int = IVF_CELLS,
    seed: int = 42,
    max_iter: int = 10,
    sample_fraction: float | None = None,
) -> list[list[float]]:
    """Train IVF centroids with ``pyspark.ml`` KMeans and return them as
    plain Python lists (broadcast as literals into the cell-assignment
    projection, exactly like the md5 anchors).

    Trained centroids track the data distribution, so cells are
    balanced and probing the top cells recovers more true neighbors
    than data-independent anchors at the same probe cost. At 100 TB,
    train on a sample (``sample_fraction``) — KMeans cost is per-row ×
    iterations and a ~1M-row sample pins centroids well enough.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = df
    if sample_fraction is not None:
        train = train.sample(fraction=sample_fraction, seed=seed)
    feats = train.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    model = KMeans(k=cells, seed=seed, maxIter=max_iter).fit(feats)
    return [[float(v) for v in center] for center in model.clusterCenters()]


def ivf_corpus_frame(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    anchors: list[list[float]] | None = None,
) -> DataFrame:
    """Corpus with its IVF cell assignment (one projection, no
    shuffle), assigned by :func:`ivf_cell` — the expression form the
    oracle-gated queries reproduce."""
    return df.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        ivf_cell(F.col(vec_col), anchors).alias("cell"),
        F.sqrt(dot_product(F.col(vec_col), F.col(vec_col))).alias("cn"),
    )


def _ivf_probe_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    vec_col: str,
    id_col: str,
    anchors: list[list[float]] | None,
    probes: int = IVF_PROBES,
) -> DataFrame:
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.sqrt(dot_product(F.col(vec_col), F.col(vec_col))).alias("qn"),
        F.explode(
            ivf_probe_cells(F.col(vec_col), probes=probes, anchors=anchors)
        ).alias("cell"),
    )
    cos = dot_product(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    # no pair-dedup needed: each corpus vector lives in exactly one cell,
    # so a (query, neighbor) pair matches at most once
    scored = (
        q.join(corpus, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cos.alias("cosine"))
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def knn_ivf(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    anchors: list[list[float]] | None = None,
    probes: int = IVF_PROBES,
    corpus: DataFrame | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: the corpus is bucketed by nearest
    anchor (one projection); each query probes its IVF_PROBES best
    cells; candidates = equi-join on the cell id.

    ``corpus`` (optional) is a pre-built :func:`shared_corpus_frame`
    over the same vectors; the cell assignment (with THIS call's
    ``anchors``) is added above its exchange, so an audit running an
    exact leg next to this one (s07) evaluates the corpus projection
    once.  Results are bit-identical either way (test-pinned).

    ``anchors`` defaults to the md5-derived set (oracle-reproducible);
    pass :func:`kmeans_anchors` output for trained centroids — the
    plan does not change. Scale story: cell assignment is a projection
    (no shuffle); the join key is a small int with ~|C|/cells rows per
    bucket — at 100 TB, raise IVF_CELLS so buckets stay executor-sized.
    Recall tunes with IVF_PROBES.

    Do NOT read the sf0.1 bench as the scale story: at 2k vectors
    brute force wins wall time (IVF pays 2-3 extra stages to prune a
    one-task corpus). Measured crossover (tools/ann_crossover.py,
    local[32], 64-d, 200 queries): brute/IVF break even between 8k
    and 32k corpus vectors (~2-6M query·corpus dot products); at 128k
    vectors IVF is already 2.3x faster (10.2 s vs 4.5 s warm), and
    the gap widens linearly in |C| from there.
    """
    if corpus is not None:
        # coalesce makes the join key provably NON-nullable (the cell
        # expression never actually yields null — element_at over a
        # 16-element literal array), so the probe join's implied
        # isnotnull(cell) folds away instead of being pushed below the
        # shared exchange into the scan — which would make the two
        # legs' exchange subtrees differ and defeat ReusedExchange
        # (observed on the first s07 restructure attempt, r15)
        cframe = corpus.withColumn(
            "cell", F.coalesce(ivf_cell(F.col("cv"), anchors), F.lit(0))
        )
    else:
        cframe = ivf_corpus_frame(df, vec_col, id_col, anchors)
    return _ivf_probe_join(
        cframe, queries, k, vec_col, id_col, anchors, probes=probes,
    )


def suggest_cells(
    n_rows: int,
    target_rows_per_cell: int = 1 << 18,
    min_cells: int = 4,
    max_cells: int = 1 << 20,
) -> int:
    """IVF cell count for a corpus of ``n_rows``: the power of two
    whose expected occupancy is closest to ``target_rows_per_cell``
    (default 256k rows ≈ a few hundred MB of 64-d floats — an
    executor-task-sized bucket). Completes the sizing story next to
    :func:`tune_probes`: cells bound memory per probe task, probes
    buy recall. Clamped to [min_cells, max_cells]."""
    cells = min_cells
    while cells < max_cells and n_rows / cells > target_rows_per_cell * 1.5:
        cells *= 2
    return cells


def tune_probes(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    recall_slo: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    anchors: list[list[float]] | None = None,
    max_probes: int | None = None,
) -> tuple[int, float]:
    """Smallest IVF probe count whose recall@k meets ``recall_slo``.

    Completes the ANN story: instead of hand-picking ``probes``, give a
    recall target and a SAMPLED query set; the tuner measures recall
    against brute-force ground truth at increasing probe counts and
    returns ``(probes, measured_recall)`` — or
    ``(max_probes, best_recall)`` if the SLO is unreachable (then raise
    IVF_CELLS or bits instead).

    Deliberately driver-side: tuning runs once on a bounded sample
    (hundreds of queries — the ground-truth brute force is |Q|·|C|
    dots, so the sample bound is what makes this affordable), and the
    chosen value is then applied to the corpus-scale query load. The
    per-trial cost is one extra probe join over the SAME corpus frame;
    trials stop at the first probe count that clears the SLO.
    """
    anchors = anchors or ivf_anchors()
    max_probes = max_probes or len(anchors)
    truth_df = knn_bruteforce(df, queries, k, vec_col, id_col)
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in truth_df.select("query_id", "neighbor_id").collect()
    }
    if not truth:
        return 1, 1.0
    corpus = ivf_corpus_frame(df, vec_col, id_col, anchors)
    best = 0.0
    for probes in range(1, max_probes + 1):
        got_df = _ivf_probe_join(
            corpus, queries, k, vec_col, id_col, anchors, probes=probes
        )
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in got_df.select("query_id", "neighbor_id").collect()
        }
        best = len(got & truth) / len(truth)
        if best >= recall_slo:
            return probes, best
    return max_probes, best


def knn_lsh(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k: candidates share ≥1 LSH band with the query.

    Plan: both sides get signatures in a projection; band explode is
    ×4; the join key (band, band_val) is short and hash-distributed.
    Recall < 1 by design — verify with knn_bruteforce on samples.
    """
    def banded(frame: DataFrame, prefix: str) -> DataFrame:
        sigs = lsh_frame(frame, vec_col, id_col)
        return sigs.select(
            F.col(id_col).alias(f"{prefix}_id"),
            F.col(vec_col).alias(f"{prefix}_v"),
            F.sqrt(dot_product(F.col(vec_col), F.col(vec_col))).alias(
                f"{prefix}_n"
            ),
            F.posexplode(
                F.array(
                    *[
                        F.shiftright(F.col("lsh_sig"), b * LSH_BAND_WIDTH).bitwiseAND(
                            F.lit((1 << LSH_BAND_WIDTH) - 1)
                        )
                        for b in range(LSH_BANDS)
                    ]
                )
            ).alias("band", "band_val"),
        )

    q = banded(queries, "q")
    c = banded(df, "c")
    # cosine computed BEFORE the candidate-dedup: the dedup shuffle then
    # carries (long, long, double) instead of two dim-sized vectors
    scored = (
        q.join(c, ["band", "band_val"])
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            (
                dot_product(F.col("q_v"), F.col("c_v"))
                / (F.col("q_n") * F.col("c_n"))
            ).alias("cosine"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def knn_graph(
    df: DataFrame,
    k: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    anchors: list[list[float]] | None = None,
) -> DataFrame:
    """Approximate kNN GRAPH: every vector's top-k cosine neighbors
    WITHIN its IVF cell — the self-join twin of :func:`knn_ivf` where
    the corpus is both sides, building the neighbor graph that
    SemDeDup-style clustering, graph-based ANN (NSW seeds) and
    embedding-space audits start from.

    Scale shape: one cell-assignment projection, one cell-keyed
    self-equi-join (Σ|cell|² pair work, never N² — the d09 argument),
    one per-vector top-k window. Recall is cell-local by construction
    (a true neighbor in an adjacent cell is missed — the standard IVF
    trade; raise cells' probe overlap or re-rank offline where that
    matters). Cells come from :func:`ivf_cell`: one literal dot per
    anchor, sized for the 16-anchor default."""
    # one explicit hash exchange on the cell id: both self-join sides
    # read the SAME materialized shuffle stage (ReusedExchange under
    # AQE), so the 16-anchor cell assignment + norm fold are evaluated
    # once instead of once per side (r14, guide §2.4) — and at corpus
    # scale the alternative the planner picked from tiny-SF stats was
    # broadcasting a corpus-sized side, which cannot survive 100 TB
    c = ivf_corpus_frame(df, vec_col, id_col, anchors).repartition("cell")
    a = c.select(
        F.col("neighbor_id").alias("src_id"),
        F.col("cv").alias("av"),
        F.col("cn").alias("an"),
        "cell",
    )
    cos = dot_product(F.col("av"), F.col("cv")) / (F.col("an") * F.col("cn"))
    scored = (
        a.join(c, "cell")
        .filter(F.col("src_id") != F.col("neighbor_id"))
        .select("src_id", "neighbor_id", cos.alias("cosine"))
    )
    w = W.partitionBy("src_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("src_id", "neighbor_id", "cosine", "rank")
    )


def ivf_cell_vectorized(
    vec: Column, anchors: list[list[float]] | None = None
) -> Column:
    """Arrow-batched numpy IVF cell assignment — the cell assigner of
    :func:`~tabular_to_parquet_spark.operators.dedup.semantic_dup_pairs`
    ``fast=True``.

    :func:`ivf_cell` unrolls one literal-array dot per anchor into the
    projection; fine at 16 cells, but Catalyst planning cost and
    per-row interpreted folds grow linearly with the anchor count (the
    known literal-dot-unroll blowup). At 100 TB the cell count must
    grow with the corpus (``suggest_cells``), so cell assignment has to
    be a batch matmul: stack the Arrow batch to a (B, d) matrix, one
    (B, d) @ (d, C) product, row argmax. numpy argmax takes the lowest
    index on ties — the same tie-break as the expression form; the
    matmul's sum order is NOT the sequential fold's (last-ulp), so
    oracle-gated queries keep :func:`ivf_cell`."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    a = np.asarray(anchors or ivf_anchors(), dtype="float64").T  # (d, C)

    def _cell_impl(xs):
        xa = np.stack(xs.to_numpy()).astype("float64")
        return pd.Series(np.argmax(xa @ a, axis=1).astype("int32"))

    _cell_impl.__annotations__ = {"xs": pd.Series, "return": pd.Series}
    return pandas_udf("int")(_cell_impl)(vec)


def gram_matrix(
    emb: DataFrame,
    vec_col: str = "embedding",
    scale: float = 1048576.0,
) -> DataFrame:
    """s10's gram matrix over f = floor(v·2²⁰): per upper-triangle
    (i, j) the vector count, Σf_i, Σf_j and Σf_i·f_j as a DECIMAL(38,0)
    digit string (covariance = (n·Σxy − Σx·Σy)/n²). Each partition
    accumulates G = fᵀf with a numpy matmul (``mapInArrow``: the corpus
    crosses the wire once, as vectors) and one bounded (i, j) agg merges
    the 2080-row partials. Exact at any size: int64 per numpy batch
    (|f| ≤ 2²⁰ ⟹ a 65k-row batch's cell ≤ 2⁵⁶), python ints across
    batches, decimal strings and a DECIMAL(38,0) sum across partitions."""
    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField("i", T.LongType()),
        T.StructField("j", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("sum_fi", T.LongType()),
        T.StructField("sum_fj", T.LongType()),
        T.StructField("prod_str", T.StringType()),
    ])

    def partial(batches):
        import numpy as np
        import pyarrow as pa

        acc = None  # python-int matrix (object dtype): exact at any size
        svec = None
        n = 0
        dim = None
        for b in batches:
            col = b.column(0)
            mat = np.stack(col.to_numpy(zero_copy_only=False))
            f = np.floor(mat.astype(np.float64) * scale).astype(np.int64)
            if dim is None:
                dim = f.shape[1]
                acc = np.zeros((dim, dim), dtype=object)
                svec = np.zeros(dim, dtype=object)
            acc += f.T @ f  # int64 per batch, exact; object accumulate
            svec += f.sum(axis=0)
            n += f.shape[0]
        if n == 0:
            return
        iu, ju = np.triu_indices(dim)
        yield pa.record_batch(
            {
                "i": pa.array(iu.astype("int64")),
                "j": pa.array(ju.astype("int64")),
                "n": pa.array([n] * len(iu), pa.int64()),
                "sum_fi": pa.array([int(svec[i]) for i in iu], pa.int64()),
                "sum_fj": pa.array([int(svec[j]) for j in ju], pa.int64()),
                "prod_str": pa.array(
                    [str(int(acc[i][j])) for i, j in zip(iu, ju)]
                ),
            }
        )

    partials = emb.select(vec_col).mapInArrow(partial, out_schema)
    return partials.groupBy("i", "j").agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("sum_fi").cast("long").alias("sum_fi"),
        F.sum("sum_fj").cast("long").alias("sum_fj"),
        F.sum(F.col("prod_str").cast("decimal(38,0)"))
        .cast("decimal(38,0)").cast("string").alias("sum_prod"),
    )


def nearest_centroid_confusion(
    emb: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    scale: float = 1048576.0,
) -> DataFrame:
    """s05's confusion matrix (label, assigned, n_vecs) of nearest label
    centroid classification. The BOUNDED centroid table (|labels|·64
    entries, s04's exact integer sums) is collected and closed over; a
    ``mapInArrow`` stage classifies each batch with numpy — per-dim
    terms floor((v−c)²·2²⁰) summed in int64 (≤ 64·2⁴²), argmin's first
    minimum = the lowest label, as candidates are label-sorted — and
    one bounded agg merges the per-partition partials."""
    import numpy as np

    from pyspark.sql import types as T

    ex = emb.select(
        label_col, F.posexplode(vec_col).alias("dim", "v")
    ).select(
        F.col(label_col).alias("clabel"),
        F.col("dim").cast("long").alias("dim"),
        F.col("v").cast("double").alias("v"),
    )
    cent_rows = (
        ex.groupBy("clabel", "dim")
        .agg(
            F.expr(
                f"sum(cast(floor(v * {scale}) as long)) div count(1)"
            ).alias("c_fixed")
        )
        .collect()
    )
    clabels = sorted({r["clabel"] for r in cent_rows})
    dim = max(r["dim"] for r in cent_rows) + 1
    C = np.zeros((len(clabels), dim), dtype=np.float64)
    idx = {cl: i for i, cl in enumerate(clabels)}
    for r in cent_rows:
        C[idx[r["clabel"]], r["dim"]] = r["c_fixed"] / scale
    clabel_arr = np.array(clabels, dtype=np.int64)

    out_schema = T.StructType([
        T.StructField("label", T.LongType()),
        T.StructField("assigned", T.LongType()),
        T.StructField("n_vecs", T.LongType()),
    ])

    def classify(batches):
        import pyarrow as pa

        counts: dict = {}
        for b in batches:
            names = b.schema.names
            lab = b.column(names.index(label_col)).to_numpy(
                zero_copy_only=False
            ).astype(np.int64)
            V = np.stack(
                b.column(names.index(vec_col)).to_numpy(zero_copy_only=False)
            ).astype(np.float64)
            dists = np.empty((V.shape[0], len(clabels)), dtype=np.int64)
            for ci in range(len(clabels)):
                d = V - C[ci]
                dists[:, ci] = (
                    np.floor(d * d * scale).astype(np.int64).sum(axis=1)
                )
            pred = clabel_arr[np.argmin(dists, axis=1)]
            for t, p in zip(lab, pred):
                counts[(int(t), int(p))] = counts.get((int(t), int(p)), 0) + 1
        if not counts:
            return
        ks = sorted(counts)
        yield pa.record_batch(
            {
                "label": pa.array([k[0] for k in ks], pa.int64()),
                "assigned": pa.array([k[1] for k in ks], pa.int64()),
                "n_vecs": pa.array([counts[k] for k in ks], pa.int64()),
            }
        )

    partials = emb.select(label_col, vec_col).mapInArrow(classify, out_schema)
    return partials.groupBy("label", "assigned").agg(
        F.sum("n_vecs").cast("long").alias("n_vecs")
    )


def kmeans_fixed(
    emb: DataFrame,
    k: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: float = 1048576.0,
) -> DataFrame:
    """s08's bit-deterministic Lloyd k-means over f = floor(v·2²⁰): the
    ``k`` lowest ids seed it, two FIXED assign → update rounds run, and
    it returns (cid, dim, centroid_fixed, n_members) per live cluster
    (empty clusters drop out). Each round is ONE ``mapInArrow`` sweep:
    an exact int64 ‖f‖²−2f·c+‖c‖² matmul (≤2⁴⁷) assigns, np.argmin's
    first minimum is the lowest-cid tie rule, and per-(cid, dim) sums
    go int64 → python int → DECIMAL(38,0); the bounded k·dim centroid
    table is the one driver round-trip per round."""
    import numpy as np

    from pyspark.sql import types as T

    seeds = (
        emb.orderBy(id_col).limit(k).select(vec_col).collect()
    )
    C = np.stack([
        np.floor(np.asarray(r[0], dtype=np.float64) * scale)
        for r in seeds
    ]).astype(np.int64)
    cids = np.arange(len(C), dtype=np.int64)
    dim = C.shape[1]

    out_schema = T.StructType([
        T.StructField("cid", T.LongType()),
        T.StructField("dim", T.LongType()),
        T.StructField("sum_f", T.StringType()),
        T.StructField("n", T.LongType()),
    ])

    def sweep(C_now, cids_now):
        kk = len(cids_now)

        def fn(batches):
            import pyarrow as pa

            S = np.zeros((kk, dim), dtype=object)
            N = np.zeros(kk, dtype=np.int64)
            cc = (C_now * C_now).sum(axis=1)
            for b in batches:
                V = np.stack(
                    b.column(0).to_numpy(zero_copy_only=False)
                ).astype(np.float64)
                f = np.floor(V * scale).astype(np.int64)
                d2 = (
                    (f * f).sum(axis=1, keepdims=True)
                    - 2 * (f @ C_now.T)
                    + cc
                )
                a = np.argmin(d2, axis=1)
                for ci in range(kk):
                    m = a == ci
                    if m.any():
                        S[ci] += f[m].sum(axis=0)
                        N[ci] += int(m.sum())
            rows_cid, rows_dim, rows_sum, rows_n = [], [], [], []
            for ci in range(kk):
                if N[ci] == 0:
                    continue
                for dj in range(dim):
                    rows_cid.append(int(cids_now[ci]))
                    rows_dim.append(dj)
                    rows_sum.append(str(int(S[ci][dj])))
                    rows_n.append(int(N[ci]))
            if not rows_cid:
                return
            yield pa.record_batch(
                {
                    "cid": pa.array(rows_cid, pa.int64()),
                    "dim": pa.array(rows_dim, pa.int64()),
                    "sum_f": pa.array(rows_sum),
                    "n": pa.array(rows_n, pa.int64()),
                }
            )

        return (
            emb.select(vec_col).mapInArrow(fn, out_schema)
            .groupBy("cid", "dim")
            .agg(
                F.expr(
                    "CAST(SUM(CAST(sum_f AS DECIMAL(38,0))) AS DECIMAL(38,0))"
                    " div CAST(SUM(n) AS DECIMAL(38,0))"
                ).cast("long").alias("centroid_fixed"),
                F.sum("n").cast("long").alias("n_members"),
            )
        )

    # round 1: assign to the seeds, merge to c1; collect the bounded
    # centroid table for round 2
    c1_rows = sweep(C, cids).collect()
    live = sorted({r["cid"] for r in c1_rows})
    C1 = np.zeros((len(live), dim), dtype=np.int64)
    li = {cl: i for i, cl in enumerate(live)}
    for r in c1_rows:
        C1[li[r["cid"]], r["dim"]] = r["centroid_fixed"]
    # round 2: assign to c1, merge — this IS the final (centroid,
    # members) table, exactly like s08's trailing update aggregate
    return sweep(C1, np.array(live, dtype=np.int64))


# ---------------------------------------------------------------------------
# product quantization (PQ): the codebook compression step between
# s09's scalar quantization (per-dim affine codes) and a trained IVF
# index — split each vector into S subvectors, snap each to the
# nearest codeword of a per-subspace codebook, store S small codes.
# 64-dim float64 (512 B) -> 4 codes of 3 bits here; production PQ is
# 8-16 subspaces x 256 codes (8-16 B per vector, 32-64x smaller than
# float32).

PQ_SUBSPACES = 4
PQ_CODES = 8
PQ_SCALE = 1048576.0  # 2^20 — the s09 fixed-point domain


def pq_codebooks(
    subspaces: int = PQ_SUBSPACES,
    codes: int = PQ_CODES,
    dim: int = EMBED_DIM,
) -> list[list[list[float]]]:
    """Deterministic md5-derived codewords per subspace (the
    ivf_anchors scheme).  On a real cluster, train each book with
    k-means over the subvectors (kmeans_fixed generalizes per
    subspace) and broadcast — the assignment plan below is unchanged."""
    sub = dim // subspaces
    return [
        [
            [
                ((_md5_int(f"pq{s}_{c}_{d}") % 2001) - 1000) / 1000.0
                for d in range(sub)
            ]
            for c in range(codes)
        ]
        for s in range(subspaces)
    ]


def pq_codebooks_fixed(
    subspaces: int = PQ_SUBSPACES,
    codes: int = PQ_CODES,
    dim: int = EMBED_DIM,
) -> list[list[list[int]]]:
    """floor(codeword * 2^20) as Python ints — the ONLY place the
    codeword fixed-point values are computed; both the Spark plan and
    the DuckDB oracle consume these as literals, so no cross-engine
    float reproduction of the codebook is ever needed."""
    import math

    return [
        [[int(math.floor(v * PQ_SCALE)) for v in cw] for cw in book]
        for book in pq_codebooks(subspaces, codes, dim)
    ]


def _pq_dist(sl: Column, cw: list[int]) -> Column:
    """Exact squared L2 between a float slice, fixed-pointed per
    element, and one integer codeword: an ``aggregate(zip_with(...))``
    fold in the 2^20 domain (diff < 2^22, squared x16 < 2^48 —
    int64-safe)."""
    g = F.array(*[F.lit(v).cast("long") for v in cw])
    diffs = F.zip_with(
        sl,
        g,
        lambda x, y: F.floor(x.cast("double") * F.lit(PQ_SCALE)).cast("long")
        - y,
    )
    return F.aggregate(diffs, F.lit(0).cast("long"), lambda acc, d: acc + d * d)


def product_quantize(
    emb: DataFrame,
    subspaces: int = PQ_SUBSPACES,
    codes: int = PQ_CODES,
    dim: int = EMBED_DIM,
) -> DataFrame:
    """Assign every vector its PQ code per subspace and price the
    compression: exact fixed-point squared reconstruction error
    against the chosen codewords (the s09 audit generalized from
    per-dim affine codes to codebook geometry).

    One projection, zero shuffles, zero UDFs: per subspace the
    distance to each codeword is one :func:`_pq_dist` fold over the
    16-element slice, and the argmin is the struct-array-min trick
    (ties -> lowest code, the kmeans_fixed rule).  The codewords enter
    as integer literals from :func:`pq_codebooks_fixed`."""
    sub = dim // subspaces
    books = pq_codebooks_fixed(subspaces, codes, dim)
    out_cols: list[Column] = [F.col("vec_id")]
    code_cols: list[Column] = []
    err_total: Column | None = None
    for s, book in enumerate(books):
        sl = F.slice(F.col("embedding"), s * sub + 1, sub)
        cands = []
        for c, cw in enumerate(book):
            cands.append(
                F.struct(
                    _pq_dist(sl, cw).alias("d"), F.lit(c).cast("long").alias("c")
                )
            )
        best = F.array_min(F.array(*cands))
        code = best.getField("c").alias(f"code_s{s}")
        out_cols.append(code)
        code_cols.append(best.getField("c"))
        e = best.getField("d")
        err_total = e if err_total is None else err_total + e
    packed = code_cols[0]
    for c in code_cols[1:]:
        packed = packed * codes + c
    return emb.select(
        *out_cols,
        packed.cast("long").alias("pq_code"),
        err_total.cast("long").alias("err_sq_fixed"),
    )


# ---------------------------------------------------------------------------
# MMR (maximal marginal relevance) greedy diverse selection — the
# exemplar-picking op "give me k docs that are relevant AND not
# redundant" (diversity sampling for training-data curation, dedup's
# constructive dual: instead of dropping near-duplicates, never pick
# two of them).

MMR_SCALE = 1048576.0  # 2^20 fixed point (s09/s11 domain)


def _fixed_vec(col: Column) -> Column:
    return F.transform(
        col, lambda x: F.floor(x.cast("double") * F.lit(MMR_SCALE)).cast("long")
    )


def _fixed_dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def mmr_select(
    emb: DataFrame, query_fixed: list[int], k: int = 5, exclude_ids=()
) -> list[dict]:
    """Greedy MMR with lambda = 1/2 in exact 2^20 fixed point: round r
    picks argmax over remaining candidates of
    ``score = rel - max_sim_to_selected`` (both int64 dot products of
    floored coordinates; 64 * 2^42 < 2^48, overflow-safe), ties to the
    lowest vec_id.

    Scale shape: every round is ONE distributed projection over the
    corpus plus a TakeOrdered top-1 (no global sort shuffle); the
    selected set — k rows of 64 ints — is the only driver round-trip,
    the kmeans_fixed bounded-model-state rule.  Returns the k picks as
    dicts (rank, vec_id, rel_fixed, max_sim_fixed, score_fixed)."""
    qf = F.array(*[F.lit(int(v)).cast("long") for v in query_fixed])
    base = emb
    if exclude_ids:
        base = base.filter(~F.col("vec_id").isin(*[int(i) for i in exclude_ids]))
    cand = base.select(
        "vec_id",
        _fixed_vec(F.col("embedding")).alias("df"),
    ).withColumn("rel", _fixed_dot(F.col("df"), qf))
    cand = cand.persist()
    try:
        picked: list[dict] = []
        sel_vecs: list[list[int]] = []
        for r in range(1, k + 1):
            frame = cand
            if picked:
                frame = frame.filter(
                    ~F.col("vec_id").isin(*[p["vec_id"] for p in picked])
                )
                sims = [
                    _fixed_dot(
                        F.col("df"),
                        F.array(*[F.lit(v).cast("long") for v in sv]),
                    )
                    for sv in sel_vecs
                ]
                ms = sims[0] if len(sims) == 1 else F.greatest(*sims)
            else:
                ms = F.lit(0).cast("long")
            scored = frame.withColumn("ms", ms).withColumn(
                "score", F.col("rel") - F.col("ms")
            )
            rows = scored.orderBy(
                F.col("score").desc(), F.col("vec_id")
            ).limit(1).collect()
            if not rows:
                # candidates exhausted (k > corpus size after excludes):
                # return the shorter selection instead of IndexError
                break
            top = rows[0]
            picked.append(
                {
                    "rank": r,
                    "vec_id": top["vec_id"],
                    "rel_fixed": top["rel"],
                    "max_sim_fixed": int(top["ms"]),
                    "score_fixed": top["score"],
                }
            )
            sel_vecs.append([int(v) for v in top["df"]])
        return picked
    finally:
        cand.unpersist()


def knn_ivf_pq(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    probes: int = IVF_PROBES,
    anchors: list[list[float]] | None = None,
    subspaces: int = PQ_SUBSPACES,
    codes: int = PQ_CODES,
    dim: int = EMBED_DIM,
) -> DataFrame:
    """IVF-ADC search — the production ANN read path: probe the top
    IVF cells like :func:`knn_ivf`, but score candidates with the
    ASYMMETRIC distance to their PQ codeword (s11 codes) instead of
    their raw vector.  At 100 TB the candidate side never touches the
    float vectors at query time: a candidate row is (cell, 4 small
    codes), the whole distance computation is four lookups into a
    per-query 4x8 table — this is why PQ exists.

    Exactness: the lookup table entries are the same int64 fixed-point
    folds as product_quantize (query floats floored once, codewords
    are integer literals), so the ADC distance — an APPROXIMATION of
    the true distance — is itself computed exactly and cross-engine
    hashable.  Plan: one :func:`pq_cell_codes` sweep over the corpus
    (cell + codes), bounded query-set broadcast (cell-exploded probes
    + the 32 LUT columns), one equi-join on cell, one per-query rank
    window."""
    anchors = anchors or ivf_anchors()
    sub = dim // subspaces
    books = pq_codebooks_fixed(subspaces, codes, dim)
    corpus = pq_cell_codes(emb, anchors, subspaces, codes, dim)
    lut_cols = []
    for s, book in enumerate(books):
        sl = F.slice(F.col("embedding"), s * sub + 1, sub)
        for c, cw in enumerate(book):
            lut_cols.append(_pq_dist(sl, cw).alias(f"lut_{s}_{c}"))
    qside = queries.select(
        F.col("vec_id").alias("query_id"),
        F.explode(
            ivf_probe_cells(F.col("embedding"), probes=probes, anchors=anchors)
        ).alias("_cell_raw"),
        *lut_cols,
    ).withColumn("_cell", F.col("_cell_raw").cast("long")).drop("_cell_raw")
    dist = None
    for s in range(subspaces):
        expr = None
        for c in range(codes):
            cond = F.col(f"code_s{s}") == c
            val = F.col(f"lut_{s}_{c}")
            expr = F.when(cond, val) if expr is None else expr.when(cond, val)
        dist = expr if dist is None else dist + expr
    from pyspark.sql import Window as W

    joined = corpus.join(F.broadcast(qside), "_cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = joined.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        dist.cast("long").alias("adc_dist_fixed"),
    )
    w = W.partitionBy("query_id").orderBy("adc_dist_fixed", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def pq_cell_codes(
    emb: DataFrame,
    anchors: list[list[float]] | None = None,
    subspaces: int = PQ_SUBSPACES,
    codes: int = PQ_CODES,
    dim: int = EMBED_DIM,
) -> DataFrame:
    """The PQ corpus coder behind IVF-ADC (s13) and the SDC cascade
    (d20): ONE ``mapInArrow`` sweep emits (vec_id, _cell, code_s*), so
    many anchors cost batch numpy, not unrolled per-anchor expressions.
    The values equal :func:`ivf_cell` and :func:`product_quantize`:
    - cell scores repeat the EXACT sequential left-to-right double
      fold of dedup.dot_product (a dim-loop of elementwise adds — not
      numpy's pairwise sum), so every IEEE intermediate matches;
      np.argmax's first-maximum IS the lowest-cell tie rule;
    - PQ distances decompose as ‖f‖² − 2f·G + ‖g‖² in int64 (f <
      2²¹ ⇒ terms < 2⁴⁶ — exact integer matmul); np.argmin's
      first-minimum IS the lowest-code tie rule."""
    import numpy as np

    from pyspark.sql import types as T

    anchors = anchors or ivf_anchors()
    A = np.array(anchors, dtype=np.float64)
    books = pq_codebooks_fixed(subspaces, codes, dim)
    sub = dim // len(books)
    out_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("_cell", T.LongType()),
        ]
        + [
            T.StructField(f"code_s{s}", T.LongType())
            for s in range(len(books))
        ]
    )

    def compute(batches):
        import pyarrow as pa

        for b in batches:
            names = b.schema.names
            vid = (
                b.column(names.index("vec_id"))
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            if len(vid) == 0:
                continue
            V = np.stack(
                b.column(names.index("embedding")).to_numpy(
                    zero_copy_only=False
                )
            ).astype(np.float64)
            n = V.shape[0]
            scores = np.empty((n, A.shape[0]), dtype=np.float64)
            for c in range(A.shape[0]):
                s = V[:, 0] * A[c, 0]
                for d in range(1, V.shape[1]):
                    s = s + V[:, d] * A[c, d]
                scores[:, c] = s
            cell = np.argmax(scores, axis=1).astype(np.int64)
            Ff = np.floor(V * PQ_SCALE).astype(np.int64)
            cols = {"vec_id": pa.array(vid, pa.int64()),
                    "_cell": pa.array(cell, pa.int64())}
            for s_i, book in enumerate(books):
                G = np.array(book, dtype=np.int64)
                Fs = Ff[:, s_i * sub : (s_i + 1) * sub]
                dist = (
                    (Fs * Fs).sum(axis=1, keepdims=True)
                    - 2 * (Fs @ G.T)
                    + (G * G).sum(axis=1)[None, :]
                )
                cols[f"code_s{s_i}"] = pa.array(
                    np.argmin(dist, axis=1).astype(np.int64), pa.int64()
                )
            yield pa.record_batch(cols)

    return emb.select("vec_id", "embedding").mapInArrow(compute, out_schema)


def pq_sdc_tables(
    subspaces: int = PQ_SUBSPACES,
    codes: int = PQ_CODES,
    dim: int = EMBED_DIM,
) -> list[list[list[int]]]:
    """8x8 exact integer codeword-to-codeword squared distances per
    subspace — the SDC (symmetric distance computation) lookup tables:
    with both sides PQ-coded, a pair's approximate distance is four
    table lookups, no vector arithmetic at all."""
    books = pq_codebooks_fixed(subspaces, codes, dim)
    return [
        [
            [sum((ai - bi) ** 2 for ai, bi in zip(a, b)) for b in book]
            for a in book
        ]
        for book in books
    ]


def pq_dedup_cascade(
    emb: DataFrame,
    sdc_bound: int,
    exact_bound: int,
    anchors: list[list[float]] | None = None,
    subspaces: int = PQ_SUBSPACES,
    codes: int = PQ_CODES,
    dim: int = EMBED_DIM,
) -> DataFrame:
    """The production two-stage near-dup pattern with a PQ prefilter:
    candidate pairs inside an IVF cell are scored by SDC — four
    lookups into the 8x8 codeword tables, both sides coded, NO vector
    math — and only SDC survivors pay the exact 64-dim fixed-point
    verification.  Emits BOTH scores per surviving pair, so the output
    is simultaneously the dedup verdict and the calibration table for
    the prefilter (how loose must ``sdc_bound`` be to keep the true
    pairs ``exact_bound`` defines).

    Scale shape: cell-blocked self-join (the d09 discipline — never
    all-pairs), SDC is a per-row projection over the code columns, and
    the exact verify re-joins the vectors ONLY for survivors.  At
    100 TB the survivor set is the filter's whole point.  The corpus
    is coded by one :func:`pq_cell_codes` sweep, so a large
    (``suggest_cells``-scaled) anchor set costs batch matmuls, not
    unrolled literal dot products in the plan."""
    anchors = anchors or ivf_anchors()
    corpus = pq_cell_codes(emb, anchors, subspaces, codes, dim)
    tables = pq_sdc_tables(subspaces, codes, dim)
    a, b = corpus.alias("a"), corpus.alias("b")
    pairs = a.join(
        b,
        (F.col("a._cell") == F.col("b._cell"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    )
    sdc: Column | None = None
    for s, tbl in enumerate(tables):
        lit2d = F.array(
            *[
                F.array(*[F.lit(v).cast("long") for v in row])
                for row in tbl
            ]
        )
        term = F.element_at(
            F.element_at(lit2d, (F.col(f"a.code_s{s}") + 1).cast("int")),
            (F.col(f"b.code_s{s}") + 1).cast("int"),
        )
        sdc = term if sdc is None else sdc + term
    cand = pairs.select(
        F.col("a.vec_id").alias("id_a"),
        F.col("b.vec_id").alias("id_b"),
        sdc.cast("long").alias("sdc_dist_fixed"),
    ).filter(F.col("sdc_dist_fixed") <= sdc_bound)
    fx = emb.select(
        F.col("vec_id"), _fixed_vec(F.col("embedding")).alias("f")
    )
    joined = (
        cand.join(fx.select(F.col("vec_id").alias("id_a"), F.col("f").alias("fa")), "id_a")
        .join(fx.select(F.col("vec_id").alias("id_b"), F.col("f").alias("fb")), "id_b")
    )
    exact = F.aggregate(
        F.zip_with(F.col("fa"), F.col("fb"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return (
        joined.withColumn("exact_dist_fixed", exact.cast("long"))
        .filter(F.col("exact_dist_fixed") <= exact_bound)
        .select("id_a", "id_b", "sdc_dist_fixed", "exact_dist_fixed")
    )
