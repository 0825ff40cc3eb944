"""Deduplication operators for training-data pipelines (SURVEY.md §7.4).

Five families, each with an explicit 100 TB story:

- **exact**      — md5-of-normalized-text groupBy. One shuffle on the
                   fingerprint; map-side partial agg keeps it small.
- **minhash**    — one base hash per shingle + k affine permutations,
                   aggregated as codegen'd MINs (explode + tiny
                   doc_id shuffle, map-side combined); LSH banding
                   turns the quadratic pair search into an equi-join
                   on (band, band_key). THE scale path for near-dup
                   at 100 TB.
- **simhash**    — 32-bit signature via codegen'd conditional SUMs;
                   banded self-join + hamming filter for pairs.
- **n-gram Jaccard** — exact pairwise similarity inside blocking
                   groups; quadratic per block, so use only behind
                   blocking or as a verifier of LSH candidates.
- **embedding**  — cosine near-dup over `array<float>` columns; exact
                   within blocks (the ANN operators in similarity.py
                   are the scale path).
- **edit distance** — banded 3-arg levenshtein verifier over length
                   buckets or a supplied candidate pair set.

Hashing is md5-derived (functions/hashing.py) so the DuckDB oracle
reproduces every signature bit-for-bit. The MinHash family (md5
shingle base, affine permutations, md5 band keys, agreement score) is
defined once here and once in SQL (parity/extensions.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tabular_to_parquet_spark.functions.hashing import md5_i64
from tabular_to_parquet_spark.operators.text_analysis import (
    normalized_text,
    tokens,
    word_shingles,
)

# minhash configuration (shared with the DuckDB oracle in __spark_entry__)
MINHASH_K = 16       #: signature length
MINHASH_BANDS = 4    #: LSH bands (rows per band = K // BANDS)
MINHASH_ROWS = MINHASH_K // MINHASH_BANDS

SIMHASH_BITS = 32
SIMHASH_BANDS = 4    #: 8-bit bands; hamming ≤ 3 ⇒ ≥1 identical band


# ---------------------------------------------------------------------------
# exact dedup


def exact_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Content-hash groups: fingerprint → (keeper = min id, member count).

    The canonical exact-dedup plan: one hash-shuffle on the
    fingerprint, partial-aggregated map-side.
    """
    fp = F.md5(normalized_text(F.col(text_col)))
    return (
        df.select(fp.alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keeper_id"), F.count(F.lit(1)).alias("n_members"))
    )


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep exactly one row (the min-id row) per distinct content."""
    keepers = exact_groups(df, text_col, id_col).select(
        F.col("keeper_id").alias(id_col)
    )
    # broadcast-free semi join on the id — Catalyst picks SMJ/shuffled-hash
    return df.join(keepers, on=id_col, how="left_semi")


# ---------------------------------------------------------------------------
# minhash + LSH

#: affine-permutation modulus (Mersenne prime 2^61-1) and base split mask.
#: h_j(s) = (a_j·lo(s) + b_j·hi(s) + c_j) mod P61 over the 60-bit md5 base
#: split into two 30-bit halves — every term stays < 2^62, so the math is
#: exact i64 in Spark AND DuckDB (no overflow, no ANSI throw).
MINHASH_P61 = (1 << 61) - 1
MINHASH_LO_MASK = (1 << 30) - 1


def minhash_params(k: int = MINHASH_K) -> list[tuple[int, int, int]]:
    """Deterministic (a, b, c) per permutation, md5-derived so any
    engine (or oracle author) regenerates them exactly."""
    import hashlib

    def h(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    return [
        (
            h(f"mh{j}a") % (1 << 30) | 1,
            h(f"mh{j}b") % (1 << 30) | 1,
            h(f"mh{j}c") % MINHASH_P61,
        )
        for j in range(k)
    ]


def _affine(h: Column, a: int, b: int, c: int) -> Column:
    lo = h.bitwiseAND(F.lit(MINHASH_LO_MASK))
    hi = F.shiftright(h, 30)
    return (F.lit(a) * lo + F.lit(b) * hi + F.lit(c)) % F.lit(MINHASH_P61)


def minhash_frame(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-doc MinHash signatures via explode + hash-aggregate.

    The scale path: higher-order-function lambdas are interpreted (not
    codegen'd) in Spark, so instead of per-row array folds this
    explodes shingles, hashes each ONCE (md5 base), and computes the k
    permutation minima as plain MIN aggregates — whole-stage codegen
    end to end. The groupBy shuffle is tiny: map-side partial agg
    reduces each doc to one k-component row per partition.
    """
    comps = _minhash_components(df, text_col, id_col)
    return comps.select(
        F.col(id_col),
        F.array(*[F.col(f"_mh{j}") for j in range(MINHASH_K)]).alias("sig"),
    )


def _minhash_components(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Signatures as K separate columns ``_mh0.._mhK-1`` (the join-side
    layout: per-component columns keep the pair scoring in whole-stage
    codegen, where an array would force interpreted lambdas). An empty
    shingle set (fewer than 3 tokens) gives NULL components."""
    exploded = df.select(
        F.col(id_col),
        F.explode_outer(word_shingles(F.col(text_col))).alias("_shingle"),
    )
    hashed = exploded.select(F.col(id_col), md5_i64(F.col("_shingle")).alias("_h"))
    aggs = [
        F.min(_affine(F.col("_h"), a, b, c)).alias(f"_mh{j}")
        for j, (a, b, c) in enumerate(minhash_params())
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def minhash_banded(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """LSH-banded signature rows: (id, _mh0.._mhK-1, band, band_key) —
    BANDS rows per doc; a band key is the md5 of its '|'-joined
    component slice. The join-side layout shared by
    :func:`minhash_pairs` and the persisted band index
    (pipeline.build_minhash_band_index).

    Docs with an empty shingle set (NULL signature) get no rows: their
    band keys would all be md5('') and their NULL components would
    agree null-safely, pairing every two short docs at 1.0."""
    comps = _minhash_components(df, text_col, id_col).where(
        F.col("_mh0").isNotNull()
    )
    band_keys = F.array(
        *[
            F.md5(
                F.concat_ws(
                    "|",
                    *[
                        F.col(f"_mh{b * MINHASH_ROWS + r}").cast("string")
                        for r in range(MINHASH_ROWS)
                    ],
                )
            )
            for b in range(MINHASH_BANDS)
        ]
    )
    return comps.select(
        F.col(id_col),
        *[F.col(f"_mh{j}") for j in range(MINHASH_K)],
        F.posexplode(band_keys).alias("band", "band_key"),
    )


#: planted-corpus grades for the banding calibration (percent of the
#: token prefix kept; the rest is salted — true Jaccard then spans
#: roughly 0.2–0.95 across grades once shingle boundary effects land)
CALIBRATION_GRADES = (30, 40, 50, 60, 70, 80, 90, 95)


def planted_neardup_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    grades: tuple[int, ...] = CALIBRATION_GRADES,
    sample_mod: int = 7,
    min_tokens: int = 20,
) -> DataFrame:
    """Graded near-dup corpus for calibrating the LSH banding: every
    ``sample_mod``-th document (with >= ``min_tokens`` tokens) plus
    ONE variant per grade g that keeps the first ceil(n*g/100) tokens
    and replaces the tail with salt tokens unique per (doc, grade,
    position) — so each planted pair's true shingle Jaccard is a
    direct, deterministic function of the grade, measurable exactly.

    Variant ids are ``-(doc_id*1000 + g)`` — negative, so they can
    never collide with real ids and the (base, grade) identity is
    recoverable from the id alone. Returns (doc_id, text) rows.
    Everything is integer/token arithmetic reproducible in ANSI SQL
    (the d21 oracle mirrors it token for token)."""
    base = df.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    ).filter(
        (F.col("doc_id") % sample_mod == 0)
        & (F.size(tokens(F.col("text"))) >= min_tokens)
    )
    # token array materialized ONCE per row (lambdas below only touch
    # scalar ints — embedding tokens() in a lambda is the O(n²) trap
    # word_ngrams documents)
    toks = base.select(
        "doc_id", tokens(F.col("text")).alias("_toks")
    ).withColumn("_n", F.size("_toks"))
    out = base
    for g in grades:
        v = toks.withColumn(
            "_keep", F.expr(f"(_n * {g} + 99) div 100")
        ).select(
            (-(F.col("doc_id") * 1000 + F.lit(g))).cast("long").alias("doc_id"),
            F.concat_ws(
                " ",
                F.concat(
                    F.expr("slice(_toks, 1, _keep)"),
                    F.expr(
                        "IF(_keep >= _n, array(), "
                        "transform(sequence(_keep + 1, _n), i -> "
                        f"concat('zz', CAST(doc_id AS STRING), 'x{g}x', "
                        "CAST(i AS STRING))))"
                    ),
                ),
            ).alias("text"),
        )
        out = out.unionByName(v)
    return out


def banding_calibration(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    grades: tuple[int, ...] = CALIBRATION_GRADES,
    sample_mod: int = 7,
) -> DataFrame:
    """Measured candidate recall of the K=16/bands=4 LSH banding per
    planted-similarity grade — the confusion table that makes the 0.5
    default threshold defensible at 100 TB instead of folklore.

    Pipeline: :func:`planted_neardup_corpus` -> the production
    ``minhash_pairs`` banding at threshold 0 (raw band collisions) ->
    inner-join against the planted truth pairs -> per-grade counts.
    Output per grade: n_planted, n_candidates (banding recall
    numerator), n_est_ge_05 (pairs ALSO passing the default est>=0.5
    filter, i.e. >=8 of 16 signature matches), sum_inter/sum_union
    (exact integer Jaccard mass — mean true Jaccard without float
    aggregation), min/max true Jaccard (order-independent doubles).

    Scale shape: the planted subset is 1/sample_mod of the corpus x
    (1+|grades|) rows; candidates come from the same banded equi-join
    as production (never all-pairs); the exact shingle verification
    touches planted pairs only (|grades| per sampled doc, linear)."""
    corpus = planted_neardup_corpus(
        df, text_col, id_col, grades=grades, sample_mod=sample_mod
    )
    cand = minhash_pairs(corpus, threshold=0.0).select(
        "id_a",
        "id_b",
        (F.col("est_jaccard") * MINHASH_K).cast("long").alias("_matches"),
    )
    # one hash exchange on doc_id so BOTH verify-join sides read the
    # same materialized shuffle stage (ReusedExchange under AQE)
    # instead of re-deriving the planted corpus + shingle projection
    # once per side (r14, guide §2.4 — the d22/s06 discipline)
    sh = corpus.select(
        "doc_id", word_shingles(F.col("text")).alias("sh")
    ).repartition("doc_id")
    truth = corpus.filter(F.col("doc_id") < 0).select(
        F.col("doc_id").alias("id_a"),
        F.expr("(-doc_id) div 1000").cast("long").alias("id_b"),
        F.expr("(-doc_id) % 1000").cast("long").alias("grade"),
    )
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    j = truth.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    un = F.size("sh_a") + F.size("sh_b") - inter
    scored = j.select(
        "grade",
        "id_a",
        "id_b",
        inter.cast("long").alias("_inter"),
        un.cast("long").alias("_union"),
        (inter.cast("double") / un).alias("_tj"),
    )
    flagged = scored.join(cand, ["id_a", "id_b"], "left")
    half = MINHASH_K // 2
    return flagged.groupBy(F.col("grade")).agg(
        F.count(F.lit(1)).cast("long").alias("n_planted"),
        F.sum(F.when(F.col("_matches").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_candidates"),
        F.sum(F.when(F.col("_matches") >= half, 1).otherwise(0))
        .cast("long")
        .alias("n_est_ge_05"),
        F.sum("_inter").cast("long").alias("sum_inter"),
        F.sum("_union").cast("long").alias("sum_union"),
        F.min("_tj").alias("min_true_jaccard"),
        F.max("_tj").alias("max_true_jaccard"),
    )


def _band_join(
    left: DataFrame, right: DataFrame, cond: Column | None = None
) -> tuple[DataFrame, Column]:
    """Equi-join of two :func:`minhash_banded` frames on (band,
    band_key), aliased ``a`` and ``b``, plus ``cond`` when given; and
    the estimated Jaccard of a joined row — K per-component equality
    sums over K (whole-stage codegen, where a ``zip_with`` lambda over
    signature arrays would be interpreted)."""
    a, b = left.alias("a"), right.alias("b")
    on = (F.col("a.band") == F.col("b.band")) & (
        F.col("a.band_key") == F.col("b.band_key")
    )
    if cond is not None:
        on = on & cond
    n_eq = None
    for j in range(MINHASH_K):
        term = F.col(f"a._mh{j}").eqNullSafe(F.col(f"b._mh{j}")).cast("int")
        n_eq = term if n_eq is None else n_eq + term
    return a.join(b, on), n_eq.cast("double") / F.lit(float(MINHASH_K))


def minhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Candidate near-dup pairs via LSH banding, scored by signature
    agreement (estimated Jaccard).

    Plan shape (the part that must survive 100×): signatures are a
    projection; ``explode`` only over BANDS (4) rows per doc; the pair
    generation is an equi-join on (band index, band key) — a plain
    shuffle join on a short key, skew-safe under AQE. No all-pairs
    product anywhere. The self-join recomputes the signature subplan
    on each side, so no storage is pinned on a shared cluster.
    """
    banded = minhash_banded(df, text_col, id_col)
    joined, est = _band_join(
        banded, banded, F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    )
    # est is computed BEFORE the pair-dedup so the dedup shuffle carries
    # (long, long, double) rows, not two 16-component signature arrays
    return (
        joined.select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            est.alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
    )


# ---------------------------------------------------------------------------
# simhash


def simhash_col(text: Column, bits: int = SIMHASH_BITS) -> Column:
    """Frequency-weighted SimHash over whitespace tokens, as one
    projection: hash every token once, then fold ±1 per bit.

    Integer folds only — order-insensitive and exactly reproducible by
    the SQL oracle.
    """
    from tabular_to_parquet_spark.operators.text_analysis import tokens

    hashes = F.transform(tokens(text), lambda t: md5_i64(t, seed="sh"))

    def bit_merger(i: int):
        return lambda acc, h: acc + F.when(
            F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    out = F.lit(0).cast("long")
    for i in range(bits):
        bit_sum = F.aggregate(hashes, F.lit(0).cast("long"), bit_merger(i))
        out = out + F.when(bit_sum > 0, F.lit(2**i).cast("long")).otherwise(F.lit(0).cast("long"))
    return out


def simhash_frame(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-doc SimHash via explode + hash-aggregate (same rationale as
    :func:`minhash_frame`: codegen'd SUM aggregates instead of
    interpreted array folds; identical values to :func:`simhash_col`)."""
    from tabular_to_parquet_spark.operators.text_analysis import tokens

    exploded = df.select(
        F.col(id_col), F.explode_outer(tokens(F.col(text_col))).alias("_t")
    )
    hashed = exploded.select(
        F.col(id_col), md5_i64(F.col("_t"), seed="sh").alias("_h")
    )
    h = F.col("_h")
    aggs = [
        F.sum(
            F.when(h.isNull(), 0)
            .when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
        ).alias(f"_b{i}")
        for i in range(SIMHASH_BITS)
    ]
    bits = hashed.groupBy(id_col).agg(*aggs)
    sig = F.lit(0).cast("long")
    for i in range(SIMHASH_BITS):
        sig = sig + F.when(F.col(f"_b{i}") > 0, F.lit(2**i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return bits.select(F.col(id_col), sig.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ 3 via 8-bit band join.

    Pigeonhole: ≤3 differing bits across 4 bands ⇒ at least one band
    identical, so the band equi-join finds every qualifying pair —
    exact result, LSH-join cost.
    """
    sims = simhash_frame(df, text_col, id_col)
    band_width = SIMHASH_BITS // SIMHASH_BANDS
    banded = sims.select(
        F.col(id_col),
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), b * band_width).bitwiseAND(
                        F.lit((1 << band_width) - 1)
                    )
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("band", "band_val"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            ham.alias("hamming"),
        )
        # hamming is deterministic per pair, so filter BEFORE the
        # pair-dedup shuffle: band-colliding pairs above max_hamming (the
        # large majority at scale) never ride the dedup Exchange — same
        # order minhash_pairs uses for its threshold filter
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


# ---------------------------------------------------------------------------
# exact n-gram Jaccard (blocked)


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str = "lang",
    threshold: float = 0.5,
) -> DataFrame:
    """Exact shingle-Jaccard pairs within blocking groups.

    Quadratic per block — use behind a real blocking key or as the
    verifier stage after minhash_pairs. (At 100 TB the candidate
    generator is minhash_pairs; this computes true Jaccard on its
    output or within small blocks.)
    """
    docs = df.select(
        F.col(id_col),
        F.col(block_col).alias("blk"),
        word_shingles(F.col(text_col)).alias("sh"),
    )
    a, b = docs.alias("a"), docs.alias("b")
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.col("a.sh")) + F.size(F.col("b.sh")) - inter
    jac = F.when(union > 0, inter.cast("double") / union).otherwise(0.0)
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# embedding cosine near-dup


#: the fixture embedding dimensionality (embeddings.parquet)
EMBED_DIM = 64


def dot_product(a: Column, b: Column) -> Column:
    """Sequential left-to-right fold — bit-identical to DuckDB's
    ``list_reduce(list_transform(...), (x, y) -> x + y)``.

    Measured dead end, recorded so it isn't retried: unrolling the sum
    into 64 literal ``element_at`` multiply-adds (the trick that pays
    for the 16 minhash MINs) is SLOWER here — 12.3 s vs 8.1 s warm on
    the d09 pair join at sf0.1 — and the unrolled tree inside
    ``ivf_cell``'s CASE/greatest chains blows Catalyst planning time
    up by an order of magnitude. The fold stays; the pair-join lever
    that does work is precomputing norms per VECTOR (see
    semantic_dup_pairs), and the non-oracle scale path is the
    Arrow-vectorized scorer (:func:`~...similarity.cosine_vectorized`).
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a: Column, b: Column) -> Column:
    return dot_product(a, b) / (
        F.sqrt(dot_product(a, a)) * F.sqrt(dot_product(b, b))
    )


def embedding_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block_col: str | None = "label",
    threshold: float = 0.95,
) -> DataFrame:
    """Cosine ≥ threshold pairs, exact within blocks.

    ``block_col=None`` does the full quadratic join — correctness/
    verification mode only. The ANN operators (operators/similarity.py)
    are the 100 TB path.
    """
    cols = [
        F.col(id_col),
        F.col(vec_col).alias("v"),
        F.sqrt(dot_product(F.col(vec_col), F.col(vec_col))).alias("nrm"),
    ]
    if block_col is not None:
        cols.append(F.col(block_col).alias("blk"))
    docs = df.select(*cols)
    a, b = docs.alias("a"), docs.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    if block_col is not None:
        cond = cond & (F.col("a.blk") == F.col("b.blk"))
    cos = dot_product(F.col("a.v"), F.col("b.v")) / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


# ---------------------------------------------------------------------------
# semantic dedup (SemDeDup, Abbas et al. 2023): cluster-then-prune


def semantic_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.7,
    anchors: list[list[float]] | None = None,
    fast: bool = False,
) -> DataFrame:
    """Near-duplicate embedding pairs, blocked by IVF cell.

    The SemDeDup recipe: partition the embedding space into k cells
    (here the deterministic IVF anchor assignment — one argmax-of-dots
    projection per row), then compare pairs only WITHIN a cell. The
    quadratic cost drops from |N|² to Σ|cell|², and the join is an
    equi-join on a small int — shuffle on ``cell``, never all-pairs.
    Cross-cell near-dups are missed by construction (the documented
    recall trade of the method; more cells = cheaper and lower recall).

    Output: ``(id_a, id_b, cell, cosine)`` with ``id_a < id_b``,
    cosine ≥ threshold.
    """
    from tabular_to_parquet_spark.operators.similarity import (
        ivf_cell,
        ivf_cell_vectorized,
    )

    # norms are precomputed per VECTOR, not per pair: the array folds
    # are interpreted (higher-order functions don't codegen), so moving
    # 2 of the 3 folds from |pairs| to |N| is a ~3× win on the join
    # (measured 14.2 s → ~5 s at sf0.1). dot/(norm_a*norm_b) is the
    # same expression tree the oracle uses — bit-identical.
    # fast mode assigns cells with the batch-matmul UDF: at scale the
    # anchor count grows with the corpus (suggest_cells) and the
    # literal-dot unroll would blow up planning; per-vector norms are
    # skipped there (cosine_vectorized derives them in the batch).
    cell_fn = ivf_cell_vectorized if fast else ivf_cell
    cols = [
        F.col(id_col),
        F.col(vec_col).alias("v"),
        cell_fn(F.col(vec_col), anchors).alias("cell"),
    ]
    if not fast:
        # fast mode derives norms inside the batch scorer; carrying a
        # placeholder through the |pairs| join would be dead schema
        cols.append(
            F.sqrt(dot_product(F.col(vec_col), F.col(vec_col))).alias("nrm")
        )
    # one explicit hash exchange on the join key so the pair self-join
    # reads ONE materialized shuffle stage from both sides
    # (ReusedExchange under AQE) instead of evaluating the 16-anchor
    # cell projection + norm fold once per side (r14, guide §2.4); the
    # old plan's small-side alternative was broadcasting a CORPUS-sized
    # side, which cannot survive 100 TB
    docs = df.select(*cols).repartition("cell")
    a, b = docs.alias("a"), docs.alias("b")
    if fast:
        # Arrow-vectorized numpy scorer: the 100 TB path (last-ulp sum
        # order differs from the fold, so the parity query pins fast=False)
        from tabular_to_parquet_spark.operators.similarity import (
            cosine_vectorized,
        )

        cos = cosine_vectorized(F.col("a.v"), F.col("b.v"))
    else:
        cos = dot_product(F.col("a.v"), F.col("b.v")) / (
            F.col("a.nrm") * F.col("b.nrm")
        )
    return (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.cell").alias("cell"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def dup_clusters(
    pairs: DataFrame,
    ids: DataFrame,
    hops: int = 2,
    id_col: str = "doc_id",
) -> DataFrame:
    """Cluster id per document = MIN document id reachable within
    ``hops`` hops of the near-dup pair graph (min-label propagation,
    bounded). Turns a pair list (:func:`minhash_pairs`,
    :func:`semantic_dup_pairs`, …) into dedup groups: keep one
    representative per ``cluster_id``, e.g. the row where
    ``doc_id == cluster_id``.

    Each hop is one equi-join + min-aggregate on the edge list — a
    shuffle on node ids, never on content. Near-dup clusters are
    star/clique-shaped in practice (tiny diameter), so a small fixed
    ``hops`` reaches the true connected component; for adversarial
    chain topologies use :func:`dup_clusters_fixpoint`. The bounded
    variant is what the cross-engine oracle checks (both engines run
    the same ``hops`` rounds, so parity holds by construction).
    """
    edges = _undirected(pairs)
    labels = ids.select(F.col(id_col), F.col(id_col).alias("cluster_id"))
    for _ in range(hops):
        labels = _propagate_min_label(edges, labels, id_col)
    return labels


def _undirected(pairs: DataFrame) -> DataFrame:
    return pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))


def _propagate_min_label(
    edges: DataFrame, labels: DataFrame, id_col: str
) -> DataFrame:
    """One round: label := min(own label, neighbors' labels)."""
    neighbor_min = (
        edges.join(labels, edges["dst"] == labels[id_col])
        .groupBy("src")
        .agg(F.min("cluster_id").alias("_nmin"))
    )
    return (
        labels.join(neighbor_min, labels[id_col] == neighbor_min["src"], "left")
        .select(
            F.col(id_col),
            F.least(
                F.col("cluster_id"),
                F.coalesce(F.col("_nmin"), F.col("cluster_id")),
            ).alias("cluster_id"),
        )
    )


def _label_sum(labels: DataFrame):
    """Exact sum of the labels. A round only lowers labels (each is
    ``least(own, neighbours)``), so an unchanged sum means no label
    changed — the convergence test without re-joining two rounds."""
    return labels.agg(
        F.sum(F.col("cluster_id").cast("decimal(38,0)"))
    ).first()[0]


def dup_clusters_fixpoint(
    pairs: DataFrame,
    ids: DataFrame,
    id_col: str = "doc_id",
    max_iters: int = 20,
) -> DataFrame:
    """:func:`dup_clusters` iterated to convergence: min-label rounds
    until no label changes (the driver checks one label sum per round —
    the standard distributed connected-components loop; O(diameter)
    rounds, each fully parallel). ``localCheckpoint`` truncates the
    per-round lineage so late rounds don't replay the whole chain.
    ``max_iters`` bounds adversarial chains: a label moves one hop per
    round, so a chain of n documents needs n rounds. If a label still
    changes in the last allowed round this raises instead of returning
    a partial closure."""
    edges = _undirected(pairs).localCheckpoint()
    labels = ids.select(
        F.col(id_col), F.col(id_col).alias("cluster_id")
    ).localCheckpoint()
    prev = _label_sum(labels)
    for _ in range(max_iters):
        labels = _propagate_min_label(edges, labels, id_col).localCheckpoint()
        cur = _label_sum(labels)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"dup_clusters_fixpoint did not converge within "
            f"max_iters={max_iters}; raise max_iters for this graph"
        )
    return labels


# ---------------------------------------------------------------------------
# edit-distance (Levenshtein) near-dup pairs, length-blocked


def edit_distance_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_dist: int = 2,
    prefix_len: int = 80,
    bucket_width: int = 8,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Pairs whose normalized-text PREFIXES are within ``max_dist``
    Levenshtein edits, blocked by prefix-length bucket.

    Semantics (declared, oracle-matched): candidates are pairs in the
    SAME ``floor(len(prefix)/bucket_width)`` bucket — strings within
    ``max_dist`` edits differ in length by ≤ ``max_dist``, so a
    bucket_width > 2*max_dist catches most true pairs; boundary
    stragglers are an accepted miss like d07's shingle blocking.

    Scale shape: the self-join is an equi-join on the small bucket key,
    never a cross product; ``levenshtein`` is a JVM built-in evaluated
    only on in-bucket candidates. At 100 TB, compose with a stronger
    blocker (simhash band ∩ length bucket) so per-bucket membership
    stays bounded; this operator is the VERIFIER of that pipeline,
    like ``jaccard_pairs``. The JVM side uses the 3-arg
    ``levenshtein(l, r, k)`` (banded O(k·n) early exit, -1 above k —
    measured 6× faster than the unbounded form on the length-80
    prefixes); kept rows and their distances are identical, so the
    DuckDB oracle's unbounded form still matches exactly.

    ``candidates`` (id_a, id_b) switches to pure verifier mode: the
    prefixes are joined onto the given pair set (two equi-joins on the
    id) and the length-bucket self-join is skipped entirely — the
    100 TB path, fed by minhash_pairs/simhash_pairs.
    """
    from tabular_to_parquet_spark.operators.text_analysis import normalized_text

    pre = df.select(
        F.col(id_col),
        F.substring(normalized_text(F.col(text_col)), 1, prefix_len).alias("pfx"),
    ).withColumn("blk", (F.length("pfx") / bucket_width).cast("int"))
    a, b = pre.alias("a"), pre.alias("b")
    if candidates is not None:
        return (
            candidates.select("id_a", "id_b")
            .join(a, F.col("id_a") == F.col(f"a.{id_col}"))
            .join(b, F.col("id_b") == F.col(f"b.{id_col}"))
            .select(
                "id_a",
                "id_b",
                F.levenshtein(
                    F.col("a.pfx"), F.col("b.pfx"), max_dist
                ).alias("edit_dist"),
            )
            .filter(F.col("edit_dist").between(0, max_dist))
        )
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.levenshtein(
                F.col("a.pfx"), F.col("b.pfx"), max_dist
            ).alias("edit_dist"),
        )
        .filter(F.col("edit_dist").between(0, max_dist))
    )


# ---------------------------------------------------------------------------
# sorted-neighborhood near-dup pairs, scale path (no global window)


def sorted_neighborhood_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 4,
    max_dist: int = 2,
    prefix_len: int = 80,
    block_chars: int = 2,
) -> DataFrame:
    """Sorted-neighborhood blocking WITHOUT the single-partition sort:
    result-identical to the d14 catalog query (lead() over a global
    ``ORDER BY pfx, doc_id`` window) but every shuffle is a hash
    equi-exchange, so it survives the 100 TB corpus the global window
    dies on (measured 27.5x at 10x data for the window form —
    tools/scale_experiment.py round 6).

    Construction: the global sort position is recovered WITHOUT
    globally sorting the data —

    1. per-block ``row_number`` over ``(pfx, id)`` within coarse
       prefix blocks (``substring(pfx, 1, block_chars)``) — a
       partitioned window, parallel;
    2. block offsets = running count over the sorted DISTINCT block
       list — a single-partition window over at most
       ``|alphabet|^block_chars`` rows (bounded, broadcastable);
    3. global position = block offset + in-block row number;
    4. neighbor candidates = equi-join ``pos2 = pos1 + i`` for
       i in 1..window-1 (an explode + hash join, never a range or
       cross join), then the banded 3-arg ``levenshtein`` verifier
       and min-per-pair, exactly as the window form.

    Unlike naive per-block lead(), pairs that CROSS block boundaries
    are found (positions are global), so results match the global
    window for every block granularity.
    """
    from tabular_to_parquet_spark.operators.ordering import with_global_position
    from tabular_to_parquet_spark.operators.text_analysis import normalized_text

    w_size = window
    pre = df.select(
        F.col(id_col).alias("id"),
        F.substring(normalized_text(F.col(text_col)), 1, prefix_len).alias("pfx"),
    )
    pos = with_global_position(
        pre, ["pfx", "id"], F.substring("pfx", 1, block_chars)
    ).select("id", "pfx", "pos")

    probe = pos.select(
        "id",
        "pfx",
        F.explode(
            F.array(*[F.lit(i) for i in range(1, w_size)])
        ).alias("i"),
        "pos",
    ).select("id", "pfx", (F.col("pos") + F.col("i")).alias("pos2"))

    right = pos.select(
        F.col("id").alias("id_r"),
        F.col("pfx").alias("pfx_r"),
        F.col("pos").alias("pos2"),
    )
    return (
        probe.join(right, "pos2")
        .select(
            F.least("id", "id_r").alias("id_a"),
            F.greatest("id", "id_r").alias("id_b"),
            F.levenshtein(F.col("pfx"), F.col("pfx_r"), max_dist).alias("d"),
        )
        .filter(F.col("d").between(0, max_dist))
        .groupBy("id_a", "id_b")
        .agg(F.min("d").cast("long").alias("edit_dist"))
    )


def cluster_representatives(
    clusters: DataFrame,
    quality: DataFrame,
    quality_col: str = "n_chars",
    id_col: str = "doc_id",
    min_members: int = 2,
) -> DataFrame:
    """Canonical-representative selection — the step every dedup
    pipeline ends with: given (id, cluster_id) assignments (from
    :func:`dup_clusters` / :func:`dup_clusters_fixpoint`) and a
    per-id quality frame, keep ONE representative per cluster
    (highest quality, lowest id on ties) with cluster stats.

    One shuffle on cluster_id serves the ranking window and the
    per-cluster aggregates (whole-partition window frames — Catalyst
    reuses the exchange); clusters below ``min_members`` are dropped
    (singletons are every unclustered id). Cluster sizes are dup-group
    sizes — bounded by true dup structure, never corpus-sized, so the
    per-partition window is safe at 100 TB."""
    from pyspark.sql import Window as W

    j = clusters.join(quality.select(id_col, quality_col), id_col)
    w = W.partitionBy("cluster_id")
    ranked = j.select(
        "cluster_id",
        F.col(id_col),
        F.row_number()
        .over(w.orderBy(F.col(quality_col).desc(), F.col(id_col).asc()))
        .alias("rn"),
        F.count(F.lit(1)).over(w).cast("long").alias("n_members"),
        F.max(quality_col).over(w).cast("long").alias("max_quality"),
        F.sum(quality_col).over(w).cast("long").alias("sum_quality"),
    )
    return (
        ranked.filter((F.col("rn") == 1) & (F.col("n_members") >= min_members))
        .select(
            "cluster_id",
            F.col(id_col).alias("rep_" + id_col),
            "n_members",
            "max_quality",
            "sum_quality",
        )
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int = 5,
    threshold: float = 0.8,
) -> DataFrame:
    """Asymmetric CONTAINMENT near-dup pairs via rare-anchor blocking:
    |S_a ∩ S_b| / min(|S_a|, |S_b|) ≥ threshold.

    The shape whole-document LSH structurally misses: a short document
    quoted inside a long one has high containment but LOW Jaccard, so
    its minhash signature never collides. Candidates here are pairs
    sharing at least one RARE shingle (document frequency in
    [2, max_df]) — rare shingles are near-certain in any contained
    copy, and the df cap bounds the per-anchor fan-out at max_df²/2
    pairs, so candidate volume is Σ_rare df² ≤ max_df · |postings|,
    linear in corpus size. Exact set intersection then runs ONLY on
    candidates (the d07 array_intersect verifier pattern). The single
    division is one IEEE rounding — oracle-exact."""
    docs = df.select(
        F.col(id_col), word_shingles(F.col(text_col)).alias("sh")
    )
    ex = docs.select(F.col(id_col), F.explode("sh").alias("g"))
    rare = (
        ex.groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= max_df))
        .select("g")
    )
    anchored = ex.join(rare, "g")
    x, y = anchored.alias("x"), anchored.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.g") == F.col("y.g"))
            & (F.col(f"x.{id_col}") < F.col(f"y.{id_col}")),
        )
        .select(
            F.col(f"x.{id_col}").alias("id_a"),
            F.col(f"y.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    a = docs.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = docs.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    scored = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("long").alias("inter"),
            F.size("sh_a").cast("long").alias("n_a"),
            F.size("sh_b").cast("long").alias("n_b"),
        )
    )
    contain = F.col("inter").cast("double") / F.least("n_a", "n_b")
    return scored.withColumn("containment", contain).filter(
        F.col("containment") >= threshold
    )


def _char_windows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 24,
) -> DataFrame:
    """Every k-char window of every document as (doc, pos, g) rows —
    the shared scan of the exact-substring family.  pos is 1-based;
    documents shorter than k emit nothing."""
    return (
        df.filter(F.length(text_col) >= k)
        .select(
            F.col(id_col).alias("doc"),
            F.explode(
                F.sequence(F.lit(1), F.length(text_col) - (k - 1))
            ).alias("pos"),
            F.col(text_col),
        )
        .select(
            "doc",
            F.col("pos").cast("long").alias("pos"),
            F.expr(f"substring({text_col}, pos, {k})").alias("g"),
        )
    )


def _char_windows_chunked(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    chunk_chars: int,
    macro_chars: int = 1 << 20,
) -> DataFrame:
    """:func:`_char_windows` for huge documents: a TWO-LEVEL chunked
    scan whose output (doc, pos, g) row set is IDENTICAL to the
    unchunked scan (every k-window appears exactly once, with global
    1-based positions), so every downstream operator (spans,
    coverage, decontamination) is value-invariant.

    Why two levels (r13 measurement): Spark's ``substring`` walks the
    string from byte 0 to the start offset on EVERY call (UTF8String
    has no character index), so the unchunked per-window
    ``substring(text, pos, k)`` is O(pos) — quadratic in document
    length, ~3e14 byte-steps for one 24 MB document.  Chunking must
    therefore bound the WALK, not just the per-row F.sequence array:
    level 1 cuts ~``macro_chars`` (1 MiB) macro-chunks from the
    document (few substring calls, each O(offset) over the full text
    — Σ ≈ len²/(2·macro_chars), negligible up to GB-scale docs);
    level 2 cuts ``chunk_chars``-sized sub-chunks within each
    macro-chunk; per-window substrings then walk at most
    ``chunk_chars`` bytes.  Total scan cost ≈ len · chunk_chars/2 —
    linear with a small constant (keep ``chunk_chars`` in the
    KB range, e.g. 4096; 2^20 as the WINDOW chunk re-creates the
    quadratic one level down).

    Both levels step ``size - k + 1`` (k-1 chars of overlap) so every
    window is covered by exactly one chunk at each level, and the
    last chunk at each level is always >= k chars by the step
    arithmetic.  The macro-chunk rows are REPARTITIONED before level
    2: a huge document lives in one input partition, so without
    redistribution its tens of millions of windows — and the df-cap
    groupBy's partial aggregation over them — all funnel through ONE
    task (measured r13: 4-task partial agg over 52 M near-unique
    grams spill-sorted for >10 min).  Chunking bounds memory and the
    substring walk; the repartition bounds SKEW — one ~1 MiB row per
    shuffle record, trivially cheap relative to the window stream it
    unlocks."""
    if chunk_chars <= k:
        raise ValueError(
            f"chunk_chars ({chunk_chars}) must exceed k ({k}) — a chunk "
            "must hold at least one window plus the k-1 overlap"
        )
    macro_chars = max(macro_chars, chunk_chars)
    mstep = macro_chars - k + 1
    sstep = chunk_chars - k + 1
    macro = (
        df.filter(F.length(text_col) >= k)
        .select(
            F.col(id_col).alias("doc"),
            F.explode(
                F.sequence(
                    F.lit(0),
                    ((F.length(text_col) - k) / mstep).cast("long"),
                )
            ).alias("mj"),
            F.col(text_col),
        )
        .select(
            "doc",
            (F.col("mj") * mstep + 1).cast("long").alias("mstart"),
            F.expr(
                f"substring({text_col}, CAST(mj * {mstep} + 1 AS INT), "
                f"{macro_chars})"
            ).alias("mc"),
        )
    )
    par = df.sparkSession.sparkContext.defaultParallelism
    sub = (
        macro.repartition(max(par, 8))
        .select(
            "doc",
            "mstart",
            F.explode(
                F.sequence(
                    F.lit(0),
                    ((F.length("mc") - k) / sstep).cast("long"),
                )
            ).alias("sj"),
            "mc",
        )
        .select(
            "doc",
            (F.col("mstart") + F.col("sj") * sstep).cast("long").alias("start"),
            F.expr(
                f"substring(mc, CAST(sj * {sstep} + 1 AS INT), "
                f"{chunk_chars})"
            ).alias("chunk"),
        )
    )
    return sub.select(
        "doc",
        F.explode(
            F.sequence(F.lit(1), F.length("chunk") - (k - 1))
        ).alias("lp"),
        "start",
        "chunk",
    ).select(
        "doc",
        (F.col("start") + F.col("lp") - 1).cast("long").alias("pos"),
        F.expr(f"substring(chunk, lp, {k})").alias("g"),
    )


def _df_capped_windows(
    wins: DataFrame,
    min_df: int,
    max_df: int,
) -> DataFrame:
    """(doc, pos, g) windows whose gram occurs in ``[min_df, max_df]``
    DISTINCT docs — the df-cap computed as two window functions over
    ONE hash exchange on ``g`` instead of a separate
    ``groupBy(g).agg(countDistinct(doc))`` + join back (r14
    optimization, guide §2.4): the old shape recomputed the whole
    window scan once for the aggregate and once per join side (the
    d22 static plan scanned the corpus 16×), and paid two aggregate
    exchanges on top of the join's.  Here the scan runs ONCE into a
    single Exchange(g); within each g-partition a ``lag(doc)`` over
    (g, doc) order marks each doc's first occurrence and a
    full-frame sum counts distinct docs — both windows share the one
    sort, and WindowExec's buffer SPILLS to disk, so a stop-phrase
    gram (millions of docs before the cap drops it) degrades to disk
    instead of OOM — the same bound the old join probe side had.
    Output multiset is IDENTICAL to the agg+join form (the filter is
    on the same per-gram distinct-doc count)."""
    from pyspark.sql import Window as W

    wgo = W.partitionBy("g").orderBy("doc")
    prev = F.lag("doc").over(wgo)
    marked = wins.withColumn(
        "_new", F.when(prev.isNull() | (prev != F.col("doc")), 1).otherwise(0)
    )
    nd = F.sum("_new").over(W.partitionBy("g"))
    return (
        marked.withColumn("_nd", nd)
        .filter((F.col("_nd") >= min_df) & (F.col("_nd") <= max_df))
        .select("doc", "pos", "g")
    )


def _substring_seed_hits(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 24,
    max_df: int = 6,
    chunk_chars: int | None = None,
) -> DataFrame:
    """Shared seed-hit derivation for the exact-substring family
    (:func:`substring_duplicate_spans`, :func:`duplicated_char_fraction`):
    every k-char window of every document, df-capped to [2, max_df]
    distinct docs, equi-joined on the window STRING itself — emits one
    (doc_a, doc_b, pa, pb) row per matched position pair, doc_a <
    doc_b.  ``chunk_chars`` bounds the per-window substring walk, the
    per-row arrays AND the per-task skew for huge documents
    (value-invariant; see :func:`_char_windows_chunked`).  DEFAULT
    KNOB (r13 hugedoc measurement): pass ``chunk_chars=4096``
    whenever any document can exceed ~1 MB — the unchunked scan's
    per-window ``substring(text, pos, k)`` walks O(pos) bytes, i.e.
    quadratic in document length (a 24 MB document alone is ~3e14
    byte-steps; the 4096-chunk scan does the same corpus in tens of
    seconds).  For benchmark-shaped corpora (KB documents) leave it
    None: the extra exchange is pure overhead.

    Plan shape (r14): the window scan runs ONCE into one Exchange(g)
    (:func:`_df_capped_windows`); the pair self-join is a sort-merge
    join whose two sides re-read that exchange (ReusedExchange under
    AQE), sorted (g, doc) once — no broadcast of a corpus-sized side,
    no recomputation of the scan per branch."""
    wins = (
        _char_windows_chunked(df, text_col, id_col, k, chunk_chars)
        if chunk_chars
        else _char_windows(df, text_col, id_col, k)
    )
    anchored = _df_capped_windows(wins, 2, max_df)
    x, y = anchored.alias("x"), anchored.alias("y")
    return x.join(
        y, (F.col("x.g") == F.col("y.g")) & (F.col("x.doc") < F.col("y.doc"))
    ).select(
        F.col("x.doc").alias("doc_a"),
        F.col("y.doc").alias("doc_b"),
        F.col("x.pos").alias("pa"),
        F.col("y.pos").alias("pb"),
    )


def substring_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 24,
    max_df: int = 6,
    chunk_chars: int | None = None,
) -> DataFrame:
    """EXACT longest-duplicated-substring pairs — the exact-substring
    dedup of Lee et al., "Deduplicating Training Data Makes Language
    Models Better" (their suffix-array sweep), re-expressed
    relationally: every document emits its k-char windows (seed
    k-grams); documents sharing a seed are found by an equi-join on
    the WINDOW STRING ITSELF (no hashing — hash collisions cannot
    exist); per (pair, alignment offset = pos_a - pos_b) the shared
    positions form gaps-and-islands, and an island of L consecutive
    positions certifies an exact common substring of L + k - 1 chars.
    Emits per pair the longest such span and the seed-hit count:
    (doc_a, doc_b, lcs_len >= k, n_seed_hits).

    Semantics note: seeds are document-frequency-capped to [2,
    max_df] distinct docs (rare-anchor blocking, the
    containment_pairs discipline) — stop-phrase windows, the skew
    killers at 100 TB, never reach the join.  A capped window inside
    a true duplicated span splits its island, so lcs_len is the
    longest span AS WITNESSED BY CAPPED SEEDS — a documented
    under-approximation that both engines (and real pipelines, which
    cap identically for the same reason) share deterministically.

    Scale shape: window explosion is linear in corpus chars (the x07
    winnowing footprint); per-seed pair fan-out is bounded by
    max_df^2; islands are a PARTITIONED window over (pair, offset) —
    no global window; all arithmetic is integer, zero UDFs.

    Per-ROW memory limit (shared with x07 winnowing): the window
    positions come from ``F.sequence(1, len - k + 1)`` which
    materializes the full position array for one document in one row
    BEFORE the explode fans out — a single 100 MB document builds a
    ~100M-element array (~800 MB as Catalyst longs) on one executor.
    "Linear in corpus chars" is the aggregate cost; the per-row spike
    is the binding constraint when individual documents are huge.  If
    such documents are in scope, pass ``chunk_chars`` (e.g. 2**20):
    windows are then generated per overlapping chunk with GLOBAL
    positions (:func:`_char_windows_chunked`) — output rows are
    IDENTICAL (tested) and the max per-row array drops from document
    length to chunk_chars."""
    from pyspark.sql import Window as W

    hits = _substring_seed_hits(
        df, text_col, id_col, k, max_df, chunk_chars=chunk_chars
    )
    w = W.partitionBy("doc_a", "doc_b", "off").orderBy("pa")
    isl = hits.withColumn("off", F.col("pa") - F.col("pb")).withColumn(
        "grp", F.col("pa") - F.row_number().over(w)
    )
    # per-island span AND hit count in one agg (in place — the island
    # keys extend the window's partition keys, no exchange), then one
    # per-pair agg: every hit row belongs to exactly one island, so
    # sum(island sizes) IS count(hits) — the r14 single-branch shape
    # that replaces the old second full recomputation of the seed-hit
    # pipeline for n_seed_hits plus the lcs⋈nhits join (guide §2.4)
    spans = isl.groupBy("doc_a", "doc_b", "off", "grp").agg(
        (F.max("pa") - F.min("pa") + F.lit(k)).alias("span"),
        F.count(F.lit(1)).alias("n_in_island"),
    )
    return spans.groupBy("doc_a", "doc_b").agg(
        F.max("span").cast("long").alias("lcs_len"),
        F.sum("n_in_island").cast("long").alias("n_seed_hits"),
    )


def _merged_interval_chars(iv: DataFrame) -> DataFrame:
    """Per-doc total chars covered by the UNION of [s, e] intervals —
    the classic running-max sweep (new run when s exceeds the max end
    seen so far), shared by :func:`duplicated_char_fraction` (cross-
    document intervals) and :func:`self_repeated_char_fraction`
    (within-document intervals).  Input columns (doc, s, e); output
    (doc, dup_chars).  The window is PARTITIONED per doc — bounded
    state at any corpus size."""
    from pyspark.sql import Window as W

    wo = W.partitionBy("doc").orderBy("s", "e")
    prev_end = F.max("e").over(wo.rowsBetween(W.unboundedPreceding, -1))
    flagged = iv.withColumn(
        "fl",
        F.when(prev_end.isNull() | (F.col("s") > prev_end), F.lit(1))
        .otherwise(F.lit(0)),
    ).withColumn(
        "mg", F.sum("fl").over(wo.rowsBetween(W.unboundedPreceding, 0))
    )
    runs = flagged.groupBy("doc", "mg").agg(
        F.min("s").alias("rs"), F.max("e").alias("re")
    )
    return runs.groupBy("doc").agg(
        F.sum(F.col("re") - F.col("rs") + 1).cast("long").alias("dup_chars")
    )


def duplicated_char_fraction(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 24,
    max_df: int = 6,
    chunk_chars: int | None = None,
) -> DataFrame:
    """Per-document duplicated-character fraction — the metric Lee et
    al. actually FILTER on once spans are found: a character position
    counts as duplicated when it lies inside an exact >= k-char span
    shared with another document (as witnessed by the same df-capped
    seeds as :func:`substring_duplicate_spans`, so the two operators
    agree on what "duplicated" means).  Scope narrowing vs the paper
    (r12 ADVICE): only CROSS-document spans count — a >= k-char span
    repeated within a single document contributes zero here, whereas
    Lee et al.'s suffix-array dup-fraction also catches self-repeats
    (that axis is its own column: :func:`self_repeated_char_fraction`,
    with ``repetition_stats`` owning the degenerate-run corner), so
    filter thresholds from the paper are not directly transferable.
    Emits EVERY document:
    (doc_id, n_chars, dup_chars, dup_permille) with dup_permille =
    floor(1000 * dup_chars / n_chars) — all-integer, value-hashable.

    Derivation: each island of consecutive shared positions per (pair,
    offset) covers [min_pa, max_pa + k - 1] on side A and the same
    interval shifted by -offset on side B; per document the intervals
    from all pairs/sides merge by the classic running-max sweep (new
    run when start > max end seen so far), and the merged run lengths
    sum to dup_chars.  Overlap double-counting is impossible by
    construction of the merge.

    Scale shape: inherits the seed-hit bounds (window explode linear
    in corpus chars, pair fan-out <= max_df^2 per seed — and the same
    huge-document rule: pass ``chunk_chars=4096`` when any document
    can exceed ~1 MB, see :func:`substring_duplicate_spans`); the
    merge is a PARTITIONED window per document; the
    final step is a broadcast-friendly left join back to the corpus
    keyed by document id."""
    from pyspark.sql import Window as W

    hits = _substring_seed_hits(
        df, text_col, id_col, k, max_df, chunk_chars=chunk_chars
    )
    w = W.partitionBy("doc_a", "doc_b", "off").orderBy("pa")
    isl = hits.withColumn("off", F.col("pa") - F.col("pb")).withColumn(
        "grp", F.col("pa") - F.row_number().over(w)
    )
    sp = isl.groupBy("doc_a", "doc_b", "off", "grp").agg(
        F.min("pa").alias("sa"),
        (F.max("pa") + F.lit(k - 1)).alias("ea"),
    )
    # both sides' intervals from ONE explode instead of a unionAll of
    # two projections — the union's branches each re-executed the
    # whole hits→islands subtree (r14, guide §2.4); row multiset is
    # identical (side A: [sa, ea]; side B shifted by -off)
    iv = sp.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("doc"),
                    F.col("sa").alias("s"),
                    F.col("ea").alias("e"),
                ),
                F.struct(
                    F.col("doc_b").alias("doc"),
                    (F.col("sa") - F.col("off")).alias("s"),
                    (F.col("ea") - F.col("off")).alias("e"),
                ),
            )
        ).alias("_iv")
    ).select("_iv.doc", "_iv.s", "_iv.e")
    dup = _merged_interval_chars(iv)
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.length(text_col).cast("long").alias("n_chars"),
    )
    return (
        base.join(
            dup.withColumnRenamed("doc", "doc_id"), "doc_id", "left"
        )
        .fillna(0, ["dup_chars"])
        .select(
            "doc_id",
            "n_chars",
            F.col("dup_chars").cast("long").alias("dup_chars"),
            F.expr(
                "CASE WHEN n_chars > 0 THEN (1000 * dup_chars) div n_chars "
                "ELSE 0 END"
            ).cast("long").alias("dup_permille"),
        )
    )


def self_repeated_char_fraction(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 24,
    max_occ: int = 8,
    chunk_chars: int | None = None,
) -> DataFrame:
    """Per-document SELF-duplicated character fraction — the
    within-document axis :func:`duplicated_char_fraction` explicitly
    scopes out: a character position counts when it lies inside an
    exact >= k-char span that occurs AGAIN elsewhere in the SAME
    document (boilerplate headers pasted twice, tandem repeats,
    templated sections — the self-repeat signal Lee et al.'s
    suffix-array dup-fraction folds into one number; here it is its
    own column so corpus-level and self-level duplication filter
    independently).  Emits EVERY document: (doc_id, n_chars,
    self_dup_chars, self_dup_permille), all-integer.

    Witness algebra (the d22 family, turned inward): within-doc gram
    occurrence pairs (pa < pb) at offset off = pb - pa; islands of
    consecutive pa per (doc, off) certify a span [sa, ea] recurring
    at +off; BOTH copies' intervals enter the per-doc merge
    (:func:`_merged_interval_chars` — overlapping copies, e.g.
    period-p tandem repeats with p < k, union correctly).

    Stop-gram guard: grams occurring more than ``max_occ`` times in
    the document are dropped — the within-document analog of d22's
    corpus df cap, bounding pair fan-out at max_occ^2 per gram.  The
    documented trade: a document that is ONE degenerate run (e.g.
    "aaaa...") has every gram above the cap and scores 0 here —
    ``repetition_stats`` owns that degenerate axis; this metric
    targets structural >= k-char repeats.

    Scale shape: window explode linear in corpus chars (same
    huge-document rule as the d22 family — pass ``chunk_chars=4096``
    when any document can exceed ~1 MB); the occurrence self-join is
    keyed (doc, g) so it
    never crosses documents; islands and the merge are partitioned
    windows per document."""
    from pyspark.sql import Window as W

    wnd = (
        _char_windows_chunked(df, text_col, id_col, k, chunk_chars)
        if chunk_chars
        else _char_windows(df, text_col, id_col, k)
    )
    # occurrence cap as ONE window count over a single Exchange(doc, g)
    # instead of groupBy+join-back (r14, guide §2.4 — the old shape
    # recomputed the window scan once for the cap aggregate and once
    # per self-join side); the multiset surviving the filter is
    # identical, and the self-join's sort-merge sides re-read the same
    # exchange (ReusedExchange under AQE)
    occ = (
        wnd.withColumn(
            "cnt", F.count(F.lit(1)).over(W.partitionBy("doc", "g"))
        )
        .filter((F.col("cnt") >= 2) & (F.col("cnt") <= max_occ))
        .select("doc", "g", "pos")
    )
    pairs = (
        occ.select("doc", "g", F.col("pos").alias("pa"))
        .join(
            occ.select("doc", "g", F.col("pos").alias("pb")),
            ["doc", "g"],
        )
        .filter(F.col("pa") < F.col("pb"))
        .select("doc", (F.col("pb") - F.col("pa")).alias("off"), "pa")
    )
    w = W.partitionBy("doc", "off").orderBy("pa")
    isl = pairs.withColumn("grp", F.col("pa") - F.row_number().over(w))
    sp = isl.groupBy("doc", "off", "grp").agg(
        F.min("pa").alias("sa"),
        (F.max("pa") + F.lit(k - 1)).alias("ea"),
    )
    # both copies' intervals from ONE explode (not unionAll — see
    # duplicated_char_fraction; identical row multiset, single branch)
    iv = sp.select(
        "doc",
        F.explode(
            F.array(
                F.struct(F.col("sa").alias("s"), F.col("ea").alias("e")),
                F.struct(
                    (F.col("sa") + F.col("off")).alias("s"),
                    (F.col("ea") + F.col("off")).alias("e"),
                ),
            )
        ).alias("_iv"),
    ).select("doc", "_iv.s", "_iv.e")
    dup = _merged_interval_chars(iv)
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.length(text_col).cast("long").alias("n_chars"),
    )
    return (
        base.join(
            dup.withColumnRenamed("doc", "doc_id"), "doc_id", "left"
        )
        .fillna(0, ["dup_chars"])
        .select(
            "doc_id",
            "n_chars",
            F.col("dup_chars").cast("long").alias("self_dup_chars"),
            F.expr(
                "CASE WHEN n_chars > 0 THEN (1000 * dup_chars) div n_chars "
                "ELSE 0 END"
            ).cast("long").alias("self_dup_permille"),
        )
    )


def substring_decontaminate(
    corpus: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 24,
    max_df: int = 6,
    chunk_chars: int | None = None,
) -> DataFrame:
    """Exact-substring benchmark decontamination — the STRONG form of
    what :func:`pipeline.decontaminate`'s n-gram overlap approximates:
    flag every corpus document that shares an exact >= k-char
    character span with ANY eval document.  Emits one row per
    contaminated corpus doc: (doc_id, max_shared_span, n_eval_docs,
    n_spans) — span length certifies the leak, the counts size it.

    Seed discipline is ASYMMETRIC by design: corpus-side windows are
    df-capped to <= max_df distinct corpus docs (the stop-phrase guard
    — at 100 TB an uncapped boilerplate gram joins everything), but
    the eval side is NEVER capped: eval sets are benchmark-sized and a
    dropped eval gram is a missed leak.  A corpus doc whose only
    shared grams are boilerplate above the cap is not flagged — the
    documented trade both engines (and the oracle) share exactly.

    Scale shape: corpus windows stream through one explode (linear in
    corpus chars; same huge-document rule as the d22 family — pass
    ``chunk_chars=4096`` when any corpus document can exceed ~1 MB);
    the eval window set is broadcast (benchmark-sized by contract);
    islands are a partitioned window per (corpus doc, eval doc,
    offset); output is per corpus doc.  Zero UDFs, all integer."""
    from pyspark.sql import Window as W

    cw = (
        _char_windows_chunked(corpus, text_col, id_col, k, chunk_chars)
        if chunk_chars
        else _char_windows(corpus, text_col, id_col, k)
    )
    ew = _char_windows(eval_df, text_col, id_col, k)  # eval: small by contract
    # corpus-side df-cap as window functions over ONE Exchange(g)
    # (:func:`_df_capped_windows` with min_df=1 — the ndocs >= 1 arm is
    # vacuous) instead of groupBy+join-back, which recomputed the
    # corpus window scan twice (r14, guide §2.4); the broadcast of the
    # (uncapped, benchmark-sized) eval windows is unchanged
    hits = (
        _df_capped_windows(cw, 1, max_df)
        .join(
            F.broadcast(
                ew.select(
                    F.col("doc").alias("e_doc"),
                    F.col("pos").alias("pe"),
                    "g",
                )
            ),
            "g",
        )
        .select(
            F.col("doc").alias("c_doc"),
            "e_doc",
            F.col("pos").alias("pc"),
            "pe",
        )
    )
    w = W.partitionBy("c_doc", "e_doc", "off").orderBy("pc")
    isl = hits.withColumn("off", F.col("pc") - F.col("pe")).withColumn(
        "grp", F.col("pc") - F.row_number().over(w)
    )
    spans = isl.groupBy("c_doc", "e_doc", "off", "grp").agg(
        (F.max("pc") - F.min("pc") + F.lit(k)).alias("span")
    )
    return spans.groupBy("c_doc").agg(
        F.max("span").cast("long").alias("max_shared_span"),
        F.countDistinct("e_doc").cast("long").alias("n_eval_docs"),
        F.count(F.lit(1)).cast("long").alias("n_spans"),
    ).withColumnRenamed("c_doc", "doc_id")
