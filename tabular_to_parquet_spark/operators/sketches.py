"""Distributed sketch operators (count-min) for corpus statistics.

A count-min sketch (Cormode & Muthukrishnan 2005) summarizes token
frequencies in a fixed ``depth × width`` integer grid: cell
``(j, h_j(tok) % width)`` accumulates the token's count; the estimate
for any token is the MIN over the ``depth`` rows — an upper bound on
the true count with error ≤ 2N/width at 1-(1/2)^depth confidence.

Why it matters at 100 TB: the vocabulary of a web corpus does not fit
in driver memory, but the sketch is O(depth × width) REGARDLESS of
corpus size, and it is a pure sum — each executor sketches its splits
with map-side combine and the reduce merges ``depth × width`` cells.
Here the heavy aggregation is done vocabulary-first (token → count,
one shuffle on the token key), then folded into the sketch grid
(vocab-size → depth×width rows) so the sketch build adds no
corpus-sized shuffle beyond the count itself.

Determinism: hashes are ``md5_i64`` (seeded per row j), counts exact
BIGINTs — the DuckDB oracle rebuilds the identical grid.

No reference counterpart (/root/reference/src has no sketches);
LLM-pipeline extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tabular_to_parquet_spark.functions.hashing import md5_i64

CMS_DEPTH = 4
CMS_WIDTH = 1024


def _bucket(tok, j: int, width: int):
    # md5_i64 is non-negative (60-bit), so % == pmod
    return md5_i64(tok, seed=f"cms{j}") % width


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(token, n) exact counts of the lowercased tokens — the one
    corpus-sized shuffle."""
    from tabular_to_parquet_spark.operators.text_analysis import tokens

    return (
        df.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def cms_build(
    counts: DataFrame,
    token_col: str = "token",
    n_col: str = "n",
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Fold exact (token, n) counts into the depth×width grid.

    Output: (j, bucket, cnt) — at most depth×width rows. The explode
    multiplies the VOCABULARY (not the corpus) by ``depth``; the final
    groupBy is a bounded hash-agg with map-side combine.
    """
    tok = F.col(token_col)
    rows = counts.select(
        F.col(n_col).alias("_n"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(j).alias("j"),
                    _bucket(tok, j, width).alias("bucket"),
                )
                for j in range(depth)
            ])
        ).alias("cell"),
    )
    return (
        rows.select("cell.j", "cell.bucket", "_n")
        .groupBy("j", "bucket")
        .agg(F.sum("_n").cast("long").alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    token_col: str = "token",
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Point-query the sketch for each probe token: min over rows.

    The sketch is depth×width rows — always broadcastable; the probe
    side never shuffles.
    """
    tok = F.col(token_col)
    cells = probes.select(
        token_col,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(j).alias("j"),
                    _bucket(tok, j, width).alias("bucket"),
                )
                for j in range(depth)
            ])
        ).alias("cell"),
    ).select(token_col, "cell.j", "cell.bucket")
    # Left join + coalesce(0): a probe token absent from the corpus has
    # empty cells (no sketch row), and true CMS semantics count an empty
    # cell as 0 — an inner join would inflate the MIN (or drop the probe
    # entirely). Corpus-derived probes are unaffected: every cell they
    # hash to holds at least their own count, so all their rows match.
    return (
        cells.join(F.broadcast(sketch), on=["j", "bucket"], how="left")
        .groupBy(token_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("n_est"))
    )


def cms_sql(depth: int = CMS_DEPTH, width: int = CMS_WIDTH) -> dict[str, str]:
    """DuckDB SQL fragments rebuilding the identical sketch.

    Returns {'grid': <j-range relation>, 'bucket': <fn(tok_expr, j_expr)>}
    building blocks for oracles.
    """
    from tabular_to_parquet_spark.functions.hashing import md5_i64_sql

    js = ", ".join(str(j) for j in range(depth))

    def bucket(tok_expr: str, j_expr: str) -> str:
        h = md5_i64_sql(f"'cms' || {j_expr} || '#' || {tok_expr}")
        return f"({h} % {width})"

    return {"js": f"(SELECT unnest([{js}]) AS j)", "bucket": bucket}


# ---------------------------------------------------------------------------
# HyperLogLog registers (own deterministic construction)

HLL_BUCKETS = 64  # p = 6
HLL_W_BITS = 48  # rank window inside the 60-bit md5 hash


def hll_registers(df: DataFrame, key_col: str) -> DataFrame:
    """Deterministic HLL register table over ``key_col``: bucket =
    h % 64 of the md5-derived 60-bit hash, register = max over keys of
    (49 - bit_length(w48)) where w48 is the next 48 hash bits — the
    leading-zero rank, computed exactly in both engines via
    ``length(bin(x))`` (no floats, no platform clz).

    Unlike ``approx_count_distinct`` the register STATE is a first-
    class bounded DataFrame (<= 64 rows), which is what makes the
    sketch mergeable BY QUERY: union partials, per-bucket MAX.
    Duplicates can't move a max, so the estimate depends only on the
    distinct key set — the property st11 certifies through the
    micro-batch path."""
    from tabular_to_parquet_spark.functions.hashing import md5_i64

    h = md5_i64(F.col(key_col).cast("string"), seed="hll")
    # h div 64 via shiftright — exact for the full 60-bit range (a
    # double-division cast would round past 2^53)
    w48 = F.shiftright(h, 6).bitwiseAND(F.lit((1 << HLL_W_BITS) - 1))
    bits = F.when(w48 == 0, F.lit(0)).otherwise(
        F.length(F.bin(w48)).cast("long")
    )
    return (
        df.select(
            F.pmod(h, F.lit(HLL_BUCKETS)).cast("long").alias("bucket"),
            (F.lit(HLL_W_BITS + 1) - bits).cast("long").alias("rho"),
        )
        .groupBy("bucket")
        .agg(F.max("rho").cast("long").alias("register"))
    )


def hll_sql(key_expr: str) -> str:
    """DuckDB relation computing the identical register table."""
    from tabular_to_parquet_spark.functions.hashing import md5_i64_sql

    h = md5_i64_sql(f"'hll#' || {key_expr}")
    return f"""(
    WITH hh AS (SELECT {h} AS h FROM __HLL_SRC__),
    wb AS (
        SELECT h % {HLL_BUCKETS} AS bucket,
               (h // {HLL_BUCKETS}) % {1 << HLL_W_BITS} AS w48
        FROM hh
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(MAX({HLL_W_BITS + 1} -
                    (CASE WHEN w48 = 0 THEN 0 ELSE length(bin(w48)) END))
                AS BIGINT) AS register
    FROM wb GROUP BY bucket
)"""
