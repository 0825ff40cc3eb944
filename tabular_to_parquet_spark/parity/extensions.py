"""Extension-operator parity catalog (SURVEY.md §7.4).

Registers the training-data-pipeline operators — dedup, similarity
search, text analysis, multimodal, event windows — into the shared
``CATALOG`` with DuckDB oracles that re-derive every value
independently (same md5-derived hashes, same sequential float folds,
same integer math — see functions/hashing.py and operators/dedup.py
for the cross-engine determinism rules).

Only scalar output columns (no arrays) so the driver's
pandas-level compare is type-stable; every count/rank is cast to
BIGINT on both sides.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tabular_to_parquet_spark.functions.hashing import HEX_CHARS
from tabular_to_parquet_spark.operators import dedup, multimodal, similarity
from tabular_to_parquet_spark.operators import text_analysis as ta
from tabular_to_parquet_spark.parity.catalog import CATALOG, register
from tabular_to_parquet_spark.sources.tables import load_table
from tabular_to_parquet_spark.streaming.streams import (
    sessionize_frame,
    sessionize_stream,
    windowed_event_stats,
)

# Driver-side fixture materialization cap. A handful of queries
# (avro1/2/3, sql1, st2, st3) build an external-format fixture —
# Avro container, SQLite db, streaming-source parquet waves — by
# materializing a testdata slice with toPandas(). That's harness
# setup, not the measured operator, and is small at sf0.01/sf0.1;
# the cap turns a future sf bump into a clear error instead of a
# silent driver OOM.
_FIXTURE_ROW_CAP = 2_000_000


def _fixture_pdf(df: DataFrame, cap: int = _FIXTURE_ROW_CAP):
    """``df.toPandas()`` with an explicit row bound for fixture builders."""
    pdf = df.limit(cap + 1).toPandas()
    if len(pdf) > cap:
        raise RuntimeError(
            f"fixture materialization exceeds {cap} rows; "
            "shrink the slice (filter/limit) before toPandas()"
        )
    return pdf


# ---------------------------------------------------------------------------
# shared DuckDB fragments — literal transcriptions of the Spark builders

#: whitespace tokens of trim(text), empties removed  (ta.tokens)
_TOKS = "list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x != '')"
#: lowercased variant (ta.tokens(F.lower(c)))
_TOKS_LC = "list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x != '')"
#: fingerprint normalization (ta.normalized_text)
_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"


def _md5i(expr: str, seed: str | None = None) -> str:
    if seed is not None:
        expr = f"('{seed}#' || {expr})"
    return f"(('0x' || substr(md5({expr}), 1, {HEX_CHARS}))::BIGINT)"


def _shingles(toks: str, w: int = 3) -> str:
    """Distinct w-word shingles of a token list (ta.word_shingles)."""
    parts = " || ' ' || ".join(f"{toks}[i+{j}]" if j else f"{toks}[i]" for j in range(w))
    return (
        f"(CASE WHEN len({toks}) >= {w} THEN "
        f"list_distinct(list_transform(range(1, len({toks}) - {w - 2}), i -> {parts})) "
        f"ELSE [] END)"
    )


def _dot(a: str, b: str, dim: int = 64) -> str:
    """Sequential left-to-right double fold == dedup.dot_product."""
    return (
        f"list_reduce(list_transform(range(1, {dim + 1}), "
        f"i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE), (x, y) -> x + y)"
    )


def _cosine(a: str, b: str, dim: int = 64) -> str:
    return f"({_dot(a, b, dim)} / (sqrt({_dot(a, a, dim)}) * sqrt({_dot(b, b, dim)})))"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


# ---------------------------------------------------------------------------
# text analysis


def _q_token_count(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        "doc_id", ta.token_count(F.col("text")).cast("long").alias("n_tokens")
    )


register("x01_token_count", f"""
SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens FROM documents
""")(_q_token_count)


def _q_bpe_token_count(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        "doc_id", ta.bpe_token_count(F.col("text")).cast("long").alias("n_bpe_tokens")
    )


# SQL single-quote doubling for the literal apostrophe in the pattern
_BPE_RE_SQL = ta.BPE_TOKEN_RE.replace("'", "''")

register("x06_bpe_token_count", f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_BPE_RE_SQL}', 0)) AS BIGINT)
           AS n_bpe_tokens
FROM documents
""")(_q_bpe_token_count)


def _q_bpe_real(spark, sf_dir):
    """Real learned-merges BPE token counts (functions/bpe.py): the
    64-entry merge table rides into the plan as literals and the whole
    encode is one codegen'd chain of built-in ``replace`` calls — no
    UDF, no shuffle. This count is the packing-budget contract
    (pl05-compatible token column)."""
    from tabular_to_parquet_spark.functions import bpe

    return _docs(spark, sf_dir).select(
        "doc_id",
        bpe.bpe_token_count(F.col("text"), bpe.BPE_MERGES).alias("n_bpe_real"),
    )


def _x11_sql() -> str:
    from tabular_to_parquet_spark.functions import bpe

    cnt = bpe.bpe_token_count_sql("text", bpe.BPE_MERGES, _BPE_RE_SQL)
    return f"""
SELECT doc_id, CAST({cnt} AS BIGINT) AS n_bpe_real FROM documents
"""


register("x11_bpe_token_counts", _x11_sql())(_q_bpe_real)


def _q_fingerprint(spark, sf_dir):
    return ta.fingerprint(_docs(spark, sf_dir))


register("x02_fingerprint", f"""
SELECT doc_id, md5({_NORM}) AS fp_md5, {_md5i(_NORM)} AS fp_i64 FROM documents
""")(_q_fingerprint)


def _q_quality(spark, sf_dir):
    q = ta.quality(_docs(spark, sf_dir))
    return q.withColumn("n_tokens", F.col("n_tokens").cast("long"))


_PUNCT_RE = "'[.,;:!?''\"()\\[\\]{}-]'"
_EN_STOP = ", ".join(f"'{w}'" for w in ta.STOPWORDS["en"])

register("x03_quality", f"""
SELECT doc_id,
       CAST(n_chars AS BIGINT) AS n_chars,
       CAST(n_tok AS BIGINT) AS n_tokens,
       CASE WHEN n_tok > 0 THEN n_chars::DOUBLE / n_tok ELSE 0.0 END AS mean_word_len,
       CASE WHEN n_chars > 0 THEN n_punct::DOUBLE / n_chars ELSE 0.0 END AS punct_ratio,
       CASE WHEN n_tok_lc > 0 THEN n_stop::DOUBLE / n_tok_lc ELSE 0.0 END AS stopword_ratio,
       (n_tok BETWEEN 5 AND 100000
        AND (CASE WHEN n_chars > 0 THEN n_punct::DOUBLE / n_chars ELSE 0.0 END) < 0.3
        AND (CASE WHEN n_tok > 0 THEN n_chars::DOUBLE / n_tok ELSE 0.0 END) >= 2.0
        AND (CASE WHEN n_tok > 0 THEN n_chars::DOUBLE / n_tok ELSE 0.0 END) <= 20.0)
           AS is_good
FROM (
    SELECT doc_id,
           length(text) AS n_chars,
           len({_TOKS}) AS n_tok,
           len({_TOKS_LC}) AS n_tok_lc,
           length(text) - length(regexp_replace(text, {_PUNCT_RE}, '', 'g')) AS n_punct,
           len(list_filter({_TOKS_LC}, t -> list_contains([{_EN_STOP}], t))) AS n_stop
    FROM documents
)
""")(_q_quality)


def _q_lang_id(spark, sf_dir):
    return ta.lang_id(_docs(spark, sf_dir))


def _lang_oracle() -> str:
    hits = {
        lang: f"len(list_filter(toks, t -> list_contains([{', '.join(repr(w) for w in words)}], t)))"
        for lang, words in ta.STOPWORDS.items()
    }
    hit_cols = ", ".join(f"{e} AS h_{lang}" for lang, e in hits.items())
    best = "greatest(" + ", ".join(f"h_{lang}" for lang in ta.LANG_ORDER) + ")"
    whens = " ".join(
        f"WHEN h_{lang} > 0 AND h_{lang} = {best} THEN '{lang}'"
        for lang in ta.LANG_ORDER
    )
    return f"""
SELECT doc_id, (CASE {whens} ELSE 'und' END) AS lang_pred
FROM (SELECT doc_id, {hit_cols}
      FROM (SELECT doc_id, {_TOKS_LC} AS toks FROM documents))
"""


register("x04_lang_id", _lang_oracle())(_q_lang_id)


def _q_winnow(spark, sf_dir):
    return ta.winnow_fingerprints(_docs(spark, sf_dir))


register("x07_winnow_fingerprints", f"""
WITH grams AS (
    SELECT doc_id, i AS pos,
           {_md5i(f'substr(norm, i, {ta.WINNOW_K})')} AS h
    FROM (SELECT doc_id, {_NORM} AS norm FROM documents),
         LATERAL (SELECT unnest(range(1, length(norm) - {ta.WINNOW_K - 2})) AS i)
    WHERE length(norm) >= {ta.WINNOW_K}
),
mins AS (
    SELECT doc_id,
           min(h) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND {ta.WINNOW_W - 1} FOLLOWING)
               AS fingerprint,
           pos,
           max(pos) OVER (PARTITION BY doc_id) AS max_pos
    FROM grams
)
SELECT DISTINCT doc_id, fingerprint
FROM mins WHERE pos <= max_pos - {ta.WINNOW_W - 1}
""")(_q_winnow)

_WINNOW_ORACLE = CATALOG["x07_winnow_fingerprints"].oracle


def _q_winnow_rolling(spark, sf_dir):
    """Rolling-hash mapInPandas winnowing — must produce the exact same
    fingerprint set as the expression path (x07), with ZERO shuffle:
    each doc is winnowed inside the Arrow batch that holds it."""
    return ta.winnow_fingerprints_rolling(_docs(spark, sf_dir))


register("x10_winnow_rolling", _WINNOW_ORACLE)(_q_winnow_rolling)


def _q_top_tokens(spark, sf_dir):
    """Corpus vocabulary heavy hitters: explode lowercased tokens →
    count → global top 20 (deterministic tiebreak on the token).
    The 100 TB shape: map-side partial agg on the token, then
    ``orderBy(...).limit(20)`` — Catalyst plans TakeOrderedAndProject
    (per-partition top-20 + driver merge), so no partition ever holds
    more than 20 rows of the billion-token vocabulary. ``rank`` is a
    window over the 20-row result only, which is free."""
    from pyspark.sql import Window as W

    toks = _docs(spark, sf_dir).select(
        F.explode(ta.tokens(F.lower(F.col("text")))).alias("token")
    )
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    top = counts.orderBy(F.col("n").desc(), F.col("token")).limit(20)
    w = W.orderBy(F.col("n").desc(), F.col("token"))
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


register("x09_top_tokens", f"""
WITH counts AS (
    SELECT t AS token, CAST(COUNT(*) AS BIGINT) AS n
    FROM documents, LATERAL (SELECT unnest({_TOKS_LC}) AS t)
    GROUP BY t
)
SELECT token, n, CAST(rank AS BIGINT) AS rank FROM (
    SELECT *, row_number() OVER (ORDER BY n DESC, token) AS rank FROM counts)
WHERE rank <= 20
""")(_q_top_tokens)


def _q_lang_source_pivot(spark, sf_dir):
    """PIVOT coverage: language × source crosstab with explicit pivot
    values (explicit values keep the plan a single pass — Spark skips
    the extra distinct-scan job it needs to discover them — and pin
    the output schema, which is what a production crosstab wants).
    Oracle: conditional aggregation, the relational spelling of the
    same table."""
    docs = _docs(spark, sf_dir)
    langs = ["en", "fr", "de", "es"]
    out = (
        docs.groupBy("source")
        .pivot("lang", langs)
        .agg(F.count(F.lit(1)))
        .na.fill(0, langs)
    )
    return out.select(
        "source", *[F.col(l).cast("long").alias(f"n_{l}") for l in langs]
    )


register("x14_lang_source_pivot", """
SELECT source,
       CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
       CAST(SUM(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS n_fr,
       CAST(SUM(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS n_de,
       CAST(SUM(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS n_es
FROM documents GROUP BY source
""")(_q_lang_source_pivot)


def _q_measures_unpivot(spark, sf_dir):
    """UNPIVOT coverage (the melt inverse of x14's pivot): three order
    measures stacked into (measure, value) rows via ``stack`` — a
    pure projection (rows × 3, no shuffle) — then one hash-agg per
    measure. Oracle: the UNION ALL spelling."""
    orders = load_table(spark, sf_dir, "orders")
    stacked = orders.select(
        F.expr(
            "stack(3,"
            " 'total_cents', CAST(floor(o_totalprice * 100) AS BIGINT),"
            " 'custkey', o_custkey,"
            " 'orderkey', o_orderkey) AS (measure, value)"
        )
    )
    return stacked.groupBy("measure").agg(
        F.count("*").alias("n"),
        F.sum("value").alias("sum_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    ).select(
        "measure", F.col("n").cast("long").alias("n"),
        "sum_value", "min_value", "max_value",
    )


register("x15_measures_unpivot", """
WITH stacked AS (
    SELECT 'total_cents' AS measure,
           CAST(floor(o_totalprice * 100) AS BIGINT) AS value FROM orders
    UNION ALL SELECT 'custkey', o_custkey FROM orders
    UNION ALL SELECT 'orderkey', o_orderkey FROM orders)
SELECT measure, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(value) AS BIGINT) AS sum_value,
       CAST(MIN(value) AS BIGINT) AS min_value,
       CAST(MAX(value) AS BIGINT) AS max_value
FROM stacked GROUP BY measure
""")(_q_measures_unpivot)


_X16_DIMS = 16


def _q_feature_hashing(spark, sf_dir):
    """Hashing-trick featurization (x16): each token maps to
    ``md5 % k`` and the doc's sparse feature vector is the count per
    bucket — the classic fixed-width text featurizer (Weinberger et
    al. 2009; sklearn HashingVectorizer). Emitted in sparse triplet
    form (doc_id, dim, n) so the gate checks every non-zero entry.
    One explode + one hash-agg on (doc, dim) — map-side combined."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id", F.explode(ta.tokens(F.lower(F.col("text")))).alias("tok")
    )
    from tabular_to_parquet_spark.functions.hashing import md5_i64

    dim = F.pmod(md5_i64(F.col("tok")), F.lit(_X16_DIMS))
    return (
        toks.select("doc_id", dim.cast("long").alias("dim"))
        .groupBy("doc_id", "dim")
        .agg(F.count("*").alias("n"))
        .select("doc_id", "dim", F.col("n").cast("long").alias("n"))
    )


register("x16_feature_hashing", f"""
SELECT doc_id, CAST({_md5i('t')} % {_X16_DIMS} AS BIGINT) AS dim,
       CAST(COUNT(*) AS BIGINT) AS n
FROM documents, LATERAL (SELECT unnest({_TOKS_LC}) AS t)
GROUP BY 1, 2
""")(_q_feature_hashing)


_X13_V = 50


def _q_vocab_coverage(spark, sf_dir):
    """Tokenizer-design query: what fraction of all token OCCURRENCES
    does a top-V vocabulary cover? Same TakeOrderedAndProject shape as
    x09 (no partition ever holds more than V vocabulary rows); the
    corpus-wide occurrence total is one scalar agg broadcast into the
    V-row result, and the cumulative fraction is a window over those V
    rows only. cum_frac is a single division of exact BIGINTs."""
    from pyspark.sql import Window as W

    toks = _docs(spark, sf_dir).select(
        F.explode(ta.tokens(F.lower(F.col("text")))).alias("token")
    )
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").alias("total"))
    top = counts.orderBy(F.col("n").desc(), F.col("token")).limit(_X13_V)
    w = (
        W.orderBy(F.col("n").desc(), F.col("token"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        top.crossJoin(F.broadcast(total))
        .withColumn("cum_n", F.sum("n").over(w))
        .select(
            "token",
            F.col("n").cast("long").alias("n"),
            F.row_number()
            .over(W.orderBy(F.col("n").desc(), F.col("token")))
            .cast("long")
            .alias("rank"),
            (F.col("cum_n").cast("double") / F.col("total")).alias("cum_frac"),
        )
    )


register("x13_vocab_coverage", f"""
WITH counts AS (
    SELECT t AS token, CAST(COUNT(*) AS BIGINT) AS n
    FROM documents, LATERAL (SELECT unnest({_TOKS_LC}) AS t)
    GROUP BY t
),
total AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM counts),
ranked AS (
    SELECT token, n,
           row_number() OVER (ORDER BY n DESC, token) AS rank,
           SUM(n) OVER (ORDER BY n DESC, token
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_n
    FROM counts
)
SELECT token, n, CAST(rank AS BIGINT) AS rank,
       CAST(cum_n AS DOUBLE) / total AS cum_frac
FROM ranked, total WHERE rank <= {_X13_V}
""")(_q_vocab_coverage)


def _q_repetition(spark, sf_dir):
    """Gopher-style repetition filters (x12): distinct-token /
    top-token / top-bigram fractions, one per-row array fold each —
    a pure projection (zero shuffles at any scale). The oracle
    recomputes the mode counts the relational way (unnest + GROUP BY +
    MAX) — two independent algorithms, same numbers."""
    return ta.repetition_stats(_docs(spark, sf_dir))


def _repetition_oracle() -> str:
    dfrac = "CASE WHEN n_tok > 0 THEN n_dist::DOUBLE / n_tok ELSE 0.0 END"
    tfrac = "CASE WHEN n_tok > 0 THEN top_tok::DOUBLE / n_tok ELSE 0.0 END"
    bfrac = "CASE WHEN n_big > 0 THEN top_big::DOUBLE / n_big ELSE 0.0 END"
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
base AS (SELECT doc_id, len(toks) AS n_tok, len(list_distinct(toks)) AS n_dist
         FROM t),
tokc AS (SELECT doc_id, MAX(n) AS top_tok
         FROM (SELECT doc_id, g, COUNT(*) AS n
               FROM (SELECT doc_id, unnest(toks) AS g FROM t) GROUP BY 1, 2)
         GROUP BY 1),
bgc AS (SELECT doc_id, MAX(n) AS top_big, SUM(n) AS n_big
        FROM (SELECT doc_id, g, COUNT(*) AS n
              FROM (SELECT doc_id,
                           unnest(list_transform(range(1, len(toks)),
                                                 i -> toks[i] || ' ' || toks[i+1])) AS g
                    FROM t WHERE len(toks) >= 2) GROUP BY 1, 2)
        GROUP BY 1),
j AS (SELECT b.doc_id, b.n_tok, b.n_dist,
             COALESCE(tokc.top_tok, 0) AS top_tok,
             COALESCE(bgc.top_big, 0) AS top_big,
             COALESCE(bgc.n_big, 0) AS n_big
      FROM base b LEFT JOIN tokc USING (doc_id) LEFT JOIN bgc USING (doc_id))
SELECT doc_id,
       CAST(n_tok AS BIGINT) AS n_tokens,
       {dfrac} AS distinct_frac,
       {tfrac} AS top_token_frac,
       {bfrac} AS top_bigram_frac,
       (n_tok >= {ta.REP_MIN_TOKENS}
        AND (({tfrac}) > 0.20 OR ({bfrac}) > 0.18 OR ({dfrac}) < 0.30))
           AS is_repetitive
FROM j
"""


register("x12_repetition_stats", _repetition_oracle())(_q_repetition)


def _q_source_stats(spark, sf_dir):
    return ta.source_stats(_docs(spark, sf_dir))


register("x05_source_stats", f"""
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(len({_TOKS})) AS BIGINT) AS total_tokens,
       MIN(doc_id) AS min_doc_id,
       MAX(doc_id) AS max_doc_id
FROM documents GROUP BY source
""")(_q_source_stats)


# ---------------------------------------------------------------------------
# dedup — exact


def _q_exact_groups(spark, sf_dir):
    return dedup.exact_groups(_docs(spark, sf_dir))


register("d01_exact_groups", f"""
SELECT md5({_NORM}) AS fp, MIN(doc_id) AS keeper_id,
       CAST(COUNT(*) AS BIGINT) AS n_members
FROM documents GROUP BY fp
""")(_q_exact_groups)


def _q_dedup_exact(spark, sf_dir):
    return dedup.dedup_exact(_docs(spark, sf_dir)).select(
        "doc_id", "lang", "source", "n_chars"
    )


register("d02_dedup_exact", f"""
SELECT doc_id, lang, source, n_chars FROM documents
WHERE doc_id IN (
    SELECT MIN(doc_id) FROM (SELECT doc_id, {_NORM} AS norm FROM documents)
    GROUP BY md5(norm))
""")(_q_dedup_exact)


# ---------------------------------------------------------------------------
# dedup — MinHash + LSH

_K = dedup.MINHASH_K
_BANDS = dedup.MINHASH_BANDS
_ROWS = dedup.MINHASH_ROWS

#: affine permutations over the 60-bit md5 base (dedup.minhash_params)
_MH_COMPONENTS = ", ".join(
    f"list_min(list_transform(bases, h -> "
    f"({a} * (h & {dedup.MINHASH_LO_MASK}) + {b} * (h >> 30) + {c}) "
    f"% {dedup.MINHASH_P61})) AS mh_{j}"
    for j, (a, b, c) in enumerate(dedup.minhash_params())
)
_SIG_CTE = f"""
sigs AS (
    SELECT doc_id, {_MH_COMPONENTS}
    FROM (SELECT doc_id, list_transform({_shingles(_TOKS)}, s -> {_md5i('s')}) AS bases
          FROM documents)
)"""
_SIG_MD5 = "md5(concat_ws('|', " + ", ".join(f"mh_{j}::VARCHAR" for j in range(_K)) + "))"


def _q_minhash_sig(spark, sf_dir):
    sigs = dedup.minhash_frame(_docs(spark, sf_dir))
    sig = F.col("sig")
    return sigs.select(
        "doc_id",
        F.element_at(sig, 1).alias("mh_first"),
        F.element_at(sig, _K).alias("mh_last"),
        F.md5(
            F.concat_ws("|", *[F.element_at(sig, j + 1).cast("string") for j in range(_K)])
        ).alias("sig_md5"),
    )


register("d03_minhash_signature", f"""
WITH {_SIG_CTE}
SELECT doc_id, mh_0 AS mh_first, mh_{_K - 1} AS mh_last, {_SIG_MD5} AS sig_md5
FROM sigs
""")(_q_minhash_sig)


def _q_minhash_pairs(spark, sf_dir):
    return dedup.minhash_pairs(_docs(spark, sf_dir), threshold=0.5)


def _mh_band_key(b: int) -> str:
    cols = ", ".join(f"mh_{b * _ROWS + r}::VARCHAR" for r in range(_ROWS))
    return f"md5(concat_ws('|', {cols}))"


_MH_EQ = " + ".join(
    f"(CASE WHEN a.mh_{j} IS NOT DISTINCT FROM b.mh_{j} THEN 1 ELSE 0 END)"
    for j in range(_K)
)

register("d04_minhash_pairs", f"""
WITH {_SIG_CTE},
banded AS (
    SELECT sigs.*, band,
           (CASE band {' '.join(f'WHEN {b} THEN {_mh_band_key(b)}' for b in range(_BANDS))} END) AS band_key
    FROM sigs, (SELECT unnest(range(0, {_BANDS})) AS band)
),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, (({_MH_EQ})::DOUBLE / {float(_K)}) AS est_jaccard
FROM cand JOIN sigs a ON a.doc_id = id_a JOIN sigs b ON b.doc_id = id_b
WHERE (({_MH_EQ})::DOUBLE / {float(_K)}) >= 0.5
""")(_q_minhash_pairs)


# ---------------------------------------------------------------------------
# dedup — SimHash

_SH_BITS = dedup.SIMHASH_BITS
_SH_BANDS = dedup.SIMHASH_BANDS
_SH_WIDTH = _SH_BITS // _SH_BANDS

_SIMHASH_EXPR = f"""
CAST(COALESCE(list_sum(list_transform(range(0, {_SH_BITS}), i ->
    CASE WHEN COALESCE(list_sum(list_transform(hashes, h ->
            CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END)), 0) > 0
         THEN (1::BIGINT << i) ELSE 0::BIGINT END)), 0) AS BIGINT)"""

_SIMHASH_CTE = f"""
sims AS (
    SELECT doc_id, {_SIMHASH_EXPR} AS simhash
    FROM (SELECT doc_id, list_transform({_TOKS}, t -> {_md5i('t', 'sh')}) AS hashes
          FROM documents)
)"""


def _q_simhash(spark, sf_dir):
    return dedup.simhash_frame(_docs(spark, sf_dir))


register("d05_simhash", f"WITH {_SIMHASH_CTE} SELECT doc_id, simhash FROM sims")(
    _q_simhash
)


def _q_simhash_pairs(spark, sf_dir):
    out = dedup.simhash_pairs(_docs(spark, sf_dir), max_hamming=3)
    return out.withColumn("hamming", F.col("hamming").cast("long"))


register("d06_simhash_pairs", f"""
WITH {_SIMHASH_CTE},
banded AS (
    SELECT doc_id, simhash, band,
           (simhash >> (band * {_SH_WIDTH})) & {(1 << _SH_WIDTH) - 1} AS band_val
    FROM sims, (SELECT unnest(range(0, {_SH_BANDS})) AS band)
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM banded a JOIN banded b
  ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
""")(_q_simhash_pairs)


# ---------------------------------------------------------------------------
# dedup — exact n-gram Jaccard within lang blocks


def _q_jaccard_pairs(spark, sf_dir):
    return dedup.jaccard_pairs(_docs(spark, sf_dir), threshold=0.5)


register("d07_jaccard_pairs", f"""
WITH docs AS (SELECT doc_id, lang, {_shingles(_TOKS)} AS sh FROM documents),
pairs AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           len(list_intersect(a.sh, b.sh)) AS inter,
           len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS un
    FROM docs a JOIN docs b ON a.lang = b.lang AND a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       (CASE WHEN un > 0 THEN inter::DOUBLE / un ELSE 0.0 END) AS jaccard
FROM pairs
WHERE (CASE WHEN un > 0 THEN inter::DOUBLE / un ELSE 0.0 END) >= 0.5
""")(_q_jaccard_pairs)


# ---------------------------------------------------------------------------
# dedup — embedding cosine near-dup (label-blocked exact)


def _q_embedding_pairs(spark, sf_dir):
    return dedup.embedding_dup_pairs(_emb(spark, sf_dir), threshold=0.95)


register("d08_embedding_dup_pairs", f"""
WITH pairs AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {_cosine('a.embedding', 'b.embedding')} AS cosine
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, cosine FROM pairs WHERE cosine >= 0.95
""")(_q_embedding_pairs)


_SEMANTIC_THRESHOLD = 0.4


def _q_semantic_pairs(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023) candidate pairs: embeddings
    partitioned into IVF cells by one argmax-of-dots projection, pairs
    compared only within a cell — Σ|cell|² work instead of |N|², and
    the join is an equi-join on a small int. The 0.4 threshold is
    calibrated to this synthetic corpus (max observed cosine ≈ 0.47)
    so the gate carries real rows."""
    return dedup.semantic_dup_pairs(
        _emb(spark, sf_dir), threshold=_SEMANTIC_THRESHOLD
    ).withColumn("cell", F.col("cell").cast("long"))


def _semantic_oracle() -> str:
    anchors = similarity.ivf_anchors()
    dots = [
        _dot("embedding", "[" + ", ".join(repr(v) for v in a) + "]")
        for a in anchors
    ]
    score_cols = ", ".join(f"{d} AS s_{c}" for c, d in enumerate(dots))
    best = "greatest(" + ", ".join(f"s_{c}" for c in range(len(anchors))) + ")"
    cell_case = " ".join(
        f"WHEN s_{c} = {best} THEN {c}" for c in range(len(anchors))
    )
    return f"""
WITH cells AS (
    SELECT vec_id, embedding, (CASE {cell_case} END) AS cell
    FROM (SELECT vec_id, embedding, {score_cols} FROM embeddings)
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       CAST(a.cell AS BIGINT) AS cell,
       {_cosine('a.embedding', 'b.embedding')} AS cosine
FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
WHERE {_cosine('a.embedding', 'b.embedding')} >= {_SEMANTIC_THRESHOLD}
"""


register("d09_semantic_dup_pairs", _semantic_oracle())(_q_semantic_pairs)


_D10_HOPS = 2


def _q_dup_clusters(spark, sf_dir):
    """Near-dup cluster assignment: min-label propagation (bounded at
    2 hops — enough for the star/clique topologies dup graphs have)
    over the d04 minhash pair list. Each hop is one equi-join +
    min-agg on node ids; the oracle replays the same two rounds
    relationally on top of its own d04 pair derivation."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_pairs(docs, threshold=0.5)
    return dedup.dup_clusters(pairs, docs.select("doc_id"), hops=_D10_HOPS)


def _d10_oracle() -> str:
    d04 = CATALOG["d04_minhash_pairs"].oracle
    prop = """
SELECT l.doc_id, LEAST(l.cluster_id, COALESCE(m._nmin, l.cluster_id)) AS cluster_id
FROM {prev} l LEFT JOIN (
    SELECT e.src, MIN(l2.cluster_id) AS _nmin
    FROM edges e JOIN {prev} l2 ON e.dst = l2.doc_id
    GROUP BY e.src) m ON l.doc_id = m.src
"""
    return f"""
WITH pairs AS (SELECT id_a, id_b FROM ({d04})),
edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION ALL SELECT id_b, id_a FROM pairs),
l0 AS (SELECT doc_id, doc_id AS cluster_id FROM documents),
l1 AS ({prop.format(prev='l0')}),
l2 AS ({prop.format(prev='l1')})
SELECT doc_id, cluster_id FROM l2
"""


register("d10_dup_clusters", _d10_oracle())(_q_dup_clusters)


def _q_dup_clusters_fixpoint(spark, sf_dir):
    """True connected components: the driver-side convergence loop
    (min-label rounds + localCheckpoint until no label changes)
    checked against a genuinely different algorithm — DuckDB computes
    the same fixpoint as a RECURSIVE transitive closure and takes the
    min reachable id per node. Iterative Spark vs recursive SQL, same
    clusters."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_pairs(docs, threshold=0.5)
    return dedup.dup_clusters_fixpoint(pairs, docs.select("doc_id"))


def _d11_oracle() -> str:
    d04 = CATALOG["d04_minhash_pairs"].oracle
    return f"""
WITH RECURSIVE
pairs AS (SELECT id_a, id_b FROM ({d04})),
edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION ALL SELECT id_b, id_a FROM pairs),
reach(node, target) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT r.node, e.dst FROM reach r JOIN edges e ON r.target = e.src
)
SELECT node AS doc_id, MIN(target) AS cluster_id
FROM reach GROUP BY node
"""


register("d11_dup_clusters_fixpoint", _d11_oracle())(_q_dup_clusters_fixpoint)


# ---------------------------------------------------------------------------
# similarity search — brute-force and LSH top-k
# query set: every 50th vector (deterministic, scale-proportional)

_QFILTER = "vec_id % 50 = 0"


def _queries_frame(emb: DataFrame) -> DataFrame:
    return emb.filter(F.expr(_QFILTER))


def _q_knn_bruteforce(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    out = similarity.knn_bruteforce(emb, _queries_frame(emb), k=5)
    return out.withColumn("rank", F.col("rank").cast("long"))


register("s01_knn_bruteforce", f"""
WITH scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           {_cosine('q.embedding', 'c.embedding')} AS cosine
    FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
    WHERE q.{_QFILTER}
),
ranked AS (
    SELECT *, row_number() OVER
        (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5
""")(_q_knn_bruteforce)


def _q_knn_lsh(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    out = similarity.knn_lsh(emb, _queries_frame(emb), k=5)
    return out.withColumn("rank", F.col("rank").cast("long"))


def _lsh_oracle() -> str:
    planes = similarity.lsh_planes()
    sig_terms = []
    for b, plane in enumerate(planes):
        lit = "[" + ", ".join(repr(v) for v in plane) + "]"
        sig_terms.append(
            f"(CASE WHEN {_dot('embedding', lit)} >= 0 THEN {1 << b}::BIGINT ELSE 0::BIGINT END)"
        )
    sig = " + ".join(sig_terms)
    w = similarity.LSH_BAND_WIDTH
    mask = (1 << w) - 1
    return f"""
WITH sig AS (SELECT vec_id, embedding, ({sig}) AS lsh_sig FROM embeddings),
qb AS (
    SELECT vec_id AS q_id, band, (lsh_sig >> (band * {w})) & {mask} AS band_val
    FROM sig, (SELECT unnest(range(0, {similarity.LSH_BANDS})) AS band)
    WHERE {_QFILTER}
),
cb AS (
    SELECT vec_id AS c_id, band, (lsh_sig >> (band * {w})) & {mask} AS band_val
    FROM sig, (SELECT unnest(range(0, {similarity.LSH_BANDS})) AS band)
),
cand AS (
    SELECT DISTINCT q_id, c_id FROM qb JOIN cb
      ON qb.band = cb.band AND qb.band_val = cb.band_val AND q_id != c_id
),
scored AS (
    SELECT q_id AS query_id, c_id AS neighbor_id,
           {_cosine('eq.embedding', 'ec.embedding')} AS cosine
    FROM cand JOIN embeddings eq ON eq.vec_id = q_id
              JOIN embeddings ec ON ec.vec_id = c_id
),
ranked AS (
    SELECT *, row_number() OVER
        (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5
"""


register("s02_knn_lsh", _lsh_oracle())(_q_knn_lsh)


def _q_knn_ivf(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    out = similarity.knn_ivf(emb, _queries_frame(emb), k=5)
    return out.withColumn("rank", F.col("rank").cast("long"))


def _ivf_oracle() -> str:
    anchors = similarity.ivf_anchors()
    dots = [
        _dot("embedding", "[" + ", ".join(repr(v) for v in a) + "]")
        for a in anchors
    ]
    score_cols = ", ".join(f"{d} AS s_{c}" for c, d in enumerate(dots))
    best = "greatest(" + ", ".join(f"s_{c}" for c in range(len(anchors))) + ")"
    cell_case = " ".join(
        f"WHEN s_{c} = {best} THEN {c}" for c in range(len(anchors))
    )
    # probe list: rank cells by (score DESC, cell ASC), keep top IVF_PROBES
    probe_structs = ", ".join(
        f"{{'negscore': -s_{c}, 'cell': {c}}}" for c in range(len(anchors))
    )
    return f"""
WITH scored_vecs AS (
    SELECT vec_id, embedding, {score_cols} FROM embeddings
),
cells AS (
    SELECT vec_id, embedding, (CASE {cell_case} END) AS cell FROM scored_vecs
),
probes AS (
    SELECT vec_id AS query_id, p['cell'] AS cell
    FROM scored_vecs,
         LATERAL (SELECT unnest(list_slice(list_sort([{probe_structs}]), 1,
                         {similarity.IVF_PROBES})) AS p)
    WHERE {_QFILTER}
),
cand AS (
    SELECT query_id, c.vec_id AS neighbor_id,
           {_cosine('eq.embedding', 'c.embedding')} AS cosine
    FROM probes JOIN cells c USING (cell)
                JOIN embeddings eq ON eq.vec_id = query_id
    WHERE query_id != c.vec_id
),
ranked AS (
    SELECT *, row_number() OVER
        (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
    FROM cand
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5
"""


register("s03_knn_ivf", _ivf_oracle())(_q_knn_ivf)


# ---------------------------------------------------------------------------
# event-time windowed aggregation (batch twin of the streaming operator)


def _q_event_windows(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 100)).alias("value_cents"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "value_cents",
            "n_users",
        )
    )


register("ev01_event_window_stats", """
SELECT time_bucket(INTERVAL 5 MINUTE, ts) AS window_start, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY 1, 2
""")(_q_event_windows)


def _q_event_windows_streaming(spark, sf_dir):
    """True Structured Streaming run (state store, watermark, event-time
    windows) drained to completion on the static events table.

    Checked columns are the deterministic aggregates (counts + integer
    cents); the engine-specific ``approx_users`` sketch column is
    excluded so the oracle can hash-match the streaming output exactly
    (complete output mode keeps all window state, so the drained stream
    equals the batch aggregation row for row)."""
    out = windowed_event_stats(
        spark, f"{sf_dir}/events.parquet", query_name="ev02_stream"
    )
    return out.select("window_start", "event_type", "n_events", "value_cents")


register("ev02_event_window_stats_streaming", """
SELECT time_bucket(INTERVAL 5 MINUTE, ts) AS window_start, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events GROUP BY 1, 2
""")(_q_event_windows_streaming)


def _q_stream_convert(spark, sf_dir):
    """Streaming CSV→parquet ingest under the hash gate: the SAME cast
    builders as the batch path, driven by a real file-stream query
    (checkpointed, availableNow) — the 100 TB/day ingest shape."""
    import glob
    import os
    import tempfile

    from tabular_to_parquet_spark.plans.inference import infer_schema
    from tabular_to_parquet_spark.streaming.streams import stream_convert_directory

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag", "l_shipdate"
    )
    tmp = tempfile.mkdtemp(prefix="st1_stream_")
    csv_dir = os.path.join(tmp, "in")
    (
        li.coalesce(1)
        .write.option("header", True)
        .option("timestampNTZFormat", "yyyy-MM-dd HH:mm:ss.SSS")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSS")
        .csv(csv_dir)
    )
    csv_file = glob.glob(os.path.join(csv_dir, "part-*.csv"))[0]
    names, types = infer_schema(csv_file, ",")
    out_dir = os.path.join(tmp, "out")
    q = stream_convert_directory(
        spark, csv_dir, names, types, out_dir, os.path.join(tmp, "ckpt")
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir)


register("st1_stream_convert_roundtrip", """
SELECT l_orderkey, l_quantity, l_returnflag,
       date_trunc('milliseconds', l_shipdate)::TIMESTAMP AS l_shipdate
FROM lineitem
""")(_q_stream_convert)


def _q_stream_dedup_ingest(spark, sf_dir):
    """Streaming corpus ingest with incremental dedup: the batch docs
    (doc_id % 5 = 0) arrive as TWO single-file micro-batches (split at
    the median id, ascending — so the min-id keeper of every dup group
    lands first); each micro-batch anti-joins the bucketed fingerprint
    index seeded from the corpus (doc_id % 5 <> 0) and appends its
    survivors' fingerprints for the next batch. The drained output
    equals the one-shot pl09/pl07 result — same oracle."""
    import os
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tabular_to_parquet_spark.operators.pipeline import build_fingerprint_index
    from tabular_to_parquet_spark.streaming.streams import stream_dedup_ingest

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    build_fingerprint_index(corpus, "st2_fp_idx")

    batch = _fixture_pdf(
        docs.where(F.col("doc_id") % 5 == 0)
        .select("doc_id", "text")
        .orderBy("doc_id")
    )
    mid = len(batch) // 2
    tmp = tempfile.mkdtemp(prefix="st2_ingest_")
    in_dir = os.path.join(tmp, "in")
    os.makedirs(in_dir)
    for i, wave in enumerate((batch.iloc[:mid], batch.iloc[mid:])):
        path = os.path.join(in_dir, f"w{i}.parquet")
        pq.write_table(pa.Table.from_pandas(wave, preserve_index=False), path)
        # FileStreamSource orders micro-batches by file MTIME, and both
        # waves land within the same clock tick — pin strictly
        # ascending mtimes or wave order (hence which dup survives)
        # is nondeterministic across runs.
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
    q = stream_dedup_ingest(
        spark, in_dir, "st2_fp_idx",
        os.path.join(tmp, "out"), os.path.join(tmp, "ckpt"),
    )
    q.awaitTermination()
    return spark.read.parquet(os.path.join(tmp, "out")).select("doc_id")


register("st2_stream_dedup_ingest", f"""
WITH fp AS (SELECT doc_id, md5({_NORM}) AS fp FROM documents),
batch AS (SELECT * FROM fp WHERE doc_id % 5 = 0),
keepers AS (SELECT fp, MIN(doc_id) AS doc_id FROM batch GROUP BY fp),
corp AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 5 <> 0)
SELECT k.doc_id
FROM keepers k LEFT JOIN corp c ON k.fp = c.fp
WHERE c.fp IS NULL
""")(_q_stream_dedup_ingest)


def _q_stream_decontaminated_ingest(spark, sf_dir):
    """st2's ingest with the decontamination stage composed in: each
    micro-batch's dedup survivors are additionally dropped if they
    share any word 4-gram with the (static, broadcast) eval slice.
    Consistency note: exact dups share identical text, hence identical
    grams, so contamination is uniform within a dup group — the
    non-streaming oracle (survivors minus contaminated) matches the
    per-batch index-append semantics exactly."""
    import os
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tabular_to_parquet_spark.operators.pipeline import build_fingerprint_index
    from tabular_to_parquet_spark.streaming.streams import stream_dedup_ingest

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    eval_df = docs.where(F.col("doc_id") % 97 == 0).select("doc_id", "text")
    build_fingerprint_index(corpus, "st3_fp_idx")

    batch = _fixture_pdf(
        docs.where(F.col("doc_id") % 5 == 0)
        .select("doc_id", "text")
        .orderBy("doc_id")
    )
    mid = len(batch) // 2
    tmp = tempfile.mkdtemp(prefix="st3_ingest_")
    in_dir = os.path.join(tmp, "in")
    os.makedirs(in_dir)
    for i, wave in enumerate((batch.iloc[:mid], batch.iloc[mid:])):
        path = os.path.join(in_dir, f"w{i}.parquet")
        pq.write_table(pa.Table.from_pandas(wave, preserve_index=False), path)
        # FileStreamSource orders micro-batches by file MTIME, and both
        # waves land within the same clock tick — pin strictly
        # ascending mtimes or wave order (hence which dup survives)
        # is nondeterministic across runs.
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
    q = stream_dedup_ingest(
        spark, in_dir, "st3_fp_idx",
        os.path.join(tmp, "out"), os.path.join(tmp, "ckpt"),
        eval_df=eval_df, decontaminate_n=4,
    )
    q.awaitTermination()
    return spark.read.parquet(os.path.join(tmp, "out")).select("doc_id")


def _st3_oracle() -> str:
    from tabular_to_parquet_spark.functions.hashing import md5_i64_sql

    return f"""
WITH fp AS (SELECT doc_id, md5({_NORM}) AS fp FROM documents),
batch AS (SELECT * FROM fp WHERE doc_id % 5 = 0),
keepers AS (SELECT fp, MIN(doc_id) AS doc_id FROM batch GROUP BY fp),
corp AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 5 <> 0),
survivors AS (SELECT k.doc_id FROM keepers k LEFT JOIN corp c ON k.fp = c.fp
              WHERE c.fp IS NULL),
g AS (SELECT doc_id, {md5_i64_sql('g')} AS gh
      FROM (SELECT doc_id, unnest({_shingles(_TOKS, 4)}) AS g FROM documents)),
ev AS (SELECT DISTINCT gh FROM g WHERE doc_id % 97 = 0),
dirty AS (SELECT DISTINCT g.doc_id FROM g JOIN ev USING (gh))
SELECT s.doc_id FROM survivors s LEFT JOIN dirty d ON s.doc_id = d.doc_id
WHERE d.doc_id IS NULL
"""


register("st3_stream_decontaminated_ingest", _st3_oracle())(
    _q_stream_decontaminated_ingest
)


def _q_sessionize(spark, sf_dir):
    return sessionize_frame(load_table(spark, sf_dir, "events"), gap_minutes=240)


register("ev03_sessionize", """
WITH tagged AS (
    SELECT user_id, ts, value,
           SUM(CASE WHEN prev_us IS NULL
                     OR epoch_us(ts) - prev_us > 14400000000 THEN 1
                    ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_no
    FROM (SELECT *, lag(epoch_us(ts))
                        OVER (PARTITION BY user_id ORDER BY ts, event_id)
                        AS prev_us
          FROM events)
)
SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
       min(ts) AS session_start, max(ts) AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM tagged GROUP BY user_id, session_no
""")(_q_sessionize)


def _q_session_window_builtin(spark, sf_dir):
    """Spark's built-in ``session_window`` as the alternative
    sessionizer (works in batch AND streaming group-by): merges events
    whose [ts, ts+gap) windows overlap. Boundary semantics: an event
    exactly ``gap`` after the previous one starts a NEW session
    (windows are half-open), hence the ``>=`` in the oracle's gap rule
    (the lag/running-sum sessionizer of ev03 uses ``>``)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "240 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 100)).alias("value_cents"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "value_cents",
        )
    )


register("ev05_session_window_builtin", """
WITH tagged AS (
    SELECT user_id, ts, value,
           SUM(CASE WHEN prev_us IS NULL
                     OR epoch_us(ts) - prev_us >= 14400000000 THEN 1
                    ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_no
    FROM (SELECT *, lag(epoch_us(ts))
                        OVER (PARTITION BY user_id ORDER BY ts, event_id)
                        AS prev_us
          FROM events)
)
SELECT user_id, min(ts) AS session_start,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM tagged GROUP BY user_id, session_no
""")(_q_session_window_builtin)


def _q_sessionize_streaming(spark, sf_dir):
    """Stateful-streaming sessionization (applyInPandasWithState with
    per-user state + event-time timeout), drained on the bounded events
    stream. The oracle models the streaming engine's emission rule
    exactly: a session is emitted when a later event closes it (gap
    exceeded) or when the event-time watermark passes its close time
    (timeout in the trailing no-data micro-batch); a user's final
    session whose close time (end + gap) never falls behind the final
    watermark (max event time - 10 min) stays open in state."""
    return sessionize_stream(
        spark, f"{sf_dir}/events.parquet", gap_minutes=240, query_name="ev04_stream"
    )


#: gap = 240 min in ms; watermark delay = 10 min in ms
_EV04_GAP_MS = 240 * 60_000
_EV04_WM_MS = 600_000

register("ev04_sessionize_streaming", f"""
WITH tagged AS (
    SELECT user_id, ts, value,
           SUM(CASE WHEN prev_us IS NULL
                     OR epoch_us(ts) - prev_us > {_EV04_GAP_MS * 1000} THEN 1
                    ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_no
    FROM (SELECT *, lag(epoch_us(ts))
                        OVER (PARTITION BY user_id ORDER BY ts, event_id)
                        AS prev_us
          FROM events)
),
sess AS (
    SELECT user_id, session_no,
           min(ts) AS session_start, max(ts) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM tagged GROUP BY user_id, session_no
),
wm AS (SELECT (epoch_us(max(ts)) // 1000) - {_EV04_WM_MS} AS wm_ms FROM events)
SELECT user_id, session_start, session_end, n_events, value_cents
FROM sess, wm
WHERE NOT (
    session_no = (SELECT max(s2.session_no) FROM sess s2
                  WHERE s2.user_id = sess.user_id)
    AND (epoch_us(session_end) // 1000) + {_EV04_GAP_MS} >= wm_ms
)
""")(_q_sessionize_streaming)


# ---------------------------------------------------------------------------
# P13 — ragged-row repair through the full conversion pipeline: a CSV
# derived from lineitem with every 7th row missing its last field
# (→ null) and every other 11th row carrying an extra field (→ dropped);
# reference analyse.rs:63-105. The oracle computes expected typed values
# by construction, independent of any CSV machinery.


def _q_ragged_conversion(spark, sf_dir):
    import glob
    import os
    import tempfile

    from tabular_to_parquet_spark.operators.convert import (
        convert_delimited_to_parquet,
    )

    li = load_table(spark, sf_dir, "lineitem")
    rid = F.expr("l_orderkey * 10 + l_linenumber")
    line = (
        F.when(
            rid % 7 == 0,
            F.concat_ws(",", rid.cast("string"), F.col("l_quantity").cast("string")),
        )
        .when(
            rid % 11 == 0,
            F.concat_ws(
                ",",
                rid.cast("string"),
                F.col("l_quantity").cast("string"),
                F.col("l_returnflag"),
                F.lit("EXTRA"),
            ),
        )
        .otherwise(
            F.concat_ws(
                ",",
                rid.cast("string"),
                F.col("l_quantity").cast("string"),
                F.col("l_returnflag"),
            )
        )
    )
    lines = li.select(rid.alias("ord"), line.alias("value"))
    header = spark.createDataFrame([(-1, "row_id,v_num,v_str")], "ord long, value string")
    tmp = tempfile.mkdtemp(prefix="p13_ragged_")
    txt_dir = os.path.join(tmp, "csv")
    header.unionByName(lines).sort("ord").coalesce(1).select("value").write.text(txt_dir)
    csv_file = glob.glob(os.path.join(txt_dir, "part-*.txt"))[0]
    out = os.path.join(tmp, "ragged.parquet")
    convert_delimited_to_parquet(spark, csv_file, out)
    return spark.read.parquet(out)


register("p13_ragged_row_repair", """
SELECT CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS row_id,
       l_quantity AS v_num,
       CASE WHEN (l_orderkey * 10 + l_linenumber) % 7 = 0 THEN NULL
            ELSE l_returnflag END AS v_str
FROM lineitem
""")(_q_ragged_conversion)


# ---------------------------------------------------------------------------
# P14 — strict unparseable-row drop through the full conversion pipeline:
# every 13th row of a lineitem-derived CSV gets a raw invalid-UTF-8 byte
# appended to its last field; strict mode must drop EXACTLY those rows
# (reference conversion.rs:208 `.lines().filter_map(Result::ok)` — the
# producer silently drops non-UTF-8 lines). The oracle is fed the same
# drop rule by construction (rows are corrupt iff row_id % 13 = 0).


def _q_strict_drop_conversion(spark, sf_dir):
    import glob
    import os
    import tempfile

    from tabular_to_parquet_spark.operators.convert import (
        convert_delimited_to_parquet,
    )

    li = load_table(spark, sf_dir, "lineitem")
    rid = F.expr("l_orderkey * 10 + l_linenumber")
    lines = li.select(
        rid.alias("ord"),
        F.concat_ws(
            ",",
            rid.cast("string"),
            F.col("l_quantity").cast("string"),
            F.col("l_returnflag"),
        ).alias("value"),
    )
    header = spark.createDataFrame([(-1, "row_id,v_num,v_str")], "ord long, value string")
    tmp = tempfile.mkdtemp(prefix="p14_strict_")
    txt_dir = os.path.join(tmp, "csv")
    header.unionByName(lines).sort("ord").coalesce(1).select("value").write.text(txt_dir)
    clean = glob.glob(os.path.join(txt_dir, "part-*.txt"))[0]
    # corrupt marked rows with a raw invalid byte (driver-side byte edit;
    # Spark strings are always valid UTF-8, so this cannot go through a
    # DataFrame write)
    corrupted = os.path.join(tmp, "corrupted.csv")
    with open(clean, "rb") as fin, open(corrupted, "wb") as fout:
        for i, ln in enumerate(fin.read().split(b"\n")):
            if not ln:
                continue
            if i > 0 and int(ln.split(b",", 1)[0]) % 13 == 0:
                ln += b"\xff"
            fout.write(ln + b"\n")
    out = os.path.join(tmp, "strict.parquet")
    convert_delimited_to_parquet(spark, corrupted, out, strict_drop=True)
    return spark.read.parquet(out)


register("p14_strict_unparseable_drop", """
SELECT CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS row_id,
       l_quantity AS v_num,
       l_returnflag AS v_str
FROM lineitem
WHERE (l_orderkey * 10 + l_linenumber) % 13 <> 0
""")(_q_strict_drop_conversion)


# ---------------------------------------------------------------------------
# FW1 — fixed-width source through the full conversion pipeline: a
# fixed-width rendering of orders (right-aligned numerics, left-aligned
# strings, ISO dates) → substring/trim scan → shared inference + casts
# → typed parquet. The oracle reads the original orders table — the
# round-trip must reproduce every typed value.


def _q_fixed_width_conversion(spark, sf_dir):
    import glob
    import os
    import tempfile

    from tabular_to_parquet_spark.operators.convert import run_conversion
    from tabular_to_parquet_spark.sources.fixed_width import (
        fields_from_widths,
        fixed_width_adapter,
    )

    orders = load_table(spark, sf_dir, "orders")
    line = F.concat(
        F.lpad(F.col("o_orderkey").cast("string"), 12, " "),
        F.lpad(F.col("o_custkey").cast("string"), 12, " "),
        F.col("o_orderstatus"),
        F.lpad(F.format_string("%.2f", F.col("o_totalprice")), 14, " "),
        F.date_format(F.col("o_orderdate"), "yyyy-MM-dd"),
        F.rpad(F.col("o_orderpriority"), 16, " "),
    )
    tmp = tempfile.mkdtemp(prefix="fw1_")
    txt_dir = os.path.join(tmp, "txt")
    orders.sort("o_orderkey").select(line.alias("value")).coalesce(1).write.text(
        txt_dir
    )
    txt_file = glob.glob(os.path.join(txt_dir, "part-*.txt"))[0]
    out = os.path.join(tmp, "fw.parquet")
    fields = fields_from_widths(
        [
            ("o_orderkey", 12),
            ("o_custkey", 12),
            ("o_orderstatus", 1),
            ("o_totalprice", 14),
            ("o_orderdate", 10),
            ("o_orderpriority", 16),
        ]
    )
    run_conversion(spark, fixed_width_adapter(spark, txt_file, fields), out)
    # the parquet column IS DateType (inference picked date); compare
    # as timestamp because pandas maps Spark dates to objects but both
    # engines' timestamps to datetime64
    return spark.read.parquet(out).withColumn(
        "o_orderdate", F.col("o_orderdate").cast("timestamp")
    )


register("fw1_fixed_width_roundtrip", """
SELECT o_orderkey, o_custkey, o_orderstatus,
       CAST(o_totalprice AS DOUBLE) AS o_totalprice,
       o_orderdate,
       o_orderpriority
FROM orders
""")(_q_fixed_width_conversion)


# ---------------------------------------------------------------------------
# LF1 — logfmt source through the full conversion pipeline


def _q_logfmt_conversion(spark, sf_dir):
    """logfmt rendering of orders (bare numerics/dates, quoted
    priority with inner spaces) → regexp scan → shared inference +
    casts → typed parquet. Oracle reads the original table."""
    import glob
    import os
    import tempfile

    from tabular_to_parquet_spark.operators.convert import run_conversion
    from tabular_to_parquet_spark.sources.logfmt import logfmt_adapter

    orders = load_table(spark, sf_dir, "orders")
    line = F.concat(
        F.lit("id="), F.col("o_orderkey").cast("string"),
        F.lit(" cust="), F.col("o_custkey").cast("string"),
        F.lit(" status="), F.col("o_orderstatus"),
        F.lit(" price="), F.format_string("%.2f", F.col("o_totalprice")),
        F.lit(" date="), F.date_format(F.col("o_orderdate"), "yyyy-MM-dd"),
        F.lit(' priority="'), F.col("o_orderpriority"), F.lit('"'),
    )
    tmp = tempfile.mkdtemp(prefix="lf1_")
    txt_dir = os.path.join(tmp, "txt")
    orders.sort("o_orderkey").select(line.alias("value")).coalesce(1).write.text(
        txt_dir
    )
    txt_file = glob.glob(os.path.join(txt_dir, "part-*.txt"))[0]
    out = os.path.join(tmp, "lf.parquet")
    run_conversion(spark, logfmt_adapter(spark, txt_file), out)
    return spark.read.parquet(out).withColumn(
        "date", F.col("date").cast("timestamp")
    )


register("lf1_logfmt_roundtrip", """
SELECT o_orderkey AS id, o_custkey AS cust, o_orderstatus AS status,
       CAST(o_totalprice AS DOUBLE) AS price,
       o_orderdate AS date,
       o_orderpriority AS priority
FROM orders
""")(_q_logfmt_conversion)


# ---------------------------------------------------------------------------
# A* — multi-table analytics (beyond the single-table reference:
# joins, aggregates, ranking over the star schema — the Spark-native
# query surface a training-data pipeline gets for free). Money stays
# in integer cents (floor(x*100) — identical IEEE arithmetic on both
# engines), averages are one final double division.


def _q_pricing_summary(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    cents = lambda c: F.floor(F.col(c) * 100)
    agg = (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(cents("l_quantity")).alias("sum_qty_cents"),
            F.sum(cents("l_extendedprice")).alias("sum_base_cents"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )
    return agg.select(
        "l_returnflag", "l_linestatus", "sum_qty_cents", "sum_base_cents",
        "n_rows",
        (F.col("sum_qty_cents").cast("double") / F.col("n_rows")).alias("avg_qty_cents"),
    )


register("a1_pricing_summary", """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
       CAST(SUM(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(floor(l_quantity * 100) AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_qty_cents
FROM lineitem GROUP BY l_returnflag, l_linestatus
""")(_q_pricing_summary)


def _q_orders_by_nation(spark, sf_dir):
    """orders ⨝ customer ⨝ nation: the dims broadcast (verified —
    BroadcastHashJoin both times), so the fact scan never shuffles
    until the final small aggregation."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    j = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    )
    return j.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.floor(F.col("o_totalprice") * 100)).alias("total_cents"),
        F.countDistinct("o_custkey").alias("n_customers"),
    )


register("a2_orders_by_nation", """
SELECT n_name,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
FROM orders JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
""")(_q_orders_by_nation)


def _q_top_users(spark, sf_dir):
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("event_type", "user_id").agg(
        F.sum(F.floor(F.col("value") * 100)).alias("value_cents")
    )
    w = W.partitionBy("event_type").orderBy(
        F.col("value_cents").desc(), F.col("user_id")
    )
    return (
        per_user.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
    )


register("a3_top_users_per_event_type", """
WITH per_user AS (
    SELECT event_type, user_id,
           CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events GROUP BY event_type, user_id
)
SELECT event_type, user_id, value_cents, CAST(rank AS BIGINT) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY event_type
                                   ORDER BY value_cents DESC, user_id) AS rank
      FROM per_user)
WHERE rank <= 5
""")(_q_top_users)


def _q_customers_without_orders(spark, sf_dir):
    """left_anti join — the §2.8 semi/anti family the reference lacks."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name", "c_mktsegment")


register("a4_customers_without_orders", """
SELECT c_custkey, c_name, c_mktsegment
FROM customer ANTI JOIN orders ON c_custkey = o_custkey
""")(_q_customers_without_orders)


def _q_segment_set_ops(spark, sf_dir):
    """INTERSECT / EXCEPT (§2.8 set operations): market segments that
    have both high-balance and negative-balance customers, and the
    ones that only have high-balance customers."""
    cust = load_table(spark, sf_dir, "customer")
    hi = cust.filter(F.col("c_acctbal") > 5000).select("c_mktsegment")
    neg = cust.filter(F.col("c_acctbal") < 0).select("c_mktsegment")
    both = hi.intersect(neg).select(
        F.col("c_mktsegment"), F.lit("both").alias("bucket")
    )
    only_hi = hi.distinct().exceptAll(neg.distinct()).select(
        F.col("c_mktsegment"), F.lit("high_only").alias("bucket")
    )
    return both.unionByName(only_hi)


register("a5_segment_set_ops", """
SELECT c_mktsegment, 'both' AS bucket FROM (
    SELECT c_mktsegment FROM customer WHERE c_acctbal > 5000
    INTERSECT
    SELECT c_mktsegment FROM customer WHERE c_acctbal < 0)
UNION ALL
SELECT c_mktsegment, 'high_only' AS bucket FROM (
    SELECT DISTINCT c_mktsegment FROM customer WHERE c_acctbal > 5000
    EXCEPT
    SELECT DISTINCT c_mktsegment FROM customer WHERE c_acctbal < 0)
""")(_q_segment_set_ops)


def _q_rollup_counts(spark, sf_dir):
    """ROLLUP (§2.8 grouping sets): order counts by status with
    subtotals and a grand total."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.floor(F.col("o_totalprice") * 100)).alias("total_cents"),
        )
    )


register("a6_rollup_order_counts", """
SELECT o_orderstatus, o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
""")(_q_rollup_counts)


def _q_moving_sum(spark, sf_dir):
    """Window FRAME spec (rows between): per-customer 3-order moving
    spend — exact integer cents, deterministic order key."""
    from pyspark.sql import Window as W

    orders = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100)
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, W.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        cents.alias("cents"),
        F.sum(cents).over(w).alias("moving_cents"),
    )


register("a7_moving_sum_frame", """
SELECT o_custkey, o_orderkey,
       CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
       CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) OVER
            (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT)
           AS moving_cents
FROM orders
""")(_q_moving_sum)


def _q_asof_join(spark, sf_dir):
    """As-of join (absent from both the reference AND Spark's built-in
    API): every click matched to the user's latest at-or-before
    purchase, via the union+window composition (operators/joins.py) —
    one shuffle on the key. Oracle: DuckDB's native ASOF LEFT JOIN."""
    from tabular_to_parquet_spark.operators.joins import asof_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.sum(F.floor(F.col("value") * 100)).alias("cents"))
    )
    out = asof_join(clicks, purchases, on="ts", by="user_id", matched_col="m")
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("m.ts").alias("purchase_ts"),
        F.col("m.cents").alias("purchase_cents"),
    )


register("a8_asof_join", """
SELECT l.event_id, l.user_id, l.ts,
       r.rts AS purchase_ts, r.cents AS purchase_cents
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') l
ASOF LEFT JOIN (
    SELECT user_id, ts AS rts,
           CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts) r
ON l.user_id = r.user_id AND l.ts >= r.rts
""")(_q_asof_join)


_RJ_WINDOW_US = 30 * 60 * 1_000_000  # 30-minute incident windows


def _q_range_join(spark, sf_dir):
    """Keyless point-in-interval join (errors falling inside a 30-min
    window after any signup) — bin-bucketed to an equi-join
    (operators/joins.py); a bare inequality join would be a broadcast
    nested loop."""
    from tabular_to_parquet_spark.operators.joins import range_join_binned

    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), F.unix_micros("ts").alias("t_us")
    )
    signups = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        F.unix_micros("ts").alias("lo_us"),
        (F.unix_micros("ts") + _RJ_WINDOW_US).alias("hi_us"),
    )
    out = range_join_binned(
        errors, signups, "t_us", "lo_us", "hi_us", bin_width=_RJ_WINDOW_US
    )
    return out.select("error_id", "signup_id")


register("a9_range_join_binned", f"""
SELECT e.event_id AS error_id, s.event_id AS signup_id
FROM events e JOIN events s
  ON e.event_type = 'error' AND s.event_type = 'signup'
 AND epoch_us(e.ts) >= epoch_us(s.ts)
 AND epoch_us(e.ts) < epoch_us(s.ts) + {_RJ_WINDOW_US}
""")(_q_range_join)


def _q_cube_counts(spark, sf_dir):
    """CUBE grouping sets (a6 covers ROLLUP)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.floor(F.col("o_totalprice") * 100)).alias("total_cents"),
    )


register("a10_cube_order_counts", """
SELECT o_orderstatus, o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
""")(_q_cube_counts)


def _q_props_json(spark, sf_dir):
    """Semi-structured extraction: the events ``props`` JSON column
    parsed JVM-side (get_json_object) — no Python in the loop."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_id", k.alias("k"))
        .groupBy((F.col("k") % 10).alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("k_sum"),
            F.min("event_id").alias("min_event_id"),
        )
    )


register("x08_props_json_extract", """
SELECT k % 10 AS k_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(k) AS BIGINT) AS k_sum,
       MIN(event_id) AS min_event_id
FROM (SELECT event_id,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events)
GROUP BY 1
""")(_q_props_json)


def _q_star_join(spark, sf_dir):
    """3-way star join: lineitem fact against two broadcast dims
    (part, supplier) — revenue cents per (p_type, s_nationkey)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).join(
        F.broadcast(supp), li.l_suppkey == supp.s_suppkey
    )
    return j.groupBy("p_type", "s_nationkey").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.floor(F.col("l_extendedprice") * 100)).alias("revenue_cents"),
    )


register("a13_star_join_revenue", """
SELECT p_type, s_nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS revenue_cents
FROM lineitem JOIN part ON l_partkey = p_partkey
              JOIN supplier ON l_suppkey = s_suppkey
GROUP BY p_type, s_nationkey
""")(_q_star_join)


def _q_funnel(spark, sf_dir):
    """Ordered funnel (view → click → purchase per user): stage N's
    timestamp is the earliest qualifying event STRICTLY AFTER stage
    N−1 — the sequential dependency that conditional aggregation
    cannot express, so the canonical plan is a cascade of per-stage
    min-aggregates joined on user_id (each stage one hash-agg + one
    equi-join on the user key; skew-bounded by per-user event counts).
    Output: one row per user who reached stage 1, with per-stage
    times (NULL = never reached) and the stage count."""
    ev = load_table(spark, sf_dir, "events")

    def stage(event_type, prev, prev_t):
        s = (
            ev.where(F.col("event_type") == event_type)
            .join(prev.where(F.col(prev_t).isNotNull()), "user_id")
            .where(F.col("ts") > F.col(prev_t))
            .groupBy("user_id")
            .agg(F.min("ts").alias("_t"))
        )
        return s

    f1 = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    f2 = f1.join(
        stage("click", f1, "t_view").select("user_id", F.col("_t").alias("t_click")),
        "user_id",
        "left",
    )
    f3 = f2.join(
        stage("purchase", f2, "t_click").select(
            "user_id", F.col("_t").alias("t_purchase")
        ),
        "user_id",
        "left",
    )
    reached = (
        F.lit(1)
        + F.col("t_click").isNotNull().cast("int")
        + F.col("t_purchase").isNotNull().cast("int")
    )
    return f3.select(
        "user_id", "t_view", "t_click", "t_purchase",
        reached.cast("long").alias("stages_reached"),
    )


register("a14_funnel_stages", """
WITH v AS (SELECT user_id, MIN(ts) AS t_view FROM events
           WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT e.user_id, MIN(e.ts) AS t_click
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t_view
      GROUP BY e.user_id),
p AS (SELECT e.user_id, MIN(e.ts) AS t_purchase
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      GROUP BY e.user_id)
SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
       CAST(1 + (c.t_click IS NOT NULL)::INT
              + (p.t_purchase IS NOT NULL)::INT AS BIGINT)
           AS stages_reached
FROM v LEFT JOIN c ON v.user_id = c.user_id
       LEFT JOIN p ON v.user_id = p.user_id
""")(_q_funnel)


def _q_decile_stats(spark, sf_dir):
    """Window-function breadth: ntile deciles over a total order plus
    lead/lag deltas, then per-decile aggregates. ntile needs a GLOBAL
    total order — fine here because the downstream agg collapses to 10
    rows; the 100 TB path is the result-identical
    ``ordering.decile_stats_scale`` twin (global positions via
    with_global_position, arithmetic ntile, pos-1 equi-join lag —
    measured 1.8x vs this form's 4.1x at 10x data, crossover ~1.5M
    rows). This form stays the catalog entry as the literal oracle
    transcription."""
    from pyspark.sql import Window as W

    orders = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100).cast("long")
    w = W.orderBy(cents.asc(), F.col("o_orderkey").asc())
    staged = orders.select(
        cents.alias("cents"),
        F.ntile(10).over(w).alias("decile"),
        (cents - F.lag(cents, 1).over(w)).alias("gap"),
    )
    return staged.groupBy("decile").agg(
        F.count("*").alias("n"),
        F.sum("cents").alias("sum_cents"),
        F.min("cents").alias("min_cents"),
        F.max("cents").alias("max_cents"),
        F.sum("gap").alias("sum_gaps"),
    ).select(
        F.col("decile").cast("long").alias("decile"),
        F.col("n").cast("long").alias("n"),
        "sum_cents", "min_cents", "max_cents", "sum_gaps",
    )


register("a16_decile_stats", """
WITH t AS (
    SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS cents, o_orderkey
    FROM orders),
w AS (
    SELECT cents,
           ntile(10) OVER (ORDER BY cents, o_orderkey) AS decile,
           cents - lag(cents, 1) OVER (ORDER BY cents, o_orderkey) AS gap
    FROM t)
SELECT CAST(decile AS BIGINT) AS decile,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(cents) AS BIGINT) AS sum_cents,
       CAST(MIN(cents) AS BIGINT) AS min_cents,
       CAST(MAX(cents) AS BIGINT) AS max_cents,
       CAST(SUM(gap) AS BIGINT) AS sum_gaps
FROM w GROUP BY decile
""")(_q_decile_stats)


def _q_decile_stats_scale(spark, sf_dir):
    """The 100 TB path for a16: result-identical decile stats with the
    global ntile/lag window replaced by ``ordering.decile_stats_scale``
    (exact global positions from per-block row_number + bounded
    block-offset cumsum, arithmetic ntile, pos-1 equi-join lag).
    Every data shuffle is a hash exchange; the only single-partition
    work is one row per value-range block. Measured 1.8x at 10x data
    vs the window form's 4.1x (crossover ~1.5M rows, SCALE.md §10).
    Registered against the SAME oracle as a16 — the twin's claim IS
    exact equality with the window form."""
    from tabular_to_parquet_spark.operators.ordering import decile_stats_scale

    return decile_stats_scale(load_table(spark, sf_dir, "orders"))


register("a16_decile_stats_scale", CATALOG["a16_decile_stats"].oracle)(
    _q_decile_stats_scale
)


def _q_interval_overlap(spark, sf_dir):
    """Interval×interval overlap join: error windows [ts, ts+value·60s)
    vs purchase windows [ts, ts+600s) per user. The engine bins both
    sides to 1-hour buckets and equi-joins on (bin, user); a pair is
    emitted only from the bin where its overlap STARTS, so it appears
    exactly once with NO dedup shuffle. The oracle joins directly on
    the overlap predicate — different algorithm, same rows."""
    from tabular_to_parquet_spark.operators.joins import interval_overlap_join

    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    err = ev.where(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("a_id"),
        us.alias("a_lo"),
        (us + F.floor(F.col("value") * 60).cast("long") * 1_000_000).alias("a_hi"),
    )
    pur = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("b_id"),
        us.alias("b_lo"),
        (us + F.lit(600_000_000)).alias("b_hi"),
    )
    joined = interval_overlap_join(
        err,
        pur.withColumnRenamed("p_user_id", "user_id"),
        "a_lo", "a_hi", "b_lo", "b_hi",
        bin_width=3_600_000_000,
        extra_keys=["user_id"],
    )
    return joined.select(
        "user_id", "a_id", "b_id",
        (
            F.least(F.col("a_hi"), F.col("b_hi"))
            - F.greatest(F.col("a_lo"), F.col("b_lo"))
        ).alias("overlap_us"),
    )


register("a15_interval_overlap_join", """
WITH e AS (SELECT user_id, event_id AS a_id, epoch_us(ts) AS lo,
                  epoch_us(ts) + (floor(value * 60))::BIGINT * 1000000 AS hi
           FROM events WHERE event_type = 'error'),
p AS (SELECT user_id, event_id AS b_id, epoch_us(ts) AS lo,
             epoch_us(ts) + 600000000 AS hi
      FROM events WHERE event_type = 'purchase')
SELECT e.user_id, a_id, b_id,
       LEAST(e.hi, p.hi) - GREATEST(e.lo, p.lo) AS overlap_us
FROM e JOIN p ON e.user_id = p.user_id AND e.lo < p.hi AND p.lo < e.hi
""")(_q_interval_overlap)


_DAY_US = 86_400_000_000


def _q_resample_ffill(spark, sf_dir):
    """Time-series resample with forward fill (a19): each user's
    `value` snapshotted at every end-of-day grid point between their
    first and last event — grid generation is a per-user ``sequence``
    + explode, the fill is the SAME union+window as-of machinery as a8
    (one shuffle on the user key, no point-per-observation join blowup).
    The oracle uses DuckDB's native ASOF JOIN — different algorithm,
    same rows. Cents exact; simultaneous observations pre-aggregated
    (max) so 'latest at ts' is well-defined on both engines."""
    from tabular_to_parquet_spark.operators.joins import asof_join

    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    obs = (
        ev.select(
            "user_id", us.alias("ts_us"),
            F.floor(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("user_id", "ts_us")
        .agg(F.max("cents").alias("cents"))
    )
    bounds = ev.groupBy("user_id").agg(
        F.min(us).alias("_lo"), F.max(us).alias("_hi")
    )
    grid = bounds.select(
        "user_id",
        F.explode(
            F.sequence(
                F.floor(F.col("_lo") / _DAY_US),
                F.floor(F.col("_hi") / _DAY_US),
            )
        ).alias("day"),
    ).select(
        "user_id", F.col("day").cast("long").alias("day"),
        ((F.col("day") + 1) * _DAY_US - 1).alias("ts_us"),
    )
    out = asof_join(grid, obs, on="ts_us", by="user_id", matched_col="m")
    return out.select(
        "user_id", "day", F.col("m.cents").alias("cents")
    )


register("a19_resample_ffill", f"""
WITH obs AS (
    SELECT user_id, epoch_us(ts) AS ts_us,
           MAX(CAST(floor(value * 100) AS BIGINT)) AS cents
    FROM events GROUP BY user_id, epoch_us(ts)),
bounds AS (
    SELECT user_id, MIN(epoch_us(ts)) AS lo, MAX(epoch_us(ts)) AS hi
    FROM events GROUP BY user_id),
grid AS (
    SELECT user_id, CAST(d AS BIGINT) AS day,
           (d + 1) * {_DAY_US} - 1 AS ts_us
    FROM bounds, LATERAL (SELECT unnest(range(lo // {_DAY_US},
                                              hi // {_DAY_US} + 1)) AS d))
SELECT g.user_id, g.day, o.cents
FROM grid g ASOF LEFT JOIN obs o
  ON g.user_id = o.user_id AND g.ts_us >= o.ts_us
""")(_q_resample_ffill)


_A18_WINDOW_US = 30_000_000  # 30 s


def _q_event_debounce(spark, sf_dir):
    """Telemetry debounce: drop an event when the SAME (user, type)
    fired within the last 30 s — the standard client-retry/duplicate-
    beacon cleanup. One lag() over a (user_id, event_type) window;
    per-key state, never global. Emitted: the surviving events'
    per-user counts + id checksum (pins the exact survivor set)."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    w = W.partitionBy("user_id", "event_type").orderBy(
        us.asc(), F.col("event_id").asc()
    )
    kept = (
        ev.withColumn("_prev", F.lag(us, 1).over(w))
        .where(
            F.col("_prev").isNull() | ((us - F.col("_prev")) > _A18_WINDOW_US)
        )
    )
    return kept.groupBy("user_id").agg(
        F.count("*").alias("n_kept"),
        F.sum("event_id").alias("id_checksum"),
    ).select(
        "user_id", F.col("n_kept").cast("long").alias("n_kept"),
        F.col("id_checksum").cast("long").alias("id_checksum"),
    )


register("a18_event_debounce", f"""
WITH lagged AS (
    SELECT user_id, event_id,
           epoch_us(ts) - lag(epoch_us(ts), 1) OVER (
               PARTITION BY user_id, event_type
               ORDER BY epoch_us(ts), event_id) AS delta
    FROM events)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(SUM(event_id) AS BIGINT) AS id_checksum
FROM lagged WHERE delta IS NULL OR delta > {_A18_WINDOW_US}
GROUP BY user_id
""")(_q_event_debounce)


def _q_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS (the general form under a6's ROLLUP and
    a10's CUBE) through the raw SQL surface — the star schema is
    registered as temp views (sources/tables.create_views) and the
    query is plain ANSI SQL, optimized by Catalyst exactly like the
    DataFrame API (one Expand + one hash-agg)."""
    from tabular_to_parquet_spark.sources.tables import create_views

    create_views(spark, sf_dir, ("orders",))
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents,
               CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority)
                    AS BIGINT) AS gid
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                                (o_orderstatus, o_orderpriority), ())
    """)


register("a17_grouping_sets", """
SELECT o_orderstatus, o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
       CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT)
           AS gid
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                        (o_orderstatus, o_orderpriority), ())
""")(_q_grouping_sets)


def _q_salted_agg(spark, sf_dir):
    """Skew-safe two-stage aggregation on a 5-key (maximally hot)
    grouping column — identical results to the plain groupBy, no
    reducer sees a whole key (operators/skew.py)."""
    from tabular_to_parquet_spark.operators.skew import salted_agg

    ev = load_table(spark, sf_dir, "events")
    return salted_agg(
        ev,
        keys=["event_type"],
        sums={"value_cents": F.floor(F.col("value") * 100)},
        buckets=32,
    )


register("a11_salted_agg", """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events GROUP BY event_type
""")(_q_salted_agg)


def _q_salted_join(spark, sf_dir):
    """Skew-safe fact→dimension join: every event joined to a per-type
    weight row; hot keys spread over 32 salt reducers
    (operators/skew.py). Oracle: the plain inner join."""
    from tabular_to_parquet_spark.operators.skew import salted_join

    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    dim = spark.createDataFrame(
        [("click", 1), ("view", 2), ("purchase", 10), ("signup", 5), ("error", 0)],
        "event_type string, weight long",
    )
    out = salted_join(ev, dim, on="event_type", buckets=32)
    return out.select(
        "event_id",
        "event_type",
        (F.floor(F.col("value") * 100) * F.col("weight")).alias("weighted_cents"),
    )


register("a12_salted_join", """
SELECT e.event_id, e.event_type,
       CAST(CAST(floor(e.value * 100) AS BIGINT) * d.weight AS BIGINT)
           AS weighted_cents
FROM events e JOIN (VALUES ('click', 1), ('view', 2), ('purchase', 10),
                           ('signup', 5), ('error', 0)) AS d(event_type, weight)
  ON e.event_type = d.event_type
""")(_q_salted_join)


# ---------------------------------------------------------------------------
# J1 — JSON-lines source (format extension): lineitem → ndjson → the
# SAME inference + cast pipeline → parquet. Oracle derives expected
# typed values straight from lineitem.


def _q_json_roundtrip(spark, sf_dir):
    import glob
    import os
    import tempfile

    from tabular_to_parquet_spark.operators.convert import run_conversion
    from tabular_to_parquet_spark.sources.json_lines import json_adapter

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag", "l_shipdate"
    )
    tmp = tempfile.mkdtemp(prefix="j1_json_")
    json_dir = os.path.join(tmp, "json")
    (
        li.coalesce(1)
        .write.option("timestampNTZFormat", "yyyy-MM-dd HH:mm:ss.SSS")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSS")
        .json(json_dir)
    )
    json_file = glob.glob(os.path.join(json_dir, "part-*.json"))[0]
    out = os.path.join(tmp, "lineitem_json.parquet")
    run_conversion(spark, json_adapter(spark, json_file), out)
    return spark.read.parquet(out)


register("j1_json_source_roundtrip", """
SELECT l_orderkey, l_quantity, l_returnflag,
       date_trunc('milliseconds', l_shipdate)::TIMESTAMP AS l_shipdate
FROM lineitem
""")(_q_json_roundtrip)


# ---------------------------------------------------------------------------
# ORC source (format extension): typed roundtrip and the all-string
# re-inference path, both through sources/columnar.py


def _q_orc_roundtrip(spark, sf_dir):
    import os
    import tempfile

    from tabular_to_parquet_spark.operators.convert import run_conversion
    from tabular_to_parquet_spark.sources.columnar import (
        columnar_adapter,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_shipdate"
    )
    tmp = tempfile.mkdtemp(prefix="orc1_")
    orc_dir = os.path.join(tmp, "orc")
    li.write.orc(orc_dir)
    out = os.path.join(tmp, "lineitem_orc.parquet")
    run_conversion(spark, columnar_adapter(spark, orc_dir, "orc"), out)
    return spark.read.parquet(out)


register("orc1_typed_roundtrip", """
SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_shipdate
FROM lineitem
""")(_q_orc_roundtrip)


def _q_orc_string_inference(spark, sf_dir):
    import os
    import tempfile

    from tabular_to_parquet_spark.operators.convert import run_conversion
    from tabular_to_parquet_spark.sources.columnar import (
        columnar_adapter,
    )

    li = load_table(spark, sf_dir, "lineitem")
    stringly = li.select(
        F.col("l_orderkey").cast("string"),
        F.col("l_quantity").cast("string"),
        F.col("l_returnflag").cast("string"),
        F.date_format("l_shipdate", "yyyy-MM-dd HH:mm:ss.SSS").alias("l_shipdate"),
    )
    tmp = tempfile.mkdtemp(prefix="orc2_")
    orc_dir = os.path.join(tmp, "orc")
    stringly.write.orc(orc_dir)
    out = os.path.join(tmp, "lineitem_orc2.parquet")
    types = run_conversion(spark, columnar_adapter(spark, orc_dir, "orc"), out).types
    assert types is not None and [t.kind for t in types] == [
        "uint64", "float64", "string", "timestamp",
    ], [t.kind for t in types]
    return spark.read.parquet(out)


register("orc2_string_inference", """
SELECT l_orderkey, l_quantity, l_returnflag,
       date_trunc('milliseconds', l_shipdate)::TIMESTAMP AS l_shipdate
FROM lineitem
""")(_q_orc_string_inference)


# ---------------------------------------------------------------------------
# S4 — delimiter sniffing through the full pipeline: a TAB-delimited
# file converted WITHOUT passing a delimiter; the sniffer
# (sources/sniff.py, reference utils.rs:121-137) must pick '\t' for
# the end-to-end values to match.


def _q_sniff_tsv_conversion(spark, sf_dir):
    import glob
    import os
    import tempfile

    from tabular_to_parquet_spark.operators.convert import (
        convert_delimited_to_parquet,
    )

    li = load_table(spark, sf_dir, "lineitem")
    rid = F.expr("l_orderkey * 10 + l_linenumber")
    lines = li.select(
        rid.alias("ord"),
        F.concat_ws(
            "\t",
            rid.cast("string"),
            F.col("l_extendedprice").cast("string"),
            F.col("l_linestatus"),
        ).alias("value"),
    )
    header = spark.createDataFrame(
        [(-1, "row_id\tprice\tstatus")], "ord long, value string"
    )
    tmp = tempfile.mkdtemp(prefix="s4_tsv_")
    txt_dir = os.path.join(tmp, "tsv")
    header.unionByName(lines).sort("ord").coalesce(1).select("value").write.text(txt_dir)
    tsv_file = glob.glob(os.path.join(txt_dir, "part-*.txt"))[0]
    out = os.path.join(tmp, "sniffed.parquet")
    res = convert_delimited_to_parquet(spark, tsv_file, out)  # no delimiter arg
    assert res.delimiter == "\t", f"sniffer picked {res.delimiter!r}"
    return spark.read.parquet(out)


register("s4_delimiter_sniff_tsv", """
SELECT CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS row_id,
       l_extendedprice AS price,
       l_linestatus AS status
FROM lineitem
""")(_q_sniff_tsv_conversion)


# ---------------------------------------------------------------------------
# multimodal — binary payload plumbing (text bytes stand in for media)


def _q_media_features(spark, sf_dir):
    media = multimodal.attach_payload(_docs(spark, sf_dir))
    return multimodal.extract_features(media)


register("m01_media_features", """
SELECT doc_id AS media_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS payload_md5,
       lower(hex(substr(text, 1, 4))) AS header_hex,
       false AS decoded
FROM documents
""")(_q_media_features)


def _q_media_frames(spark, sf_dir):
    media = multimodal.attach_payload(_docs(spark, sf_dir))
    frames = multimodal.sample_frames(media, every_n_bytes=64, max_frames=8)
    return frames.select(
        "media_id",
        F.col("frame_no").cast("long").alias("frame_no"),
        F.lower(F.hex(F.col("frame_bytes"))).alias("frame_hex"),
    )


def _q_media_resize(spark, sf_dir):
    media = multimodal.attach_payload(_docs(spark, sf_dir))
    out = multimodal.resize_media(media, target_w=64, target_h=64)
    return out.withColumn("target_w", F.col("target_w").cast("long")).withColumn(
        "target_h", F.col("target_h").cast("long")
    )


register("m03_media_resize", f"""
SELECT doc_id AS media_id,
       CAST(64 AS BIGINT) AS target_w, CAST(64 AS BIGINT) AS target_h,
       CAST(length(resized) AS BIGINT) AS resized_n_bytes,
       md5(resized) AS resized_md5,
       false AS decoded
FROM (
    SELECT doc_id,
           (SELECT string_agg(substr(text, i, 1), '' ORDER BY i)
            FROM unnest(range(1, length(text) + 1,
                              greatest(1, length(text) // {multimodal.RESIZE_TARGET_BYTES}))) t(i))
               AS resized
    FROM documents
)
""")(_q_media_resize)


# --- real-codec paths: synthetic BMP/WAV payloads decoded by the pure-
# --- Python codecs (operators/codecs.py); the oracle recomputes every
# --- statistic from the generation formulas alone, so a hash match
# --- proves the decoder correctly parsed the container bytes


def _q_bmp_decode(spark, sf_dir):
    media = multimodal.attach_bmp_payload(_docs(spark, sf_dir))
    return multimodal.decode_image_features(media)


register("m04_bmp_decode_features", """
SELECT doc_id AS media_id,
       CAST(8 + doc_id % 16 AS BIGINT) AS width,
       CAST(8 + doc_id % 12 AS BIGINT) AS height,
       CAST(SUM((x + y + doc_id) % 256) AS BIGINT) AS r_sum,
       CAST(SUM((2 * x + doc_id) % 256) AS BIGINT) AS g_sum,
       CAST(SUM((y + 2 * doc_id) % 256) AS BIGINT) AS b_sum,
       true AS decoded
FROM (SELECT doc_id, 8 + doc_id % 16 AS w, 8 + doc_id % 12 AS h FROM documents),
     LATERAL (SELECT unnest(range(0, w)) AS x),
     LATERAL (SELECT unnest(range(0, h)) AS y)
GROUP BY doc_id
""")(_q_bmp_decode)


def _q_bmp_resize(spark, sf_dir):
    media = multimodal.attach_bmp_payload(_docs(spark, sf_dir))
    return multimodal.resize_image_features(media, target_w=16, target_h=16)


register("m05_bmp_resize_features", """
SELECT doc_id AS media_id,
       CAST(16 AS BIGINT) AS width, CAST(16 AS BIGINT) AS height,
       CAST(SUM((((i * w) // 16) + ((j * h) // 16) + doc_id) % 256) AS BIGINT) AS r_sum,
       CAST(SUM((2 * ((i * w) // 16) + doc_id) % 256) AS BIGINT) AS g_sum,
       CAST(SUM((((j * h) // 16) + 2 * doc_id) % 256) AS BIGINT) AS b_sum,
       true AS decoded
FROM (SELECT doc_id, 8 + doc_id % 16 AS w, 8 + doc_id % 12 AS h FROM documents),
     LATERAL (SELECT unnest(range(0, 16)) AS i),
     LATERAL (SELECT unnest(range(0, 16)) AS j)
GROUP BY doc_id
""")(_q_bmp_resize)


def _q_png_decode(spark, sf_dir):
    media = multimodal.attach_png_payload(_docs(spark, sf_dir))
    return multimodal.decode_image_features(media)


# same pixel formulas as m04 but through the COMPRESSED container
# (chunk CRCs + zlib inflate + all five PNG row filters)
register("m07_png_decode_features", """
SELECT doc_id AS media_id,
       CAST(8 + doc_id % 16 AS BIGINT) AS width,
       CAST(8 + doc_id % 12 AS BIGINT) AS height,
       CAST(SUM((x + y + doc_id) % 256) AS BIGINT) AS r_sum,
       CAST(SUM((2 * x + doc_id) % 256) AS BIGINT) AS g_sum,
       CAST(SUM((y + 2 * doc_id) % 256) AS BIGINT) AS b_sum,
       true AS decoded
FROM (SELECT doc_id, 8 + doc_id % 16 AS w, 8 + doc_id % 12 AS h FROM documents),
     LATERAL (SELECT unnest(range(0, w)) AS x),
     LATERAL (SELECT unnest(range(0, h)) AS y)
GROUP BY doc_id
""")(_q_png_decode)


def _q_avi_decode(spark, sf_dir):
    media = multimodal.attach_avi_payload(_docs(spark, sf_dir))
    return multimodal.decode_video_features(media)


# pixel sums over (frame, x, y) — every value is channel-uniform, so
# px_sum = 3 × the single-channel sum over all frames
register("m08_avi_decode_features", """
SELECT doc_id AS media_id,
       CAST(8 + doc_id % 8 AS BIGINT) AS width,
       CAST(6 + doc_id % 6 AS BIGINT) AS height,
       CAST(2 + doc_id % 4 AS BIGINT) AS n_frames,
       CAST(3 * SUM((x + y + f + doc_id) % 256) AS BIGINT) AS px_sum,
       CAST(3 * SUM(CASE WHEN f = n - 1 THEN (x + y + f + doc_id) % 256
                         ELSE 0 END) AS BIGINT) AS last_frame_sum,
       true AS decoded
FROM (SELECT doc_id, 8 + doc_id % 8 AS w, 6 + doc_id % 6 AS h,
             2 + doc_id % 4 AS n
      FROM documents),
     LATERAL (SELECT unnest(range(0, n)) AS f),
     LATERAL (SELECT unnest(range(0, w)) AS x),
     LATERAL (SELECT unnest(range(0, h)) AS y)
GROUP BY doc_id
""")(_q_avi_decode)


def _q_wav_decode(spark, sf_dir):
    media = multimodal.attach_wav_payload(_docs(spark, sf_dir))
    return multimodal.decode_audio_features(media)


register("m06_wav_decode_features", """
SELECT doc_id AS media_id,
       CAST(8000 + (doc_id % 4) * 4000 AS BIGINT) AS sample_rate,
       CAST(64 + doc_id % 128 AS BIGINT) AS n_samples,
       CAST(SUM((i * (doc_id + 7)) % 2003 - 1001) AS BIGINT) AS amp_sum,
       CAST(MAX((i * (doc_id + 7)) % 2003 - 1001) AS BIGINT) AS amp_max,
       true AS decoded
FROM (SELECT doc_id, 64 + doc_id % 128 AS n FROM documents),
     LATERAL (SELECT unnest(range(0, n)) AS i)
GROUP BY doc_id
""")(_q_wav_decode)


def _q_video_motion(spark, sf_dir):
    """Frame-difference motion energy over the real AVI decode (m11):
    Σ|frame_f − frame_{f−1}| per byte, exact integers. The oracle
    regenerates every pixel from the fixture rule and re-derives the
    same absolute differences relationally."""
    media = multimodal.attach_avi_payload(_docs(spark, sf_dir))
    return multimodal.video_motion_energy(media)


register("m11_video_motion_energy", """
SELECT doc_id AS media_id,
       CAST(2 + doc_id % 4 AS BIGINT) AS n_frames,
       CAST(3 * SUM(CASE WHEN f = 0 THEN 0
                         ELSE abs(((x + y + f + doc_id) % 256)
                                  - ((x + y + f - 1 + doc_id) % 256)) END)
            AS BIGINT) AS motion_energy
FROM (SELECT doc_id, 8 + doc_id % 8 AS w, 6 + doc_id % 6 AS h,
             2 + doc_id % 4 AS n
      FROM documents),
     LATERAL (SELECT unnest(range(0, n)) AS f),
     LATERAL (SELECT unnest(range(0, w)) AS x),
     LATERAL (SELECT unnest(range(0, h)) AS y)
GROUP BY doc_id
""")(_q_video_motion)


_M10_WIN = 32


def _q_audio_energy(spark, sf_dir):
    """Windowed audio energy over the real WAV decode: per 32-sample
    window, the exact-integer sum of squared PCM values. The oracle
    regenerates the synthetic samples from the fixture rule and
    re-windows them relationally."""
    media = multimodal.attach_wav_payload(_docs(spark, sf_dir))
    return multimodal.audio_energy_windows(media, window=_M10_WIN)


register("m10_audio_energy_windows", f"""
SELECT doc_id AS media_id,
       CAST(i // {_M10_WIN} AS BIGINT) AS window_idx,
       CAST(COUNT(*) AS BIGINT) AS n_samples,
       CAST(SUM(((i * (doc_id + 7)) % 2003 - 1001)
                * ((i * (doc_id + 7)) % 2003 - 1001)) AS BIGINT) AS energy
FROM (SELECT doc_id, 64 + doc_id % 128 AS n FROM documents),
     LATERAL (SELECT unnest(range(0, n)) AS i)
GROUP BY 1, 2
""")(_q_audio_energy)


register("m02_media_sample_frames", """
SELECT doc_id AS media_id, CAST(i AS BIGINT) AS frame_no,
       lower(hex(substr(text, i * 64 + 1, 64))) AS frame_hex
FROM documents,
     LATERAL (SELECT unnest(range(0, least(8, greatest(1, length(text) // 64)))) AS i)
""")(_q_media_frames)


# ---------------------------------------------------------------------------
# Avro source (format extension): typed roundtrip and the all-string
# re-inference path through sources/columnar.py. The container has no
# spark-avro jar, so these exercise the pure-Python fallback reader
# (sources/avro_python.py: binaryFile scan -> mapInPandas decode).
# Fixture WRITING is driver-side test scaffolding (our writer exists
# for fixtures only); the engine path under test is the distributed
# read + convert.


def _write_avro_fixture(pdf, avro_dir, schema, fields, n_files=4):
    import os

    from tabular_to_parquet_spark.sources import avro_python as ap

    os.makedirs(avro_dir, exist_ok=True)
    chunk = max(1, -(-len(pdf) // n_files))
    for i in range(n_files):
        part = pdf.iloc[i * chunk:(i + 1) * chunk]
        if len(part) == 0:
            break
        ap.write_container(
            os.path.join(avro_dir, f"part-{i:04d}.avro"),
            schema,
            ap.pandas_to_records(part, fields),
            # alternate codecs so the sweep exercises both decode paths
            codec="deflate" if i % 2 == 0 else "null",
        )


def _q_avro_roundtrip(spark, sf_dir):
    import os
    import tempfile

    from tabular_to_parquet_spark.sources.avro_python import parse_record_schema
    from tabular_to_parquet_spark.operators.convert import run_conversion
    from tabular_to_parquet_spark.sources.columnar import (
        columnar_adapter,
    )

    # deterministic fixture bound: covers every certification sf
    # completely (max l_orderkey at sf0.1 is 149,999) while keeping
    # the driver-side materialization O(1) in corpus growth — the 10x
    # replica smoke hit the 2M-row _fixture_pdf cap without it. The
    # oracle carries the identical predicate.
    pdf = _fixture_pdf(
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") < 250000)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag",
                "l_shipdate")
    )
    schema = {"type": "record", "name": "lineitem", "fields": [
        {"name": "l_orderkey", "type": ["null", "long"]},
        {"name": "l_linenumber", "type": ["null", "int"]},
        {"name": "l_quantity", "type": ["null", "double"]},
        {"name": "l_returnflag", "type": ["null", "string"]},
        {"name": "l_shipdate",
         "type": ["null", {"type": "long", "logicalType": "timestamp-micros"}]},
    ]}
    fields = parse_record_schema(json.dumps(schema))
    tmp = tempfile.mkdtemp(prefix="avro1_")
    avro_dir = os.path.join(tmp, "avro")
    _write_avro_fixture(pdf, avro_dir, schema, fields)
    out = os.path.join(tmp, "lineitem_avro.parquet")
    types = run_conversion(spark, columnar_adapter(spark, avro_dir, "avro"), out).types
    assert types is None, "typed container must skip inference"
    return spark.read.parquet(out)


register("avro1_typed_roundtrip", """
SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_shipdate
FROM lineitem WHERE l_orderkey < 250000
""")(_q_avro_roundtrip)


def _q_avro_string_inference(spark, sf_dir):
    import os
    import tempfile

    from tabular_to_parquet_spark.sources.avro_python import parse_record_schema
    from tabular_to_parquet_spark.operators.convert import run_conversion
    from tabular_to_parquet_spark.sources.columnar import (
        columnar_adapter,
    )

    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") < 250000  # bounded fixture; see avro1
    )
    pdf = _fixture_pdf(li.select(
        F.col("l_orderkey").cast("string"),
        F.col("l_quantity").cast("string"),
        F.col("l_returnflag").cast("string"),
        F.date_format("l_shipdate", "yyyy-MM-dd HH:mm:ss.SSS").alias("l_shipdate"),
    ))
    schema = {"type": "record", "name": "stringly", "fields": [
        {"name": c, "type": ["null", "string"]} for c in pdf.columns
    ]}
    fields = parse_record_schema(json.dumps(schema))
    tmp = tempfile.mkdtemp(prefix="avro2_")
    avro_dir = os.path.join(tmp, "avro")
    _write_avro_fixture(pdf, avro_dir, schema, fields)
    out = os.path.join(tmp, "lineitem_avro2.parquet")
    types = run_conversion(spark, columnar_adapter(spark, avro_dir, "avro"), out).types
    assert types is not None and [t.kind for t in types] == [
        "uint64", "float64", "string", "timestamp",
    ], types and [t.kind for t in types]
    return spark.read.parquet(out)


register("avro2_string_inference", """
SELECT l_orderkey, l_quantity, l_returnflag,
       date_trunc('milliseconds', l_shipdate)::TIMESTAMP AS l_shipdate
FROM lineitem WHERE l_orderkey < 250000
""")(_q_avro_string_inference)


def _q_mjpeg_decode(spark, sf_dir):
    media = multimodal.attach_mjpeg_payload(_docs(spark, sf_dir))
    return multimodal.decode_mjpeg_video_features(media)


# m09 — COMPRESSED video: MJPEG-in-AVI, one baseline huffman-coded JPEG
# per '00dc' chunk (operators/codecs.py). Fixture frames are
# block-constant per 8x8 tile, so the DC-only spectrum survives the
# flat-qtable roundtrip bit-exactly and the oracle recomputes pixel
# sums straight from the generation formula: a hash match proves a real
# entropy-decode + IDCT ran on every frame. Grayscale replicated to RGB
# -> px sums are 3 * 64 * block-value sums.
register("m09_mjpeg_decode_features", """
SELECT doc_id AS media_id,
       CAST(8 * (1 + doc_id % 3) AS BIGINT) AS width,
       CAST(8 * (1 + doc_id % 2) AS BIGINT) AS height,
       CAST(2 + doc_id % 3 AS BIGINT) AS n_frames,
       CAST(192 * SUM((bx * 13 + by * 7 + f * 31 + doc_id) % 256) AS BIGINT) AS px_sum,
       CAST(192 * SUM(CASE WHEN f = n - 1
                           THEN (bx * 13 + by * 7 + f * 31 + doc_id) % 256
                           ELSE 0 END) AS BIGINT) AS last_frame_sum,
       true AS decoded
FROM (SELECT doc_id, 1 + doc_id % 3 AS wb, 1 + doc_id % 2 AS hb,
             2 + doc_id % 3 AS n
      FROM documents),
     LATERAL (SELECT unnest(range(0, n)) AS f),
     LATERAL (SELECT unnest(range(0, wb)) AS bx),
     LATERAL (SELECT unnest(range(0, hb)) AS by)
GROUP BY doc_id
""")(_q_mjpeg_decode)


# ---------------------------------------------------------------------------
# lexical retrieval (operators/retrieval.py): BM25 top-k + TF-IDF terms.
# Rational idf (NO ln — measured 198/2000 last-ulp ln() mismatches
# between JVM Math.log and DuckDB libm, see retrieval.py docstring),
# fixed-point micro-unit scores summed as BIGINT.


def _q_bm25(spark, sf_dir):
    from tabular_to_parquet_spark.operators import retrieval

    docs = _docs(spark, sf_dir)
    queries = docs.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    return retrieval.bm25_topk(docs, queries, k1=1.2, b=0.75, top_k=10)


register("x17_bm25_topk", f"""
WITH tf AS (
    SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
    FROM (SELECT doc_id, unnest({_TOKS_LC}) AS term FROM documents)
    GROUP BY doc_id, term
),
dl AS (SELECT doc_id, CAST(len({_TOKS_LC}) AS BIGINT) AS dl FROM documents),
scalars AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
qterms AS (SELECT doc_id AS query_id, term
           FROM (SELECT doc_id, unnest(list_distinct({_TOKS_LC})) AS term
                 FROM documents WHERE doc_id % 97 = 0)),
dfs AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
        FROM tf WHERE term IN (SELECT term FROM qterms) GROUP BY term),
scored AS (
    SELECT query_id, tf.doc_id,
           CAST(SUM(CAST(floor(
               (n_docs - df + 0.5) / (df + 0.5)
               * (tf * 2.2)
               / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl)))
               * 1000000.0) AS BIGINT)) AS BIGINT) AS score_micro
    FROM tf
    JOIN qterms USING (term)
    JOIN dfs USING (term)
    JOIN dl ON tf.doc_id = dl.doc_id
    CROSS JOIN scalars
    GROUP BY query_id, tf.doc_id
)
SELECT query_id, doc_id, score_micro, CAST(rank AS BIGINT) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY score_micro DESC, doc_id) AS rank
      FROM scored)
WHERE rank <= 10
""")(_q_bm25)


def _q_tfidf(spark, sf_dir):
    from tabular_to_parquet_spark.operators import retrieval

    return retrieval.tfidf_top_terms(_docs(spark, sf_dir), top_t=3)


register("x18_tfidf_top_terms", f"""
WITH tf AS (
    SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
    FROM (SELECT doc_id, unnest({_TOKS_LC}) AS term FROM documents)
    GROUP BY doc_id, term
),
dfs AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
weighted AS (
    SELECT doc_id, term,
           CAST(floor(tf * (CAST((SELECT COUNT(*) FROM documents) AS DOUBLE) / df)
                      * 1000000.0) AS BIGINT) AS weight_micro
    FROM tf JOIN dfs USING (term)
)
SELECT doc_id, term, weight_micro, CAST(rank AS BIGINT) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY weight_micro DESC, term) AS rank
      FROM weighted)
WHERE rank <= 3
""")(_q_tfidf)


# ---------------------------------------------------------------------------
# cohort retention (a20): cohort = epoch-day of a user's first event;
# retention cell = distinct users active k days later.  All integer
# day arithmetic (unix_micros div 86400e6 — the testdata spans one
# month, so daily grain is the meaningful one; no interval/datediff
# engine semantics to diverge on).


def _q_cohort_retention(spark, sf_dir):
    """Two hash-aggs and one equi-join on user_id: per-user first
    day (min), then distinct (user, day) pairs joined back and
    counted per (cohort, offset).  At scale both aggs map-side
    combine; the join key is the natural user partitioning."""
    ev = load_table(spark, sf_dir, "events")
    d = F.expr("unix_micros(ts) div 86400000000").cast("long")
    user_d = ev.select(F.col("user_id"), d.alias("d")).distinct()
    first = user_d.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
    return (
        user_d.join(first, "user_id")
        .groupBy(
            F.col("cohort_day"),
            (F.col("d") - F.col("cohort_day")).cast("long").alias("days_since"),
        )
        .agg(F.countDistinct("user_id").cast("long").alias("n_users"))
    )


register("a20_cohort_retention", """
WITH user_d AS (
    SELECT DISTINCT user_id, CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d
    FROM events
),
first AS (SELECT user_id, MIN(d) AS cohort_day FROM user_d GROUP BY user_id)
SELECT cohort_day, CAST(d - cohort_day AS BIGINT) AS days_since,
       CAST(COUNT(DISTINCT user_d.user_id) AS BIGINT) AS n_users
FROM user_d JOIN first ON user_d.user_id = first.user_id
GROUP BY 1, 2
""")(_q_cohort_retention)


# ---------------------------------------------------------------------------
# st4 — stream-stream attribution join (click → purchase within 30 min)


def _q_stream_click_purchase(spark, sf_dir):
    """REAL stream-stream self-join (two watermarked sides of one file
    stream, inner join on user + event-time interval, append mode).
    The oracle is the identical batch join — on static input the
    drained append stream emits exactly the batch row set."""
    from tabular_to_parquet_spark.streaming.streams import stream_click_purchase_join

    return stream_click_purchase_join(
        spark, f"{sf_dir}/events.parquet", query_name="st4_stream"
    )


register("st4_stream_click_purchase_join", """
SELECT c.user_id,
       c.event_id AS click_id,
       p.event_id AS purchase_id,
       CAST(floor(epoch(p.ts - c.ts)) AS BIGINT) AS delay_sec
FROM (SELECT * FROM events WHERE event_type = 'click') c
JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id
 AND p.ts > c.ts
 AND p.ts <= c.ts + INTERVAL 30 MINUTE
""")(_q_stream_click_purchase)


# ---------------------------------------------------------------------------
# a21 — SCD2 compressed history build (validity intervals per user)


def _q_scd2(spark, sf_dir):
    """Slowly-changing-dimension type-2 build from an event log: per
    user, keep only rows where event_type CHANGES (lag compare), then
    close each surviving row's validity interval with the next
    survivor's timestamp (lead; NULL = current).  Two windows over the
    SAME (user_id, ts, event_id) ordering — one shuffle on user_id,
    the second window reuses the partitioning and sort."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    changed = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("_prev", F.lag("event_type").over(w))
        .filter(F.col("_prev").isNull() | (F.col("_prev") != F.col("event_type")))
    )
    return changed.select(
        "user_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
    )


register("a21_scd2_intervals", """
WITH base AS (
    SELECT user_id, ts, event_id, event_type,
           lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev
    FROM events
),
ch AS (SELECT user_id, ts, event_id, event_type
       FROM base WHERE prev IS NULL OR prev <> event_type)
SELECT user_id, event_type, ts AS valid_from,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
FROM ch
""")(_q_scd2)


# ---------------------------------------------------------------------------
# XML1 — native XML source through the full conversion pipeline


def _q_xml_conversion(spark, sf_dir):
    """XML rendering of orders (child elements per field) → Spark 4
    native XML scan (all-string schema) → shared inference + casts →
    typed parquet. Oracle reads the original table — a fifth wire
    format through the one format-agnostic pipeline."""
    import glob
    import os
    import tempfile

    from tabular_to_parquet_spark.operators.convert import run_conversion
    from tabular_to_parquet_spark.sources.xml_source import xml_adapter

    orders = load_table(spark, sf_dir, "orders")
    rec = F.concat(
        F.lit("<row><id>"), F.col("o_orderkey").cast("string"),
        F.lit("</id><cust>"), F.col("o_custkey").cast("string"),
        F.lit("</cust><status>"), F.col("o_orderstatus"),
        F.lit("</status><price>"), F.format_string("%.2f", F.col("o_totalprice")),
        F.lit("</price><date>"), F.date_format(F.col("o_orderdate"), "yyyy-MM-dd"),
        F.lit("</date><priority>"), F.col("o_orderpriority"),
        F.lit("</priority></row>"),
    )
    tmp = tempfile.mkdtemp(prefix="xml1_")
    txt_dir = os.path.join(tmp, "txt")
    orders.sort("o_orderkey").select(rec.alias("value")).coalesce(1).write.text(txt_dir)
    part = glob.glob(os.path.join(txt_dir, "part-*.txt"))[0]
    xml_file = os.path.join(tmp, "orders.xml")
    with open(xml_file, "w", encoding="utf-8") as out_fh:
        out_fh.write("<rows>\n")
        with open(part, encoding="utf-8") as in_fh:
            for line in in_fh:
                out_fh.write(line)
        out_fh.write("</rows>\n")
    out = os.path.join(tmp, "xml.parquet")
    run_conversion(spark, xml_adapter(spark, xml_file, row_tag="row"), out)
    return spark.read.parquet(out).withColumn(
        "date", F.col("date").cast("timestamp")
    )


register("xml1_typed_roundtrip", """
SELECT o_orderkey AS id, o_custkey AS cust, o_orderstatus AS status,
       CAST(o_totalprice AS DOUBLE) AS price,
       o_orderdate AS date,
       o_orderpriority AS priority
FROM orders
""")(_q_xml_conversion)


# ---------------------------------------------------------------------------
# a22 — recursive CTE (Spark 4 native WITH RECURSIVE vs DuckDB's):
# the d10/d11 cluster family implements iteration manually (bounded
# hops / fixpoint loop); this row drives the ENGINE's own recursion.

_A22_SQL = """
WITH RECURSIVE chain AS (
    SELECT c_custkey AS node, CAST(0 AS BIGINT) AS depth
    FROM customer WHERE c_custkey = 1
    UNION ALL
    SELECT c.c_custkey, chain.depth + 1
    FROM customer c JOIN chain ON c.c_custkey = chain.node * 2
                                OR c.c_custkey = chain.node * 2 + 1
)
SELECT depth, CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(SUM(node) AS BIGINT) AS node_checksum
FROM chain GROUP BY depth
"""


def _q_recursive_chain(spark, sf_dir):
    """Transitive closure of a synthetic binary-tree hierarchy over
    customers (children of k are 2k and 2k+1) by NATIVE recursive CTE
    — the identical SQL text runs on both engines over the shared
    views. Spark plans each recursion level as a join against the
    prior level's result (UnionLoop); depth is bounded by log2(|customer|)."""
    from tabular_to_parquet_spark.sources.tables import create_views

    create_views(spark, sf_dir, ("customer",))
    return spark.sql(_A22_SQL)


register("a22_recursive_hierarchy", _A22_SQL)(_q_recursive_chain)


# ---------------------------------------------------------------------------
# g01 — integer fixed-point PageRank over the co-purchase graph
# (operators/graph.py); x19 — co-purchase pair mining


def _pagerank_oracle(n_iter: int = 3) -> str:
    """Unrolled-iteration DuckDB twin of graph.pagerank_fixed: every
    stage is integer arithmetic (`//` ≡ Spark `div`), so any iteration
    count is bit-exact."""
    base = (15 * 1_000_000) // 100
    ctes = ["""edges AS (
    SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
    FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
    WHERE a.l_partkey <> b.l_partkey
)""", """nodes AS (
    SELECT src AS node FROM edges UNION SELECT dst FROM edges
)""", """outdeg AS (
    SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM edges GROUP BY src
)""", """r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes)"""]
    for i in range(1, n_iter + 1):
        ctes.append(f"""c{i} AS (
    SELECT dst AS node, SUM(rank // outdeg) AS s
    FROM edges JOIN r{i-1} ON edges.src = r{i-1}.node
               JOIN outdeg ON edges.src = outdeg.src
    GROUP BY dst
)""")
        ctes.append(f"""r{i} AS (
    SELECT nodes.node,
           CAST({base} + (85 * COALESCE(s, 0)) // 100 AS BIGINT) AS rank
    FROM nodes LEFT JOIN c{i} ON nodes.node = c{i}.node
)""")
    return "WITH " + ",\n".join(ctes) + f"\nSELECT node, rank FROM r{n_iter}"


def _q_pagerank(spark, sf_dir):
    """3 unrolled PageRank iterations over the part co-purchase graph
    — ONE Catalyst plan, no driver round-trips; integer fixed-point
    keeps every iteration bit-exact across engines."""
    from tabular_to_parquet_spark.operators import graph

    li = load_table(spark, sf_dir, "lineitem")
    edges = graph.copurchase_edges(li)
    return graph.pagerank_fixed(edges, n_iter=3)


register("g01_pagerank_copurchase", _pagerank_oracle(3))(_q_pagerank)


def _q_copurchase_top(spark, sf_dir):
    """Market-basket mining: the 20 part pairs co-purchased in the
    most orders (canonical src<dst orientation halves the pair space;
    TakeOrderedAndProject, unique pair tiebreak)."""
    li = load_table(spark, sf_dir, "lineitem")
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p_a"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p_b"))
    return (
        a.join(b, "ok")
        .filter(F.col("p_a") < F.col("p_b"))
        .select("ok", "p_a", "p_b")
        .distinct()
        .groupBy("p_a", "p_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
        .orderBy(F.col("n_orders").desc(), "p_a", "p_b")
        .limit(20)
    )


register("x19_copurchase_top_pairs", """
SELECT p_a, p_b, CAST(COUNT(*) AS BIGINT) AS n_orders
FROM (SELECT DISTINCT a.l_orderkey AS ok, a.l_partkey AS p_a, b.l_partkey AS p_b
      FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey < b.l_partkey)
GROUP BY p_a, p_b
ORDER BY n_orders DESC, p_a, p_b
LIMIT 20
""")(_q_copurchase_top)


# ---------------------------------------------------------------------------
# a23 — rolling range-frame features (event-time RANGE window, not ROWS)


def _q_rolling_range(spark, sf_dir):
    """Per-user trailing-1-hour activity at every event: a RANGE frame
    over integer epoch-seconds (count + integer cents sum). ROWS
    frames (a7) are positional; this is the event-TIME frame —
    deterministic because the frame bound is a value comparison, not
    a peer-row ordering."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    sec = F.expr("unix_micros(ts) div 1000000")
    base = ev.select(
        "user_id", "event_id", sec.alias("sec"),
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = W.partitionBy("user_id").orderBy("sec").rangeBetween(-3600, 0)
    return base.select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(w).cast("long").alias("n_1h"),
        F.sum("cents").over(w).cast("long").alias("cents_1h"),
    )


register("a23_rolling_1h_features", """
SELECT user_id, event_id,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
       CAST(SUM(cents) OVER w AS BIGINT) AS cents_1h
FROM (SELECT user_id, event_id, epoch_us(ts) // 1000000 AS sec,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events)
WINDOW w AS (PARTITION BY user_id ORDER BY sec
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
""")(_q_rolling_range)


# ---------------------------------------------------------------------------
# x20 — VARIANT semi-structured path (Spark 4 parse_json/variant_get
# vs DuckDB JSON): same extraction as x08's get_json_object, through
# the open VARIANT type instead of string functions.


def _q_variant_props(spark, sf_dir):
    """props JSON → VARIANT once, typed path extraction, grouped
    exact-integer stats. VARIANT keeps the parsed tree in a compact
    binary form — at scale the parse happens once per row, not once
    per extracted field."""
    ev = load_table(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    k = F.variant_get(v, "$.k", "bigint")
    return ev.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("k").cast("long").alias("k_sum"),
        F.min("k").cast("long").alias("k_min"),
        F.max("k").cast("long").alias("k_max"),
    )


register("x20_variant_props_stats", """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(k) AS BIGINT) AS k_sum,
       CAST(MIN(k) AS BIGINT) AS k_min,
       CAST(MAX(k) AS BIGINT) AS k_max
FROM (SELECT event_type, CAST(json_extract(props, '$.k') AS BIGINT) AS k
      FROM events)
GROUP BY event_type
""")(_q_variant_props)


# ---------------------------------------------------------------------------
# st5 — built-in streaming dedup under duplicated delivery


def _q_stream_dedup_wm(spark, sf_dir):
    """Every event delivered twice (self-union stream), deduped by the
    built-in dropDuplicatesWithinWatermark — the oracle is the plain
    batch projection: exactly one row per event_id survives."""
    from tabular_to_parquet_spark.streaming.streams import (
        stream_dedup_within_watermark,
    )

    return stream_dedup_within_watermark(
        spark, f"{sf_dir}/events.parquet", query_name="st5_stream"
    )


register("st5_stream_dedup_within_watermark", """
SELECT event_id, user_id, event_type,
       CAST(floor(value * 100) AS BIGINT) AS value_cents
FROM events
""")(_q_stream_dedup_wm)


# ---------------------------------------------------------------------------
# ev07 — hopping (sliding) window aggregation: each event lands in
# window_size/slide overlapping windows.


def _q_hopping_windows(spark, sf_dir):
    """15-minute windows sliding every 5 minutes via the built-in
    F.window(size, slide) — Spark expands each row into size/slide
    window instances before the hash-agg (same Expand shape as
    rollup).  The oracle derives the 3 member window-starts per event
    arithmetically.  Deterministic: window boundaries are pure epoch
    integer math; aggregates are counts + integer cents."""
    ev = load_table(spark, sf_dir, "events")
    agg = (
        ev.groupBy(
            F.window("ts", "15 minutes", "5 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("value_cents"),
        )
    )
    return agg.select(
        F.col("w.start").alias("window_start"), "event_type", "n_events", "value_cents"
    )


register("ev07_hopping_window_stats", """
SELECT to_timestamp((epoch_us(ts) // 1000000 // 300 - k) * 300)::TIMESTAMP
           AS window_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events, LATERAL (SELECT unnest(range(0, 3)) AS k)
WHERE (epoch_us(ts) // 1000000 // 300 - k) * 300 + 900 > epoch_us(ts) // 1000000
GROUP BY 1, 2
""")(_q_hopping_windows)


# ---------------------------------------------------------------------------
# x21 — Python UDTF (Spark 4 user-defined TABLE function, LATERAL)


def _q_termfreq_udtf(spark, sf_dir):
    """Per-document term frequencies via a registered Python UDTF
    driven from SQL with LATERAL — the API-surface demo for
    user-defined table functions (multi-row output per input row).
    Arrow-batched evaluation (ArrowEvalPythonUDTF) replaces the
    default row-at-a-time pickling; the pure-expression SCALE path
    for this job remains the explode + hash-agg in
    retrieval.corpus_term_stats."""
    import re

    from pyspark.sql.functions import udtf

    # Arrow UDTF eval is a session default (_ensure_session_confs),
    # not set here: a per-query conf.set would leak into every later
    # query in the session as an order-dependent global.

    ws_split = re.compile(r"[ \t\n\x0b\f\r]+")

    @udtf(returnType="term string, tf int")
    class TermFreq:
        def eval(self, text: str):
            if text is None:
                return
            counts: dict[str, int] = {}
            for t in ws_split.split(text.strip(" \t\n\x0b\f\r")):
                if t:
                    t = t.lower()
                    counts[t] = counts.get(t, 0) + 1
            for term in sorted(counts):
                yield term, counts[term]

    spark.udtf.register("term_freq", TermFreq)
    from tabular_to_parquet_spark.sources.tables import create_views

    create_views(spark, sf_dir, ("documents",))
    return spark.sql(
        "SELECT doc_id, s.term, s.tf FROM documents, LATERAL term_freq(text) s"
    ).select("doc_id", "term", F.col("tf").cast("long").alias("tf"))


register("x21_termfreq_udtf", """
SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
FROM (SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                                x -> x != '')) AS term
      FROM documents)
GROUP BY doc_id, term
""")(_q_termfreq_udtf)


# ---------------------------------------------------------------------------
# x22 — scalar string-function parity (the everyday SQL surface)


def _q_string_functions(spark, sf_dir):
    """One projection exercising the workhorse string functions —
    levenshtein (integer DP, bit-free), translate, repeat, reverse,
    lpad, ascii, instr, substring — all JVM-side codegen'd, all with
    exact DuckDB twins.  Deterministic: every output is an integer or
    an exact string transform."""
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.length("c_name").cast("long").alias("name_len"),
        F.levenshtein(F.col("c_name"), F.lit("Customer#000000001"))
        .cast("long")
        .alias("lev_anchor"),
        F.translate(F.col("c_mktsegment"), "AEIOU", "aeiou").alias("seg_tr"),
        F.reverse(F.col("c_mktsegment")).alias("seg_rev"),
        F.lpad(F.col("c_custkey").cast("string"), 9, "0").alias("key_pad"),
        F.ascii(F.col("c_mktsegment")).cast("long").alias("seg_ascii"),
        F.instr(F.col("c_name"), "0").cast("long").alias("first_zero"),
        F.substring(F.col("c_name"), 1, 8).alias("name_head"),
    )


register("x22_string_functions", """
SELECT c_custkey,
       CAST(length(c_name) AS BIGINT) AS name_len,
       CAST(levenshtein(c_name, 'Customer#000000001') AS BIGINT) AS lev_anchor,
       translate(c_mktsegment, 'AEIOU', 'aeiou') AS seg_tr,
       reverse(c_mktsegment) AS seg_rev,
       lpad(CAST(c_custkey AS VARCHAR), 9, '0') AS key_pad,
       CAST(ascii(c_mktsegment) AS BIGINT) AS seg_ascii,
       CAST(instr(c_name, '0') AS BIGINT) AS first_zero,
       substring(c_name, 1, 8) AS name_head
FROM customer
""")(_q_string_functions)


# ---------------------------------------------------------------------------
# s04 — per-label embedding centroids (class prototypes)


def _q_label_centroids(spark, sf_dir):
    """Per-label centroid of the embedding vectors, flattened to
    (label, dim, centroid_fixed) scalar rows.  Elementwise float mean
    would be order-dependent; instead each component is fixed-pointed
    (floor(v·2^20) — float32→double is exact, one floor) and
    integer-summed, and the centroid is the integer division by the
    count (both engines truncate toward zero on negatives — probed:
    −7 div 2 = −3 = −7 // 2).  posexplode → one hash-agg on
    (label, dim): 64·|labels| output rows at any corpus size."""
    emb = _emb(spark, sf_dir)
    ex = emb.select(
        "label", F.posexplode("embedding").alias("dim", "v")
    ).select(
        "label",
        F.col("dim").cast("long").alias("dim"),
        F.floor(F.col("v").cast("double") * F.lit(1048576.0)).cast("long").alias("f"),
    )
    return ex.groupBy("label", "dim").agg(
        F.expr("sum(f) div count(1)").cast("long").alias("centroid_fixed"),
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
    )


register("s04_label_centroids", """
SELECT label, CAST(i - 1 AS BIGINT) AS dim,
       CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1048576.0) AS BIGINT))
            // COUNT(*) AS BIGINT) AS centroid_fixed,
       CAST(COUNT(*) AS BIGINT) AS n_vecs
FROM embeddings, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i)
GROUP BY label, dim
""")(_q_label_centroids)


# ---------------------------------------------------------------------------
# s05 — nearest-centroid classification (prototype eval)


def _q_nearest_centroid(spark, sf_dir):
    """Classify every embedding to its nearest label centroid
    (squared-L2 in fixed point) and report the confusion matrix —
    the standard prototype-quality eval for an embedding space.

    Determinism: centroids come from s04's exact integer sums
    (converted back by one division); per-dimension squared
    differences are fixed-pointed per element and integer-summed, so
    the argmin — tie-broken by label — is bit-stable.  Scale shape:
    the centroid table is 64·|labels| rows (broadcast); the exploded
    join is linear in corpus·|labels| with one hash-agg on
    (vec_id, clabel) and a bounded per-vector window."""
    from pyspark.sql import Window as W

    emb = _emb(spark, sf_dir)
    ex = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("dim", "v")
    ).select(
        "vec_id",
        "label",
        F.col("dim").cast("long").alias("dim"),
        F.col("v").cast("double").alias("v"),
    )
    cent = ex.groupBy(F.col("label").alias("clabel"), "dim").agg(
        F.expr(
            "sum(cast(floor(v * 1048576.0) as long)) div count(1)"
        ).alias("c_fixed")
    ).select(
        "clabel", "dim",
        (F.col("c_fixed").cast("double") / F.lit(1048576.0)).alias("c"),
    )
    d = F.col("v") - F.col("c")
    term = F.floor(d * d * F.lit(1048576.0)).cast("long")
    dists = (
        ex.join(F.broadcast(cent), "dim")
        .groupBy("vec_id", "label", "clabel")
        .agg(F.sum(term).alias("dist_fixed"))
    )
    w = W.partitionBy("vec_id").orderBy("dist_fixed", "clabel")
    assigned = (
        dists.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return assigned.groupBy(
        F.col("label").cast("long").alias("label"),
        F.col("clabel").cast("long").alias("assigned"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_vecs"))


register("s05_nearest_centroid_confusion", """
WITH ex AS (
    SELECT vec_id, label, CAST(i - 1 AS BIGINT) AS dim,
           CAST(embedding[i] AS DOUBLE) AS v
    FROM embeddings,
         LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i)
),
cent AS (
    SELECT label AS clabel, dim,
           CAST(SUM(CAST(floor(v * 1048576.0) AS BIGINT)) // COUNT(*) AS DOUBLE)
               / 1048576.0 AS c
    FROM ex GROUP BY label, dim
),
dists AS (
    SELECT vec_id, label, clabel,
           CAST(SUM(CAST(floor((v - c) * (v - c) * 1048576.0) AS BIGINT)) AS BIGINT)
               AS dist_fixed
    FROM ex JOIN cent USING (dim)
    GROUP BY vec_id, label, clabel
),
assigned AS (
    SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY dist_fixed, clabel) AS rn
        FROM dists) WHERE rn = 1
)
SELECT CAST(label AS BIGINT) AS label, CAST(clabel AS BIGINT) AS assigned,
       CAST(COUNT(*) AS BIGINT) AS n_vecs
FROM assigned GROUP BY label, clabel
""")(_q_nearest_centroid)


# ---------------------------------------------------------------------------
# x23 — array higher-order function parity


def _q_array_functions(spark, sf_dir):
    """Array-function surface in one projection: distinct-sort the
    doc's token set (binary collation on ASCII — same order both
    engines), intersect with a fixed probe vocabulary, emit scalars
    (sizes + a joined prefix).  All codegen'd; arrays never leave the
    row."""
    probe = F.array(*[F.lit(w) for w in ("data", "query", "table", "zzz")])
    toks = ta.tokens(F.lower(F.col("text")))
    vocab = F.array_sort(F.array_distinct(toks))
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.size(vocab).cast("long").alias("n_distinct"),
        F.size(F.array_intersect(vocab, probe)).cast("long").alias("n_probe_hits"),
        F.array_join(F.slice(vocab, 1, 5), "|").alias("head5"),
        F.element_at(vocab, 1).alias("first_tok"),
        F.element_at(vocab, -1).alias("last_tok"),
    )


register("x23_array_functions", f"""
WITH v AS (
    SELECT doc_id,
           list_sort(list_distinct({_TOKS_LC})) AS vocab
    FROM documents
)
SELECT doc_id,
       CAST(len(vocab) AS BIGINT) AS n_distinct,
       CAST(len(list_intersect(vocab, ['data','query','table','zzz'])) AS BIGINT)
           AS n_probe_hits,
       array_to_string(vocab[1:5], '|') AS head5,
       vocab[1] AS first_tok,
       vocab[-1] AS last_tok
FROM v
""")(_q_array_functions)


# ---------------------------------------------------------------------------
# ev08 — DYNAMIC-gap session windows (per-event gap expression)


def _q_session_window_dynamic(spark, sf_dir):
    """session_window with a PER-EVENT gap (click/view cool off in 1
    hour, other events in 4): each event spans [ts, ts+its-gap) and
    overlapping spans merge.  The oracle replays the merge rule with a
    running MAX of span ends (a lag of the previous end is NOT enough
    once gaps vary — an earlier long-gap event can bridge past a
    recent short-gap one).  Same half-open boundary as ev05 (>=
    starts a new session)."""
    ev = load_table(spark, sf_dir, "events")
    gap = F.when(
        F.col("event_type").isin("click", "view"), F.lit("1 hour")
    ).otherwise(F.lit("4 hours"))
    return (
        ev.groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("value_cents"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "value_cents",
        )
    )


register("ev08_session_window_dynamic_gap", """
WITH g AS (
    SELECT user_id, ts, event_id, value,
           epoch_us(ts) AS t_us,
           CASE WHEN event_type IN ('click', 'view')
                THEN 3600000000 ELSE 14400000000 END AS gap_us
    FROM events
),
flags AS (
    SELECT *, CASE WHEN max_prev_end IS NULL OR t_us >= max_prev_end
                   THEN 1 ELSE 0 END AS is_new
    FROM (SELECT *,
                 MAX(t_us + gap_us) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     AS max_prev_end
          FROM g)
),
tagged AS (
    SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS session_no
    FROM flags
)
SELECT user_id, min(ts) AS session_start,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM tagged GROUP BY user_id, session_no
""")(_q_session_window_dynamic)


# ---------------------------------------------------------------------------
# x24 — per-source language diversity (Gini impurity, fixed point)


def _q_source_lang_gini(spark, sf_dir):
    """Corpus diversity audit: per-source Gini impurity of the
    language mix, 1 − Σ pᵢ².  Entropy needs ln (not cross-engine
    bit-stable — see retrieval.py); Gini is the log-free diversity
    metric.  Fixed point: each pᵢ² is floored to 1e12-units (one
    division, one multiply, one floor) and the Σ is an integer sum, so
    the impurity is bit-identical.  Two tiny hash-aggs (source×lang,
    then source)."""
    docs = _docs(spark, sf_dir)
    counts = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_sl")
    )
    totals = docs.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n_s"))
    p = F.col("n_sl").cast("double") / F.col("n_s")
    term = F.floor(p * p * F.lit(1e12)).cast("long")
    return (
        counts.join(totals, "source")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_langs"),
            (F.lit(1_000_000_000_000) - F.sum(term)).cast("long").alias("gini_fixed"),
        )
    )


register("x24_source_lang_gini", """
WITH counts AS (
    SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_sl
    FROM documents GROUP BY source, lang
),
totals AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s
           FROM documents GROUP BY source)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_langs,
       CAST(1000000000000 - SUM(CAST(floor(
           (CAST(n_sl AS DOUBLE) / n_s) * (CAST(n_sl AS DOUBLE) / n_s) * 1e12)
           AS BIGINT)) AS BIGINT) AS gini_fixed
FROM counts JOIN totals USING (source)
GROUP BY source
""")(_q_source_lang_gini)


# ---------------------------------------------------------------------------
# d12 — edit-distance (Levenshtein) near-dup pairs, length-blocked


def _q_edit_distance_pairs(spark, sf_dir):
    """Levenshtein verifier over length-bucket blocks (dedup.
    edit_distance_pairs): equi-join on the bucket key, JVM built-in
    levenshtein on in-bucket candidates only — the verifier stage of a
    banded dedup pipeline, like d07's jaccard. No reference
    counterpart; extension surface."""
    out = dedup.edit_distance_pairs(_docs(spark, sf_dir))
    return out.select("id_a", "id_b", F.col("edit_dist").cast("long").alias("edit_dist"))


register("d12_edit_distance_pairs", f"""
WITH pre AS (
    SELECT doc_id, substr({_NORM}, 1, 80) AS pfx FROM documents
), blk AS (
    SELECT doc_id, pfx, CAST(floor(len(pfx) / 8) AS INT) AS blk FROM pre
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(levenshtein(a.pfx, b.pfx) AS BIGINT) AS edit_dist
FROM blk a JOIN blk b ON a.blk = b.blk AND a.doc_id < b.doc_id
WHERE levenshtein(a.pfx, b.pfx) <= 2
""")(_q_edit_distance_pairs)


# ---------------------------------------------------------------------------
# x25 — count-min sketch heavy-hitter estimates


def _q_countmin_heavy_hitters(spark, sf_dir):
    """Count-min sketch (operators/sketches.py): exact vocab counts →
    4×1024 integer grid → min-over-rows point estimates for the true
    top-20 tokens. Output (token, n_true, n_est); CMS guarantees
    n_est >= n_true, equality when no bucket collision. The sketch is
    O(depth×width) regardless of corpus size and the probe join
    broadcasts the grid."""
    from tabular_to_parquet_spark.operators import sketches as sk

    docs = _docs(spark, sf_dir)
    counts = sk.token_counts(docs)
    sketch = sk.cms_build(counts)
    top = counts.orderBy(F.col("n").desc(), F.col("token")).limit(20)
    est = sk.cms_estimate(sketch, top.select("token"))
    return top.join(est, "token").select(
        "token", F.col("n").alias("n_true"), "n_est"
    )


def _x25_oracle() -> str:
    from tabular_to_parquet_spark.operators import sketches as sk

    frag = sk.cms_sql()
    b_tok_j = frag["bucket"]("token", "j")
    return f"""
WITH counts AS (
    SELECT t AS token, CAST(COUNT(*) AS BIGINT) AS n
    FROM documents, LATERAL (SELECT unnest({_TOKS_LC}) AS t)
    GROUP BY t
), grid AS {frag['js']},
sketch AS (
    SELECT j, {b_tok_j} AS bucket, CAST(SUM(n) AS BIGINT) AS cnt
    FROM counts CROSS JOIN grid GROUP BY j, bucket
), top AS (
    SELECT token, n FROM (
        SELECT token, n, row_number() OVER (ORDER BY n DESC, token) AS rank
        FROM counts) WHERE rank <= 20
), probe AS (
    SELECT token, n, j, {b_tok_j} AS bucket FROM top CROSS JOIN grid
)
SELECT token, n AS n_true, CAST(MIN(s.cnt) AS BIGINT) AS n_est
FROM probe p JOIN sketch s USING (j, bucket)
GROUP BY token, n
"""


register("x25_countmin_heavy_hitters", _x25_oracle())(_q_countmin_heavy_hitters)


# ---------------------------------------------------------------------------
# a24 — event-type transition matrix (first-order Markov counts)


def _q_event_transitions(spark, sf_dir):
    """Per-user event-sequence transition counts: lag(event_type) over
    (user_id, ts, event_id) — the unique event_id tiebreak makes the
    lag deterministic under ts collisions. One shuffle on user_id for
    the window, one bounded hash-agg on the (|types|² ≤ small)
    transition key; at 100 TB the window partitions by user and never
    globalizes."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    tagged = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    return (
        tagged.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


register("a24_event_transitions", """
WITH tagged AS (
    SELECT event_type,
           lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_type
    FROM events
)
SELECT prev_type, event_type AS next_type, CAST(COUNT(*) AS BIGINT) AS n
FROM tagged WHERE prev_type IS NOT NULL
GROUP BY prev_type, event_type
""")(_q_event_transitions)


# ---------------------------------------------------------------------------
# st6 — stream-static dimension enrichment


def _q_stream_static_enrich(spark, sf_dir):
    """REAL streaming run of the stream-static enrichment join
    (streams.stream_static_enrich): events file-stream joined to the
    static customer dim per micro-batch, complete-mode aggregate into
    a memory sink. The oracle is the identical batch join+agg — on
    static input the drained complete-mode table equals the batch
    result."""
    from tabular_to_parquet_spark.streaming.streams import stream_static_enrich

    dim = load_table(spark, sf_dir, "customer")
    return stream_static_enrich(
        spark, f"{sf_dir}/events.parquet", dim, query_name="st6_stream"
    )


register("st6_stream_static_enrich", """
SELECT c.c_mktsegment, e.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(floor(e.value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment, e.event_type
""")(_q_stream_static_enrich)


# ---------------------------------------------------------------------------
# x26 — bigram language-model counts


def _q_bigram_lm_counts(spark, sf_dir):
    """Bigram LM table construction (KenLM-style filtering input): all
    adjacent lowercased token pairs → c(w1,w2), joined with the head
    marginal c(w1) = Σ_w2 c(w1,w2) so conditional probabilities are a
    downstream division. Top 30 by (count, w1, w2) — TakeOrdered, no
    global sort. The bigram explode is linear in corpus tokens; both
    aggs are map-side-combined hash aggs on short string keys."""
    toks = _docs(spark, sf_dir).select(
        ta.tokens(F.lower(F.col("text"))).alias("t")
    ).filter(F.size("t") >= 2)  # slice(t, 1, n-1) rejects n=0 at runtime
    n = F.size("t")
    pairs = toks.select(
        F.explode(
            F.arrays_zip(
                F.slice("t", 1, n - 1).alias("w1"),
                F.slice("t", 2, n - 1).alias("w2"),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    c2 = pairs.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("n12")
    )
    c1 = c2.groupBy("w1").agg(F.sum("n12").cast("long").alias("n1"))
    top = c2.orderBy(F.col("n12").desc(), "w1", "w2").limit(30)
    return top.join(c1, "w1").select("w1", "w2", "n12", "n1")


register("x26_bigram_lm_counts", f"""
WITH toks AS (SELECT {_TOKS_LC} AS t FROM documents),
big AS (
    SELECT t[i] AS w1, t[i + 1] AS w2
    FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i)
),
c2 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n12 FROM big GROUP BY w1, w2),
c1 AS (SELECT w1, CAST(SUM(n12) AS BIGINT) AS n1 FROM c2 GROUP BY w1),
top AS (
    SELECT w1, w2, n12 FROM (
        SELECT w1, w2, n12,
               row_number() OVER (ORDER BY n12 DESC, w1, w2) AS rn
        FROM c2) WHERE rn <= 30
)
SELECT w1, w2, n12, n1 FROM top JOIN c1 USING (w1)
""")(_q_bigram_lm_counts)


# ---------------------------------------------------------------------------
# ev09 — hopping windows under the real streaming engine


def _q_hopping_windows_streaming(spark, sf_dir):
    """Streaming twin of ev07: the same size/slide window agg drained
    through the micro-batch engine (complete mode, watermarked state).
    Completes the streaming coverage of window types — tumbling
    (ev02), session (ev04/ev05), hopping (here). Oracle: identical
    arithmetic member-window SQL as ev07."""
    from tabular_to_parquet_spark.streaming.streams import (
        hopping_window_stats_stream,
    )

    return hopping_window_stats_stream(
        spark, f"{sf_dir}/events.parquet", query_name="ev09_stream"
    )


register("ev09_hopping_window_streaming", """
SELECT to_timestamp((epoch_us(ts) // 1000000 // 300 - k) * 300)::TIMESTAMP
           AS window_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events, LATERAL (SELECT unnest(range(0, 3)) AS k)
WHERE (epoch_us(ts) // 1000000 // 300 - k) * 300 + 900 > epoch_us(ts) // 1000000
GROUP BY 1, 2
""")(_q_hopping_windows_streaming)


# ---------------------------------------------------------------------------
# x27 — per-source ASCII/charset profile


def _q_ascii_profile(spark, sf_dir):
    """Per-source character-set audit: printable-ASCII vs other chars
    (corpus intake QA — a spike in non-ASCII for an en source flags
    encoding damage). Pure projections + one small hash-agg; the
    ratio is a single division of exact integers, so it is
    bit-identical cross-engine. The char class '[ -~]' (space..tilde)
    parses identically in Java regex and RE2."""
    docs = _docs(spark, sf_dir)
    n_chars = F.length("text").cast("long")
    n_other = F.length(F.regexp_replace(F.col("text"), "[ -~]", "")).cast("long")
    per_doc = docs.select("source", n_chars.alias("nc"), n_other.alias("no"))
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("nc").cast("long").alias("n_chars"),
        F.sum("no").cast("long").alias("n_non_ascii"),
        (F.sum("no").cast("double") / F.sum("nc")).alias("non_ascii_ratio"),
    )


register("x27_ascii_profile", """
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len(text)) AS BIGINT) AS n_chars,
       CAST(SUM(len(regexp_replace(text, '[ -~]', '', 'g'))) AS BIGINT)
           AS n_non_ascii,
       (CAST(SUM(len(regexp_replace(text, '[ -~]', '', 'g'))) AS DOUBLE)
            / SUM(len(text))) AS non_ascii_ratio
FROM documents GROUP BY source
""")(_q_ascii_profile)


# ---------------------------------------------------------------------------
# avro3 — the same container through the Spark 4 Python DataSource API


def _q_avro_datasource(spark, sf_dir):
    """Avro OCF read via the official `pyspark.sql.datasource`
    extension point (sources/datasource_py.py): schema from the first
    file's header at plan time, one InputPartition per container file,
    rows decoded in parallel Python workers. Same fixture and oracle
    as avro1 — proves the DataSource-API path is value-identical to
    the binaryFile+mapInPandas performance path."""
    import os
    import tempfile

    from tabular_to_parquet_spark.sources.avro_python import parse_record_schema
    from tabular_to_parquet_spark.sources.datasource_py import (
        AvroContainerDataSource,
    )

    pdf = _fixture_pdf(
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") < 250000)  # bounded fixture; see avro1
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag",
                "l_shipdate")
    )
    schema = {"type": "record", "name": "lineitem", "fields": [
        {"name": "l_orderkey", "type": ["null", "long"]},
        {"name": "l_linenumber", "type": ["null", "int"]},
        {"name": "l_quantity", "type": ["null", "double"]},
        {"name": "l_returnflag", "type": ["null", "string"]},
        {"name": "l_shipdate",
         "type": ["null", {"type": "long", "logicalType": "timestamp-micros"}]},
    ]}
    fields = parse_record_schema(json.dumps(schema))
    tmp = tempfile.mkdtemp(prefix="avro3_")
    avro_dir = os.path.join(tmp, "avro")
    _write_avro_fixture(pdf, avro_dir, schema, fields)
    spark.dataSource.register(AvroContainerDataSource)
    return spark.read.format("avro_py").load(avro_dir)


register("avro3_python_datasource", """
SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_shipdate
FROM lineitem WHERE l_orderkey < 250000
""")(_q_avro_datasource)


# ---------------------------------------------------------------------------
# a25 — one-sided CUSUM drift alerts (integer, reset-free identity)


def _q_cusum_alerts(spark, sf_dir):
    """Per-user upper CUSUM over event value cents: the clamped
    recursion S_i = max(0, S_{i-1} + (x_i - k)) is not a window
    expression, but the standard identity S_i = P_i - min(0, min_{j<=i}
    P_j) over prefix sums P makes it two stacked window aggregates on
    ONE partition+sort (two Window operators — the second consumes the
    first's output — but a single Exchange: plan-verified). All-integer
    cents, so bit-exact cross-engine; alerts are rows where the drift
    statistic exceeds h."""
    from pyspark.sql import Window as W

    k, h = 2500, 200_000  # reference drift per event / alert threshold, cents
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cents = F.floor(F.col("value") * 100).cast("long")
    p = F.sum(cents - k).over(w)
    tagged = ev.select(
        "user_id", "ts", "event_id", p.alias("prefix")
    ).withColumn(
        "cusum",
        F.col("prefix")
        - F.least(F.lit(0).cast("long"), F.min("prefix").over(
            W.partitionBy("user_id").orderBy("ts", "event_id")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )),
    )
    return tagged.filter(F.col("cusum") > h).select(
        "user_id", "ts", "event_id", F.col("cusum").alias("cusum_cents")
    )


register("a25_cusum_alerts", """
WITH pref AS (
    SELECT user_id, ts, event_id,
           SUM(CAST(floor(value * 100) AS BIGINT) - 2500) OVER
               (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prefix
    FROM events
), stat AS (
    SELECT user_id, ts, event_id,
           prefix - LEAST(0, MIN(prefix) OVER
               (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS cusum
    FROM pref
)
SELECT user_id, ts, event_id, CAST(cusum AS BIGINT) AS cusum_cents
FROM stat WHERE cusum > 200000
""")(_q_cusum_alerts)


# ---------------------------------------------------------------------------
# x28 — Pandas grouped-agg UDAF (Arrow-batched custom aggregate)


def _q_grouped_agg_udaf(spark, sf_dir):
    """User-defined AGGREGATE surface: a PandasUDFType.GROUPED_AGG
    dot-product over int64 numpy arrays (exact integer arithmetic →
    order-independent → deterministic, unlike a float UDAF). The
    Arrow-batched UDAF runs per group AFTER the hash partial-agg
    stage — fine for bounded groups; unbounded-cardinality sums
    should stay builtin (SUM of an expression), as the oracle shows
    they can."""
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit functionType instead of type hints: under `from
    # __future__ import annotations` the hints are strings, and
    # locally-imported names ('pd.Series') don't resolve at decoration
    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def int_weighted(a, b):
        import numpy as np

        return int((a.to_numpy(np.int64) * b.to_numpy(np.int64)).sum())

    docs = _docs(spark, sf_dir)
    return docs.groupBy("source").agg(
        int_weighted(F.col("doc_id"), F.col("n_chars")).alias("weighted_sum")
    )


register("x28_grouped_agg_udaf", """
SELECT source, CAST(SUM(doc_id * n_chars) AS BIGINT) AS weighted_sum
FROM documents GROUP BY source
""")(_q_grouped_agg_udaf)


# ---------------------------------------------------------------------------
# st7 — custom Python STREAMING data source (events replay)


def _q_python_stream_source(spark, sf_dir):
    """Spark 4 Python streaming data source
    (sources/datasource_py.EventsReplayDataSource): the events table
    replayed in 4 deterministic micro-batches through
    SimpleDataSourceStreamReader offsets, aggregated complete-mode,
    drained with processAllAvailable. Oracle: the identical batch
    aggregate — position-offset replay on static input must reproduce
    it exactly."""
    from tabular_to_parquet_spark.sources.datasource_py import (
        EventsReplayDataSource,
    )

    spark.dataSource.register(EventsReplayDataSource)
    stream = (
        spark.readStream.format("events_replay")
        .option("path", f"{sf_dir}/events.parquet")
        .option("batches", "4")
        .load()
    )
    agg = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.floor(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("value_cents"),
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("st7_stream")
        .outputMode("complete")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.table("st7_stream")


register("st7_python_stream_source", """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events GROUP BY event_type
""")(_q_python_stream_source)


# ---------------------------------------------------------------------------
# st8 — executor-parallel Python streaming source


def _q_python_stream_source_parallel(spark, sf_dir):
    """The executor-side streaming data source
    (EventsReplayParallelDataSource): driver plans row-range offsets,
    executors read the ranges in parallel Python workers (4 partitions
    per micro-batch). Same complete-mode aggregate and oracle as st7 —
    the two reader architectures must agree exactly."""
    from tabular_to_parquet_spark.sources.datasource_py import (
        EventsReplayParallelDataSource,
    )

    spark.dataSource.register(EventsReplayParallelDataSource)
    stream = (
        spark.readStream.format("events_replay_par")
        .option("path", f"{sf_dir}/events.parquet")
        .option("batches", "4")
        .option("parallelism", "4")
        .load()
    )
    agg = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.floor(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("value_cents"),
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("st8_stream")
        .outputMode("complete")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.table("st8_stream")


register("st8_python_stream_source_parallel", """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events GROUP BY event_type
""")(_q_python_stream_source_parallel)


# ---------------------------------------------------------------------------
# avro4 — full writer→reader roundtrip through the DataSource API


def _q_avro_writer_roundtrip(spark, sf_dir):
    """df.write.format('avro_py') → executor-side container files +
    two-phase _SUCCESS commit (sources/datasource_py.
    AvroContainerWriter) → read back with the same format. Completes
    the DataSource surface: batch read (avro3), both streaming reader
    shapes (st7/st8), batch write (here) — oracle identical to the
    source rows, so the write path is value-lossless."""
    import os
    import tempfile

    from tabular_to_parquet_spark.sources.datasource_py import (
        AvroContainerDataSource,
    )

    spark.dataSource.register(AvroContainerDataSource)
    src = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag",
        "l_shipdate"
    )
    out = os.path.join(tempfile.mkdtemp(prefix="avro4_"), "avro")
    src.write.format("avro_py").mode("append").save(out)
    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    return spark.read.format("avro_py").load(out)


register("avro4_writer_roundtrip", """
SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_shipdate
FROM lineitem
""")(_q_avro_writer_roundtrip)


# ---------------------------------------------------------------------------
# st9 — streaming pipeline entirely on custom Python data sources


def _q_python_stream_sink(spark, sf_dir):
    """End-to-end custom-source streaming: events replayed by the
    executor-parallel Python stream READER (st8's source), written by
    the Python stream WRITER (avro_py sink — one container per batch
    partition, per-batch _batches commit log), then the sink directory
    read back with the avro_py batch reader and aggregated. The
    oracle is the plain batch aggregate: reader→writer→reader must be
    value-lossless end to end."""
    import os
    import tempfile

    from tabular_to_parquet_spark.sources.datasource_py import (
        AvroContainerDataSource,
        EventsReplayParallelDataSource,
    )

    spark.dataSource.register(EventsReplayParallelDataSource)
    spark.dataSource.register(AvroContainerDataSource)
    tmp = tempfile.mkdtemp(prefix="st9_")
    out = os.path.join(tmp, "avro_sink")
    os.makedirs(out, exist_ok=True)
    stream = (
        spark.readStream.format("events_replay_par")
        .option("path", f"{sf_dir}/events.parquet")
        .option("batches", "4")
        .option("parallelism", "2")
        .load()
    )
    q = (
        stream.writeStream.format("avro_py")
        .option("path", out)
        .option("checkpointLocation", os.path.join(tmp, "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert os.path.exists(os.path.join(out, "_batches"))
    back = spark.read.format("avro_py").load(out)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.floor(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("value_cents"),
    )


register("st9_python_stream_sink", """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events GROUP BY event_type
""")(_q_python_stream_sink)


# ---------------------------------------------------------------------------
# g02 — triangle counting (compact-forward orientation)


def _q_triangle_count(spark, sf_dir):
    """Triangles in the co-purchase graph (graph.triangle_count over
    canonical src<dst edges): two equi-joins generate each triangle
    exactly once under the a<b<c orientation — the distributed
    compact-forward shape, no cross product, no wedge double-count."""
    from tabular_to_parquet_spark.operators import graph as g

    li = load_table(spark, sf_dir, "lineitem")
    edges = g.copurchase_edges(li).filter(F.col("src") < F.col("dst"))
    return g.triangle_count(edges)


register("g02_triangle_count", """
WITH e AS (
    SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
    FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
    WHERE a.l_partkey < b.l_partkey
)
SELECT CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
       CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM e e1
JOIN e e2 ON e2.src = e1.dst
JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst
""")(_q_triangle_count)


# ---------------------------------------------------------------------------
# x29 — keyword-in-context (concordance) extraction


def _q_kwic(spark, sf_dir):
    """KWIC concordance for a probe term: every occurrence with ±2
    tokens of context — posexplode over the token array, 1-based
    positions, slice windows clamped at document edges. Linear in
    corpus tokens (explode → filter → projection), no shuffle at all;
    the corpus-tooling primitive behind term audits and context
    sampling. Scale note: each exploded row materializes the token
    array until the slice projects it away, so at 100 TB filter to
    RARE probe terms (or pre-chunk long docs) before the explode —
    for common terms the context copy cost is inherent to KWIC.
    The context window is emitted as a space-joined STRING (tokens are
    whitespace-free, so the join is lossless); ARRAY output is not
    hashable by the driver's pandas-based canonicalizer."""
    term = "the"
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id", ta.tokens(F.lower(F.col("text"))).alias("t")
    )
    hits = toks.select(
        "doc_id",
        "t",
        F.posexplode("t").alias("pos0", "tok"),
    ).filter(F.col("tok") == term)
    i = F.col("pos0") + 1  # 1-based
    start = F.greatest(F.lit(1), i - 2)
    length = F.least(i + 2, F.size("t")) - start + 1
    return hits.select(
        "doc_id",
        i.cast("long").alias("pos"),
        F.concat_ws(" ", F.slice("t", start, length)).alias("context"),
    )


register("x29_kwic", f"""
WITH toks AS (SELECT doc_id, {_TOKS_LC} AS t FROM documents),
hits AS (
    SELECT doc_id, t, i
    FROM toks, LATERAL (SELECT unnest(range(1, len(t) + 1)) AS i)
    WHERE t[i] = 'the'
)
SELECT doc_id, CAST(i AS BIGINT) AS pos,
       array_to_string(t[greatest(1, i - 2):least(i + 2, len(t))], ' ') AS context
FROM hits
""")(_q_kwic)


# ---------------------------------------------------------------------------
# x30 — duplicate passage (boilerplate) detection


def _q_duplicate_passages(spark, sf_dir):
    """Sub-document dedup granularity: non-overlapping 20-token
    passages hashed per document; passages appearing in ≥2 distinct
    docs are boilerplate candidates (license headers, nav chrome —
    what paragraph-level dedup removes that whole-doc dedup misses).
    Linear explode (one row per passage, no overlap), one hash-agg on
    the passage hash, TakeOrdered top 20. Complements winnowing
    (x07: overlapping windows for near-dup localization) with the
    exact-passage variant."""
    w = 20
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id", ta.tokens(F.lower(F.col("text"))).alias("t")
    ).filter(F.size("t") >= w)
    chunks = toks.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), (F.size("t") / w).cast("int") - 1)
        ).alias("ci"),
        F.col("t"),
    ).select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.slice("t", F.col("ci") * w + 1, w))).alias(
            "passage_md5"
        ),
    )
    agg = chunks.groupBy("passage_md5").agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_occurrences"),
    ).filter(F.col("n_docs") >= 2)
    return agg.orderBy(F.col("n_docs").desc(), "passage_md5").limit(20)


register("x30_duplicate_passages", f"""
WITH toks AS (
    SELECT doc_id, {_TOKS_LC} AS t FROM documents WHERE len({_TOKS_LC}) >= 20
), chunks AS (
    SELECT doc_id,
           md5(array_to_string(t[ci * 20 + 1:ci * 20 + 20], ' ')) AS passage_md5
    FROM toks, LATERAL (
        SELECT unnest(range(0, CAST(floor(len(t) / 20) AS INT))) AS ci)
), agg AS (
    SELECT passage_md5,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM chunks GROUP BY passage_md5
    HAVING COUNT(DISTINCT doc_id) >= 2
)
SELECT passage_md5, n_docs, n_occurrences FROM agg
ORDER BY n_docs DESC, passage_md5 LIMIT 20
""")(_q_duplicate_passages)


# ---------------------------------------------------------------------------
# x31 — declared-language vs heuristic lang-ID confusion matrix


def _q_langid_confusion(spark, sf_dir):
    """Metadata QA: crosstab of the corpus's DECLARED lang column
    against the n-gram heuristic's prediction (ta.lang_id_col). Rows
    off the diagonal are mislabeled documents or heuristic misses —
    the audit that decides whether declared labels are trustworthy
    enough to drive the mixture (pl02). One projection + one tiny
    hash-agg."""
    docs = _docs(spark, sf_dir)
    return (
        docs.select("lang", ta.lang_id_col(F.col("text")).alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


def _x31_oracle() -> str:
    hits = {
        lang: f"len(list_filter(toks, t -> list_contains([{', '.join(repr(w) for w in words)}], t)))"
        for lang, words in ta.STOPWORDS.items()
    }
    hit_cols = ", ".join(f"{e} AS h_{lang}" for lang, e in hits.items())
    best = "greatest(" + ", ".join(f"h_{lang}" for lang in ta.LANG_ORDER) + ")"
    whens = " ".join(
        f"WHEN h_{lang} > 0 AND h_{lang} = {best} THEN '{lang}'"
        for lang in ta.LANG_ORDER
    )
    return f"""
SELECT lang, (CASE {whens} ELSE 'und' END) AS lang_pred,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM (SELECT lang, {hit_cols}
      FROM (SELECT lang, {_TOKS_LC} AS toks FROM documents))
GROUP BY 1, 2
"""


register("x31_langid_confusion", _x31_oracle())(_q_langid_confusion)


# ---------------------------------------------------------------------------
# sql1 — SQLite source through the Python DataSource API


def _q_sqlite_roundtrip(spark, sf_dir):
    """SQLite table → DataFrame via format('sqlite_py')
    (sources/datasource_py.SqliteDataSource): schema from PRAGMA
    table_info affinity mapping, rowid-range partitions scanned by
    parallel Python workers over stdlib sqlite3 in read-only URI
    mode. Fixture: the orders table loaded into a .sqlite file;
    oracle: the same SELECT from the parquet — the source must be
    value-lossless."""
    import os
    import sqlite3
    import tempfile

    from tabular_to_parquet_spark.sources.datasource_py import SqliteDataSource

    pdf = _fixture_pdf(
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                "o_orderpriority")
    )
    db = os.path.join(tempfile.mkdtemp(prefix="sql1_"), "orders.sqlite")
    con = sqlite3.connect(db)
    con.execute(
        "CREATE TABLE orders (o_orderkey INTEGER, o_custkey INTEGER, "
        "o_orderstatus TEXT, o_totalprice REAL, o_orderpriority TEXT)"
    )
    con.executemany(
        "INSERT INTO orders VALUES (?, ?, ?, ?, ?)",
        pdf.itertuples(index=False, name=None),
    )
    con.commit()
    con.close()
    spark.dataSource.register(SqliteDataSource)
    return (
        spark.read.format("sqlite_py")
        .option("path", db)
        .option("table", "orders")
        .option("partitions", "4")
        .load()
    )


register("sql1_sqlite_roundtrip", """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
FROM orders
""")(_q_sqlite_roundtrip)


# m12 — GIF89a through the real LZW codec (palette-indexed pixels)
def _q_gif_decode(spark, sf_dir):
    media = multimodal.attach_gif_payload(_docs(spark, sf_dir))
    return multimodal.decode_image_features(media)


register("m12_gif_decode_features", """
SELECT doc_id AS media_id,
       CAST(8 + doc_id % 16 AS BIGINT) AS width,
       CAST(8 + doc_id % 12 AS BIGINT) AS height,
       CAST(SUM((x + 2 * y + doc_id) % 256) AS BIGINT) AS r_sum,
       CAST(SUM((2 * ((x + 2 * y + doc_id) % 256)) % 256) AS BIGINT) AS g_sum,
       CAST(SUM((3 * ((x + 2 * y + doc_id) % 256)) % 256) AS BIGINT) AS b_sum,
       true AS decoded
FROM (SELECT doc_id, 8 + doc_id % 16 AS w, 8 + doc_id % 12 AS h FROM documents),
     LATERAL (SELECT unnest(range(0, w)) AS x),
     LATERAL (SELECT unnest(range(0, h)) AS y)
GROUP BY doc_id
""")(_q_gif_decode)


# ---------------------------------------------------------------------------
# pl27 — boilerplate passage stripping (CCNet-style cleaning)


def _q_boilerplate_strip(spark, sf_dir):
    """Remove cross-document duplicate passages from every document:
    the x30 detector's output becomes a broadcast blacklist, kept
    chunks reassemble in order via sort_array(collect_list(struct)).
    Declared semantics: a document IS its full non-overlapping
    20-token chunks (trailing remainder ignored) — identical on both
    engines. The blacklist is corpus-level-small (distinct duplicated
    passages), so at 100 TB the strip is a broadcast anti-join + one
    doc-keyed agg — same shape as decontamination (pl11)."""
    w = 20
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id", ta.tokens(F.lower(F.col("text"))).alias("t")
    ).filter(F.size("t") >= w)
    chunks = toks.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), (F.size("t") / w).cast("int") - 1)
        ).alias("ci"),
        F.col("t"),
    ).select(
        "doc_id",
        "ci",
        F.concat_ws(" ", F.slice("t", F.col("ci") * w + 1, w)).alias("chunk"),
    ).withColumn("pm", F.md5("chunk"))
    dup = (
        chunks.groupBy("pm")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("pm")
    )
    kept = chunks.join(F.broadcast(dup), "pm", "left_anti")
    ordered = F.transform(
        F.sort_array(F.collect_list(F.struct("ci", "chunk"))),
        lambda s: s["chunk"],
    )
    return kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks_kept"),
        F.md5(F.concat_ws(" ", ordered)).alias("cleaned_md5"),
    )


register("pl27_boilerplate_strip", f"""
WITH toks AS (
    SELECT doc_id, {_TOKS_LC} AS t FROM documents WHERE len({_TOKS_LC}) >= 20
), chunks AS (
    SELECT doc_id, ci,
           array_to_string(t[ci * 20 + 1:ci * 20 + 20], ' ') AS chunk
    FROM toks, LATERAL (
        SELECT unnest(range(0, CAST(floor(len(t) / 20) AS INT))) AS ci)
), dup AS (
    SELECT md5(chunk) AS pm FROM chunks
    GROUP BY md5(chunk) HAVING COUNT(DISTINCT doc_id) >= 2
), kept AS (
    SELECT doc_id, ci, chunk FROM chunks
    WHERE md5(chunk) NOT IN (SELECT pm FROM dup)
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks_kept,
       md5(string_agg(chunk, ' ' ORDER BY ci)) AS cleaned_md5
FROM kept GROUP BY doc_id
""")(_q_boilerplate_strip)


# ---------------------------------------------------------------------------
# a26 — period-over-period customer spend growth (TPC-DS-style)


def _q_spend_growth(spark, sf_dir):
    """Customers whose order spend grew >25% from 1996 to 1997: two
    per-(customer, year) aggregates self-joined on the customer —
    the period-over-period shape behind every retention/growth report.
    Exact-cents sums; the growth test multiplies integers (4·cur >
    5·prev) instead of dividing, so no float enters the comparison."""
    orders = load_table(spark, sf_dir, "orders")
    per_year = (
        orders.filter(F.year("o_orderdate").isin(1996, 1997))
        .groupBy(
            F.col("o_custkey").alias("custkey"),
            F.year("o_orderdate").alias("yr"),
        )
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    prev = per_year.filter(F.col("yr") == 1996).select(
        "custkey", F.col("cents").alias("cents_1996")
    )
    cur = per_year.filter(F.col("yr") == 1997).select(
        "custkey", F.col("cents").alias("cents_1997")
    )
    return (
        prev.join(cur, "custkey")
        .filter(F.col("cents_1997") * 4 > F.col("cents_1996") * 5)
        .select("custkey", "cents_1996", "cents_1997")
    )


register("a26_spend_growth", """
WITH per_year AS (
    SELECT o_custkey AS custkey, EXTRACT(year FROM o_orderdate) AS yr,
           CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
    FROM orders WHERE EXTRACT(year FROM o_orderdate) IN (1996, 1997)
    GROUP BY 1, 2
)
SELECT p.custkey, p.cents AS cents_1996, c.cents AS cents_1997
FROM (SELECT * FROM per_year WHERE yr = 1996) p
JOIN (SELECT * FROM per_year WHERE yr = 1997) c USING (custkey)
WHERE c.cents * 4 > p.cents * 5
""")(_q_spend_growth)


# ---------------------------------------------------------------------------
# a27 — the full window-function surface in one query


def _q_window_zoo(spark, sf_dir):
    """Every ranking/offset/value window function over one partition
    spec (customer segment, ordered by exact cents with the unique
    custkey tiebreak): row_number, rank, dense_rank, percent_rank,
    cume_dist, ntile, lag, lead, first/last/nth_value. One window
    spec → ONE shuffle+sort; Catalyst evaluates all eleven in a
    single Window operator. percent_rank/cume_dist are single
    divisions of exact integers — bit-stable cross-engine."""
    from pyspark.sql import Window as W

    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_custkey") < 300
    )
    cents = F.floor(F.col("c_acctbal") * 100).cast("long")
    base = cust.select(
        "c_mktsegment", "c_custkey", cents.alias("cents")
    )
    w = W.partitionBy("c_mktsegment").orderBy("cents", "c_custkey")
    wf = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return base.select(
        "c_mktsegment",
        "c_custkey",
        "cents",
        F.row_number().over(w).cast("long").alias("rn"),
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.percent_rank().over(w).alias("prnk"),
        F.cume_dist().over(w).alias("cdist"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.lag("cents", 1).over(w).alias("prev_cents"),
        F.lead("cents", 1).over(w).alias("next_cents"),
        F.first("c_custkey").over(wf).cast("long").alias("first_key"),
        F.last("c_custkey").over(wf).cast("long").alias("last_key"),
        F.nth_value("c_custkey", 2).over(wf).cast("long").alias("second_key"),
    )


register("a27_window_function_zoo", """
SELECT c_mktsegment, c_custkey, cents,
       CAST(row_number() OVER w AS BIGINT) AS rn,
       CAST(rank() OVER w AS BIGINT) AS rnk,
       CAST(dense_rank() OVER w AS BIGINT) AS drnk,
       percent_rank() OVER w AS prnk,
       cume_dist() OVER w AS cdist,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
       lag(cents, 1) OVER w AS prev_cents,
       lead(cents, 1) OVER w AS next_cents,
       CAST(first_value(c_custkey) OVER wf AS BIGINT) AS first_key,
       CAST(last_value(c_custkey) OVER wf AS BIGINT) AS last_key,
       CAST(nth_value(c_custkey, 2) OVER wf AS BIGINT) AS second_key
FROM (
    SELECT c_mktsegment, c_custkey,
           CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
    FROM customer WHERE c_custkey < 300
)
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY cents, c_custkey),
       wf AS (PARTITION BY c_mktsegment ORDER BY cents, c_custkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""")(_q_window_zoo)


# ---------------------------------------------------------------------------
# a28 — relational division ("bought ALL brands")


def _q_relational_division(spark, sf_dir):
    """Relational division: customers whose orders cover EVERY part
    brand (for-all as count-distinct-equals-total). The divisor
    cardinality is one broadcast scalar row; the main plan is two
    joins + one distinct-count agg on the customer key — the standard
    decorrelation of a double-NOT-EXISTS."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    n_brands = part.agg(
        F.countDistinct("p_brand").cast("long").alias("n_brands")
    )
    covered = (
        li.join(orders.select("o_orderkey", "o_custkey"),
                li.l_orderkey == orders.o_orderkey)
        .join(part.select("p_partkey", "p_brand"),
              li.l_partkey == part.p_partkey)
        .groupBy("o_custkey")
        .agg(F.countDistinct("p_brand").cast("long").alias("n_covered"))
    )
    return (
        covered.crossJoin(F.broadcast(n_brands))
        .filter(F.col("n_covered") == F.col("n_brands"))
        .select(F.col("o_custkey").alias("custkey"), "n_covered")
    )


register("a28_relational_division", """
WITH n AS (SELECT CAST(COUNT(DISTINCT p_brand) AS BIGINT) AS n_brands FROM part),
covered AS (
    SELECT o.o_custkey AS custkey,
           CAST(COUNT(DISTINCT p.p_brand) AS BIGINT) AS n_covered
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY o.o_custkey
)
SELECT custkey, n_covered FROM covered, n WHERE n_covered = n_brands
""")(_q_relational_division)


# ---------------------------------------------------------------------------
# pr10 — Benford first-digit audit


def _q_benford_digits(spark, sf_dir):
    """First-significant-digit distribution of order totals (in
    cents): natural multi-magnitude amounts follow Benford's law, and
    a flat or spiked histogram flags synthetic or manipulated values
    — a standard forensic data-quality audit. Pure string projection
    (first char of the integer cents) + one 9-row hash-agg."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100).cast("long")
    digit = F.substring(cents.cast("string"), 1, 1).cast("long")
    return (
        orders.select(digit.alias("first_digit"))
        .groupBy("first_digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    )


register("pr10_benford_digits", """
SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1)
            AS BIGINT) AS first_digit,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders GROUP BY 1
""")(_q_benford_digits)


# m13 — GIF decode → nearest-neighbor resize (codec + geometry)
def _q_gif_resize(spark, sf_dir):
    media = multimodal.attach_gif_payload(_docs(spark, sf_dir))
    return multimodal.resize_image_features(media, target_w=16, target_h=16)


register("m13_gif_resize_features", """
SELECT doc_id AS media_id,
       CAST(16 AS BIGINT) AS width, CAST(16 AS BIGINT) AS height,
       CAST(SUM(p % 256) AS BIGINT) AS r_sum,
       CAST(SUM((2 * (p % 256)) % 256) AS BIGINT) AS g_sum,
       CAST(SUM((3 * (p % 256)) % 256) AS BIGINT) AS b_sum,
       true AS decoded
FROM (
    SELECT doc_id, ((i * w) // 16) + 2 * ((j * h) // 16) + doc_id AS p
    FROM (SELECT doc_id, 8 + doc_id % 16 AS w, 8 + doc_id % 12 AS h FROM documents),
         LATERAL (SELECT unnest(range(0, 16)) AS i),
         LATERAL (SELECT unnest(range(0, 16)) AS j)
)
GROUP BY doc_id
""")(_q_gif_resize)


# ---------------------------------------------------------------------------
# x32 — association rules (support / confidence / lift, exact rationals)


def _q_association_rules(spark, sf_dir):
    """Market-basket rules a→b over co-purchase baskets: support
    n_ab, confidence n_ab/n_a, lift n_ab·N/(n_a·n_b) — all shipped as
    exact integer numerator/denominator pairs (the BM25 trick), so no
    float enters the oracle compare. Both directions of every pair;
    top 20 by (n_ab, a, b). Scale: the basket self-join is the x19
    shape; the per-item counts broadcast-join onto the pair list and
    the basket total enters as an in-plan broadcast scalar."""
    li = load_table(spark, sf_dir, "lineitem")
    baskets = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("item")
    ).distinct()
    n_orders = baskets.agg(
        F.countDistinct("ok").cast("long").alias("n_orders")
    )
    item_n = baskets.groupBy("item").agg(
        F.count(F.lit(1)).cast("long").alias("n_item")
    )
    a, b = baskets.alias("a"), baskets.alias("b")
    pair_n = (
        a.join(b, (F.col("a.ok") == F.col("b.ok"))
               & (F.col("a.item") != F.col("b.item")))
        .groupBy(
            F.col("a.item").alias("ante"), F.col("b.item").alias("cons")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
    )
    top = pair_n.orderBy(F.col("n_ab").desc(), "ante", "cons").limit(20)
    na = item_n.select(F.col("item").alias("ante"), F.col("n_item").alias("n_a"))
    nb = item_n.select(F.col("item").alias("cons"), F.col("n_item").alias("n_b"))
    return (
        top.join(F.broadcast(na), "ante")
        .join(F.broadcast(nb), "cons")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "ante", "cons", "n_ab", "n_a", "n_b",
            (F.col("n_ab") * F.col("n_orders")).cast("long").alias("lift_num"),
            (F.col("n_a") * F.col("n_b")).cast("long").alias("lift_den"),
        )
    )


register("x32_association_rules", """
WITH baskets AS (
    SELECT DISTINCT l_orderkey AS ok, l_partkey AS item FROM lineitem
), n AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders FROM baskets),
item_n AS (
    SELECT item, CAST(COUNT(*) AS BIGINT) AS n_item FROM baskets GROUP BY item
), pair_n AS (
    SELECT a.item AS ante, b.item AS cons, CAST(COUNT(*) AS BIGINT) AS n_ab
    FROM baskets a JOIN baskets b ON a.ok = b.ok AND a.item != b.item
    GROUP BY a.item, b.item
), top AS (
    SELECT ante, cons, n_ab FROM pair_n
    ORDER BY n_ab DESC, ante, cons LIMIT 20
)
SELECT t.ante, t.cons, t.n_ab, ia.n_item AS n_a, ic.n_item AS n_b,
       CAST(t.n_ab * (SELECT n_orders FROM n) AS BIGINT) AS lift_num,
       CAST(ia.n_item * ic.n_item AS BIGINT) AS lift_den
FROM top t
JOIN item_n ia ON t.ante = ia.item
JOIN item_n ic ON t.cons = ic.item
""")(_q_association_rules)


# ---------------------------------------------------------------------------
# d13 — the composed near-dup pipeline: minhash candidates → edit verify


def _q_minhash_verified_pairs(spark, sf_dir):
    """The production near-dup pipeline as ONE plan: minhash_pairs
    (banded LSH candidate generation, d04's exact parameters) feeds
    edit_distance_pairs in VERIFIER mode — two id equi-joins, banded
    levenshtein on candidates only, no length-bucket self-join
    anywhere. This is the composition the d12 docstring promises for
    100 TB; its oracle nests d04's full SQL as a CTE, so the
    candidate set AND the verification are both value-checked."""
    docs = _docs(spark, sf_dir)
    cands = dedup.minhash_pairs(docs, threshold=0.5)
    out = dedup.edit_distance_pairs(docs, max_dist=40, candidates=cands)
    return out.select(
        "id_a", "id_b", F.col("edit_dist").cast("long").alias("edit_dist")
    )


def _d13_oracle() -> str:
    d04 = CATALOG["d04_minhash_pairs"].oracle
    return f"""
WITH cand AS ({d04}),
pre AS (
    SELECT doc_id, substr({_NORM}, 1, 80) AS pfx FROM documents
)
SELECT c.id_a, c.id_b, CAST(levenshtein(a.pfx, b.pfx) AS BIGINT) AS edit_dist
FROM cand c
JOIN pre a ON c.id_a = a.doc_id
JOIN pre b ON c.id_b = b.doc_id
WHERE levenshtein(a.pfx, b.pfx) <= 40
"""


register("d13_minhash_verified_pairs", _d13_oracle())(_q_minhash_verified_pairs)


# ---------------------------------------------------------------------------
# a29 — forward as-of join (nearest event AFTER)


def _q_asof_forward(spark, sf_dir):
    """Forward as-of: for every click, the user's NEXT purchase at or
    after it. DuckDB's native ASOF only looks backward, so the oracle
    reverses time with negated epoch keys through the same ASOF
    operator — while the engine side reuses the union+window asof
    plan with descending order. Completes the as-of pair: a8
    backward, a29 forward."""
    from tabular_to_parquet_spark.operators.joins import asof_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(
            F.sum(F.floor(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    return asof_join(
        clicks, purchases, on="ts", by="user_id", direction="forward"
    ).select(
        "event_id", "user_id", "ts",
        F.col("matched.ts").alias("purchase_ts"),
        F.col("matched.cents").alias("purchase_cents"),
    )


register("a29_asof_forward", """
SELECT l.event_id, l.user_id, l.ts,
       to_timestamp(-r.neg_us / 1000000.0)::TIMESTAMP AS purchase_ts,
       r.cents AS purchase_cents
FROM (SELECT event_id, user_id, ts, -epoch_us(ts) AS neg_us
      FROM events WHERE event_type = 'click') l
ASOF LEFT JOIN (
    SELECT user_id, -epoch_us(ts) AS neg_us,
           CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts) r
ON l.user_id = r.user_id AND l.neg_us >= r.neg_us
""")(_q_asof_forward)


# ---------------------------------------------------------------------------
# x33 — inverted-index postings for probe terms


def _q_postings(spark, sf_dir):
    """IR index construction: sorted distinct posting lists for a
    fixed probe-term set. The explode+distinct is the linear index
    build; collect_set is order-free but sort_array pins the output,
    so the list compares exactly. Emitted as a space-joined STRING of
    doc ids (ARRAY output is unhashable in the driver's pandas-based
    canonicalizer — the x29 failure class). At 100 TB postings write
    to a bucketed table partitioned by term hash — this query
    verifies the construction, not the storage."""
    probes = ["the", "of", "data", "spark", "and"]
    docs = _docs(spark, sf_dir)
    pairs = (
        docs.select(
            "doc_id",
            F.explode(ta.tokens(F.lower(F.col("text")))).alias("term"),
        )
        .filter(F.col("term").isin(probes))
        .distinct()
    )
    return pairs.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(F.collect_set("doc_id")),
                lambda x: x.cast("string"),
            ),
        ).alias("postings"),
    )


register("x33_postings", f"""
SELECT term, CAST(COUNT(*) AS BIGINT) AS n_docs,
       array_to_string(array_agg(doc_id ORDER BY doc_id), ' ') AS postings
FROM (
    SELECT DISTINCT doc_id, t AS term
    FROM documents, LATERAL (SELECT unnest({_TOKS_LC}) AS t)
    WHERE t IN ('the', 'of', 'data', 'spark', 'and')
)
GROUP BY term
""")(_q_postings)


# ---------------------------------------------------------------------------
# pr12 — functional-dependency audit


def _q_fd_audit(spark, sf_dir):
    """Data-quality FD check: does o_custkey determine
    o_orderpriority? (It should NOT in healthy data — a customer
    orders at many priorities; an FD HOLDING here would flag
    degenerate/synthetic data.) One hash-agg per candidate key with
    count-distinct on the dependent; summary row reports total keys,
    violating keys, and the worst fan-out — the profile a schema
    miner computes for every candidate FD."""
    orders = load_table(spark, sf_dir, "orders")
    per_key = orders.groupBy("o_custkey").agg(
        F.countDistinct("o_orderpriority").cast("long").alias("nd")
    )
    return per_key.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum((F.col("nd") > 1).cast("long")).cast("long").alias("n_violating"),
        F.max("nd").cast("long").alias("max_distinct"),
    )


register("pr12_fd_audit", """
WITH per_key AS (
    SELECT o_custkey, CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS nd
    FROM orders GROUP BY o_custkey
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
       CAST(MAX(nd) AS BIGINT) AS max_distinct
FROM per_key
""")(_q_fd_audit)


# ---------------------------------------------------------------------------
# d14 — sorted-neighborhood candidate pairs


def _q_sorted_neighborhood(spark, sf_dir):
    """The classic record-linkage blocking alternative: sort by a key
    (normalized prefix), candidates = each row with its next w-1
    neighbors in sort order (lead() over the sorted window), verified
    by banded levenshtein. Complements hash blocking (d12) and LSH
    (d04/d06): sorted-neighborhood catches near-dups that share a
    PREFIX but land in different buckets. The global sort is the
    cost — measured 27.5x at 10x data (SCALE.md §10, sweep 4); the
    100 TB path is the result-identical equi-join twin
    ``dedup.sorted_neighborhood_pairs`` (per-block row_number +
    bounded block-offset cumsum + pos+i hash joins, linear at 10x).
    This form stays the catalog entry because it is the literal
    transcription the DuckDB oracle re-derives."""
    from pyspark.sql import Window as W

    w_size, max_dist = 4, 2
    docs = _docs(spark, sf_dir)
    pre = docs.select(
        "doc_id",
        F.substring(
            ta.normalized_text(F.col("text")), 1, 80
        ).alias("pfx"),
    )
    win = W.orderBy("pfx", "doc_id")
    cands = pre.select(
        "doc_id",
        "pfx",
        *[
            F.lead("doc_id", i).over(win).alias(f"n{i}_id")
            for i in range(1, w_size)
        ],
        *[
            F.lead("pfx", i).over(win).alias(f"n{i}_pfx")
            for i in range(1, w_size)
        ],
    )
    parts = []
    for i in range(1, w_size):
        parts.append(
            cands.filter(F.col(f"n{i}_id").isNotNull()).select(
                F.least("doc_id", f"n{i}_id").alias("id_a"),
                F.greatest("doc_id", f"n{i}_id").alias("id_b"),
                F.levenshtein(F.col("pfx"), F.col(f"n{i}_pfx"), max_dist)
                .alias("edit_dist"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return (
        out.filter(F.col("edit_dist").between(0, max_dist))
        .groupBy("id_a", "id_b")
        .agg(F.min("edit_dist").cast("long").alias("edit_dist"))
    )


register("d14_sorted_neighborhood_pairs", f"""
WITH pre AS (
    SELECT doc_id, substr({_NORM}, 1, 80) AS pfx FROM documents
), c AS (
    SELECT doc_id, pfx,
           lead(doc_id, 1) OVER w AS n1_id, lead(pfx, 1) OVER w AS n1_pfx,
           lead(doc_id, 2) OVER w AS n2_id, lead(pfx, 2) OVER w AS n2_pfx,
           lead(doc_id, 3) OVER w AS n3_id, lead(pfx, 3) OVER w AS n3_pfx
    FROM pre WINDOW w AS (ORDER BY pfx, doc_id)
), pairs AS (
    SELECT least(doc_id, n1_id) AS id_a, greatest(doc_id, n1_id) AS id_b,
           levenshtein(pfx, n1_pfx) AS d FROM c WHERE n1_id IS NOT NULL
    UNION ALL
    SELECT least(doc_id, n2_id), greatest(doc_id, n2_id),
           levenshtein(pfx, n2_pfx) FROM c WHERE n2_id IS NOT NULL
    UNION ALL
    SELECT least(doc_id, n3_id), greatest(doc_id, n3_id),
           levenshtein(pfx, n3_pfx) FROM c WHERE n3_id IS NOT NULL
)
SELECT id_a, id_b, CAST(MIN(d) AS BIGINT) AS edit_dist
FROM pairs WHERE d <= 2 GROUP BY id_a, id_b
""")(_q_sorted_neighborhood)


def _q_sorted_neighborhood_scale(spark, sf_dir):
    """The 100 TB path for d14: ``dedup.sorted_neighborhood_pairs`` —
    result-identical to the global-window form (positions recovered
    via with_global_position, neighbors via pos+i equi-joins) but
    every shuffle is a hash exchange; linear 9.5x at 10x data vs the
    window form's 27.5x (SCALE.md §10). Registered against the SAME
    oracle as d14 — the twin's claim IS exact equality with the
    window form."""
    return dedup.sorted_neighborhood_pairs(_docs(spark, sf_dir))


register(
    "d14_sorted_neighborhood_scale",
    CATALOG["d14_sorted_neighborhood_pairs"].oracle,
)(_q_sorted_neighborhood_scale)


# ---------------------------------------------------------------------------
# g03 — k-core decomposition of the support-thresholded co-purchase graph


def _kcore_oracle(k: int = 3, rounds: int = 16) -> str:
    """Unrolled-peel DuckDB twin of graph.kcore: each round drops
    vertices of degree < k and keeps edges between survivors. The
    Spark side iterates to FIXPOINT; ``rounds`` must exceed the peel
    depth at the certified scale (11 at sf0.01 — asserted by
    tests/test_graph_kcore.py, which pins rounds-1 == rounds)."""
    ctes = ["""e0 AS MATERIALIZED (
    SELECT src, dst FROM (
        SELECT a.l_partkey AS src, b.l_partkey AS dst,
               COUNT(DISTINCT a.l_orderkey) AS n
        FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        WHERE a.l_partkey <> b.l_partkey
        GROUP BY 1, 2)
    WHERE n >= 2
)"""]
    for i in range(1, rounds + 1):
        ctes.append(f"""v{i} AS MATERIALIZED (
    SELECT src FROM e{i-1} GROUP BY src HAVING COUNT(*) >= {k}
)""")
        ctes.append(f"""e{i} AS MATERIALIZED (
    SELECT e.src, e.dst FROM e{i-1} e
    JOIN v{i} a ON e.src = a.src
    JOIN v{i} b ON e.dst = b.src
)""")
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT src AS node, CAST(COUNT(*) AS BIGINT) AS core_degree"
        + f"\nFROM e{rounds} GROUP BY src"
    )


def _q_kcore(spark, sf_dir):
    """3-core of the co-purchase graph restricted to pairs bought
    together in >= 2 distinct orders (graph.kcore over
    graph.copurchase_edges_threshold): iterative peel to fixpoint —
    the standard dense-subgraph/community primitive that extends
    g01/g02's one-shot metrics with a converging loop. Every round is
    a degree hash-agg plus two vertex-id equi-joins (no cross
    products); the driver pays one count per round and lineage is
    checkpoint-truncated, so 100 TB cost is O(peel-depth) bounded
    shuffles over a monotonically SHRINKING edge set."""
    from tabular_to_parquet_spark.operators import graph as g

    li = load_table(spark, sf_dir, "lineitem")
    edges = g.copurchase_edges_threshold(li, min_orders=2)
    return g.kcore(edges, k=3)


register("g03_kcore", _kcore_oracle(3, 16))(_q_kcore)


# ---------------------------------------------------------------------------
# a30 — funnel stages WITHIN session boundaries (a14 × ev03)

#: per-event session tagging, identical to ev03's oracle CTE but
#: keeping event_type for the stage predicates
_A30_TAGGED = """
tagged AS (
    SELECT user_id, ts, event_type,
           SUM(CASE WHEN prev_us IS NULL
                     OR epoch_us(ts) - prev_us > 14400000000 THEN 1
                    ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_no
    FROM (SELECT *, lag(epoch_us(ts))
                        OVER (PARTITION BY user_id ORDER BY ts, event_id)
                        AS prev_us
          FROM events)
)"""


def _q_sessionized_funnel(spark, sf_dir):
    """a14's view->click->purchase funnel scoped to ev03's session
    boundaries: a conversion must complete INSIDE one session, the
    form a product analyst actually asks for (cross-session 'funnels'
    conflate intent). Implementation: session_tags (the ev03 tagger)
    then three chained whole-partition window mins over (user_id,
    session_no) — t_view, then first click after t_view, then first
    purchase after that click — and one collapse agg. ONE shuffle on
    the session key serves all three windows and the final groupBy
    (Catalyst reuses the exchange); no self-joins at all, so at
    100 TB this costs a single exchange of the events table."""
    from pyspark.sql import Window as W

    from tabular_to_parquet_spark.streaming.streams import session_tags

    ev = load_table(spark, sf_dir, "events")
    tagged = session_tags(ev).select("user_id", "ts", "event_type", "session_no")
    w = W.partitionBy("user_id", "session_no")
    t_view = F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    s1 = tagged.withColumn("t_view", t_view)
    t_click = F.min(
        F.when(
            (F.col("event_type") == "click") & (F.col("ts") > F.col("t_view")),
            F.col("ts"),
        )
    ).over(w)
    s2 = s1.withColumn("t_click", t_click)
    t_purchase = F.min(
        F.when(
            (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t_click")),
            F.col("ts"),
        )
    ).over(w)
    s3 = s2.withColumn("t_purchase", t_purchase)
    out = (
        s3.groupBy("user_id", "session_no")
        .agg(
            F.min("t_view").alias("t_view"),
            F.min("t_click").alias("t_click"),
            F.min("t_purchase").alias("t_purchase"),
        )
        .where(F.col("t_view").isNotNull())
    )
    stages = (
        F.lit(1)
        + F.col("t_click").isNotNull().cast("int")
        + F.col("t_purchase").isNotNull().cast("int")
    )
    return out.select(
        "user_id",
        F.col("session_no").cast("long").alias("session_no"),
        "t_view", "t_click", "t_purchase",
        stages.cast("long").alias("stages_reached"),
    )


register("a30_sessionized_funnel", f"""
WITH {_A30_TAGGED},
s AS (
    SELECT user_id, session_no,
           MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view
    FROM tagged GROUP BY 1, 2
),
c AS (
    SELECT t.user_id, t.session_no, MIN(t.ts) AS t_click
    FROM tagged t JOIN s ON t.user_id = s.user_id AND t.session_no = s.session_no
    WHERE t.event_type = 'click' AND t.ts > s.t_view
    GROUP BY 1, 2
),
p AS (
    SELECT t.user_id, t.session_no, MIN(t.ts) AS t_purchase
    FROM tagged t JOIN c ON t.user_id = c.user_id AND t.session_no = c.session_no
    WHERE t.event_type = 'purchase' AND t.ts > c.t_click
    GROUP BY 1, 2
)
SELECT s.user_id, CAST(s.session_no AS BIGINT) AS session_no,
       s.t_view, c.t_click, p.t_purchase,
       CAST(1 + (c.t_click IS NOT NULL)::INT
              + (p.t_purchase IS NOT NULL)::INT AS BIGINT) AS stages_reached
FROM s LEFT JOIN c ON s.user_id = c.user_id AND s.session_no = c.session_no
       LEFT JOIN p ON s.user_id = p.user_id AND s.session_no = p.session_no
WHERE s.t_view IS NOT NULL
""")(_q_sessionized_funnel)


# ---------------------------------------------------------------------------
# a31 — ROLLUP subtotal lattice with GROUPING flags


def _q_rollup_revenue(spark, sf_dir):
    """Region -> order-priority subtotal lattice via native ROLLUP
    (region totals, grand total) with GROUPING flags disambiguating
    rollup NULLs from data NULLs — the subtotal-report shape the
    fuzzer exercises randomly (GROUPING SETS generators, r6) pinned
    as a driver-certified catalog row. Revenue stays in integer
    cents; the join tree is orders->customer->nation->region with
    both tiny dims broadcast. ROLLUP is one Expand (x3 here) over the
    aggregation — no extra shuffle vs a plain groupBy at any scale."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    j = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(n, c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select(
            "r_name", "o_orderpriority",
            F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
    )
    return (
        j.rollup("r_name", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("revenue_cents"),
            F.grouping("r_name").cast("long").alias("g_region"),
            F.grouping("o_orderpriority").cast("long").alias("g_priority"),
        )
        .select(
            "r_name", "o_orderpriority", "n_orders", "revenue_cents",
            "g_region", "g_priority",
        )
    )


register("a31_rollup_revenue", """
SELECT r_name, o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(cents) AS BIGINT) AS revenue_cents,
       CAST(GROUPING(r_name) AS BIGINT) AS g_region,
       CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority
FROM (SELECT r_name, o_orderpriority,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey)
GROUP BY ROLLUP (r_name, o_orderpriority)
""")(_q_rollup_revenue)


# ---------------------------------------------------------------------------
# d15 — canonical representative per dup cluster (the dedup endgame)


def _q_cluster_representatives(spark, sf_dir):
    """dedup.cluster_representatives over the d10 bounded clusters:
    per near-dup cluster, keep the longest document (doc_id tiebreak)
    with member count and quality stats — the keep-one-copy decision
    a corpus pipeline actually ships. One cluster-keyed exchange
    serves ranking window and stats; cluster sizes follow true dup
    structure, never corpus size."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_pairs(docs, threshold=0.5)
    clusters = dedup.dup_clusters(pairs, docs.select("doc_id"), hops=2)
    quality = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return dedup.cluster_representatives(clusters, quality)


def _d15_oracle() -> str:
    d10 = CATALOG["d10_dup_clusters"].oracle
    return f"""
WITH cl AS ({d10}),
j AS (SELECT cl.doc_id, cl.cluster_id, d.n_chars
      FROM cl JOIN documents d USING (doc_id)),
r AS (SELECT cluster_id, doc_id,
             row_number() OVER (PARTITION BY cluster_id
                                ORDER BY n_chars DESC, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY cluster_id) AS n_members,
             MAX(n_chars) OVER (PARTITION BY cluster_id) AS max_quality,
             SUM(n_chars) OVER (PARTITION BY cluster_id) AS sum_quality
      FROM j)
SELECT cluster_id, doc_id AS rep_doc_id,
       CAST(n_members AS BIGINT) AS n_members,
       CAST(max_quality AS BIGINT) AS max_quality,
       CAST(sum_quality AS BIGINT) AS sum_quality
FROM r WHERE rn = 1 AND n_members >= 2
"""


register("d15_cluster_representatives", _d15_oracle())(_q_cluster_representatives)


# ---------------------------------------------------------------------------
# d16 — asymmetric containment pairs (rare-anchor blocking)


def _q_containment_pairs(spark, sf_dir):
    """dedup.containment_pairs: small-in-big duplicate detection —
    |S_a ∩ S_b| / min set size over pairs sharing a rare shingle
    (df ∈ [2,5]). Whole-doc LSH can't see these (low Jaccard); the
    rare-anchor block is linear in postings with a df-capped fan-out,
    and exact intersection runs only on candidates."""
    return dedup.containment_pairs(_docs(spark, sf_dir), threshold=0.8)


register("d16_containment_pairs", f"""
WITH docs AS (SELECT doc_id, {_shingles(_TOKS)} AS sh FROM documents),
g AS (SELECT doc_id, unnest(sh) AS g FROM docs),
rare AS (SELECT g FROM (SELECT g, COUNT(*) AS df FROM g GROUP BY 1)
         WHERE df BETWEEN 2 AND 5),
anch AS (SELECT doc_id, g.g FROM g JOIN rare USING (g)),
cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         FROM anch x JOIN anch y ON x.g = y.g AND x.doc_id < y.doc_id),
scored AS (
    SELECT c.id_a, c.id_b,
           CAST(len(list_intersect(da.sh, db.sh)) AS BIGINT) AS inter,
           CAST(len(da.sh) AS BIGINT) AS n_a,
           CAST(len(db.sh) AS BIGINT) AS n_b
    FROM cand c JOIN docs da ON da.doc_id = c.id_a
                JOIN docs db ON db.doc_id = c.id_b
)
SELECT id_a, id_b, inter, n_a, n_b,
       inter::DOUBLE / LEAST(n_a, n_b) AS containment
FROM scored
WHERE inter::DOUBLE / LEAST(n_a, n_b) >= 0.8
""")(_q_containment_pairs)


# ---------------------------------------------------------------------------
# a32 — trailing-window distinct users (sliding COUNT DISTINCT)


def _q_trailing_active_users(spark, sf_dir):
    """Trailing-7-day distinct active users per day — the sliding
    COUNT(DISTINCT) no window frame can express (distinct doesn't
    decompose over frames). The distributed pattern: reduce events to
    distinct (epoch-day, user), fan each out to the ≤7 target days its
    activity covers (bounded sequence explode), then one exact
    distinct-agg per day. Cost is 7·|distinct day-user| rows — linear,
    shuffle on the day key; the naive per-day re-scan would be 7× the
    corpus PER DAY. Integer epoch-day arithmetic (the a20 pattern)
    keeps the day key dtype-identical across engines. At extreme
    cardinality swap the exact distinct for approx_count_distinct
    (mergeable HLL, same plan)."""
    ev = load_table(spark, sf_dir, "events")
    day = F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
    du = ev.select(day.cast("long").alias("d"), "user_id").distinct()
    fanned = du.select(
        F.explode(F.expr("sequence(d, d + 6)")).alias("day_num"),
        "user_id",
    )
    return fanned.groupBy("day_num").agg(
        F.countDistinct("user_id").cast("long").alias("active_users_7d")
    )


register("a32_trailing_active_users", """
WITH du AS (SELECT DISTINCT (CAST(ts AS DATE) - DATE '1970-01-01') AS d,
                            user_id
            FROM events),
t AS (SELECT CAST(unnest(generate_series(d, d + 6)) AS BIGINT) AS day_num,
             user_id
      FROM du)
SELECT day_num, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS active_users_7d
FROM t GROUP BY day_num
""")(_q_trailing_active_users)


# ---------------------------------------------------------------------------
# m14 — perceptual aHash image signatures (multimodal dedup fingerprint)


def _q_image_ahash(spark, sf_dir):
    """multimodal.perceptual_hash_features over real BMP payloads:
    decode → 8×8 nearest resize → integer grayscale → above-mean bit
    per cell. The image-dedup fingerprint: equal hashes = visually
    identical images (groupBy = dedup; hamming bands = near-dup, the
    d05 machinery). Arrow-batched map pass, zero shuffle; the oracle
    re-derives every bit from the pixel formulas."""
    media = multimodal.attach_bmp_payload(_docs(spark, sf_dir))
    return multimodal.perceptual_hash_features(media)


register("m14_image_ahash", """
WITH px AS (
    SELECT doc_id, (j * 8 + i) AS p,
           (((x + y + doc_id) % 256) + ((2 * x + doc_id) % 256)
            + ((y + 2 * doc_id) % 256)) // 3 AS gray
    FROM (SELECT doc_id, 8 + doc_id % 16 AS w, 8 + doc_id % 12 AS h
          FROM documents),
         LATERAL (SELECT unnest(range(0, 8)) AS i),
         LATERAL (SELECT unnest(range(0, 8)) AS j),
         LATERAL (SELECT (i * w) // 8 AS x, (j * h) // 8 AS y)
),
m AS (SELECT doc_id, SUM(gray) // 64 AS mean_gray FROM px GROUP BY doc_id)
SELECT px.doc_id AS media_id,
       CAST(m.mean_gray AS BIGINT) AS mean_gray,
       CAST(COALESCE(SUM(CASE WHEN gray > m.mean_gray AND p < 32
                              THEN (1::BIGINT << p) END), 0) AS BIGINT)
           AS ahash_lo,
       CAST(COALESCE(SUM(CASE WHEN gray > m.mean_gray AND p >= 32
                              THEN (1::BIGINT << (p - 32)) END), 0) AS BIGINT)
           AS ahash_hi,
       true AS decoded
FROM px JOIN m ON px.doc_id = m.doc_id
GROUP BY px.doc_id, m.mean_gray
""")(_q_image_ahash)


# ---------------------------------------------------------------------------
# m15 — perceptual image dedup groups (groupBy the m14 aHash)


def _q_image_dedup_groups(spark, sf_dir):
    """Image dedup over the m14 perceptual hashes: one map-side-
    combined groupBy on the 64-bit signature (as its two halves) —
    the d01 exact-groups plan applied to pixels instead of text.
    Groups of visually identical images keep the min-id
    representative. Near-dup would band the hash through the d05
    hamming machinery; on THIS synthetic corpus the gradient images
    cluster so tightly (3.4k of 125k pairs are hash-equal at sf0.01)
    that banding would degenerate toward all-pairs — the honest scale
    note is that banded near-dup needs hash diversity, which real
    photos have and synthetic gradients don't."""
    media = multimodal.attach_bmp_payload(_docs(spark, sf_dir))
    sigs = multimodal.perceptual_hash_features(media)
    return (
        sigs.where(F.col("decoded"))
        .groupBy("ahash_lo", "ahash_hi")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_images"),
            F.min("media_id").cast("long").alias("keeper_id"),
        )
        .where(F.col("n_images") >= 2)
    )


register("m15_image_dedup_groups", """
WITH px AS (
    SELECT doc_id, (j * 8 + i) AS p,
           (((x + y + doc_id) % 256) + ((2 * x + doc_id) % 256)
            + ((y + 2 * doc_id) % 256)) // 3 AS gray
    FROM (SELECT doc_id, 8 + doc_id % 16 AS w, 8 + doc_id % 12 AS h
          FROM documents),
         LATERAL (SELECT unnest(range(0, 8)) AS i),
         LATERAL (SELECT unnest(range(0, 8)) AS j),
         LATERAL (SELECT (i * w) // 8 AS x, (j * h) // 8 AS y)
),
m AS (SELECT doc_id, SUM(gray) // 64 AS mean_gray FROM px GROUP BY doc_id),
h AS (
    SELECT px.doc_id,
           COALESCE(SUM(CASE WHEN gray > m.mean_gray AND p < 32
                             THEN (1::BIGINT << p) END), 0) AS ahash_lo,
           COALESCE(SUM(CASE WHEN gray > m.mean_gray AND p >= 32
                             THEN (1::BIGINT << (p - 32)) END), 0) AS ahash_hi
    FROM px JOIN m ON px.doc_id = m.doc_id
    GROUP BY px.doc_id
)
SELECT CAST(ahash_lo AS BIGINT) AS ahash_lo,
       CAST(ahash_hi AS BIGINT) AS ahash_hi,
       CAST(COUNT(*) AS BIGINT) AS n_images,
       CAST(MIN(doc_id) AS BIGINT) AS keeper_id
FROM h GROUP BY 1, 2 HAVING COUNT(*) >= 2
""")(_q_image_dedup_groups)


# ---------------------------------------------------------------------------
# x36 — tokenizer fertility audit (BPE vs whitespace, per language)


def _q_tokenizer_fertility(spark, sf_dir):
    """Per-language tokenizer fertility — the metric that decides
    whether a tokenizer is fair to a language: chars per REAL-BPE
    token and BPE-inflation vs whitespace words, aggregated from
    exact integer sums (the single divisions happen once per language
    row, oracle-safe). Both token counts are codegen'd projections
    (x06's regex count, x11's literal-replace BPE chain) feeding one
    map-side-combined groupBy on the bounded lang key — a pure
    two-pass-free scan at any corpus size."""
    from tabular_to_parquet_spark.functions import bpe

    docs = _docs(spark, sf_dir)
    staged = docs.select(
        "lang",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.size(ta.tokens(F.col("text"))).cast("long").alias("ws"),
        bpe.bpe_token_count(F.col("text"), bpe.BPE_MERGES).cast("long").alias("bpe"),
    )
    agg = staged.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.sum("ws").cast("long").alias("sum_ws_tokens"),
        F.sum("bpe").cast("long").alias("sum_bpe_tokens"),
    )
    return agg.select(
        "lang", "n_docs", "sum_chars", "sum_ws_tokens", "sum_bpe_tokens",
        (F.col("sum_chars").cast("double") / F.col("sum_bpe_tokens"))
        .alias("chars_per_bpe_token"),
        (F.col("sum_bpe_tokens").cast("double") / F.col("sum_ws_tokens"))
        .alias("bpe_per_word"),
    )


def _x36_sql() -> str:
    from tabular_to_parquet_spark.functions import bpe

    cnt = bpe.bpe_token_count_sql("text", bpe.BPE_MERGES, _BPE_RE_SQL)
    return f"""
WITH t AS (
    SELECT lang, n_chars,
           CAST(len({_TOKS}) AS BIGINT) AS ws,
           CAST({cnt} AS BIGINT) AS bpe
    FROM documents
),
a AS (
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(SUM(ws) AS BIGINT) AS sum_ws_tokens,
           CAST(SUM(bpe) AS BIGINT) AS sum_bpe_tokens
    FROM t GROUP BY lang
)
SELECT lang, n_docs, sum_chars, sum_ws_tokens, sum_bpe_tokens,
       sum_chars::DOUBLE / sum_bpe_tokens AS chars_per_bpe_token,
       sum_bpe_tokens::DOUBLE / sum_ws_tokens AS bpe_per_word
FROM a
"""


register("x36_tokenizer_fertility", _x36_sql())(_q_tokenizer_fertility)


# ---------------------------------------------------------------------------
# a33 — per-user active-time coverage (interval union over sessions)


def _q_user_active_time(spark, sf_dir):
    """Interval-union coverage per user: total time inside ev03
    sessions (the union of per-session [start, end] intervals —
    sessionization already merged overlaps, so the union length is a
    plain sum), session count, and the longest inter-session gap.
    One user-keyed exchange serves the sessionize windows, the
    session aggregate, the gap lag and the final rollup (all
    partitioned by user_id — Catalyst reuses it); integer microsecond
    arithmetic end to end."""
    from pyspark.sql import Window as W

    from tabular_to_parquet_spark.streaming.streams import sessionize_frame

    sess = sessionize_frame(load_table(spark, sf_dir, "events"))
    w = W.partitionBy("user_id").orderBy("session_no")
    gap = F.unix_micros(F.col("session_start")) - F.lag(
        F.unix_micros(F.col("session_end"))
    ).over(w)
    staged = sess.select(
        "user_id",
        (
            F.unix_micros(F.col("session_end"))
            - F.unix_micros(F.col("session_start"))
        ).alias("dur_us"),
        gap.alias("gap_us"),
    )
    return staged.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum("dur_us").cast("long").alias("active_us"),
        F.max("gap_us").cast("long").alias("max_gap_us"),
    )


register("a33_user_active_time", """
WITH tagged AS (
    SELECT user_id, ts,
           SUM(CASE WHEN prev_us IS NULL
                     OR epoch_us(ts) - prev_us > 14400000000 THEN 1
                    ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_no
    FROM (SELECT *, lag(epoch_us(ts))
                        OVER (PARTITION BY user_id ORDER BY ts, event_id)
                        AS prev_us
          FROM events)
),
sess AS (
    SELECT user_id, session_no,
           MIN(epoch_us(ts)) AS s_us, MAX(epoch_us(ts)) AS e_us
    FROM tagged GROUP BY user_id, session_no
),
g AS (
    SELECT user_id, e_us - s_us AS dur_us,
           s_us - lag(e_us) OVER (PARTITION BY user_id ORDER BY session_no)
               AS gap_us
    FROM sess
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(dur_us) AS BIGINT) AS active_us,
       CAST(MAX(gap_us) AS BIGINT) AS max_gap_us
FROM g GROUP BY user_id
""")(_q_user_active_time)


# ---------------------------------------------------------------------------
# m16 — energy-profile audio fingerprint (audio dedup key)


def _q_audio_fingerprint(spark, sf_dir):
    """multimodal.audio_fingerprint over real PCM-16 WAV payloads:
    8-sample window energies (exact Σs²), one above-integer-mean bit
    per window — the loudness-envelope dedup key, m14's aHash idea on
    audio. Arrow-batched map pass over the real RIFF decode; the
    oracle re-derives every bit from the sample formula."""
    media = multimodal.attach_wav_payload(_docs(spark, sf_dir))
    return multimodal.audio_fingerprint(media)


register("m16_audio_fingerprint", """
WITH w AS (
    SELECT doc_id, i // 8 AS widx,
           SUM(((i * (doc_id + 7)) % 2003 - 1001)
               * ((i * (doc_id + 7)) % 2003 - 1001)) AS energy
    FROM (SELECT doc_id, 64 + doc_id % 128 AS n FROM documents),
         LATERAL (SELECT unnest(range(0, n)) AS i)
    GROUP BY 1, 2
),
m AS (SELECT doc_id, COUNT(*) AS nw, SUM(energy) // COUNT(*) AS mean_e
      FROM w GROUP BY doc_id)
SELECT w.doc_id AS media_id,
       CAST(m.nw AS BIGINT) AS n_windows,
       CAST(m.mean_e AS BIGINT) AS mean_energy,
       CAST(COALESCE(SUM(CASE WHEN w.energy > m.mean_e
                              THEN (1::BIGINT << w.widx) END), 0) AS BIGINT)
           AS fingerprint,
       true AS decoded
FROM w JOIN m ON w.doc_id = m.doc_id
GROUP BY w.doc_id, m.nw, m.mean_e
""")(_q_audio_fingerprint)


# ---------------------------------------------------------------------------
# a34 — ratio-to-report (percent of parent, exact share arithmetic)


def _q_revenue_share(spark, sf_dir):
    """Ratio-to-report: each (region, priority) revenue cell as a
    share of its region's total — the report shape ROLLUP subtotals
    (a31) don't give directly. Cell sums and region totals are exact
    integer cents; the share is ONE division per output row (26 rows)
    so it stays bit-reproducible. Plan: the groupBy feeds a
    region-partitioned window sum — same exchange, no second scan."""
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    cells = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(n, c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name", "o_orderpriority")
        .agg(F.sum(F.floor(F.col("o_totalprice") * 100)).cast("long").alias("cents"))
    )
    tot = F.sum("cents").over(W.partitionBy("r_name"))
    return cells.select(
        "r_name", "o_orderpriority", "cents",
        tot.cast("long").alias("region_cents"),
        (F.col("cents").cast("double") / tot).alias("share"),
    )


register("a34_revenue_share", """
WITH cells AS (
    SELECT r_name, o_orderpriority,
           CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, o_orderpriority
)
SELECT r_name, o_orderpriority, cents,
       CAST(SUM(cents) OVER (PARTITION BY r_name) AS BIGINT) AS region_cents,
       cents::DOUBLE / SUM(cents) OVER (PARTITION BY r_name) AS share
FROM cells
""")(_q_revenue_share)


# ---------------------------------------------------------------------------
# ev11 — event-time disorder audit (the watermark-sizing evidence)


def _q_event_disorder(spark, sf_dir):
    """Out-of-orderness audit per event type: how often does event
    time run BACKWARDS along the arrival order (event_id), and by how
    much — the measurement that justifies a watermark delay before
    anyone picks one. One user-partitioned lag pass (arrival order
    per user), then a bounded-key aggregate: n_events, n_inversions,
    the worst backwards jump and the total backwards microseconds —
    all exact integer arithmetic."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("event_id")
    back = F.lag(F.unix_micros(F.col("ts"))).over(w) - F.unix_micros(F.col("ts"))
    staged = ev.select(
        "event_type", F.when(back > 0, back).otherwise(F.lit(0)).alias("back_us")
    )
    return staged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum((F.col("back_us") > 0).cast("int")).cast("long").alias("n_inversions"),
        F.max("back_us").cast("long").alias("max_backwards_us"),
        F.sum("back_us").cast("long").alias("sum_backwards_us"),
    )


register("ev11_event_disorder", """
WITH g AS (
    SELECT event_type,
           GREATEST(COALESCE(lag(epoch_us(ts))
                        OVER (PARTITION BY user_id ORDER BY event_id)
                    - epoch_us(ts), 0), 0) AS back_us
    FROM events
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN back_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_inversions,
       CAST(MAX(back_us) AS BIGINT) AS max_backwards_us,
       CAST(SUM(back_us) AS BIGINT) AS sum_backwards_us
FROM g GROUP BY event_type
""")(_q_event_disorder)


# ---------------------------------------------------------------------------
# d17 — sketch calibration: MinHash estimate vs TRUE Jaccard


def _q_minhash_calibration(spark, sf_dir):
    """Calibration audit for the d04 sketch: every LSH candidate pair
    scored by BOTH its 16-component signature estimate and the true
    shingle-set Jaccard (exact array_intersect on the candidates only
    — the d07 verifier pattern), so the estimator's error is
    measurable from the report instead of trusted. sig_matches is
    recovered exactly as est·16 (the estimate is a dyadic k/16);
    true_jaccard is one division per candidate row. At 100 TB the
    candidate set is banded-bounded, never all-pairs — the exact
    verification cost follows true dup structure."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_pairs(docs, threshold=0.5)
    sh = docs.select(F.col("doc_id"), ta.word_shingles(F.col("text")).alias("sh"))
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    j = pairs.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    un = F.size("sh_a") + F.size("sh_b") - inter
    return j.select(
        "id_a",
        "id_b",
        (F.col("est_jaccard") * 16).cast("long").alias("sig_matches"),
        inter.cast("long").alias("inter"),
        un.cast("long").alias("un"),
        "est_jaccard",
        (inter.cast("double") / un).alias("true_jaccard"),
    )


def _d17_oracle() -> str:
    d04 = CATALOG["d04_minhash_pairs"].oracle
    return f"""
WITH cand AS ({d04}),
sh AS (SELECT doc_id, {_shingles(_TOKS)} AS sh FROM documents),
j AS (
    SELECT c.id_a, c.id_b, c.est_jaccard,
           len(list_intersect(a.sh, b.sh)) AS inter,
           len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS un
    FROM cand c JOIN sh a ON a.doc_id = c.id_a
                JOIN sh b ON b.doc_id = c.id_b
)
SELECT id_a, id_b,
       CAST(est_jaccard * 16 AS BIGINT) AS sig_matches,
       CAST(inter AS BIGINT) AS inter,
       CAST(un AS BIGINT) AS un,
       est_jaccard,
       inter::DOUBLE / un AS true_jaccard
FROM j
"""


register("d17_minhash_calibration", _d17_oracle())(_q_minhash_calibration)


# ---------------------------------------------------------------------------
# g04 — BFS shortest-path hops (level-synchronous frontier expansion)


def _bfs_oracle(max_hops: int = 12) -> str:
    """Recursive-CTE DuckDB twin of graph.bfs_hops over the g03 edge
    build: UNION-dedup'd (node, hop) exploration bounded at
    ``max_hops``, MIN(hop) per node == BFS distance (level order makes
    the first reach minimal on both engines; both truncate at the same
    bound). Edge CTE MATERIALIZED per the g03 lesson."""
    return f"""
WITH RECURSIVE e0 AS MATERIALIZED (
    SELECT src, dst FROM (
        SELECT a.l_partkey AS src, b.l_partkey AS dst,
               COUNT(DISTINCT a.l_orderkey) AS n
        FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        WHERE a.l_partkey <> b.l_partkey
        GROUP BY 1, 2)
    WHERE n >= 2
),
walk(node, hop) AS (
    SELECT MIN(src), 0 FROM e0
    UNION
    SELECT e0.dst, walk.hop + 1
    FROM walk JOIN e0 ON e0.src = walk.node
    WHERE walk.hop + 1 <= {max_hops}
)
SELECT node, CAST(MIN(hop) AS BIGINT) AS hop FROM walk GROUP BY node
"""


def _q_bfs_hops(spark, sf_dir):
    """BFS hop distances from the smallest part id over the
    support-thresholded co-purchase graph (graph.bfs_hops over
    graph.copurchase_edges_threshold): the reachability/radius
    primitive — exact shortest-path lengths within 12 hops. Each level
    is one frontier-edge equi-join plus a visited anti-join (the BSP
    BFS shape, O(diameter) bounded shuffles over a shrinking
    frontier); the oracle re-walks the same levels as a bounded
    recursive CTE and takes MIN(hop)."""
    from tabular_to_parquet_spark.operators import graph as g

    li = load_table(spark, sf_dir, "lineitem")
    edges = g.copurchase_edges_threshold(li, min_orders=2)
    return g.bfs_hops(edges, max_hops=12)


register("g04_bfs_hops", _bfs_oracle(12))(_q_bfs_hops)


# ---------------------------------------------------------------------------
# a35 — per-user daily spine with forward-fill (time-series gap repair)


def _q_gap_fill(spark, sf_dir):
    """Per-user daily revenue series with gap days FILLED by
    carry-forward: generate each user's full day spine (min..max
    active day, integer epoch days — the a20/a32 temporal-key rule),
    left-join the observed daily sums, forward-fill with
    last(ignorenulls) — the time-series regularization every
    training-data featurizer needs before windowing (a gap day must
    carry the prior value, not silently vanish). Plan: one daily
    hash agg, a per-user sequence explode (spine ∝ span days, never
    a global calendar cross join), one user-day left join and ONE
    user-partitioned ordered pass for the fill — the join and the
    window share the user-keyed exchange. First spine day is always
    observed, so the fill never emits null."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    day = F.expr("unix_micros(ts) div 86400000000").cast("long")
    daily = (
        ev.select("user_id", day.alias("day"),
                  F.floor(F.col("value") * 100).cast("long").alias("c"))
        .groupBy("user_id", "day")
        .agg(F.sum("c").cast("long").alias("day_cents"))
    )
    bounds = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = bounds.select(
        "user_id", F.explode(F.sequence("d0", "d1")).alias("day")
    )
    j = spine.join(daily, ["user_id", "day"], "left")
    w = W.partitionBy("user_id").orderBy("day")
    return j.select(
        "user_id",
        F.col("day").cast("long").alias("day"),
        F.last("day_cents", ignorenulls=True).over(w).cast("long").alias("cents"),
        F.col("day_cents").isNotNull().cast("long").alias("observed"),
    )


register("a35_gap_fill", """
WITH daily AS (
    SELECT user_id, epoch_us(ts) // 86400000000 AS day,
           SUM(CAST(floor(value * 100) AS BIGINT)) AS day_cents
    FROM events WHERE value IS NOT NULL
    GROUP BY 1, 2
),
b AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1),
spine AS (SELECT user_id, unnest(range(d0, d1 + 1)) AS day FROM b),
j AS (
    SELECT s.user_id, s.day, d.day_cents
    FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day
)
SELECT user_id, CAST(day AS BIGINT) AS day,
       CAST(LAST_VALUE(day_cents IGNORE NULLS) OVER (
            PARTITION BY user_id ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cents,
       CAST(CASE WHEN day_cents IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
           AS observed
FROM j
""")(_q_gap_fill)


# ---------------------------------------------------------------------------
# m17 — per-transition scene-cut series (the per-frame view under m11)


def _q_scene_cuts(spark, sf_dir):
    """Scene-cut detection over the real AVI decode
    (multimodal.scene_cut_frames): one row per consecutive-frame
    transition with its exact byte-difference sum, flagged as a cut
    when the transition exceeds 2x the clip's mean energy — compared
    as diff·n_transitions > 2·total so no division happens. The
    per-frame series m11's per-video total collapses away; decode,
    series and per-clip mean all stay inside one Arrow batch, so the
    whole operator is a zero-shuffle mapInPandas scan. The oracle
    re-derives every transition from the synthetic frame formula."""
    media = multimodal.attach_avi_payload(_docs(spark, sf_dir))
    return multimodal.scene_cut_frames(media)


register("m17_scene_cuts", """
WITH px AS (
    SELECT doc_id, f,
           3 * SUM(abs(((x + y + f + doc_id) % 256)
                       - ((x + y + f - 1 + doc_id) % 256))) AS diff_sum
    FROM (SELECT doc_id, 8 + doc_id % 8 AS w, 6 + doc_id % 6 AS h,
                 2 + doc_id % 4 AS n
          FROM documents),
         LATERAL (SELECT unnest(range(1, n)) AS f),
         LATERAL (SELECT unnest(range(0, w)) AS x),
         LATERAL (SELECT unnest(range(0, h)) AS y)
    GROUP BY doc_id, f
),
t AS (SELECT doc_id, COUNT(*) AS nt, SUM(diff_sum) AS tot
      FROM px GROUP BY doc_id)
SELECT px.doc_id AS media_id, CAST(px.f AS BIGINT) AS frame,
       CAST(px.diff_sum AS BIGINT) AS diff_sum,
       (px.diff_sum * t.nt > 2 * t.tot) AS is_cut
FROM px JOIN t ON px.doc_id = t.doc_id
""")(_q_scene_cuts)


# ---------------------------------------------------------------------------
# a36 — weighted median (cumulative-weight crossing, no percentile)


def _q_weighted_median(spark, sf_dir):
    """Quantity-weighted median price per return flag
    (profiling.weighted_median): the smallest cents value whose
    cumulative weight reaches half the total — 2·cumw >= totw compared
    in exact integers, so the order statistic needs no percentile
    builtin and no division. Shape: one (flag, value) pre-aggregation
    collapses rows to DISTINCT values per group, then a
    group-PARTITIONED ordered cumsum (parallel across groups; the
    window input is the bounded distinct-value set, never raw rows)
    and a min over the crossing suffix — the weighted twin pr03's
    unweighted percentiles can't express."""
    from tabular_to_parquet_spark.operators.profiling import weighted_median

    li = load_table(spark, sf_dir, "lineitem")
    return weighted_median(
        li,
        F.floor(F.col("l_extendedprice") * 100).cast("long"),
        F.floor(F.col("l_quantity")).cast("long"),
        "l_returnflag",
    ).withColumnRenamed("wmedian", "wmedian_cents")


register("a36_weighted_median", """
WITH pv AS (
    SELECT l_returnflag, CAST(floor(l_extendedprice * 100) AS BIGINT) AS v,
           SUM(CAST(floor(l_quantity) AS BIGINT)) AS wv
    FROM lineitem GROUP BY 1, 2
),
c AS (
    SELECT l_returnflag, v, wv,
           SUM(wv) OVER (PARTITION BY l_returnflag ORDER BY v
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cw,
           SUM(wv) OVER (PARTITION BY l_returnflag) AS tw
    FROM pv
)
SELECT l_returnflag,
       CAST(MIN(v) AS BIGINT) AS wmedian_cents,
       CAST(MIN(tw) AS BIGINT) AS total_weight
FROM c WHERE 2 * cw >= tw GROUP BY l_returnflag
""")(_q_weighted_median)


# ---------------------------------------------------------------------------
# d18 — cross-source shingle overlap (corpus-level contamination matrix)


def _q_source_overlap(spark, sf_dir):
    """Source-pair contamination matrix: for every pair of document
    sources, the count of DISTINCT 3-word shingles they share plus
    each side's distinct-shingle count and the Jaccard (one division
    per output row, pairs bounded by the source count squared) — the
    corpus-level view the doc-pair dedup family (d03-d17) never
    aggregates to: which FEEDS overlap, not which documents. Scale
    shape: one distinct (source, shingle) projection, then a
    shingle-keyed self-equi-join whose fan-out per shingle is bounded
    by the number of sources carrying it (never doc-quadratic), and a
    pair-keyed count — at 100 TB add a df-cap on promiscuous shingles
    (the d16 rare-anchor trick inverted) to bound the worst key."""
    docs = _docs(spark, sf_dir)
    sh = (
        docs.select("source", F.explode(ta.word_shingles(F.col("text"))).alias("s"))
        .distinct()
    )
    n = sh.groupBy("source").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("source").alias("source_a"), "s")
    b = sh.select(F.col("source").alias("source_b"), "s")
    inter = (
        a.join(b, "s")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    na = n.select(F.col("source").alias("source_a"), F.col("n_sh").alias("n_a"))
    nb = n.select(F.col("source").alias("source_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(F.broadcast(na), "source_a")
        .join(F.broadcast(nb), "source_b")
        .select(
            "source_a", "source_b",
            F.col("inter").cast("long").alias("inter"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            (
                F.col("inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("inter"))
            ).alias("jaccard"),
        )
    )


register("d18_source_overlap", f"""
WITH sh AS (
    SELECT DISTINCT source, s
    FROM (SELECT source, unnest({_shingles(_TOKS)}) AS s FROM documents)
),
n AS (SELECT source, COUNT(*) AS n_sh FROM sh GROUP BY source),
p AS (
    SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS inter
    FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
    GROUP BY 1, 2
)
SELECT p.source_a, p.source_b,
       CAST(p.inter AS BIGINT) AS inter,
       CAST(na.n_sh AS BIGINT) AS n_a,
       CAST(nb.n_sh AS BIGINT) AS n_b,
       p.inter::DOUBLE / (na.n_sh + nb.n_sh - p.inter) AS jaccard
FROM p JOIN n na ON p.source_a = na.source
       JOIN n nb ON p.source_b = nb.source
""")(_q_source_overlap)


# ---------------------------------------------------------------------------
# ev12 — session concurrency sweep-line (how many sessions at once)


def _q_session_concurrency(spark, sf_dir):
    """Concurrent-session sweep-line: every ev03 session contributes a
    +1 boundary at its start and a -1 at its end; the running sum over
    the time-ordered boundaries IS the number of simultaneously-open
    sessions — the load curve that sizes streaming state stores and
    capacity, which no per-session aggregate (a30/a33) can produce.
    Tie rule encoded identically on both engines: (ts, delta DESC,
    user, session) — starts before ends at a shared instant, so
    touching sessions count as overlapping. The ordered cumsum is a
    global window, but its input is SESSION BOUNDARIES (2 rows per
    session, orders of magnitude below raw events); if sessions
    themselves were huge, with_global_position (operators/ordering.py)
    rewrites the same cumsum shuffle-parallel — the a16 precedent."""
    from pyspark.sql import Window as W

    sess = sessionize_frame(load_table(spark, sf_dir, "events"))
    starts = sess.select(
        F.unix_micros(F.col("session_start")).alias("ts_us"),
        F.lit(1).cast("long").alias("delta"),
        "user_id", "session_no",
    )
    ends = sess.select(
        F.unix_micros(F.col("session_end")).alias("ts_us"),
        F.lit(-1).cast("long").alias("delta"),
        "user_id", "session_no",
    )
    b = starts.unionByName(ends)
    w = (
        W.orderBy(F.col("ts_us"), F.col("delta").desc(), "user_id", "session_no")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return b.select(
        "ts_us", "delta", F.sum("delta").over(w).cast("long").alias("concurrency")
    )


register("ev12_session_concurrency", """
WITH tagged AS (
    SELECT user_id, ts,
           SUM(CASE WHEN prev_us IS NULL
                     OR epoch_us(ts) - prev_us > 14400000000 THEN 1
                    ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_no
    FROM (SELECT *, lag(epoch_us(ts))
                        OVER (PARTITION BY user_id ORDER BY ts, event_id)
                        AS prev_us
          FROM events)
),
sess AS (
    SELECT user_id, session_no,
           MIN(epoch_us(ts)) AS s_us, MAX(epoch_us(ts)) AS e_us
    FROM tagged GROUP BY user_id, session_no
),
b AS (
    SELECT s_us AS ts_us, CAST(1 AS BIGINT) AS delta, user_id, session_no
    FROM sess
    UNION ALL
    SELECT e_us, CAST(-1 AS BIGINT), user_id, session_no FROM sess
)
SELECT ts_us, delta,
       CAST(SUM(delta) OVER (ORDER BY ts_us, delta DESC, user_id, session_no
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS concurrency
FROM b
""")(_q_session_concurrency)


# ---------------------------------------------------------------------------
# ev13 — watermark loss curve (what each candidate delay would drop)


def _q_watermark_loss(spark, sf_dir):
    """Watermark sizing turned into a measurement: for each candidate
    delay D, how many events would a Structured Streaming watermark of
    D drop — an event is lost when it arrives (event_id order) with
    event time more than D behind the running max event time seen so
    far. ev11 measures disorder; this converts it into the LOSS CURVE
    you actually pick a delay from. The global running max uses
    ordering.with_running_max (block-decomposed: partitioned in-block
    window + bounded broadcast prefix — no global window over raw
    events); the delay grid is an explode projection, never a join."""
    from tabular_to_parquet_spark.operators.ordering import with_running_max

    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_id", "event_type", F.unix_micros(F.col("ts")).alias("us")
    )
    staged = with_running_max(
        base, "event_id", "us", (F.col("event_id") / F.lit(1 << 16)).cast("long")
    )
    d = staged.select(
        "event_type", "us", "run_max",
        F.explode(
            F.array(*[F.lit(x).cast("long") for x in (1, 60, 600, 3600)])
        ).alias("delay_s"),
    )
    dropped = (
        F.col("us") < F.col("run_max") - F.col("delay_s") * F.lit(1_000_000)
    ).cast("int")
    return d.groupBy("event_type", "delay_s").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(dropped).cast("long").alias("n_dropped"),
    )


register("ev13_watermark_loss", """
WITH m AS (
    SELECT event_type, epoch_us(ts) AS us,
           MAX(epoch_us(ts)) OVER (ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rm
    FROM events
),
d AS (SELECT unnest([1, 60, 600, 3600]) :: BIGINT AS delay_s)
SELECT event_type, CAST(delay_s AS BIGINT) AS delay_s,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN us < rm - delay_s * 1000000 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dropped
FROM m, d
GROUP BY 1, 2
""")(_q_watermark_loss)


# ---------------------------------------------------------------------------
# g05 — common-neighbor link prediction (candidate-edge scoring)


def _q_link_prediction(spark, sf_dir):
    """Link prediction over the thresholded co-purchase graph:
    NON-adjacent part pairs scored by their common-neighbor structure
    — wedge equi-join for common counts (a<b orientation, each pair
    once), min-support 2 to bound the candidate set, an anti-join
    against the edge list to keep only MISSING edges, degree joins and
    the neighborhood Jaccard common/(da+db-common) as one division per
    output row. The recommender/candidate-generation primitive on top
    of the g01-g04 metrics; every step is a vertex-keyed hash join —
    wedge fan-out is Σdeg², bounded at 100 TB by degree-capping hubs
    (the g02 degree-ordering refinement)."""
    from tabular_to_parquet_spark.operators import graph as g

    li = load_table(spark, sf_dir, "lineitem")
    edges = g.copurchase_edges_threshold(li, min_orders=2)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    e1 = edges.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    e2 = edges.select(F.col("src").alias("c"), F.col("dst").alias("b"))
    common = (
        e1.join(e2, "c")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common"))
        .where(F.col("common") >= 2)
    )
    cand = common.join(
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b")),
        ["a", "b"],
        "left_anti",
    )
    return (
        cand.join(deg.select(F.col("src").alias("a"), F.col("deg").alias("deg_a")), "a")
        .join(deg.select(F.col("src").alias("b"), F.col("deg").alias("deg_b")), "b")
        .select(
            F.col("a").alias("node_a"),
            F.col("b").alias("node_b"),
            F.col("common").cast("long").alias("common"),
            F.col("deg_a").cast("long").alias("deg_a"),
            F.col("deg_b").cast("long").alias("deg_b"),
            (
                F.col("common").cast("double")
                / (F.col("deg_a") + F.col("deg_b") - F.col("common"))
            ).alias("jaccard"),
        )
    )


register("g05_link_prediction", """
WITH e0 AS MATERIALIZED (
    SELECT src, dst FROM (
        SELECT a.l_partkey AS src, b.l_partkey AS dst,
               COUNT(DISTINCT a.l_orderkey) AS n
        FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        WHERE a.l_partkey <> b.l_partkey
        GROUP BY 1, 2)
    WHERE n >= 2
),
deg AS (SELECT src, COUNT(*) AS deg FROM e0 GROUP BY src),
w AS (
    SELECT e1.src AS a, e2.dst AS b, COUNT(*) AS common
    FROM e0 e1 JOIN e0 e2 ON e1.dst = e2.src
    WHERE e1.src < e2.dst
    GROUP BY 1, 2
    HAVING COUNT(*) >= 2
),
cand AS (
    SELECT w.* FROM w
    WHERE NOT EXISTS (SELECT 1 FROM e0 WHERE e0.src = w.a AND e0.dst = w.b)
)
SELECT cand.a AS node_a, cand.b AS node_b,
       CAST(cand.common AS BIGINT) AS common,
       CAST(da.deg AS BIGINT) AS deg_a,
       CAST(db.deg AS BIGINT) AS deg_b,
       cand.common::DOUBLE / (da.deg + db.deg - cand.common) AS jaccard
FROM cand JOIN deg da ON cand.a = da.src
          JOIN deg db ON cand.b = db.src
""")(_q_link_prediction)


# ---------------------------------------------------------------------------
# a37 — RFM quartile scores (two-level agg + broadcast quantile edges)


def _q_rfm_scores(spark, sf_dir):
    """RFM segmentation: per user, recency (last active epoch day),
    frequency (event count) and monetary (cents sum), each scored 1-4
    by its quartile among USERS — the two-level shape where the
    quantile edges come from an AGGREGATE, not raw rows. One user agg,
    one 1-row exact-percentile aggregate broadcast back (the pr14/pl25
    pattern; dyadic q so edges are bit-identical), scores by pure
    comparison; rfm_code packs the three digits. Scores rank the RAW
    metric (high recency day = recent = high score)."""
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    pu = ev.groupBy("user_id").agg(
        F.max(F.expr("unix_micros(ts) div 86400000000")).cast("long").alias("r_day"),
        F.count(F.lit(1)).cast("long").alias("f_n"),
        F.sum(F.floor(F.col("value") * 100)).cast("long").alias("m_cents"),
    )
    edges = pu.agg(
        *[
            F.expr(f"percentile({c}, {q}D)").alias(f"{c[0]}{i}")
            for c in ("r_day", "f_n", "m_cents")
            for i, q in ((1, 0.25), (2, 0.5), (3, 0.75))
        ]
    )

    def score(c):
        p = c[0]
        return (
            1
            + (F.col(c) > F.col(f"{p}1")).cast("int")
            + (F.col(c) > F.col(f"{p}2")).cast("int")
            + (F.col(c) > F.col(f"{p}3")).cast("int")
        ).cast("long")

    j = pu.crossJoin(F.broadcast(edges))
    return j.select(
        "user_id", "r_day", "f_n", "m_cents",
        score("r_day").alias("r_score"),
        score("f_n").alias("f_score"),
        score("m_cents").alias("m_score"),
        (score("r_day") * 100 + score("f_n") * 10 + score("m_cents"))
        .cast("long")
        .alias("rfm_code"),
    )


register("a37_rfm_scores", """
WITH pu AS (
    SELECT user_id,
           CAST(MAX(epoch_us(ts) // 86400000000) AS BIGINT) AS r_day,
           CAST(COUNT(*) AS BIGINT) AS f_n,
           CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS m_cents
    FROM events WHERE value IS NOT NULL GROUP BY user_id
),
e AS (
    SELECT quantile_cont(r_day, 0.25) AS r1, quantile_cont(r_day, 0.5) AS r2,
           quantile_cont(r_day, 0.75) AS r3,
           quantile_cont(f_n, 0.25) AS f1, quantile_cont(f_n, 0.5) AS f2,
           quantile_cont(f_n, 0.75) AS f3,
           quantile_cont(m_cents, 0.25) AS m1, quantile_cont(m_cents, 0.5) AS m2,
           quantile_cont(m_cents, 0.75) AS m3
    FROM pu
)
SELECT user_id, r_day, f_n, m_cents,
       CAST(1 + (r_day > r1)::INT + (r_day > r2)::INT + (r_day > r3)::INT
            AS BIGINT) AS r_score,
       CAST(1 + (f_n > f1)::INT + (f_n > f2)::INT + (f_n > f3)::INT
            AS BIGINT) AS f_score,
       CAST(1 + (m_cents > m1)::INT + (m_cents > m2)::INT + (m_cents > m3)::INT
            AS BIGINT) AS m_score,
       CAST((1 + (r_day > r1)::INT + (r_day > r2)::INT + (r_day > r3)::INT) * 100
            + (1 + (f_n > f1)::INT + (f_n > f2)::INT + (f_n > f3)::INT) * 10
            + (1 + (m_cents > m1)::INT + (m_cents > m2)::INT + (m_cents > m3)::INT)
            AS BIGINT) AS rfm_code
FROM pu, e
""")(_q_rfm_scores)


# ---------------------------------------------------------------------------
# s06 — approximate kNN graph (corpus self-join within IVF cells)


def _knn_graph_oracle(k: int = 3) -> str:
    anchors = similarity.ivf_anchors()
    dots = [
        _dot("embedding", "[" + ", ".join(repr(v) for v in a) + "]")
        for a in anchors
    ]
    score_cols = ", ".join(f"{d} AS s_{c}" for c, d in enumerate(dots))
    best = "greatest(" + ", ".join(f"s_{c}" for c in range(len(anchors))) + ")"
    cell_case = " ".join(
        f"WHEN s_{c} = {best} THEN {c}" for c in range(len(anchors))
    )
    return f"""
WITH scored_vecs AS (
    SELECT vec_id, embedding, {score_cols} FROM embeddings
),
cells AS (
    SELECT vec_id, embedding, (CASE {cell_case} END) AS cell FROM scored_vecs
),
cand AS (
    SELECT a.vec_id AS src_id, b.vec_id AS neighbor_id,
           {_cosine('a.embedding', 'b.embedding')} AS cosine
    FROM cells a JOIN cells b USING (cell)
    WHERE a.vec_id != b.vec_id
),
ranked AS (
    SELECT *, row_number() OVER
        (PARTITION BY src_id ORDER BY cosine DESC, neighbor_id) AS rank
    FROM cand
)
SELECT src_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {k}
"""


def _q_knn_graph(spark, sf_dir):
    """Whole-corpus approximate kNN graph (similarity.knn_graph):
    every vector's top-3 cosine neighbors within its IVF cell — the
    self-join twin of s03 (corpus on both sides), producing the
    neighbor graph SemDeDup clustering and graph-ANN seeding start
    from. Cell-blocked Σ|cell|² pair work, one top-k window per
    vector; the oracle re-derives cells from the 16 anchor dots and
    re-ranks every within-cell pair."""
    out = similarity.knn_graph(_emb(spark, sf_dir), k=3)
    return out.withColumn("rank", F.col("rank").cast("long"))


register("s06_knn_graph", _knn_graph_oracle(3))(_q_knn_graph)


# ---------------------------------------------------------------------------
# x37 — PMI collocations (lexical association with exact rationals)


def _q_collocations(spark, sf_dir):
    """Collocation mining: adjacent lowercased token pairs with
    min-support 5, scored by the PMI RATIO's exact integer parts —
    pmi_num = c(w1,w2)·N and pmi_den = c(w1)·c(w2) as DECIMAL(38,0)
    digit strings (the agg×agg rule: both factors scale with the
    corpus; log and division are the consumer's, and ORDERING by
    num/den is ordering by PMI since log is monotone). Extends x26's
    LM counts with the TAIL marginal and the association score; two
    marginal hash aggs reuse the pair agg's output, the 1-row bigram
    total broadcasts (scalar-aggregate BNLJ, allowlisted bound)."""
    toks = _docs(spark, sf_dir).select(
        ta.tokens(F.lower(F.col("text"))).alias("t")
    ).filter(F.size("t") >= 2)
    n = F.size("t")
    pairs = toks.select(
        F.explode(
            F.arrays_zip(
                F.slice("t", 1, n - 1).alias("w1"),
                F.slice("t", 2, n - 1).alias("w2"),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    c2 = pairs.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("n12")
    )
    c1 = c2.groupBy("w1").agg(F.sum("n12").cast("long").alias("n1"))
    ct = c2.groupBy("w2").agg(F.sum("n12").cast("long").alias("n2"))
    tot = c2.agg(F.sum("n12").cast("long").alias("nn"))
    d = "decimal(19,0)"
    return (
        c2.where(F.col("n12") >= 5)
        .join(c1, "w1")
        .join(ct, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1", "w2", "n12", "n1", "n2", "nn",
            (F.col("n12").cast(d) * F.col("nn").cast(d))
            .cast("decimal(38,0)").cast("string").alias("pmi_num"),
            (F.col("n1").cast(d) * F.col("n2").cast(d))
            .cast("decimal(38,0)").cast("string").alias("pmi_den"),
        )
    )


register("x37_collocations", f"""
WITH toks AS (SELECT {_TOKS_LC} AS t FROM documents WHERE len({_TOKS_LC}) >= 2),
big AS (
    SELECT t[i] AS w1, t[i + 1] AS w2
    FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i)
),
c2 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n12 FROM big GROUP BY w1, w2),
c1 AS (SELECT w1, CAST(SUM(n12) AS BIGINT) AS n1 FROM c2 GROUP BY w1),
ct AS (SELECT w2, CAST(SUM(n12) AS BIGINT) AS n2 FROM c2 GROUP BY w2),
nn AS (SELECT CAST(SUM(n12) AS BIGINT) AS nn FROM c2)
SELECT w1, w2, n12, n1, n2, nn.nn AS nn,
       CAST(CAST(n12 AS DECIMAL(19,0)) * CAST(nn.nn AS DECIMAL(19,0))
            AS VARCHAR) AS pmi_num,
       CAST(CAST(n1 AS DECIMAL(19,0)) * CAST(n2 AS DECIMAL(19,0))
            AS VARCHAR) AS pmi_den
FROM c2 JOIN c1 USING (w1) JOIN ct USING (w2), nn
WHERE n12 >= 5
""")(_q_collocations)


# ---------------------------------------------------------------------------
# pl31 — length-bucketed batching with padding-waste accounting

#: fixed power-of-two sequence-length ladder (identical on both engines)
_PL31_LADDER = (16, 32, 64, 128, 256, 512)
_PL31_BATCH = 32


def _q_length_buckets(spark, sf_dir):
    """Length-bucketed batch assembly audit: documents binned to a
    fixed power-of-two token-length ladder (the seq-len bucketing
    every trainer uses so batches pad to the bucket, not the global
    max), with exact padding-waste accounting — sum over docs of
    (bucket_len − n_tokens) — plus full/remainder batch counts at
    batch size 32. The waste column is the number a bucketing change
    must move to be worth shipping; pl05 packs to a token budget,
    this bins to hardware-friendly shapes. One projection + one
    bounded-key hash agg; CASE ladder (not log2) keeps the bin edges
    integer-exact on both engines."""
    docs = _docs(spark, sf_dir)
    ntok = ta.token_count(F.col("text")).cast("long")
    bucket = F.lit(1024)
    for edge in reversed(_PL31_LADDER):
        bucket = F.when(ntok <= edge, F.lit(edge)).otherwise(bucket)
    staged = docs.select(ntok.alias("ntok"), bucket.cast("long").alias("bucket_len"))
    return (
        staged.groupBy("bucket_len")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("ntok").cast("long").alias("sum_tokens"),
            F.sum(F.col("bucket_len") - F.col("ntok")).cast("long").alias("padding_waste"),
        )
        .select(
            "bucket_len", "n_docs", "sum_tokens", "padding_waste",
            (F.col("n_docs") / _PL31_BATCH).cast("long").alias("n_full_batches"),
            (F.col("n_docs") % _PL31_BATCH).cast("long").alias("remainder_docs"),
        )
    )


register("pl31_length_buckets", f"""
WITH t AS (
    SELECT len({_TOKS}) AS ntok FROM documents
),
b AS (
    SELECT ntok,
           CASE {' '.join(f'WHEN ntok <= {e} THEN {e}' for e in _PL31_LADDER)}
                ELSE 1024 END AS bucket_len
    FROM t
)
SELECT CAST(bucket_len AS BIGINT) AS bucket_len,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(ntok) AS BIGINT) AS sum_tokens,
       CAST(SUM(bucket_len - ntok) AS BIGINT) AS padding_waste,
       CAST(COUNT(*) // {_PL31_BATCH} AS BIGINT) AS n_full_batches,
       CAST(COUNT(*) % {_PL31_BATCH} AS BIGINT) AS remainder_docs
FROM b GROUP BY bucket_len
""")(_q_length_buckets)


# ---------------------------------------------------------------------------
# d19 — effective data size (dedup-weighted corpus accounting)


def _q_effective_data_size(spark, sf_dir):
    """How much UNIQUE data is actually here: per language, raw
    doc/token totals next to the dedup-weighted ones — documents
    counted once per d10 near-dup cluster (representative = the
    cluster's min-label doc, which is exactly the row whose cluster_id
    equals its own doc_id), plus the one-division unique-token ratio.
    This is the number that decides whether a crawl refresh bought new
    data or re-bought the old corpus; d01-d18 find duplicates, this
    prices them. Plan: the d10 label propagation, a rep semi-filter
    (doc_id == cluster_id is a projection predicate, no extra join),
    and two bounded-key aggs joined on lang."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_pairs(docs, threshold=0.5)
    labels = dedup.dup_clusters(pairs, docs.select("doc_id"), hops=2)
    toks = docs.select(
        "doc_id", "lang", ta.token_count(F.col("text")).cast("long").alias("ntok")
    )
    lab = toks.join(labels, "doc_id")
    total = lab.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("ntok").cast("long").alias("n_tokens"),
    )
    uniq = (
        lab.where(F.col("doc_id") == F.col("cluster_id"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_unique_docs"),
            F.sum("ntok").cast("long").alias("n_unique_tokens"),
        )
    )
    return total.join(uniq, "lang").select(
        "lang", "n_docs", "n_tokens", "n_unique_docs", "n_unique_tokens",
        (F.col("n_unique_tokens").cast("double") / F.col("n_tokens"))
        .alias("unique_ratio"),
    )


def _d19_oracle() -> str:
    d10 = CATALOG["d10_dup_clusters"].oracle
    return f"""
WITH labels AS ({d10}),
toks AS (SELECT doc_id, lang, len({_TOKS}) AS ntok FROM documents),
lab AS (SELECT t.doc_id, t.lang, t.ntok, l.cluster_id
        FROM toks t JOIN labels l ON t.doc_id = l.doc_id),
total AS (
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ntok) AS BIGINT) AS n_tokens
    FROM lab GROUP BY lang
),
uniq AS (
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_unique_docs,
           CAST(SUM(ntok) AS BIGINT) AS n_unique_tokens
    FROM lab WHERE doc_id = cluster_id GROUP BY lang
)
SELECT total.lang, n_docs, n_tokens, n_unique_docs, n_unique_tokens,
       n_unique_tokens::DOUBLE / n_tokens AS unique_ratio
FROM total JOIN uniq ON total.lang = uniq.lang
"""


register("d19_effective_data_size", _d19_oracle())(_q_effective_data_size)


# ---------------------------------------------------------------------------
# x38 — Zipf rank table (vocabulary coverage curve)


def _q_zipf_rank_table(spark, sf_dir):
    """The full Zipf table of the corpus vocabulary: every lowercased
    token type with its count, total-ordered rank, cumulative count
    and coverage share — the curve a tokenizer/vocab-size decision
    reads (x13 checks a FIXED vocab's coverage; this produces the
    curve that picks the vocab). The ranking window runs over DISTINCT
    TYPES (the vocabulary), already collapsed by the count agg — at
    web scale vocab is millions of rows, not corpus-sized, and
    with_global_position (operators/ordering.py) rewrites the same
    rank/cumsum shuffle-parallel if it ever isn't. Total comes from
    the same window frame (no broadcast join); coverage is one
    division per type."""
    from pyspark.sql import Window as W

    counts = (
        _docs(spark, sf_dir)
        .select(F.explode(ta.tokens(F.lower(F.col("text")))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    order = W.orderBy(F.col("n").desc(), F.col("tok"))
    cum = W.orderBy(F.col("n").desc(), F.col("tok")).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    tot = W.orderBy(F.col("n").desc(), F.col("tok")).rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    return counts.select(
        F.row_number().over(order).cast("long").alias("rank"),
        "tok", "n",
        F.sum("n").over(cum).cast("long").alias("cum_n"),
        F.sum("n").over(tot).cast("long").alias("total_n"),
        (F.sum("n").over(cum).cast("double") / F.sum("n").over(tot))
        .alias("coverage"),
    )


register("x38_zipf_rank_table", f"""
WITH counts AS (
    SELECT t AS tok, CAST(COUNT(*) AS BIGINT) AS n
    FROM (SELECT unnest({_TOKS_LC}) AS t FROM documents)
    GROUP BY t
)
SELECT CAST(row_number() OVER (ORDER BY n DESC, tok) AS BIGINT) AS rank,
       tok, n,
       CAST(SUM(n) OVER (ORDER BY n DESC, tok
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_n,
       CAST(SUM(n) OVER () AS BIGINT) AS total_n,
       SUM(n) OVER (ORDER BY n DESC, tok
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::DOUBLE
           / SUM(n) OVER () AS coverage
FROM counts
""")(_q_zipf_rank_table)


# ---------------------------------------------------------------------------
# pl32 — cross-split near-dup leakage (held-out contamination audit)


_LEAK_WEIGHTS = {"train": 0.9, "val": 0.1}


def _q_cross_split_leakage(spark, sf_dir):
    """Held-out-set hygiene: val docs whose near-duplicate lives in
    train. pl01's hash split keeps ids stable across refreshes, but
    NEAR-duplicates of a val doc still land in train and leak the
    held-out distribution into training — the contamination pl11
    checks against an external eval set, applied to our OWN split.
    Plan: the d04 band equi-join emits candidate pairs, the split
    column is a pure projection joined on both pair sides, and the
    leak rows collapse to one bounded per-val-doc agg. Nothing here
    is quadratic; the split filter rides the existing pair plan."""
    from tabular_to_parquet_spark.operators import pipeline as pl

    docs = _docs(spark, sf_dir)
    split = pl.hash_split(docs.select("doc_id"), "doc_id", _LEAK_WEIGHTS)
    pairs = dedup.minhash_pairs(docs, threshold=0.5)
    sp_a = split.select(F.col("doc_id").alias("id_a"), F.col("split").alias("split_a"))
    sp_b = split.select(F.col("doc_id").alias("id_b"), F.col("split").alias("split_b"))
    leak = (
        pairs.join(sp_a, "id_a")
        .join(sp_b, "id_b")
        .where(F.col("split_a") != F.col("split_b"))
        .select(
            F.when(F.col("split_a") == "val", F.col("id_a"))
            .otherwise(F.col("id_b"))
            .alias("val_doc_id"),
            F.when(F.col("split_a") == "val", F.col("id_b"))
            .otherwise(F.col("id_a"))
            .alias("train_doc_id"),
            "est_jaccard",
        )
    )
    return leak.groupBy("val_doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_train_dups"),
        F.min("train_doc_id").cast("long").alias("min_train_doc_id"),
        F.max("est_jaccard").alias("max_est_jaccard"),
    )


def _pl32_oracle() -> str:
    from tabular_to_parquet_spark.operators import pipeline as pl

    d04 = CATALOG["d04_minhash_pairs"].oracle
    split_case = pl.hash_split_case_sql("doc_id", _LEAK_WEIGHTS)
    return f"""
WITH pairs AS ({d04}),
split AS (SELECT doc_id, {split_case} AS split FROM documents),
leak AS (
    SELECT CASE WHEN sa.split = 'val' THEN p.id_a ELSE p.id_b END AS val_doc_id,
           CASE WHEN sa.split = 'val' THEN p.id_b ELSE p.id_a END AS train_doc_id,
           p.est_jaccard
    FROM pairs p
    JOIN split sa ON sa.doc_id = p.id_a
    JOIN split sb ON sb.doc_id = p.id_b
    WHERE sa.split <> sb.split
)
SELECT val_doc_id, CAST(COUNT(*) AS BIGINT) AS n_train_dups,
       CAST(MIN(train_doc_id) AS BIGINT) AS min_train_doc_id,
       MAX(est_jaccard) AS max_est_jaccard
FROM leak GROUP BY val_doc_id
"""


register("pl32_cross_split_leakage", _pl32_oracle())(_q_cross_split_leakage)


# ---------------------------------------------------------------------------
# pl33 — quality-filter funnel (C4-style cascade accounting)


def _q_filter_funnel(spark, sf_dir):
    """The filter-cascade audit every corpus build publishes: how many
    docs/tokens survive each successive cleaning stage — length band,
    language allowlist, mean-token-length band (all integer-exact
    predicates; the mean test is the cross-multiplied 4·ntok ≤ Σlen ≤
    8·ntok, no division), then near-dup removal (keep only d10 cluster
    representatives). Stages are CUMULATIVE conjunctions computed as
    flags in one projection, so the whole funnel is ONE scan + one
    5-group agg (the dup stage adds the d10 label join); stack() turns
    the single wide row into the per-stage report. At 100 TB the flag
    projection pipelines inside the scan — the funnel costs one pass
    regardless of how many stages it reports."""
    docs = _docs(spark, sf_dir)
    toks = ta.tokens(F.col("text"))
    ntok = F.size(toks).cast("long")
    sumlen = F.expr(
        "aggregate(transform("
        "filter(split(trim(text), '\\\\s+'), x -> x != ''),"
        " t -> length(t)), 0L, (a, x) -> a + x)"
    )
    pairs = dedup.minhash_pairs(docs, threshold=0.5)
    labels = dedup.dup_clusters(pairs, docs.select("doc_id"), hops=2)
    d = (
        docs.join(labels, "doc_id")
        .select(
            "doc_id",
            "lang",
            ntok.alias("ntok"),
            sumlen.alias("sumlen"),
            (F.col("doc_id") == F.col("cluster_id")).alias("is_rep"),
        )
        .select(
            "ntok",
            F.col("ntok").between(20, 80).alias("f1"),
            F.col("lang").isin("en", "es", "fr").alias("f2"),
            (
                (F.col("sumlen") >= 4 * F.col("ntok"))
                & (F.col("sumlen") <= 8 * F.col("ntok"))
            ).alias("f3"),
            F.col("is_rep").alias("f4"),
        )
    )
    c1 = F.col("f1")
    c2 = c1 & F.col("f2")
    c3 = c2 & F.col("f3")
    c4 = c3 & F.col("f4")
    flag = lambda c: c.cast("long")  # noqa: E731

    def _n(c):
        return F.sum(flag(c)).cast("long")

    def _t(c):
        return F.sum(F.when(c, F.col("ntok")).otherwise(F.lit(0))).cast("long")

    wide = d.agg(
        F.count(F.lit(1)).cast("long").alias("n0"),
        F.sum("ntok").cast("long").alias("t0"),
        _n(c1).alias("n1"), _t(c1).alias("t1"),
        _n(c2).alias("n2"), _t(c2).alias("t2"),
        _n(c3).alias("n3"), _t(c3).alias("t3"),
        _n(c4).alias("n4"), _t(c4).alias("t4"),
    )
    return wide.selectExpr(
        "stack(5,"
        " 0L, 'raw', n0, t0,"
        " 1L, 'length', n1, t1,"
        " 2L, 'lang', n2, t2,"
        " 3L, 'tok_len', n3, t3,"
        " 4L, 'near_dup', n4, t4"
        ") AS (stage, stage_name, n_docs, n_tokens)"
    )


def _pl33_oracle() -> str:
    d10 = CATALOG["d10_dup_clusters"].oracle
    return f"""
WITH labels AS ({d10}),
d AS (
    SELECT doc_id, lang,
           len({_TOKS}) AS ntok,
           COALESCE(list_sum(list_transform({_TOKS}, t -> length(t))), 0) AS sumlen
    FROM documents
),
f AS (
    SELECT d.ntok,
           (d.ntok BETWEEN 20 AND 80) AS f1,
           (d.lang IN ('en', 'es', 'fr')) AS f2,
           (d.sumlen >= 4 * d.ntok AND d.sumlen <= 8 * d.ntok) AS f3,
           (d.doc_id = l.cluster_id) AS f4
    FROM d JOIN labels l ON d.doc_id = l.doc_id
),
c AS (
    SELECT ntok, f1, (f1 AND f2) AS c2, (f1 AND f2 AND f3) AS c3,
           (f1 AND f2 AND f3 AND f4) AS c4
    FROM f
)
SELECT CAST(0 AS BIGINT) AS stage, 'raw' AS stage_name,
       CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(ntok) AS BIGINT) AS n_tokens FROM c
UNION ALL
SELECT 1, 'length', CAST(SUM(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT),
       CAST(SUM(CASE WHEN f1 THEN ntok ELSE 0 END) AS BIGINT) FROM c
UNION ALL
SELECT 2, 'lang', CAST(SUM(CASE WHEN c2 THEN 1 ELSE 0 END) AS BIGINT),
       CAST(SUM(CASE WHEN c2 THEN ntok ELSE 0 END) AS BIGINT) FROM c
UNION ALL
SELECT 3, 'tok_len', CAST(SUM(CASE WHEN c3 THEN 1 ELSE 0 END) AS BIGINT),
       CAST(SUM(CASE WHEN c3 THEN ntok ELSE 0 END) AS BIGINT) FROM c
UNION ALL
SELECT 4, 'near_dup', CAST(SUM(CASE WHEN c4 THEN 1 ELSE 0 END) AS BIGINT),
       CAST(SUM(CASE WHEN c4 THEN ntok ELSE 0 END) AS BIGINT) FROM c
"""


register("pl33_filter_funnel", _pl33_oracle())(_q_filter_funnel)


# ---------------------------------------------------------------------------
# pr22 — seasonal (day-of-week) anomaly detection on daily event counts


def _q_seasonal_anomaly(spark, sf_dir):
    """Daily event volumes judged against their OWN weekday's typical
    level: a Monday spike is an anomaly relative to Mondays, not to
    the whole series (pr06/pr17 are global outlier tests; a25 is
    sequential drift — this is the seasonal-baseline shape). Weekday
    is pure integer arithmetic on the epoch day (no calendar), the
    baseline is the exact LOW MEDIAN of that weekday's daily counts
    (row_number order statistic at position (n+1) div 2 — integer,
    division-free), and the flag is the strict integer compare
    count > 2·median. Daily counts first (bounded rowset: one row per
    day), so the window runs over days, never raw events."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("epoch_day")
        )
        .groupBy("epoch_day")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .withColumn("dow", F.pmod(F.col("epoch_day"), F.lit(7)).cast("long"))
    )
    w = W.partitionBy("dow").orderBy("n_events", "epoch_day")
    ranked = daily.select(
        "dow",
        F.col("n_events").alias("med_candidate"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("dow")).alias("cnt"),
    )
    med = ranked.where(
        F.col("rn") == F.expr("(cnt + 1) div 2")
    ).select("dow", F.col("med_candidate").cast("long").alias("dow_median"))
    return daily.join(med, "dow").select(
        "epoch_day",
        "dow",
        "n_events",
        "dow_median",
        (F.col("n_events") > 2 * F.col("dow_median")).cast("long").alias("anomaly"),
    )


register("pr22_seasonal_anomaly", """
WITH daily AS (
    SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS epoch_day,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY 1
),
d AS (SELECT *, epoch_day % 7 AS dow FROM daily),
ranked AS (
    SELECT dow, n_events AS med_candidate,
           row_number() OVER (PARTITION BY dow ORDER BY n_events, epoch_day) AS rn,
           COUNT(*) OVER (PARTITION BY dow) AS cnt
    FROM d
),
med AS (
    SELECT dow, CAST(med_candidate AS BIGINT) AS dow_median
    FROM ranked WHERE rn = (cnt + 1) // 2
)
SELECT epoch_day, d.dow, n_events, dow_median,
       CAST(CASE WHEN n_events > 2 * dow_median THEN 1 ELSE 0 END AS BIGINT) AS anomaly
FROM d JOIN med ON d.dow = med.dow
""")(_q_seasonal_anomaly)


# ---------------------------------------------------------------------------
# g06 — degree assortativity sufficient statistics


def _q_degree_assortativity(spark, sf_dir):
    """Do heavily-connected parts co-purchase with other hubs, or with
    the long tail? The degree-degree correlation over edges answers it
    (Newman's assortativity), and like pr11/pr21 it is a RATIO OF SUMS:
    over every directed edge of the thresholded co-purchase graph,
    (m, Σd_src, Σd_src², Σd_src·d_dst) determine r — the caller does
    the two float ops. Plan: one pair-key agg builds the edges, one
    vertex agg the degrees, two vertex-keyed joins tag each edge with
    endpoint degrees, one scalar agg. The symmetric edge list makes
    Σd_src = Σd_dst, so four sums suffice. Products of degree
    aggregates grow quadratically → DECIMAL(38,0) digit strings (the
    r7 overflow rule, pr11's discipline)."""
    from tabular_to_parquet_spark.operators import graph as g

    li = load_table(spark, sf_dir, "lineitem")
    edges = g.copurchase_edges_threshold(li, min_orders=2)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    tagged = (
        edges.join(deg.select(F.col("src"), F.col("deg").alias("deg_src")), "src")
        .join(
            deg.select(F.col("src").alias("dst"), F.col("deg").alias("deg_dst")),
            "dst",
        )
    )
    d = "decimal(19,0)"
    return tagged.agg(
        F.count(F.lit(1)).cast("long").alias("n_edges"),
        F.sum("deg_src").cast("long").alias("sum_deg"),
        F.sum(F.col("deg_src").cast(d) * F.col("deg_src").cast(d))
        .cast("decimal(38,0)")
        .cast("string")
        .alias("sum_deg_sq"),
        F.sum(F.col("deg_src").cast(d) * F.col("deg_dst").cast(d))
        .cast("decimal(38,0)")
        .cast("string")
        .alias("sum_deg_prod"),
    )


register("g06_degree_assortativity", """
WITH e0 AS MATERIALIZED (
    SELECT src, dst FROM (
        SELECT a.l_partkey AS src, b.l_partkey AS dst,
               COUNT(DISTINCT a.l_orderkey) AS n
        FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        WHERE a.l_partkey <> b.l_partkey
        GROUP BY 1, 2)
    WHERE n >= 2
),
deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM e0 GROUP BY src),
tagged AS (
    SELECT da.deg AS deg_src, db.deg AS deg_dst
    FROM e0 JOIN deg da ON e0.src = da.src JOIN deg db ON e0.dst = db.src
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
       CAST(SUM(deg_src) AS BIGINT) AS sum_deg,
       CAST(CAST(SUM(CAST(deg_src AS HUGEINT) * deg_src) AS DECIMAL(38,0)) AS VARCHAR) AS sum_deg_sq,
       CAST(CAST(SUM(CAST(deg_src AS HUGEINT) * deg_dst) AS DECIMAL(38,0)) AS VARCHAR) AS sum_deg_prod
FROM tagged
""")(_q_degree_assortativity)


# ---------------------------------------------------------------------------
# x39 — sentence-level statistics (segmentation above the token layer)


def _q_sentence_stats(spark, sf_dir):
    """The x-family works at token granularity; documents also have a
    SENTENCE structure (readability metrics, context-window packing,
    and per-sentence dedup all need it). Segmentation is the shared
    regex split on terminal punctuation runs [.!?]+, a sentence is a
    segment with any non-space content, and the per-doc report is
    integer-exact: sentence count, summed sentence chars (the Flesch
    numerator — the caller's one division away from mean length), and
    the longest sentence. Pure projection, zero shuffle; at 100 TB
    this pipelines inside the scan like x01/x03."""
    trimmed = F.expr(
        "filter(transform(split(trim(text), '[.!?]+'), s -> trim(s)), s -> s != '')"
    )
    return _docs(spark, sf_dir).select(
        "doc_id",
        "lang",
        F.size(trimmed).cast("long").alias("n_sentences"),
        F.coalesce(
            F.expr(
                "aggregate(filter(transform(split(trim(text), '[.!?]+'), s -> trim(s)),"
                " s -> s != ''), 0L, (a, s) -> a + length(s))"
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("sum_sentence_chars"),
        F.coalesce(
            F.array_max(F.expr(
                "transform(filter(transform(split(trim(text), '[.!?]+'), s -> trim(s)),"
                " s -> s != ''), s -> length(s))"
            )),
            F.lit(0),
        )
        .cast("long")
        .alias("max_sentence_chars"),
    )


_SENTS = (
    "list_filter(list_transform(regexp_split_to_array(trim(text), '[.!?]+'),"
    " s -> trim(s)), s -> s != '')"
)

register("x39_sentence_stats", f"""
SELECT doc_id, lang,
       CAST(len({_SENTS}) AS BIGINT) AS n_sentences,
       CAST(COALESCE(list_sum(list_transform({_SENTS}, s -> length(s))), 0) AS BIGINT)
           AS sum_sentence_chars,
       CAST(COALESCE(list_max(list_transform({_SENTS}, s -> length(s))), 0) AS BIGINT)
           AS max_sentence_chars
FROM documents
""")(_q_sentence_stats)


# ---------------------------------------------------------------------------
# s07 — ANN recall audit (IVF quality measured in-engine)


def _q_ann_recall_audit(spark, sf_dir):
    """The recall@k the ANN SLO is written against, computed as a
    query instead of a notebook: brute-force top-5 (s01) is ground
    truth, IVF top-5 (s03) the candidate, and per query the audit
    counts how many true neighbors the index returned — n_hits as the
    exact integer, recall as its one division. tools/ann_recall.py
    measures this offline for tuning; this makes the audit a
    first-class catalog citizen so a production index ships with its
    recall row. Plan: both sides are the certified s01/s03 plans; the
    audit adds one (query_id, neighbor_id) equi-join and a bounded
    per-query agg — at 100 TB both inputs are top-k frames, k·|queries|
    rows, never corpus-sized.

    r15 (guide §2.4): both legs consume ONE
    :func:`similarity.shared_corpus_frame` exchange (ReusedExchange
    under AQE) so the corpus scan + norm fold run once instead of once
    per leg, and the audit is a single pass — bt LEFT JOIN iv marks
    hits, one groupBy emits (n_true, n_hits) together.  Equivalent to
    the old base⋈hits form because iv has no duplicate (query_id,
    neighbor_id) pairs (each corpus vector lives in exactly one cell)
    and every hits key is a base key (hits ⊆ iv⋈bt ⊆ bt) —
    parity-checked exact against the unchanged oracle."""
    emb = _emb(spark, sf_dir)
    q = _queries_frame(emb)
    shared = similarity.shared_corpus_frame(emb)
    bt = similarity.knn_bruteforce(emb, q, k=5, corpus=shared).select(
        "query_id", "neighbor_id"
    )
    iv = similarity.knn_ivf(emb, q, k=5, corpus=shared).select(
        "query_id", "neighbor_id"
    )
    marked = bt.join(
        iv.withColumn("_hit", F.lit(1)), ["query_id", "neighbor_id"], "left"
    )
    agg = marked.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_true"),
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("long").alias("n_hits"),
    )
    return agg.select(
        "query_id",
        "n_true",
        "n_hits",
        (F.col("n_hits").cast("double") / F.col("n_true")).alias("recall"),
    )


def _s07_oracle() -> str:
    s01 = CATALOG["s01_knn_bruteforce"].oracle
    s03 = CATALOG["s03_knn_ivf"].oracle
    return f"""
WITH bt AS ({s01}),
iv AS ({s03}),
hits AS (
    SELECT bt.query_id, CAST(COUNT(*) AS BIGINT) AS n_hits
    FROM iv JOIN bt ON iv.query_id = bt.query_id
                   AND iv.neighbor_id = bt.neighbor_id
    GROUP BY bt.query_id
),
base AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_true FROM bt GROUP BY query_id)
SELECT base.query_id, n_true,
       CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits,
       COALESCE(n_hits, 0)::DOUBLE / n_true AS recall
FROM base LEFT JOIN hits ON base.query_id = hits.query_id
"""


register("s07_ann_recall_audit", _s07_oracle())(_q_ann_recall_audit)


# ---------------------------------------------------------------------------
# ipc1 — Arrow IPC (Feather v2) source roundtrip


def _q_ipc_roundtrip(spark, sf_dir):
    """Arrow IPC container → typed zstd parquet through the shared
    columnar path (sources/columnar.py:read_ipc_python): binaryFile
    scan → executor-side mapInArrow that re-yields each file's record
    batches zero-copy (IPC *is* Arrow — the decode's only transform is
    the cast to Spark's Arrow schema). Fixture alternates zstd and
    uncompressed IPC files so both body-decompression paths decode;
    bound + oracle predicate as avro1 (O(1) driver materialization at
    any replica scale)."""
    import os
    import tempfile

    import pyarrow as pa
    import pyarrow.ipc as pipc

    from tabular_to_parquet_spark.operators.convert import run_conversion
    from tabular_to_parquet_spark.sources.columnar import (
        columnar_adapter,
    )

    pdf = _fixture_pdf(
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") < 250000)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag",
                "l_shipdate")
    )
    tbl = pa.Table.from_pandas(pdf, preserve_index=False)
    tmp = tempfile.mkdtemp(prefix="ipc1_")
    ipc_dir = os.path.join(tmp, "ipc")
    os.makedirs(ipc_dir)
    n_parts = 4
    step = max(1, (tbl.num_rows + n_parts - 1) // n_parts)
    for i in range(n_parts):
        part = tbl.slice(i * step, step)
        if part.num_rows == 0 and i > 0:
            break
        opts = pipc.IpcWriteOptions(
            compression="zstd" if i % 2 == 0 else None
        )
        with pipc.new_file(
            os.path.join(ipc_dir, f"part-{i:04d}.arrow"), tbl.schema,
            options=opts,
        ) as w:
            w.write_table(part, max_chunksize=4096)
    out = os.path.join(tmp, "lineitem_ipc.parquet")
    types = run_conversion(spark, columnar_adapter(spark, ipc_dir, "ipc"), out).types
    assert types is None, "typed container must skip inference"
    return spark.read.parquet(out)


register("ipc1_typed_roundtrip", """
SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_shipdate
FROM lineitem WHERE l_orderkey < 250000
""")(_q_ipc_roundtrip)


# ---------------------------------------------------------------------------
# x40 — n-gram novelty (first-occurrence attribution per document)


def _q_ngram_novelty(spark, sf_dir):
    """What each document actually ADDS to the corpus: of its distinct
    token 8-grams, how many occur first HERE (ownership = min doc_id
    over the corpus — the deterministic stand-in for ingestion order).
    This is the marginal-value metric dedup families imply but never
    report: d01-d19 say what to drop, novelty prices what each kept
    doc contributes (near-1 = fresh content, near-0 = recombined
    boilerplate). Plan: overlapping 8-gram explode → distinct
    (doc_id, gram_md5) → min-over-gram WINDOW (the ownership tag) →
    per-doc agg: THREE exchanges total. The agg+join form spends a
    fourth re-shuffling the gram side back onto the owner table —
    measured 1.19 s vs 0.88 s at sf0.1, identical output. Everything
    is keyed by gram hash; nothing is pairwise."""
    from pyspark.sql import Window as W

    w = 8
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id", ta.tokens(F.lower(F.col("text"))).alias("t")
    ).filter(F.size("t") >= w)
    grams = toks.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.size("t") - (w - 1))).alias("i"),
        "t",
    ).select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.slice("t", F.col("i"), w))).alias("g"),
    ).distinct()
    return (
        grams.withColumn("owner", F.min("doc_id").over(W.partitionBy("g")))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum((F.col("owner") == F.col("doc_id")).cast("long"))
            .cast("long")
            .alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            (F.col("n_novel").cast("double") / F.col("n_grams")).alias("novelty"),
        )
    )


register("x40_ngram_novelty", f"""
WITH toks AS (
    SELECT doc_id, {_TOKS_LC} AS t FROM documents WHERE len({_TOKS_LC}) >= 8
), grams AS (
    SELECT DISTINCT doc_id,
           md5(array_to_string(t[i:i + 7], ' ')) AS g
    FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 6)) AS i)
), tagged AS (
    SELECT doc_id, MIN(doc_id) OVER (PARTITION BY g) AS owner FROM grams
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN owner = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       SUM(CASE WHEN owner = doc_id THEN 1 ELSE 0 END)::DOUBLE / COUNT(*) AS novelty
FROM tagged
GROUP BY doc_id
""")(_q_ngram_novelty)


# ---------------------------------------------------------------------------
# s08 — deterministic fixed-point k-means (2 Lloyd rounds, 8 seeds)


def _q_kmeans_fixed(spark, sf_dir):
    """Lloyd's k-means over the embedding space, bit-deterministic:
    coordinates fixed-pointed once (floor(v·2^20), s04's discipline),
    every distance and centroid thereafter pure BIGINT — so the
    assignment argmin (tie: lowest cid) and the integer-mean update
    are order-independent and reproduce exactly in any engine. Seeds
    are the 8 lowest vec_ids; two assign→update rounds (the g01/g03
    iterative shape, unrolled — rounds are FIXED, not data-dependent).
    Output: final per-cluster centroid components + member counts.

    Scale: each round is ex⋈broadcast(centroids) (centroid table is
    k·64 rows at ANY corpus size) → one (vec_id,cid) hash-agg → one
    bounded (cid,dim) agg; per-row work is k·64 multiplies. Magnitudes
    are audited: |f| ≤ 2²⁰ ⟹ per-dim diff² ≤ 2⁴², Σ over 64 dims
    ≤ 2⁴⁸ — no overflow at any k or corpus size. This is the missing
    layer between s03's FIXED anchors (IVF cells) and d09's cell
    blocking: learned cells, same join geometry."""
    from pyspark.sql import Window as W

    emb = _emb(spark, sf_dir)
    ex = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "v")
    ).select(
        "vec_id",
        F.col("dim").cast("long").alias("dim"),
        F.floor(F.col("v").cast("double") * F.lit(1048576.0)).cast("long").alias("f"),
    )
    seeds = (
        emb.select("vec_id").orderBy("vec_id").limit(8)
        .select(
            "vec_id",
            (F.row_number().over(W.orderBy("vec_id")) - 1).cast("long").alias("cid"),
        )
    )
    c0 = ex.join(F.broadcast(seeds), "vec_id").select(
        "cid", "dim", F.col("f").alias("c")
    )

    def assign(cent):
        d = F.col("f") - F.col("c")
        w = W.partitionBy("vec_id").orderBy("dist", "cid")
        return (
            ex.join(F.broadcast(cent), "dim")
            .groupBy("vec_id", "cid")
            .agg(F.sum(d * d).alias("dist"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "cid")
        )

    def update(assigned):
        return (
            ex.join(assigned, "vec_id")
            .groupBy("cid", "dim")
            .agg(F.expr("sum(f) div count(1)").alias("c"))
        )

    a2 = assign(update(assign(c0)))
    return (
        ex.join(a2, "vec_id")
        .groupBy("cid", "dim")
        .agg(
            F.expr("sum(f) div count(1)").cast("long").alias("centroid_fixed"),
            F.count(F.lit(1)).cast("long").alias("n_members"),
        )
    )


register("s08_kmeans_fixed", """
WITH ex AS MATERIALIZED (
    SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim,
           CAST(floor(CAST(embedding[i] AS DOUBLE) * 1048576.0) AS BIGINT) AS f
    FROM embeddings,
         LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i)
),
seeds AS (
    SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid
    FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 8)
),
c0 AS MATERIALIZED (
    SELECT s.cid, ex.dim, ex.f AS c FROM ex JOIN seeds s USING (vec_id)
),
d1 AS MATERIALIZED (
    SELECT ex.vec_id, c.cid, SUM((ex.f - c.c) * (ex.f - c.c)) AS dist
    FROM ex JOIN c0 c ON ex.dim = c.dim
    GROUP BY ex.vec_id, c.cid
),
a1 AS MATERIALIZED (
    SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM d1) WHERE rn = 1
),
c1 AS MATERIALIZED (
    SELECT a.cid, ex.dim, SUM(ex.f) // COUNT(*) AS c
    FROM ex JOIN a1 a USING (vec_id) GROUP BY a.cid, ex.dim
),
d2 AS MATERIALIZED (
    SELECT ex.vec_id, c.cid, SUM((ex.f - c.c) * (ex.f - c.c)) AS dist
    FROM ex JOIN c1 c ON ex.dim = c.dim
    GROUP BY ex.vec_id, c.cid
),
a2 AS MATERIALIZED (
    SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM d2) WHERE rn = 1
)
SELECT a.cid, ex.dim,
       CAST(SUM(ex.f) // COUNT(*) AS BIGINT) AS centroid_fixed,
       CAST(COUNT(*) AS BIGINT) AS n_members
FROM ex JOIN a2 a USING (vec_id)
GROUP BY a.cid, ex.dim
""")(_q_kmeans_fixed)


# ---------------------------------------------------------------------------
# pr23 — lag-k autocorrelation sufficient statistics of daily volume


def _q_autocorrelation(spark, sf_dir):
    """Is daily event volume self-similar a week out? Lag-1..7
    autocorrelation closes the time-series audit pr22 opened (pr22:
    seasonal LEVEL per weekday; this: serial DEPENDENCE across days),
    and like pr11/pr21/g06 it ships the exact SUFFICIENT STATISTICS —
    per lag the pair count and the five sums (Σx, Σy, Σxy, Σx², Σy²)
    that determine the Pearson r the caller computes in two float
    ops. The lag fan-out is a 7-literal explode (pure projection, no
    join); pairs come from ONE equi-join of the bounded day table
    against itself on epoch_day + lag; count products follow the r7
    overflow rule (DECIMAL(38,0) digit strings). Days, not events:
    the windowed rowset grows with the calendar, not the corpus."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("epoch_day")
        )
        .groupBy("epoch_day")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    x = daily.select(
        "epoch_day",
        F.col("n").alias("x"),
        F.explode(F.array(*[F.lit(i).cast("long") for i in range(1, 8)])).alias("lag"),
    )
    y = daily.select(
        F.col("epoch_day").alias("y_day"), F.col("n").alias("y")
    )
    d = "decimal(19,0)"
    pairs = x.join(y, F.col("y_day") == F.col("epoch_day") + F.col("lag"))
    return pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("x").cast("long").alias("sum_x"),
        F.sum("y").cast("long").alias("sum_y"),
        F.sum(F.col("x").cast(d) * F.col("y").cast(d))
        .cast("decimal(38,0)").cast("string").alias("sum_xy"),
        F.sum(F.col("x").cast(d) * F.col("x").cast(d))
        .cast("decimal(38,0)").cast("string").alias("sum_x2"),
        F.sum(F.col("y").cast(d) * F.col("y").cast(d))
        .cast("decimal(38,0)").cast("string").alias("sum_y2"),
    )


register("pr23_autocorrelation", """
WITH daily AS MATERIALIZED (
    SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS epoch_day,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1
),
x AS (
    SELECT epoch_day, n AS x, CAST(l.lag AS BIGINT) AS lag
    FROM daily, LATERAL (SELECT unnest(range(1, 8)) AS lag) l
)
SELECT lag,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(x.x) AS BIGINT) AS sum_x,
       CAST(SUM(y.n) AS BIGINT) AS sum_y,
       CAST(CAST(SUM(CAST(x.x AS HUGEINT) * y.n) AS DECIMAL(38,0)) AS VARCHAR) AS sum_xy,
       CAST(CAST(SUM(CAST(x.x AS HUGEINT) * x.x) AS DECIMAL(38,0)) AS VARCHAR) AS sum_x2,
       CAST(CAST(SUM(CAST(y.n AS HUGEINT) * y.n) AS DECIMAL(38,0)) AS VARCHAR) AS sum_y2
FROM x JOIN daily y ON y.epoch_day = x.epoch_day + x.lag
GROUP BY lag
""")(_q_autocorrelation)


# ---------------------------------------------------------------------------
# st10 — streaming count-min sketch == batch sketch (linearity pinned)


def _q_stream_countmin(spark, sf_dir):
    """The corpus arrives as THREE single-file micro-batches (doc_id
    terciles, mtime-pinned order); each batch appends its partial CMS
    grid, and the drained result is the per-cell sum — which must
    equal the one-shot batch sketch EXACTLY, because count-min is a
    linear sketch (cells are sums; merge is addition). This is the
    streaming twin of x25's build: same grid, same oracle fragments,
    but certified through the micro-batch path. Cell coordinates ride
    as (j, bucket); the final merge aggregates ≤ 3·depth·width partial
    rows — O(1) in corpus size."""
    import os
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tabular_to_parquet_spark.streaming.streams import stream_countmin

    docs = _fixture_pdf(
        _docs(spark, sf_dir).select("doc_id", "text").orderBy("doc_id")
    )
    tmp = tempfile.mkdtemp(prefix="st10_cms_")
    in_dir = os.path.join(tmp, "in")
    os.makedirs(in_dir)
    third = max(1, len(docs) // 3)
    waves = (docs.iloc[:third], docs.iloc[third:2 * third], docs.iloc[2 * third:])
    for i, wave in enumerate(waves):
        if wave.empty:
            continue
        path = os.path.join(in_dir, f"w{i}.parquet")
        pq.write_table(pa.Table.from_pandas(wave, preserve_index=False), path)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
    q = stream_countmin(
        spark, in_dir, os.path.join(tmp, "out"), os.path.join(tmp, "ckpt")
    )
    q.awaitTermination()
    return (
        spark.read.parquet(os.path.join(tmp, "out"))
        .groupBy(
            F.col("j").cast("long").alias("j"),
            F.col("bucket").cast("long").alias("bucket"),
        )
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


def _st10_oracle() -> str:
    from tabular_to_parquet_spark.operators import sketches as sk

    frag = sk.cms_sql()
    b_tok_j = frag["bucket"]("token", "j")
    return f"""
WITH counts AS (
    SELECT t AS token, CAST(COUNT(*) AS BIGINT) AS n
    FROM documents, LATERAL (SELECT unnest({_TOKS_LC}) AS t)
    GROUP BY t
), grid AS {frag['js']}
SELECT CAST(j AS BIGINT) AS j,
       CAST({b_tok_j} AS BIGINT) AS bucket,
       CAST(SUM(n) AS BIGINT) AS cnt
FROM counts CROSS JOIN grid GROUP BY 1, 2
"""


register("st10_stream_countmin", _st10_oracle())(_q_stream_countmin)


# ---------------------------------------------------------------------------
# ipc2 — stringly Arrow IPC through the shared inference path


def _q_ipc_string_inference(spark, sf_dir):
    """All-string IPC container → the SAME distributed inference +
    lenient-cast projection as the delimited/JSON/Avro/ORC paths
    (avro2's shape on the new wire format): int64, float64, string,
    and millisecond-timestamp columns are recovered from their text
    forms. One pipeline, many wire formats — the format layer ends at
    the scan."""
    import os
    import tempfile

    import pyarrow as pa
    import pyarrow.ipc as pipc

    from tabular_to_parquet_spark.operators.convert import run_conversion
    from tabular_to_parquet_spark.sources.columnar import (
        columnar_adapter,
    )

    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") < 250000  # bounded fixture; see avro1
    )
    pdf = _fixture_pdf(li.select(
        F.col("l_orderkey").cast("string"),
        F.col("l_quantity").cast("string"),
        F.col("l_returnflag").cast("string"),
        F.date_format("l_shipdate", "yyyy-MM-dd HH:mm:ss.SSS").alias("l_shipdate"),
    ))
    tbl = pa.Table.from_pandas(pdf, preserve_index=False).cast(
        pa.schema([(c, pa.string()) for c in pdf.columns])
    )
    tmp = tempfile.mkdtemp(prefix="ipc2_")
    ipc_dir = os.path.join(tmp, "ipc")
    os.makedirs(ipc_dir)
    # four container files: binaryFile gives one task per file, so the
    # inference counters and the cast projection parallelize instead
    # of funneling through a single-file single task
    n_parts = 4
    step = max(1, (tbl.num_rows + n_parts - 1) // n_parts)
    for i in range(n_parts):
        part = tbl.slice(i * step, step)
        if part.num_rows == 0 and i > 0:
            break
        with pipc.new_file(
            os.path.join(ipc_dir, f"part-{i:04d}.arrow"), tbl.schema,
            options=pipc.IpcWriteOptions(compression="zstd"),
        ) as w:
            w.write_table(part, max_chunksize=8192)
    out = os.path.join(tmp, "lineitem_ipc_str.parquet")
    types = run_conversion(spark, columnar_adapter(spark, ipc_dir, "ipc"), out).types
    assert types is not None, "stringly container must run inference"
    return spark.read.parquet(out)


register("ipc2_string_inference", """
SELECT l_orderkey, l_quantity, l_returnflag,
       date_trunc('milliseconds', l_shipdate)::TIMESTAMP AS l_shipdate
FROM lineitem WHERE l_orderkey < 250000
""")(_q_ipc_string_inference)


# ---------------------------------------------------------------------------
# g07 — per-node local clustering coefficient


def _q_local_clustering(spark, sf_dir):
    """How cliquish is each part's co-purchase neighborhood? g02
    counts triangles GLOBALLY; this attributes them per node and
    reports Watts-Strogatz local clustering 2T/(d(d-1)) — the metric
    separating hub-and-spoke structure (cc→0) from bundle cliques
    (cc→1). Triangles enumerate once on the a<b<c orientation over
    the THRESHOLDED edges (g06/kcore's sparse graph), explode to
    corners, one hash-agg; degree from the symmetric list; exact
    integers plus the one float division (operators/graph.py:
    local_clustering)."""
    from tabular_to_parquet_spark.operators import graph as g

    li = load_table(spark, sf_dir, "lineitem")
    return g.local_clustering(g.copurchase_edges_threshold(li, min_orders=2))


register("g07_local_clustering", """
WITH e0 AS MATERIALIZED (
    SELECT src, dst FROM (
        SELECT a.l_partkey AS src, b.l_partkey AS dst,
               COUNT(DISTINCT a.l_orderkey) AS n
        FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        WHERE a.l_partkey <> b.l_partkey
        GROUP BY 1, 2)
    WHERE n >= 2
),
canon AS MATERIALIZED (SELECT src, dst FROM e0 WHERE src < dst),
tri AS MATERIALIZED (
    SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
    FROM canon e1
    JOIN canon e2 ON e2.src = e1.dst
    JOIN canon e3 ON e3.src = e1.src AND e3.dst = e2.dst
),
corners AS (
    SELECT a AS node FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
),
tcnt AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
         FROM corners GROUP BY node),
deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM e0 GROUP BY src)
SELECT deg.node, deg.deg,
       CAST(COALESCE(t.n_triangles, 0) AS BIGINT) AS n_triangles,
       CASE WHEN deg.deg >= 2
            THEN 2.0 * COALESCE(t.n_triangles, 0) / (deg.deg * (deg.deg - 1))
            ELSE 0.0 END AS local_cc
FROM deg LEFT JOIN tcnt t ON deg.node = t.node
""")(_q_local_clustering)


# ---------------------------------------------------------------------------
# pl34 — rendezvous (HRW) shard assignment + reshard movement audit


def _q_rendezvous_shards(spark, sf_dir):
    """Consistent shard placement for an incrementally growing corpus:
    rendezvous (highest-random-weight) hashing assigns each doc to
    argmax_s h(doc, s). Unlike mod-N (pl06's static sharding), growing
    the shard count k1=8 → k2=12 moves ONLY the docs whose argmax
    lands in a NEW shard — every survivor keeps its shard with no
    remap table, which is what keeps a 100 TB reshard from rewriting
    the whole corpus (expected moved fraction = 1 − k1/k2 = 1/3).
    Weights are the cross-engine md5_i64 with a per-shard seed; the
    argmax is a pure projection over a k2-literal struct array (no
    join, no shuffle, no state); ties (2⁻⁶⁰) break to the higher
    shard id in both engines. `moved ⟺ shard12 ≥ 8` by construction —
    pinned in tests."""
    from tabular_to_parquet_spark.functions.hashing import md5_i64

    did = F.col("doc_id").cast("string")

    def argmax_shard(k):
        arr = F.array(*[
            F.struct(
                md5_i64(did, seed=f"hrw{s}").alias("w"),
                F.lit(s).cast("long").alias("s"),
            )
            for s in range(k)
        ])
        return F.array_max(arr).getField("s")

    return _docs(spark, sf_dir).select(
        "doc_id",
        argmax_shard(8).alias("shard8"),
        argmax_shard(12).alias("shard12"),
        (argmax_shard(8) != argmax_shard(12)).cast("long").alias("moved"),
    )


def _pl34_oracle() -> str:
    from tabular_to_parquet_spark.functions.hashing import md5_i64_sql

    w = md5_i64_sql("CAST(doc_id AS VARCHAR)", seed=None).replace(
        "md5(", "md5('hrw' || s || '#' || ", 1
    )
    return f"""
WITH weights AS (
    SELECT doc_id, s, {w} AS w
    FROM documents, LATERAL (SELECT unnest(range(0, 12)) AS s)
),
ranked8 AS (
    SELECT doc_id, s AS shard8,
           row_number() OVER (PARTITION BY doc_id ORDER BY w DESC, s DESC) AS rn
    FROM weights WHERE s < 8
),
ranked12 AS (
    SELECT doc_id, s AS shard12,
           row_number() OVER (PARTITION BY doc_id ORDER BY w DESC, s DESC) AS rn
    FROM weights
)
SELECT a.doc_id, CAST(a.shard8 AS BIGINT) AS shard8,
       CAST(b.shard12 AS BIGINT) AS shard12,
       CAST(CASE WHEN a.shard8 <> b.shard12 THEN 1 ELSE 0 END AS BIGINT) AS moved
FROM (SELECT doc_id, shard8 FROM ranked8 WHERE rn = 1) a
JOIN (SELECT doc_id, shard12 FROM ranked12 WHERE rn = 1) b USING (doc_id)
"""


register("pl34_rendezvous_shards", _pl34_oracle())(_q_rendezvous_shards)


# ---------------------------------------------------------------------------
# s09 — int8 scalar quantization reconstruction-error audit


def _q_scalar_quantization(spark, sf_dir):
    """What does compressing the embedding store to int8 cost? Per-dim
    min/max over the corpus define the affine code (the standard
    scalar-quantization storage path for ANN indexes — 4×8 = 32 bytes
    per 64-dim vector instead of 256); each component quantizes to
    q = (f−mn)·255 div (mx−mn) and reconstructs to
    r = mn + q·(mx−mn) div 255; the audit reports each vector's exact
    squared reconstruction error and worst component error in the
    2⁻²⁰ fixed-point domain. All arithmetic is non-negative BIGINT
    (f−mn ≤ 2²¹, ×255 < 2³⁰) — bit-identical cross-engine. Plan: one
    64-row per-dim agg broadcast back onto the exploded coordinates,
    one per-vector agg; nothing corpus×corpus."""
    emb = _emb(spark, sf_dir)
    ex = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "v")
    ).select(
        "vec_id",
        F.col("dim").cast("long").alias("dim"),
        F.floor(F.col("v").cast("double") * F.lit(1048576.0)).cast("long").alias("f"),
    )
    stats = ex.groupBy("dim").agg(
        F.min("f").alias("mn"), F.max("f").alias("mx")
    )
    q = F.expr("((f - mn) * 255) div (mx - mn)")
    r = F.col("mn") + F.expr("(q * (mx - mn)) div 255")
    err = F.col("f") - F.col("r")
    return (
        ex.join(F.broadcast(stats), "dim")
        .withColumn("q", F.when(F.col("mx") > F.col("mn"), q).otherwise(F.lit(0)))
        .withColumn("r", F.when(F.col("mx") > F.col("mn"), r).otherwise(F.col("mn")))
        .select("vec_id", err.alias("e"))
        .groupBy("vec_id")
        .agg(
            F.sum(F.col("e") * F.col("e")).cast("long").alias("err_sq_fixed"),
            F.max(F.abs("e")).cast("long").alias("max_abs_err_fixed"),
        )
    )


register("s09_scalar_quantization", """
WITH ex AS MATERIALIZED (
    SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim,
           CAST(floor(CAST(embedding[i] AS DOUBLE) * 1048576.0) AS BIGINT) AS f
    FROM embeddings,
         LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i)
),
stats AS (SELECT dim, MIN(f) AS mn, MAX(f) AS mx FROM ex GROUP BY dim),
coded AS (
    SELECT ex.vec_id, ex.f,
           CASE WHEN s.mx > s.mn
                THEN s.mn + ((((ex.f - s.mn) * 255) // (s.mx - s.mn))
                             * (s.mx - s.mn)) // 255
                ELSE s.mn END AS r
    FROM ex JOIN stats s USING (dim)
)
SELECT vec_id,
       CAST(SUM((f - r) * (f - r)) AS BIGINT) AS err_sq_fixed,
       CAST(MAX(abs(f - r)) AS BIGINT) AS max_abs_err_fixed
FROM coded GROUP BY vec_id
""")(_q_scalar_quantization)


# ---------------------------------------------------------------------------
# pl35 — quality-score calibration against exact-duplicate labels


def _q_quality_dup_calibration(spark, sf_dir):
    """Does the cheap quality score actually separate duplicates? The
    lift table every filter threshold decision reads: docs ranked into
    quality deciles (score = n_chars, the d15 representative-selection
    score; total order (score, doc_id) so the ntile is deterministic),
    labeled by exact-dup membership (normalized-text fp seen ≥2 — the
    d01 group label), one decile agg. dup_rate is the single division.
    Plan: fp label is one hash-agg + count window... no — a group-size
    join on the fp key; the decile is one total-order window; one
    bounded agg. Nothing pairwise."""
    from pyspark.sql import Window as W

    from tabular_to_parquet_spark.operators.text_analysis import normalized_text

    docs = _docs(spark, sf_dir).select(
        "doc_id", "n_chars", F.md5(normalized_text(F.col("text"))).alias("fp")
    )
    sizes = docs.groupBy("fp").agg(F.count(F.lit(1)).alias("fp_n"))
    labeled = docs.join(sizes, "fp").select(
        "doc_id", "n_chars", (F.col("fp_n") >= 2).cast("long").alias("is_dup")
    )
    dec = labeled.withColumn(
        "decile", F.ntile(10).over(W.orderBy("n_chars", "doc_id")).cast("long")
    )
    return dec.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("is_dup").cast("long").alias("n_dups"),
        (F.sum("is_dup").cast("double") / F.count(F.lit(1))).alias("dup_rate"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
    )


register("pl35_quality_dup_calibration", f"""
WITH docs AS (
    SELECT doc_id, n_chars, md5({_NORM}) AS fp FROM documents
),
sizes AS (SELECT fp, COUNT(*) AS fp_n FROM docs GROUP BY fp),
labeled AS (
    SELECT doc_id, n_chars,
           CASE WHEN fp_n >= 2 THEN 1 ELSE 0 END AS is_dup
    FROM docs JOIN sizes USING (fp)
),
dec AS (
    SELECT n_chars, is_dup,
           CAST(ntile(10) OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS decile
    FROM labeled
)
SELECT decile,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(is_dup) AS BIGINT) AS n_dups,
       SUM(is_dup)::DOUBLE / COUNT(*) AS dup_rate,
       CAST(MIN(n_chars) AS BIGINT) AS min_chars,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars
FROM dec GROUP BY decile
""")(_q_quality_dup_calibration)


# ---------------------------------------------------------------------------
# a38 — rising-volume streaks (gaps-and-islands)


def _q_rising_streaks(spark, sf_dir):
    """Longest run of strictly rising daily volume per event type —
    the gaps-and-islands shape (sessionize cuts on TIME gaps; this
    cuts on a VALUE predicate breaking). A day is 'rising' when its
    count exceeds the previous CALENDAR day's (lag over the dense day
    sequence — a missing previous day breaks the streak); consecutive
    rising days group into islands via the classic epoch_day −
    row_number() constant; per type the report is the longest island,
    its start day (earliest on ties), and the total rising-day count.
    One exchange on event_type serves every window; the day table is
    calendar-sized, never corpus-sized."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("epoch_day"),
        )
        .groupBy("event_type", "epoch_day")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    w = W.partitionBy("event_type").orderBy("epoch_day")
    rising = daily.select(
        "event_type",
        "epoch_day",
        (
            (F.lag("n").over(w).isNotNull())
            & (F.lag("epoch_day").over(w) == F.col("epoch_day") - 1)
            & (F.col("n") > F.lag("n").over(w))
        ).alias("is_rising"),
    ).filter(F.col("is_rising"))
    islands = rising.select(
        "event_type",
        "epoch_day",
        (F.col("epoch_day") - F.row_number().over(w)).alias("island"),
    )
    runs = islands.groupBy("event_type", "island").agg(
        F.count(F.lit(1)).cast("long").alias("len"),
        F.min("epoch_day").cast("long").alias("start_day"),
    )
    w2 = W.partitionBy("event_type").orderBy(
        F.col("len").desc(), F.col("start_day")
    )
    best = runs.withColumn("rn", F.row_number().over(w2)).filter(F.col("rn") == 1)
    totals = rising.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_rising_days")
    )
    return best.join(totals, "event_type").select(
        "event_type",
        F.col("len").alias("longest_streak"),
        "start_day",
        "n_rising_days",
    )


register("a38_rising_streaks", """
WITH daily AS (
    SELECT event_type,
           CAST(floor(epoch(ts) / 86400) AS BIGINT) AS epoch_day,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
),
flags AS (
    SELECT event_type, epoch_day,
           (lag(n) OVER w IS NOT NULL
            AND lag(epoch_day) OVER w = epoch_day - 1
            AND n > lag(n) OVER w) AS is_rising
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY epoch_day)
),
rising AS (SELECT event_type, epoch_day FROM flags WHERE is_rising),
islands AS (
    SELECT event_type, epoch_day,
           epoch_day - row_number() OVER (PARTITION BY event_type
                                          ORDER BY epoch_day) AS island
    FROM rising
),
runs AS (
    SELECT event_type, island, CAST(COUNT(*) AS BIGINT) AS len,
           CAST(MIN(epoch_day) AS BIGINT) AS start_day
    FROM islands GROUP BY event_type, island
),
best AS (
    SELECT event_type, len, start_day,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY len DESC, start_day) AS rn
    FROM runs
),
totals AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rising_days
    FROM rising GROUP BY event_type
)
SELECT b.event_type, b.len AS longest_streak, b.start_day, t.n_rising_days
FROM best b JOIN totals t USING (event_type)
WHERE b.rn = 1
""")(_q_rising_streaks)


def _q_quality_dup_calibration_scale(spark, sf_dir):
    """The 100 TB path for pl35: the global ntile window (all docs in
    one partition) replaced by ``ordering.with_global_position`` over
    (n_chars, doc_id) — per-block row_number + a bounded one-row-per-
    block offset cumsum — and the arithmetic ``ntile_expr`` (the a16
    scale-twin recipe). Block = n_chars div 64: monotone in the sort
    key, bounded by the LENGTH RANGE, not the corpus. Registered
    against the SAME oracle as pl35 — the twin's claim IS exact
    equality with the window form."""
    from tabular_to_parquet_spark.operators.ordering import (
        ntile_expr,
        with_global_position,
    )
    from tabular_to_parquet_spark.operators.text_analysis import normalized_text

    docs = _docs(spark, sf_dir).select(
        "doc_id", "n_chars", F.md5(normalized_text(F.col("text"))).alias("fp")
    )
    sizes = docs.groupBy("fp").agg(F.count(F.lit(1)).alias("fp_n"))
    labeled = docs.join(sizes, "fp").select(
        "doc_id", "n_chars", (F.col("fp_n") >= 2).cast("long").alias("is_dup")
    )
    pos = with_global_position(
        labeled,
        [F.col("n_chars").asc(), F.col("doc_id").asc()],
        (F.col("n_chars") / F.lit(64)).cast("long"),
    )
    total = pos.agg(F.count(F.lit(1)).cast("long").alias("_total"))
    dec = pos.crossJoin(F.broadcast(total)).select(
        "n_chars",
        "is_dup",
        ntile_expr(F.col("pos"), F.col("_total"), 10).alias("decile"),
    )
    return dec.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("is_dup").cast("long").alias("n_dups"),
        (F.sum("is_dup").cast("double") / F.count(F.lit(1))).alias("dup_rate"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
    )


register(
    "pl35_quality_dup_calibration_scale",
    CATALOG["pl35_quality_dup_calibration"].oracle,
)(_q_quality_dup_calibration_scale)


# ---------------------------------------------------------------------------
# x41 — code-switch mixture profile (token-level language evidence)


def _q_code_switch_mixture(spark, sf_dir):
    """x04 reports the per-doc argmax language and discards the vote
    counts; multilingual corpora need the MIXTURE — the full stopword
    hit vector per document — to find code-switched docs (real
    bilingual text, boilerplate chrome in a second language) that a
    single label hides. Per doc: token total, per-language stopword
    hits (the x04 evidence, all four languages), and how many
    languages got ≥1 hit. Pure projection over the token array —
    zero shuffle, pipelines inside the scan like x01/x39."""
    text_lc = F.lower(F.col("text"))
    toks = ta.tokens(text_lc)
    hit = {
        lang: ta.lang_hits(text_lc, lang).cast("long") for lang in ta.LANG_ORDER
    }
    n_hit = sum(
        (F.when(hit[lang] > 0, 1).otherwise(0) for lang in ta.LANG_ORDER),
        F.lit(0),
    )
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        hit["en"].alias("hits_en"),
        hit["fr"].alias("hits_fr"),
        hit["de"].alias("hits_de"),
        hit["es"].alias("hits_es"),
        n_hit.cast("long").alias("n_langs_hit"),
    )


def _x41_oracle() -> str:
    def hits(lang: str) -> str:
        words = ", ".join(f"'{w}'" for w in ta.STOPWORDS[lang])
        return (
            f"len(list_filter({_TOKS_LC}, x -> list_contains([{words}], x)))"
        )

    h = {lang: hits(lang) for lang in ta.LANG_ORDER}
    n_hit = " + ".join(
        f"(CASE WHEN {h[lang]} > 0 THEN 1 ELSE 0 END)" for lang in ta.LANG_ORDER
    )
    return f"""
SELECT doc_id,
       CAST(len({_TOKS_LC}) AS BIGINT) AS n_tokens,
       CAST({h['en']} AS BIGINT) AS hits_en,
       CAST({h['fr']} AS BIGINT) AS hits_fr,
       CAST({h['de']} AS BIGINT) AS hits_de,
       CAST({h['es']} AS BIGINT) AS hits_es,
       CAST({n_hit} AS BIGINT) AS n_langs_hit
FROM documents
"""


register("x41_code_switch_mixture", _x41_oracle())(_q_code_switch_mixture)


# ---------------------------------------------------------------------------
# a39 — top session paths (user-journey mining)


def _q_session_paths(spark, sf_dir):
    """The product-analytics 'top user journeys' query: sessions cut
    at ev03's 240-minute gap, each session reduced to its first three
    event types joined 'a>b>c' (shorter sessions keep their shorter
    path — concat_ws drops the missing steps identically in both
    engines), then the global top-20 paths by session count with
    per-path distinct users. One user-keyed exchange serves the gap
    tagging and the per-session head; the path agg is
    vocabulary-sized (|types|³ ≤ bounded), never event-sized."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = 240 * 60 * 1_000_000
    tagged = ev.select(
        "user_id", "ts", "event_id", "event_type",
        F.when(
            F.lag(F.unix_micros("ts")).over(w).isNull()
            | (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w) > gap_us),
            1,
        ).otherwise(0).alias("new_s"),
    ).withColumn(
        "session_no",
        F.sum("new_s").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    ws = W.partitionBy("user_id", "session_no").orderBy("ts", "event_id")
    heads = (
        tagged.withColumn("rn", F.row_number().over(ws))
        .filter(F.col("rn") <= 3)
        .groupBy("user_id", "session_no")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("event_type"))).alias("e1"),
            F.max(F.when(F.col("rn") == 2, F.col("event_type"))).alias("e2"),
            F.max(F.when(F.col("rn") == 3, F.col("event_type"))).alias("e3"),
        )
        .select(
            "user_id",
            F.concat_ws(">", "e1", "e2", "e3").alias("path"),
        )
    )
    return (
        heads.groupBy("path")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(20)
    )


register("a39_session_paths", """
WITH tagged AS (
    SELECT user_id, ts, event_id, event_type,
           CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                  OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 14400000000
                THEN 1 ELSE 0 END AS new_s
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
    SELECT user_id, ts, event_id, event_type,
           SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_no
    FROM tagged
),
ranked AS (
    SELECT user_id, session_no, event_type,
           row_number() OVER (PARTITION BY user_id, session_no
                              ORDER BY ts, event_id) AS rn
    FROM sess
),
heads AS (
    SELECT user_id,
           concat_ws('>',
               MAX(CASE WHEN rn = 1 THEN event_type END),
               MAX(CASE WHEN rn = 2 THEN event_type END),
               MAX(CASE WHEN rn = 3 THEN event_type END)) AS path
    FROM ranked WHERE rn <= 3
    GROUP BY user_id, session_no
),
agg AS (
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM heads GROUP BY path
)
SELECT path, n_sessions, n_users FROM agg
ORDER BY n_sessions DESC, path LIMIT 20
""")(_q_session_paths)


# ---------------------------------------------------------------------------
# ipc3 — Arrow IPC writer → reader roundtrip


def _q_ipc_writer_roundtrip(spark, sf_dir):
    """``columnar.write_ipc`` → ``read_ipc_python``: the export sink
    writes one zstd Feather-v2 container per partition executor-side
    from the partition's own Arrow batches (mapInArrow — no
    row-at-a-time work, no driver collect, _SUCCESS manifest), and the
    ipc1 reader re-yields them. Completes the format surface: read
    (ipc1), inference (ipc2), write (here). Oracle identical to the
    source rows — the write path is value-lossless, timestamps
    included."""
    import os
    import tempfile

    from tabular_to_parquet_spark.sources.columnar import (
        read_ipc_python,
        write_ipc,
    )

    src = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag",
        "l_shipdate"
    )
    out = os.path.join(tempfile.mkdtemp(prefix="ipc3_"), "ipc")
    manifest = write_ipc(src.repartition(4), out)
    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    assert sum(rows for _n, rows in manifest) == src.count()
    return read_ipc_python(spark, out)


register("ipc3_writer_roundtrip", """
SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_shipdate
FROM lineitem
""")(_q_ipc_writer_roundtrip)


# ---------------------------------------------------------------------------
# s10 — embedding gram matrix (covariance sufficient statistics)


def _q_gram_matrix(spark, sf_dir):
    """The linear-algebra layer under PCA whitening / dim reduction
    before an IVF index: the 64×64 gram matrix Σ f_i·f_j over the
    corpus, as EXACT sufficient statistics — per upper-triangle (i,j):
    the pair count, Σf_i, Σf_j (the mean terms), and Σf_i·f_j as a
    DECIMAL(38,0) digit string (f ≤ 2²⁰ ⟹ products ≤ 2⁴⁰; corpus
    sums cross 2⁶³ exactly in the regime the r7 overflow rule
    covers). The caller assembles covariance = (n·Σxy − Σx·Σy)/n² in
    two float ops per cell. Plan: the exploded coordinates self-join
    on vec_id (per-vector fan-out is the FIXED 64·65/2 = 2080 upper
    triangle — linear in the corpus, never corpus×corpus), one
    (i,j)-keyed agg with map-side combine. The 100 TB refinement is a
    per-partition numpy gram via mapInArrow merged by cell — same
    output, one pass, no explode; this form stays the catalog entry
    as the oracle transcription."""
    emb = _emb(spark, sf_dir)
    ex = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "v")
    ).select(
        "vec_id",
        F.col("dim").cast("long").alias("dim"),
        F.floor(F.col("v").cast("double") * F.lit(1048576.0)).cast("long").alias("f"),
    )
    a = ex.select("vec_id", F.col("dim").alias("i"), F.col("f").alias("fi"))
    b = ex.select("vec_id", F.col("dim").alias("j"), F.col("f").alias("fj"))
    d = "decimal(19,0)"
    return (
        a.join(b, "vec_id")
        .where(F.col("i") <= F.col("j"))
        .groupBy("i", "j")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("fi").cast("long").alias("sum_fi"),
            F.sum("fj").cast("long").alias("sum_fj"),
            F.sum(F.col("fi").cast(d) * F.col("fj").cast(d))
            .cast("decimal(38,0)").cast("string").alias("sum_prod"),
        )
    )


register("s10_gram_matrix", """
WITH ex AS MATERIALIZED (
    SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim,
           CAST(floor(CAST(embedding[i] AS DOUBLE) * 1048576.0) AS BIGINT) AS f
    FROM embeddings,
         LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i)
)
SELECT a.dim AS i, b.dim AS j,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(a.f) AS BIGINT) AS sum_fi,
       CAST(SUM(b.f) AS BIGINT) AS sum_fj,
       CAST(CAST(SUM(CAST(a.f AS HUGEINT) * b.f) AS DECIMAL(38,0)) AS VARCHAR)
           AS sum_prod
FROM ex a JOIN ex b ON a.vec_id = b.vec_id
WHERE a.dim <= b.dim
GROUP BY a.dim, b.dim
""")(_q_gram_matrix)


def _q_gram_matrix_fast(spark, sf_dir):
    """The 100 TB path for s10: per-partition numpy matmul partials
    over fixed-point coordinates (mapInArrow — the corpus crosses the
    wire once as vectors, not 64× as exploded rows), int64 per batch
    → python-int accumulation → decimal-string partials → one bounded
    DECIMAL(38,0) merge. Registered against the SAME oracle as s10 —
    the twin's claim IS exact equality with the explode form."""
    return similarity.gram_matrix_fast(_emb(spark, sf_dir))


register("s10_gram_matrix_fast", CATALOG["s10_gram_matrix"].oracle)(
    _q_gram_matrix_fast
)


def _q_nearest_centroid_fast(spark, sf_dir):
    """The 100 TB path for s05: the bounded exact-integer centroid
    table closes over a numpy mapInArrow classifier (identical IEEE
    fixed-point terms, int64 distance sums, first-minimum tie rule =
    lowest centroid label) — the corpus crosses once as vectors, not
    64× as exploded join rows. Same oracle as s05; the twin's claim
    IS exact equality with the expression form."""
    return similarity.nearest_centroid_confusion_fast(_emb(spark, sf_dir))


register(
    "s05_nearest_centroid_confusion_fast",
    CATALOG["s05_nearest_centroid_confusion"].oracle,
)(_q_nearest_centroid_fast)


def _q_kmeans_fixed_fast(spark, sf_dir):
    """The 100 TB path for s08: each Lloyd round is one mapInArrow
    matmul sweep (exact int64 distance decomposition, first-min tie =
    lowest cid) + a bounded k·64 DECIMAL merge, with the 512-row
    centroid table collected between rounds — the corpus crosses once
    per round as vectors instead of 64× as exploded join rows. Same
    oracle as s08; the twin's claim IS exact equality."""
    return similarity.kmeans_fixed_fast(_emb(spark, sf_dir))


register("s08_kmeans_fixed_fast", CATALOG["s08_kmeans_fixed"].oracle)(
    _q_kmeans_fixed_fast
)


# ---------------------------------------------------------------------------
# pl36 — largest-remainder budget apportionment (r10): the data-mixing
# allocation step pl19's thresholded sampling doesn't cover — decide,
# to the row, how many of a FIXED budget of samples each domain
# contributes (√-temperature weights, Hamilton rounding, Σ == budget
# exactly). Reference has nothing comparable; this is LLM-pipeline
# surface (SURVEY.md §6 class).


def _q_epoch_apportionment(spark, sf_dir):
    """pipeline.largest_remainder_allocation over documents.source:
    one count shuffle, then pure integer div/mod + a total-order rank
    on the bounded domain table. The unpartitioned windows are over
    ≤ |domains| rows — never the corpus."""
    from tabular_to_parquet_spark.operators import pipeline as _pl

    docs = load_table(spark, sf_dir, "documents")
    return _pl.largest_remainder_allocation(docs, "source", slots=100_000)


register("pl36_epoch_apportionment", """
WITH stats AS (
    SELECT source AS domain, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM documents GROUP BY source
),
w AS (
    SELECT domain, n_docs,
           CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1024.0) AS BIGINT)
               AS weight
    FROM stats
),
tot AS (SELECT CAST(SUM(weight) AS BIGINT) AS wsum FROM w),
quota AS (
    SELECT domain, n_docs, weight,
           (100000 * weight) // wsum AS base,
           (100000 * weight) % wsum AS rem
    FROM w CROSS JOIN tot
),
d AS (SELECT CAST(100000 - SUM(base) AS BIGINT) AS deficit FROM quota),
ranked AS (
    SELECT domain, n_docs, weight, base, rem,
           ROW_NUMBER() OVER (ORDER BY rem DESC, domain) AS rn
    FROM quota
)
SELECT domain, n_docs, weight,
       CAST(base + (CASE WHEN rn <= (SELECT deficit FROM d)
                    THEN 1 ELSE 0 END) AS BIGINT) AS alloc
FROM ranked
""")(_q_epoch_apportionment)


# ---------------------------------------------------------------------------
# pr24 — token-mass concentration (Lorenz/rank Gini sufficient stats,
# r10): x24's Gini IMPURITY measures categorical diversity; this is
# the other Gini — the Lorenz-curve inequality coefficient over a
# per-source size distribution, the power-law audit ("how much of the
# corpus mass sits in the largest documents") a data-governance pass
# runs before fixing mixture weights. Like g06/pr11 it emits RATIO-OF-
# SUMS sufficient statistics and leaves the two float ops to the
# caller: G = (2·rank_mass − (n+1)·Σx) / (n·Σx) over x sorted asc.


def _q_token_concentration(spark, sf_dir):
    """Per-source rank-weighted mass Σ rank·n_chars with rank from a
    per-source (n_chars, doc_id) sort. Tie positions among equal
    n_chars values contribute rank·x invariantly (equal x ⟹ the sum
    over the tie block is x·Σranks regardless of permutation), so the
    statistic is total-order-stable. rank·x products follow the r7
    overflow rule: DECIMAL(19,0) per row, DECIMAL(38,0) digit-string
    sum. One per-source sort (range-partitioned at scale), one
    grouped agg — the same shuffle key, no extra exchange."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy("n_chars", "doc_id")
    d = "decimal(19,0)"
    ranked = docs.select("source", "n_chars", "doc_id").withColumn(
        "rn", F.row_number().over(w)
    )
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.sum(F.col("rn").cast(d) * F.col("n_chars").cast(d))
        .cast("decimal(38,0)")
        .cast("string")
        .alias("rank_mass"),
    )


register("pr24_token_concentration", """
WITH ranked AS (
    SELECT source, n_chars,
           ROW_NUMBER() OVER (PARTITION BY source
                              ORDER BY n_chars, doc_id) AS rn
    FROM documents
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(CAST(SUM(CAST(rn AS HUGEINT) * n_chars) AS DECIMAL(38,0))
            AS VARCHAR) AS rank_mass
FROM ranked GROUP BY source
""")(_q_token_concentration)
