"""Parity catalog for the corpus-preparation operators
(operators/pipeline.py): deterministic split / mixture / stratified
sampling, PII redaction, sequence packing, shard assignment.

Every oracle re-derives the operator's decision rule from scratch in
DuckDB SQL — same md5-bucket arithmetic, same window frames, same
regex chain — so a value-hash match proves the semantics, not just
the plumbing. Counts/sums are CAST to BIGINT on both sides (DuckDB
SUM yields HUGEINT); ranks are cast to BIGINT.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tabular_to_parquet_spark.functions.hashing import md5_i64
from tabular_to_parquet_spark.operators import pipeline as pl
from tabular_to_parquet_spark.operators import text_analysis as ta
from tabular_to_parquet_spark.parity.catalog import register
from tabular_to_parquet_spark.parity.extensions import (
    _NORM,
    _PUNCT_RE,
    _TOKS,
    _shingles,
)
from tabular_to_parquet_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# pl01 — hash split

_SPLIT_WEIGHTS = {"train": 0.9, "val": 0.05, "test": 0.05}


@register(
    "pl01_hash_split_stats",
    f"""
SELECT {pl.hash_split_case_sql('doc_id', _SPLIT_WEIGHTS)} AS split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM documents GROUP BY 1
""",
)
def _q_hash_split(spark, sf_dir):
    """Deterministic train/val/test split: a pure projection on
    md5(doc_id) — no shuffle until the (tiny, 3-group) verification
    agg. No reference counterpart; extension surface."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        pl.hash_split(docs, "doc_id", _SPLIT_WEIGHTS)
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum("doc_id").alias("id_checksum"),
        )
    )


# ---------------------------------------------------------------------------
# pl02 — mixture sampling

_MIX_RATES = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.1}
_MIX_DEFAULT = 0.05


@register(
    "pl02_mixture_sample",
    f"""
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM documents
WHERE {pl._bucket_sql('doc_id', 'mix')} <
      {pl.mixture_threshold_sql('source', _MIX_RATES, _MIX_DEFAULT)}
GROUP BY source
""",
)
def _q_mixture(spark, sf_dir):
    """Per-source sampling rates (the training-data mixture), no
    rand(): keep iff md5-bucket(doc_id) clears the source's
    threshold. Projection + filter — zero shuffles at corpus scale."""
    docs = load_table(spark, sf_dir, "documents")
    kept = pl.mixture_sample(
        docs, "source", _MIX_RATES, "doc_id", default_rate=_MIX_DEFAULT
    )
    return kept.groupBy("source").agg(
        F.count("*").alias("n_kept"), F.sum("doc_id").alias("id_checksum")
    )


# ---------------------------------------------------------------------------
# pl03 — stratified sampling

_STRAT_K = 7


@register(
    "pl03_stratified_sample",
    f"""
SELECT lang, doc_id, CAST(sample_rank AS BIGINT) AS sample_rank
FROM (SELECT lang, doc_id,
             row_number() OVER (
                 PARTITION BY lang
                 ORDER BY {pl.md5_i64_sql('doc_id::VARCHAR', 'strat')} ASC,
                          doc_id ASC) AS sample_rank
      FROM documents)
WHERE sample_rank <= {_STRAT_K}
""",
)
def _q_stratified(spark, sf_dir):
    """Exactly-k-per-language sample via seeded-hash ranking. The
    window is partitioned by the stratum (one shuffle on lang, no
    global sort — cf. the x09 single-reducer lesson)."""
    docs = load_table(spark, sf_dir, "documents")
    out = pl.stratified_sample(docs, "lang", _STRAT_K, "doc_id")
    return out.select(
        "lang", "doc_id", F.col("sample_rank").cast("long").alias("sample_rank")
    )


# ---------------------------------------------------------------------------
# pl04 — PII redaction

# inject synthetic PII deterministically from doc_id so the gate
# actually exercises every pattern (the corpus itself is clean word
# soup); both engines build the identical raw string, then redact.
_RAW_SQL = (
    "concat_ws(' ', "
    "'u' || doc_id::VARCHAR || '@ex-' || lang || '.org', "
    "'tel 415-555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0'), "
    "'ssn 123-45-6789', "
    "'ip 10.0.' || (doc_id % 256)::VARCHAR || '.7', "
    "substr(text, 1, 40))"
)


@register(
    "pl04_redact_pii",
    f"""
SELECT doc_id,
       {pl.redact_pii_sql(_RAW_SQL)} AS redacted
FROM documents WHERE doc_id % 3 = 0
""",
)
def _q_redact(spark, sf_dir):
    """Email/SSN/phone/IPv4 masking — a codegen'd regexp_replace
    chain (patterns in the Java-regex ∩ RE2 subset; PII_PATTERNS is
    the shared source of truth). Byte-identical output proves the
    regex semantics agree across engines."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 3 == 0)
    raw = F.concat_ws(
        " ",
        F.concat(
            F.lit("u"),
            F.col("doc_id").cast("string"),
            F.lit("@ex-"),
            F.col("lang"),
            F.lit(".org"),
        ),
        F.concat(
            F.lit("tel 415-555-"),
            F.lpad(F.pmod(F.col("doc_id"), F.lit(10000)).cast("string"), 4, "0"),
        ),
        F.lit("ssn 123-45-6789"),
        F.concat(
            F.lit("ip 10.0."),
            F.pmod(F.col("doc_id"), F.lit(256)).cast("string"),
            F.lit(".7"),
        ),
        F.substring(F.col("text"), 1, 40),
    )
    staged = docs.select("doc_id", raw.alias("raw"))
    return pl.redact_pii(staged, "raw", out_col="redacted").select(
        "doc_id", "redacted"
    )


# ---------------------------------------------------------------------------
# pl05 — sequence packing

_PACK_BUDGET = 2048
_PACK_SHARDS = 8


@register(
    "pl05_pack_stats",
    f"""
WITH t AS (
    SELECT doc_id, doc_id % {_PACK_SHARDS} AS shard,
           CAST(len({_TOKS}) AS BIGINT) AS tok
    FROM documents),
c AS (
    SELECT *, SUM(tok) OVER (PARTITION BY shard ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) - tok AS pack_start
    FROM t)
SELECT CAST(shard * 4294967296 + pack_start // {_PACK_BUDGET} AS BIGINT)
           AS pack_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(tok) AS BIGINT) AS sum_tokens,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc
FROM c GROUP BY 1
""",
)
def _q_pack(spark, sf_dir):
    """Concat-then-chunk packing at a 2048-token budget, 8 shards:
    the per-shard running token offset is one PARTITIONED window sum
    (never a global window), pack id = shard ⊕ chunk index. The agg
    verifies pack membership, sizes, and ordering in one pass."""
    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id",
        F.pmod(F.col("doc_id"), F.lit(_PACK_SHARDS)).cast("int").alias("shard"),
        ta.token_count(F.col("text")).cast("long").alias("tok"),
    )
    packed = pl.pack_sequences(
        staged, "tok", _PACK_BUDGET, order_col="doc_id", shard_col="shard"
    )
    return packed.groupBy("pack_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("tok").alias("sum_tokens"),
        F.min("doc_id").alias("first_doc"),
    )


# ---------------------------------------------------------------------------
# pl06 — shard assignment

_N_SHARDS = 16


@register(
    "pl06_shard_checksum",
    f"""
SELECT CAST({pl.shard_sql('doc_id', _N_SHARDS)} AS INTEGER) AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM({pl.md5_i64_sql('text')} % 1000003) AS BIGINT) AS content_checksum
FROM documents GROUP BY 1
""",
)
def _q_shard(spark, sf_dir):
    """Deterministic 16-way training-shard assignment (projection
    only; the physical write co-partitions via partitionBy). The
    per-shard content checksum (md5 mod a prime, summed) proves the
    exact row→shard mapping, not just the shard sizes."""
    docs = load_table(spark, sf_dir, "documents")
    sharded = pl.shard_assign(docs, "doc_id", _N_SHARDS)
    return sharded.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.pmod(md5_i64(F.col("text")), F.lit(1000003))).alias(
            "content_checksum"
        ),
    )


# ---------------------------------------------------------------------------
# pl07 — incremental dedup against an existing corpus


@register(
    "pl07_dedup_against",
    f"""
WITH fp AS (SELECT doc_id, n_chars, md5({_NORM}) AS fp FROM documents),
batch AS (SELECT * FROM fp WHERE doc_id % 5 = 0),
keepers AS (SELECT fp, MIN(doc_id) AS doc_id FROM batch GROUP BY fp),
corp AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 5 <> 0)
SELECT k.doc_id
FROM keepers k LEFT JOIN corp c ON k.fp = c.fp
WHERE c.fp IS NULL
""",
)
def _q_dedup_against(spark, sf_dir):
    """Corpus refresh: the batch (doc_id % 5 = 0) dedups in-batch,
    then anti-joins the existing corpus's DISTINCT fingerprint set —
    the shuffle carries one md5 per distinct corpus document, never
    the text."""
    docs = load_table(spark, sf_dir, "documents")
    batch = docs.where(F.col("doc_id") % 5 == 0)
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    return pl.dedup_against(batch, corpus).select("doc_id")


# ---------------------------------------------------------------------------
# pl09 — dedup_against probing a bucketed fingerprint index

_PL09_IDX = "pl09_fp_idx"


@register(
    "pl09_dedup_against_bucketed",
    f"""
WITH fp AS (SELECT doc_id, md5({_NORM}) AS fp FROM documents),
batch AS (SELECT * FROM fp WHERE doc_id % 5 = 0),
keepers AS (SELECT fp, MIN(doc_id) AS doc_id FROM batch GROUP BY fp),
corp AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 5 <> 0)
SELECT k.doc_id
FROM keepers k LEFT JOIN corp c ON k.fp = c.fp
WHERE c.fp IS NULL
""",
)
def _q_dedup_against_bucketed(spark, sf_dir):
    """pl07 with the corpus fingerprint set MATERIALIZED as a table
    bucketed by fp (built here, probed immediately): identical rows to
    pl07, but the probe join reads the corpus side with NO Exchange —
    the plan shape a nightly 100 TB refresh wants. Plan-asserted in
    test_pipeline.py; this row proves the values."""
    docs = load_table(spark, sf_dir, "documents")
    batch = docs.where(F.col("doc_id") % 5 == 0)
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    pl.build_fingerprint_index(corpus, _PL09_IDX)
    return pl.dedup_against_bucketed(spark, batch, _PL09_IDX).select("doc_id")


# ---------------------------------------------------------------------------
# pl10 — near-dup incremental refresh (banded minhash vs corpus index)

_PL10_IDX = "pl10_band_idx"
_PL10_THRESHOLD = 0.5


def _pl10_sql() -> str:
    from tabular_to_parquet_spark.parity.extensions import (
        _MH_EST,
        _mh_banded_cte,
        _mh_sigs_cte,
    )

    return f"""
WITH fp AS (SELECT doc_id, md5({_NORM}) AS fp FROM documents),
keepers AS (SELECT fp, MIN(doc_id) AS doc_id FROM fp
            WHERE doc_id % 5 = 0 GROUP BY fp),
batchdocs AS (SELECT d.doc_id, d.text FROM documents d
              JOIN keepers k ON d.doc_id = k.doc_id),
corpdocs AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
{_mh_sigs_cte("batchdocs", "sigs_b")},
{_mh_sigs_cte("corpdocs", "sigs_c")},
{_mh_banded_cte("sigs_b", "banded_b")},
{_mh_banded_cte("sigs_c", "banded_c")},
matched AS (SELECT DISTINCT a.doc_id
            FROM banded_b a JOIN banded_c b
              ON a.band = b.band AND a.band_key = b.band_key
            WHERE {_MH_EST} >= {_PL10_THRESHOLD})
SELECT k.doc_id FROM keepers k LEFT JOIN matched m ON k.doc_id = m.doc_id
WHERE m.doc_id IS NULL
"""


@register("pl10_dedup_near_against", _pl10_sql())
def _q_dedup_near_against(spark, sf_dir):
    """Near-dup corpus refresh: the batch (doc_id % 5 = 0) exact-dedups
    in-batch, then drops rows whose banded-MinHash est-Jaccard against
    the EXISTING corpus clears the threshold. The corpus side is the
    persisted band index (bucketed by band_key — no corpus Exchange on
    the probe join); candidates come from the band equi-join, never an
    all-pairs product."""
    docs = load_table(spark, sf_dir, "documents")
    batch = docs.where(F.col("doc_id") % 5 == 0)
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    pl.build_minhash_band_index(corpus, _PL10_IDX)
    out = pl.dedup_near_against(
        batch, spark.table(_PL10_IDX), threshold=_PL10_THRESHOLD
    )
    return out.select("doc_id")


# ---------------------------------------------------------------------------
# pl11 — benchmark decontamination

#: 4-word grams: the decontamination literature uses 8–13-gram overlap
#: on web text; this synthetic corpus has short small-vocab docs, so 4
#: is the n where the sf0.01 gate carries a non-trivial row set.
_DECON_N = 4
_DECON_EVAL = "doc_id % 97 = 0"


@register(
    "pl11_decontamination_hits",
    f"""
WITH h AS (SELECT doc_id, {pl.md5_i64_sql('g')} AS gh
           FROM (SELECT doc_id, unnest({_shingles(_TOKS, _DECON_N)}) AS g
                 FROM documents)),
ev AS (SELECT DISTINCT gh FROM h WHERE {_DECON_EVAL})
SELECT h.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
FROM h JOIN ev USING (gh)
WHERE NOT ({_DECON_EVAL.replace('doc_id', 'h.doc_id')})
GROUP BY 1
""",
)
def _q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (GPT-3 appx. C): flag training docs
    sharing any word 4-gram with the eval slice (doc_id % 97 = 0).
    The distinct eval-gram set is BROADCAST (eval benchmarks are tiny
    relative to the corpus), so the corpus side never shuffles — grams
    travel as 60-bit md5 ints probed against the in-memory set; the
    only exchange is the per-doc hit count."""
    docs = load_table(spark, sf_dir, "documents")
    eval_df = docs.where(F.expr(_DECON_EVAL))
    corpus = docs.where(~F.expr(_DECON_EVAL))
    hits = pl.decontamination_hits(corpus, eval_df, n=_DECON_N)
    return hits.select("doc_id", F.col("n_hits").cast("long").alias("n_hits"))


# ---------------------------------------------------------------------------
# pl12 — RAG chunking

_CHUNK_T = 32
_CHUNK_O = 8
_CHUNK_S = _CHUNK_T - _CHUNK_O


@register(
    "pl12_chunk_documents",
    f"""
WITH s AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
n AS (SELECT doc_id, toks, len(toks) AS n FROM s WHERE len(toks) > 0),
c AS (SELECT doc_id, toks,
             1 + (greatest(0, n - {_CHUNK_T}) + {_CHUNK_S - 1}) // {_CHUNK_S}
                 AS n_chunks
      FROM n),
e AS (SELECT doc_id, toks, unnest(range(0, n_chunks)) AS chunk_idx FROM c)
SELECT doc_id,
       CAST(chunk_idx AS BIGINT) AS chunk_idx,
       array_to_string(list_slice(toks, chunk_idx * {_CHUNK_S} + 1,
                                  chunk_idx * {_CHUNK_S} + {_CHUNK_T}), ' ')
           AS chunk_text,
       CAST(len(list_slice(toks, chunk_idx * {_CHUNK_S} + 1,
                           chunk_idx * {_CHUNK_S} + {_CHUNK_T})) AS BIGINT)
           AS n_chunk_tokens
FROM e
""",
)
def _q_chunk(spark, sf_dir):
    """RAG chunking: overlapping 32-token windows, stride 24. A linear
    projection + explode (zero shuffles); every token covered, last
    chunk may be short. The oracle re-derives the window arithmetic
    with DuckDB list functions."""
    docs = load_table(spark, sf_dir, "documents")
    return pl.chunk_documents(
        docs, chunk_tokens=_CHUNK_T, overlap=_CHUNK_O
    )


# ---------------------------------------------------------------------------
# pl14 — order-independent corpus checksum


@register(
    "pl14_corpus_checksum",
    f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM({pl.md5_i64_sql(f"(doc_id::VARCHAR || '#' || {_NORM})")}
                % 1000003) AS BIGINT) AS content_checksum
FROM documents
""",
)
def _q_corpus_checksum(spark, sf_dir):
    """The refresh-verification primitive: count + order-independent
    sum of per-doc content hashes (exact integers — identical from
    any partitioning or engine). Changing, adding, or dropping any
    single document changes the pair."""
    docs = load_table(spark, sf_dir, "documents")
    return pl.corpus_checksum(docs)


# ---------------------------------------------------------------------------
# pl13 — partitioned shard sink + pruned read-back

_PL13_SHARD = 3


@register(
    "pl13_partitioned_shard_read",
    f"""
SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars
FROM documents
WHERE CAST({pl.shard_sql('doc_id', _N_SHARDS)} AS INTEGER) = {_PL13_SHARD}
""",
)
def _q_partitioned_shard_read(spark, sf_dir):
    """The physical training-shard layout, value-proven end to end:
    write documents partitioned by the 16-way shard hash, read back
    ONE shard with a partition filter (plan-time directory pruning —
    asserted in test_pipeline), and hash-match the oracle's row set
    for the same shard expression over the original table."""
    import os
    import tempfile

    docs = load_table(spark, sf_dir, "documents")
    out = os.path.join(tempfile.mkdtemp(prefix="pl13_"), "shards")
    pl.write_training_shards(docs, out, n_shards=_N_SHARDS)
    got = spark.read.parquet(out).where(F.col("shard") == _PL13_SHARD)
    return got.select("doc_id", F.col("n_chars").cast("long").alias("n_chars"))


# ---------------------------------------------------------------------------
# pl08 — the composed preparation pipeline

_PREP_LANGS = ("en", "fr", "de", "es")
_PREP_SHARDS = 8


@register(
    "pl08_prepare_corpus",
    f"""
WITH fp AS (SELECT *, md5({_NORM}) AS fp FROM documents),
keep AS (SELECT fp, MIN(doc_id) AS kid FROM fp GROUP BY fp),
ded AS (SELECT f.* FROM fp f JOIN keep k ON f.doc_id = k.kid),
feat AS (SELECT doc_id, lang, length(text) AS nc, len({_TOKS}) AS nt,
                length(text) - length(regexp_replace(text, {_PUNCT_RE}, '', 'g'))
                    AS np
         FROM ded),
good AS (SELECT * FROM feat
         WHERE nt BETWEEN 5 AND 100000
           AND (CASE WHEN nc > 0 THEN np::DOUBLE / nc ELSE 0.0 END) < 0.3
           AND (CASE WHEN nt > 0 THEN nc::DOUBLE / nt ELSE 0.0 END) >= 2.0
           AND (CASE WHEN nt > 0 THEN nc::DOUBLE / nt ELSE 0.0 END) <= 20.0
           AND lang IN {_PREP_LANGS!r})
SELECT {pl.hash_split_case_sql('doc_id', _SPLIT_WEIGHTS)} AS split,
       CAST({pl.shard_sql('doc_id', _PREP_SHARDS)} AS INTEGER) AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM good GROUP BY 1, 2
""",
)
def _q_prepare(spark, sf_dir):
    """The whole preparation pipeline as ONE Catalyst plan: exact
    dedup -> quality filter -> language filter -> split -> shard.
    The filters and assignments fuse into the dedup's projection, so
    composition adds zero shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    out = pl.prepare_corpus(
        docs, _SPLIT_WEIGHTS, n_shards=_PREP_SHARDS, langs=_PREP_LANGS
    )
    return out.groupBy("split", "shard").agg(
        F.count("*").alias("n_docs"), F.sum("doc_id").alias("id_checksum")
    )


# ---------------------------------------------------------------------------
# pl15 — MERGE INTO semantics (upsert), natively over frames


@register(
    "pl15_merge_upsert",
    """
WITH updates AS (
    SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
           o_totalprice + 1.0 AS o_totalprice, o_orderdate, o_orderpriority
    FROM orders WHERE o_orderkey % 7 = 0
    UNION ALL
    SELECT o_orderkey + 100000000, o_custkey, 'I' AS o_orderstatus,
           o_totalprice, o_orderdate, o_orderpriority
    FROM orders WHERE o_orderkey % 11 = 0
),
merged AS (
    SELECT * FROM updates
    UNION ALL
    SELECT * FROM orders
    WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates)
)
SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS total_cents,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum
FROM merged GROUP BY o_orderstatus
""",
)
def _q_merge_upsert(spark, sf_dir):
    """MERGE: update every 7th order (status 'U', price +1) and insert
    shifted copies of every 11th (status 'I').  The per-status
    aggregate pins all three MERGE branches: updated rows moved, and
    only they; inserts present; everything else byte-identical."""
    orders = load_table(spark, sf_dir, "orders")
    updated = (
        orders.filter(F.col("o_orderkey") % 7 == 0)
        .withColumn("o_orderstatus", F.lit("U"))
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1.0))
    )
    inserts = orders.filter(F.col("o_orderkey") % 11 == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(100000000)
    ).withColumn("o_orderstatus", F.lit("I"))
    merged = pl.merge_upsert(
        orders, updated.unionByName(inserts), keys=["o_orderkey"]
    )
    return merged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("total_cents"),
        F.sum("o_orderkey").cast("long").alias("key_checksum"),
    )


# ---------------------------------------------------------------------------
# pl16 — CDC snapshot diff


@register(
    "pl16_snapshot_diff",
    """
WITH new_snap AS (
    SELECT o_orderkey, o_custkey,
           CASE WHEN o_orderkey % 7 = 0 THEN 'U' ELSE o_orderstatus END
               AS o_orderstatus,
           CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
                ELSE o_totalprice END AS o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders WHERE o_orderkey % 13 <> 0
    UNION ALL
    SELECT o_orderkey + 100000000, o_custkey, 'I', o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders WHERE o_orderkey % 11 = 0
),
diff AS (
    SELECT COALESCE(n.o_orderkey, o.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'added'
                WHEN n.o_orderkey IS NULL THEN 'removed'
                WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                  OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
                  OR o.o_custkey IS DISTINCT FROM n.o_custkey
                  OR o.o_orderdate IS DISTINCT FROM n.o_orderdate
                  OR o.o_orderpriority IS DISTINCT FROM n.o_orderpriority
                THEN 'changed' END AS change
    FROM orders o FULL OUTER JOIN new_snap n USING (o_orderkey)
)
SELECT change, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum
FROM diff WHERE change IS NOT NULL GROUP BY change
""",
)
def _q_snapshot_diff(spark, sf_dir):
    """CDC between the orders snapshot and a derived v2 (every 7th
    updated, every 13th deleted, shifted copies of every 11th added):
    pipeline.snapshot_diff classifies added/removed/changed in one
    full-outer join; the aggregate pins each class's row set by key
    checksum."""
    orders = load_table(spark, sf_dir, "orders")
    upd = F.col("o_orderkey") % 7 == 0
    new_snap = (
        orders.filter(F.col("o_orderkey") % 13 != 0)
        .withColumn(
            "o_orderstatus",
            F.when(upd, F.lit("U")).otherwise(F.col("o_orderstatus")),
        )
        .withColumn(
            "o_totalprice",
            F.when(upd, F.col("o_totalprice") + F.lit(1.0)).otherwise(
                F.col("o_totalprice")
            ),
        )
        .unionByName(
            orders.filter(F.col("o_orderkey") % 11 == 0)
            .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(100000000))
            .withColumn("o_orderstatus", F.lit("I"))
        )
    )
    diff = pl.snapshot_diff(orders, new_snap, keys=["o_orderkey"])
    return diff.groupBy("change").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_checksum"),
    )


# ---------------------------------------------------------------------------
# pl17 — incremental aggregate maintenance (partial-agg merge)


@register(
    "pl17_incremental_agg",
    """
SELECT o_orderstatus, o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
FROM orders GROUP BY o_orderstatus, o_orderpriority
""",
)
def _q_incremental_agg(spark, sf_dir):
    """The stored aggregate (80% of orders) merged with a delta batch
    (the other 20%) via partial-agg union — the oracle recomputes from
    scratch; equality proves the maintenance path is exact."""
    orders = load_table(spark, sf_dir, "orders")

    def agg_of(df):
        return df.groupBy("o_orderstatus", "o_orderpriority").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents"),
        )

    base = agg_of(orders.filter(F.col("o_orderkey") % 5 != 0))
    delta = agg_of(orders.filter(F.col("o_orderkey") % 5 == 0))
    return pl.merge_partial_aggregates(
        base, delta, keys=["o_orderstatus", "o_orderpriority"]
    )


# ---------------------------------------------------------------------------
# pl18 — schema evolution across parquet generations (mergeSchema)


@register(
    "pl18_schema_evolution",
    """
WITH unioned AS (
    SELECT o_orderkey, o_orderstatus,
           CAST(NULL AS DOUBLE) AS o_totalprice
    FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey % 2 = 1
)
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(o_totalprice) AS BIGINT) AS n_with_price,
       CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
FROM unioned GROUP BY o_orderstatus
""",
)
def _q_schema_evolution(spark, sf_dir):
    """Two parquet generations with drifted schemas — generation 1
    lacks the price column — read back as ONE table via mergeSchema:
    missing columns surface as NULLs, the aggregate distinguishes
    row presence from value presence.  At scale this is the
    footer-union schema resolution Spark does per file; writers never
    rewrite old generations."""
    import os
    import tempfile

    orders = load_table(spark, sf_dir, "orders")
    tmp = tempfile.mkdtemp(prefix="pl18_")
    gen_dir = os.path.join(tmp, "gens")
    (
        orders.filter(F.col("o_orderkey") % 2 == 0)
        .select("o_orderkey", "o_orderstatus")
        .write.parquet(os.path.join(gen_dir, "gen=1"))
    )
    (
        orders.filter(F.col("o_orderkey") % 2 == 1)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .write.parquet(os.path.join(gen_dir, "gen=2"))
    )
    merged = spark.read.option("mergeSchema", True).parquet(
        os.path.join(gen_dir, "gen=1"), os.path.join(gen_dir, "gen=2")
    )
    return merged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count("o_totalprice").cast("long").alias("n_with_price"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents"),
    )


# ---------------------------------------------------------------------------
# pl19 — temperature-balanced mixture (τ=2 sqrt rebalancing)

_PL19_ORACLE = f"""
WITH stats AS (
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s FROM documents GROUP BY source
),
total AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tot FROM documents),
rates AS (
    SELECT source,
           sqrt(CAST(n_s AS DOUBLE) / n_tot) / (CAST(n_s AS DOUBLE) / n_tot) AS g
    FROM stats CROSS JOIN total
),
thr AS (
    SELECT source,
           CAST(floor((g / (SELECT MAX(g) FROM rates)) * 10000.0) AS BIGINT) AS t
    FROM rates
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM documents JOIN thr USING (source)
WHERE {pl._bucket_sql("doc_id", "tmix")} < t
GROUP BY source
"""


@register("pl19_temperature_mixture", _PL19_ORACLE)
def _q_temperature_mixture(spark, sf_dir):
    """√-temperature corpus rebalancing over the documents sources:
    pipeline.temperature_mixture; the aggregate pins exactly which
    rows each per-source threshold keeps."""
    docs = load_table(spark, sf_dir, "documents")
    kept = pl.temperature_mixture(docs, "source", "doc_id")
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.sum("doc_id").cast("long").alias("id_checksum"),
    )


# ---------------------------------------------------------------------------
# pl20 — per-shard token-budget selection (greedy best-first)


@register(
    "pl20_budget_selection",
    f"""
WITH feat AS (
    SELECT doc_id, {pl.shard_sql('doc_id', 4)} AS shard,
           CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                x -> x != '')) AS BIGINT) AS n_tokens,
           n_chars
    FROM documents
),
run AS (
    SELECT doc_id, shard, n_tokens,
           SUM(n_tokens) OVER (PARTITION BY shard
                               ORDER BY n_chars DESC, doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS running
    FROM feat
)
SELECT CAST(shard AS BIGINT) AS shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS tokens_used,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM run WHERE running <= 2000 GROUP BY shard
""",
)
def _q_budget_selection(spark, sf_dir):
    """4 shards, 2000-token budget each, longest-docs-first (n_chars
    desc, doc_id tiebreak): pipeline.budget_selection; the aggregate
    pins the exact per-shard selected set."""
    docs = load_table(spark, sf_dir, "documents")
    feat = pl.shard_assign(
        docs.select(
            "doc_id",
            "n_chars",
            ta.token_count(F.col("text")).cast("long").alias("n_tokens"),
        ),
        "doc_id",
        4,
    )
    kept = pl.budget_selection(
        feat, "n_tokens", budget=2000, shard_col="shard",
        order_cols=[F.col("n_chars").desc(), "doc_id"],
    )
    return kept.groupBy(F.col("shard").cast("long").alias("shard")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("tokens_used"),
        F.sum("doc_id").cast("long").alias("id_checksum"),
    )


# ---------------------------------------------------------------------------
# pl21 — the capstone composition: prepare a training run end-to-end


_PL21_ORACLE = f"""
WITH corpus AS (SELECT * FROM documents WHERE NOT ({_DECON_EVAL})),
stats AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s FROM corpus GROUP BY source),
total AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tot FROM corpus),
rates AS (
    SELECT source,
           sqrt(CAST(n_s AS DOUBLE) / n_tot) / (CAST(n_s AS DOUBLE) / n_tot) AS g
    FROM stats CROSS JOIN total
),
thr AS (
    SELECT source,
           CAST(floor((g / (SELECT MAX(g) FROM rates)) * 10000.0) AS BIGINT) AS t
    FROM rates
),
mixed AS (
    SELECT corpus.* FROM corpus JOIN thr USING (source)
    WHERE {pl._bucket_sql("doc_id", "tmix")} < t
),
fp AS (SELECT *, md5({_NORM}) AS fp FROM mixed),
keep AS (SELECT fp, MIN(doc_id) AS kid FROM fp GROUP BY fp),
ded AS (SELECT f.* FROM fp f JOIN keep k ON f.doc_id = k.kid),
h AS (SELECT doc_id, {pl.md5_i64_sql('g')} AS gh
      FROM (SELECT doc_id, unnest({{shingles}}) AS g FROM ded)),
ev AS (SELECT DISTINCT {pl.md5_i64_sql('g')} AS gh
       FROM (SELECT unnest({{shingles}}) AS g
             FROM documents WHERE {_DECON_EVAL})),
flagged AS (SELECT DISTINCT h.doc_id FROM h JOIN ev USING (gh)),
decon AS (SELECT * FROM ded WHERE doc_id NOT IN (SELECT doc_id FROM flagged)),
feat AS (
    SELECT doc_id, n_chars, {pl.shard_sql('doc_id', 4)} AS shard,
           CAST(len({_TOKS}) AS BIGINT) AS n_tokens
    FROM decon
),
run AS (
    SELECT doc_id, shard, n_tokens,
           SUM(n_tokens) OVER (PARTITION BY shard
                               ORDER BY n_chars DESC, doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS running
    FROM feat
)
SELECT CAST(shard AS BIGINT) AS shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS tokens_used,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM run WHERE running <= 2000 GROUP BY shard
""".replace("{shingles}", _shingles(_TOKS, _DECON_N))


@register("pl21_prepare_training_run", _PL21_ORACLE)
def _q_prepare_training_run(spark, sf_dir):
    """The whole training-run preparation as ONE Catalyst plan:
    √-temperature mixture → exact dedup → benchmark decontamination →
    shard assignment → per-shard token-budget selection → shard
    stats.  CORPUS-sized exchanges: dedup's fingerprint agg + id
    semi-join, the decon per-doc hit count (eval grams broadcast),
    and the per-shard budget window; every other exchange in the
    plan is over a per-source/per-term aggregate frame (rows ≈
    |sources| or |eval terms| — broadcast-cheap at any corpus size).
    The mixture and shard steps themselves fuse into projections and
    filters.  Every stage is the already-oracle-gated operator
    (pl19/d02/pl11/pl06/pl20); this gate pins their COMPOSITION."""
    from tabular_to_parquet_spark.operators import dedup as dd

    docs = load_table(spark, sf_dir, "documents")
    eval_df = docs.where(F.expr(_DECON_EVAL))
    corpus = docs.where(~F.expr(_DECON_EVAL))
    mixed = pl.temperature_mixture(corpus, "source", "doc_id")
    deduped = dd.dedup_exact(mixed)
    decon = pl.decontaminate(deduped, eval_df, n=_DECON_N)
    feat = pl.shard_assign(
        decon.select(
            "doc_id",
            "n_chars",
            ta.token_count(F.col("text")).cast("long").alias("n_tokens"),
        ),
        "doc_id",
        4,
    )
    kept = pl.budget_selection(
        feat, "n_tokens", budget=2000, shard_col="shard",
        order_cols=[F.col("n_chars").desc(), "doc_id"],
    )
    return kept.groupBy(F.col("shard").cast("long").alias("shard")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("tokens_used"),
        F.sum("doc_id").cast("long").alias("id_checksum"),
    )


# ---------------------------------------------------------------------------
# pl22 — Z-order layout clustering


def _zorder_sql(a: str, b: str, bits: int = 8) -> str:
    terms = []
    for i in range(bits):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " | ".join(terms) + ")"


_PL22_BUCKET_A = "CAST(floor(o_totalprice / 2000.0) AS BIGINT) % 256"
_PL22_BUCKET_B = "CAST(o_custkey AS BIGINT) % 256"


@register(
    "pl22_zorder_clusters",
    f"""
WITH keyed AS (
    SELECT o_orderkey,
           {_zorder_sql(f'({_PL22_BUCKET_A})', f'({_PL22_BUCKET_B})')} AS zkey
    FROM orders
)
SELECT CAST(zkey >> 10 AS BIGINT) AS cluster,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(zkey) AS BIGINT) AS zmin,
       CAST(MAX(zkey) AS BIGINT) AS zmax,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum
FROM keyed GROUP BY 1
""",
)
def _q_zorder_clusters(spark, sf_dir):
    """Z-order clustering of orders on (price bucket, customer
    bucket): pipeline.zorder_key interleaves the two 8-bit dims; the
    cluster id (zkey >> 10) is the file-assignment a layout-optimizing
    writer would sort/partition by.  The aggregate pins the exact
    interleave bit-for-bit (zmin/zmax are what row-group pruning would
    consult)."""
    orders = load_table(spark, sf_dir, "orders")
    a = (F.floor(F.col("o_totalprice") / F.lit(2000.0)).cast("long") % 256)
    b = (F.col("o_custkey").cast("long") % 256)
    keyed = orders.select(
        "o_orderkey", pl.zorder_key(a, b, bits=8).alias("zkey")
    )
    return keyed.groupBy(
        F.shiftright(F.col("zkey"), 10).cast("long").alias("cluster")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.min("zkey").cast("long").alias("zmin"),
        F.max("zkey").cast("long").alias("zmax"),
        F.sum("o_orderkey").cast("long").alias("key_checksum"),
    )


# ---------------------------------------------------------------------------
# pl23 — (context, target) supervised example construction


@register(
    "pl23_context_target_pairs",
    """
WITH pairs AS (
    SELECT user_id, ts, event_id,
           list(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS context,
           event_type AS target
    FROM events
)
SELECT user_id, ts, event_id,
       array_to_string(context, ' ') AS context, target
FROM pairs WHERE len(context) = 3
""",
)
def _q_context_target(spark, sf_dir):
    """Next-event training pairs (pipeline.context_target_pairs): the
    3 previous events per user become the context, the current event
    the target — collect_list over a deterministic ROWS frame (unique
    event_id tiebreak), one shuffle on user_id, short contexts
    dropped. The catalog projection space-joins the context (event
    types are whitespace-free) — ARRAY output is unhashable in the
    driver's pandas canonicalizer (the x29 failure class); the
    operator itself keeps the typed array."""
    ev = load_table(spark, sf_dir, "events")
    pairs = pl.context_target_pairs(ev, context_len=3)
    return pairs.withColumn("context", F.concat_ws(" ", F.col("context")))


# ---------------------------------------------------------------------------
# pl24 — deterministic negative sampling


@register(
    "pl24_negative_samples",
    f"""
WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM embeddings),
anchors AS (
    SELECT vec_id, j FROM embeddings
    CROSS JOIN (SELECT unnest([0, 1, 2]) AS j)
), raw AS (
    SELECT vec_id, j,
           ({pl.md5_i64_sql("vec_id || '#' || j", seed='neg')}
                % (SELECT total FROM n)) AS r
    FROM anchors
), negs AS (
    SELECT vec_id, CAST(j AS BIGINT) AS j,
           CASE WHEN r = vec_id THEN (r + 1) % (SELECT total FROM n)
                ELSE r END AS neg_id
    FROM raw
)
SELECT g.vec_id, g.j, g.neg_id, e.label AS neg_label
FROM negs g JOIN embeddings e ON g.neg_id = e.vec_id
""",
)
def _q_negative_samples(spark, sf_dir):
    """Contrastive negatives (pipeline.negative_samples): 3 hash-drawn
    partners per anchor in the dense id space, rejoined to the corpus
    for the partner's label — the (anchor, negative) pair builder for
    embedding training. N enters the plan as a broadcast scalar; the
    only shuffle is the label equi-join."""
    emb = load_table(spark, sf_dir, "embeddings")
    negs = pl.negative_samples(emb, "vec_id", k=3)
    labels = emb.select(F.col("vec_id").alias("neg_id"), F.col("label").alias("neg_label"))
    return negs.join(labels, "neg_id").select("vec_id", "j", "neg_id", "neg_label")


# ---------------------------------------------------------------------------
# pl25 — curriculum phase assignment by exact length quartiles


@register(
    "pl25_curriculum_phases",
    """
WITH b AS (
    SELECT quantile_cont(n_chars, 0.25) AS b1,
           quantile_cont(n_chars, 0.50) AS b2,
           quantile_cont(n_chars, 0.75) AS b3
    FROM documents
)
SELECT CAST(1 + (n_chars > b1)::INT + (n_chars > b2)::INT
              + (n_chars > b3)::INT AS BIGINT) AS phase,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents, b
GROUP BY 1
""",
)
def _q_curriculum_phases(spark, sf_dir):
    """Length-curriculum phases (short->long training schedule): exact
    quartile boundaries from ONE aggregate (Spark percentile ==
    DuckDB quantile_cont bit-for-bit on integer inputs at these q —
    the pr03-proven case), broadcast as a scalar row, phase assigned
    by comparison — a pure projection, no global window/ntile, so the
    assignment scales as a map-only pass. No reference counterpart;
    extension surface."""
    docs = load_table(spark, sf_dir, "documents")
    b = docs.agg(
        F.expr("percentile(n_chars, array(0.25D, 0.50D, 0.75D))").alias("bs")
    )
    phased = docs.crossJoin(F.broadcast(b)).withColumn(
        "phase",
        (
            F.lit(1)
            + (F.col("n_chars") > F.col("bs")[0]).cast("int")
            + (F.col("n_chars") > F.col("bs")[1]).cast("int")
            + (F.col("n_chars") > F.col("bs")[2]).cast("int")
        ).cast("long"),
    )
    return phased.groupBy("phase").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("doc_id").cast("long").alias("id_checksum"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


# ---------------------------------------------------------------------------
# pl26 — per-epoch deterministic shuffle order


@register(
    "pl26_epoch_shuffle",
    f"""
WITH ranked AS (
    SELECT e.epoch, d.doc_id,
           row_number() OVER (
               PARTITION BY e.epoch
               ORDER BY {pl.md5_i64_sql("e.epoch || '#' || d.doc_id")}, d.doc_id
           ) AS rn
    FROM documents d CROSS JOIN (SELECT unnest([0, 1, 2]) AS epoch) e
)
SELECT CAST(epoch AS BIGINT) AS epoch, CAST(rn AS BIGINT) AS rn, doc_id
FROM ranked WHERE rn <= 5
""",
)
def _q_epoch_shuffle(spark, sf_dir):
    """Epoch-varying data order without any stored permutation: sort
    key = md5(epoch || doc_id), so each epoch visits the corpus in an
    independent pseudo-random order, reproducible from the epoch
    number alone (how a training loader reshuffles 100 TB with zero
    state). Verified via the first 5 ids of each epoch's order —
    per-epoch window, bounded rows, no global sort of the corpus."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    epoch_df = spark.range(3).select(F.col("id").cast("int").alias("epoch"))
    epochs = docs.crossJoin(F.broadcast(epoch_df)).select("epoch", "doc_id")
    key = md5_i64(
        F.concat(F.col("epoch").cast("string"), F.lit("#"),
                 F.col("doc_id").cast("string"))
    )
    w = W.partitionBy("epoch").orderBy(key, "doc_id")
    ranked = epochs.withColumn("rn", F.row_number().over(w))
    return ranked.filter(F.col("rn") <= 5).select(
        F.col("epoch").cast("long").alias("epoch"),
        F.col("rn").cast("long").alias("rn"),
        "doc_id",
    )


# ---------------------------------------------------------------------------
# pl29 — packing by the REAL BPE token budget (pl05 × x11)


def _pl29_sql() -> str:
    from tabular_to_parquet_spark.functions import bpe
    from tabular_to_parquet_spark.parity.extensions import _BPE_RE_SQL

    cnt = bpe.bpe_token_count_sql("text", bpe.BPE_MERGES, _BPE_RE_SQL)
    return f"""
WITH t AS (
    SELECT doc_id, doc_id % {_PACK_SHARDS} AS shard,
           CAST({cnt} AS BIGINT) AS tok
    FROM documents),
c AS (
    SELECT *, SUM(tok) OVER (PARTITION BY shard ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) - tok AS pack_start
    FROM t)
SELECT CAST(shard * 4294967296 + pack_start // {_PACK_BUDGET} AS BIGINT)
           AS pack_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(tok) AS BIGINT) AS sum_tokens,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc
FROM c GROUP BY 1
"""


@register("pl29_pack_bpe_budget", _pl29_sql())
def _q_pack_bpe(spark, sf_dir):
    """pl05's packing driven by the REAL learned-merges BPE count
    (x11) instead of whitespace tokens — the budget a trainer
    actually bills against. Same partitioned-window plan; only the
    token column changes, which is the point: the packing contract is
    count-agnostic."""
    from tabular_to_parquet_spark.functions import bpe

    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id",
        F.pmod(F.col("doc_id"), F.lit(_PACK_SHARDS)).cast("int").alias("shard"),
        bpe.bpe_token_count(F.col("text"), bpe.BPE_MERGES).cast("long").alias("tok"),
    )
    packed = pl.pack_sequences(
        staged, "tok", _PACK_BUDGET, order_col="doc_id", shard_col="shard"
    )
    return packed.groupBy("pack_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("tok").alias("sum_tokens"),
        F.min("doc_id").alias("first_doc"),
    )



# ---------------------------------------------------------------------------
# pl30 — quality-proportional importance sampling

_IMP_CAP = 2000


@register(
    "pl30_importance_sample",
    f"""
WITH t AS (
    SELECT doc_id, lang, n_chars,
           LEAST(n_chars, {_IMP_CAP}) AS score,
           ({pl.md5_i64_sql("(doc_id)::VARCHAR", seed="imp")} % 1000000) AS u
    FROM documents
),
kept AS (SELECT * FROM t WHERE u * {_IMP_CAP} < score * 1000000)
SELECT lang,
       CAST((SELECT COUNT(*) FROM t t2 WHERE t2.lang = kept.lang) AS BIGINT)
           AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_accepted,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM kept GROUP BY lang
""",
)
def _q_importance_sample(spark, sf_dir):
    """pipeline.importance_sample over a length-capped quality score:
    each doc survives with probability min(n_chars, 2000)/2000 via an
    exact integer hash comparison (no division, no rand state) — the
    row-level acceptance mixture_sample's group rates can't express.
    Per-lang acceptance stats; the total-count column re-counts the
    stratum so the acceptance RATE is readable from one row."""
    docs = load_table(spark, sf_dir, "documents")
    kept = pl.importance_sample(
        docs, F.least(F.col("n_chars"), F.lit(_IMP_CAP)), _IMP_CAP, "doc_id"
    )
    totals = docs.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    acc = kept.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_accepted"),
        F.sum("doc_id").cast("long").alias("id_checksum"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )
    return totals.join(acc, "lang").select(
        "lang", "n_docs", "n_accepted", "id_checksum", "sum_chars"
    )
