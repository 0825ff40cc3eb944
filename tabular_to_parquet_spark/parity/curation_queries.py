"""Round-10 continuation catalog: data-curation / governance shapes.

Four distinct query shapes none of the existing 271 cover:

- ``x42_vocab_growth`` — Heaps-law vocabulary-growth curve
  (first-occurrence bucketing + bounded cumulative window);
- ``a40_pareto_frontier`` — exact 2-D skyline via local-then-global
  dominance elimination (the anti-dominance shape: no other query
  keeps a row based on the ABSENCE of a dominating row);
- ``pr25_chi2_contingency`` — chi-square independence-audit
  sufficient statistics over a bounded contingency table;
- ``pr26_null_patterns`` — joint missingness patterns after the
  star-schema left join (the orphan COMBINATIONS pr13's per-edge
  counts can't see).

Oracle rules follow parity/catalog.py: identical aliases both sides,
BIGINT counts, DECIMAL(38,0) digit strings for anything that can pass
2^53, integer `div`//`//` parity, and the driver's outer total ORDER
BY over all columns.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tabular_to_parquet_spark.operators import ordering, profiling
from tabular_to_parquet_spark.operators import text_analysis as ta
from tabular_to_parquet_spark.parity.catalog import register
from tabular_to_parquet_spark.parity.extensions import _TOKS_LC, _docs, _emb
from tabular_to_parquet_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# x42 — Heaps-law vocabulary growth


def _q_vocab_growth(spark, sf_dir):
    """ta.vocab_growth over documents: 10 ingestion-order checkpoints
    (doc_id ranges), cumulative distinct vocabulary vs cumulative
    token mass.  x38 gives the static Zipf rank table; this is the
    GROWTH view — how much new vocabulary each additional data slice
    buys.  Plan: token-ownership hash-agg (min doc id), integer
    checkpoint arithmetic against a 1-row broadcast max (allowlisted
    scalar BNLJ), cumulative sums over the 10-row checkpoint table."""
    return ta.vocab_growth(_docs(spark, sf_dir), buckets=10)


register("x42_vocab_growth", f"""
WITH mx AS (SELECT CAST(MAX(doc_id) + 1 AS BIGINT) AS m FROM documents),
toks AS (SELECT doc_id, {_TOKS_LC} AS t FROM documents),
db AS (
    SELECT CAST(least(10, ((doc_id + 1) * 10 + m - 1) // m) AS BIGINT)
               AS bucket,
           len(t) AS ntok
    FROM toks CROSS JOIN mx
),
pb AS (
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ntok) AS BIGINT) AS btok
    FROM db GROUP BY bucket
),
firsts AS (
    SELECT tok, MIN(doc_id) AS fd
    FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
    GROUP BY tok
),
tb AS (
    SELECT CAST(least(10, ((fd + 1) * 10 + m - 1) // m) AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS new_types
    FROM firsts CROSS JOIN mx GROUP BY bucket
)
SELECT pb.bucket, n_docs,
       CAST(COALESCE(new_types, 0) AS BIGINT) AS new_types,
       CAST(SUM(btok) OVER (ORDER BY pb.bucket) AS BIGINT) AS cum_tokens,
       CAST(SUM(COALESCE(new_types, 0)) OVER (ORDER BY pb.bucket) AS BIGINT)
           AS vocab_cum
FROM pb LEFT JOIN tb USING (bucket)
""")(_q_vocab_growth)


# ---------------------------------------------------------------------------
# a40 — 2-D Pareto frontier (skyline)


def _q_pareto_frontier(spark, sf_dir):
    """Documents on the (shortest, most-diverse) frontier: minimize
    n_chars, maximize distinct-token count.  The curation question is
    "which docs are undominated value-per-byte exemplars"; the
    relational shape is the skyline — kept rows are those for which NO
    dominating row exists.  ordering.pareto_frontier_2d runs dominance
    elimination locally per doc_id%32 bucket (partitioned windows),
    then once more over the survivors (the skyline-of-skylines
    identity), so no corpus-sized single-partition window exists."""
    base = _docs(spark, sf_dir).select(
        "doc_id",
        F.col("n_chars").alias("len_chars"),
        F.size(F.array_distinct(ta.tokens(F.lower(F.col("text")))))
        .cast("long")
        .alias("n_types"),
    )
    return ordering.pareto_frontier_2d(
        base, "len_chars", "n_types", bucket=F.pmod(F.col("doc_id"), F.lit(32))
    )


register("a40_pareto_frontier", f"""
WITH base AS (
    SELECT doc_id, n_chars AS len_chars,
           CAST(len(list_distinct({_TOKS_LC})) AS BIGINT) AS n_types
    FROM documents
)
SELECT d.doc_id, d.len_chars, d.n_types
FROM base d
WHERE NOT EXISTS (
    SELECT 1 FROM base o
    WHERE o.len_chars <= d.len_chars AND o.n_types >= d.n_types
      AND (o.len_chars < d.len_chars OR o.n_types > d.n_types)
)
""")(_q_pareto_frontier)


# ---------------------------------------------------------------------------
# pr25 — chi-square contingency sufficient statistics


def _q_chi2_contingency(spark, sf_dir):
    """Is `lang` independent of `source`?  x14 pivots the same table
    for eyes; x31 audits declared-vs-predicted labels; this emits the
    TEST's exact inputs: per cell, observed count, margins, and the
    integer deviation numerator n*O - R*C as a DECIMAL(38,0) digit
    string (chi2 = sum dev^2/(n*R*C) is two float ops away, left to
    the caller per the g06/pr24 sufficient-statistics discipline)."""
    return profiling.chi2_contingency(_docs(spark, sf_dir), "lang", "source")


register("pr25_chi2_contingency", """
WITH cells AS (
    SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS observed
    FROM documents GROUP BY lang, source
),
t AS (
    SELECT lang, source, observed,
           CAST(SUM(observed) OVER (PARTITION BY lang) AS BIGINT)
               AS row_total,
           CAST(SUM(observed) OVER (PARTITION BY source) AS BIGINT)
               AS col_total,
           CAST(SUM(observed) OVER () AS BIGINT) AS grand_total
    FROM cells
)
SELECT lang, source, observed, row_total, col_total, grand_total,
       CAST(CAST(CAST(grand_total AS HUGEINT) * observed
                 - CAST(row_total AS HUGEINT) * col_total
            AS DECIMAL(38,0)) AS VARCHAR) AS dev_no_minus_rc
FROM t
""")(_q_chi2_contingency)


# ---------------------------------------------------------------------------
# pr26 — joint parse-failure (missingness) patterns over the lenient
# casts.  The reference's analyse pass counts parse errors PER COLUMN
# (analyse.rs counters, mirrored by plans/inference.py and O5); the
# joint distribution — which fields fail TOGETHER on the same row —
# is what decides whether failures are independent noise or one
# structural row class.  The star-schema FK probe was rejected for
# this slot: the synthetic data is referentially intact everywhere
# (verified at sf0.01 and sf0.1), so that audit is a constant row.


def _int_ok(tok: str) -> str:
    from tabular_to_parquet_spark.parity.catalog import _INT_RE_SQL, wtrim

    t = wtrim(tok)
    d38 = f"try_cast({t} AS DECIMAL(38,0))"
    return (
        f"(NOT {_ntk(tok)} AND regexp_matches({t}, {_INT_RE_SQL}) "
        f"AND {d38} BETWEEN '-9223372036854775808'::DECIMAL(38,0) "
        f"AND '9223372036854775807'::DECIMAL(38,0))"
    )


def _float_ok(tok: str) -> str:
    from tabular_to_parquet_spark.parity.catalog import _FLOAT_RE_SQL, wtrim

    t = wtrim(tok)
    return (
        f"(NOT {_ntk(tok)} AND regexp_matches({t}, {_FLOAT_RE_SQL}, 'i') "
        f"AND isfinite(try_cast({t} AS DOUBLE)))"
    )


def _bool_ok(tok: str) -> str:
    from tabular_to_parquet_spark.parity.catalog import wtrim

    t = wtrim(tok)
    return (
        f"(NOT {_ntk(tok)} AND lower({t}) IN "
        f"('true','1','t','y','yes','on','false','0','f','n','no','off'))"
    )


def _ntk(tok: str) -> str:
    from tabular_to_parquet_spark.parity.catalog import wtrim

    t = wtrim(tok)
    return (
        f"({tok} IS NULL OR {t} = '' OR "
        f"lower({t}) IN ('null','none','nan','n/a','na'))"
    )


def _q_null_patterns(spark, sf_dir):
    """profiling.null_pattern_audit over the p02/p03/p05 lenient-cast
    projection: each reference token generator cycles on ROW_ID with a
    different modulus (16/14/16), so the joint failure patterns sweep
    their LCM — per pattern, how many rows and the smallest witness
    row id.  One projection + one hash-agg on <= 2^3 patterns."""
    from tabular_to_parquet_spark.functions import parsers
    from tabular_to_parquet_spark.parity.catalog import (
        ROW_ID,
        _TOK_BOOL,
        _TOK_FLOAT,
        _TOK_INT,
    )

    li = load_table(spark, sf_dir, "lineitem")
    frame = li.select(
        F.expr(ROW_ID).alias("row_id"),
        parsers.parse_int64(F.expr(_TOK_INT)).alias("as_int"),
        parsers.parse_float64(F.expr(_TOK_FLOAT)).alias("as_float"),
        parsers.parse_bool(F.expr(_TOK_BOOL)).alias("as_bool"),
    )
    return profiling.null_pattern_audit(
        frame,
        probes={
            "int_null": "as_int",
            "float_null": "as_float",
            "bool_null": "as_bool",
        },
        example_col="row_id",
    )


def _pr26_oracle() -> str:
    from tabular_to_parquet_spark.parity.catalog import (
        ROW_ID,
        _TOK_BOOL,
        _TOK_FLOAT,
        _TOK_INT,
    )

    return f"""
WITH base AS (
    SELECT {ROW_ID} AS row_id, {_TOK_INT} AS ti, {_TOK_FLOAT} AS tf,
           {_TOK_BOOL} AS tb
    FROM lineitem
)
SELECT CAST(NOT {_int_ok('ti')} AS BIGINT) AS int_null,
       CAST(NOT {_float_ok('tf')} AS BIGINT) AS float_null,
       CAST(NOT {_bool_ok('tb')} AS BIGINT) AS bool_null,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       MIN(row_id) AS example_key
FROM base GROUP BY 1, 2, 3
"""


register("pr26_null_patterns", _pr26_oracle())(_q_null_patterns)


# ---------------------------------------------------------------------------
# s11 — product quantization audit


def _q_product_quantization(spark, sf_dir):
    """similarity.product_quantize: 4 subspaces x 8 codes over the
    64-dim embeddings — per vector, the chosen code per subspace, the
    packed PQ code, and the exact fixed-point squared reconstruction
    error (the codebook generalization of s09's affine audit; the
    compression-ratio decision for the 100 TB embedding store reads
    exactly this table).  One projection, zero shuffles; codewords are
    integer literals so BOTH engines consume, never recompute, the
    codebook."""
    from tabular_to_parquet_spark.operators import similarity

    return similarity.product_quantize(_emb(spark, sf_dir))


def _s11_oracle() -> str:
    from tabular_to_parquet_spark.operators import similarity

    books = similarity.pq_codebooks_fixed()
    subspaces = len(books)
    codes = len(books[0])
    sub = len(books[0][0])
    f = "CAST(floor(embedding[{off} + i] * 1048576.0) AS BIGINT)"
    d_cols = []
    for s, book in enumerate(books):
        off = s * sub
        for c, cw in enumerate(book):
            g = "[" + ", ".join(str(v) for v in cw) + "]"
            fe = f.format(off=off)
            d_cols.append(
                f"list_reduce(list_transform(list_transform(range(1, {sub + 1}), "
                f"i -> {fe} - ({g})[i]), d -> d * d), (x, y) -> x + y) AS d_{s}_{c}"
            )
    best = {
        s: "least(" + ", ".join(f"d_{s}_{c}" for c in range(codes)) + ")"
        for s in range(subspaces)
    }
    code_case = {
        s: "(CASE "
        + " ".join(f"WHEN d_{s}_{c} = b_{s} THEN {c}" for c in range(codes))
        + " END)"
        for s in range(subspaces)
    }
    packed = "c_0"
    for s in range(1, subspaces):
        packed = f"({packed} * {codes} + c_{s})"
    return f"""
WITH d AS (
    SELECT vec_id, {", ".join(d_cols)} FROM embeddings
),
b AS (
    SELECT vec_id, {", ".join(f"{best[s]} AS b_{s}" for s in range(subspaces))},
           {", ".join(f"d_{s}_{c}" for s in range(subspaces) for c in range(codes))}
    FROM d
),
coded AS (
    SELECT vec_id,
           {", ".join(f"CAST({code_case[s]} AS BIGINT) AS c_{s}" for s in range(subspaces))},
           {" + ".join(f"b_{s}" for s in range(subspaces))} AS err
    FROM b
)
SELECT vec_id, {", ".join(f"c_{s} AS code_s{s}" for s in range(subspaces))},
       CAST({packed} AS BIGINT) AS pq_code,
       CAST(err AS BIGINT) AS err_sq_fixed
FROM coded
"""


register("s11_product_quantization", _s11_oracle())(_q_product_quantization)


# ---------------------------------------------------------------------------
# warc1/warc2 — WARC source (ISO 28500): the crawl-archive format LLM
# corpora start from.  NEW SOURCE FORMAT (sources/warc.py): binaryFile
# scan -> Arrow-batched mapInPandas record parse, one task per archive
# file — Common Crawl's own unit of parallelism.  The fixture covers
# all three wire layouts (plain, whole-file gzip, gzip-member-per-
# record) and mixes a non-response record into every file so the type
# filter is exercised.

_WARC_EPOCH = 1709251200  # 2024-03-01T00:00:00Z


def _build_warc_fixture(spark, sf_dir) -> str:
    import gzip
    import os
    import tempfile
    from datetime import datetime, timezone

    from tabular_to_parquet_spark.parity.extensions import _fixture_pdf
    from tabular_to_parquet_spark.sources import warc

    pdf = _fixture_pdf(_docs(spark, sf_dir).select("doc_id", "text"))
    pdf = pdf.sort_values("doc_id")
    tmp = tempfile.mkdtemp(prefix="warc_fix_")
    docs = list(pdf.itertuples(index=False))
    n_parts = 4
    for i in range(n_parts):
        recs = [
            warc.write_warc_record(
                {
                    "WARC-Type": "warcinfo",
                    "WARC-Record-ID": f"<urn:uuid:info-{i}>",
                    "WARC-Date": "2024-03-01T00:00:00Z",
                },
                b"software: fixture\r\n",
            )
        ]
        for row in docs[i::n_parts]:
            body = row.text.encode("utf-8")
            ts = datetime.fromtimestamp(
                _WARC_EPOCH + int(row.doc_id), tz=timezone.utc
            ).strftime("%Y-%m-%dT%H:%M:%SZ")
            recs.append(
                warc.write_warc_record(
                    {
                        "WARC-Type": "response",
                        "WARC-Record-ID": f"<urn:uuid:doc-{row.doc_id}>",
                        "WARC-Target-URI": (
                            f"http://corpus.example/doc/{row.doc_id}"
                        ),
                        "WARC-Date": ts,
                        "Content-Type": "application/http; msgtype=response",
                    },
                    warc.http_response_payload(body),
                )
            )
        if i == 1:  # whole-file gzip
            blob = gzip.compress(b"".join(recs), mtime=0)
            name = f"part-{i}.warc.gz"
        elif i == 3:  # one gzip member per record (the standard layout)
            blob = b"".join(warc.gzip_member(r) for r in recs)
            name = f"part-{i}.warc.gz"
        else:
            blob = b"".join(recs)
            name = f"part-{i}.warc"
        with open(os.path.join(tmp, name), "wb") as fh:
            fh.write(blob)
    return tmp


_WARC_PROJECTION_ORACLE = f"""
SELECT doc_id,
       CAST(200 AS BIGINT) AS http_status,
       'text/plain' AS content_type,
       CAST(octet_length(encode(text)) AS BIGINT) AS payload_len,
       CAST({_WARC_EPOCH} + doc_id AS BIGINT) AS warc_epoch_s,
       md5(text) AS body_md5
FROM documents
"""


def _warc_extract(df):
    return df.filter(F.col("warc_type") == "response").select(
        F.regexp_extract("target_uri", r"doc/(\d+)$", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("http_status").cast("long").alias("http_status"),
        "content_type",
        F.col("payload_len").cast("long").alias("payload_len"),
        F.unix_timestamp("warc_date").cast("long").alias("warc_epoch_s"),
        F.md5("http_body").alias("body_md5"),
    )


def _q_warc_responses(spark, sf_dir):
    """Extract the response records across all three .warc/.warc.gz
    layouts and recover each document exactly (status, content-type,
    byte length, timestamp, body md5) — proving the parse, the HTTP
    split, the gzip member handling, and the binary payload path in
    one query."""
    from tabular_to_parquet_spark.sources.warc import read_warc_python

    tmp = _build_warc_fixture(spark, sf_dir)
    return _warc_extract(read_warc_python(spark, tmp))


register("warc1_response_extract", _WARC_PROJECTION_ORACLE)(_q_warc_responses)


def _q_warc_roundtrip(spark, sf_dir):
    """The conversion-product path: WARC -> typed zstd parquet
    (warc_adapter through run_conversion, as --format warc) -> read
    back -> same projection; proves the extraction schema (timestamp,
    int, binary) survives the parquet sink bit-exactly."""
    import os
    import tempfile

    from tabular_to_parquet_spark.operators.convert import run_conversion
    from tabular_to_parquet_spark.sources.warc import warc_adapter

    tmp = _build_warc_fixture(spark, sf_dir)
    out = os.path.join(tempfile.mkdtemp(prefix="warc2_"), "warc.parquet")
    types = run_conversion(spark, warc_adapter(spark, tmp), out).types
    assert types is None, "typed extraction must skip inference"
    return _warc_extract(spark.read.parquet(out))


register("warc2_conversion_roundtrip", _WARC_PROJECTION_ORACLE)(
    _q_warc_roundtrip
)


# ---------------------------------------------------------------------------
# st11 — streaming HLL registers == batch registers (max-merge
# linearity; the st10 companion with the OTHER merge algebra: CMS
# merges by sum — at-least-once replays over-count — HLL merges by
# max, so replays are free idempotent no-ops).


def _q_stream_hll(spark, sf_dir):
    """Events arrive as three mtime-pinned single-file micro-batches;
    each appends its <=64-row partial register table, and the drained
    per-bucket MAX must equal the one-shot batch sketch exactly (the
    register construction is deterministic md5 arithmetic, so DuckDB
    re-derives it value-for-value).  Final merge aggregates <=3*64
    partial rows — O(1) in corpus size."""
    import os

    from tabular_to_parquet_spark.parity.extensions import _micro_batch_dir
    from tabular_to_parquet_spark.streaming.streams import stream_hll

    events = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    tmp = _micro_batch_dir(events.orderBy("event_id"), 3, "st11_hll_")
    q = stream_hll(
        spark, os.path.join(tmp, "in"), os.path.join(tmp, "out"),
        os.path.join(tmp, "ckpt"),
    )
    q.awaitTermination()
    return (
        spark.read.parquet(os.path.join(tmp, "out"))
        .groupBy(F.col("bucket").cast("long").alias("bucket"))
        .agg(F.max("register").cast("long").alias("register"))
    )


def _st11_oracle() -> str:
    from tabular_to_parquet_spark.operators import sketches as sk

    rel = sk.hll_sql("CAST(user_id AS VARCHAR)").replace(
        "__HLL_SRC__", "events"
    )
    return f"SELECT bucket, register FROM {rel} AS hll"


register("st11_stream_hll", _st11_oracle())(_q_stream_hll)


# ---------------------------------------------------------------------------
# s12 — MMR diverse selection (greedy argmax with anti-redundancy):
# dedup's constructive dual — instead of dropping near-duplicates,
# never PICK two of them.  Iterative-with-bounded-state like s08's
# Lloyd rounds; the oracle is the g03-rule unroll (every round's CTE
# AS MATERIALIZED).


def _q_mmr_selection(spark, sf_dir):
    """similarity.mmr_select: 5 greedy rounds over the corpus, query =
    vec 0, lambda = 1/2 (score = rel - max_sim, both exact int64
    fixed-point dots).  Each round is one distributed projection + a
    TakeOrdered top-1; only the 5x64-int selected set round-trips the
    driver."""
    import math

    from tabular_to_parquet_spark.operators import similarity

    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") == 0).select("embedding").head()["embedding"]
    qf = [math.floor(float(v) * 1048576.0) for v in q]
    rows = similarity.mmr_select(emb, qf, k=5, exclude_ids=(0,))
    return spark.createDataFrame(
        [
            (
                r["rank"],
                r["vec_id"],
                r["rel_fixed"],
                r["max_sim_fixed"],
                r["score_fixed"],
            )
            for r in rows
        ],
        "rank long, vec_id long, rel_fixed long, max_sim_fixed long, "
        "score_fixed long",
    )


def _s12_oracle(k: int = 5) -> str:
    def dot(a: str, b: str) -> str:
        return (
            f"list_reduce(list_transform(range(1, 65), "
            f"i -> {a}[i] * {b}[i]), (x, y) -> x + y)"
        )

    fx = (
        "list_transform(embedding, "
        "x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT))"
    )
    parts = [
        f"""q AS MATERIALIZED (
    SELECT {fx} AS qf FROM embeddings WHERE vec_id = 0
),
cand AS MATERIALIZED (
    SELECT vec_id, {fx} AS df FROM embeddings WHERE vec_id <> 0
),
rel AS MATERIALIZED (
    SELECT c.vec_id, c.df, {dot('c.df', 'q.qf')} AS rel
    FROM cand c CROSS JOIN q
),
p1 AS MATERIALIZED (
    SELECT vec_id, df, rel, CAST(0 AS BIGINT) AS ms, rel AS score
    FROM rel ORDER BY rel DESC, vec_id LIMIT 1
),
sel1 AS MATERIALIZED (SELECT vec_id, df FROM p1)"""
    ]
    for r in range(2, k + 1):
        parts.append(
            f""",
sc{r} AS MATERIALIZED (
    SELECT c.vec_id, c.df, c.rel, MAX({dot('c.df', 's.df')}) AS ms
    FROM rel c CROSS JOIN sel{r - 1} s
    WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{r - 1})
    GROUP BY c.vec_id, c.df, c.rel
),
p{r} AS MATERIALIZED (
    SELECT vec_id, df, rel, ms, rel - ms AS score
    FROM sc{r} ORDER BY score DESC, vec_id LIMIT 1
),
sel{r} AS MATERIALIZED (
    SELECT vec_id, df FROM sel{r - 1}
    UNION ALL SELECT vec_id, df FROM p{r}
)"""
        )
    unions = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS BIGINT) AS rank, vec_id, "
        f"CAST(rel AS BIGINT) AS rel_fixed, CAST(ms AS BIGINT) AS max_sim_fixed, "
        f"CAST(score AS BIGINT) AS score_fixed FROM p{r}"
        for r in range(1, k + 1)
    )
    return "WITH " + "".join(parts) + "\n" + unions


register("s12_mmr_selection", _s12_oracle())(_q_mmr_selection)


# ---------------------------------------------------------------------------
# st12 — streaming Pareto frontier == batch frontier.  The third merge
# algebra in the streaming-sketch family: CMS merges by SUM (st10,
# replays over-count), HLL by MAX (st11, replays free), the skyline by
# DOMINANCE ELIMINATION (sub-semilattice: skyline(A∪B) =
# skyline(skyline(A)∪skyline(B))) — certified against the SAME oracle
# as the batch query a40.


def _q_stream_pareto(spark, sf_dir):
    """The a40 projection arrives as three mtime-pinned micro-batches;
    each appends its batch-local frontier, and the skyline over the
    appended survivors must equal the one-shot corpus skyline
    exactly."""
    import os

    from tabular_to_parquet_spark.operators.ordering import pareto_frontier_2d
    from tabular_to_parquet_spark.parity.extensions import _micro_batch_dir
    from tabular_to_parquet_spark.streaming.streams import stream_pareto

    base = _docs(spark, sf_dir).select(
        "doc_id",
        F.col("n_chars").alias("len_chars"),
        F.size(F.array_distinct(ta.tokens(F.lower(F.col("text")))))
        .cast("long")
        .alias("n_types"),
    )
    tmp = _micro_batch_dir(base.orderBy("doc_id"), 3, "st12_sky_")
    q = stream_pareto(
        spark,
        os.path.join(tmp, "in"),
        os.path.join(tmp, "out"),
        os.path.join(tmp, "ckpt"),
        "len_chars",
        "n_types",
    )
    q.awaitTermination()
    survivors = spark.read.parquet(os.path.join(tmp, "out"))
    return pareto_frontier_2d(
        survivors, "len_chars", "n_types", bucket=F.pmod(F.col("doc_id"), F.lit(32))
    ).select("doc_id", "len_chars", "n_types")


from tabular_to_parquet_spark.parity.catalog import CATALOG as _CATALOG  # noqa: E402

register("st12_stream_pareto", _CATALOG["a40_pareto_frontier"].oracle)(
    _q_stream_pareto
)


# ---------------------------------------------------------------------------
# warc3 — distributed WARC writer roundtrip (the ipc3 shape on the new
# format: write_warc emits one member-per-record .warc.gz per
# partition executor-side + a _SUCCESS manifest the reader honors).


def _q_warc_writer_roundtrip(spark, sf_dir):
    """documents -> write_warc (4 partitions, executor-side, two-phase
    manifest) -> read_warc_python -> the warc1 projection; same oracle
    as warc1/warc2.  Completes the crawl-pipeline symmetry: ingest
    (warc1), convert (warc2), re-archive (warc3)."""
    import os
    import tempfile

    from tabular_to_parquet_spark.sources.warc import (
        read_warc_python,
        write_warc,
    )

    frame = _docs(spark, sf_dir).select(
        F.concat(F.lit("http://corpus.example/doc/"), F.col("doc_id")).alias(
            "target_uri"
        ),
        F.timestamp_seconds(F.lit(_WARC_EPOCH) + F.col("doc_id")).alias(
            "warc_date"
        ),
        F.encode(F.col("text"), "UTF-8").alias("http_body"),
    )
    out = os.path.join(tempfile.mkdtemp(prefix="warc3_"), "arch")
    write_warc(frame.repartition(4), out)
    return _warc_extract(read_warc_python(spark, out))


register("warc3_writer_roundtrip", _WARC_PROJECTION_ORACLE)(
    _q_warc_writer_roundtrip
)


# ---------------------------------------------------------------------------
# pr27 — HLL estimator audit: the harmonic-mean numerator is EXACTLY
# representable as an integer (S = sum over all 64 buckets of
# 2^(49 - register), register <= 49 -> terms <= 2^49, sum < 2^55), so
# the estimator's full input — registers, zero-bucket count (linear
# counting branch), exact truth — ships as one hash-checkable row.
# The float estimate 0.709 * m^2 * 2^49 / S is one division away,
# left to the caller (sufficient-statistics discipline).


def _q_hll_estimate_audit(spark, sf_dir):
    """sketches.hll_registers over events.user_id, completed to all 64
    buckets (missing bucket = register 0), folded to the exact integer
    estimator inputs + the exact distinct count.  Bounded everywhere:
    the register table is <=64 rows; the two 1-row aggregates cross-
    join (allowlisted scalar BNLJ)."""
    from tabular_to_parquet_spark.operators import sketches as sk

    events = load_table(spark, sf_dir, "events")
    regs = sk.hll_registers(events, "user_id")
    full = (
        spark.range(sk.HLL_BUCKETS)
        .select(F.col("id").cast("long").alias("bucket"))
        .join(regs, "bucket", "left")
        .select(F.coalesce("register", F.lit(0)).cast("long").alias("register"))
    )
    s = full.agg(
        F.lit(sk.HLL_BUCKETS).cast("long").alias("m"),
        F.sum(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(49 - register AS INT))")
        )
        .cast("long")
        .alias("harmonic_num"),
        F.sum((F.col("register") == 0).cast("long"))
        .cast("long")
        .alias("zero_registers"),
    )
    d = events.agg(
        F.countDistinct("user_id").cast("long").alias("exact_distinct")
    )
    return s.crossJoin(d)


def _pr27_oracle() -> str:
    from tabular_to_parquet_spark.operators import sketches as sk

    rel = sk.hll_sql("CAST(user_id AS VARCHAR)").replace(
        "__HLL_SRC__", "events"
    )
    return f"""
WITH regs AS ({rel}),
fullr AS (
    SELECT COALESCE(register, 0) AS register
    FROM (SELECT unnest(range(0, {sk.HLL_BUCKETS})) AS b) g
    LEFT JOIN regs ON g.b = regs.bucket
),
s AS (
    SELECT CAST({sk.HLL_BUCKETS} AS BIGINT) AS m,
           CAST(SUM(1::BIGINT << CAST(49 - register AS INT)) AS BIGINT)
               AS harmonic_num,
           CAST(SUM(CASE WHEN register = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS zero_registers
    FROM fullr
),
d AS (
    SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
    FROM events
)
SELECT m, harmonic_num, zero_registers, exact_distinct FROM s CROSS JOIN d
"""


register("pr27_hll_estimate_audit", _pr27_oracle())(_q_hll_estimate_audit)


# ---------------------------------------------------------------------------
# tar1 — TAR container source (archives of delimited members through
# the SHARED inference + lenient-cast pipeline; sources/tar_source.py).


def _q_tar_csv_members(spark, sf_dir):
    """Two archives (one .tar, one .tar.gz) x three CSV members each,
    holding the ipc2 stringly lineitem slice -> convert_tar_csv_to_
    parquet (binaryFile -> executor-side tarfile + csv.reader ->
    shared inference -> lenient casts -> zstd parquet): int64, float64,
    string, ms-timestamp all recovered from text.  Same oracle as the
    other stringly-container formats."""
    import csv as _csv
    import io as _io
    import os
    import tarfile as _tarfile
    import tempfile

    from tabular_to_parquet_spark.parity.extensions import _fixture_pdf
    from tabular_to_parquet_spark.operators.convert import run_conversion
    from tabular_to_parquet_spark.sources.tar_source import (
        tar_adapter,
    )

    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") < 250000  # bounded fixture; see avro1
    )
    pdf = _fixture_pdf(
        li.select(
            F.col("l_orderkey").cast("string"),
            F.col("l_quantity").cast("string"),
            F.col("l_returnflag").cast("string"),
            F.date_format("l_shipdate", "yyyy-MM-dd HH:mm:ss.SSS").alias(
                "l_shipdate"
            ),
        )
    )
    tmp = tempfile.mkdtemp(prefix="tar1_")
    arch_dir = os.path.join(tmp, "archives")
    os.makedirs(arch_dir)
    n_arch, n_members = 2, 3
    step = max(1, (len(pdf) + n_arch * n_members - 1) // (n_arch * n_members))
    chunks = [pdf.iloc[i : i + step] for i in range(0, len(pdf), step)]
    for a in range(n_arch):
        gz = a == 1
        name = os.path.join(arch_dir, f"dump-{a}.tar" + (".gz" if gz else ""))
        with _tarfile.open(name, "w:gz" if gz else "w") as tf:
            for m in range(n_members):
                idx = a * n_members + m
                part = chunks[idx] if idx < len(chunks) else pdf.iloc[0:0]
                buf = _io.StringIO()
                w = _csv.writer(buf)
                w.writerow(list(pdf.columns))
                for row in part.itertuples(index=False):
                    w.writerow(list(row))
                data = buf.getvalue().encode("utf-8")
                info = _tarfile.TarInfo(name=f"member-{a}-{m}.csv")
                info.size = len(data)
                tf.addfile(info, _io.BytesIO(data))
    out = os.path.join(tmp, "lineitem_tar.parquet")
    types = run_conversion(spark, tar_adapter(spark, arch_dir), out).types
    assert types is not None, "tar members must run inference"
    return spark.read.parquet(out)


register("tar1_csv_members", """
SELECT l_orderkey, l_quantity, l_returnflag,
       date_trunc('milliseconds', l_shipdate)::TIMESTAMP AS l_shipdate
FROM lineitem WHERE l_orderkey < 250000
""")(_q_tar_csv_members)


# ---------------------------------------------------------------------------
# x43 — BPE merge LEARNING (the training half of the tokenizer story;
# x06/x11 apply a fixed merge table, this derives one).  Iterative
# argmax-and-rewrite, all in one Catalyst plan (TakeOrdered top-1 +
# 1-row broadcast per round); the oracle is the g03-rule MATERIALIZED
# unroll over identical replace() semantics.


def _q_bpe_learn(spark, sf_dir):
    """ta.bpe_learn_merges over documents: 3 learned merges with their
    corpus-wide pair counts.  Ties go to the lexicographically
    smallest pair on both engines."""
    return ta.bpe_learn_merges(_docs(spark, sf_dir), rounds=3)


def _x43_oracle(rounds: int = 3, marker: str = "@@") -> str:
    norm = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    parts = [f"t1 AS MATERIALIZED (SELECT {norm} AS t FROM documents)"]
    for r in range(1, rounds + 1):
        parts.append(f""",
p{r} AS MATERIALIZED (
    SELECT pr AS pair, CAST(COUNT(*) AS BIGINT) AS n
    FROM t{r}, LATERAL (
        SELECT unnest(list_transform(
            range(1, len(string_split(t, ' '))),
            i -> string_split(t, ' ')[i] || ' ' || string_split(t, ' ')[i + 1]
        )) AS pr)
    GROUP BY pr
),
b{r} AS MATERIALIZED (
    SELECT pair, n FROM p{r} ORDER BY n DESC, pair LIMIT 1
)""")
        if r < rounds:
            # whole-token rewrite (double-space padding) — must mirror
            # ta.bpe_learn_merges exactly; see its docstring
            parts.append(f""",
t{r + 1} AS MATERIALIZED (
    SELECT trim(replace(replace(
        ' ' || replace(t, ' ', '  ') || ' ',
        ' ' || replace(b.pair, ' ', '  ') || ' ',
        ' ' || replace(b.pair, ' ', '{marker}') || ' '
    ), '  ', ' ')) AS t
    FROM t{r} CROSS JOIN b{r} b
)""")
    unions = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS BIGINT) AS round, pair, n FROM b{r}"
        for r in range(1, rounds + 1)
    )
    return "WITH " + "".join(parts) + "\n" + unions


register("x43_bpe_merge_learning", _x43_oracle())(_q_bpe_learn)


# ---------------------------------------------------------------------------
# s13 — IVF-ADC search (the production ANN read path: IVF probing from
# s03 composed with the PQ codes from s11; candidates are scored by
# four lookups into a per-query table, never by their raw vectors).


def _q_knn_ivf_pq(spark, sf_dir):
    """similarity.knn_ivf_pq over the standard query workload
    (vec_id % 50 = 0): top-5 by exact fixed-point ADC distance, ties
    to the lowest neighbor id. The corpus side is one mapInArrow
    sweep (similarity.pq_cell_codes: cell + PQ codes)."""
    from tabular_to_parquet_spark.operators import similarity

    emb = _emb(spark, sf_dir)
    return similarity.knn_ivf_pq(
        emb, emb.filter(F.expr("vec_id % 50 = 0")), k=5
    )


def _s13_oracle(k: int = 5) -> str:
    from tabular_to_parquet_spark.operators import similarity
    from tabular_to_parquet_spark.parity.extensions import _QFILTER, _dot

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
    probe_structs = ", ".join(
        f"{{'negscore': -s_{c}, 'cell': {c}}}" for c in range(len(anchors))
    )
    books = similarity.pq_codebooks_fixed()
    subspaces, codes = len(books), len(books[0])
    sub = len(books[0][0])
    f = "CAST(floor(embedding[{off} + i] * 1048576.0) AS BIGINT)"

    def dcol(s: int, c: int, prefix: str) -> str:
        g = "[" + ", ".join(str(v) for v in books[s][c]) + "]"
        fe = f.format(off=s * sub)
        return (
            f"list_reduce(list_transform(list_transform(range(1, {sub + 1}), "
            f"i -> {fe} - ({g})[i]), d -> d * d), (x, y) -> x + y) "
            f"AS {prefix}_{s}_{c}"
        )

    d_cols = ", ".join(
        dcol(s, c, "d") for s in range(subspaces) for c in range(codes)
    )
    lut_cols = ", ".join(
        dcol(s, c, "lut") for s in range(subspaces) for c in range(codes)
    )
    code_cases = ", ".join(
        "CAST((CASE "
        + " ".join(
            f"WHEN d_{s}_{c} = least("
            + ", ".join(f"d_{s}_{cc}" for cc in range(codes))
            + f") THEN {c}"
            for c in range(codes)
        )
        + " END) AS BIGINT) AS c_" + str(s)
        for s in range(subspaces)
    )
    dist = " + ".join(
        "(CASE cc.c_" + str(s) + " "
        + " ".join(f"WHEN {c} THEN q.lut_{s}_{c}" for c in range(codes))
        + " END)"
        for s in range(subspaces)
    )
    return f"""
WITH base AS (
    SELECT vec_id, embedding, {score_cols}, {d_cols} FROM embeddings
),
cellcodes AS (
    SELECT vec_id, (CASE {cell_case} END) AS cell, {code_cases} FROM base
),
probes AS (
    SELECT vec_id AS query_id, p['cell'] AS cell
    FROM base,
         LATERAL (SELECT unnest(list_slice(list_sort([{probe_structs}]), 1,
                         {similarity.IVF_PROBES})) AS p)
    WHERE {_QFILTER}
),
qlut AS (
    SELECT vec_id AS query_id, {lut_cols} FROM embeddings WHERE {_QFILTER}
),
cand AS (
    SELECT p.query_id, cc.vec_id AS neighbor_id,
           CAST({dist} AS BIGINT) AS adc_dist_fixed
    FROM probes p JOIN cellcodes cc USING (cell)
                  JOIN qlut q ON q.query_id = p.query_id
    WHERE cc.vec_id != p.query_id
),
ranked AS (
    SELECT *, row_number() OVER
        (PARTITION BY query_id ORDER BY adc_dist_fixed, neighbor_id) AS rank
    FROM cand
)
SELECT query_id, neighbor_id, adc_dist_fixed, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {k}
"""


register("s13_knn_ivf_pq", _s13_oracle())(_q_knn_ivf_pq)


# ---------------------------------------------------------------------------
# xlsx1 — XLSX source (stdlib OOXML reader; sources/xlsx_source.py)
# through the shared inference pipeline.


def _q_xlsx_string_inference(spark, sf_dir):
    """Two single-sheet workbooks (inline-string cells) holding the
    stringly lineitem slice -> xlsx_adapter (binaryFile ->
    executor-side zip+XML parse -> shared inference -> lenient casts):
    the ipc2/tar1 shape on the spreadsheet wire format; same oracle."""
    import os
    import tempfile

    from tabular_to_parquet_spark.parity.extensions import _fixture_pdf
    from tabular_to_parquet_spark.operators.convert import run_conversion
    from tabular_to_parquet_spark.sources.xlsx_source import (
        xlsx_adapter,
        write_xlsx,
    )

    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") < 250000  # bounded fixture; see avro1
    )
    pdf = _fixture_pdf(
        li.select(
            F.col("l_orderkey").cast("string"),
            F.col("l_quantity").cast("string"),
            F.col("l_returnflag").cast("string"),
            F.date_format("l_shipdate", "yyyy-MM-dd HH:mm:ss.SSS").alias(
                "l_shipdate"
            ),
        )
    )
    tmp = tempfile.mkdtemp(prefix="xlsx1_")
    wb_dir = os.path.join(tmp, "books")
    os.makedirs(wb_dir)
    half = (len(pdf) + 1) // 2
    for i, part in enumerate((pdf.iloc[:half], pdf.iloc[half:])):
        rows = [list(pdf.columns)] + [
            [str(v) for v in row] for row in part.itertuples(index=False)
        ]
        write_xlsx(rows, os.path.join(wb_dir, f"book-{i}.xlsx"))
    out = os.path.join(tmp, "lineitem_xlsx.parquet")
    types = run_conversion(spark, xlsx_adapter(spark, wb_dir), out).types
    assert types is not None, "xlsx members must run inference"
    return spark.read.parquet(out)


register("xlsx1_string_inference", """
SELECT l_orderkey, l_quantity, l_returnflag,
       date_trunc('milliseconds', l_shipdate)::TIMESTAMP AS l_shipdate
FROM lineitem WHERE l_orderkey < 250000
""")(_q_xlsx_string_inference)


register("s13_knn_ivf_pq_fast", _CATALOG["s13_knn_ivf_pq"].oracle)(
    _q_knn_ivf_pq
)


# ---------------------------------------------------------------------------
# d20 — PQ-prefiltered dedup cascade (SDC candidates -> exact verify):
# the production two-stage pattern, with both scores emitted so the
# output doubles as the prefilter calibration table.

_D20_SDC_BOUND = 12_000_000_000_000
_D20_EXACT_BOUND = 1_700_000_000_000


def _q_pq_dedup_cascade(spark, sf_dir):
    """similarity.pq_dedup_cascade over embeddings: IVF-cell-blocked
    pairs scored by the 8x8 SDC codeword tables (no vector math),
    exact 2^20 fixed-point verification only for SDC survivors."""
    from tabular_to_parquet_spark.operators import similarity

    return similarity.pq_dedup_cascade(
        _emb(spark, sf_dir), _D20_SDC_BOUND, _D20_EXACT_BOUND
    )


def _d20_oracle() -> str:
    from tabular_to_parquet_spark.operators import similarity
    from tabular_to_parquet_spark.parity.extensions import _dot

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
    books = similarity.pq_codebooks_fixed()
    subspaces, codes = len(books), len(books[0])
    sub = len(books[0][0])
    f = "CAST(floor(embedding[{off} + i] * 1048576.0) AS BIGINT)"

    def dcol(s: int, c: int) -> str:
        g = "[" + ", ".join(str(v) for v in books[s][c]) + "]"
        fe = f.format(off=s * sub)
        return (
            f"list_reduce(list_transform(list_transform(range(1, {sub + 1}), "
            f"i -> {fe} - ({g})[i]), d -> d * d), (x, y) -> x + y) AS d_{s}_{c}"
        )

    d_cols = ", ".join(dcol(s, c) for s in range(subspaces) for c in range(codes))
    code_cases = ", ".join(
        "CAST((CASE "
        + " ".join(
            f"WHEN d_{s}_{c} = least("
            + ", ".join(f"d_{s}_{cc}" for cc in range(codes))
            + f") THEN {c}"
            for c in range(codes)
        )
        + " END) AS BIGINT) AS c_" + str(s)
        for s in range(subspaces)
    )
    tables = similarity.pq_sdc_tables()
    sdc_terms = []
    for s, tbl in enumerate(tables):
        lit = "[" + ", ".join(
            "[" + ", ".join(str(v) for v in row) + "]" for row in tbl
        ) + "]"
        sdc_terms.append(f"({lit})[a.c_{s} + 1][b.c_{s} + 1]")
    sdc = " + ".join(sdc_terms)
    return f"""
WITH base AS (
    SELECT vec_id, embedding, {score_cols}, {d_cols} FROM embeddings
),
cellcodes AS (
    SELECT vec_id, (CASE {cell_case} END) AS cell, {code_cases},
           list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS f
    FROM base
),
cand AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           CAST({sdc} AS BIGINT) AS sdc_dist_fixed, a.f AS fa, b.f AS fb
    FROM cellcodes a JOIN cellcodes b
      ON a.cell = b.cell AND a.vec_id < b.vec_id
    WHERE {sdc} <= {_D20_SDC_BOUND}
)
SELECT id_a, id_b, sdc_dist_fixed,
       CAST(list_reduce(list_transform(range(1, 65),
            i -> (fa[i] - fb[i]) * (fa[i] - fb[i])), (x, y) -> x + y)
            AS BIGINT) AS exact_dist_fixed
FROM cand
WHERE list_reduce(list_transform(range(1, 65),
          i -> (fa[i] - fb[i]) * (fa[i] - fb[i])), (x, y) -> x + y)
      <= {_D20_EXACT_BOUND}
"""


register("d20_pq_dedup_cascade", _d20_oracle())(_q_pq_dedup_cascade)


# ---------------------------------------------------------------------------
# d21 — LSH banding calibration over a planted graded near-dup corpus
# (r10 verdict item 3: measured candidate recall per similarity grade,
# making the K=16/bands=4/threshold-0.5 defaults defensible at 100 TB).
# Oracle mirrors the WHOLE pipeline — variant construction, shingles,
# md5 minhash, banding join, confusion counts — token for token.


def _q_banding_calibration(spark, sf_dir):
    """dedup.banding_calibration over documents: per-grade planted
    pairs, banding candidates, est>=0.5 survivors, and exact integer
    Jaccard mass (sum_inter/sum_union) + min/max true Jaccard."""
    from tabular_to_parquet_spark.operators import dedup

    return dedup.banding_calibration(_docs(spark, sf_dir))


def _d21_oracle() -> str:
    from tabular_to_parquet_spark.operators import dedup
    from tabular_to_parquet_spark.parity.extensions import (
        _MH_CAND_CTE,
        _MH_EQ,
        _mh_banded_cte,
        _mh_sigs_cte,
        _shingles,
        _TOKS,
    )

    grades = ", ".join(str(g) for g in dedup.CALIBRATION_GRADES)
    half = dedup.MINHASH_K // 2
    return f"""
WITH grades AS (SELECT unnest([{grades}]) AS g),
basedocs AS (
    SELECT doc_id, text, {_TOKS} AS toks, len({_TOKS}) AS n
    FROM documents
    WHERE doc_id % 7 = 0 AND len({_TOKS}) >= 20
),
variants AS (
    SELECT -(doc_id * 1000 + g) AS doc_id,
           array_to_string(list_concat(
               toks[1:keep],
               list_transform(range(keep + 1, n + 1),
                   i -> 'zz' || doc_id::VARCHAR || 'x' || g::VARCHAR
                        || 'x' || i::VARCHAR)
           ), ' ') AS text
    FROM (SELECT doc_id, toks, n, g, (n * g + 99) // 100 AS keep
          FROM basedocs CROSS JOIN grades)
),
planted AS MATERIALIZED (
    SELECT doc_id, text FROM basedocs
    UNION ALL SELECT doc_id, text FROM variants
),
{_mh_sigs_cte("planted", materialized=True)},
{_mh_banded_cte()},
{_MH_CAND_CTE},
scored_cand AS (
    SELECT id_a, id_b, ({_MH_EQ}) AS matches
    FROM cand JOIN sigs a ON a.doc_id = id_a JOIN sigs b ON b.doc_id = id_b
),
sh AS MATERIALIZED (
    SELECT doc_id, {_shingles(_TOKS)} AS sh FROM planted
),
truth AS (
    SELECT doc_id AS id_a, (-doc_id) // 1000 AS id_b,
           (-doc_id) % 1000 AS grade
    FROM planted WHERE doc_id < 0
),
j AS (
    SELECT t.grade,
           len(list_intersect(a.sh, b.sh)) AS inter,
           len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS un,
           c.matches
    FROM truth t
    JOIN sh a ON a.doc_id = t.id_a
    JOIN sh b ON b.doc_id = t.id_b
    LEFT JOIN scored_cand c ON c.id_a = t.id_a AND c.id_b = t.id_b
)
SELECT CAST(grade AS BIGINT) AS grade,
       CAST(COUNT(*) AS BIGINT) AS n_planted,
       CAST(SUM(CASE WHEN matches IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_candidates,
       CAST(SUM(CASE WHEN matches >= {half} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_est_ge_05,
       CAST(SUM(inter) AS BIGINT) AS sum_inter,
       CAST(SUM(un) AS BIGINT) AS sum_union,
       MIN(inter::DOUBLE / un) AS min_true_jaccard,
       MAX(inter::DOUBLE / un) AS max_true_jaccard
FROM j GROUP BY grade
"""


register("d21_banding_calibration", _d21_oracle())(_q_banding_calibration)


# ---------------------------------------------------------------------------
# d22 — exact longest-duplicated-substring pairs (the Lee et al.
# exact-substring dedup re-expressed relationally: df-capped seed
# k-grams -> string equi-join -> gaps-and-islands per alignment
# offset).  The testdata contains genuine near-full-text duplicates
# (lcs up to ~530 chars on a ~550-char corpus), so the output is the
# real dedup verdict, not a toy.

_D22_K = 24
_D22_MAX_DF = 6


def _q_substring_dedup(spark, sf_dir):
    """dedup.substring_duplicate_spans over documents: exact common
    substrings of >= 24 chars between doc pairs, longest span +
    seed-hit count per pair."""
    from tabular_to_parquet_spark.operators import dedup

    return dedup.substring_duplicate_spans(
        _docs(spark, sf_dir), k=_D22_K, max_df=_D22_MAX_DF
    )


def _d22_oracle() -> str:
    k, max_df = _D22_K, _D22_MAX_DF
    return f"""
WITH wins AS (
  SELECT doc_id AS doc, CAST(i AS BIGINT) AS pos,
         substr(text, CAST(i AS INT), {k}) AS g
  FROM (SELECT * FROM documents WHERE length(text) >= {k}),
       unnest(range(1, length(text) - {k} + 2)) AS t(i)
),
seeds AS (
  SELECT g FROM wins GROUP BY g
  HAVING count(DISTINCT doc) BETWEEN 2 AND {max_df}
),
hits AS (
  SELECT x.doc AS doc_a, y.doc AS doc_b, x.pos AS pa, y.pos AS pb
  FROM wins x JOIN seeds s ON x.g = s.g
  JOIN wins y ON x.g = y.g AND x.doc < y.doc
),
isl AS (
  SELECT doc_a, doc_b, pa - pb AS off, pa,
         pa - row_number() OVER (
             PARTITION BY doc_a, doc_b, pa - pb ORDER BY pa) AS grp
  FROM hits
),
spans AS (
  SELECT doc_a, doc_b, max(pa) - min(pa) + {k} AS span
  FROM isl GROUP BY doc_a, doc_b, off, grp
),
pair_lcs AS (
  SELECT doc_a, doc_b, CAST(max(span) AS BIGINT) AS lcs_len
  FROM spans GROUP BY 1, 2
),
pair_hits AS (
  SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS n_seed_hits
  FROM hits GROUP BY 1, 2
)
SELECT doc_a, doc_b, lcs_len, n_seed_hits
FROM pair_lcs JOIN pair_hits USING (doc_a, doc_b)
"""


register("d22_substring_dedup", _d22_oracle())(_q_substring_dedup)


# d23 — per-document duplicated-character fraction (the Lee et al.
# FILTER metric the d22 spans feed): islands become [start, end]
# intervals on both sides of each pair, merged per document by the
# running-max sweep; every document emits (n_chars, dup_chars,
# dup_permille), all-integer.


def _q_dup_char_fraction(spark, sf_dir):
    """dedup.duplicated_char_fraction over documents: per-doc exact
    duplicated-char mass under the same df-capped >= 24-char-span
    witnessing as d22."""
    from tabular_to_parquet_spark.operators import dedup

    return dedup.duplicated_char_fraction(
        _docs(spark, sf_dir), k=_D22_K, max_df=_D22_MAX_DF
    )


def _d23_oracle() -> str:
    k, max_df = _D22_K, _D22_MAX_DF
    return f"""
WITH wins AS (
  SELECT doc_id AS doc, CAST(i AS BIGINT) AS pos,
         substr(text, CAST(i AS INT), {k}) AS g
  FROM (SELECT * FROM documents WHERE length(text) >= {k}),
       unnest(range(1, length(text) - {k} + 2)) AS t(i)
),
seeds AS (
  SELECT g FROM wins GROUP BY g
  HAVING count(DISTINCT doc) BETWEEN 2 AND {max_df}
),
hits AS (
  SELECT x.doc AS doc_a, y.doc AS doc_b, x.pos AS pa, y.pos AS pb
  FROM wins x JOIN seeds s ON x.g = s.g
  JOIN wins y ON x.g = y.g AND x.doc < y.doc
),
isl AS (
  SELECT doc_a, doc_b, pa - pb AS off, pa,
         pa - row_number() OVER (
             PARTITION BY doc_a, doc_b, pa - pb ORDER BY pa) AS grp
  FROM hits
),
sp AS (
  SELECT doc_a, doc_b, off, min(pa) AS sa, max(pa) + {k - 1} AS ea
  FROM isl GROUP BY doc_a, doc_b, off, grp
),
iv AS (
  SELECT doc_a AS doc, sa AS s, ea AS e FROM sp
  UNION ALL
  SELECT doc_b AS doc, sa - off AS s, ea - off AS e FROM sp
),
-- |union of intervals| as COUNT(DISTINCT covered position): identical
-- to the running-max merge by definition, with NO window function.
-- The old windowed merge (max(e) OVER ... ROWS ... 1 PRECEDING) was
-- intermittently computed WRONG by DuckDB 1.0.0's parallel window
-- operator when fed by this pipelined UNION (r14 finding: ~1/3 of
-- multithreaded runs over-counted a duplicated interval; SET
-- threads=1 was 100% stable, engine values unchanged throughout —
-- the flake was purely oracle-side).  Bounded: positions <= corpus
-- chars, and the oracle only runs at correctness-check SFs.  NOTE
-- (r14 ADVICE): unnest expands one row per covered char per interval
-- BEFORE the DISTINCT — sum-of-span-lengths rows, which on heavily
-- overlapping spans exceeds the merged length the old run-merge
-- touched.  Fine at oracle SFs; if a huge-doc fixture is ever run
-- through this oracle, fall back to the running-max merge under
-- SET threads=1 (100% stable in the r14 campaign).
dup AS (
  SELECT doc, CAST(count(DISTINCT t.p) AS BIGINT) AS dup_chars
  FROM iv, unnest(range(iv.s, iv.e + 1)) AS t(p)
  GROUP BY doc
)
SELECT d.doc_id,
       CAST(length(d.text) AS BIGINT) AS n_chars,
       COALESCE(dup.dup_chars, 0) AS dup_chars,
       CAST(CASE WHEN length(d.text) > 0
            THEN (1000 * COALESCE(dup.dup_chars, 0)) // length(d.text)
            ELSE 0 END AS BIGINT) AS dup_permille
FROM documents d LEFT JOIN dup ON dup.doc = d.doc_id
"""


register("d23_dup_char_fraction", _d23_oracle())(_q_dup_char_fraction)


# d24 — exact-substring decontamination (corpus x eval bipartite, the
# strong form of pl-family n-gram decontamination): corpus docs
# sharing an exact >= 24-char span with any eval doc (doc_id % 97 = 0,
# the decontaminate convention), corpus-side df cap only.


def _q_substring_decontaminate(spark, sf_dir):
    """dedup.substring_decontaminate: corpus = documents with
    doc_id % 97 != 0, eval = the % 97 == 0 holdout; emits per
    contaminated corpus doc (max_shared_span, n_eval_docs, n_spans)."""
    from tabular_to_parquet_spark.operators import dedup

    docs = _docs(spark, sf_dir)
    corpus = docs.filter(F.expr("doc_id % 97 != 0"))
    holdout = docs.filter(F.expr("doc_id % 97 = 0"))
    return dedup.substring_decontaminate(
        corpus, holdout, k=_D22_K, max_df=_D22_MAX_DF
    )


def _d24_oracle() -> str:
    k, max_df = _D22_K, _D22_MAX_DF
    return f"""
WITH wins AS (
  SELECT doc_id AS doc, CAST(i AS BIGINT) AS pos,
         substr(text, CAST(i AS INT), {k}) AS g
  FROM (SELECT * FROM documents WHERE length(text) >= {k}),
       unnest(range(1, length(text) - {k} + 2)) AS t(i)
),
cw AS (SELECT * FROM wins WHERE doc % 97 != 0),
ew AS (SELECT * FROM wins WHERE doc % 97 = 0),
capped AS (
  SELECT g FROM cw GROUP BY g HAVING count(DISTINCT doc) <= {max_df}
),
hits AS (
  SELECT c.doc AS c_doc, e.doc AS e_doc, c.pos AS pc, e.pos AS pe
  FROM cw c JOIN capped s ON c.g = s.g JOIN ew e ON c.g = e.g
),
isl AS (
  SELECT c_doc, e_doc, pc - pe AS off, pc,
         pc - row_number() OVER (
             PARTITION BY c_doc, e_doc, pc - pe ORDER BY pc) AS grp
  FROM hits
),
spans AS (
  SELECT c_doc, e_doc, max(pc) - min(pc) + {k} AS span
  FROM isl GROUP BY c_doc, e_doc, off, grp
)
SELECT c_doc AS doc_id,
       CAST(max(span) AS BIGINT) AS max_shared_span,
       CAST(count(DISTINCT e_doc) AS BIGINT) AS n_eval_docs,
       CAST(count(*) AS BIGINT) AS n_spans
FROM spans GROUP BY c_doc
"""


register("d24_substring_decontaminate", _d24_oracle())(_q_substring_decontaminate)


# d25 — per-document SELF-duplicated character fraction (the
# within-document axis d23 scopes out): within-doc gram occurrence
# pairs at offset pb - pa, islands per (doc, off), BOTH copies'
# intervals merged per document.  Stop-gram guard is per-document
# occurrence count (max_occ), the within-doc analog of d22's df cap.

_D25_MAX_OCC = 8


def _q_self_repeated_char_fraction(spark, sf_dir):
    """dedup.self_repeated_char_fraction over documents: per-doc
    exact self-duplicated char mass from >= 24-char spans repeated
    within the same document."""
    from tabular_to_parquet_spark.operators import dedup

    return dedup.self_repeated_char_fraction(
        _docs(spark, sf_dir), k=_D22_K, max_occ=_D25_MAX_OCC
    )


def _d25_oracle() -> str:
    k, max_occ = _D22_K, _D25_MAX_OCC
    return f"""
WITH wins AS (
  SELECT doc_id AS doc, CAST(i AS BIGINT) AS pos,
         substr(text, CAST(i AS INT), {k}) AS g
  FROM (SELECT * FROM documents WHERE length(text) >= {k}),
       unnest(range(1, length(text) - {k} + 2)) AS t(i)
),
seeds AS (
  SELECT doc, g FROM wins GROUP BY doc, g
  HAVING count(*) BETWEEN 2 AND {max_occ}
),
hits AS (
  SELECT x.doc AS doc, y.pos - x.pos AS off, x.pos AS pa
  FROM wins x JOIN seeds s ON x.doc = s.doc AND x.g = s.g
  JOIN wins y ON y.doc = x.doc AND y.g = x.g AND x.pos < y.pos
),
isl AS (
  SELECT doc, off, pa,
         pa - row_number() OVER (PARTITION BY doc, off ORDER BY pa) AS grp
  FROM hits
),
sp AS (
  SELECT doc, off, min(pa) AS sa, max(pa) + {k - 1} AS ea
  FROM isl GROUP BY doc, off, grp
),
iv AS (
  SELECT doc, sa AS s, ea AS e FROM sp
  UNION ALL
  SELECT doc, sa + off AS s, ea + off AS e FROM sp
),
-- window-free interval-union mass (count of distinct covered
-- positions) — same values as the old running-max merge, immune to
-- the DuckDB 1.0.0 parallel-window flake found on the d23 twin of
-- this block (r14; see _d23_oracle)
dup AS (
  SELECT doc, CAST(count(DISTINCT t.p) AS BIGINT) AS self_dup_chars
  FROM iv, unnest(range(iv.s, iv.e + 1)) AS t(p)
  GROUP BY doc
)
SELECT d.doc_id,
       CAST(length(d.text) AS BIGINT) AS n_chars,
       COALESCE(dup.self_dup_chars, 0) AS self_dup_chars,
       CAST(CASE WHEN length(d.text) > 0
            THEN (1000 * COALESCE(dup.self_dup_chars, 0)) // length(d.text)
            ELSE 0 END AS BIGINT) AS self_dup_permille
FROM documents d LEFT JOIN dup ON dup.doc = d.doc_id
"""


register("d25_self_repeat_fraction", _d25_oracle())(_q_self_repeated_char_fraction)


# ---------------------------------------------------------------------------
# pl37 — in-plan exact fixed-point gradient-descent linear regressor
# (pipeline.gd_linear_regressor): the distributed model-training
# primitive of a curation pipeline, trained on integer text features
# against a planted linear-plus-noise label.  The oracle unrolls the
# five rounds as CTEs with the same pmod floor-division identity.

_PL37_X2 = "(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)"
_PL37_X3 = "(length(text) - length(replace(text, ' ', '')) + 1)"
_PL37_X4 = "(length(text) - length(replace(text, 'data', '')))"
_PL37_XS = ["1", "n_chars", _PL37_X2, _PL37_X3, _PL37_X4]
_PL37_Y = (
    f"(3 * n_chars - 2 * {_PL37_X3} + 50 * {_PL37_X2} + (doc_id % 10))"
)
_PL37_ROUNDS = 5


def _q_gd_regressor(spark, sf_dir):
    """pipeline.gd_linear_regressor over documents: 5 GD rounds on
    (bias, n_chars, is_en, words, 'data'-mass) against the planted
    label; emits (round, w0..w4, sum_abs_resid_scaled)."""
    from tabular_to_parquet_spark.operators import pipeline as pl

    feats = _docs(spark, sf_dir).select(
        *[
            F.expr(x).cast("long").alias(f"x{j}")
            for j, x in enumerate(_PL37_XS)
        ],
        F.expr(_PL37_Y).cast("long").alias("y"),
    )
    return pl.gd_linear_regressor(
        feats, [f"x{j}" for j in range(len(_PL37_XS))], rounds=_PL37_ROUNDS
    )


def _pl37_oracle() -> str:
    from tabular_to_parquet_spark.operators.pipeline import (
        GD_LR_SHIFT,
        GD_RESID_SHIFT,
        GD_W_SCALE,
    )

    nx = len(_PL37_XS)
    two_s = 1 << GD_W_SCALE

    def fd(a: str, m: str) -> str:
        return f"CAST(({a} - ((({a} % {m}) + {m}) % {m})) / {m} AS BIGINT)"

    x_cols = ", ".join(
        f"CAST({x} AS BIGINT) AS x{j}" for j, x in enumerate(_PL37_XS)
    )
    # the engine's per-round overflow sentinel, mirrored (r13 ADVICE):
    # ok_t = ok_{t-1} AND max|resid| < 2^53 AND every |d_j| < 2^53 - n
    # (the /n fdiv numerator can exceed |d_j| by n-1); a breach
    # freezes carried weights and NULL-poisons emitted rows, so
    # engine/oracle parity holds on ANY trajectory, not just the
    # pinned corpus's breach-free one
    exact = str(1 << 53)
    ctes = [
        f"f AS (SELECT {x_cols}, CAST({_PL37_Y} AS BIGINT) AS y"
        " FROM documents)",
        "nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM f)",
        "r0 AS (SELECT "
        + ", ".join(f"CAST(0 AS BIGINT) AS w{j}" for j in range(nx))
        + ", TRUE AS ok)",
    ]
    for t in range(1, _PL37_ROUNDS + 1):
        pred = " + ".join(f"p.w{j} * x{j}" for j in range(nx))
        ctes.append(
            f"s{t} AS (SELECT f.*, ({pred}) - y * {two_s} AS resid"
            f" FROM f, r{t - 1} p)"
        )
        rs = fd("resid", str(1 << GD_RESID_SHIFT))
        d_cols = ", ".join(
            f"CAST(SUM(x{j} * {rs}) AS BIGINT) AS d{j}" for j in range(nx)
        )
        loss = fd("abs(resid)", str(two_s))
        ctes.append(
            f"a{t} AS (SELECT {d_cols},"
            f" CAST(SUM({loss}) AS BIGINT) AS loss,"
            f" CAST(MAX(abs(resid)) AS BIGINT) AS mr FROM s{t})"
        )
        ok_terms = " AND ".join(
            ["p.ok", f"a.mr < {exact}"]
            + [f"abs(a.d{j}) < {exact} - nn.n" for j in range(nx)]
        )
        inner_cols = ", ".join(
            f"p.w{j} AS wo{j}, p.w{j} - "
            + fd(fd(f"a.d{j}", "nn.n"), str(1 << GD_LR_SHIFT))
            + f" AS wn{j}"
            for j in range(nx)
        )
        outer_cols = ", ".join(
            f"CASE WHEN ok THEN wn{j} ELSE wo{j} END AS w{j}"
            for j in range(nx)
        )
        ctes.append(
            f"r{t} AS (SELECT {outer_cols}, loss, ok FROM"
            f" (SELECT {inner_cols}, a.loss AS loss,"
            f" ({ok_terms}) AS ok"
            f" FROM a{t} a, r{t - 1} p, nn))"
        )
    unions = "\nUNION ALL\n".join(
        f"SELECT CAST({t} AS BIGINT) AS round, "
        + ", ".join(
            f"CASE WHEN ok THEN w{j} END AS w{j}" for j in range(nx)
        )
        + f", CASE WHEN ok THEN loss END AS sum_abs_resid_scaled"
        f" FROM r{t}"
        for t in range(1, _PL37_ROUNDS + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + unions


register("pl37_gd_linear_regressor", _pl37_oracle())(_q_gd_regressor)
