"""Text-analysis operators for training-data pipelines (SURVEY.md §7.4).

All hot-path logic is built-in Spark SQL expressions (codegen'd,
shuffle-free per-row transforms) except winnowing, a per-document
``mapInPandas`` pass; the only aggregations are standard
hash-aggregates with map-side partial combine. Every operator here is
a pure projection or aggregation — at 100 TB they scale linearly with
input splits and never shuffle except for the explicit groupBys.

Float determinism note: scores avoid multi-term double sums —
ratios are single divisions of exact integers, so the DuckDB oracle
reproduces them bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tabular_to_parquet_spark.functions.hashing import md5_i64

# small deterministic stopword sets for the n-gram language heuristic
STOPWORDS = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "fr": ("le", "la", "de", "et", "un", "une", "les", "des", "que", "est"),
    "de": ("der", "die", "das", "und", "ein", "eine", "ist", "nicht", "mit", "von"),
    "es": ("el", "la", "de", "y", "un", "una", "los", "las", "que", "es"),
}
#: language priority on tie (first wins)
LANG_ORDER = ("en", "fr", "de", "es")

#: English stopwords used by the quality score
QUALITY_STOPWORDS = STOPWORDS["en"]


def tokens(c: Column) -> Column:
    """Whitespace tokens, empties removed (deterministic; matches
    DuckDB ``list_filter(regexp_split_to_array(trim(x),'\\s+'),...)``)."""
    return F.filter(F.split(F.trim(c), r"\s+"), lambda x: x != "")


def token_count(c: Column) -> Column:
    return F.size(tokens(c))


#: GPT-style pre-tokenizer shape, restricted to the Java-regex ∩ RE2
#: subset (no lookahead): contraction suffixes, letter runs, digit runs,
#: punctuation runs. Leftmost-first alternation in both engines.
BPE_TOKEN_RE = r"'(?:s|t|re|ve|m|ll|d)|\p{L}+|\p{N}+|[^\p{L}\p{N}\s]+"


def bpe_tokens(c: Column) -> Column:
    """BPE-ish subword pre-tokens (idx=0: whole match; the pattern has
    no capturing groups)."""
    return F.regexp_extract_all(c, F.lit(BPE_TOKEN_RE), 0)


def bpe_token_count(c: Column) -> Column:
    return F.size(bpe_tokens(c))


def word_ngrams(c: Column, w: int = 3) -> Column:
    """ALL w-word n-grams, in document order, duplicates kept (basis for
    repetition stats and decontamination hit counting).

    Built as ``zip_with`` folds over the token array and its slices —
    NOT as ``transform(sequence(...), i -> element_at(toks, i+j))``.
    Higher-order-function lambdas are interpreted per ELEMENT, so a
    lambda body that embeds the tokens() expression re-splits the whole
    document for every shingle position — O(tokens²) per doc (measured
    9.4 s for a 5k-doc shingle explode at sf0.1; this form is ~20×
    faster). Here the token array is evaluated once per row and the
    lambdas only touch element values.
    """
    toks = tokens(c)
    n = F.size(toks)
    glue = lambda a, b: F.concat_ws(" ", a, b)
    folded = toks
    for j in range(1, w):
        # zip_with pads the shorter side with NULL and concat_ws skips
        # NULLs, so tail entries are partial shingles — sliced off below
        folded = F.zip_with(folded, F.slice(toks, j + 1, n - j), glue)
    return F.when(
        n >= w, F.slice(folded, 1, n - (w - 1))
    ).otherwise(F.array().cast("array<string>"))


def word_shingles(c: Column, w: int = 3) -> Column:
    """Distinct w-word shingles as strings (basis for Jaccard/MinHash)."""
    return F.array_distinct(word_ngrams(c, w))


def punct_ratio(c: Column) -> Column:
    """punctuation chars / total chars (single exact division)."""
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[.,;:!?'\"()\[\]{}-]", ""))
    return F.when(F.length(c) > 0, n_punct.cast("double") / F.length(c)).otherwise(0.0)


def stopword_ratio(c: Column, lang: str = "en") -> Column:
    toks = tokens(F.lower(c))
    hits = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS[lang])))
    return F.when(F.size(toks) > 0, hits.cast("double") / F.size(toks)).otherwise(0.0)


def quality_columns(text: Column) -> dict[str, Column]:
    """The quality-scoring feature set; ``is_good`` applies the usual
    web-corpus filters (length band, punctuation cap, stopword floor)."""
    n_tok = token_count(text)
    n_chars = F.length(text)
    mean_word_len = F.when(n_tok > 0, n_chars.cast("double") / n_tok).otherwise(0.0)
    p_ratio = punct_ratio(text)
    s_ratio = stopword_ratio(text)
    is_good = (
        n_tok.between(5, 100_000)
        & (p_ratio < 0.3)
        & (mean_word_len >= 2.0)
        & (mean_word_len <= 20.0)
    )
    return {
        "n_chars": n_chars.cast("long"),
        "n_tokens": n_tok.cast("long"),
        "mean_word_len": mean_word_len,
        "punct_ratio": p_ratio,
        "stopword_ratio": s_ratio,
        "is_good": is_good,
    }


def quality(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    cols = quality_columns(F.col(text_col))
    return df.select(F.col(id_col), *[v.alias(k) for k, v in cols.items()])


def _top_multiplicity(sorted_arr: Column) -> Column:
    """Highest multiplicity of any element of a SORTED array, as one
    linear fold (``F.aggregate``) — equal elements are adjacent after
    the sort, so the longest run IS the mode's count. Per-row, no
    shuffle; the lambda touches only the accumulator and the element
    (never re-evaluates the input expression — cf. word_ngrams note).
    Empty array → 0.
    """
    zero = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
    )

    def step(acc: Column, x: Column) -> Column:
        run = (
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        ).cast("long")
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    return F.aggregate(sorted_arr, zero, step, lambda acc: acc["best"])


#: repetition flags only apply to docs of at least this many tokens —
#: short docs trivially max the top-fraction signals (a 4-token
#: all-distinct doc already has top_token_frac 0.25). Gopher applies
#: its repetition cuts after a min-length filter for the same reason.
REP_MIN_TOKENS = 5


def repetition_columns(text: Column) -> dict[str, Column]:
    """Gopher-style repetition signals (Rae et al. 2021, table A1):
    distinct-token fraction, top-token fraction, top-bigram fraction.
    Heavily repeated boilerplate (nav bars, SEO spam, generation loops)
    scores high on the top-n-gram fractions and low on distinct-frac.

    All per-row array folds — a pure projection, zero shuffles at any
    scale. Ratios are single exact-integer divisions (oracle-stable).
    """
    toks = tokens(text)
    n_tok = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    top_tok = _top_multiplicity(F.sort_array(toks))
    bigrams = word_ngrams(text, 2)
    n_bigrams = F.size(bigrams)
    top_bigram = _top_multiplicity(F.sort_array(bigrams))
    distinct_frac = F.when(n_tok > 0, n_distinct.cast("double") / n_tok).otherwise(0.0)
    top_token_frac = F.when(n_tok > 0, top_tok.cast("double") / n_tok).otherwise(0.0)
    top_bigram_frac = F.when(
        n_bigrams > 0, top_bigram.cast("double") / n_bigrams
    ).otherwise(0.0)
    is_repetitive = (n_tok >= REP_MIN_TOKENS) & (
        (top_token_frac > 0.20) | (top_bigram_frac > 0.18) | (distinct_frac < 0.30)
    )
    return {
        "n_tokens": n_tok.cast("long"),
        "distinct_frac": distinct_frac,
        "top_token_frac": top_token_frac,
        "top_bigram_frac": top_bigram_frac,
        "is_repetitive": is_repetitive,
    }


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    cols = repetition_columns(F.col(text_col))
    return df.select(F.col(id_col), *[v.alias(k) for k, v in cols.items()])


def lang_hits(text: Column, lang: str) -> Column:
    toks = tokens(F.lower(text))
    return F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS[lang])))


def lang_id_col(text: Column) -> Column:
    """Argmax of per-language stopword hits; ties resolve by LANG_ORDER;
    zero hits everywhere → 'und' (undetermined)."""
    hits = {lang: lang_hits(text, lang) for lang in LANG_ORDER}
    best = F.greatest(*hits.values())
    out = F.lit("und")
    # build the CASE back-to-front so earlier languages win ties
    for lang in reversed(LANG_ORDER):
        out = F.when((hits[lang] > 0) & (hits[lang] == best), F.lit(lang)).otherwise(out)
    return out


def lang_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    return df.select(
        F.col(id_col), lang_id_col(F.col(text_col)).alias("lang_pred")
    )


def text_features(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """quality + lang_id FUSED into one projection: both operator
    families are per-row expressions, so computing them together is a
    single scan with ZERO shuffles, where quality(df).join(lang_id(df))
    scans twice and shuffles both outputs on the id.  Measured at
    sf0.1: fused wins once the scan parallelizes (0.48 s vs 0.56 s on
    32 splits; on a single-file single-split scan the join's
    accidental two-scan parallelism can mask the shuffle cost — a
    toy-scale artifact, since at corpus scale the scan always has
    splits and the shuffle is real network IO).  Composition rule for
    per-row feature extractors: widen the projection, never join."""
    cols = quality_columns(F.col(text_col))
    return df.select(
        F.col(id_col),
        *[v.alias(k) for k, v in cols.items()],
        lang_id_col(F.col(text_col)).alias("lang_pred"),
    )


#: winnowing parameters (Schleimer/Wilkerson/Aiken, SIGMOD'03): char
#: k-grams of the normalized text, window of w consecutive hashes
WINNOW_K = 8
WINNOW_W = 16


def winnow_fingerprints(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Rolling-hash document fingerprints via winnowing: hash every
    char k-gram of the normalized text, slide a w-hash window, keep
    each full window's minimum; the distinct minima are the doc's
    fingerprint set. Guarantee: any shared substring of length
    ≥ w+k-1 between two docs yields at least one shared fingerprint.

    Each doc is winnowed inside the Arrow batch that holds it
    (``mapInPandas`` + a monotonic-deque rolling minimum, O(n) per
    doc), so the plan has NO shuffle: the fingerprint set leaves the
    partition already distinct. The normalization repeats
    :func:`normalized_text` (lowercase, ASCII-whitespace runs to one
    space, trim spaces) and the hash is :func:`md5_i64`'s 60-bit md5
    prefix, so x07's DuckDB oracle reproduces the set exactly.
    """
    import pandas as pd

    id_type = df.schema[id_col].dataType.simpleString()

    def winnow_batches(batches):
        import hashlib
        import re
        from collections import deque

        ws = re.compile(r"[ \t\n\x0b\f\r]+")  # Java regex \s (ASCII)
        k, w = WINNOW_K, WINNOW_W
        for pdf in batches:
            ids, fps = [], []
            for doc, txt in zip(pdf[id_col], pdf[text_col]):
                if txt is None:
                    continue
                norm = ws.sub(" ", txt.lower()).strip(" ")
                n = len(norm) - k + 1
                if n < w:  # needs at least one FULL window of w hashes
                    continue
                hs = [
                    int(hashlib.md5(norm[i : i + k].encode("utf-8")).hexdigest()[:15], 16)
                    for i in range(n)
                ]
                seen: set[int] = set()
                dq: deque[int] = deque()  # indices, values increasing
                for i, h in enumerate(hs):
                    while dq and hs[dq[-1]] >= h:
                        dq.pop()
                    dq.append(i)
                    if dq[0] <= i - w:
                        dq.popleft()
                    if i >= w - 1:
                        seen.add(hs[dq[0]])
                ids.extend([doc] * len(seen))
                fps.extend(seen)
            yield pd.DataFrame({id_col: ids, "fingerprint": fps})

    return df.select(id_col, text_col).mapInPandas(
        winnow_batches, schema=f"{id_col} {id_type}, fingerprint long"
    )


def normalized_text(c: Column) -> Column:
    """Fingerprint normalization: lowercase, collapse whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Content fingerprint (P-hash of normalized text): md5 hex plus a
    60-bit integer form for compact joins."""
    norm = normalized_text(F.col(text_col))
    return df.select(
        F.col(id_col),
        F.md5(norm).alias("fp_md5"),
        md5_i64(norm).alias("fp_i64"),
    )


def source_stats(df: DataFrame) -> DataFrame:
    """Per-source corpus stats (hash-agg with map-side combine; the
    deterministic aggregate set — counts and exact-int sums only)."""
    return df.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_chars").cast("long")).alias("total_chars"),
        F.sum(token_count(F.col("text")).cast("long")).alias("total_tokens"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


def vocab_growth(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 10,
) -> DataFrame:
    """Heaps-law sufficient statistics: cumulative vocabulary size vs
    cumulative token mass at ``buckets`` checkpoints of ingestion
    order (doc id).  The curve prices marginal data: a flattening
    vocab_cum against a linear cum_tokens is the diminishing-returns
    signal mixture planning reads before buying more of a source.

    Every step is bucket-local: a token's first occurrence is one
    hash-agg (min doc id over the corpus — x40's ownership rule);
    checkpoint assignment is pure integer arithmetic against a 1-row
    broadcast max (bucket = ceil(B*pos/m), NO global window); the
    cumulative sums run over the <= ``buckets``-row table.  Nothing
    here is pairwise and the only unpartitioned window is bounded by
    the checkpoint count."""
    from pyspark.sql import Window as W

    toks = df.select(
        F.col(id_col).alias("_vid"), tokens(F.lower(F.col(text_col))).alias("_vt")
    )
    mx = toks.agg((F.max("_vid") + 1).cast("long").alias("_vm"))

    def bucket(col: str) -> Column:
        # ceil(B * (id+1) / m) with m = max_id + 1: integer-exact, and
        # id = max_id lands in bucket B by construction.
        return F.least(
            F.lit(buckets).cast("long"),
            F.expr(f"(({col} + 1) * {buckets} + _vm - 1) div _vm"),
        ).cast("long")

    per_doc = (
        toks.crossJoin(F.broadcast(mx))
        .select(bucket("_vid").alias("bucket"), F.size("_vt").alias("_ntok"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("_ntok").cast("long").alias("_btok"),
        )
    )
    firsts = (
        toks.select("_vid", F.explode("_vt").alias("_tok"))
        .groupBy("_tok")
        .agg(F.min("_vid").alias("_first"))
        .crossJoin(F.broadcast(mx))
        .groupBy(bucket("_first").alias("bucket"))
        .agg(F.count(F.lit(1)).cast("long").alias("new_types"))
    )
    w = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        per_doc.join(firsts, "bucket", "left")
        .select(
            "bucket",
            "n_docs",
            F.coalesce("new_types", F.lit(0)).cast("long").alias("new_types"),
            F.col("_btok"),
        )
        .select(
            "bucket",
            "n_docs",
            "new_types",
            F.sum("_btok").over(w).cast("long").alias("cum_tokens"),
            F.sum("new_types").over(w).cast("long").alias("vocab_cum"),
        )
    )


def bpe_learn_merges(
    df: DataFrame,
    text_col: str = "text",
    rounds: int = 3,
    marker: str = "@@",
) -> DataFrame:
    """LEARN byte-pair-style merges over the corpus — the training
    half of the BPE story (functions/bpe.py applies a fixed merge
    table; this derives one).  Each round: count adjacent token pairs
    corpus-wide, take the most frequent (ties to the lexicographically
    smallest pair — deterministic), rewrite the working text with the
    pair fused by ``marker``, repeat.  Returns one row per round:
    (round, pair, n) — the learned merge table with its evidence.

    Everything stays in ONE Catalyst plan: the per-round argmax is a
    TakeOrdered top-1 (no global sort), broadcast back into the
    rewrite projection (1-row broadcast per round, bounded by the
    round count); no driver collect anywhere.  Rewrite semantics are
    WHOLE-TOKEN, left-to-right non-overlapping: the working text is
    padded so every token carries its own surrounding spaces
    (``' '||replace(t,' ','  ')||' '``) and the pair is matched as
    ``' a  b '`` — a pattern that cannot start or end inside a longer
    token (r10 ADVICE: plain substring replace fused 'a b' inside
    'xa b' into 'xa@@b', corrupting later-round counts) and whose
    adjacent occurrences share no separator characters, so greedy
    left-to-right merging is faithful BPE.  ``replace`` is
    left-to-right non-overlapping in BOTH Spark and DuckDB, which is
    what makes the learned table value-hashable cross-engine.
    ``marker`` must not occur in the normalized text (audited cheaply
    by callers; '@@' is the wordpiece convention)."""
    work = df.select(normalized_text(F.col(text_col)).alias("t"))
    # token array materialized ONCE per row; the old form embedded
    # split(t, ' ') inside the transform LAMBDA, where higher-order
    # functions re-evaluate the body per element — two full re-splits
    # of the document per pair position, O(tokens · len) per row per
    # round (the word_ngrams O(n²) trap; guide §1.2 "per-task work").
    # zip_with over two slices of the one materialized array emits the
    # identical pair strings (concat(tok_i, ' ', tok_i+1)).
    pairs_expr = (
        "CASE WHEN size(toks) < 2 THEN array() "
        "ELSE zip_with(slice(toks, 1, size(toks) - 1), "
        "slice(toks, 2, size(toks) - 1), (a, b) -> concat(a, ' ', b)) END"
    )
    out: DataFrame | None = None
    for r in range(1, rounds + 1):
        counts = (
            work.select(F.split("t", " ").alias("toks"))
            .select(F.explode(F.expr(pairs_expr)).alias("pair"))
            .groupBy("pair")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )
        best = counts.orderBy(F.col("n").desc(), F.col("pair")).limit(1)
        row = best.select(
            F.lit(r).cast("long").alias("round"), "pair", "n"
        )
        out = row if out is None else out.unionAll(row)
        work = work.crossJoin(F.broadcast(best.select("pair"))).select(
            F.expr(
                "trim(replace(replace("
                "concat(' ', replace(t, ' ', '  '), ' '), "
                "concat(' ', replace(pair, ' ', '  '), ' '), "
                f"concat(' ', replace(pair, ' ', '{marker}'), ' ')"
                "), '  ', ' '))"
            ).alias("t")
        )
    return out
