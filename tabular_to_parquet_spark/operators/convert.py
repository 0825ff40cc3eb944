"""The conversion pipeline (reference src/conversion.rs:28-120, re-planned
for Spark — SURVEY.md §3.4).

Lifecycle: a format adapter (``sources/``) names the columns and
supplies the scan → driver (or Spark, for full-scan) infers logical
types (I1-I5) → a single ``select()`` of lenient-cast expressions
(P1-P12) with ``observe`` parse-error accounting → zstd parquet sink
(S6). :func:`run_conversion` owns every step after the scan for every
format; :func:`convert_delimited_to_parquet` is the delimited entry
point (sniffed delimiter, S1/S2/S4).

The reference's producer/worker/writer thread pipeline collapses into
Spark partition parallelism: Scan → Project → WriteFiles, no shuffle
in the default plan (verified via ``explain``). Whole-stage codegen
is pinned off for the conversion job (see :func:`run_conversion`).
"""

from __future__ import annotations

import logging
import os as _os
import time
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from tabular_to_parquet_spark.functions import parsers
from tabular_to_parquet_spark.functions.nulls import is_null_token
from tabular_to_parquet_spark.plans.inference import (
    infer_from_rows,
    infer_schema_distributed,
)
from tabular_to_parquet_spark.plans.logical_types import LogicalType
from tabular_to_parquet_spark.sources.adapter import (  # noqa: F401 (re-export)
    Adapter,
    first_data_file,
)
from tabular_to_parquet_spark.sources.text import delimited_adapter


def cast_expr(c: Column, lt: LogicalType) -> Column:
    """Dispatch a logical type to its lenient-cast builder (the Spark
    equivalent of the analyse.rs:108-315 builder match)."""
    if lt.kind == "bool":
        return parsers.parse_bool(c)
    if lt.kind == "int64":
        return parsers.parse_int64(c)
    if lt.kind == "uint64":
        return parsers.parse_uint64(c, as_decimal=lt.uint_exceeds_i64)
    if lt.kind == "float64":
        return parsers.parse_float64(c)
    if lt.kind == "date":
        return parsers.parse_date(c)
    if lt.kind == "timestamp":
        return parsers.parse_timestamp(c, lt.unit or "ms")
    if lt.kind == "binary":
        return parsers.parse_binary(c)
    return parsers.parse_string(c)


def _order_key_cols() -> list[Column]:
    """Input-order sort key for file scans (SURVEY.md §4.3 option b).

    ``(_metadata.file_path, _metadata.file_block_start, id)``: files in
    lexicographic path order, splits in offset order within a file, and
    ``monotonically_increasing_id()`` for row order inside a split (ids
    are monotonic within a partition; path+offset disambiguate across
    partitions, so this restores file order even when Spark schedules
    splits by size or packs several small files into one partition).
    """
    return [
        F.col("_metadata.file_path").alias("__ord_file"),
        F.col("_metadata.file_block_start").alias("__ord_block"),
        F.monotonically_increasing_id().alias("__row_idx"),
    ]


_ORDER_KEY = ["__ord_file", "__ord_block", "__row_idx"]


def typed_frame(
    raw: DataFrame, types: list[LogicalType], preserve_order: bool = False
) -> DataFrame:
    """String-typed frame → typed frame via one cast projection."""
    cols = [
        cast_expr(F.col(name), lt).alias(name)
        for name, lt in zip(raw.columns, types)
    ]
    if preserve_order:
        return raw.select(*cols, *_order_key_cols())
    return raw.select(*cols)


def observed_typed_frame(
    raw: DataFrame, types: list[LogicalType], preserve_order: bool = False
):
    """Typed frame + parse-error accounting (O5, reference
    analyse.rs:15-23 / conversion.rs:101-109).

    The reference counts cast failures in global atomics; the Spark
    equivalent is ``observe()``: metric aggregates ride the SAME job
    as the write (no second pass). A cast failure is a value that is
    not a null-token but came out NULL. Each cast is computed once —
    the metric reads the aliased output column, not a re-evaluation.
    """
    names = list(raw.columns)
    cols = [cast_expr(F.col(n), lt).alias(n) for n, lt in zip(names, types)]
    # string/binary casts are passthroughs — a non-null-token value can
    # NEVER come out NULL, so their error count is structurally zero:
    # skip their raw passthrough and metric (the accounting aggregate
    # re-trims every observed value, so this is real per-row work)
    fallible = [
        i for i, lt in enumerate(types) if lt.kind not in ("string", "binary")
    ]
    passthrough = [F.col(names[i]).alias(f"__raw_{i}") for i in fallible]
    extra = _order_key_cols() if preserve_order else []
    staged = raw.select(*cols, *passthrough, *extra)
    if preserve_order:
        # the observation must sit ABOVE the sort: a global sort runs a
        # range-partitioning sampling pass over its child, and metrics
        # attached below it would ride both passes (rows counted twice)
        staged = staged.sort(*_ORDER_KEY)

    # index-based metric aliases: immune to collisions with user columns
    obs = Observation("parse_errors")
    metrics = [F.count(F.lit(1)).alias("__rows")] + [
        F.sum(
            (~is_null_token(F.col(f"__raw_{i}")) & F.col(names[i]).isNull()).cast(
                "long"
            )
        ).alias(f"__err_{i}")
        for i in fallible
    ]
    staged = staged.observe(obs, *metrics)
    typed = staged.select(*names)
    return typed, obs


def counted_typed_frame(
    raw: DataFrame, types: list[LogicalType], preserve_order: bool = False
):
    """Typed frame + row count only — the ``observe_errors=False``
    path: the accounting aggregate re-trims every fallible value
    (about 46% on top of scan + casts, sf0.1 lineitem at 4 cores), so
    bulk callers that don't read ``parse_errors`` can skip it. The lone
    count(1) metric is free by comparison."""
    names = list(raw.columns)
    staged = typed_frame(raw, types, preserve_order=preserve_order)
    if preserve_order:
        staged = staged.sort(*_ORDER_KEY)
    obs = Observation("row_count")
    staged = staged.observe(obs, F.count(F.lit(1)).alias("__rows"))
    return staged.select(*names), obs


@dataclass
class ConvertResult:
    output_path: str
    columns: list[str]
    #: inferred logical types; ``None`` for a typed passthrough source
    types: list[LogicalType] | None
    #: the field delimiter of delimited sources, else ``None``
    delimiter: str | None
    #: wall time of the shared run: inference, casts and the write
    seconds: float
    rows: int = 0
    #: per-column count of non-null input values that cast to NULL (O5)
    parse_errors: dict[str, int] = None  # type: ignore[assignment]


def _input_bytes(path: str) -> int:
    if _os.path.isfile(path):
        return _os.path.getsize(path)
    return sum(
        _os.path.getsize(_os.path.join(path, n))
        for n in _os.listdir(path)
        if _os.path.isfile(_os.path.join(path, n))
    )


def drop_replacement_char_rows(frame: DataFrame, names: list[str]) -> DataFrame:
    """Drop rows whose raw string fields carry U+FFFD — the Spark-side
    image of the reference producer's ``.lines().filter_map(Result::ok)``
    (conversion.rs:208), which silently drops non-UTF-8 lines before the
    CSV parser sees them. Spark decodes invalid bytes to U+FFFD, so the
    replacement character marks exactly those lines (modulo a file that
    legitimately contains encoded U+FFFD — documented approximation)."""
    bad = None
    for n in names:
        hit = F.coalesce(F.col(n).contains("�"), F.lit(False))
        bad = hit if bad is None else (bad | hit)
    return frame.filter(~bad)


@contextmanager
def _scoped_conf(spark: SparkSession):
    """Yield a setter for session confs; each conf set through it gets
    its prior value back (or is unset) on exit, also when the body
    raises — a caller-provided session keeps its own settings."""
    saved: dict[str, str | None] = {}

    def set_conf(key: str, value: str) -> None:
        saved.setdefault(key, spark.conf.get(key, None))
        spark.conf.set(key, value)

    try:
        yield set_conf
    finally:
        for key, old in saved.items():
            if old is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, old)


def run_conversion(
    spark: SparkSession,
    adapter: Adapter,
    output_path: str,
    infer_full: bool = False,
    preserve_order: bool = False,
    single_file: bool = False,
    strict_drop: bool = False,
    observe_errors: bool = True,
) -> ConvertResult:
    """One input format (``adapter``) → zstd parquet: inference, the
    lenient-cast projection with parse-error accounting, and the write.
    Every format runs this code; the adapter only supplies the scan.

    ``infer_full`` infers over the whole frame (Spark-side) instead of
    the adapter's first-1000-rows driver sample (reference
    --inferer-schema-complet, main.rs:25-26).

    ``preserve_order`` reproduces the reference's input-order guarantee
    (conversion.rs:177-189) — for directory inputs, files are ordered
    lexicographically by path and rows by position within each file
    (the ``_metadata`` sort key in :func:`_order_key_cols`, so the frame
    must be a file scan); ``single_file`` additionally coalesces to one
    part-file and renames it to ``output_path`` itself. Defaults keep
    Spark's parallel many-part layout — the right shape at scale.

    ``strict_drop`` (P14 parity, opt-in): the reference's producer reads
    lines with ``.lines().filter_map(Result::ok)``
    (conversion.rs:208) — a line that is not valid UTF-8 is silently
    DROPPED before the CSV parser ever sees it (and the csv crate with
    ``flexible=true`` on valid UTF-8 essentially never rejects a
    record, analyse.rs:42-61). Spark decodes invalid bytes to U+FFFD;
    strict mode drops any row whose raw fields carry that replacement
    character — a distributed filter, no custom parser. Default (off)
    keeps Spark's PERMISSIVE repair semantics (documented divergence).
    Known approximation: a file legitimately containing encoded U+FFFD,
    or invalid bytes confined to an extra (dropped) field, diverges.

    ``observe_errors=False`` skips the per-column parse-error
    accounting (``parse_errors`` reports zeros; ``rows`` stays exact).
    The accounting rides the write job but re-trims every fallible
    value — about 46% on top of scan + casts (sf0.1 lineitem, 4
    cores) — so bulk callers that don't read the counters can opt out.

    A typed adapter passes its frame through unchanged (``types`` is
    ``None``); strict drop and input order are defined over string
    rows only, so it refuses both.
    """
    if adapter.typed and (strict_drop or preserve_order):
        raise ValueError(
            "strict_drop and preserve_order apply to string-typed sources; "
            "this source passes typed columns through"
        )
    t0 = time.monotonic()
    names, frame = adapter.columns, adapter.frame
    from_sample = not (adapter.typed or infer_full or adapter.sample is None)
    with _scoped_conf(spark) as set_conf:
        # epoch-timestamp casts are session-tz-sensitive; safe to restore
        # on exit because everything here executes eagerly
        set_conf("spark.sql.session.timeZone", "UTC")
        if adapter.typed:
            types = None
        elif from_sample:
            types = infer_from_rows(len(names), adapter.sample())
        else:
            # inference must not observe rows the reference's reader never
            # parses: mirror read_sample_rows, which skips invalid-UTF-8
            # lines (sources/text.py). Without this, a corrupt row can flip
            # a numeric column to string even though strict_drop later
            # removes the row from the output.
            types = infer_schema_distributed(drop_replacement_char_rows(frame, names))

        # split sizing: a lone multi-MB input must still fan out across
        # all cores (default 128 MB splits leave a 60 MB file on ONE task).
        # Target ~2 splits per core, floor 4 MB, never above the default.
        par = spark.sparkContext.defaultParallelism
        size = _input_bytes(adapter.path)
        split = min(128 << 20, max(4 << 20, size // max(1, par * 2)))
        set_conf("spark.sql.files.maxPartitionBytes", str(split))
        # the fused Scan→Project(11 lenient casts)→Write stage generates
        # a method far past HotSpot's JIT limits: whole-stage codegen
        # runs INTERPRETED bytecode and loses to the non-fused path
        # (measured on 600k-row lineitem, local[32]: warm 8.5s→5.2s,
        # cold 12.4s→9.6s incl. the one-shot Janino compile it skips).
        # Pin WSCG off for the conversion job only; per-expression
        # evaluation stays JVM-side with runtime subexpression
        # elimination.
        set_conf("spark.sql.codegen.wholeStage", "false")

        if types is None:
            obs = Observation("row_count")
            out = frame.observe(obs, F.count(F.lit(1)).alias("__rows"))
        else:
            if strict_drop:
                frame = drop_replacement_char_rows(frame, names)
            # ordering (when requested) happens below the observation point
            typed = observed_typed_frame if observe_errors else counted_typed_frame
            out, obs = typed(frame, types, preserve_order=preserve_order)

        if single_file:  # the one-file contract must yield exactly one part
            tmp = output_path + "._spark_tmp"
            out.coalesce(1).write.mode("overwrite").option(
                "compression", "zstd"
            ).parquet(tmp)
            _promote_single_file(tmp, output_path)
        else:
            # width-adaptive output chunking (O1/S6, conversion.rs:52-58,169):
            # the reference couples block size = parquet row-group size to
            # the column count; the Spark analogue caps rows per output file
            width = len(names)
            block_rows = 250_000 if width <= 20 else 150_000 if width <= 50 else 5_000
            out.write.mode("overwrite").option("compression", "zstd").option(
                "maxRecordsPerFile", block_rows
            ).parquet(output_path)

    got = obs.get
    # sample-based inference can pick the LongType uint64 lowering from a
    # sample whose max fits i64 while LATER rows exceed it; those values
    # null out (counted in parse_errors) — surface the silent loss
    if from_sample:
        for i, (name, lt) in enumerate(zip(names, types)):
            nulled = got.get(f"__err_{i}")
            if lt.kind == "uint64" and not lt.uint_exceeds_i64 and nulled:
                logging.getLogger(__name__).warning(
                    "column %r: %d value(s) outside the sample-inferred "
                    "int64 range were nulled; re-run with infer_full=True "
                    "to lower uint64 columns to DECIMAL(20,0)",
                    name,
                    nulled,
                )
    return ConvertResult(
        output_path=output_path,
        columns=names,
        types=types,
        delimiter=adapter.delimiter,
        seconds=time.monotonic() - t0,
        rows=got["__rows"],
        # infallible (string/binary) casts have no metric: structurally 0
        parse_errors={n: got.get(f"__err_{i}") or 0 for i, n in enumerate(names)},
    )


def convert_delimited_to_parquet(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    infer_full: bool = False,
    preserve_order: bool = False,
    single_file: bool = False,
    delimiter: str | None = None,
    strict_drop: bool = False,
    observe_errors: bool = True,
) -> ConvertResult:
    """End-to-end delimited conversion (the product surface,
    main.rs:39-83): the delimiter is sniffed from the first file unless
    given, then :func:`run_conversion` with the same options."""
    return run_conversion(
        spark,
        delimited_adapter(spark, input_path, delimiter),
        output_path,
        infer_full=infer_full,
        preserve_order=preserve_order,
        single_file=single_file,
        strict_drop=strict_drop,
        observe_errors=observe_errors,
    )


def _promote_single_file(tmp_dir: str, dest: str) -> None:
    """Move the single part-file out of Spark's output directory so the
    CLI matches the reference's one-file contract (S7, main.rs:122-137)."""
    import glob
    import os
    import shutil

    parts = glob.glob(os.path.join(tmp_dir, "part-*.parquet"))
    if len(parts) != 1:  # pragma: no cover
        raise RuntimeError(f"expected 1 part file in {tmp_dir}, found {len(parts)}")
    if os.path.isdir(dest):
        shutil.rmtree(dest)
    elif os.path.exists(dest):
        os.remove(dest)
    shutil.move(parts[0], dest)
    shutil.rmtree(tmp_dir)
