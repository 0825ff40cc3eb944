"""Columnar-container sources (ORC / Avro / Arrow IPC) — format
extensions beyond the reference (SURVEY.md §2.8: "no JSON/Avro/ORC
sources").

Same design as the JSON-lines source: the engine after the scan is
format-agnostic. Two entry shapes:

- a TYPED container (the normal case for ORC/Avro): the schema rides
  the file, so inference is unnecessary — scan → zstd parquet sink,
  one shuffle-free ``Scan → WriteFiles`` plan.
- an all-STRING container (stringly data dumped into ORC/Avro): the
  shared inference thresholds + lenient cast builders apply, exactly
  like the delimited/JSON paths — one pipeline, many wire formats.

Avro note: Spark ships Avro as an external module (`spark-avro`).
When the connector jar is on the classpath
(``--packages org.apache.spark:spark-avro_2.13:<ver>``) it is used
directly; when it is absent, ``fmt="avro"`` falls back to the
pure-Python Object Container File reader (``sources/avro_python.py``)
distributed as ``binaryFile`` scan → Arrow-batched ``mapInPandas``
decode — files decode in parallel across tasks, no shuffle, no driver
loop (one task per container file; see avro_python docstring for the
single-huge-file caveat).
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from tabular_to_parquet_spark.sources.adapter import Adapter

SUPPORTED_FORMATS = ("orc", "avro", "ipc")


def read_avro_python(spark: SparkSession, path: str) -> DataFrame:
    """Avro container file(s) → DataFrame without the spark-avro jar.

    ``binaryFile`` lists the containers (one row per file); the schema
    is fixed driver-side from the FIRST file's header (the usual
    single-writer directory layout — mixed-schema directories raise in
    the decode task when field decode misaligns); an Arrow-batched
    ``mapInPandas`` decodes record blocks executor-side.
    """
    from tabular_to_parquet_spark.sources import avro_python as ap

    files = spark.read.format("binaryFile").load(path)
    first = files.orderBy("path").select("content").head()
    if first is None:
        raise ValueError(f"no files under {path!r}")
    import io

    schema_json, _, _ = ap.read_header(io.BytesIO(bytes(first["content"])))
    fields = ap.parse_record_schema(schema_json)
    ddl = ap.spark_schema_ddl(fields)

    def decode(batches):
        for pdf in batches:
            for content in pdf["content"]:
                yield ap.container_to_pandas(bytes(content))

    return files.select("content").mapInPandas(decode, schema=ddl)


def _load_ipc_manifest(spark: SparkSession, path: str, suffixes=(".arrow",)):
    """Best-effort read of ``{path}/_SUCCESS`` through the Hadoop
    FileSystem API — the SAME filesystem resolution the ``binaryFile``
    scan uses, so the manifest is honored however the directory is
    spelled (plain local path, ``file:/`` URI, or a remote filesystem
    the cluster's Hadoop config can reach), not only when the driver's
    local ``os.path`` happens to see it.

    Returns the validated part-file basenames, or ``None`` when there
    is no usable manifest — absent, unreadable, the conventional EMPTY
    Hadoop job marker, or content whose first tab-fields don't look
    like ``.arrow`` part names.  ``None`` means "read everything": a
    directory of valid containers with a foreign ``_SUCCESS`` must not
    be filtered down to zero files.

    If the JVM route itself throws (e.g. commons-io missing on some
    deployment), a driver-local ``open()`` of the plain path is tried
    before giving up — otherwise a JVM hiccup would silently ignore a
    real manifest and re-admit torn task output (r10 ADVICE).
    """
    text = None
    try:
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(
            path.rstrip("/") + "/_SUCCESS"
        )
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(hpath):
            return None
        stream = fs.open(hpath)
        try:
            text = jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()
    except Exception:
        # JVM route failed (NOT "file absent" — that returns above):
        # fall back to a driver-local read for plain local paths.
        import os

        local = path[len("file:"):] if path.startswith("file:") else path
        marker = os.path.join(local, "_SUCCESS")
        try:
            if not os.path.exists(marker):
                return None
            with open(marker, encoding="utf-8") as fh:
                text = fh.read()
        except OSError:
            return None
    if text is None:
        return None
    listed = [
        ln.split("\t")[0] for ln in text.splitlines() if ln.strip()
    ]
    if not listed or not all(n.endswith(tuple(suffixes)) for n in listed):
        return None
    return listed


def read_ipc_python(spark: SparkSession, path: str) -> DataFrame:
    """Arrow IPC (Feather v2 / ``.arrow``) file(s) → DataFrame.

    Spark has no native IPC reader, but the format IS Arrow — the same
    memory layout ``mapInArrow`` exchanges with the JVM — so the decode
    path is zero-copy: ``binaryFile`` lists the containers (one row per
    file, whole-file content), the schema is fixed driver-side from the
    FIRST file's footer, and an executor-side ``mapInArrow`` re-yields
    each file's record batches directly (the only transform is a cast
    to Spark's Arrow schema, e.g. naive timestamps → session-UTC).
    One task per container file, no shuffle, no per-row Python; both
    the random-access file format and the stream format decode (footer
    probe falls back to the stream reader).

    When ``path`` is a directory holding the ``_SUCCESS`` manifest
    ``write_ipc`` emits, only the part files the manifest names are
    read — an orphan ``part-*.arrow`` left by a failed or retried
    write task (the torn-output scenario the two-phase writer exists
    for) is excluded instead of silently double-read.
    """
    import pyarrow as pa

    from pyspark.sql import functions as F
    from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema

    def _open(buf: bytes):
        try:
            return pa.ipc.open_file(pa.BufferReader(buf))
        except pa.ArrowInvalid:
            return pa.ipc.open_stream(pa.BufferReader(buf))

    files = spark.read.format("binaryFile").load(path)
    listed = _load_ipc_manifest(spark, path)
    if listed is not None:
        files = files.where(
            F.element_at(F.split(F.col("path"), "/"), -1).isin(listed)
        )
    first = files.orderBy("path").select("content").head()
    if first is None:
        raise ValueError(f"no files under {path!r}")
    src_schema = _open(bytes(first["content"])).schema
    spark_schema = from_arrow_schema(src_schema)
    target = to_arrow_schema(spark_schema)

    def decode(batches):
        for b in batches:
            for content in b.column(0):
                reader = _open(content.as_py())
                if isinstance(reader, pa.ipc.RecordBatchFileReader):
                    it = (
                        reader.get_batch(i)
                        for i in range(reader.num_record_batches)
                    )
                else:
                    it = iter(reader)
                for rb in it:
                    yield rb.cast(target)

    return files.select("content").mapInArrow(decode, schema=spark_schema)


def read_columnar(spark: SparkSession, path: str, fmt: str) -> DataFrame:
    if fmt not in SUPPORTED_FORMATS:
        raise ValueError(f"unsupported columnar format: {fmt!r}")
    if fmt == "ipc":
        return read_ipc_python(spark, path)
    if fmt == "avro" and not source_registered(spark, "avro"):
        return read_avro_python(spark, path)
    return spark.read.format(fmt).load(path)


def source_registered(spark: SparkSession, fmt: str) -> bool:
    """True when Spark resolves the data source ``fmt`` (spark-avro is
    an external module). The lookup runs no query, so a missing source
    leaves no failed read for the query listeners to log."""
    lookup = spark._jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource
    try:
        lookup(fmt, spark._jsparkSession.sessionState().conf())
    except (AnalysisException, Py4JJavaError):
        return False
    return True


def columnar_adapter(spark: SparkSession, path: str, fmt: str = "orc") -> Adapter:
    """ORC/Avro/IPC as a conversion adapter. Typed containers pass
    through (their schema is authoritative); an all-string container is
    raw text and runs the shared inference over the whole frame (there
    is no driver-side reader) and the lenient casts."""
    frame = read_columnar(spark, path, fmt)
    stringly = bool(frame.columns) and all(
        isinstance(f.dataType, T.StringType) for f in frame.schema.fields
    )
    return Adapter(frame.columns, frame, path, typed=not stringly)


def write_ipc(
    df: DataFrame,
    path: str,
    compression: str | None = "zstd",
    compression_level: int | None = None,
    rows_per_batch: int | None = None,
):
    """Arrow IPC (Feather v2) export sink — the hand-off format for
    pandas/polars/DuckDB consumers downstream of the engine.

    One container file per input partition, written EXECUTOR-SIDE from
    the partition's own Arrow batches (``mapInArrow`` — the data is
    already Arrow when it crosses from the JVM, so the writer adds no
    row-at-a-time work and no driver collect; control the file count
    with ``df.repartition(n)`` upstream). Two-phase in miniature: parts
    land under uuid names, then the driver's ``_SUCCESS`` manifest
    lists (file, rows) — readers that honor the marker ignore torn
    output from failed jobs, and a retried task's orphan part is never
    listed. Returns [(file, rows)] from the manifest.

    ``compression_level`` and ``rows_per_batch`` are the parquet
    sink's row-group discipline transposed to IPC (conversion.rs
    pins zstd level 5 and couples block rows to width — session.py
    does the same for parquet): the level rides
    ``pa.Codec(compression, level)``, and incoming Arrow batches
    (Spark's ~10k-row exchange granularity) are re-chunked so each
    written record batch — the IPC reader's unit of decompression
    and skipping — holds ~``rows_per_batch`` rows. Re-chunking
    buffers at most one output batch, not the partition.
    """
    import os
    import uuid

    os.makedirs(path, exist_ok=True)

    def dump(batches):
        import pyarrow as pa
        import pyarrow.ipc as pipc

        if compression is not None and compression_level is not None:
            codec = pa.Codec(compression, compression_level=compression_level)
        else:
            codec = compression

        writer = None
        fname = None
        n = 0
        pending: list = []
        pending_rows = 0

        def flush(force: bool):
            # re-chunk accumulated batches to ~rows_per_batch; a
            # sub-target remainder stays pending unless forced
            nonlocal pending, pending_rows
            if not pending or (not force and pending_rows < rows_per_batch):
                return
            take = pa.Table.from_batches(pending).combine_chunks()
            pending, pending_rows = [], 0
            for chunk in take.to_batches(max_chunksize=rows_per_batch):
                if force or chunk.num_rows >= rows_per_batch:
                    writer.write_batch(chunk)
                else:
                    pending.append(chunk)
                    pending_rows += chunk.num_rows

        for b in batches:
            if writer is None:
                fname = os.path.join(path, f"part-{uuid.uuid4().hex}.arrow")
                writer = pipc.new_file(
                    fname, b.schema,
                    options=pipc.IpcWriteOptions(compression=codec),
                )
            n += b.num_rows
            if rows_per_batch is None:
                writer.write_batch(b)
            else:
                pending.append(b)
                pending_rows += b.num_rows
                flush(force=False)
        if writer is not None:
            if rows_per_batch is not None:
                flush(force=True)
            writer.close()
            yield pa.record_batch(
                {"file": [os.path.basename(fname)], "rows": [n]}
            )

    manifest = [
        (r["file"], int(r["rows"]))
        for r in df.mapInArrow(dump, "file string, rows bigint").collect()
    ]
    with open(os.path.join(path, "_SUCCESS"), "w") as fh:
        for name, rows in sorted(manifest):
            fh.write(f"{name}\t{rows}\n")
    return manifest
