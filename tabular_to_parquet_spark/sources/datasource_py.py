"""Spark 4 Python DataSource API wrapper for the pure-Python Avro
container reader (`sources/avro_python.py`).

`spark.read.format("binaryFile")` + `mapInPandas` (sources/columnar.py)
remains the PERFORMANCE path — Arrow-batched, schema projected before
decode. This module exposes the same reader through the official
`pyspark.sql.datasource` extension point so the format composes like
any built-in source:

    spark.dataSource.register(AvroContainerDataSource)
    df = spark.read.format("avro_py").load("/data/avro_dir")

Planner integration comes free: one `InputPartition` per container
file (files decode in parallel across Python workers, no shuffle, no
driver loop), schema discovered from the first file's header at plan
time. Row-tuple emission keeps the reader dependency-free; a
RecordBatch emitter would lift throughput if this ever became the hot
path (it is not — see columnar.py).
"""

from __future__ import annotations

import glob
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)


def _container_files(path: str) -> list[str]:
    if os.path.isdir(path):
        return sorted(glob.glob(os.path.join(path, "*.avro")))
    return [path]


class AvroContainerDataSource(DataSource):
    """``format("avro_py")`` — Avro OCF via the Python DataSource API."""

    @classmethod
    def name(cls) -> str:
        return "avro_py"

    def schema(self) -> str:
        from tabular_to_parquet_spark.sources.avro_python import (
            parse_record_schema,
            read_header,
            spark_schema_ddl,
        )
        import io

        files = _container_files(self.options["path"])
        if not files:
            raise FileNotFoundError(
                f"no .avro container files under {self.options['path']!r}"
            )
        with open(files[0], "rb") as f:
            schema_json, _codec, _sync = read_header(io.BytesIO(f.read()))
        return spark_schema_ddl(parse_record_schema(schema_json))

    def reader(self, schema) -> "AvroContainerReader":
        return AvroContainerReader(self.options["path"])

    def writer(self, schema, overwrite: bool) -> "AvroContainerWriter":
        return AvroContainerWriter(self.options["path"], schema, overwrite)

    def streamWriter(self, schema, overwrite: bool) -> "AvroStreamWriter":
        return AvroStreamWriter(self.options["path"], schema)


class AvroContainerReader(DataSourceReader):
    def __init__(self, path: str):
        self.path = path

    def partitions(self) -> list[InputPartition]:
        return [InputPartition(f) for f in _container_files(self.path)]

    def read(self, partition: InputPartition):
        import datetime
        import io

        from tabular_to_parquet_spark.sources.avro_python import (
            iter_records,
            parse_record_schema,
            read_header,
        )

        with open(partition.value, "rb") as f:
            content = f.read()
        # iter_records yields raw decoded values (dates as epoch days,
        # timestamps as epoch millis/micros ints); the tuple protocol
        # wants Python date/datetime objects — naive, interpreted in
        # the session TZ (pinned UTC in session.py)
        schema_json, _codec, _sync = read_header(io.BytesIO(content))
        fields = parse_record_schema(schema_json)
        epoch_d = datetime.date(1970, 1, 1)
        epoch_ts = datetime.datetime(1970, 1, 1)

        def conv(kind):
            if kind == "date":
                return lambda v: epoch_d + datetime.timedelta(days=v)
            if kind == "timestamp-millis":
                return lambda v: epoch_ts + datetime.timedelta(milliseconds=v)
            if kind == "timestamp-micros":
                return lambda v: epoch_ts + datetime.timedelta(microseconds=v)
            return lambda v: v

        convs = [(name, conv(kind)) for name, kind, _null in fields]
        for rec in iter_records(content):
            yield tuple(
                None if rec[name] is None else c(rec[name]) for name, c in convs
            )


# ---------------------------------------------------------------------------
# streaming: deterministic replay of a parquet table in micro-batches


class EventsReplayDataSource(DataSource):
    """``readStream.format("events_replay")`` — Spark 4 Python
    STREAMING data source (SimpleDataSourceStreamReader): replays a
    parquet events table in ``batches`` deterministic event_id-ordered
    micro-batches. Offsets are row positions, so ``readBetweenOffsets``
    replays any batch exactly (the recovery contract); on static input
    a drained run reproduces the batch result.

    The simple-reader variant reads on the DRIVER — right for modest
    per-batch volumes (control streams, replay fixtures, tests). The
    partition-parallel ``streamReader`` is the executor-side variant;
    the batch half of this module shows that shape.
    """

    @classmethod
    def name(cls) -> str:
        return "events_replay"

    def schema(self) -> str:
        return ("event_id long, ts timestamp, user_id long, "
                "event_type string, value double, props string")

    def simpleStreamReader(self, schema) -> "EventsReplayStreamReader":
        return EventsReplayStreamReader(
            self.options["path"], int(self.options.get("batches", "4"))
        )


def _normalize_events_ts(tbl):
    """Normalize the ``ts`` column to timestamp[us, UTC] whatever the
    file's physical type: raw epoch-ns int64 (the driver testdata's
    events encoding) or a tz-naive timestamp (any Spark-written
    parquet under a naive writer). Spark's Python-data-source Arrow
    conversion REJECTS tz-naive datetimes for a tz-aware session
    (``Cannot convert tz-naive Timestamp`` — found by the round-7
    10x-replica smoke, where the replica stores real timestamps),
    and raw ns ints would be misread as µs."""
    import pyarrow as pa
    import pyarrow.compute as pc

    i = tbl.schema.get_field_index("ts")
    if i < 0:  # pragma: no cover - events tables always carry ts
        return tbl
    t = tbl.schema.field(i).type
    col = tbl.column(i)
    if pa.types.is_integer(t):
        col = col.cast(pa.timestamp("ns"), safe=False)
        t = pa.timestamp("ns")
    if pa.types.is_timestamp(t) and t.tz is None:
        col = pc.assume_timezone(col, "UTC")
    col = col.cast(pa.timestamp("us", tz="UTC"), safe=False)
    return tbl.set_column(
        i, pa.field("ts", pa.timestamp("us", tz="UTC")), col
    )


#: the source's declared schema as Arrow types — exactly what Spark's
#: Python-data-source worker expects (``to_arrow_schema`` of the DDL:
#: RecordBatch yields bypass per-value conversion, so types must match)
def _events_arrow_schema():
    import pyarrow as pa

    return pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("us", tz="UTC")),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    )


def _events_to_batches(tbl):
    """Column-ordered, schema-cast RecordBatch list for a (possibly
    sliced) events table. A LIST (not a generator): the simple-reader
    prefetch cache ``copy.copy``s the iterator on replay, which only
    works for list iterators."""
    sch = _events_arrow_schema()
    return tbl.select(sch.names).cast(sch).combine_chunks().to_batches()


class EventsReplayStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, path: str, batches: int):
        self.path = path
        self.batches = batches
        self._table = None  # lazy; loaded once per (driver) instance

    def _load(self):
        if self._table is None:
            import pyarrow.parquet as pq

            self._table = _normalize_events_ts(
                pq.read_table(self.path).sort_by("event_id")
            )
        return self._table

    def initialOffset(self) -> dict:
        return {"pos": 0}

    def read(self, start: dict):
        # Arrow-batched emission: zero-copy slices of the prefetched
        # table, never per-row Python tuples (r7 verdict item 3)
        tbl = self._load()
        n = tbl.num_rows
        if start["pos"] >= n:
            return iter(()), start  # caught up: same offset, no data
        per = max(1, -(-n // self.batches))  # ceil-div
        end = min(n, start["pos"] + per)
        batches = _events_to_batches(tbl.slice(start["pos"], end - start["pos"]))
        return iter(batches), {"pos": end}

    def readBetweenOffsets(self, start: dict, end: dict):
        sliced = self._load().slice(start["pos"], end["pos"] - start["pos"])
        return iter(_events_to_batches(sliced))

    def commit(self, end: dict) -> None:
        pass  # nothing to clean up: the source is a static file


class EventsReplayParallelDataSource(DataSource):
    """``readStream.format("events_replay_par")`` — the executor-side
    streaming variant (DataSourceStreamReader): the driver only plans
    offsets (row ranges); every micro-batch's range is split into
    ``parallelism`` InputPartitions whose rows are read by Python
    workers on executors. The scale shape for a real feed: offset
    planning is O(1) driver work, payload bytes never touch the
    driver (contrast the SimpleDataSourceStreamReader above)."""

    @classmethod
    def name(cls) -> str:
        return "events_replay_par"

    def schema(self) -> str:
        return ("event_id long, ts timestamp, user_id long, "
                "event_type string, value double, props string")

    def streamReader(self, schema) -> "EventsReplayParallelReader":
        return EventsReplayParallelReader(
            self.options["path"],
            int(self.options.get("batches", "4")),
            int(self.options.get("parallelism", "4")),
        )


class _RangePartition(InputPartition):
    def __init__(self, path: str, start: int, end: int):
        self.path = path
        self.start = start
        self.end = end


class EventsReplayParallelReader(DataSourceStreamReader):
    def __init__(self, path: str, batches: int, parallelism: int):
        import pyarrow.dataset as ds

        self.path = path
        self.parallelism = parallelism
        # dataset, not read_metadata: the path may be a Spark-written
        # parquet DIRECTORY (multi-file + _SUCCESS; '_'/'.'-prefixed
        # files are ignored by dataset discovery) — single-file
        # metadata reads fail on it (round-7 10x-replica smoke)
        self.total = ds.dataset(path, format="parquet").count_rows()
        self.per = max(1, -(-self.total // batches))  # ceil-div
        self._cur = 0

    def initialOffset(self) -> dict:
        return {"pos": 0}

    def latestOffset(self) -> dict:
        self._cur = min(self.total, self._cur + self.per)
        return {"pos": self._cur}

    def partitions(self, start: dict, end: dict):
        s, e = start["pos"], end["pos"]
        if e <= s:
            return [_RangePartition(self.path, s, s)]
        step = max(1, -(-(e - s) // self.parallelism))
        return [
            _RangePartition(self.path, lo, min(e, lo + step))
            for lo in range(s, e, step)
        ]

    def read(self, partition: _RangePartition):
        import pyarrow as pa
        import pyarrow.dataset as ds

        if partition.end <= partition.start:
            return
        # Fragment-pruned read: walk per-fragment row counts (cheap —
        # parquet footer metadata) and materialize ONLY the fragments
        # overlapping this partition's row range, instead of a full
        # table scan + slice per partition (which was P full scans per
        # micro-batch). Fragment enumeration order is the same
        # deterministic dataset-discovery order the offset planner's
        # count_rows() walked, so global row positions line up.
        dataset = ds.dataset(partition.path, format="parquet")
        pos = 0
        chunks = []
        for frag in dataset.get_fragments():
            n = frag.count_rows()
            lo = max(partition.start, pos)
            hi = min(partition.end, pos + n)
            if lo < hi:
                chunks.append(frag.to_table().slice(lo - pos, hi - lo))
            pos += n
            if pos >= partition.end:
                break
        tbl = _normalize_events_ts(pa.concat_tables(chunks))
        # Arrow-batched emission (r7 verdict item 3): yield RecordBatch
        # slices, never per-row Python tuples
        yield from _events_to_batches(tbl)

    def commit(self, end: dict) -> None:
        pass

    def stop(self) -> None:
        pass


# ---------------------------------------------------------------------------
# batch WRITER: df.write.format("avro_py").save(dir)


#: Spark type name → (avro primitive/logical kind)
_AVRO_KINDS = {
    "boolean": "boolean",
    "integer": "int",
    "long": "long",
    "float": "float",
    "double": "double",
    "string": "string",
    "binary": "bytes",
    "date": "date",
    "timestamp": "timestamp-micros",
    "timestamp_ntz": "timestamp-micros",
}


def _avro_schema_for(schema) -> dict:
    fields = []
    for f in schema.fields:
        t = f.dataType.typeName()
        kind = _AVRO_KINDS.get(t)
        if kind is None:
            raise ValueError(f"avro_py writer: unsupported Spark type {t!r}")
        if kind in ("date", "timestamp-micros"):
            base = "int" if kind == "date" else "long"
            node = {"type": base, "logicalType":
                    "date" if kind == "date" else "timestamp-micros"}
        else:
            node = kind
        fields.append({"name": f.name, "type": ["null", node]})
    return {"type": "record", "name": "spark_frame", "fields": fields}


class AvroWriterCommit(WriterCommitMessage):
    def __init__(self, path: str, rows: int):
        self.path = path
        self.rows = rows


class AvroContainerWriter(DataSourceWriter):
    """One Avro OCF per input partition, written executor-side; the
    driver's commit() drops a _SUCCESS marker listing the parts (the
    standard two-phase Hadoop-style contract in miniature; abort()
    leaves no marker so readers ignore the partial output)."""

    def __init__(self, path: str, schema, overwrite: bool):
        self.path = path
        self.schema_json_fields = _avro_schema_for(schema)
        self.names = [f.name for f in schema.fields]
        self.kinds = [
            _AVRO_KINDS[f.dataType.typeName()] for f in schema.fields
        ]
        self.overwrite = overwrite

    def write(self, iterator):
        import datetime
        import os
        import uuid

        from tabular_to_parquet_spark.sources.avro_python import write_container

        epoch_d = datetime.date(1970, 1, 1)
        epoch_ts = datetime.datetime(1970, 1, 1)

        def raw(v, kind):
            if v is None:
                return None
            if kind == "date":
                return (v - epoch_d).days
            if kind == "timestamp-micros":
                base = v.replace(tzinfo=None) if v.tzinfo else v
                delta = base - epoch_ts
                return (delta.days * 86_400_000_000
                        + delta.seconds * 1_000_000 + delta.microseconds)
            return v

        records = [
            {n: raw(getattr(row, n), k)
             for n, k in zip(self.names, self.kinds)}
            for row in iterator
        ]
        os.makedirs(self.path, exist_ok=True)
        part = os.path.join(self.path, f"part-{uuid.uuid4().hex}.avro")
        write_container(part, self.schema_json_fields, records)
        return AvroWriterCommit(part, len(records))

    def commit(self, messages):
        import os

        with open(os.path.join(self.path, "_SUCCESS"), "w") as f:
            for m in messages:
                f.write(f"{os.path.basename(m.path)}\t{m.rows}\n")

    def abort(self, messages):
        import os

        for m in messages:
            if m is not None and os.path.exists(m.path):
                os.remove(m.path)


class AvroStreamWriter(DataSourceStreamWriter):
    """Streaming sink: each micro-batch partition becomes one
    container file; commit(batchId) appends the batch's parts to a
    _batches log (the idempotence hook — a re-delivered batchId can be
    detected and its parts dropped), abort removes the parts."""

    def __init__(self, path: str, schema):
        self._batch_writer = AvroContainerWriter(path, schema, overwrite=False)
        self.path = path

    def write(self, iterator):
        return self._batch_writer.write(iterator)

    def commit(self, messages, batchId: int) -> None:
        import os

        with open(os.path.join(self.path, "_batches"), "a") as f:
            for m in messages:
                if m is not None:
                    f.write(f"{batchId}\t{os.path.basename(m.path)}\t{m.rows}\n")

    def abort(self, messages, batchId: int) -> None:
        self._batch_writer.abort(messages)


# ---------------------------------------------------------------------------
# SQLite source: format("sqlite_py").option("path", db).option("table", t)


#: SQLite declared-type prefix → Spark SQL type (affinity rules)
_SQLITE_TYPES = (
    ("INT", "long"),
    ("CHAR", "string"), ("CLOB", "string"), ("TEXT", "string"),
    ("BLOB", "binary"),
    ("REAL", "double"), ("FLOA", "double"), ("DOUB", "double"),
    ("NUMERIC", "double"), ("DECIMAL", "double"),
    ("BOOL", "boolean"),
    ("DATE", "string"), ("TIME", "string"),  # SQLite stores these as text
)


def _sqlite_spark_type(decl: str) -> str:
    d = (decl or "").upper()
    for prefix, spark_t in _SQLITE_TYPES:
        if prefix in d:
            return spark_t
    return "string"  # SQLite affinity fallback


class SqliteDataSource(DataSource):
    """``format("sqlite_py")`` — read a SQLite table as a DataFrame.

    Schema from ``PRAGMA table_info`` (affinity-mapped); partitions
    are rowid ranges so a large table scans in parallel. The db file
    must be visible to executors (shared storage on a cluster — the
    same contract every file-based source has). Read-only URI mode,
    one connection per partition, no driver bottleneck.
    """

    @classmethod
    def name(cls) -> str:
        return "sqlite_py"

    def _connect(self):
        import sqlite3

        return sqlite3.connect(
            f"file:{self.options['path']}?mode=ro", uri=True
        )

    def schema(self) -> str:
        table = self.options["table"]
        with self._connect() as con:
            cols = con.execute(f'PRAGMA table_info("{table}")').fetchall()
        if not cols:
            raise ValueError(f"sqlite table {table!r} not found or empty schema")
        return ", ".join(
            f"`{name}` {_sqlite_spark_type(decl)}"
            for _cid, name, decl, _nn, _dflt, _pk in cols
        )

    def reader(self, schema) -> "SqliteReader":
        return SqliteReader(
            self.options["path"],
            self.options["table"],
            int(self.options.get("partitions", "4")),
        )


class SqliteReader(DataSourceReader):
    def __init__(self, path: str, table: str, n_parts: int):
        self.path = path
        self.table = table
        self.n_parts = n_parts

    def partitions(self) -> list[InputPartition]:
        import sqlite3

        con = sqlite3.connect(f"file:{self.path}?mode=ro", uri=True)
        try:
            lo, hi = con.execute(
                f'SELECT MIN(rowid), MAX(rowid) FROM "{self.table}"'
            ).fetchone()
        finally:
            con.close()
        if lo is None:
            return [InputPartition((self.path, self.table, 0, -1))]
        step = max(1, -(-(hi - lo + 1) // self.n_parts))
        return [
            InputPartition((self.path, self.table, b, min(hi, b + step - 1)))
            for b in range(lo, hi + 1, step)
        ]

    def read(self, partition: InputPartition):
        import sqlite3

        path, table, lo, hi = partition.value
        if hi < lo:
            return
        con = sqlite3.connect(f"file:{path}?mode=ro", uri=True)
        try:
            cur = con.execute(
                f'SELECT * FROM "{table}" WHERE rowid BETWEEN ? AND ?',
                (lo, hi),
            )
            yield from cur
        finally:
            con.close()
