"""WARC source (ISO 28500) — the web-archive container every
crawl-derived LLM corpus starts from: Common Crawl publishes WARC, and
the CCNet/RefinedWeb/FineWeb-style pipelines all begin with "read the
response records out of the WARC files".  A format extension beyond
the reference (SURVEY.md §2.8 class, like ORC/Avro/IPC) that turns the
engine into the FIRST stage of a crawl pipeline instead of the second.

Wire format: a WARC file is a sequence of records; each record is a
``WARC/1.x`` version line, CRLF-separated ``Name: value`` headers, a
blank line, ``Content-Length`` payload bytes, and a CRLF CRLF record
terminator.  ``response`` records carry an HTTP response as payload
(status line + headers + blank line + body).  Real archives are
usually ``.warc.gz`` with ONE GZIP MEMBER PER RECORD so readers can
seek; Python's zlib consumes concatenated members, so both whole-file
gzip and member-per-record gzip decode on the same path.

Scan shape (the avro_python recipe): ``binaryFile`` lists the
containers — one row per ``.warc``/``.warc.gz`` file — and an
Arrow-batched ``mapInPandas`` parses records executor-side.  One task
per archive file, no shuffle, no driver loop, no per-row Python; at
100 TB the unit of parallelism is the archive file, exactly how
Common Crawl shards (~1 GB gzipped segments, tens of thousands of
files per crawl).  The single-huge-file caveat is the same as Avro's:
one container = one task.

The extracted frame is TYPED metadata + opaque binary payload
(http_body stays ``binary`` — charset sniffing/decoding is a
downstream transform, the multimodal-column rule): record_id,
warc_type, target_uri, warc_date (timestamp), content_type,
http_status, payload_len, http_body.
"""

from __future__ import annotations

import gzip
import io
import zlib
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession

from tabular_to_parquet_spark.sources.adapter import Adapter

#: extraction schema (DDL) — binary body LAST so prose columns print
WARC_SCHEMA = (
    "record_id string, warc_type string, target_uri string, "
    "warc_date timestamp, content_type string, http_status int, "
    "payload_len bigint, http_body binary"
)


def _gunzip_members(buf: bytes) -> bytes:
    """Decompress whole-file gzip OR concatenated per-record members
    (the standard .warc.gz layout) into one plain-WARC byte string."""
    out = []
    pos = 0
    while pos < len(buf):
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        out.append(d.decompress(buf[pos:]))
        tail = d.unused_data
        if not tail:
            break
        pos = len(buf) - len(tail)
    return b"".join(out)


def parse_warc_records(buf: bytes):
    """Yield ``(headers: dict[str,str], payload: bytes)`` per record.

    Strict on structure (a malformed archive should fail the task, not
    silently truncate), lenient on text (header values decode UTF-8
    with replacement).
    """
    if buf[:2] == b"\x1f\x8b":
        buf = _gunzip_members(buf)
    pos, n = 0, len(buf)
    while pos < n:
        while buf[pos : pos + 2] == b"\r\n":
            pos += 2
        if pos >= n:
            break
        eol = buf.index(b"\r\n", pos)
        version = buf[pos:eol]
        if not version.startswith(b"WARC/"):
            raise ValueError(
                f"not a WARC record at byte {pos}: {version[:32]!r}"
            )
        pos = eol + 2
        headers: dict[str, str] = {}
        while True:
            eol = buf.index(b"\r\n", pos)
            line = buf[pos:eol]
            pos = eol + 2
            if not line:
                break
            k, _, v = line.partition(b":")
            headers[k.strip().decode("ascii", "replace").lower()] = v.strip().decode(
                "utf-8", "replace"
            )
        length = int(headers["content-length"])
        payload = buf[pos : pos + length]
        if len(payload) != length:
            raise ValueError(
                f"truncated record: expected {length} payload bytes, "
                f"got {len(payload)}"
            )
        pos += length
        yield headers, payload


def split_http_response(payload: bytes):
    """``(status: int | None, headers: dict, body: bytes)`` from an
    HTTP response payload; a payload that isn't HTTP (warcinfo,
    metadata, resource records) comes back ``(None, {}, payload)``."""
    if not payload.startswith(b"HTTP/"):
        return None, {}, payload
    head, sep, body = payload.partition(b"\r\n\r\n")
    if not sep:
        return None, {}, payload
    lines = head.split(b"\r\n")
    try:
        status = int(lines[0].split()[1])
    except (IndexError, ValueError):
        return None, {}, payload
    headers: dict[str, str] = {}
    for line in lines[1:]:
        k, _, v = line.partition(b":")
        headers[k.strip().decode("ascii", "replace").lower()] = v.strip().decode(
            "utf-8", "replace"
        )
    return status, headers, body


def _parse_warc_date(value: str | None):
    """ISO-8601 ``YYYY-MM-DDThh:mm:ssZ`` → tz-naive UTC datetime (the
    session is pinned UTC; naive values cross the Arrow bridge without
    the NTZ drift class ev02 documented)."""
    if not value:
        return None
    try:
        dt = datetime.strptime(value, "%Y-%m-%dT%H:%M:%SZ")
    except ValueError:
        try:
            dt = datetime.fromisoformat(value.replace("Z", "+00:00"))
        except ValueError:
            return None
        dt = dt.astimezone(timezone.utc).replace(tzinfo=None)
    return dt


def read_warc_python(spark: SparkSession, path: str) -> DataFrame:
    """WARC archive file(s) → extracted DataFrame (``WARC_SCHEMA``).

    ``binaryFile`` scan → Arrow-batched ``mapInPandas`` decode; each
    record becomes one row, response payloads split into status /
    content-type / body, non-HTTP payloads pass through opaque."""
    import pandas as pd

    from pyspark.sql import functions as F

    from tabular_to_parquet_spark.sources.columnar import _load_ipc_manifest

    files = spark.read.format("binaryFile").load(path)
    # honor a write_warc _SUCCESS manifest (same Hadoop-FS resolution
    # and read-everything fallback as the IPC reader): torn/retried
    # task output under unlisted names is never double-read
    listed = _load_ipc_manifest(spark, path, suffixes=(".warc", ".warc.gz"))
    if listed is not None:
        files = files.where(
            F.element_at(F.split(F.col("path"), "/"), -1).isin(listed)
        )

    def decode(batches):
        for pdf in batches:
            for content in pdf["content"]:
                rows = []
                for headers, payload in parse_warc_records(bytes(content)):
                    status, http_headers, body = split_http_response(payload)
                    rows.append(
                        {
                            "record_id": headers.get("warc-record-id"),
                            "warc_type": headers.get("warc-type"),
                            "target_uri": headers.get("warc-target-uri"),
                            "warc_date": _parse_warc_date(
                                headers.get("warc-date")
                            ),
                            "content_type": http_headers.get("content-type"),
                            "http_status": status,
                            "payload_len": len(body),
                            "http_body": body,
                        }
                    )
                yield pd.DataFrame(
                    rows,
                    columns=[
                        "record_id",
                        "warc_type",
                        "target_uri",
                        "warc_date",
                        "content_type",
                        "http_status",
                        "payload_len",
                        "http_body",
                    ],
                )

    return files.select("content").mapInPandas(decode, schema=WARC_SCHEMA)


def warc_adapter(spark: SparkSession, path: str) -> Adapter:
    """WARC as a conversion adapter: the extraction schema is fixed by
    the format, so the typed frame passes through (no inference; the
    lenient casts apply downstream if a user re-types prose columns)."""
    frame = read_warc_python(spark, path)
    return Adapter(frame.columns, frame, path, typed=True)


# ---------------------------------------------------------------------------
# writer (fixtures + the export half of the roundtrip)


def write_warc_record(headers: dict[str, str], payload: bytes) -> bytes:
    h = dict(headers)
    h["Content-Length"] = str(len(payload))
    head = b"WARC/1.0\r\n" + b"".join(
        f"{k}: {v}\r\n".encode("utf-8") for k, v in h.items()
    )
    return head + b"\r\n" + payload + b"\r\n\r\n"


def http_response_payload(
    body: bytes, status: int = 200, content_type: str = "text/plain"
) -> bytes:
    return (
        f"HTTP/1.1 {status} OK\r\n"
        f"Content-Type: {content_type}\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode("ascii") + body


def gzip_member(record: bytes) -> bytes:
    """One gzip member per record — the seekable .warc.gz layout."""
    out = io.BytesIO()
    with gzip.GzipFile(fileobj=out, mode="wb", mtime=0) as gz:
        gz.write(record)
    return out.getvalue()


def write_warc(
    df: DataFrame,
    path: str,
    uri_col: str = "target_uri",
    date_col: str = "warc_date",
    body_col: str = "http_body",
    content_type: str = "text/plain",
    status: int = 200,
):
    """WARC export sink — the re-archival half of the crawl pipeline
    (filtered/deduped corpora are republished as WARC, e.g. the
    Common Crawl derivative datasets).

    One ``.warc.gz`` per input partition — member-per-record gzip, the
    seekable layout — written EXECUTOR-SIDE from the partition's
    Arrow batches (``mapInPandas``; control file count with
    ``df.repartition(n)`` upstream; no driver collect).  Two-phase
    like write_ipc: parts land under uuid names, the driver's
    ``_SUCCESS`` manifest lists (file, rows), and ``read_warc_python``
    honors the manifest, so torn/retried task output is never
    double-read.  Returns [(file, rows)] from the manifest."""
    import os
    import uuid

    import pandas as pd

    os.makedirs(path, exist_ok=True)

    def dump(batches):
        fname = None
        fh = None
        n = 0
        for pdf in batches:
            if fh is None:
                fname = os.path.join(path, f"part-{uuid.uuid4().hex}.warc.gz")
                fh = open(fname, "wb")
            for row in pdf.itertuples(index=False):
                uri = getattr(row, uri_col)
                dt = getattr(row, date_col)
                raw_body = getattr(row, body_col)
                # Null fields cannot serialize meaningfully: a null
                # date becomes NaT (strftime raises mid-task), a null
                # uri would be archived as the literal string 'None'.
                # Fail fast with the column name (r10 ADVICE).
                for label, v in ((uri_col, uri), (date_col, dt), (body_col, raw_body)):
                    if v is None or (not isinstance(v, (bytes, bytearray)) and pd.isna(v)):
                        raise ValueError(
                            f"write_warc: null {label!r} in input row; "
                            "filter or fill null uri/date/body rows "
                            "before re-archiving"
                        )
                body = bytes(raw_body)
                ts = pd.Timestamp(dt).strftime("%Y-%m-%dT%H:%M:%SZ")
                rec = write_warc_record(
                    {
                        "WARC-Type": "response",
                        "WARC-Record-ID": f"<urn:uuid:{uuid.uuid4()}>",
                        "WARC-Target-URI": str(uri),
                        "WARC-Date": ts,
                        "Content-Type": "application/http; msgtype=response",
                    },
                    http_response_payload(
                        body, status=status, content_type=content_type
                    ),
                )
                fh.write(gzip_member(rec))
                n += 1
        if fh is not None:
            fh.close()
            yield pd.DataFrame(
                {"file": [os.path.basename(fname)], "rows": [n]}
            )

    manifest = [
        (r["file"], int(r["rows"]))
        for r in df.mapInPandas(dump, "file string, rows bigint").collect()
    ]
    with open(os.path.join(path, "_SUCCESS"), "w") as fh:
        for name, rows in sorted(manifest):
            fh.write(f"{name}\t{rows}\n")
    return manifest
