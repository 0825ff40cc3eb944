"""Differential fuzz for the WARC and TAR-of-CSVs container sources
(r10 verdict item 6, second half).

The r10 wire formats are e2e-tested on fixed fixtures; this fuzzer
drives the PRODUCTION readers/writers through randomized archives —
member sizes, compression layouts, header case/order, payload shapes —
and compares against expectations computed directly from the
generation parameters (never by re-running the parser under test).

WARC seeds (even):
- 1..3 archive files x 0..12 records each; record serialization is an
  INDEPENDENT writer (random header order/case, WARC/1.0 vs 1.1,
  extra headers, values containing ':');
- payloads: HTTP responses (random status/content-type, bodies 0..2 KB
  of arbitrary bytes including CRLF CRLF and "WARC/1.0" decoys),
  non-HTTP payloads, empty bodies, status lines that fail to parse
  (expected opaque passthrough), ISO-8601 dates with and without
  offsets, missing/malformed dates (expected null);
- layout per file: plain / whole-file gzip / one-gzip-member-per-
  record / gzip members holding 1..3 records each;
- every 4th seed additionally roundtrips response rows through the
  distributed `write_warc` sink (1..3 partitions) and re-reads.

TAR seeds (odd):
- 1..3 archives x 1..6 members, per-archive compression drawn from
  {none, gz, bz2, xz}; directory members mixed in (must be skipped);
- random delimiter, 1..6 columns; fields with embedded quotes,
  delimiters, newlines; half the fields csv.writer-encoded, half
  manually always-quoted (both RFC 4180 spellings);
- short rows (expected ""-padded), long rows (expected truncated),
  empty members, members with only a header line;
- checks read_tar_csv_header, the distributed string scan, and the
  driver-side sample_rows twin (first-N member-order rule).

XLSX seeds (family=xlsx): an INDEPENDENT OOXML generator (not
write_xlsx) — per workbook random mixtures of sharedStrings (multi-run
<si>), inlineStr, and raw <v> cells; explicit A1-style refs vs
ref-less sequential cells; sparse rows with gap cells (expected ""
padding); empty <row/> elements (expected to surface as all-"" rows —
sheet_rows pads them to sheet width); short/long rows vs the header
width; xml-escaped + xml:space content; 1..3 workbooks per directory.
Checks read_xlsx_header + the distributed string scan against
generation-derived expectations.

Usage: python tools/archive_fuzz.py [n_seeds] [seed0] [family]
       family: mixed (default; warc/tar by seed parity) | xlsx
"""

from __future__ import annotations

import csv
import gzip
import io
import os
import random
import shutil
import sys
import tarfile
import tempfile
from datetime import datetime, timezone

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# ---------------------------------------------------------------------------
# WARC generation (independent serializer)

WORDS = ["doc", "crawl", "päge", "data", "x y", "q?a=1&b=2", "ü", "best"]


def _rand_bytes(rng: random.Random, max_len: int) -> bytes:
    n = rng.randint(0, max_len)
    style = rng.random()
    if style < 0.3:
        # decoy structure inside the body: must NOT confuse the parser
        core = (
            b"\r\n\r\nWARC/1.0\r\nContent-Length: 999\r\n\r\n"
            b"HTTP/1.1 200 OK\r\n\r\n"
        )
        return (core * (n // len(core) + 1))[:n]
    if style < 0.6:
        return bytes(rng.randrange(256) for _ in range(n))
    return ("".join(rng.choice(WORDS) for _ in range(n // 4 + 1))).encode()[:n]


def _rand_case(rng: random.Random, s: str) -> str:
    return "".join(
        c.upper() if rng.random() < 0.5 else c.lower() for c in s
    )


def gen_warc_record(rng: random.Random):
    """Returns (record_bytes, expected_row_dict)."""
    wtype = rng.choice(
        ["response", "response", "response", "metadata", "resource",
         "warcinfo"]
    )
    rid = f"<urn:uuid:{rng.getrandbits(64):016x}>"
    uri = None
    if wtype != "warcinfo" and rng.random() < 0.9:
        uri = "http://ex.com/" + rng.choice(WORDS) + str(rng.randrange(100))

    # date: valid Z form / offset form / absent / garbage
    date_hdr, exp_date = None, None
    dr = rng.random()
    ts = datetime(
        rng.randint(1995, 2030), rng.randint(1, 12), rng.randint(1, 28),
        rng.randint(0, 23), rng.randint(0, 59), rng.randint(0, 59),
    )
    if dr < 0.6:
        date_hdr = ts.strftime("%Y-%m-%dT%H:%M:%SZ")
        exp_date = ts
    elif dr < 0.75:
        off = rng.choice(["+02:00", "-05:00", "+00:00"])
        date_hdr = ts.strftime(f"%Y-%m-%dT%H:%M:%S{off}")
        exp_date = (
            datetime.fromisoformat(date_hdr)
            .astimezone(timezone.utc)
            .replace(tzinfo=None)
        )
    elif dr < 0.85:
        date_hdr = "not-a-date"

    body = _rand_bytes(rng, 2048)
    status, ctype = None, None
    if wtype == "response":
        pr = rng.random()
        if pr < 0.7:
            status = rng.choice([200, 301, 404, 503])
            ctype = rng.choice(
                ["text/plain", "text/html; charset=utf-8",
                 "application/json"]
            )
            reason = rng.choice(["OK", "Not Found", ""])
            head = f"HTTP/1.1 {status} {reason}\r\n"
            if rng.random() < 0.3:
                head += "X-Extra: v:with:colons\r\n"
            head += f"Content-Type: {ctype}\r\n"
            if rng.random() < 0.5:
                head += f"Content-Length: {len(body)}\r\n"
            payload = head.encode("ascii") + b"\r\n" + body
        elif pr < 0.8:
            # unparseable status line -> expected opaque passthrough
            payload = b"HTTP/1.1 NOTANUMBER OK\r\nA: b\r\n\r\n" + body
            body = payload
        elif pr < 0.9:
            # HTTP prefix but no header/body separator -> opaque
            payload = b"HTTP/1.1 200 OK" + body.replace(b"\r\n\r\n", b"..")
            body = payload
        else:
            payload = body
    else:
        payload = body
        if payload.startswith(b"HTTP/"):  # keep non-HTTP legs opaque
            payload = b"x" + payload
            body = payload

    headers = [("WARC-Type", wtype), ("WARC-Record-ID", rid)]
    if uri is not None:
        headers.append(("WARC-Target-URI", uri))
    if date_hdr is not None:
        headers.append(("WARC-Date", date_hdr))
    if rng.random() < 0.4:
        headers.append(("X-Fuzz-Extra", rng.choice(WORDS)))
    headers.append(("Content-Length", str(len(payload))))
    rng.shuffle(headers)

    version = rng.choice([b"WARC/1.0", b"WARC/1.1"])
    pad = " " * rng.randint(0, 2)
    rec = (
        version + b"\r\n"
        + b"".join(
            f"{_rand_case(rng, k) if k != 'Content-Length' else k}:"
            f"{pad}{v}\r\n".encode("utf-8")
            for k, v in headers
        )
        + b"\r\n" + payload + b"\r\n\r\n"
    )
    expected = (
        rid,
        wtype,
        uri,
        exp_date,
        ctype,
        status,
        len(body),
        body,
    )
    return rec, expected


def gen_warc_file(rng: random.Random, records: list[bytes]) -> tuple[bytes, str]:
    layout = rng.random()
    plain = b"".join(records)
    if layout < 0.25 or not records:
        return plain, ".warc"
    if layout < 0.5:
        out = io.BytesIO()
        with gzip.GzipFile(fileobj=out, mode="wb", mtime=0) as gz:
            gz.write(plain)
        return out.getvalue(), ".warc.gz"
    # member-per-record or member-per-group
    group = 1 if layout < 0.8 else rng.randint(2, 3)
    buf = io.BytesIO()
    i = 0
    while i < len(records):
        chunk = b"".join(records[i : i + group])
        out = io.BytesIO()
        with gzip.GzipFile(fileobj=out, mode="wb", mtime=0) as gz:
            gz.write(chunk)
        buf.write(out.getvalue())
        i += group
    return buf.getvalue(), ".warc.gz"


# ---------------------------------------------------------------------------
# TAR generation

DELIMS = [",", ";", "\t", "|"]


def _rand_field(rng: random.Random, delim: str) -> str:
    style = rng.random()
    if style < 0.15:
        return ""
    if style < 0.3:
        return rng.choice(WORDS) + delim + rng.choice(WORDS)
    if style < 0.45:
        return 'quo"te' + rng.choice(["", '""', '"'])
    if style < 0.55:
        return "multi\nline" + rng.choice(WORDS)
    if style < 0.65:
        return str(rng.randint(-10**6, 10**6))
    return rng.choice(WORDS) + str(rng.randrange(1000))


def _encode_row(rng: random.Random, row: list[str], delim: str) -> str:
    if rng.random() < 0.5:
        buf = io.StringIO()
        csv.writer(buf, delimiter=delim, quotechar='"').writerow(row)
        return buf.getvalue()
    # manual always-quote spelling
    return (
        delim.join('"' + f.replace('"', '""') + '"' for f in row) + "\r\n"
    )


def gen_tar_corpus(rng: random.Random, tmp: str):
    """Writes 1..3 archives under tmp; returns (names, delim,
    expected_rows, first_archive_path)."""
    delim = rng.choice(DELIMS)
    width = rng.randint(1, 6)
    names = [f"c{i}_{rng.choice('abcdef')}" for i in range(width)]
    n_archives = rng.randint(1, 3)
    expected: list[tuple] = []
    ordered_expected: list[tuple] = []  # archive/member order, for sample_rows
    first_path = None
    for a in range(n_archives):
        comp = rng.choice(["", "gz", "bz2", "xz"])
        fname = os.path.join(
            tmp, f"arch{a}.tar" + (f".{comp}" if comp else "")
        )
        if first_path is None:
            first_path = fname
        with tarfile.open(fname, f"w:{comp}") as tf:
            n_members = rng.randint(1, 6)
            for m in range(n_members):
                # the header contract reads the first member of the
                # first archive — keep that one a real CSV member
                if rng.random() < 0.15 and not (a == 0 and m == 0):
                    info = tarfile.TarInfo(name=f"dir{a}_{m}/")
                    info.type = tarfile.DIRTYPE
                    tf.addfile(info)
                    continue
                lines = [_encode_row(rng, names, delim)]  # member header
                n_rows = rng.choice([0, 0, rng.randint(1, 25)])
                for _ in range(n_rows):
                    w = width
                    r = rng.random()
                    if r < 0.15 and width > 1:
                        w = rng.randint(1, width - 1)  # short -> padded
                    elif r < 0.25:
                        w = width + rng.randint(1, 2)  # long -> truncated
                    row = [_rand_field(rng, delim) for _ in range(w)]
                    exp = (row + [""] * width)[:width]
                    expected.append(tuple(exp))
                    if a == 0:
                        ordered_expected.append(tuple(exp))
                    lines.append(_encode_row(rng, row, delim))
                data = "".join(lines).encode("utf-8")
                info = tarfile.TarInfo(name=f"m{a}_{m}.csv")
                info.size = len(data)
                tf.addfile(info, io.BytesIO(data))
    return names, delim, expected, ordered_expected, first_path


# ---------------------------------------------------------------------------
# XLSX generation (independent OOXML serializer)

_XLSX_NS = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
_XLSX_CT = (
    '<?xml version="1.0"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
    '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
    '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
    '<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>'
    "</Types>"
)
_XLSX_RELS = (
    '<?xml version="1.0"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
    "</Relationships>"
)
_XLSX_WB = (
    f'<?xml version="1.0"?><workbook xmlns="{_XLSX_NS}">'
    '<sheets><sheet name="S1" sheetId="1" r:id="rId1" '
    'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"/>'
    "</sheets></workbook>"
)
_XLSX_WB_RELS = (
    '<?xml version="1.0"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
    "</Relationships>"
)


def _xesc(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _cell_ref(ci: int, ri: int) -> str:
    ref, n = "", ci + 1
    while n:
        n, rem = divmod(n - 1, 26)
        ref = chr(65 + rem) + ref
    return f"{ref}{ri}"


def _rand_cell_text(rng: random.Random) -> str:
    style = rng.random()
    if style < 0.2:
        return str(rng.randint(-10**6, 10**6))
    if style < 0.3:
        return f"{rng.randint(0, 999)}.{rng.randint(0, 99):02d}"
    if style < 0.4:
        return rng.choice(["", " lead", "trail ", "a & b", "<tag>", 'q"uo'])
    return rng.choice(WORDS) + str(rng.randrange(100))


def gen_xlsx_book(rng: random.Random, header: list[str]):
    """Returns (zip_bytes, logical_rows) where logical_rows are the
    DATA rows (header excluded) as sparse dicts {col_index: text}."""
    import zipfile

    shared: list[str] = []
    rows_xml: list[str] = []
    logical: list[dict[int, str]] = []
    width = len(header)

    def cell_xml(ci: int, ri: int, val: str, explicit: bool):
        """-> (xml, effective_text the reader should surface)."""
        r_attr = f' r="{_cell_ref(ci, ri)}"' if explicit else ""
        kind = rng.random()
        if kind < 0.35:
            if rng.random() < 0.5 and len(val) > 2:
                # multi-run shared string (reader concatenates runs)
                cut = rng.randint(1, len(val) - 1)
                si = (
                    f'<si><t xml:space="preserve">{_xesc(val[:cut])}</t>'
                    f'<t xml:space="preserve">{_xesc(val[cut:])}</t></si>'
                )
            else:
                si = f'<si><t xml:space="preserve">{_xesc(val)}</t></si>'
            shared.append(si)
            return f'<c{r_attr} t="s"><v>{len(shared) - 1}</v></c>', val
        if kind < 0.7:
            return (
                f'<c{r_attr} t="inlineStr"><is>'
                f'<t xml:space="preserve">{_xesc(val)}</t></is></c>',
                val,
            )
        if kind < 0.9:
            # raw <v> — stored text passes through (numbers/booleans)
            num = str(rng.randint(-9999, 9999))
            return f"<c{r_attr}><v>{num}</v></c>", num
        return f"<c{r_attr}/>", ""

    ri = 1
    # header row: always explicit refs, dense
    hdr_cells = []
    for ci, name in enumerate(header):
        hdr_cells.append(
            f'<c r="{_cell_ref(ci, ri)}" t="inlineStr"><is>'
            f"<t>{_xesc(name)}</t></is></c>"
        )
    rows_xml.append(f'<row r="{ri}">' + "".join(hdr_cells) + "</row>")
    ri += 1

    for _ in range(rng.randint(0, 20)):
        if rng.random() < 0.1:
            # empty <row/>: sheet_rows records [] then pads to sheet
            # width, so it SURFACES as an all-"" row (the sheet is
            # never zero-width — the header row is dense)
            rows_xml.append(f'<row r="{ri}"/>')
            logical.append({})
            ri += 1
            continue
        explicit = rng.random() < 0.7
        w = rng.randint(1, width + 2)
        if explicit and rng.random() < 0.4 and width > 1:
            # sparse row: random subset of columns
            cols = sorted(rng.sample(range(w), rng.randint(1, w)))
        else:
            cols = list(range(w))
        cells, logical_row = [], {}
        for seq, ci in enumerate(cols):
            use_ci = ci if explicit else seq
            xml, val = cell_xml(use_ci, ri, _rand_cell_text(rng), explicit)
            cells.append(xml)
            logical_row[use_ci] = val
        rows_xml.append(f'<row r="{ri}">' + "".join(cells) + "</row>")
        logical.append(logical_row)
        ri += 1

    sheet = (
        '<?xml version="1.0"?>'
        f'<worksheet xmlns="{_XLSX_NS}"><sheetData>'
        + "".join(rows_xml)
        + "</sheetData></worksheet>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("[Content_Types].xml", _XLSX_CT)
        zf.writestr("_rels/.rels", _XLSX_RELS)
        zf.writestr("xl/workbook.xml", _XLSX_WB)
        zf.writestr("xl/_rels/workbook.xml.rels", _XLSX_WB_RELS)
        if shared:
            zf.writestr(
                "xl/sharedStrings.xml",
                f'<?xml version="1.0"?><sst xmlns="{_XLSX_NS}">'
                + "".join(shared)
                + "</sst>",
            )
        zf.writestr("xl/worksheets/sheet1.xml", sheet)
    return buf.getvalue(), logical


# ---------------------------------------------------------------------------


def main() -> int:
    n_seeds = int(sys.argv[1]) if len(sys.argv) > 1 else 200
    seed0 = int(sys.argv[2]) if len(sys.argv) > 2 else 0
    family = sys.argv[3] if len(sys.argv) > 3 else "mixed"
    n_threads = int(os.environ.get("ARCHIVE_FUZZ_THREADS", "8"))

    from concurrent.futures import ThreadPoolExecutor

    import pandas as pd

    from pyspark.sql import functions as F
    from tabular_to_parquet_spark.session import get_spark
    from tabular_to_parquet_spark.sources.tar_source import (
        read_tar_csv_as_strings,
        read_tar_csv_header,
        sample_rows,
    )
    from tabular_to_parquet_spark.sources.warc import (
        read_warc_python,
        write_warc,
    )

    spark = get_spark("archive-fuzz")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.adaptive.enabled", "false")

    failures: list[tuple[int, str, str]] = []
    done = [0]

    def run_warc_seed(rng: random.Random, seed: int, tmp: str):
        n_files = rng.randint(1, 3)
        expected = []
        any_records = False
        for fi in range(n_files):
            recs = []
            for _ in range(rng.randint(0, 12)):
                rec, exp = gen_warc_record(rng)
                recs.append(rec)
                expected.append(exp)
            blob, ext = gen_warc_file(rng, recs)
            with open(os.path.join(tmp, f"f{fi}{ext}"), "wb") as fh:
                fh.write(blob)
            any_records = any_records or bool(recs)
        df = read_warc_python(spark, tmp)
        got = [
            (
                r.record_id, r.warc_type, r.target_uri, r.warc_date,
                r.content_type, r.http_status, r.payload_len,
                bytes(r.http_body) if r.http_body is not None else None,
            )
            for r in df.collect()
        ]
        if sorted(got, key=repr) != sorted(expected, key=repr):
            sg, se = sorted(got, key=repr), sorted(expected, key=repr)
            diff = [x for x in sg if x not in se][:2] + [
                x for x in se if x not in sg
            ][:2]
            return ("warc_read", repr(diff)[:400])

        if seed % 4 == 0 and any_records:
            resp = [
                e for e in expected
                if e[1] == "response" and e[2] is not None
                and e[3] is not None
            ]
            if resp:
                pdf = pd.DataFrame(
                    {
                        "target_uri": [e[2] for e in resp],
                        "warc_date": [e[3] for e in resp],
                        "http_body": [e[7] for e in resp],
                    }
                )
                src = spark.createDataFrame(pdf).repartition(
                    rng.randint(1, 3)
                )
                out = os.path.join(tmp, "rt")
                write_warc(src, out)
                back = [
                    (r.target_uri, r.warc_date, bytes(r.http_body))
                    for r in read_warc_python(spark, out).collect()
                ]
                want = [(e[2], e[3], e[7]) for e in resp]
                if sorted(back, key=repr) != sorted(want, key=repr):
                    return ("warc_roundtrip", f"{len(back)} vs {len(want)}")
        return None

    def run_tar_seed(rng: random.Random, seed: int, tmp: str):
        names, delim, expected, ordered, first = gen_tar_corpus(rng, tmp)
        try:
            got_names = read_tar_csv_header(spark, tmp, delim)
        except ValueError:
            # legal only when the first archive has no CSV members
            with open(first, "rb") as fh:
                pass
            return None if not expected else ("tar_header", "no members")
        if got_names != names:
            return ("tar_names", f"{got_names} != {names}")
        df = read_tar_csv_as_strings(spark, tmp, names, delim)
        got = [tuple(r) for r in df.collect()]
        if sorted(got, key=repr) != sorted(expected, key=repr):
            sg = sorted(got, key=repr)
            se = sorted(expected, key=repr)
            diff = [x for x in sg if x not in se][:2] + [
                x for x in se if x not in sg
            ][:2]
            return ("tar_read", repr(diff)[:400])
        # driver-side sampling twin: first-N member-order rule over the
        # first archive
        limit = rng.choice([1, 3, 1000])
        with open(first, "rb") as fh:
            samp = sample_rows(fh.read(), delim, limit=limit)
        want = [list(t) for t in ordered[:limit]]
        if samp != want:
            return ("tar_sample", f"{samp[:2]} != {want[:2]}")
        return None

    def run_xlsx_seed(rng: random.Random, seed: int, tmp: str):
        from tabular_to_parquet_spark.sources.xlsx_source import (
            read_xlsx_as_strings,
            read_xlsx_header,
        )

        width = rng.randint(1, 6)
        header = [f"h{i}_{rng.choice('abcdef')}" for i in range(width)]
        expected: list[tuple] = []
        for b in range(rng.randint(1, 3)):
            blob, logical = gen_xlsx_book(rng, header)
            with open(os.path.join(tmp, f"book{b}.xlsx"), "wb") as fh:
                fh.write(blob)
            for lr in logical:
                expected.append(
                    tuple(lr.get(i, "") for i in range(width))
                )
        got_header = read_xlsx_header(spark, tmp)
        if got_header != header:
            return ("xlsx_header", f"{got_header} != {header}")
        df = read_xlsx_as_strings(spark, tmp, header)
        got = [tuple(r) for r in df.collect()]
        if sorted(got, key=repr) != sorted(expected, key=repr):
            sg, se = sorted(got, key=repr), sorted(expected, key=repr)
            diff = [x for x in sg if x not in se][:2] + [
                x for x in se if x not in sg
            ][:2]
            return ("xlsx_read", repr(diff)[:400])
        return None

    def wrapped(seed: int):
        rng = random.Random(seed ^ 0xA5C3)
        tmp = tempfile.mkdtemp(prefix=f"afz{seed}_")
        try:
            if family == "xlsx":
                r = run_xlsx_seed(rng, seed, tmp)
            elif seed % 2 == 0:
                r = run_warc_seed(rng, seed, tmp)
            else:
                r = run_tar_seed(rng, seed, tmp)
        except Exception as e:  # noqa: BLE001
            r = ("exception", repr(e)[:300])
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        done[0] += 1
        if done[0] % 200 == 0:
            print(f"  {done[0]}/{n_seeds} seeds, {len(failures)} failures",
                  flush=True)
        if r is not None:
            failures.append((seed, r[0], r[1]))

    with ThreadPoolExecutor(max_workers=n_threads) as ex:
        list(ex.map(wrapped, range(seed0, seed0 + n_seeds)))

    print(f"archive_fuzz[{family}]: {n_seeds} seeds "
          f"({seed0}..{seed0 + n_seeds - 1}), {len(failures)} failures")
    for seed, kind, detail in failures[:20]:
        print(f"  FAIL seed={seed} {kind}: {detail}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
