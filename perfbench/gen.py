"""Seeded input generators for the workloads.

Every generator writes its input under ``out_dir`` and returns a
``Truth`` record: what a correct run must report.  Nothing here uses the
package under test; the same seed always gives the same bytes.
"""

from __future__ import annotations

import datetime as _dt
import math
import os
import random
from dataclasses import dataclass, field

#: F4 header (FIXTURES.md): 17 columns, tab-separated in the reference
F4_NAMES = [
    "Boolean", "Int32", "Int64", "UInt32", "UInt64", "Float16", "Float32",
    "Float64", "Utf8", "Utf8View", "LargeUtf8", "Binary", "Date32",
    "Timestamp(Millisecond, None)", "Timestamp(Nanosecond, None)",
    "Decimal32", "Decimal128(38, 10)",
]
#: the types the reference's inference gives F4 (FIXTURES.md table)
F4_KINDS = [
    "bool", "uint64", "uint64", "uint64", "uint64", "float64", "float64",
    "float64", "string", "string", "string", "string", "date",
    "timestamp", "timestamp", "float64", "float64",
]
#: the F4 column holding the row idx (checks output order)
ORDER_COLUMN = 1
LINEITEM_NAMES = [
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
    "l_linestatus", "l_shipdate",
]
LINEITEM_KINDS = ["uint64"] * 4 + ["float64"] * 4 + ["string"] * 2 + ["timestamp"]

_DAY0 = _dt.date(2024, 1, 1).toordinal()
_SHIP0 = _dt.date(1992, 1, 2).toordinal()


@dataclass
class Truth:
    """Ground truth a workload's output checks compare against."""

    input_path: str
    input_bytes: int
    rows: int  #: rows a correct conversion writes
    kinds: list[str] = field(default_factory=list)
    #: per-column non-null values that cannot parse (expected parse_errors)
    parse_errors: list[int] = field(default_factory=list)
    dropped_lines: int = 0  #: invalid-UTF-8 lines strict mode must drop
    #: rows whose ``Int32`` (row idx) field is present and valid
    order_values: int = 0
    #: curation: planted groups as lists of doc ids (original first)
    dup_groups: list[list[int]] = field(default_factory=list)
    docs: int = 0


def total(*truths: Truth) -> Truth:
    """The inputs of workloads run back to back as one job."""
    return Truth(
        input_path="",
        input_bytes=sum(t.input_bytes for t in truths),
        rows=sum(t.rows for t in truths),
    )


def f4_fields(idx: int) -> list[str]:
    """One clean F4 row (MODE_PARFAIT) for row index ``idx``."""
    sec = idx % 86400
    hms = f"{sec // 3600:02d}:{sec % 3600 // 60:02d}:{sec % 60:02d}"
    return [
        str(idx % 2 == 0),
        str(idx),
        str(idx * 1000),
        str(idx),
        str(idx * 10000),
        str(round(idx * 0.5, 2)),
        str(idx * 0.1),
        str(idx * 0.0001),
        f"texte_{idx}",
        f"vue_{idx}",
        f"texte_long_{idx}" * 2,
        f"bin_{idx}",
        _dt.date.fromordinal(_DAY0 + idx % 10000).isoformat(),
        f"2024-01-01T{hms}.{idx % 1000:03d}",
        f"2024-01-01T{hms}",
        str(round(idx / 10, 2)),
        str(round(idx / math.pi, 10)),
    ]


def _size(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(path, n)) for n in os.listdir(path))


def lineitem_csv(out_dir: str, seed: int, rows: int) -> Truth:
    """TPC-H-shaped ``lineitem`` (the 11 columns the repo's sf tables
    carry) as one comma CSV, timestamps rendered the way Spark's CSV
    writer renders them (``yyyy-MM-dd HH:mm:ss.SSS``)."""
    rng = random.Random(seed)
    ri = rng.randrange
    path = os.path.join(out_dir, "lineitem.csv")
    lines = [",".join(LINEITEM_NAMES) + "\n"]
    for i in range(rows):
        q = ri(1, 51)
        ship = _dt.date.fromordinal(_SHIP0 + ri(0, 2526)).isoformat()
        lines.append(
            f"{ri(1, rows // 4 + 2)},{ri(1, 20001)},{ri(1, 1001)},{ri(1, 8)},"
            f"{q}.0,{q * ri(90000, 210000) / 100},{ri(0, 11) / 100},"
            f"{ri(0, 9) / 100},{'ARN'[ri(0, 3)]},{'OF'[ri(0, 2)]},"
            f"{ship} 00:00:00.000\n"
        )
    with open(path, "w", encoding="utf-8") as fh:
        fh.writelines(lines)
    return Truth(
        input_path=path,
        input_bytes=_size(path),
        rows=rows,
        kinds=list(LINEITEM_KINDS),
        parse_errors=[0] * len(LINEITEM_NAMES),
    )


def f4_dirty_tsv(
    out_dir: str,
    seed: int,
    rows: int,
    files: int,
    p_null: float = 0.02,
    p_noise: float = 0.002,
    p_ragged: float = 0.001,
    p_invalid: float = 0.001,
) -> Truth:
    """Dirty F4 split in idx order over ``files`` tab-separated files
    (each with the header) named so that lexicographic path order is
    row order.  The dirty knobs: ``NA`` null tokens, unparseable noise
    strings (below the 0.5% that would flip a column's type), ragged
    lines (too few or too many fields) and lines carrying an invalid
    UTF-8 byte.  Counts noise per column over the lines a strict
    conversion keeps.  The seed picks the first idx and the dirt; the
    files are of equal row counts, so the task layout is the same for
    every seed."""
    rng = random.Random(seed)
    rr = rng.random
    n = len(F4_NAMES)
    errors = [0] * n
    dropped = ordered = 0
    d = os.path.join(out_dir, "f4_dirty")
    os.makedirs(d)
    header = "\t".join(F4_NAMES).encode() + b"\n"
    cuts = {rows * k // files for k in range(1, files)}
    start = rng.randrange(1000)
    out = [[header]]
    for k in range(rows):
        if k in cuts:
            out.append([header])
        vals = f4_fields(start + k)
        r = rr()
        if r < p_invalid:
            # a whole clean line with one undecodable byte: strict mode
            # drops the line, so it contributes neither rows nor errors
            dropped += 1
            line = "\t".join(vals).encode()
            cut = line.index(b"texte_") + 6
            out[-1].append(line[:cut] + b"\xff" + line[cut:] + b"\n")
            continue
        width = n
        if r < p_invalid + p_ragged:
            width = rng.choice([rng.randrange(1, n), n + rng.randrange(1, 4)])
        fields = []
        for i in range(min(width, n)):
            x = rr()
            if x < p_null:
                fields.append("NA")
            elif x < p_null + p_noise:
                fields.append(f"~bruit{rng.randrange(1000)}")
                if F4_KINDS[i] != "string":
                    errors[i] += 1
            else:
                fields.append(vals[i])
                ordered += i == ORDER_COLUMN
        fields += [f"extra{j}" for j in range(width - n)]
        out[-1].append("\t".join(fields).encode() + b"\n")
    for k, lines in enumerate(out):
        with open(os.path.join(d, f"part-{k:05d}.tsv"), "wb") as fh:
            fh.writelines(lines)
    return Truth(
        input_path=d,
        input_bytes=_size(d),
        rows=rows - dropped,
        kinds=list(F4_KINDS),
        parse_errors=errors,
        dropped_lines=dropped,
        order_values=ordered,
    )


_WORDS = (
    "batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query big key window row table stream merge "
    "data vector index page file block shard node task stage job plan "
    "cost join build probe spill cache disk memory core thread lock queue "
    "log event time zone date text token word byte string float int long "
    "map array struct schema type cast parse null error check test bench "
    "run loop step state graph edge path tree heap list set bag bit flag"
).split()


def docs_corpus(out_dir: str, seed: int, base_docs: int) -> Truth:
    """A ``documents``-like corpus with planted near-duplicate groups.

    Every fourth base document gets one, two or three copies in turn
    (so the corpus size is the same for every seed); copy ``c`` of a
    group replaces a seeded ``2*c``% of token positions (0%, 2% or 4%),
    so the grades span exact to ~0.8 shingle Jaccard.  Rows are
    shuffled; ``doc_id`` is the row's identity.
    Written as zstd Parquet with pyarrow (doc_id, text, n_chars)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    texts: list[str] = []
    groups: list[list[int]] = []
    # compound words (~14k of them): unrelated documents then share no
    # 3-word shingle, so every near-duplicate pair is a planted one
    word = lambda: rng.choice(_WORDS) + rng.choice(_WORDS)  # noqa: E731
    for i in range(base_docs):
        toks = [word() for _ in range(rng.randrange(30, 90))]
        texts.append(" ".join(toks))
        if i % 4 == 0:
            group = [len(texts) - 1]
            for c in range(1 + i // 4 % 3):
                copy = list(toks)
                for pos in rng.sample(range(len(copy)), len(copy) * 2 * c // 100):
                    copy[pos] = word()
                texts.append(" ".join(copy))
                group.append(len(texts) - 1)
            groups.append(group)
    order = list(range(len(texts)))
    rng.shuffle(order)
    new_id = {old: new for new, old in enumerate(order)}
    table = pa.table(
        {
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": [texts[old] for old in order],
            "n_chars": pa.array([len(texts[old]) for old in order], pa.int64()),
        }
    )
    path = os.path.join(out_dir, "docs.parquet")
    pq.write_table(table, path, compression="zstd")
    return Truth(
        input_path=path,
        input_bytes=_size(path),
        rows=len(texts),
        docs=len(texts),
        dup_groups=[[new_id[i] for i in g] for g in groups],
    )
