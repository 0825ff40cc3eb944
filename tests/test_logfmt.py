"""logfmt source: key discovery, quoted/bare/missing values, and the
shared inference pipeline (cross-engine parity is the lf1 gate)."""

from __future__ import annotations

from pyspark.sql import types as T

from tabular_to_parquet_spark.operators.convert import run_conversion
from tabular_to_parquet_spark.sources.logfmt import (
    logfmt_adapter,
    read_logfmt_as_strings,
    read_logfmt_keys,
)


def test_logfmt_keys_and_values(spark, tmp_path):
    src = tmp_path / "app.log"
    src.write_text(
        'level=info msg="hello world" n=1 took=1.5\n'
        'level=warn msg="x=y inside" n=2\n'          # '=' inside quotes
        'n=3 level=error msg=""\n'                    # empty quoted, reordered
    )
    keys = read_logfmt_keys(str(src))
    assert keys == ["level", "msg", "n", "took"]
    rows = read_logfmt_as_strings(spark, str(src), keys).collect()
    by_n = {r["n"]: r for r in rows}
    assert by_n["1"]["msg"] == "hello world"
    assert by_n["2"]["msg"] == "x=y inside"
    assert by_n["3"]["msg"] == ""        # empty == missing == null token
    assert by_n["2"]["took"] == ""       # missing key
    assert by_n["3"]["level"] == "error" # order-independent extraction

    out = str(tmp_path / "app.parquet")
    run_conversion(spark, logfmt_adapter(spark, str(src)), out)
    got = spark.read.parquet(out)
    schema = {f.name: f.dataType for f in got.schema.fields}
    assert schema["n"] == T.LongType()
    assert schema["took"] == T.DoubleType()
    typed = {r["n"]: r for r in got.collect()}
    assert typed[2]["took"] is None and typed[1]["took"] == 1.5
    assert typed[3]["msg"] is None


def test_cli_format_flag(tmp_path):
    import subprocess
    import sys

    src = tmp_path / "a.log"
    # one unparseable v in 60 stays under the float threshold (98%)
    src.write_text("".join(f"k={i} v={i}.5\n" for i in range(1, 60)) + "k=60 v=oops\n")
    out = tmp_path / "a.parquet"
    r = subprocess.run(
        [sys.executable, "-m", "tabular_to_parquet_spark.cli", str(src),
         "--format", "logfmt", "--output", str(out)],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert r.returncode == 0, r.stderr
    assert "k:uint64" in r.stderr and "v:float64" in r.stderr
    # the same banner as the delimited path: rows, throughput, and the
    # per-column parse errors
    assert "conversion done: 60 rows in" in r.stderr and "lines/s" in r.stderr
    assert "parse errors (value → NULL): 1 across {'v': 1}" in r.stderr


def test_logfmt_extraction_differential(spark, tmp_path):
    """The driver-side sampling twin must agree with the distributed
    regexp projection on randomized lines (seeded): shuffled key
    order, missing keys, bare vs quoted values, '='/spaces inside
    quotes — the regex-subset parity the inference sample depends on."""
    import random

    from tabular_to_parquet_spark.sources.logfmt import _extract_line

    rng = random.Random(42)
    keys = ["alpha", "b2", "c_c", "dd"]
    bare_chars = "abc019.:-/"
    quoted_chars = bare_chars + " ="
    lines = []
    for _ in range(200):
        parts = []
        for k in rng.sample(keys, k=rng.randint(0, len(keys))):
            if rng.random() < 0.5:
                v = "".join(rng.choices(bare_chars, k=rng.randint(0, 8)))
                parts.append(f"{k}={v}")
            else:
                v = "".join(rng.choices(quoted_chars, k=rng.randint(0, 8)))
                parts.append(f'{k}="{v}"')
        lines.append(" ".join(parts))
    src = tmp_path / "fuzz.log"
    src.write_text("\n".join(lines) + "\n")

    got = [
        tuple(r)
        for r in read_logfmt_as_strings(spark, str(src), keys)
        .toPandas().itertuples(index=False)
    ]
    expected = [tuple(_extract_line(l, keys)) for l in lines]
    assert sorted(got) == sorted(expected)
