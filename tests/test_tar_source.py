"""TAR container source: member iteration, ragged padding, gzip
transparency, the conversion pipeline, and header/sampling parity."""

from __future__ import annotations

import csv
import io
import tarfile

from tabular_to_parquet_spark.operators.convert import run_conversion
from tabular_to_parquet_spark.sources import tar_source as ts


def _make_tar(path, members: dict[str, list[list[str]]], gz=False):
    with tarfile.open(path, "w:gz" if gz else "w") as tf:
        for name, rows in members.items():
            buf = io.StringIO()
            w = csv.writer(buf)
            for row in rows:
                w.writerow(row)
            data = buf.getvalue().encode()
            info = tarfile.TarInfo(name=name)
            info.size = len(data)
            tf.addfile(info, io.BytesIO(data))


def test_member_iteration_and_header(spark, tmp_path):
    d = tmp_path / "arch"
    d.mkdir()
    _make_tar(
        d / "a.tar",
        {
            "m1.csv": [["k", "v"], ["1", "x"], ["2", "y"]],
            "m2.csv": [["k", "v"], ["3", "z"]],
        },
    )
    _make_tar(d / "b.tar.gz", {"m3.csv": [["k", "v"], ["4", "w"]]}, gz=True)
    assert ts.read_tar_csv_header(spark, str(d)) == ["k", "v"]
    df = ts.read_tar_csv_as_strings(spark, str(d), ["k", "v"])
    got = sorted((r["k"], r["v"]) for r in df.collect())
    assert got == [("1", "x"), ("2", "y"), ("3", "z"), ("4", "w")]


def test_ragged_member_rows_pad_with_empty(spark, tmp_path):
    d = tmp_path / "arch"
    d.mkdir()
    _make_tar(
        d / "a.tar",
        {"m.csv": [["a", "b", "c"], ["1", "2"], ["3", "4", "5", "6"]]},
    )
    df = ts.read_tar_csv_as_strings(spark, str(d), ["a", "b", "c"])
    got = sorted(tuple(r) for r in df.collect())
    assert got == [("1", "2", ""), ("3", "4", "5")]


def test_quoted_fields_rfc4180(spark, tmp_path):
    d = tmp_path / "arch"
    d.mkdir()
    raw = 'a,b\r\n"x,1","he said ""hi"""\r\n'
    data = raw.encode()
    with tarfile.open(d / "a.tar", "w") as tf:
        info = tarfile.TarInfo(name="m.csv")
        info.size = len(data)
        tf.addfile(info, io.BytesIO(data))
    df = ts.read_tar_csv_as_strings(spark, str(d), ["a", "b"])
    assert [tuple(r) for r in df.collect()] == [("x,1", 'he said "hi"')]


def test_convert_infers_types(spark, tmp_path):
    d = tmp_path / "arch"
    d.mkdir()
    rows = [["n", "f", "s"]] + [[str(i), f"{i}.5", f"w{i}"] for i in range(50)]
    _make_tar(d / "a.tar", {"m1.csv": rows}, gz=False)
    out = str(tmp_path / "out.parquet")
    res = run_conversion(spark, ts.tar_adapter(spark, str(d)), out)
    assert res.columns == ["n", "f", "s"]
    back = spark.read.parquet(out)
    dt = dict(back.dtypes)
    assert dt["n"] == "bigint" and dt["f"] == "double" and dt["s"] == "string"
    assert back.count() == 50


def test_sample_rows_cap_and_order(tmp_path):
    p = tmp_path / "a.tar"
    rows = [["k"]] + [[str(i)] for i in range(30)]
    _make_tar(str(p), {"m1.csv": rows[:16], "m2.csv": [["k"]] + rows[16:]})
    buf = open(p, "rb").read()
    sampled = ts.sample_rows(buf, ",", limit=20)
    assert [r[0] for r in sampled] == [str(i) for i in range(20)]


def test_preserve_order_refused_for_tar(spark, tmp_path):
    # tar rows come out of a Python reader with no file position, so
    # the input-order key cannot resolve: the library refuses up front
    # (an OptionRefused ValueError) instead of failing inside the job
    import pytest

    from tabular_to_parquet_spark.operators.convert import OptionRefused

    d = tmp_path / "arch"
    d.mkdir()
    _make_tar(d / "a.tar", {"m1.csv": [["k", "v"], ["1", "x"], ["2", "y"]]})
    out = tmp_path / "out.parquet"
    with pytest.raises(ValueError, match="preserve_order") as exc:
        run_conversion(spark, ts.tar_adapter(spark, str(d)), str(out), preserve_order=True)
    assert isinstance(exc.value, OptionRefused)
    assert exc.value.option == "preserve_order"
    assert not out.exists()
