"""CLI surface mirroring the reference (E1/E2/S3/S7, main.rs:18-137).

Usage:
    python -m tabular_to_parquet_spark.cli <file.csv>
    cat file.csv | python -m tabular_to_parquet_spark.cli -

Output path: ``<dir>/<stem>.parquet`` next to the input
(main.rs:122-137); stdin → ``stdin.parquet`` in the CWD (main.rs:51).
"""

from __future__ import annotations

import argparse
import pathlib
import sys
import tempfile


def derive_output_path(input_path: str) -> str:
    """construire_chemin_sortie_parquet (main.rs:122-137)."""
    p = pathlib.Path(input_path)
    return str((p.parent if p.parent != pathlib.Path("") else pathlib.Path(".")) / f"{p.stem}.parquet")


def spool_stdin_to_tempfile() -> str:
    """ecrire_stdin_dans_fichier_temporaire (main.rs:102-120):
    drain stdin to a kept temp file; empty stdin is an error."""
    data = sys.stdin.buffer.read()
    if not data:
        raise SystemExit("error: empty stdin")
    fh = tempfile.NamedTemporaryFile(prefix="tabular_stdin_", delete=False)
    fh.write(data)
    fh.close()
    return fh.name


def fixed_width_spec(text: str):
    """``--fixed-width-spec`` type: comma-separated ``name:width`` pairs
    with a non-empty name and a positive integer width."""
    from tabular_to_parquet_spark.sources.fixed_width import fields_from_widths

    pairs = []
    for part in text.split(","):
        name, sep, width = part.partition(":")
        if not sep or not name.strip() or not width.strip().isdigit() or int(width) <= 0:
            raise argparse.ArgumentTypeError(
                f"{part!r} is not name:width with a positive integer width"
            )
        pairs.append((name.strip(), int(width)))
    return fields_from_widths(pairs)


def _adapters():
    """--format → adapter builder, called as ``build(spark, path, args)``."""
    from tabular_to_parquet_spark.sources import (
        columnar,
        fixed_width,
        json_lines,
        logfmt,
        tar_source,
        text,
        warc,
        xlsx_source,
        xml_source,
    )

    return {
        "delimited": lambda spark, path, args: text.delimited_adapter(spark, path),
        "jsonl": lambda spark, path, args: json_lines.json_adapter(spark, path),
        **dict.fromkeys(
            columnar.SUPPORTED_FORMATS,
            lambda spark, path, args: columnar.columnar_adapter(spark, path, args.format),
        ),
        "fixed-width": lambda spark, path, args: fixed_width.fixed_width_adapter(
            spark, path, args.fixed_width_spec
        ),
        "logfmt": lambda spark, path, args: logfmt.logfmt_adapter(spark, path),
        "xml": lambda spark, path, args: xml_source.xml_adapter(spark, path),
        "warc": lambda spark, path, args: warc.warc_adapter(spark, path),
        "tar": lambda spark, path, args: tar_source.tar_adapter(spark, path),
        "xlsx": lambda spark, path, args: xlsx_source.xlsx_adapter(spark, path),
    }


def main(argv: list[str] | None = None) -> int:
    adapters = _adapters()
    ap = argparse.ArgumentParser(
        prog="tabular_to_parquet_spark",
        description="Convert a delimited tabular file (CSV/TSV/…) to Parquet",
    )
    ap.add_argument("input", nargs="?", help="input file, or '-' for stdin")
    ap.add_argument(
        "--infer-full-schema",
        "--inferer-schema-complet",  # the reference's spelling (main.rs:25-26)
        action="store_true",
        help="infer types from the whole file instead of the first 1000 rows "
        "(reference --inferer-schema-complet, main.rs:25-26)",
    )
    ap.add_argument(
        "--single-file",
        action="store_true",
        help="write ONE parquet file (reference parity); default is a "
        "standard Spark parquet directory",
    )
    ap.add_argument(
        "--preserve-order",
        action="store_true",
        help="preserve input row order in the output (reference parity, "
        "conversion.rs:177-189)",
    )
    ap.add_argument(
        "--strict-drop",
        action="store_true",
        help="drop rows containing invalid UTF-8 instead of repairing "
        "them (reference parity, conversion.rs:208 / analyse.rs:42-61)",
    )
    ap.add_argument("--output", help="override the derived output path")
    ap.add_argument(
        "--format",
        choices=list(adapters),
        default="delimited",
        help="input wire format (default: delimited text with sniffed "
        "delimiter); every format runs the same inference + lenient-cast "
        "pipeline",
    )
    ap.add_argument(
        "--fixed-width-spec",
        type=fixed_width_spec,
        help="comma-separated name:width pairs for --format fixed-width, "
        "e.g. 'id:6,name:20,price:10'",
    )
    args = ap.parse_args(argv)

    if not args.input:
        ap.print_help()
        print("\nerror: no input provided", file=sys.stderr)
        return 1
    if args.preserve_order and args.format != "delimited":
        # the reference's input-order guarantee is defined over
        # delimited text lines (conversion.rs:177-189); pretending it
        # holds for container formats would be a silent lie — refuse
        # rather than ignore
        print(
            "error: --preserve-order is only supported for delimited "
            "input; row order for container formats is not part of the "
            "reference contract",
            file=sys.stderr,
        )
        return 1
    if args.format == "fixed-width" and not args.fixed_width_spec:
        print("error: --format fixed-width requires --fixed-width-spec", file=sys.stderr)
        return 1

    if args.input == "-":
        if sys.stdin.isatty():
            ap.print_help()
            print("\nerror: stdin requested ('-') but nothing is piped", file=sys.stderr)
            return 1
        input_path = spool_stdin_to_tempfile()
        output_path = args.output or "stdin.parquet"
    else:
        input_path = args.input
        output_path = args.output or derive_output_path(args.input)

    from tabular_to_parquet_spark.operators.convert import run_conversion
    from tabular_to_parquet_spark.session import get_spark

    spark = get_spark("tabular_to_parquet_cli")
    adapter = adapters[args.format](spark, input_path, args)
    if args.strict_drop and adapter.typed:
        print(
            f"error: --strict-drop applies to string-typed input; this "
            f"{args.format} input has typed columns, which pass through",
            file=sys.stderr,
        )
        return 1
    res = run_conversion(
        spark,
        adapter,
        output_path,
        infer_full=args.infer_full_schema,
        preserve_order=args.preserve_order,
        single_file=args.single_file,
        strict_drop=args.strict_drop,
    )
    if res.types is None:
        schema_desc = ", ".join(res.columns) + " (typed passthrough)"
    else:
        schema_desc = ", ".join(
            f"{n}:{t.kind}{'[' + t.unit + ']' if t.unit else ''}"
            for n, t in zip(res.columns, res.types)
        )
    print(f"schema: {schema_desc}", file=sys.stderr)
    # exit banner (reference conversion.rs:101-117): rows, throughput,
    # and per-column parse-error accounting (O5)
    n_err = sum(res.parse_errors.values())
    if n_err:
        worst = {k: v for k, v in res.parse_errors.items() if v}
        print(f"parse errors (value → NULL): {n_err} across {worst}", file=sys.stderr)
    rate = res.rows / res.seconds if res.seconds > 0 else 0.0
    print(
        f"conversion done: {res.rows} rows in {res.seconds:.2f}s "
        f"({rate:,.0f} lines/s): {res.output_path}",
        file=sys.stderr,
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
