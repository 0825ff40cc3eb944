"""The workloads: the timed job, its output checks, and the traced
layer probes.  Everything calls the package's public functions only.

Layers that Spark fuses into one stage are timed as prefix pipelines
into the ``noop`` sink (scan; + casts; + observe; + order sort) and the
full conversion; a layer's self time is its prefix minus the one before.
"""

from __future__ import annotations

import os
import shutil
import statistics
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from gen import Truth

#: cast kinds with their own self-time metric (string/binary are
#: passthroughs and cost nothing beyond the scan)
CAST_KINDS = ["timestamp", "date", "float64", "uint64", "int64", "bool"]
#: minimum share of planted near-duplicate copies a curation run removes
MIN_PLANTED_REMOVAL = 0.85


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def parquet_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    return sorted(
        os.path.join(path, n) for n in os.listdir(path) if n.endswith(".parquet")
    )


@dataclass
class Outcome:
    """What one job reported and wrote; the checks read only this."""

    rows: int
    kinds: list[str] = field(default_factory=list)
    parse_errors: list[int] = field(default_factory=list)
    files: int = 0
    row_groups: int = 0
    output_bytes: int = 0
    rows_written: int = 0
    #: single-file ordered output: the ``Int32`` (row idx) column
    order_column: list[int] | None = None
    #: curation: doc ids written
    kept_ids: list[int] | None = None


def output_outcome(path: str, base: Outcome, order_col: str | None = None) -> Outcome:
    files = parquet_files(path)
    for f in files:
        meta = pq.ParquetFile(f).metadata
        base.row_groups += meta.num_row_groups
        base.rows_written += meta.num_rows
        base.output_bytes += os.path.getsize(f)
    base.files = len(files)
    if order_col is not None:
        base.order_column = pq.read_table(files[0], columns=[order_col]).column(0).to_pylist()
    return base


def check_conversion(truth: Truth, o: Outcome, single_ordered: bool) -> list[str]:
    bad = []
    if o.rows != truth.rows:
        bad.append(f"rows {o.rows} != {truth.rows}")
    if o.rows_written != truth.rows:
        bad.append(f"rows written {o.rows_written} != {truth.rows}")
    if o.kinds != truth.kinds:
        bad.append(f"types {o.kinds} != {truth.kinds}")
    if o.parse_errors != truth.parse_errors:
        bad.append(f"parse_errors {o.parse_errors} != {truth.parse_errors}")
    if single_ordered:
        idx = [v for v in o.order_column or [] if v is not None]
        if o.files != 1:
            bad.append(f"{o.files} output files, want 1")
        if len(idx) != truth.order_values or any(b <= a for a, b in zip(idx, idx[1:])):
            bad.append("idx column not strictly increasing over all rows")
    return bad


def check_curation(truth: Truth, o: Outcome) -> list[str]:
    kept = o.kept_ids or []
    bad = []
    if len(set(kept)) != len(kept):
        bad.append("a document was kept twice")
    if o.rows_written != len(kept) or not 0 < len(kept) <= truth.docs:
        bad.append(f"kept {len(kept)} rows of {truth.docs}")
    keep = set(kept)
    copies = removed = 0
    for g in truth.dup_groups:
        n_kept = sum(d in keep for d in g)
        if n_kept == 0:
            bad.append(f"planted group {g} lost every member")
        copies += len(g) - 1
        removed += len(g) - n_kept
        if g[0] in keep and g[1] in keep:  # g[1] is the exact copy
            bad.append(f"exact copy {g[1]} kept with its original {g[0]}")
    if copies and removed / copies < MIN_PLANTED_REMOVAL:
        bad.append(f"removed {removed}/{copies} planted copies")
    return bad


def median_or_zero(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


class Conversion:
    """A delimited file or directory → zstd Parquet through
    ``convert_delimited_to_parquet`` with the workload's options."""

    #: the traced span that runs the whole job
    full_spans = ["convert.write"]

    def __init__(self, truth: Truth, **options):
        self.truth = truth
        self.options = options
        self.single_ordered = bool(options.get("single_file") and options.get("preserve_order"))

    def job(self, spark, out: str) -> Outcome:
        from tabular_to_parquet_spark.operators.convert import convert_delimited_to_parquet

        res = convert_delimited_to_parquet(spark, self.truth.input_path, out, **self.options)
        base = Outcome(
            rows=res.rows,
            kinds=[t.kind for t in res.types],
            parse_errors=[res.parse_errors[n] for n in res.columns],
        )
        return output_outcome(out, base, "Int32" if self.single_ordered else None)

    def check(self, o: Outcome) -> list[str]:
        return check_conversion(self.truth, o, self.single_ordered)

    def layers(self, spark, tr, out: str) -> Outcome:
        """One traced rep: driver-side layers, the prefix pipelines and
        the full conversion, each in its own span."""
        from pyspark.sql import functions as F

        from tabular_to_parquet_spark.operators.convert import (
            cast_expr,
            drop_replacement_char_rows,
            first_data_file,
            observed_typed_frame,
            typed_frame,
        )
        from tabular_to_parquet_spark.plans.inference import (
            infer_schema,
            infer_schema_distributed,
        )
        from tabular_to_parquet_spark.sources.sniff import detect_delimiter
        from tabular_to_parquet_spark.sources.text import (
            read_delimited_as_strings,
            read_header,
            sanitize_names,
        )

        path = self.truth.input_path
        strict = self.options.get("strict_drop", False)
        head = first_data_file(path)
        with tr.span("sniff.detect_delimiter"):
            delim = detect_delimiter(head)
        with tr.span("text.read_header"):
            names = sanitize_names(read_header(head, delim))
        if self.options.get("infer_full"):
            with tr.span("inference.full"):
                raw0 = read_delimited_as_strings(spark, path, delim, names)
                types = infer_schema_distributed(drop_replacement_char_rows(raw0, names))
        else:
            with tr.span("inference.sample"):
                names, types = infer_schema(head, delim)

        # the conversion runs its job with these two settings; the
        # prefix pipelines mirror them so the subtractions line up
        par = spark.sparkContext.defaultParallelism
        split = min(128 << 20, max(4 << 20, self.truth.input_bytes // (par * 2)))
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
        spark.conf.set("spark.sql.codegen.wholeStage", "false")
        try:
            raw = read_delimited_as_strings(spark, path, delim, names)
            if strict:
                raw = drop_replacement_char_rows(raw, names)
            with tr.span("text.scan"):
                noop(raw)
            with tr.span("parsers.cast"):
                noop(typed_frame(raw, types))
            for kind in CAST_KINDS:
                if any(t.kind == kind for t in types):
                    with tr.span(f"parsers.cast.{kind}"):
                        noop(raw.select(*[
                            cast_expr(F.col(n), t).alias(n) if t.kind == kind else F.col(n)
                            for n, t in zip(names, types)
                        ]))
            with tr.span("convert.observe"):
                typed, obs = observed_typed_frame(raw, types)
                noop(typed)
                obs.get
            if self.options.get("preserve_order"):
                with tr.span("convert.order_sort"):
                    typed, obs = observed_typed_frame(raw, types, preserve_order=True)
                    noop(typed.coalesce(1) if self.options.get("single_file") else typed)
                    obs.get
        finally:
            spark.conf.unset("spark.sql.files.maxPartitionBytes")
            spark.conf.unset("spark.sql.codegen.wholeStage")
        with tr.span("convert.write"):
            return self.job(spark, out)

    def layer_metrics(self, tr, outcome: Outcome) -> dict[str, float]:
        g = lambda n: median_or_zero(tr.walls(n))  # noqa: E731
        ran = {s.name for s in tr.spans}
        ordered = "convert.order_sort" in ran
        driver = sum(
            g(n)
            for n in ("sniff.detect_delimiter", "text.read_header", "inference.sample", "inference.full")
        )
        m = {
            "sniff.detect_delimiter_s": g("sniff.detect_delimiter"),
            "text.read_header_s": g("text.read_header"),
            "inference.sample_s": g("inference.sample"),
            "inference.full_s": g("inference.full"),
            "inference.values_observed": (
                outcome.rows * len(outcome.kinds) if "inference.full" in ran else 0
            ),
            "text.scan_s": g("text.scan"),
            "parsers.cast_self_s": g("parsers.cast") - g("text.scan"),
            "convert.observe_self_s": g("convert.observe") - g("parsers.cast"),
            "convert.parse_errors": sum(outcome.parse_errors),
            "convert.order_sort_self_s": (
                g("convert.order_sort") - g("convert.observe") if ordered else 0.0
            ),
            "convert.write_self_s": g("convert.write")
            - g("convert.order_sort" if ordered else "convert.observe")
            - driver,
            "convert.files_written": outcome.files,
            "convert.row_groups": outcome.row_groups,
            "convert.output_bytes": outcome.output_bytes,
        }
        for kind in CAST_KINDS:
            name = f"parsers.cast.{kind}"
            m[f"parsers.cast_self_s.{kind}"] = g(name) - g("text.scan") if name in ran else 0.0
        return m


class Curation:
    """Near-duplicate curation of a Parquet corpus: minhash pairs →
    clusters → features + one representative per cluster → zstd Parquet
    of the representatives and the singletons."""

    full_spans = ["curation.write"]

    def __init__(self, truth: Truth):
        self.truth = truth

    def _frames(self, spark):
        from pyspark.sql import functions as F

        from tabular_to_parquet_spark.operators.dedup import (
            cluster_representatives,
            dup_clusters,
            minhash_pairs,
        )
        from tabular_to_parquet_spark.operators.text_analysis import text_features

        docs = spark.read.parquet(self.truth.input_path).select("doc_id", "text")
        pairs = minhash_pairs(docs)
        clusters = dup_clusters(pairs, docs.select("doc_id"))
        feats = text_features(docs)
        # every document is in a cluster (a singleton is a cluster of
        # one), so the kept documents are exactly the representatives
        reps = cluster_representatives(clusters, feats, quality_col="n_chars", min_members=1)
        kept = docs.join(
            reps.select(F.col("rep_doc_id").alias("doc_id")), "doc_id", "left_semi"
        ).join(feats, "doc_id")
        return pairs, clusters, feats, reps, kept

    def _write(self, kept, out: str) -> Outcome:
        kept.write.mode("overwrite").option("compression", "zstd").parquet(out)
        ids = []
        for f in parquet_files(out):
            ids += pq.read_table(f, columns=["doc_id"]).column(0).to_pylist()
        return output_outcome(out, Outcome(rows=len(ids), kept_ids=ids))

    def job(self, spark, out: str) -> Outcome:
        return self._write(self._frames(spark)[-1], out)

    def check(self, o: Outcome) -> list[str]:
        return check_curation(self.truth, o)

    def layers(self, spark, tr, out: str) -> Outcome:
        """One traced rep: each stage's result as a prefix into the
        ``noop`` sink, then the full job as the untraced run runs it."""
        pairs, clusters, feats, reps, _ = self._frames(spark)
        with tr.span("dedup.minhash_pairs"):
            found = {(r.id_a, r.id_b) for r in pairs.select("id_a", "id_b").collect()}
        with tr.span("dedup.dup_clusters"):
            noop(clusters)
        with tr.span("text_analysis.text_features"):
            noop(feats)
        with tr.span("dedup.cluster_representatives"):
            noop(reps)
        with tr.span("curation.write"):
            o = self.job(spark, out)
        planted = [
            (min(a, b), max(a, b))
            for g in self.truth.dup_groups
            for i, a in enumerate(g)
            for b in g[i + 1:]
        ]
        self.pairs = len(found)
        self.recall = sum(p in found for p in planted) / max(1, len(planted))
        return o

    def layer_metrics(self, tr, outcome: Outcome) -> dict[str, float]:
        g = lambda n: median_or_zero(tr.walls(n))  # noqa: E731
        return {
            "dedup.minhash_pairs_s": g("dedup.minhash_pairs"),
            "dedup.dup_clusters_self_s": g("dedup.dup_clusters") - g("dedup.minhash_pairs"),
            "dedup.pairs": self.pairs,
            "dedup.planted_pair_recall": self.recall,
            "text_analysis.text_features_s": g("text_analysis.text_features"),
            # its two inputs run side by side: subtract the longer one
            "dedup.cluster_representatives_self_s": g("dedup.cluster_representatives")
            - max(g("dedup.dup_clusters"), g("text_analysis.text_features")),
            "curation.write_self_s": g("curation.write") - g("dedup.cluster_representatives"),
            "curation.docs_kept": outcome.rows,
        }


class Pipeline:
    """Workloads run back to back as one job, each writing under its
    own subdirectory of the job's output; the job's outcome is theirs
    merged, and it passes when every part's checks pass."""

    def __init__(self, *parts):
        self.parts = parts
        self.full_spans = [n for p in parts for n in p.full_spans]

    def _outs(self, out: str) -> list[str]:
        os.makedirs(out, exist_ok=True)
        return [os.path.join(out, f"part{i}") for i in range(len(self.parts))]

    def job(self, spark, out: str) -> list[Outcome]:
        return [p.job(spark, o) for p, o in zip(self.parts, self._outs(out))]

    def check(self, outcomes: list[Outcome]) -> list[str]:
        return [bad for p, o in zip(self.parts, outcomes) for bad in p.check(o)]

    def layers(self, spark, tr, out: str) -> list[Outcome]:
        return [p.layers(spark, tr, o) for p, o in zip(self.parts, self._outs(out))]

    def layer_metrics(self, tr, outcomes: list[Outcome]) -> dict[str, float]:
        m: dict[str, float] = {}
        for p, o in zip(self.parts, outcomes):
            m.update(p.layer_metrics(tr, o))
        return m


def output_bytes(outcome) -> int:
    """Parquet bytes one job wrote (a pipeline's parts summed)."""
    if isinstance(outcome, list):
        return sum(o.output_bytes for o in outcome)
    return outcome.output_bytes


def clean(path: str) -> None:
    if os.path.isdir(path):
        shutil.rmtree(path)
    elif os.path.exists(path):
        os.remove(path)
