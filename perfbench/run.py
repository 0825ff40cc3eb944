"""Conversion-path benchmark for tabular_to_parquet_spark.

    python3 perfbench/run.py --workload lineitem_csv --seed 1 --seconds 20 --trace 0

Run from the root of a source checkout.  The inputs are generated from
``--seed`` before anything is timed.  Then, for ``--seconds`` and at
least twice, one session as the CLI runs it: a fresh JVM and
``get_spark()`` (→ ``setup_s``), one job (→ ``first_job_s`` wall,
``first_job_cpu_s`` CPU time of the JVM and this process), stop.  Each
metric is the median over the sessions.

Every job's output is checked; the last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 1`` runs
the traced variant instead and reports the per-layer metrics (see
``perfbench/README.md``).  A copy of the result, stamped with the host
state, goes to ``.perfbench/results/`` for ``perfbench/compare.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import workloads as W  # noqa: E402
from spans import Tracer, fold_event_log  # noqa: E402


def lineitem_csv(work: str, seed: int):
    truth = gen.lineitem_csv(work, seed, rows=150_000)
    return truth, W.Conversion(truth)


def f4_ordered_curation(work: str, seed: int):
    f4 = gen.f4_dirty_tsv(work, seed, rows=6_000, files=4)
    docs = gen.docs_corpus(work, seed, base_docs=200)
    wl = W.Pipeline(
        W.Conversion(f4, infer_full=True, strict_drop=True, preserve_order=True, single_file=True),
        W.Curation(docs),
    )
    return gen.total(f4, docs), wl


#: name → (input truth, workload), from (work dir, seed)
WORKLOADS = {"lineitem_csv": lineitem_csv, "f4_ordered_curation": f4_ordered_curation}
SESSIONS = 2  #: fresh JVMs per untraced run, at least; metrics are medians
MIN_TRACED_REPS = 1
#: spans whose event-log numbers are reported one by one
SPAN_NAMES = [
    "text.scan", "parsers.cast", "convert.observe", "convert.order_sort",
    "convert.write", "inference.full", "dedup.minhash_pairs",
    "dedup.dup_clusters", "text_analysis.text_features",
    "dedup.cluster_representatives", "curation.write",
]
SPAN_QUANTITIES = [
    "tasks", "executor_cpu_s", "executor_run_s", "gc_s",
    "shuffle_write_bytes", "spill_bytes", "driver_gap_s",
]


def load_benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def import_package():
    """Import the package from this checkout, never from elsewhere."""
    sys.path.insert(0, ROOT)
    try:
        import tabular_to_parquet_spark as pkg
    except ImportError as e:
        raise SystemExit(f"perfbench: package not importable from {ROOT}: {e}")
    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        raise SystemExit(f"perfbench: package resolved outside the checkout: {pkg.__file__}")


def jvm_pids(launcher_pid: int) -> list[int]:
    """The launcher process and all its descendants (the JVM among them)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="utf-8") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [launcher_pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += children.get(p, [])
    return out


def cpu_steal_s() -> float:
    """Host-wide CPU time stolen by the hypervisor so far (all CPUs)."""
    with open("/proc/stat", encoding="utf-8") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def cpu_s(launcher_pid: int) -> float:
    """CPU time used so far by this process and by the JVM launcher with
    all its descendants (user + system, reaped children included)."""
    ticks = 0
    for p in jvm_pids(launcher_pid):
        try:
            with open(f"/proc/{p}/stat", encoding="utf-8") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in f[11:15])
    t = os.times()
    return ticks / os.sysconf("SC_CLK_TCK") + t.user + t.system


def peak_rss_mb(pids: list[int]) -> float:
    best = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status", encoding="utf-8") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        best = max(best, int(line.split()[1]))
        except OSError:
            continue
    return best / 1024.0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = gw.proc
    pids = jvm_pids(proc.pid)
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except Exception:  # a wedged launcher must not outlive the benchmark
        proc.kill()
        proc.wait()
    for p in pids[1:]:
        deadline = time.time() + 30
        while os.path.exists(f"/proc/{p}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{p}"):
            os.kill(p, 9)
    SparkContext._gateway = None
    SparkContext._jvm = None


class Counter:
    """Jobs attempted and failed (raised or failed an output check)."""

    def __init__(self, wl):
        self.wl = wl
        self.launcher = 0  #: the current session's JVM launcher pid
        self.attempted = self.failed = 0

    def run(self, fn):
        """Run one job; returns (wall s, CPU s, outcome or None)."""
        self.attempted += 1
        c0, t0 = cpu_s(self.launcher), time.perf_counter()
        try:
            outcome = fn()
        except Exception:  # a failed job is counted, the run goes on
            traceback.print_exc()
            self.failed += 1
            return time.perf_counter() - t0, cpu_s(self.launcher) - c0, None
        secs, cpu = time.perf_counter() - t0, cpu_s(self.launcher) - c0
        bad = self.wl.check(outcome)
        if bad:
            print(f"perfbench: output check failed: {bad}", file=sys.stderr)
            self.failed += 1
        return secs, cpu, outcome


def launch(extra: dict):
    """A fresh JVM and session; returns (session, its setup wall)."""
    from tabular_to_parquet_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=extra)
    return spark, time.perf_counter() - t0


def measure(args, wl, truth, work: str) -> tuple[Counter, dict, dict]:
    """Sessions, each a fresh JVM that runs one job and stops, for
    ``--seconds`` and at least ``SESSIONS`` of them; a traced run has
    one session whose cold job is followed by the traced reps."""
    out = os.path.join(work, "out.parquet")
    extra = {"spark.sql.warehouse.dir": "file://" + os.path.join(work, "warehouse")}
    if args.trace:
        logdir = os.path.join(work, "eventlog")
        os.makedirs(logdir)
        extra["spark.eventLog.enabled"] = "true"
        extra["spark.eventLog.dir"] = "file://" + logdir
    from pyspark import SparkContext

    load_before, steal_before = os.getloadavg()[0], cpu_steal_s()
    counter = Counter(wl)
    setups, walls, cpus, rss, written, metrics, stamp = [], [], [], [], [], {}, {}

    def session():
        spark, secs = launch(extra)
        setups.append(secs)
        launcher = counter.launcher = SparkContext._gateway.proc.pid
        try:
            stamp.setdefault("default_parallelism", spark.sparkContext.defaultParallelism)
            stamp.setdefault("spark", spark.version)
            stamp.setdefault("java", spark.sparkContext._jvm.System.getProperty("java.version"))
            wall, cpu, o = counter.run(lambda: wl.job(spark, out))
            W.clean(out)
            walls.append(wall)
            cpus.append(cpu)
            if o is not None:
                written.append(W.output_bytes(o))
            if args.trace:
                metrics.update(traced(args, spark, wl, counter, out))
            rss.append(peak_rss_mb(jvm_pids(launcher)))
        finally:
            stop_spark(spark)

    if args.trace:
        session()
        metrics.update(span_metrics(wl.tracer, os.path.join(work, "eventlog")))
    else:
        repeat(args, session, SESSIONS)
    first_job_s, first_job_cpu_s = statistics.median(walls), statistics.median(cpus)
    metrics.update({
        "setups": setups,
        "first_job_walls": walls,
        "first_job_cpus": cpus,
        "setup_s": statistics.median(setups),
        "first_job_s": first_job_s,
        "first_job_cpu_s": first_job_cpu_s,
        "rows_per_s": truth.rows / first_job_s,
        "rows_per_cpu_s": truth.rows / first_job_cpu_s,
        "output_bytes_per_input_byte": (
            statistics.median(written) / truth.input_bytes if written else 0.0
        ),
        "jvm_peak_rss_mb": statistics.median(rss),
    })
    stamp.update({
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "sessions": len(setups),
        "nproc": len(os.sched_getaffinity(0)),
        "load1_before": load_before,
        "load1_after": os.getloadavg()[0],
        "cpu_steal_s": cpu_steal_s() - steal_before,
        "pyarrow": __import__("pyarrow").__version__,
        "python": platform.python_version(),
    })
    return counter, metrics, stamp


def repeat(args, run_one, at_least: int) -> None:
    deadline = time.perf_counter() + args.seconds
    n = 0
    while n < at_least or time.perf_counter() < deadline:
        run_one()
        n += 1


def traced(args, spark, wl, counter, out) -> dict:
    """Traced reps (spans, job descriptions, prefix pipelines, then the
    full job), each followed by an untraced job, until the window
    closes; the overhead is the traced full job minus the untraced
    ones.  A first rep, without its untraced job, is not recorded: every
    prefix pipeline is a plan of its own, and its first run pays the
    expression compile."""
    tr = wl.tracer = Tracer(spark.sparkContext)
    plain, last = [], {}

    def untraced_job():
        secs, _, _ = counter.run(lambda: wl.job(spark, out))
        W.clean(out)
        return secs

    def one(with_untraced=True):
        tr.job += 1
        with tr.span("rep"):
            _, _, o = counter.run(lambda: wl.layers(spark, tr, out))
        W.clean(out)
        if o is not None:
            last["outcome"] = o
        if with_untraced:
            plain.append(untraced_job())

    one(with_untraced=False)
    tr.spans.clear()
    repeat(args, one, MIN_TRACED_REPS)
    if "outcome" not in last:
        return {}
    traced_job = sum(statistics.median(tr.walls(n)) for n in wl.full_spans)
    untraced_job_s = statistics.median(plain)
    metrics = wl.layer_metrics(tr, last["outcome"])
    metrics.update({
        "trace.job_s": traced_job,
        "trace.untraced_job_s": untraced_job_s,
        "trace.overhead_s": traced_job - untraced_job_s,
    })
    return metrics


def span_metrics(tr: Tracer, logdir: str) -> dict:
    costs = fold_event_log(logdir)
    by_name: dict[str, list[dict]] = {}
    for sp in tr.spans:
        c = costs.get(sp.key)
        if c is None:
            continue
        by_name.setdefault(sp.name, []).append({
            "tasks": c.tasks,
            "executor_cpu_s": c.executor_cpu_s,
            "executor_run_s": c.executor_run_s,
            "gc_s": c.gc_s,
            "shuffle_write_bytes": c.shuffle_write_bytes,
            "spill_bytes": c.spill_bytes,
            "driver_gap_s": sp.wall - c.busy_s(),
        })
    out = {}
    for name in SPAN_NAMES:
        recs = by_name.get(name, [])
        for q in SPAN_QUANTITIES:
            out[f"{name}.{q}"] = statistics.median([r[q] for r in recs]) if recs else 0
    # the scan's partitions are its tasks
    out["text.scan_partitions"] = out["text.scan.tasks"]
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec = load_benchmark_spec()
    import_package()
    scratch = os.path.join(ROOT, ".perfbench")
    os.makedirs(scratch, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=scratch)
    # keep every file Spark, the JVM and Python write inside the checkout
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}"
    tempfile.tempdir = work
    try:
        truth, wl = WORKLOADS[args.workload](work, args.seed)
        counter, metrics, stamp = measure(args, wl, truth, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    failed_frac = counter.failed / max(1, counter.attempted)
    if not args.trace:
        print(f"{'metric':<32} {'value':>14}  unit")
        for n in names:
            print(f"{n:<32} {metrics.get(n, 0):>14.6g}  {units[n]}")
        print(f"{'failed_frac':<32} {failed_frac:>14.6g}  ratio")
    print(json.dumps(stamp), file=sys.stderr)
    result = {
        "correct": counter.failed == 0,
        "attempted": counter.attempted,
        "failed": counter.failed,
        "metrics": {n: {"value": metrics.get(n, 0), "unit": units[n]} for n in names},
    }
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"
    for sub in ("results", "traces") if args.trace else ("results",):
        os.makedirs(os.path.join(scratch, sub), exist_ok=True)
    if args.trace:
        wl.tracer.dump(os.path.join(scratch, "traces", tag), {"stamp": stamp})
    with open(os.path.join(scratch, "results", tag), "w", encoding="utf-8") as fh:
        json.dump({"stamp": stamp, "failed_frac": failed_frac, "raw": metrics, **result}, fh, indent=1)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
