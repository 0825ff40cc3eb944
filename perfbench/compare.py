"""Spread and comparison of saved benchmark results.

Every ``run.py`` run saves its result, stamped with the host state, as
``.perfbench/results/<workload>-seed<n>-trace<t>-<pid>.json``.

    python3 perfbench/compare.py spread DIR           # quartile spread per metric
    python3 perfbench/compare.py diff BASE_DIR HEAD_DIR

``spread`` prints, per workload and end-to-end metric, the median and
the distance between the first and third quartiles as a share of the
median, against the metric's bound (``statistics.quantiles(n=4)``).
``diff`` prints each median's change from BASE to HEAD against the
bound.  It refuses to compare runs whose effective core counts
(``nproc`` and Spark's ``defaultParallelism``) differ.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(d: str) -> dict[str, list[dict]]:
    """Untraced results under ``d`` by workload."""
    by_wl: dict[str, list[dict]] = {}
    for path in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(path, encoding="utf-8") as fh:
            rec = json.load(fh)
        if rec["stamp"]["trace"] == 0:
            by_wl.setdefault(rec["stamp"]["workload"], []).append(rec)
    return by_wl


def cores(recs: list[dict]) -> set[tuple[int, int]]:
    return {(r["stamp"]["nproc"], r["stamp"]["default_parallelism"]) for r in recs}


def values(recs: list[dict], metric: str) -> list[float]:
    return [r["metrics"][metric]["value"] for r in recs if metric in r["metrics"]]


def spread(xs: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    sp = sub.add_parser("spread")
    sp.add_argument("dir", nargs="?", default=os.path.join(ROOT, ".perfbench", "results"))
    df = sub.add_parser("diff")
    df.add_argument("base")
    df.add_argument("head")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m for m in spec["end_to_end"]}

    if args.cmd == "spread":
        ok = True
        for wl, recs in sorted(load(args.dir).items()):
            if len(cores(recs)) > 1:
                print(f"{wl}: runs with different core counts {cores(recs)}; refusing")
                return 2
            failed = sum(r["failed"] for r in recs)
            print(f"{wl}: {len(recs)} runs, {failed} failed jobs, cores {cores(recs)}")
            for name, m in bounds.items():
                xs = values(recs, name)
                if len(xs) < 2:
                    continue
                s = spread(xs)
                flag = "" if name == "setup_s" or s <= m["bound"] / 3 else "  WIDE"
                ok &= not flag
                print(f"  {name:<30} median {statistics.median(xs):>12.5g}"
                      f"  spread {s:6.3f}  bound {m['bound']}{flag}")
        return 0 if ok else 1

    base, head = load(args.base), load(args.head)
    worse = False
    for wl in sorted(set(base) & set(head)):
        if cores(base[wl]) != cores(head[wl]) or len(cores(base[wl])) != 1:
            print(f"{wl}: effective core counts differ "
                  f"(base {cores(base[wl])}, head {cores(head[wl])}); refusing")
            return 2
        print(f"{wl}: base {len(base[wl])} runs, head {len(head[wl])} runs")
        for name, m in bounds.items():
            b, h = values(base[wl], name), values(head[wl], name)
            if not b or not h:
                continue
            mb, mh = statistics.median(b), statistics.median(h)
            change = (mh - mb) / mb
            bad = change > m["bound"] if m["better"] == "lower" else -change > m["bound"]
            worse |= bad
            print(f"  {name:<30} {mb:>12.5g} -> {mh:>12.5g}  {change:+7.2%}"
                  f"  bound {m['bound']}{'  WORSE' if bad else ''}")
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main())
