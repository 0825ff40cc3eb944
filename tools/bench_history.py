"""Per-query bench time series from BENCH_LOCAL.json's git history.

BENCH_r07–r09 recorded ``parsed: null`` (the driver clips long stdout
lines), so the only complete per-query record across rounds is the
committed BENCH_LOCAL.json at each commit.  This tool walks that
file's git history, extracts every snapshot's min-of-reps per-query
timings plus the machine-state stamps, and writes ONE committed CSV
(``BENCH_HISTORY.csv``) that downstream tooling — and bench.py's
regression flag — can read without touching git.

Regression rule (r10 verdict item 5, host-normalized per r11 verdict
item 1): a query is flagged when its fresh min-of-reps exceeds
``factor`` (default 1.5×) times the minimum of its last ``window``
(default 3) comparable snapshots — same sf, ``idle_at_start`` true
(the NEXT.md idle rule: non-idle snapshots are noise-bounded only,
never a regression baseline) — where each historical time is first
RESCALED to today's host speed by the CPU-canary ratio
(``hist_sec * current_canary / snapshot_canary``).  The canary is a
fixed single-thread sha256 workload timed by bench.py before the
suite; r11's judge proved the unnormalized rule fires on ~65/104
queries from host drift alone (r10's unchanged code re-ran 1.59×
slower on the same box weeks later) — a real 1.5× code regression
would hide in that wash.  Bootstrap rule: once any canary-bearing
comparable snapshot exists, canary-less snapshots are NEVER baselines
(they are exactly the drift-confounded ones); until one exists,
normalized flagging is impossible and the flag reports
``bootstrap: true`` with an empty set rather than 65 noise entries.

Noop-protocol supersession (r14): the same bootstrap shape one level
up.  bench.py's noop canary gained a discarded warm-up in r14
(``canary_noop_protocol: "warmed_min3"``); a PRE-protocol snapshot's
cold/contended noop reading can OVERSTATE its own host's JVM time —
the r13 snapshot recorded 1.14 s against a ~0.24 s same-day warm
floor, so on a day whose JVM-side latency was genuinely 3.7× worse
its baselines rescaled by ~1× and 21 hard flags fired on unchanged
code (the r14 adjudication, NEXT.md).  Rule: once any comparable
snapshot carries the current noop protocol, protocol-mismatched
snapshots are never baselines; until one exists, the flag reports a
protocol bootstrap with an empty set.

Core-count rule: a snapshot is comparable only when its effective
``cpus`` stamp (bench.py's ``local[N]``) equals the current run's. A
4-core run judged against 32-core history flags scheduling width, not
code; a snapshot without a stamp is no baseline for a run that has one.

Usage:
    python tools/bench_history.py            # rebuild BENCH_HISTORY.csv
    python tools/bench_history.py --check    # rebuild + flag current
                                             # BENCH_LOCAL.json vs history
"""

from __future__ import annotations

import csv
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CSV_PATH = os.path.join(REPO, "BENCH_HISTORY.csv")
FIELDS = ["commit", "date", "idle", "sf", "cpus", "reps", "canary_sha",
          "canary_noop", "noop_proto", "query", "sec"]


def load_history(repo: str = REPO) -> list[dict]:
    """All committed BENCH_LOCAL.json snapshots, oldest first.

    Each snapshot: {commit, date, idle, sf, cpus, reps, canary stamps,
    queries: {name: sec}}
    (sec = the committed min-of-reps).  Unparseable blobs are skipped.
    """
    out = subprocess.run(
        ["git", "log", "--reverse", "--format=%H %cI", "--", "BENCH_LOCAL.json"],
        cwd=repo,
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    snaps: list[dict] = []
    for line in out.splitlines():
        sha, _, date = line.partition(" ")
        show = subprocess.run(
            ["git", "show", f"{sha}:BENCH_LOCAL.json"],
            cwd=repo,
            capture_output=True,
            text=True,
        )
        if show.returncode != 0:
            continue
        try:
            payload = json.loads(show.stdout)
        except ValueError:
            continue
        queries = payload.get("queries")
        if not isinstance(queries, dict) or not queries:
            continue
        c_sha = payload.get("canary_sha256_sec")
        c_noop = payload.get("canary_spark_noop_sec")
        noop_proto = payload.get("canary_noop_protocol") or ""
        cpus = payload.get("cpus")
        snaps.append(
            {
                "commit": sha,
                "date": date,
                "idle": bool(payload.get("idle_at_start", False)),
                "sf": float(payload.get("sf", 0.1)),
                "cpus": int(cpus) if cpus else None,
                "reps": int(payload.get("reps", 1)),
                "canary_sha": float(c_sha) if c_sha else None,
                "canary_noop": float(c_noop) if c_noop else None,
                "noop_proto": noop_proto,
                "queries": {str(k): float(v) for k, v in queries.items()},
            }
        )
    return snaps


def write_csv(snaps: list[dict], path: str = CSV_PATH) -> None:
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(FIELDS)
        for s in snaps:
            for q in sorted(s["queries"]):
                w.writerow(
                    [s["commit"], s["date"], int(s["idle"]), s["sf"],
                     "" if s.get("cpus") is None else s["cpus"],
                     s["reps"],
                     "" if s.get("canary_sha") is None else s["canary_sha"],
                     "" if s.get("canary_noop") is None else s["canary_noop"],
                     s.get("noop_proto") or "",
                     q, s["queries"][q]]
                )


def read_csv(path: str = CSV_PATH) -> list[dict]:
    """Inverse of write_csv — snapshots oldest-first (file order)."""
    if not os.path.exists(path):
        return []
    snaps: list[dict] = []
    by_commit: dict[str, dict] = {}
    with open(path, newline="") as fh:
        for row in csv.DictReader(fh):
            s = by_commit.get(row["commit"])
            if s is None:
                # canary/cpus columns absent (older CSV) or empty → None
                c_sha = row.get("canary_sha") or None
                c_noop = row.get("canary_noop") or None
                noop_proto = row.get("noop_proto") or ""
                cpus = row.get("cpus") or None
                s = {
                    "commit": row["commit"],
                    "date": row["date"],
                    "idle": row["idle"] == "1",
                    "sf": float(row["sf"]),
                    "cpus": int(cpus) if cpus else None,
                    "reps": int(row["reps"]),
                    "canary_sha": float(c_sha) if c_sha else None,
                    "canary_noop": float(c_noop) if c_noop else None,
                    "noop_proto": noop_proto,
                    "queries": {},
                }
                by_commit[row["commit"]] = s
                snaps.append(s)
            s["queries"][row["query"]] = float(row["sec"])
    return snaps


def _comparable(snaps: list[dict], sf: float, cpus: int | None) -> list[dict]:
    """Idle snapshots at the same sf and the same effective core count."""
    return [
        s for s in snaps
        if s["idle"] and s["sf"] == sf and s.get("cpus") == cpus
    ]


def flag_regressions(
    snaps: list[dict],
    current: dict[str, float],
    sf: float = 0.1,
    factor: float = 1.5,
    window: int = 3,
    current_canary: float | None = None,
    current_noop: float | None = None,
    current_noop_protocol: str | None = None,
    current_cpus: int | None = None,
) -> dict[str, dict]:
    """Queries in ``current`` slower than factor × the min of their
    last ``window`` comparable (idle, same-sf, same-``cpus``)
    snapshots.

    With ``current_canary`` (this run's sha256 canary seconds) each
    historical time is rescaled to today's host speed —
    ``hist_sec * current_canary / snapshot_canary`` — before the
    factor test, and only canary-bearing snapshots are baselines (the
    bootstrap rule in the module docstring).  Without it, the legacy
    unnormalized rule applies (kept for pre-r12 callers/tests).

    With ``current_noop`` (this run's Spark-noop canary seconds) the
    rescale factor becomes ``max(sha_ratio, noop_ratio)`` per snapshot
    (r12 verdict item 1): the single-thread sha256 canary normalizes
    raw CPU speed but is blind to co-tenant CONTENTION, which the
    32-thread Spark-noop canary records — the r12 driver run at load1
    19 doubled the noop canary (0.238 → 0.475) while the sha canary
    held at 1.0× and shipped 3 false flags.  Using the max of both
    ratios makes the baseline exactly as forgiving as the slowest
    dimension of the current host state; a genuine code regression
    still fires because it exceeds BOTH canaries' drift.

    Returns {query: {sec, baseline_sec, ratio[, host_ratio]}} where
    baseline_sec is the host-rescaled baseline and host_ratio the
    rescale factor (max of the two canary ratios) that produced it.
    Queries with no comparable history are never flagged (a new query
    has no baseline)."""
    def _pos(v) -> bool:
        # a malformed snapshot can carry canary 0.0 (or a junk type);
        # a strict > 0 gate keeps _rescale division-safe (r13 ADVICE)
        return isinstance(v, (int, float)) and v > 0

    comparable = _comparable(snaps, sf, current_cpus)
    normalized = current_canary is not None and any(
        _pos(s.get("canary_sha")) for s in comparable
    )
    if current_canary is not None and not normalized:
        return {}  # bootstrap: no sound baseline exists yet
    if normalized:
        comparable = [s for s in comparable if _pos(s.get("canary_sha"))]
        # noop-protocol supersession (r14, the r13-item-1 adjudication
        # finding): a snapshot whose noop canary was taken under a
        # DIFFERENT protocol (pre-warm-up cold min-of-3) can carry a
        # reading that mismeasures its own host's JVM speed — the r13
        # snapshot's 1.14 s cold canary made its baselines rescale by
        # ~1x on a day the host's JVM-latency was genuinely 3.7x
        # worse, manufacturing 21 hard flags on unchanged code.  Same
        # shape as the canary bootstrap rule one level up: once any
        # comparable snapshot carries the CURRENT noop protocol,
        # protocol-mismatched snapshots are never baselines; until
        # one exists, normalized flagging is unsound and the flag
        # reports empty (protocol bootstrap).
        if current_noop_protocol:
            protoed = [
                s for s in comparable
                if s.get("noop_proto") == current_noop_protocol
            ]
            if not protoed:
                return {}  # noop-protocol bootstrap
            comparable = protoed

    def _rescale(s: dict) -> float:
        """hist → today multiplier: max(sha ratio, noop ratio)."""
        r = current_canary / s["canary_sha"]
        if current_noop and _pos(s.get("canary_noop")):
            r = max(r, current_noop / s["canary_noop"])
        return r

    # one rescale per snapshot, not two per (query, snapshot)
    rescale = (
        {id(s): _rescale(s) for s in comparable} if normalized else {}
    )
    flagged: dict[str, dict] = {}
    for q, sec in current.items():
        hist = [
            (
                s["queries"][q] * (rescale[id(s)] if normalized else 1.0),
                rescale[id(s)] if normalized else None,
            )
            for s in comparable
            if q in s["queries"]
        ]
        if not hist:
            continue
        baseline, base_ratio = min(hist[-window:], key=lambda t: t[0])
        if baseline > 0 and sec > factor * baseline:
            flagged[q] = {
                "sec": round(sec, 3),
                "baseline_sec": round(baseline, 3),
                "ratio": round(sec / baseline, 2),
            }
            if normalized:
                flagged[q]["host_ratio"] = round(base_ratio, 3)
    return flagged


def flag_meta(
    snaps: list[dict],
    sf: float = 0.1,
    current_canary: float | None = None,
    current_noop_protocol: str | None = None,
    current_cpus: int | None = None,
) -> dict:
    """Context for a flag_regressions result: was it normalized, and
    how many canary-bearing comparable snapshots back the baseline."""
    comparable = _comparable(snaps, sf, current_cpus)
    n_canary = sum(1 for s in comparable if s.get("canary_sha"))
    meta = {
        "normalized": current_canary is not None and n_canary > 0,
        "bootstrap": current_canary is not None and n_canary == 0,
        "n_canary_snapshots": n_canary,
        "n_comparable_snapshots": len(comparable),
    }
    if current_noop_protocol:
        n_proto = sum(
            1 for s in comparable
            if s.get("noop_proto") == current_noop_protocol
        )
        meta["n_noop_protocol_snapshots"] = n_proto
        meta["noop_protocol_bootstrap"] = (
            meta["normalized"] and n_proto == 0
        )
    return meta


def main() -> int:
    snaps = load_history()
    write_csv(snaps)
    print(
        f"[bench-history] {len(snaps)} snapshots, "
        f"{sum(len(s['queries']) for s in snaps)} rows -> {CSV_PATH}",
        file=sys.stderr,
    )
    if "--check" in sys.argv[1:]:
        with open(os.path.join(REPO, "BENCH_LOCAL.json")) as fh:
            cur = json.load(fh)
        if not cur.get("idle_at_start"):
            print("[bench-history] current snapshot not idle; min column only",
                  file=sys.stderr)
        # exclude the newest snapshot if it IS the current payload
        hist = [s for s in snaps if s["queries"] != cur.get("queries")]
        canary = cur.get("canary_sha256_sec")
        flagged = flag_regressions(hist, cur.get("queries", {}),
                                   sf=float(cur.get("sf", 0.1)),
                                   current_canary=canary,
                                   current_noop=cur.get(
                                       "canary_spark_noop_sec"),
                                   current_noop_protocol=cur.get(
                                       "canary_noop_protocol"),
                                   current_cpus=cur.get("cpus"))
        meta = flag_meta(hist, sf=float(cur.get("sf", 0.1)),
                         current_canary=canary,
                         current_noop_protocol=cur.get(
                             "canary_noop_protocol"),
                         current_cpus=cur.get("cpus"))
        print(json.dumps({"regressions": flagged, "meta": meta}, indent=2))
        return 1 if flagged else 0
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
