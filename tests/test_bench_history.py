"""bench history reconstruction + regression flag (r10 verdict item 5):
BENCH_HISTORY.csv is the committed per-query time series (BENCH_r07–r09
have parsed:null, so git history of BENCH_LOCAL.json is the only
complete record), and bench.py flags any query >1.5× its trailing-3
comparable-snapshot min."""

from __future__ import annotations

import importlib.util
import os

_SPEC = importlib.util.spec_from_file_location(
    "bench_history",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                 "tools", "bench_history.py"),
)
bh = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(bh)


def _snap(commit, idle=True, sf=0.1, canary=None, noop=None, cpus=None,
          **queries):
    return {"commit": commit, "date": "2026-08-01T00:00:00+00:00",
            "idle": idle, "sf": sf, "cpus": cpus, "reps": 3,
            "canary_sha": canary, "canary_noop": noop,
            "noop_proto": "",
            "queries": {k: float(v) for k, v in queries.items()}}


def test_flag_triggers_above_factor():
    snaps = [_snap("a", q1=1.0), _snap("b", q1=1.2), _snap("c", q1=1.1)]
    flagged = bh.flag_regressions(snaps, {"q1": 1.6})
    assert "q1" in flagged and flagged["q1"]["baseline_sec"] == 1.0
    assert flagged["q1"]["ratio"] == 1.6


def test_flag_quiet_below_factor():
    snaps = [_snap("a", q1=1.0), _snap("b", q1=1.2)]
    assert bh.flag_regressions(snaps, {"q1": 1.4}) == {}


def test_flag_window_is_trailing():
    # an old fast run outside the window must not set the baseline
    snaps = [_snap(c, q1=v) for c, v in
             [("a", 0.5), ("b", 2.0), ("c", 2.1), ("d", 2.2)]]
    assert bh.flag_regressions(snaps, {"q1": 1.0}, window=3) == {}
    # ... but inside the window it does
    assert "q1" in bh.flag_regressions(snaps, {"q1": 1.0}, window=4)


def test_flag_ignores_non_idle_and_other_sf():
    snaps = [
        _snap("a", idle=False, q1=0.1),   # load-confounded: not a baseline
        _snap("b", sf=0.01, q1=0.1),      # different scale: not comparable
        _snap("c", q1=1.0),
    ]
    assert bh.flag_regressions(snaps, {"q1": 1.2}) == {}


def test_flag_compares_equal_core_counts_only():
    # 32-core history is no baseline for a 4-core run, however slow
    # the 4-core numbers look against it
    snaps = [_snap(c, canary=0.1, cpus=32, q1=0.5) for c in "abc"]
    assert bh.flag_regressions(
        snaps, {"q1": 5.0}, current_canary=0.1, current_cpus=4
    ) == {}
    meta = bh.flag_meta(snaps, current_canary=0.1, current_cpus=4)
    assert meta["n_comparable_snapshots"] == 0 and meta["bootstrap"]
    # the same history still flags a 32-core run
    assert "q1" in bh.flag_regressions(
        snaps, {"q1": 5.0}, current_canary=0.1, current_cpus=32
    )


def test_unstamped_snapshot_is_no_baseline_for_stamped_run():
    snaps = [_snap("old", canary=0.1, q1=0.5), _snap("new", canary=0.1, cpus=4, q1=2.0)]
    assert bh.flag_regressions(
        snaps, {"q1": 2.2}, current_canary=0.1, current_cpus=4
    ) == {}
    meta = bh.flag_meta(snaps, current_canary=0.1, current_cpus=4)
    assert meta["n_comparable_snapshots"] == 1


def test_csv_roundtrip_with_cpus(tmp_path):
    snaps = [_snap("a", cpus=32, q1=1.0), _snap("b", cpus=4, q1=1.1)]
    p = str(tmp_path / "hist.csv")
    bh.write_csv(snaps, p)
    assert bh.read_csv(p) == snaps


def test_flag_new_query_has_no_baseline():
    assert bh.flag_regressions([_snap("a", q1=1.0)], {"brand_new": 9.9}) == {}


def test_csv_roundtrip(tmp_path):
    snaps = [_snap("a", q1=1.0, q2=2.5), _snap("b", idle=False, q1=1.1)]
    p = str(tmp_path / "hist.csv")
    bh.write_csv(snaps, p)
    back = bh.read_csv(p)
    assert back == snaps


def test_read_csv_missing_file_is_empty(tmp_path):
    assert bh.read_csv(str(tmp_path / "absent.csv")) == []


def test_committed_history_loads_and_matches_local():
    """The committed CSV exists and its newest snapshot agrees with the
    committed BENCH_LOCAL.json on some overlapping query."""
    import json

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    snaps = bh.read_csv(os.path.join(repo, "BENCH_HISTORY.csv"))
    assert len(snaps) >= 10
    with open(os.path.join(repo, "BENCH_LOCAL.json")) as fh:
        local = json.load(fh)
    newest = snaps[-1]["queries"]
    overlap = set(newest) & set(local["queries"])
    assert len(overlap) >= 50


# -- r12: host-normalized flagging (r11 verdict item 1) ----------------------


def test_normalized_no_false_flag_on_2x_host_slowdown():
    # history on a fast host (canary 0.1); current run on a host
    # exactly 2x slower (canary 0.2, every query 2x) — zero flags.
    snaps = [_snap("a", canary=0.1, q1=1.0, q2=4.0),
             _snap("b", canary=0.1, q1=1.1, q2=4.4)]
    cur = {"q1": 2.0, "q2": 8.0}
    assert bh.flag_regressions(snaps, cur, current_canary=0.2) == {}


def test_normalized_real_regression_still_fires():
    # same host speed (canary equal) but q1 got 2x slower in code
    snaps = [_snap("a", canary=0.1, q1=1.0)]
    flagged = bh.flag_regressions(snaps, {"q1": 2.0}, current_canary=0.1)
    assert "q1" in flagged
    assert flagged["q1"]["ratio"] == 2.0
    assert flagged["q1"]["host_ratio"] == 1.0


def test_normalized_regression_visible_through_host_slowdown():
    # host 2x slower AND code 2x slower: normalized ratio is 2x -> flag
    snaps = [_snap("a", canary=0.1, q1=1.0)]
    flagged = bh.flag_regressions(snaps, {"q1": 4.0}, current_canary=0.2)
    assert "q1" in flagged and flagged["q1"]["ratio"] == 2.0
    assert flagged["q1"]["host_ratio"] == 2.0


def test_bootstrap_no_canary_history_is_quiet():
    # canary-less (pre-r12) snapshots are exactly the drift-confounded
    # ones — with a current canary but no canary-bearing history the
    # flag must report nothing (bootstrap) rather than 65 noise rows.
    snaps = [_snap("a", q1=0.5), _snap("b", q1=0.55)]
    assert bh.flag_regressions(snaps, {"q1": 5.0}, current_canary=0.1) == {}
    meta = bh.flag_meta(snaps, current_canary=0.1)
    assert meta["bootstrap"] and not meta["normalized"]
    assert meta["n_canary_snapshots"] == 0


def test_canaryless_snapshots_excluded_once_canary_exists():
    # the drift-confounded fast snapshot (no canary) must not set the
    # baseline once a canary-bearing one exists
    snaps = [_snap("a", q1=0.1),                  # pre-r12, fast host
             _snap("b", canary=0.1, q1=1.0)]      # canary-stamped
    assert bh.flag_regressions(snaps, {"q1": 1.2}, current_canary=0.1) == {}
    meta = bh.flag_meta(snaps, current_canary=0.1)
    assert meta["normalized"] and meta["n_canary_snapshots"] == 1


def test_legacy_unnormalized_path_unchanged():
    # no current canary -> the pre-r12 rule, canary-less history OK
    snaps = [_snap("a", q1=1.0)]
    assert "q1" in bh.flag_regressions(snaps, {"q1": 1.6})


def test_csv_roundtrip_with_canaries(tmp_path):
    snaps = [_snap("a", canary=0.123, q1=1.0), _snap("b", q1=1.1)]
    p = str(tmp_path / "hist.csv")
    bh.write_csv(snaps, p)
    assert bh.read_csv(p) == snaps


def test_read_pre_r12_csv_without_canary_columns(tmp_path):
    # a committed pre-r12 CSV has no canary columns at all
    p = tmp_path / "old.csv"
    p.write_text("commit,date,idle,sf,reps,query,sec\n"
                 "a,2026-08-01T00:00:00+00:00,1,0.1,3,q1,1.0\n")
    back = bh.read_csv(str(p))
    assert back == [_snap("a", q1=1.0)]


# -- r13: contention-aware normalizer + non-idle snapshot guard
# (r12 verdict item 1) --------------------------------------------------------


def test_noop_contention_no_false_flag():
    # the r12 driver scenario: CPU speed unchanged (sha ratio 1.0) but
    # co-tenant contention doubled the Spark-noop canary; queries ran
    # 1.6x slower with ZERO code change.  max(sha, noop) normalization
    # rescales the baseline 2x -> no flag.
    snaps = [_snap("a", canary=0.1, noop=0.24, q1=1.0)]
    flagged = bh.flag_regressions(
        snaps, {"q1": 1.6}, current_canary=0.1, current_noop=0.48)
    assert flagged == {}
    # ...and the sha-only normalizer (pre-r13 behavior) would have
    # fired — the blind spot this closes.
    assert "q1" in bh.flag_regressions(snaps, {"q1": 1.6},
                                       current_canary=0.1)


def test_noop_normalizer_real_regression_still_fires():
    # both canaries steady -> a 2x query slowdown is code, not host
    snaps = [_snap("a", canary=0.1, noop=0.24, q1=1.0)]
    flagged = bh.flag_regressions(
        snaps, {"q1": 2.0}, current_canary=0.1, current_noop=0.24)
    assert "q1" in flagged and flagged["q1"]["ratio"] == 2.0
    assert flagged["q1"]["host_ratio"] == 1.0


def test_noop_normalizer_skipped_without_history_noop():
    # a history snapshot without a noop canary falls back to sha-only
    snaps = [_snap("a", canary=0.1, q1=1.0)]
    flagged = bh.flag_regressions(
        snaps, {"q1": 1.6}, current_canary=0.1, current_noop=0.48)
    assert "q1" in flagged  # sha ratio 1.0; noop not comparable


def test_noop_faster_today_never_shrinks_baseline():
    # max(sha, noop) only ever makes the baseline MORE forgiving; a
    # less-contended host today (noop ratio < 1) must not deflate the
    # sha-normalized baseline and manufacture flags.
    snaps = [_snap("a", canary=0.1, noop=0.48, q1=1.0)]
    flagged = bh.flag_regressions(
        snaps, {"q1": 1.2}, current_canary=0.1, current_noop=0.24)
    assert flagged == {}


# -- bench.py run-context guards (pure helpers; no session) ------------------

_BENCH_SPEC = importlib.util.spec_from_file_location(
    "bench_mod",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                 "bench.py"),
)
bench_mod = importlib.util.module_from_spec(_BENCH_SPEC)
_BENCH_SPEC.loader.exec_module(bench_mod)


def test_nonidle_full_run_writes_side_file():
    assert bench_mod._snapshot_filename(True) == "BENCH_LOCAL.json"
    assert bench_mod._snapshot_filename(False) == "BENCH_LOCAL_nonidle.json"


def test_loaded_run_fixture_produces_no_hard_flags():
    # r12 verdict item 1c: a loaded-run fixture (advisory_run=True, as
    # bench.py computes for idle_at_start=False or --only subsets)
    # must yield zero hard flags; the findings survive as advisory.
    found = {"event_window_stats": {"sec": 2.0, "baseline_sec": 1.0,
                                    "ratio": 2.0}}
    hard, advisory = bench_mod._split_flags(found, advisory_run=True)
    assert hard == {} and advisory == found
    # an idle full-suite run keeps them hard
    hard, advisory = bench_mod._split_flags(found, advisory_run=False)
    assert hard == found and advisory == {}


def test_zero_or_junk_canary_snapshot_never_crashes(ahem=None):
    # r13 ADVICE: a malformed snapshot carrying canary_sha 0.0 (or a
    # junk type) must neither divide-by-zero inside _rescale nor
    # become a baseline; the valid-canary snapshot still flags
    snaps = [
        _snap("bad0", canary=0.0, noop=0.0, q1=0.1),
        _snap("badt", q1=0.1) | {"canary_sha": "oops"},
        _snap("good", canary=0.06, noop=0.2, q1=1.0),
    ]
    flagged = bh.flag_regressions(
        snaps, {"q1": 1.8}, current_canary=0.06, current_noop=0.2
    )
    assert "q1" in flagged and flagged["q1"]["baseline_sec"] == 1.0


def test_all_canaries_zero_is_bootstrap_quiet():
    snaps = [_snap("bad", canary=0.0, q1=0.1)]
    assert (
        bh.flag_regressions(snaps, {"q1": 9.9}, current_canary=0.06) == {}
    )


def _psnap(commit, proto="warmed_min3", **kw):
    s = _snap(commit, **kw)
    s["noop_proto"] = proto
    return s


def test_noop_protocol_supersession():
    # r14: the r13 snapshot's COLD noop canary (1.14 s vs its ~0.24 s
    # warm floor) under-rescaled its baselines on a latency-degraded
    # day and fired 21 hard flags on unchanged code.  Once a snapshot
    # with the current protocol exists, protocol-mismatched snapshots
    # are never baselines.
    snaps = [
        _psnap("cold", proto="", canary=0.06, noop=1.14, q1=0.5),
        _psnap("warm", canary=0.06, noop=0.9, q1=1.6),
    ]
    flagged = bh.flag_regressions(
        snaps, {"q1": 1.7}, current_canary=0.06, current_noop=0.9,
        current_noop_protocol="warmed_min3",
    )
    # vs the cold snapshot 1.7/0.5 = 3.4x would flag; vs the warmed
    # baseline 1.7/1.6 = 1.06x must not
    assert flagged == {}
    # a real regression vs the warmed baseline still fires
    assert "q1" in bh.flag_regressions(
        snaps, {"q1": 2.9}, current_canary=0.06, current_noop=0.9,
        current_noop_protocol="warmed_min3",
    )


def test_noop_protocol_bootstrap_quiet():
    snaps = [_psnap("cold", proto="", canary=0.06, noop=1.14, q1=0.5)]
    assert bh.flag_regressions(
        snaps, {"q1": 9.9}, current_canary=0.06, current_noop=0.9,
        current_noop_protocol="warmed_min3",
    ) == {}
    meta = bh.flag_meta(
        snaps, current_canary=0.06, current_noop_protocol="warmed_min3"
    )
    assert meta["noop_protocol_bootstrap"] is True
    assert meta["n_noop_protocol_snapshots"] == 0


def test_no_protocol_param_keeps_legacy_behavior():
    snaps = [_psnap("cold", proto="", canary=0.06, noop=0.24, q1=0.5)]
    assert "q1" in bh.flag_regressions(
        snaps, {"q1": 1.2}, current_canary=0.06, current_noop=0.24
    )


def test_csv_roundtrip_with_noop_proto(tmp_path):
    p = str(tmp_path / "h.csv")
    snaps = [
        _psnap("a", canary=0.06, noop=0.9, q1=1.0),
        _psnap("b", proto="", canary=0.06, noop=0.2, q1=1.1),
    ]
    bh.write_csv(snaps, p)
    back = bh.read_csv(p)
    assert [s["noop_proto"] for s in back] == ["warmed_min3", ""]
    assert back[0]["queries"] == {"q1": 1.0}
