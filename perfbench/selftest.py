"""Self-test of the benchmark's output checks, without Spark.

    python3 perfbench/selftest.py

Builds tiny seeded inputs, writes a correct output for each workload
with pyarrow, and asserts that the checks pass on it and fail on
corrupted copies (a lost row, a wrong type, a wrong parse-error count,
rows out of order, a second file, a document kept twice, a planted
group left undeduplicated, one bad part of a pipeline).  Exits 0 when
every check behaves.
"""

from __future__ import annotations

import copy
import os
import sys
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import workloads as W  # noqa: E402


def expect(name: str, bad: list[str], should_fail: bool) -> bool:
    ok = bool(bad) == should_fail
    print(f"{'ok  ' if ok else 'FAIL'} {name}: {bad[:1] if bad else 'passes'}")
    return ok


def conversion_cases(d: str) -> list[bool]:
    t = gen.f4_dirty_tsv(d, seed=3, rows=300, files=4, p_noise=0.02, p_invalid=0.01)
    wl = W.Conversion(t, preserve_order=True, single_file=True)
    # rows whose idx field was NA, noise or cut off come out null
    idx = list(range(t.order_values)) + [None] * (t.rows - t.order_values)
    out = os.path.join(d, "out.parquet")
    pq.write_table(pa.table({"Int32": idx}), out)
    good = W.output_outcome(out, W.Outcome(rows=t.rows, kinds=list(t.kinds),
                                           parse_errors=list(t.parse_errors)), "Int32")
    res = [expect("correct conversion", wl.check(good), False)]
    for name, mutate in [
        ("row lost", lambda o: setattr(o, "rows", o.rows - 1)),
        ("wrong type", lambda o: o.kinds.__setitem__(13, "string")),
        ("parse errors miscounted", lambda o: o.parse_errors.__setitem__(1, o.parse_errors[1] + 1)),
        ("rows out of order", lambda o: o.order_column.reverse()),
        ("two output files", lambda o: setattr(o, "files", 2)),
    ]:
        bad = copy.deepcopy(good)
        mutate(bad)
        res.append(expect(name, wl.check(bad), True))
    return res


def curation_cases(d: str) -> list[bool]:
    t = gen.docs_corpus(d, seed=3, base_docs=80)
    wl = W.Curation(t)
    copies = {doc for g in t.dup_groups for doc in g[1:]}
    kept = [i for i in range(t.docs) if i not in copies]

    def outcome(ids: list[int]) -> W.Outcome:
        out = os.path.join(d, f"kept{len(ids)}.parquet")
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64())}), out)
        return W.output_outcome(out, W.Outcome(rows=len(ids), kept_ids=ids))

    g = t.dup_groups[0]
    return [
        expect("correct curation", wl.check(outcome(kept)), False),
        expect("doc kept twice", wl.check(outcome(kept + kept[:1])), True),
        expect("planted group lost", wl.check(outcome([i for i in kept if i != g[0]])), True),
        expect("exact copy kept", wl.check(outcome(kept + [g[1]])), True),
        expect("nothing deduplicated", wl.check(outcome(list(range(t.docs)))), True),
    ]


def pipeline_cases(d: str) -> list[bool]:
    t = gen.lineitem_csv(d, seed=3, rows=50)
    wl = W.Pipeline(W.Conversion(t), W.Conversion(t))
    good = W.Outcome(rows=t.rows, kinds=list(t.kinds), parse_errors=list(t.parse_errors),
                     rows_written=t.rows)
    bad = copy.deepcopy(good)
    bad.rows_written -= 1
    return [
        expect("correct pipeline", wl.check([good, good]), False),
        expect("pipeline part wrong", wl.check([good, bad]), True),
    ]


def main() -> int:
    with tempfile.TemporaryDirectory() as d:
        for sub in "ckp":
            os.makedirs(os.path.join(d, sub))
        results = (
            conversion_cases(os.path.join(d, "c"))
            + curation_cases(os.path.join(d, "k"))
            + pipeline_cases(os.path.join(d, "p"))
        )
    print(f"{sum(results)}/{len(results)} checks behave")
    return 0 if all(results) else 1


if __name__ == "__main__":
    sys.exit(main())
