"""In-memory spans around the harness's calls, and the fold of Spark's
event log into per-span executor numbers.

A span is (name, start, end, parent, job): ``job`` is the rep it belongs
to, so the spans of one rep share an identifier.  Every Spark job
started inside a span carries the span's unique description
(``setJobDescription``), which is how the event log's stages and tasks
are attributed back to it.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float  #: epoch seconds, comparable with event-log timestamps
    end: float
    parent: str | None
    job: int

    @property
    def key(self) -> str:
        return f"{self.name}#{self.job}"

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans kept in memory until :meth:`dump`.  Spans nest; a span's
    Spark jobs are tagged with its key, and the parent's key is restored
    when it closes."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._open: list[Span] = []
        self.job = 0

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        sp = Span(name, time.time(), 0.0, parent.key if parent else None, self.job)
        self._open.append(sp)
        self.sc.setJobDescription(sp.key)
        t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = sp.start + (time.perf_counter() - t0)
            self._open.pop()
            self.sc.setJobDescription(parent.key if parent else None)
            self.spans.append(sp)

    def walls(self, name: str) -> list[float]:
        return [s.wall for s in self.spans if s.name == name]

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({**extra, "spans": [asdict(s) for s in self.spans]}, fh, indent=1)


@dataclass
class SpanCost:
    """What Spark's event log says about the jobs of one span."""

    jobs: list[tuple[float, float]] = field(default_factory=list)
    tasks: int = 0
    executor_cpu_s: float = 0.0
    executor_run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0

    def busy_s(self) -> float:
        """Length of the union of this span's job intervals."""
        total, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(self.jobs):
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    total += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            total += cur_hi - cur_lo
        return total


def _event_lines(log_dir: str):
    """Decoded JSON events of every event-log file under ``log_dir``
    (Spark 4 writes rolling ``eventlog_v2_*/events_*`` files, zstd by
    default; plain files are read as they are)."""
    import pyarrow as pa

    files = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")))
    files += sorted(
        p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)
    )
    for path in files:
        codec = "zstd" if path.endswith(".zstd") else None
        with pa.input_stream(path, compression=codec) as fh:
            data = fh.read()
        for line in data.splitlines():
            if line.strip():
                yield json.loads(line)


def fold_event_log(log_dir: str) -> dict[str, SpanCost]:
    """Per job description (span key): job intervals and summed task
    metrics.  Stages are attributed through the description in their
    submission properties, so AQE's extra jobs land in the right span."""
    costs: dict[str, SpanCost] = {}
    job_desc: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_desc: dict[int, str] = {}
    for ev in _event_lines(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get("spark.job.description")
            if desc:
                job_desc[ev["Job ID"]] = desc
                job_start[ev["Job ID"]] = ev["Submission Time"] / 1000.0
        elif kind == "SparkListenerJobEnd":
            desc = job_desc.get(ev["Job ID"])
            if desc:
                costs.setdefault(desc, SpanCost()).jobs.append(
                    (job_start[ev["Job ID"]], ev["Completion Time"] / 1000.0)
                )
        elif kind == "SparkListenerStageSubmitted":
            desc = (ev.get("Properties") or {}).get("spark.job.description")
            if desc:
                stage_desc[ev["Stage Info"]["Stage ID"]] = desc
        elif kind == "SparkListenerTaskEnd":
            desc = stage_desc.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if not desc or not m:
                continue
            c = costs.setdefault(desc, SpanCost())
            c.tasks += 1
            c.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            c.executor_run_s += m.get("Executor Run Time", 0) / 1e3
            c.gc_s += m.get("JVM GC Time", 0) / 1e3
            c.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            c.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
    return costs
