"""Measurement plumbing: spans, the streaming batch clock, and the Spark
event-log reader.

Spans are recorded only in a traced run.  Each span has a name, start,
end, parent and op id; they stay in memory and are written out when the
run ends.  A span's self time is its duration minus the part of its
interval covered by its child spans.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Span:
    name: str
    start: float            # time.perf_counter()
    end: float = 0.0
    parent: int = -1        # index into Tracer.spans, -1 for a root
    op: int = -1

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder; a disabled tracer records nothing and costs one
    attribute check per boundary."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op: int = -1):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else -1
        if op < 0 and parent >= 0:
            op = self.spans[parent].op
        self.spans.append(Span(name, time.perf_counter(), parent=parent,
                               op=op))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def self_times(self) -> list[float]:
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            children.setdefault(s.parent, []).append(s)
        out = []
        for i, s in enumerate(self.spans):
            covered, edge = 0.0, s.start
            for c in sorted(children.get(i, []), key=lambda c: c.start):
                lo, hi = max(c.start, edge), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    edge = hi
            out.append(s.dur - covered)
        return out

    def dump(self, path: str, extra: dict) -> None:
        selfs = self.self_times()
        rows = [{"name": s.name, "start": s.start, "end": s.end,
                 "parent": s.parent, "op": s.op, "self": st}
                for s, st in zip(self.spans, selfs)]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({**extra, "spans": rows}, fh)


class BatchClock(StreamingQueryListener):
    """Records every micro-batch of every streaming query: its input
    rows and Spark's own per-phase `durationMs`."""

    def __init__(self):
        self.batches: list[dict] = []
        self._started: set[str] = set()
        self._done: set[str] = set()
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        with self._lock:
            self._started.add(str(event.runId))

    def onQueryProgress(self, event):
        p = event.progress
        with self._lock:
            self.batches.append({
                "rows": int(p.numInputRows),
                "dur": {k: int(v) for k, v in dict(p.durationMs).items()},
            })

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._lock:
            self._done.add(str(event.runId))

    def settle(self, timeout: float = 10.0) -> None:
        """Block until every query that started has reported its end, so
        every progress event of a finished drain has been delivered."""
        deadline = time.perf_counter() + timeout
        while time.perf_counter() < deadline:
            with self._lock:
                if self._done >= self._started:
                    return
            time.sleep(0.005)
        raise TimeoutError("streaming listener did not see the query end")


@dataclass
class ExecTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    jvm_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    jobs_by_group: dict = field(default_factory=dict)


def read_event_log(log_dir: str, t0_ms: float, t1_ms: float) -> ExecTotals:
    """Totals over jobs submitted in [t0_ms, t1_ms] (epoch ms).  Jobs
    are attributed by submission time, so streaming jobs, which run
    under their own job group, are counted with the phase they ran in.
    Needs an uncompressed log (spark.eventLog.compress=false)."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    events = []
    paths = [p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True)
             if os.path.isfile(p) and not p.endswith(".inprogress.crc")]
    for path in sorted(paths):
        if os.path.basename(path).startswith("appstatus"):
            continue   # rolling-log marker file, empty
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "at": ev.get("Submission Time", 0),
                        "group": (ev.get("Properties") or {}).get(
                            "spark.jobGroup.id"),
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind in ("SparkListenerTaskEnd",
                              "SparkListenerStageCompleted"):
                    events.append(ev)
    inside = {j for j, v in jobs.items() if t0_ms <= v["at"] <= t1_ms}
    tot = ExecTotals(jobs=len(inside))
    for j in inside:
        g = jobs[j]["group"] or "-"
        tot.jobs_by_group[g] = tot.jobs_by_group.get(g, 0) + 1
    for ev in events:
        if ev["Event"] == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            if stage_job.get(sid) in inside:
                tot.stages += 1
            continue
        if stage_job.get(ev["Stage ID"]) not in inside:
            continue
        m = ev.get("Task Metrics") or {}
        tot.tasks += 1
        tot.run_s += m.get("Executor Run Time", 0) / 1e3
        tot.jvm_cpu_s += m.get("Executor CPU Time", 0) / 1e9
        tot.gc_s += m.get("JVM GC Time", 0) / 1e3
        sw = m.get("Shuffle Write Metrics") or {}
        tot.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / 2**20
        tot.spill_mb += (m.get("Memory Bytes Spilled", 0)
                         + m.get("Disk Bytes Spilled", 0)) / 2**20
    return tot
