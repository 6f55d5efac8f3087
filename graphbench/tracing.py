"""Benchmark-side tracing: spans around engine calls, Spark job groups,
Catalyst phase times and the event log. Nothing here touches the engine's
code; the plain run constructs a disabled :class:`Tracer`, whose spans
cost one branch and set no job group.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op_id: int | None
    jobs: list[int] = field(default_factory=list)
    phases: dict = field(default_factory=dict)  # Catalyst ms, exec spans only
    rows: int = 0  # rows collected, exec spans only


class Tracer:
    def __init__(self, spark, enabled: bool) -> None:
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next = 0

    @contextmanager
    def span(self, name: str, op_id: int | None = None, jobs: bool = False):
        """Time a block as a child of the innermost open span. With
        ``jobs=True`` the block runs under its own job group and the span
        records the ids of the Spark jobs it fired."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if op_id is None and parent is not None:
            op_id = parent.op_id
        s = Span(self._next, name, 0.0, 0.0, parent.id if parent else None, op_id)
        self._next += 1
        group = f"gb-{s.id}"
        if jobs:
            self.sc.setJobGroup(group, name)
        self._stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if jobs:
                s.jobs = sorted(self.sc.statusTracker().getJobIdsForGroup(group))
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(s)

    def self_ms(self, s: Span) -> float:
        """Span time not covered by any of its child spans."""
        kids = sorted((c.start, c.end) for c in self.spans if c.parent == s.id)
        covered, edge = 0.0, s.start
        for a, b in kids:
            a, b = max(a, edge), min(b, s.end)
            if b > a:
                covered += b - a
                edge = b
        return 1e3 * ((s.end - s.start) - covered)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                rec = asdict(s)
                rec["ms"] = 1e3 * (s.end - s.start)
                rec["self_ms"] = self.self_ms(s)
                fh.write(json.dumps(rec) + "\n")


def catalyst_phases(df) -> dict[str, float]:
    """analysis / optimization / planning ms from the frame's
    ``QueryExecution.tracker()`` (filled once the frame has executed)."""
    out = {}
    phases = df._jdf.queryExecution().tracker().phases()
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def jvm_gc(spark) -> tuple[float, int]:
    """Cumulative (GC ms, GC count) over the driver JVM's collectors."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    ms = n = 0
    for b in beans:
        ms += max(0, b.getCollectionTime())
        n += max(0, b.getCollectionCount())
    return float(ms), int(n)


def rdd_storage_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


@dataclass
class JobStats:
    stages: int = 0
    tasks: int = 0
    run_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0

    def add(self, o: "JobStats") -> None:
        for k in vars(self):
            setattr(self, k, getattr(self, k) + getattr(o, k))


def event_log_jobs(log_dir: str) -> dict[int, JobStats]:
    """Per-job stage/task totals from an uncompressed, non-rolling event
    log (read after the session has stopped)."""
    paths = glob.glob(os.path.join(log_dir, "*"))
    if not paths:
        return {}
    stage_job: dict[int, int] = {}
    jobs: dict[int, JobStats] = {}
    with open(paths[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = JobStats()
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerStageCompleted":
                jid = stage_job.get(ev["Stage Info"]["Stage ID"])
                if jid is not None:
                    jobs[jid].stages += 1
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev.get("Stage ID"))
                m = ev.get("Task Metrics") or {}
                if jid is None or not m:
                    continue
                j = jobs[jid]
                j.tasks += 1
                j.run_ms += m.get("Executor Run Time", 0)
                j.gc_ms += m.get("JVM GC Time", 0)
                sr = m.get("Shuffle Read Metrics", {})
                j.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                j.shuffle_write += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                j.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return jobs
