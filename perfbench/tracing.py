"""Spans recorded around each call into a layer, plus Spark's per-op
counters.

Spans live in the benchmark's own code: ``with tracer.span("catalog.save")``
wraps one call into ``Catalog.save``. Each op runs under its own Spark job
group; when the op ends, the tracer waits for the listener bus and reads
the group's jobs and stages from the application status store (which is
populated with ``spark.ui.enabled=false`` too). A disabled tracer records
nothing and sets no job group.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Dict, List, Optional

#: spans that run Spark actions (jobs run there), besides every
#: ``operators.*`` span
ACTION_SPANS = {"table.action", "aggregations.call", "catalog.save"}

COUNTERS = (
    "jobs", "stages", "tasks", "executor_run_ms", "gc_ms", "input_records",
    "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "job_wall_ms",
)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: Optional[int]
    op_id: int


@dataclass
class OpRecord:
    op_id: int
    kind: str
    counters: Dict[str, float] = field(default_factory=dict)
    #: (submitted, completed) epoch ms of each Spark job the op ran
    jobs: List[tuple] = field(default_factory=list)
    #: counts the workload attaches at layer boundaries (rows returned,
    #: whether an index was used, bytes written by a commit, ...)
    notes: Dict[str, float] = field(default_factory=dict)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: List[Span] = []
        self.ops: List[OpRecord] = []
        self._stack: List[int] = []
        self._op: Optional[OpRecord] = None
        # maps perf_counter() readings to the epoch ms Spark stamps jobs with
        self._epoch_ms = time.time() * 1e3 - time.perf_counter() * 1e3
        if enabled:
            jvm = self.sc._jvm
            self._store = self.sc._jsc.sc().statusStore()
            self._bus = self.sc._jsc.sc().listenerBus()
            self._no_tasks = jvm.java.util.ArrayList()
            self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)

    @contextmanager
    def op(self, op_id: int, kind: str):
        """One client request: the root span, and the job group whose
        counters are read once the request is over."""
        if not self.enabled:
            yield None
            return
        rec = OpRecord(op_id, kind)
        group = f"perfbench-op-{op_id}"
        self.sc.setJobGroup(group, kind)
        self._op = rec
        try:
            with self.span("client.op"):
                yield rec
        finally:
            self._op = None
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        rec.counters, rec.jobs = self._read_counters(group)
        self.ops.append(rec)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.perf_counter(), 0.0, parent, self._op.op_id if self._op else -1)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def note(self, key: str, value: float) -> None:
        if self._op is not None:
            self._op.notes[key] = self._op.notes.get(key, 0.0) + value

    def _read_counters(self, group: str):
        self._bus.waitUntilEmpty()
        out = dict.fromkeys(COUNTERS, 0.0)
        jobs = []
        seen = set()
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            job = self._store.job(jid)
            out["jobs"] += 1
            if job.completionTime().isDefined() and job.submissionTime().isDefined():
                jobs.append((job.submissionTime().get().getTime(),
                             job.completionTime().get().getTime()))
                out["job_wall_ms"] += jobs[-1][1] - jobs[-1][0]
            sids = job.stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                attempts = self._store.stageData(
                    sid, False, self._no_tasks, False, self._no_quantiles
                )
                for a in range(attempts.size()):
                    st = attempts.apply(a)
                    if st.status().toString() == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += st.numTasks()
                    out["executor_run_ms"] += st.executorRunTime()
                    out["gc_ms"] += st.jvmGcTime()
                    out["input_records"] += st.inputRecords()
                    out["input_bytes"] += st.inputBytes()
                    out["shuffle_read_bytes"] += st.shuffleReadBytes()
                    out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        return out, jobs

    # -- summaries ------------------------------------------------------------

    def durations_ms(self, name: str) -> List[float]:
        return [(s.end - s.start) * 1e3 for s in self.spans if s.name == name]

    def self_ms(self) -> Dict[str, float]:
        """Total self time per span name: duration minus the part covered
        by child spans."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: Dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start - child[i]) * 1e3
        return out

    def driver_overhead_ms(self) -> List[float]:
        """Per op: wall time inside action spans minus the part of it that
        Spark jobs cover."""
        actions: Dict[int, List[tuple]] = {}
        for s in self.spans:
            if s.name in ACTION_SPANS or s.name.startswith("operators."):
                actions.setdefault(s.op_id, []).append(
                    (self._epoch_ms + s.start * 1e3, self._epoch_ms + s.end * 1e3))
        out = []
        for r in self.ops:
            spans = actions.get(r.op_id, [])
            busy = merge(r.jobs)
            covered = sum(
                max(0.0, min(e, je) - max(b, jb)) for b, e in spans for jb, je in busy
            )
            out.append(sum(e - b for b, e in spans) - covered)
        return out

    def dump(self) -> List[dict]:
        """The spans with times in ms from the first span's start."""
        t0 = self.spans[0].start if self.spans else 0.0
        return [
            {"name": s.name, "start_ms": round((s.start - t0) * 1e3, 3),
             "end_ms": round((s.end - t0) * 1e3, 3), "parent": s.parent, "op_id": s.op_id}
            for s in self.spans
        ]


def merge(intervals: List[tuple]) -> List[tuple]:
    """Union of (start, end) intervals as disjoint sorted intervals."""
    out: List[list] = []
    for b, e in sorted(intervals):
        if out and b <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([b, e])
    return [tuple(x) for x in out]
