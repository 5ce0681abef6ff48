"""Spans around calls into the program's layers, joined to Spark's own
stage counters — recorded entirely from the benchmark's side.

A span wraps one call (a LakeTable method patched on the class, or a
call the benchmark makes itself). Each span runs its Spark jobs under a
job group of its own, so after the run the status store can say which
jobs, stages and tasks each span launched. Spans stay in memory until
`resolve()` reads the counters, once, after the measured loop.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager

_GROUP = "spark.jobGroup.id"
_DESC = "spark.job.description"


class Span:
    __slots__ = ("name", "group", "t0", "t1", "parent", "children", "counters")

    def __init__(self, name: str, group: str, parent: "Span | None"):
        self.name, self.group, self.parent = name, group, parent
        self.t0 = time.perf_counter()
        self.t1 = self.t0
        self.children: list[Span] = []
        self.counters: dict[str, float] = {}


def _union_len(intervals) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Tracer:
    """Records spans for the session `spark`. `Tracer()` without one makes
    every span a plain pass-through, so the untraced windows run the
    identical benchmark code path."""

    def __init__(self, spark=None):
        self.enabled = spark is not None
        self._sc = spark.sparkContext if spark is not None else None
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._local = threading.local()
        self._main_stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._main_stack if threading.current_thread() is threading.main_thread() else []
            self._local.stack = st
        return st

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        # a span opened on a worker thread (the destination writes its
        # streams from a thread pool) belongs to the innermost open span
        # of the main thread
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        sp = Span(name, f"perfbench-{next(self._ids)}-{name}", parent)
        sc = self._sc
        prev = sc.getLocalProperty(_GROUP)
        sc.setLocalProperty(_GROUP, sp.group)
        sc.setLocalProperty(_DESC, name)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.t1 = time.perf_counter()
            stack.pop()
            sc.setLocalProperty(_GROUP, prev)
            sc.setLocalProperty(_DESC, None)
            if parent is not None:
                parent.children.append(sp)
            self.spans.append(sp)

    def wrap_method(self, cls, attr: str, name: str) -> None:
        """Replace cls.attr with a span-recording wrapper (no-op when
        tracing is off; `unwrap_all` restores the original)."""
        if not self.enabled:
            return
        orig = getattr(cls, attr)

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            with self.span(name):
                return orig(*a, **kw)

        setattr(cls, attr, wrapper)
        self._patched.append((cls, attr, orig))

    def unwrap_all(self) -> None:
        for cls, attr, orig in reversed(self._patched):
            setattr(cls, attr, orig)
        self._patched.clear()

    # ------------------------------------------------------- counters

    def resolve(self, spark, cores: int) -> None:
        """Join every span to the Spark jobs of its job group. Fills
        jobs, tasks, task_s, cpu_s, gc_s, shuffle_write_bytes,
        output_bytes, spill_bytes, job_wall_s, driver_s and busy_frac;
        self_s is the span's wall time minus its children's union."""
        if not self.enabled or not self.spans:
            return
        jsc = spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = spark.sparkContext.statusTracker()
        for sp in self.spans:
            wall = sp.t1 - sp.t0
            c = dict.fromkeys(
                ("jobs", "tasks", "task_s", "cpu_s", "gc_s", "shuffle_write_bytes",
                 "shuffle_write_records", "output_bytes", "spill_bytes"), 0.0,
            )
            intervals, stages = [], set()
            for jid in tracker.getJobIdsForGroup(sp.group):
                job = store.job(jid)
                c["jobs"] += 1
                sub, done = job.submissionTime(), job.completionTime()
                if sub.isDefined() and done.isDefined():
                    intervals.append((sub.get().getTime(), done.get().getTime()))
                it = job.stageIds().iterator()
                while it.hasNext():
                    stages.add(it.next())
            for sid in stages:
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - stage evicted or never run
                    continue
                c["tasks"] += st.numCompleteTasks()
                c["task_s"] += st.executorRunTime() / 1e3
                c["cpu_s"] += st.executorCpuTime() / 1e9
                c["gc_s"] += st.jvmGcTime() / 1e3
                c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                c["shuffle_write_records"] += st.shuffleWriteRecords()
                c["output_bytes"] += st.outputBytes()
                c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            job_wall = _union_len(intervals) / 1e3
            c["s"] = wall
            c["job_wall_s"] = job_wall
            c["driver_s"] = max(wall - job_wall, 0.0)
            c["busy_frac"] = c["task_s"] / (job_wall * cores) if job_wall > 0 else 0.0
            c["self_s"] = wall - _union_len((ch.t0, ch.t1) for ch in sp.children)
            sp.counters = c

    def totals(self) -> dict[str, dict[str, float]]:
        """Per span name: every counter summed over its spans, plus
        `calls`; busy_frac is recomputed from the sums."""
        out: dict[str, dict[str, float]] = {}
        for sp in self.spans:
            agg = out.setdefault(sp.name, {"calls": 0})
            agg["calls"] += 1
            for k, v in sp.counters.items():
                if k != "busy_frac":
                    agg[k] = agg.get(k, 0.0) + v
        return out

    def dump(self) -> list[dict]:
        return [
            {
                "name": sp.name,
                "parent": sp.parent.name if sp.parent else None,
                "t0": sp.t0,
                "t1": sp.t1,
                **sp.counters,
            }
            for sp in self.spans
        ]
