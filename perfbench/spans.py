"""Spans recorded from outside the package, plus Spark status-store counters.

A ``Tracer`` patches public functions of the package's modules (and the
few pyspark entry points the package calls for its own writes) with
wrappers that open a span around each call. Each span records its name,
start, end, parent and the run id, and is kept in memory until the run
ends. While a span is open, Spark jobs are tagged with it through the
``spark.jobGroup.id`` local property (what ``SparkContext.setJobGroup``
sets), so stage counters read back from Spark's status store can be
attributed to the span that caused them.

Untraced runs never construct a Tracer, so they pay nothing.
"""

from __future__ import annotations

import contextlib
import functools
import time
from dataclasses import dataclass, field

JOB_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder. Spans nest on one stack: the stream's
    foreachBatch callback runs on another Python thread while the
    calling thread is blocked in ``awaitTermination``, so the stack is
    shared rather than per thread."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []
        self.overhead_s = 0.0  # time spent in open/close themselves

    # -- spans ---------------------------------------------------------
    def open(self, name: str, **attrs) -> Span:
        t0 = time.perf_counter()
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, parent, self.run_id, t0, attrs=attrs)
        s.attrs["_prev_group"] = self.sc.getLocalProperty(JOB_GROUP)
        self.sc.setLocalProperty(JOB_GROUP, f"{self.run_id}:{s.id}")
        self.spans.append(s)
        self._stack.append(s)
        self.overhead_s += time.perf_counter() - t0
        return s

    def close(self, s: Span) -> None:
        t0 = time.perf_counter()
        self._stack.remove(s)
        self.sc.setLocalProperty(JOB_GROUP, s.attrs.pop("_prev_group"))
        s.end = time.perf_counter()
        self.overhead_s += s.end - t0

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        s = self.open(name, **attrs)
        try:
            yield s
        finally:
            self.close(s)

    # -- call-site wrapping --------------------------------------------
    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper that opens a span named
        ``name`` per call."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        self.patch(owner, attr, wrapper)

    def patch(self, owner, attr: str, replacement) -> None:
        """Set ``owner.attr`` until ``unpatch``."""
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- summaries -----------------------------------------------------
    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child[s.id]
        return out

    def top_level_s(self) -> float:
        return sum(s.end - s.start for s in self.spans if s.parent is None)

    def dump(self) -> list[dict]:
        return [
            {"id": s.id, "name": s.name, "parent": s.parent, "run_id": s.run_id,
             "start": round(s.start, 6), "end": round(s.end, 6), **s.attrs}
            for s in self.spans
        ]

    # -- Spark status store --------------------------------------------
    def spark_counters(self) -> dict[str, dict[str, float]]:
        """Per span name: jobs, tasks, task seconds, shuffle read/write
        bytes, spill bytes, failed tasks and task skew (max over median
        task run time, worst stage) of the jobs tagged with that span."""
        store = self.sc._jsc.sc().statusStore()
        prefix = f"{self.run_id}:"
        stage_span: dict[int, str] = {}
        per: dict[str, dict[str, float]] = {}
        for j in _iterate(store.jobsList(None)):
            grp = j.jobGroup()
            if not grp.isDefined() or not str(grp.get()).startswith(prefix):
                continue
            name = self.spans[int(str(grp.get())[len(prefix):])].name
            c = per.setdefault(name, _zero())
            c["jobs"] += 1
            it = j.stageIds().iterator()
            while it.hasNext():
                stage_span[int(it.next())] = name
        jvm = self.sc._jvm
        no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        quantiles = self.sc._gateway.new_array(jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        stages = store.stageList(None, False, False, no_quantiles, jvm.java.util.ArrayList())
        for st in _iterate(stages):
            name = stage_span.get(int(st.stageId()))
            if name is None:
                continue
            c = per[name]
            c["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            c["task_s"] += st.executorRunTime() / 1000.0
            c["shuffle_read_bytes"] += st.shuffleReadBytes()
            c["shuffle_write_bytes"] += st.shuffleWriteBytes()
            c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            c["failed_tasks"] += st.numFailedTasks()
            if st.numCompleteTasks() > 1:
                q = store.taskSummary(st.stageId(), st.attemptId(), quantiles)
                if q.isDefined():
                    rt = q.get().executorRunTime()
                    med, mx = float(rt.apply(0)), float(rt.apply(1))
                    c["task_skew"] = max(c["task_skew"], mx / med if med > 0 else 1.0)
        return per


def _iterate(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _zero() -> dict[str, float]:
    return dict.fromkeys(
        ["jobs", "tasks", "task_s", "shuffle_read_bytes", "shuffle_write_bytes",
         "spill_bytes", "failed_tasks", "task_skew"], 0.0)

