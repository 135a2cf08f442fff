"""Spans around calls into the engine's layers, and the Spark-side metrics
of each call site.

Every timed call goes through ``Tracer.span``, which always measures the
call's duration. With tracing off that is all it does. With tracing on
it also keeps a span record (name, start, end, parent, request id) and
runs the call under its own Spark job group. Nothing is read back from
Spark while the run is timing: ``harvest`` runs once at the end, reads
each job group's stages from the status store and each executed
DataFrame's plan metrics, and attaches them to the spans.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager

from py4j.protocol import Py4JError

# Python-kernel plan metrics, summed over a plan's nodes.
PLAN_METRICS = {
    "python_boot_ms": ("pythonBootTime",),
    "python_init_ms": ("pythonInitTime",),
    "python_total_ms": ("pythonTotalTime",),
    "arrow_bytes": ("pythonDataSent", "pythonDataReceived"),
}


class Span:
    __slots__ = ("sid", "name", "parent", "req", "start", "end", "group",
                 "plan", "attrs")

    def __init__(self, sid, name, parent, req, start):
        self.sid, self.name, self.parent, self.req = sid, name, parent, req
        self.start, self.end = start, None
        self.group = None
        self.plan = None
        self.attrs: dict = {}

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.bookkeeping_s = 0.0  # time the tracer itself spent in the timed path

    @contextmanager
    def span(self, name: str, req=None, site: bool = False):
        """Time the enclosed block. ``site=True`` marks a call into a layer
        whose Spark jobs are attributed to it (its own job group)."""
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.sid if parent else None,
                 req if req is not None else (parent.req if parent else None), t0)
        if self.enabled:
            self.spans.append(s)
            self._stack.append(s)
            if site:
                s.group = f"{name}#{s.sid}"
                self.sc.setJobGroup(s.group, name, False)
            s.start = time.perf_counter()
            self.bookkeeping_s += s.start - t0
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            if self.enabled:
                self._stack.pop()
                if site:
                    outer = next((p.group for p in reversed(self._stack) if p.group), None)
                    if outer:
                        self.sc.setJobGroup(outer, outer.split("#")[0], False)
                    else:
                        self.sc.setLocalProperty("spark.jobGroup.id", None)
                        self.sc.setLocalProperty("spark.job.description", None)
                self.bookkeeping_s += time.perf_counter() - s.end

    def executed(self, s: Span, df) -> None:
        """Remember the DataFrame whose action ran in ``s`` for plan metrics."""
        if self.enabled:
            s.plan = df

    # -- read back (after the timed run) --------------------------------------

    def harvest(self) -> None:
        if not self.enabled:
            return
        jsc = self.sc._jsc.sc()
        try:  # let the status store catch up with the last jobs' events
            jsc.listenerBus().waitUntilEmpty(10_000)
        except Py4JError:
            time.sleep(1.0)
        store = jsc.statusStore()
        gw = self.sc._gateway
        no_status = gw.jvm.java.util.ArrayList()
        no_q = gw.new_array(gw.jvm.double, 0)
        for s in self.spans:
            if s.group:
                s.attrs.update(_group_metrics(self.sc, store, s.group, no_status, no_q))
            if s.plan is not None:
                s.attrs.update(_plan_metrics(s.plan))
                s.plan = None

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its children cover."""
        child = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + s.dur
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + s.dur - child.get(s.sid, 0.0)
        return out

    def coverage(self, t0: float, t1: float) -> float:
        """Share of [t0, t1] covered by top-level spans inside it."""
        top = sum(min(s.end, t1) - max(s.start, t0) for s in self.spans
                  if s.parent is None and s.end > t0 and s.start < t1)
        return top / (t1 - t0)

    def by_name(self, name: str, since: float = 0.0) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.start >= since]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.sid, "name": s.name, "parent": s.parent,
                    "req": s.req, "start": s.start, "end": s.end,
                    **s.attrs}) + "\n")


def site_fields(spans: list[Span]) -> dict[str, float]:
    """Median per call of each Spark field recorded on ``spans``."""
    keys = sorted({k for s in spans for k in s.attrs})
    return {k: statistics.median(s.attrs.get(k, 0) for s in spans) for k in keys}


def _group_metrics(sc, store, group, no_status, no_q) -> dict[str, float]:
    out = {"jobs": 0, "tasks": 0, "executor_run_ms": 0.0,
           "executor_cpu_ms": 0.0, "shuffle_write_bytes": 0, "spill_bytes": 0}
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        out["jobs"] += 1
        it = store.job(jid).stageIds().iterator()
        while it.hasNext():
            attempts = store.stageData(it.next(), False, no_status, False, no_q)
            for i in range(attempts.size()):
                st = attempts.apply(i)
                out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                out["executor_run_ms"] += st.executorRunTime()
                out["executor_cpu_ms"] += st.executorCpuTime() / 1e6
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return out


def _plan_metrics(df) -> dict[str, float]:
    sums = {k: 0 for k in PLAN_METRICS}
    seen = set()

    def visit(node):
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return visit(node.executedPlan())
        if cls.endswith("QueryStageExec"):
            return visit(node.plan())
        if cls == "ReusedExchangeExec" or node.id() in seen:
            return
        seen.add(node.id())
        metrics = node.metrics()
        for key, names in PLAN_METRICS.items():
            for n in names:
                m = metrics.get(n)
                if m.isDefined():
                    sums[key] += m.get().value()
        kids = node.children()
        for i in range(kids.size()):
            visit(kids.apply(i))

    visit(df._jdf.queryExecution().executedPlan())
    return {k: float(v) for k, v in sums.items()}
