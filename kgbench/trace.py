"""Layer tracing for the benchmark: spans, Spark job/task/shuffle counts
per layer call, and executed-plan metrics.

Spans are recorded from the benchmark's own code around each call into
a layer (``dag.py``): name, start, end, parent span and the id of the
operation the call belongs to.  The counters are read from outside the
program: every layer call runs under its own Spark job group, and after
the call the status tracker and the application status store give that
group's jobs, tasks and shuffle bytes written (this covers every job of
a layer, the fixpoint rounds inside canonicalization included).  The
frame a layer materialized is walked through py4j for its SQL metrics:
the Python-runner metrics of ``MapInPandas`` and the
``BroadcastExchange`` build time and size (timing metrics are in ms).
All of that is read after the layer's span has ended, so it does not
count in the span.

``NullTracer`` is the untraced run: its layers and operations do nothing.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict


class _NullRecord:
    def plan(self, df):
        pass

    def after(self, name, fn):
        pass


class NullTracer:
    """Untraced run: no job groups, no status-store reads, no spans."""

    _rec = _NullRecord()

    @contextlib.contextmanager
    def op(self, op):
        yield

    @contextlib.contextmanager
    def layer(self, op, name):
        yield self._rec

    def capture(self, op, name, transform):
        return transform


class _Record:
    def __init__(self):
        self.frames = []
        self.deferred = []

    def plan(self, df):
        self.frames.append(df)

    def after(self, name, fn):
        """Measure ``name`` with ``fn()`` once the span has ended."""
        self.deferred.append((name, fn))


# physical-node name prefix -> SQL metrics summed over those nodes
PLAN_METRICS = {
    "MapInPandas": ("pythonTotalTime", "pythonInitTime", "pythonDataSent",
                    "pythonDataReceived", "pythonNumRowsReceived"),
    "BroadcastExchange": ("buildTime", "dataSize"),
}


def _children(node):
    """Children of a physical plan node, looking through AQE wrappers and
    query stages so that the final executed plan is walked."""
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        return [node.executedPlan()]
    if name.endswith("QueryStage"):
        return [node.plan()]
    if name == "ReusedExchange":
        return [node.child()]
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def plan_metrics(df) -> dict:
    """Sum PLAN_METRICS over the frame's executed plan, keyed
    ``"<node prefix>.<metric>"``."""
    out = defaultdict(int)
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        for prefix, wanted in PLAN_METRICS.items():
            if name.startswith(prefix):
                metrics = node.metrics()
                for m in wanted:
                    if metrics.contains(m):
                        out[prefix + "." + m] += metrics.apply(m).value()
                break
        stack.extend(_children(node))
    return dict(out)


class Tracer:
    """Traced run.  ``spans`` holds one dict per operation and per layer
    call; ``layers[(op, name)]`` the figures of that layer call."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.spans = []
        self.layers = {}
        self._op_span = {}
        self._captured = defaultdict(list)
        self.overhead_s = defaultdict(float)   # op -> bookkeeping seconds

    def _span(self, name, op, parent):
        span = {"id": len(self.spans), "name": name, "op": op,
                "parent": parent, "start": time.perf_counter()}
        self.spans.append(span)
        return span

    @contextlib.contextmanager
    def op(self, op):
        span = self._span("dag", op, None)
        self._op_span[op] = span["id"]
        self.sc.setJobGroup("kgbench-op-%d" % op, "dag")
        try:
            yield
        finally:
            span["end"] = time.perf_counter()
            self.sc.setJobGroup("kgbench-idle", "idle")

    @contextlib.contextmanager
    def layer(self, op, name):
        span = self._span(name, op, self._op_span.get(op))
        group = "kgbench-%d-%d-%s" % (op, span["id"], name)
        self.sc.setJobGroup(group, name)
        rec = _Record()
        try:
            yield rec
        finally:
            span["end"] = time.perf_counter()
            self.sc.setJobGroup("kgbench-op-%d" % op, "dag")
        self._jsc.listenerBus().waitUntilEmpty()
        fig = {"s": span["end"] - span["start"]}
        fig.update(self._jobs(group))
        fig.update(self._plans(rec.frames))
        for name_, fn in rec.deferred:
            fig[name_] = fn()
        self.layers[(op, name)] = fig
        for key in [k for k in self._captured if k[0] == op]:
            self.layers[key] = self._plans(self._captured.pop(key))
        self.overhead_s[op] += time.perf_counter() - span["end"]

    def capture(self, op, name, transform):
        """Wrap a stage transform so that the frame it builds is walked
        for plan metrics under ``name`` when the enclosing layer ends."""
        def wrapped(todo):
            df = transform(todo)
            self._captured[(op, name)].append(df)
            return df
        return wrapped

    @staticmethod
    def _plans(frames) -> dict:
        fig = defaultdict(int)
        for df in frames:
            for k, v in plan_metrics(df).items():
                fig[k] += v
        return dict(fig)

    def _jobs(self, group: str) -> dict:
        tracker = self.sc.statusTracker()
        store = self._jsc.statusStore()
        jobs = tracker.getJobIdsForGroup(group)
        stages = set()
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stages.update(info.stageIds)
        tasks = shuffle = 0
        for sid in stages:
            info = tracker.getStageInfo(sid)
            if info is None:          # skipped stage: reused shuffle output
                continue
            tasks += info.numCompletedTasks
            shuffle += store.lastStageAttempt(sid).shuffleWriteBytes()
        return {"jobs": len(jobs), "tasks": tasks, "shuffle_bytes": shuffle}

    def dump(self, path: str) -> None:
        """Write the spans as JSON lines."""
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")
