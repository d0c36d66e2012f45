"""Spans for the traced run.

Spans are kept in memory and written out once, at the end of the run.  Each
span has a name, start, end, parent and a trace id shared by every span of
one rep or epoch.  Eager layer calls are timed by wrapping them from here,
for the duration of a ``wrapped()`` block; the program's files are not
changed.  Lazy layers are timed by prefix plans instead (see workloads.py).
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time

from opentelemetry_collector_spark.plans import compiler
from opentelemetry_collector_spark.streaming import stream, telemetry
from opentelemetry_collector_spark.streaming.router import FanoutRouter
from opentelemetry_collector_spark.streaming.sinks import IdempotentParquetSink
from opentelemetry_collector_spark.streaming.stream import StreamingPipeline


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, trace_id: str | None = None, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else None
        if trace_id is None:
            trace_id = parent["trace_id"] if parent else "-"
        s = {
            "id": next(self._ids),
            "name": name,
            "trace_id": trace_id,
            "parent": parent["id"] if parent else None,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(s)

    def durations(self, name: str, trace_ids: set[str]) -> list[float]:
        return [
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and s["trace_id"] in trace_ids
        ]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(sorted(self.spans, key=lambda s: s["start"]), f)


# (owner, attribute, span name); module-level functions are patched in every
# module that imported them by name
_EAGER_CALLS = [
    (FanoutRouter, "write_partitioned", "router.write_partitioned"),
    (IdempotentParquetSink, "write_epoch", "sinks.write_epoch"),
    (compiler, "write_lineage", "telemetry.write_lineage"),
    (stream, "write_lineage", "telemetry.write_lineage"),
    (telemetry.PipelineTelemetry, "harvest", "telemetry.harvest"),
]


@contextlib.contextmanager
def wrapped(tracer: Tracer):
    """Record a span around each eager layer call, and one per stream epoch
    around ``StreamingPipeline.process_batch`` (trace id ``epoch<id>``)."""
    saved = []

    def install(owner, attr, fn):
        saved.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, fn)

    for owner, attr, name in _EAGER_CALLS:
        orig = getattr(owner, attr)

        def make(orig=orig, name=name):
            @functools.wraps(orig)
            def call(*a, **kw):
                with tracer.span(name):
                    return orig(*a, **kw)

            return call

        install(owner, attr, make())

    orig_pb = StreamingPipeline.process_batch

    @functools.wraps(orig_pb)
    def process_batch(self, records, epoch_id):
        with tracer.span("stream.process_batch", trace_id=f"epoch{int(epoch_id)}", epoch=int(epoch_id)):
            return orig_pb(self, records, epoch_id)

    install(StreamingPipeline, "process_batch", process_batch)
    try:
        yield tracer
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)


def plan_metric(df, node_name: str, metric: str) -> int:
    """Sum one SQL metric over every node whose name starts with
    ``node_name`` in the executed plan of ``df`` (after an action),
    descending into adaptive query stages."""
    total = 0
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
        if node.nodeName().startswith(node_name):
            m = node.metrics()
            if m.contains(metric):
                total += m.apply(metric).value()
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return total
