"""Spans, counters and executed-plan SQL metrics for the traced run.

Spans are recorded from the benchmark's own files around calls into
the package's layers; nothing inside the package is instrumented. They
stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder. A span has a name, start and end (s,
    relative to the tracer's creation), the id of the span that was open
    on the same thread when it started, and a trace id shared by the
    spans of one request or one probe."""

    def __init__(self) -> None:
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, trace_id: str | None = None, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        rec = {"name": name, "parent": parent["id"] if parent else None,
               "trace": trace_id or (parent["trace"] if parent else name),
               "start": time.perf_counter() - self.t0, **attrs}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            stack.pop()

    def duration(self, rec: dict) -> float:
        return rec["end"] - rec["start"]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def plan_nodes(plan) -> list:
    """Every physical node of an executed plan, looking through AQE
    wrappers and query stages."""
    out, todo = [], [plan]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if cls == "ReusedExchangeExec":
            todo.append(node.child())
            continue
        out.append(node)
        todo.extend(_seq(node.children()))
    return out


def node_metrics(node) -> dict[str, int]:
    m, res = node.metrics(), {}
    it = m.iterator()
    while it.hasNext():
        kv = it.next()
        res[kv._1()] = int(kv._2().value())
    return res


def execute_with_metrics(df) -> tuple[float, list[tuple[str, str, dict]]]:
    """Execute ``df``'s own physical plan to completion (rows are
    counted and dropped, like a ``noop`` sink) and return the wall time
    plus ``(node class, node description, SQL metrics)`` per node. Works
    with the Spark UI disabled."""
    qe = df._jdf.queryExecution()
    t = time.perf_counter()
    qe.executedPlan().execute().count()
    wall = time.perf_counter() - t
    nodes = [(n.getClass().getSimpleName(), n.simpleString(200), node_metrics(n))
             for n in plan_nodes(qe.executedPlan())]
    return wall, nodes
