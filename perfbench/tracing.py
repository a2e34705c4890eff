"""Spans around calls into the engine's layers, and Spark SQL metrics per
executed plan — the traced run's instruments, kept in the benchmark's own
files so that the engine is measured unchanged.

A span is (name, start, end, parent, op id).  Spans live in memory and
are written out when the run ends, with their counts and each span
name's self time (its duration minus the part its child spans cover).

:func:`plan_metrics` walks one executed physical plan — through the AQE
wrapper and its query stages — and sums the SQL metrics of the Spark
operators the engine plans: file scans, whole-stage codegen, shuffle
exchanges, broadcasts and the Arrow Python boundary.
"""

from __future__ import annotations

import json
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

JOIN_NODES = {
    "BroadcastHashJoinExec", "SortMergeJoinExec", "ShuffledHashJoinExec",
    "BroadcastNestedLoopJoinExec", "CartesianProductExec",
}
PYTHON_NODES = {
    "ArrowEvalPythonExec", "BatchEvalPythonExec", "MapInArrowExec", "MapInPandasExec",
    "FlatMapGroupsInPandasExec", "FlatMapGroupsInArrowExec", "FlatMapCoGroupsInPandasExec",
    "AggregateInPandasExec", "WindowInPandasExec", "ArrowWindowPythonExec",
}


class Tracer:
    """Records spans when ``enabled``; otherwise every call is a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        parent = self._open[-1] if self._open else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        rec = dict(id=len(self.spans), name=name, parent=parent, op=op,
                   start=time.perf_counter(), end=None)
        self.spans.append(rec)
        self._open.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()

    def self_times(self) -> dict[str, float]:
        child_s: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"] - child_s[s["id"]]
        return dict(out)

    def dump(self, path: str, extra: dict) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        spans = [dict(s, start=s["start"] - t0, end=s["end"] - t0) for s in self.spans]
        doc = dict(
            spans=spans,
            counts=dict(Counter(s["name"] for s in self.spans)),
            self_time_s=self.self_times(),
            **extra,
        )
        with open(path, "w") as f:
            json.dump(doc, f, indent=1)


def _node_metrics(node) -> dict[str, float]:
    """One plan node's SQL metrics, times in ms and the rest as counted."""
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        metric = kv._2()
        value = float(metric.value())
        kind = metric.metricType()
        if kind == "nsTiming":
            value /= 1e6
        out[kv._1()] = value
    return out


def plan_metrics(jplan) -> dict[str, float]:
    """Layer sums over one executed plan, with a layer's metrics present
    only where the plan has its node.

    The first shuffle exchange met from the root belongs to the
    benchmark's own digest aggregate (a single-partition gather of a few
    bytes) and is left out.  ``candidates`` is the output row count of the
    topmost join: the rows the refine step receives."""
    m: dict[str, float] = defaultdict(float)
    digest_exchange_seen = False
    cached_seen: set[str] = set()
    stack = [jplan]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls == "ReusedExchangeExec":
            continue  # its metrics are the original exchange's
        if cls == "InMemoryTableScanExec":
            # an operator's persisted intermediate, materialised by this
            # very action (caches are dropped between operations); several
            # scans of one cache share its plan, which counts once
            cached = node.relation().cachedPlan()
            key = cached.toString()
            if key not in cached_seen:
                cached_seen.add(key)
                stack.append(cached)
        nm = _node_metrics(node)
        if cls == "FileSourceScanExec":
            m["scan_rows"] += nm.get("numOutputRows", 0.0)
            m["scan_files"] += nm.get("numFiles", 0.0)
            m["scan_files_total"] += len(node.relation().location().inputFiles())
        elif cls == "WholeStageCodegenExec":
            m["codegen_ms"] += nm.get("pipelineTime", 0.0)
        elif cls == "BroadcastExchangeExec":
            m["broadcast_build_ms"] += nm.get("collectTime", 0.0) + nm.get("buildTime", 0.0)
            m["broadcast_bytes"] += nm.get("dataSize", 0.0)
        elif cls == "ShuffleExchangeExec":
            if digest_exchange_seen:
                m["exchange_bytes"] += nm.get("shuffleBytesWritten", 0.0)
                m["exchange_records"] += nm.get("shuffleRecordsWritten", 0.0)
            digest_exchange_seen = True
        elif cls in PYTHON_NODES:
            m["python_evals"] += 1
            m["python_ms"] += nm.get("pythonTotalTime", 0.0)
            m["python_bytes_sent"] += nm.get("pythonDataSent", 0.0)
        elif cls in JOIN_NODES and "candidates" not in m:
            m["candidates"] = nm.get("numOutputRows", 0.0)
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return dict(m)
