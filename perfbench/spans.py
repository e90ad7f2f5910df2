"""Benchmark-side tracing: spans around the calls into each layer.

Spans form the tree workload -> operation -> layer call -> Spark action and
carry the id of the operation they belong to. They are kept in memory and
written out once, when the run ends. With tracing off every method is a
no-op, so the untraced run measures the program alone.

Spark counters come from the engine's own status store: every traced
operation runs under its own job group, so every job it starts is counted,
including the jobs a layer call runs eagerly outside any action span. After
the run the jobs of each group are resolved to their stages (tasks,
executor run time, shuffle and input volume). Nothing inside
``traildb_spark`` is instrumented.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, mode: bool, sc=None):
        self.mode = mode  # this is a traced run
        self.enabled = mode  # spans are recorded right now
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None

    @contextmanager
    def op(self, op_id: int, kind: str):
        """The span of one operation of the workload's mix; its Spark jobs
        run under the job group ``op-<op_id>``."""
        if not self.enabled:
            yield
            return
        self.op_id = op_id
        self.sc.setJobGroup(f"op-{op_id}", kind)
        try:
            with self.span("op", kind):
                yield
        finally:
            self.op_id = None
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def span(self, layer: str, name: str, action: bool = False):
        """A layer call; ``action=True`` marks a Spark action."""
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "op": self.op_id, "layer": layer, "name": name, "action": action}
        self.spans.append(rec)
        self._stack.append(sid)
        rec["t0"] = time.perf_counter()
        try:
            yield
        finally:
            rec["t1"] = time.perf_counter()
            self._stack.pop()

    def self_times(self, ops: set | None = None) -> dict[str, float]:
        """Seconds per layer not covered by the layer's child spans, over
        the spans of the operations ``ops`` (default: every span)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["t1"] - s["t0"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if ops is None or s["op"] in ops:
                out[s["layer"]] += s["t1"] - s["t0"] - child[s["id"]]
        return dict(out)

    def spark_counters(self) -> dict[int, dict]:
        """Job, task, run-time and shuffle counts of each traced operation,
        by operation id. Call once after the last operation: the status
        store is fed by an asynchronous listener, so counts read right
        after an action can still be incomplete."""
        tracker = self.sc.statusTracker()
        jvm = self.sc._jvm
        store = self.sc._jsc.sc().statusStore()
        no_q = self.sc._gateway.new_array(jvm.double, 0)
        no_status = jvm.java.util.ArrayList()
        out: dict[int, dict] = {}
        for s in self.spans:
            if s["layer"] != "op":
                continue
            c = {"jobs": 0, "tasks": 0, "executor_run_s": 0.0,
                 "shuffle_write_bytes": 0, "input_records": 0}
            for job in tracker.getJobIdsForGroup(f"op-{s['op']}"):
                c["jobs"] += 1
                info = tracker.getJobInfo(job)
                for stage in info.stageIds if info else ():
                    data = store.stageData(stage, False, no_status, False, no_q)
                    for i in range(data.size()):
                        sd = data.apply(i)
                        c["tasks"] += sd.numCompleteTasks()
                        c["executor_run_s"] += sd.executorRunTime() / 1e3
                        c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                        c["input_records"] += sd.inputRecords()
            s["spark"] = c
            out[s["op"]] = c
        return out

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, **extra}, fh)


def plan_nodes(df):
    """The nodes of the last executed physical plan of ``df``, descending
    into adaptive query stages and reused exchanges."""
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            todo.append(node.executedPlan())
            continue
        if "QueryStage" in name:
            todo.append(node.plan())
            continue
        if name == "ReusedExchange":
            todo.append(node.child())
            continue
        yield node
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))


def _metric(node, key: str) -> int:
    opt = node.metrics().get(key)
    return int(opt.get().value()) if opt.isDefined() else 0


def plan_scan_metrics(df) -> dict:
    """FileScan metrics of the last execution of ``df``: files read, rows
    the scan produced, and whether it read the z-index copy."""
    out = {"files": 0, "rows": 0, "zindex": False}
    for node in plan_nodes(df):
        name = node.nodeName()
        if name.startswith("Scan ") or "FileScan" in name or name == "FileSourceScan":
            out["files"] += _metric(node, "numFiles")
            out["rows"] += _metric(node, "numOutputRows")
            out["zindex"] |= "_zindex" in node.toString()
    return out


def plan_output_rows(df, node_name: str) -> int:
    """Rows produced by the plan nodes called ``node_name`` in the last
    execution of ``df``."""
    return sum(_metric(n, "numOutputRows") for n in plan_nodes(df)
               if n.nodeName() == node_name)
