"""Spans around the benchmark's calls into each layer, and the readouts
of Spark's own state that give the per-layer numbers.

A ``Tracer`` times every op. With tracing on it also records, for each
op, a root span and one child span per layer call (``plans.build``,
``exec``, ``sources.*``, ``streaming.*``), each layer call under its
own Spark job group. After the op it reads, from state Spark keeps
anyway:

* the jobs of each job group (``statusTracker``) and, per stage,
  ``statusStore().lastStageAttempt`` run/CPU/GC/shuffle/spill figures;
* the Catalyst phase times of the executed frame
  (``queryExecution().tracker().phases()``);
* the executed plan's SQL metrics, walked through AQE stages the way
  ``observability.plan_runtime_metrics`` walks them.

The readout runs inside the op's ``trace.readout`` span, so the self
times of an op's spans add up to its wall and the readout's share is
the tracing overhead. Spans stay in memory until ``dump``.
"""

from __future__ import annotations

import itertools
import json
import time
from collections import Counter
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

# executed-plan node metric -> per-layer counter (summed over the tree)
_OPERATOR_TIMES = {
    "scanTime": "operators.scan_ms",
    "aggTime": "operators.agg_ms",
    "sortTime": "operators.sort_ms",
    "pipelineTime": "operators.pipeline_ms",
}
_PYTHON_NODES = ("Python", "InPandas", "ArrowEval")


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counters: Counter = Counter()
        self._ids = itertools.count(1)
        self._op: dict | None = None
        self._groups: list[str] = []
        self._frames: list = []

    @contextmanager
    def op(self, name: str, kind: str):
        """One timed op. Yields its record; ``wall_s`` is set on exit."""
        rec = {"op": name, "kind": kind, "wall_s": None}
        t0 = time.perf_counter()
        if self.enabled:
            self._op = {"id": next(self._ids), "name": name, "kind": kind,
                        "start": t0, "children": []}
            self._groups, self._frames = [], []
        try:
            yield rec
        finally:
            if self.enabled:
                with self.layer("trace.readout"):
                    self._readout()
                self.spark.sparkContext.setJobGroup("bench.idle", "untraced")
            t1 = time.perf_counter()
            rec["wall_s"] = t1 - t0
            if self.enabled:
                op = self._op
                op["end"] = t1
                self.spans.append({"op_id": op["id"], "span": op["name"], "parent": None,
                                   "kind": op["kind"], "start": op["start"], "end": t1})
                self.spans.extend(op["children"])
                self._op = None

    @contextmanager
    def layer(self, name: str):
        """A call into one layer, inside the current op."""
        if not self.enabled or self._op is None:
            yield
            return
        op = self._op
        group = f"bench.{op['id']}.{name}"
        if name != "trace.readout":
            self.spark.sparkContext.setJobGroup(group, name)
            self._groups.append(group)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            op["children"].append({"op_id": op["id"], "span": name, "parent": op["name"],
                                   "group": group, "start": t0, "end": time.perf_counter()})

    def executed(self, df) -> None:
        """Mark ``df`` as executed in this op: its phases and plan metrics
        are read out after the op."""
        if self.enabled and self._op is not None:
            self._frames.append(df)

    def count(self, key: str, value: float) -> None:
        if self.enabled:
            self.counters[key] += value

    # -- readouts -------------------------------------------------------

    def _readout(self) -> None:
        sc = self.spark.sparkContext
        jsc = self.spark._jsparkSession.sparkContext()
        jsc.listenerBus().waitUntilEmpty()
        tracker, store = sc.statusTracker(), jsc.statusStore()
        c = self.counters
        for group in self._groups:
            layer = group.split(".", 2)[2]
            jobs = tracker.getJobIdsForGroup(group)
            if layer == "plans.build":
                c["plans.build_jobs"] += len(jobs)
                c["plans.build_misses"] += 1 if jobs else 0
            c["exec.jobs"] += len(jobs)
            for job in jobs:
                info = tracker.getJobInfo(job)
                for stage in info.stageIds if info else ():
                    try:
                        s = store.lastStageAttempt(stage)
                    except Py4JJavaError:  # skipped stage: never attempted
                        continue
                    c["exec.stages"] += 1
                    c["exec.tasks"] += s.numTasks()
                    c["exec.run_s"] += s.executorRunTime() / 1e3
                    c["exec.cpu_s"] += s.executorCpuTime() / 1e9
                    c["exec.gc_s"] += s.jvmGcTime() / 1e3
                    c["exec.shuffle_write_bytes"] += s.shuffleWriteBytes()
                    c["exec.shuffle_read_bytes"] += s.shuffleReadBytes()
                    c["exec.fetch_wait_s"] += s.shuffleFetchWaitTime() / 1e3
                    c["exec.spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
                    c["exec.input_records"] += s.inputRecords()
        for df in self._frames:
            qe = df._jdf.queryExecution()
            it = qe.tracker().phases().iterator()
            while it.hasNext():
                kv = it.next()
                c[f"catalyst.{kv._1()}_ms"] += kv._2().durationMs()
            _walk_plan(qe.executedPlan(), c)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, **extra}, fh, indent=1)


def _walk_plan(node, c: Counter) -> None:
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return _walk_plan(node.executedPlan(), c)
    if cls.endswith("QueryStageExec"):
        return _walk_plan(node.plan(), c)
    name = node.nodeName()
    if name.startswith("ReusedExchange"):
        return  # its metrics belong to the exchange it reuses
    vals = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        m = kv._2()
        vals[kv._1()] = m.value() / 1e6 if m.metricType() == "nsTiming" else m.value()
    if name.startswith("Exchange"):
        c["operators.exchanges"] += 1
    if cls.endswith("ScanExec") or name.startswith("Scan"):
        c["operators.scan_rows"] += vals.get("numOutputRows", 0)
    if any(p in cls for p in _PYTHON_NODES):
        c["operators.python_rows"] += vals.get("numOutputRows", 0)
    for key, out in _OPERATOR_TIMES.items():
        c[out] += vals.get(key, 0)
    it = node.children().iterator()
    while it.hasNext():
        _walk_plan(it.next(), c)


def self_times(spans: list[dict]) -> dict[int, dict[str, float]]:
    """Per op id, each span's duration minus the part its children
    cover. Children of one op never overlap, so a root's self time is
    its duration minus the children's sum."""
    out: dict[int, dict[str, float]] = {}
    for s in spans:
        d = out.setdefault(s["op_id"], {})
        dur = s["end"] - s["start"]
        key = "op" if s["parent"] is None else s["span"]
        d[key] = d.get(key, 0.0) + dur
    for d in out.values():
        d["op"] -= sum(v for k, v in d.items() if k != "op")
    return out
