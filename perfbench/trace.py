"""Spans recorded around the benchmark's calls into each layer, and the
Spark event-log parser that splits each operator span's cluster work.

Spans live in memory and go into the run record when the run ends. Each
operator span runs under its own Spark job group (in a traced run), so
every task, stage and SQL plan node in the event log maps back to it.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Nested spans: (id, parent, name, start, end). ``groups=True`` tags
    the Spark jobs each operator span launches with a job group named
    after the span, so the event log can be split by operator."""

    def __init__(self, sc, groups: bool):
        self.sc = sc
        self.groups = groups
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, group: str | None = None, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        if group and self.groups:
            self.sc.setJobGroup(group, group)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group and self.groups:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def self_times(self) -> None:
        """Give every span its self time: duration minus the part of it
        its children cover."""
        child = defaultdict(float)
        for s in self.spans:
            s["dur"] = s["end"] - s["start"]
            if s["parent"] is not None:
                child[s["parent"]] += s["dur"]
        for s in self.spans:
            s["self"] = s["dur"] - child[s["id"]]


class EventLog:
    """Spark's event log for a window of a running application: an
    EventLoggingListener attached on enter and flushed and detached on
    exit, so untraced and traced passes share one warm SparkContext.
    Plain single-file JSON lines (this environment has no zstandard)."""

    def __init__(self, spark, log_dir: str):
        self.sc = spark.sparkContext
        self.log_dir = log_dir
        self.path = os.path.join(log_dir, self.sc.applicationId + "-trace")

    def __enter__(self):
        os.makedirs(self.log_dir, exist_ok=True)
        jsc, jvm = self.sc._jsc.sc(), self.sc._jvm
        conf = (jsc.conf().clone()
                .set("spark.eventLog.compress", "false")
                .set("spark.eventLog.rolling.enabled", "false"))
        self.listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            self.sc.applicationId + "-trace", jvm.scala.Option.empty(),
            jvm.java.net.URI("file://" + self.log_dir), conf, jsc.hadoopConfiguration())
        self.listener.start()
        jsc.addSparkListener(self.listener)
        return self

    def __exit__(self, *exc):
        bus = self.sc._jsc.sc().listenerBus()
        bus.waitUntilEmpty(60_000)
        bus.removeListener(self.listener)
        self.listener.stop()


# SQL metrics summed per job group, by the name Spark gives them
_PY_TIME = "time to run Python workers"
_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")


def _metric_value(update, mtype: str) -> float:
    v = float(update)
    if mtype == "nsTiming":
        return v / 1e9
    if mtype == "timing":
        return v / 1e3
    return v


def parse_event_log(path: str) -> dict[str, dict]:
    """Per job group: task CPU, GC, spill, shuffle fetch wait, shuffle
    bytes written, Python-worker run time and bytes (task-end events and
    their SQL metric updates), and ``nodes``: (depth, node name, output rows) for every
    node of the group's last SQL execution, from its final adaptive
    plan."""
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    acc_type: dict[int, str] = {}
    acc_sum: dict[int, float] = defaultdict(float)
    last_plan: dict[int, dict] = {}
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))

    def plan_metrics(node):
        for m in node.get("metrics", []):
            acc_type[m["accumulatorId"]] = m["metricType"]
        for ch in node.get("children", []):
            plan_metrics(ch)

    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                if g:
                    for s in e["Stage IDs"]:
                        stage_group[s] = g
            elif kind.endswith("SQLExecutionStart"):
                if e.get("jobGroupId"):
                    exec_group[e["executionId"]] = e["jobGroupId"]
                plan_metrics(e["sparkPlanInfo"])
                last_plan[e["executionId"]] = e["sparkPlanInfo"]
            elif kind.endswith("SQLAdaptiveExecutionUpdate"):
                plan_metrics(e["sparkPlanInfo"])
                last_plan[e["executionId"]] = e["sparkPlanInfo"]
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for aid, v in e["accumUpdates"]:
                    acc_sum[aid] += float(v)
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(e["Stage ID"])
                tm = e.get("Task Metrics")
                if g is None or tm is None:
                    continue
                o = out[g]
                o["task_cpu_s"] += tm["Executor CPU Time"] / 1e9
                o["gc_s"] += tm["JVM GC Time"] / 1e3
                o["spill_bytes"] += tm["Disk Bytes Spilled"]
                o["fetch_wait_s"] += tm["Shuffle Read Metrics"]["Fetch Wait Time"] / 1e3
                o["shuffle_bytes"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                for a in e["Task Info"].get("Accumulables", []):
                    if a.get("Metadata") != "sql" or "Update" not in a:
                        continue
                    acc_sum[a["ID"]] += float(a["Update"])
                    # by name, so Python stages under a cached plan count too
                    if a.get("Name") == _PY_TIME:
                        o["py_worker_s"] += _metric_value(a["Update"], acc_type.get(a["ID"],
                                                                                    "timing"))
                    elif a.get("Name") in _PY_BYTES:
                        o["py_bytes"] += float(a["Update"])

    def walk(node, depth, acc):
        rows = [m["accumulatorId"] for m in node.get("metrics", [])
                if m["name"] == "number of output rows"]
        if rows:
            acc.append((depth, node["nodeName"], acc_sum.get(rows[0], 0.0)))
        for ch in node.get("children", []):
            walk(ch, depth + 1, acc)
        return acc

    result = {g: dict(v) for g, v in out.items()}
    for g in result:
        eids = [eid for eid, eg in exec_group.items() if eg == g and eid in last_plan]
        result[g]["nodes"] = walk(last_plan[max(eids)], 0, []) if eids else []
    return result
