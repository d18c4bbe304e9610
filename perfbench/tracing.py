"""Tracing machinery for the traced mode of ``run.py``.

Spans are recorded from the benchmark's own code around calls into the
engine's public functions. Layer self times come from cumulative
pipeline prefixes written to Spark's noop sink. Counts, shuffle bytes,
spill and Python time come from the final AQE plan's SQL metrics and
from the session's own event log.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

MB = 1 << 20


class Tracer:
    """In-memory spans: (name, start, end, parent) in seconds since the
    tracer was made; written out when the run ends."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter() - self.t0}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0

    @staticmethod
    def duration(rec: dict) -> float:
        return rec["end"] - rec["start"]


def noop_times(frames: dict, rounds: int = 2) -> dict[str, float]:
    """Fastest of ``rounds`` writes of each frame to Spark's noop sink
    (every column is computed, nothing is stored). Rounds interleave the
    frames, so JIT warm-up is spread over all of them alike."""
    best = {name: float("inf") for name in frames}
    for _ in range(rounds):
        for name, df in frames.items():
            t = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            best[name] = min(best[name], time.perf_counter() - t)
    return best


def gc_seconds(spark) -> float:
    """Total collection time of the driver JVM's garbage collectors."""
    beans = spark._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0


def _seq(s) -> list:
    it = s.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def plan_nodes(df) -> list[dict]:
    """Nodes of ``df``'s executed plan (the final plan under AQE), each
    once: query stages and reused exchanges are followed into the plan
    they wrap, and a subtree reached twice is listed once. Metric values
    keep Spark's units: ms for timing, ns for nsTiming, bytes for size."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    out, seen, todo = [], set(), [plan]
    while todo:
        n = todo.pop()
        metrics = {}
        for kv in _seq(n.metrics()):
            m = kv._2()
            metrics[kv._1()] = {"value": m.value(), "type": m.metricType(),
                                "id": m.id()}
        key = tuple(sorted(m["id"] for m in metrics.values())) or None
        if key is not None and key in seen:
            continue
        if key is not None:
            seen.add(key)
        name = n.nodeName()
        rec = {"name": name, "desc": n.simpleString(400), "metrics": metrics}
        if name == "Generate":
            rec["generated"] = [a.name() for a in _seq(n.generatorOutput())]
        out.append(rec)
        cls = n.getClass().getSimpleName()
        if cls.endswith("QueryStageExec"):
            todo.append(n.plan())
        elif cls == "ReusedExchangeExec":
            todo.append(n.child())
        else:
            todo.extend(_seq(n.children()))
    return out


def metric_sum(nodes: list[dict], node_name: str, metric: str) -> float:
    return sum(n["metrics"][metric]["value"] for n in nodes
               if n["name"] == node_name and metric in n["metrics"])


class EventLog:
    """The session's event log (uncompressed, one file), read after the
    session has stopped so every event is on disk."""

    SQL = "org.apache.spark.sql.execution.ui."

    def __init__(self, log_dir: str):
        files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)
                 if not f.startswith(".")]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, "
                               f"found {files}")
        with open(files[0]) as fh:
            self.events = [json.loads(line) for line in fh]
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: list[dict] = []
        self.executions: dict[int, dict] = {}
        for i, e in enumerate(self.events):
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                job = {"id": e["Job ID"], "start": e["Submission Time"],
                       "index": i, "group": props.get("spark.jobGroup.id"),
                       "execution": props.get("spark.sql.execution.id")}
                self.jobs[job["id"]] = job
                for s in e["Stage IDs"]:
                    self.stage_job[s] = job["id"]
            elif kind == "SparkListenerJobEnd":
                self.jobs[e["Job ID"]]["end"] = e["Completion Time"]
                self.jobs[e["Job ID"]]["end_index"] = i
            elif kind == "SparkListenerTaskEnd":
                self.tasks.append(e)
            elif kind == self.SQL + "SparkListenerSQLExecutionStart":
                self.executions[e["executionId"]] = {
                    "start": e["time"], "plan": e["physicalPlanDescription"]}
            elif kind == self.SQL + "SparkListenerSQLExecutionEnd":
                self.executions[e["executionId"]]["end"] = e["time"]

    def group_jobs(self, group: str) -> list[dict]:
        return [j for j in self.jobs.values() if j["group"] == group]

    def group_tasks(self, group: str) -> list[dict]:
        ids = {j["id"] for j in self.group_jobs(group)}
        return [t for t in self.tasks
                if self.stage_job.get(t["Stage ID"]) in ids]

    @staticmethod
    def task_metric(tasks: list[dict], name: str) -> float:
        return sum((t.get("Task Metrics") or {}).get(name, 0) for t in tasks)

    def group_executions(self, group: str) -> dict[int, dict]:
        ids = {int(j["execution"]) for j in self.group_jobs(group)
               if j["execution"] is not None}
        return {i: self.executions[i] for i in ids}

    def stages_with_accumulator(self, acc_id: int) -> set[int]:
        """Stages whose tasks updated the accumulator behind a SQL
        metric: maps a plan node to the stages that ran it."""
        return {t["Stage ID"] for t in self.tasks
                for a in t["Task Info"].get("Accumulables", [])
                if a.get("ID") == acc_id}

    def cached_bytes(self, group: str) -> int:
        """Largest size each persisted RDD block reached while the
        group's jobs ran, summed over blocks."""
        jobs = self.group_jobs(group)
        lo = min(j["index"] for j in jobs)
        hi = max(j.get("end_index", len(self.events)) for j in jobs)
        peak: dict[str, int] = {}
        for e in self.events[lo:hi + 1]:
            if e["Event"] != "SparkListenerBlockUpdated":
                continue
            info = e["Block Updated Info"]
            if not info["Block ID"].startswith("rdd_"):
                continue
            size = info["Memory Size"] + info["Disk Size"]
            peak[info["Block ID"]] = max(peak.get(info["Block ID"], 0), size)
        return sum(peak.values())


def spark_layer(log: EventLog, group: str, wall_s: float, cores: int,
                gc_s: float) -> dict[str, float]:
    """The spark.* per-layer metrics of one traced iteration."""
    tasks = log.group_tasks(group)
    task_s = log.task_metric(tasks, "Executor Run Time") / 1000.0
    spill = (log.task_metric(tasks, "Memory Bytes Spilled")
             + log.task_metric(tasks, "Disk Bytes Spilled"))
    return {"spark.task_s": task_s,
            "spark.core_busy": task_s / (wall_s * cores),
            "spark.gc_s": gc_s,
            "spark.spill_mb": spill / MB}
