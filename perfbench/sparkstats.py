"""Spark's own counters, read from outside the program (traced run only).

Each operation runs under its own job group. When it ends, the status
tracker gives the group's jobs, stages and tasks, and the SQL status
store gives the plan graph and metric values of every SQL execution
that ran one of those jobs. The status store keeps metric values as
display strings ("1,234", "64.1 MiB", "1.2 s"); sizes and times are
parsed back from them, so they carry three significant digits.
"""

from __future__ import annotations

import re
import time

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIMES = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^([0-9][0-9,]*(?:\.[0-9]+)?)(?: ([A-Za-z]+))?")
_JOIN_NODES = ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin", "BroadcastNestedLoopJoin", "CartesianProduct")


def parse_metric(text: str) -> float:
    """Total of one SQL metric display string, in base units (rows, bytes, seconds)."""
    lines = text.strip().splitlines()
    line = lines[1] if len(lines) > 1 and lines[0].startswith("total") else lines[0]
    m = _VALUE.match(line.strip())
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _UNITS:
        return value * _UNITS[unit]
    if unit in _TIMES:
        return value * _TIMES[unit]
    return value


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


class SparkCounters:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = spark._jsparkSession.sharedState().statusStore()
        self._before: dict[str, int] = {}

    def begin(self, group: str) -> None:
        self._before[group] = self.store.executionsCount()
        self.sc.setJobGroup(group, group)

    def end(self, group: str) -> dict[str, float]:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        tracker = self.sc.statusTracker()
        job_ids = set(tracker.getJobIdsForGroup(group))
        out = {"operators.jobs": float(len(job_ids))}
        stages: set[int] = set()
        deadline = time.monotonic() + 5.0
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            while info is not None and info.status == "RUNNING" and time.monotonic() < deadline:
                time.sleep(0.01)
                info = tracker.getJobInfo(jid)
            if info is not None:
                stages.update(int(s) for s in info.stageIds)
        tasks = failed = 0
        for sid in stages:
            si = tracker.getStageInfo(sid)
            if si is not None:
                tasks += si.numTasks
                failed += si.numFailedTasks
        out["operators.stages"] = float(len(stages))
        out["operators.tasks"] = float(tasks)
        out["operators.task_failures"] = float(failed)
        if job_ids:
            for name, value in self._sql_metrics(self._before.pop(group), job_ids).items():
                out[name] = out.get(name, 0.0) + value
        return out

    def _executions(self, start: int, job_ids: set[int]) -> list:
        deadline = time.monotonic() + 5.0
        while True:
            execs = [
                e
                for e in _seq(self.store.executionsList(max(0, start - 50), 10_000))
                if any(e.jobs().contains(j) for j in job_ids)
            ]
            if all(e.completionTime().isDefined() for e in execs) or time.monotonic() > deadline:
                return execs
            time.sleep(0.01)

    def _sql_metrics(self, start: int, job_ids: set[int]) -> dict[str, float]:
        from ops import PYTHON_NODE_METRICS
        from spotify_tags_etl_spark.plans.planmetrics import METRICS

        python_nodes = tuple(METRICS[k] for k in PYTHON_NODE_METRICS)
        out: dict[str, float] = {}

        def add(key: str, value: float) -> None:
            out[key] = out.get(key, 0.0) + value

        for e in self._executions(start, job_ids):
            eid = e.executionId()
            values = {}
            for pair in self.store.executionMetrics(eid).mkString("\u0001").split("\u0001"):
                if " -> " in pair:
                    k, v = pair.split(" -> ", 1)
                    values[int(k)] = v
            graph = self.store.planGraph(eid)
            nodes = {}
            for nd in _seq(graph.allNodes()):
                metrics = {}
                for m in re.findall(r"SQLPlanMetric\((.*?),(\d+),(\w+)\)", nd.metrics().mkString("|")):
                    if int(m[1]) in values:
                        metrics[m[0]] = parse_metric(values[int(m[1])])
                nodes[nd.id()] = (nd.name(), metrics)
            children: dict[int, list[int]] = {}
            for edge in re.findall(r"SparkPlanGraphEdge\((\d+),(\d+)\)", graph.edges().mkString("|")):
                children.setdefault(int(edge[1]), []).append(int(edge[0]))

            def rows_into(nid: int) -> float:
                rows = 0.0
                for c in children.get(nid, []):
                    cm = nodes.get(c, ("", {}))[1]
                    rows += cm["number of output rows"] if "number of output rows" in cm else rows_into(c)
                return rows

            for nid, (name, m) in nodes.items():
                if name.startswith("Scan"):
                    add("sources.scan_files", m.get("number of files read", 0.0))
                    add("sources.scan_bytes", m.get("size of files read", 0.0))
                    add("sources.scan_rows", m.get("number of output rows", 0.0))
                    add("sources.scan_metadata_s", m.get("metadata time", 0.0))
                add("operators.shuffle_write_bytes", m.get("shuffle bytes written", 0.0))
                add("operators.shuffle_records", m.get("shuffle records written", 0.0))
                add("operators.spill_bytes", m.get("spill size", 0.0))
                if "peak memory" in m:
                    out["operators.peak_exec_memory_bytes"] = max(
                        out.get("operators.peak_exec_memory_bytes", 0.0), m["peak memory"]
                    )
                if name.startswith(_JOIN_NODES):
                    add("operators.join_rows", m.get("number of output rows", 0.0))
                if name.startswith(python_nodes):
                    add("functions.python_rows_in", rows_into(nid))
                    add("functions.python_bytes_sent", m.get("data sent to Python workers", 0.0))
                    add("functions.python_bytes_returned", m.get("data returned from Python workers", 0.0))
        return out
