"""Offline reader for Spark's JSON event log (no UI, no REST).

The benchmark sets a job group around each leg it runs; ``parse`` sums the
log's task, plan and SQL-execution records per job group:

* task metrics from every ``SparkListenerTaskEnd``: executor run and CPU
  time, GC time, shuffle bytes written, shuffle fetch wait, spill, input
  and output bytes, and the count of tasks that did not succeed;
* per plan node, the Python-worker SQL metrics (``PythonSQLMetrics``: data
  sent to and returned from Python workers, time to start and to run them),
  summed from task accumulator updates, and the file-scan size ("size of
  files read"), from driver accumulator updates. An update carries only an
  accumulator id; the node comes from the plan info of
  ``SparkListenerSQLExecutionStart`` and of every adaptive re-plan, which
  gives the node new accumulators;
* the wall time of each SQL execution, and whether it wrote files.
"""

from __future__ import annotations

import gzip
import json
from collections import Counter
from dataclasses import dataclass, field

NODE_METRICS = {
    "data sent to Python workers": "bytes_sent",
    "data returned from Python workers": "bytes_recv",
    "time to start Python workers": "boot_ms",
    "time to run Python workers": "run_ms",
    "size of files read": "files_read_bytes",
}
_SQL = "org.apache.spark.sql.execution.ui."


@dataclass
class Group:
    """Everything the log recorded for one job group."""

    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    task: Counter = field(default_factory=Counter)
    nodes: dict[str, Counter] = field(default_factory=dict)  # node -> metric
    executions: dict[int, dict] = field(default_factory=dict)  # id -> ms, write


def _task_metrics(m: dict) -> dict[str, int]:
    shuffle_read = m.get("Shuffle Read Metrics", {})
    shuffle_write = m.get("Shuffle Write Metrics", {})
    return {
        "run_ms": m.get("Executor Run Time", 0),
        "cpu_ns": m.get("Executor CPU Time", 0),
        "gc_ms": m.get("JVM GC Time", 0),
        "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "fetch_wait_ms": shuffle_read.get("Fetch Wait Time", 0),
        "shuffle_write_bytes": shuffle_write.get("Shuffle Bytes Written", 0),
        "input_bytes": m.get("Input Metrics", {}).get("Bytes Read", 0),
        "output_bytes": m.get("Output Metrics", {}).get("Bytes Written", 0),
    }


def _node_accumulators(plan: dict, out: dict[int, tuple[str, str]]) -> None:
    """accumulator id -> (node name, metric key) for every ``NODE_METRICS``."""
    for m in plan.get("metrics", []):
        key = NODE_METRICS.get(m["name"])
        if key is not None:
            out[m["accumulatorId"]] = (plan["nodeName"].strip(), key)
    for child in plan.get("children", []):
        _node_accumulators(child, out)


def _events(path: str):
    opener = gzip.open if path.endswith(".gz") else open
    with opener(path, "rt", encoding="utf-8") as fh:
        for line in fh:
            if line.strip():
                yield json.loads(line)


def parse(path: str) -> dict[str, Group]:
    """Job group (or, without one, job description) -> :class:`Group`."""
    groups: dict[str, Group] = {}
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    exec_start: dict[int, tuple[int, bool]] = {}
    accumulators: dict[int, tuple[str, str]] = {}
    driver_updates: list[tuple[int, int, int]] = []  # execution, accumulator, value
    for ev in _events(path):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            name = props.get("spark.jobGroup.id") or props.get("spark.job.description") or ""
            g = groups.setdefault(name, Group())
            g.jobs += 1
            for sid in ev["Stage IDs"]:
                stage_group.setdefault(sid, name)
            if "spark.sql.execution.id" in props:
                exec_group.setdefault(int(props["spark.sql.execution.id"]), name)
        elif kind == "SparkListenerTaskEnd":
            name = stage_group.get(ev["Stage ID"])
            if name is None:
                continue
            g = groups[name]
            g.tasks += 1
            if ev["Task End Reason"]["Reason"] != "Success":
                g.failed_tasks += 1
            g.task.update(_task_metrics(ev.get("Task Metrics") or {}))
            for acc in ev["Task Info"].get("Accumulables", []):
                hit = accumulators.get(acc["ID"])
                if hit is not None and "Update" in acc:
                    node, key = hit
                    g.nodes.setdefault(node, Counter())[key] += int(acc["Update"])
        elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                      _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            _node_accumulators(ev["sparkPlanInfo"], accumulators)
            if kind.endswith("Start"):
                root = ev["sparkPlanInfo"]["nodeName"]
                exec_start[ev["executionId"]] = (
                    ev["time"], "InsertIntoHadoopFsRelationCommand" in root
                )
        elif kind == _SQL + "SparkListenerSQLExecutionEnd":
            eid = ev["executionId"]
            name = exec_group.get(eid)
            if name is not None and eid in exec_start:
                start, write = exec_start[eid]
                groups[name].executions[eid] = {"ms": ev["time"] - start, "write": write}
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            driver_updates.extend((ev["executionId"], a, v) for a, v in ev["accumUpdates"])
    # a driver update can precede the first job of its execution
    for eid, acc, value in driver_updates:
        name, hit = exec_group.get(eid), accumulators.get(acc)
        if name is not None and hit is not None:
            node, key = hit
            groups[name].nodes.setdefault(node, Counter())[key] += int(value)
    return groups
