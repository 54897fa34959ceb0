"""Counters from a Spark event log (``spark.eventLog.enabled``).

Jobs carry the job group the benchmark sets around each phase (``setup``,
``prepare``, ``untraced-<i>``, ``traced-<i>``), so task metrics and SQL metrics can be
summed per phase.  SQL metrics of Python evaluation nodes are found through
the plan info of each SQL execution (including adaptive re-plans) and summed
from the task accumulator updates.
"""

from __future__ import annotations

import glob
import json
import os
import statistics

PY_METRICS = {
    "time to start Python workers": "boot",
    "time to initialize Python workers": "init",
    "time to run Python workers": "total",
    "data sent to Python workers": "sent",
    "data returned from Python workers": "recv",
    "number of output rows": "rows",
}
_UNIT = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1.0, "sum": 1.0, "average": 1.0}


class EventLog:
    def __init__(self, log_dir: str):
        events = []
        for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
            if os.path.isfile(path):
                with open(path) as fh:
                    events.extend(json.loads(line) for line in fh if line.strip())
        self.job_group: dict[int, str] = {}
        self.stage_group: dict[int, str] = {}
        self.exec_group: dict[int, str] = {}
        self.plans: dict[int, list[dict]] = {}
        self.accum: dict[int, float] = {}
        self.tasks: list[tuple[str, dict]] = []
        self.stages_done: list[str] = []
        for e in events:
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                group = props.get("spark.jobGroup.id", "")
                self.job_group[e["Job ID"]] = group
                for sid in e.get("Stage IDs", []):
                    self.stage_group[sid] = group
                if "spark.sql.execution.id" in props:
                    self.exec_group.setdefault(int(props["spark.sql.execution.id"]), group)
            elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                self.plans.setdefault(e["executionId"], []).append(e["sparkPlanInfo"])
            elif kind == "SparkListenerTaskEnd":
                self.tasks.append((self.stage_group.get(e["Stage ID"], ""), e))
                for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                    try:
                        self.accum[acc["ID"]] = self.accum.get(acc["ID"], 0.0) + float(acc["Update"])
                    except (KeyError, TypeError, ValueError):
                        pass
            elif kind == "SparkListenerStageCompleted":
                self.stages_done.append(self.stage_group.get(e["Stage Info"]["Stage ID"], ""))

    def jobs(self, prefix: str) -> int:
        return sum(g.startswith(prefix) for g in self.job_group.values())

    def spark_metrics(self, prefix: str) -> dict:
        """Task-level totals over the jobs whose group starts with ``prefix``."""
        run = cpu = gc = sw = sr = spill = 0.0
        peak = 0.0
        durations = []
        failed = 0
        for group, e in self.tasks:
            if not group.startswith(prefix):
                continue
            info = e.get("Task Info") or {}
            m = e.get("Task Metrics") or {}
            durations.append((info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1e3)
            if info.get("Failed") or (e.get("Task End Reason") or {}).get("Reason") != "Success":
                failed += 1
            run += m.get("Executor Run Time", 0) / 1e3
            cpu += m.get("Executor CPU Time", 0) / 1e9
            gc += m.get("JVM GC Time", 0) / 1e3
            spill += m.get("Disk Bytes Spilled", 0)
            peak = max(peak, m.get("Peak Execution Memory", 0))
            w = m.get("Shuffle Write Metrics") or {}
            sw += w.get("Shuffle Bytes Written", 0)
            r = m.get("Shuffle Read Metrics") or {}
            sr += r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
        return {
            "jobs": self.jobs(prefix),
            "stages": sum(g.startswith(prefix) for g in self.stages_done),
            "tasks": len(durations),
            "executor_run_s": run,
            "executor_cpu_s": cpu,
            "gc_s": gc,
            "shuffle_write_mb": sw / 1e6,
            "shuffle_read_mb": sr / 1e6,
            "spill_mb": spill / 1e6,
            "peak_exec_mem_mb": peak / 1e6,
            "task_s_p50": statistics.median(durations) if durations else 0.0,
            "task_s_max": max(durations) if durations else 0.0,
            "failed_tasks": failed,
        }

    def _nodes(self, prefix: str):
        for ex, plans in self.plans.items():
            if not self.exec_group.get(ex, "").startswith(prefix):
                continue
            stack = list(plans)
            while stack:
                node = stack.pop()
                stack.extend(node.get("children", []))
                yield node

    def python_metrics(self, prefix: str) -> dict:
        """Python-node SQL metrics summed over the executions of ``prefix``
        (seconds, bytes and rows)."""
        out = {v: 0.0 for v in PY_METRICS.values()}
        out["nodes"] = 0
        seen: set[int] = set()
        for node in self._nodes(prefix):
            names = {m["name"] for m in node.get("metrics", [])}
            if "time to run Python workers" not in names:
                continue
            out["nodes"] += 1
            for m in node["metrics"]:
                key = PY_METRICS.get(m["name"])
                if key is None or m["accumulatorId"] in seen:
                    continue
                seen.add(m["accumulatorId"])
                out[key] += self.accum.get(m["accumulatorId"], 0.0) * _UNIT.get(
                    m.get("metricType", "sum"), 1.0)
        return out

    def rows_into(self, prefix: str, contains: str) -> float:
        """Rows entering the filters or joins whose condition contains
        ``contains``: the output rows of the nearest node on their first
        (probe) input that counts its rows."""
        total = 0.0
        seen: set[int] = set()
        for node in self._nodes(prefix):
            name = node.get("nodeName", "")
            if contains not in node.get("simpleString", "") or not (
                    name == "Filter" or "Join" in name):
                continue
            child = node["children"][0] if node.get("children") else None
            while child is not None:
                counted = [m["accumulatorId"] for m in child.get("metrics", [])
                           if m["name"] == "number of output rows"]
                if counted:
                    if counted[0] not in seen:
                        seen.add(counted[0])
                        total += self.accum.get(counted[0], 0.0)
                    break
                child = child["children"][0] if child.get("children") else None
        return total
