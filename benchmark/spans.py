"""Spans around the benchmark's calls into the engine, credited with the
Spark work they caused.

A span records name, start, end (epoch seconds) and the span that caused
it. While a span is open its id is the Spark job group of the calling
thread. Spans stay in memory. After the session stops, ``credit`` reads the
Spark event log written into the run's private directory and hands each job
to a span: by its job group, or, for jobs the engine submits from its own
worker threads (which carry no group), to the innermost span open when the
job was submitted. Each span then holds its jobs (wall interval and
SQL plan) and their tasks' run time, CPU time, shuffle bytes, spill and
records; the output-row counts of the plans' nodes are kept per SQL
execution.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc, enabled: bool) -> None:
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(f"span-{sid}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(f"span-{self._stack[-1]}", self.spans[self._stack[-1]]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def credit(self, event_log_dir: str) -> None:
        """Attach the event log's job and task metrics to the spans."""
        for s in self.spans:
            s.update(jobs=[], run_ms=0.0, cpu_ms=0.0, shuffle_read=0, shuffle_write=0, spill=0, records=0)
        jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        sql_desc: dict[int, str] = {}
        # "number of output rows" accumulator of each plan node: id -> (execution, node name)
        row_metric: dict[int, tuple[int, str]] = {}
        acc_value: dict[int, int] = {}
        tasks: list[tuple[int, dict]] = []
        for name in os.listdir(event_log_dir):
            with open(os.path.join(event_log_dir, name)) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event", "")
                    if kind == "SparkListenerJobStart":
                        props = ev.get("Properties") or {}
                        sql = props.get("spark.sql.execution.id")
                        jobs[ev["Job ID"]] = {
                            "start": ev["Submission Time"] / 1000.0,
                            "end": None,
                            "group": props.get("spark.jobGroup.id"),
                            "sql": int(sql) if sql is not None else None,
                        }
                        for st in ev["Stage IDs"]:
                            stage_job[st] = ev["Job ID"]
                    elif kind == "SparkListenerJobEnd":
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                    elif kind == "SparkListenerTaskEnd":
                        tasks.append((ev["Stage ID"], ev.get("Task Metrics") or {}))
                    elif kind == "SparkListenerStageCompleted":
                        for acc in ev["Stage Info"].get("Accumulables", []):
                            if isinstance(acc.get("Value"), (int, str)) and str(acc["Value"]).isdigit():
                                acc_value[acc["ID"]] = max(acc_value.get(acc["ID"], 0), int(acc["Value"]))
                    elif kind.endswith("SparkListenerSQLExecutionStart"):
                        sql_desc[ev["executionId"]] = ev.get("physicalPlanDescription", "")
                        _row_metrics(ev["executionId"], ev.get("sparkPlanInfo"), row_metric)
                    elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                        _row_metrics(ev["executionId"], ev.get("sparkPlanInfo"), row_metric)
        owner: dict[int, dict] = {}
        for jid, job in jobs.items():
            span = None
            if job["group"] and job["group"].startswith("span-"):
                span = self.spans[int(job["group"][5:])]
            else:
                inside = [s for s in self.spans if s["start"] <= job["start"] <= (s["end"] or float("inf"))]
                span = max(inside, key=lambda s: s["start"]) if inside else None
            job["plan"] = sql_desc.get(job["sql"], "") if job["sql"] is not None else ""
            if span is None:
                continue
            owner[jid] = span
            span["jobs"].append(job)
        for stage, m in tasks:
            span = owner.get(stage_job.get(stage))
            if span is None:
                continue
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            span["run_ms"] += m.get("Executor Run Time", 0)
            span["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            span["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            span["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
            span["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            span["records"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
        self._jobs = list(jobs.values())
        self._rows: dict[tuple[int, str], int] = {}
        for acc, key in row_metric.items():
            self._rows[key] = self._rows.get(key, 0) + acc_value.get(acc, 0)

    def jobs_writing(self, path_part: str) -> list[tuple[float, float]]:
        """Wall intervals of the jobs whose SQL plan writes under ``path_part``."""
        return [(j["start"], j["end"] or j["start"]) for j in self._jobs if path_part in j["plan"]]

    def rows_out(self, span: dict, node: str) -> int:
        """Rows output by the plan nodes named ``node`` in the SQL
        executions of the span's jobs."""
        execs = {j["sql"] for j in span["jobs"] if j["sql"] is not None}
        return sum(self._rows.get((e, node), 0) for e in execs)

    def dump(self) -> list[dict]:
        out = []
        for s in self.spans:
            row = {k: v for k, v in s.items() if k != "jobs"}
            row["n_jobs"] = len(s.get("jobs", ()))
            out.append(row)
        return out


def _row_metrics(execution: int, node: dict | None, out: dict) -> None:
    if not node:
        return
    for m in node.get("metrics", []):
        if m.get("name") == "number of output rows":
            out[m["accumulatorId"]] = (execution, node.get("nodeName", ""))
    for child in node.get("children", []):
        _row_metrics(execution, child, out)


def intervals(jobs: list[dict], plan_part: str = "") -> list[tuple[float, float]]:
    """Wall intervals of the jobs whose SQL plan mentions ``plan_part``."""
    return [(j["start"], j["end"] or j["start"]) for j in jobs if plan_part in j["plan"]]


def exchanges(plan: str) -> int:
    """Exchange operators in the tree of a physical plan description."""
    tree = plan.split("\n\n", 1)[0]
    return sum(1 for line in tree.splitlines() if line.lstrip(" :+-").startswith("Exchange "))


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total
