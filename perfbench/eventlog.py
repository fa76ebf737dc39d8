"""Read a Spark event log with the standard library only.

Takes an uncompressed log: a single file or a rolling
``eventlog_v2_*/events_N_*`` directory (``spark.eventLog.compress=false``;
Spark 4.1 otherwise writes zstd, which the standard library cannot
read).  ``summarize()`` sums, per job label and per physical node name:

* task count, executor run and CPU time, JVM GC time, shuffle read and
  write bytes, spill bytes (memory + disk) — from task-end metrics;
* every SQL metric of the plan nodes (Arrow Python worker times and
  bytes, scan bytes, output rows, ...) — from the accumulator updates
  of task ends and driver updates, matched to the plan nodes by
  accumulator id across the initial and all adaptive plan versions.

A job's label is its ``spark.job.description``.  A job without one
that writes a checkpoint table (``.../<table>/wave=K``) is labelled
``wave K / write_<table>``; any other is ``unlabelled``.  A stage is
credited to the label of the first job that ran it, and to every
operator scope its RDDs carry (so node sums overlap: a stage that holds
an ``Exchange`` and an ``ArrowEvalPython`` counts toward both).

Run as a script to print the summary of a log as JSON:
``python3 perfbench/eventlog.py <log dir or file>``.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from collections import defaultdict

TASK_FIELDS = (
    "tasks", "run_s", "cpu_s", "gc_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes",
)
_WRITE_PATH = re.compile(r"/(results|seen|frontier_delta|frontier)/wave=(\d+)")
_SQL = "org.apache.spark.sql.execution.ui."


def log_files(path: str) -> list[str]:
    """The log's files in write order."""
    if os.path.isfile(path):
        return [path]
    subdirs = sorted(glob.glob(os.path.join(path, "eventlog_v2_*")))
    if subdirs:
        path = subdirs[-1]
    parts = glob.glob(os.path.join(path, "events_*"))
    return sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))


def _events(path: str):
    for f in log_files(path):
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                # task starts and block updates are most of the log and
                # carry nothing summed here
                if line.startswith('{"Event":"SparkListenerTaskStart"'):
                    continue
                yield json.loads(line)


def _walk(plan: dict, out: dict) -> None:
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = {
            "node": plan["nodeName"].strip(),
            "desc": plan.get("simpleString", ""),
            "metric": m["name"],
            "type": m.get("metricType", "sum"),
        }
    for child in plan.get("children", []):
        _walk(child, out)


def _write_label(plan: dict) -> str | None:
    text = json.dumps(plan)
    m = _WRITE_PATH.search(text) if "InsertIntoHadoopFsRelationCommand" in text else None
    if m is None:
        return None
    table = "frontier" if m.group(1).startswith("frontier") else m.group(1)
    return f"wave {m.group(2)} / write_{table}"


class EventLog:
    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.stage_scopes: dict[int, set[str]] = defaultdict(set)
        self.stage_tasks: dict[int, dict] = defaultdict(lambda: dict.fromkeys(TASK_FIELDS, 0))
        self.accums: dict[int, dict] = {}
        self.accum_exec: dict[int, int] = {}
        self.accum_sum: dict[int, float] = defaultdict(float)
        self.exec_write_label: dict[int, str] = {}
        self.exec_desc: dict[int, str] = {}
        for ev in _events(path):
            self._on(ev)

    def _plan(self, exec_id: int, plan: dict) -> None:
        nodes: dict = {}
        _walk(plan, nodes)
        for acc in nodes:
            self.accum_exec.setdefault(acc, exec_id)
        self.accums.update(nodes)
        label = _write_label(plan)
        if label is not None:
            self.exec_write_label[exec_id] = label

    def _on(self, ev: dict) -> None:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            exec_id = props.get("spark.sql.execution.id")
            self.jobs[ev["Job ID"]] = {
                "desc": props.get("spark.job.description"),
                "exec": int(exec_id) if exec_id not in (None, "") else None,
            }
            for s in ev.get("Stage IDs", []):
                self.stage_job.setdefault(s, ev["Job ID"])
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            for rdd in info.get("RDD Info", []):
                scope = rdd.get("Scope")
                if scope:
                    self.stage_scopes[info["Stage ID"]].add(json.loads(scope)["name"].strip())
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            t = self.stage_tasks[ev["Stage ID"]]
            t["tasks"] += 1
            t["run_s"] += m.get("Executor Run Time", 0) / 1e3
            t["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sr = m.get("Shuffle Read Metrics") or {}
            t["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            t["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            t["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                # SQL metric updates are written as decimal strings; a
                # plan may be posted after its tasks ran (cached
                # relations), so ids are matched to nodes at the end
                if acc.get("Metadata") == "sql":
                    self.accum_sum[acc["ID"]] += float(acc.get("Update") or 0)
        elif kind == _SQL + "SparkListenerSQLExecutionStart":
            self.exec_desc[ev["executionId"]] = ev.get("description", "")
            self._plan(ev["executionId"], ev["sparkPlanInfo"])
        elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
            self._plan(ev["executionId"], ev["sparkPlanInfo"])
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            for acc, value in ev.get("accumUpdates", []):
                self.accum_sum[acc] += value

    # -- labels ------------------------------------------------------------------
    def job_label(self, job_id: int) -> str:
        job = self.jobs[job_id]
        if job["desc"]:
            return job["desc"]
        return self.exec_write_label.get(job["exec"], "unlabelled")

    def exec_label(self, exec_id: int) -> str:
        """Label of the first job of a SQL execution (or its write node)."""
        for jid in sorted(self.jobs):
            if self.jobs[jid]["exec"] == exec_id:
                return self.job_label(jid)
        return self.exec_write_label.get(exec_id) or self.exec_desc.get(exec_id) or "unlabelled"

    # -- summaries -----------------------------------------------------------------
    def by_label(self) -> dict[str, dict]:
        out: dict[str, dict] = defaultdict(lambda: dict.fromkeys(TASK_FIELDS + ("jobs",), 0))
        for jid in self.jobs:
            out[self.job_label(jid)]["jobs"] += 1
        for stage, tasks in self.stage_tasks.items():
            jid = self.stage_job.get(stage)
            label = self.job_label(jid) if jid is not None else "unlabelled"
            for k, v in tasks.items():
                out[label][k] += v
        return dict(out)

    def by_node(self) -> dict[str, dict]:
        out: dict[str, dict] = defaultdict(lambda: dict.fromkeys(TASK_FIELDS, 0))
        for stage, tasks in self.stage_tasks.items():
            for scope in self.stage_scopes.get(stage, ()):
                for k, v in tasks.items():
                    out[scope][k] += v
        return dict(out)

    def stage_rows(self) -> list[dict]:
        """One row per stage that ran tasks: label, scopes and sums."""
        rows = []
        for stage, tasks in self.stage_tasks.items():
            jid = self.stage_job.get(stage)
            rows.append({
                "stage": stage,
                "label": self.job_label(jid) if jid is not None else "unlabelled",
                "scopes": sorted(self.stage_scopes.get(stage, ())),
                **tasks,
            })
        return rows

    def sql_metrics(self) -> list[dict]:
        """One row per plan-node metric that received updates; times in
        seconds, sizes in bytes."""
        rows = []
        for acc, total in self.accum_sum.items():
            info = self.accums.get(acc)
            if info is None:
                continue
            scale = {"timing": 1e-3, "nsTiming": 1e-9}.get(info["type"], 1)
            exec_id = self.accum_exec.get(acc)
            rows.append({
                "label": self.exec_label(exec_id) if exec_id is not None else "unlabelled",
                "node": info["node"],
                "desc": info["desc"],
                "metric": info["metric"],
                "value": total * scale,
            })
        return rows

    def summarize(self) -> dict:
        nodes: dict[str, dict] = defaultdict(dict)
        for row in self.sql_metrics():
            cell = nodes[row["node"]]
            cell[row["metric"]] = cell.get(row["metric"], 0) + row["value"]
        return {
            "by_label": self.by_label(),
            "by_node": self.by_node(),
            "node_metrics": dict(nodes),
        }


if __name__ == "__main__":
    json.dump(EventLog(sys.argv[1]).summarize(), sys.stdout, indent=1, sort_keys=True)
    print()
