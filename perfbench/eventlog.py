"""Condense a Spark event log into one row of layer counters per job group.

A traced run tags every Spark job with a job group ``<op>|<phase>``
(``harness.JobGroups``) and writes the uncompressed event log. This module
reads the log back and sums, per group:

- scheduling: jobs, stages that ran tasks, tasks;
- JVM execution, from ``SparkListenerTaskEnd`` task metrics: run time, CPU
  time, GC time, shuffle fetch wait, shuffle bytes read and written, bytes
  spilled to disk;
- Python worker stages, from the SQL metrics of plan nodes that exchange
  data with Python workers (``MapInPandas``, ``FlatMapGroupsInPandas``,
  ``ArrowEvalPython`` ...): time running workers, time starting and
  initialising them, bytes sent and returned, rows returned;
- ``bhj_rows``: output rows of broadcast hash joins (in the pipeline these
  are the PIP candidates that enter the Python refine).

SQL metric updates arrive on task-end events as accumulator ids; the plan
trees in ``SQLExecutionStart`` / ``SQLAdaptiveExecutionUpdate`` events map
each id to its plan node and metric.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"

_PY_SENT = "data sent to Python workers"
# python SQL metric -> (row field, kind); kind picks the unit conversion
_PY_METRICS = {
    "time to run Python workers": ("python.run_s", "time"),
    "time to start Python workers": ("python.boot_init_s", "time"),
    "time to initialize Python workers": ("python.boot_init_s", "time"),
    _PY_SENT: ("python.bytes_sent", "count"),
    "data returned from Python workers": ("python.bytes_received", "count"),
    "number of output rows": ("python.rows_received", "count"),
}

FIELDS = (
    "jobs", "stages", "tasks",
    "jvm.run_s", "jvm.cpu_s", "jvm.gc_s", "jvm.fetch_wait_s",
    "jvm.shuffle_read_bytes", "jvm.shuffle_write_bytes", "jvm.spill_bytes",
    "python.run_s", "python.boot_init_s", "python.bytes_sent",
    "python.bytes_received", "python.rows_received",
    "bhj_rows",
)


def read_events(path: str) -> list[dict]:
    """Events of one uncompressed event-log file."""
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def find_logs(eventlog_dir: str) -> list[str]:
    """The application logs a traced run leaves in its directory."""
    logs = sorted(os.path.join(eventlog_dir, f) for f in os.listdir(eventlog_dir)
                  if not f.startswith(".") and not f.endswith(".inprogress"))
    if not logs:
        raise RuntimeError(f"no event log in {eventlog_dir}")
    return logs


def _sql_metric_map(events) -> dict[int, tuple[str, str, str, bool]]:
    """accumulator id -> (node name, metric name, metric type, python node)."""
    out: dict[int, tuple[str, str, str, bool]] = {}

    def walk(node):
        names = {m["name"] for m in node.get("metrics", ())}
        is_python = _PY_SENT in names
        for m in node.get("metrics", ()):
            out[int(m["accumulatorId"])] = (
                node["nodeName"], m["name"], m["metricType"], is_python)
        for child in node.get("children", ()):
            walk(child)

    for ev in events:
        if ev["Event"] in (_SQL_START, _SQL_AQE):
            walk(ev["sparkPlanInfo"])
    return out


def _seconds(value: float, metric_type: str) -> float:
    if metric_type == "nsTiming":
        return value / 1e9
    if metric_type == "timing":
        return value / 1e3
    raise ValueError(f"not a timing metric type: {metric_type}")


def condense(events: list[dict]) -> dict[str, dict]:
    """One row of ``FIELDS`` per job group; untagged jobs are dropped."""
    accs = _sql_metric_map(events)
    stage_group: dict[int, str] = {}
    rows: dict[str, dict] = defaultdict(lambda: dict.fromkeys(FIELDS, 0))
    ran_stages: dict[str, set] = defaultdict(set)

    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            rows[group]["jobs"] += 1
            for sid in ev["Stage IDs"]:
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"])
            if group is None:
                continue
            row = rows[group]
            row["tasks"] += 1
            ran_stages[group].add(ev["Stage ID"])
            tm = ev.get("Task Metrics") or {}
            if tm:
                sr = tm["Shuffle Read Metrics"]
                row["jvm.run_s"] += tm["Executor Run Time"] / 1e3
                row["jvm.cpu_s"] += tm["Executor CPU Time"] / 1e9
                row["jvm.gc_s"] += tm["JVM GC Time"] / 1e3
                row["jvm.fetch_wait_s"] += sr["Fetch Wait Time"] / 1e3
                row["jvm.shuffle_read_bytes"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                row["jvm.shuffle_write_bytes"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                row["jvm.spill_bytes"] += tm["Disk Bytes Spilled"]
            for acc in ev["Task Info"].get("Accumulables", ()):
                meta = accs.get(int(acc["ID"]))
                if meta is None or "Update" not in acc:
                    continue
                node, metric, mtype, is_python = meta
                update = float(acc["Update"])
                if is_python and metric in _PY_METRICS:
                    field, unit = _PY_METRICS[metric]
                    row[field] += _seconds(update, mtype) if unit == "time" else update
                elif node.startswith("BroadcastHashJoin") and metric == "number of output rows":
                    row["bhj_rows"] += update
    for group, stages in ran_stages.items():
        rows[group]["stages"] = len(stages)
    return dict(rows)


def condense_logs(eventlog_dir: str) -> dict[str, dict]:
    """Rows of every application log in the directory (a run's job group
    names are unique, so rows never collide)."""
    rows = {}
    for log in find_logs(eventlog_dir):
        rows.update(condense(read_events(log)))
    return rows


def op_row(rows: dict[str, dict], op: str) -> dict:
    """Fold an operation's ``construct`` and ``execute`` groups into one row:
    scheduling counts come from the timed action (``execute``), work
    counters from both phases."""
    empty = dict.fromkeys(FIELDS, 0)
    con = rows.get(f"{op}|construct", empty)
    exe = rows.get(f"{op}|execute", empty)
    row = {f: con[f] + exe[f] for f in FIELDS}
    for f in ("jobs", "stages", "tasks"):
        row[f] = exe[f]
    return row
