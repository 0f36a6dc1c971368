"""Spans, Spark event-log reduction and the per-layer table.

Spans are recorded by the benchmark around its calls into the program's
public functions; nothing inside the program is instrumented. Spans are
kept in memory and written once, at the end of a leg.

The event log is Spark's own JSON-lines log (``spark.eventLog.enabled``,
uncompressed, not rolled). Every timed action runs under a job group named
after it, so stage and task metrics can be grouped per action.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder: name, start, end, parent and run id."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()


class NullTracer(Tracer):
    """Tracing off: spans cost one context-manager entry and are dropped."""

    @contextmanager
    def span(self, name: str, **attrs):
        yield {}


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def quantile(xs, q: float) -> float:
    """Nearest-rank quantile; 0 for an empty list."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    return xs[min(len(xs) - 1, max(0, math.ceil(q * len(xs)) - 1))]


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

def read_event_log(log_dir: str) -> list[dict]:
    """All events of the one application that logged into ``log_dir``."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)
             if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, "
                           f"found {len(files)}")
    with open(files[0]) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _plan_metric_ids(plan: dict, out: dict) -> None:
    """accumulatorId -> (node name, metric name, node description) over a
    plan-info tree."""
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = (plan.get("nodeName", ""), m["name"],
                                   plan.get("simpleString", ""))
    for child in plan.get("children", []):
        _plan_metric_ids(child, out)


def job_groups(events: list[dict]) -> dict[str, dict]:
    """Per job group: its stages' task metrics and SQL-metric updates.

    Returns ``{group: {"stages": {stage_id: stage}, "driver": [...]}}``
    where a stage carries ``wall_s`` and a list of ``tasks``; each task
    has ``run_ms``, ``cpu_ns``, ``spill``, shuffle counters and
    ``sql`` = {(node, metric): update} for the SQL metrics it reported.
    ``driver`` holds the driver-side SQL metrics of the group's queries
    (such as a file scan's "size of files read") as (node, metric,
    node description, value).
    """
    acc_names: dict[int, tuple[str, str, str]] = {}
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    driver_updates: dict[int, list] = {}
    groups: dict[str, dict] = {}
    for e in events:
        kind = e["Event"]
        if kind.endswith("SparkListenerSQLExecutionStart"):
            _plan_metric_ids(e["sparkPlanInfo"], acc_names)
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            _plan_metric_ids(e["sparkPlanInfo"], acc_names)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            # posted while the query plans, before its first job starts
            driver_updates.setdefault(e["executionId"], []).extend(
                (*acc_names[acc], value) for acc, value in e["accumUpdates"]
                if acc in acc_names)
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            g = props.get("spark.jobGroup.id")
            if g is None:
                continue
            groups.setdefault(g, {"stages": {}, "driver": []})
            if "spark.sql.execution.id" in props:
                exec_group[int(props["spark.sql.execution.id"])] = g
            for sid in e["Stage IDs"]:
                stage_group[sid] = g
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            g = stage_group.get(info["Stage ID"])
            if g is None or "Completion Time" not in info:
                continue
            st = groups[g]["stages"].setdefault(info["Stage ID"],
                                                {"tasks": []})
            st["wall_s"] = (info["Completion Time"]
                            - info["Submission Time"]) / 1000.0
            st["name"] = info["Stage Name"]
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(e["Stage ID"])
            if g is None or "Task Metrics" not in e:
                continue
            tm = e["Task Metrics"]
            sql = {}
            for a in e["Task Info"].get("Accumulables", []):
                name = acc_names.get(a.get("ID"))
                if name is not None and a.get("Update") is not None:
                    key = name[:2]
                    sql[key] = sql.get(key, 0) + int(a["Update"])
            st = groups[g]["stages"].setdefault(e["Stage ID"], {"tasks": []})
            st["tasks"].append({
                "run_ms": tm["Executor Run Time"],
                "cpu_ns": tm["Executor CPU Time"],
                "spill": tm["Disk Bytes Spilled"],
                "sh_write_bytes":
                    tm["Shuffle Write Metrics"]["Shuffle Bytes Written"],
                "sh_write_ns":
                    tm["Shuffle Write Metrics"]["Shuffle Write Time"],
                "sh_read_records":
                    tm["Shuffle Read Metrics"]["Total Records Read"],
                "sh_fetch_wait_ms":
                    tm["Shuffle Read Metrics"]["Fetch Wait Time"],
                "sql": sql,
            })
    for ex, g in exec_group.items():
        groups[g]["driver"] += driver_updates.get(ex, [])
    return groups


def _sql_sum(tasks, metric: str, node: str | None = None) -> int:
    return sum(v for t in tasks for (n, m), v in t["sql"].items()
               if m == metric and (node is None or node == n))


def files_read_mb(group: dict, part: str = "") -> float:
    """MB of files the group's scans read (the driver-side "size of
    files read"), counting only scans whose plan description contains
    ``part``. Task input metrics under-report parquet reads."""
    return sum(v for n, m, desc, v in group["driver"]
               if m == "size of files read" and part in desc) / 1e6


def stage_metrics(group: dict) -> dict:
    """``stage.*`` and ``task.max_over_median`` of one job group."""
    stages = list(group["stages"].values())
    tasks = [t for s in stages for t in s["tasks"]]
    widest = max(stages, key=lambda s: sum(t["run_ms"] for t in s["tasks"]),
                 default=None)
    runs = [t["run_ms"] for t in widest["tasks"]] if widest else []
    med = median(runs)
    return {
        "stage.n": len(stages),
        "stage.run_s": sum(t["run_ms"] for t in tasks) / 1e3,
        "stage.cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "stage.spill_mb": sum(t["spill"] for t in tasks) / 1e6,
        "stage.wall_s": sum(s.get("wall_s", 0.0) for s in stages),
        "stage.shuffle_mb": sum(t["sh_write_bytes"] for t in tasks) / 1e6,
        "task.max_over_median": (max(runs) / med) if med else 0.0,
    }


def extraction_metrics(group: dict, batch_rows: int) -> dict:
    """scan / exchange / arrow / pyworker metrics of one extraction job
    whose Python stage cuts Arrow batches of ``batch_rows`` rows."""
    stages = list(group["stages"].values())
    tasks = [t for s in stages for t in s["tasks"]]
    scan_tasks = [t for t in tasks
                  if any(m == "scan time" for _, m in t["sql"])]
    reduce_rows = [t["sh_read_records"] for s in stages for t in s["tasks"]
                   if t["sh_read_records"] > 0]
    py_tasks = [t for t in tasks
                if any(m == "data sent to Python workers" for _, m in t["sql"])]
    py_rows = [sum(v for (n, m), v in t["sql"].items()
                   if "Arrow" in n and m == "number of output rows")
               for t in py_tasks]
    wrote = sum(t["sh_write_bytes"] for t in tasks)
    med_rows = median(reduce_rows)
    return {
        "scan.s": _sql_sum(tasks, "scan time") / 1e3,
        "scan.splits": len(scan_tasks),
        "scan.mb": files_read_mb(group),
        "exchange.fired": 1 if wrote else 0,
        "exchange.write_mb": wrote / 1e6,
        "exchange.s": (sum(t["sh_write_ns"] for t in tasks) / 1e9
                       + sum(t["sh_fetch_wait_ms"] for t in tasks) / 1e3),
        "exchange.skew": (max(reduce_rows) / med_rows) if med_rows else 0.0,
        "arrow.to_python_mb":
            _sql_sum(py_tasks, "data sent to Python workers") / 1e6,
        "arrow.from_python_mb":
            _sql_sum(py_tasks, "data returned from Python workers") / 1e6,
        "arrow.batches": sum(math.ceil(r / batch_rows)
                             for r in py_rows),
        "pyworker.start_ms":
            float(_sql_sum(py_tasks, "time to start Python workers")),
        "pyworker.init_ms":
            float(_sql_sum(py_tasks, "time to initialize Python workers")),
        "pyworker.run_ms":
            float(_sql_sum(py_tasks, "time to run Python workers")),
        "pyworker.tasks": len(py_tasks),
        # executor time of the Python-stage tasks, minus any scan they ran
        "pyworker.task_s": (sum(t["run_ms"] for t in py_tasks)
                            - _sql_sum(py_tasks, "scan time")) / 1e3,
    }


def median_of(dicts: list[dict]) -> dict:
    """Key-wise median over per-iteration metric dicts."""
    keys = dicts[0].keys() if dicts else []
    return {k: median(d[k] for d in dicts) for k in keys}


def layer_table(job_s: float, rows: list[tuple[str, float]]) -> list[dict]:
    """Rows of (layer, seconds of the job's wall time), plus the part of
    ``job_s`` that no layer accounts for as its own ``unattributed`` row.
    """
    out = [{"layer": name, "s": s, "share": s / job_s if job_s else 0.0}
           for name, s in rows]
    rest = job_s - sum(s for _, s in rows)
    out.append({"layer": "unattributed", "s": rest,
                "share": rest / job_s if job_s else 0.0})
    return out
