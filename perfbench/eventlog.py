"""Per-layer metrics from Spark's uncompressed JSON event log.

Each Spark job is credited to the repo module that started it:

1. ``callSite.short`` ("collect at .../feature_extractor_mbo_lob_spark/
   validation.py:31") names the file for actions run from Python;
2. jobs without one (DataFrame writes, ``count()``, parquet schema
   inference) are looked up in their SQL execution's ``details``;
3. when that holds only JVM frames, as it does on Spark 4.1, the job goes
   to the innermost benchmark span open when it (or its SQL execution) was
   submitted.

Task metrics are summed per job, so a layer's ``task_s`` is the executor
run time of the jobs credited to it.
"""

from __future__ import annotations

import json
import re
import statistics
from pathlib import Path

PKG_DIR = "feature_extractor_mbo_lob_spark/"
PY_METRICS = {
    "time to run Python workers": "python_run_s",
    "time to initialize Python workers": "python_init_s",
    "time to start Python workers": "python_boot_s",
    "data sent to Python workers": "python_bytes_sent",
}
# SQL metric types and the factor that turns them into seconds or bytes
_UNIT = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1.0}
_FILE = re.compile(r"(/[^\s:]+\.py):\d+")


def _collect_metric_types(plan: dict, out: dict[int, str]) -> None:
    for m in plan.get("metrics", ()):
        out[m["accumulatorId"]] = m["metricType"]
    for child in plan.get("children", ()):
        _collect_metric_types(child, out)


def load(log_dir: Path) -> list[dict]:
    """One dict per application log under ``log_dir``, in start order."""
    apps = []
    logs = (p for p in Path(log_dir).rglob("*")
            if p.is_file() and not p.name.startswith((".", "appstatus")))
    for path in sorted(logs):
        app = {"name": None, "start": 0.0, "jobs": {}, "stage_job": {},
               "stage_tasks": {}, "tasks": [], "sql": {}, "types": {}}
        with open(path) as fh:
            for line in fh:
                if line.strip():
                    _apply(app, json.loads(line))
        apps.append(app)
    return sorted(apps, key=lambda a: a["start"])


def _apply(app: dict, e: dict) -> None:
    kind = e["Event"]
    if kind == "SparkListenerApplicationStart":
        app["name"], app["start"] = e["App Name"], e["Timestamp"] / 1e3
    elif kind == "SparkListenerJobStart":
        props = e.get("Properties") or {}
        job = {"id": e["Job ID"], "submit": e["Submission Time"] / 1e3,
               "call_site": props.get("callSite.short"),
               "sql_id": props.get("spark.sql.execution.id")}
        app["jobs"][job["id"]] = job
        for sid in e["Stage IDs"]:
            app["stage_job"].setdefault(sid, job["id"])
    elif kind == "SparkListenerStageCompleted":
        info = e["Stage Info"]
        app["stage_tasks"][info["Stage ID"]] = info["Number of Tasks"]
    elif kind == "SparkListenerTaskEnd":
        app["tasks"].append(_task(e))
    elif kind.endswith("SQLExecutionStart"):
        app["sql"][str(e["executionId"])] = {"details": e.get("details", ""),
                                             "start": e["time"] / 1e3}
        _collect_metric_types(e["sparkPlanInfo"], app["types"])
    elif kind.endswith("SQLAdaptiveExecutionUpdate"):
        _collect_metric_types(e["sparkPlanInfo"], app["types"])


def _task(e: dict) -> dict:
    info, m = e["Task Info"], e.get("Task Metrics") or {}
    sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
    return {
        "stage": e["Stage ID"],
        "dur": (info["Finish Time"] - info["Launch Time"]) / 1e3,
        "task_s": m.get("Executor Run Time", 0) / 1e3,
        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1e3,
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "records_read": m.get("Input Metrics", {}).get("Records Read", 0),
        "py": [(a["ID"], PY_METRICS[a["Name"]], float(a.get("Update") or 0))
               for a in info.get("Accumulables", ()) if a.get("Name") in PY_METRICS],
    }


def _layer_of_path(path: str) -> str | None:
    if PKG_DIR in path:
        return path.split(PKG_DIR, 1)[1].split("/", 1)[0].removesuffix(".py")
    if "/jobs/" in path:
        return "jobs"
    return None


def _innermost(spans: list[dict], t: float) -> dict | None:
    inside = [s for s in spans if s["start"] <= t <= s["end"]]
    return max(inside, key=lambda s: s["start"], default=None)


def credit(app: dict, job: dict, spans: list[dict]) -> str:
    """The repo module (layer) a job is charged to; see the module doc."""
    for text in (job["call_site"], app["sql"].get(job["sql_id"], {}).get("details")):
        m = _FILE.search(text or "")
        layer = m and _layer_of_path(m.group(1))
        if layer:
            return layer
    t = app["sql"][job["sql_id"]]["start"] if job["sql_id"] in app["sql"] else job["submit"]
    span = _innermost(spans, t)
    return span["name"].split(".")[0] if span else "unattributed"


def summarize(apps: list[dict], spans: list[dict], t0: float, t1: float,
              input_rows: int) -> dict[str, float]:
    """Layer metrics for the jobs submitted in ``[t0, t1]``."""
    out: dict[str, float] = {}

    def add(key: str, value: float) -> None:
        out[key] = out.get(key, 0) + value

    build = [s for s in spans if s["name"] == "plans.build"]
    stage_durs: dict[tuple, list[float]] = {}
    for k in ("spark.jobs", "spark.stages", "spark.tasks", "sources.schema_jobs",
              "plans.eager_jobs", "spark.records_read"):
        out[k] = 0
    for a, app in enumerate(apps):
        jobs = {j: job for j, job in app["jobs"].items() if t0 <= job["submit"] <= t1}
        layer_of = {j: credit(app, job, spans) for j, job in jobs.items()}
        for j, job in jobs.items():
            layer = layer_of[j]
            add("spark.jobs", 1)
            add(f"{layer}.jobs", 1)
            if layer == "sources" and job["sql_id"] is None:
                add("sources.schema_jobs", 1)
            if any(s["start"] <= job["submit"] <= s["end"] for s in build):
                add("plans.eager_jobs", 1)
        for sid in app["stage_tasks"]:
            if app["stage_job"].get(sid) in jobs:
                add("spark.stages", 1)
        for t in app["tasks"]:
            j = app["stage_job"].get(t["stage"])
            if j not in jobs:
                continue
            add("spark.tasks", 1)
            add(f"{layer_of[j]}.task_s", t["task_s"])
            for k in ("task_s", "cpu_s", "gc_s", "shuffle_read_bytes",
                      "shuffle_write_bytes", "spill_bytes"):
                add(f"spark.{k}", t[k])
            add("spark.records_read", t["records_read"])
            for acc_id, name, update in t["py"]:
                add(f"spark.{name}", update * _UNIT.get(app["types"].get(acc_id), 1.0))
            stage_durs.setdefault((a, t["stage"]), []).append(t["dur"])
    skews = [max(d) / max(statistics.median(d), 1e-3)
             for d in stage_durs.values() if len(d) >= 4]
    out["spark.task_skew"] = max(skews, default=1.0)
    out["sources.read_amplification"] = out["spark.records_read"] / max(input_rows, 1)
    return out
