"""Per-layer metrics of a traced run.

Inputs: the op executions and spans the run recorded in memory, and
Spark's own event log (enabled from the benchmark's submit arguments,
uncompressed).  A job belongs to the operation whose wall-clock window
holds its submission time: the loop is closed with one client, so the
windows never overlap.  Stages and tasks follow their job.  Each metric is summed over the
operations of a pass and reported as the median over the warm passes,
unless its description in README.md says otherwise.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict

PY_TIME = "time to run Python workers"
PY_SENT = "data sent to Python workers"


def _num(v) -> float:
    """An accumulator update as a number (the event log writes SQL
    metric updates as strings)."""
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def read_event_log(event_dir: str) -> list[dict]:
    files = sorted(
        f for f in glob.glob(os.path.join(event_dir, "**", "*"), recursive=True)
        if os.path.isfile(f) and not os.path.basename(f).startswith("appstatus")
    )
    events = []
    for path in files:
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


class EventLog:
    def __init__(self, events: list[dict]):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.tasks: dict[int, list[dict]] = defaultdict(list)
        for e in events:
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                self.jobs[e["Job ID"]] = {
                    "submit": e["Submission Time"] / 1000.0,
                    "stages": [s["Stage ID"] for s in e.get("Stage Infos", [])],
                    "tags": props.get("spark.job.tags") or "",
                }
            elif kind == "SparkListenerJobEnd":
                self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                self.stages[info["Stage ID"]] = {
                    "submit": info.get("Submission Time", 0) / 1000.0,
                    "end": info.get("Completion Time", 0) / 1000.0,
                }
            elif kind == "SparkListenerTaskEnd":
                self.tasks[e["Stage ID"]].append(e)


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _op_layers(ex: dict, log: EventLog) -> dict:
    t0, t1 = ex["t0"], ex["t1"]
    jobs = [j for j in log.jobs.values() if t0 <= j["submit"] <= t1]
    stage_ids = {s for j in jobs for s in j["stages"] if s in log.stages}
    tasks = [t for s in stage_ids for t in log.tasks.get(s, [])]
    m = defaultdict(float)
    m["spark.jobs"] = len(jobs)
    m["spark.untagged_jobs"] = sum(
        1 for j in jobs if not any(t.endswith("-" + ex["tag"]) for t in j["tags"].split(","))
    )
    m["spark.stages"] = len(stage_ids)
    m["spark.tasks"] = len(tasks)
    after_mat = [j["submit"] for j in jobs if j["submit"] >= ex["t_mat"]]
    if after_mat:
        m["spark.pre_job_s"] = min(after_mat) - ex["t_mat"]
    busy = [(max(t0, j["submit"]), min(t1, j.get("end", t1))) for j in jobs]
    m["spark.job_gap_s"] = (t1 - t0) - _union_s([b for b in busy if b[1] > b[0]])
    task_wall = 0.0
    for t in tasks:
        tm = t.get("Task Metrics") or {}
        info = t["Task Info"]
        wall = (info["Finish Time"] - info["Launch Time"]) / 1000.0
        task_wall += wall
        run = tm.get("Executor Run Time", 0) / 1000.0
        deser = tm.get("Executor Deserialize Time", 0) / 1000.0
        ser = tm.get("Result Serialization Time", 0) / 1000.0
        fetch = info.get("Getting Result Time", 0) / 1000.0
        m["executor.run_s"] += run
        m["executor.deserialize_s"] += deser
        m["executor.sched_delay_s"] += max(0.0, wall - run - deser - ser - fetch)
        m["executor.cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        m["executor.gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
        sr = tm.get("Shuffle Read Metrics") or {}
        sw = tm.get("Shuffle Write Metrics") or {}
        m["shuffle.read_mb"] += (sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0)) / 1e6
        m["shuffle.fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1000.0
        m["shuffle.write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
        m["spill.mb"] += (tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)) / 1e6
        m["input.records"] += (tm.get("Input Metrics") or {}).get("Records Read", 0)
        for a in info.get("Accumulables", []):
            if a.get("Name") == PY_TIME:
                m["python.udf_s"] += _num(a.get("Update")) / 1000.0
            elif a.get("Name") == PY_SENT:
                m["python.sent_mb"] += _num(a.get("Update")) / 1e6
    m["_task_wall_s"] = task_wall
    m["_stage_wall_s"] = sum(log.stages[s]["end"] - log.stages[s]["submit"] for s in stage_ids)
    return m


# layer metrics summed over a pass's operations (median over warm passes)
PER_PASS_UNITS = {
    "spark.pre_job_s": "s",
    "spark.job_gap_s": "s",
    "spark.jobs": "count",
    "spark.untagged_jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "executor.deserialize_s": "s",
    "executor.sched_delay_s": "s",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "executor.gc_s": "s",
    "executor.core_util": "ratio",
    "shuffle.write_mb": "MB",
    "shuffle.read_mb": "MB",
    "shuffle.fetch_wait_s": "s",
    "spill.mb": "MB",
    "input.records": "count",
    "python.udf_s": "s",
    "python.sent_mb": "MB",
    "sources.zarrio.write_s": "s",
    "sources.zarrio.read_s": "s",
    "catalog.validate_s": "s",
}


_WIDTH = {"integer": 4, "float": 4, "short": 2, "byte": 1, "boolean": 1}


def store_stats(trip) -> dict:
    """Files, chunk files and bytes of the last store written, and the
    ratio of those bytes to the user data the store holds.  Runs one
    Spark job, so call it while the session is up."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    files = chunks = size = 0
    for dirpath, _, names in os.walk(trip.store):
        raster = os.sep + "images" + os.sep in dirpath + os.sep or os.sep + "labels" + os.sep in dirpath + os.sep
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
            if raster and not n.startswith(".") and n != "zarr.json":
                chunks += 1
    user = 0
    for name in ("points", "circles"):
        df = trip.ds[name]
        var = [f.name for f in df.schema.fields if isinstance(f.dataType, (T.StringType, T.BinaryType))]
        fixed = sum(_WIDTH.get(f.dataType.typeName(), 8) for f in df.schema.fields if f.name not in var)
        aggs = [F.count("*")] + [F.sum(F.length(c)) for c in var]
        row = df.agg(*aggs).first()
        user += row[0] * fixed + sum(v or 0 for v in row[1:])
    for meta in trip.raster_meta.values():
        user += meta.height * meta.width * 8
    return {"files": files, "chunks": chunks, "ratio": size / user}


def layer_metrics(rec, warm: list[list[dict]], cache: list, event_dir: str, cores: int, modules, store=None) -> dict:
    """Every per-layer metric, as ``{name: (value, unit)}``, from the
    warm passes' operation executions.  ``store`` is :func:`store_stats`
    of the zarr round trip, for a workload that has one.  Call after the
    session has stopped, so the event log is complete."""
    log = EventLog(read_event_log(event_dir))
    per_pass = []
    for p in warm:
        acc = defaultdict(float)
        for ex in p:
            if not ex["ok"]:
                continue
            for k, v in _op_layers(ex, log).items():
                acc[k] += v
            acc[f"{ex['module']}.construct_s"] += ex["construct_s"]
            if ex["op"] == "zarr.write":
                acc["sources.zarrio.write_s"] += ex["seconds"]
            elif ex["op"] == "zarr.read":
                acc["sources.zarrio.read_s"] += ex["seconds"]
            elif ex["op"] == "zarr.build":
                acc["catalog.validate_s"] += ex["seconds"]
        acc["executor.core_util"] = acc["_task_wall_s"] / (acc["_stage_wall_s"] * cores) if acc["_stage_wall_s"] else 0.0
        per_pass.append(acc)

    def med(key: str) -> float:
        return statistics.median(p.get(key, 0.0) for p in per_pass)

    setup = next(sp for sp in rec.spans if sp["layer"] == "setup" and sp["name"] == "session.get_spark")
    out = {"session.get_spark_s": (setup["t1"] - setup["t0"], "s")}
    out.update({f"{mod}.construct_s": (med(f"{mod}.construct_s"), "s") for mod in modules})
    out.update({key: (med(key), unit) for key, unit in PER_PASS_UNITS.items()})
    store = store or {"files": 0, "chunks": 0, "ratio": 0.0}
    out["sources.zarrio.chunks"] = (store["chunks"], "count")
    out["sources.zarrio.files"] = (store["files"], "count")
    out["sources.zarrio.store_bytes_ratio"] = (store["ratio"], "ratio")
    entries, mb = cache[-1]
    out["cache.entries"] = (entries, "count")
    out["cache.mb"] = (mb, "MB")
    return out
