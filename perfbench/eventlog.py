"""Reduce a Spark event log to per-layer buckets.

Every job is put in exactly one bucket by its ``spark.job.description``:

- ``stage-<name>``, set by the pipeline around each stage boundary, maps
  through ``STAGE_BUCKETS`` to the module that owns the stage;
- ``bench:<workload>:<phase>``, set by the benchmark around its calls into
  the engine, maps through ``PHASE_BUCKETS``; a job that keeps only the
  benchmark's ``build``/``resume`` label ran outside every pipeline label
  and lands in ``plans.pipeline.unlabelled``;
- a job submitted outside the given time windows (set-up, warm-up, checks)
  lands in ``bench.outside``.

A task belongs to the job that first listed its stage. Bucket metrics are
wall (union of job intervals), task, GC, shuffle, spill, rows written and
job count.
"""

from __future__ import annotations

import json
from collections import defaultdict

STAGE_BUCKETS = {
    "parsed": "sources.parse",
    "simplified": "operators.assemble",
    "covered": "operators.geometry_ops.covered",
    "intersections": "operators.geometry_ops.intersections",
    "clustering_domain": "operators.edges.clustering_domain",
    "clustering": "operators.cluster",
    "edges": "operators.edges.edges",
    "nodes": "operators.edges.nodes",
    "tiles": "operators.tiles",
}
PHASE_BUCKETS = {
    "covered": "operators.geometry_ops.covered",
    "snap_map": "operators.cluster",
    "land": "sinks.writers",
    "rollup": "operators.tiles",
}
LAYERS = (
    "sources.parse",
    "operators.assemble",
    "operators.geometry_ops.covered",
    "operators.geometry_ops.intersections",
    "operators.edges.clustering_domain",
    "operators.cluster",
    "operators.edges.edges",
    "operators.edges.nodes",
    "operators.tiles",
    "sinks.writers",
)
UNLABELLED = "plans.pipeline.unlabelled"
OUTSIDE = "bench.outside"
METRICS = (
    "wall_s",
    "task_s",
    "gc_s",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
    "rows_out",
    "jobs",
)


def bucket_of(description: str | None) -> str:
    if not description:
        return OUTSIDE
    if description.startswith("stage-"):
        return STAGE_BUCKETS.get(description[len("stage-") :], UNLABELLED)
    if description.startswith("bench:"):
        return PHASE_BUCKETS.get(description.rsplit(":", 1)[-1], UNLABELLED)
    return UNLABELLED


def load(path: str) -> dict:
    """{"jobs": {id: {desc, submit, end, stages}}, "tasks": [...]} from a
    single-file (non-rolling) event log, with times in epoch seconds and
    sizes in MB."""
    jobs: dict[int, dict] = {}
    tasks: list[dict] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "desc": props.get("spark.job.description"),
                    "submit": ev["Submission Time"] / 1e3,
                    "end": ev["Submission Time"] / 1e3,
                    "stages": ev["Stage IDs"],
                }
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerTaskEnd":
                info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                sr = tm.get("Shuffle Read Metrics") or {}
                sw = tm.get("Shuffle Write Metrics") or {}
                tasks.append(
                    {
                        "stage": ev["Stage ID"],
                        "launch": info["Launch Time"] / 1e3,
                        "finish": info["Finish Time"] / 1e3,
                        "task_s": tm.get("Executor Run Time", 0) / 1e3,
                        "gc_s": tm.get("JVM GC Time", 0) / 1e3,
                        "shuffle_read_mb": (
                            sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                        )
                        / 1e6,
                        "shuffle_write_mb": sw.get("Shuffle Bytes Written", 0) / 1e6,
                        "spill_mb": tm.get("Disk Bytes Spilled", 0) / 1e6,
                        "rows_out": (tm.get("Output Metrics") or {}).get("Records Written", 0),
                        "read_mb": (tm.get("Input Metrics") or {}).get("Bytes Read", 0) / 1e6,
                    }
                )
    return {"jobs": jobs, "tasks": tasks}


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, reach = 0.0, float("-inf")
    for start, end in sorted(intervals):
        if end > reach:
            total += end - max(start, reach)
            reach = end
    return total


def _inside(t: float, windows: list[tuple[float, float]]) -> bool:
    return any(start <= t <= end for start, end in windows)


def reduce(log: dict, windows: list[tuple[float, float]]) -> dict:
    """Bucket every job and task; ``windows`` are (start, end) epoch
    seconds of the timed regions whose jobs are attributed to layers."""
    job_bucket = {
        jid: bucket_of(j["desc"]) if _inside(j["submit"], windows) else OUTSIDE
        for jid, j in log["jobs"].items()
    }
    stage_job: dict[int, int] = {}
    for jid in sorted(log["jobs"]):
        for sid in log["jobs"][jid]["stages"]:
            stage_job.setdefault(sid, jid)

    buckets: dict[str, dict] = defaultdict(lambda: dict.fromkeys(METRICS + ("read_mb",), 0.0))
    intervals: dict[str, list] = defaultdict(list)
    for jid, name in job_bucket.items():
        buckets[name]["jobs"] += 1
        intervals[name].append((log["jobs"][jid]["submit"], log["jobs"][jid]["end"]))
    for t in log["tasks"]:
        name = job_bucket.get(stage_job.get(t["stage"]), OUTSIDE)
        b = buckets[name]
        for key in ("task_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "rows_out", "read_mb"):
            b[key] += t[key]
    for name, spans in intervals.items():
        buckets[name]["wall_s"] = _union_s(spans)
    return {"buckets": dict(buckets), "job_buckets": job_bucket}


def driver_idle_s(log: dict, window: tuple[float, float]) -> float:
    """Seconds of ``window`` during which no task was running."""
    start, end = window
    busy = [
        (max(t["launch"], start), min(t["finish"], end))
        for t in log["tasks"]
        if t["finish"] > start and t["launch"] < end
    ]
    return (end - start) - _union_s(busy)

