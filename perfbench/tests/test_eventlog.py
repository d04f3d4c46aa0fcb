"""Tests of the event-log reducer.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
The second test starts a local Spark session and runs two tiny
``graph_resume`` reps (the cold checkpointed build, then a resume after
the tail stages are removed) with the event log on, about a minute on four
cores.
"""

import argparse
import json
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import eventlog  # noqa: E402
import run  # noqa: E402

KNOWN = set(eventlog.LAYERS) | {eventlog.UNLABELLED, eventlog.OUTSIDE}


def _write_log(path: Path, events: list[dict]) -> None:
    path.write_text("".join(json.dumps(e) + "\n" for e in events))


def _job(jid, desc, submit_ms, end_ms, stages):
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": submit_ms,
         "Stage IDs": stages, "Properties": {"spark.job.description": desc} if desc else {}},
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": end_ms},
    ]


def _task(stage, launch_ms, finish_ms, run_ms):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": launch_ms, "Finish Time": finish_ms},
            "Task Metrics": {"Executor Run Time": run_ms, "JVM GC Time": 1,
                             "Output Metrics": {"Records Written": 3}}}


def test_reduce_synthetic_log(tmp_path):
    events = (
        _job(0, "stage-parsed", 1000, 3000, [0])
        + _job(1, "bench:w:build", 3000, 4000, [1])
        # job 2 lists stage 0 again (skipped): its tasks stay with job 0
        + _job(2, "stage-edges", 3500, 6000, [0, 2])
        + _job(3, None, 9000, 9500, [3])
        + [_task(0, 1000, 2000, 900), _task(1, 3000, 3500, 400), _task(2, 4500, 6000, 1400),
           _task(3, 9000, 9500, 500)]
    )
    _write_log(tmp_path / "log", events)
    log = eventlog.load(str(tmp_path / "log"))
    red = eventlog.reduce(log, [(0.5, 7.0)])
    assert red["job_buckets"] == {0: "sources.parse", 1: eventlog.UNLABELLED,
                                  2: "operators.edges.edges", 3: eventlog.OUTSIDE}
    b = red["buckets"]
    assert b["sources.parse"]["task_s"] == pytest.approx(0.9)
    assert b["operators.edges.edges"]["task_s"] == pytest.approx(1.4)
    assert b["operators.edges.edges"]["wall_s"] == pytest.approx(2.5)
    assert b["sources.parse"]["rows_out"] == 3
    # busy 1.0-2.0, 3.0-3.5, 4.5-6.0 inside 0.5-7.0
    assert eventlog.driver_idle_s(log, (0.5, 7.0)) == pytest.approx(6.5 - 3.0)


def test_reduce_tiny_resume_build(tmp_path, monkeypatch):
    monkeypatch.setitem(run.WORKLOADS, "graph_resume", {"docs": 30, "checkpoint": True})
    args = argparse.Namespace(workload="graph_resume", seed=5, seconds=0, trace=1)
    bench = run.Bench(args, tmp_path)
    bench.recorded = None  # recorded fingerprints are for the full-size docs
    bench.start_session()
    try:
        docs = bench.stage_docs(30, str(tmp_path / "docs"))
        with bench.traced_boundaries():
            cold = bench.rep(docs, "cold")
            resumed = bench.rep(docs, "resume")
    finally:
        bench.stop_session()
    assert not bench.failures
    assert cold["stages_resumed"] == 0
    assert resumed["stages_resumed"] == len(run.RESUMED_STAGES)

    log = eventlog.load(next((tmp_path / "eventlog").iterdir()).as_posix())
    phases = {s["name"]: (s["start"], s["end"]) for s in bench.tracer.spans
              if s["name"] in ("build", "resume")}
    red = eventlog.reduce(log, list(phases.values()))
    # every job in exactly one known bucket, every task counted once
    assert set(red["job_buckets"]) == set(log["jobs"])
    assert set(red["job_buckets"].values()) <= KNOWN
    total = sum(t["task_s"] for t in log["tasks"])
    assert sum(b["task_s"] for b in red["buckets"].values()) == pytest.approx(total)
    for layer in eventlog.LAYERS:
        assert red["buckets"][layer]["jobs"] >= 1, layer

    # the resume reads parse/assemble/geometry_ops back from the checkpoint
    # root: what is left there is the read-back's footer job, a few ms
    zero = {"task_s": 0.0}
    built = eventlog.reduce(log, [phases["build"]])["buckets"]
    back = eventlog.reduce(log, [phases["resume"]])["buckets"]
    upstream_built = sum(built.get(layer, zero)["task_s"] for layer in run.UPSTREAM_LAYERS)
    upstream_back = sum(back.get(layer, zero)["task_s"] for layer in run.UPSTREAM_LAYERS)
    assert upstream_back < 0.05 * upstream_built
    assert back["operators.edges.edges"]["task_s"] > 0
