"""Benchmark harness — prints ONE JSON line.

Headline: the full waterway-graph pipeline (parse → assemble → simplify →
intersect → cluster → edges → nodes) over deterministic interleaved docs
scaled to the sf of $SPARK_GRAFT_SF_DIR, plus tile assignment/rollup and a
set of heavy relational/dedup/ANN queries on the sf tables.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default: the CPUs this process may run on),
     SPARK_GRAFT_DOCS (override doc count).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "scripts"))
from host_probe import _read_steal, _run_leg  # noqa: E402  (steal, total) jiffies


def host_probe_self(seconds: float = 2.0) -> dict:
    """Leg-adjacent host-capability probe for THIS process's cpuset.

    VERDICT r4 item 2: BENCH_r04-vs-r03 deltas were confounded by a host
    change (same code, >2x intra-session swings). Recording the same 3-s
    streaming-bandwidth probe the scaling legs use — on up to 4 cpus
    sampled evenly from this process's affinity mask — plus hypervisor
    steal around every rep makes round-over-round bench deltas
    host-attributable at a glance. Diagnostic only; never feeds timings."""
    try:
        cpus = sorted(os.sched_getaffinity(0))
        k = min(4, len(cpus))
        sample = [cpus[i * len(cpus) // k] for i in range(k)]
        agg = _run_leg("membw", sample, seconds) / 1e9
        return {
            "probe_cpus": sample,
            "membw_gbps": round(agg, 2),
            "membw_gbps_per_core": round(agg / k, 2),
        }
    except Exception:
        return {"probe_cpus": [], "membw_gbps": -1.0, "membw_gbps_per_core": -1.0}


def local_dir() -> str:
    """A fresh Spark scratch directory on tmpfs (a virtual disk's high and
    variable latency otherwise dominates small-stage wall time), removed
    when the process exits."""
    import atexit
    import shutil
    import tempfile

    path = tempfile.mkdtemp(prefix="osmwwe-bench-", dir="/dev/shm")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def driver_memory() -> str:
    """Half of the host's RAM (/proc/meminfo MemTotal), at most 48g."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return f"{min(total_kb // (2 * 1024), 48 * 1024)}m"


def build_session(cpus: int):
    from osmwaterwayextractor_spark.plans.pipeline import spark_session

    if os.environ.get("OSMWWE_EVENTLOG", "false") == "true":
        os.makedirs("/tmp/spark-events", exist_ok=True)
    extra = {
        "spark.eventLog.enabled": os.environ.get("OSMWWE_EVENTLOG", "false"),
        "spark.eventLog.dir": "/tmp/spark-events",
        "spark.eventLog.compress": "false",
        "spark.driver.memory": driver_memory(),
        "spark.sql.autoBroadcastJoinThreshold": "64MB",
        "spark.local.dir": local_dir(),
        # finer input splits: the pipeline's stage parquets are a handful of
        # files; at the default 128MB the covered/ways scans collapse to
        # 4-8 skewed tasks (mega-ways) that stall multi-core legs at ~0.2
        # utilization (round-5 event-log audit). 32MB measured 103.7 → 88.5 s
        # on the composed intersections stage at 4 pinned CPUs; a second
        # event-log pass still showed 6-9-task stages at 0.26-0.39 util
        # (one dense/mega-heavy split dominating a 3-wave stage), so splits
        # tightened to 8MB to match the stages' 8MB row groups. On a real
        # cluster this is a per-deployment knob.
        "spark.sql.files.maxPartitionBytes": "8m",
    }
    if os.environ.get("SPARK_GRAFT_BENCH_MODE") == "pipeline":
        # AQE's per-shuffle re-planning is serial driver latency (~20% of
        # pipeline wall measured at 50k docs); the pipeline carries its own
        # explicit skew defenses (salted assembly join, dense-cell re-split),
        # so the scaling runs disable it. Ad-hoc queries keep AQE.
        extra["spark.sql.adaptive.enabled"] = "false"
    # Shuffle partitions stay at max(cpus, 16) — measured on the 25k-doc
    # pipeline at 4 pinned CPUs: 16 partitions 117s, 64 partitions 170s,
    # 128 partitions 143s. Finer partitions do NOT fix the multi-core
    # efficiency gap (the load is not straggler-bound); they just multiply
    # the per-task Pandas-kernel and per-file costs. Env knob kept for
    # experiments.
    shuffle = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "0")) or max(cpus, 16)
    # ad-hoc conf overrides for controlled A/Bs (semicolon-separated k=v);
    # never set by the published protocol scripts
    for kv in os.environ.get("SPARK_GRAFT_EXTRA_CONF", "").split(";"):
        if "=" in kv:
            k, v = kv.split("=", 1)
            extra[k.strip()] = v.strip()
    return spark_session(
        app="osmwwe-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=shuffle,
        extra=extra,
    )


def shared_docs_usable(spark, shared: str, n_docs: int) -> bool:
    """A stale SPARK_GRAFT_DOCS_PATH (e.g. left over from a scaling session
    at a different doc count) must not silently mislabel throughput (ADVICE
    r4): accept the shared parquet only if it exists AND its row count
    matches the requested n_docs, else the caller regenerates."""
    if not (shared and os.path.isdir(shared)):
        return False
    shared_rows = spark.read.parquet(shared).count()
    if shared_rows != n_docs:
        print(
            f"[bench] SPARK_GRAFT_DOCS_PATH has {shared_rows} docs, "
            f"requested {n_docs} — regenerating",
            file=sys.stderr,
        )
        return False
    return True


def run_bench(
    spark, sf_dir: str, n_docs: int, reps: int, budget_sec: float | None = None
) -> dict:
    """Every measured section runs ``reps`` times as interleaved full passes
    and reports the BEST time per section (all runs kept in ``runs``): this
    host's throughput swings >2× over minutes, so single-run numbers are
    noise (BENCH r2's 10× agg_stats outlier on byte-identical code). Best
    per section is the standard jitter-robust estimator the scaling script
    already uses."""
    from pyspark.sql import functions as F

    from osmwaterwayextractor_spark import entry_queries as EQ
    from osmwaterwayextractor_spark.config import EngineConfig
    from osmwaterwayextractor_spark.operators.tiles import channel_density_rollup
    from osmwaterwayextractor_spark.plans.pipeline import WaterwayEngine
    from osmwaterwayextractor_spark.sinks.table_sink import ParquetTableSink
    from osmwaterwayextractor_spark.sources.docsgen import DocsGenParams, docs_dataframe

    runs: dict[str, list[float]] = {}

    def record(name: str, secs: float) -> None:
        runs.setdefault(name, []).append(secs)

    params = DocsGenParams(seed=42, mega_every=200, mega_refs=20000)
    # max_displacement_multiplier only arms the data-quality abort (snap map
    # content is identical); at ≥200k synthetic docs one ε-chain legitimately
    # exceeds the default 3× guardrail (measured: 21.9 m vs 18 m allowed).
    # The relaxation applies ONLY to those scale legs — smaller bench points
    # keep the default config so published numbers measure the default
    # clustering configuration (BENCH/BASELINE.md notes the delta).
    mult = 10.0 if n_docs >= 200_000 else 3.0
    cfg = EngineConfig(filter_waterway_types=False, max_displacement_multiplier=mult)

    # materialize the input once so generation isn't measured. Parquet in
    # the scratch dir (tmpfs), NOT .cache(): cached docs live as
    # DESERIALIZED JVM rows in the heap for the whole run — the GC
    # inflation of round 2's deserialized stage cuts (docs/SCALE.md; the
    # pipeline's cuts are serialized blocks now) — and at 10^12-doc scale
    # the input is a table scan, never executor storage.
    # SPARK_GRAFT_DOCS_PATH points at a
    # PRE-GENERATED docs parquet (the scaling session generates the
    # deterministic input once and shares it across all legs — input prep
    # is setup, not the measured job; the parquet is byte-identical to
    # what this block would write).
    t0 = time.time()
    shared = os.environ.get("SPARK_GRAFT_DOCS_PATH", "")
    if shared_docs_usable(spark, shared, n_docs):
        docs_path, owned = shared, False
    else:
        docs_path = os.path.join(
            spark.conf.get("spark.local.dir", "/tmp").split(",")[0], "bench-docs"
        )
        # through the stage-table writer: its row groups let the parse scan
        # split past the file count, as every stage table's scans do
        ParquetTableSink(docs_path).overwrite(docs_dataframe(spark, n_docs, params))
        owned = True
    docs = spark.read.parquet(docs_path)
    n_spans = docs.select(F.sum(F.size("spans"))).collect()[0][0]
    record("docs_generate", time.time() - t0)

    try:
        return _run_bench_body(
            spark, sf_dir, n_docs, reps, docs, n_spans, cfg, record, runs, budget_sec
        )
    finally:
        # the staged docs live on tmpfs (shared with shuffle spill) — at
        # large SPARK_GRAFT_DOCS leaving them resident steals RAM from the
        # rest of the run/host. Shared pre-generated input is the session
        # runner's to clean up, not ours.
        if owned:
            import shutil

            shutil.rmtree(docs_path, ignore_errors=True)


def _run_bench_body(
    spark, sf_dir, n_docs, reps, docs, n_spans, cfg, record, runs, budget_sec=None
) -> dict:
    import time

    from osmwaterwayextractor_spark import entry_queries as EQ
    from osmwaterwayextractor_spark.operators.tiles import channel_density_rollup
    from osmwaterwayextractor_spark.plans.pipeline import WaterwayEngine

    # relational / dedup / ANN headline queries on the sf tables
    # (SPARK_GRAFT_BENCH_MODE=pipeline skips them — used by scaling runs).
    # ORACLE_ONLY_QUERIES (exact all-pairs baselines) are never benchmarked.
    query_names = [] if os.environ.get("SPARK_GRAFT_BENCH_MODE") == "pipeline" else [
        "agg_stats",
        "salted_join",
        "multi_join",
        "epsilon_pairs",
        "knn_top1",
        "exact_dedup",
        "token_count",
        "langid",
        "lsh_ann",
        "minhash_pairs",
    ]
    assert not set(query_names) & set(EQ.ORACLE_ONLY_QUERIES)

    n_edges = 0
    host_reps: list[dict] = []
    t_body = time.time()
    for rep_i in range(max(1, reps)):
        # a budget bounds the big-anchor section so the driver bench can't
        # run away on a slow host: at least one rep always completes
        if rep_i > 0 and budget_sec and time.time() - t_body > budget_sec:
            break
        # host-capability attribution per rep (VERDICT r4 item 2): probe
        # runs BEFORE the rep's measured sections, never concurrent
        hp = host_probe_self()
        s0, tk0 = _read_steal()
        t_rep = time.time()
        t0 = time.time()
        g = WaterwayEngine(cfg).build_graph(docs, spark)
        # full-column materialization of the final edges table (cells +
        # covering) the way production lands it — noop sink computes every
        # column without the executor-storage serialization of .cache(),
        # which defeats column pruning and dominated the tail at low core
        # counts; the count itself then prunes to a metadata-cheap scan
        g.edges.write.format("noop").mode("overwrite").save()
        n_edges = g.edges.count()
        record("waterway_pipeline", time.time() - t0)

        t0 = time.time()
        rollup = channel_density_rollup(g.edges, cfg)
        rollup.count()
        record("tile_assign_rollup", time.time() - t0)

        for name in query_names:
            q = EQ.queries()[name]
            t0 = time.time()
            df = q(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            record(name, time.time() - t0)

        s1, tk1 = _read_steal()
        hp["steal_pct"] = round(100.0 * (s1 - s0) / max(tk1 - tk0, 1), 2)
        hp["rep_wall_sec"] = round(time.time() - t_rep, 2)
        host_reps.append(hp)

    best = {k: min(v) for k, v in runs.items()}
    pipeline_sec = best["waterway_pipeline"]
    return {
        "n_docs": n_docs,
        "n_spans": int(n_spans),
        "n_edges": int(n_edges),
        "edges_per_sec": n_edges / pipeline_sec if pipeline_sec > 0 else 0.0,
        "tile_assign_sec": best["tile_assign_rollup"],
        "timings": best,
        "runs": runs,
        # per-rep host capability (membw probe on this cpuset + hypervisor
        # steal over the rep) so cross-round deltas are attributable
        "host_reps": host_reps,
    }


def _eventlog_files(path: str) -> list[str]:
    """Resolve an event-log path to its line-JSON file(s). Spark 4 writes
    ROLLING v2 logs by default: a `eventlog_v2_<appId>/` DIRECTORY holding
    `events_<n>_<appId>` files plus an appstatus marker — a flat-file
    reader silently sees nothing. Accepts either layout."""
    if os.path.isfile(path):
        return [path]
    if os.path.isdir(path):
        evs = sorted(
            f for f in os.listdir(path) if f.startswith("events_")
        )
        return [os.path.join(path, f) for f in evs]
    return []


def _stage_task_times(eventlog_path: str) -> dict[str, float]:
    """Sum task run time (seconds) per stage NAME from a Spark event log.

    Task time is host-independent in a way wall time is not (VERDICT r4
    item 7): on a bandwidth-QoS'd VM wall swings >2x while the work done
    per stage stays put, so a true engine regression shows up here even
    when the host is noisy. Aggregating by stage name (callsite) makes the
    keys comparable across runs of the same code."""
    by_name: dict[str, float] = {}
    id_to_name: dict[tuple[int, int], str] = {}
    for fp in _eventlog_files(eventlog_path):
        with open(fp) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerStageSubmitted":
                    si = ev["Stage Info"]
                    # the pipeline runs each logical stage in its own FAIR
                    # scheduler pool (stage-parsed, stage-edges, ...), so the
                    # pool name splits the otherwise-generic callsite keys
                    # ("parquet at <unknown>" was 86% of anchor task time)
                    # into per-operator buckets the tripwire can diff
                    props = ev.get("Properties") or {}
                    label = props.get("spark.job.description") or props.get(
                        "spark.scheduler.pool", ""
                    )
                    name = si.get("Stage Name", "?")
                    id_to_name[(si["Stage ID"], si["Stage Attempt ID"])] = (
                        f"{label}|{name}" if label else name
                    )
                elif kind == "SparkListenerTaskEnd":
                    name = id_to_name.get((ev["Stage ID"], ev["Stage Attempt ID"]), "?")
                    tm = ev.get("Task Metrics") or {}
                    by_name[name] = by_name.get(name, 0.0) + tm.get(
                        "Executor Run Time", 0
                    ) / 1e3
    return by_name


def stage_tripwire(app_id: str, reps_run: int) -> dict:
    """Compare this anchor's per-stage task time against the committed
    baseline profile (BENCH/anchor_stage_times.json); write the new profile
    to BENCH/work/ (gitignored) — a run never rewrites the committed file.

    Returns {} on any failure — the tripwire is a diagnostic, never a
    reason for the bench to fail."""
    try:
        log_path = os.path.join("/tmp/spark-events", app_id)
        if not os.path.exists(log_path):
            # Spark 4 rolling (v2) layout: a directory named after the app
            log_path = os.path.join("/tmp/spark-events", f"eventlog_v2_{app_id}")
        if not os.path.exists(log_path):
            return {}
        cur_total = _stage_task_times(log_path)
        reps = max(1, reps_run)
        cur = {k: round(v / reps, 1) for k, v in cur_total.items()}
        # the baseline is committed; refreshing it is a deliberate copy of
        # BENCH/work/anchor_stage_times.json into BENCH/, reviewed like code
        bench_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH")
        prev_path = os.path.join(bench_dir, "anchor_stage_times.json")
        out_path = os.path.join(bench_dir, "work", "anchor_stage_times.json")
        deltas = {}
        if os.path.exists(prev_path):
            prev = json.load(open(prev_path))
            for name in sorted(
                set(cur) | set(prev.get("stage_task_sec", {})),
                key=lambda n: -max(
                    cur.get(n, 0.0), prev.get("stage_task_sec", {}).get(n, 0.0)
                ),
            )[:15]:
                deltas[name[:90]] = {
                    "prev_sec": prev.get("stage_task_sec", {}).get(name),
                    "cur_sec": cur.get(name),
                }
        os.makedirs(os.path.dirname(out_path), exist_ok=True)
        with open(out_path, "w") as f:
            json.dump(
                {"app_id": app_id, "reps_run": reps, "stage_task_sec": cur}, f, indent=1
            )
        top = dict(sorted(cur.items(), key=lambda kv: -kv[1])[:15])
        return {
            "stage_task_sec_top": {k[:90]: v for k, v in top.items()},
            "stage_task_sec_total": round(sum(cur.values()), 1),
            "stage_deltas_vs_prev_anchor": deltas,
        }
    except Exception as e:
        return {"stage_tripwire_error": str(e)[:200]}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else 0.1
    n_docs = int(os.environ.get("SPARK_GRAFT_DOCS", str(max(int(40000 * sf), 50))))

    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2"))
    spark = build_session(cpus)
    try:
        res = run_bench(spark, sf_dir, n_docs, reps)
    finally:
        spark.stop()

    # Second, less jitter-dominated anchor (VERDICT r3 item 7): a sf1-scale
    # pipeline point (400k docs ≈ 2M edges) at full core count, run with the
    # scaling protocol's pipeline config (fresh JVM, AQE off) so it is
    # directly comparable to BENCH/BASELINE.md. reps=2 under a wall budget —
    # the first rep always completes; the second is skipped only if the
    # budget is blown (the JSON records how many ran).
    anchor = None
    anchor_docs = int(os.environ.get("SPARK_GRAFT_BENCH_ANCHOR_DOCS", "400000"))
    if os.environ.get("SPARK_GRAFT_BENCH_MODE") != "pipeline" and anchor_docs > 0:
        os.environ["SPARK_GRAFT_BENCH_MODE"] = "pipeline"
        # VERDICT r4 item 5: the anchor is the primary round-over-round
        # comparison point — ≥3 reps (the r4 2-rep anchor had a 35% spread)
        # with per-rep host-capability probes attached.
        anchor_reps = int(os.environ.get("SPARK_GRAFT_BENCH_ANCHOR_REPS", "3"))
        budget = float(os.environ.get("SPARK_GRAFT_BENCH_ANCHOR_BUDGET", "2400"))
        # event-log the anchor so per-stage task time (host-independent,
        # unlike wall) can be diffed against the previous committed anchor
        # (VERDICT r4 item 7)
        prev_eventlog = os.environ.get("OSMWWE_EVENTLOG", "")
        os.environ["OSMWWE_EVENTLOG"] = "true"
        spark2 = build_session(cpus)
        app_id = spark2.sparkContext.applicationId
        try:
            a = run_bench(spark2, sf_dir, anchor_docs, anchor_reps, budget_sec=budget)
        finally:
            spark2.stop()
            os.environ["SPARK_GRAFT_BENCH_MODE"] = ""
            if prev_eventlog:
                os.environ["OSMWWE_EVENTLOG"] = prev_eventlog
            else:
                os.environ.pop("OSMWWE_EVENTLOG", None)
        anchor = {
            "n_docs": a["n_docs"],
            "cpus": cpus,
            "n_edges": a["n_edges"],
            "pipeline_sec": round(a["timings"]["waterway_pipeline"], 3),
            "edges_per_sec": round(a["edges_per_sec"], 2),
            "tile_assign_sec": round(a["tile_assign_sec"], 3),
            "reps_run": len(a["runs"]["waterway_pipeline"]),
            "runs": [round(x, 3) for x in a["runs"]["waterway_pipeline"]],
            "host_reps": a.get("host_reps", []),
        }
        anchor.update(stage_tripwire(app_id, anchor["reps_run"]))

    total = sum(res["timings"].values()) - res["timings"]["docs_generate"]
    out = {
        "metric": "waterway_pipeline_plus_queries_wall_sec",
        "value": round(total, 3),
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in res["timings"].items()},
        "sf": sf,
        "cpus": cpus,
        "n_docs": res["n_docs"],
        "n_spans": res["n_spans"],
        "n_edges": res["n_edges"],
        "edges_per_sec": round(res["edges_per_sec"], 2),
        "tile_assign_sec": round(res["tile_assign_sec"], 3),
        "reps": reps,
        "runs": {k: [round(x, 3) for x in v] for k, v in res["runs"].items()},
        "host_reps": res.get("host_reps", []),
    }
    if anchor is not None:
        out["anchor"] = anchor
    print(json.dumps(out))


if __name__ == "__main__":
    main()
