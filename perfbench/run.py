"""Closed-loop benchmark of ``WaterwayEngine.build_graph``.

Run from the repository root:

    python3 perfbench/run.py --workload graph_mixed --seed 1 --seconds 8 --trace 0

One process, one Spark session on ``local[<usable cpus>]``, one client: a
build starts only after the previous one has landed. A build counts as done
when nodes and edges are written by ``sinks.writers.save_parquet`` and the
``tile_rollup`` is written next to them. Inputs come from
``sources.docsgen`` seeded by ``--seed`` and are staged to parquet before
any timing; the engine only sees that parquet.

Per invocation:

1. set-up (``setup_s``): session start, input staging and one warm-up build
   of the same docs through the workload's path, landed and kept. On
   ``graph_resume`` that is the cold checkpointed build;
2. timed reps until ``--seconds`` have passed (at least one). On
   ``graph_resume`` each rep first deletes the tail stages from the
   checkpoint root and then resumes. Each rep is fingerprinted against the
   warm-up's result and against the value recorded in ``expected.json``
   for the workload and seed, then its output and stage scratch are
   removed;
3. once, outside every timed region: ``oracle.run_oracle`` parity of the
   warm-up's landed result. Every workload is small enough to be its own
   oracle prefix (the oracle is superlinear, about 3 s at 200 docs).

``peak_mem_mb`` is the build's peak JVM heap outside the eden pool (old
and survivor pools, peaks reset after a full GC just before the build)
plus the peak PSS of the Python workers.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` reruns the
same protocol with Spark's event log on and reports per-layer metrics
reduced from it (``eventlog.py``), and writes the spans and per-rep bucket
tables to ``.perfbench_out/``. The trace overhead is its
``plans.pipeline.traced_build_s`` against ``build_s`` of a ``--trace 0``
run. All scratch lives under ``.perfbench_work/`` in the checkout and is
removed on exit. The last stdout line is the result JSON; the line before
it is a report with the Spark conf, input sizes, per-rep host probes and
failure share.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
import uuid
from contextlib import contextmanager, nullcontext
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "osmwaterwayextractor_spark"
if not (ROOT / PACKAGE / "__init__.py").is_file():
    sys.exit(f"{PACKAGE} not found under {ROOT}: nothing to benchmark")
# the engine package, and scripts/host_probe.py for the host probes
sys.path[:0] = [str(ROOT), str(ROOT / "scripts")]

import checks  # noqa: E402
import eventlog  # noqa: E402
import probes  # noqa: E402
from host_probe import _read_steal  # noqa: E402  (steal, total) /proc/stat jiffies

# Docs per build. A build pays ~10 s of per-job overhead on 4 cores at any
# size, and each invocation adds a session start and a cold warm-up build,
# so one invocation fits one timed rep in about a minute; the sizes keep
# the whole result checkable by the oracle.
WORKLOADS = {
    "graph_mixed": {"docs": 150, "checkpoint": False},
    "graph_resume": {"docs": 150, "checkpoint": True},
}
# The generator's default puts a 2k-ref mega-way on every 200th doc from
# doc 200 on; every 100th puts one (doc 100) in the 150 docs, so the skewed
# ref-node join, chunked reassembly and dense-cell resplit run too.
MEGA_EVERY = 100
SHUFFLE_PARTITIONS = 4
DOC_FILES = 8  # staged input files, so the engine's first scan has 8 splits
# stages a resume must recompute after they are deleted, and stages it
# must read back from the checkpoint root instead
TAIL_STAGES = ("edges", "nodes", "edges_tiled", "nodes_tiled", "tiles")
RESUMED_STAGES = ("parsed", "simplified", "intersections", "clustering_domain", "clustering")
UPSTREAM_LAYERS = (
    "sources.parse",
    "operators.assemble",
    "operators.geometry_ops.covered",
    "operators.geometry_ops.intersections",
)
END_TO_END_UNITS = {
    "setup_s": "s",
    "build_s": "s",
    "edges_per_s": "1/s",
    "peak_mem_mb": "MB",
    "scratch_peak_mb": "MB",
}


# Reducer metrics left out of the result (they stay in the trace tables),
# because no change can show in them: no task spills at these sizes, parse
# and the writers run no shuffle of their own, and task GC time reads 0 ms
# in most layers (where it does not, it is one young collection that landed
# in whichever task was running).
UNREPORTED = {"gc_s", "spill_mb", "sources.parse.shuffle_read_mb", "sources.parse.shuffle_write_mb",
              "sinks.writers.shuffle_read_mb", "sinks.writers.shuffle_write_mb"}


def per_layer_units() -> dict[str, str]:
    units = {"wall_s": "s", "task_s": "s", "shuffle_read_mb": "MB",
             "shuffle_write_mb": "MB", "rows_out": "count", "jobs": "count"}
    out = {f"{layer}.{m}": units[m] for layer in eventlog.LAYERS for m in eventlog.METRICS
           if not {m, f"{layer}.{m}"} & UNREPORTED}
    out.update({
        "operators.cluster.eager_s": "s",
        "plans.pipeline.jobs": "count",
        "plans.pipeline.driver_idle_s": "s",
        "plans.pipeline.stage_scratch_mb": "MB",
        "plans.pipeline.unlabelled.task_s": "s",
        "plans.pipeline.traced_build_s": "s",
        "plans.checkpoint.stages_computed": "count",
        "plans.checkpoint.stages_resumed": "count",
        "plans.checkpoint.resume_hit_ratio": "ratio",
        "plans.checkpoint.write_mb": "MB",
        "plans.checkpoint.read_mb": "MB",
        "plans.checkpoint.resume_upstream_task_s": "s",
    })
    return out


class Tracer:
    """In-memory spans: (name, start, end, parent, run id), epoch seconds."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.run_id = ""

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None, "run_id": self.run_id}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def with_self_time(self) -> list[dict]:
        child_s = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        return [dict(s, self_s=s["end"] - s["start"] - c) for s, c in zip(self.spans, child_s)]


def median_and_tail(values: list[float]) -> dict:
    """Median, plus the highest percentile with >= 10 samples beyond it."""
    out = {"n": len(values), "median": statistics.median(values)}
    for pct in (99, 95, 90):
        if len(values) * (100 - pct) / 100 >= 10:
            out[f"p{pct}"] = statistics.quantiles(values, n=100)[pct - 1]
            break
    return out


def docs_params(seed: int):
    from osmwaterwayextractor_spark.sources.docsgen import DocsGenParams

    return DocsGenParams(seed=seed, mega_every=MEGA_EVERY)


def driver_memory() -> str:
    """An eighth of host RAM for the driver JVM, between 1 and 8 GiB: the
    inputs are small and the host is shared."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return f"{max(1024, min(8192, total_kb // (8 * 1024)))}m"


class Bench:
    def __init__(self, args: argparse.Namespace, work: Path):
        from osmwaterwayextractor_spark.config import EngineConfig

        self.name = args.workload
        self.workload = WORKLOADS[args.workload]
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.local_dir = str(work / "local")
        self.cfg = EngineConfig()
        self.params = docs_params(args.seed)
        self.tracer = Tracer()
        self.attempted = 0
        self.failures: list[str] = []
        self.reference: dict | None = None
        expected = json.loads((HERE / "expected.json").read_text())
        self.recorded = expected.get(self.name, {}).get(str(self.seed))
        self.ckpt_root = (
            os.path.join(self.local_dir, "checkpoints") if self.workload["checkpoint"] else None
        )
        self.spark = None
        self.jvm_pid = 0
        self.heap_pools: list = []

    # -- session -----------------------------------------------------------

    def start_session(self) -> None:
        from pyspark import SparkContext

        from osmwaterwayextractor_spark.plans.pipeline import spark_session

        tmp = self.work / "tmp"
        tmp.mkdir(parents=True)
        os.environ["TMPDIR"] = str(tmp)
        # Spark prefers this variable over spark.local.dir when it is set
        os.environ["SPARK_LOCAL_DIRS"] = self.local_dir
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
        )
        heap = driver_memory()
        extra = {
            "spark.driver.memory": heap,
            # a fixed heap size, so the collector's generation sizing does
            # not depend on how far the heap happened to grow
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{heap}",
            "spark.local.dir": self.local_dir,
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": str(self.trace).lower(),
        }
        if self.trace:
            (self.work / "eventlog").mkdir()
            extra.update({
                "spark.eventLog.dir": str(self.work / "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        cores = len(os.sched_getaffinity(0))
        self.spark = spark_session(
            app=f"perfbench-{self.name}", master=f"local[{cores}]",
            shuffle_partitions=SHUFFLE_PARTITIONS, extra=extra,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = SparkContext._gateway.proc.pid
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        self.heap_pools = [
            p for p in mf.getMemoryPoolMXBeans() if p.getType().name() == "HEAP"
        ]

    def stop_session(self) -> None:
        """Stop Spark, the gateway JVM and its Python workers, and wait."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        children = probes.descendants(os.getpid())
        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        self.heap_pools = []
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
        deadline = time.time() + 30
        while True:
            alive = [p for p in children if _alive(p)]
            if not alive:
                return
            if time.time() > deadline:
                for p in alive:
                    try:
                        os.kill(p, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
                deadline = time.time() + 30
            time.sleep(0.1)

    # -- phases ------------------------------------------------------------

    @contextmanager
    def step(self, name: str, label: str | None = None):
        """A span; with ``label``, Spark jobs submitted inside it carry the
        description ``bench:<workload>:<label>``."""
        with self.tracer.span(name) as rec:
            if label is None:
                yield rec
                return
            sc = self.spark.sparkContext
            prev = sc.getLocalProperty("spark.job.description")
            sc.setLocalProperty("spark.job.description", f"bench:{self.name}:{label}")
            try:
                yield rec
            finally:
                sc.setLocalProperty("spark.job.description", prev)

    @contextmanager
    def traced_boundaries(self):
        """Trace only: spans and labels at the pipeline's snap_map call and
        covered materialization, the two places that submit jobs outside any
        pipeline stage label."""
        from osmwaterwayextractor_spark.plans import pipeline

        orig_snap = pipeline.snap_map
        orig_covered = pipeline.WaterwayEngine._covered_stage

        def snap_map(*a, **kw):
            with self.step("operators.cluster.eager", "snap_map"):
                return orig_snap(*a, **kw)

        def covered_stage(engine, *a, **kw):
            with self.step("operators.geometry_ops.covered", "covered"):
                return orig_covered(engine, *a, **kw)

        pipeline.snap_map = snap_map
        pipeline.WaterwayEngine._covered_stage = covered_stage
        try:
            yield
        finally:
            pipeline.snap_map = orig_snap
            pipeline.WaterwayEngine._covered_stage = orig_covered

    # -- builds ------------------------------------------------------------

    def stage_docs(self, n_docs: int, path: str):
        """Generate docs [0, n_docs) in this process and stage them as
        parquet; the engine reads only that parquet."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq
        from osmwaterwayextractor_spark.sources.docsgen import generate_docs_pandas

        span = pa.struct([("kind", pa.string()), ("text", pa.string()),
                          ("media_ref", pa.string()), ("offset", pa.int32())])
        schema = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(span))])
        os.makedirs(path)
        for i, chunk in enumerate(np.array_split(np.arange(n_docs), DOC_FILES)):
            pdf = generate_docs_pandas(chunk, self.params)
            pq.write_table(pa.Table.from_pandas(pdf, schema=schema, preserve_index=False),
                           os.path.join(path, f"part-{i:02d}.parquet"))
        return self.spark.read.parquet(path)

    def build_and_land(self, phase: str, docs, out: str, ckpt_root: str | None):
        """Build the graph and land it; returns (seconds, checkpointer)."""
        from osmwaterwayextractor_spark.plans.checkpoint import Checkpointer
        from osmwaterwayextractor_spark.plans.pipeline import WaterwayEngine
        from osmwaterwayextractor_spark.sinks.writers import save_parquet

        t0 = time.perf_counter()
        with self.step(phase):
            ck = Checkpointer(self.spark, ckpt_root) if ckpt_root else None
            with self.step("build_graph", phase):
                g = WaterwayEngine(self.cfg, checkpointer=ck).build_graph(docs, self.spark)
            with self.step("land", "land"):
                save_parquet(g.nodes, g.edges, out)
            with self.step("rollup", "rollup"):
                g.tile_rollup.write.mode("overwrite").parquet(os.path.join(out, "tiles"))
        return time.perf_counter() - t0, ck

    def check(self, out: str) -> tuple[dict, list[str]]:
        """Fingerprint a landed result and list how it differs from the
        first landed result and from the recorded one."""
        fp = checks.fingerprint(out, self.cfg.tile_resolutions)
        errors = list(fp["errors"])
        if self.reference is None:
            self.reference = fp
        elif not checks.same_output(fp, self.reference):
            errors.append(f"fingerprint {fp} != first landed {self.reference}")
        if self.recorded is not None and not checks.same_output(fp, self.recorded):
            errors.append(f"fingerprint {fp} != recorded {self.recorded}")
        return fp, errors

    def rep(self, docs, tag: str, keep_output: bool = False) -> dict:
        """One closed-loop build to a landed result. With a checkpointer and
        a checkpoint root left by an earlier rep, the tail stages are deleted
        first and the build is a resume. Scratch is measured, then removed;
        the landed output too unless kept. The checkpoint root stays: the
        next rep resumes from it."""
        out = str(self.work / "out" / tag)
        ckpt = self.ckpt_root
        resuming = ckpt is not None and os.path.isdir(ckpt)
        ckpt_mb = 0.0
        if resuming:
            for stage in TAIL_STAGES:
                shutil.rmtree(os.path.join(ckpt, f"{stage}_{self.cfg.step_param_hash(stage)}"))
            ckpt_mb = probes.dir_mb(ckpt)
        # a driver GC lets Spark's context cleaner drop the previous
        # build's shuffle files and blocks before this one starts, and
        # leaves the heap at its live set before the peaks are reset
        self.spark._jvm.System.gc()
        time.sleep(1.0)
        stage_glob = os.path.join(self.local_dir, "osmwwe-stages-*")
        before = set(glob.glob(stage_glob))
        rec: dict = {"tag": tag, "host_alu_rate": probes.host_alu_rate()}
        ticks = _read_steal()
        self.tracer.run_id = tag
        rec["heap_live_mb"] = sum(p.getUsage().getUsed() for p in self.heap_pools) / 1e6
        for pool in self.heap_pools:
            pool.resetPeakUsage()
        with probes.PeakSampler(self.local_dir, self.jvm_pid) as sampler:
            rec["build_s"], ck = self.build_and_land(
                "resume" if resuming else "build", docs, out, ckpt)
        rec["steal_pct"] = probes.steal_pct(ticks, _read_steal())
        rec["heap_peak_mb"] = {
            p.getName(): p.getPeakUsage().getUsed() / 1e6 for p in self.heap_pools
        }
        rec["worker_pss_mb"] = sampler.peak_pss_mb
        # the eden pool fills to its capacity before every young collection,
        # so its peak is the collector's sizing, not the build's
        rec["peak_mem_mb"] = sampler.peak_pss_mb + sum(
            mb for name, mb in rec["heap_peak_mb"].items() if "Eden" not in name)
        rec["scratch_peak_mb"] = sampler.peak_scratch_mb
        new_stage_dirs = set(glob.glob(stage_glob)) - before
        rec["stage_scratch_mb"] = sum(probes.dir_mb(d) for d in new_stage_dirs)
        fp, errors = self.check(out)
        if ck is not None:
            actions = {e["stage"]: e["action"] for e in ck.events}
            rec["stages_computed"] = sum(a == "computed" for a in actions.values())
            rec["stages_resumed"] = sum(a == "resumed" for a in actions.values())
            rec["resume_hit_ratio"] = rec["stages_resumed"] / max(len(actions), 1)
            rec["checkpoint_write_mb"] = probes.dir_mb(ckpt) - ckpt_mb
            wrong = [s for s in RESUMED_STAGES if resuming and actions.get(s) != "resumed"]
            wrong += [s for s in TAIL_STAGES if actions.get(s) != "computed"]
            if wrong:
                errors.append(f"checkpoint actions wrong for {wrong}")
        self.attempted += 1
        if errors:  # one failed attempt, however many checks it failed
            self.failures.append(f"{tag}: {errors[:3]}")
        rec["edges"] = fp["n_edges"]
        rec["out"] = out
        for d in [None if keep_output else out, *new_stage_dirs]:
            if d:
                shutil.rmtree(d, ignore_errors=True)
        return rec

    def oracle_parity(self, landed: str) -> None:
        """Parity of a landed result with ``oracle.run_oracle`` on the same
        docs (every workload is small enough to be its own prefix)."""
        from osmwaterwayextractor_spark.sources.docsgen import generate_doc

        self.attempted += 1
        docs = [generate_doc(i, self.params) for i in range(self.workload["docs"])]
        bad = checks.oracle_mismatches(landed, docs, self.cfg)
        if bad:
            self.failures.append(f"oracle parity on {len(docs)} docs: {bad[:5]}")

    def input_sizes(self, docs_path: str, n_edges: int) -> dict:
        import pyarrow.parquet as pq

        spans = way_refs = 0
        for doc in pq.read_table(docs_path, columns=["spans"]).column("spans").to_pylist():
            spans += len(doc)
            way_refs += sum(len(json.loads(s["text"])["refs"]) for s in doc if s["kind"] == "osm_way")
        return {"docs": self.workload["docs"], "spans": spans, "way_refs": way_refs, "edges": n_edges}

    # -- protocol ----------------------------------------------------------

    def run(self) -> dict:
        t_setup = time.perf_counter()
        self.start_session()
        docs_path = str(self.work / "docs")
        try:
            docs = self.stage_docs(self.workload["docs"], docs_path)
            # the warm-up builds the same docs through the workload's path;
            # for a checkpointed workload it is the cold checkpointed build
            # that leaves the checkpoint root every timed rep resumes from
            warm = self.rep(docs, "warmup", keep_output=True)
            setup_s = time.perf_counter() - t_setup

            reps = []
            with self.traced_boundaries() if self.trace else nullcontext():
                t_window = time.perf_counter()
                n = 0
                while n == 0 or time.perf_counter() - t_window < self.seconds:
                    n += 1
                    try:
                        reps.append(self.rep(docs, f"rep{n}"))
                    except Exception:  # a failed build is counted, the loop goes on
                        self.attempted += 1
                        self.failures.append(f"rep{n}: {traceback.format_exc(limit=3)}")
            if not reps:
                raise RuntimeError(f"every timed rep failed: {self.failures}")
            self.oracle_parity(warm["out"])
            sizes = self.input_sizes(docs_path, reps[0]["edges"])
            conf = dict(self.spark.sparkContext.getConf().getAll())
        finally:
            self.stop_session()

        if self.trace:
            metrics = self.layer_metrics(reps)
            units = per_layer_units()
        else:
            metrics = self.end_to_end(reps, setup_s)
            units = END_TO_END_UNITS
        report = {
            "workload": self.name, "seed": self.seed, "trace": int(self.trace),
            "input": sizes, "spark_conf": conf, "fingerprint": self.reference,
            "fingerprint_recorded": self.recorded is not None,
            "failed_pct": 100.0 * len(self.failures) / max(self.attempted, 1),
            "failures": self.failures,
            "build_s": median_and_tail([r["build_s"] for r in reps]),
            "reps": [{k: v for k, v in r.items() if k != "out"} for r in reps],
        }
        print(json.dumps({"report": report}), flush=True)
        return {
            "correct": not self.failures,
            "attempted": self.attempted,
            "failed": len(self.failures),
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }

    def end_to_end(self, reps: list[dict], setup_s: float) -> dict:
        def med(key):
            return statistics.median(r[key] for r in reps)

        return {
            "setup_s": setup_s,
            "build_s": med("build_s"),
            "edges_per_s": statistics.median(r["edges"] / r["build_s"] for r in reps),
            "peak_mem_mb": med("peak_mem_mb"),
            "scratch_peak_mb": med("scratch_peak_mb"),
        }

    def layer_metrics(self, reps: list[dict]) -> dict:
        log = eventlog.load(glob.glob(str(self.work / "eventlog" / "*"))[0])
        spans = self.tracer.with_self_time()
        per_rep, tables = [], {}
        for r in reps:
            rep_spans = [s for s in spans if s["run_id"] == r["tag"]]
            phases = {s["name"]: (s["start"], s["end"]) for s in rep_spans if s["name"] in ("build", "resume")}
            red = eventlog.reduce(log, list(phases.values()))
            zero = dict.fromkeys(eventlog.METRICS, 0.0)
            m = {f"{layer}.{k}": red["buckets"].get(layer, zero)[k]
                 for layer in eventlog.LAYERS for k in eventlog.METRICS}
            m["operators.cluster.eager_s"] = sum(
                s["end"] - s["start"] for s in rep_spans if s["name"] == "operators.cluster.eager")
            m["plans.pipeline.jobs"] = sum(
                b["jobs"] for name, b in red["buckets"].items() if name != eventlog.OUTSIDE)
            m["plans.pipeline.driver_idle_s"] = sum(eventlog.driver_idle_s(log, w) for w in phases.values())
            m["plans.pipeline.stage_scratch_mb"] = r["stage_scratch_mb"]
            m["plans.pipeline.unlabelled.task_s"] = red["buckets"].get(eventlog.UNLABELLED, zero)["task_s"]
            m["plans.pipeline.traced_build_s"] = r["build_s"]
            m["plans.checkpoint.stages_computed"] = r.get("stages_computed", 0)
            m["plans.checkpoint.stages_resumed"] = r.get("stages_resumed", 0)
            m["plans.checkpoint.resume_hit_ratio"] = r.get("resume_hit_ratio", 0.0)
            m["plans.checkpoint.write_mb"] = r.get("checkpoint_write_mb", 0.0)
            tables[r["tag"]] = red["buckets"]
            # checkpoint reads and upstream work only mean something on a resume
            m["plans.checkpoint.read_mb"] = m["plans.checkpoint.resume_upstream_task_s"] = 0.0
            if "resume" in phases:
                m["plans.checkpoint.read_mb"] = sum(
                    b["read_mb"] for name, b in red["buckets"].items() if name != eventlog.OUTSIDE)
                m["plans.checkpoint.resume_upstream_task_s"] = sum(
                    red["buckets"].get(layer, zero)["task_s"] for layer in UPSTREAM_LAYERS)
            per_rep.append(m)
        out_dir = ROOT / ".perfbench_out"
        out_dir.mkdir(exist_ok=True)
        (out_dir / f"trace-{self.name}-seed{self.seed}.json").write_text(
            json.dumps({"spans": spans, "buckets": tables}, indent=1))
        return {k: statistics.median(m[k] for m in per_rep) for k in per_rep[0]}


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}"
    work.mkdir(parents=True)
    try:
        result = Bench(args, work).run()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:  # another run's scratch is still there
            pass
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
