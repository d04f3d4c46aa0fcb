"""End-to-end waterway-graph pipeline (reference build_graph :1433-1523).

``WaterwayEngine.build_graph(docs_df)`` runs:

  parse (S1) → assemble (J1) → clean+simplify (P2-P4, F4) →
  intersections (J5/F5/W1) → junctions (A1-A4) → snap map (J3/A7/A5) →
  edges (J2/W2/F1/F3/F7-F9/P5) → nodes (A6) → tiles (F14/A10)

Each stage can checkpoint to parquet keyed by the stage's parameter-subset
hash (reference cache semantics :1441-1515, :3048-3055) with per-partition
lineage manifests; reruns skip completed stages (plans.checkpoint).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from ..config import EngineConfig
from ..operators.assemble import assemble_clean_simplify
from ..operators.cluster import snap_map
from ..operators.edges import build_edges, build_nodes, clustering_domain_fast
from ..operators.geometry_ops import detect_intersections, insert_intersections
from ..operators.tiles import channel_density_rollup, with_edge_cells, with_node_cells
from ..sources.parse import nodes_from_parsed, parse_osm, ways_from_parsed


def _parquet_max_abs(path: Optional[str], col: str, max_files: int = 256) -> Optional[float]:
    """max(|col|) from parquet row-group footer statistics — a driver-side
    metadata read that replaces a full Spark aggregation job when a stage
    just materialized to parquet. Returns None (caller falls back to the
    distributed agg) when no path/stats are available, or when the directory
    holds more than ``max_files`` files: footer stats of a *sample* are not
    an upper bound, so past the cap the driver does zero footer I/O rather
    than loop over 10⁵+ files."""
    if not path:
        return None
    import glob
    import os

    import pyarrow.parquet as pq

    mx: Optional[float] = None
    files = glob.glob(os.path.join(path, "*.parquet"))
    if not files or len(files) > max_files:
        return None
    for f in files:
        md = pq.read_metadata(f)
        if col not in md.schema.names:
            return None
        idx = md.schema.names.index(col)
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                return None
            m = max(abs(float(st.min)), abs(float(st.max)))
            mx = m if mx is None or m > mx else mx
    return mx


@dataclass
class GraphResult:
    nodes: DataFrame
    edges: DataFrame
    tile_rollup: DataFrame


class WaterwayEngine:
    def __init__(self, config: Optional[EngineConfig] = None, checkpointer=None):
        self.config = config or EngineConfig()
        self.checkpointer = checkpointer
        self._scratch: Optional[str] = None

    def _stage(self, name: str, df: DataFrame) -> DataFrame:
        import os
        import time

        t0 = time.time()
        if os.environ.get("OSMWWE_STAGE_TIMING") and self._t_prev_stage_end is not None:
            # time since the previous stage finished = driver-side plan
            # construction + any eager work run OUTSIDE stage timers (e.g.
            # snap_map's block-kernel localCheckpoint + violation probe)
            print(f"[gap] before {name}: {t0 - self._t_prev_stage_end:.2f}s", flush=True)
        # label every job this stage submits (shows in the UI and the event
        # log's job/stage Properties) so per-stage task time is attributable
        # in event-log analyzers — without it, 86% of a 400k-doc anchor's
        # task time keys to the generic "parquet at <unknown>" callsite
        sc = df.sparkSession.sparkContext
        prev_desc = sc.getLocalProperty("spark.job.description")
        sc.setLocalProperty("spark.job.description", f"stage-{name}")
        try:
            if self.checkpointer is not None:
                out = self.checkpointer.materialize(name, self.config, df)
                self._last_stage_path = os.path.join(
                    self.checkpointer._stage_dir(name, self.config), "data"
                )
            else:
                out = self._ephemeral_stage(name, df)
        finally:
            # restore the caller's description (ADVICE r5: resetting to None
            # clobbered any label an outer harness had set for its own jobs)
            sc.setLocalProperty("spark.job.description", prev_desc)
        if os.environ.get("OSMWWE_STAGE_TIMING"):
            print(f"[stage] {name}: {time.time() - t0:.2f}s", flush=True)
        self._t_prev_stage_end = time.time()
        return out

    _last_stage_path: Optional[str] = None  # parquet dir of the last _stage
    _t_prev_stage_end: Optional[float] = None  # OSMWWE_STAGE_TIMING gap attribution

    def _ephemeral_stage(self, name: str, df: DataFrame) -> DataFrame:
        """Materialize a stage boundary without the durable Checkpointer.

        Plan-truncation is mandatory either way: the pipeline's logical plan
        is deep, and every downstream action would re-analyze/optimize the
        whole accumulated tree on the driver (seconds per action).

        The boundary is a snappy-parquet round-trip in a scratch dir (tmpfs
        when spark.local.dir points there): columnar, serialized, OFF the
        GC's live set (docs/SCALE.md records why it replaced
        ``localCheckpoint``)."""
        import os
        import uuid

        spark = df.sparkSession
        if self._scratch is None:
            import atexit
            import shutil

            base = spark.conf.get("spark.local.dir", "/tmp")
            self._scratch = os.path.join(
                base.split(",")[0], f"osmwwe-stages-{uuid.uuid4().hex[:8]}"
            )
            # scratch may live on tmpfs (RAM): reclaim it at process exit
            atexit.register(shutil.rmtree, self._scratch, ignore_errors=True)
        path = os.path.join(self._scratch, name)
        # 8 MiB row groups: parquet scans split at row-group granularity, and
        # a stage written from a 16-partition shuffle with skewed/empty
        # partitions otherwise yields a handful of single-row-group files —
        # downstream scans then run 6-9 tasks and idle most cores of a
        # multi-core run in the last wave (round-5 event-log audit: stages
        # with 6 tasks at 0.26 utilization). 8 MiB also lets a scan split
        # mega-way row clusters (a 20k-vertex row is ~320 KB — a coarse row
        # group packs enough of them that one split dominates the stage).
        # Finer row groups cost ~nothing on scratch (snappy ratio unchanged
        # at this size) and restore scan parallelism no matter how few files
        # a stage produced.
        df.write.mode("overwrite").option(
            "parquet.block.size", str(8 * 1024 * 1024)
        ).parquet(path)
        self._last_stage_path = path
        return spark.read.parquet(path)

    def _covered_stage(self, simplified: DataFrame) -> DataFrame:
        """Materialize the covered-segment table once for the intersections
        stage (detect self-join sides + insert candidate join all scan it).

        Ephemeral scratch, never the durable Checkpointer: this is an
        exchange-grade internal artifact, not a resumable pipeline stage —
        checkpointing it would change the stage manifest surface. Each
        consumer's read is a pruned columnar scan (insert reads only
        (cell, way_id)), which is exactly the reuse Catalyst's
        ReusedExchange could not deliver across differently-pruned
        subtrees.

        ONE materialization: the resplit's three consumers (per-cell
        counts, kept branch, re-covered dense branch) re-run the inline
        scan+explode lineage — pure JVM codegen over the simplified
        parquet — inside a single write job. Round 5 materialized the raw
        cover first so those consumers could read it back, but the 12M-row
        raw parquet round-trip costs more than the recompute it saves
        (round-6 event-log A/B at 100k docs: 2313 → 1403 task-s per pass,
        -39%; guide §1.2 — recompute cheap narrow lineage rather than
        persist a wide intermediate)."""
        import os
        import time

        from ..operators.geometry_ops import _covered_for_join

        t0 = time.time()
        out = self._ephemeral_stage("covered", _covered_for_join(simplified, self.config))
        if os.environ.get("OSMWWE_STAGE_TIMING"):
            print(f"[stage] covered: {time.time() - t0:.2f}s", flush=True)
        # reset the gap timer so the next [gap] line measures plan
        # construction alone, not this stage's wall over again
        self._t_prev_stage_end = time.time()
        return out

    def _stages_concurrent(self, named: list[tuple[str, DataFrame]]) -> list[DataFrame]:
        """Materialize independent stages from concurrent driver threads so
        their Spark jobs overlap (the round-1 pipeline ran ~40 jobs strictly
        serially — the dominant anti-scaling cost). The durable-checkpoint
        path stays serial: resume semantics over one manifest dir are not
        worth racing."""
        if self.checkpointer is not None or len(named) == 1:
            return [self._stage(n, df) for n, df in named]
        from concurrent.futures import ThreadPoolExecutor

        def run(n: str, df: DataFrame) -> DataFrame:
            # distinct FAIR pool per concurrent stage: under FIFO the second
            # job's tasks only backfill the first job's idle slots; FAIR
            # interleaves them so neither stage's small tail serializes the
            # other (spark.scheduler.mode=FAIR set in spark_session)
            sc = df.sparkSession.sparkContext
            sc.setLocalProperty("spark.scheduler.pool", f"stage-{n}")
            try:
                return self._stage(n, df)
            finally:
                sc.setLocalProperty("spark.scheduler.pool", None)

        with ThreadPoolExecutor(len(named)) as pool:
            futs = [pool.submit(run, n, df) for n, df in named]
            return [f.result() for f in futs]

    def build_graph(self, docs: DataFrame, spark: Optional[SparkSession] = None) -> GraphResult:
        spark = spark or docs.sparkSession
        cfg = self.config
        if self._t_prev_stage_end is None:
            # arm the stage-gap timer at entry so the FIRST stage's [gap]
            # line attributes pipeline-start → first-job driver time too
            import time as _time

            self._t_prev_stage_end = _time.time()

        # ONE span scan parses nodes AND ways (union schema); it materializes
        # once and the assembly's three consumers (refs, tags, node coords)
        # read it back as cheap checkpoint-scan filters.
        parsed = self._stage("parsed", parse_osm(docs, cfg))
        # assembly + clean + simplify as ONE Arrow pass: the assembled
        # vertex arrays never round-trip JVM↔Python between kernels
        simplified = self._stage(
            "simplified",
            assemble_clean_simplify(
                ways_from_parsed(parsed, cfg), nodes_from_parsed(parsed), cfg
            ),
        )

        if cfg.enable_intersection_detection:
            # detect feeds insert lazily: insert's left join passes ways with
            # no candidate points through untouched, so the empty-point case
            # needs no isEmpty() driver probe. The covered-segment table is
            # materialized ONCE and fed to both operators: across the
            # composed plan Catalyst's column pruning otherwise builds a
            # second, narrower covered exchange and re-runs the whole
            # scan+explode lineage (round-5 profile: duplicate 52-CPU-s
            # build at 100k docs). Skipped when the intersections stage is
            # already checkpoint-complete (resume must not recompute it).
            covered = None
            if not (
                self.checkpointer is not None
                and self.checkpointer.is_complete("intersections", cfg)
            ):
                covered = self._covered_stage(simplified)
            points = detect_intersections(simplified, cfg, covered=covered)
            intersected = self._stage(
                "intersections",
                insert_intersections(simplified, points, cfg, covered=covered),
            )
        else:
            intersected = simplified

        # the snap domain is consumed 3× inside snap_map (max-lat bound, the
        # block kernel, the final mapping join) — materialize it once instead
        # of recomputing the vertex groupBy per consumer
        domain = self._stage("clustering_domain", clustering_domain_fast(intersected))
        # max|lat| only bounds the block-grid level (any upper bound gives a
        # coarser-or-equal, still-correct level) — read it from the domain
        # parquet footers driver-side instead of running a Spark agg job
        maxlat = _parquet_max_abs(self._last_stage_path, "lat")
        snap = self._stage(
            "clustering", snap_map(domain, cfg, spark, max_abs_lat=maxlat)
        )

        # edges and nodes are independent given (intersected, snap) — overlap
        edges, nodes = self._stages_concurrent(
            [("edges", build_edges(intersected, snap, cfg)), ("nodes", build_nodes(snap, cfg))]
        )

        nodes_t = with_node_cells(nodes, cfg)
        # `covering` already comes from build_edges' fused NumPy kernel
        edges_t = with_edge_cells(edges, cfg)
        if self.checkpointer is not None:
            # Iceberg-style final layout: nodes/edges land partitioned by
            # their coarsest tile cell, resumable at the tile-partition level
            # (north_rule; plans.checkpoint.materialize_partitioned skips
            # already-written <cell>= directories on re-run)
            pcol = f"cell_r{min(cfg.tile_resolutions)}"
            nodes_t = self.checkpointer.materialize_partitioned(
                "nodes_tiled", cfg, nodes_t, pcol
            )
            edges_t = self.checkpointer.materialize_partitioned(
                "edges_tiled", cfg, edges_t, pcol
            )
        # rollup stays lazy: one map-combinable groupBy over checkpointed
        # edges — a barrier here would serialize the tail for no reuse gain
        rollup = channel_density_rollup(edges_t, cfg)
        if self.checkpointer is not None:
            rollup = self._stage("tiles", rollup)
        return GraphResult(nodes=nodes_t, edges=edges_t, tile_rollup=rollup)


def spark_session(
    app: str = "osmwwe",
    master: str = "local[*]",
    shuffle_partitions: int = 32,
    extra: Optional[dict] = None,
) -> SparkSession:
    """Tuned session: AQE (coalesce + skew join), Arrow enabled."""
    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # large Arrow batches amortize the per-batch Python costs of the
        # mapInPandas kernels (parse joins each batch's span texts into one
        # ndjson blob — 4096-row batches meant ~2.8k blob+reader setups per
        # 100k docs); the BYTES cap (Spark 4.x) bounds worst-case batches on
        # tables whose rows are 20k-vertex mega-way arrays, which is what the
        # old conservative 4096-row cap was protecting against
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(64 * 1024 * 1024))
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
