"""End-to-end waterway-graph pipeline (reference build_graph :1433-1523).

``WaterwayEngine.build_graph(docs_df)`` runs:

  parse (S1) → assemble (J1) → clean+simplify (P2-P4, F4) →
  intersections (J5/F5/W1) → junctions (A1-A4) → snap map (J3/A7/A5) →
  edges (J2/W2/F1/F3/F7-F9/P5) → nodes (A6) → tiles (F14/A10)

The stages and their parents are ``config.STAGES``: each builder takes its
parents' outputs. The build walks ``config.STAGE_WAVES``, the stages grouped
by their longest parent chain, and runs each wave's stages on concurrent
driver threads, so siblings (edges and nodes, then the tiled pair) overlap.
Each stage can checkpoint to parquet keyed by the stage's
parameter-subset hash (reference cache semantics :1441-1515, :3048-3055)
with per-partition lineage manifests; reruns skip completed stages
(plans.checkpoint). Those are the resume points. Without a checkpointer a
stage is cut in the block manager (``sinks.table_sink.block_cut``), which
writes no file.
"""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import dataclass
from typing import Callable, Optional

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.util import inheritable_thread_target

from ..config import STAGE_WAVES, STAGES, TILE_LAYOUT_STAGES, TILED_STAGES, EngineConfig
from ..operators.assemble import assemble_clean_simplify
from ..operators.cluster import snap_map
from ..operators.edges import build_edges, build_nodes, clustering_domain_fast
from ..operators.geometry_ops import detect_intersections, insert_intersections
from ..operators.tiles import (
    TILE_PART,
    channel_density_rollup,
    tile_part_col,
    with_edge_cells,
    with_node_cells,
)
from ..sinks.table_sink import block_cut
from ..sources.parse import nodes_from_parsed, parse_osm, ways_from_parsed


@contextmanager
def _stage_label(name: str):
    """Label every Spark job submitted inside with ``stage-<name>`` (shows in
    the UI and the event log's job Properties), so per-stage task time is
    attributable in event-log analyzers — without it, 86% of a 400k-doc
    anchor's task time keys to the generic "parquet at <unknown>" callsite.
    The caller's description is restored on exit, not reset to None, so a
    label an outer harness set for its own jobs survives."""
    sc = SparkContext.getOrCreate()
    prev = sc.getLocalProperty("spark.job.description")
    sc.setLocalProperty("spark.job.description", f"stage-{name}")
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", prev)


@dataclass
class GraphResult:
    nodes: DataFrame
    edges: DataFrame
    tile_rollup: DataFrame


class WaterwayEngine:
    def __init__(self, config: Optional[EngineConfig] = None, checkpointer=None):
        self.config = config or EngineConfig()
        self.checkpointer = checkpointer

    def _stage(
        self,
        name: str,
        build: Optional[Callable[..., DataFrame]],
        outs: dict[str, DataFrame],
    ) -> None:
        """Build and cut one stage under its label, and record its output in
        ``outs``.

        ``build`` takes the outputs of the stage's parents in ``STAGES``, in
        declared order, so a builder can read nothing the table does not
        declare. A stage whose ``build`` is ``None`` (intersections with
        detection off) is its one parent's output, never cut or
        checkpointed. ``build`` is called inside the label, so the eager
        jobs a builder runs (snap_map's cuts and violation probe, the
        covered cut) carry the stage's name. Without a checkpointer the cut
        is a ``block_cut``, and ``TILE_LAYOUT_STAGES`` stay lazy. A stage
        the checkpointer holds is read back without calling ``build``,
        except the tiled pair: it lands partitioned by ``TILE_PART`` (a
        coarse ancestor of its coarsest cell) and resumes per partition, so
        its builder, a cheap projection, is always called. The partition
        column is dropped from the read-back."""
        parents = [outs[p] for p in STAGES[name].parents]
        if build is None:
            (outs[name],) = parents
            return
        ck = self.checkpointer
        if ck is None and name in TILE_LAYOUT_STAGES:
            outs[name] = build(*parents)
            return
        with _stage_label(name):
            if ck is None:
                out = block_cut(build(*parents))
            elif name in TILED_STAGES:
                df = build(*parents).withColumn(TILE_PART, tile_part_col(self.config))
                cell = f"cell_r{min(self.config.tile_resolutions)}"
                out = ck.materialize_partitioned(
                    name, self.config, df, TILE_PART, sort_col=cell
                ).drop(TILE_PART)
            else:
                out = ck.materialize(name, self.config, lambda: build(*parents))
        outs[name] = out

    def _covered_stage(self, simplified: DataFrame) -> DataFrame:
        """Cut the covered-segment table once for the intersections stage
        (detect self-join sides + insert candidate join all scan it).

        A ``block_cut`` under the ``covered`` label, never the durable
        Checkpointer: this is an exchange-grade internal artifact, not a
        resumable pipeline stage — checkpointing it would change the stage
        manifest surface. Every consumer reads the one cut, which is the
        reuse Catalyst's ReusedExchange could not deliver across
        differently-pruned subtrees. It is the stage's only cut:
        ``geometry_ops._covered_raw`` says why the raw cover beneath it is
        recomputed instead."""
        from ..operators.geometry_ops import _covered_for_join

        with _stage_label("covered"):
            return block_cut(_covered_for_join(simplified, self.config))

    def _run_wave(
        self,
        spark: SparkSession,
        wave: tuple[str, ...],
        builders: dict[str, Optional[Callable[..., DataFrame]]],
        outs: dict[str, DataFrame],
    ) -> None:
        """Build one wave of ``STAGE_WAVES``, each stage on its own driver
        thread, so the Spark jobs of sibling stages overlap (the round-1
        pipeline ran ~40 jobs strictly serially — the dominant anti-scaling
        cost). With a checkpointer too: each stage writes its own directory
        and ``Checkpointer.events`` only appends."""
        from concurrent.futures import ThreadPoolExecutor

        def run(name: str) -> None:
            # a distinct FAIR pool per stage: under FIFO a sibling's tasks
            # only backfill the first job's idle slots; FAIR interleaves them
            # so neither stage's small tail serializes the other
            # (spark.scheduler.mode=FAIR set in spark_session)
            spark.sparkContext.setLocalProperty("spark.scheduler.pool", f"stage-{name}")
            self._stage(name, builders[name], outs)

        with ThreadPoolExecutor(len(wave)) as pool:
            # local properties do not follow a Python thread: each thread
            # starts from its own copy of the caller's, so its jobs join the
            # caller's job group (cancelling the group cancels the stage).
            # One copy per thread: siblings sharing one would overwrite each
            # other's label and pool
            futures = [pool.submit(inheritable_thread_target(spark)(run), name) for name in wave]
            for f in futures:
                f.result()

    def build_graph(self, docs: DataFrame, spark: Optional[SparkSession] = None) -> GraphResult:
        spark = spark or docs.sparkSession
        cfg = self.config

        def intersect(simplified: DataFrame) -> DataFrame:
            # detect feeds insert lazily: insert's left join passes ways with
            # no candidate points through untouched, so the empty-point case
            # needs no isEmpty() driver probe. The covered-segment table is
            # cut ONCE and fed to both operators: across the
            # composed plan Catalyst's column pruning otherwise builds a
            # second, narrower covered exchange and re-runs the whole
            # scan+explode lineage (round-5 profile: duplicate 52-CPU-s
            # build at 100k docs).
            covered = self._covered_stage(simplified)
            points = detect_intersections(simplified, cfg, covered=covered)
            return insert_intersections(simplified, points, cfg, covered=covered)

        # each stage's builder takes its STAGES parents' outputs
        builders: dict[str, Optional[Callable[..., DataFrame]]] = {
            # ONE span scan parses nodes AND ways (union schema); it
            # materializes once and the assembly's three consumers (refs,
            # tags, node coords) read it back as cheap checkpoint-scan filters
            "parsed": lambda: parse_osm(docs, cfg),
            # assembly + clean + simplify as ONE Arrow pass: the assembled
            # vertex arrays never round-trip JVM↔Python between kernels
            "simplified": lambda parsed: assemble_clean_simplify(
                ways_from_parsed(parsed, cfg), nodes_from_parsed(parsed), cfg
            ),
            "intersections": intersect if cfg.enable_intersection_detection else None,
            # the snap domain is consumed 3× inside snap_map (max-lat bound,
            # the block kernel, the final mapping join) — materialize it once
            # instead of recomputing the vertex groupBy per consumer
            "clustering_domain": clustering_domain_fast,
            "clustering": lambda domain: snap_map(domain, cfg, spark),
            "edges": lambda intersected, snap: build_edges(intersected, snap, cfg),
            "nodes": lambda snap: build_nodes(snap, cfg),
            # `covering` already comes from build_edges' fused NumPy kernel.
            # With a checkpointer the tiled pair lands Iceberg-style,
            # partitioned by a coarse ancestor cell and resumable per
            # partition (north_rule; plans.checkpoint.materialize_partitioned
            # skips already-written tile_part= directories on re-run)
            "nodes_tiled": lambda nodes: with_node_cells(nodes, cfg),
            "edges_tiled": lambda edges: with_edge_cells(edges, cfg),
            "tiles": lambda edges_t: channel_density_rollup(edges_t, cfg),
        }
        outs: dict[str, DataFrame] = {}
        for wave in STAGE_WAVES:
            self._run_wave(spark, wave, builders, outs)
        return GraphResult(
            nodes=outs["nodes_tiled"], edges=outs["edges_tiled"], tile_rollup=outs["tiles"]
        )


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
