"""Task counts of the pipeline's shuffles.

Every task of a mapInPandas kernel pays a fixed worker-side setup cost
whatever its size, so the shuffles feeding the assembly and snap kernels
must leave the partition count to the session and AQE. A hard-coded count
(the assembly used max(32, 16)) runs that many Python tasks even for a
few hundred ways, and AQE cannot coalesce it.

A tile-partitioned write is the opposite case: it costs per output file,
so its shuffle spreads the cells over every core."""

import os
import uuid

from pyspark.sql import functions as F

from osmwaterwayextractor_spark.config import EngineConfig
from osmwaterwayextractor_spark.operators.assemble import assemble_clean_simplify
from osmwaterwayextractor_spark.operators.cluster import _snap_map_blocks
from osmwaterwayextractor_spark.operators.edges import clustering_domain_fast
from osmwaterwayextractor_spark.plans.checkpoint import Checkpointer
from osmwaterwayextractor_spark.sources.docsgen import DocsGenParams, docs_dataframe
from osmwaterwayextractor_spark.sources.parse import (
    nodes_from_parsed,
    parse_osm,
    ways_from_parsed,
)


def _staged(df, path):
    """Write ``df`` as one file and read it back, so the scans under test
    run one task and only the operators' own shuffles size their stages."""
    df.coalesce(1).write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def _run_in_group(spark, run):
    """Run ``run()`` under a fresh job group → (largest task count of any
    stage its jobs ran or planned, run's result)."""
    sc = spark.sparkContext
    group = f"kernel-tasks-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        result = run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status store is fed by the async listener bus: drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    infos = [
        st.getStageInfo(sid)
        for jid in st.getJobIdsForGroup(group)
        for sid in st.getJobInfo(jid).stageIds
    ]
    infos = [i for i in infos if i is not None]
    assert infos, "no stages recorded for the job group"
    return max(i.numTasks for i in infos), result


def test_python_kernel_shuffles_stay_within_session_partitions(spark, tmp_path):
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    cfg = EngineConfig(filter_waterway_types=False)
    docs = docs_dataframe(spark, 60, DocsGenParams(seed=5), partitions=1)
    parsed = _staged(parse_osm(docs, cfg), str(tmp_path / "parsed"))
    simplified = assemble_clean_simplify(
        ways_from_parsed(parsed, cfg), nodes_from_parsed(parsed), cfg
    )

    tasks, ways = _run_in_group(spark, simplified.collect)
    assert ways
    assert tasks <= n_part, f"assembly ran a {tasks}-task stage (> {n_part})"

    domain = _staged(clustering_domain_fast(simplified), str(tmp_path / "domain"))
    maxlat = domain.agg(F.max(F.abs("lat"))).collect()[0][0]
    tasks, snapped = _run_in_group(
        spark, _snap_map_blocks(domain, cfg, maxlat).collect
    )
    assert snapped, "fixture must reach the snap kernel with ε-pairs"
    assert tasks <= n_part, f"snap kernel ran a {tasks}-task stage (> {n_part})"


def test_tiled_write_spreads_over_every_core(spark, tmp_path):
    cfg = EngineConfig()
    cores = spark.sparkContext.defaultParallelism
    # one input file, as a checkpointed stage is. 20 cells stay under
    # Spark's parallel-listing threshold (32 paths), so the read-back lists
    # on the driver and the write stage is the widest stage of the group.
    df = _staged(
        spark.range(400).select((F.col("id") % 20).alias("cell_r7"), F.col("id")),
        str(tmp_path / "in"),
    )
    ck = Checkpointer(spark, str(tmp_path / "ck"))
    tasks, out = _run_in_group(
        spark, lambda: ck.materialize_partitioned("tiled_demo", cfg, df, "cell_r7")
    )
    assert tasks == cores, f"tiled write ran {tasks} tasks, not one per core ({cores})"

    data = os.path.join(ck._stage_dir("tiled_demo", cfg), "data")
    cells = [d for d in os.listdir(data) if d.startswith("cell_r7=")]
    assert len(cells) == 20
    for d in cells:
        files = [n for n in os.listdir(os.path.join(data, d)) if n.endswith(".parquet")]
        assert len(files) == 1, f"{d} holds {len(files)} parquet files"
    n_rows = out.count()
    assert n_rows == 400
    assert sum(r["rows"] for r in ck.lineage("tiled_demo", cfg)) == n_rows
