"""Python-kernel shuffles carry no fixed partition count.

Every task of a mapInPandas kernel pays a fixed worker-side setup cost
whatever its size, so the shuffles feeding the assembly and snap kernels
must leave the partition count to the session and AQE. A hard-coded count
(the assembly used max(32, 16)) runs that many Python tasks even for a
few hundred ways, and AQE cannot coalesce it."""

import uuid

from pyspark.sql import functions as F

from osmwaterwayextractor_spark.config import EngineConfig
from osmwaterwayextractor_spark.operators.assemble import assemble_clean_simplify
from osmwaterwayextractor_spark.operators.cluster import _snap_map_blocks
from osmwaterwayextractor_spark.operators.edges import clustering_domain_fast
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
