"""A checkpointed build labels every job it submits, a resume reads each
completed stage back without planning or running any of its work (nor a
schema-inference job: the read takes the schema from the footer), and a
rerun after a knob change recomputes only the stages downstream of it."""

import dataclasses
import os
import uuid

import pytest

from osmwaterwayextractor_spark.config import EngineConfig
from osmwaterwayextractor_spark.plans import pipeline
from osmwaterwayextractor_spark.plans.checkpoint import Checkpointer
from osmwaterwayextractor_spark.plans.pipeline import WaterwayEngine
from osmwaterwayextractor_spark.sinks.table_sink import ParquetTableSink
from osmwaterwayextractor_spark.sources.docsgen import DocsGenParams, docs_dataframe

CFG = EngineConfig(filter_waterway_types=False)


def _job_descriptions(spark) -> dict[int, str | None]:
    """{job id: spark.job.description} of every job the status store holds."""
    sc = spark.sparkContext
    # the status store is fed by the async listener bus: drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    out = {}
    for i in range(jobs.size()):
        job = jobs.apply(i)
        desc = job.description()
        out[job.jobId()] = desc.get() if desc.isDefined() else None
    return out


@pytest.fixture(scope="module")
def cold_build(spark, tmp_path_factory):
    """A cold checkpointed build: every stage computes. → (root, docs, the
    descriptions of the jobs it ran, its sorted edges, its sorted nodes)."""
    root = str(tmp_path_factory.mktemp("ckpt"))
    docs = docs_dataframe(spark, 12, DocsGenParams(seed=11), partitions=2)
    before = set(_job_descriptions(spark))
    ck = Checkpointer(spark, root)
    g = WaterwayEngine(CFG, checkpointer=ck).build_graph(docs, spark)
    descs = {j: d for j, d in _job_descriptions(spark).items() if j not in before}
    assert {e["action"] for e in ck.events} == {"computed"}
    edges = sorted(g.edges.collect(), key=lambda r: r["id"])
    nodes = sorted(g.nodes.collect(), key=lambda r: r["id"])
    return root, docs, descs, edges, nodes


def test_every_checkpointed_job_carries_a_stage_label(cold_build):
    _, _, descs, _, _ = cold_build
    assert descs, "the build ran no jobs"
    # Spark's parallel partition discovery labels its own listing jobs
    unlabelled = {
        j: d
        for j, d in descs.items()
        if not (d or "").startswith("stage-") and not (d or "").startswith("Listing leaf files")
    }
    assert not unlabelled, f"jobs outside every stage label: {unlabelled}"
    labels = {d for d in descs.values() if d.startswith("stage-")}
    # the tiled writes, the covered materialization and snap_map's eager
    # block-kernel jobs each carry their own stage's label
    assert {"stage-nodes_tiled", "stage-edges_tiled", "stage-covered", "stage-clustering"} <= labels


def test_resume_builds_nothing_for_resumed_stages(spark, cold_build, monkeypatch):
    root, docs, _, edges, nodes = cold_build

    def built(*args, **kwargs):
        raise AssertionError("a resumed stage was built")

    monkeypatch.setattr(pipeline, "snap_map", built)
    monkeypatch.setattr(pipeline, "detect_intersections", built)
    monkeypatch.setattr(pipeline.WaterwayEngine, "_covered_stage", built)
    ck = Checkpointer(spark, root)
    g = WaterwayEngine(CFG, checkpointer=ck).build_graph(docs, spark)
    assert {e["action"] for e in ck.events} == {"resumed"}
    assert sorted(g.edges.collect(), key=lambda r: r["id"]) == edges
    assert sorted(g.nodes.collect(), key=lambda r: r["id"]) == nodes


# the stages a checkpointed build lands, in pipeline order
STAGE_ORDER = (
    "parsed",
    "simplified",
    "intersections",
    "clustering_domain",
    "clustering",
    "edges",
    "nodes",
    "nodes_tiled",
    "edges_tiled",
    "tiles",
)


@pytest.mark.parametrize(
    "knob, value, first_computed",
    [("max_displacement_multiplier", 4.0, "clustering"), ("tile_resolutions", (8, 9), "nodes_tiled")],
)
def test_knob_change_resumes_only_the_unaffected_stages(
    spark, cold_build, knob, value, first_computed
):
    # a rerun on the cold root recomputes the first stage that reads the
    # changed knob and everything after it, and resumes the rest
    root, docs, _, _, _ = cold_build
    cfg = dataclasses.replace(CFG, **{knob: value})
    ck = Checkpointer(spark, root)
    g = WaterwayEngine(cfg, checkpointer=ck).build_graph(docs, spark)
    actions = {e["stage"]: e["action"] for e in ck.events}
    cut = STAGE_ORDER.index(first_computed)
    assert actions == {
        stage: "resumed" if i < cut else "computed" for i, stage in enumerate(STAGE_ORDER)
    }
    lazy = WaterwayEngine(cfg).build_graph(docs, spark)
    assert _sorted_rows(g.edges) == _sorted_rows(lazy.edges)
    assert _sorted_rows(g.nodes) == _sorted_rows(lazy.nodes)


def _sorted_rows(df):
    """Rows by id, as dicts: a tiled read-back orders its partition column last."""
    return sorted((r.asDict() for r in df.collect()), key=lambda r: r["id"])


def test_checkpoint_reads_get_the_inferred_schema_from_the_footer(spark, cold_build):
    root = cold_build[0]
    for stage in STAGE_ORDER:
        sdir = os.path.join(root, f"{stage}_{CFG.step_param_hash(stage)}")
        sink = ParquetTableSink(os.path.join(sdir, "data"))
        got, want = sink.read(spark).schema, spark.read.parquet(sink.location).schema
        assert got == want and got.json() == want.json(), stage


def test_a_resumed_build_submits_no_job(spark, cold_build):
    root, docs, _, edges, _ = cold_build
    sc = spark.sparkContext
    group = f"resume-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "resume")
    try:
        ck = Checkpointer(spark, root)
        g = WaterwayEngine(CFG, checkpointer=ck).build_graph(docs, spark)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc._jsc.clearJobGroup()
    assert {e["action"] for e in ck.events} == {"resumed"}
    assert jobs == []
    assert sorted(g.edges.collect(), key=lambda r: r["id"]) == edges
