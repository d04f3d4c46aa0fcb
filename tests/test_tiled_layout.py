"""The tiled checkpoint tables land in at most 32 coarse ``tile_part=``
partitions, range-written and sorted by cell: a read-back is listed on the
driver, the write spreads over the cores without exceeding them, cell
pruning has sorted row groups to work from, and a crash leftover is pruned
and recomputed."""

import json
import os
import shutil
import uuid

import pyarrow.parquet as pq
import pytest

from osmwaterwayextractor_spark.config import TILED_STAGES, EngineConfig
from osmwaterwayextractor_spark.operators.tiles import TILE_PART
from osmwaterwayextractor_spark.plans.checkpoint import Checkpointer
from osmwaterwayextractor_spark.plans.pipeline import WaterwayEngine
from osmwaterwayextractor_spark.sources.docsgen import DocsGenParams, docs_dataframe

CFG = EngineConfig(filter_waterway_types=False)
CELL = f"cell_r{min(CFG.tile_resolutions)}"


def _group_jobs(spark, group: str) -> list[tuple[str, int]]:
    """(description, largest stage task count) of every job in ``group``."""
    sc = spark.sparkContext
    # the status store is fed by the async listener bus: drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    st = sc.statusTracker()
    out = []
    for jid in st.getJobIdsForGroup(group):
        desc = store.job(jid).description()
        infos = [st.getStageInfo(s) for s in st.getJobInfo(jid).stageIds]
        out.append(
            (
                desc.get() if desc.isDefined() else "",
                max((i.numTasks for i in infos if i is not None), default=0),
            )
        )
    return out


def _data_dir(root: str, stage: str) -> str:
    return os.path.join(root, f"{stage}_{CFG.step_param_hash(stage)}", "data")


def _parts(data: str) -> list[str]:
    return sorted(d for d in os.listdir(data) if d.startswith(f"{TILE_PART}="))


def _sorted_rows(df):
    return sorted((r.asDict() for r in df.collect()), key=lambda r: r["id"])


@pytest.fixture(scope="module")
def docs(spark):
    return docs_dataframe(spark, 60, DocsGenParams(seed=7), partitions=2)


@pytest.fixture(scope="module")
def cold(spark, docs, tmp_path_factory):
    """A cold checkpointed build run in its own job group → (root, jobs)."""
    root = str(tmp_path_factory.mktemp("tiled"))
    sc = spark.sparkContext
    group = f"tiled-layout-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        ck = Checkpointer(spark, root)
        WaterwayEngine(CFG, checkpointer=ck).build_graph(docs, spark)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return root, _group_jobs(spark, group)


@pytest.fixture(scope="module")
def lazy(spark, docs):
    g = WaterwayEngine(CFG).build_graph(docs, spark)
    return g.edges.columns, _sorted_rows(g.edges), g.nodes.columns, _sorted_rows(g.nodes)


def test_tiled_tables_hold_few_partitions_listed_on_the_driver(spark, cold):
    root, jobs = cold
    cores = spark.sparkContext.defaultParallelism
    for stage in TILED_STAGES:
        parts = _parts(_data_dir(root, stage))
        assert 2 <= len(parts) <= 32, f"{stage}: {len(parts)} partitions"
    labels = {d for d, _ in jobs}
    tiled = {f"stage-{s}" for s in TILED_STAGES}
    assert tiled <= labels, "tiled jobs outside the group"
    listing = [d for d in labels if d.startswith("Listing leaf files")]
    assert not listing, f"the build ran listing jobs: {listing}"
    wide = [(d, n) for d, n in jobs if d in tiled and n > cores]
    assert not wide, f"tiled stage jobs ran more than {cores} tasks: {wide}"


def test_landed_files_are_sorted_by_cell(spark, cold):
    root, _ = cold
    cores = spark.sparkContext.defaultParallelism
    for stage in TILED_STAGES:
        data = _data_dir(root, stage)
        parts = _parts(data)
        files = [
            os.path.join(data, d, n)
            for d in parts
            for n in os.listdir(os.path.join(data, d))
            if n.endswith(".parquet")
        ]
        # each range task covers a contiguous run of partitions
        assert len(files) <= len(parts) + cores - 1, f"{stage}: {len(files)} files"
        for f in files:
            cells = pq.read_table(f, columns=[CELL]).column(CELL).to_pylist()
            assert cells == sorted(cells), f"{f} is not sorted by {CELL}"


def test_lineage_counts_every_landed_row(spark, cold):
    root, _ = cold
    ck = Checkpointer(spark, root)
    for stage in TILED_STAGES:
        landed = spark.read.parquet(_data_dir(root, stage)).count()
        lin = ck.lineage(stage, CFG)
        assert sum(r["rows"] for r in lin) == landed
        values = {p.split("=", 1)[1] for p in _parts(_data_dir(root, stage))}
        assert {r["partition"] for r in lin} <= values


def test_crash_leftover_is_pruned_and_recomputed(spark, docs, cold, lazy, tmp_path):
    root = str(tmp_path / "root")
    shutil.copytree(cold[0], root)
    leftovers = {}
    for stage in TILED_STAGES:
        sdir = os.path.dirname(_data_dir(root, stage))
        os.remove(os.path.join(sdir, "_STAGE_DONE"))
        # a crash inside the job commit: the last partition's directory is on
        # disk, partial, and no committed-partition sidecar names it
        parts = _parts(_data_dir(root, stage))
        value = parts[-1].split("=", 1)[1]
        leftovers[stage] = (value, len(parts))
        pdir = os.path.join(sdir, "_partitions")
        for name in os.listdir(pdir):
            with open(os.path.join(pdir, name)) as f:
                vals = json.load(f)
            with open(os.path.join(pdir, name), "w") as f:
                json.dump([v for v in vals if v != value], f)
        leftover = os.path.join(_data_dir(root, stage), parts[-1])
        with open(os.path.join(leftover, "part-99999-crashed.parquet"), "wb") as f:
            f.write(b"not a parquet file")

    ck = Checkpointer(spark, root)
    g = WaterwayEngine(CFG, checkpointer=ck).build_graph(docs, spark)
    for stage, (value, n_parts) in leftovers.items():
        ev = [e for e in ck.events if e["stage"] == stage][0]
        assert ev["action"] == "computed"
        assert ev["skipped_partitions"] == n_parts - 1
        lin = ck.lineage(stage, CFG)
        assert {r["partition"] for r in lin if r["run_id"] == ev["run_id"]} == {value}
        rewritten = os.listdir(os.path.join(_data_dir(root, stage), f"{TILE_PART}={value}"))
        assert not any(n.startswith("part-99999") for n in rewritten)
    edge_cols, edges, node_cols, nodes = lazy
    assert g.edges.columns == edge_cols and g.nodes.columns == node_cols
    assert _sorted_rows(g.edges) == edges
    assert _sorted_rows(g.nodes) == nodes
