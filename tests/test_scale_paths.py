"""Scale-path behaviors (VERDICT r1 items 9-10): dense-cell re-split for the
intersection self-join, and tile-partition-level resume of the final
cell-partitioned nodes/edges layout."""

import os
import shutil

from pyspark.sql import functions as F

from osmwaterwayextractor_spark.config import EngineConfig
from osmwaterwayextractor_spark.operators.geometry_ops import (
    INTERSECT_CELL_LEVEL,
    _covered_raw,
    _resplit_dense_cells,
    detect_intersections,
)

WAYS_SCHEMA = "way_id long, lats array<double>, lons array<double>, tags map<string,string>"


def _dense_ways(spark, n_parallel=300):
    """n parallel segments + one crossing way, all inside ONE cell at
    INTERSECT_CELL_LEVEL (whatever its width): the pathological hot cell for
    the segment self-join. Anchored to the actual cell grid so the fixture
    stays a single-cell hotspot if the level constant is retuned."""
    from osmwaterwayextractor_spark.functions.tiling import cell_width_deg

    w = cell_width_deg(INTERSECT_CELL_LEVEL)
    # lower-left corner of the cell containing (50.002, 13.002), inset 10%
    lat0 = (int((50.002 + 90.0) / w) * w - 90.0) + 0.1 * w
    lon0 = (int((13.002 + 180.0) / w) * w - 180.0) + 0.1 * w
    dlat = (0.8 * w) / n_parallel  # all parallels inside this one cell
    rows = []
    for i in range(n_parallel):
        lat = lat0 + i * dlat
        rows.append((i, [lat, lat], [lon0, lon0 + 0.5 * w], {"waterway": "river"}))
    # vertical crossing way through all parallels
    rows.append(
        (10_000, [lat0 - 0.5 * w, lat0 + 1.5 * w], [lon0 + 0.25 * w, lon0 + 0.25 * w],
         {"waterway": "river"}),
    )
    return spark.createDataFrame(rows, WAYS_SCHEMA)


def test_dense_cell_resplit_preserves_points_and_bounds_fanout(spark):
    ways = _dense_ways(spark)
    capped = EngineConfig(intersect_cell_cap=50, filter_waterway_types=False)
    uncapped = EngineConfig(intersect_cell_cap=10**9, filter_waterway_types=False)

    got = {(r["plat"], r["plon"]) for r in detect_intersections(ways, capped).collect()}
    want = {(r["plat"], r["plon"]) for r in detect_intersections(ways, uncapped).collect()}
    assert got == want and len(want) >= 200  # same points, crossing detected

    # fan-out bound: the hot cell (301 segments) must be gone after re-split
    covered = _covered_raw(ways)
    before = covered.groupBy("cell").count().agg(F.max("count")).collect()[0][0]
    resplit = _resplit_dense_cells(covered, INTERSECT_CELL_LEVEL, 50, 0.0)
    after = resplit.groupBy("cell").count().agg(F.max("count")).collect()[0][0]
    assert before >= 301
    assert after < before / 2  # one re-split level cuts the hot cell ~8x


def test_tiled_output_partition_resume(spark, tmp_path):
    from osmwaterwayextractor_spark.operators.tiles import TILE_PART
    from osmwaterwayextractor_spark.plans.checkpoint import Checkpointer
    from osmwaterwayextractor_spark.plans.pipeline import WaterwayEngine
    from osmwaterwayextractor_spark.sources.docsgen import DocsGenParams, docs_dataframe

    cfg = EngineConfig(filter_waterway_types=False)
    docs = docs_dataframe(spark, 12, DocsGenParams(seed=11), partitions=4)
    root = str(tmp_path / "ckpt")

    ck = Checkpointer(spark, root)
    g = WaterwayEngine(cfg, checkpointer=ck).build_graph(docs, spark)
    want_edges = sorted(r["id"] for r in g.edges.collect())
    assert f"cell_r{min(cfg.tile_resolutions)}" in g.edges.columns
    assert TILE_PART not in g.edges.columns

    # simulate a partial failure of the final tiled write: drop the done flag
    # and two tile partitions — the re-run must recompute ONLY those
    sdir = os.path.join(root, f"edges_tiled_{cfg.step_param_hash('edges_tiled')}")
    os.remove(os.path.join(sdir, "_STAGE_DONE"))
    parts = [d for d in os.listdir(os.path.join(sdir, "data")) if d.startswith(f"{TILE_PART}=")]
    assert len(parts) >= 3
    # Iceberg-style layout pointer (README "Iceberg deviation"):
    # tile_part=<val>/part-*.parquet
    assert any(
        n.startswith("part-") and n.endswith(".parquet")
        for n in os.listdir(os.path.join(sdir, "data", parts[0]))
    )
    for d in parts[:2]:
        shutil.rmtree(os.path.join(sdir, "data", d))

    ck2 = Checkpointer(spark, root)
    g2 = WaterwayEngine(cfg, checkpointer=ck2).build_graph(docs, spark)
    assert sorted(r["id"] for r in g2.edges.collect()) == want_edges
    ev = [e for e in ck2.events if e["stage"] == "edges_tiled"][0]
    assert ev["action"] == "computed"
    assert ev["skipped_partitions"] == len(parts) - 2
    # everything upstream resumed untouched
    assert all(
        e["action"] == "resumed" for e in ck2.events if e["stage"] not in ("edges_tiled",)
    )


def test_partition_resume_plan_has_no_literal_inlist(spark, tmp_path):
    """10^4 done partitions must become a broadcast anti join, never a
    multi-megabyte literal IN-list in the plan (VERDICT r2 what's-wrong 1)."""
    from osmwaterwayextractor_spark.plans.checkpoint import _pending_filter

    done = {str(v) for v in range(10_000)}
    df = spark.range(5).select(
        F.col("id").alias("tile"), (F.col("id") * 2).alias("x")
    )
    pending = _pending_filter(spark, df, "tile", done)
    plan = pending._jdf.queryExecution().optimizedPlan().toString()
    assert "Join LeftAnti" in plan
    assert len(plan) < 20_000, f"plan blew up to {len(plan)} chars"
    # correctness: ids 0..4 are all in the done set → nothing pending
    assert pending.count() == 0
    pending2 = _pending_filter(spark, df, "tile", {"1", "3"})
    assert sorted(r["tile"] for r in pending2.collect()) == [0, 2, 4]


def test_partition_resume_prunes_uncommitted_dirs(spark, tmp_path):
    """A partition dir present on disk but absent from the committed sidecar
    is a crashed-job-commit leftover: it must be pruned and recomputed, not
    trusted (ADVICE r2 item 1) — otherwise rows are silently dropped (if
    skipped) or duplicated (if appended over)."""
    import json

    from osmwaterwayextractor_spark.plans.checkpoint import Checkpointer

    cfg = EngineConfig()
    df = spark.createDataFrame(
        [(t, i) for t in ("a", "b", "c") for i in range(4)], "tile string, x long"
    )
    root = str(tmp_path / "pc")
    ck = Checkpointer(spark, root)
    out1 = ck.materialize_partitioned("pr_demo", cfg, df, "tile")
    assert out1.count() == 12

    sdir = ck._stage_dir("pr_demo", cfg)
    os.remove(os.path.join(sdir, "_STAGE_DONE"))
    # simulate a crash during job commit: partition c exists on disk but is
    # PARTIAL (one of its files lost) and its commit never reached a sidecar
    pdir = os.path.join(sdir, "_partitions")
    for name in os.listdir(pdir):
        p = os.path.join(pdir, name)
        with open(p) as f:
            vals = json.load(f)
        with open(p, "w") as f:
            json.dump([v for v in vals if v != "c"], f)
    cdir = os.path.join(sdir, "data", "tile=c")
    files = [n for n in os.listdir(cdir) if n.endswith(".parquet")]
    os.remove(os.path.join(cdir, files[0]))

    ck2 = Checkpointer(spark, root)
    out2 = ck2.materialize_partitioned("pr_demo", cfg, df, "tile")
    rows = [(r["tile"], r["x"]) for r in out2.collect()]
    assert sorted(rows) == sorted((t, i) for t in ("a", "b", "c") for i in range(4))
    ev = [e for e in ck2.events if e["stage"] == "pr_demo"][-1]
    assert ev["skipped_partitions"] == 2  # a and b trusted, c recomputed
