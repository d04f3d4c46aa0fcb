"""Graft-only spatial operators (BASELINE.json north_star; no reference
analog — the R-tree joins J3-J5 played this role in-process).

- ``clip_network`` (F15): point-in-polygon clipping of the graph to basin
  polygons. Basins are a small dimension table → their cell coverings
  (S2-covering analog, functions.tiling.polygon_covering) are computed on
  the driver and BROADCAST-joined against point cells; the exact ray-casting
  test runs vectorized in an Arrow UDF only on covering hits.
- ``knn_snap_dangling`` (J7/W6): nearest waterway vertex for every dangling
  (degree-1) node within a search radius — ring-1 cell join at a radius-
  calibrated grid level + exact vectorized geodesic + rank-1 window.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast, pandas_udf
from pyspark.sql.window import Window

from ..config import EngineConfig
from ..functions import cells_sql
from ..functions.geodesy import geodesic_m
from ..functions.geometry import points_in_polygon
from ..functions.tiling import H3_RES_TO_LEVEL, join_grid_level, polygon_covering

CLIP_LEVEL = H3_RES_TO_LEVEL[7]


def _basin_covering_df(spark, basins: DataFrame, level: int) -> DataFrame:
    """(basin_id, cell) covering rows + broadcast ring arrays per basin."""
    rows = basins.collect()  # basins are a small dim table by design
    cover_rows = []
    for r in rows:
        ring = r["ring"]
        lats = np.array([p["lat"] for p in ring])
        lons = np.array([p["lon"] for p in ring])
        for c in polygon_covering(lats, lons, level):
            cover_rows.append((r["basin_id"], int(c)))
    return spark.createDataFrame(cover_rows, "basin_id string, cell long")


def tag_points_with_basins(
    points: DataFrame, basins: DataFrame, lat_col: str = "lat", lon_col: str = "lon"
) -> DataFrame:
    """points + (basin_id) for every containing basin (inner join —
    points outside every basin drop out)."""
    spark = points.sparkSession
    cover = _basin_covering_df(spark, basins, CLIP_LEVEL)
    rings = {
        r["basin_id"]: (
            np.array([p["lat"] for p in r["ring"]]),
            np.array([p["lon"] for p in r["ring"]]),
        )
        for r in basins.collect()
    }
    bc = spark.sparkContext.broadcast(rings)

    @pandas_udf("boolean")
    def _inside(basin_id: pd.Series, lat: pd.Series, lon: pd.Series) -> pd.Series:
        la = lat.to_numpy(dtype=float)
        lo = lon.to_numpy(dtype=float)
        out = np.zeros(len(la), dtype=bool)
        for b in basin_id.unique():
            ring_la, ring_lo = bc.value[b]
            m = (basin_id == b).to_numpy()
            out[m] = points_in_polygon(la[m], lo[m], ring_la, ring_lo)
        return pd.Series(out)

    with_cell = points.withColumn("_cell", cells_sql.cell(lat_col, lon_col, CLIP_LEVEL, "wrap"))
    cand = with_cell.join(
        broadcast(cover.withColumnRenamed("cell", "_cell")), "_cell"
    ).drop("_cell")
    return cand.where(_inside("basin_id", lat_col, lon_col))


def clip_network(
    nodes: DataFrame, edges: DataFrame, basins: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Clip the graph to basins: a node belongs to every basin containing it;
    an edge is kept for a basin iff BOTH endpoints are inside (documented
    policy — midpoint/any-vertex variants are trivial recombinations)."""
    nodes_in = tag_points_with_basins(nodes, basins)
    nb = nodes_in.select(F.col("id").alias("_nid"), "basin_id")
    edges_in = (
        edges.join(nb.withColumnRenamed("_nid", "from_node_id"), ["from_node_id"])
        .withColumnRenamed("basin_id", "basin_from")
        .join(nb.withColumnRenamed("_nid", "to_node_id"), ["to_node_id"])
        .where(F.col("basin_from") == F.col("basin_id"))
        .drop("basin_from")
    )
    return nodes_in, edges_in


def knn_snap_dangling(
    nodes: DataFrame,
    edges: DataFrame,
    config: EngineConfig,
    radius_m: float = 100.0,
) -> DataFrame:
    """→ (id, lat, lon, target_lat, target_lon, target_way_id, dist_m):
    nearest foreign waterway vertex within radius for each dangling node."""
    spark = nodes.sparkSession
    deg = (
        edges.select(F.col("from_node_id").alias("id"), F.col("original_way_id"))
        .unionByName(edges.select(F.col("to_node_id").alias("id"), F.col("original_way_id")))
    )
    degree = deg.groupBy("id").agg(
        F.count("*").alias("degree"), F.collect_set("original_way_id").alias("own_ways")
    )
    dangling = (
        nodes.join(degree, "id")
        .where(F.col("degree") == 1)
        .select("id", "lat", "lon", "own_ways")
    )

    verts = edges.select(
        "original_way_id",
        F.explode(F.arrays_zip(F.col("lats").alias("vlat"), F.col("lons").alias("vlon"))).alias("v"),
    ).select(
        F.col("original_way_id").alias("target_way_id"),
        F.col("v.vlat").alias("target_lat"),
        F.col("v.vlon").alias("target_lon"),
    ).distinct()

    maxlat = nodes.agg(F.max(F.abs("lat"))).collect()[0][0] or 0.0
    level = join_grid_level(radius_m, float(maxlat))

    left = dangling.select(
        "id", "lat", "lon", "own_ways",
        F.explode(cells_sql.ring("lat", "lon", level, "wrap")).alias("cell"),
    )
    right = verts.withColumn("cell", cells_sql.cell("target_lat", "target_lon", level, "wrap"))
    cand = (
        left.join(right, "cell")
        .drop("cell")
        .where(~F.array_contains(F.col("own_ways"), F.col("target_way_id")))
        .where((F.col("lat") != F.col("target_lat")) | (F.col("lon") != F.col("target_lon")))
        .distinct()
    )

    @pandas_udf("double")
    def _dist(lat1: pd.Series, lon1: pd.Series, lat2: pd.Series, lon2: pd.Series) -> pd.Series:
        return pd.Series(
            geodesic_m(
                lat1.to_numpy(dtype=float), lon1.to_numpy(dtype=float),
                lat2.to_numpy(dtype=float), lon2.to_numpy(dtype=float),
            )
        )

    scored = cand.withColumn("dist_m", _dist("lat", "lon", "target_lat", "target_lon")).where(
        F.col("dist_m") <= radius_m
    )
    w = Window.partitionBy("id").orderBy("dist_m", "target_lat", "target_lon", "target_way_id")
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .select("id", "lat", "lon", "target_lat", "target_lon", "target_way_id", "dist_m")
    )
