"""F14/A10 — tile assignment and multi-resolution channel-density rollups.

Graft-only operators (no reference analog; the R-tree J3-J5 played the
spatial-index role). Cells are the engine's H3-calibrated quadtree
(functions.tiling). Assignment is pure bit-math → stays in Catalyst; rollups
are plain groupBys, with coarser resolutions derived by parent-cell
aggregation of the finest rollup (aperture-4 hierarchy ⇒ exact).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import EngineConfig
from ..functions import cells_sql
from ..functions.tiling import H3_RES_TO_LEVEL


# Per-edge covering resolution — the single source of truth. The pipeline
# ships the coverings of build_edges' fused NumPy kernel (operators.edges);
# with_edge_covering below is the Catalyst reference that tests compare the
# kernel against, so both must read this constant.
COVERING_H3_RES = 8

# The partition spec of the tiled checkpoint tables (plans.pipeline): Hive
# directories keyed by the level-2 ancestor of the coarsest tile cell. Level 2
# has at most 2^(2*2+1) = 32 world cells, Spark's parallel partition discovery
# threshold, so a read-back is listed on the driver at any input size. Rows
# are sorted by the coarsest cell within each file, so a cell filter prunes
# through row-group statistics rather than directories.
TILE_PARTITION_LEVEL = 2
TILE_PART = "tile_part"


def tile_part_col(config: EngineConfig):
    """The ``TILE_PART`` value of a row that carries its tile cells."""
    res = min(config.tile_resolutions)
    return cells_sql.parent(f"cell_r{res}", H3_RES_TO_LEVEL[res], TILE_PARTITION_LEVEL)


def with_node_cells(nodes: DataFrame, config: EngineConfig) -> DataFrame:
    out = nodes
    for res in config.tile_resolutions:
        out = out.withColumn(
            f"cell_r{res}", cells_sql.cell("lat", "lon", H3_RES_TO_LEVEL[res], "clamp")
        )
    return out


def with_edge_cells(edges: DataFrame, config: EngineConfig) -> DataFrame:
    """Edge cells at the midpoint VERTEX (index (n-1)//2), matching the oracle."""
    mid_idx = "CAST(floor((size(lats) - 1) / 2) + 1 AS INT)"  # 1-based
    mid_lat = f"element_at(lats, {mid_idx})"
    mid_lon = f"element_at(lons, {mid_idx})"
    out = edges
    for res in config.tile_resolutions:
        out = out.withColumn(
            f"cell_r{res}", cells_sql.cell(mid_lat, mid_lon, H3_RES_TO_LEVEL[res], "clamp")
        )
    return out


def with_edge_covering(edges: DataFrame, config: EngineConfig, res: int = COVERING_H3_RES) -> DataFrame:
    """edges + ``covering``: sorted distinct cell ids at H3-calibrated
    resolution ``res`` overlapped by the edge geometry."""
    return edges.withColumn(
        "covering", cells_sql.polyline_cover("lats", "lons", H3_RES_TO_LEVEL[res])
    )


def channel_density_rollup(edges_with_cells: DataFrame, config: EngineConfig) -> DataFrame:
    """(res, cell, edge_count, total_length_m) — finest res aggregated once,
    coarser resolutions rolled up from it via parent cells (exact under the
    aperture-4 hierarchy, one wide shuffle instead of three)."""
    resolutions = sorted(config.tile_resolutions, reverse=True)
    finest = resolutions[0]
    base = (
        edges_with_cells.groupBy(F.col(f"cell_r{finest}").alias("cell"))
        .agg(F.count("*").alias("edge_count"), F.sum("length_m").alias("total_length_m"))
        .withColumn("res", F.lit(finest))
    )
    outs = [base]
    prev = base
    prev_level = H3_RES_TO_LEVEL[finest]
    for res in resolutions[1:]:
        lvl = H3_RES_TO_LEVEL[res]
        prev = (
            prev.select(
                cells_sql.parent("cell", prev_level, lvl).alias("cell"),
                "edge_count",
                "total_length_m",
            )
            .groupBy("cell")
            .agg(F.sum("edge_count").alias("edge_count"), F.sum("total_length_m").alias("total_length_m"))
            .withColumn("res", F.lit(res))
        )
        prev_level = lvl
        outs.append(prev)
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.select("res", "cell", "edge_count", "total_length_m")
