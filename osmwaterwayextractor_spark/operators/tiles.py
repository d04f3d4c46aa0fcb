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
from ..functions.tiling import H3_RES_TO_LEVEL, LEVEL_SHIFT, X_SHIFT, XY_MASK, cell_width_deg


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


def cell_col(lat, lon, level: int):
    """Catalyst cell-id expression (same bit layout as functions.tiling)."""
    w = cell_width_deg(level)
    x = F.floor((lon + 180.0) / w).cast("long")
    y = F.floor((lat + 90.0) / w).cast("long")
    nx = F.lit(2 << level).cast("long")
    ny = F.lit(1 << level).cast("long")
    x = F.greatest(F.lit(0).cast("long"), F.least(nx - 1, x))
    y = F.greatest(F.lit(0).cast("long"), F.least(ny - 1, y))
    return F.lit(level).cast("long") * F.lit(1 << 52).cast("long") + F.shiftleft(x, int(X_SHIFT)) + y


def parent_cell_col(cell, child_level: int, parent_level: int):
    x = F.shiftrightunsigned(cell, int(X_SHIFT)).bitwiseAND(F.lit(int(XY_MASK)))
    y = cell.bitwiseAND(F.lit(int(XY_MASK)))
    d = child_level - parent_level
    return (
        F.lit(parent_level).cast("long") * F.lit(1 << 52).cast("long")
        + F.shiftleft(F.shiftrightunsigned(x, d), int(X_SHIFT))
        + F.shiftrightunsigned(y, d)
    )


def tile_part_col(config: EngineConfig):
    """The ``TILE_PART`` value of a row that carries its tile cells."""
    res = min(config.tile_resolutions)
    cell = F.col(f"cell_r{res}")
    return parent_cell_col(cell, H3_RES_TO_LEVEL[res], TILE_PARTITION_LEVEL)


def with_node_cells(nodes: DataFrame, config: EngineConfig) -> DataFrame:
    out = nodes
    for res in config.tile_resolutions:
        out = out.withColumn(
            f"cell_r{res}", cell_col(F.col("lat"), F.col("lon"), H3_RES_TO_LEVEL[res])
        )
    return out


def with_edge_cells(edges: DataFrame, config: EngineConfig) -> DataFrame:
    """Edge cells at the midpoint VERTEX (index (n-1)//2), matching the oracle."""
    mid_idx = (F.floor((F.size("lats") - 1) / 2) + 1).cast("int")  # 1-based
    mid_lat = F.element_at("lats", mid_idx)
    mid_lon = F.element_at("lons", mid_idx)
    out = edges
    for res in config.tile_resolutions:
        out = out.withColumn(
            f"cell_r{res}", cell_col(mid_lat, mid_lon, H3_RES_TO_LEVEL[res])
        )
    return out


def edge_covering_col(lats_col: str, lons_col: str, level: int):
    """S2-covering analog for a polyline edge, pure Catalyst (north_star:
    "every node and edge endpoint is assigned an H3 cell AND an S2
    covering"): the distinct set of level-``level`` cells overlapped by each
    segment's bbox — a tight covering of the polyline, computed per row with
    sequence/transform/flatten (NO shuffle, NO Python), exactly the cell set
    the J5 candidate join uses (geometry_ops._with_cover_cells semantics)."""
    w = repr(cell_width_deg(level))
    base = f"cast({level} as bigint) * cast({1 << 52} as bigint)"
    la, lo = lats_col, lons_col
    seg = (
        f"transform(slice({la}, 1, size({la})-1), (la1, i) -> "
        f"flatten(transform("
        f"  sequence(cast(floor((least({lo}[i], element_at({lo}, i+2)) + 180.0D) / {w}) as bigint),"
        f"           cast(floor((greatest({lo}[i], element_at({lo}, i+2)) + 180.0D) / {w}) as bigint)),"
        f"  xx -> transform("
        f"    sequence(cast(floor((least(la1, element_at({la}, i+2)) + 90.0D) / {w}) as bigint),"
        f"             cast(floor((greatest(la1, element_at({la}, i+2)) + 90.0D) / {w}) as bigint)),"
        f"    yy -> {base} + shiftleft(xx, {int(X_SHIFT)}) + yy))))"
    )
    return F.expr(f"array_sort(array_distinct(flatten({seg})))")


def with_edge_covering(edges: DataFrame, config: EngineConfig, res: int = COVERING_H3_RES) -> DataFrame:
    """edges + ``covering``: sorted distinct cell ids at H3-calibrated
    resolution ``res`` overlapped by the edge geometry."""
    return edges.withColumn(
        "covering", edge_covering_col("lats", "lons", H3_RES_TO_LEVEL[res])
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
                parent_cell_col(F.col("cell"), prev_level, lvl).alias("cell"),
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
