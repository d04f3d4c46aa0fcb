"""Spark cell-id expressions: the one place Catalyst builds a quadtree id.

``functions.tiling`` is the NumPy spec, owns the constants and tables the
three ``edge`` rules (``clamp``, ``wrap``, ``raw``) with their call sites.
Every function here returns ONE ``F.expr`` written as a SQL string over SQL
arguments (a column name is one): a stacked Column-DSL builder pays a py4j
round trip per operator on the driver (~1,500 and ~160 ms for a 3×3 ring),
a SQL string one parse. Ids are packed with ``+`` on signed longs, so a raw
index outside the grid still gives an id no in-grid cell has.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .tiling import LEVEL_SHIFT, X_SHIFT, XY_MASK, cell_width_deg


def _index(coord: str, origin: float, level: int) -> str:
    """Unnormalised grid index of a coordinate (origin 180 for lon, 90 for lat)."""
    return f"CAST(floor(({coord} + {origin!r}D) / {cell_width_deg(level)!r}D) AS BIGINT)"


def _norm_x(x: str, level: int, edge: str) -> str:
    nx = 2 << level
    return {"clamp": f"greatest(0L, least({nx - 1}L, {x}))", "wrap": f"pmod({x}, {nx}L)", "raw": x}[edge]


def _norm_y(y: str, level: int, edge: str) -> str:
    return y if edge == "raw" else f"greatest(0L, least({(1 << level) - 1}L, {y}))"


def _pack(level: int, x: str, y: str) -> str:
    return f"({level << int(LEVEL_SHIFT)}L + shiftleft({x}, {int(X_SHIFT)}) + {y})"


def _xy(cell: str) -> tuple[str, str]:
    mask = int(XY_MASK)
    return f"(shiftrightunsigned({cell}, {int(X_SHIFT)}) & {mask}L)", f"({cell} & {mask}L)"


def _ring_sql(x: str, y: str, level: int, edge: str) -> str:
    """Distinct ids of the 3×3 block around indices (x, y), dx-major."""
    cells = ", ".join(
        _pack(level, _norm_x(f"({x} + {dx}L)", level, edge), _norm_y(f"({y} + {dy}L)", level, edge))
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
    )
    return f"array_distinct(array({cells}))"


def _x_range(lon_lo: str, lon_hi: str, level: int) -> str:
    return f"sequence({_index(lon_lo, 180.0, level)}, {_index(lon_hi, 180.0, level)})"


def _column_run(x: str, lat_lo: str, lat_hi: str, level: int) -> str:
    """Column ``x``'s ids from row index(lat_lo) to index(lat_hi): a
    column's rows are consecutive ids, so one ``sequence``."""
    lo, hi = (_pack(level, x, _index(lat, 90.0, level)) for lat in (lat_lo, lat_hi))
    return f"sequence({lo}, {hi})"


def _cover_sql(lat_lo: str, lat_hi: str, lon_lo: str, lon_hi: str, level: int) -> str:
    run = _column_run("cx", lat_lo, lat_hi, level)
    return f"flatten(transform({_x_range(lon_lo, lon_hi, level)}, cx -> {run}))"


def cell(lat: str, lon: str, level: int, edge: str):
    """The level-``level`` cell of a point."""
    x = _norm_x(_index(lon, 180.0, level), level, edge)
    return F.expr(_pack(level, x, _norm_y(_index(lat, 90.0, level), level, edge)))


def ring(lat: str, lon: str, level: int, edge: str):
    """The 3×3 block around a point's UNNORMALISED cell (an array): at
    lat = +90 the offset rows clamp onto one row, so it has 3 cells where
    ``ring_of_cell`` of the point's cell has 6."""
    return F.expr(_ring_sql(_index(lon, 180.0, level), _index(lat, 90.0, level), level, edge))


def ring_of_cell(cell: str, level: int):
    """The 3×3 block around a ``"wrap"`` cell id (an array); as a set,
    ``tiling.k_ring(cell, 1)``."""
    return F.expr(_ring_sql(*_xy(cell), level, "wrap"))


def parent(cell: str, child_level: int, parent_level: int):
    """The ``parent_level`` ancestor of a ``child_level`` cell id."""
    d = child_level - parent_level
    x, y = _xy(cell)
    return F.expr(_pack(parent_level, f"shiftrightunsigned({x}, {d})", f"shiftrightunsigned({y}, {d})"))


def cover_range(lat_lo: str, lat_hi: str, lon_lo: str, lon_hi: str, level: int):
    """The ``"raw"`` ids of the index box the bounds fall in (an array,
    x-major). Its lambda runs interpreted; ``explode_cover`` is the
    codegen form for one row per cell."""
    return F.expr(_cover_sql(lat_lo, lat_hi, lon_lo, lon_hi, level))


def explode_cover(
    df: DataFrame, lat_lo: str, lat_hi: str, lon_lo: str, lon_hi: str, level: int
) -> DataFrame:
    """``df`` + ``cell``: a row per id of ``cover_range``, in its order, by two
    generator selects (the columns, then each column's run) rather than one
    explode of the array, whose lambda ran 3-5× slower (4M segments, 4
    cores: 1.7-3.9 s against 0.4-0.8 s)."""
    run = _column_run("_cover_x", lat_lo, lat_hi, level)
    return (
        df.select("*", F.expr(f"explode({_x_range(lon_lo, lon_hi, level)})").alias("_cover_x"))
        .select("*", F.expr(f"explode({run})").alias("cell"))
        .drop("_cover_x")
    )


def polyline_cover(lats: str, lons: str, level: int):
    """Sorted distinct ``cover_range`` ids of every segment of a polyline
    (an array): the Catalyst twin of ``tiling.polyline_coverings``."""
    la2, lo2 = f"element_at({lats}, i + 2)", f"element_at({lons}, i + 2)"
    seg = _cover_sql(
        f"least(la1, {la2})", f"greatest(la1, {la2})",
        f"least({lons}[i], {lo2})", f"greatest({lons}[i], {lo2})",
        level,
    )
    return F.expr(
        f"array_sort(array_distinct(flatten(transform(slice({lats}, 1, size({lats}) - 1), (la1, i) -> {seg}))))"
    )
