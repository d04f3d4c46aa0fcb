"""Hierarchical spatial tiling ("WWT cells") — H3-calibrated quadtree.

No h3/s2 libraries exist in this environment (SURVEY.md §7 hard-part 6), so
the engine defines its own deterministic hierarchy with the three operations
the pipeline needs — ``cell(lat, lon, res)``, ``parent(cell)``,
``k_ring(cell, k)`` — plus a polygon covering (the S2-covering analog).

Scheme
------
Aperture-4 quadtree over the WGS84 lat/lon rectangle: at level ``L`` the
world splits into ``2**(L+1)`` columns × ``2**L`` rows of square
``180/2**L``-degree cells. Cell ids pack ``(level, x, y)`` into one int64:
``id = level<<52 | x<<26 | y`` (levels ≤ 24, x < 2**25, y < 2**24).

H3 calibration (mean cell areas: res7 ≈ 5.16 km², res8 ≈ 0.737 km²,
res9 ≈ 0.105 km²): H3 res 7/8/9 map to quad levels 13/15/16 (equatorial cell
areas 5.96 / 0.373 / 0.093 km² — nearest power-of-4 match, documented
deviation; exact-H3 parity is not required, parity is against this spec).

The ε-join grid for distance joins (J3-J5, J7) is the same quadtree at the
deepest level whose cell edge (in meters, at the data's max |lat| for
longitude) still covers the search radius, so "within ε" pairs always share
a cell or ring-1 neighbors.

Edge rules
----------
A grid index ``floor((lon + 180) / w)``, ``floor((lat + 90) / w)`` leaves the
grid at lon = 180, lat = 90 and out-of-range coordinates. Three rules
normalise it, each written once here and once in ``functions.cells_sql``
(its ``edge`` argument); every call site names its rule:

=====  ===========  =====  ================================================
rule   lon (x)      lat    call sites, and why
=====  ===========  =====  ================================================
clamp  clamp        clamp  Output tiles: ``cell_r*``, ``tile_part``, the
                           streaming rollup, queries ``cell_assign`` and
                           ``tile_rollup``; ``cell_id``. A tile is a world
                           cell: lon = 180 is the last column, not the first.
wrap   mod 2^(L+1)  clamp  Join grids: snap blocks and their prune, ε-pairs,
                           ``distance_join``, basin and kNN joins, queries
                           ``epsilon_pairs`` and ``knn_top1``; ``wrap_cell_id``,
                           ``k_ring``, ``polygon_covering``. Neighbours across
                           the antimeridian share a ring, and a point's home
                           is in its own ring (or no snap block owns it).
raw    none         none   Padded-bbox covers and the point rings probing
                           them: covered and insert stages, dense-cell
                           resplit, ``with_edge_covering``, query
                           ``edge_covering``; ``polyline_coverings`` (the
                           ``covering`` output). Cover and probe only have
                           to agree with each other.
=====  ===========  =====  ================================================

A point's ring offsets its unnormalised index, a cell's ring (``k_ring``) the
clamped one: at lat = +90, level 5, that is 3 cells against 6, so both forms
stay. Spark packs with ``+``, NumPy with ``|``: equal on indices ≥ 0.
"""

from __future__ import annotations

import numpy as np

LEVEL_SHIFT = np.int64(52)
X_SHIFT = np.int64(26)
XY_MASK = np.int64((1 << 26) - 1)
MAX_LEVEL = 24

H3_RES_TO_LEVEL = {7: 13, 8: 15, 9: 16}

_M_PER_DEG_LAT = 110574.0  # conservative meters per degree latitude
_M_PER_DEG_LON_EQ = 111320.0


def cell_width_deg(level: int) -> float:
    return 180.0 / float(1 << level)


def pack(level, x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """The one NumPy id pack, ``level<<52 | x<<26 | y`` (``level`` may be
    an array)."""
    return (np.asarray(level, dtype=np.int64) << LEVEL_SHIFT) | (x << X_SHIFT) | y


def _grid_xy(lats, lons, level: int) -> tuple[np.ndarray, np.ndarray]:
    """Unnormalised (column, row) grid indices of points at a quad level."""
    if not 0 <= level <= MAX_LEVEL:
        raise ValueError(f"level {level} out of range")
    w = cell_width_deg(level)
    x = np.floor((np.asarray(lons, dtype=np.float64) + 180.0) / w).astype(np.int64)
    y = np.floor((np.asarray(lats, dtype=np.float64) + 90.0) / w).astype(np.int64)
    return x, y


def cell_id(lats: np.ndarray, lons: np.ndarray, level: int) -> np.ndarray:
    """Vectorized (lat, lon) → int64 cell id at a quad level (edge rule
    ``clamp``: both axes clamp into the grid)."""
    x, y = _grid_xy(lats, lons, level)
    return pack(level, np.clip(x, 0, (2 << level) - 1), np.clip(y, 0, (1 << level) - 1))


def wrap_cell_id(lats: np.ndarray, lons: np.ndarray, level: int) -> np.ndarray:
    """Join-grid cell id (edge rule ``wrap``: lon wraps, lat clamps), the
    twin of ``cells_sql.cell(..., "wrap")`` (NumPy's ``%`` is Spark's ``pmod``)."""
    return _wrap(level, *_grid_xy(lats, lons, level))


def _wrap(level: int, x: np.ndarray, y: np.ndarray) -> np.ndarray:
    return pack(level, x % (2 << level), np.clip(y, 0, (1 << level) - 1))


def cell_id_h3res(lats: np.ndarray, lons: np.ndarray, h3_res: int) -> np.ndarray:
    return cell_id(lats, lons, H3_RES_TO_LEVEL[h3_res])


def cell_level(cells: np.ndarray) -> np.ndarray:
    return (np.asarray(cells, dtype=np.int64) >> LEVEL_SHIFT).astype(np.int64)


def cell_xy(cells: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    c = np.asarray(cells, dtype=np.int64)
    return (c >> X_SHIFT) & XY_MASK, c & XY_MASK


def parent_cell(cells: np.ndarray, parent_level: int) -> np.ndarray:
    """Ancestor cell at a coarser level (hierarchy rollup, SURVEY.md A10)."""
    c = np.asarray(cells, dtype=np.int64)
    lvl = cell_level(c)
    d = lvl - np.int64(parent_level)
    if np.any(d < 0):
        raise ValueError("parent_level must be coarser (smaller) than cell level")
    x, y = cell_xy(c)
    return pack(parent_level, x >> d, y >> d)


def cell_center(cells: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    c = np.asarray(cells, dtype=np.int64)
    lvl = cell_level(c)
    w = 180.0 / (np.int64(1) << lvl).astype(np.float64)
    x, y = cell_xy(c)
    return (y.astype(np.float64) + 0.5) * w - 90.0, (x.astype(np.float64) + 0.5) * w - 180.0


def k_ring(cells: np.ndarray, k: int = 1) -> np.ndarray:
    """(n, (2k+1)**2) neighbor ids incl. self; lon wraps, lat clips (clipped
    rows repeat the home cell so the output stays rectangular — callers
    dedup via distinct())."""
    c = np.asarray(cells, dtype=np.int64)
    lvl = cell_level(c)
    x, y = cell_xy(c)
    nx = (np.int64(2) << lvl)
    ny = (np.int64(1) << lvl)
    offs = np.arange(-k, k + 1, dtype=np.int64)
    dx = np.repeat(offs, 2 * k + 1)
    dy = np.tile(offs, 2 * k + 1)
    X = (x[:, None] + dx[None, :]) % nx[:, None]
    Y = y[:, None] + dy[None, :]
    valid = (Y >= 0) & (Y < ny[:, None])
    X = np.where(valid, X, x[:, None])
    Y = np.where(valid, Y, y[:, None])
    return pack(lvl[:, None], X, Y)


def join_grid_level(radius_m: float, max_abs_lat_deg: float) -> int:
    """Deepest level whose cell edge ≥ radius in BOTH axes anywhere in the
    data's latitude band — guarantees ε-pairs share a ring-1 neighborhood."""
    max_abs_lat_deg = min(abs(max_abs_lat_deg), 89.0)
    coslat = max(np.cos(np.radians(max_abs_lat_deg)), 0.01)
    need_deg = max(radius_m / _M_PER_DEG_LAT, radius_m / (_M_PER_DEG_LON_EQ * coslat))
    level = int(np.floor(np.log2(180.0 / need_deg)))
    return max(0, min(MAX_LEVEL, level))


def polyline_coverings(
    lat_arrays: list, lon_arrays: list, level: int
) -> list[np.ndarray]:
    """Per-polyline sorted distinct covering cells (bit-identical to the
    Catalyst ``cells_sql.polyline_cover`` expression: every level-``level`` cell
    each segment's bbox overlaps, no wrap/clip, array_sort(array_distinct)).

    Fully vectorized across ALL segments of the batch — one offsets trick
    generates every (segment, cell) pair without a per-segment loop; the
    only Python-level loop is the final np.split into per-line arrays. The
    interpreted nested-HOF Catalyst expression costs 100-400 µs/edge on
    real kilometric edges (round-3 measurement: it WAS the pipeline tail,
    130-385 s at 1M edges); this kernel replaces it on the pipeline path.
    """
    n_lines = len(lat_arrays)
    if n_lines == 0:
        return []
    nv = np.fromiter((len(a) for a in lat_arrays), dtype=np.int64, count=n_lines)
    flat_la = np.concatenate([np.asarray(a, dtype=np.float64) for a in lat_arrays])
    flat_lo = np.concatenate([np.asarray(a, dtype=np.float64) for a in lon_arrays])
    ends = np.cumsum(nv)
    seg_mask = np.ones(flat_la.shape[0], dtype=bool)
    seg_mask[ends - 1] = False  # last vertex of each line starts no segment
    i1 = np.nonzero(seg_mask)[0]
    i2 = i1 + 1
    line_of_seg = np.repeat(np.arange(n_lines), np.maximum(nv - 1, 0))

    x0, y0 = _grid_xy(np.minimum(flat_la[i1], flat_la[i2]), np.minimum(flat_lo[i1], flat_lo[i2]), level)
    x1, y1 = _grid_xy(np.maximum(flat_la[i1], flat_la[i2]), np.maximum(flat_lo[i1], flat_lo[i2]), level)
    ys = y1 - y0 + 1
    nc = (x1 - x0 + 1) * ys
    tot = int(nc.sum())
    if tot == 0:
        return [np.empty(0, dtype=np.int64) for _ in range(n_lines)]
    seg_idx = np.repeat(np.arange(nc.shape[0]), nc)
    off = np.arange(tot, dtype=np.int64) - np.repeat(np.cumsum(nc) - nc, nc)
    cx = x0[seg_idx] + off // ys[seg_idx]
    cy = y0[seg_idx] + off % ys[seg_idx]
    cell = pack(level, cx, cy)
    line = line_of_seg[seg_idx]

    order = np.lexsort((cell, line))
    l_s, c_s = line[order], cell[order]
    keep = np.ones(tot, dtype=bool)
    keep[1:] = (l_s[1:] != l_s[:-1]) | (c_s[1:] != c_s[:-1])
    l_k, c_k = l_s[keep], c_s[keep]
    cuts = np.searchsorted(l_k, np.arange(1, n_lines))
    return np.split(c_k, cuts)


def _segments_hit_boxes(
    sx1: np.ndarray,
    sy1: np.ndarray,
    sx2: np.ndarray,
    sy2: np.ndarray,
    bx0: np.ndarray,
    by0: np.ndarray,
    w: float,
) -> np.ndarray:
    """any-segment-intersects-box per box (Liang-Barsky slab clip, fully
    broadcast over boxes × segments). Boxes are [bx0, bx0+w]×[by0, by0+w];
    boundaries inclusive. A segment fully inside a box also hits."""
    dx = (sx2 - sx1)[None, :]
    dy = (sy2 - sy1)[None, :]
    x1 = sx1[None, :]
    y1 = sy1[None, :]
    shape = (bx0.shape[0], sx1.shape[0])
    t0 = np.zeros(shape)
    t1 = np.ones(shape)
    ok = np.ones(shape, dtype=bool)
    for p, q in (
        (-dx, x1 - bx0[:, None]),
        (dx, bx0[:, None] + w - x1),
        (-dy, y1 - by0[:, None]),
        (dy, by0[:, None] + w - y1),
    ):
        p = np.broadcast_to(p, shape)
        q = np.broadcast_to(q, shape)
        par = p == 0.0
        ok &= ~(par & (q < 0.0))  # parallel to this slab and outside it
        with np.errstate(divide="ignore", invalid="ignore"):
            t = q / p
        t0 = np.where(~par & (p < 0.0), np.maximum(t0, t), t0)
        t1 = np.where(~par & (p > 0.0), np.minimum(t1, t), t1)
    return np.any(ok & (t0 <= t1), axis=1)


def polygon_covering(ring_lats: np.ndarray, ring_lons: np.ndarray, level: int) -> np.ndarray:
    """Cells at ``level`` that actually intersect the polygon — a TIGHT
    covering (the S2-covering analog the north_star names), not the bbox
    meshgrid: for a concave basin the bbox variant multiplies downstream
    point-in-polygon candidates several-fold (VERDICT r2 missing 2).

    Keep a cell iff its center is inside the ring (cells wholly interior)
    OR any ring edge intersects the cell rectangle (cells the boundary
    passes through — Liang-Barsky, which also covers ring vertices/edges
    lying inside the cell). Conservative-complete: if cell ∩ polygon ≠ ∅
    then either the ring boundary crosses the cell (second test) or the
    cell lies entirely inside (first test). Output ids are normalized like
    the join-grid exprs (lon wrap, lat clip) and deduplicated."""
    ring_lats = np.asarray(ring_lats, dtype=np.float64)
    ring_lons = np.asarray(ring_lons, dtype=np.float64)
    if ring_lats.shape[0] >= 2 and (
        ring_lats[0] == ring_lats[-1] and ring_lons[0] == ring_lons[-1]
    ):
        ring_lats, ring_lons = ring_lats[:-1], ring_lons[:-1]
    w = cell_width_deg(level)
    (x0, x1), (y0, y1) = _grid_xy(
        [ring_lats.min(), ring_lats.max()], [ring_lons.min(), ring_lons.max()], level
    )
    X, Y = np.meshgrid(np.arange(x0, x1 + 1), np.arange(y0, y1 + 1))
    X, Y = X.ravel(), Y.ravel()

    bx0 = X.astype(np.float64) * w - 180.0
    by0 = Y.astype(np.float64) * w - 90.0
    from .geometry import points_in_polygon

    center_in = points_in_polygon(by0 + 0.5 * w, bx0 + 0.5 * w, ring_lats, ring_lons)
    boundary_hit = _segments_hit_boxes(
        ring_lons,
        ring_lats,
        np.roll(ring_lons, -1),
        np.roll(ring_lats, -1),
        bx0,
        by0,
        w,
    )
    keep = center_in | boundary_hit
    return np.unique(_wrap(level, X[keep], Y[keep]))
