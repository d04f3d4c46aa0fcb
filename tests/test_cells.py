"""functions.cells_sql (the Spark cell-id expressions) against the NumPy
spec in functions.tiling, at random points and at every edge of the grid,
plus guards that the id layout is spelled out only in those two modules."""

import ast
from pathlib import Path

import numpy as np
import pytest

import osmwaterwayextractor_spark
from osmwaterwayextractor_spark.functions import cells_sql, tiling

LEVELS = (2, 5, 13, 15, 16)
NAN = float("nan")
# (lat, lon) at the poles, the antimeridian, past it, and NaN in each axis
EDGE_POINTS = [
    (90.0, 0.0), (-90.0, 0.0), (45.0, 180.0), (45.0, -180.0), (45.0, 190.0),
    (90.0, 180.0), (-90.0, -180.0), (90.0, 190.0), (NAN, 10.0), (10.0, NAN),
    (0.0, -530.0), (0.0, 540.0),
]


def _points():
    rng = np.random.default_rng(11)
    lat = np.concatenate([rng.uniform(-90, 90, 300), [p[0] for p in EDGE_POINTS]])
    lon = np.concatenate([rng.uniform(-180, 180, 300), [p[1] for p in EDGE_POINTS]])
    return lat, lon


@pytest.fixture(scope="module")
def point_exprs(spark):
    """Per level: the NumPy inputs and the collected Spark expressions."""
    lat, lon = _points()
    df = spark.createDataFrame(
        [(i, float(a), float(o)) for i, (a, o) in enumerate(zip(lat, lon))],
        "i int, lat double, lon double",
    )
    out = {}
    for level in LEVELS:
        parents = sorted({0, 2, level - 1})
        rows = (
            df.withColumn("home", cells_sql.cell("lat", "lon", level, "wrap"))
            .withColumn("clamp", cells_sql.cell("lat", "lon", level, "clamp"))
            .select(
                "i", "home", "clamp",
                cells_sql.cell("lat", "lon", level, "raw").alias("raw"),
                cells_sql.ring("lat", "lon", level, "wrap").alias("ring_wrap"),
                cells_sql.ring("lat", "lon", level, "raw").alias("ring_raw"),
                cells_sql.ring_of_cell("home", level).alias("ring_of_home"),
                *[cells_sql.parent("clamp", level, p).alias(f"p{p}") for p in parents],
            )
            .orderBy("i")
            .collect()
        )
        out[level] = (lat, lon, parents, rows)
    return out


@pytest.mark.parametrize("level", LEVELS)
def test_clamp_and_wrap_cells_equal_the_numpy_spec(point_exprs, level):
    lat, lon, _, rows = point_exprs[level]
    with np.errstate(invalid="ignore"):  # NaN → int64 in the spec
        want_clamp = tiling.cell_id(lat, lon, level)
        want_wrap = tiling.wrap_cell_id(lat, lon, level)
    assert [r["clamp"] for r in rows] == want_clamp.tolist()
    assert [r["home"] for r in rows] == want_wrap.tolist()


@pytest.mark.parametrize("level", LEVELS)
def test_ring_of_a_wrap_cell_is_its_k_ring(point_exprs, level):
    _, _, _, rows = point_exprs[level]
    homes = np.array([r["home"] for r in rows], dtype=np.int64)
    for r, want in zip(rows, tiling.k_ring(homes, 1)):
        assert set(r["ring_of_home"]) == set(want.tolist())
        assert len(r["ring_of_home"]) == len(set(r["ring_of_home"]))
        # a point's home is in its own ring, or its cluster has no owner block
        assert r["home"] in r["ring_wrap"]


@pytest.mark.parametrize("level", LEVELS)
def test_parent_equals_parent_cell(point_exprs, level):
    _, _, parents, rows = point_exprs[level]
    cells = np.array([r["clamp"] for r in rows], dtype=np.int64)
    for p in parents:
        assert [r[f"p{p}"] for r in rows] == tiling.parent_cell(cells, p).tolist()


@pytest.mark.parametrize("level", LEVELS)
def test_raw_cell_and_ring_are_unnormalised(point_exprs, level):
    lat, lon, _, rows = point_exprs[level]
    finite = np.isfinite(lat) & np.isfinite(lon)
    x, y = tiling._grid_xy(lat[finite], lon[finite], level)
    base = level << 52
    for r, xi, yi in zip([r for r, f in zip(rows, finite) if f], x.tolist(), y.tolist()):
        assert r["raw"] == base + (xi << 26) + yi
        assert r["ring_raw"] == [
            base + ((xi + dx) << 26) + yi + dy for dx in (-1, 0, 1) for dy in (-1, 0, 1)
        ]


def test_edge_rules_at_the_antimeridian_and_the_pole(point_exprs):
    lat, lon, _, rows = point_exprs[5]
    nx = 2 << 5
    at = {(a, o): r for a, o, r in zip(lat.tolist(), lon.tolist(), rows)}
    x_of = lambda c: (c >> 26) & ((1 << 26) - 1)  # noqa: E731
    assert x_of(at[(45.0, 180.0)]["clamp"]) == nx - 1
    assert x_of(at[(45.0, 180.0)]["home"]) == 0
    pole = at[(90.0, 0.0)]
    assert len(pole["ring_wrap"]) == 3
    assert len(pole["ring_of_home"]) == 6


def _segments():
    """Short segments at random and across the grid edges (no NaN: the
    NumPy cover kernel has no defined cell range for a NaN vertex)."""
    rng = np.random.default_rng(5)
    la1 = rng.uniform(-89.9, 89.9, 200)
    lo1 = rng.uniform(-179.9, 179.9, 200)
    segs = [
        (a, o, a + d1, o + d2)
        for a, o, d1, d2 in zip(la1, lo1, rng.uniform(-0.01, 0.01, 200), rng.uniform(-0.01, 0.01, 200))
    ]
    segs += [
        (90.0, 179.99, 89.99, 180.0), (-90.0, -180.0, -89.99, -179.99),
        (10.0, 189.99, 10.01, 190.0), (45.0, 179.995, 45.0, 180.0),
    ]
    return [tuple(float(v) for v in s) for s in segs]


@pytest.mark.parametrize("level", LEVELS)
def test_cover_range_equals_polyline_coverings(spark, level):
    segs = _segments()
    df = spark.createDataFrame(
        [(i, *s) for i, s in enumerate(segs)],
        "i int, lat1 double, lon1 double, lat2 double, lon2 double",
    )
    bbox = ("least(lat1, lat2)", "greatest(lat1, lat2)", "least(lon1, lon2)", "greatest(lon1, lon2)")
    arrays = {
        r["i"]: list(r["cells"])
        for r in df.select("i", cells_sql.cover_range(*bbox, level).alias("cells")).collect()
    }
    exploded = {}
    for r in cells_sql.explode_cover(df, *bbox, level).select("i", "cell").collect():
        exploded.setdefault(r["i"], []).append(r["cell"])
    polyline = {
        r["i"]: list(r["cells"])
        for r in df.select(
            "i", cells_sql.polyline_cover("array(lat1, lat2)", "array(lon1, lon2)", level).alias("cells")
        ).collect()
    }
    want = tiling.polyline_coverings(
        [np.array([s[0], s[2]]) for s in segs], [np.array([s[1], s[3]]) for s in segs], level
    )
    for i, cells in enumerate(want):
        assert sorted(arrays[i]) == cells.tolist() == polyline[i], segs[i]
        assert sorted(set(exploded[i])) == cells.tolist()
        assert exploded[i] == arrays[i]  # same rows, same order


# ---------------------------------------------------------------------------
# structure guards

PACKAGE = Path(osmwaterwayextractor_spark.__file__).parent
LAYOUT_OWNERS = {"functions/tiling.py", "functions/cells_sql.py"}
# DuckDB oracle strings: independent references the driver queries check
# the Spark side against, so they must not share its code
ORACLE_STRINGS = {("entry_queries.py", "_cell_sql"), ("entry_queries.py", "_sql_edge_covering")}


def _modules():
    for path in sorted(PACKAGE.rglob("*.py")):
        yield path.relative_to(PACKAGE).as_posix(), path.read_text()


def test_cell_layout_is_spelled_out_only_in_tiling_and_cells_sql():
    for rel, src in _modules():
        if rel in LAYOUT_OWNERS:
            continue
        lines = src.splitlines()
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, ast.FunctionDef) and (rel, node.name) in ORACLE_STRINGS:
                lines[node.lineno - 1 : node.end_lineno] = [""] * (node.end_lineno - node.lineno + 1)
        body = "\n".join(lines)
        for token in ("1 << 52", "LEVEL_SHIFT", "X_SHIFT", "XY_MASK"):
            assert token not in body, f"{rel} restates the cell-id layout ({token})"


def test_no_module_imports_a_private_cell_helper():
    for rel, src in _modules():
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, ast.ImportFrom):
                for alias in node.names:
                    assert not (
                        alias.name.startswith("_") and "cell" in alias.name
                    ), f"{rel} imports {alias.name} from {node.module}"
