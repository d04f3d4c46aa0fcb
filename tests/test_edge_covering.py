"""Per-edge S2-style covering (north_star: every edge gets an H3 cell AND a
covering). Catalyst expression vs a NumPy oracle over segment bboxes."""

import numpy as np

from osmwaterwayextractor_spark.config import EngineConfig
from osmwaterwayextractor_spark.functions.tiling import (
    H3_RES_TO_LEVEL,
    LEVEL_SHIFT,
    X_SHIFT,
    cell_width_deg,
)
from osmwaterwayextractor_spark.operators.tiles import with_edge_covering

EDGE_SCHEMA = "id string, lats array<double>, lons array<double>"


def _oracle_covering(lats, lons, level):
    w = cell_width_deg(level)
    cells = set()
    for i in range(len(lats) - 1):
        xlo = int(np.floor((min(lons[i], lons[i + 1]) + 180.0) / w))
        xhi = int(np.floor((max(lons[i], lons[i + 1]) + 180.0) / w))
        ylo = int(np.floor((min(lats[i], lats[i + 1]) + 90.0) / w))
        yhi = int(np.floor((max(lats[i], lats[i + 1]) + 90.0) / w))
        for x in range(xlo, xhi + 1):
            for y in range(ylo, yhi + 1):
                cells.add((level << int(LEVEL_SHIFT)) | (x << int(X_SHIFT)) | y)
    return sorted(cells)


def test_edge_covering_matches_oracle(spark):
    edges = [
        ("a", [50.0, 50.01, 50.003], [13.0, 13.002, 13.02]),
        ("b", [52.0, 52.0001], [14.0, 14.0001]),       # single tiny segment
        ("c", [45.0, 45.1], [10.0, 10.3]),             # long diagonal, many cells
    ]
    df = spark.createDataFrame(edges, EDGE_SCHEMA)
    cfg = EngineConfig()
    level = H3_RES_TO_LEVEL[8]
    got = {r["id"]: list(r["covering"]) for r in with_edge_covering(df, cfg).collect()}
    for eid, lats, lons in edges:
        assert got[eid] == _oracle_covering(lats, lons, level), eid
    # the diagonal must cover strictly more cells than its endpoints alone
    assert len(got["c"]) > 2


def test_edge_covering_in_pipeline_output(spark):
    from osmwaterwayextractor_spark.plans.pipeline import WaterwayEngine
    from osmwaterwayextractor_spark.sources.docsgen import DocsGenParams, docs_dataframe

    docs = docs_dataframe(spark, 8, DocsGenParams(seed=3), partitions=2)
    g = WaterwayEngine(EngineConfig(filter_waterway_types=False)).build_graph(docs, spark)
    rows = g.edges.select("id", "covering", "cell_r8").collect()
    assert all(len(r["covering"]) >= 1 for r in rows)
    # the midpoint-vertex cell is always part of the covering
    assert all(r["cell_r8"] in set(r["covering"]) for r in rows)


def test_polyline_coverings_kernel_matches_catalyst_expr(spark):
    """The fused NumPy covering kernel (pipeline path) must be bit-identical
    to the Catalyst cells_sql.polyline_cover expression (SQL-checked query path)."""
    import numpy as np

    from osmwaterwayextractor_spark.functions.tiling import polyline_coverings

    rng = np.random.default_rng(7)
    edges = []
    for i in range(200):
        n = int(rng.integers(2, 12))
        la = 40.0 + rng.random() * 20 + np.cumsum(rng.normal(0, 0.004, n))
        lo = 5.0 + rng.random() * 30 + np.cumsum(rng.normal(0, 0.004, n))
        edges.append((str(i), la.tolist(), lo.tolist()))
    df = spark.createDataFrame(edges, EDGE_SCHEMA)
    level = H3_RES_TO_LEVEL[8]
    want = {
        r["id"]: list(r["covering"])
        for r in with_edge_covering(df, EngineConfig()).collect()
    }
    got = polyline_coverings(
        [np.array(e[1]) for e in edges], [np.array(e[2]) for e in edges], level
    )
    for (eid, _la, _lo), cells in zip(edges, got):
        assert cells.tolist() == want[eid], eid
