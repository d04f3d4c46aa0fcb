"""Steps 1 / 1.5 / 1.75 — coordinate cleaning, simplification, intersections.

- ``clean_simplify_concat``: consecutive-dup removal (reference :1586-1589)
  + Douglas-Peucker (:1710-1749), the fused assembly kernel's NumPy core.
- ``detect_intersections`` (J5+F5): ways → segments (pure Catalyst) →
  bbox-cover cell assignment (pure Catalyst ``sequence``/bit-ops explodes) →
  cell self-join with ``way_a < way_b`` → exact vectorized segment math in an
  Arrow UDF → distinct intersection points. The cell cover replaces the
  reference's R-tree bbox prefilter (:1833-1863); because each segment is
  assigned EVERY cell its (tolerance-padded) bbox overlaps, two intersecting
  segments always share the cell containing their intersection point, so the
  equi-join candidate set is a superset of the true pairs.
- ``insert_intersections`` (W1): candidate points are cell-joined back to
  ways, grouped per way, and inserted by arc-length position in an Arrow
  kernel that replicates the reference's insertion quirks
  (functions.geometry.insert_points_on_line, reference :2039-2152).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import EngineConfig
from ..functions import cells_sql
from ..functions.geometry import M_TO_DEG, insert_points_on_line, segment_intersections
from ..functions.tiling import cell_width_deg

WAYS_SCHEMA = "way_id long, lats array<double>, lons array<double>, tags map<string,string>"

# Quad level for segment-pair candidate cells: 0.0027° ≈ 300 m cells.
# The cell self-join's inner loop iterates sum(n_cell²) row combinations
# (the way_a<way_b condition filters AFTER generation), so the level trades
# that quadratic term against linearly more exploded cover rows. Measured on
# the 100k-doc corpus (8.4M segments): level 14 → 1726M combos / 9.1M rows;
# 16 → 487M / 12.1M; 17 → 283M / 18M; 18 → 201M / 36M. Level 16 minimizes
# wall time — the combo stream is the pipeline's largest intermediate and
# was the one stage whose cost didn't drop with more cores at level 14.
# Correctness is level-independent: two intersecting segments always share
# the cell containing their intersection point (see detect_intersections).
INTERSECT_CELL_LEVEL = 16


def clean_simplify_concat(
    la: np.ndarray,
    lo: np.ndarray,
    offsets: np.ndarray,
    simplify_on: bool,
    tol_deg: float,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """P2-P4 + F4 (consecutive-dup removal, optional DP simplify, <2-vertex
    drop) over W concatenated ways.

    ``offsets`` (len W+1) bounds way w as [offsets[w], offsets[w+1]); every
    way must have ≥1 vertex. Returns (la_out, lo_out, out_offsets,
    way_keep_mask) where ``way_keep_mask`` (len W) marks ways that survive
    the <2-vertex drops. Same per-way semantics as the scalar oracle
    ``clean_simplify_arrays`` (tests/unfused_assembly.py) — DP masks from
    ``simplify_dp_batch`` are bit-identical, endpoints preserved — but
    every step is one whole-batch NumPy pass instead of a per-way Python
    loop (round-6 profile: the per-way loop spent ~8 µs/vertex of
    small-slice overhead, 92% of the fused assembly kernel; guide §4.2)."""
    from ..functions.geometry import simplify_dp_batch

    la = np.ascontiguousarray(la, dtype=np.float64)
    lo = np.ascontiguousarray(lo, dtype=np.float64)
    offsets = np.asarray(offsets, dtype=np.int64)
    n = la.shape[0]
    w = offsets.shape[0] - 1
    if w <= 0 or n == 0:
        return la[:0], lo[:0], np.zeros(1, dtype=np.int64), np.zeros(0, dtype=bool)
    starts, ends = offsets[:-1], offsets[1:]
    lens = ends - starts
    keep = np.ones(n, dtype=bool)
    if n > 1:
        keep[1:] = ~((la[1:] == la[:-1]) & (lo[1:] == lo[:-1]))
    keep[starts] = True  # way-first vertices: never compared across ways
    lens_kept = np.add.reduceat(keep.astype(np.int64), starts)
    way_ok = lens_kept >= 2
    keep &= np.repeat(way_ok, lens)
    la2, lo2 = la[keep], lo[keep]
    offs2 = np.concatenate(
        [np.zeros(1, dtype=np.int64), np.cumsum(lens_kept[way_ok])]
    )
    if not simplify_on or la2.shape[0] == 0:
        return la2, lo2, offs2, way_ok
    m = simplify_dp_batch(la2, lo2, offs2, tol_deg)
    lens3 = np.add.reduceat(m.astype(np.int64), offs2[:-1])
    offs3 = np.concatenate([np.zeros(1, dtype=np.int64), np.cumsum(lens3)])
    # DP keeps both endpoints, so no way can fall below 2 vertices here —
    # the scalar kernel's post-simplify <2 drop is unreachable for n ≥ 2
    return la2[m], lo2[m], offs3, way_ok


def _segments(ways: DataFrame) -> DataFrame:
    """Explode ways into segments — pure Catalyst (no Python)."""
    return ways.select(
        "way_id",
        F.expr(
            "posexplode(transform(slice(lats, 1, size(lats)-1), (x, i) -> "
            "struct(x as lat1, lons[i] as lon1, "
            "element_at(lats, i+2) as lat2, element_at(lons, i+2) as lon2)))"
        ).alias("seg_idx", "seg"),
    ).select("way_id", "seg_idx", "seg.*")


def _seg_bbox(pad_deg: float) -> tuple[str, str, str, str]:
    """(lat_lo, lat_hi, lon_lo, lon_hi) of a segment row's bbox padded by
    ``pad_deg``, as SQL, for ``cells_sql.explode_cover``."""
    return (
        f"least(lat1, lat2) - {pad_deg!r}D",
        f"greatest(lat1, lat2) + {pad_deg!r}D",
        f"least(lon1, lon2) - {pad_deg!r}D",
        f"greatest(lon1, lon2) + {pad_deg!r}D",
    )


DENSE_CELL_SPLIT_LEVELS = 3  # dense cells re-split 8× finer per axis


def _resplit_dense_cells(
    covered: DataFrame, level: int, cap: int, pad_deg: float
) -> DataFrame:
    """Skew defense for the segment-pair self-join: the per-cell candidate
    count is quadratic in per-cell segment count, so any cell whose segment
    count exceeds ``cap`` has its segments re-covered at ``level + 3`` (8×
    finer per axis), restricted to child cells of the dense parent.

    Completeness is preserved per region: an intersecting pair inside a dense
    cell has the intersection point inside both padded bboxes, so both
    segments cover the CHILD cell containing the point and still meet in the
    equi-join. Mixed-level cell ids never collide (level lives in the id's
    high bits)."""
    counts = covered.groupBy("cell").agg(F.count("*").alias("_n"))
    dense = counts.where(F.col("_n") > cap).select("cell").withColumn(
        "_dense", F.lit(True)
    )
    flagged = covered.join(F.broadcast(dense), "cell", "left")
    keep = flagged.where(F.col("_dense").isNull()).drop("_dense")
    split = (
        flagged.where(F.col("_dense").isNotNull())
        .drop("_dense")
        .withColumnRenamed("cell", "_parent")
    )
    deep_level = level + DENSE_CELL_SPLIT_LEVELS
    deep = cells_sql.explode_cover(split, *_seg_bbox(pad_deg), deep_level)
    deep = deep.where(
        cells_sql.parent("cell", deep_level, level) == F.col("_parent")
    ).drop("_parent")
    return keep.unionByName(deep)


def _intersect_catalyst(pairs: DataFrame) -> DataFrame:
    """Exact segment-pair intersection test as PURE Catalyst expressions —
    the JVM-side twin of ``functions.geometry.segment_intersections``.

    The candidate-pair table is the largest intermediate of the whole
    pipeline (cell-join output is quadratic in per-cell density; measured
    ~52% of the 100k-doc pipeline wall when every pair's 8 doubles round-
    tripped Arrow→pandas→Arrow). The test itself is ~40 IEEE-double
    ops/row, so it belongs inside whole-stage codegen, not in Python.

    Bit-parity with the NumPy kernel holds because both sides execute the
    SAME operation dag in the same order on IEEE-754 doubles (no FMA
    fusion in either JVM codegen or NumPy ufuncs); comparisons that see
    NaN (t/u of parallel pairs) are guarded by ``nonpar`` exactly like the
    kernel's masks, so Spark's NaN-is-largest ordering never leaks into
    ``hit``. Pinned by test_catalyst_intersect_matches_numpy_kernel.

    Input columns: a_lat1..a_lon2, b_lat1..b_lon2 (+ passthrough).
    Output: input columns + hit boolean, plat, plon.

    The layers are authored as SQL strings (selectExpr), not stacked Column
    DSL ops: the DSL version of this ~60-expression dag cost ~5,000 py4j
    socket round-trips ≈ 6 s of DRIVER-SERIAL wall per pipeline run
    (round-5 event-log audit: an 9 s zero-task hole between the covered
    stage and the intersections job — pure Amdahl serial fraction that
    capped N→4N scaling). One JVM parse per layer builds the IDENTICAL
    Catalyst tree (CASE WHEN ↔ when/otherwise, D-suffixed double literals ↔
    F.lit(float)), so bit-parity with the NumPy kernel is unchanged —
    pinned by test_catalyst_intersect_matches_numpy_kernel.
    """
    d = pairs.selectExpr(
        "*",
        "a_lon2 - a_lon1 AS rx",
        "a_lat2 - a_lat1 AS ry",
        "b_lon2 - b_lon1 AS sx",
        "b_lat2 - b_lat1 AS sy",
        "b_lon1 - a_lon1 AS qpx",
        "b_lat1 - a_lat1 AS qpy",
    )
    d = d.selectExpr(
        "*",
        "rx * sy - ry * sx AS denom",
        "rx * rx + ry * ry AS r_len_sq",
        "sqrt((rx * rx + ry * ry) * (sx * sx + sy * sy)) AS scale",
    )
    d = d.selectExpr("*", "abs(denom) > 1e-9D * scale AS nonpar")
    d = d.selectExpr(
        "*",
        "CASE WHEN nonpar THEN (qpx * sy - qpy * sx) / denom"
        " ELSE double('NaN') END AS t0",
        "CASE WHEN nonpar THEN (qpx * ry - qpy * rx) / denom"
        " ELSE double('NaN') END AS u0",
        # collinear single-point touch: project B's endpoints onto A
        "abs(qpx * ry - qpy * rx)"
        " / (CASE WHEN r_len_sq > 0D THEN sqrt(r_len_sq) ELSE 1.0D END) AS lateral",
        "CASE WHEN r_len_sq > 0D THEN (qpx * rx + qpy * ry) / r_len_sq"
        " ELSE double('Infinity') END AS tb1",
        "CASE WHEN r_len_sq > 0D THEN"
        " ((b_lon2 - a_lon1) * rx + (b_lat2 - a_lat1) * ry) / r_len_sq"
        " ELSE double('Infinity') END AS tb2",
    )
    d = d.selectExpr(
        "*",
        "greatest(0.0D, least(tb1, tb2)) AS lo",
        "least(1.0D, greatest(tb1, tb2)) AS hi",
    )
    d = d.selectExpr(
        "*",
        "(NOT nonpar) AND r_len_sq > 0D"
        " AND lateral <= 1e-9D * greatest(sqrt(r_len_sq), 1e-300D)"
        " AND hi - lo >= -1e-9D AND hi - lo <= 1e-9D AS touch",
    )
    clip01 = "least(greatest({c}, 0.0D), 1.0D)"
    d = d.selectExpr(
        "*",
        "CASE WHEN touch THEN "
        + clip01.format(c="(lo + hi) / 2.0D")
        + " ELSE t0 END AS t",
        "CASE WHEN touch THEN (CASE WHEN "
        f"abs(tb1 - {clip01.format(c='tb1')}) <= abs(tb2 - {clip01.format(c='tb2')})"
        " THEN 0.0D ELSE 1.0D END) ELSE u0 END AS u",
    )
    # interpolate, then snap exact endpoint touches to the input vertices
    # (same override order as the kernel: t first, u takes precedence)
    lat_i = "CASE WHEN t = 0.0D THEN a_lat1 WHEN t = 1.0D THEN a_lat2 ELSE a_lat1 + t * ry END"
    lon_i = "CASE WHEN t = 0.0D THEN a_lon1 WHEN t = 1.0D THEN a_lon2 ELSE a_lon1 + t * rx END"
    return d.selectExpr(
        "*",
        "(nonpar AND t >= 0.0D AND t <= 1.0D AND u >= 0.0D AND u <= 1.0D)"
        " OR touch AS hit",
        f"CASE WHEN u = 0.0D THEN b_lat1 WHEN u = 1.0D THEN b_lat2 ELSE {lat_i} END AS plat",
        f"CASE WHEN u = 0.0D THEN b_lon1 WHEN u = 1.0D THEN b_lon2 ELSE {lon_i} END AS plon",
    ).drop(
        "rx", "ry", "sx", "sy", "qpx", "qpy", "denom", "r_len_sq", "scale",
        "nonpar", "t0", "u0", "lateral", "tb1", "tb2", "lo", "hi", "touch", "t", "u",
    )


def _covered_for_join(ways: DataFrame, config: EngineConfig) -> DataFrame:
    """The covered-segment table every intersect join consumes: pad-0 bbox
    cover + dense-cell resplit, fixed projection.

    detect_intersections' self-join uses it for BOTH sides and
    insert_intersections joins points against it. Within detect's self-join
    Catalyst's ReuseExchange computes and shuffles the subtree ONCE (pinned
    by test_detect_intersections_plan_reuses_exchange) — but ACROSS the
    composed detect→insert plan, column pruning narrows insert's copy to
    (cell, way_id), the exchange subtrees stop being identical, and the
    whole scan+explode lineage runs AGAIN (measured round 5: a duplicate
    52-CPU-s build at 100k docs, the single biggest avoidable cost of the
    intersections stage). The pipeline therefore materializes this table
    once per stage (WaterwayEngine._covered_stage) and passes it to both
    operators via their ``covered=`` parameter; plan-level reuse remains
    the fallback for standalone calls."""
    return _covered_resplit(_covered_raw(ways), config)


def _covered_raw(ways: DataFrame) -> DataFrame:
    """Segments + base-level pad-0 cover, before the dense-cell resplit —
    the scan+explode part of the covered lineage, kept apart so a test can
    measure the per-cell fan-out the resplit cuts. The pipeline cuts only
    the final covered table (``WaterwayEngine._covered_stage``): the
    resplit's three consumers (per-cell counts, kept branch, re-covered
    dense branch) re-run this JVM lineage inside that one cut job, which
    costs less than a raw round-trip (round-6 A/B at 100k docs: 2313 → 1403
    task-s per pass; OPTIMIZATION_r06.md)."""
    segs = _segments(ways)
    return cells_sql.explode_cover(segs, *_seg_bbox(0.0), INTERSECT_CELL_LEVEL).select(
        "cell", "way_id", "lat1", "lon1", "lat2", "lon2"
    )


def _covered_resplit(raw: DataFrame, config: EngineConfig) -> DataFrame:
    """Dense-cell resplit + fixed projection over a _covered_raw table."""
    return _resplit_dense_cells(
        raw, INTERSECT_CELL_LEVEL, config.intersect_cell_cap, 0.0
    ).select("cell", "way_id", "lat1", "lon1", "lat2", "lon2")


def detect_intersections(
    ways: DataFrame,
    config: EngineConfig,
    keep_way_ids: bool = False,
    covered: DataFrame | None = None,
) -> DataFrame:
    """→ DataFrame(plat double, plon double): distinct intersection points.
    With ``keep_way_ids`` also returns (way_a, way_b) per point — used by the
    QA crossing-edges check to attribute unsplit crossings to edges.

    ``covered`` optionally supplies a pre-materialized covered-segment
    table (see _covered_for_join) shared with insert_intersections."""
    if covered is None:
        covered = _covered_for_join(ways, config)
    # TRUE self-join (identical projections on both sides) so Catalyst's
    # ReusedExchange computes + shuffles the covered-segment lineage —
    # including the resplit's per-cell count aggregation — ONCE instead of
    # once per side; the aliases are applied AFTER the join. Pinned by
    # test_detect_intersections_plan_reuses_exchange.
    a, b = covered.alias("a"), covered.alias("b")
    # NOTE: pairs sharing several cover cells are tested more than once — the
    # exact kernel is cheap and vectorized, and the output points are
    # distinct()ed below, so skipping a wide 8-double dedup shuffle here wins.
    # shuffle_hash: both sides come out of the SAME reused exchange; hashing
    # one partition-copy beats the SMJ's two 12M-row sorts whose ordering no
    # downstream operator uses (guide §3.1; interleaved A/B at 100k docs).
    pairs = (
        a.join(b.hint("shuffle_hash"), F.col("a.cell") == F.col("b.cell"))
        .where(F.col("a.way_id") < F.col("b.way_id"))
        .select(
            F.col("a.way_id").alias("way_a"),
            F.col("a.lat1").alias("a_lat1"), F.col("a.lon1").alias("a_lon1"),
            F.col("a.lat2").alias("a_lat2"), F.col("a.lon2").alias("a_lon2"),
            F.col("b.way_id").alias("way_b"),
            F.col("b.lat1").alias("b_lat1"), F.col("b.lon1").alias("b_lon1"),
            F.col("b.lat2").alias("b_lat2"), F.col("b.lon2").alias("b_lon2"),
        )
    )

    # Whole-stage-codegen barrier: fused into ONE codegen region with the
    # join and the distinct's partial hash aggregate, the ~60-expression
    # exact test generates a >64 KB consume method that Janino REJECTS
    # ("Code grows beyond 64 KB", ~24k generated lines measured) — Spark
    # then burns tens of driver seconds on the doomed compile (59 s per
    # fresh JVM at 100k docs, the same serial cost on every leg of a
    # scaling session) before silently re-running the subtree without
    # fusion. A narrow no-shuffle coalesce() splits the region instead:
    # the join compiles alone, and the exact test + hit explode + partial
    # agg compile as their own stage, where row-input expression splitting
    # keeps every method small. The huge target never reduces parallelism
    # (coalesce only ever lowers a partition count). Pinned by
    # tests/test_round5_hardening.py::test_intersections_compile_without_fallback.
    pairs = pairs.coalesce(1 << 20)

    # exact test JVM-side (whole-stage codegen) — bit-identical twin of the
    # NumPy segment_intersections kernel, which remains the oracle/test path.
    #
    # Hits are emitted through explode(when(hit, array(struct))), NOT
    # where(hit): a Filter above the projection cascade gets rewritten by
    # PushDownPredicates through every Project (and through the coalesce)
    # into the JOIN CONDITION, alias-substituting the whole ~40-op exact
    # test with NO subexpression sharing — a 24 KB single expression (every
    # `rx` re-expanded to its defining subtraction, `r_len_sq` dozens of
    # times) evaluated once per candidate pair, with the cascade above then
    # recomputing t/u/plat/plon anyway. Measured: the 4-CPU 100k-doc
    # intersections stage ran 354-416 s under that plan vs ~59 s without
    # it, and the 400k-doc anchor crawled at any core count. A Generate is
    # opaque to predicate pushdown (and Spark does not infer a size()>0
    # filter for a conditional-array child), so the join keeps its cheap
    # (cell, way_a < way_b) condition and the exact test evaluates ONCE per
    # pair with shared intermediates. Pinned by
    # tests/test_catalyst_intersect.py::test_exact_test_not_pushed_into_join.
    tested = _intersect_catalyst(pairs)
    hits = tested.select(
        "way_a",
        "way_b",
        F.explode(
            F.when(
                F.col("hit"), F.array(F.struct(F.col("plat"), F.col("plon")))
            ).otherwise(F.lit(None))
        ).alias("_pt"),
    )
    plat = F.col("_pt.plat").alias("plat")
    plon = F.col("_pt.plon").alias("plon")
    if keep_way_ids:
        return hits.select("way_a", "way_b", plat, plon).distinct()
    return hits.select(plat, plon).distinct()


def insert_intersections(
    ways: DataFrame,
    points: DataFrame,
    config: EngineConfig,
    covered: DataFrame | None = None,
) -> DataFrame:
    """Insert candidate points (within snap-tolerance degrees) into each way.

    Candidate (way, point) matching consumes THE SAME covered-segment table
    the detect self-join shuffles instead of re-exploding every segment
    with a tol-padded bbox cover — pass it pre-materialized via ``covered``
    (the pipeline does; without it, Catalyst's column pruning rebuilds the
    scan+explode lineage for this join, see _covered_for_join). The points
    side explodes to its 3×3 cell ring at each cover level present (base +
    resplit-deep).

    Candidate-superset proof: a point P within tol of a way has an on-way
    point Q with |P−Q|∞ ≤ tol_deg. Q lies inside the way's bbox, so Q's cell
    is in the way's pad-0 cover at whichever level the way's rows carry
    (base everywhere; deep inside formerly-dense parents). tol_deg ≤ the
    cell width at every level used, so Q's cell is in P's 3×3 ring at that
    level. Extreme snap-tolerance configs where tol exceeds the deep-level
    cell width fall back to the original padded-cover join (same output:
    insert_points_on_line drops any candidate farther than tol anyway).
    """
    tol_deg = config.snap_tolerance_m * M_TO_DEG
    precision = config.coordinate_precision

    deep_level = INTERSECT_CELL_LEVEL + DENSE_CELL_SPLIT_LEVELS
    if tol_deg <= cell_width_deg(deep_level):
        if covered is None:
            covered = _covered_for_join(ways, config)
        rings = points.select(
            "plat",
            "plon",
            F.explode(
                F.concat(
                    cells_sql.ring("plat", "plon", INTERSECT_CELL_LEVEL, "raw"),
                    cells_sql.ring("plat", "plon", deep_level, "raw"),
                )
            ).alias("cell"),
        )
        matched = covered.join(rings, "cell").select("way_id", "plat", "plon")
    else:
        segs = _segments(ways)
        covered_pad = cells_sql.explode_cover(
            segs, *_seg_bbox(tol_deg), INTERSECT_CELL_LEVEL
        ).select("cell", "way_id")
        pts_cells = points.select(
            "plat",
            "plon",
            cells_sql.cell("plat", "plon", INTERSECT_CELL_LEVEL, "raw").alias("cell"),
        )
        matched = covered_pad.join(pts_cells, "cell").select("way_id", "plat", "plon")

    cand = (
        matched.distinct()
        .groupBy("way_id")
        .agg(F.collect_list(F.struct("plat", "plon")).alias("cand_pts"))
    )
    # Shuffled hash join, not sort-merge: the build side (cand — one row
    # per way that has candidate points, bounded by real crossings) is
    # small per partition, and the probe side is the FULL way-geometry
    # table whose coordinate-array payload the SMJ would otherwise sort
    # (guide §3.1; interleaved A/B at 100k docs: the sort-free plan wins
    # and the ordering of the heavy rows buys nothing downstream).
    enriched = ways.join(cand.hint("shuffle_hash"), "way_id", "left")

    def kernel(batches):
        # ways WITHOUT candidate points (the vast majority — candidates are
        # bounded by real crossings) pass through as a column slice with no
        # per-way Python at all; only candidate-carrying ways run the
        # insertion loop. Row order within the stage changes (pass-through
        # block first per batch) — consumed only by joins/aggregations.
        for pdf in batches:
            cand_col = pdf["cand_pts"]
            mask = np.fromiter(
                (c is not None and len(c) > 0 for c in cand_col),
                dtype=bool,
                count=len(pdf),
            )
            if not mask.all():
                yield pdf.loc[~mask, ["way_id", "lats", "lons", "tags"]]
            if not mask.any():
                continue
            sub = pdf.loc[mask]
            out = {"way_id": [], "lats": [], "lons": [], "tags": []}
            for way_id, lats, lons, tags, cand_pts in zip(
                sub["way_id"], sub["lats"], sub["lons"], sub["tags"], sub["cand_pts"]
            ):
                la = np.asarray(lats, dtype=np.float64)
                lo = np.asarray(lons, dtype=np.float64)
                coords = np.stack([la, lo], axis=1)
                pts = np.array(
                    [[p["plat"], p["plon"]] for p in cand_pts], dtype=np.float64
                )
                new = insert_points_on_line(coords, pts, tol_deg, precision)
                la, lo = new[:, 0], new[:, 1]
                out["way_id"].append(way_id)
                out["lats"].append(la)
                out["lons"].append(lo)
                out["tags"].append(tags)
            yield pd.DataFrame(out)

    return enriched.mapInPandas(kernel, schema=WAYS_SCHEMA)
