"""Step 3 — ε-snap clustering (J3 + A7 + A5) in one shuffle.

The reference unions all endpoint/junction pairs within ``snap_tolerance_m``
with an R-tree + union-find and maps every member to the cluster's arithmetic
mean (osm_waterway_extractor.py:1253-1331). Here (``snap_map`` →
``_snap_map_blocks``):

1. **hot-point prune**: a point can join a cluster only if another point lies
   in its 3×3 neighbourhood on a grid whose cell edge covers the tolerance;
   every other point maps to itself.
2. **block replication (J3)**: hot points go to their home block and its
   ring-1 neighbours on a grid whose cell edge covers the guardrail's largest
   cluster diameter plus 2·tol — the R-tree prefilter replaced by one
   shuffle on the block id.
3. **block kernel (J3 + A7 + A5)**: one Arrow pass per partition finds each
   block's exact geodesic ε-pairs, unions them (union-find), and emits a
   cluster only from its minimum member's home block. The shared
   ``centroid_of_members`` summation order makes Spark and oracle centroids
   bit-identical.
4. **guardrail**: a member displaced past ``snap_tolerance_m ·
   max_displacement_multiplier`` aborts the build, like the reference
   (:1314-1317).

Returns the snap map (lat, lon, snap_lat, snap_lon) — identity rows included
(they double as the split-stage cut set, reference :2554-2559). Two
independent cross-check implementations (distributed label propagation and
driver union-find) live in tests/test_cluster_paths.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import EngineConfig
from ..functions import cells_sql
from ..functions.clustering import centroid_of_members
from ..functions.geodesy import geodesic_m
from ..functions.tiling import join_grid_level, wrap_cell_id
from ..sinks.table_sink import block_cut


# hot-block broadcast guard: the set of blocks with >=2 points in their 3x3
# neighborhood is bounded by the epsilon-pair population (the same quantity
# the mapping's block cut already assumes is executor-memory small), but
# at 10^12-doc scale a pathological corpus could blow it up — past this many
# blocks the prune falls back to a shuffle semi-join instead of a broadcast.
# 2M single-long rows ≈ 16 MB raw / low-hundreds-MB hashed relation: safe on
# a DEFAULT driver/executor heap, not just the bench's 48g (ADVICE r4 — the
# old 20M cap could build a multi-GB driver-side hashed relation).
HOT_BLOCK_BROADCAST_MAX = 2_000_000


def snap_map(points: DataFrame, config: EngineConfig, spark: SparkSession) -> DataFrame:
    """points(lat, lon) distinct → (lat, lon, snap_lat, snap_lon).

    Production path: ``_snap_map_blocks`` — a SINGLE-SHUFFLE exact
    ε-clustering. The displacement guardrail (reference :1314-1317) bounds
    every acceptable cluster's diameter at D = 2·tol·multiplier, so points
    replicated to their ring-1 blocks at a grid level whose cell edge is
    ≥ D + 2·tol make each cluster FULLY visible from its minimum member's
    home block:

    - if a block-local cluster's displacement ≤ tol·multiplier, its bbox is
      ≤ D, so any unseen ε-neighbor would lie within D + tol of the home
      block — inside the replicated halo — contradiction: the view is
      provably complete and the emitted centroid exact;
    - if the seen displacement exceeds the bound, the FULL cluster's
      displacement must too (a compliant full cluster would have been fully
      seen), which is exactly the reference's hard-abort case.

    No iterative label propagation, no pair collect to the driver — five
    driver actions total: the max|lat| agg, the hot-block set's cut and
    count, the small mapping's cut and the violation probe. Both cuts are
    ``sinks.table_sink.block_cut``s: serialized blocks, released with the
    snap map.
    """
    max_abs_lat = points.agg(F.max(F.abs(F.col("lat")))).collect()[0][0]
    identity = points.select(
        "lat", "lon", F.col("lat").alias("snap_lat"), F.col("lon").alias("snap_lon")
    )
    if max_abs_lat is None:  # empty input
        return identity
    mapping = block_cut(_snap_map_blocks(points, config, float(max_abs_lat)))
    # ordered top-1: one job at any partition count (a bare limit(1).collect
    # scans partitions incrementally, one job per round) and a deterministic
    # member to name
    bad = mapping.where(F.col("viol") == 1).orderBy("lat", "lon").limit(1).collect()
    if bad:
        # reference :1314-1317 — hard abort on displacement violations
        m = bad[0]
        disp = float(geodesic_m(m.lat, m.lon, m.snap_lat, m.snap_lon))
        bound = config.snap_tolerance_m * config.max_displacement_multiplier
        raise ValueError(
            "Cluster displacement exceeds safety threshold: member "
            f"({m.lat!r}, {m.lon!r}) snaps to centroid ({m.snap_lat!r}, "
            f"{m.snap_lon!r}), {disp:.6g} m > snap_tolerance_m * "
            f"max_displacement_multiplier = {bound:.6g} m"
        )
    return points.join(mapping.drop("viol"), ["lat", "lon"], "left").select(
        "lat",
        "lon",
        F.coalesce("snap_lat", "lat").alias("snap_lat"),
        F.coalesce("snap_lon", "lon").alias("snap_lon"),
    )


def _snap_map_blocks(
    points: DataFrame, config: EngineConfig, max_abs_lat: float
) -> DataFrame:
    """→ (lat, lon, snap_lat, snap_lon, viol) for every point in an ε-pair.

    Block grid: deepest level whose cell edge covers D + 2·tol in both axes
    at the data's max |lat| (functions.tiling.join_grid_level); each point
    lands in its home block and replicates to ring-1 neighbors. Per block,
    the oracle's vectorized grid-bucket ε-pair kernel + union-find +
    sorted-member centroid run in one Arrow pass; a cluster is emitted only
    by its minimum member's home block (no duplicates — see snap_map
    docstring for the completeness proof)."""
    tol = config.snap_tolerance_m
    r_disp = tol * config.max_displacement_multiplier
    halo_m = 2.0 * r_disp + 2.0 * tol
    level = join_grid_level(halo_m, max_abs_lat)

    # Hot-point prune AT TOLERANCE RESOLUTION: a point can belong to an
    # ε-pair only if some OTHER point lies within tol, and any such point's
    # cell AT A GRID WHOSE EDGE ≥ tol is adjacent (±1, wrapped/clamped) to
    # its own. Pruning at the coarse BLOCK grid (edge ≥ 2·r_disp + 2·tol,
    # several× tol) barely prunes — on the 100k-doc corpus it kept 730k hot
    # blocks and the kernel's per-block Python loop still dominated
    # (77 s of a 380 s 4-CPU leg). At the tol-level grid, "some other point
    # in my 3×3" approximates the actual ε-pair population, so the 9× ring
    # replication + block sort + per-block kernel only ever see genuine
    # cluster candidates; every pruned point provably joins no cluster and
    # the downstream left join defaults it to identity (identical output).
    # Cost: two map-combinable aggs over tiny (long, long) rows.
    prune_level = join_grid_level(tol, max_abs_lat)
    home_pts = points.select(
        "lat",
        "lon",
        cells_sql.cell("lat", "lon", prune_level, "wrap").alias("home"),
    )
    occ = home_pts.groupBy("home").agg(F.count("*").alias("cnt"))
    nbh = (
        occ.select(
            F.explode(cells_sql.ring_of_cell("home", prune_level)).alias("block"), "cnt"
        )
        .groupBy("block")
        .agg(F.sum("cnt").alias("nbh_cnt"))
    )
    # tiny; reused by the count + the join
    hot_blocks = block_cut(
        nbh.where(F.col("nbh_cnt") >= 2).select(F.col("block").alias("home"))
    )
    n_hot = hot_blocks.count()
    if n_hot <= HOT_BLOCK_BROADCAST_MAX:
        hot_blocks = F.broadcast(hot_blocks)
    hot = home_pts.join(hot_blocks, "home", "leftsemi").drop("home")

    # replication + cluster ownership stay at the BLOCK grid (edge ≥
    # D + 2·tol — the completeness proof's level); the prune level above is
    # only a point filter. The point's own home block is NOT shuffled — the
    # kernel recomputes it vectorized from (lat, lon) with the same "wrap"
    # edge rule (tiling.wrap_cell_id), saving 8 of 32 bytes per
    # replicated row across the exchange (guide §2.3 shuffle fewer bytes).
    replicated = hot.select(
        "lat",
        "lon",
        F.explode(cells_sql.ring("lat", "lon", level, "wrap")).alias("block"),
    )

    from ..functions.clustering import UnionFind, epsilon_pairs

    # blocks up to this size take the vectorized all-pairs path; bigger
    # blocks (dense areas) keep the per-block grid-bucket kernel whose
    # candidate count stays near-linear
    BRUTE_CAP = 48

    def _process(pdf: pd.DataFrame) -> pd.DataFrame:
        """Rows SORTED by block (one or many whole blocks) → emitted snap
        rows. Same output as the original per-block loop — the ε-pair set
        per block is exactly {(i,j): geodesic ≤ tol} and union-find roots
        are order-canonical (min member index) — but candidate pairs for
        small blocks are generated for the WHOLE batch at once (size-grouped
        triu indices), the exact geodesic filter runs as ONE vectorized call,
        and union-find runs once over the points that appear in any pair.
        The old loop paid ~500 µs of grid-bucket machinery per block at an
        average block size of ~2 (round-6 cProfile: 8,411 blocks, 85% of
        kernel wall in epsilon_pairs/k_ring/cell_id setup; guide §4.2)."""
        lats = pdf["lat"].to_numpy(dtype=np.float64)
        lons = pdf["lon"].to_numpy(dtype=np.float64)
        blocks = pdf["block"].to_numpy(dtype=np.int64)
        out = {"lat": [], "lon": [], "snap_lat": [], "snap_lon": [], "viol": []}
        n = blocks.shape[0]
        if n == 0:
            return pd.DataFrame(out)
        bstarts = np.concatenate([[0], np.nonzero(np.diff(blocks))[0] + 1, [n]])
        starts = bstarts[:-1]
        sizes = np.diff(bstarts)
        gi_parts: list[np.ndarray] = []
        gj_parts: list[np.ndarray] = []
        small = (sizes >= 2) & (sizes <= BRUTE_CAP)
        for k in np.unique(sizes[small]):
            s_k = starts[small & (sizes == k)]
            iu, ju = np.triu_indices(int(k), 1)
            gi_parts.append((s_k[:, None] + iu[None, :]).ravel())
            gj_parts.append((s_k[:, None] + ju[None, :]).ravel())
        if gi_parts:
            ci = np.concatenate(gi_parts)
            cj = np.concatenate(gj_parts)
            d = geodesic_m(lats[ci], lons[ci], lats[cj], lons[cj])
            keep = d <= tol
            gi_parts, gj_parts = [ci[keep]], [cj[keep]]
        for bs, k in zip(starts[sizes > BRUTE_CAP], sizes[sizes > BRUTE_CAP]):
            li, lj = epsilon_pairs(lats[bs : bs + k], lons[bs : bs + k], tol)
            if li.shape[0]:
                gi_parts.append(bs + li)
                gj_parts.append(bs + lj)
        if not gi_parts:
            return pd.DataFrame(out)
        pi = np.concatenate(gi_parts)
        pj = np.concatenate(gj_parts)
        if not pi.shape[0]:
            return pd.DataFrame(out)
        # union-find over the involved points only (compact ids); the root
        # of a component is its minimum index either way, so clusters match
        # the per-block formulation exactly
        iv = np.unique(np.concatenate([pi, pj]))
        uf = UnionFind(iv.shape[0])
        for x, y in zip(
            np.searchsorted(iv, pi).tolist(), np.searchsorted(iv, pj).tolist()
        ):
            uf.union(x, y)
        labels = uf.labels()
        order = np.argsort(labels, kind="stable")
        slab = labels[order]
        cb = np.concatenate([[0], np.nonzero(np.diff(slab))[0] + 1, [slab.shape[0]]])
        homes = wrap_cell_id(lats[iv], lons[iv], level)  # home of each involved point
        for s, e in zip(cb[:-1], cb[1:]):
            idx = order[s:e]  # compact ids, ascending ⇒ global order preserved
            if idx.shape[0] < 2:
                continue
            g = iv[idx]
            mlat, mlon = lats[g], lons[g]
            block = int(blocks[g[0]])  # members share one block by construction
            mloc = np.lexsort((mlon, mlat))[0]
            if int(homes[idx[mloc]]) != block:
                continue  # owned (and emitted) by another block
            cla, clo = centroid_of_members(mlat, mlon)
            disp = geodesic_m(
                mlat, mlon, np.full(g.shape[0], cla), np.full(g.shape[0], clo)
            )
            out["lat"].extend(mlat.tolist())
            out["lon"].extend(mlon.tolist())
            out["snap_lat"].extend([cla] * g.shape[0])
            out["snap_lon"].extend([clo] * g.shape[0])
            # per member, so the guardrail's one probed row is a violator
            out["viol"].extend((disp > r_disp).astype(int).tolist())
        return pd.DataFrame(out)

    def kernel(batches):
        # boundary-aware batch walk (same pattern as the J1 reassembly
        # kernel): hold back the trailing — possibly incomplete — block of
        # each Arrow batch and prepend it to the next
        carry = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if not len(pdf):
                continue
            blocks = pdf["block"].to_numpy()
            cut = int(np.searchsorted(blocks, blocks[-1], side="left"))
            carry = pdf.iloc[cut:]
            if cut:
                res = _process(pdf.iloc[:cut])
                if len(res):
                    yield res
        if carry is not None and len(carry):
            res = _process(carry)
            if len(res):
                yield res

    # no explicit partition count: AQE sizes the kernel's task count from
    # the shuffle bytes (see operators.assemble — per-task Python cost)
    rep = replicated.repartition("block").sortWithinPartitions("block")
    return rep.mapInPandas(
        kernel,
        schema="lat double, lon double, snap_lat double, snap_lon double, viol int",
    )
