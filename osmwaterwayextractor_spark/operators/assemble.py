"""J1 — geometry assembly: way node-refs ⋈ node coordinates.

The reference resolves refs through osmium's in-memory location index during
the scan (osm_waterway_extractor.py:2715, hidden C++); at cluster scale this
is a distributed equi-join with two explicit skew defenses (SURVEY.md J1,
north_star "salted hash joins ... explicit ref-list explode +
repartitioning"):

1. **ref-list explode**: every (way, pos, node_id) becomes its own row, so a
   mega-way with 10^5 refs is 10^5 independent join rows spread across
   partitions — no single task owns a whole mega-way during the probe.
2. **sort-based reassembly**: rebuilding ordered coordinate arrays via
   groupBy + collect_list hammers the JVM heap (ObjectHashAggregate buffers
   tens of millions of structs — measured GC-bound at high core counts).
   Instead, resolved vertices repartition on way_id, sort WITHIN partitions
   by (way_id, pos), and a boundary-aware Arrow pass reassembles arrays in
   NumPy — mega-ways stream through as contiguous multi-batch runs without
   ever forming a giant JVM aggregation buffer.

Ways with ANY unresolved ref are dropped whole (the osmium location index
throws for missing locations and the way never materializes).

The way_id repartition carries NO explicit partition count, so AQE's
coalescePartitions sizes the kernel's task count from the shuffle's bytes.
Every Python-kernel task pays a fixed worker-side setup cost whatever its
size (~0.18 CPU-s on a 4-CPU host, mostly pyspark's per-task
``importlib.invalidate_caches``), and an explicit count would pin the
task count past AQE's reach. skewJoin stays on for residual hot node ids.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import EngineConfig


def _shuffle_hash(nodes: DataFrame) -> DataFrame:
    """Pin the refs⋈nodes join to a SHUFFLED hash join with nodes as the
    build side. Catalyst's size estimate does not grow through
    ``Generate(posexplode)``, so with AQE off it saw the exploded-refs side
    at the PRE-explode scan size and auto-broadcast it — a 10^7-row
    HashedRelation built SINGLE-THREADED on the driver (measured 8-21 s of
    zero-task wall per 100k-doc leg, pure Amdahl serial loss under the
    N→4N rule), and at 10^12-doc scale an outright OOM: both join sides
    are data-sized, so the only plan that survives is a shuffle on
    node_id. The hint makes that explicit instead of trusting a stats
    path that is known-wrong below a Generate."""
    return nodes.hint("shuffle_hash")


def assemble_clean_simplify(
    ways: DataFrame, nodes: DataFrame, config: EngineConfig
) -> DataFrame:
    """Fused J1 + P2-P4 + F4: assembly, completeness filter, consecutive-dup
    removal and DP simplification in ONE Arrow pass.

    Semantically identical to
    ``clean_and_simplify(assemble_geometries(ways, nodes, cfg), cfg)`` —
    that unfused pair is the oracle in tests/unfused_assembly.py, pinned by
    test_fused_assembly_matches_two_pass — but the assembled coordinate
    arrays never round-trip JVM→Arrow→pandas→Arrow→JVM between the two
    kernels. The 'simplified' stage is the second-largest of the pipeline
    (measured 203 s of a 974 s 1-CPU 100k-doc leg), and its intermediate
    is every vertex of every way; the fusion removes one full encode +
    decode of that table.

    Tags ride the pos-0 ref row through the kernel instead of re-joining
    after assembly: the post-assembly ``geoms ⋈ ways(way_id, tags)`` was
    auto-broadcast by Spark, and building that hashed relation (every
    way's tag map) is SINGLE-THREADED DRIVER work — measured 8-21 s of
    zero-task wall per 100k-doc leg (event-log hole between the broadcast
    job and the stage write), the same absolute seconds at every core
    count, i.e. pure Amdahl serial fraction under the N→4N scaling rule.
    Carrying one non-null map per way through the existing shuffles costs
    only those bytes and removes the broadcast scan job, the driver-side
    relation build, and the join itself. A complete way always has its
    pos-0 row (a way with ANY missing ref is dropped whole), so the run's
    first row after the (way_id, pos) sort carries the tags; partial ways
    are dropped before tags are read."""
    from ..functions.geometry import M_TO_DEG

    simplify_on = config.enable_geometry_simplification
    tol = config.simplification_tolerance_m * M_TO_DEG

    refs = ways.select(
        "way_id",
        F.size("refs").alias("n_refs"),
        "tags",
        F.posexplode("refs").alias("pos", "node_id"),
    )
    # one non-null tag map per way (on its pos-0 row): nulls elsewhere keep
    # the 10^7-row explode's shuffle bytes flat
    refs = refs.withColumn("tags", F.when(F.col("pos") == 0, F.col("tags")))
    resolved = refs.join(_shuffle_hash(nodes), "node_id", "inner").select(
        "way_id", "n_refs", "pos", "lat", "lon", "tags"
    )
    ordered = resolved.repartition("way_id").sortWithinPartitions("way_id", "pos")

    from .geometry_ops import clean_simplify_concat

    def kernel(batches):
        cur_id = None
        cur_refs = 0
        cur_tags = None
        lat_parts: list[np.ndarray] = []
        lon_parts: list[np.ndarray] = []

        def process(ids, tags_list, la_list, lo_list):
            """Complete raw ways → cleaned/simplified output frame. The
            clean+simplify math runs ONCE over the batch's concatenated
            vertex arrays (clean_simplify_concat) — the old per-way
            clean_simplify_arrays loop was 92% of this kernel's wall
            (round-6 cProfile; guide §4.2 whole-batch vectorization)."""
            if not ids:
                return pd.DataFrame(
                    {
                        "way_id": pd.Series([], dtype="int64"),
                        "lats": pd.Series([], dtype=object),
                        "lons": pd.Series([], dtype=object),
                        "tags": pd.Series([], dtype=object),
                    }
                )
            la_cat = np.concatenate(la_list)
            lo_cat = np.concatenate(lo_list)
            lens = np.fromiter((a.shape[0] for a in la_list), dtype=np.int64)
            offs = np.concatenate([np.zeros(1, dtype=np.int64), np.cumsum(lens)])
            la_out, lo_out, offs_out, way_ok = clean_simplify_concat(
                la_cat, lo_cat, offs, simplify_on, tol
            )
            if not way_ok.any():
                return process([], [], [], [])
            cuts = offs_out[1:-1]
            return pd.DataFrame(
                {
                    "way_id": pd.Series(
                        [i for i, ok in zip(ids, way_ok) if ok], dtype="int64"
                    ),
                    "lats": pd.Series(np.split(la_out, cuts), dtype=object),
                    "lons": pd.Series(np.split(lo_out, cuts), dtype=object),
                    "tags": pd.Series(
                        [t for t, ok in zip(tags_list, way_ok) if ok], dtype=object
                    ),
                }
            )

        def flush(ids, tags_list, la_list, lo_list):
            if cur_id is None:
                return
            la = np.concatenate(lat_parts) if len(lat_parts) > 1 else lat_parts[0]
            lo = np.concatenate(lon_parts) if len(lon_parts) > 1 else lon_parts[0]
            if la.shape[0] != cur_refs:  # partial way (missing refs)
                return
            ids.append(cur_id)
            tags_list.append(cur_tags)
            la_list.append(la)
            lo_list.append(lo)

        for pdf in batches:
            ids, tags_list, la_list, lo_list = [], [], [], []
            wid = pdf["way_id"].to_numpy()
            la = pdf["lat"].to_numpy(dtype=np.float64)
            lo = pdf["lon"].to_numpy(dtype=np.float64)
            nr = pdf["n_refs"].to_numpy()
            tg = pdf["tags"]
            if wid.shape[0] == 0:
                yield process(ids, tags_list, la_list, lo_list)
                continue
            starts = np.concatenate([[0], np.nonzero(wid[1:] != wid[:-1])[0] + 1])
            ends = np.concatenate([starts[1:], [wid.shape[0]]])
            for s, e in zip(starts, ends):
                w = int(wid[s])
                if w != cur_id:
                    flush(ids, tags_list, la_list, lo_list)
                    cur_id, cur_refs = w, int(nr[s])
                    # the run's first row is the way's pos-0 row (rows are
                    # contiguous and sorted by pos); a run starting past
                    # pos 0 is a partial way — tags stay None and flush
                    # drops it on the completeness check anyway
                    cur_tags = tg.iloc[int(s)]
                    lat_parts, lon_parts = [], []
                lat_parts.append(la[s:e])
                lon_parts.append(lo[s:e])
            yield process(ids, tags_list, la_list, lo_list)
        ids, tags_list, la_list, lo_list = [], [], [], []
        flush(ids, tags_list, la_list, lo_list)
        yield process(ids, tags_list, la_list, lo_list)

    return ordered.mapInPandas(
        kernel,
        schema="way_id long, lats array<double>, lons array<double>, "
        "tags map<string,string>",
    )
