"""The unfused assembly pair: ``clean_and_simplify(assemble_geometries(...))``.

Two Arrow passes (J1 assembly, then P2-P4 + F4 per way) that the engine
fuses into one, ``operators.assemble.assemble_clean_simplify``. They stay
here as the oracle its parity tests compare against
(``test_fused_assembly.py``, ``test_round6_optimizations.py``); no engine
path calls them.
"""

from __future__ import annotations

import sys

import numpy as np
import pandas as pd
from pyspark import cloudpickle
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osmwaterwayextractor_spark.config import EngineConfig
from osmwaterwayextractor_spark.functions.geometry import M_TO_DEG, simplify_dp
from osmwaterwayextractor_spark.operators.assemble import _shuffle_hash
from osmwaterwayextractor_spark.operators.geometry_ops import WAYS_SCHEMA

# the Python workers cannot import tests/: ship the kernels by value
cloudpickle.register_pickle_by_value(sys.modules[__name__])

_ASM_SCHEMA = "way_id long, n_refs int, n_resolved long, lats array<double>, lons array<double>"


def _reassemble_kernel(batches):
    """Per-partition pass over rows sorted by (way_id, pos): emit one row per
    way. A way may span multiple Arrow batches — carry state across them."""
    cur_id = None
    cur_refs = 0
    lat_parts: list[np.ndarray] = []
    lon_parts: list[np.ndarray] = []

    def to_pdf(out):
        # object dtype keeps empty batches Arrow-convertible to list<double>
        return pd.DataFrame(
            {
                "way_id": pd.Series(out["way_id"], dtype="int64"),
                "n_refs": pd.Series(out["n_refs"], dtype="int32"),
                "n_resolved": pd.Series(out["n_resolved"], dtype="int64"),
                "lats": pd.Series(out["lats"], dtype=object),
                "lons": pd.Series(out["lons"], dtype=object),
            }
        )

    def flush(out):
        if cur_id is None:
            return
        la = np.concatenate(lat_parts) if len(lat_parts) > 1 else lat_parts[0]
        lo = np.concatenate(lon_parts) if len(lon_parts) > 1 else lon_parts[0]
        out["way_id"].append(cur_id)
        out["n_refs"].append(cur_refs)
        out["n_resolved"].append(la.shape[0])
        out["lats"].append(la)
        out["lons"].append(lo)

    for pdf in batches:
        out = {"way_id": [], "n_refs": [], "n_resolved": [], "lats": [], "lons": []}
        wid = pdf["way_id"].to_numpy()
        la = pdf["lat"].to_numpy(dtype=np.float64)
        lo = pdf["lon"].to_numpy(dtype=np.float64)
        nr = pdf["n_refs"].to_numpy()
        if wid.shape[0] == 0:
            yield to_pdf(out)
            continue
        # boundaries of way runs inside this batch
        starts = np.concatenate([[0], np.nonzero(wid[1:] != wid[:-1])[0] + 1])
        ends = np.concatenate([starts[1:], [wid.shape[0]]])
        for s, e in zip(starts, ends):
            w = int(wid[s])
            if w != cur_id:
                flush(out)
                cur_id, cur_refs = w, int(nr[s])
                lat_parts, lon_parts = [], []
            lat_parts.append(la[s:e])
            lon_parts.append(lo[s:e])
        yield to_pdf(out)
    out = {"way_id": [], "n_refs": [], "n_resolved": [], "lats": [], "lons": []}
    flush(out)
    yield to_pdf(out)


def assemble_geometries(
    ways: DataFrame, nodes: DataFrame, config: EngineConfig
) -> DataFrame:
    """(way_id, refs, tags) ⋈ (node_id, lat, lon) → (way_id, lats, lons, tags).

    Output arrays are ordered by ref position; ways with missing refs or
    fewer than 2 resolved coordinates are dropped.
    """
    refs = ways.select(
        "way_id",
        F.size("refs").alias("n_refs"),
        F.posexplode("refs").alias("pos", "node_id"),
    )
    resolved = refs.join(_shuffle_hash(nodes), "node_id", "inner").select(
        "way_id", "n_refs", "pos", "lat", "lon"
    )
    ordered = resolved.repartition("way_id").sortWithinPartitions("way_id", "pos")
    geoms = (
        ordered.mapInPandas(_reassemble_kernel, schema=_ASM_SCHEMA)
        .where(F.col("n_resolved") == F.col("n_refs"))  # drop partial ways
        .where(F.size("lats") >= 2)
        .select("way_id", "lats", "lons")
    )
    return geoms.join(ways.select("way_id", "tags"), "way_id", "inner")


def clean_simplify_arrays(la, lo, simplify_on: bool, tol_deg: float):
    """P2-P4 + F4 on one way's coordinate arrays: consecutive-dup removal,
    optional DP simplify, <2-vertex drop. Returns (la, lo) or None when the
    way drops. The per-way reference for the batched
    ``operators.geometry_ops.clean_simplify_concat``."""
    if la.shape[0] < 2:
        return None
    same = (la[1:] == la[:-1]) & (lo[1:] == lo[:-1])
    keep = np.concatenate([[True], ~same])
    la, lo = la[keep], lo[keep]
    if la.shape[0] < 2:
        return None
    if simplify_on:
        mask = simplify_dp(la, lo, tol_deg)
        la, lo = la[mask], lo[mask]
        if la.shape[0] < 2:
            return None
    return la, lo


def clean_and_simplify(ways: DataFrame, config: EngineConfig) -> DataFrame:
    """Consecutive-dup removal + optional DP simplify, one Arrow pass."""
    simplify_on = config.enable_geometry_simplification
    tol = config.simplification_tolerance_m * M_TO_DEG

    def kernel(batches):
        for pdf in batches:
            out_rows = {"way_id": [], "lats": [], "lons": [], "tags": []}
            for way_id, lats, lons, tags in zip(
                pdf["way_id"], pdf["lats"], pdf["lons"], pdf["tags"]
            ):
                r = clean_simplify_arrays(
                    np.asarray(lats, dtype=np.float64),
                    np.asarray(lons, dtype=np.float64),
                    simplify_on,
                    tol,
                )
                if r is None:
                    continue
                out_rows["way_id"].append(way_id)
                out_rows["lats"].append(r[0])
                out_rows["lons"].append(r[1])
                out_rows["tags"].append(tags)
            yield pd.DataFrame(out_rows)

    return ways.mapInPandas(kernel, schema=WAYS_SCHEMA)
