"""Steps 2/4/5 — junction detection, snap application, edge splitting, nodes.

- ``clustering_domain_fast`` (A1/A2/A4, reference :2286-2316): the
  clustering domain distinct(endpoints ∪ junctions) from one groupBy of
  per-vertex total and endpoint counts.
- ``build_edges`` (J2 + W2 + F1/F3 + F7-F9 + P5, reference :2465-2599):
  vertices explode with position → left join the snap map (J2, identity for
  non-members) → a second join flags whether the MAPPED vertex is in the snap
  map's key set (the reference's cut-set membership quirk, :2554-2559) →
  regroup per way → Arrow split kernel (shared geodesic/id kernels) →
  min-length filter.
- ``build_nodes`` (A6, reference :2643-2660): distinct snap targets.

The per-vertex joins are plain equi-joins on (lat, lon) — Catalyst/AQE pick
broadcast vs shuffle; the snap map is ~|endpoints| rows, orders of magnitude
smaller than the vertex explosion, so AQE broadcasts it at realistic scales.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..config import EngineConfig
from ..functions.geodesy import geodesic_m
from ..functions.hashing import edge_ids, node_ids
from ..functions.width import width_columns

def fids_str(arr: np.ndarray) -> list[str]:
    return [str(x) for x in arr]


EDGES_SCHEMA = (
    "id string, from_node_id string, to_node_id string, length_m double, "
    "lats array<double>, lons array<double>, name string, type string, "
    "width_raw string, width_m double, width_source string, original_way_id long, "
    "covering array<bigint>"
)

# Single source of truth for the covering resolution lives in operators.tiles
# so the fused kernel here and the Catalyst with_edge_covering path can never
# drift apart (re-exported for back-compat with existing imports).
from .tiles import COVERING_H3_RES  # noqa: E402


def clustering_domain_fast(ways: DataFrame) -> DataFrame:
    """distinct(endpoints ∪ junctions) in ONE aggregation.

    Per vertex coordinate, count total occurrences and endpoint occurrences;
    the clustering domain is exactly {coords : ep_count ≥ 1 ∨ total > 1}
    (endpoints, endpoint-junctions ⊆ endpoints, and interior junctions).
    One shuffle instead of two groupBys + anti-join + union-distinct;
    tests/test_pipeline_parity.py checks it against the oracle's
    ``endpoints_and_junctions``.
    """
    verts = (
        ways.select(
            F.size("lats").alias("n"),
            F.posexplode(
                F.arrays_zip(F.col("lats").alias("lat"), F.col("lons").alias("lon"))
            ).alias("pos", "p"),
        )
        .select(
            F.col("p.lat").alias("lat"),
            F.col("p.lon").alias("lon"),
            ((F.col("pos") == 0) | (F.col("pos") == F.col("n") - 1)).alias("is_ep"),
        )
    )
    counts = verts.groupBy("lat", "lon").agg(
        F.count("*").alias("total"),
        F.sum(F.col("is_ep").cast("int")).alias("ep_count"),
    )
    return counts.where((F.col("ep_count") >= 1) | (F.col("total") > 1)).select("lat", "lon")


def build_edges(ways: DataFrame, snap: DataFrame, config: EngineConfig) -> DataFrame:
    precision = config.coordinate_precision
    hash_length = config.hash_length
    min_len = config.min_fragment_length_m

    # width parse (F7) — pure Catalyst, carried into the kernel
    raw_c, m_c, src_c = width_columns(F.col("tags").getItem("width"))
    ways_w = ways.select(
        "way_id",
        "lats",
        "lons",
        F.coalesce(F.col("tags").getItem("name"), F.lit("")).alias("name"),
        F.coalesce(F.col("tags").getItem("waterway"), F.lit("")).alias("type"),
        raw_c.alias("width_raw"),
        m_c.alias("width_m"),
        src_c.alias("width_source"),
    )

    # J2: per-vertex snap application
    verts = ways_w.select(
        "way_id",
        F.posexplode(F.arrays_zip(F.col("lats").alias("lat"), F.col("lons").alias("lon"))).alias(
            "pos", "p"
        ),
    ).select("way_id", "pos", F.col("p.lat").alias("lat"), F.col("p.lon").alias("lon"))
    mapped = (
        verts.join(snap, ["lat", "lon"], "left")
        .select(
            "way_id",
            "pos",
            F.coalesce("snap_lat", "lat").alias("mlat"),
            F.coalesce("snap_lon", "lon").alias("mlon"),
            (
                F.col("snap_lat").isNotNull()
                & (F.col("snap_lat") == F.col("lat"))
                & (F.col("snap_lon") == F.col("lon"))
            ).alias("unmoved"),
        )
    )
    # cut-set membership of the MAPPED vertex in the ORIGINAL domain-point
    # set D (reference :2554-2559 quirk). Exactly equivalent split — no
    # full-D distinct, no vertex-scale sort-merge join:
    # - an UNMOVED domain vertex maps to itself ∈ D (flag set inline in the
    #   snap join above);
    # - any other vertex's mapped coord is in D only if it is a MOVED
    #   centroid coinciding with some domain coordinate (a non-domain vertex
    #   maps to itself, and itself ∈ D would contradict the left-join miss).
    #   That coincidence set is computed as D ⋉ broadcast(moved centroids) —
    #   bounded by the ε-cluster count, broadcast-safe — and joined back to
    #   the vertices broadcast-wise.
    moved_targets = (
        snap.where((F.col("lat") != F.col("snap_lat")) | (F.col("lon") != F.col("snap_lon")))
        .select(F.col("snap_lat").alias("lat"), F.col("snap_lon").alias("lon"))
        .distinct()
    )
    cut_centroids = (
        snap.select("lat", "lon")
        .join(F.broadcast(moved_targets), ["lat", "lon"], "leftsemi")
        .select(F.col("lat").alias("mlat"), F.col("lon").alias("mlon"))
        .distinct()
        .withColumn("is_ct", F.lit(True))
    )
    flagged = mapped.join(F.broadcast(cut_centroids), ["mlat", "mlon"], "left").select(
        "way_id",
        "pos",
        "mlat",
        "mlon",
        (F.col("unmoved") | F.coalesce("is_ct", F.lit(False))).alias("is_cut"),
    )

    regrouped = (
        flagged.groupBy("way_id")
        .agg(F.sort_array(F.collect_list(F.struct("pos", "mlat", "mlon", "is_cut"))).alias("vs"))
        .select(
            "way_id",
            F.col("vs.mlat").alias("lats_m"),
            F.col("vs.mlon").alias("lons_m"),
            F.col("vs.is_cut").alias("cuts"),
        )
        .join(ways_w.drop("lats", "lons"), "way_id")
    )

    def kernel(batches):
        for pdf in batches:
            # pass 1 (per way, cheap): validate, find cut indices, stage the
            # coordinate arrays. The geodesic runs ONCE over the whole
            # batch's concatenated consecutive-vertex pairs below — the old
            # per-way call paid ~300 µs of Vincenty iteration machinery per
            # way (round-6 cProfile: 87% of this kernel's wall; guide §4.2).
            # geodesic_m is per-element masked, so batched values are
            # bit-identical to the per-way slices.
            way_la, way_lo, way_jidx = [], [], []
            way_meta = []  # (way_id, name, typ, wraw, wm, wsrc)
            for way_id, lats, lons, cuts, name, typ, wraw, wm, wsrc in zip(
                pdf["way_id"], pdf["lats_m"], pdf["lons_m"], pdf["cuts"],
                pdf["name"], pdf["type"], pdf["width_raw"], pdf["width_m"], pdf["width_source"],
            ):
                la = np.asarray(lats, dtype=np.float64)
                lo = np.asarray(lons, dtype=np.float64)
                n = la.shape[0]
                if n < 2:
                    continue
                ct = np.asarray(cuts, dtype=bool).copy()
                ct[0] = ct[-1] = True
                jidx = np.nonzero(ct)[0]
                if jidx.shape[0] < 2:
                    continue
                way_la.append(la)
                way_lo.append(lo)
                way_jidx.append(jidx)
                way_meta.append((way_id, name, typ, wraw, wm, wsrc))

            f_lat, f_lon, t_lat, t_lon = [], [], [], []
            wids, ks, lengths = [], [], []
            seg_lats, seg_lons, meta = [], [], []
            if way_la:
                la_cat = np.concatenate(way_la)
                lo_cat = np.concatenate(way_lo)
                # one geodesic over every consecutive pair; pairs straddling
                # a way boundary are never read (a way spanning [o, o+n)
                # only reads seg_all[o : o+n-1]) — zero them out so a
                # near-antipodal cross-way pair can't drag the whole batch
                # through Vincenty's 200-iteration non-convergence path
                la1, lo1 = la_cat[:-1].copy(), lo_cat[:-1].copy()
                la2, lo2 = la_cat[1:].copy(), lo_cat[1:].copy()
                lens = np.fromiter((a.shape[0] for a in way_la), dtype=np.int64)
                bnd = np.cumsum(lens)[:-1] - 1
                for arr in (la1, lo1, la2, lo2):
                    arr[bnd] = 0.0
                seg_all = geodesic_m(la1, lo1, la2, lo2)
                off = 0
                for (way_id, name, typ, wraw, wm, wsrc), la, lo, jidx in zip(
                    way_meta, way_la, way_lo, way_jidx
                ):
                    for k in range(jidx.shape[0] - 1):
                        s, e = int(jidx[k]), int(jidx[k + 1])
                        if e <= s:
                            continue
                        length = float(np.add.reduce(seg_all[off + s : off + e]))
                        if length < min_len:
                            continue
                        f_lat.append(la[s]); f_lon.append(lo[s])
                        t_lat.append(la[e]); t_lon.append(lo[e])
                        wids.append(way_id); ks.append(k); lengths.append(length)
                        seg_lats.append(la[s : e + 1]); seg_lons.append(lo[s : e + 1])
                        meta.append((name, typ, wraw, wm, wsrc))
                    off += la.shape[0]
            if not wids:
                yield pd.DataFrame(
                    {k: [] for k in (
                        "id", "from_node_id", "to_node_id", "length_m", "lats", "lons",
                        "name", "type", "width_raw", "width_m", "width_source",
                        "original_way_id", "covering",
                    )}
                )
                continue
            # pass 2 (whole batch, vectorized): ids in three kernel calls
            fids = node_ids(np.asarray(f_lat), np.asarray(f_lon), precision, hash_length)
            tids = node_ids(np.asarray(t_lat), np.asarray(t_lon), precision, hash_length)
            eids = edge_ids(
                fids, tids, np.asarray(wids, dtype=np.int64),
                np.asarray(ks, dtype=np.int64), hash_length,
            )
            # covering fused into the split kernel: the Catalyst HOF variant
            # (cells_sql.polyline_cover, kept for the SQL-checked query) is
            # interpreted per row and measured as the dominant pipeline tail
            # at 1M edges — this is one vectorized pass over the same arrays
            from ..functions.tiling import H3_RES_TO_LEVEL, polyline_coverings

            coverings = polyline_coverings(
                seg_lats, seg_lons, H3_RES_TO_LEVEL[COVERING_H3_RES]
            )
            yield pd.DataFrame(
                {
                    "id": fids_str(eids),
                    "from_node_id": fids_str(fids),
                    "to_node_id": fids_str(tids),
                    "length_m": lengths,
                    "lats": seg_lats,
                    "lons": seg_lons,
                    "name": [m[0] for m in meta],
                    "type": [m[1] for m in meta],
                    "width_raw": [m[2] for m in meta],
                    "width_m": [
                        None if m[3] is None or pd.isna(m[3]) else float(m[3]) for m in meta
                    ],
                    "width_source": [m[4] for m in meta],
                    "original_way_id": wids,
                    "covering": coverings,
                }
            )

    return regrouped.mapInPandas(kernel, schema=EDGES_SCHEMA)


def build_nodes(snap: DataFrame, config: EngineConfig) -> DataFrame:
    precision = config.coordinate_precision
    hash_length = config.hash_length

    @pandas_udf("string")
    def _node_id(lat: pd.Series, lon: pd.Series) -> pd.Series:
        return pd.Series(
            node_ids(lat.to_numpy(dtype=float), lon.to_numpy(dtype=float), precision, hash_length)
        )

    uniq = snap.select(
        F.col("snap_lat").alias("lat"), F.col("snap_lon").alias("lon")
    ).distinct()
    return uniq.select(
        _node_id("lat", "lon").alias("id"), "lat", "lon", F.lit("junction").alias("type")
    )
