"""Deterministic interleaved-document generator (FIXTURES.md F-A).

Synthesizes the BASELINE.json ``input_hint`` table
``(doc_id:string, spans:array<struct<kind,text,media_ref,offset>>)`` whose
``osm_node``/``osm_way`` spans carry a coherent waterway network:

- per-doc meandering main river (nodes + one way) with name/width tags;
- a tributary ending at a mid-river node (interior junction via shared ref);
- a continuation way starting at the river's last node (endpoint junction);
- a crossing stream that intersects the river geometrically WITHOUT sharing
  any node (exercises intersection detection, reference step 1.75);
- near-miss: a way whose endpoint sits 2-5 m from the river mouth (exercises
  ε-snap clustering);
- duplicate nodes: distinct node ids at identical coordinates (node dedup);
- cross-doc continuation: doc i's river may start at doc i-1's mouth
  coordinates (prefix-closed, so any range [0, n) is self-contained);
- mega-ways every ``mega_every`` docs with ``mega_refs`` refs (join skew);
- interleaved ``text``/``media`` noise spans that must round-trip untouched.

Everything derives from ``np.random.default_rng([seed, doc_index])`` — the
same doc index yields the same document under any partitioning, which is what
makes distributed generation, checkpoint resume and the DuckDB/oracle
comparisons reproducible. Replaces the reference's PBF connector
(osm_waterway_extractor.py:1368-1418) and synthetic fixture (:3141-3165).
"""

from __future__ import annotations

import json
from dataclasses import dataclass

import numpy as np

SPAN_SCHEMA_DDL = "kind string, text string, media_ref string, offset int"
DOC_SCHEMA_DDL = (
    "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)

_WATERWAY_TYPES = ["river", "river", "river", "canal", "canal", "stream", "drain"]
_NAMES = ["Alder", "Birch", "Cedar", "Dove", "Elm", "Fir", "Grebe", "Heron"]
_WIDTHS = ["5 m", "12 m", "3m", "8.5 m", "15 ft", "20 feet", "7", "250", "abc", "0", "2000", ""]
_PROSE = [
    "The survey team mapped the channel in spring.",
    "Sediment load increases after the confluence.",
    "Local name recorded during the field campaign.",
    "Gauge readings archived for the hydrology report.",
]


@dataclass(frozen=True)
class DocsGenParams:
    seed: int = 42
    river_points_min: int = 3
    river_points_max: int = 10
    mega_every: int = 200          # every k-th doc carries a mega-way
    mega_refs: int = 2000
    p_tributary: float = 0.6
    p_continuation: float = 0.5
    p_crossing: float = 0.4
    p_near_miss: float = 0.3
    p_duplicate_node: float = 0.2
    p_cross_doc: float = 0.25
    noise_spans_max: int = 3


def _mouth_of(doc_index: int, params: DocsGenParams) -> tuple[float, float]:
    """Deterministic candidate river-start for a doc."""
    rng = np.random.default_rng([params.seed, doc_index, 1])
    lat = float(rng.uniform(-55.0, 60.0))
    lon = float(rng.uniform(-170.0, 170.0))
    return lat, lon


def _continues_previous(doc_index: int, params: DocsGenParams) -> bool:
    if doc_index <= 0:
        return False
    return float(np.random.default_rng([params.seed, doc_index, 2]).random()) < params.p_cross_doc


def _chain_root(doc_index: int, params: DocsGenParams) -> int:
    j = doc_index
    while _continues_previous(j, params):
        j -= 1
    return j


def river_start(doc_index: int, params: DocsGenParams) -> tuple[float, float]:
    """Actual start of a doc's river, resolving cross-doc continuation chains
    (doc i starts exactly where its chain root's river starts; continuing
    docs REFERENCE the root's first node id — an out-of-document ref that
    exercises the global-join assembly path)."""
    return _mouth_of(_chain_root(doc_index, params), params)


def shared_start_node_id(doc_index: int, params: DocsGenParams) -> int:
    """First river node id of the chain root (the id continuing docs ref)."""
    return (_chain_root(doc_index, params) + 1) * 100_000


def generate_doc(doc_index: int, params: DocsGenParams) -> dict:
    """One interleaved document. Pure function of (seed, doc_index)."""
    rng = np.random.default_rng([params.seed, doc_index, 0])
    nid_base = (doc_index + 1) * 100_000
    spans: list[dict] = []
    node_records: list[tuple[int, float, float]] = []
    way_records: list[dict] = []

    def add_way(way_id: int, refs: list[int], tags: dict) -> None:
        way_records.append({"id": way_id, "refs": refs, "tags": tags})

    # --- main river ---
    n_pts = int(rng.integers(params.river_points_min, params.river_points_max + 1))
    lat0, lon0 = river_start(doc_index, params)
    # cross-doc continuation reuses the PREVIOUS doc's first river node id
    # (realistic block-sharing: the ref resolves out-of-document, exercising
    # the global-join assembly path; geometry stays contiguous)
    continues = _continues_previous(doc_index, params)
    heading = rng.uniform(0, 2 * np.pi)
    step = rng.uniform(0.002, 0.008)
    dh = rng.uniform(-0.6, 0.6, n_pts - 1)
    lats = [lat0]
    lons = [lon0]
    for i in range(n_pts - 1):
        heading += dh[i]
        lats.append(lats[-1] + step * np.cos(heading))
        lons.append(lons[-1] + step * np.sin(heading))
    river_ids = [nid_base + i for i in range(n_pts)]
    if continues:
        river_ids[0] = shared_start_node_id(doc_index, params)  # chain root's node
    for k, (nid, la, lo) in enumerate(zip(river_ids, lats, lons)):
        if continues and k == 0:
            continue  # node lives in the chain root's document
        node_records.append((nid, float(la), float(lo)))
    name = f"{_NAMES[doc_index % len(_NAMES)]} River {doc_index}"
    tags = {"waterway": str(rng.choice(_WATERWAY_TYPES)), "name": name}
    w = str(rng.choice(_WIDTHS))
    if w:
        tags["width"] = w
    add_way(doc_index * 100 + 1, list(river_ids), tags)
    next_nid = nid_base + n_pts

    # --- tributary ending at a mid-river node (interior junction) ---
    if n_pts >= 3 and rng.random() < params.p_tributary:
        mid = int(rng.integers(1, n_pts - 1))
        t_pts = int(rng.integers(2, 4))
        t_ids = []
        tl, tn = lats[mid] + rng.uniform(0.003, 0.006), lons[mid] + rng.uniform(0.003, 0.006)
        for _ in range(t_pts):
            node_records.append((next_nid, float(tl), float(tn)))
            t_ids.append(next_nid)
            next_nid += 1
            tl -= rng.uniform(0.001, 0.003)
            tn -= rng.uniform(0.001, 0.003)
        add_way(
            doc_index * 100 + 2,
            t_ids + [river_ids[mid]],
            {"waterway": "stream", "name": f"{name} Tributary"},
        )

    # --- continuation starting at the mouth's last node (endpoint junction) ---
    if rng.random() < params.p_continuation:
        c_pts = int(rng.integers(2, 4))
        c_ids = [river_ids[-1]]
        cl, cn = lats[-1], lons[-1]
        for _ in range(c_pts):
            cl += rng.uniform(0.001, 0.004)
            cn += rng.uniform(0.001, 0.004)
            node_records.append((next_nid, float(cl), float(cn)))
            c_ids.append(next_nid)
            next_nid += 1
        add_way(
            doc_index * 100 + 3,
            c_ids,
            {"waterway": str(rng.choice(["river", "canal"])), "name": f"{name} Lower"},
        )

    # --- crossing stream: geometrically crosses segment 0 of the river ---
    if rng.random() < params.p_crossing:
        mlat = (lats[0] + lats[1]) / 2.0
        mlon = (lons[0] + lons[1]) / 2.0
        # perpendicular-ish offset start/end so the segment crosses the river
        plat, plon = lats[1] - lats[0], lons[1] - lons[0]
        x_ids = []
        for sgn in (1.0, -1.0):
            xl = mlat + sgn * (-plon) * rng.uniform(0.4, 0.9)
            xn = mlon + sgn * (plat) * rng.uniform(0.4, 0.9)
            node_records.append((next_nid, float(xl), float(xn)))
            x_ids.append(next_nid)
            next_nid += 1
        add_way(
            doc_index * 100 + 4,
            x_ids,
            {"waterway": "stream", "name": f"{name} Crossing", "width": "2 m"},
        )

    # --- near-miss way: endpoint 2-5 m from the mouth ---
    if rng.random() < params.p_near_miss:
        d_m = rng.uniform(2.0, 5.0)
        ang = rng.uniform(0, 2 * np.pi)
        nl = lats[0] + d_m * np.cos(ang) / 110574.0
        nn = lons[0] + d_m * np.sin(ang) / (111320.0 * max(np.cos(np.radians(lats[0])), 0.01))
        m_ids = []
        for k in range(2):
            node_records.append((next_nid, float(nl - 0.004 * k), float(nn - 0.004 * k)))
            m_ids.append(next_nid)
            next_nid += 1
        add_way(
            doc_index * 100 + 5,
            list(reversed(m_ids)),
            {"waterway": "canal", "name": f"{name} Cut", "width": "6 m"},
        )

    # --- duplicate node: second id at river node 0's exact coordinates ---
    if rng.random() < params.p_duplicate_node:
        node_records.append((next_nid, float(lats[0]), float(lons[0])))
        next_nid += 1

    # --- mega-way for join/groupBy skew ---
    if params.mega_every > 0 and doc_index % params.mega_every == 0 and doc_index > 0:
        m = params.mega_refs
        mlat0, mlon0 = _mouth_of(doc_index, params)
        dlat = np.cumsum(rng.uniform(-2e-4, 2.5e-4, m)) + mlat0 + 0.05
        dlon = np.cumsum(rng.uniform(-2e-4, 2.5e-4, m)) + mlon0 + 0.05
        m_ids = list(range(next_nid, next_nid + m))
        node_records.extend(
            (nid, float(la), float(lo)) for nid, la, lo in zip(m_ids, dlat, dlon)
        )
        next_nid += m
        add_way(
            doc_index * 100 + 6,
            m_ids,
            {"waterway": "river", "name": f"{name} Mega", "width": "40 m"},
        )

    # --- waterway relation grouping the doc's ways (north_star: "node/way/
    # RELATION records arrive as spans"; deterministic — no rng draws, so
    # node/way content is byte-identical with or without this block) ---
    relation_records = [
        {
            "id": doc_index * 10 + 9,
            "members": [
                {"type": "way", "ref": w["id"], "role": "main_stream" if i == 0 else "side_stream"}
                for i, w in enumerate(way_records)
            ],
            "tags": {"type": "waterway", "name": name},
        }
    ]

    # --- serialize into interleaved spans ---
    payloads: list[tuple[str, str, str]] = []
    for nid, la, lo in node_records:
        payloads.append(("osm_node", json.dumps({"id": nid, "lat": la, "lon": lo}), ""))
    for wrec in way_records:
        payloads.append(("osm_way", json.dumps(wrec, separators=(",", ":")), ""))
    for rrec in relation_records:
        payloads.append(("osm_relation", json.dumps(rrec, separators=(",", ":")), ""))
    n_noise = int(rng.integers(0, params.noise_spans_max + 1))
    for k in range(n_noise):
        if rng.random() < 0.5:
            payloads.append(("text", str(rng.choice(_PROSE)), ""))
        else:
            payloads.append(("media", "", f"s3://corpus/img-{doc_index}-{k}.png"))
    order = rng.permutation(len(payloads))
    for off, idx in enumerate(order):
        kind, text, media = payloads[int(idx)]
        spans.append({"kind": kind, "text": text, "media_ref": media, "offset": int(off)})
    return {"doc_id": f"doc-{doc_index:08d}", "spans": spans}


def generate_docs_pandas(indices: np.ndarray, params: DocsGenParams):
    """Batch of documents as a pandas DataFrame (Arrow-friendly)."""
    import pandas as pd

    docs = [generate_doc(int(i), params) for i in np.asarray(indices)]
    return pd.DataFrame(
        {"doc_id": [d["doc_id"] for d in docs], "spans": [d["spans"] for d in docs]}
    )


def docs_dataframe(spark, n_docs: int, params: DocsGenParams | None = None, partitions: int | None = None):
    """Distributed deterministic docs DataFrame via mapInPandas over a range.

    Generation is embarrassingly parallel and partition-invariant (per-doc
    seeded RNG), the Spark-native substitute for the reference's single
    process PBF scan.
    """
    params = params or DocsGenParams()

    def gen(batches):
        for pdf in batches:
            yield generate_docs_pandas(pdf["id"].to_numpy(), params)

    rng_df = spark.range(0, n_docs, 1, partitions or spark.sparkContext.defaultParallelism)
    return rng_df.mapInPandas(gen, schema=DOC_SCHEMA_DDL)
