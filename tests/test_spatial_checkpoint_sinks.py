import gzip
import json
import os

import numpy as np
import pytest

from osmwaterwayextractor_spark.config import EngineConfig
from osmwaterwayextractor_spark.functions.geodesy import geodesic_m
from osmwaterwayextractor_spark.functions.geometry import points_in_polygon
from osmwaterwayextractor_spark.oracle import fixture_4way_docs
from osmwaterwayextractor_spark.plans.pipeline import WaterwayEngine
from osmwaterwayextractor_spark.sources.docsgen import DocsGenParams, generate_doc

from tests.test_pipeline_parity import _docs_df

CFG = EngineConfig(filter_waterway_types=False)


@pytest.fixture(scope="module")
def graph(spark):
    params = DocsGenParams(seed=31, mega_every=0)
    docs = [generate_doc(i, params) for i in range(25)]
    g = WaterwayEngine(CFG).build_graph(_docs_df(spark, docs), spark)
    nodes = g.nodes.cache()
    edges = g.edges.cache()
    nodes.count(), edges.count()
    return g


def test_clip_network_matches_bruteforce(spark, graph):
    from osmwaterwayextractor_spark.operators.spatial import clip_network

    nodes = graph.nodes
    rows = nodes.collect()
    lats = np.array([r["lat"] for r in rows])
    lons = np.array([r["lon"] for r in rows])
    # box basin around the median node, concave basin next to it
    clat, clon = float(np.median(lats)), float(np.median(lons))
    box_lat = [clat - 20, clat - 20, clat + 20, clat + 20]
    box_lon = [clon - 40, clon + 40, clon + 40, clon - 40]
    concave_lat = [clat - 20, clat - 20, clat + 20, clat, clat + 20]
    concave_lon = [clon - 40, clon + 40, clon + 40, clon, clon - 40]
    basins = spark.createDataFrame(
        [
            ("box", [{"lat": a, "lon": b} for a, b in zip(box_lat, box_lon)]),
            ("concave", [{"lat": a, "lon": b} for a, b in zip(concave_lat, concave_lon)]),
        ],
        "basin_id string, ring array<struct<lat:double,lon:double>>",
    )
    nodes_in, edges_in = clip_network(nodes, graph.edges, basins)
    got = {(r["basin_id"], r["id"]) for r in nodes_in.collect()}
    want = set()
    for bid, (bla, blo) in {
        "box": (box_lat, box_lon),
        "concave": (concave_lat, concave_lon),
    }.items():
        inside = points_in_polygon(lats, lons, np.array(bla), np.array(blo))
        want |= {(bid, rows[i]["id"]) for i in np.nonzero(inside)[0]}
    assert got == want
    # edge policy: both endpoints inside the same basin
    nid_in = {}
    for bid, nid in want:
        nid_in.setdefault(bid, set()).add(nid)
    want_edges = {
        (bid, r["id"])
        for r in graph.edges.collect()
        for bid in nid_in
        if r["from_node_id"] in nid_in[bid] and r["to_node_id"] in nid_in[bid]
    }
    got_edges = {(r["basin_id"], r["id"]) for r in edges_in.collect()}
    assert got_edges == want_edges


def test_knn_snap_matches_bruteforce(spark, graph):
    from osmwaterwayextractor_spark.operators.spatial import knn_snap_dangling

    radius = 5000.0
    got = {
        r["id"]: (r["target_lat"], r["target_lon"], r["dist_m"])
        for r in knn_snap_dangling(graph.nodes, graph.edges, CFG, radius).collect()
    }
    # brute force oracle
    edges = graph.edges.collect()
    deg = {}
    own = {}
    for e in edges:
        for nid in (e["from_node_id"], e["to_node_id"]):
            deg[nid] = deg.get(nid, 0) + 1
            own.setdefault(nid, set()).add(e["original_way_id"])
    verts = []
    for e in edges:
        for la, lo in zip(e["lats"], e["lons"]):
            verts.append((la, lo, e["original_way_id"]))
    nodes = {r["id"]: (r["lat"], r["lon"]) for r in graph.nodes.collect()}
    want = {}
    for nid, (la, lo) in nodes.items():
        if deg.get(nid) != 1:
            continue
        best = None
        for vla, vlo, wid in verts:
            if wid in own[nid] or (vla == la and vlo == lo):
                continue
            d = float(geodesic_m(np.array([la]), np.array([lo]), np.array([vla]), np.array([vlo]))[0])
            if d <= radius and (best is None or (d, vla, vlo, wid) < best):
                best = (d, vla, vlo, wid)
        if best is not None:
            want[nid] = (best[1], best[2], best[0])
    assert set(got) == set(want)
    for nid in want:
        assert got[nid][0] == want[nid][0] and got[nid][1] == want[nid][1]
        assert abs(got[nid][2] - want[nid][2]) < 1e-9


def test_checkpoint_resume_and_lineage(spark, tmp_path):
    from osmwaterwayextractor_spark.plans.checkpoint import Checkpointer

    docs = fixture_4way_docs()
    root = str(tmp_path / "ckpt")
    ck = Checkpointer(spark, root)
    engine = WaterwayEngine(CFG, checkpointer=ck)
    g1 = engine.build_graph(_docs_df(spark, docs), spark)
    e1 = {r["id"] for r in g1.edges.collect()}
    assert all(ev["action"] == "computed" for ev in ck.events)
    lin = ck.lineage("edges", CFG)
    assert lin and all("rows_per_sec" in r for r in lin)
    assert sum(r["rows"] for r in lin) == len(e1)

    # second run resumes every stage and returns identical results
    ck2 = Checkpointer(spark, root)
    g2 = WaterwayEngine(CFG, checkpointer=ck2).build_graph(_docs_df(spark, docs), spark)
    e2 = {r["id"] for r in g2.edges.collect()}
    assert e2 == e1
    assert all(ev["action"] == "resumed" for ev in ck2.events)


def test_partition_level_resume(spark, tmp_path):
    import shutil

    from osmwaterwayextractor_spark.operators.tiles import with_edge_cells
    from osmwaterwayextractor_spark.plans.checkpoint import Checkpointer

    docs = [generate_doc(i, DocsGenParams(seed=5, mega_every=0)) for i in range(12)]
    g = WaterwayEngine(CFG).build_graph(_docs_df(spark, docs), spark)
    edges_t = g.edges.withColumnRenamed("cell_r7", "tile").cache()
    want = {r["id"] for r in edges_t.collect()}

    root = str(tmp_path / "pck")
    ck = Checkpointer(spark, root)
    out1 = ck.materialize_partitioned("tiles_demo", CFG, edges_t, "tile")
    assert {r["id"] for r in out1.collect()} == want

    # simulate a partial failure: delete the done flag and some partitions
    sdir = ck._stage_dir("tiles_demo", CFG)
    os.remove(os.path.join(sdir, "_STAGE_DONE"))
    parts = [d for d in os.listdir(os.path.join(sdir, "data")) if d.startswith("tile=")]
    assert len(parts) >= 3
    for d in parts[:2]:
        shutil.rmtree(os.path.join(sdir, "data", d))

    ck2 = Checkpointer(spark, root)
    out2 = ck2.materialize_partitioned("tiles_demo", CFG, edges_t, "tile")
    assert {r["id"] for r in out2.collect()} == want
    ev = [e for e in ck2.events if e["stage"] == "tiles_demo"][0]
    assert ev["action"] == "computed"
    assert ev["skipped_partitions"] == len(parts) - 2  # only missing recomputed


def test_sinks_roundtrip(spark, tmp_path):
    from osmwaterwayextractor_spark.operators.qa import qa_metrics, waterway_type_histogram
    from osmwaterwayextractor_spark.sinks import writers

    g = WaterwayEngine(CFG).build_graph(_docs_df(spark, fixture_4way_docs()), spark)
    out = str(tmp_path / "out")
    writers.save_parquet(g.nodes, g.edges, out)
    back = spark.read.parquet(os.path.join(out, "edges.parquet"))
    assert back.count() == 7
    assert "coordinates" in back.columns

    writers.save_csv(g.nodes, g.edges, out)
    csv_edges = spark.read.option("header", "true").csv(os.path.join(out, "edges.csv"))
    assert csv_edges.count() == 7

    gj = str(tmp_path / "edges.geojson")
    writers.save_geojson(g.edges, gj)
    fc = json.load(open(gj))
    assert fc["type"] == "FeatureCollection" and len(fc["features"]) == 7
    # (lon, lat) axis order in GeoJSON
    lon0, lat0 = fc["features"][0]["geometry"]["coordinates"][0]
    assert abs(lat0) > abs(lon0)  # 52.x vs 13.x

    jz = str(tmp_path / "graph.json.gz")
    writers.save_jsongz(g.nodes, g.edges, jz)
    data = json.load(gzip.open(jz, "rt"))
    assert len(data["nodes"]) == 7 and len(data["edges"]) == 7
    assert all(0 <= e["start"] < 7 and 0 <= e["end"] < 7 for e in data["edges"])

    writers.save_mobile_csv(g.nodes, g.edges, out)
    mn = spark.read.option("header", "true").csv(os.path.join(out, "mobile_nodes.csv"))
    assert sorted(int(r["mobile_id"]) for r in mn.collect()) == list(range(1, 8))

    qa = qa_metrics(g.nodes, g.edges, CFG)
    assert qa["final_edges"] == 7 and qa["final_nodes"] == 7
    assert qa["width_parse_success_rate"] == 100.0
    hist = {r["waterway_type"]: r["n_edges"] for r in waterway_type_histogram(g.edges).collect()}
    assert hist == {"river": 3, "stream": 4}
    docs = _docs_df(spark, fixture_4way_docs())
    writers.save_manifest(
        str(tmp_path / "manifest.json"),
        CFG,
        qa,
        input_docs=docs,
        output_paths={"nodes.parquet": os.path.join(out, "nodes.parquet"),
                      "edges.parquet": os.path.join(out, "edges.parquet")},
        results={"final_nodes": qa["final_nodes"], "final_edges": qa["final_edges"]},
    )
    m = json.load(open(tmp_path / "manifest.json"))
    assert m["qa"]["final_edges"] == 7 and len(m["param_hash"]) == 16
    # reproducibility fields (reference manifest :2966-3035)
    assert m["input"]["rows"] == docs.count()
    assert len(m["input"]["xxh64_sum"]) == 16
    assert m["results"]["final_edges"] == 7
    assert m["results"]["output_files"]["edges.parquet"] > 0
    assert m["version"] == "2.1" and "timestamp" in m
    # fingerprint is content-sensitive: drop a doc → different hash
    fp_full = writers.input_fingerprint(docs)
    fp_less = writers.input_fingerprint(docs.limit(docs.count() - 1))
    assert fp_full != fp_less


def test_extraction_report_format():
    """Reference-shaped console summary (osm_waterway_extractor.py:3262-3300)
    — pure formatter over the computed qa dict, no Spark jobs."""
    from osmwaterwayextractor_spark.config import EngineConfig
    from osmwaterwayextractor_spark.sinks.writers import format_extraction_report

    qa = {
        "final_nodes": 1234,
        "final_edges": 5678,
        "width_parse_success_rate": 87.5,
        "mean_edge_length_m": 321.7,
        "edge_length_p50_m": 100.0,
        "edge_length_p95_m": 900.0,
        "distance_validation_samples": 10,
        "distance_validation_max_error_m": 0.0,
    }
    rep = format_extraction_report(
        qa,
        EngineConfig(),
        input_name="synth:100",
        processing_seconds=12.34,
        histogram=[("river", 4000), ("canal", 1678)],
        output_sizes={"edges.parquet": 2048, "nodes.parquet": 1024},
    )
    assert "WATERWAY EXTRACTION SUMMARY v2.1" in rep
    assert "Final edges: 5,678" in rep
    assert "river: 4,000" in rep
    assert "Total size: 3,072 bytes" in rep
    assert "ODbL" in rep
    assert "Snap tolerance: 6.0m" in rep
