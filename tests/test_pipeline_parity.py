"""Spark pipeline ⟷ single-process oracle parity.

The contract (BASELINE.json north_star): same edge set, same node
dedup/merge behavior, same tile assignments — compared on exact string ids,
exact float coordinates/lengths (shared kernels ⇒ bit-identical), for the
4-way reference fixture and seeded random networks with every hard case the
generator produces (junctions, crossings, near-miss snaps, duplicate nodes,
cross-doc continuations, mega-ways).
"""

import dataclasses
import os

import pytest

from osmwaterwayextractor_spark.config import STAGES, EngineConfig, NO_SIMPLIFY_CONFIG
from osmwaterwayextractor_spark.operators.assemble import assemble_clean_simplify
from osmwaterwayextractor_spark.operators.edges import clustering_domain_fast
from osmwaterwayextractor_spark.operators.geometry_ops import (
    detect_intersections,
    insert_intersections,
)
from osmwaterwayextractor_spark.oracle import (
    endpoints_and_junctions,
    fixture_4way_docs,
    run_oracle,
    tile_assignments,
)
from osmwaterwayextractor_spark.plans.checkpoint import Checkpointer
from osmwaterwayextractor_spark.plans.pipeline import WaterwayEngine
from osmwaterwayextractor_spark.sources.docsgen import DocsGenParams, generate_doc
from osmwaterwayextractor_spark.sources.parse import (
    nodes_from_parsed,
    parse_osm,
    ways_from_parsed,
)

DOC_SCHEMA = (
    "doc_id string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)


def _docs_df(spark, docs):
    return spark.createDataFrame(
        [(d["doc_id"], [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in d["spans"]]) for d in docs],
        DOC_SCHEMA,
    )


def _assert_parity(spark, docs, cfg, checkpointer=None):
    oracle = run_oracle(docs, cfg)
    engine = WaterwayEngine(cfg, checkpointer=checkpointer)
    result = engine.build_graph(_docs_df(spark, docs), spark)

    got_nodes = {
        r["id"]: (r["lat"], r["lon"], r["type"]) for r in result.nodes.collect()
    }
    want_nodes = {n["id"]: (n["lat"], n["lon"], n["type"]) for n in oracle.nodes}
    assert got_nodes == want_nodes

    got_edges = {
        r["id"]: (
            r["from_node_id"], r["to_node_id"], r["length_m"],
            tuple(r["lats"]), tuple(r["lons"]),
            r["name"], r["type"], r["width_raw"], r["width_m"], r["width_source"],
            r["original_way_id"],
        )
        for r in result.edges.collect()
    }
    want_edges = {
        e["id"]: (
            e["from_node_id"], e["to_node_id"], e["length_m"],
            tuple(c[0] for c in e["coordinates"]), tuple(c[1] for c in e["coordinates"]),
            e["name"], e["type"], e["width_raw"], e["width_m"], e["width_source"],
            e["original_way_id"],
        )
        for e in oracle.edges
    }
    assert set(got_edges) == set(want_edges)
    for eid in want_edges:
        assert got_edges[eid] == want_edges[eid], eid

    # tile assignments (graft): nodes and edges
    node_cells, edge_cells = tile_assignments(oracle.nodes, oracle.edges, cfg)
    want_nc = {r["id"]: tuple(r[f"cell_r{res}"] for res in cfg.tile_resolutions) for r in node_cells}
    got_nc = {
        r["id"]: tuple(r[f"cell_r{res}"] for res in cfg.tile_resolutions)
        for r in result.nodes.collect()
    }
    assert got_nc == want_nc
    want_ec = {r["id"]: tuple(r[f"cell_r{res}"] for res in cfg.tile_resolutions) for r in edge_cells}
    got_ec = {
        r["id"]: tuple(r[f"cell_r{res}"] for res in cfg.tile_resolutions)
        for r in result.edges.collect()
    }
    assert got_ec == want_ec

    # rollup is consistent with the edge set at the finest resolution
    finest = max(cfg.tile_resolutions)
    got_rollup = {
        r["cell"]: (r["edge_count"], r["total_length_m"])
        for r in result.tile_rollup.where(f"res = {finest}").collect()
    }
    from collections import defaultdict

    want_rollup = defaultdict(lambda: [0, 0.0])
    for e, cells in ((e, want_ec[e["id"]]) for e in oracle.edges):
        c = cells[list(cfg.tile_resolutions).index(finest)]
        want_rollup[c][0] += 1
        want_rollup[c][1] += e["length_m"]
    assert set(got_rollup) == set(want_rollup)
    for c in want_rollup:
        assert got_rollup[c][0] == want_rollup[c][0]
        assert abs(got_rollup[c][1] - want_rollup[c][1]) < 1e-6

    return oracle, result


def test_fixture_parity(spark):
    cfg = EngineConfig(filter_waterway_types=False)
    oracle, _ = _assert_parity(spark, fixture_4way_docs(), cfg)
    assert len(oracle.edges) == 7  # sanity: the golden shape


def test_fixture_parity_no_simplify(spark):
    cfg = dataclasses.replace(NO_SIMPLIFY_CONFIG, filter_waterway_types=False)
    _assert_parity(spark, fixture_4way_docs(), cfg)


def test_fixture_parity_default_filter(spark):
    _assert_parity(spark, fixture_4way_docs(), EngineConfig())


@pytest.mark.parametrize("seed,n_docs", [(7, 30), (99, 60)])
def test_random_network_parity(spark, seed, n_docs):
    params = DocsGenParams(seed=seed, mega_every=25, mega_refs=400)
    docs = [generate_doc(i, params) for i in range(n_docs)]
    cfg = EngineConfig(filter_waterway_types=False)
    oracle, _ = _assert_parity(spark, docs, cfg)
    assert len(oracle.edges) > n_docs  # non-trivial network


def test_detection_off_parity_lazy_and_checkpointed(spark, tmp_path):
    # with detection off the intersections stage is the simplified ways:
    # both builds match the oracle, and the stage is never checkpointed
    params = DocsGenParams(seed=7, mega_every=25, mega_refs=400)
    docs = [generate_doc(i, params) for i in range(30)]
    cfg = EngineConfig(filter_waterway_types=False, enable_intersection_detection=False)
    oracle, _ = _assert_parity(spark, docs, cfg)
    detected = run_oracle(docs, dataclasses.replace(cfg, enable_intersection_detection=True))
    assert {e["id"] for e in oracle.edges} != {e["id"] for e in detected.edges}
    ck = Checkpointer(spark, str(tmp_path))
    _assert_parity(spark, docs, cfg, checkpointer=ck)
    assert {e["stage"] for e in ck.events} == set(STAGES) - {"intersections"}
    assert not [d for d in os.listdir(tmp_path) if d.startswith("intersections_")]


def test_clustering_domain_fast_matches_oracle_endpoints_and_junctions(spark):
    # the one-shuffle snap domain over the engine's intersected ways is the
    # reference's endpoints ∪ junctions over the same ways
    params = DocsGenParams(seed=7, mega_every=25, mega_refs=400)
    docs = _docs_df(spark, [generate_doc(i, params) for i in range(30)])
    cfg = EngineConfig(filter_waterway_types=False)
    parsed = parse_osm(docs, cfg).cache()
    simplified = assemble_clean_simplify(
        ways_from_parsed(parsed, cfg), nodes_from_parsed(parsed), cfg
    ).cache()
    ways = insert_intersections(simplified, detect_intersections(simplified, cfg), cfg).cache()
    endpoints, junctions = endpoints_and_junctions(
        [{"coordinates": list(zip(r["lats"], r["lons"]))} for r in ways.collect()]
    )
    assert junctions  # the corpus joins ways, so the union is not just endpoints
    got = {(r["lat"], r["lon"]) for r in clustering_domain_fast(ways).collect()}
    assert got == set(endpoints) | set(junctions)
