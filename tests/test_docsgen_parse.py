import json

import numpy as np
import pytest

from osmwaterwayextractor_spark.config import EngineConfig
from osmwaterwayextractor_spark.oracle import parse_docs, run_oracle
from osmwaterwayextractor_spark.sources.docsgen import (
    DocsGenParams,
    generate_doc,
    generate_docs_pandas,
)

PARAMS = DocsGenParams(seed=42, mega_every=25, mega_refs=300)


def test_generator_deterministic_and_partition_invariant():
    a = generate_doc(7, PARAMS)
    b = generate_doc(7, PARAMS)
    assert a == b
    batch1 = generate_docs_pandas(np.array([3, 7, 11]), PARAMS)
    batch2 = generate_docs_pandas(np.array([7]), PARAMS)
    assert batch1.iloc[1]["spans"] == batch2.iloc[0]["spans"]


def test_generator_payloads_parse_and_prefix_closed():
    docs = [generate_doc(i, PARAMS) for i in range(60)]
    node_ids = set()
    ref_ids = []
    way_ids = set()
    rel_member_refs = []
    kinds = set()
    for d in docs:
        offsets = [s["offset"] for s in d["spans"]]
        assert offsets == list(range(len(offsets)))  # interleave order intact
        for s in d["spans"]:
            kinds.add(s["kind"])
            if s["kind"] == "osm_node":
                rec = json.loads(s["text"])
                node_ids.add(rec["id"])
                assert -90 <= rec["lat"] <= 90 and -180 <= rec["lon"] <= 180
            elif s["kind"] == "osm_way":
                rec = json.loads(s["text"])
                assert len(rec["refs"]) >= 2
                ref_ids.extend(rec["refs"])
                way_ids.add(rec["id"])
            elif s["kind"] == "osm_relation":
                rec = json.loads(s["text"])
                assert rec["tags"]["type"] == "waterway"
                rel_member_refs.extend(m["ref"] for m in rec["members"])
            elif s["kind"] == "media":
                assert s["media_ref"].startswith("s3://")
    # prefix closure: every ref resolves within the generated range
    assert set(ref_ids) <= node_ids
    assert set(rel_member_refs) <= way_ids  # relation members resolve to ways
    assert kinds == {"osm_node", "osm_way", "osm_relation", "text", "media"}
    # mega-way present
    assert any(
        len(json.loads(s["text"]).get("refs", [])) >= PARAMS.mega_refs
        for d in docs
        for s in d["spans"]
        if s["kind"] == "osm_way"
    )


def test_cross_doc_continuation_shares_start():
    from osmwaterwayextractor_spark.sources.docsgen import (
        _continues_previous,
        river_start,
    )

    hit = None
    for i in range(1, 200):
        if _continues_previous(i, PARAMS):
            hit = i
            break
    assert hit is not None
    assert river_start(hit, PARAMS) == river_start(hit - 1, PARAMS)


def test_oracle_invariants_on_generated_network():
    docs = [generate_doc(i, DocsGenParams(seed=7, mega_every=0)) for i in range(40)]
    cfg = EngineConfig(filter_waterway_types=False)
    res = run_oracle(docs, cfg)
    assert len(res.edges) > 20
    node_ids_set = {n["id"] for n in res.nodes}
    for e in res.edges:
        assert e["from_node_id"] in node_ids_set
        assert e["to_node_id"] in node_ids_set
        assert e["length_m"] >= cfg.min_fragment_length_m
        coords = e["coordinates"]
        assert all(coords[i] != coords[i + 1] for i in range(len(coords) - 1))
    # snap displacement bounded by tol × multiplier
    from osmwaterwayextractor_spark.functions.geodesy import geodesic_m

    for orig, snapped in res.coord_mapping.items():
        if orig != snapped:
            d = geodesic_m(
                np.array([orig[0]]), np.array([orig[1]]),
                np.array([snapped[0]]), np.array([snapped[1]]),
            )[0]
            assert d <= cfg.snap_tolerance_m * cfg.max_displacement_multiplier
    # near-miss endpoints did merge somewhere
    assert any(k != v for k, v in res.coord_mapping.items())


def test_span_invariant_through_spark_roundtrip(spark, tmp_path):
    """(kind, text, media_ref, order) survives write→read→parse untouched."""
    from osmwaterwayextractor_spark.sources.docsgen import docs_dataframe
    from osmwaterwayextractor_spark.sources.parse import parse_nodes, parse_ways, span_sequence

    docs = docs_dataframe(spark, 50, PARAMS, partitions=4)
    path = str(tmp_path / "docs.parquet")
    docs.write.parquet(path)
    docs2 = spark.read.parquet(path)

    before = {tuple(r) for r in span_sequence(docs).collect()}
    after = {tuple(r) for r in span_sequence(docs2).collect()}
    assert before == after

    cfg = EngineConfig(filter_waterway_types=False)
    nodes = parse_nodes(docs2, cfg)
    ways = parse_ways(docs2, cfg)
    # Spark parse ≡ oracle parse
    pdocs = [
        {"doc_id": d["doc_id"], "spans": [s.asDict() for s in d["spans"]]}
        for d in docs2.collect()
    ]
    onodes, oways = parse_docs(pdocs, cfg)
    got_nodes = {r["node_id"]: (r["lat"], r["lon"]) for r in nodes.collect()}
    assert got_nodes == onodes
    got_ways = {r["way_id"]: (list(r["refs"]), dict(r["tags"])) for r in ways.collect()}
    want_ways = {w["id"]: (list(w["refs"]), dict(w["tags"])) for w in oways}
    assert got_ways == want_ways


def test_relation_spans_parse_and_roundtrip(spark):
    """All THREE record kinds arrive as spans (north_star sentence 1): the
    relation parser recovers id/members/tags exactly; members reference the
    doc's ways. Relations are deliberately unused in graph assembly
    (reference handler :1368-1418 has no relation callback)."""
    from osmwaterwayextractor_spark.sources.docsgen import docs_dataframe
    from osmwaterwayextractor_spark.sources.parse import parse_relations

    cfg = EngineConfig(filter_waterway_types=False)
    docs = docs_dataframe(spark, 30, PARAMS, partitions=4)
    rels = parse_relations(docs, cfg).collect()
    assert len(rels) == 30  # one waterway relation per doc

    want = {}
    for i in range(30):
        d = generate_doc(i, PARAMS)
        for s in d["spans"]:
            if s["kind"] == "osm_relation":
                rec = json.loads(s["text"])
                want[rec["id"]] = rec
    for r in rels:
        w = want[r["relation_id"]]
        assert [(m["type"], m["ref"], m["role"]) for m in r["members"]] == [
            (m["type"], m["ref"], m["role"]) for m in w["members"]
        ]
        assert dict(r["tags"]) == w["tags"]
        assert r["members"][0]["role"] == "main_stream"


def test_docs_dataframe_schema_is_the_doc_ddl(spark):
    """``docs_dataframe`` declares its schema through ``DOC_SCHEMA_DDL``, the
    one the streaming readers use: the same nullable struct the generator
    always produced, rows included."""
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    from osmwaterwayextractor_spark.sources.docsgen import DOC_SCHEMA_DDL, docs_dataframe

    span = StructType(
        [
            StructField("kind", StringType()),
            StructField("text", StringType()),
            StructField("media_ref", StringType()),
            StructField("offset", IntegerType()),
        ]
    )
    want = StructType([StructField("doc_id", StringType()), StructField("spans", ArrayType(span))])
    docs = docs_dataframe(spark, 3, PARAMS, partitions=1)
    assert docs.schema == want
    assert spark.createDataFrame([], DOC_SCHEMA_DDL).schema == want
    got = sorted((r["doc_id"], [s.asDict() for s in r["spans"]]) for r in docs.collect())
    generated = [generate_doc(i, PARAMS) for i in range(3)]
    assert got == sorted((d["doc_id"], d["spans"]) for d in generated)
