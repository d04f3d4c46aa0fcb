"""Round-4 hardening guarantees:

- legacy single-file sinks stream via toLocalIterator (never DataFrame.collect)
  and save_jsongz stays byte-identical to a whole-document json.dump;
- the per-edge covering resolution has exactly one source of truth.
"""

from __future__ import annotations

import gzip
import inspect
import json
import os

import pytest
from pyspark.sql import DataFrame

from osmwaterwayextractor_spark.config import EngineConfig
from osmwaterwayextractor_spark.plans.pipeline import WaterwayEngine
from osmwaterwayextractor_spark.sinks import writers

from osmwaterwayextractor_spark.oracle import fixture_4way_docs

DOC_SCHEMA = (
    "doc_id string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)


def _docs_df(spark, docs):
    return spark.createDataFrame(
        [(d["doc_id"], [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in d["spans"]]) for d in docs],
        DOC_SCHEMA,
    )

CFG = EngineConfig(filter_waterway_types=False)


@pytest.fixture(scope="module")
def graph(spark):
    return WaterwayEngine(CFG).build_graph(_docs_df(spark, fixture_4way_docs()), spark)


def test_single_file_sinks_never_collect(graph, tmp_path, monkeypatch):
    """Driver holds at most one partition: the sinks must go through
    toLocalIterator, never a full collect of the feature/node/edge lists."""

    def _boom(self):
        raise AssertionError("single-file sink called DataFrame.collect()")

    monkeypatch.setattr(DataFrame, "collect", _boom)
    gj = str(tmp_path / "edges.geojson")
    writers.save_geojson(graph.edges, gj)
    jz = str(tmp_path / "graph.json.gz")
    writers.save_jsongz(graph.nodes, graph.edges, jz)
    monkeypatch.undo()

    fc = json.load(open(gj))
    assert fc["type"] == "FeatureCollection" and len(fc["features"]) == 7
    data = json.load(gzip.open(jz, "rt"))
    assert len(data["nodes"]) == 7 and len(data["edges"]) == 7


def test_save_jsongz_byte_identical_to_json_dump(graph, tmp_path):
    """The streamed writer reproduces json.dump's default formatting exactly
    (same separators), so consumers of the legacy format see no diff."""
    jz = str(tmp_path / "graph.json.gz")
    writers.save_jsongz(graph.nodes, graph.edges, jz)
    raw = gzip.open(jz, "rt").read()
    assert raw == json.dumps(json.loads(raw))


def test_geojson_guard_still_enforced(graph, tmp_path):
    with pytest.raises(ValueError, match="single-file GeoJSON guard"):
        writers.save_geojson(graph.edges, str(tmp_path / "x.geojson"), single_file_limit=3)


def test_covering_resolution_single_source_of_truth():
    from osmwaterwayextractor_spark.operators import edges as edges_mod
    from osmwaterwayextractor_spark.operators import tiles as tiles_mod

    assert edges_mod.COVERING_H3_RES is tiles_mod.COVERING_H3_RES
    sig = inspect.signature(tiles_mod.with_edge_covering)
    assert sig.parameters["res"].default == tiles_mod.COVERING_H3_RES


def test_minhash_shingles_not_in_executor_storage(spark):
    """The shingle table must not be pinned with .cache(): running the pairs
    plan must not ADD any persistent RDD. Compared as id SETS, not counts —
    earlier tests in a shared session legitimately leave localCheckpoint RDDs
    that the async ContextCleaner reaps at arbitrary times, so a count-equality
    assertion races with that cleanup (seen once in a full-suite run)."""
    from osmwaterwayextractor_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame(
        [(f"d{i}", "the quick brown fox jumps over the lazy dog " + ("x" * (i % 3)))
         for i in range(20)],
        "doc_id string, text string",
    )

    def persistent_ids():
        jmap = spark.sparkContext._jsc.sc().getPersistentRDDs()
        it = jmap.keysIterator()
        ids = set()
        while it.hasNext():
            ids.add(it.next())
        return ids

    before = persistent_ids()
    out = minhash_lsh_pairs(docs, num_perm=16, bands=4)
    out.count()
    assert persistent_ids() - before == set()


def test_table_sink_seam(spark, tmp_path):
    """ParquetTableSink implements the writeTo-shaped surface, and
    materialize_partitioned drives ONLY that surface — a custom sink (spy
    subclass) sees every physical operation, proving an IcebergTableSink
    drops in as one constructor swap."""
    from osmwaterwayextractor_spark.plans.checkpoint import Checkpointer
    from osmwaterwayextractor_spark.sinks.table_sink import ParquetTableSink

    df = spark.createDataFrame(
        [(i, f"t{i % 3}") for i in range(12)], "id int, tile string"
    )

    # direct sink surface
    s = ParquetTableSink(str(tmp_path / "tbl"))
    s.append(df, "tile")
    assert s.list_partitions("tile") == ["t0", "t1", "t2"]
    assert s.read(spark).count() == 12
    s.drop_partition("tile", "t1")
    assert s.list_partitions("tile") == ["t0", "t2"]
    assert s.read(spark).count() == 8

    calls = []

    class SpySink(ParquetTableSink):
        def append(self, d, partition_col=None):
            calls.append(("append", partition_col))
            super().append(d, partition_col)

        def read(self, sp):
            calls.append(("read", None))
            return super().read(sp)

        def list_partitions(self, partition_col):
            calls.append(("list", partition_col))
            return super().list_partitions(partition_col)

    ck = Checkpointer(spark, str(tmp_path / "ck"))
    spy = SpySink(str(tmp_path / "tbl2"))
    out = ck.materialize_partitioned("seam_demo", CFG, df, "tile", sink=spy)
    assert out.count() == 12
    assert ("append", "tile") in calls and ("read", None) in calls
