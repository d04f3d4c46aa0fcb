"""assemble_clean_simplify (one Arrow pass) must equal the two-pass
clean_and_simplify(assemble_geometries(...)) composition exactly — same
ways kept/dropped (partial refs, <2 vertices, consecutive-dup collapse,
DP simplification) and bit-identical coordinate arrays."""

from unfused_assembly import assemble_geometries, clean_and_simplify

from osmwaterwayextractor_spark.config import EngineConfig
from osmwaterwayextractor_spark.operators.assemble import assemble_clean_simplify
from osmwaterwayextractor_spark.sources.docsgen import DocsGenParams, docs_dataframe
from osmwaterwayextractor_spark.sources.parse import (
    nodes_from_parsed,
    parse_osm,
    ways_from_parsed,
)


def _collect(df):
    rows = df.select("way_id", "lats", "lons", "tags").collect()
    return {
        r["way_id"]: (list(r["lats"]), list(r["lons"]), dict(r["tags"] or {}))
        for r in rows
    }


def test_fused_assembly_matches_two_pass(spark):
    # cross-doc refs + mega-ways exercise the partial-way filter and the
    # multi-batch carry path of the kernel
    docs = docs_dataframe(
        spark, 300, DocsGenParams(seed=11, mega_every=50, mega_refs=9000)
    )
    for cfg in (
        EngineConfig(filter_waterway_types=False),
        EngineConfig(
            filter_waterway_types=False, enable_geometry_simplification=False
        ),
    ):
        parsed = parse_osm(docs, cfg)
        ways = ways_from_parsed(parsed, cfg)
        nodes = nodes_from_parsed(parsed)
        fused = _collect(assemble_clean_simplify(ways, nodes, cfg))
        two_pass = _collect(
            clean_and_simplify(assemble_geometries(ways, nodes, cfg), cfg)
        )
        assert set(fused) == set(two_pass)
        assert len(fused) > 0
        for wid, (la, lo, tags) in fused.items():
            ela, elo, etags = two_pass[wid]
            assert la == ela and lo == elo, wid  # bit-identical doubles
            assert tags == etags


def test_assembly_join_never_broadcasts_exploded_refs(spark, tmp_path):
    """Catalyst's size estimate does not grow through Generate(posexplode),
    so with AQE off it saw the exploded-refs join side at pre-explode scan
    size and auto-broadcast a 10^7-row HashedRelation — built single-threaded
    on the driver (8-21 s zero-task wall per 100k-doc leg) and an OOM at
    10^12-doc scale. The refs⋈nodes join must stay a SHUFFLED hash join, and
    the fused path must carry tags through the kernel with no second join."""
    cfg = EngineConfig(filter_waterway_types=False)
    docs = docs_dataframe(spark, 120, DocsGenParams(seed=7))
    p = str(tmp_path / "parsed")
    parse_osm(docs, cfg).write.mode("overwrite").parquet(p)
    parsed = spark.read.parquet(p)  # parquet-backed: the stats path that broke
    out = assemble_clean_simplify(
        ways_from_parsed(parsed, cfg), nodes_from_parsed(parsed), cfg
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" not in plan
    assert "ShuffledHashJoin" in plan
    # tags ride the kernel: exactly one join (refs⋈nodes) in the whole plan
    assert plan.count("Join") == 1
