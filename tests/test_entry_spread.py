"""One scale guard for the entry-query spreads: ``entry_queries._spread``
round-robins a DataFrame over the session's cores only when it has fewer
partitions than that. A testdata table is one row group in at most three
input splits, so the driver queries still spread; a table that already has
enough splits is left alone, with no shuffle added. All four spread sites go
through it: ``q_agg_stats``, ``_derived_points``, ``q_minhash_pairs`` and
``q_lsh_ann``."""

import os

import pytest

import osmwaterwayextractor_spark.entry_queries as eq
from osmwaterwayextractor_spark.operators import dedup, similarity

TABLES = {
    "lineitem": [
        "cast(id % 3 as string) AS l_returnflag",
        "cast(id as double) AS l_quantity",
        "cast(id * 1.5 as double) AS l_extendedprice",
    ],
    "customer": ["id AS c_custkey"],
    "documents": ["id AS doc_id", "concat('word ', cast(id as string), ' more words') AS text"],
    "embeddings": ["id AS vec_id", "array_repeat(cast(id as float), 64) AS embedding"],
}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _spread_input(spark, monkeypatch, query):
    """The DataFrame that ``query`` hands to its first CPU-heavy pass. The
    dedup and similarity operators are stubbed to capture their input, so
    plan construction runs no job."""
    seen = {}

    def minhash(docs, **_):
        seen["df"] = docs
        return spark.createDataFrame([], "doc_a long, doc_b long, jaccard double")

    def lsh(queries, corpus, **_):
        seen["df"] = corpus
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, cosine double, rank int"
        )

    monkeypatch.setattr(dedup, "minhash_lsh_pairs", minhash)
    monkeypatch.setattr(similarity, "lsh_cosine_topk", lsh)
    out = query(spark, "unused")
    return seen.get("df", out)


SITES = {
    "agg_stats": eq.q_agg_stats,
    "derived_points": lambda s, d: eq._derived_points(s, d, spread=True),
    "minhash_pairs": eq.q_minhash_pairs,
    "lsh_ann": eq.q_lsh_ann,
}


def test_spread_leaves_a_wide_frame_alone_and_spreads_a_narrow_one(spark):
    par = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 4 * par, 1, par)
    assert eq._spread(wide) is wide
    assert "Exchange" not in _plan(eq._spread(wide))
    narrow = eq._spread(spark.range(0, 4 * par, 1, 1))
    assert narrow.rdd.getNumPartitions() == par
    assert "RoundRobinPartitioning" in _plan(narrow)


@pytest.mark.parametrize("site", sorted(SITES))
@pytest.mark.parametrize("wide", [True, False], ids=["wide", "one_partition"])
def test_every_spread_site_is_guarded(spark, monkeypatch, site, wide):
    par = spark.sparkContext.defaultParallelism
    n_parts = par if wide else 1
    monkeypatch.setattr(
        eq,
        "_t",
        lambda s, d, name: s.range(0, 4 * par, 1, n_parts).selectExpr(*TABLES[name]),
    )
    plan = _plan(_spread_input(spark, monkeypatch, SITES[site]))
    assert ("RoundRobinPartitioning" in plan) is not wide


SF01 = "/root/testdata/sf0.1"


@pytest.mark.skipif(not os.path.isdir(SF01), reason="sf0.1 testdata absent")
@pytest.mark.parametrize("table", sorted(TABLES))
def test_largest_testdata_tables_still_spread_at_bench_split_size(spark, table):
    """The guard counts byte-range splits, not row groups. At bench.py's 8 MB
    splits the one-row-group sf0.1 tables stay below the core count, so each
    site keeps its exchange."""
    spark.conf.set("spark.sql.files.maxPartitionBytes", "8m")
    try:
        plan = _plan(eq._spread(eq._t(spark, SF01, table)))
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
    assert "RoundRobinPartitioning" in plan
