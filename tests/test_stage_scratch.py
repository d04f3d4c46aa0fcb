"""Every scratch table lands in a fresh ``osmwwe-stages-<id>`` directory per
call: a second build on one engine, or a second minhash call, must not
overwrite the tables an earlier call's lazy result still reads."""

import re

from osmwaterwayextractor_spark.config import EngineConfig
from osmwaterwayextractor_spark.operators.dedup import minhash_lsh_pairs
from osmwaterwayextractor_spark.plans.pipeline import WaterwayEngine
from osmwaterwayextractor_spark.sources.docsgen import DocsGenParams, docs_dataframe


def _stage_dirs(df) -> set[str]:
    """The ``osmwwe-stages-*`` directories ``df``'s scans read."""
    return {
        m.group(0)
        for f in df.inputFiles()
        if (m := re.search(r"osmwwe-stages-[0-9a-f]+", f))
    }


def test_a_second_build_on_one_engine_keeps_the_first_result(spark):
    engine = WaterwayEngine(EngineConfig(filter_waterway_types=False))
    g1 = engine.build_graph(
        docs_dataframe(spark, 12, DocsGenParams(seed=11), partitions=2), spark
    )
    n1 = g1.edges.count()
    assert n1 > 0
    g2 = engine.build_graph(
        docs_dataframe(spark, 20, DocsGenParams(seed=5), partitions=2), spark
    )
    assert g2.edges.count() > 0
    assert g1.edges.count() == n1
    d1, d2 = _stage_dirs(g1.edges), _stage_dirs(g2.edges)
    assert len(d1) == 1 and len(d2) == 1 and d1 != d2


def test_a_second_minhash_call_keeps_the_first_result(spark):
    def corpus(prefix):
        return spark.createDataFrame(
            [
                (f"{prefix}{i}", "the quick brown fox jumps over the lazy dog " + "x" * (i % 3))
                for i in range(6)
            ],
            "doc_id string, text string",
        )

    # no action on the first result before the second call: a re-run plan
    # would skip its scan and reuse the shuffle files of the first run
    first = minhash_lsh_pairs(corpus("a"), num_perm=16, bands=4)
    assert minhash_lsh_pairs(corpus("b"), num_perm=16, bands=4).collect()
    got = sorted(first.collect())
    assert got == sorted(minhash_lsh_pairs(corpus("a"), num_perm=16, bands=4).collect())
    assert got
    assert {r["doc_a"] for r in got} | {r["doc_b"] for r in got} <= {f"a{i}" for i in range(6)}
