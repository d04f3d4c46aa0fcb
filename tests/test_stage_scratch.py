"""A build's stage cuts are block-manager blocks that live as long as its
result: a second build on one engine keeps the first result, no build
writes an ``osmwwe-stages-*`` directory, and a dropped result's blocks are
released. Every scratch table (the minhash shingles) lands in a fresh
``osmwwe-stages-<id>`` directory per call, so a second minhash call must
not overwrite the table an earlier call's lazy result still reads."""

import gc
import glob
import os
import time

from osmwaterwayextractor_spark.config import EngineConfig
from osmwaterwayextractor_spark.operators.dedup import minhash_lsh_pairs
from osmwaterwayextractor_spark.plans.pipeline import WaterwayEngine
from osmwaterwayextractor_spark.sources.docsgen import DocsGenParams, docs_dataframe

CFG = EngineConfig(filter_waterway_types=False)


def _stage_dirs(spark) -> set[str]:
    """The ``osmwwe-stages-*`` directories under the scratch root."""
    base = spark.conf.get("spark.local.dir", "/tmp").split(",")[0]
    return set(glob.glob(os.path.join(base, "osmwwe-stages-*")))


def _persistent_rdd_ids(spark) -> set[int]:
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().keysIterator()
    ids = set()
    while it.hasNext():
        ids.add(int(it.next()))
    return ids


def test_a_second_build_on_one_engine_keeps_the_first_result(spark):
    before = _stage_dirs(spark)
    engine = WaterwayEngine(CFG)
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
    assert _stage_dirs(spark) == before


def test_a_dropped_result_releases_its_block_cuts(spark):
    before = _persistent_rdd_ids(spark)
    g = WaterwayEngine(CFG).build_graph(
        docs_dataframe(spark, 12, DocsGenParams(seed=11), partitions=2), spark
    )
    assert g.edges.count() > 0
    added = _persistent_rdd_ids(spark) - before
    assert added, "the build cut no stage in the block manager"
    del g
    # the ContextCleaner unpersists an RDD after the JVM collects it, on
    # its own thread
    deadline = time.monotonic() + 60
    while added & _persistent_rdd_ids(spark) and time.monotonic() < deadline:
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.5)
    assert added & _persistent_rdd_ids(spark) == set()


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
