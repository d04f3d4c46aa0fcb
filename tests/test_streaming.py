import os

from osmwaterwayextractor_spark.config import EngineConfig
from osmwaterwayextractor_spark.sources.docsgen import DocsGenParams, docs_dataframe


def test_stream_parse_availablenow(spark, tmp_path):
    from osmwaterwayextractor_spark.streaming.ingest import stream_parse_docs

    docs_dir = str(tmp_path / "docs_in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    docs = docs_dataframe(spark, 20, DocsGenParams(seed=9), partitions=2)
    docs.write.parquet(docs_dir)

    cfg = EngineConfig(filter_waterway_types=False)
    nq, wq = stream_parse_docs(spark, docs_dir, out_dir, ckpt, cfg)
    nq.awaitTermination(120)
    wq.awaitTermination(120)

    nodes = spark.read.parquet(os.path.join(out_dir, "nodes"))
    ways = spark.read.parquet(os.path.join(out_dir, "ways"))
    from osmwaterwayextractor_spark.sources.parse import parse_nodes, parse_ways

    batch_docs = spark.read.parquet(docs_dir)
    assert nodes.count() == parse_nodes(batch_docs, cfg).count()
    assert ways.count() == parse_ways(batch_docs, cfg).count()

    # restart with no new files: exactly-once — no duplicate appends
    nq2, wq2 = stream_parse_docs(spark, docs_dir, out_dir, ckpt, cfg)
    nq2.awaitTermination(120)
    wq2.awaitTermination(120)
    assert spark.read.parquet(os.path.join(out_dir, "nodes")).count() == nodes.count()


def test_streaming_incremental_tile_rollup(spark, tmp_path):
    """Custom stateful operator (applyInPandasWithState): per-cell running
    node counts survive a query restart via the state-store checkpoint, and
    each micro-batch emits only updated cells (VERDICT r2 item 10)."""
    from pyspark.sql import functions as F

    from osmwaterwayextractor_spark.functions.tiling import H3_RES_TO_LEVEL
    from osmwaterwayextractor_spark.functions.cells_sql import cell
    from osmwaterwayextractor_spark.sources.parse import parse_nodes
    from osmwaterwayextractor_spark.streaming.rollup import (
        read_live_rollup,
        stream_tile_rollup,
    )

    docs_dir = str(tmp_path / "docs_in")
    out_dir = str(tmp_path / "rollup_log")
    ckpt = str(tmp_path / "ckpt")
    cfg = EngineConfig(filter_waterway_types=False)
    os.makedirs(docs_dir)

    def expected(n_docs):
        docs = docs_dataframe(spark, n_docs, DocsGenParams(seed=9), partitions=2)
        cells = parse_nodes(docs, cfg).select(
            cell("lat", "lon", H3_RES_TO_LEVEL[7], "clamp").alias("cell")
        )
        return {
            r["cell"]: r["n"]
            for r in cells.groupBy("cell").agg(F.count("*").alias("n")).collect()
        }

    batch1 = docs_dataframe(spark, 12, DocsGenParams(seed=9), partitions=2)
    batch1.write.mode("append").parquet(docs_dir)
    q = stream_tile_rollup(spark, docs_dir, out_dir, ckpt, cfg)
    q.awaitTermination(120)
    got1 = {
        r["cell"]: r["node_count"] for r in read_live_rollup(spark, out_dir).collect()
    }
    assert got1 == expected(12)

    # second file drop + RESTARTED query (same checkpoint): counts must be
    # cumulative over both batches, proving state survived the restart
    batch2 = docs_dataframe(spark, 24, DocsGenParams(seed=9), partitions=2).where(
        F.col("doc_id").isin([f"doc-{i:08d}" for i in range(12, 24)])
    )
    batch2.write.mode("append").parquet(docs_dir)
    q2 = stream_tile_rollup(spark, docs_dir, out_dir, ckpt, cfg)
    q2.awaitTermination(120)
    got2 = {
        r["cell"]: r["node_count"] for r in read_live_rollup(spark, out_dir).collect()
    }
    assert got2 == expected(24)


def test_rollup_log_compaction_bounds_growth(spark, tmp_path):
    """Every ``compact_every`` batches the upsert log is rewritten as a
    latest-per-cell snapshot and older per-batch dirs are pruned, so read
    cost stops growing with query lifetime (ADVICE r3). Counts stay exact
    across the compaction boundary."""
    from pyspark.sql import functions as F

    from osmwaterwayextractor_spark.functions.tiling import H3_RES_TO_LEVEL
    from osmwaterwayextractor_spark.functions.cells_sql import cell
    from osmwaterwayextractor_spark.sources.parse import parse_nodes
    from osmwaterwayextractor_spark.streaming.rollup import (
        read_live_rollup,
        stream_tile_rollup,
    )

    docs_dir = str(tmp_path / "docs_in")
    out_dir = str(tmp_path / "rollup_log")
    ckpt = str(tmp_path / "ckpt")
    cfg = EngineConfig(filter_waterway_types=False)
    os.makedirs(docs_dir)

    all_ids = [f"doc-{i:08d}" for i in range(30)]
    full = docs_dataframe(spark, 30, DocsGenParams(seed=9), partitions=2)
    # batches 0..2 of 10 docs each; each availableNow run = one micro-batch
    for lo in (0, 10, 20):
        chunk = full.where(F.col("doc_id").isin(all_ids[lo:lo + 10]))
        chunk.write.mode("append").parquet(docs_dir)
        q = stream_tile_rollup(spark, docs_dir, out_dir, ckpt, cfg, compact_every=2)
        q.awaitTermination(120)

    # batch 2 triggered compaction: only the snapshot + the batch-2 dir remain
    dirs = sorted(os.listdir(out_dir))
    assert dirs == ["b000000002", "c000000002"]

    cells = parse_nodes(full, cfg).select(
        cell("lat", "lon", H3_RES_TO_LEVEL[7], "clamp").alias("cell")
    )
    want = {
        r["cell"]: r["n"]
        for r in cells.groupBy("cell").agg(F.count("*").alias("n")).collect()
    }
    got = {
        r["cell"]: r["node_count"] for r in read_live_rollup(spark, out_dir).collect()
    }
    assert got == want
