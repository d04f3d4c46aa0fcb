"""Streaming incremental tile rollup — a maintained materialized aggregate.

Turns the streaming front door (ingest.py) into a LIVE per-cell density
table: doc micro-batches → span parse → tile-cell assignment → a custom
stateful operator (``applyInPandasWithState``) that keeps per-cell running
(node_count, batch_count) state across micro-batches and emits only the
cells UPDATED in each batch (outputMode=update). State lives in Spark's
streaming state store, so a restart with the same checkpoint resumes the
running totals exactly-once over the file source.

The reference is batch-only; this is the graft's §2.8 streaming analog of
the A10 rollup (docs/ROUND3_PLAN.md, VERDICT r2 next-round item 10). The
built-in ``groupBy(cell).count()`` streaming agg could maintain the count
alone; the custom operator exists to carry operator-defined state shapes
(here: count + batches-touched; the pattern extends to per-cell sketches)
that built-in aggs can't express.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..config import EngineConfig
from ..functions import cells_sql
from ..functions.tiling import H3_RES_TO_LEVEL
from ..sources.docsgen import DOC_SCHEMA_DDL
from ..sources.parse import parse_nodes


def _cell_update_fn(key, pdf_iter, state):
    """Per-cell state update: (node_count, batch_count) running totals."""
    import pandas as pd

    if state.exists:
        node_count, batch_count = state.get
    else:
        node_count, batch_count = 0, 0
    added = 0
    for pdf in pdf_iter:
        added += len(pdf)
    node_count += added
    batch_count += 1
    state.update((node_count, batch_count))
    yield pd.DataFrame(
        {
            "cell": [key[0]],
            "node_count": [node_count],
            "batch_count": [batch_count],
        }
    )


def streaming_cell_updates(
    docs_stream: DataFrame, config: EngineConfig | None = None, res: int = 7
) -> DataFrame:
    """docs stream → per-batch updated (cell, node_count, batch_count) rows."""
    config = config or EngineConfig()
    level = H3_RES_TO_LEVEL[res]
    cells = parse_nodes(docs_stream, config).select(
        cells_sql.cell("lat", "lon", level, "clamp").alias("cell")
    )
    return cells.groupBy("cell").applyInPandasWithState(
        _cell_update_fn,
        outputStructType="cell long, node_count long, batch_count long",
        stateStructType="node_count long, batch_count long",
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def _log_subdirs(out_dir: str) -> list[tuple[int, str]]:
    """(batch_num, path) for every per-batch/snapshot dir in the upsert log."""
    import os
    import re

    out = []
    if not os.path.isdir(out_dir):
        return out
    for name in os.listdir(out_dir):
        m = re.fullmatch(r"[bc](\d+)", name)
        if m:
            out.append((int(m.group(1)), os.path.join(out_dir, name)))
    return sorted(out)


def stream_tile_rollup(
    spark: SparkSession,
    docs_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    config: EngineConfig | None = None,
    res: int = 7,
    compact_every: int = 10,
) -> StreamingQuery:
    """Watch ``docs_dir``; maintain the live rollup as a parquet upsert log.

    Update-mode emits each batch's changed cells with their CUMULATIVE
    totals; ``foreachBatch`` lands each batch in its own ``b<id>`` subdir
    (mode=overwrite ⇒ a replayed batch rewrites identical content, so the
    sink is idempotent), and the current rollup is latest-batch-per-cell
    (``read_live_rollup``) — the same shape an Iceberg MERGE-per-cell sink
    would take in production. foreachBatch is checkpoint-recoverable (the
    memory sink is not), so a restarted query resumes the per-cell state
    store exactly-once over the file source. ``trigger(availableNow)``
    drains pending files then stops.

    Compaction: every ``compact_every`` batches the sink rewrites the
    latest-per-cell snapshot into ``c<id>`` and drops the older subdirs, so
    log size and ``read_live_rollup`` cost stay O(live cells + compact_every
    · batch updates) instead of growing with the query's lifetime. Ordered
    for crash-safety: the snapshot lands (idempotent overwrite) before any
    deletion, and a crash mid-delete only leaves duplicate rows that the
    latest-per-cell read already resolves. Set ``compact_every=0`` to
    disable. (Dir pruning uses local-fs ops; a cloud deployment swaps in the
    object-store delete API.)"""
    docs = spark.readStream.schema(DOC_SCHEMA_DDL).parquet(docs_dir)
    updates = streaming_cell_updates(docs, config, res)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        import os
        import shutil

        batch_df.withColumn("_batch", F.lit(batch_id)).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"b{batch_id:09d}")
        )
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            session = batch_df.sparkSession
            older = [p for n, p in _log_subdirs(out_dir) if n < batch_id]
            if not older:
                return
            snap = _latest_per_cell(session.read.parquet(*older, os.path.join(out_dir, f"b{batch_id:09d}")))
            snap.write.mode("overwrite").parquet(os.path.join(out_dir, f"c{batch_id:09d}"))
            for p in older:
                shutil.rmtree(p, ignore_errors=True)

    return (
        updates.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )


def _latest_per_cell(log: DataFrame) -> DataFrame:
    from pyspark.sql.window import Window

    w = Window.partitionBy("cell").orderBy(F.desc("_batch"))
    return (
        log.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .select("cell", "node_count", "batch_count", "_batch")
    )


def read_live_rollup(spark: SparkSession, out_dir: str) -> DataFrame:
    """Current rollup: the latest emitted row per cell from the upsert log
    (per-batch ``b*`` dirs plus at most one live compaction snapshot
    ``c*``)."""
    dirs = [p for _n, p in _log_subdirs(out_dir)]
    log = spark.read.parquet(*dirs) if dirs else spark.read.parquet(out_dir)
    return _latest_per_cell(log).drop("_batch")
