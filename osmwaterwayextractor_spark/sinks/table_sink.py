"""Iceberg-shaped table sink seam (README "Iceberg deviation").

The final nodes/edges land through a ``writeTo``-shaped interface so a real
Iceberg catalog drops in as ONE constructor swap — no operator, plan, or
checkpoint logic touches the storage format directly:

- ``ParquetTableSink`` — what this sandbox runs: Iceberg-STYLE layout on
  plain parquet (``<col>=<val>/part-*.parquet`` Hive partitioning), with
  partition listing/pruning implemented on the filesystem and per-file
  lineage read from the parquet footers. Fully tested.
- ``IcebergTableSink`` — the production implementation: the same four
  methods expressed as ``df.writeTo(table)`` / catalog reads. It cannot run
  here (no iceberg-spark jar or catalog service in the container), so it is
  code-complete but unexercised; its partition recovery comes from Iceberg
  snapshots/metadata tables rather than directory listings and footers.

``plans.checkpoint.Checkpointer.materialize_partitioned`` accepts any object
with this surface via its ``sink`` parameter.

``ParquetTableSink`` also writes every scratch table (``scratch_table``), so
it is the one writer of every stage table. A plan cut that is not a table,
the pipeline's stage boundaries without a checkpointer, goes through
``block_cut`` instead.
"""

from __future__ import annotations

import atexit
import json
import os
import shutil
import uuid
from typing import Optional

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# Parquet scans split at row-group granularity: a stage written from a
# skewed shuffle otherwise yields a few single-row-group files, and its
# scans run 6-9 tasks at 0.26 utilization (round-5 event-log audit) or one
# split holds a cluster of mega-way rows (~320 KB per 20k vertices). Finer
# row groups cost about nothing (snappy ratio unchanged) and key no stage
# hash: they change no row.
ROW_GROUP_BYTES = 8 * 1024 * 1024
# the parquet footer key under which Spark's writer stores the row schema
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


class ParquetTableSink:
    """Partitioned-parquet implementation of the table-sink surface."""

    def __init__(self, location: str):
        self.location = location

    def _write(self, df: DataFrame, mode: str, partition_col: Optional[str]) -> None:
        w = df.write.mode(mode).option("parquet.block.size", str(ROW_GROUP_BYTES))
        if partition_col:
            w = w.partitionBy(partition_col)
        w.parquet(self.location)

    def append(self, df: DataFrame, partition_col: Optional[str] = None) -> None:
        self._write(df, "append", partition_col)

    def overwrite(self, df: DataFrame, partition_col: Optional[str] = None) -> None:
        self._write(df, "overwrite", partition_col)

    def read(self, spark: SparkSession) -> DataFrame:
        """The table, read with the Spark schema its writer stored in the
        footer of its first data file, so the read runs no schema-inference
        job. Partition columns come from the directory names, as in an
        inferred read. A table with no data file (an empty partitioned
        write) is read with inference."""
        schema = self._footer_schema()
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(self.location)

    def _footer_schema(self) -> Optional[StructType]:
        import pyarrow.parquet as pq

        for d, dirs, names in os.walk(self.location):
            dirs[:] = sorted(n for n in dirs if not n.startswith(("_", ".")))
            for name in sorted(names):
                if name.startswith(("_", ".")) or not name.endswith(".parquet"):
                    continue
                meta = pq.read_metadata(os.path.join(d, name)).metadata or {}
                raw = meta.get(SPARK_SCHEMA_KEY)
                return None if raw is None else StructType.fromJson(json.loads(raw))
        return None

    def list_partitions(self, partition_col: str) -> list[str]:
        """Partition VALUES currently present (Hive dir names)."""
        prefix = f"{partition_col}="
        if not os.path.isdir(self.location):
            return []
        return sorted(
            n[len(prefix):] for n in os.listdir(self.location) if n.startswith(prefix)
        )

    def drop_partition(self, partition_col: str, value: str) -> None:
        shutil.rmtree(
            os.path.join(self.location, f"{partition_col}={value}"), ignore_errors=True
        )

    def files(self, partition_col: Optional[str] = None, skip=frozenset()) -> list[dict]:
        """One record per data file outside the partitions in ``skip``: its
        partition value, path under the table, rows and bytes. The row count
        comes from the file's footer, read on the driver; no Spark job."""
        import pyarrow.parquet as pq

        if partition_col:
            dirs = [
                (v, f"{partition_col}={v}")
                for v in self.list_partitions(partition_col)
                if v not in skip
            ]
        else:
            dirs = [(None, "")]
        out = []
        for value, rel in dirs:
            d = os.path.join(self.location, rel)
            for name in sorted(os.listdir(d)):
                if name.startswith(("_", ".")) or not name.endswith(".parquet"):
                    continue
                path = os.path.join(d, name)
                out.append(
                    {
                        "partition": value,
                        "file": os.path.join(rel, name),
                        "rows": pq.read_metadata(path).num_rows,
                        "bytes": os.path.getsize(path),
                    }
                )
        return out


def scratch_dir(spark: SparkSession) -> str:
    """A fresh ``osmwwe-stages-<id>`` path under the first ``spark.local.dir``
    entry for one call's scratch tables, so a later call cannot overwrite
    what an earlier lazy result reads; removed at process exit (tmpfs)."""
    base = spark.conf.get("spark.local.dir", "/tmp").split(",")[0]
    path = os.path.join(base, f"osmwwe-stages-{uuid.uuid4().hex[:8]}")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def scratch_table(df: DataFrame, scratch: str, name: str) -> DataFrame:
    """Write ``df`` as table ``name`` under ``scratch`` and read it back: a
    table that stays off executor storage, for a reader that must not add a
    persistent RDD (the minhash shingles). A plan cut goes through
    ``block_cut``, which pays no parquet write."""
    sink = ParquetTableSink(os.path.join(scratch, name))
    sink.overwrite(df)
    return sink.read(df.sparkSession)


def block_cut(df: DataFrame) -> DataFrame:
    """Cut ``df``'s lineage at its rows, held in the block manager as
    serialized blocks that spill to ``spark.local.dir`` past the storage
    memory: PySpark's ``MEMORY_AND_DISK`` is the serialized level, byte
    buffers, not the deserialized row objects that inflated the GC of round
    2's cuts (docs/SCALE.md "Stage-boundary materialization"). Unlike a
    parquet round trip it forks no ``chmod`` per file and runs no read-back
    job. The blocks go with the last reference to the result, through
    Spark's ContextCleaner."""
    return df.localCheckpoint(eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK)


class IcebergTableSink:
    """Iceberg catalog implementation — same surface, ``writeTo`` verbs.

    Requires a configured Iceberg catalog (spark.sql.catalog.* + the
    iceberg-spark runtime jar), neither of which ships in this sandbox; on a
    real cluster this class replaces ParquetTableSink with no other change.
    Partition bookkeeping uses the ``<table>.partitions`` metadata table and
    ``DELETE WHERE`` — Iceberg's snapshot log supersedes the sidecar-based
    crash recovery the parquet sink needs — and per-file lineage the
    ``<table>.files`` metadata table.

    The tiled tables map onto a table created ``PARTITIONED BY (tile_part)``
    (operators.tiles.TILE_PART, the level-2 ancestor of the coarsest cell)
    with write order ``cell_r<min res>`` and range distribution
    (``write.distribution-mode=range``): the same layout the parquet sink
    gets from ``materialize_partitioned``'s range repartition and sort, so
    cell pruning comes from file and row-group statistics, not partitions.
    """

    def __init__(self, table: str):
        self.table = table

    def append(self, df: DataFrame, partition_col: Optional[str] = None) -> None:
        # partitioning is a property of the Iceberg table (PARTITIONED BY at
        # create time), not of the write
        df.writeTo(self.table).append()

    def overwrite(self, df: DataFrame, partition_col: Optional[str] = None) -> None:
        df.writeTo(self.table).overwritePartitions()

    def read(self, spark: SparkSession) -> DataFrame:
        return spark.read.table(self.table)

    def list_partitions(self, partition_col: str) -> list[str]:
        spark = SparkSession.getActiveSession()
        rows = spark.sql(
            f"SELECT partition.{partition_col} AS v FROM {self.table}.partitions"
        ).collect()
        return sorted(str(r["v"]) for r in rows)

    def drop_partition(self, partition_col: str, value: str) -> None:
        spark = SparkSession.getActiveSession()
        spark.sql(f"DELETE FROM {self.table} WHERE {partition_col} = '{value}'")

    def files(self, partition_col: Optional[str] = None, skip=frozenset()) -> list[dict]:
        spark = SparkSession.getActiveSession()
        part = f"partition.{partition_col}" if partition_col else "NULL"
        rows = spark.sql(
            f"SELECT {part} AS v, file_path, record_count, file_size_in_bytes "
            f"FROM {self.table}.files"
        ).collect()
        out = []
        for r in rows:
            value = None if r["v"] is None else str(r["v"])
            if value not in skip:
                out.append(
                    {
                        "partition": value,
                        "file": r["file_path"],
                        "rows": r["record_count"],
                        "bytes": r["file_size_in_bytes"],
                    }
                )
        return out
