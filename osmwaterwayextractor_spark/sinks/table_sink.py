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
"""

from __future__ import annotations

import os
import shutil
from typing import Optional

from pyspark.sql import DataFrame, SparkSession


class ParquetTableSink:
    """Partitioned-parquet implementation of the table-sink surface."""

    def __init__(self, location: str):
        self.location = location

    def append(self, df: DataFrame, partition_col: Optional[str] = None) -> None:
        w = df.write.mode("append")
        if partition_col:
            w = w.partitionBy(partition_col)
        w.parquet(self.location)

    def overwrite(self, df: DataFrame, partition_col: Optional[str] = None) -> None:
        w = df.write.mode("overwrite")
        if partition_col:
            w = w.partitionBy(partition_col)
        w.parquet(self.location)

    def read(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.location)

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
