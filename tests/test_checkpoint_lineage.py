"""Checkpoint lineage is written by the driver after each commit, one
``lineage/run-<id>.json`` per run with a record per file the run added,
read from the parquet footers: no row passes through Python to be counted."""

import inspect
import os
import re
import shutil

from pyspark.sql import functions as F

from osmwaterwayextractor_spark.config import EngineConfig
from osmwaterwayextractor_spark.plans import checkpoint
from osmwaterwayextractor_spark.plans.checkpoint import Checkpointer

CFG = EngineConfig()


def _lineage_files(ck, stage):
    return sorted(os.listdir(os.path.join(ck._stage_dir(stage, CFG), "lineage")))


def _only_runs(names):
    return all(re.fullmatch(r"run-[0-9a-f]+\.json", n) for n in names)


def test_materialize_lineage_counts_the_table(spark, tmp_path):
    ck = Checkpointer(spark, str(tmp_path / "ck"))
    df = spark.range(0, 1000, numPartitions=4).select(F.col("id"), (F.col("id") * 2).alias("x"))
    out = ck.materialize("lin_demo", CFG, lambda: df)
    lin = ck.lineage("lin_demo", CFG)
    assert sum(r["rows"] for r in lin) == out.count() == 1000
    assert all(r["bytes"] > 0 and r["rows_per_sec"] > 0 and r["seconds"] > 0 for r in lin)
    assert {r["run_id"] for r in lin} == {ck.events[-1]["run_id"]}
    names = _lineage_files(ck, "lin_demo")
    assert len(names) == 1 and _only_runs(names)


def test_materialize_lineage_after_a_whole_stage_recompute(spark, tmp_path):
    ck = Checkpointer(spark, str(tmp_path / "ck"))
    df = spark.range(0, 1000, numPartitions=4).select(F.col("id"))
    ck.materialize("lin_redo", CFG, lambda: df)
    os.remove(os.path.join(ck._stage_dir("lin_redo", CFG), "data", "_SUCCESS"))
    ck2 = Checkpointer(spark, ck.root)
    out = ck2.materialize("lin_redo", CFG, lambda: df)
    assert ck2.events[-1]["action"] == "computed"
    lin = ck2.lineage("lin_redo", CFG)
    assert sum(r["rows"] for r in lin) == out.count() == 1000
    assert {r["run_id"] for r in lin} == {ck2.events[-1]["run_id"]}
    assert len(_lineage_files(ck2, "lin_redo")) == 2  # both runs' files stay


def test_partitioned_lineage_records_only_what_a_run_wrote(spark, tmp_path):
    ck = Checkpointer(spark, str(tmp_path / "ck"))
    df = spark.range(0, 600, numPartitions=3).select(
        (F.col("id") % 6).alias("tile"), F.col("id"), (F.col("id") % 50).alias("cell")
    )
    out = ck.materialize_partitioned("plin_demo", CFG, df, "tile", sort_col="cell")
    lin = ck.lineage("plin_demo", CFG)
    assert sum(r["rows"] for r in lin) == out.count() == 600
    assert {r["partition"] for r in lin} == {str(t) for t in range(6)}

    # a partial resume: two partitions lost, the rest committed
    sdir = ck._stage_dir("plin_demo", CFG)
    os.remove(os.path.join(sdir, "_STAGE_DONE"))
    for t in ("1", "4"):
        shutil.rmtree(os.path.join(sdir, "data", f"tile={t}"))
    ck2 = Checkpointer(spark, ck.root)
    out2 = ck2.materialize_partitioned("plin_demo", CFG, df, "tile", sort_col="cell")
    assert out2.count() == 600
    run = ck2.events[-1]["run_id"]
    new = [r for r in ck2.lineage("plin_demo", CFG) if r["run_id"] == run]
    assert {r["partition"] for r in new} == {"1", "4"}
    assert sum(r["rows"] for r in new) == 200
    # the first run's records of the two deleted partitions are gone
    assert sum(r["rows"] for r in ck2.lineage("plin_demo", CFG)) == 600
    names = _lineage_files(ck2, "plin_demo")
    assert len(names) == 2 and _only_runs(names)


def test_no_python_pass_counts_checkpointed_rows():
    assert "mapInPandas" not in inspect.getsource(checkpoint)


def test_iceberg_sink_lineage_reads_the_files_metadata_table(spark, monkeypatch):
    from pyspark.sql import Row

    from osmwaterwayextractor_spark.sinks.table_sink import IcebergTableSink

    issued = []

    def fake_sql(q, *a, **kw):
        issued.append(q)

        class _R:
            def collect(self):
                return [
                    Row(v=7, file_path="s3://t/a.parquet", record_count=3, file_size_in_bytes=90),
                    Row(v=9, file_path="s3://t/b.parquet", record_count=4, file_size_in_bytes=99),
                ]

        return _R()

    monkeypatch.setattr(spark, "sql", fake_sql)
    recs = IcebergTableSink("cat.db.edges").files("tile_part", skip={"9"})
    assert issued == [
        "SELECT partition.tile_part AS v, file_path, record_count, file_size_in_bytes "
        "FROM cat.db.edges.files"
    ]
    assert recs == [{"partition": "7", "file": "s3://t/a.parquet", "rows": 3, "bytes": 90}]
