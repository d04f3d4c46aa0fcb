"""Capture the intersections-stage formatted plans (OPTIMIZATION_r06 §6).

Composes detect_intersections + insert_intersections exactly as the
pipeline does (simplified + covered read back from parquet written by the
engine's one stage-table writer, ParquetTableSink) and writes the
`.explain("formatted")` output to

  plans/r06/intersections_detect_{before,after}.txt
  plans/r06/intersections_insert_{before,after}.txt

The "before" variant reproduces the round-5 plan shape by neutralizing
DataFrame.hint for the composition (round 5 placed no join hints on this
stage, so Catalyst picked sort-merge joins); "after" is the shipped code
with the shuffle_hash pins. Explain is driver-only — no jobs run beyond
the one-time scratch build, so this never contaminates a bench session.
The /dev/shm/plan-* scratch is keyed by a fingerprint of the engine
source and config; clear old fingerprints by hand to reclaim tmpfs.

Usage: python scripts/plan_intersections.py [n_docs]   # default 20000
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def _fingerprint(cfg, params) -> str:
    """12-hex digest of the engine package source, ``cfg`` and ``params``."""
    import glob
    import hashlib

    h = hashlib.sha256(repr((cfg, params)).encode())
    pkg = os.path.join(ROOT, "osmwaterwayextractor_spark")
    for f in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def _explain(spark, df) -> str:
    return spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000
    os.environ.setdefault("SPARK_GRAFT_BENCH_MODE", "pipeline")  # AQE off, like the pipeline
    from bench import build_session

    spark = build_session(int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0)))))

    from osmwaterwayextractor_spark.config import EngineConfig
    from osmwaterwayextractor_spark.operators.assemble import assemble_clean_simplify
    from osmwaterwayextractor_spark.operators.geometry_ops import (
        _covered_for_join,
        detect_intersections,
        insert_intersections,
    )
    from osmwaterwayextractor_spark.sinks.table_sink import ParquetTableSink
    from osmwaterwayextractor_spark.sources.docsgen import DocsGenParams, docs_dataframe
    from osmwaterwayextractor_spark.sources.parse import (
        nodes_from_parsed,
        parse_osm,
        ways_from_parsed,
    )

    cfg = EngineConfig(filter_waterway_types=False)
    params = DocsGenParams(seed=42, mega_every=200, mega_refs=20000)
    # an edit to the engine, cfg or params lands in a fresh scratch path
    scratch = f"/dev/shm/plan-{n_docs}-{_fingerprint(cfg, params)}"
    simplified_path = f"{scratch}-simplified"
    covered_path = f"{scratch}-covered"
    plan_dir = os.path.join(ROOT, "plans", "r06")
    os.makedirs(plan_dir, exist_ok=True)

    def cached(df, path):
        """``df`` as the parquet table at ``path``, written on the first run."""
        sink = ParquetTableSink(path)
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            sink.overwrite(df)
        return sink.read(spark)

    if not os.path.exists(os.path.join(simplified_path, "_SUCCESS")):
        docs = cached(docs_dataframe(spark, n_docs, params), f"{scratch}-docs")
        parsed = cached(parse_osm(docs, cfg), f"{scratch}-parsed")
        ways, nodes = ways_from_parsed(parsed, cfg), nodes_from_parsed(parsed)
        cached(assemble_clean_simplify(ways, nodes, cfg), simplified_path)
    simplified = spark.read.parquet(simplified_path)
    covered = cached(_covered_for_join(simplified, cfg), covered_path)

    # Patch the CONCRETE class (Spark 4 instances are
    # pyspark.sql.classic.dataframe.DataFrame, which overrides the abstract
    # base's hint — patching pyspark.sql.DataFrame silently does nothing).
    cls = type(simplified)
    real_hint = cls.hint
    for tag in ("after", "before"):
        if tag == "before":
            # drop only the round-6 shuffle_hash pins; any other hint still
            # reaches the plan
            cls.hint = lambda self, name, *args: (
                self if name == "shuffle_hash" else real_hint(self, name, *args)
            )
        try:
            points = detect_intersections(simplified, cfg, covered=covered)
            staged = insert_intersections(simplified, points, cfg, covered=covered)
            for name, df in (("detect", points), ("insert", staged)):
                with open(
                    os.path.join(plan_dir, f"intersections_{name}_{tag}.txt"), "w"
                ) as f:
                    f.write(_explain(spark, df))
            print(f"[plan] wrote intersections_{{detect,insert}}_{tag}.txt", flush=True)
        finally:
            cls.hint = real_hint
    spark.stop()


if __name__ == "__main__":
    main()
