"""Round-6 measurement harness (guide §1): per-query isolation with the
noop sink + .explain('formatted') capture.

NOT part of the driver contract — bench.py stays the frozen measurement
surface. This file exists so OPTIMIZATION_r06.md numbers and the committed
plans/r06/*_before.txt / *_after.txt artifacts are reproducible.

Usage:
  python bench_extra.py [query ...]          # default: all benched queries
  OSMWWE_PLAN_TAG=before python bench_extra.py epsilon_pairs knn_top1
  SPARK_GRAFT_EXTRA_REPS=3 python bench_extra.py

Prints one JSON line: {"queries": {name: [sec, ...]}, ...}.
Plans land in plans/r06/<name>_<tag>.txt when OSMWWE_PLAN_TAG is set.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import build_session  # same session config as the frozen bench


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    reps = int(os.environ.get("SPARK_GRAFT_EXTRA_REPS", "2"))
    tag = os.environ.get("OSMWWE_PLAN_TAG", "")
    plan_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", "r06")

    from osmwaterwayextractor_spark import entry_queries as EQ

    all_q = EQ.queries()
    names = sys.argv[1:] or [
        "agg_stats", "salted_join", "multi_join", "epsilon_pairs",
        "knn_top1", "exact_dedup", "token_count", "langid", "lsh_ann",
        "minhash_pairs",
    ]

    spark = build_session(cpus)
    runs: dict[str, list[float]] = {}
    try:
        for name in names:
            q = all_q[name]
            if tag:
                os.makedirs(plan_dir, exist_ok=True)
                df = q(spark, sf_dir)
                plan = (
                    spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils
                    .explainString(df._jdf.queryExecution(), "formatted")
                )
                with open(os.path.join(plan_dir, f"{name}_{tag}.txt"), "w") as f:
                    f.write(plan)
            for _ in range(reps):
                spark.sparkContext.setJobDescription(f"extra:{name}")
                t0 = time.time()
                df = q(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                runs.setdefault(name, []).append(round(time.time() - t0, 3))
                spark.sparkContext.setJobDescription(None)
    finally:
        spark.stop()
    print(json.dumps({"sf_dir": sf_dir, "cpus": cpus, "queries": runs}))


if __name__ == "__main__":
    main()
