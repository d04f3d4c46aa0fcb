"""Record the expected output fingerprint of each workload for some seeds.

Run from the repository root after a change that alters the engine's
output on purpose:

    python3 perfbench/record_fingerprints.py 1 2 3 4 5 6 7 8 9 10

Builds every workload's docs for each seed through the default path in one
Spark session and rewrites ``perfbench/expected.json``. ``run.py`` then
counts a landed result that differs from the recorded value as failed.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import uuid

import run


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("seeds", type=int, nargs="+")
    seeds = ap.parse_args().seeds
    work = run.ROOT / ".perfbench_work" / f"record-{uuid.uuid4().hex[:8]}"
    expected: dict = {}
    args = argparse.Namespace(workload=next(iter(run.WORKLOADS)), seed=seeds[0], seconds=0, trace=0)
    bench = run.Bench(args, work)
    bench.start_session()
    try:
        for seed in seeds:
            bench.params = run.docs_params(seed)
            by_size: dict[int, dict] = {}  # workloads of one size share docs
            for name, workload in run.WORKLOADS.items():
                n = workload["docs"]
                if n not in by_size:
                    tag = f"{seed}-{n}"
                    docs = bench.stage_docs(n, str(work / "docs" / tag))
                    out = str(work / "out" / tag)
                    bench.build_and_land("build", docs, out, None)
                    fp = run.checks.fingerprint(out, bench.cfg.tile_resolutions)
                    if fp["errors"]:
                        raise RuntimeError(f"{tag}: {fp['errors']}")
                    by_size[n] = {k: fp[k] for k in ("nodes", "edges", "tiles")}
                expected.setdefault(name, {})[str(seed)] = by_size[n]
    finally:
        bench.stop_session()
        shutil.rmtree(work, ignore_errors=True)
    (run.HERE / "expected.json").write_text(json.dumps(expected, indent=1, sort_keys=True) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
