#!/usr/bin/env python3
"""The repository's benchmark: one workload per run, one JSON result line.

Usage (from anywhere; paths are resolved from this file):

  python3 perfbench/run.py --workload pipeline_job --seed 1 --seconds 12 --trace 0

Workloads: pipeline_job and neardup_dedup (README.md says why each
exists).  ``--trace 0`` prints the end-to-end metrics; ``--trace 1``
runs the traced protocol and prints the per-layer metrics instead.  The
last line of standard output is ``{"correct", "attempted", "failed",
"metrics"}``; progress goes to standard error.  Temporary files live under
``.perfbench/`` in the checkout and are removed at exit; span files are
kept in ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
# the engine files the benchmark drives; without them there is nothing to run
REQUIRED = [
    "mariadb_to_graylog_spark/__init__.py",
    "jobs/run_pipeline.py",
    "bench.py",
    "tools/stage_metrics.py",
    "tools/bench_dedup_scale.py",
    "tests/reference_sim.py",
]
WORKLOAD_NAMES = ["pipeline_job", "neardup_dedup"]


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(prog="perfbench")
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    missing = [p for p in REQUIRED if not (ROOT / p).is_file()]
    if missing:
        print(f"perfbench: engine sources missing: {', '.join(missing)}", file=sys.stderr)
        return 2

    t_session = time.perf_counter()
    sys.path.insert(0, str(ROOT))
    from perfbench import harness

    tmp = ROOT / ".perfbench" / f"run-{os.getpid()}"
    try:
        harness.prepare_environment(tmp)
        spark = harness.start_session(tmp / "events" if args.trace else None)
        try:
            from perfbench.workloads import WORKLOADS

            workload = WORKLOADS[args.workload](
                spark, tmp, ROOT / ".perfbench" / "traces", args.seed
            )
            result = harness.run_workload(
                spark, workload, args.seconds, bool(args.trace),
                session_s=time.perf_counter() - t_session,
            )
        finally:
            harness.stop_session(spark)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    harness.log("stopped")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
