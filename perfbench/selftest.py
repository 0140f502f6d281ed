#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at tiny input sizes.

  python3 perfbench/selftest.py

In one Spark session it runs every workload untraced and traced, and
checks that each result lists exactly the metrics ``BENCHMARK.json`` names,
with their units, and that the output checks pass.  Then it plants a wrong
output -- one sink file of the first timed pipeline_job iteration is
deleted after the job wrote it -- and checks that the run reports it as a
failure.  Exits 0 when all of that holds.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SCALE = 0.1


def _units(result: dict) -> dict[str, str]:
    return {k: v["unit"] for k, v in result["metrics"].items()}


def main() -> int:
    sys.path.insert(0, str(ROOT))
    from perfbench import harness

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    want = {
        False: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        True: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    tmp = ROOT / ".perfbench" / f"selftest-{os.getpid()}"
    harness.prepare_environment(tmp)
    t0 = time.perf_counter()
    spark = harness.start_session(tmp / "events")
    session_s = time.perf_counter() - t0
    problems: list[str] = []
    try:
        from perfbench.workloads import WORKLOADS, PipelineJob

        class PlantedWrongOutput(PipelineJob):
            def iteration(self, i: int) -> list[float]:
                batches = super().iteration(i)
                if i == 0:
                    next((self.iter_dir(i) / "sinks").rglob("*.parquet")).unlink()
                return batches

        for name, cls in WORKLOADS.items():
            for trace in (False, True):
                w = cls(spark, tmp / f"{name}-{int(trace)}", tmp / "traces", 1, SCALE)
                r = harness.run_workload(spark, w, 0, trace, session_s)
                harness.log(f"selftest {name} trace={int(trace)}: {json.dumps(r)[:300]}")
                if _units(r) != want[trace]:
                    problems.append(f"{name} trace={int(trace)}: metric names or units differ")
                if not r["correct"] or r["failed"]:
                    problems.append(f"{name} trace={int(trace)}: output check failed")
        w = PlantedWrongOutput(spark, tmp / "planted", tmp / "traces", 1, SCALE)
        r = harness.run_workload(spark, w, 0, False, session_s)
        if r["correct"] or r["failed"] == 0:
            problems.append("planted wrong output was not counted as failed")
    finally:
        harness.stop_session(spark)
        shutil.rmtree(tmp, ignore_errors=True)
    for p in problems:
        print(f"FAIL {p}", file=sys.stderr)
    print("selftest ok" if not problems else f"selftest: {len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    raise SystemExit(main())
