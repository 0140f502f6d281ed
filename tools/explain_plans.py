#!/usr/bin/env python3
"""Physical-plan inspection: verifies the plans are the ones we want at
scale, not just ones that pass.

Checks:
  1. pipeline: exactly ONE exchange keyed on conv_id feeding both dialect
     branches (ReusedExchange), no join of any kind (enrichment is lookup
     expressions), and no stage fell out of WholeStageCodegen into
     interpreted eval.
  2. column pruning: a 2-column projection over transcripts reads a
     2-column ReadSchema.
  3. predicate pushdown: turn_idx filter appears in PushedFilters.

Usage: python tools/explain_plans.py [--verbose]
"""

from __future__ import annotations

import argparse
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--verbose", action="store_true")
    ap.add_argument("--transcripts", default="/tmp/spark_graft_bench/transcripts_warm")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from mariadb_to_graylog_spark.plans.pipeline import build_routed
    from mariadb_to_graylog_spark.session import get_spark

    spark = get_spark(app_name="explain", cpus=4)
    t = spark.read.parquet(args.transcripts)

    failures: list[str] = []

    # -- 1. pipeline plan shape ---------------------------------------------
    # execute the routed plan ITSELF (not a derived count) so AQE finalizes
    # this QueryExecution: stage reuse only shows in the final adaptive plan
    routed = build_routed(t)
    routed.collect()
    plan = routed._jdf.queryExecution().executedPlan().toString()
    # AdaptiveSparkPlan prints final plan followed by the initial plan --
    # count nodes in the final section only
    plan = plan.split("== Initial Plan ==")[0]
    if args.verbose:
        print(plan)

    n_shuffles = len(re.findall(r"Exchange hashpartitioning", plan))
    n_stages = len(set(re.findall(r"ShuffleQueryStage (\d+)", plan)))
    n_stage_refs = len(re.findall(r"ShuffleQueryStage \d+", plan))
    nodes = re.findall(r"(?m)^[\s:|+\-*()\d]*([A-Za-z]+)", plan)
    joins = sorted({n for n in nodes if n.endswith("Join") or n == "CartesianProduct"})
    final = "isFinalPlan=true" in plan
    print(
        f"pipeline (final={final}): {n_shuffles} hash exchanges, "
        f"{n_stages} distinct shuffle stages / {n_stage_refs} refs, "
        f"joins: {joins or 'none'}"
    )
    if not final:
        failures.append("AQE plan did not finalize")
    # the dialect arms share ONE conv_id shuffle: the second arm's stage
    # is a ReusedExchange of the first arm's, so a noop pass runs two jobs
    # -- that shuffle and the result stage.  Nothing beyond those stages.
    if n_stages > 2:
        failures.append(
            f"expected <=2 conv_id shuffle stages (one per branch), got {n_stages}"
        )
    if "ReusedExchange" not in plan:
        failures.append("dialect arms no longer share the input shuffle (no ReusedExchange)")
    if joins or "BroadcastExchange" in plan:
        failures.append(f"unexpected join in pipeline (dims are lookups): {joins}")

    # sort count: entry assembly must not re-sort after the shared sort
    n_sorts_full = len(re.findall(r"Sort \[conv_id#\d+ ASC NULLS FIRST, turn_idx", plan))
    print(f"full (conv,turn) sorts: {n_sorts_full} (one per dialect branch)")
    if n_sorts_full > 2:
        failures.append(f"expected <=2 (conv,turn) sorts, got {n_sorts_full}")

    # -- 2. column pruning ---------------------------------------------------
    proj = t.select("conv_id", "turn_idx").filter(F.col("turn_idx") > 5)
    pplan = proj._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"ReadSchema: ([^\n]*)", pplan)
    rs = m.group(1) if m else "?"
    print(f"pruned ReadSchema: {rs}")
    if "text" in rs or "role" in rs:
        failures.append(f"column pruning failed: {rs}")

    # -- 3. predicate pushdown ------------------------------------------------
    m = re.search(r"PushedFilters: \[([^\]]*)\]", pplan)
    pf = m.group(1) if m else ""
    print(f"PushedFilters: [{pf}]")
    if "GreaterThan(turn_idx,5)" not in pf.replace(" ", ""):
        failures.append(f"predicate pushdown failed: [{pf}]")

    # -- 4. codegen coverage (AQE off so spans appear in the static plan) ----
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan_nc = (
            build_routed(t)._jdf.queryExecution().executedPlan().toString()
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    # toString marks codegen stages with '*(n)' prefixes
    n_wsc = len(set(re.findall(r"\*\((\d+)\)", plan_nc)))
    print(f"WholeStageCodegen spans in pipeline plan: {n_wsc}")
    if n_wsc < 5:
        failures.append(f"suspiciously few codegen spans: {n_wsc}")

    if failures:
        print("\nFAILURES:")
        for f in failures:
            print(" -", f)
        return 1
    print("\nall plan checks passed")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
