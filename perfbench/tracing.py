"""Layer spans for the traced run, and the Spark counters attached to them.

A span is recorded in memory around each call into a layer's public
function: name, start, end, parent span and run id.  Every span runs under
its own Spark job group, so the jobs it triggers can be found again in the
event log.  ``attach_counters`` reads the event log once at the end: the
per-stage task metrics come from ``tools/stage_metrics.parse_event_log``,
and the job -> (group, stages) map and the task CPU time, which that parser
does not keep, from one extra pass here.

A layer is measured as a *prefix*: the plan up to and including the layer,
materialised through the ``noop`` sink (or by the call's own action).  Its
self cost is its prefix minus the prefixes it builds on, clamped at zero,
for the time and for every Spark counter alike.
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path
from urllib.parse import urlparse

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

# the counters reported for every layer, with their units
COUNTERS = {
    "wall_s": "s",
    "jobs": "count",
    "stages": "count",
    "shuffle_mb": "MB",
    "spill_mb": "MB",
    "gc_s": "s",
    "task_cpu_s": "s",
    "rows_out": "count",
}

PIPELINE_LAYERS = [
    "sources.read",
    "plans.split_dialects",
    "operators.errorlog.parse",
    "operators.assembly.assemble",
    "operators.slowlog.parse",
    "plans.enrich",
    "operators.routing.route",
    "operators.routing.write_fanout",
    "operators.aggregates.combined_counts",
    "sources.lineage",
]
DEDUP_LAYERS = [
    "operators.dedup.signatures",
    "operators.dedup.candidates",
    "operators.dedup.verify",
    "operators.dedup.components",
]
LAYERS = PIPELINE_LAYERS + DEDUP_LAYERS

# metrics that are not a layer's counter set; all default to 0 on a
# workload that does not exercise them
EXTRA_METRICS = {
    "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.jobs_per_batch": "jobs/batch",
    "operators.dedup.candidate_pairs": "count",
    "operators.dedup.verified_pairs": "count",
    "operators.dedup.verify_yield": "ratio",
    "trace.overhead_s": "s",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name -> unit, in report order."""
    units = {f"{layer}.{c}": u for layer in LAYERS for c, u in COUNTERS.items()}
    units.update(EXTRA_METRICS)
    return units


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    run_id: str
    group: str
    rows_out: int | None = None
    builds_on: list[str] = field(default_factory=list)


class Tracer:
    """In-memory span recorder; one per traced run."""

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str, parent: str | None = None) -> Iterator[Span]:
        sc = self.spark.sparkContext
        group = f"{self.run_id}/{name}"
        sc.setJobGroup(group, name)
        sp = Span(name, time.time(), 0.0, parent, self.run_id, group)
        try:
            yield sp
        finally:
            sp.end = time.time()
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self.spans.append(sp)

    def prefix(
        self,
        name: str,
        build: Callable[[], DataFrame | int],
        builds_on: list[str] | None = None,
        parent: str | None = None,
    ) -> None:
        """Time one layer prefix.  ``build`` returns either a DataFrame,
        which is materialised through the noop sink with its row count
        observed, or the row count of an action it ran itself."""
        with self.span(name, parent) as sp:
            out = build()
            if isinstance(out, DataFrame):
                df, obs = counted(out, f"rows_{len(self.spans)}")
                df.write.format("noop").mode("overwrite").save()
                out = obs.get["n"]
            sp.rows_out = int(out)
            sp.builds_on = list(builds_on or [])

    def write(self, path: Path, counters: dict[str, dict[str, float]]) -> None:
        """The spans as JSON, each with its self counters."""
        path.parent.mkdir(parents=True, exist_ok=True)
        spans = [{**vars(s), "self": counters.get(s.name, {})} for s in self.spans]
        path.write_text(json.dumps(spans, indent=1))


def counted(df: DataFrame, name: str) -> tuple[DataFrame, Observation]:
    """``df`` with its row count observed by whichever action runs it."""
    obs = Observation(name)
    return df.observe(obs, F.count(F.lit(1)).alias("n")), obs


def flush_event_log(spark) -> None:
    """Wait until the listener bus has written every event so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60_000)


def event_log_file(spark) -> Path:
    """This application's event log (plain JSON, one file, see bench_spark)."""
    sc = spark.sparkContext
    base = Path(urlparse(sc.getConf().get("spark.eventLog.dir")).path) / sc.applicationId
    inprogress = base.with_name(base.name + ".inprogress")
    return inprogress if inprogress.exists() else base


def job_index(event_log: Path) -> tuple[dict[str, list[list[int]]], dict[int, float]]:
    """(job group -> stage-id lists of its jobs, stage id -> task CPU s)."""
    groups: dict[str, list[list[int]]] = {}
    cpu: dict[int, float] = {}
    with open(event_log, encoding="utf-8") as fh:
        for line in fh:
            if '"SparkListenerJobStart"' in line:
                ev = json.loads(line)
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group:
                    groups.setdefault(group, []).append(ev.get("Stage IDs", []))
            elif '"SparkListenerTaskEnd"' in line:
                ev = json.loads(line)
                ns = (ev.get("Task Metrics") or {}).get("Executor CPU Time", 0)
                cpu[ev["Stage ID"]] = cpu.get(ev["Stage ID"], 0.0) + ns / 1e9
    return groups, cpu


def attach_counters(
    spans: list[Span], event_log: Path, parse_event_log
) -> dict[str, dict[str, float]]:
    """Self counters per span name (see the module docstring)."""
    stages = {s["stage"]: s for s in parse_event_log(str(event_log))}
    groups, cpu = job_index(event_log)
    totals: dict[str, dict[str, float]] = {}
    for sp in spans:
        jobs = groups.get(sp.group, [])
        ran = {sid for ids in jobs for sid in ids if sid in stages}
        totals[sp.name] = {
            "wall_s": sp.end - sp.start,
            "jobs": len(jobs),
            "stages": len(ran),
            "shuffle_mb": sum(stages[s]["shuffle_write_mb"] for s in ran),
            "spill_mb": sum(stages[s]["spill_mb"] for s in ran),
            "gc_s": sum(stages[s]["gc_ms"] for s in ran) / 1000.0,
            "task_cpu_s": sum(cpu.get(s, 0.0) for s in ran),
        }
    out: dict[str, dict[str, float]] = {}
    for sp in spans:
        own = dict(totals[sp.name])
        for base in sp.builds_on:
            for k in own:
                own[k] -= totals[base][k]
        own = {k: max(0.0, v) for k, v in own.items()}
        own["rows_out"] = sp.rows_out or 0
        out[sp.name] = own
    return out
