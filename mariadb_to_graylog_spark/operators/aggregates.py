"""Run aggregates (SURVEY.md A1-A2).

The reference's only aggregation is its in-memory request counters
(lib_consumer/request_counters.py:39-67).  The north-rule adds per-sink
routed counts and per-source severity histograms, both read off one plain
hash aggregation -- partial (map-side) + final aggregation come free from
Catalyst, so no explicit salting is needed here even for hot keys: the
cardinality of (sink, source, severity) is tiny and the partial agg
absorbs the skew before the shuffle.  The job's row totals come from an
``observe()`` on the write action (jobs/run_pipeline.py), not a separate
aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def combined_counts(routed: DataFrame) -> DataFrame:
    """One-pass (sink, source, severity) counts: per-sink counts and the
    severity histogram both derive from this single aggregate, so a full
    metrics pass over routed events costs ONE shuffle of a tiny keyspace --
    no caching of the fat routed rows needed (at 100 TB, persisting routed
    output to compute two aggregates would thrash the block manager;
    measured: dropping the persist removed a GC stall at local[32])."""
    return routed.groupBy("sink", "source", "severity").agg(
        F.count(F.lit(1)).alias("n")
    )

