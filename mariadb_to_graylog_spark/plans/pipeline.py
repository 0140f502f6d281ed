"""End-to-end pipeline: parse -> enrich -> route -> aggregate (SURVEY.md section 3).

One declarative DataFrame plan mirroring the reference's consuming loop
(mariadb-log-consumer.py:599-616): transcripts are split by dialect
(a conversation containing any ``'# Time:'`` line is a slow log -- the
reference is told the dialect per file via ``--log-type``, :330-337; here
it is detected per conversation), each branch parses and assembles entries,
both are unioned into one GELF event stream, enriched by ``dims.lookup``
expressions, routed to sinks, and aggregated.

Scale notes
-----------
* The only wide exchange hashes on ``conv_id``; the dialect window, the
  entry-assembly window and the per-entry groupBy all reuse that
  partitioning (Catalyst's EnsureRequirements sees HashPartitioning(conv)
  satisfies clustering on (conv, entry_id)).
* Enrichment joins nothing (CASE lookups): a pass runs two Spark jobs,
  the shared input shuffle and the result stage.
* Hot conversations: ``scalable=True`` switches both dialects to their
  block-scan twins (operators/assembly.py, operators/slowlog.py).
* Aggregations are low-cardinality hash aggs -- partial map-side combine
  absorbs skew before the shuffle.
* GELF serialization for slow entries: the reference never emits GELF on
  the slow path (it prints fingerprints, :870); this engine emits slow
  events with severity NOTE, or WARNING above ``slow_warn_seconds``
  (documented extension; disabled for byte-parity tests by filtering
  source='error').
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mariadb_to_graylog_spark.dims import ROLE_ROWS, TOOL_ROWS, lookup
from mariadb_to_graylog_spark.functions.gelf import (
    gelf_json_compat,
    gelf_json_strict,
    gelf_level,
)
from mariadb_to_graylog_spark.operators.assembly import assemble_error_entries
from mariadb_to_graylog_spark.operators.errorlog import (
    SHORT_MESSAGE_LENGTH,
    parse_error_log_lines,
)
from mariadb_to_graylog_spark.operators.routing import RouterConfig, route
from mariadb_to_graylog_spark.operators.slowlog import is_time_line, parse_slow_log

EVENT_COLS = [
    "source",
    "conv_id",
    "entry_id",
    "start_turn_idx",
    "ts",
    "role",
    "tool",
    "ts_epoch",
    "severity_raw",
    "severity",
    "short_message",
    "text",
    "thread_id",
    "query_time",
    "lock_time",
    "rows_sent",
    "rows_examined",
    "query_fingerprint",
]


@dataclass(frozen=True)
class PipelineConfig:
    hostname: str = "sparkhost"
    mode: str = "strict"  # error-log continuations: 'strict' (drop) | 'intended'
    emit_trailing: bool = False  # slow-log trailing entry at EOF
    serializer: str = "compat"  # 'compat' (byte-equal) | 'strict' (valid JSON)
    slow_warn_seconds: float = 1.0
    scalable: bool = False  # block-local prefix-sum entry ids
    share_scan: str = "recompute"  # 'recompute' | 'persist' (see split_dialects)
    router: RouterConfig = field(default_factory=RouterConfig)


def split_dialects(
    transcripts: DataFrame, share_scan: str = "recompute"
) -> tuple[DataFrame, DataFrame]:
    """(error_convs, slow_convs): dialect = does the conversation contain a
    slow-log entry-start line.

    The input is explicitly repartitioned on conv_id FIRST so the dialect
    window and both branches' downstream windows / groupBys all reuse that
    partitioning: each branch runs scan -> one exchange -> ONE
    (conv_id, turn_idx) sort -> chained windows, with no further shuffles
    or sorts until the per-entry aggregate.

    Both branches share that exchange (AQE plans the second union arm's
    input as a ``ReusedExchange``), so ``share_scan='persist'`` buys
    nothing; it stays only until the benchmark workloads stop passing it.
    """
    prepared = transcripts.repartition("conv_id")
    # orderBy + unbounded-both frame computes the same whole-partition max
    # as a partition-only window, but sorts on (conv_id, turn_idx) -- the
    # exact ordering every downstream window needs, so the entire pipeline
    # runs on ONE sort after ONE exchange.
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    flagged = prepared.withColumn(
        "_is_slow_conv", F.max(is_time_line(F.col("text")).cast("int")).over(w) > 0
    )
    if share_scan == "persist":
        flagged = flagged.persist()
    return (
        flagged.filter(~F.col("_is_slow_conv")).drop("_is_slow_conv"),
        flagged.filter(F.col("_is_slow_conv")).drop("_is_slow_conv"),
    )


def error_events(transcripts: DataFrame, cfg: PipelineConfig) -> DataFrame:
    parsed = parse_error_log_lines(transcripts)
    entries = assemble_error_entries(parsed, mode=cfg.mode, scalable=cfg.scalable)
    return error_entries_to_events(entries)


def error_entries_to_events(entries: DataFrame) -> DataFrame:
    """Entry table -> EVENT_COLS shape (shared by the batch plan and the
    stateful streaming assembly, whose entries carry the same columns)."""
    return entries.select(
        F.lit("error").alias("source"),
        "conv_id",
        "entry_id",
        "start_turn_idx",
        "ts",
        "role",
        "tool",
        "ts_epoch",
        F.col("level_raw").alias("severity_raw"),
        "severity",
        "short_message",
        F.col("message").alias("text"),
        F.col("thread_raw").try_cast("long").alias("thread_id"),
        F.lit(None).cast("double").alias("query_time"),
        F.lit(None).cast("double").alias("lock_time"),
        F.lit(None).cast("long").alias("rows_sent"),
        F.lit(None).cast("long").alias("rows_examined"),
        F.lit(None).cast("string").alias("query_fingerprint"),
    )


def slow_events(transcripts: DataFrame, cfg: PipelineConfig) -> DataFrame:
    entries = parse_slow_log(
        transcripts,
        emit_trailing=cfg.emit_trailing,
        scalable=cfg.scalable,
    )
    return slow_entries_to_events(entries, cfg)


def slow_entries_to_events(entries: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Entry table -> EVENT_COLS shape (shared with stateful streaming)."""
    severity = F.when(
        F.col("query_time") > cfg.slow_warn_seconds, F.lit("WARNING")
    ).otherwise(F.lit("NOTE"))
    return entries.select(
        F.lit("slow").alias("source"),
        "conv_id",
        "entry_id",
        "start_turn_idx",
        "ts",
        "role",
        "tool",
        "ts_epoch",
        F.lit("[Slow]").alias("severity_raw"),
        severity.alias("severity"),
        F.concat(
            F.lit("[Slow] "),
            F.substring("query_fingerprint", 1, SHORT_MESSAGE_LENGTH),
        ).alias("short_message"),
        F.col("query_text").alias("text"),
        "thread_id",
        "query_time",
        "lock_time",
        "rows_sent",
        "rows_examined",
        "query_fingerprint",
    )


def enrich(events: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Dim lookups (P12 + north-star role/tool dims) + GELF column in one
    projection; ``tool, role`` lead the routed column order."""
    role, tool = F.col("role"), F.col("tool")
    level = gelf_level(F.col("severity"))
    serializer = gelf_json_compat if cfg.serializer == "compat" else gelf_json_strict
    gelf = serializer(
        F.lit(cfg.hostname), F.col("short_message"), F.col("ts_epoch"), level, F.col("text")
    )
    return events.select(
        tool,
        role,
        *[c for c in events.columns if c not in ("role", "tool")],
        level.alias("gelf_level"),
        lookup(role, ROLE_ROWS, 1).alias("role_group"),
        lookup(role, ROLE_ROWS, 2).alias("default_source"),
        lookup(tool, TOOL_ROWS, 1).alias("tool_kind"),
        lookup(tool, TOOL_ROWS, 2).alias("sink_hint"),
        gelf.alias("gelf_json"),
    )


def build_routed(transcripts: DataFrame, cfg: PipelineConfig | None = None) -> DataFrame:
    """The full logical plan, unexecuted: routed GELF events."""
    cfg = cfg or PipelineConfig()
    err_convs, slow_convs = split_dialects(transcripts, share_scan=cfg.share_scan)
    events = error_events(err_convs, cfg).unionByName(slow_events(slow_convs, cfg))
    enriched = enrich(events, cfg)
    return route(enriched, cfg=cfg.router)

