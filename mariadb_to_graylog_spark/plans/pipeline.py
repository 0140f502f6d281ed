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

from mariadb_to_graylog_spark.dims import ROLE_ROWS, TOOL_ROWS, lookup
from mariadb_to_graylog_spark.functions.gelf import (
    gelf_json_compat,
    gelf_json_strict,
    gelf_level,
)
from mariadb_to_graylog_spark.functions.sqltext import WHOLE, case, lit, project, window
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
    w = window("conv_id", "turn_idx", WHOLE)
    flagged = project(
        prepared, "*", f"max(CAST({is_time_line('text')} AS INT)) {w} > 0 AS _is_slow_conv"
    )
    if share_scan == "persist":
        flagged = flagged.persist()
    return (
        project(flagged.where("NOT _is_slow_conv"), "* EXCEPT (_is_slow_conv)"),
        project(flagged.where("_is_slow_conv"), "* EXCEPT (_is_slow_conv)"),
    )


def error_events(transcripts: DataFrame, cfg: PipelineConfig) -> DataFrame:
    parsed = parse_error_log_lines(transcripts)
    entries = assemble_error_entries(parsed, mode=cfg.mode, scalable=cfg.scalable)
    return error_entries_to_events(entries)


def error_entries_to_events(entries: DataFrame) -> DataFrame:
    """Entry table -> EVENT_COLS shape (shared by the batch plan and the
    stateful streaming assembly, whose entries carry the same columns)."""
    return project(
        entries,
        "'error' AS source",
        "conv_id",
        "entry_id",
        "start_turn_idx",
        "ts",
        "role",
        "tool",
        "ts_epoch",
        "level_raw AS severity_raw",
        "severity",
        "short_message",
        "message AS text",
        "try_cast(thread_raw AS BIGINT) AS thread_id",
        "CAST(NULL AS DOUBLE) AS query_time",
        "CAST(NULL AS DOUBLE) AS lock_time",
        "CAST(NULL AS BIGINT) AS rows_sent",
        "CAST(NULL AS BIGINT) AS rows_examined",
        "CAST(NULL AS STRING) AS query_fingerprint",
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
    severity = case(
        [(f"query_time > {lit(float(cfg.slow_warn_seconds))}", "'WARNING'")], "'NOTE'"
    )
    return project(
        entries,
        "'slow' AS source",
        "conv_id",
        "entry_id",
        "start_turn_idx",
        "ts",
        "role",
        "tool",
        "ts_epoch",
        "'[Slow]' AS severity_raw",
        f"{severity} AS severity",
        f"concat('[Slow] ', substring(query_fingerprint, 1, {SHORT_MESSAGE_LENGTH}))"
        " AS short_message",
        "query_text AS text",
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
    level = gelf_level("severity")
    serializer = gelf_json_compat if cfg.serializer == "compat" else gelf_json_strict
    gelf = serializer(lit(cfg.hostname), "short_message", "ts_epoch", level, "text")
    return project(
        events,
        "tool",
        "role",
        "* EXCEPT (role, tool)",
        f"{level} AS gelf_level",
        f"{lookup('role', ROLE_ROWS, 1)} AS role_group",
        f"{lookup('role', ROLE_ROWS, 2)} AS default_source",
        f"{lookup('tool', TOOL_ROWS, 1)} AS tool_kind",
        f"{lookup('tool', TOOL_ROWS, 2)} AS sink_hint",
        f"{gelf} AS gelf_json",
    )


def build_routed(transcripts: DataFrame, cfg: PipelineConfig | None = None) -> DataFrame:
    """The full logical plan, unexecuted: routed GELF events."""
    cfg = cfg or PipelineConfig()
    err_convs, slow_convs = split_dialects(transcripts, share_scan=cfg.share_scan)
    events = error_events(err_convs, cfg).unionByName(slow_events(slow_convs, cfg))
    enriched = enrich(events, cfg)
    return route(enriched, cfg=cfg.router)

