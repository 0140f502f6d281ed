"""Structured Streaming variant of the pipeline (SURVEY.md SRC1/S5/S6).

The reference's ``--stop=never`` tail loop (sleep ``--eof-wait`` ms at EOF,
mariadb-log-consumer.py:774-780) is Structured Streaming's native model:
``readStream`` on the transcripts location, micro-batch trigger =
``eof_wait``, checkpointLocation = the eventlog (C1), graceful
``query.stop()`` = SIGTERM handling (C4).

Entry assembly is a *cross-row, order-sensitive* computation, so the
streaming flavor runs the batch plan inside ``foreachBatch``: each
micro-batch is a closed set of whole conversations-so-far deltas.  For
true cross-batch entries (a conversation's continuation lines arriving in
a later batch) use ``start_stateful_pipeline_stream``
(``streaming/stateful.py``): the batch line parses run row-locally on the
stream and per-conversation ``applyInPandasWithState`` keeps only the
FSM registers and the open entry, tested byte-identical to batch assembly
across a 3-batch split.  ``windowed_severity_counts`` counts the same
parse's entry starts.

Delivery semantics, honestly:

* table sink: EXACTLY-ONCE per micro-batch -- the write is
  ``partitionBy(batch_id, sink)`` with dynamic partition overwrite, so a
  batch replayed after a failure overwrites its own ``batch_id=N``
  partitions instead of appending duplicates;
* live GELF sends (optional ``sink_config``): AT-LEAST-ONCE -- a replayed
  batch re-sends, exactly like the reference's send-then-log ordering
  (mariadb-log-consumer.py:594);
* eventlog-compat coordinate file (optional ``eventlog``): append-only
  text, at-least-once on replay (the reference's format has no
  transactionality to offer more).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from mariadb_to_graylog_spark.datagen import TRANSCRIPT_SCHEMA
from mariadb_to_graylog_spark.operators.errorlog import parse_error_log_lines
from mariadb_to_graylog_spark.plans.pipeline import PipelineConfig, build_routed
from mariadb_to_graylog_spark.sinks.clients import SinkConfig, make_partition_sender
from mariadb_to_graylog_spark.sources.eventlog_compat import EventlogCompat


def read_transcript_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 4
) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def start_pipeline_stream(
    transcripts: DataFrame,
    sink_base: str,
    checkpoint_dir: str,
    cfg: PipelineConfig | None = None,
    eof_wait_ms: int = 1000,
    sink_config: SinkConfig | None = None,
    eventlog: EventlogCompat | None = None,
) -> StreamingQuery:
    """readStream -> foreachBatch(batch pipeline) -> per-sink parquet
    [+ live GELF sends] [+ eventlog-compat coordinates]."""
    cfg = cfg or PipelineConfig()

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        routed = build_routed(batch_df, cfg)
        (
            routed.filter(F.col("sink") != "dropped")
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id", "sink")
            .parquet(sink_base)
        )
        if sink_config is not None:
            routed.select("gelf_json").foreachPartition(
                make_partition_sender(sink_config)
            )
        if eventlog is not None:
            # reference coordinate logging (C1): one line per conversation
            # consumed this batch; per-conv maxima are tiny (runs on the
            # driver inside foreachBatch, like the reference's tail loop)
            marks = (
                batch_df.groupBy("conv_id")
                .agg(F.max("turn_idx").alias("max_turn_idx"))
                .collect()
            )
            for r in marks:
                eventlog.log_coordinates(r.max_turn_idx, r.conv_id)

    return (
        transcripts.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{eof_wait_ms} milliseconds")
        .start()
    )


def start_stateful_pipeline_stream(
    transcripts: DataFrame,
    sink_base: str,
    checkpoint_dir: str,
    log_type: str,
    cfg: PipelineConfig | None = None,
    eof_wait_ms: int = 1000,
    flush_after_ms: int | None = None,
) -> StreamingQuery:
    """CROSS-BATCH streaming pipeline: stateful entry assembly
    (streaming/stateful.py) -> the same enrich + route column expressions
    as batch -> streaming parquet file sink (exactly-once via the file
    sink's transaction log).

    ``log_type`` must be explicit (ERROR or SLOW): dialect auto-detection
    needs whole-conversation knowledge that a cross-batch stream cannot
    have -- exactly why the reference takes --log-type per tailed file.

    ``flush_after_ms`` (trailing-entry flush timeout) defaults to 4x the
    trigger interval, never below 1s: a fixed default would sit BELOW a
    slow trigger (e.g. --message-wait 5000), timing out every conversation
    that merely skipped one micro-batch and splitting its open entry.
    """
    if flush_after_ms is None:
        flush_after_ms = max(4 * eof_wait_ms, 1000)
    from mariadb_to_graylog_spark.operators.routing import route
    from mariadb_to_graylog_spark.plans.pipeline import (
        enrich,
        error_entries_to_events,
        slow_entries_to_events,
    )
    from mariadb_to_graylog_spark.streaming.stateful import (
        assemble_entries_stateful,
        assemble_slow_entries_stateful,
    )

    cfg = cfg or PipelineConfig()
    if log_type == "ERROR":
        entries = assemble_entries_stateful(
            transcripts, mode=cfg.mode, flush_after_ms=flush_after_ms
        )
        events = error_entries_to_events(entries)
    elif log_type == "SLOW":
        entries = assemble_slow_entries_stateful(
            transcripts,
            emit_trailing=cfg.emit_trailing,
            flush_after_ms=flush_after_ms,
        )
        events = slow_entries_to_events(entries, cfg)
    else:
        raise ValueError("stateful streaming needs --log-type ERROR or SLOW")
    routed = route(enrich(events, cfg), cfg=cfg.router)
    return (
        routed.filter(F.col("sink") != "dropped")
        .writeStream.format("parquet")
        .option("path", sink_base)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("sink")
        .trigger(processingTime=f"{eof_wait_ms} milliseconds")
        .start()
    )


def windowed_severity_counts(
    transcripts: DataFrame, window: str = "5 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Native streaming aggregation (no foreachBatch): per-window counts of
    entry-start lines by severity, both as the batch
    ``parse_error_log_lines`` decides them (the parse is row-local, so it
    runs on a stream), with late-data watermarking -- the streaming
    analogue of A2's histogram."""
    starts = parse_error_log_lines(transcripts).filter(F.col("is_entry_start"))
    return (
        starts.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "severity")
        .agg(F.count(F.lit(1)).alias("n"))
    )
