"""Transcript table source + checkpoint/lineage resume (SURVEY.md SRC1-SRC4, C1).

The reference tails a file and checkpoints ``<byte-offset>:<path>`` lines in
an append-only eventlog (lib_consumer/eventlog.py:14-23,105-107), seeking to
the last offset on restart (mariadb-log-consumer.py:746-748).  Here the
coordinate space is ``(conv_id, turn_idx)`` and the checkpoint is a lineage
table written at the end of each run: one row per conversation with the max
turn consumed plus row counts.  Resume = a join filter
``turn_idx > lineage.max_turn_idx`` -- per-conversation incremental
consumption without rescanning consumed turns (partition pruning applies
when the table is partitioned/bucketed by conv_id).

Iceberg: when an Iceberg catalog is on the classpath the same functions
read/write ``format('iceberg')`` tables; this sandbox has no Iceberg jar, so
parquet paths with identical schemas stand in (gated, not assumed).
"""

from __future__ import annotations

import uuid

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LINEAGE_SCHEMA = (
    "run_id string, conv_id string, max_turn_idx int, rows_in long, "
    "rows_routed long, ts timestamp"
)


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.iceberg.spark.source.SparkTable"
        )
        return True
    except Exception:
        return False


def read_transcripts(spark: SparkSession, path_or_table: str) -> DataFrame:
    """Read the transcripts table: Iceberg table name (jar present),
    catalog table (e.g. a conv_id-bucketed table written by
    sources/bucketed.py -- downstream per-conversation joins/aggs then
    run exchange-free), or parquet path."""
    if "/" not in path_or_table:
        # catalog resolution FIRST: spark.table() reads both plain
        # (e.g. bucketed) and Iceberg catalog tables; gating on the jar
        # first would route a plain catalog table into
        # format('iceberg').load and fail on Iceberg-enabled clusters
        if spark.catalog.tableExists(path_or_table):
            return spark.table(path_or_table)
        if iceberg_available(spark):
            return spark.read.format("iceberg").load(path_or_table)
    return spark.read.parquet(path_or_table)


def write_transcripts(
    df: DataFrame, path_or_table: str, mode: str = "append"
) -> None:
    """Write the transcripts table (Iceberg table name or parquet path) --
    the inverse of read_transcripts, same gating.  Contract pinned by
    tests/test_iceberg.py (skipped until an Iceberg jar is on the
    classpath)."""
    if "/" not in path_or_table and iceberg_available(df.sparkSession):
        writer = df.writeTo(path_or_table).using("iceberg")
        exists = df.sparkSession.catalog.tableExists(path_or_table)
        # full save-mode semantics, matching the parquet branch: 'error'
        # raises on an existing table, 'ignore' no-ops -- collapsing them
        # to append would defeat callers using mode='error' as a
        # double-write guard
        if mode == "overwrite":
            writer.createOrReplace()
        elif mode == "append":
            writer.append() if exists else writer.create()
        elif mode in ("error", "errorifexists"):
            writer.create()  # raises if the table exists
        elif mode == "ignore":
            if not exists:
                writer.create()
        else:
            raise ValueError(f"unknown save mode {mode!r}")
        return
    df.write.mode(mode).parquet(path_or_table)


def new_run_id() -> str:
    return uuid.uuid4().hex


def build_lineage(
    transcripts: DataFrame, routed: DataFrame, run_id: str
) -> DataFrame:
    """Per-conversation lineage: consumed high-water mark + row counts.

    ``rows_in`` counts raw turns consumed; ``rows_routed`` counts emitted
    sink rows.  Both aggregations are partial-aggregated map-side; the
    shuffle carries one row per conversation.
    """
    consumed = transcripts.groupBy("conv_id").agg(
        F.max("turn_idx").alias("max_turn_idx"),
        F.count(F.lit(1)).alias("rows_in"),
    )
    emitted = routed.filter(F.col("sink") != "dropped").groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("rows_routed")
    )
    return (
        consumed.join(emitted, "conv_id", "left")
        .select(
            F.lit(run_id).alias("run_id"),
            "conv_id",
            "max_turn_idx",
            "rows_in",
            F.coalesce("rows_routed", F.lit(0)).alias("rows_routed"),
            F.current_timestamp().alias("ts"),
        )
    )


def write_lineage(lineage: DataFrame, path: str) -> None:
    lineage.write.mode("append").parquet(path)


def read_lineage(spark: SparkSession, path: str) -> DataFrame | None:
    """The lineage table, or None when no run has written one yet: a
    missing path or a directory holding no lineage.  Any other failure (a
    corrupt file, a denied read) raises; read as "no lineage" it would
    make a resume re-route every consumed turn."""
    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        if e.getCondition() in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            return None
        raise


def resume_filter(transcripts: DataFrame, lineage: DataFrame | None) -> DataFrame:
    """Keep only turns past each conversation's checkpointed high-water mark.

    The reference's seek-to-offset (SRC2).  The lineage side aggregates to
    one row per conversation -- as many rows as conversations ever seen,
    so the join strategy is left to AQE and ``autoBroadcastJoinThreshold``;
    unseen conversations pass through whole (left join + coalesce(-1)).
    """
    if lineage is None:
        return transcripts
    marks = lineage.groupBy("conv_id").agg(F.max("max_turn_idx").alias("_hwm"))
    return (
        transcripts.join(marks, "conv_id", "left")
        .filter(F.col("turn_idx") > F.coalesce(F.col("_hwm"), F.lit(-1)))
        .drop("_hwm")
    )


def skip_offset_limit(
    df: DataFrame, offset: int = 0, limit: int | None = None
) -> DataFrame:
    """SRC3/SRC4: skip the first ``offset`` turns / stop after ``limit``
    turns, in global (conv_id, turn_idx) order.

    The reference stores ``args.offset - 1`` / ``args.limit - 1`` and
    loops, which skips/consumes approximately N lines
    (mariadb-log-consumer.py:340-341); we implement exact N and document
    the divergence (SURVEY.md SRC3/SRC4 notes).  Global order requires a
    total sort only of the *keys*; at scale prefer per-conversation resume
    (``resume_filter``) -- this operator exists for reference parity.
    """
    if offset:
        df = df.orderBy("conv_id", "turn_idx").offset(offset)
    if limit is not None:
        df = df.orderBy("conv_id", "turn_idx").limit(limit)
    return df
