"""Entry assembly: gaps-and-islands grouping of lines into logical entries.

The reference assembles multi-line entries implicitly, by mutating one
in-flight message as it reads lines in file order
(``mariadb-log-consumer.py:692-697,728-733``).  Here the same semantics are
a *gaps-and-islands* computation: ``entry_id`` = running count of
entry-start lines within a conversation, then a groupBy per entry.

Two physical strategies, same result (tested equal):

* ``add_entry_ids`` -- one window ``sum() over (partition by conv_id order
  by turn_idx)``.  Correct and minimal-shuffle, but a single hot
  conversation serializes into one task.
* ``add_entry_ids_scalable`` -- two-phase distributed prefix sum
  (:func:`scan_layer`): each conversation is split into fixed
  ``turn_idx`` blocks; block-local running counts are computed in
  parallel, per-block totals are scanned with a second window over the
  much smaller block relation, and the per-block carries are joined
  back.  A conversation with 10^8 turns becomes ``10^8 / block_size``
  independent tasks instead of one.  This is the 100 TB path for
  Zipf-skewed conversation length (the north-rule's "salted-key
  repartitioning to defuse hot-conversation skew").  The slow-log block
  classifier (operators/slowlog.py) chains the same kernel.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_BLOCK_SIZE = 1 << 16


def scan_layer(
    df: DataFrame,
    specs: list[tuple[str, Column, str, bool]],
    conv_col: str,
    order_col: str,
    block_col: str = "_blk",
) -> DataFrame:
    """One layer of distributed prefix scans over (conv, order): each spec
    (name, value, kind 'sum'|'max', exclusive) becomes a running aggregate
    computed as block-local window + per-block carry, over the existing
    ``block_col`` column.

    The carries relation has one row per (conv, block) -- rows/block_size
    for a hot conversation, but at least one per conversation, so it is
    NOT small on many-conversation input and its join strategy is left to
    AQE.  Multiple specs share one groupBy.
    """
    w_incl = (
        Window.partitionBy(conv_col, block_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_excl = (
        Window.partitionBy(conv_col, block_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_carry = (
        Window.partitionBy(conv_col)
        .orderBy(block_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    aggs, carry_cols = [], []
    for name, value, kind, exclusive in specs:
        df = df.withColumn(f"_v_{name}", value)
        fn = F.sum if kind == "sum" else F.max
        df = df.withColumn(
            f"_loc_{name}", fn(f"_v_{name}").over(w_excl if exclusive else w_incl)
        )
        aggs.append(fn(f"_v_{name}").alias(f"_tot_{name}"))
        carry_cols.append(fn(f"_tot_{name}").over(w_carry).alias(f"_carry_{name}"))
    totals = df.groupBy(conv_col, block_col).agg(*aggs)
    carries = totals.select(conv_col, block_col, *carry_cols)
    df = df.join(carries, [conv_col, block_col], "left")
    for name, _, kind, _ in specs:
        if kind == "sum":
            combined = F.coalesce(f"_loc_{name}", F.lit(0)) + F.coalesce(
                f"_carry_{name}", F.lit(0)
            )
        else:
            # greatest() skips NULLs: null local (no value yet in block)
            # falls back to the carry, and vice versa
            combined = F.greatest(f"_loc_{name}", f"_carry_{name}")
        df = df.withColumn(name, combined).drop(
            f"_v_{name}", f"_loc_{name}", f"_carry_{name}"
        )
    return df


def add_entry_ids(
    df: DataFrame,
    start_col: str = "is_entry_start",
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
) -> DataFrame:
    w = (
        Window.partitionBy(conv_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn("entry_id", F.sum(F.col(start_col).cast("long")).over(w))


def add_entry_ids_scalable(
    df: DataFrame,
    start_col: str = "is_entry_start",
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    block_size: int = DEFAULT_BLOCK_SIZE,
) -> DataFrame:
    """Distributed prefix sum over (conv_id, turn_idx) -- see module doc."""
    blocked = df.withColumn("_block", F.floor(F.col(order_col) / F.lit(block_size)))
    return scan_layer(
        blocked,
        [("entry_id", F.col(start_col).cast("long"), "sum", False)],
        conv_col,
        order_col,
        block_col="_block",
    ).drop("_block")


def with_entry_ids(
    df: DataFrame,
    scalable: bool = False,
    block_size: int = DEFAULT_BLOCK_SIZE,
    **kwargs,
) -> DataFrame:
    if scalable:
        return add_entry_ids_scalable(df, block_size=block_size, **kwargs)
    return add_entry_ids(df, **kwargs)


def assemble_error_entries(
    parsed: DataFrame,
    mode: str = "strict",
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    scalable: bool = False,
    block_size: int = DEFAULT_BLOCK_SIZE,
) -> DataFrame:
    """Group parsed error-log lines into entries.

    ``mode='strict'`` reproduces the reference byte-for-byte: continuation
    text of malformed lines is *dropped* (the append at
    mariadb-log-consumer.py:733 is commented out), so an entry is exactly
    its well-formed first line.  ``mode='intended'`` implements the
    documented intent: continuation lines are appended to the entry's
    message with ``\\n`` joins (lib_consumer/gelf_message.py:57-70).

    Lines before the first well-formed line (entry_id == 0) are dropped in
    both modes, as in the reference (no in-flight message to extend).
    """
    if mode not in ("strict", "intended"):
        raise ValueError(f"unknown mode {mode!r}")

    with_ids = with_entry_ids(parsed, scalable=scalable, block_size=block_size,
                              conv_col=conv_col, order_col=order_col)
    with_ids = with_ids.filter(F.col("entry_id") > 0)

    if mode == "strict":
        return (
            with_ids.filter(F.col("is_entry_start"))
            .select(
                conv_col,
                "entry_id",
                F.col(order_col).alias("start_turn_idx"),
                "ts",
                "role",
                "tool",
                "ts_epoch",
                "thread_raw",
                "level_raw",
                "severity",
                "short_message",
                "message",
            )
        )

    # intended mode: one shuffle on (conv_id, entry_id); partial aggregation
    # (ObjectHashAggregate) runs map-side before the exchange.
    heads = F.sort_array(
        F.collect_list(F.struct(F.col(order_col).alias("i"), F.col("message").alias("m")))
    )
    agg = (
        with_ids.groupBy(conv_col, "entry_id")
        .agg(
            F.min(order_col).alias("start_turn_idx"),
            F.min_by("ts", order_col).alias("ts"),
            F.min_by("role", order_col).alias("role"),
            F.min_by("tool", order_col).alias("tool"),
            F.min_by("ts_epoch", order_col).alias("ts_epoch"),
            F.min_by("thread_raw", order_col).alias("thread_raw"),
            F.min_by("level_raw", order_col).alias("level_raw"),
            F.min_by("severity", order_col).alias("severity"),
            F.min_by("short_message", order_col).alias("short_message"),
            F.array_join(F.transform(heads, lambda s: s["m"]), "\n").alias("message"),
        )
    )
    return agg.select(
        conv_col,
        "entry_id",
        "start_turn_idx",
        "ts",
        "role",
        "tool",
        "ts_epoch",
        "thread_raw",
        "level_raw",
        "severity",
        "short_message",
        "message",
    )
