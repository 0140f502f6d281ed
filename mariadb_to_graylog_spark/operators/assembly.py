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

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mariadb_to_graylog_spark.functions.sqltext import BEFORE, RUNNING, ident, lit, project, window

DEFAULT_BLOCK_SIZE = 1 << 16
_NEWLINE = lit("\n")


def scan_layer(
    df: DataFrame,
    specs: list[tuple[str, str, str, bool]],
    conv_col: str,
    order_col: str,
    block_col: str = "_blk",
) -> DataFrame:
    """One layer of distributed prefix scans over (conv, order): each spec
    (name, value SQL text, kind 'sum'|'max', exclusive) becomes a running
    aggregate computed as block-local window + per-block carry, over the
    existing ``block_col`` column.

    The carries relation has one row per (conv, block) -- rows/block_size
    for a hot conversation, but at least one per conversation, so it is
    NOT small on many-conversation input and its join strategy is left to
    AQE.  Multiple specs share one groupBy.
    """
    conv, order, blk = ident(conv_col), ident(order_col), ident(block_col)
    w_incl = window(f"{conv}, {blk}", order, RUNNING)
    w_excl = window(f"{conv}, {blk}", order, BEFORE)
    w_carry = window(conv, blk, BEFORE)
    df = project(df, "*", *(f"{value} AS _v_{name}" for name, value, _, _ in specs))
    df = project(df, "*", *(
        f"{kind}(_v_{name}) {w_excl if exclusive else w_incl} AS _loc_{name}"
        for name, _, kind, exclusive in specs
    ))
    totals = df.groupBy(conv_col, block_col).agg(
        *(F.expr(f"{kind}(_v_{name}) AS _tot_{name}") for name, _, kind, _ in specs)
    )
    carries = project(totals, conv, blk, *(
        f"{kind}(_tot_{name}) {w_carry} AS _carry_{name}" for name, _, kind, _ in specs
    ))
    df = df.join(carries, [conv_col, block_col], "left")

    def combined(name: str, kind: str) -> str:
        if kind == "sum":
            return f"coalesce(_loc_{name}, 0) + coalesce(_carry_{name}, 0)"
        # greatest() skips NULLs: null local (no value yet in block) falls
        # back to the carry, and vice versa
        return f"greatest(_loc_{name}, _carry_{name})"

    helpers = ", ".join(f"_{p}_{name}" for name, *_ in specs for p in ("v", "loc", "carry"))
    return project(
        df,
        f"* EXCEPT ({helpers})",
        *(f"{combined(name, kind)} AS {name}" for name, _, kind, _ in specs),
    )


def add_entry_ids(
    df: DataFrame,
    start_col: str = "is_entry_start",
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
) -> DataFrame:
    w = window(ident(conv_col), ident(order_col), RUNNING)
    return project(df, "*", f"sum(CAST({ident(start_col)} AS BIGINT)) {w} AS entry_id")


def add_entry_ids_scalable(
    df: DataFrame,
    start_col: str = "is_entry_start",
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    block_size: int = DEFAULT_BLOCK_SIZE,
) -> DataFrame:
    """Distributed prefix sum over (conv_id, turn_idx) -- see module doc."""
    blocked = project(df, "*", f"floor({ident(order_col)} / {lit(block_size)}) AS _block")
    scanned = scan_layer(
        blocked,
        [("entry_id", f"CAST({ident(start_col)} AS BIGINT)", "sum", False)],
        conv_col,
        order_col,
        block_col="_block",
    )
    return project(scanned, "* EXCEPT (_block)")


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
    conv, order = ident(conv_col), ident(order_col)
    fields = ["ts_epoch", "thread_raw", "level_raw", "severity", "short_message"]

    if mode == "strict":
        return project(
            with_ids.where("entry_id > 0 AND is_entry_start"),
            conv, "entry_id", f"{order} AS start_turn_idx", "ts", "role", "tool",
            *fields, "message",
        )

    # intended mode: one shuffle on (conv_id, entry_id); partial aggregation
    # (ObjectHashAggregate) runs map-side before the exchange.
    heads = f"sort_array(collect_list(named_struct('i', {order}, 'm', message)))"
    aggs = (
        f"min({order}) AS start_turn_idx",
        *(f"min_by({c}, {order}) AS {c}" for c in ("ts", "role", "tool", *fields)),
        f"array_join(transform({heads}, s -> s.m), {_NEWLINE}) AS message",
    )
    return (
        with_ids.where("entry_id > 0")
        .groupBy(conv_col, "entry_id")
        .agg(*(F.expr(e) for e in aggs))
    )
