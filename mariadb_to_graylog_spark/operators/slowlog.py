"""Slow-log parsing operators (SURVEY.md P6-P10).

The reference classifies slow-log lines with a 3-state FSM
(``None``/``META``/``SQL``, mariadb-log-consumer.py:897-954) and mutates one
in-flight ``query_text``.  The FSM is re-derived here as *stateless* window
expressions -- the key observation being that META/SQL classification is a
property of maximal runs of consecutive ``'# '``-prefixed lines:

* an entry starts at the FIRST ``'# Time:'`` line of a hash-run (a
  ``'# Time:'`` line deeper in a run follows META state and is swallowed,
  :915-917; one that follows SQL state starts an entry, :925-931);
* every hash-run line at/after its entry-start is META; every other line
  after the entry start is SQL -- including ``'# '`` comment lines in a run
  that contains no ``'# Time:'`` (:925-933);
* empty lines are ignored entirely, state unchanged (:901-902).

Reference semantics preserved:

* ``use ...`` skipped only as SQL line 0; ``SET timestamp=N;`` harvested and
  skipped only as SQL line 1, with the exact ``line[14:len-1]`` slice
  (:873-895);  SQL lines joined with ``\\n`` (:821-826).
* one-entry-lag flush: an entry is emitted when the *next* ``'# Time:'``
  arrives, so the trailing entry of a conversation is dropped at EOF
  (:947-949,992-993).  ``emit_trailing=True`` opts into the intended
  behavior.
* entries with no SQL-section lines are never emitted (``query_line``
  falsy at flush, :947-948).
* META metric extraction (P9) is *declared but unimplemented* in the
  reference (_metrics at :86-106 stays empty; TODO.md:9); this engine
  implements the intended extraction for all 17 fields of
  ``META_FIELD_PATTERNS`` as JVM-side ``regexp_extract`` columns (no
  Python UDF on the batch path).  They are taken after the per-entry
  aggregate, over the entry's collected META lines only.

One entry tail for batch and stream: ``assemble_slow_entries`` aggregates
each entry into the raw-entry shape the cross-batch FSM emits
(streaming/stateful.py) and both hand it to ``slow_entry_columns``.

Headers before the first entry are dropped (reference state ``None``,
:937-939).  A ``'# '`` comment line appearing before any entry would crash
the reference (query_text is None, :894 -- exception dodged by C6); we
drop such lines, divergence documented here.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mariadb_to_graylog_spark.operators.assembly import scan_layer
from mariadb_to_graylog_spark.operators.fingerprint import fingerprint_col

# field -> (regex over a META line, cast type); '' group => no match => NULL.
# Patterns avoid lookaround so they are portable across Java regex / RE2.
META_FIELD_PATTERNS: dict[str, tuple[str, str]] = {
    "user": (r"User@Host:\s+([^\[\s]+)\[", "string"),
    "ip": (r"@\s+\S+\s+\[([0-9a-fA-F:.]+)\]", "string"),
    "thread_id": (r"Thread_id:\s+(\d+)", "long"),
    "schema": (r"Schema:\s+(\S+)", "string"),
    "query_cache_hit": (r"QC_hit:\s+(\w+)", "string"),
    "query_time": (r"Query_time:\s+([0-9.]+)", "double"),
    "lock_time": (r"Lock_time:\s+([0-9.]+)", "double"),
    "rows_sent": (r"Rows_sent:\s+(\d+)", "long"),
    "rows_examined": (r"Rows_examined:\s+(\d+)", "long"),
    "rows_affected": (r"Rows_affected:\s+(\d+)", "long"),
    "bytes_sent": (r"Bytes_sent:\s+(\d+)", "long"),
    "tmp_tables": (r"Tmp_tables:\s+(\d+)", "long"),
    "tmp_disk_tables": (r"Tmp_disk_tables:\s+(\d+)", "long"),
    "tmp_table_sizes": (r"Tmp_table_sizes:\s+(\d+)", "long"),
    "full_scan": (r"Full_scan:\s+(\w+)", "string"),
    "full_join": (r"Full_join:\s+(\w+)", "string"),
    "merge_passes": (r"Merge_passes:\s+(\d+)", "long"),
}

METRIC_COLS = list(META_FIELD_PATTERNS)


# ---------------------------------------------------------------------------
# the per-line slow-log grammar: the one definition read by the window
# classifier, its block-scan twin and the cross-batch FSM
# (streaming/stateful.py)
# ---------------------------------------------------------------------------


def is_time_line(line: Column) -> Column:
    """The ``'# Time:'`` prefix of an entry-start candidate: line[0:2] ==
    '# ' and line[1:7] == ' Time:'.  Trailing whitespace never reaches a
    matching prefix, so the flag reads the same before and after rstrip."""
    return F.substring(line, 1, 7) == "# Time:"


def slow_lines(df: DataFrame, text_col: str = "text") -> DataFrame:
    """rstripped non-empty ``line`` (empty lines are FSM no-ops, :901-902)
    plus its ``_is_hash`` (``'# '``) and ``_is_time`` (``is_time_line``)
    prefix flags."""
    line = F.regexp_replace(F.col(text_col), r"\s+$", "")
    out = df.withColumn("line", line).filter(F.col("line") != "")
    is_hash = F.substring("line", 1, 2) == "# "
    is_time = is_time_line(F.col("line"))
    return out.withColumn("_is_hash", is_hash).withColumn("_is_time", is_time)


def is_use_line(line: Column) -> Column:
    """skipped when it is SQL line 0 (:873-880)"""
    return F.substring(line, 1, 4) == "use "


def is_set_timestamp_line(line: Column) -> Column:
    """skipped, and its value harvested, when it is SQL line 1 (:882-895)"""
    return F.substring(line, 1, 14) == "SET timestamp="


def set_timestamp_value(line: Column) -> Column:
    """P8: the exact ``line[14:len-1]`` slice; try_cast so a garbage or
    overflowing value is NULL, not an ANSI error."""
    return F.when(
        is_set_timestamp_line(line),
        F.substring(line, 15, F.length(line) - F.lit(15)).try_cast("long"),
    )


def time_line_epoch(line: Column) -> Column:
    """Intended ``'# Time:'`` parse -> epoch seconds: ``yymmdd H:mm:ss``
    (pivot 69) or an ISO datetime with a fraction; NULL otherwise."""
    t_raw = F.regexp_extract(line, r"^# Time:\s+(.*\S)\s*$", 1)
    yy = F.regexp_extract(t_raw, r"^(\d{2})(\d{2})(\d{2})\s", 1).try_cast("int")
    t_f2 = F.unix_seconds(F.try_to_timestamp(
        F.concat(
            F.when(yy <= 68, yy + 2000).otherwise(yy + 1900).cast("string"),
            F.lit("-"),
            F.regexp_extract(t_raw, r"^(\d{2})(\d{2})(\d{2})\s", 2),
            F.lit("-"),
            F.regexp_extract(t_raw, r"^(\d{2})(\d{2})(\d{2})\s", 3),
            F.lit(" "),
            F.regexp_extract(t_raw, r"^\d{6}\s+(\d{1,2}:\d{2}:\d{2})$", 1),
        ),
        F.lit("yyyy-MM-dd H:mm:ss"),
    ))
    t_iso = F.unix_seconds(
        F.try_to_timestamp(t_raw, F.lit("yyyy-MM-dd'T'HH:mm:ss.SSSSSS"))
    )
    return F.coalesce(t_f2, t_iso)


def meta_value(line: Column, name: str) -> Column:
    """One META field of one line, typed; an entry's value is the max over
    its META lines."""
    pat, typ = META_FIELD_PATTERNS[name]
    v = F.regexp_extract(line, pat, 1)
    # try_cast: regex-validated but overflow-able digits must not ANSI-abort
    return F.when(v != "", v).try_cast(typ)


def slow_entry_columns(entries: DataFrame) -> DataFrame:
    """Raw entries -- head columns, ``set_timestamp``, ``time_line_ts``,
    ``kept_lines`` and ``meta_lines`` (streaming/stateful.SLOW_ENTRY_SCHEMA)
    -- to the ``parse_slow_log`` columns.  Batch assembly and the
    cross-batch stream both end here.

    Each metric is the max of ``meta_value`` over the META lines.
    ``query_text_raw`` is byte-equal to the reference's accumulated string,
    which starts with '\\n' (the first append is ''+'\\n'+line,
    :821-826); ``query_text`` is the clean join."""
    head = [c for c in entries.columns if c not in ("kept_lines", "meta_lines")]
    out = entries.select(
        *head,
        F.array_join("kept_lines", "\n").alias("query_text"),
        *(
            F.array_max(F.transform("meta_lines", lambda ln: meta_value(ln, n))).alias(n)
            for n in METRIC_COLS
        ),
        F.size("kept_lines").alias("_kept_count"),
    )
    query_text = F.col("query_text")
    return out.select(
        "*",
        F.when(F.col("_kept_count") > 0, F.concat(F.lit("\n"), query_text))
        .otherwise(F.lit(""))
        .alias("query_text_raw"),
        F.coalesce("set_timestamp", "time_line_ts").alias("ts_epoch"),
        fingerprint_col(query_text).alias("query_fingerprint"),
    ).drop("_kept_count")


def classify_slow_log_lines(
    df: DataFrame, conv_col: str = "conv_id", order_col: str = "turn_idx",
    text_col: str = "text",
) -> DataFrame:
    """Line classification (P6): adds ``line, is_entry_start, entry_id,
    is_meta, is_sql`` columns.  Empty lines are removed (FSM no-ops).

    Physical shape: every window below shares ONE spec -- partitionBy
    conv_id, orderBy turn_idx -- so the whole classification costs a single
    sort (Catalyst chains the window functions into consecutive WindowExec
    nodes without re-sorting).  The earlier formulation partitioned helper
    windows by (conv, hash_run) and (conv, entry), adding two more full
    sorts per pass; because runs and entries are contiguous in turn order,
    each per-run/per-entry quantity is re-expressed as a running max over
    the turn ordering instead:

    * first-Time-of-run (entry start)  -> 'the last Time line seen lies
      before my run's start turn';
    * same-run-as-entry-start (META)   -> 'the last entry start lies at or
      after my run's start turn'.

    A SQL line's position within its entry is not numbered here: the
    entry aggregate sorts the SQL lines into an array and reads indexes.
    """
    out = slow_lines(df, text_col)

    w = Window.partitionBy(conv_col).orderBy(order_col)
    w_cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_prev = w.rowsBetween(Window.unboundedPreceding, -1)

    # start turn of the current maximal '# '-run (valid for hash rows)
    run_start = F.col("_is_hash") & F.coalesce(
        ~F.lag("_is_hash").over(w), F.lit(True)
    )
    out = out.withColumn(
        "_run_start_turn",
        F.max(F.when(run_start, F.col(order_col))).over(w_cum),
    )

    # entry start = '# Time:' line with no earlier Time inside its run
    prev_time_turn = F.max(F.when(F.col("_is_time"), F.col(order_col))).over(w_prev)
    out = out.withColumn(
        "is_entry_start",
        F.col("_is_time")
        & (
            prev_time_turn.isNull()
            | (prev_time_turn < F.col("_run_start_turn"))
        ),
    )

    out = out.withColumn(
        "entry_id", F.sum(F.col("is_entry_start").cast("long")).over(w_cum)
    )

    # META = hash line whose run contains the current entry's start
    last_entry_start_turn = F.max(
        F.when(F.col("is_entry_start"), F.col(order_col))
    ).over(w_cum)
    out = out.withColumn(
        "is_meta",
        F.col("_is_hash") & (last_entry_start_turn >= F.col("_run_start_turn")),
    )
    out = out.withColumn("is_sql", ~F.col("is_meta"))
    return (
        out.filter(F.col("entry_id") > 0)
        .drop("_is_hash", "_is_time", "_run_start_turn")
    )


def classify_slow_log_lines_scalable(
    df: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    text_col: str = "text",
    block_size: int = 1 << 16,
) -> DataFrame:
    """Block-scan twin of classify_slow_log_lines: same output columns,
    but every running quantity is a distributed prefix scan over fixed
    ``order_col`` blocks instead of one whole-conversation window -- a
    single 10^8-turn conversation becomes 10^8/block_size parallel tasks
    per layer instead of one serial task (the slow-path analogue of
    assembly.add_entry_ids_scalable; tested equal to the window classifier
    with block_size forced tiny to stress the boundaries).

    Two scan layers mirror the classifier's dependency chain after the
    run-starts (which need the previous block's last-row hash flag, a tiny
    edge join): run/time turns -> entry ids + last entry start.
    """
    out = slow_lines(df, text_col)
    out = out.withColumn("_blk", F.floor(F.col(order_col) / F.lit(block_size)))

    # previous row's _is_hash: block-local lag, with the boundary fallback
    # taken from the last row of the previous PRESENT block (lag over the
    # per-block edge relation -- a fixed +1 shift would lose the carry
    # across blocks whose rows were all blank-filtered or absent from a
    # turn_idx gap, misclassifying the next block's first rows as a
    # conversation start); null at conversation start.  The edge relation
    # is one row per (conv, block) -- at least one row per conversation,
    # so its join strategy is left to AQE.
    w_local = Window.partitionBy(conv_col, "_blk").orderBy(order_col)
    w_edge = Window.partitionBy(conv_col).orderBy("_blk")
    edges = (
        out.groupBy(conv_col, "_blk")
        .agg(F.max_by("_is_hash", F.col(order_col)).alias("_last_hash"))
        .select(
            conv_col, "_blk",
            F.lag("_last_hash").over(w_edge).alias("_edge_hash"),
        )
    )
    out = out.join(edges, [conv_col, "_blk"], "left")
    prev_hash = F.coalesce(F.lag("_is_hash").over(w_local), F.col("_edge_hash"))
    run_start = F.col("_is_hash") & F.coalesce(~prev_hash, F.lit(True))
    out = out.withColumn("_run_start", run_start).drop("_edge_hash")

    # layer 1: run-start turn (inclusive max) + previous Time turn
    # (exclusive max)
    out = scan_layer(
        out,
        [
            ("_run_start_turn", F.when(F.col("_run_start"), F.col(order_col)), "max", False),
            ("_prev_time_turn", F.when(F.col("_is_time"), F.col(order_col)), "max", True),
        ],
        conv_col,
        order_col,
    )
    out = out.withColumn(
        "is_entry_start",
        F.col("_is_time")
        & (
            F.col("_prev_time_turn").isNull()
            | (F.col("_prev_time_turn") < F.col("_run_start_turn"))
        ),
    )

    # layer 2: entry ids (sum) + turn of the current entry's start (max)
    out = scan_layer(
        out,
        [
            ("entry_id", F.col("is_entry_start").cast("long"), "sum", False),
            ("_last_start_turn", F.when(F.col("is_entry_start"), F.col(order_col)), "max", False),
        ],
        conv_col,
        order_col,
    )
    out = out.withColumn(
        "is_meta",
        F.col("_is_hash") & (F.col("_last_start_turn") >= F.col("_run_start_turn")),
    ).withColumn("is_sql", ~F.col("is_meta"))
    return out.filter(F.col("entry_id") > 0).drop(
        "_is_hash", "_is_time", "_blk", "_run_start", "_run_start_turn",
        "_prev_time_turn", "_last_start_turn",
    )


def assemble_slow_entries(
    classified: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    emit_trailing: bool = False,
) -> DataFrame:
    """Group classified lines into slow-log entries (P7-P10): one aggregate
    builds the raw entry the cross-batch stream emits, and
    ``slow_entry_columns`` derives the rest.  The entry's SQL lines are
    collected sorted by turn, so the positional rules read array indexes:
    ``use`` is skipped only at index 0, ``SET timestamp=`` harvested and
    skipped only at index 1 (:873-895)."""
    line = F.col("line")
    sql_line = F.when(
        F.col("is_sql"), F.struct(F.col(order_col).alias("i"), line.alias("m"))
    )
    agg = classified.groupBy(conv_col, "entry_id").agg(
        F.min(order_col).alias("start_turn_idx"),
        F.min_by("ts", order_col).alias("ts"),
        F.min_by("role", order_col).alias("role"),
        F.min_by("tool", order_col).alias("tool"),
        # an entry's first line is its '# Time:' start
        F.min_by("line", order_col).alias("_head"),
        F.transform(F.sort_array(F.collect_list(sql_line)), lambda s: s["m"]).alias("_sql"),
        F.collect_list(F.when(F.col("is_meta"), line)).alias("meta_lines"),
    )

    # Trailing drop BEFORE the >=1-SQL-line filter: the reference flushes
    # entry e when the NEXT '# Time:' arrives (:925-931,947-949), so every
    # non-last entry is flush-eligible even when the LAST entry has no SQL
    # lines (e.g. a truncated log ending in a bare '# Time:' header).
    # Computing max(entry_id) after the SQL filter wrongly dropped the last
    # complete entry in that case.
    if not emit_trailing:
        w_conv = Window.partitionBy(conv_col)
        agg = agg.withColumn("_max_entry", F.max("entry_id").over(w_conv)).filter(
            F.col("entry_id") < F.col("_max_entry")
        ).drop("_max_entry")

    # entries with no SQL-section lines are never emitted (query_line falsy
    # at flush, :947-948)
    agg = agg.filter(F.size("_sql") >= 1)

    def skipped(x: Column, i: Column) -> Column:
        return ((i == 0) & is_use_line(x)) | ((i == 1) & is_set_timestamp_line(x))

    return slow_entry_columns(agg.select(
        conv_col, "entry_id", "start_turn_idx", "ts", "role", "tool",
        set_timestamp_value(F.get("_sql", 1)).alias("set_timestamp"),
        time_line_epoch(F.col("_head")).alias("time_line_ts"),
        F.filter("_sql", lambda x, i: ~skipped(x, i)).alias("kept_lines"),
        "meta_lines",
    ))


def parse_slow_log(
    df: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    text_col: str = "text",
    emit_trailing: bool = False,
    scalable: bool = False,
    block_size: int = 1 << 16,
) -> DataFrame:
    """Full slow-log path: classify (P6) -> assemble + metrics + fingerprint
    (P7-P10).  ``scalable=True`` switches classification to the block-scan
    variant (hot-conversation skew; same results)."""
    if scalable:
        classified = classify_slow_log_lines_scalable(
            df, conv_col, order_col, text_col, block_size
        )
    else:
        classified = classify_slow_log_lines(df, conv_col, order_col, text_col)
    return assemble_slow_entries(classified, conv_col, order_col, emit_trailing)
