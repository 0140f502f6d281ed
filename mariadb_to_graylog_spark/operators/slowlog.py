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

The line flags, ``time_line_epoch``, the META metrics and the positional
rules are SQL-text builders (str -> str, functions/sqltext.py) composed in
Python and handed over once per projection, one projection per dependent
window layer: the same JVM expressions as Column-API calls, without a py4j
round trip per expression node on every plan build (each streaming
micro-batch rebuilds the plan).

One entry tail for batch and stream: ``assemble_slow_entries`` aggregates
each entry into the raw-entry shape the cross-batch FSM emits
(streaming/stateful.py) and both hand it to ``slow_entry_columns``.

Headers before the first entry are dropped (reference state ``None``,
:937-939).  A ``'# '`` comment line appearing before any entry would crash
the reference (query_text is None, :894 -- exception dodged by C6); we
drop such lines, divergence documented here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mariadb_to_graylog_spark.functions.sqltext import (
    BEFORE,
    RUNNING,
    case,
    ident,
    lit,
    project,
    window,
)
from mariadb_to_graylog_spark.operators.assembly import scan_layer
from mariadb_to_graylog_spark.operators.fingerprint import fingerprint_sql

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

_RTRIM = lit(r"\s+$")
_TIME_RAW = lit(r"^# Time:\s+(.*\S)\s*$")
_TIME_DATE = lit(r"^(\d{2})(\d{2})(\d{2})\s")
_TIME_CLOCK = lit(r"^\d{6}\s+(\d{1,2}:\d{2}:\d{2})$")
_TIME_ISO = lit("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")


# ---------------------------------------------------------------------------
# the per-line slow-log grammar: the one definition read by the window
# classifier, its block-scan twin and the cross-batch FSM
# (streaming/stateful.py).  Each helper maps SQL text to SQL text.
# ---------------------------------------------------------------------------


def is_time_line(line: str) -> str:
    """The ``'# Time:'`` prefix of an entry-start candidate: line[0:2] ==
    '# ' and line[1:7] == ' Time:'.  Trailing whitespace never reaches a
    matching prefix, so the flag reads the same before and after rstrip."""
    return f"substring({line}, 1, 7) = '# Time:'"


def slow_lines(df: DataFrame, text_col: str = "text") -> DataFrame:
    """rstripped non-empty ``line`` (empty lines are FSM no-ops, :901-902)
    plus its ``_is_hash`` (``'# '``) and ``_is_time`` (``is_time_line``)
    prefix flags."""
    line = f"regexp_replace({ident(text_col)}, {_RTRIM}, '') AS line"
    return project(
        project(df, "*", line).where("line != ''"),
        "*",
        "substring(line, 1, 2) = '# ' AS _is_hash",
        f"{is_time_line('line')} AS _is_time",
    )


def is_use_line(line: str) -> str:
    """skipped when it is SQL line 0 (:873-880)"""
    return f"substring({line}, 1, 4) = 'use '"


def is_set_timestamp_line(line: str) -> str:
    """skipped, and its value harvested, when it is SQL line 1 (:882-895)"""
    return f"substring({line}, 1, 14) = 'SET timestamp='"


def set_timestamp_value(line: str) -> str:
    """P8: the exact ``line[14:len-1]`` slice; try_cast so a garbage or
    overflowing value is NULL, not an ANSI error."""
    value = f"try_cast(substring({line}, 15, length({line}) - 15) AS BIGINT)"
    return case([(is_set_timestamp_line(line), value)])


def time_line_epoch(line: str) -> str:
    """Intended ``'# Time:'`` parse -> epoch seconds: ``yymmdd H:mm:ss``
    (pivot 69) or an ISO datetime with a fraction; NULL otherwise."""
    t_raw = f"regexp_extract({line}, {_TIME_RAW}, 1)"
    date = lambda i: f"regexp_extract({t_raw}, {_TIME_DATE}, {i})"  # noqa: E731
    yy = f"try_cast({date(1)} AS INT)"
    year = case([(f"{yy} <= 68", f"{yy} + 2000")], f"{yy} + 1900")
    t_f2 = (
        f"unix_seconds(try_to_timestamp(concat(CAST({year} AS STRING), '-', "
        f"{date(2)}, '-', {date(3)}, ' ', regexp_extract({t_raw}, {_TIME_CLOCK}, 1)), "
        "'yyyy-MM-dd H:mm:ss'))"
    )
    t_iso = f"unix_seconds(try_to_timestamp({t_raw}, {_TIME_ISO}))"
    return f"coalesce({t_f2}, {t_iso})"


def meta_value(line: str, name: str) -> str:
    """One META field of one line, typed; an entry's value is the max over
    its META lines."""
    pat, typ = META_FIELD_PATTERNS[name]
    v = f"regexp_extract({line}, {lit(pat)}, 1)"
    # try_cast: regex-validated but overflow-able digits must not ANSI-abort
    present = f"{v} != ''"
    return f"try_cast({case([(present, v)])} AS {typ.upper()})"


def slow_entry_columns(entries: DataFrame) -> DataFrame:
    """Raw entries -- head columns, ``set_timestamp``, ``time_line_ts``,
    ``kept_lines`` and ``meta_lines`` (streaming/stateful.SLOW_ENTRY_SCHEMA)
    -- to the ``parse_slow_log`` columns.  Batch assembly and the
    cross-batch stream both end here.

    Each metric is the max of ``meta_value`` over the META lines.
    ``query_text_raw`` is byte-equal to the reference's accumulated string,
    which starts with '\\n' (the first append is ''+'\\n'+line,
    :821-826); ``query_text`` is the clean join."""
    newline = lit("\n")
    out = project(
        entries,
        "* EXCEPT (kept_lines, meta_lines)",
        f"array_join(kept_lines, {newline}) AS query_text",
        *(
            f"array_max(transform(meta_lines, ln -> {meta_value('ln', n)})) AS {ident(n)}"
            for n in METRIC_COLS
        ),
        "size(kept_lines) AS _kept_count",
    )
    raw = case([("_kept_count > 0", f"concat({newline}, query_text)")], "''")
    return project(
        out,
        "* EXCEPT (_kept_count)",
        f"{raw} AS query_text_raw",
        "coalesce(set_timestamp, time_line_ts) AS ts_epoch",
        f"{fingerprint_sql('query_text')} AS query_fingerprint",
    )


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

    One projection per dependent window layer, three window layers in
    all: (previous hash flag, previous Time turn) -> run start -> (entry
    id, META).  A SQL line's position within its entry is not
    numbered here: the entry aggregate sorts the SQL lines into an array
    and reads indexes.
    """
    out = slow_lines(df, text_col)
    conv, order = ident(conv_col), ident(order_col)
    w = window(conv, order)
    w_cum = window(conv, order, RUNNING)
    w_prev = window(conv, order, BEFORE)

    # layer 1: the previous line's '# ' flag and the last Time turn
    # before this line
    out = project(
        out,
        "*",
        f"lag(_is_hash) {w} AS _prev_hash",
        f"max({case([('_is_time', order)])}) {w_prev} AS _prev_time_turn",
    )
    # layer 2: start turn of the current maximal '# '-run (valid for hash
    # rows); an entry start is a '# Time:' line with no earlier Time
    # inside its run
    run_start = "_is_hash AND coalesce(NOT _prev_hash, true)"
    out = project(
        out, "*", f"max({case([(run_start, order)])}) {w_cum} AS _run_start_turn"
    )
    out = project(
        out,
        "*",
        "_is_time AND (_prev_time_turn IS NULL OR _prev_time_turn < _run_start_turn)"
        " AS is_entry_start",
    )

    # layer 3: entry ids, and META = hash line whose run contains the
    # current entry's start
    last_entry_start_turn = f"max({case([('is_entry_start', order)])}) {w_cum}"
    out = project(
        out,
        "*",
        f"sum(CAST(is_entry_start AS BIGINT)) {w_cum} AS entry_id",
        f"_is_hash AND {last_entry_start_turn} >= _run_start_turn AS is_meta",
    )
    return project(
        out.where("entry_id > 0"),
        "* EXCEPT (_is_hash, _is_time, _prev_hash, _prev_time_turn, _run_start_turn)",
        "NOT is_meta AS is_sql",
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
    conv, order = ident(conv_col), ident(order_col)
    out = project(slow_lines(df, text_col), "*", f"floor({order} / {lit(block_size)}) AS _blk")

    # previous row's _is_hash: block-local lag, with the boundary fallback
    # taken from the last row of the previous PRESENT block (lag over the
    # per-block edge relation -- a fixed +1 shift would lose the carry
    # across blocks whose rows were all blank-filtered or absent from a
    # turn_idx gap, misclassifying the next block's first rows as a
    # conversation start); null at conversation start.  The edge relation
    # is one row per (conv, block) -- at least one row per conversation,
    # so its join strategy is left to AQE.
    last_hash = out.groupBy(conv_col, "_blk").agg(
        F.expr(f"max_by(_is_hash, {order}) AS _last_hash")
    )
    edges = project(
        last_hash, conv, "_blk", f"lag(_last_hash) {window(conv, '_blk')} AS _edge_hash"
    )
    out = out.join(edges, [conv_col, "_blk"], "left")
    prev_hash = f"coalesce(lag(_is_hash) {window(f'{conv}, _blk', order)}, _edge_hash)"
    out = project(
        out,
        "* EXCEPT (_edge_hash)",
        f"_is_hash AND coalesce(NOT {prev_hash}, true) AS _run_start",
    )

    # layer 1: run-start turn (inclusive max) + previous Time turn
    # (exclusive max)
    out = scan_layer(
        out,
        [
            ("_run_start_turn", case([("_run_start", order)]), "max", False),
            ("_prev_time_turn", case([("_is_time", order)]), "max", True),
        ],
        conv_col,
        order_col,
    )
    out = project(
        out,
        "*",
        "_is_time AND (_prev_time_turn IS NULL OR _prev_time_turn < _run_start_turn)"
        " AS is_entry_start",
    )

    # layer 2: entry ids (sum) + turn of the current entry's start (max)
    out = scan_layer(
        out,
        [
            ("entry_id", "CAST(is_entry_start AS BIGINT)", "sum", False),
            ("_last_start_turn", case([("is_entry_start", order)]), "max", False),
        ],
        conv_col,
        order_col,
    )
    out = project(out, "*", "_is_hash AND _last_start_turn >= _run_start_turn AS is_meta")
    return project(
        out.where("entry_id > 0"),
        "* EXCEPT (_is_hash, _is_time, _blk, _run_start, _run_start_turn, "
        "_prev_time_turn, _last_start_turn)",
        "NOT is_meta AS is_sql",
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
    conv, order = ident(conv_col), ident(order_col)
    sql_line = case([("is_sql", f"named_struct('i', {order}, 'm', line)")])
    agg = classified.groupBy(conv_col, "entry_id").agg(*(F.expr(e) for e in (
        f"min({order}) AS start_turn_idx",
        f"min_by(ts, {order}) AS ts",
        f"min_by(role, {order}) AS role",
        f"min_by(tool, {order}) AS tool",
        # an entry's first line is its '# Time:' start
        f"min_by(line, {order}) AS _head",
        f"transform(sort_array(collect_list({sql_line})), s -> s.m) AS _sql",
        f"collect_list({case([('is_meta', 'line')])}) AS meta_lines",
    )))

    # Trailing drop BEFORE the >=1-SQL-line filter: the reference flushes
    # entry e when the NEXT '# Time:' arrives (:925-931,947-949), so every
    # non-last entry is flush-eligible even when the LAST entry has no SQL
    # lines (e.g. a truncated log ending in a bare '# Time:' header).
    # Computing max(entry_id) after the SQL filter wrongly dropped the last
    # complete entry in that case.
    if not emit_trailing:
        agg = project(agg, "*", f"max(entry_id) {window(conv)} AS _max_entry")

    # entries with no SQL-section lines are never emitted (query_line falsy
    # at flush, :947-948)
    emitted = "size(_sql) >= 1"
    agg = agg.where(emitted if emit_trailing else f"entry_id < _max_entry AND {emitted}")

    skipped = f"(i = 0 AND {is_use_line('x')}) OR (i = 1 AND {is_set_timestamp_line('x')})"
    return slow_entry_columns(project(
        agg,
        conv, "entry_id", "start_turn_idx", "ts", "role", "tool",
        f"{set_timestamp_value('get(_sql, 1)')} AS set_timestamp",
        f"{time_line_epoch('_head')} AS time_line_ts",
        f"filter(_sql, (x, i) -> NOT ({skipped})) AS kept_lines",
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
