"""Cross-batch streaming entry assembly (SURVEY.md P5 under SRC1-stream).

``foreachBatch`` assembly (stream_pipeline.py) is correct only when every
conversation's lines land in one micro-batch; a conversation whose
continuation lines arrive in a LATER batch needs per-conversation state --
exactly the reference's tail loop, which keeps one in-flight message across
reads (mariadb-log-consumer.py:774-780,692-733).  This module implements it
with ``applyInPandasWithState``:

* group by ``conv_id``; state = the open (not-yet-terminated) entry;
* an entry is emitted when the NEXT entry-start line arrives (possibly
  batches later) -- the same one-entry-lag the reference uses;
* the trailing open entry is flushed by a processing-time timeout after
  ``flush_after_ms`` of key silence (the reference flushes at EOF,
  :771-772; an unbounded stream has no EOF, a quiet period is its moral
  equivalent).

The line grammar has one definition, the batch column expressions.  Each
line is parsed row-locally BEFORE the state call (error dialect:
``operators/errorlog.parse_error_log_lines``; slow dialect: the per-line
helpers of ``operators/slowlog.py``), so the callbacks hold only the
cross-batch FSM registers and the open entry.  The slow-log callback
emits raw entries (its META and kept lines); their metrics,
``query_text_raw``, ``ts_epoch`` and fingerprint are computed AFTER the
state call by ``operators/slowlog.slow_entry_columns``, the tail batch
``assemble_slow_entries`` ends in too.

BOTH dialects are covered: ``assemble_entries_stateful`` (error log) and
``assemble_slow_entries_stateful`` (the slow-log FSM with its registers in
state); both are tested column-equal to batch ``assemble_error_entries`` /
``parse_slow_log`` with one conversation split across three micro-batches
(tests/test_streaming_stateful.py).  Exhaustive split-point and
random-corpus property tests drive the callbacks against a fake GroupState
(tests/test_stateful_exhaustive.py); the CLI reaches this via
``--stateful-assembly`` (jobs/run_pipeline.py).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mariadb_to_graylog_spark.operators.errorlog import parse_error_log_lines
from mariadb_to_graylog_spark.operators.slowlog import (
    is_set_timestamp_line,
    is_use_line,
    set_timestamp_value,
    slow_entry_columns,
    slow_lines,
    time_line_epoch,
)

_HEAD_COLS = ["conv_id", "turn_idx", "ts", "role", "tool"]


def _names(schema: str) -> list[str]:
    return [field.split()[0] for field in schema.split(", ")]


def _ts_us(ts) -> int | None:
    # naive round-trip: Arrow delivers session-tz-naive timestamps and
    # interprets naive ones back the same way
    return int(ts.value // 1000) if isinstance(ts, pd.Timestamp) else None


def _long(v) -> int | None:
    """A nullable long read off a pandas row: pandas hands a long column
    that holds NULLs over as float64 (NaN), or as Decimal when it was
    shipped as a decimal to keep all 64 bits."""
    return None if pd.isna(v) else int(v)


# ---------------------------------------------------------------------------
# error-log dialect
# ---------------------------------------------------------------------------

_PARSED_COLS = [
    "is_entry_start", "ts_epoch", "thread_raw", "level_raw", "severity",
    "short_message", "message",
]

OUTPUT_SCHEMA = (
    "conv_id string, entry_id long, start_turn_idx int, ts timestamp, "
    "role string, tool string, ts_epoch long, thread_raw string, "
    "level_raw string, severity string, short_message string, message string"
)

# open-entry state: head fields + accumulated message lines + emit counter
STATE_SCHEMA = (
    "n_emitted long, start_turn_idx int, ts_us long, role string, "
    "tool string, ts_epoch long, thread_raw string, level_raw string, "
    "severity string, short_message string, lines array<string>"
)

_OUT_COLS = _names(OUTPUT_SCHEMA)


def error_line_values(transcripts: DataFrame) -> DataFrame:
    """The rows the error callback reads: the batch per-line parse."""
    return parse_error_log_lines(transcripts).select(*_HEAD_COLS, *_PARSED_COLS)


def _entry_row(conv_id: str, entry_id: int, st: tuple, mode: str) -> dict:
    # intended: array_join semantics of the batch aggregate (NULLs skipped)
    message = (
        st[10][0] if mode == "strict"
        else "\n".join(m for m in st[10] if m is not None)
    )
    return {
        "conv_id": conv_id,
        "entry_id": entry_id,
        "start_turn_idx": st[1],
        "ts": pd.Timestamp(st[2], unit="us") if st[2] is not None else None,
        "role": st[3],
        "tool": st[4],
        "ts_epoch": st[5],
        "thread_raw": st[6],
        "level_raw": st[7],
        "severity": st[8],
        "short_message": st[9],
        "message": message,
    }


def make_assembler(mode: str = "intended", flush_after_ms: int = 1000):
    """applyInPandasWithState callback over ``error_line_values`` rows;
    ``mode`` as in assemble_error_entries (strict = head line only,
    intended = multiline append)."""
    if mode not in ("strict", "intended"):
        raise ValueError(f"unknown mode {mode!r}")

    def assemble(
        key: tuple, pdfs: Iterator[pd.DataFrame], state
    ) -> Iterator[pd.DataFrame]:
        conv_id = key[0]
        out: list[dict] = []
        if state.hasTimedOut:
            st = state.get
            if st[10]:  # open entry exists -> EOF-equivalent flush
                out.append(_entry_row(conv_id, st[0] + 1, st, mode))
                # keep a counter-only row (no timeout re-arm) so a
                # conversation that resumes after the flush CONTINUES its
                # entry_id sequence -- state.remove() would restart ids at
                # 1 and mint duplicate (conv_id, entry_id) keys.  Cost: one
                # ~100-byte state row per flushed conversation, the price
                # of key uniqueness.
                state.update(
                    (st[0] + 1, None, None, None, None, None, None, None,
                     None, None, [])
                )
            else:
                # already counter-only: nothing new since the last flush
                state.update(st)
            if out:
                yield pd.DataFrame(out, columns=_OUT_COLS)
            return

        st = state.get if state.exists else None
        rows: list[tuple] = []
        for pdf in pdfs:
            for r in pdf.itertuples(index=False):
                rows.append(r)
        rows.sort(key=lambda r: r.turn_idx)

        for r in rows:
            if r.is_entry_start:
                # counter-only state (post-timeout-flush) has st[10] == []:
                # its st[0] already counts the flushed entry, so no +1
                flushed_here = st is not None and bool(st[10])
                if flushed_here:
                    out.append(_entry_row(conv_id, st[0] + 1, st, mode))
                n_emitted = (
                    st[0] + (1 if flushed_here else 0) if st is not None else 0
                )
                st = (
                    n_emitted, int(r.turn_idx), _ts_us(r.ts), r.role, r.tool,
                    _long(r.ts_epoch), r.thread_raw, r.level_raw,
                    r.severity, r.short_message, [r.message],
                )
            elif st is not None and st[10]:
                if mode == "intended":
                    st = st[:10] + (st[10] + [r.message],)
                # strict: continuation text dropped (reference :733)

        if st is not None:
            state.update(st)
            state.setTimeoutDuration(flush_after_ms)
        if out:
            yield pd.DataFrame(out, columns=_OUT_COLS)

    return assemble


def assemble_entries_stateful(
    transcripts,  # streaming DataFrame with transcript schema
    mode: str = "intended",
    flush_after_ms: int = 1000,
):
    """Streaming entry assembly with cross-batch state.  Emits each entry
    when its successor's first line arrives; flushes the trailing open
    entry after ``flush_after_ms`` of silence on the conversation."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    fn = make_assembler(mode, flush_after_ms)
    return error_line_values(transcripts).groupBy("conv_id").applyInPandasWithState(
        fn,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


# ---------------------------------------------------------------------------
# slow-log dialect: the reference FSM with cross-batch state
# ---------------------------------------------------------------------------

# the raw entries the callback emits; slowlog.slow_entry_columns derives
# the rest of the output from their lines after the state call
SLOW_ENTRY_SCHEMA = (
    "conv_id string, entry_id long, start_turn_idx int, ts timestamp, "
    "role string, tool string, set_timestamp long, time_line_ts long, "
    "kept_lines array<string>, meta_lines array<string>"
)

_SLOW_ENTRY_COLS = _names(SLOW_ENTRY_SCHEMA)

SLOW_STATE_SCHEMA = (
    "prev_type string, entry_count long, open boolean, start_turn int, "
    "ts_us long, role string, tool string, sql_count long, "
    "kept_lines array<string>, set_ts long, time_ts long, "
    "meta_lines array<string>"
)

_SLOW_STATE_KEYS = _names(SLOW_STATE_SCHEMA)


def slow_line_values(transcripts: DataFrame) -> DataFrame:
    """The rows the slow callback reads: each non-empty ``line`` with its
    prefix flags and its ``'# Time:'`` / ``SET timestamp=`` values
    (``time_ts``, ``set_ts``), all from the batch helpers.  ``set_ts``
    travels as a decimal: pandas turns a long column holding NULLs into
    float64, which loses digits past 2**53.  No name has a leading
    underscore, which ``itertuples`` would rename."""
    line = F.col("line")
    return slow_lines(transcripts).select(
        *_HEAD_COLS, "line",
        F.col("_is_hash").alias("is_hash"),
        F.col("_is_time").alias("is_time"),
        is_use_line(line).alias("is_use"),
        is_set_timestamp_line(line).alias("is_set"),
        set_timestamp_value(line).cast("decimal(20,0)").alias("set_ts"),
        F.when(F.col("_is_time"), time_line_epoch(line)).alias("time_ts"),
    )


def _slow_entry_row(conv_id: str, st: dict) -> dict:
    return {
        "conv_id": conv_id,
        "entry_id": st["entry_count"],
        "start_turn_idx": st["start_turn"],
        "ts": pd.Timestamp(st["ts_us"], unit="us") if st["ts_us"] is not None else None,
        "role": st["role"],
        "tool": st["tool"],
        "set_timestamp": st["set_ts"],
        "time_line_ts": st["time_ts"],
        "kept_lines": st["kept_lines"],
        "meta_lines": st["meta_lines"],
    }


def _slow_frame(out: list[dict]) -> pd.DataFrame:
    # object dtype: a long column with None would otherwise become
    # float64 and round values past 2**53; ``ts`` stays datetime64 so
    # Arrow reads it in the session timezone, as it was delivered
    frame = pd.DataFrame(out, columns=_SLOW_ENTRY_COLS, dtype=object)
    frame["ts"] = pd.to_datetime(frame["ts"])
    return frame


def make_slow_assembler(emit_trailing: bool = False, flush_after_ms: int = 1000):
    """applyInPandasWithState callback running the reference slow-log FSM
    (mariadb-log-consumer.py:897-954) with cross-batch registers over
    ``slow_line_values`` rows; it emits SLOW_ENTRY_SCHEMA rows.  Entry
    ids count every entry START (zero-SQL entries occupy an id but are
    never emitted), matching the batch classifier's numbering.  With
    ``emit_trailing=False`` (the reference default) the timeout only
    DISCARDS stale state -- the trailing entry is dropped exactly like the
    reference at EOF; ``True`` flushes it instead."""

    def _open_state() -> dict:
        return {
            "prev_type": None, "entry_count": 0, "open": False,
            "start_turn": None, "ts_us": None, "role": None, "tool": None,
            "sql_count": 0, "kept_lines": [], "set_ts": None,
            "time_ts": None, "meta_lines": [],
        }

    def _to_tuple(d: dict) -> tuple:
        return tuple(d[k] for k in _SLOW_STATE_KEYS)

    def _from_tuple(t: tuple) -> dict:
        d = dict(zip(_SLOW_STATE_KEYS, t))
        d["kept_lines"] = list(d["kept_lines"] or [])
        d["meta_lines"] = list(d["meta_lines"] or [])
        return d

    def assemble(key, pdfs, state):
        conv_id = key[0]
        out: list[dict] = []
        if state.hasTimedOut:
            st = _from_tuple(state.get)
            if emit_trailing and st["open"] and st["sql_count"] >= 1:
                out.append(_slow_entry_row(conv_id, st))
            # keep the FSM registers (prev_type, entry_count) in a
            # buffers-cleared row instead of state.remove(): a conversation
            # that resumes after the flush continues its entry_id sequence
            # (no duplicate (conv_id, entry_id) keys) and the classifier
            # position survives the quiet period.  No timeout re-arm --
            # the row is ~100 bytes, the price of key uniqueness.
            st.update(
                open=False, start_turn=None, ts_us=None, role=None,
                tool=None, sql_count=0, kept_lines=[], set_ts=None,
                time_ts=None, meta_lines=[],
            )
            state.update(_to_tuple(st))
            if out:
                yield _slow_frame(out)
            return

        st = _from_tuple(state.get) if state.exists else _open_state()
        rows: list = []
        for pdf in pdfs:
            rows.extend(pdf.itertuples(index=False))
        rows.sort(key=lambda r: r.turn_idx)

        for r in rows:
            is_new_entry = False
            if r.is_hash:
                if st["prev_type"] is None or st["prev_type"] == "SQL":
                    if r.is_time:
                        is_new_entry = True
                        line_type = "META"
                    else:
                        line_type = "SQL"
                else:
                    line_type = "META"
            else:
                line_type = None if st["prev_type"] is None else "SQL"

            if is_new_entry:
                if st["open"] and st["sql_count"] >= 1:
                    out.append(_slow_entry_row(conv_id, st))
                st.update(
                    open=True, entry_count=st["entry_count"] + 1,
                    start_turn=int(r.turn_idx), ts_us=_ts_us(r.ts),
                    role=r.role, tool=r.tool, sql_count=0, kept_lines=[],
                    set_ts=None, time_ts=_long(r.time_ts),
                    meta_lines=[r.line],
                )
            elif st["open"]:
                if line_type == "META":
                    st["meta_lines"] = st["meta_lines"] + [r.line]
                elif line_type == "SQL":
                    pos = st["sql_count"]
                    if pos == 0 and r.is_use:
                        pass  # skipped (position-0 only)
                    elif pos == 1 and r.is_set:
                        st["set_ts"] = _long(r.set_ts)
                    else:
                        st["kept_lines"] = st["kept_lines"] + [r.line]
                    st["sql_count"] += 1
            st["prev_type"] = line_type

        state.update(_to_tuple(st))
        state.setTimeoutDuration(flush_after_ms)
        if out:
            yield _slow_frame(out)

    return assemble


def assemble_slow_entries_stateful(
    transcripts,
    emit_trailing: bool = False,
    flush_after_ms: int = 1000,
):
    """Cross-batch slow-log assembly: the FSM's registers persist across
    micro-batches per conversation; entries emit one-entry-late exactly
    like batch parse_slow_log / the reference tail loop."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    fn = make_slow_assembler(emit_trailing, flush_after_ms)
    entries = slow_line_values(transcripts).groupBy("conv_id").applyInPandasWithState(
        fn,
        outputStructType=SLOW_ENTRY_SCHEMA,
        stateStructType=SLOW_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )
    return slow_entry_columns(entries)
