"""Exhaustive split-point tests for the cross-batch assemblers: the FSM
state round-trip must be correct no matter WHERE the micro-batch boundary
falls.  Runs the applyInPandasWithState callbacks directly against a fake
GroupState, comparing to the pure-Python reference-semantics simulator for
every single split position and a set of random multi-way splits.

The callbacks read pre-parsed rows: the fixed corpora are parsed once with
the Spark line parses the streams run (``error_line_values`` /
``slow_line_values``); the property test takes its per-line values from
``reference_sim.slow_line_values`` so it needs no Spark call per example."""

from __future__ import annotations

import math
import random

import pandas as pd
import pytest


def _norm(v):
    """pandas numeric columns render None as NaN and ints as floats in
    to_dict; Spark's Arrow path keeps proper nulls -- normalize for the
    no-Spark harness comparison."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, float) and v.is_integer():
        return int(v)
    return v

from conftest import make_conv
from reference_sim import simulate_error_log, simulate_slow_log, slow_line_values
from test_slowlog import CORPUS as SLOW_CORPUS
from mariadb_to_graylog_spark.streaming import stateful
from mariadb_to_graylog_spark.streaming.stateful import (
    make_assembler,
    make_slow_assembler,
)

ERROR_CORPUS = [
    "2019-11-01 16:10:48 0 [Note] InnoDB: Using Linux native AIO",
    "continuation one",
    "201030 12:40:21 [ERROR] WSREP: read nil XID",
    "second entry continuation",
    "2019-11-01 :: 7 [ERROR] empty-time-components entry",
    "garbage between",
    "2019-11-01 16:10:55 5 [Warning] last entry",
    "trailing continuation",
]


@pytest.fixture(scope="module")
def slow_rows(spark):
    return stateful.slow_line_values(make_conv(spark, SLOW_CORPUS)).toPandas()


@pytest.fixture(scope="module")
def error_rows(spark):
    return stateful.error_line_values(make_conv(spark, ERROR_CORPUS)).toPandas()


class FakeState:
    """Just enough of pyspark GroupState for the callbacks."""

    def __init__(self):
        self._v = None
        self.hasTimedOut = False

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)

    def remove(self):
        self._v = None

    def setTimeoutDuration(self, ms):
        pass


def _run_chunks(fn, rows: pd.DataFrame, cuts: list[int]):
    """Feed ``rows`` as micro-batches cut at the turn_idx values ``cuts``;
    a batch with no rows for the key does not call the callback."""
    state = FakeState()
    out: list[dict] = []
    bounds = [0, *cuts, math.inf]
    for lo, hi in zip(bounds, bounds[1:]):
        chunk = rows[(rows.turn_idx >= lo) & (rows.turn_idx < hi)]
        if len(chunk):
            for frame in fn(("c",), iter([chunk]), state):
                out.extend(frame.to_dict("records"))
    # stream-end: the processing-time timeout fires with no new data
    if state.exists:
        state.hasTimedOut = True
        for frame in fn(("c",), iter([]), state):
            out.extend(frame.to_dict("records"))
    return out


def _all_splits(n: int):
    yield []  # single batch
    for i in range(1, n):  # every 2-way split point
        yield [i]
    rng = random.Random(7)
    for _ in range(20):  # random 3-4 way splits
        yield sorted(rng.sample(range(1, n), rng.choice([2, 3])))


def _query_text(entry: dict) -> str:
    # the reference accumulates '' + '\n' + line per kept line (:821-826)
    return "".join("\n" + ln for ln in entry["kept_lines"])


def test_slow_fsm_every_split_point_matches_simulator(slow_rows):
    expected = simulate_slow_log(SLOW_CORPUS, emit_trailing=True)
    for cuts in _all_splits(len(SLOW_CORPUS)):
        fn = make_slow_assembler(emit_trailing=True)
        got = _run_chunks(fn, slow_rows, cuts)
        assert [_query_text(r) for r in got] == [
            e["query_text"] for e in expected
        ], cuts
        assert [_norm(r["set_timestamp"]) for r in got] == [
            e["set_timestamp"] for e in expected
        ], cuts


def test_slow_fsm_trailing_drop_every_split_point(slow_rows):
    expected = simulate_slow_log(SLOW_CORPUS, emit_trailing=False)
    for cuts in _all_splits(len(SLOW_CORPUS)):
        got = _run_chunks(make_slow_assembler(emit_trailing=False), slow_rows, cuts)
        assert [_query_text(r) for r in got] == [
            e["query_text"] for e in expected
        ], cuts


def test_error_strict_every_split_point_matches_simulator(error_rows):
    expected = simulate_error_log(ERROR_CORPUS)
    for cuts in _all_splits(len(ERROR_CORPUS)):
        got = _run_chunks(make_assembler(mode="strict"), error_rows, cuts)
        assert [r["short_message"] for r in got] == [
            e["short_message"] for e in expected
        ], cuts
        assert [str(_norm(r["ts_epoch"])) for r in got] == [
            e["timestamp"] for e in expected
        ], cuts


from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_LINE_KINDS = st.one_of(
    st.just("# Time: 231030 12:40:21"),
    st.just("# Time: 2023-10-30T12:40:21.000001"),
    st.builds("# Thread_id: {}  Schema: s  QC_hit: No".format, st.integers(0, 99)),
    st.just("# Query_time: 1.5  Lock_time: 0.01  Rows_sent: 3  Rows_examined: 9"),
    st.just("# not a time header"),
    st.just("use shop;"),
    st.builds("SET timestamp={};".format, st.integers(0, 2_000_000_000)),
    st.builds("SELECT {};".format, st.integers(0, 9)),
    st.just(""),
    st.just("   "),
    st.just("bare continuation words"),
)


def _reference_rows(lines: list[str]) -> pd.DataFrame:
    rows = pd.DataFrame(
        slow_line_values(lines),
        columns=["turn_idx", "line", "is_hash", "is_time", "is_use",
                 "is_set", "set_ts", "time_ts"],
    )
    return rows.assign(conv_id="c", ts=pd.Timestamp("2024-01-01"), role="user", tool=None)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(_LINE_KINDS, min_size=0, max_size=24),
    st.integers(0, 1 << 30),
    st.booleans(),
)
def test_slow_fsm_random_corpora_random_splits(lines, seed, emit_trailing):
    """Property: for ANY line sequence and ANY batch segmentation, the
    stateful FSM emits exactly the simulator's entries."""
    expected = simulate_slow_log(lines, emit_trailing=emit_trailing)
    rng = random.Random(seed)
    cuts, i = [], 0
    while i < len(lines):
        i = rng.randint(i + 1, len(lines))
        cuts.append(i)
    got = _run_chunks(
        make_slow_assembler(emit_trailing=emit_trailing), _reference_rows(lines), cuts
    )
    assert [_query_text(r) for r in got] == [e["query_text"] for e in expected]
    assert [_norm(r["set_timestamp"]) for r in got] == [
        e["set_timestamp"] for e in expected
    ]
