"""Slow-log operator tests vs the reference-semantics simulator
(FIXTURES.md section 4 corpus, including the one-entry-lag and
trailing-entry-drop quirks)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import make_conv
from reference_sim import simulate_slow_log
from mariadb_to_graylog_spark.operators.fingerprint import fingerprint_py
from mariadb_to_graylog_spark.operators.slowlog import parse_slow_log

CORPUS = [
    "/usr/sbin/mariadbd, Version: 10.6.12-MariaDB-log (MariaDB Server). started with:",
    "Tcp port: 3306  Unix socket: /run/mysqld/mysqld.sock",
    "Time                Id Command  Argument",
    # entry 1: full meta + use + SET + single-line SQL
    "# Time: 231030 12:40:21",
    "# User@Host: app[app] @ localhost [127.0.0.1]",
    "# Thread_id: 42  Schema: shop  QC_hit: No",
    "# Query_time: 2.000300  Lock_time: 0.000120  Rows_sent: 10  Rows_examined: 100000",
    "# Rows_affected: 0  Bytes_sent: 1234",
    "use shop;",
    "SET timestamp=1698669621;",
    "SELECT * FROM orders WHERE customer_id = 123 AND status IN ('a','b','c');",
    # entry 2: no use line, multi-line SQL, '# ' comment inside SQL section
    "# Time: 231030 12:40:25",
    "# Thread_id: 43  Schema: shop  QC_hit: Yes",
    "# Query_time: 0.100000  Lock_time: 0.000000  Rows_sent: 1  Rows_examined: 5",
    "SET timestamp=1698669625;",
    "SELECT a, b",
    "# index hint follows",
    "FROM t WHERE x = 7;",
    # entry 3: no SET timestamp
    "# Time: 231030 12:41:00",
    "# Thread_id: 44  Schema: shop  QC_hit: No",
    "# Query_time: 1.500000  Lock_time: 0.010000  Rows_sent: 3  Rows_examined: 9",
    "use shop;",
    "UPDATE t SET v = 1 WHERE id = 99;",
    # entry 4 (trailing; dropped unless emit_trailing)
    "# Time: 231030 12:42:00",
    "# Thread_id: 45  Schema: shop  QC_hit: No",
    "# Query_time: 0.200000  Lock_time: 0.000500  Rows_sent: 2  Rows_examined: 4",
    "SET timestamp=1698669720;",
    "DELETE FROM t WHERE id IN (1, 2, 3);",
]

# the positional skips at the ends of an entry's SQL-line array
SQL_ARRAY_EDGES = [
    "# Time: 231030 12:40:21",
    "use a;",
    "use b;",  # a 'use' at position 1 is kept
    "SELECT 1;",
    "# Time: 231030 12:40:22",
    "use x;",  # alone: skipped, the entry is emitted with no text
    "# Time: 231030 12:40:23",
    "use x;",
    "SET timestamp=7;",  # both skipped, 7 harvested
    "# Time: 231030 12:40:24",
    "SELECT 1;",
    "SET timestamp=7;",  # position 1 is skipped without a 'use'
    "# Time: 231030 12:40:25",
    "SET timestamp=7;",  # alone at position 0: kept, not harvested
    "# Time: 231030 12:40:26",
    "SELECT 2;",
]


def spark_slow_entries(spark, lines, **kw):
    df = make_conv(spark, lines)
    return parse_slow_log(df, **kw).orderBy("entry_id").collect()


@pytest.mark.parametrize("emit_trailing", [False, True])
def test_corpus_matches_reference_fsm(spark, emit_trailing):
    for lines in (CORPUS, SQL_ARRAY_EDGES):
        expected = simulate_slow_log(lines, emit_trailing=emit_trailing)
        got = spark_slow_entries(spark, lines, emit_trailing=emit_trailing)
        assert len(got) == len(expected)
        for row, exp in zip(got, expected):
            assert row.query_text_raw == exp["query_text"]
            assert row.set_timestamp == exp["set_timestamp"]
    # SQL_ARRAY_EDGES, last in the loop, harvests exactly at index 1
    assert [e["set_timestamp"] for e in expected][:5] == [None, None, 7, 7, None]


def test_metrics_extraction(spark):
    got = spark_slow_entries(spark, CORPUS)
    e1 = got[0]
    assert e1.user == "app" and e1.ip == "127.0.0.1"
    assert e1.thread_id == 42 and e1.schema == "shop"
    assert e1.query_cache_hit == "No"
    assert e1.query_time == pytest.approx(2.0003)
    assert e1.lock_time == pytest.approx(0.00012)
    assert (e1.rows_sent, e1.rows_examined, e1.rows_affected, e1.bytes_sent) == (
        10,
        100000,
        0,
        1234,
    )
    assert e1.set_timestamp == 1698669621 and e1.ts_epoch == 1698669621
    e3 = got[2]
    assert e3.set_timestamp is None
    # '# Time: 231030 12:41:00' in UTC
    assert e3.ts_epoch == 1698669660


def test_entry_lag_and_sql_section_semantics(spark):
    got = spark_slow_entries(spark, CORPUS)
    assert len(got) == 3  # trailing entry dropped
    # entry 2 has no 'use' line, so 'SET timestamp=' sits at SQL position 0
    # and the position-sensitive skip (:886-893 requires position 1) keeps
    # it in the text AND never harvests it; '# ' comment inside SQL stays.
    assert got[1].query_text == (
        "SET timestamp=1698669625;\nSELECT a, b\n# index hint follows\nFROM t WHERE x = 7;"
    )
    assert got[1].set_timestamp is None
    # 'use shop;' skipped only at SQL position 0
    assert got[2].query_text == "UPDATE t SET v = 1 WHERE id = 99;"


def test_meta_only_entry_not_emitted(spark):
    lines = [
        "# Time: 231030 12:40:21",
        "# Thread_id: 1  Schema: s  QC_hit: No",
        # no SQL lines, then next entry
        "# Time: 231030 12:40:22",
        "# Thread_id: 2  Schema: s  QC_hit: No",
        "SELECT 1;",
        "# Time: 231030 12:40:23",
        "# Thread_id: 3  Schema: s  QC_hit: No",
        "SELECT 2;",
    ]
    # entry 1 has no SQL -> never emitted; entry 2 emitted (flushed by
    # entry 3); entry 3 trailing -> dropped.  NOTE: '# Time: 12:40:22'
    # follows META state in the reference... but entry1 has no SQL lines so
    # the hash-run continues: the FSM swallows it.  Verify against simulator.
    expected = simulate_slow_log(lines)
    got = spark_slow_entries(spark, lines)
    assert [r.query_text_raw for r in got] == [e["query_text"] for e in expected]


@pytest.mark.parametrize("emit_trailing", [False, True])
def test_zero_sql_trailing_entry_does_not_eat_last_complete_entry(
    spark, emit_trailing
):
    """A truncated log ending in a bare '# Time:' header: the trailing
    zero-SQL entry must count toward max(entry_id), so the last COMPLETE
    entry is still flushed (reference one-entry-lag flush at :947-949)."""
    lines = [
        "# Time: 231030 12:40:21",
        "SELECT 1;",
        "# Time: 231030 12:40:22",  # trailing, no SQL lines
    ]
    expected = simulate_slow_log(lines, emit_trailing=emit_trailing)
    got = spark_slow_entries(spark, lines, emit_trailing=emit_trailing)
    assert [e["query_text"] for e in expected] == ["\nSELECT 1;"]
    assert [r.query_text_raw for r in got] == ["\nSELECT 1;"]


def test_time_swallowed_inside_meta_run(spark):
    """A '# Time:' directly after META lines (no SQL between) is NOT a new
    entry in the reference FSM -- both metas merge into one entry."""
    lines = [
        "# Time: 231030 12:40:21",
        "# Time: 231030 12:40:22",  # swallowed: prev state META
        "# Thread_id: 9  Schema: s  QC_hit: No",
        "SELECT 1;",
        "# Time: 231030 12:40:23",
        "SELECT 2;",
    ]
    expected = simulate_slow_log(lines)
    got = spark_slow_entries(spark, lines)
    assert len(got) == len(expected) == 1
    assert got[0].query_text_raw == expected[0]["query_text"] == "\nSELECT 1;"
    assert got[0].thread_id == 9


def test_empty_lines_ignored(spark):
    lines = [
        "# Time: 231030 12:40:21",
        "",
        "# Thread_id: 5  Schema: s  QC_hit: No",
        "SELECT 1;",
        "",
        "# Time: 231030 12:40:25",
        "SELECT 2;",
    ]
    expected = simulate_slow_log(lines)
    got = spark_slow_entries(spark, lines)
    assert [r.query_text_raw for r in got] == [e["query_text"] for e in expected]
    assert got[0].thread_id == 5


@pytest.mark.parametrize("block_size", [1, 2, 3, 5, 64])
def test_scalable_classifier_equals_window_classifier(spark, block_size):
    """Block-scan classification == whole-conversation-window
    classification, with block_size forced tiny so every scan layer
    crosses block boundaries (run starts, swallowed Times, entry bases)."""
    from mariadb_to_graylog_spark.operators.slowlog import (
        classify_slow_log_lines,
        classify_slow_log_lines_scalable,
    )

    df = make_conv(spark, CORPUS)
    cols = ["turn_idx", "line", "is_entry_start", "entry_id", "is_meta", "is_sql"]
    ref = [tuple(r) for r in classify_slow_log_lines(df).select(cols).orderBy("turn_idx").collect()]
    got = [
        tuple(r)
        for r in classify_slow_log_lines_scalable(df, block_size=block_size)
        .select(cols).orderBy("turn_idx").collect()
    ]
    assert got == ref


@pytest.mark.parametrize(
    "gap_turns",
    [
        [(2, ""), (3, "")],  # a whole block of blank-filtered lines
        [],  # turn_idx gap: blocks 2..3 simply absent
    ],
    ids=["blank_block", "turn_gap"],
)
def test_scalable_classifier_carries_hash_flag_across_empty_blocks(
    spark, gap_turns
):
    """A block with NO surviving rows (all-blank span or turn_idx gap) must
    not reset the previous-row-hash boundary carry: the hash run straddling
    the gap is ONE run, so the post-gap '# Thread_id' line stays META.  The
    old +1-shift edge join fed the post-gap block a null carry, re-started
    the run there, and misclassified the META line as SQL."""
    from mariadb_to_graylog_spark.operators.slowlog import (
        classify_slow_log_lines,
        classify_slow_log_lines_scalable,
    )

    rows = [
        (0, "# Time: 231030 12:40:21"),
        (1, "# User@Host: app[app] @ localhost [127.0.0.1]"),
        *gap_turns,
        (8, "# Thread_id: 5  Schema: s  QC_hit: No"),
        (9, "SELECT 1;"),
        (10, "# Time: 231030 12:41:00"),
        (11, "SELECT 2;"),
    ]
    df = spark.createDataFrame(
        [("c", t, x) for t, x in rows], "conv_id string, turn_idx int, text string"
    )
    cols = ["turn_idx", "is_entry_start", "entry_id", "is_meta", "is_sql"]
    ref = [tuple(r) for r in classify_slow_log_lines(df).select(cols).orderBy("turn_idx").collect()]
    got = [
        tuple(r)
        for r in classify_slow_log_lines_scalable(df, block_size=2)
        .select(cols).orderBy("turn_idx").collect()
    ]
    assert got == ref
    # and the semantic point itself: turn 8 is META, not SQL
    meta = {r[0]: r[3] for r in got}
    assert meta[8] is True


def test_scalable_classifier_leaves_join_strategy_to_aqe(spark):
    """The block-edge and carry relations hold at least one row per
    conversation, so they are not small on many-conversation input: with
    broadcasting switched off, the scalable classifier's plan must carry
    no forced BroadcastExchange."""
    from mariadb_to_graylog_spark.operators.slowlog import (
        classify_slow_log_lines_scalable,
    )

    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        df = classify_slow_log_lines_scalable(make_conv(spark, CORPUS), block_size=4)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, old)
    assert "BroadcastExchange" not in plan


def test_slow_log_plan_shape(spark):
    """SQL-line positions are indexes into the entry's sorted SQL-line
    array, not running windows, and the classifier builds one projection
    per dependent window layer: ``parse_slow_log`` plans 4 Window nodes,
    three classifier layers and the trailing-entry max (6 with one window
    per column, 8 while two more windows numbered SQL lines).  The block-scan
    classifier joins 3 times in sequence -- the hash-flag edge carry and
    two scan layers (5 with the two SQL-numbering layers).  Each join's
    carries side re-plans the same input, so n sequential joins show as
    2**n - 1 join nodes in the plan tree: 7, not 31."""
    import re

    from mariadb_to_graylog_spark.operators.slowlog import (
        classify_slow_log_lines_scalable,
    )

    def nodes(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return re.findall(r"(?m)^[\s:|+\-*()\d]*([A-Za-z]+)", plan)

    df = make_conv(spark, CORPUS)
    assert nodes(parse_slow_log(df)).count("Window") <= 4
    joins = [n for n in nodes(classify_slow_log_lines_scalable(df)) if n.endswith("Join")]
    assert len(joins) <= 2**3 - 1


def test_scalable_full_parse_on_datagen_corpus(spark, transcripts):
    """End-to-end parse equality (window vs block-scan) on the synthetic
    multi-conversation corpus."""
    from mariadb_to_graylog_spark.plans.pipeline import split_dialects

    _, slow = split_dialects(transcripts)
    cols = ["conv_id", "entry_id", "query_text", "set_timestamp", "thread_id", "query_time"]
    ref = sorted(
        tuple(r) for r in parse_slow_log(slow).select(cols).collect()
    )
    got = sorted(
        tuple(r)
        for r in parse_slow_log(slow, scalable=True, block_size=4).select(cols).collect()
    )
    assert got == ref and len(ref) > 0


def test_fingerprint_spark_equals_python(spark):
    queries = [
        "SELECT * FROM orders WHERE customer_id = 123 AND status IN ('a','b','c')",
        "select count(*) from lineitem where l_quantity in (36, 12, 17)",
        "UPDATE customer SET c_acctbal = c_acctbal + 12.75 WHERE c_custkey = 7",
        'INSERT INTO t (a, b) VALUES (1, "two")',
        "INSERT INTO t (a, b) VALUES (1, 'x'), (2, 'y'), (3, 'z')",
        "SELECT a FROM t ORDER BY a ASC, b DESC, c ASC LIMIT 5",
        "SELECT 1",
        "  select\n  col   FROM t  WHERE x = 'it''s'  ",
    ]
    df = spark.createDataFrame([(q,) for q in queries], "q string")
    from mariadb_to_graylog_spark.operators.fingerprint import fingerprint_sql

    got = [r.fp for r in df.selectExpr(f"{fingerprint_sql('q')} AS fp").collect()]
    assert got == [fingerprint_py(q) for q in queries]


def test_fingerprint_goldens():
    assert (
        fingerprint_py("SELECT * FROM orders WHERE customer_id = 123 AND status IN ('a','b','c')")
        == "SELECT * from orders where customer_id = ? and status in (?+)"
    )
    assert fingerprint_py("SELECT 1") == "SELECT ?"
    assert (
        fingerprint_py("UPDATE t SET v = 1.5 WHERE id = 99")
        == "UPDATE t set v = ? where id = ?"
    )


def test_fingerprint_goldens_pt_breadth():
    """pt-fingerprint's documented passes beyond the round-1 core six:
    comment stripping, hex/NULL literals, LIMIT collapse."""
    assert (
        fingerprint_py("SELECT /* pick one */ a FROM t -- trailing note")
        == "SELECT a from t"
    )
    assert (
        fingerprint_py("SELECT a FROM t # mysql comment\nWHERE x = 1")
        == "SELECT a from t where x = ?"
    )
    assert (
        fingerprint_py("SELECT * FROM t WHERE k = 0xDEADbeef")
        == "SELECT * from t where k = ?"
    )
    assert (
        fingerprint_py("SELECT * FROM t WHERE v IS NULL OR v = NULL")
        == "SELECT * from t where v is ? or v = ?"
    )
    assert fingerprint_py("SELECT a FROM t LIMIT 10") == "SELECT a from t limit ?"
    assert fingerprint_py("SELECT a FROM t LIMIT 10, 20") == "SELECT a from t limit ?"
    assert (
        fingerprint_py("SELECT a FROM t LIMIT 10 OFFSET 5")
        == "SELECT a from t limit ?"
    )
    # multiline comment spanning lines; quoted '--' NOT treated as comment
    assert (
        fingerprint_py("SELECT a /* x\n y */ FROM t WHERE s = '--not a comment'")
        == "SELECT a from t where s = ?"
    )


def test_fingerprint_goldens_values_and_orderby():
    """Round-3 pt rewrites: multi-row VALUES lists collapse to one (?+)
    tuple; redundant ASC is dropped from ORDER BY keys (DESC kept)."""
    assert (
        fingerprint_py("INSERT INTO t (a, b) VALUES (1, 'x'), (2, 'y'), (3, 'z')")
        == "INSERT into t (a, b) values (?+)"
    )
    # single-column rows are (?)-tuples, still one collapsed list
    assert (
        fingerprint_py("INSERT INTO t (a) VALUES (1), (2), (3)")
        == "INSERT into t (a) values (?+)"
    )
    # a single VALUES tuple is untouched by the multi-row rule
    assert (
        fingerprint_py("INSERT INTO t (a, b) VALUES (1, 'x')")
        == "INSERT into t (a, b) values (?+)"
    )
    assert (
        fingerprint_py("SELECT a FROM t ORDER BY col ASC")
        == "SELECT a from t order by col"
    )
    assert (
        fingerprint_py("SELECT a FROM t ORDER BY a ASC, b DESC, c ASC LIMIT 5")
        == "SELECT a from t order by a, b desc, c limit ?"
    )
    # 'asc' inside a string literal is already a ? by the time the rule runs
    assert (
        fingerprint_py("SELECT a FROM t WHERE s = 'asc'")
        == "SELECT a from t where s = ?"
    )


def test_datagen_slow_convs_match_simulator(spark):
    from mariadb_to_graylog_spark.datagen import conv_lines_py, generate_transcripts

    df = generate_transcripts(spark, n_convs=32, mean_turns=20, seed=42)
    slow_convs = {
        r.conv_id
        for r in df.filter(F.col("text").startswith("# Time:"))
        .select("conv_id")
        .distinct()
        .collect()
    }
    assert slow_convs, "datagen produced no slow conversations"
    slow = df.filter(F.col("conv_id").isin(list(slow_convs))).repartition(8)
    got = parse_slow_log(slow).collect()
    by_conv: dict[str, list] = {}
    for r in got:
        by_conv.setdefault(r.conv_id, []).append(r)
    n_checked = 0
    for conv in range(32):
        cid = f"conv-{conv:06d}"
        if cid not in slow_convs:
            continue
        expected = simulate_slow_log(conv_lines_py(conv, seed=42, mean_turns=20))
        rows = sorted(by_conv.get(cid, []), key=lambda r: r.entry_id)
        assert len(rows) == len(expected), cid
        for row, exp in zip(rows, expected):
            assert row.query_text_raw == exp["query_text"], cid
            assert row.set_timestamp == exp["set_timestamp"], cid
            n_checked += 1
    assert n_checked > 10
