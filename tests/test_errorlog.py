"""Golden-fixture tests: Spark error-log operators vs the reference-semantics
simulator (tests/reference_sim.py). FIXTURES.md section 3 corpus."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import make_conv
from reference_sim import gelf_to_string, simulate_error_log
from mariadb_to_graylog_spark.operators.assembly import assemble_error_entries
from mariadb_to_graylog_spark.operators.errorlog import parse_error_log_lines
from mariadb_to_graylog_spark.functions.gelf import gelf_json_compat, gelf_level

CORPUS = [
    "2019-11-01 16:10:48 0 [Note] WSREP: Read nil XID from storage engines, skipping position init",
    "2019-11-01 16:10:49 12 [Warning] Aborted connection 12 to db: 'test' user: 'app'",
    "2019-11-01 16:10:50 0 [ERROR] InnoDB: Unable to lock ./ibdata1 error: 11",
    "2019-11-01 6:5:3 0 [Note] single-digit time parts exercise zfill",
    "201030 12:40:21 [ERROR] mysqld got signal 6 ;",
    "Attempting backtrace. You can use the following information to find out",
    "where mysqld died. If you see no messages after this, something went",
    "terribly wrong...",
    "201030 12:40:22 [Note] InnoDB: Starting shutdown...",
    "2019-11-01 16:10:51 3 [note] lowercase level",
    "2019-11-01 16:10:52 3 [Foo] unknown level maps to UNKNOWN",
    "2019-11-01 16:10:53 5 [Note] short msg",
    '2019-11-01 16:10:54 5 [Note] quotes "quoted" in message',
    "2019-11-01 16:10:55 5 [Note] café non-ascii",
    "2019-11-01 16:10:56 7",  # F1 timestamp parses, no thread/level/message
    "2019-13-01 16:10:56 0 [Note] month out of range -> continuation",
    "20191301 16:10:56 [Note] f2 month out of range -> continuation",
    "2019-11-01 16:70:00 0 [Note] minute out of range -> continuation",
    "2019-11-01 :: 0 [Note] empty time parts zfill to 00 -> midnight, well-formed",
    "2019-11-01 1:: 0 [Note] partial empty parts",
]


def spark_error_entries(spark, lines, mode="strict", host="sparkhost", scalable=False):
    df = make_conv(spark, lines)
    parsed = parse_error_log_lines(df)
    entries = assemble_error_entries(parsed, mode=mode, scalable=scalable)
    entries = entries.withColumn("gelf_level", gelf_level(F.col("severity")))
    entries = entries.withColumn(
        "gelf_json",
        gelf_json_compat(
            F.lit(host),
            F.col("short_message"),
            F.col("ts_epoch"),
            F.col("gelf_level"),
            F.col("message"),
        ),
    )
    return entries.orderBy("entry_id").collect()


@pytest.mark.parametrize("mode", ["strict", "intended"])
def test_corpus_matches_reference_semantics(spark, mode):
    expected = simulate_error_log(CORPUS, mode=mode)
    got = spark_error_entries(spark, CORPUS, mode=mode)
    assert len(got) == len(expected)
    for row, exp in zip(got, expected):
        assert str(row.ts_epoch) == exp["timestamp"]
        assert row.short_message == exp["short_message"]
        assert row.gelf_level == exp["level"]
        assert (row.message or "") == exp["_text"]
        assert row.gelf_json == gelf_to_string(exp)


def test_scalable_entry_ids_equal_simple(spark):
    simple = spark_error_entries(spark, CORPUS, scalable=False)
    # tiny block size forces multi-block prefix sums
    df = make_conv(spark, CORPUS)
    parsed = parse_error_log_lines(df)
    scal = (
        assemble_error_entries(parsed, mode="strict", scalable=True, block_size=4)
        .orderBy("entry_id")
        .collect()
    )
    assert [(r.entry_id, r.message, r.ts_epoch) for r in simple] == [
        (r.entry_id, r.message, r.ts_epoch) for r in scal
    ]


def test_datagen_error_convs_match_simulator(spark):
    """Property test: every generated error-dialect conversation matches the
    simulator, at line-level parallelism (shuffled input order)."""
    from mariadb_to_graylog_spark.datagen import conv_lines_py, generate_transcripts

    df = generate_transcripts(spark, n_convs=16, mean_turns=6, seed=42)
    err = df.filter(~F.col("text").startswith("# Time:"))
    # dialect detection: conv has no '# Time:' line
    slow_convs = {
        r.conv_id
        for r in df.filter(F.col("text").startswith("# Time:")).select("conv_id").distinct().collect()
    }
    err = df.filter(~F.col("conv_id").isin(list(slow_convs))).repartition(8)
    parsed = parse_error_log_lines(err)
    entries = assemble_error_entries(parsed, mode="strict")
    got = {
        (r.conv_id, r.entry_id): r
        for r in entries.collect()
    }
    n_checked = 0
    for conv in range(16):
        cid = f"conv-{conv:06d}"
        if cid in slow_convs:
            continue
        lines = conv_lines_py(conv, seed=42, mean_turns=6)
        expected = simulate_error_log(lines)
        sim_ids = range(1, len(expected) + 1)
        assert {k[1] for k in got if k[0] == cid} == set(sim_ids), cid
        for eid, exp in zip(sim_ids, expected):
            row = got[(cid, eid)]
            assert str(row.ts_epoch) == exp["timestamp"], (cid, eid)
            assert row.short_message == exp["short_message"], (cid, eid)
            assert (row.message or "") == exp["_text"], (cid, eid)
            n_checked += 1
    assert n_checked > 20
