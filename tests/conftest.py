from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from mariadb_to_graylog_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", cpus=4, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def transcripts(spark):
    from mariadb_to_graylog_spark.datagen import generate_transcripts

    df = generate_transcripts(spark, n_convs=24, mean_turns=6, seed=42)
    df = df.cache()
    df.count()
    return df


def make_conv(spark, lines: list[str], conv_id: str = "conv-t"):
    """One conversation DataFrame from raw lines (turn order = list order)."""
    from datetime import datetime, timezone

    rows = [
        (conv_id, i, "assistant", line, None, datetime(2024, 1, 1, tzinfo=timezone.utc))
        for i, line in enumerate(lines)
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )


def group_jobs(spark, action) -> int:
    """Spark jobs ``action`` runs, counted through a job group."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))
