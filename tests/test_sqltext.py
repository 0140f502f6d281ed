"""SQL-text literals (functions/sqltext.py): the same value whatever the
parser's escaping setting, and the same type the Column API would give."""

from __future__ import annotations

import pytest

from mariadb_to_graylog_spark.functions.sqltext import lit, project

STRINGS = [
    "plain",
    r"\d",
    r"^\s+|\s+$",
    "it's",
    '"',
    '\\\\"',
    "\n",
    "café",
    "x\x00y",
    "",
]


@pytest.fixture(params=["true", "false"], ids=["escaped", "unescaped"])
def escaped_literals(spark, request):
    key = "spark.sql.parser.escapedStringLiterals"
    spark.conf.set(key, request.param)
    yield spark
    spark.conf.unset(key)


def test_string_literals_parse_the_same_either_way(escaped_literals):
    spark = escaped_literals
    row = spark.range(1).selectExpr(*(f"{lit(s)} AS c{i}" for i, s in enumerate(STRINGS)))
    assert list(row.first()) == STRINGS


def test_typed_literals(spark):
    df = spark.range(1).selectExpr(
        f"{lit(1.0)} AS d", f"{lit(2)} AS i", f"{lit(1e-05)} AS e", f"{lit(float('inf'))} AS inf"
    )
    assert df.dtypes == [("d", "double"), ("i", "int"), ("e", "double"), ("inf", "double")]
    assert tuple(df.first()) == (1.0, 2, 1e-05, float("inf"))


def test_project_keeps_expression_order(spark):
    df = project(spark.range(2), "*", "id * 2 AS two", f"{lit('a,b')} AS s", "id + 1 AS one")
    assert df.columns == ["id", "two", "s", "one"]
    assert [tuple(r) for r in df.orderBy("id").collect()] == [(0, 0, "a,b", 1), (1, 2, "a,b", 2)]
