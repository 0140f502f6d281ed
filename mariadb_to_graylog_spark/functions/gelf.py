"""GELF message construction and serialization (SURVEY.md M1-M4, P12).

The reference builds a ``dict[str,str]`` in fixed insertion order
(version, host, short_message, timestamp, level, then ``_``-prefixed custom
fields -- lib_consumer/gelf_message.py:72-105) and serializes it by hand,
escaping *only* double quotes (lib_consumer/gelf_message.py:107-120).

Two serializers are provided:

* ``gelf_json_compat`` -- byte-equal to the reference's hand-rolled
  serializer, including its divergence from real JSON (raw newlines /
  backslashes pass through unescaped).
* ``gelf_json_strict`` -- ``to_json`` over the same struct: valid JSON
  (escapes ``\\n`` etc.), the mode a real downstream consumer wants.

Severity -> GELF level (P12) is ``gelf_level``: the reference's if-chain
(lib_consumer/gelf_message.py:36-47) as a CASE expression over
``dims.SEVERITY_ROWS`` with an ``UNKNOWN`` fallback -- a column, not a join.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from mariadb_to_graylog_spark.dims import SEVERITY_ROWS, lookup

GELF_VERSION = "1.1"  # mariadb-log-consumer.py:119


def gelf_level(severity: Column) -> Column:
    """Severity -> GELF level; unmatched or NULL -> 'UNKNOWN'."""
    return lookup(severity, SEVERITY_ROWS, 1).otherwise(F.lit("UNKNOWN"))


def _esc(c: Column) -> Column:
    # reference escapes ONLY '"' -> '\"' (gelf_message.py:116)
    return F.regexp_replace(c, '"', '\\\\"')


def gelf_fields(
    host: Column,
    short_message: Column,
    ts_epoch: Column,
    gelf_level: Column,
    text: Column,
) -> list[tuple[str, Column]]:
    """(key, value) pairs in the reference's insertion order; every value a
    string (gelf_message.py:96,116)."""
    return [
        ("version", F.lit(GELF_VERSION)),
        ("host", host.cast("string")),
        ("short_message", short_message.cast("string")),
        ("timestamp", ts_epoch.cast("long").cast("string")),
        ("level", gelf_level.cast("string")),
        ("_text", text.cast("string")),
    ]


def gelf_struct(
    host: Column,
    short_message: Column,
    ts_epoch: Column,
    gelf_level: Column,
    text: Column,
) -> Column:
    return F.struct(
        *[
            v.alias(k)
            for k, v in gelf_fields(host, short_message, ts_epoch, gelf_level, text)
        ]
    )


def gelf_json_compat(
    host: Column,
    short_message: Column,
    ts_epoch: Column,
    gelf_level: Column,
    text: Column,
) -> Column:
    """Byte-equal reimplementation of GELF_Message.to_string()."""
    parts: list[Column] = [F.lit("{")]
    for i, (k, v) in enumerate(
        gelf_fields(host, short_message, ts_epoch, gelf_level, text)
    ):
        sep = "," if i else ""
        parts.append(F.lit(f'{sep}"{k}":"'))
        # None values never occur in the reference (str() applied on entry);
        # mirror with coalesce to 'None' like str(None) would produce.
        parts.append(_esc(F.coalesce(v, F.lit("None"))))
        parts.append(F.lit('"'))
    parts.append(F.lit("}"))
    return F.concat(*parts)


def gelf_json_strict(
    host: Column,
    short_message: Column,
    ts_epoch: Column,
    gelf_level: Column,
    text: Column,
) -> Column:
    return F.to_json(gelf_struct(host, short_message, ts_epoch, gelf_level, text))


def is_ascii(c: Column) -> Column:
    """US-ASCII encodability (M4): the reference encodes the serialized
    message with ``bytearray(s, 'us-ascii')`` and any non-ASCII char raises,
    tripping sink failover (mariadb-log-consumer.py:567-583)."""
    return c.rlike(r"^[\x00-\x7F]*$")
