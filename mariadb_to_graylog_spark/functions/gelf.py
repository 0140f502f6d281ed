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

Every builder here maps SQL expression text to SQL expression text
(functions/sqltext.py): the serializers are ~40-node expressions, and
as Column-API calls each node cost a py4j round trip per plan build.
"""

from __future__ import annotations

from mariadb_to_graylog_spark.dims import SEVERITY_ROWS, lookup
from mariadb_to_graylog_spark.functions.sqltext import lit

GELF_VERSION = "1.1"  # mariadb-log-consumer.py:119

# reference escapes ONLY '"' -> '\"' (gelf_message.py:116); in a Java
# replacement string a backslash is written '\\'
_QUOTE, _ESCAPED_QUOTE = lit('"'), lit('\\\\"')
_ASCII = lit(r"^[\x00-\x7F]*$")


def gelf_level(severity: str) -> str:
    """Severity -> GELF level; unmatched or NULL -> 'UNKNOWN'."""
    return lookup(severity, SEVERITY_ROWS, 1, otherwise=lit("UNKNOWN"))


def gelf_fields(
    host: str,
    short_message: str,
    ts_epoch: str,
    gelf_level: str,
    text: str,
) -> list[tuple[str, str]]:
    """(key, value) pairs in the reference's insertion order; every value a
    string (gelf_message.py:96,116).  Arguments and values are SQL text."""
    return [
        ("version", lit(GELF_VERSION)),
        ("host", f"CAST({host} AS STRING)"),
        ("short_message", f"CAST({short_message} AS STRING)"),
        ("timestamp", f"CAST(CAST({ts_epoch} AS BIGINT) AS STRING)"),
        ("level", f"CAST({gelf_level} AS STRING)"),
        ("_text", f"CAST({text} AS STRING)"),
    ]


def gelf_json_compat(
    host: str,
    short_message: str,
    ts_epoch: str,
    gelf_level: str,
    text: str,
) -> str:
    """Byte-equal reimplementation of GELF_Message.to_string()."""
    parts = ["'{'"]
    for i, (k, v) in enumerate(
        gelf_fields(host, short_message, ts_epoch, gelf_level, text)
    ):
        sep = "," if i else ""
        parts.append(lit(f'{sep}"{k}":"'))
        # None values never occur in the reference (str() applied on entry);
        # mirror with coalesce to 'None' like str(None) would produce.
        parts.append(f"regexp_replace(coalesce({v}, 'None'), {_QUOTE}, {_ESCAPED_QUOTE})")
        parts.append(lit('"'))
    parts.append("'}'")
    return f"concat({', '.join(parts)})"


def gelf_json_strict(
    host: str,
    short_message: str,
    ts_epoch: str,
    gelf_level: str,
    text: str,
) -> str:
    fields = gelf_fields(host, short_message, ts_epoch, gelf_level, text)
    return f"to_json(named_struct({', '.join(f'{lit(k)}, {v}' for k, v in fields)}))"


def is_ascii(c: str) -> str:
    """US-ASCII encodability (M4): the reference encodes the serialized
    message with ``bytearray(s, 'us-ascii')`` and any non-ASCII char raises,
    tripping sink failover (mariadb-log-consumer.py:567-583)."""
    return f"{c} RLIKE {_ASCII}"

