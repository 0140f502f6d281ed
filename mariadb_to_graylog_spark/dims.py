"""Constant lookups for enrichment, as column expressions.

The reference's only lookup is the severity -> GELF level if-chain at
lib_consumer/gelf_message.py:36-47 ("ERROR"->"3", "WARNING"->"4",
"NOTE"->"6", else "UNKNOWN").  That mapping and the role/tool dims are
row constants; ``lookup`` turns them into the same if-chain as a CASE
column, so enrichment adds no join, broadcast or Spark job to a plan.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Exactly lib_consumer/gelf_message.py:40-45; UNKNOWN is the fallback
# (gelf_message.py:47), applied by functions/gelf.gelf_level.
SEVERITY_ROWS = [("ERROR", "3"), ("WARNING", "4"), ("NOTE", "6")]

ROLE_ROWS = [
    # role, role_group, default_source
    ("system", "control", "error"),
    ("user", "human", "error"),
    ("assistant", "agent", "error"),
    ("tool", "agent", "slow"),
]

TOOL_ROWS = [
    # tool, tool_kind, sink_hint
    ("bash", "exec", "udp"),
    ("search", "io", "udp"),
    ("editor", "exec", "tcp"),
    ("browser", "io", "http"),
]


def lookup(key: Column, rows: list[tuple[str, ...]], field: int) -> Column:
    """``CASE WHEN key = row[0] THEN row[field] ... END``: NULL for an
    unmatched or NULL key, as a left join would give, even under ANSI mode
    (where a map ``element_at`` raises on a missing key)."""
    first, *rest = rows
    out = F.when(key == first[0], F.lit(first[field]))
    for row in rest:
        out = out.when(key == row[0], F.lit(row[field]))
    return out
