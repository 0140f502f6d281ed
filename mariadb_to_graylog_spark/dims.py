"""Constant lookups for enrichment, as SQL-text column expressions.

The reference's only lookup is the severity -> GELF level if-chain at
lib_consumer/gelf_message.py:36-47 ("ERROR"->"3", "WARNING"->"4",
"NOTE"->"6", else "UNKNOWN").  That mapping and the role/tool dims are
row constants; ``lookup`` turns them into the same if-chain as a CASE
column, so enrichment adds no join, broadcast or Spark job to a plan.  The
CASE is SQL text (functions/sqltext.py): enrichment's one projection
crosses to the JVM in one call instead of one per WHEN/THEN node.
"""

from __future__ import annotations

from mariadb_to_graylog_spark.functions.sqltext import case, lit

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


def lookup(
    key: str, rows: list[tuple[str, ...]], field: int, otherwise: str | None = None
) -> str:
    """``CASE WHEN key = row[0] THEN row[field] ... END`` as SQL text over
    the expression ``key``: NULL (or ``otherwise``) for an unmatched or
    NULL key, as a left join would give, even under ANSI mode (where a map
    ``element_at`` raises on a missing key)."""
    return case([(f"{key} = {lit(row[0])}", lit(row[field])) for row in rows], otherwise)
