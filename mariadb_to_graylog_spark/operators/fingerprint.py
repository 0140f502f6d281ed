"""Query fingerprinting (SURVEY.md P10).

The reference shells out to Percona's ``pt-fingerprint`` once per slow-log
entry (``subprocess.getoutput``, mariadb-log-consumer.py:864-865) -- a
process fork per row, the single worst scaling anti-pattern in the
reference -- then uppercases the first word
(``_capitalize_first_word``, :846-858).

This module reimplements the core pt-fingerprint rewrites (as publicly
documented: lowercase, literals -> ``?``, value lists -> ``(?+)``,
whitespace collapse) as a chain of JVM-side ``regexp_replace`` expressions:
zero Python per row, whole-stage codegen, ~10^5x cheaper than a fork.
``fingerprint_sql`` writes the chain as one Spark SQL expression text
(functions/sqltext.py): the JVM parses it once, where the same 30-odd
nested Column-API calls cost a py4j round trip per node on every plan
build.

``fingerprint_py`` is the identical pure-Python twin, used as the golden
oracle in tests and by driver-side tooling.  The regexes avoid lookaround
so the same patterns run under Java regex (Spark), Python ``re`` and RE2
(DuckDB oracle).
"""

from __future__ import annotations

import re

from mariadb_to_graylog_spark.functions.sqltext import lit

# (pattern, replacement) applied in order, after lowercasing.  The order
# mirrors pt-fingerprint's documented passes: comments out first, then
# quoted strings, then numeric/hex/NULL literals, then the structural
# collapses (IN-lists, LIMIT), then whitespace.
#
# Line-comment note: pt-fingerprint strips ``(?:--|#)[^'"\r\n]*`` only when
# the match reaches end-of-line (a lookahead).  RE2 (the DuckDB oracle) has
# no lookahead, so these rules strip up to the first quote/EOL without the
# to-EOL guarantee -- divergent only for a comment-opener followed by a
# quote on the same line, which pt mangles differently anyway.
FINGERPRINT_RULES: list[tuple[str, str]] = [
    (r"/\*[\s\S]*?\*/", ""),  # /* multiline comments */ (pt: s{/\*.*?\*/}{}gsm)
    (r"--[^'\"\r\n]*", ""),  # -- line comments
    (r"#[^'\"\r\n]*", ""),  # # line comments
    (r"'[^']*'", "?"),  # single-quoted string literals
    (r'"[^"]*"', "?"),  # double-quoted string literals
    (r"\b0x[0-9a-f]+\b", "?"),  # hex literals
    (r"\bnull\b", "?"),  # NULL -> ? (pt: s/\bnull\b/?/g)
    (r"\b\d+\.\d+\b", "?"),  # decimal literals
    (r"\b\d+\b", "?"),  # integer literals
    (r"\(\s*\?(?:\s*,\s*\?)+\s*\)", "(?+)"),  # IN-list collapse
    # multi-row VALUES collapse: after the IN-list pass every value tuple
    # is (?) or (?+), so a row list is a comma-joined tuple sequence
    # (pt-fingerprint collapses multi-row VALUES lists to one)
    (r"\(\?\+?\)(?:\s*,\s*\(\?\+?\))+", "(?+)"),
    (r"limit\s+\?(?:\s*,\s*\?|\s+offset\s+\?)?", "limit ?"),  # LIMIT n[,m] collapse
    # ORDER BY ... ASC -> drop the redundant ASC (pt-fingerprint's
    # documented ORDER BY rewrite).  Backreference-free deviation: 'asc'
    # is a MySQL reserved word, so any bare-word occurrence in valid DML
    # is a sort modifier -- a BACKQUOTED `asc` identifier would also be
    # stripped here where pt keeps it (accepted, documented).
    (r"\s+asc\b", ""),
    (r"\s+", " "),  # whitespace collapse (incl. newlines)
]


def fingerprint_py(query: str) -> str:
    s = query.lower()
    for pat, rep in FINGERPRINT_RULES:
        s = re.sub(pat, rep, s)
    s = s.strip()
    return capitalize_first_word_py(s)


def capitalize_first_word_py(phrase: str) -> str:
    """First space-delimited word uppercased (mariadb-log-consumer.py:846-858)."""
    i = phrase.find(" ")
    if i == -1:
        return phrase.upper()
    return phrase[:i].upper() + phrase[i:]


_TRIM = lit(r"^\s+|\s+$")


def fingerprint_sql(c: str) -> str:
    """``fingerprint_py`` as Spark SQL text over the expression ``c``."""
    s = f"lower({c})"
    for pat, rep in FINGERPRINT_RULES:
        # Java replacement strings treat \ and $ specially; our replacements
        # ('?', '(?+)', ' ') contain neither.
        s = f"regexp_replace({s}, {lit(pat)}, {lit(rep)})"
    s = f"regexp_replace({s}, {_TRIM}, '')"
    return capitalize_first_word_sql(s)


def capitalize_first_word_sql(c: str) -> str:
    first = f"regexp_extract({c}, '^([^ ]*)', 1)"
    return f"concat(upper({first}), substr({c}, length({first}) + 1, length({c})))"
