"""Error-log parsing operators (SURVEY.md section 2: P1-P5, P11-P14).

Re-expresses the reference's per-line cursor parser
(``mariadb-log-consumer.py:622-733``) as pure Catalyst column expressions --
whole-stage-codegen'd regexp extraction, no Python in the hot path.  The
expressions are written as Spark SQL text (functions/sqltext.py) and
handed to the JVM one staged projection at a time: built through
``pyspark.sql.functions`` they cost a py4j round trip or more per
expression node, and building the plan took longer than running it.

Reference semantics reproduced exactly:

* Tokenization (P1): words are maximal runs of non-whitespace; the
  "to_end" remainder is stripped of surrounding whitespace
  (``_get_next_word``, mariadb-log-consumer.py:493-526).
* Format 1 (P2): ``date time thread level message...`` where the time
  components are zero-padded (zfill) before ``strptime '%Y-%m-%d
  %H:%M:%S'`` (mariadb-log-consumer.py:652-667).
* Format 2 (P3): ``date time level message...`` with ``strptime '%y%m%d
  %H:%M:%S'`` (two-digit-year pivot 69: 00-68 -> 20xx, 69-99 -> 19xx,
  matching CPython's strptime) (mariadb-log-consumer.py:669-682).
* Well-formedness (P4): a line is well-formed iff either timestamp parses;
  malformed lines are continuations of the previous entry
  (mariadb-log-consumer.py:644-650,683-687).
* Severity normalization (P11): strip ``[`` ``]``, uppercase
  (mariadb-log-consumer.py:704-707).
* short_message (P13): built from the *bracketed* pre-normalization level +
  first 20 chars of the message (mariadb-log-consumer.py:699-701,
  registry.py:31) -- the quirk is preserved for byte equality.

Timestamps: the reference uses local-time ``mktime``
(mariadb-log-consumer.py:659,676); this engine pins the session timezone to
UTC (see session.py) so epochs are reproducible.

Accepted divergences on degenerate inputs (implausible in real MariaDB
error logs, documented rather than chased):

* Unicode whitespace: Java regex ``\\s`` is ASCII-only, while the
  reference's ``str.rstrip``/``str.isspace`` are Unicode-aware -- a line
  containing NBSP / U+2028 etc. tokenizes differently here (the Unicode
  space survives as part of a token instead of splitting it).
* ``_F2_DATE_RE`` requires exactly 6 digits; CPython's
  ``strptime('%y%m%d')`` also accepts degenerate 4-5 digit dates (e.g.
  ``'20130 12:00:00'`` parses as year 20, month 1, day 30 in the
  reference but is a continuation line here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from mariadb_to_graylog_spark.functions.sqltext import case, ident, lit, project

SHORT_MESSAGE_LENGTH = 20  # registry.py:31

_F1_DATE_RE = r"^\d{4}-\d{1,2}-\d{1,2}$"
_F2_DATE_RE = r"^(\d{2})(\d{2})(\d{2})$"
_WS = lit(r"\s+")
_RTRIM = lit(r"\s+$")
_LTRIM = lit(r"^\s+")
_TRIM = lit(r"^\s+|\s+$")
_TIME_PART = lit(r"^\d{0,2}$")


def _zfill2(c: str) -> str:
    # str.zfill(2) pads but never truncates (Spark's lpad truncates);
    # note ''.zfill(2) == '00', so empty time components become midnight
    # parts exactly like the reference (:655-656).
    return case([(f"length({c}) >= 2", c)], f"lpad({c}, 2, '0')")


def _strip(c: str) -> str:
    # Python str.strip(): all leading/trailing whitespace.
    return f"regexp_replace({c}, {_TRIM}, '')"


def _tok(arr: str, i: int) -> str:
    # try_element_at: NULL (not an ANSI error) when the line has fewer tokens
    return f"coalesce(try_element_at({arr}, {i}), '')"


def parse_error_log_lines(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-line parse: adds ``is_entry_start, ts_epoch, level_raw, severity,
    thread_raw, message, short_message, line`` columns.

    Built as *staged projections* so each regexp runs once per row and its
    result is reused by every downstream column -- inlining the whole tree
    per output column blows the janino 64KB codegen method limit and drops
    the stage to interpreted mode (observed; this shape keeps
    WholeStageCodegen).  The parquet scan still prunes to the referenced
    columns only.  Each stage is one projection of SQL text
    (functions/sqltext.py).
    """
    # stage 1: rstrip + tokenization.  One split pass replaces per-word
    # regexp_extracts (measured: the parse stage is CPU-bound, ~91% of
    # executor time; each regexp_extract is a separate regex execution).
    # split(_, '\s+', limit) consumes separator runs exactly like the
    # reference's cursor (P1): tokens 1..4 = words, token 5 = the stripped
    # remainder with interior whitespace preserved.
    s1 = project(df, "*", f"regexp_replace({ident(text_col)}, {_RTRIM}, '') AS line")
    s1 = project(s1, "*", f"regexp_replace(line, {_LTRIM}, '') AS _lstripped")
    s1 = project(s1, "*", f"split(_lstripped, {_WS}, 5) AS _tok5")
    s1 = project(s1, "*", *(f"{_tok('_tok5', i)} AS _w{i}" for i in range(1, 5)))

    # stage 2: time components + padded time string (one split on ':')
    s2 = project(s1, "*", "split(_w2, ':') AS _tparts")
    part = lambda i: f"try_element_at(_tparts, {i})"  # noqa: E731
    # a component zfills cleanly iff empty or 1-2 digits ('' -> '00');
    # anything else fails strptime in the reference
    digits = " AND ".join(f"{part(i)} RLIKE {_TIME_PART}" for i in (1, 2, 3))
    s2 = project(s2, "*", f"size(_tparts) >= 3 AND {digits} AS _time_ok")
    padded = "concat_ws(':', " + ", ".join(_zfill2(part(i)) for i in (1, 2, 3)) + ")"
    s2 = project(s2, "*", f"{case([('_time_ok', padded)])} AS _time_padded")

    # stage 3: the two timestamp candidates.  try_to_timestamp +
    # unix_seconds: NULL on out-of-range dates under ANY session ANSI mode
    # (plain unix_timestamp RAISES under ANSI, but an unparseable date is
    # this parser's well-formedness *signal*, not an error)
    f2 = lambda i: f"regexp_extract(_w1, {lit(_F2_DATE_RE)}, {i})"  # noqa: E731
    yy = f"try_cast({f2(1)} AS INT)"
    f2_year = case([(f"{yy} <= 68", f"{yy} + 2000")], f"{yy} + 1900")
    ts_f1 = (
        "unix_seconds(try_to_timestamp(concat(_w1, ' ', _time_padded), "
        "'yyyy-M-d H:mm:ss'))"
    )
    ts_f2 = (
        f"unix_seconds(try_to_timestamp(concat(CAST({f2_year} AS STRING), '-', "
        f"{f2(2)}, '-', {f2(3)}, ' ', _time_padded), 'yyyy-MM-dd H:mm:ss'))"
    )
    s3 = project(
        s2,
        "*",
        f"{case([(f'_w1 RLIKE {lit(_F1_DATE_RE)} AND _time_ok', ts_f1)])} AS _ts_f1",
        f"{case([(f'_w1 RLIKE {lit(_F2_DATE_RE)} AND _time_ok', ts_f2)])} AS _ts_f2",
    )

    # stage 4: well-formedness + field selection.  F1's message is the
    # remainder after word 4 (token 5 of the limit-5 split); F2's is the
    # remainder after word 3, which needs its own limit-4 split so interior
    # whitespace survives (the reference's to_end strip, :517-523).
    is_f1 = "_ts_f1 IS NOT NULL"
    well_formed = "coalesce(_ts_f1, _ts_f2) IS NOT NULL"
    rest4 = _tok("_tok5", 5)
    rest3 = _tok(f"split(_lstripped, {_WS}, 4)", 4)
    s4 = project(
        s3,
        "*",
        f"{well_formed} AS is_entry_start",
        "coalesce(_ts_f1, _ts_f2) AS ts_epoch",
        f"{case([(is_f1, '_w3')])} AS thread_raw",
        f"{case([(well_formed, case([(is_f1, '_w4')], '_w3'))])} AS level_raw",
        f"{case([(well_formed, case([(is_f1, rest4)], rest3))], _strip('line'))} AS message",
    )

    # stage 5: derived presentation columns; the helpers end here
    severity = "upper(translate(level_raw, '[]', ''))"
    short = f"concat(level_raw, ' ', substring(message, 1, {SHORT_MESSAGE_LENGTH}))"
    return project(
        s4,
        "* EXCEPT (_lstripped, _tok5, _w1, _w2, _w3, _w4, _tparts, _time_ok, "
        "_time_padded, _ts_f1, _ts_f2)",
        f"{case([('is_entry_start', severity)])} AS severity",
        f"{case([('is_entry_start', short)])} AS short_message",
    )
