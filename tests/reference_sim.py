"""Pure-Python simulator of the reference's parsing semantics.

An independent line-by-line reimplementation (NOT a copy) of the behavior
documented in SURVEY.md sections 1.3/2/3, used as the golden oracle for the
Spark operators: feed a conversation's lines through this simulator and the
Spark pipeline must produce identical entries.

Reference behaviors simulated (citations into /root/reference):
* error-log F1/F2 parse + zfill + well-formedness (mariadb-log-consumer.py:622-733)
* continuation drop (strict; the :733 append is commented out) and the
  intended append (intended mode)
* severity normalization + GELF level mapping + short_message quirk
  (:699-707; lib_consumer/gelf_message.py:36-47)
* hand-rolled GELF serialization, only '"' escaped (gelf_message.py:107-120)
* slow-log 3-state FSM, use/SET-timestamp skips, one-entry-lag flush,
  trailing-entry drop (:793-954,992-993)

Timestamps use UTC (the engine pins session TZ to UTC; the reference's
local-time mktime is documented as host-dependent in SURVEY.md 1.2).
"""

from __future__ import annotations

import calendar
import re
from datetime import datetime

GELF_VERSION = "1.1"
SHORT_MESSAGE_LENGTH = 20

_LEVEL_MAP = {"ERROR": "3", "WARNING": "4", "NOTE": "6"}


def _words(line: str) -> list[str]:
    return line.split()


def _rest_after(line: str, n_words: int) -> str:
    m = re.match(r"\s*" + r"(?:\S+\s+){%d}" % n_words + r"(.*)$", line)
    return m.group(1).strip() if m else ""


def _utc_epoch(dt: datetime) -> int:
    return calendar.timegm(dt.timetuple())


def parse_error_line(line: str) -> dict:
    """One line -> {well_formed, ts, thread, level, message}."""
    toks = _words(line)

    def word(i: int) -> str:
        return toks[i] if i < len(toks) else ""

    date_part, time_part = word(0), word(1)
    for fmt, n_lead in (("%Y-%m-%d %H:%M:%S", 2), ("%y%m%d %H:%M:%S", 1)):
        try:
            parts = time_part.split(":")
            dt_s = f"{date_part} {parts[0].zfill(2)}:{parts[1].zfill(2)}:{parts[2].zfill(2)}"
            ts = _utc_epoch(datetime.strptime(dt_s, fmt))
        except (ValueError, IndexError):
            continue
        if n_lead == 2:  # format 1: date time thread level message
            return {
                "well_formed": True,
                "ts": ts,
                "thread": word(2),
                "level": word(3),
                "message": _rest_after(line, 4),
            }
        return {  # format 2: date time level message
            "well_formed": True,
            "ts": ts,
            "thread": None,
            "level": word(2),
            "message": _rest_after(line, 3),
        }
    return {"well_formed": False, "message": line.strip()}


def gelf_dict(ts: int, host: str, level_raw: str, message: str) -> dict[str, str]:
    short = level_raw + " " + message[:SHORT_MESSAGE_LENGTH]
    norm = level_raw.replace("[", "").replace("]", "").upper()
    return {
        "version": GELF_VERSION,
        "host": host,
        "short_message": short,
        "timestamp": str(ts),
        "level": _LEVEL_MAP.get(norm, "UNKNOWN"),
        "_text": message,
    }


def gelf_to_string(msg: dict[str, str]) -> str:
    return (
        "{"
        + ",".join(f'"{k}":"{v.replace(chr(34), chr(92) + chr(34))}"' for k, v in msg.items())
        + "}"
    )


def simulate_error_log(
    lines: list[str], host: str = "sparkhost", mode: str = "strict"
) -> list[dict[str, str]]:
    """Emitted GELF dicts, in order, including the EOF flush (:771-772)."""
    out: list[dict[str, str]] = []
    current: dict | None = None
    for raw in lines:
        line = raw.rstrip()
        p = parse_error_line(line)
        if p["well_formed"]:
            if current is not None:
                out.append(gelf_dict(**current))
            current = {
                "ts": p["ts"],
                "host": host,
                "level_raw": p["level"],
                "message": p["message"],
            }
        elif mode == "intended" and current is not None:
            current["message"] = current["message"] + "\n" + p["message"]
    if current is not None:
        out.append(gelf_dict(**current))
    # short_message must not include appended continuations: rebuild from
    # the first line only -- handled because gelf_dict is called at flush
    # time with the full message.  For intended mode the reference's
    # append_to_field would extend only _text, so fix short_message here.
    if mode == "intended":
        for m in out:
            first = m["_text"].split("\n", 1)[0]
            lvl = m["short_message"].split(" ", 1)[0]
            m["short_message"] = lvl + " " + first[:SHORT_MESSAGE_LENGTH]
    return out


def slow_line_values(lines: list[str]) -> list[dict]:
    """Per non-empty line, the values the cross-batch slow-log FSM reads
    (streaming/stateful.slow_line_values), with the reference's own
    slicing (:873-895,915-931).  The reference never parses the
    ``# Time:`` line (P9 is declared but unimplemented), so ``time_ts``
    is None."""
    out = []
    for i, raw in enumerate(lines):
        line = raw.rstrip()
        if not line:
            continue
        is_set = line[0:14] == "SET timestamp="
        out.append({
            "turn_idx": i,
            "line": line,
            "is_hash": line[0:2] == "# ",
            "is_time": line[0:7] == "# Time:",
            "is_use": line[0:4] == "use ",
            "is_set": is_set,
            "set_ts": int(line[14 : len(line) - 1]) if is_set else None,
            "time_ts": None,
        })
    return out


def simulate_slow_log(
    lines: list[str], emit_trailing: bool = False
) -> list[dict]:
    """Emitted slow entries: {query_text, set_timestamp}.

    Mirrors the FSM at :897-954 exactly, including the one-entry-lag flush
    and the dropped trailing entry (unless emit_trailing).
    """
    out: list[dict] = []
    prev_type: str | None = None
    query_text: str | None = None
    query_line: int | None = None
    set_ts: int | None = None

    def flush() -> None:
        nonlocal set_ts
        out.append({"query_text": query_text, "set_timestamp": set_ts})
        set_ts = None

    for raw in lines:
        line = raw.rstrip()
        if not line:
            continue
        is_new_entry = False
        line_type: str | None = None
        if line[0:2] == "# ":
            if prev_type is None or prev_type == "SQL":
                if line[1:7] == " Time:":
                    is_new_entry = True
                    line_type = "META"
                else:
                    line_type = "SQL"
            else:  # prev META
                line_type = "META"
        else:
            line_type = None if prev_type is None else "SQL"

        if is_new_entry:
            if query_line:
                flush()
            query_text, query_line = "", 0
        elif line_type == "SQL":
            if query_line == 0 and line[0:4] == "use ":
                query_line += 1
            elif query_line == 1 and line[0:14] == "SET timestamp=":
                set_ts = int(line[14 : len(line) - 1])
                query_line += 1
            elif query_line is not None:
                # the reference appends '\n'+line even to the empty initial
                # query_text (:821-826), so raw text starts with '\n'
                query_text = query_text + "\n" + line
                query_line += 1
            # query_line is None: pathological pre-entry SQL (reference
            # would crash; engine drops) -- ignore
        prev_type = line_type

    if emit_trailing and query_line:
        flush()
    return out
