"""Lexical regions of PG-dialect SQL text, and the scans that skip them.

Every rewrite of statement text (the PG → Spark shim, the slt DML
splitter, the pgwire statement splitter and parameter binder) must
leave quoted text and comments alone: a `;` inside a literal is data, a
`)` inside a quoted identifier is part of a name, a table name inside a
comment is prose. This module is the one place that knows where such a
region starts and ends:

  - '…'            string literal; '' escapes a quote
  - "…"            PG quoted identifier; "" escapes a quote
  - `…`            Spark quoted identifier; `` escapes a backtick. PG has
                   no backticks, but the shim renders each "…" identifier
                   as `…` and then rewrites its own output (function-call
                   rewrites, subscripts, the slt VALUES count), so those
                   later passes meet this form
  - $tag$…$tag$    dollar-quoted body; the tag may be empty ($$…$$)
  - -- …           line comment, through its newline
  - /* … */        block comment; PG block comments nest, unlike C

An unterminated region runs to the end of the text. Everything else is
code: `walk` cuts text into code runs, brackets and regions and tracks
the ()/[] depth, and the helpers below are built on it.
"""

from __future__ import annotations

import re
from typing import Callable, Iterator

_QUOTED = {
    "'": re.compile(r"'(?:''|[^'])*'"),
    '"': re.compile(r'"(?:""|[^"])*"'),
    "`": re.compile(r"`(?:``|[^`])*`"),
}
_DOLLAR_TAG = re.compile(r"\$(?:[A-Za-z_]\w*)?\$")
_COMMENT_EDGE = re.compile(r"/\*|\*/")
# where a bracket or a region may start; a `$` that opens no dollar
# quote (a `$1` placeholder) stays code
_UNIT_START = re.compile(r"[()\[\]'\"`$]|--|/\*")


def skip_region(sql: str, i: int) -> tuple[int, bool] | None:
    """If sql[i] opens a region, (one past its end, is_comment), clamped
    to len(sql) for an unterminated region; else None."""
    c = sql[i]
    if c in _QUOTED:
        m = _QUOTED[c].match(sql, i)
        return (m.end() if m else len(sql), False)
    if c == "$":
        m = _DOLLAR_TAG.match(sql, i)
        if m is None:
            return None
        j = sql.find(m.group(), m.end())
        return (len(sql) if j < 0 else j + len(m.group()), False)
    if sql.startswith("--", i):
        j = sql.find("\n", i)
        return (len(sql) if j < 0 else j + 1, True)
    if sql.startswith("/*", i):
        depth = 1
        for m in _COMMENT_EDGE.finditer(sql, i + 2):
            depth += 1 if m.group() == "/*" else -1
            if depth == 0:
                return (m.end(), True)
        return (len(sql), True)
    return None


def walk(sql: str, start: int = 0) -> Iterator[tuple[int, int, int, str]]:
    """Cut sql[start:] into units (i, j, depth, kind), sql[i:j] being one
    of: a maximal run of code without brackets ("code"), one ( or [
    ("open"), one ) or ] ("close"), a quoted region ("quote") or a
    comment ("comment"). `depth` counts the brackets opened since
    `start` and not yet closed; a bracket reports the depth outside it,
    so an opener and its closer report the same depth, and a stray
    closer makes it negative."""
    depth, code, k, n = 0, start, start, len(sql)
    while (m := _UNIT_START.search(sql, k)) is not None:
        i = m.start()
        c = sql[i]
        if c in "([":
            j, kind = i + 1, "open"
        elif c in ")]":
            j, kind = i + 1, "close"
        else:
            reg = skip_region(sql, i)
            if reg is None:
                k = i + 1
                continue
            j, kind = reg[0], "comment" if reg[1] else "quote"
        if code < i:
            yield code, i, depth, "code"
        if kind == "close":
            depth -= 1
        yield i, j, depth, kind
        if kind == "open":
            depth += 1
        code = k = j
    if code < n:
        yield code, n, depth, "code"


def finditer(pattern: re.Pattern, sql: str, pos: int = 0) -> Iterator[tuple[re.Match, int]]:
    """(match, depth) for each match of `pattern` in sql[pos:] that
    starts in code, depth as `walk` reports it there."""
    units = walk(sql, pos)
    unit = None
    for m in pattern.finditer(sql, pos):
        while unit is None or unit[1] <= m.start():
            unit = next(units, None)
            if unit is None:
                return
        if unit[3] not in ("quote", "comment"):
            yield m, unit[2]


def search(pattern: re.Pattern, sql: str, pos: int = 0) -> re.Match | None:
    """The first match of `pattern` in sql[pos:] that starts in code."""
    return next((m for m, _ in finditer(pattern, sql, pos)), None)


def close_paren(sql: str, i: int) -> int | None:
    """Index of the bracket closing the one at sql[i]; None if unclosed."""
    for j, _, depth, kind in walk(sql, i):
        if kind == "close" and depth == 0:
            return j
    return None


def split_top(text: str, sep: str = ",") -> list[str]:
    """Split `text` at each case-insensitive occurrence of `sep` in code
    and outside every bracket. A separator that begins or ends with a
    word character (AND, FROM, " AND ") splits only where its neighbour
    there is not an identifier character, so `p_and_l` never splits at
    `and`. The pieces keep their whitespace: sep.join(pieces) == text."""
    pat = re.escape(sep)
    if re.match(r"\w", sep):
        pat = r"(?<!\w)" + pat
    if re.search(r"\w$", sep):
        pat += r"(?!\w)"
    out, last = [], 0
    for m, depth in finditer(re.compile(pat, re.IGNORECASE), text):
        if depth <= 0:
            out.append(text[last : m.start()])
            last = m.end()
    out.append(text[last:])
    return out


def outside_regions(sql: str, fn: Callable[[str], str]) -> str:
    """Apply `fn` (str → str) to each stretch of code between regions;
    regions pass through verbatim."""
    out: list[str] = []
    code = None
    for i, j, _, kind in walk(sql):
        if kind in ("quote", "comment"):
            if code is not None:
                out.append(fn(sql[code:i]))
                code = None
            out.append(sql[i:j])
        elif code is None:
            code = i
    if code is not None:
        out.append(fn(sql[code:]))
    return "".join(out)
