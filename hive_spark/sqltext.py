"""SQL-text scanning for the HiveQL front end: one lexical rule.

The front end rewrites statement text before Spark parses it, so it keeps
asking where a bracket closes and whether a comma or keyword sits outside
strings and comments. `_skip_noncode` is the one answer to the second
question: '...' and "..." strings (backslash and doubled-quote escapes),
backticked names, -- line comments and /* */ comments. `code_positions`
walks a text with it and yields every code index with its bracket depth;
the helpers below are built on that walk:

- `close_bracket` / `open_bracket`: the partner of a bracket;
- `split_top`: split on top-level commas;
- `top_level_spans`: pattern matches outside brackets;
- `code_matches`: pattern matches that start in code, with their depth;
- `rewrite_calls`: replace each ``name(args)`` call.

Statement splitting (hqlscript.split_statements) follows the CLI's own
rules instead (``#`` comment lines, for one), so it does not use these.
"""

from __future__ import annotations

import re


def _skip_noncode(text: str, i: int) -> int:
    """If text[i] starts a string/quoted identifier/comment, return the
    index one past its end; else return i."""
    c = text[i]
    n = len(text)
    if c == "'" or c == '"' or c == "`":
        j = i + 1
        while j < n:
            if c != "`" and text[j] == "\\" and j + 1 < n:
                j += 2  # backslash escape (HiveQL string literals)
                continue
            if text[j] == c:
                if c == "'" and j + 1 < n and text[j + 1] == "'":
                    j += 2  # '' escape
                    continue
                return j + 1
            j += 1
        return n
    if c == "-" and text[i : i + 2] == "--":
        j = text.find("\n", i)
        return n if j < 0 else j + 1
    if c == "/" and text[i : i + 2] == "/*":
        j = text.find("*/", i + 2)
        return n if j < 0 else j + 2
    return i


def code_positions(text: str, start: int = 0, pairs: str = "()"):
    """Yield (index, depth) for each character of text[start:] outside
    strings and comments. `pairs` lists the bracket pairs, opener first
    ("()<>" for type lists); depth counts the brackets opened since
    `start`, and a bracket gets the depth outside it, as its partner
    does. A close with no opener after `start` yields depth -1."""
    opens, closes = pairs[0::2], pairs[1::2]
    depth = 0
    i, n = start, len(text)
    while i < n:
        j = _skip_noncode(text, i)
        if j != i:
            i = j
            continue
        c = text[i]
        if c in closes:
            depth -= 1
        yield i, depth
        if c in opens:
            depth += 1
        i += 1


def close_bracket(text: str, i: int) -> int:
    """Index of the bracket closing the '(' (or the type list's '<') at
    text[i]; ValueError when none closes it."""
    pairs = "()<>" if text[i] == "<" else "()"
    for j, depth in code_positions(text, i, pairs):
        if depth == 0 and j > i:
            return j
    raise ValueError(f"unbalanced parens in {text[i:i + 60]!r}")


def open_bracket(text: str, j: int) -> int | None:
    """Index of the '(' that the ')' at text[j] closes, read forwards
    from the start of text; None when text[j] is inside a string or
    comment or closes nothing."""
    opened: dict[int, int] = {}  # depth -> index of the last '(' there
    for k, depth in code_positions(text[: j + 1]):
        if text[k] == "(":
            opened[depth] = k
        elif k == j and text[k] == ")":
            return opened.get(depth)
    return None


def split_top(text: str, pairs: str = "()") -> list[str]:
    """Split text on the commas outside brackets, strings and comments;
    each piece stripped. Type lists pass pairs="()<>" so that
    array<struct<a:int,b:string>> stays whole."""
    out, start = [], 0
    for i, depth in code_positions(text, 0, pairs):
        if depth == 0 and text[i] == ",":
            out.append(text[start:i].strip())
            start = i + 1
    if start < len(text):
        out.append(text[start:].strip())
    return out


def code_matches(pattern: re.Pattern, text: str):
    """Yield (match, bracket depth at its start) for each match of the
    compiled `pattern` in text that starts outside strings and comments,
    left to right and not overlapping. The regex finds the candidates,
    so text without one is not walked."""
    walk = code_positions(text)
    at, depth, pos = -1, 0, 0  # the walk's last code index and depth
    while (m := pattern.search(text, pos)) is not None:
        while at < m.start():
            at, depth = next(walk, (len(text), 0))
        if at == m.start():
            yield m, depth
            pos = max(m.end(), m.start() + 1)
        else:
            pos = m.start() + 1


def top_level_spans(text: str, pattern: str) -> list[tuple[int, int]]:
    """(start, end) of each match of `pattern` (case-insensitive) that
    starts outside brackets, strings and comments."""
    return [
        m.span()
        for m, depth in code_matches(re.compile(pattern, re.I), text)
        if depth == 0
    ]


def _names_a_table(prefix: str) -> bool:
    """The text before `name(` makes it a table name followed by a
    column list (qtests name tables after the function under test:
    `create table datetime_legacy_hybrid_calendar(dt date, ...)`)."""
    prefix = prefix.rstrip()
    return bool(
        re.search(r"(?i)\b(table|exists|into|describe|desc)$", prefix)
        or (
            re.search(r"(?i)\bview$", prefix)
            and not re.search(r"(?i)\blateral\s+view$", prefix)
        )
        or prefix.endswith(".")
    )


def rewrite_calls(stmt: str, name: str, build, guard_tables=False) -> str:
    """Replace every `name(args)` call (`name` is a regex matched
    case-insensitively at a word start) with build(args), args split by
    `split_top`; build returns None to leave that call as written. Calls
    nested in the arguments are rewritten first; the replacement text
    is not scanned again. A `name(` inside a string or comment is not a
    call. guard_tables skips call-shaped text that is really a table
    name followed by a column list."""
    pat = re.compile(rf"(?i)\b{name}\s*\(")
    out, pos = [], 0
    for m, _ in code_matches(pat, stmt):
        if m.start() < pos:
            continue  # inside a call already rewritten
        if guard_tables and _names_a_table(stmt[: m.start()]):
            continue
        close = close_bracket(stmt, m.end() - 1)
        inner = rewrite_calls(stmt[m.end() : close], name, build, guard_tables)
        rep = build(split_top(inner))
        if rep is None:
            rep = stmt[m.start() : m.end()] + inner + ")"
        out += [stmt[pos : m.start()], rep]
        pos = close + 1
    out.append(stmt[pos:])
    return "".join(out)
