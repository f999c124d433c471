"""Automatic CTE materialization for SQL text — Hive's spool rule.

Spark recomputes a WITH-clause CTE once per reference: each reference
gets its own filters pushed into its own copy of the subtree, so
ReuseExchange almost never fires and an N-times-referenced CTE scans
its inputs N times. Hive materializes ("spools") CTEs referenced at
least `hive.optimize.cte.materialize.threshold` (default 3) times
(ref: ql/src/java/org/apache/hadoop/hive/ql/optimizer/calcite/rules/
TableScanToSpoolRule.java; threshold conf HiveConf.java:2686).

`spool_ctes(spark, text)` gives SQL-text queries the same behavior:
it scans the statement's top-level WITH clause with a quote-, comment-
and paren-aware tokenizer, counts word-boundary references to each CTE
beyond its definition, and for every CTE at or above the threshold
plans the CTE once (as its own WITH statement over the earlier
definitions), spools it (`operators.spool`: a per-query checkpoint that
no later query reads), registers a `<name>__spool` temp view, and
rewrites the remaining statement to read the view. References INSIDE
later CTE bodies count and are rewritten too, so a spooled CTE feeds
both the main body and downstream CTEs from the one spool. Under AQE
the spool runs the CTE's upstream shuffle jobs here, in the statement
that spools it.

Only plain `WITH name AS (...)` chains are handled; RECURSIVE,
column-aliased CTEs (`name (a, b) AS`), and INSERT-leading statements
pass through untouched (conservative: never rewrite what the scanner
does not fully understand).
"""

from __future__ import annotations

import re

from pyspark.sql import SparkSession

from hive_spark.operators import spool
from hive_spark.sqltext import close_bracket, code_positions

_WORD = r"[A-Za-z_][A-Za-z0-9_]*"


def _parse_with(text: str):
    """Parse a leading WITH clause; returns (ctes, rest) where ctes is
    an ordered list of (name, body_sql) and rest is the main statement
    text, or None when the statement has no spool-safe WITH chain."""
    m = re.match(r"\s*WITH\s+", text, re.IGNORECASE)
    if not m:
        return None
    i = m.end()
    ctes: list[tuple[str, str]] = []
    n = len(text)
    while True:
        m = re.match(_WORD, text[i:])
        if not m:
            return None
        name = m.group(0)
        if name.upper() == "RECURSIVE":
            return None
        i += m.end()
        m = re.match(r"\s*AS\s*\(", text[i:], re.IGNORECASE)
        if not m:
            return None  # column-aliased CTE or unexpected shape
        open_at = i + m.end() - 1
        try:
            close = close_bracket(text, open_at)
        except ValueError:
            return None  # unbalanced: the parser reports it
        ctes.append((name, text[open_at + 1 : close]))
        i = close + 1
        m = re.match(r"\s*,\s*", text[i:])
        if m:
            i += m.end()
            continue
        return ctes, text[i:]


def reorder_ctes(stmt: str) -> str:
    """Hive resolves WITH-clause names by NAME, so CTEs may reference
    siblings defined later in the chain (cte_1.q's "chaining" section);
    Spark resolves left-to-right and fails on the forward reference.
    Topologically reorder the definitions when (and only when) a forward
    reference exists — already-ordered chains, cycles, and shapes
    _parse_with can't handle are returned untouched."""
    parsed = _parse_with(stmt)
    if not parsed:
        return stmt
    ctes, rest = parsed
    names = [n.lower() for n, _ in ctes]
    if len(set(names)) != len(names):
        return stmt
    deps = {
        n.lower(): {
            m for m in names if m != n.lower() and _count_refs(m, body) > 0
        }
        for n, body in ctes
    }
    # Hive never semantically analyzes a CTE the statement doesn't use
    # (cte_1.q ends with an invalid-body UNUSED q1); Spark analyzes every
    # definition eagerly. Keep only definitions reachable from the main
    # statement so unused-invalid bodies stay as inert as Hive leaves them.
    reachable: set[str] = {
        m for m in names if _count_refs(m, rest) > 0
    }
    frontier = set(reachable)
    while frontier:
        frontier = {
            d for n in frontier for d in deps[n] if d not in reachable
        }
        reachable |= frontier
    if reachable != set(names):
        ctes = [(n, b) for n, b in ctes if n.lower() in reachable]
        names = [n.lower() for n, _ in ctes]
        if not ctes:
            return rest.lstrip()
    elif all(deps[names[i]] <= set(names[:i]) for i in range(len(names))):
        return stmt  # already ordered and fully used
    ordered: list[tuple[str, str]] = []
    placed: set[str] = set()
    pending = list(ctes)
    while pending:
        ready = [
            (n, b) for n, b in pending if deps[n.lower()] <= placed
        ]
        if not ready:
            return stmt  # cycle — let the engine report it
        for n, b in ready:
            ordered.append((n, b))
            placed.add(n.lower())
        pending = [(n, b) for n, b in pending if n.lower() not in placed]
    chain = ",\n".join(f"{n} AS ({b})" for n, b in ordered)
    return f"WITH {chain}\n{rest.lstrip()}"


def _ref_spans(name: str, sql: str) -> list[tuple[int, int]]:
    """Spans of word-boundary references to `name` in code (not
    strings/comments). A qualified `x.name` is a column, never a CTE
    (q4/q74 select `ts1.year_total` from `year_total`)."""
    pat = re.compile(rf"(?<!\.)\b{re.escape(name)}\b", re.IGNORECASE)
    return [
        m.span() for i, _ in code_positions(sql) if (m := pat.match(sql, i))
    ]


def _count_refs(name: str, sql: str) -> int:
    return len(_ref_spans(name, sql))


def _replace_refs(name: str, repl: str, sql: str) -> str:
    """Replace word-boundary code references to `name` with `repl`."""
    out, pos = [], 0
    for start, end in _ref_spans(name, sql):
        out += [sql[pos:start], repl]
        pos = end
    out.append(sql[pos:])
    return "".join(out)


def spool_ctes(spark: SparkSession, text: str, threshold: int = 3) -> str:
    """Spool >= threshold-referenced CTEs; returns the rewritten
    statement (possibly unchanged). threshold <= 0 disables."""
    if threshold <= 0:
        return text
    parsed = _parse_with(text)
    if not parsed:
        return text
    work, rest = parsed
    work = list(work)
    kept_idx: list[int] = []
    for idx in range(len(work)):
        name, body = work[idx]  # body already carries earlier rewrites
        later = "\n".join(b for _, b in work[idx + 1 :])
        refs = _count_refs(name, later) + _count_refs(name, rest)
        if refs >= threshold:
            # build the CTE as its own statement over the prior KEPT
            # chain (spooled predecessors were already substituted into
            # this body as their __spool views)
            prior = ", ".join(
                f"{work[k][0]} AS ({work[k][1]})" for k in kept_idx
            )
            cte_sql = f"WITH {prior}\n{body}" if prior else body
            view = f"{name}__spool"
            spool(spark.sql(cte_sql)).createOrReplaceTempView(view)
            # rewrite every later body and the main statement
            for k in range(idx + 1, len(work)):
                n2, b2 = work[k]
                work[k] = (n2, _replace_refs(name, view, b2))
            rest = _replace_refs(name, view, rest)
        else:
            kept_idx.append(idx)
    if len(kept_idx) == len(work):
        return text  # nothing spooled — leave the statement untouched
    if not kept_idx:
        return rest
    chain = ", ".join(f"{work[k][0]} AS ({work[k][1]})" for k in kept_idx)
    return f"WITH {chain}\n{rest}"
