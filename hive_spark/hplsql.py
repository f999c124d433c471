"""HPL/SQL subset: procedural scripting over the engine.

Hive ships a PL/SQL-style procedural language (ref: hplsql/src/main/java/
org/apache/hive/hplsql/Exec.java:96 — the ANTLR-visitor interpreter;
grammar hplsql/src/main/antlr4/.../Hplsql.g4). This module interprets the
working-ETL core of that language directly over the engine:

- ``DECLARE name [type] [:= expr]`` / ``SET name := expr``
- ``IF cond THEN ... [ELSIF cond THEN ...] [ELSE ...] END IF``
- ``WHILE cond LOOP ... END LOOP``
- ``FOR rec IN (SELECT ...) LOOP ... END LOOP`` (row variable ``rec.col``)
- ``DECLARE c CURSOR [(params)] FOR SELECT ...`` + ``OPEN c[(args)]`` /
  ``FETCH c INTO v1, v2`` / ``CLOSE c`` — parameterized cursors; an
  exhausted FETCH sets ``SQLCODE = 100`` and fires NOT FOUND when a
  handler is declared (the canonical done-flag fetch loop). Outer state
  enters through parameters only (blanket substitution would rewrite
  matching column aliases).
- ``PRINT expr``
- ``DECLARE [EXIT|CONTINUE] HANDLER FOR SQLEXCEPTION|NOT FOUND|<cond>``
  (ref: Exec.java visitDeclare_handler_item + Signal.java) — a failing
  SQL statement or a raised signal runs the innermost matching handler;
  EXIT unwinds the script, CONTINUE resumes after the failed statement.
  ``SQLCODE``/``ERRORMSG`` variables carry the error into the handler.
- ``DECLARE <name> CONDITION`` + ``SIGNAL <name> ['msg']`` / ``RAISE``
  (user-defined conditions; RAISE = signal a generic SQLEXCEPTION)
- ``CREATE [OR REPLACE] PROCEDURE name(params) BEGIN ... END`` — the
  body persists as warehouse metadata
  (``<spark.sql.warehouse.dir>/_hpl_procedures/<name>.json``), so a NEW
  interpreter/Engine instance can ``CALL name(args)`` later (Hive keeps
  procedures in the metastore the same way). ``DROP PROCEDURE name``.
- ``CREATE [OR REPLACE] PACKAGE name AS <var decls + PROCEDUREs> END``
  and ``CREATE PACKAGE BODY name AS ... END`` (merges procedures into
  the spec) — ref: Exec.java:96 packCallStack / Package.java. The
  package DEFINITION persists next to procedures
  (``_hpl_packages/<name>.json``); package VARIABLE STATE is
  session-scoped (as in Hive), lazily initialized from the declared
  defaults, readable anywhere as ``pkg.var``, and mutated by package
  procedures (``CALL pkg.proc(args)``) whose bodies see the package
  variables as bare names. ``DROP PACKAGE name``.
- every other statement runs through `hqlscript` (so HiveQL rewrites —
  macros, ds_*, time travel — apply inside procedures too)

Variables substitute as SQL literals at word boundaries before execution
(HPL/SQL semantics: untyped-ish, late-bound text substitution — Exec.java
resolves identifiers against its variable scope the same way).

Out of scope (documented): handler scoping narrower than the script
(handlers declared anywhere guard every later statement). RESIGNAL and
GET DIAGNOSTICS are implemented (see below; tests/test_hplsql.py), as
is CREATE PACKAGE [BODY] with session package state. The subset is the
part used by batch ETL control flow.

Scale note: control flow runs on the driver; every SQL statement inside
is a full distributed query. A WHILE loop over micro-batches is the
driver-side orchestration pattern (bounded by `max_loop_iters`).
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from hive_spark.hqlscript import rewrite_statement, split_statements
from hive_spark.sqltext import close_bracket, split_top

_DECLARE = re.compile(
    r"^\s*DECLARE\s+(\w+)(?:\s+(?!:=)[A-Za-z0-9_()]+)?\s*(?::=\s*(.*))?$",
    re.I | re.S,
)
_SET = re.compile(r"^\s*SET\s+(\w+)\s*:?=\s*(.*)$", re.I | re.S)
_PRINT = re.compile(r"^\s*PRINT\s+(.*)$", re.I | re.S)
_IF = re.compile(r"^\s*IF\s", re.I)
_WHILE = re.compile(r"^\s*WHILE\s", re.I)
_FOR = re.compile(r"^\s*FOR\s+(\w+)\s+IN\s*\((.*)\)\s*LOOP\b(.*)$", re.I | re.S)
_HANDLER = re.compile(
    r"^\s*DECLARE\s+(EXIT|CONTINUE)\s+HANDLER\s+FOR\s+"
    r"(SQLEXCEPTION|NOT\s+FOUND|\w+)\s+(.*)$",
    re.I | re.S,
)
_CONDITION = re.compile(r"^\s*DECLARE\s+(\w+)\s+CONDITION\s*$", re.I)
_SIGNAL = re.compile(r"^\s*SIGNAL\s+(\w+)\s*(?:,?\s*'([^']*)')?\s*$", re.I)
_RAISE = re.compile(r"^\s*RAISE\s*(?:'([^']*)')?\s*$", re.I)
_RESIGNAL = re.compile(r"^\s*RESIGNAL\s*(\w+)?\s*(?:,?\s*'([^']*)')?\s*$", re.I)
_GET_DIAG = re.compile(
    r"^\s*GET\s+DIAGNOSTICS\s+(?:EXCEPTION\s+1\s+)?(\w+)\s*=\s*"
    r"(MESSAGE_TEXT|CONDITION_IDENTIFIER|ROW_COUNT)\s*$",
    re.I,
)
_DECLARE_CURSOR = re.compile(
    r"^\s*DECLARE\s+(\w+)\s+CURSOR\s*(?:\(([^)]*)\))?\s+FOR\s+(.*)$",
    re.I | re.S,
)
_OPEN = re.compile(r"^\s*OPEN\s+(\w+)\s*(?:\((.*)\))?\s*$", re.I | re.S)
_FETCH = re.compile(r"^\s*FETCH\s+(\w+)\s+INTO\s+(.*)$", re.I | re.S)
_CLOSE = re.compile(r"^\s*CLOSE\s+(\w+)\s*$", re.I)
_CREATE_PROC = re.compile(
    r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?PROCEDURE\s+(\w+)\s*"
    r"(?:\(([^)]*)\))?\s*(?:AS|IS)?\s*BEGIN\b(.*)\bEND\s*$",
    re.I | re.S,
)
_DROP_PROC = re.compile(r"^\s*DROP\s+PROCEDURE\s+(?:IF\s+EXISTS\s+)?(\w+)\s*$", re.I)
_CALL = re.compile(r"^\s*(?:CALL|EXEC)\s+(\w+)\s*(?:\((.*)\))?\s*$", re.I | re.S)
_CREATE_FUNC = re.compile(
    r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?FUNCTION\s+(\w+)\s*"
    r"(?:\(([^)]*)\))?\s*"
    r"(?:RETURNS?\s+\w+(?:\(\d+(?:\s*,\s*\d+)?\))?\s*)?"
    r"(?:AS|IS)?\s*BEGIN\b(.*)\bEND\s*$",
    re.I | re.S,
)
_DROP_FUNC = re.compile(r"^\s*DROP\s+FUNCTION\s+(?:IF\s+EXISTS\s+)?(\w+)\s*$", re.I)
_RETURN = re.compile(r"^\s*RETURN\b\s*(.*)$", re.I | re.S)
_FN_CALL = re.compile(r"\b(\w+)(?:\s*\.\s*(\w+))?\s*\(")
_CREATE_PKG = re.compile(
    r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?PACKAGE\s+(BODY\s+)?(\w+)\s*"
    r"(?:AS|IS)\b(.*)\bEND\s*$",
    re.I | re.S,
)
_DROP_PKG = re.compile(r"^\s*DROP\s+PACKAGE\s+(?:IF\s+EXISTS\s+)?(\w+)\s*$", re.I)
_PKG_CALL = re.compile(
    r"^\s*(?:CALL|EXEC)\s+(\w+)\.(\w+)\s*(?:\((.*)\))?\s*$", re.I | re.S
)
_PKG_PROC = re.compile(
    r"^\s*(PROCEDURE|FUNCTION)\s+(\w+)\s*(?:\(([^)]*)\))?"
    r"\s*(?:RETURNS?\s+\w+(?:\(\d+(?:\s*,\s*\d+)?\))?\s*)?"
    r"(?:AS|IS)?\s*BEGIN\b(.*)$",
    re.I | re.S,
)
_PKG_VAR = re.compile(
    r"^\s*(?:DECLARE\s+)?(\w+)\s+\w+(?:\(\d+(?:\s*,\s*\d+)?\))?"
    r"\s*(?::=\s*(.*))?$",
    re.I | re.S,
)
_PKG_REF = re.compile(r"\b(\w+)\.(\w+)\b")


class HplSignal(Exception):
    """A raised HPL/SQL condition (SIGNAL/RAISE, ref: Signal.java)."""

    def __init__(self, condition: str, message: str = ""):
        super().__init__(message or condition)
        self.condition = condition
        self.message = message


class _ExitScript(Exception):
    """Internal: an EXIT handler ran — unwind the whole script."""


class _HplReturn(Exception):
    """Internal: RETURN executed — carries the function's value up."""

    def __init__(self, value):
        super().__init__()
        self.value = value


@dataclass
class _Handler:
    mode: str  # "exit" | "continue"
    condition: str  # "sqlexception" | "not found" | user condition name
    body: str


@dataclass
class HplResult:
    printed: list[str] = field(default_factory=list)
    variables: dict[str, object] = field(default_factory=dict)
    statements_run: int = 0
    handled_errors: list[str] = field(default_factory=list)


class HplInterpreter:
    def __init__(self, spark: SparkSession, max_loop_iters: int = 10_000):
        from hive_spark.operators import ensure_engine

        ensure_engine(spark)
        self.spark = spark
        self.max_loop_iters = max_loop_iters
        self.res = HplResult()
        self.handlers: list[_Handler] = []
        self.conditions: set[str] = set()
        # cursors: declaration (params + query) and open state (buffered
        # rows + position). HPL/SQL cursors are client-side row loops by
        # nature (Exec.java fetches from the running query the same way);
        # use them for control flow, not bulk data movement.
        self.cursors: dict[str, dict] = {}
        self.open_cursors: dict[str, dict] = {}
        # package variable state, session-scoped like Hive HPL/SQL's
        # (ref: hplsql/.../Exec.java:96 packCallStack; package DEFINITION
        # persists in warehouse metadata, package STATE does not)
        self.pkg_state: dict[str, dict[str, object]] = {}
        # diagnostics area (GET DIAGNOSTICS / RESIGNAL): the condition
        # currently being handled, and the last statement's row count
        self.current_condition: tuple[str, str] | None = None
        self.last_row_count: int = 0

    # -- procedure persistence (warehouse metadata) -------------------------

    def _proc_dir(self) -> str:
        wh = self.spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        d = os.path.join(wh, "_hpl_procedures")
        os.makedirs(d, exist_ok=True)
        return d

    def _find_proc(self, name: str) -> dict | None:
        path = os.path.join(self._proc_dir(), f"{name.lower()}.json")
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return json.load(f)

    def _create_proc(self, name: str, params_str: str | None, body: str) -> None:
        params = [
            t.strip().split()[0]
            for t in (params_str or "").split(",")
            if t.strip()
        ]
        path = os.path.join(self._proc_dir(), f"{name.lower()}.json")
        with open(path, "w") as f:
            json.dump({"name": name.lower(), "params": params, "body": body}, f)

    def _exec_call(self, name: str, argstr: str) -> None:
        proc = self._find_proc(name)
        args = split_top(argstr) if argstr.strip() else []
        vals = [self._eval(a) for a in args]
        if len(vals) != len(proc["params"]):
            raise HplSignal(
                "sqlexception",
                f"procedure {name} expects {len(proc['params'])} args, "
                f"got {len(vals)}",
            )
        saved = dict(self.res.variables)
        self.res.variables.update(
            {p.lower(): v for p, v in zip(proc["params"], vals)}
        )
        try:
            for s in self._group_blocks(split_statements(proc["body"])):
                if s.strip():
                    self._exec_guarded(s)
        finally:
            self.res.variables = saved

    # -- functions (CREATE FUNCTION, calls inside expressions) --------------
    # ref: hplsql/.../Exec.java:96 visitCreate_function_stmt + Function.java
    # execUser — Hive resolves user function calls inside any expression
    # against its function map; this mirrors that for _eval-ed expressions
    # (SET/PRINT/IF/WHILE/DECLARE/RETURN and call arguments).

    def _func_dir(self) -> str:
        wh = self.spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        d = os.path.join(wh, "_hpl_functions")
        os.makedirs(d, exist_ok=True)
        return d

    def _create_func(self, name: str, params_str: str | None, body: str) -> None:
        params = [
            t.strip().split()[0]
            for t in (params_str or "").split(",")
            if t.strip()
        ]
        path = os.path.join(self._func_dir(), f"{name.lower()}.json")
        with open(path, "w") as f:
            json.dump({"name": name.lower(), "params": params, "body": body}, f)

    def _find_function(self, pkg_name: str | None, name: str) -> dict | None:
        if pkg_name is not None:
            pkg = self._find_pkg(pkg_name)
            return (pkg or {}).get("funcs", {}).get(name.lower())
        path = os.path.join(self._func_dir(), f"{name.lower()}.json")
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return json.load(f)

    def _call_function(self, pkg_name: str | None, name: str, fn: dict,
                       vals: list):
        """Run the function body in a child scope; RETURN carries the
        value out. Package functions see package variables as bare names
        and their mutations persist (same contract as package procs)."""
        if len(vals) != len(fn["params"]):
            raise HplSignal(
                "sqlexception",
                f"function {name} expects {len(fn['params'])} args,"
                f" got {len(vals)}",
            )
        state = self._ensure_pkg_state(pkg_name) if pkg_name else None
        saved = dict(self.res.variables)
        if state:
            self.res.variables.update(state)
        self.res.variables.update(
            {p.lower(): v for p, v in zip(fn["params"], vals)}
        )
        try:
            for s in self._group_blocks(split_statements(fn["body"])):
                if s.strip():
                    self._exec_guarded(s)
            return None  # fell off the end without RETURN
        except _HplReturn as r:
            return r.value
        finally:
            if state is not None:
                for var in state:
                    state[var] = self.res.variables.get(var, state[var])
            self.res.variables = saved

    def _resolve_fn_calls(self, text: str) -> str:
        """Replace HPL/SQL function calls — f(args) and pkg.f(args) — in
        an expression with their evaluated literal results, innermost-
        first (argument expressions go back through _eval, which resolves
        nested calls). Only KNOWN function names resolve; SQL built-ins
        and table.column references pass through untouched."""
        pos = 0
        while True:
            m = _FN_CALL.search(text, pos)
            if not m:
                return text
            pkg_name, fn_name = (
                (m.group(1), m.group(2)) if m.group(2) else (None, m.group(1))
            )
            fn = self._find_function(pkg_name, fn_name)
            if fn is None:
                pos = m.end()
                continue
            close = close_bracket(text, m.end() - 1)
            argstr = text[m.end():close]
            args = split_top(argstr) if argstr.strip() else []
            vals = [self._eval(a) for a in args]
            lit = self._lit(self._call_function(pkg_name, fn_name, fn, vals))
            text = text[:m.start()] + lit + text[close + 1:]
            pos = m.start() + len(lit)

    # -- packages (CREATE PACKAGE [BODY], pkg.proc calls, pkg.var refs) -----

    def _pkg_dir(self) -> str:
        wh = self.spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        d = os.path.join(wh, "_hpl_packages")
        os.makedirs(d, exist_ok=True)
        return d

    def _find_pkg(self, name: str) -> dict | None:
        path = os.path.join(self._pkg_dir(), f"{name.lower()}.json")
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return json.load(f)

    def _create_pkg(self, name: str, body: str, is_body: bool) -> None:
        """Parse a package block into variable declarations + procedure
        definitions. CREATE PACKAGE BODY merges into the existing spec
        (procedures add/override, variables keep their declarations)."""
        pkg = (self._find_pkg(name) if is_body else None) or {
            "name": name.lower(),
            "vars": [],
            "procs": {},
            "funcs": {},
        }
        stmts = split_statements(body)
        i = 0
        while i < len(stmts):
            s = stmts[i]
            if not s.strip():
                i += 1
                continue
            m = _PKG_PROC.match(s)
            if m:
                # accumulate statements until the BEGIN..END balance of
                # the procedure closes (same bookkeeping as script-level
                # CREATE PROCEDURE grouping)
                block = [s]
                depth = self._delta_proc(s)
                while depth > 0:
                    i += 1
                    if i >= len(stmts):
                        raise ValueError(
                            f"unterminated PROCEDURE in package {name}"
                        )
                    block.append(stmts[i])
                    depth += self._delta_proc(stmts[i])
                text = ";\n".join(block)
                m2 = re.match(
                    r"^\s*(PROCEDURE|FUNCTION)\s+(\w+)\s*(?:\(([^)]*)\))?"
                    r"\s*(?:RETURNS?\s+\w+(?:\(\d+(?:\s*,\s*\d+)?\))?\s*)?"
                    r"(?:AS|IS)?\s*BEGIN\b(.*)\bEND\s*$",
                    text,
                    re.I | re.S,
                )
                params = [
                    t.strip().split()[0]
                    for t in (m2.group(3) or "").split(",")
                    if t.strip()
                ]
                bucket = (
                    "funcs" if m2.group(1).upper() == "FUNCTION" else "procs"
                )
                pkg.setdefault(bucket, {})[m2.group(2).lower()] = {
                    "params": params,
                    "body": m2.group(4),
                }
                i += 1
                continue
            m = _PKG_VAR.match(s)
            if m and not is_body:
                pkg["vars"] = [
                    v for v in pkg["vars"] if v[0] != m.group(1).lower()
                ] + [[m.group(1).lower(), m.group(2)]]
            i += 1
        path = os.path.join(self._pkg_dir(), f"{name.lower()}.json")
        with open(path, "w") as f:
            json.dump(pkg, f)
        self.pkg_state.pop(name.lower(), None)  # re-init on next touch

    def _ensure_pkg_state(self, name: str) -> dict | None:
        """Lazy session-init of a package's variables from their
        declared defaults; returns the live state dict or None."""
        key = name.lower()
        if key in self.pkg_state:
            return self.pkg_state[key]
        pkg = self._find_pkg(key)
        if pkg is None:
            return None
        state = {
            var: (self._eval(init) if init else None)
            for var, init in pkg["vars"]
        }
        self.pkg_state[key] = state
        return state

    def _exec_pkg_call(self, pkg_name: str, proc_name: str, argstr: str) -> None:
        pkg = self._find_pkg(pkg_name)
        proc = (pkg or {}).get("procs", {}).get(proc_name.lower())
        if proc is None:
            raise HplSignal(
                "sqlexception", f"unknown procedure {pkg_name}.{proc_name}"
            )
        state = self._ensure_pkg_state(pkg_name)
        args = split_top(argstr) if argstr.strip() else []
        vals = [self._eval(a) for a in args]
        if len(vals) != len(proc["params"]):
            raise HplSignal(
                "sqlexception",
                f"procedure {pkg_name}.{proc_name} expects "
                f"{len(proc['params'])} args, got {len(vals)}",
            )
        # package vars are in scope as bare names inside the body; their
        # post-call values flow back into the package state
        saved = dict(self.res.variables)
        self.res.variables.update(state)
        self.res.variables.update(
            {p.lower(): v for p, v in zip(proc["params"], vals)}
        )
        try:
            for s in self._group_blocks(split_statements(proc["body"])):
                if s.strip():
                    self._exec_guarded(s)
            for var in state:
                state[var] = self.res.variables.get(var, state[var])
        finally:
            self.res.variables = saved

    # -- expression layer ---------------------------------------------------

    def _lit(self, v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        return repr(v)

    def _substitute(self, text: str) -> str:
        # pkg.var references first (the dotted form would otherwise be
        # split by the bare-name pass); only tokens whose qualifier IS a
        # known package substitute — table.column references pass through
        def pkg_ref(m: re.Match) -> str:
            state = self._ensure_pkg_state(m.group(1))
            if state is not None and m.group(2).lower() in state:
                return self._lit(state[m.group(2).lower()])
            return m.group(0)

        text = _PKG_REF.sub(pkg_ref, text)
        for name, val in self.res.variables.items():
            text = re.sub(rf"\b{re.escape(name)}\b", self._lit(val), text, flags=re.I)
        return text

    def _eval(self, expr: str):
        expr = self._resolve_fn_calls(expr)
        row = self.spark.sql(f"SELECT ({self._substitute(expr)}) AS v").collect()[0]
        return row.v

    def _eval_bool(self, cond: str) -> bool:
        cond = self._resolve_fn_calls(cond)
        return bool(
            self.spark.sql(
                f"SELECT CAST(({self._substitute(cond)}) AS BOOLEAN) AS v"
            ).collect()[0].v
        )

    # -- block parsing ------------------------------------------------------

    @staticmethod
    def _delta_proc(s: str) -> int:
        # BEGIN...END balance; CASE...END pairs inside SQL cancel out,
        # END IF / END LOOP belong to the inner block grammar; keyword
        # counting must not see into string literals
        s = re.sub(r"'[^']*'", "''", s)
        opens = len(re.findall(r"\bBEGIN\b", s, re.I)) + len(
            re.findall(r"\bCASE\b", s, re.I)
        )
        closes = len(re.findall(r"\bEND\b(?!\s+(?:IF|LOOP)\b)", s, re.I))
        return opens - closes

    @staticmethod
    def _group_blocks(stmts: list[str]) -> list[str]:
        """Re-join IF/LOOP blocks that statement-splitting broke apart:
        a block opener accumulates until its nesting-balanced END IF /
        END LOOP."""
        def bare(s: str) -> str:
            # keyword counting must not see into string literals
            # ('end', 'if x then y' as data would corrupt the balance)
            return re.sub(r"'[^']*'", "''", s)

        def delta(s: str, kw: str) -> int:
            # net open count: each `END <kw>` text also contains one bare
            # `<kw>` token, so true opens = #kw - #end_kw and delta =
            # opens - closes = #kw - 2 * #end_kw
            s = bare(s)
            n_kw = len(re.findall(rf"\b{kw}\b", s, re.I))
            n_end = len(re.findall(rf"\bEND\s+{kw}\b", s, re.I))
            return n_kw - 2 * n_end

        delta_proc = HplInterpreter._delta_proc

        out: list[str] = []
        i = 0
        while i < len(stmts):
            s = stmts[i]
            is_proc = re.match(
                r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:PROCEDURE|FUNCTION)\b",
                s, re.I,
            )
            is_pkg = re.match(
                r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?PACKAGE\b", s, re.I
            )
            if is_proc or is_pkg:
                block = [s]
                # a package's `AS ... END` bracket is one extra open that
                # its own header doesn't count (no BEGIN keyword)
                depth = delta_proc(s) + (1 if is_pkg else 0)
                while depth > 0:
                    i += 1
                    if i >= len(stmts):
                        raise ValueError(
                            f"unterminated block: {block[0][:60]!r}"
                        )
                    block.append(stmts[i])
                    depth += delta_proc(stmts[i])
                out.append(";\n".join(block))
                i += 1
                continue
            kw = None
            if _IF.match(s):
                kw = "IF"
            elif _WHILE.match(s) or re.match(r"^\s*FOR\s", s, re.I):
                kw = "LOOP"
            if kw is None:
                out.append(s)
                i += 1
                continue
            block = [s]
            depth = delta(s, kw)
            while depth > 0:
                i += 1
                if i >= len(stmts):
                    raise ValueError(f"unterminated block: {block[0][:60]!r}")
                block.append(stmts[i])
                depth += delta(stmts[i], kw)
            out.append(";\n".join(block))
            i += 1
        return out

    # -- statement dispatch -------------------------------------------------

    def run(self, text: str) -> HplResult:
        try:
            for stmt in self._group_blocks(split_statements(text)):
                self._exec_guarded(stmt)
        except _ExitScript:
            pass
        except _HplReturn:
            pass  # script-level RETURN ends the script (Exec.java)
        return self.res

    # -- exception-handler machinery (Exec.java/Signal.java analog) ---------

    def _exec_guarded(self, stmt: str) -> None:
        """Run one statement under the declared handlers: SQL errors map
        to SQLEXCEPTION, SIGNAL/RAISE carry their condition name."""
        try:
            self._exec_stmt(stmt)
        except (_ExitScript, _HplReturn, KeyboardInterrupt):
            raise
        except HplSignal as e:
            self._dispatch(e.condition, e.message or e.condition, e)
        except Exception as e:
            self._dispatch("sqlexception", str(e), e)

    def _dispatch(self, condition: str, msg: str, exc: Exception) -> None:
        cond = re.sub(r"\s+", " ", condition).strip().lower()
        # innermost-declared first; exact condition match, then the
        # catch-all SQLEXCEPTION (a user SIGNAL falls back to it, the
        # MySQL/HPL-SQL convention for unmatched conditions)
        for want in ([cond] if cond == "sqlexception" else [cond, "sqlexception"]):
            for h in reversed(self.handlers):
                if h.condition != want:
                    continue
                # SQLCODE contract: 100 = no-more-rows, -1 = error
                self.res.variables["sqlcode"] = 100 if cond == "not found" else -1
                self.res.variables["errormsg"] = msg
                self.res.handled_errors.append(msg)
                prev = self.current_condition
                self.current_condition = (cond, msg)
                try:
                    for s in self._group_blocks(split_statements(h.body)):
                        if s.strip():
                            self._exec_stmt(s)
                finally:
                    self.current_condition = prev
                if h.mode == "exit":
                    raise _ExitScript()
                return
        raise exc

    # -- cursors (DECLARE ... CURSOR (params) FOR / OPEN / FETCH / CLOSE) ---

    def _open_cursor(self, name: str, argstr: str | None) -> None:
        cur = self.cursors.get(name.lower())
        if cur is None:
            raise ValueError(f"OPEN of undeclared cursor {name!r}")
        args = split_top(argstr) if argstr and argstr.strip() else []
        vals = [self._eval(a) for a in args]
        if len(vals) != len(cur["params"]):
            raise HplSignal(
                "sqlexception",
                f"cursor {name} expects {len(cur['params'])} args, got {len(vals)}",
            )
        # ONLY declared parameters bind into the cursor query — blanket
        # variable substitution would also rewrite matching column
        # aliases (`SELECT COUNT(*) AS n` with a session variable `n`).
        # Outer state goes in through parameters: OPEN c(expr) evaluates
        # expr against the variable scope.
        q = cur["query"]
        for p, v in zip(cur["params"], vals):
            q = re.sub(rf"\b{re.escape(p)}\b", self._lit(v), q, flags=re.I)
        rows = self.spark.sql(rewrite_statement(self.spark, q)).collect()
        self.open_cursors[name.lower()] = {"rows": rows, "pos": 0}

    def _fetch_cursor(self, name: str, into: str) -> None:
        state = self.open_cursors.get(name.lower())
        if state is None:
            raise ValueError(f"FETCH from cursor {name!r} which is not open")
        targets = [t.strip().lower() for t in into.split(",")]
        if state["pos"] >= len(state["rows"]):
            # exhausted: SQLCODE=100 + NOT FOUND (Exec.java semantics);
            # the signal only fires when a handler asked for it, so the
            # canonical `CONTINUE HANDLER FOR NOT FOUND SET done := 1`
            # loop works and an unhandled over-fetch is not fatal
            self.res.variables["sqlcode"] = 100
            if any(h.condition == "not found" for h in self.handlers):
                raise HplSignal("not found", f"cursor {name} exhausted")
            return
        row = state["rows"][state["pos"]]
        state["pos"] += 1
        vals = list(row)
        if len(vals) != len(targets):
            raise HplSignal(
                "sqlexception",
                f"FETCH {name}: {len(targets)} targets for {len(vals)} columns",
            )
        self.res.variables["sqlcode"] = 0
        for t, v in zip(targets, vals):
            self.res.variables[t] = v

    def _exec_stmt(self, stmt: str) -> None:
        self.res.statements_run += 1
        m = _DECLARE_CURSOR.match(stmt)
        if m:
            params = [
                t.strip().split()[0]
                for t in (m.group(2) or "").split(",")
                if t.strip()
            ]
            self.cursors[m.group(1).lower()] = {
                "params": params,
                "query": m.group(3),
            }
            return
        m = _OPEN.match(stmt)
        if m and m.group(1).lower() in self.cursors:
            self._open_cursor(m.group(1), m.group(2))
            return
        m = _FETCH.match(stmt)
        if m:
            self._fetch_cursor(m.group(1), m.group(2))
            return
        m = _CLOSE.match(stmt)
        if m and m.group(1).lower() in self.cursors:
            self.open_cursors.pop(m.group(1).lower(), None)
            return
        m = _HANDLER.match(stmt)
        if m:
            self.handlers.append(
                _Handler(
                    m.group(1).lower(),
                    re.sub(r"\s+", " ", m.group(2)).strip().lower(),
                    m.group(3),
                )
            )
            return
        m = _CONDITION.match(stmt)
        if m:
            self.conditions.add(m.group(1).lower())
            return
        m = _SIGNAL.match(stmt)
        if m:
            raise HplSignal(m.group(1).lower(), m.group(2) or "")
        m = _RAISE.match(stmt)
        if m:
            raise HplSignal("sqlexception", m.group(1) or "raised")
        m = _RESIGNAL.match(stmt)
        if m:
            # re-raise the condition being handled (optionally renamed /
            # re-messaged). With the flat script scope, the resignaled
            # condition surfaces to the caller — MySQL/HPL-SQL outer-
            # scope semantics (ref: Exec.java visitResignal_stmt)
            if m.group(1) or self.current_condition:
                cond = (m.group(1) or self.current_condition[0]).lower()
                msg = m.group(2) or (
                    self.current_condition[1] if self.current_condition else ""
                )
                raise HplSignal(cond, msg)
            raise HplSignal("sqlexception", m.group(2) or "resignal")
        m = _GET_DIAG.match(stmt)
        if m:
            what = m.group(2).upper()
            if what == "MESSAGE_TEXT":
                val: object = (
                    self.current_condition[1]
                    if self.current_condition
                    else self.res.variables.get("errormsg")
                )
            elif what == "CONDITION_IDENTIFIER":
                val = (
                    self.current_condition[0] if self.current_condition else None
                )
            else:  # ROW_COUNT
                val = self.last_row_count
            self.res.variables[m.group(1).lower()] = val
            return
        m = _CREATE_PROC.match(stmt)
        if m:
            self._create_proc(m.group(1), m.group(2), m.group(3))
            return
        m = _DROP_PROC.match(stmt)
        if m:
            path = os.path.join(self._proc_dir(), f"{m.group(1).lower()}.json")
            if os.path.exists(path):
                os.remove(path)
            return
        m = _CREATE_FUNC.match(stmt)
        if m:
            self._create_func(m.group(1), m.group(2), m.group(3))
            return
        m = _DROP_FUNC.match(stmt)
        if m:
            path = os.path.join(self._func_dir(), f"{m.group(1).lower()}.json")
            if os.path.exists(path):
                os.remove(path)
            return
        m = _RETURN.match(stmt)
        if m:
            raise _HplReturn(self._eval(m.group(1)) if m.group(1).strip()
                             else None)
        m = _CREATE_PKG.match(stmt)
        if m:
            self._create_pkg(m.group(2), m.group(3), bool(m.group(1)))
            return
        m = _DROP_PKG.match(stmt)
        if m:
            path = os.path.join(self._pkg_dir(), f"{m.group(1).lower()}.json")
            if os.path.exists(path):
                os.remove(path)
            self.pkg_state.pop(m.group(1).lower(), None)
            return
        m = _PKG_CALL.match(stmt)
        if m and self._find_pkg(m.group(1)) is not None:
            self._exec_pkg_call(m.group(1), m.group(2), m.group(3) or "")
            return
        m = _CALL.match(stmt)
        if m and self._find_proc(m.group(1)) is not None:
            self._exec_call(m.group(1), m.group(2) or "")
            return
        m = _DECLARE.match(stmt)
        if m:
            self.res.variables[m.group(1).lower()] = (
                self._eval(m.group(2)) if m.group(2) else None
            )
            return
        if _IF.match(stmt):
            self._exec_if(stmt)
            return
        if _WHILE.match(stmt):
            self._exec_while(stmt)
            return
        m = _FOR.match(stmt)
        if m:
            self._exec_for(m.group(1), m.group(2), m.group(3))
            return
        m = _PRINT.match(stmt)
        if m:
            self.res.printed.append(str(self._eval(m.group(1))))
            return
        m = _SET.match(stmt)
        # SET var := expr — but plain `SET a.b=c` conf keys (with dots)
        # fall through to hqlscript's conf handling
        if m and "." not in m.group(1):
            self.res.variables[m.group(1).lower()] = self._eval(m.group(2))
            return
        from hive_spark.hqlscript import run_script

        out = run_script(self.spark, self._substitute(stmt) + ";")
        if out.results:
            rows = out.results[-1].collect()
            self.last_row_count = len(rows)  # GET DIAGNOSTICS ROW_COUNT
            self.res.printed.extend(str(tuple(r)) for r in rows)
        else:
            self.last_row_count = 0

    def _exec_if(self, stmt: str) -> None:
        body = re.sub(r"\bEND\s+IF\s*$", "", stmt, flags=re.I)
        # split into (cond, block) arms on IF/ELSIF/ELSE at depth 0
        arms: list[tuple[str | None, str]] = []
        pat = re.compile(r"^\s*IF\s+(.*?)\s+THEN\s+(.*)$", re.I | re.S)
        m = pat.match(body)
        if not m:
            raise ValueError(f"malformed IF: {stmt[:80]!r}")
        rest = m.group(2)
        cond = m.group(1)
        # find top-level ELSIF/ELSE (not inside a nested IF...END IF)
        parts = self._split_arms(rest)
        arms.append((cond, parts[0]))
        for kind, c, blk in parts[1]:
            arms.append((c if kind == "elsif" else None, blk))
        for c, blk in arms:
            if c is None or self._eval_bool(c):
                for s in self._group_blocks(split_statements(blk)):
                    if s.strip():
                        self._exec_guarded(s)
                return

    def _split_arms(self, text: str):
        """First arm body + [(kind, cond, body), ...] — ELSIF/ELSE split at
        IF-nesting depth 0 only (nested IF blocks keep their own arms)."""
        tokens = re.split(r"(\bIF\b|\bEND\s+IF\b|\bELSIF\b|\bELSE\b)", text, flags=re.I)
        depth = 0
        parts: list[str] = []
        for tok in tokens:
            up = tok.strip().upper()
            if up == "IF":
                depth += 1
                parts.append(tok)
            elif re.fullmatch(r"END\s+IF", up):
                depth -= 1
                parts.append(tok)
            elif up == "ELSIF" and depth == 0:
                parts.append("\0ELSIF\0")
            elif up == "ELSE" and depth == 0:
                parts.append("\0ELSE\0")
            else:
                parts.append(tok)
        segments = re.split(r"\0(ELSIF|ELSE)\0", "".join(parts))
        body0 = segments[0]
        arms: list[tuple[str, str | None, str]] = []
        i = 1
        while i < len(segments):
            kind = segments[i].lower()
            blk = segments[i + 1]
            if kind == "elsif":
                m = re.match(r"^\s*(.*?)\s+THEN\s+(.*)$", blk, re.S | re.I)
                if not m:
                    raise ValueError("malformed ELSIF")
                arms.append(("elsif", m.group(1), m.group(2)))
            else:
                arms.append(("else", None, blk))
            i += 2
        return body0, [(k, c, b) for k, c, b in arms]

    def _exec_while(self, stmt: str) -> None:
        m = re.match(
            r"^\s*WHILE\s+(.*?)\s+LOOP\b(.*)$",
            re.sub(r"\bEND\s+LOOP\s*$", "", stmt, flags=re.I),
            re.I | re.S,
        )
        if not m:
            raise ValueError(f"malformed WHILE: {stmt[:80]!r}")
        cond, body = m.group(1), m.group(2)
        iters = 0
        while self._eval_bool(cond):
            iters += 1
            if iters > self.max_loop_iters:
                raise RuntimeError("WHILE exceeded max_loop_iters")
            for s in self._group_blocks(split_statements(body)):
                if s.strip():
                    self._exec_guarded(s)

    def _exec_for(self, var: str, query: str, tail: str) -> None:
        body = re.sub(r"\bEND\s+LOOP\s*$", "", tail, flags=re.I)
        rows = self.spark.sql(
            rewrite_statement(self.spark, self._substitute(query))
        ).collect()
        if not rows and any(h.condition == "not found" for h in self.handlers):
            # empty cursor fetch signals NOT FOUND (Exec.java sets the
            # same condition); fired only when a handler asked for it
            raise HplSignal("not found", "cursor returned no rows")
        for row in rows:
            # bind rec.col as variables named "<var>.<col>" — substituted
            # via a row-local pass (dots don't hit the \b var substitution)
            rowsubs = {f"{var}.{k}": v for k, v in row.asDict().items()}
            saved = dict(self.res.variables)
            for s in self._group_blocks(split_statements(body)):
                if not s.strip():
                    continue
                expanded = s
                for name, val in rowsubs.items():
                    expanded = re.sub(
                        rf"\b{re.escape(name)}\b",
                        self._lit(val),
                        expanded,
                        flags=re.I,
                    )
                self._exec_guarded(expanded)
            self.res.variables = saved


def run_hplsql(spark: SparkSession, text: str) -> HplResult:
    return HplInterpreter(spark).run(text)
