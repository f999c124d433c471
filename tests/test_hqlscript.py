"""HiveQL script on-ramp: statement splitting, SET/txn/ADD mapping, and
a representative multi-statement Hive script running unmodified."""

import os
import re

import pytest

from hive_spark.hqlscript import QTEST_TMP, run_script, split_statements
from hive_spark.operators import views
from hive_spark.session import state


def test_split_respects_quotes_and_comments():
    text = """
    -- leading comment; with a semicolon
    SELECT 'a;b' AS x;    -- trailing comment
    SELECT "c;d" AS y
    """
    stmts = split_statements(text)
    assert stmts == ["SELECT 'a;b' AS x", 'SELECT "c;d" AS y']


@pytest.mark.parametrize("call", [
    "f('a\\'b)', x)",   # backslash-escaped quote inside a string
    "f('a'')', x)",     # doubled quote inside a string
    "f(`a)`, x)",       # parenthesis inside a backticked identifier
    "f(`a,b`, x)",      # comma inside a backticked identifier
    "f(a /* , */, x)",  # comma inside a comment
    "f(a /* ) */, x)",  # parenthesis inside a comment
])
def test_call_folding_skips_quoted_parens(call):
    """Call folding finds the closing parenthesis and the argument
    commas outside strings and backticked identifiers."""
    from hive_spark.sqltext import rewrite_calls

    out = rewrite_calls(f"SELECT {call} FROM t", "f", lambda a: f"g[{len(a)}]")
    assert out == "SELECT g[2] FROM t"


@pytest.mark.parametrize("stmt", [
    "SELECT f(a, b FROM t",     # no ')' at all
    "SELECT f(a, g(b)",         # the last ')' closes g, not f
    "SELECT f(a, ')' FROM t",   # the only ')' is inside a string
    "SELECT f(a, `)` FROM t",   # ... inside a backticked identifier
    "SELECT f(a /* ) */ FROM t",  # ... inside a comment
])
def test_call_folding_rejects_unbalanced_calls(stmt):
    """An unclosed call raises instead of being folded into a
    statement the user never wrote."""
    from hive_spark.sqltext import rewrite_calls

    with pytest.raises(ValueError, match="unbalanced parens"):
        rewrite_calls(stmt, "f", lambda a: "g")


class _StubSession:
    """Answers the statements _inline_values and _select_item_positions
    send to Spark: DESCRIBE t gives columns a INT and b STRING, SHOW
    CREATE TABLE fails (no defaults), and any query has three columns."""

    class _Frame:
        def __init__(self, rows, columns):
            self._rows, self.columns = rows, columns

        def collect(self):
            return self._rows

    def sql(self, text):
        if text.startswith("DESCRIBE"):
            return self._Frame([("a", "int"), ("b", "string")], [])
        if text.startswith("SHOW CREATE"):
            raise ValueError("no DDL")
        return self._Frame([], ["c0", "c1", "c2"])


class _StubHpl:
    """The HplInterpreter members _resolve_fn_calls uses: only `wrap` is
    a user function, arguments evaluate to their own text, and a call
    returns its arguments joined in brackets."""

    def _find_function(self, pkg, name):
        return {} if name == "wrap" else None

    def _eval(self, expr):
        return expr

    def _call_function(self, pkg, name, fn, vals):
        return "[" + "|".join(vals) + "]"

    def _lit(self, v):
        return f"'{v}'"


def _scanners():
    """Each scanner entry point by name, as a function of a case's args."""
    from hive_spark import hqlscript as h
    from hive_spark import sqltext
    from hive_spark.hplsql import HplInterpreter

    def show(args):
        return "g[" + "|".join(args) + "]"

    return {
        "close": lambda s: sqltext.close_bracket(s, s.index("(")),
        "open": lambda s: sqltext.open_bracket(s, s.rindex(")")),
        "scan_parens": lambda s: sqltext.close_bracket(s, s.index("(")) + 1,
        "split": sqltext.split_top,
        "split_types": lambda s: sqltext.split_top(s, "()<>"),
        "top_level_spans": sqltext.top_level_spans,
        "code_matches": lambda s, p: [
            m.start() for m, _ in sqltext.code_matches(re.compile(p), s)],
        "fold_calls": lambda s: sqltext.rewrite_calls(s, "f", show),
        "rewrite_calls": lambda s: sqltext.rewrite_calls(
            s, "f", lambda a: show(a) if len(a) == 2 else None),
        "gap_fns": h._rewrite_gap_fns,
        "union_fns": h._rewrite_union_fns,
        "kll_fns": h._rewrite_kll_fns,
        "compute_stats": h._rewrite_compute_stats,
        "uniontype": h._rewrite_uniontype,
        "distinct_orderby_alias": h._rewrite_distinct_orderby_alias,
        "ptf_noop": h._rewrite_ptf_noop,
        "orderby_window_to_ordinal": h._orderby_window_to_ordinal,
        "lateral_table_values": h._rewrite_lateral_table_values,
        "autoalias": h._autoalias_select_lists,
        "tuple_in": h._rewrite_tuple_in,
        "left_operand_start": lambda s: h._left_operand_start(
            s, s.index(" > ALL")),
        "inline_values": lambda s: h._inline_values(_StubSession(), s, None),
        "select_item_positions": lambda s: h._select_item_positions(
            _StubSession(), s),
        "resolve_fn_calls": lambda s: HplInterpreter._resolve_fn_calls(
            _StubHpl(), s),
    }


# Every SQL-text scanner entry point on plain inputs (no quotes, comments
# or backticks around brackets): (case id, entry point, arguments,
# expected result).
_SCAN_CASES = [
    ("close_nested", "close", ("f(a, (b), c) + 1",), 11),
    ("close_double", "close", ("((a)) b",), 4),
    ("scan_parens_cte", "scan_parens", ("WITH x AS (SELECT (1)) SELECT",), 22),
    ("split_nested_call", "split", ("a, f(b, c), d",), ["a", "f(b, c)", "d"]),
    ("split_empty", "split", ("",), []),
    ("split_one", "split", (" x ",), ["x"]),
    ("split_empty_item", "split", ("a,,b",), ["a", "", "b"]),
    ("split_trailing_comma", "split", ("a, b,",), ["a", "b"]),
    ("split_types_nested", "split_types",
     ("a int, b array<struct<x:int,y:string>>, c decimal(10,2)",),
     ["a int", "b array<struct<x:int,y:string>>", "c decimal(10,2)"]),
    ("split_types_map", "split_types",
     ("m map<string,int>, n int",),
     ["m map<string,int>", "n int"]),
    ("code_matches_plain", "code_matches", ("f(a) + f(b)", r"\bf\("), [0, 7]),
    ("spans_from", "top_level_spans",
     ("SELECT a FROM (SELECT b FROM t) s", r"\bFROM\b"),
     [(9, 13)]),
    ("spans_qualify", "top_level_spans",
     ("SELECT x QUALIFY f(y) > 1", r"\bQUALIFY\b"),
     [(9, 16)]),
    ("spans_insert", "top_level_spans",
     ("INSERT INTO a SELECT 1 INSERT INTO b SELECT (INSERT)", r"\bINSERT\b"),
     [(0, 6), (23, 29)]),
    ("fold_nested_arg", "fold_calls",
     ("SELECT f(a, g(b, c)) FROM t",),
     "SELECT g[a|g(b, c)] FROM t"),
    ("fold_nested_same_name", "fold_calls",
     ("SELECT f(f(x), y)",),
     "SELECT g[g[x]|y]"),
    ("fold_no_args", "fold_calls", ("SELECT f(), f (1)",), "SELECT g[], g[1]"),
    ("rewrite_two_args", "rewrite_calls",
     ("SELECT f(a, g(b)), f(c), f(d, e) FROM t",),
     "SELECT g[a|g(b)], f(c), g[d|e] FROM t"),
    ("gap_mid_index", "gap_fns",
     ("SELECT mid(s, 2, 3), index(arr, 1), index(a, 1, 2) FROM t",),
     "SELECT substr(s, 2, 3), (arr)[1], index(a, 1, 2) FROM t"),
    ("gap_table_named_like_fn", "gap_fns",
     ("CREATE TABLE mid(a int, b int)",),
     "CREATE TABLE mid(a int, b int)"),
    ("gap_table_values", "gap_fns",
     ("SELECT * FROM TABLE(VALUES (1, 2), (3, 4)) AS t(a, b)",),
     "SELECT * FROM (VALUES (1, 2), (3, 4)) AS t(a, b)"),
    ("lateral_values_plain_tuples", "lateral_table_values",
     ("SELECT * FROM t, LATERAL TABLE(VALUES (1, a), (2, b)) AS v(x, y)",),
     ("SELECT * FROM t LATERAL VIEW INLINE(ARRAY(named_struct('col1', "
      "(1), 'col2', (a)), named_struct('col1', (2), 'col2', (b)))) v AS "
      "x, y")),
    ("union_fns", "union_fns",
     (("SELECT create_union(0, a, f(b)), extract_union(u, 1), "
       "extract_union(u) FROM t"),),
     ("SELECT named_struct('tag', CAST((0) AS INT), 'field0', CASE WHEN "
      "CAST((0) AS INT) = 0 THEN a END, 'field1', CASE WHEN CAST((0) AS "
      "INT) = 1 THEN f(b) END), (u).field1, (u) FROM t")),
    ("kll_fns", "kll_fns",
     ("SELECT ds_kll_quantile(ds_kll_sketch(x), 0.5), ds_kll_n(s) FROM t",),
     ("SELECT element_at(array_sort(array_sort(collect_list(CAST((x) AS "
      "FLOAT)))), greatest(1, CAST(ceil((0.5) * "
      "size(array_sort(collect_list(CAST((x) AS FLOAT))))) AS INT))), "
      "CAST(size(s) AS BIGINT) FROM t")),
    ("compute_stats", "compute_stats",
     ("SELECT compute_stats(c, 'hll'), compute_stats(d, 'fm') FROM t",),
     ("SELECT named_struct('count', count(c), 'numnulls', sum(CASE WHEN "
      "c IS NULL THEN 1 ELSE 0 END), 'ndv', count(DISTINCT c)), "
      "named_struct('count', count(d), 'numnulls', sum(CASE WHEN d IS "
      "NULL THEN 1 ELSE 0 END), 'ndv', count(DISTINCT d)) FROM t")),
    ("uniontype", "uniontype",
     (("CREATE TABLE u (x UNIONTYPE<int, struct<a:int,b:string>, "
       "decimal(10,2)>)"),),
     ("CREATE TABLE u (x STRUCT<tag:INT, field0:int, "
      "field1:struct<a:int,b:string>, field2:decimal(10,2)>)")),
    ("distinct_orderby_alias", "distinct_orderby_alias",
     (("SELECT DISTINCT a + b AS s, f(c, d) AS g FROM t ORDER BY a + b "
       "DESC, f(c, d) LIMIT 3"),),
     ("SELECT DISTINCT a + b AS s, f(c, d) AS g FROM t ORDER BY s DESC, "
      "g LIMIT 3")),
    ("ptf_noop", "ptf_noop",
     ("SELECT * FROM noop(on t partition by a order by b) x",),
     "SELECT * FROM (SELECT * FROM t) x"),
    ("ptf_noop_subquery", "ptf_noop",
     (("SELECT * FROM noop(on (SELECT f(a, b) FROM t order by a) "
       "distribute by a) x"),),
     "SELECT * FROM (SELECT * FROM (SELECT f(a, b) FROM t order by a)) x"),
    ("orderby_window_ordinal", "orderby_window_to_ordinal",
     (("SELECT a, rank() OVER (PARTITION BY a ORDER BY b) AS r FROM t "
       "ORDER BY rank() OVER (PARTITION BY a ORDER BY b) DESC LIMIT 2"),),
     ("SELECT a, rank() OVER (PARTITION BY a ORDER BY b) AS r FROM t "
      "ORDER BY 2 DESC LIMIT 2")),
    ("lateral_table_values", "lateral_table_values",
     (("SELECT v.x FROM t, LATERAL TABLE(VALUES (1, f(2)), (3, 4)) AS "
       "v(x, y)"),),
     ("SELECT v.x FROM t LATERAL VIEW INLINE(ARRAY(named_struct('col1', "
      "(1), 'col2', (f(2))), named_struct('col1', (3), 'col2', (4)))) v "
      "AS x, y")),
    ("autoalias", "autoalias",
     (("SELECT a, b + 1, (SELECT max(c) + 1 FROM u) FROM t WHERE x IN "
       "(SELECT d + 1 FROM w)"),),
     ("SELECT a, b + 1 AS _c1 , (SELECT max(c) + 1 AS _c0 FROM u) AS "
      "_c2 FROM t WHERE x IN (SELECT d + 1 AS _c0 FROM w)")),
    ("tuple_in", "tuple_in",
     (("SELECT * FROM t WHERE (a, f(b)) IN ((1, 2), (3, 4)) AND (c, d) "
       "NOT IN ((5, 6))"),),
     ("SELECT * FROM t WHERE ((((a) = (1) AND (f(b)) = (2)) OR ((a) = "
      "(3) AND (f(b)) = (4)))) AND (NOT (((c) = (5) AND (d) = (6))))")),
    ("tuple_in_single_lhs", "tuple_in",
     ("SELECT * FROM t WHERE f(a) IN (1, 2)",),
     "SELECT * FROM t WHERE f(a) IN (1, 2)"),
    ("left_operand_call", "left_operand_start",
     ("SELECT x FROM t WHERE f(a, (b)) > ALL (SELECT 1)",),
     22),
    ("left_operand_column", "left_operand_start",
     ("SELECT x FROM t WHERE t.col > ALL (SELECT 1)",),
     22),
    ("inline_values", "inline_values",
     ("INSERT INTO t VALUES (1, f(2)), (DEFAULT, 3)",),
     ("INSERT INTO t SELECT CAST(1 AS int) AS `a`, CAST(f(2) AS string) "
      "AS `b` UNION ALL SELECT CAST(NULL AS int) AS `a`, CAST(3 AS "
      "string) AS `b`")),
    ("select_item_positions_star", "select_item_positions",
     ("SELECT *, f(a, b) FROM t",),
     [0, 2]),
    ("select_item_positions_no_star", "select_item_positions",
     ("SELECT a, f(b, c) FROM t",),
     None),
    ("resolve_fn_calls", "resolve_fn_calls",
     ("wrap(a, g(b)) || wrap(c)",),
     "'[a|g(b)]' || '[c]'"),
]


@pytest.mark.parametrize(
    "entry,args,expected",
    [c[1:] for c in _SCAN_CASES],
    ids=[c[0] for c in _SCAN_CASES],
)
def test_scanner_entry_point(entry, args, expected):
    """Each place the front end scans SQL text for brackets, commas or
    keywords gives the same result on plain input."""
    assert _scanners()[entry](*args) == expected


# The lexical rule at each helper: a bracket or comma inside a string
# (with a backslash or a doubled-quote escape), a backticked name or a
# comment is not code. (case id, entry point, arguments, expected result)
_LEXICAL_CASES = [
    ("close_backslash", "close", ("f('a\\')', b) + 1",), 11),
    ("close_doubled_quote", "close", ("f('a'')', b) + 1",), 11),
    ("close_backtick", "close", ("f(`a)`, b) + 1",), 9),
    ("close_comment", "close", ("f(a /* ) */, b) + 1",), 14),
    ("open_backslash", "open", ("x + f('a\\'(', b)",), 5),
    ("open_doubled_quote", "open", ("x + f('a''(', b)",), 5),
    ("open_backtick", "open", ("x + f(`a(`, b)",), 5),
    ("open_comment", "open", ("x + f(a /* ( */, b)",), 5),
    ("open_inside_string", "open", ("f(a) || ')'",), None),
    ("split_backslash", "split", ("'a\\', (b', c",), ["'a\\', (b'", "c"]),
    ("split_doubled_quote", "split", ("'a'', (b', c",), ["'a'', (b'", "c"]),
    ("split_backtick", "split", ("`a, (b`, c",), ["`a, (b`", "c"]),
    ("split_comment", "split", ("a /* , ( */, c",), ["a /* , ( */", "c"]),
    ("split_types_comment_gt", "split_types",
     ("a int COMMENT 'x > y, z', b map<string,int>",),
     ["a int COMMENT 'x > y, z'", "b map<string,int>"]),
    ("split_types_backslash", "split_types",
     ("a int COMMENT 'it\\'s <', b int",),
     ["a int COMMENT 'it\\'s <'", "b int"]),
    ("split_types_doubled_quote", "split_types",
     ("a int COMMENT 'it''s <', b int",),
     ["a int COMMENT 'it''s <'", "b int"]),
    ("split_types_backtick", "split_types",
     ("a struct<`x>y`:int>, b int",), ["a struct<`x>y`:int>", "b int"]),
    ("split_types_comment", "split_types",
     ("a int /* <, */, b int",), ["a int /* <, */", "b int"]),
    ("spans_backslash", "top_level_spans",
     ("SELECT 'a\\'(' FROM t", r"\bFROM\b"), [(14, 18)]),
    ("spans_doubled_quote", "top_level_spans",
     ("SELECT 'a''(' FROM t", r"\bFROM\b"), [(14, 18)]),
    ("spans_backtick", "top_level_spans",
     ("SELECT `a(` FROM t", r"\bFROM\b"), [(12, 16)]),
    ("spans_comment", "top_level_spans",
     ("SELECT a /* ( */ FROM t", r"\bFROM\b"), [(17, 21)]),
    ("matches_string", "code_matches", ("'f(' f(", r"\bf\("), [5]),
    ("matches_backslash", "code_matches", ("'\\'f(' f(", r"\bf\("), [7]),
    ("matches_doubled_quote", "code_matches", ("'''f(' f(", r"\bf\("), [7]),
    ("matches_backtick", "code_matches", ("`f(` f(", r"\bf\("), [5]),
    ("matches_comment", "code_matches", ("/* f( */ f(", r"\bf\("), [9]),
    ("matches_line_comment", "code_matches", ("-- f(\nf(", r"\bf\("), [6]),
]


@pytest.mark.parametrize(
    "entry,args,expected",
    [c[1:] for c in _LEXICAL_CASES],
    ids=[c[0] for c in _LEXICAL_CASES],
)
def test_scanner_skips_strings_and_comments(entry, args, expected):
    """Brackets and commas in strings, backticked names and comments
    neither open, close nor split anything."""
    assert _scanners()[entry](*args) == expected


def test_bracket_depth_is_counted_only_in_sqltext():
    """hive_spark/sqltext.py is the one place that tracks bracket depth.
    A function elsewhere that compares a character with a bracket and
    moves a counter on it re-implements that scan (without its rule for
    strings and comments); it should use code_positions or a helper
    built on it instead."""
    import ast
    import pathlib

    import hive_spark

    root = pathlib.Path(hive_spark.__file__).parent

    def compares_bracket(test):
        return any(
            isinstance(c, ast.Constant) and isinstance(c.value, str)
            and c.value and set(c.value) <= set("()<>")
            for n in ast.walk(test) if isinstance(n, ast.Compare)
            for side in (n.left, *n.comparators) for c in ast.walk(side)
        )

    def moves_counter(body):
        return any(
            isinstance(s, ast.AugAssign)
            and isinstance(s.op, (ast.Add, ast.Sub))
            for s in body
        )

    found = [
        f"{path.relative_to(root)}:{fn.name}"
        for path in sorted(root.rglob("*.py")) if path.name != "sqltext.py"
        for fn in ast.walk(ast.parse(path.read_text()))
        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef))
        and any(
            isinstance(n, ast.If) and compares_bracket(n.test)
            and moves_counter(n.body)
            for n in ast.walk(fn)
        )
    ]
    assert found == []


def test_representative_hive_script(spark, sf_dir):
    views(spark, sf_dir)
    script = """
    -- classic Hive job prologue
    SET hive.exec.dynamic.partition=true;
    SET hive.exec.dynamic.partition.mode=nonstrict;
    SET spark.sql.shuffle.partitions=8;
    ADD JAR /tmp/udfs.jar;
    START TRANSACTION;
    CREATE OR REPLACE TEMPORARY VIEW big_orders AS
      SELECT o_custkey, o_totalprice FROM orders WHERE o_totalprice > 100000;
    SELECT /*+ MAPJOIN(n) */ n.n_name, COUNT(*) AS cnt
      FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name ORDER BY cnt DESC, n.n_name LIMIT 5;
    COMMIT;
    """
    out = run_script(spark, script)
    # hive-only knobs recorded, spark conf actually applied
    assert out.set_commands["hive.exec.dynamic.partition"] == "true"
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    # ADD JAR no-op'd; START TRANSACTION/COMMIT now bracket a REAL
    # (here empty) hive_spark.txn.Transaction and are not skipped
    assert len(out.skipped) == 1
    assert out.txn is not None and not out.txn.active
    rows = out.results[-1].collect()
    assert len(rows) == 5 and rows[0].cnt >= rows[-1].cnt
    spark.conf.set("spark.sql.shuffle.partitions", "8")


def test_mapjoin_hint_broadcasts(spark, sf_dir):
    """Hive's /*+ MAPJOIN */ hint name is honored by Spark's parser —
    HiveQL text keeps its broadcast intent without rewriting."""
    views(spark, sf_dir)
    plan = (
        spark.sql(
            """SELECT /*+ MAPJOIN(n) */ n.n_name, c.c_custkey
               FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey"""
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


def test_shell_commands_rejected(spark):
    # confined file ops execute through the dfs subset...
    run_script(spark, "!mkdir /tmp/hive_spark_qtest_tmp/shelltest;")
    import os
    assert os.path.isdir("/tmp/hive_spark_qtest_tmp/shelltest")
    # ...anything else still raises rather than silently diverging
    with pytest.raises(ValueError, match="shell commands"):
        run_script(spark, "!echo hello;")
    # dfs outside /tmp (or unsupported ops) is recorded-skipped, not run
    out = run_script(spark, "dfs -ls /;")
    assert out.skipped and "dfs -ls" in out.skipped[0]


def test_sql_text_update_delete_on_registered_path(spark, tmp_path):
    """UPDATE/DELETE as SQL text over a plain parquet table registered
    via register_table_path — routed to the copy-on-write DML rewrites
    (Hive Update/DeleteSemanticAnalyzer surface)."""
    from pyspark.sql import functions as F

    from hive_spark.hqlscript import TABLE_PATHS, register_table_path, run_script

    path = str(tmp_path / "acct")
    spark.range(10).withColumn("bal", F.col("id") * 10).write.parquet(path)
    register_table_path("acct", path)
    try:
        run_script(spark, "UPDATE acct SET bal = bal + 5 WHERE id < 3;")
        rows = {r.id: r.bal for r in spark.read.parquet(path).collect()}
        assert rows[0] == 5 and rows[2] == 25 and rows[5] == 50

        run_script(spark, "DELETE FROM acct WHERE id >= 8;")
        assert spark.read.parquet(path).count() == 8
    finally:
        TABLE_PATHS.pop("acct", None)


def test_sql_text_merge_on_registered_path(spark, tmp_path):
    """MERGE INTO ... USING (subquery) with matched UPDATE + DELETE and
    NOT MATCHED INSERT clauses, alias-rewritten onto the merge_frame
    join (MergeSemanticAnalyzer surface)."""
    from pyspark.sql import functions as F

    from hive_spark.hqlscript import TABLE_PATHS, register_table_path, run_script

    path = str(tmp_path / "tgt")
    spark.createDataFrame(
        [(1, 100), (2, 200), (3, 300)], "k int, v int"
    ).write.parquet(path)
    register_table_path("tgt", path)
    try:
        run_script(
            spark,
            """
            MERGE INTO tgt t USING (
                SELECT * FROM VALUES (2, 999), (3, -1), (4, 400) AS s(k, v)
            ) s ON t.k = s.k
            WHEN MATCHED AND s.v < 0 THEN DELETE
            WHEN MATCHED THEN UPDATE SET v = s.v
            WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v);
            """,
        )
        rows = {r.k: r.v for r in spark.read.parquet(path).collect()}
        assert rows == {1: 100, 2: 999, 4: 400}  # 3 deleted, 4 inserted
    finally:
        TABLE_PATHS.pop("tgt", None)


def test_sql_text_dml_versioned_respects_transaction(spark, tmp_path):
    """DML on a VERSIONED table inside BEGIN..ROLLBACK is undone; after
    COMMIT it sticks and time travel still sees the old version."""
    from pyspark.sql import functions as F

    from hive_spark import snapshots
    from hive_spark.hqlscript import (
        VERSIONED_TABLES,
        register_versioned,
        run_script,
    )

    path = str(tmp_path / "vt")
    snapshots.write_version(
        spark.range(4).withColumn("v", F.lit(1)), path
    )
    register_versioned("vt_dml", path)
    try:
        run_script(
            spark, "BEGIN; UPDATE vt_dml SET v = 2 WHERE id < 2; ROLLBACK;"
        )
        assert snapshots.read_table(spark, path).filter("v = 2").count() == 0

        run_script(
            spark, "BEGIN; UPDATE vt_dml SET v = 2 WHERE id < 2; COMMIT;"
        )
        assert snapshots.read_table(spark, path).filter("v = 2").count() == 2
        # prior version still time-travelable
        assert snapshots.read_table(spark, path, 0).filter("v = 2").count() == 0

        run_script(spark, "DELETE FROM vt_dml WHERE id = 0;")
        assert snapshots.read_table(spark, path).count() == 3
    finally:
        VERSIONED_TABLES.pop("vt_dml", None)


def test_sql_text_insert_truncate_versioned(spark, tmp_path):
    """INSERT INTO / INSERT OVERWRITE / TRUNCATE TABLE as SQL text over
    a versioned table: each publishes a new snapshot version; plain
    catalog tables keep Spark's native INSERT path."""
    from pyspark.sql import functions as F

    from hive_spark import snapshots
    from hive_spark.hqlscript import (
        VERSIONED_TABLES,
        register_versioned,
        run_script,
    )

    path = str(tmp_path / "vt_ins")
    snapshots.write_version(
        spark.range(3).withColumn("v", F.lit(10)), path
    )
    register_versioned("vt_ins", path)
    try:
        run_script(spark, "INSERT INTO vt_ins VALUES (7, 70), (8, 80);")
        assert snapshots.read_table(spark, path).count() == 5

        run_script(
            spark, "INSERT OVERWRITE vt_ins SELECT id, id FROM range(2);"
        )
        assert snapshots.read_table(spark, path).count() == 2
        # old versions retained: time travel sees the 5-row state
        assert snapshots.read_table(spark, path, 1).count() == 5

        run_script(spark, "TRUNCATE TABLE vt_ins;")
        assert snapshots.read_table(spark, path).count() == 0
        assert snapshots.read_table(spark, path).columns == ["id", "v"]
    finally:
        VERSIONED_TABLES.pop("vt_ins", None)


def test_cte_forward_reference_reordered(spark):
    """Hive resolves WITH names positionally-independently (cte_1.q
    "chaining"); forward-referencing chains are topologically reordered
    before Spark sees them."""
    out = run_script(
        spark,
        "WITH q1 AS (SELECT x FROM q2 WHERE x > 1),"
        " q2 AS (SELECT id AS x FROM range(5))"
        " SELECT * FROM q1 ORDER BY x;",
    )
    assert [r.x for r in out.results[-1].collect()] == [2, 3, 4]


def test_unused_cte_body_never_analyzed(spark):
    """Hive never semantically analyzes an unreferenced CTE — cte_1.q
    ends with a WITH whose body references a nonexistent column but whose
    name is never used; the statement must still run."""
    out = run_script(
        spark,
        "WITH q1 AS (SELECT no_such_col FROM range(5))"
        " SELECT COUNT(*) AS n FROM range(3);",
    )
    assert out.results[-1].collect()[0].n == 3


def test_create_view_autoalias(spark):
    """Unaliased view expression columns get Hive's `_c<i>` names
    (cte_2.q view_3/view_4) instead of Spark's hard refusal."""
    run_script(
        spark,
        "CREATE DATABASE IF NOT EXISTS hqtest; USE hqtest;"
        " DROP VIEW IF EXISTS v_auto;"
        " CREATE VIEW v_auto AS SELECT id, AVG(id) FROM range(10)"
        " GROUP BY id LIMIT 3;",
    )
    assert spark.table("hqtest.v_auto").columns == ["id", "_c1"]
    run_script(spark, "DROP VIEW hqtest.v_auto; USE default;")


def test_insert_overwrite_self_read(spark):
    """INSERT OVERWRITE of a table the query also reads (union22.q):
    Hive's two-phase staging semantics, replicated."""
    run_script(
        spark,
        "CREATE DATABASE IF NOT EXISTS hqtest; USE hqtest;"
        " DROP TABLE IF EXISTS selfrw;"
        " CREATE TABLE selfrw AS SELECT id FROM range(4);"
        " INSERT OVERWRITE TABLE selfrw SELECT id + 10 FROM selfrw;",
    )
    got = sorted(r.id for r in spark.table("hqtest.selfrw").collect())
    assert got == [10, 11, 12, 13]
    run_script(spark, "DROP TABLE hqtest.selfrw; USE default;")


@pytest.fixture
def staged_read_jobs(spark, monkeypatch):
    """The Spark jobs each staged read-back in hqlscript ran while it
    built its frame (a schema-inference job would be one)."""
    from hive_spark import hqlscript

    def next_job():
        return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()

    jobs = []
    real = hqlscript.read_parquet

    def counting(s, path):
        before = next_job()
        df = real(s, path)
        jobs.append(next_job() - before)
        return df

    monkeypatch.setattr(hqlscript, "read_parquet", counting)
    return jobs


_TYPED_ROWS = (
    "SELECT * FROM VALUES"
    " (1, CAST(12.34 AS DECIMAL(18,2)), DATE'1997-03-01',"
    "  TIMESTAMP_NTZ'1997-03-01 12:30:45.123456', 'a', array(1, 2)),"
    " (2, NULL, NULL, NULL, NULL, NULL),"
    " (3, CAST(-0.5 AS DECIMAL(18,2)), DATE'2000-01-01',"
    "  TIMESTAMP_NTZ'2000-01-01 00:00:00', 'c', array(3))"
    " AS t(key, amt, day, ts, tag, xs)"
)


def test_insert_overwrite_self_read_stage_reads_back_without_a_job(
    spark, staged_read_jobs
):
    """The self-read INSERT OVERWRITE reads its stage back with the
    schema from the stage's footers: no inference job, and every column
    value survives the round trip."""
    run_script(
        spark,
        "CREATE DATABASE IF NOT EXISTS hqtest; USE hqtest;"
        " DROP TABLE IF EXISTS selfrw_typed;"
        f" CREATE TABLE selfrw_typed USING parquet AS {_TYPED_ROWS};"
        " INSERT OVERWRITE TABLE selfrw_typed SELECT * FROM selfrw_typed;",
    )
    got = spark.table("hqtest.selfrw_typed")
    assert sorted(map(repr, got.collect())) == sorted(
        map(repr, spark.sql(_TYPED_ROWS).collect())
    )
    assert staged_read_jobs == [0]
    run_script(spark, "DROP TABLE hqtest.selfrw_typed; USE default;")


def test_table_rewrite_stage_reads_back_without_a_job(spark, staged_read_jobs):
    """UPDATE of a bucketed table swaps it through a parquet stage
    (_rewrite_table_inplace); the stage reads back with no inference job,
    and the rows the UPDATE leaves alone are unchanged."""
    run_script(
        spark,
        "CREATE DATABASE IF NOT EXISTS hqtest; USE hqtest;"
        " DROP TABLE IF EXISTS rw_typed;"
        " CREATE TABLE rw_typed (key INT, amt DECIMAL(18,2), day DATE,"
        " ts TIMESTAMP_NTZ, tag STRING, xs ARRAY<INT>)"
        " USING parquet CLUSTERED BY (key) INTO 2 BUCKETS;"
        f" INSERT INTO rw_typed {_TYPED_ROWS};"
        " UPDATE rw_typed SET tag = 'z' WHERE key = 3;",
    )
    want = spark.sql(_TYPED_ROWS).selectExpr(
        "key", "amt", "day", "ts", "IF(key = 3, 'z', tag) AS tag", "xs"
    )
    got = spark.table("hqtest.rw_typed")
    assert sorted(map(repr, got.collect())) == sorted(map(repr, want.collect()))
    assert staged_read_jobs == [0]
    run_script(spark, "DROP TABLE hqtest.rw_typed; USE default;")


def test_temporary_table_and_double_quoted_delim(spark, tmp_path):
    """CREATE TEMPORARY TABLE maps to a writable managed table;
    ROW FORMAT DELIMITED accepts double-quoted delimiters
    (subquery_multi.q's part_null)."""
    run_script(
        spark,
        "CREATE DATABASE IF NOT EXISTS hqtest; USE hqtest;"
        " DROP TABLE IF EXISTS ttmp;"
        ' CREATE TEMPORARY TABLE ttmp (a INT, b STRING)'
        ' ROW FORMAT DELIMITED FIELDS TERMINATED BY ",";'
        " INSERT INTO ttmp VALUES (1, 'x');",
    )
    assert spark.table("hqtest.ttmp").count() == 1
    run_script(spark, "DROP TABLE ttmp; USE default;")


def test_create_table_clause_normalization(spark):
    """Hive clause order (PARTITIONED BY typed cols ... STORED AS after)
    normalizes to Spark's datasource form: partition columns merged into
    the schema, USING in the provider position, inline constraints and
    DISABLE/RELY tails stripped (union_remove_15.q,
    join_constraints_optimization.q shapes)."""
    run_script(
        spark,
        "CREATE DATABASE IF NOT EXISTS hqtest; USE hqtest;"
        " DROP TABLE IF EXISTS norm1;"
        " CREATE TABLE norm1(key string, `values` bigint,"
        " primary key (key) disable novalidate rely)"
        " partitioned by (ds string) stored as rcfile;"
        " INSERT INTO norm1 PARTITION (ds='1') VALUES ('a', 1);",
    )
    t = spark.table("hqtest.norm1")
    assert t.columns == ["key", "values", "ds"]
    assert t.count() == 1
    run_script(spark, "DROP TABLE norm1; USE default;")


def test_tuple_in_elementwise_coercion(spark):
    """(a, b) IN ((...)) with per-element implicit coercion — Hive's
    GenericUDFIn semantics (join45.q); string keys match int literals."""
    out = run_script(
        spark,
        "SELECT COUNT(*) AS n FROM ("
        "  SELECT CAST(id AS STRING) AS a, id AS b FROM range(10)) t"
        " WHERE (a, b) IN ((3, 3), (5, 5), (99, 99));",
    )
    assert out.results[-1].collect()[0].n == 2
    out = run_script(
        spark,
        "SELECT COUNT(*) AS n FROM ("
        "  SELECT CAST(id AS STRING) AS a, id AS b FROM range(10)) t"
        " WHERE (a, b) NOT IN ((3, 3), (5, 5));",
    )
    assert out.results[-1].collect()[0].n == 8


def test_variable_substitution_and_dfs(spark, tmp_path):
    """Hive CLI variable substitution (${hivevar:}, ${hiveconf:},
    ${system:test.tmp.dir}) and the local-fs dfs command subset;
    destructive dfs paths outside /tmp are recorded-skipped, never run."""
    import os
    import shutil
    import tempfile

    # an EXISTING host dir outside /tmp: destructive dfs must be
    # recorded-skipped (a NONEXISTENT absolute path instead maps to the
    # fake-HDFS qtest scratch — see the guard test below)
    outside = tempfile.mkdtemp(dir=os.path.dirname(__file__))
    try:
        out = run_script(
            spark,
            "SET hivevar:lo=2; SET hiveconf:hi=4;"
            " dfs -mkdir -p /tmp/hive_spark_qtest_tmp/vtest;"
            f" dfs -rm -r {outside};"
            " SELECT COUNT(*) AS n FROM range(10)"
            " WHERE id BETWEEN ${lo} AND ${hiveconf:hi};",
        )
        assert out.results[-1].collect()[0].n == 3
        assert os.path.isdir("/tmp/hive_spark_qtest_tmp/vtest")
        assert any("dfs -rm" in s for s in out.skipped)
        assert os.path.isdir(outside)
    finally:
        shutil.rmtree(outside, ignore_errors=True)


def test_dfs_guard_rejects_traversal_and_prefix_tricks(spark):
    """The /tmp confinement must survive ../ traversal, the bare /tmp
    root, and sibling-prefix paths like /tmpfoo — all are skipped,
    never executed (qtest scripts are untrusted input)."""
    import os
    import shutil
    import tempfile

    outside = tempfile.mkdtemp(dir=os.path.dirname(__file__))
    try:
        canary = os.path.join(outside, "canary.txt")
        with open(canary, "w") as f:
            f.write("x")
        # /tmp/../<elsewhere> — realpath lands outside /tmp
        probe = f"/tmp/..{canary}"
        out = run_script(spark, f"dfs -rm {probe};")
        assert any("dfs -rm" in s for s in out.skipped)
        assert os.path.exists(canary)
        # bare /tmp itself refused; a NONEXISTENT /tmpfoo sibling maps
        # to the fake-HDFS qtest scratch (r9: `dfs` paths are the
        # harness's private filesystem), so the HOST /tmpfoo is never
        # created either way
        out = run_script(spark, "dfs -rm -r /tmp; dfs -mkdir /tmpfoo;")
        assert any("dfs -rm -r /tmp" in s for s in out.skipped)
        assert os.path.isdir("/tmp") and not os.path.exists("/tmpfoo")
        # symlink escape: a link under /tmp pointing outside is refused
        link = "/tmp/hive_spark_qtest_tmp/esc_link"
        os.makedirs(os.path.dirname(link), exist_ok=True)
        if os.path.lexists(link):
            os.remove(link)
        os.symlink(outside, link)
        try:
            out = run_script(spark, f"dfs -rm -r {link};")
            assert any("dfs -rm" in s for s in out.skipped)
            assert os.path.exists(canary)
        finally:
            os.remove(link)
    finally:
        shutil.rmtree(outside, ignore_errors=True)


def test_create_table_like_stored_as(spark):
    """CREATE TABLE t LIKE s STORED AS ORC: the USING clause must land
    after `LIKE s` (Spark grammar), not after the new table name."""
    run_script(spark, "DROP TABLE IF EXISTS like_src;"
                      " DROP TABLE IF EXISTS like_dst;")
    out = run_script(
        spark,
        "CREATE TABLE like_src (k INT, v STRING) STORED AS PARQUET;"
        " CREATE TABLE like_dst LIKE like_src STORED AS ORC;"
        " DESCRIBE like_dst;",
    )
    cols = [r.col_name for r in out.results[-1].collect()]
    assert cols[:2] == ["k", "v"]
    run_script(spark, "DROP TABLE like_src; DROP TABLE like_dst;")


def test_drop_partial_partition_no_match_raises(spark):
    """A partial DROP PARTITION spec matching nothing must raise without
    IF EXISTS (Hive INVALID_PARTITION), succeed silently with it."""
    run_script(
        spark,
        "DROP TABLE IF EXISTS pdrop_t;"
        " CREATE TABLE pdrop_t (v INT) PARTITIONED BY (a STRING, b STRING)"
        " STORED AS PARQUET;"
        " INSERT INTO pdrop_t PARTITION (a='x', b='1') VALUES (10);",
    )
    with pytest.raises(Exception, match="[Pp]artition"):
        run_script(spark, "ALTER TABLE pdrop_t DROP PARTITION (a='zz');")
    out = run_script(
        spark,
        "ALTER TABLE pdrop_t DROP IF EXISTS PARTITION (a='zz');"
        " SELECT COUNT(*) AS n FROM pdrop_t;",
    )
    assert out.results[-1].collect()[0].n == 1
    run_script(spark, "DROP TABLE pdrop_t;")


def test_sql_std_authorization(spark):
    """SQL-standard auth statements (ref: ql/.../sqlstd/
    SQLStdHiveAccessController.java): role lifecycle, role + privilege
    grants, and the SHOW readbacks are a live session registry."""
    import getpass

    me = getpass.getuser()
    out = run_script(
        spark,
        "CREATE ROLE auditors;"
        " GRANT auditors TO USER alice;"
        f" GRANT auditors TO USER {me};"
        " CREATE TABLE IF NOT EXISTS authz_t(k INT);"
        " GRANT SELECT, INSERT ON TABLE authz_t TO ROLE auditors;"
        " SHOW ROLES;"
        " SHOW ROLE GRANT USER alice;"
        " SHOW GRANT ROLE auditors ON TABLE authz_t;"
        " REVOKE INSERT ON TABLE authz_t FROM ROLE auditors;"
        " SHOW GRANT ROLE auditors ON TABLE authz_t;"
        " SET ROLE auditors;"
        " SHOW CURRENT ROLES;"
        " DROP ROLE auditors;"
        " DROP TABLE authz_t;",
    )
    roles = {r.role for r in out.results[0].collect()}
    assert "auditors" in roles and "public" in roles and "admin" in roles
    assert {r.role for r in out.results[1].collect()} >= {"public", "auditors"}
    privs = {r.privilege for r in out.results[2].collect()}
    assert privs == {"SELECT", "INSERT"}
    privs_after = {r.privilege for r in out.results[3].collect()}
    assert privs_after == {"SELECT"}
    assert [r.role for r in out.results[4].collect()] == ["auditors"]
    # SET ROLE of a role NOT granted to the current user must fail
    # (SQLStdHiveAccessController.setCurrentRole)
    run_script(spark, "CREATE ROLE outsiders;")
    with pytest.raises(Exception, match="belong"):
        run_script(spark, "SET ROLE outsiders;")
    run_script(spark, "DROP ROLE outsiders;")


def test_alter_change_replace_columns(spark):
    """Hive CHANGE/REPLACE COLUMNS (ref: ql/.../parse/
    AlterTableChangeColDesc): rename+retype+reorder via CoW rewrite;
    REPLACE reinterprets columns positionally."""
    run_script(
        spark,
        "DROP TABLE IF EXISTS chg_t;"
        " CREATE TABLE chg_t (a INT, b STRING, c DOUBLE);"
        " INSERT INTO chg_t VALUES (1, 'x', 9.5), (2, 'y', 8.5);",
    )
    out = run_script(
        spark,
        "ALTER TABLE chg_t CHANGE b bb VARCHAR(8) COMMENT 'renamed' CASCADE;"
        " ALTER TABLE chg_t CHANGE COLUMN c c DECIMAL(6,1) FIRST;"
        " SELECT * FROM chg_t ORDER BY a;",
    )
    rows = out.results[-1].collect()
    assert out.results[-1].columns == ["c", "a", "bb"]
    assert [str(r.c) for r in rows] == ["9.5", "8.5"]
    out = run_script(
        spark,
        "ALTER TABLE chg_t REPLACE COLUMNS (k STRING, v STRING);"
        " SELECT * FROM chg_t ORDER BY k; DROP TABLE chg_t;",
    )
    assert out.results[-1].columns == ["k", "v"]
    assert [r.k for r in out.results[-1].collect()] == ["8.5", "9.5"]


def test_materialized_view_sql_text(spark):
    """CREATE/REBUILD/SHOW/DROP MATERIALIZED VIEW through the script
    runner (ref: ql/.../parse/CreateMaterializedViewDesc)."""
    out = run_script(
        spark,
        "DROP TABLE IF EXISTS mv_base;"
        " CREATE TABLE mv_base (g INT, x INT);"
        " INSERT INTO mv_base VALUES (1, 10), (1, 20), (2, 5);"
        " CREATE MATERIALIZED VIEW mv_sums DISABLE REWRITE AS"
        "   SELECT g, SUM(x) AS s FROM mv_base GROUP BY g;"
        " SELECT * FROM mv_sums ORDER BY g;",
    )
    assert [(r.g, r.s) for r in out.results[-1].collect()] == [(1, 30), (2, 5)]
    out = run_script(
        spark,
        "INSERT INTO mv_base VALUES (2, 15);"
        " ALTER MATERIALIZED VIEW mv_sums REBUILD;"
        " SHOW MATERIALIZED VIEWS;"
        " SELECT * FROM mv_sums ORDER BY g;"
        " DROP MATERIALIZED VIEW mv_sums; DROP TABLE mv_base;",
    )
    assert "mv_sums" in {r.mv_name for r in out.results[-2].collect()}
    assert [(r.g, r.s) for r in out.results[-1].collect()] == [(1, 30), (2, 20)]


def test_explain_locks_ddl_authorization(spark):
    """EXPLAIN LOCKS/DDL/AUTHORIZATION (ref: ql/.../parse/
    ExplainConfiguration.java) return Hive-shaped result rows."""
    out = run_script(
        spark,
        "CREATE TABLE IF NOT EXISTS exp_t (k INT);"
        " EXPLAIN LOCKS INSERT INTO exp_t SELECT k FROM exp_t;"
        " EXPLAIN DDL SELECT * FROM exp_t;"
        " EXPLAIN AUTHORIZATION SELECT * FROM exp_t;"
        " DROP TABLE exp_t;",
    )
    locks = {(r.entity, r.lock_type) for r in out.results[0].collect()}
    assert ("exp_t", "EXCLUSIVE") in locks
    assert "exp_t" in out.results[1].collect()[0].createtab_stmt
    sections = dict(out.results[2].collect())
    assert sections["CURRENT_USER"]
    assert "exp_t" in sections["INPUTS"]


def test_insert_overwrite_directory(spark, tmp_path):
    """INSERT OVERWRITE DIRECTORY writes Hive-convention text (custom
    delimiter, \\N nulls) under confined scratch space."""
    import glob

    run_script(
        spark,
        "INSERT OVERWRITE DIRECTORY '/tmp/hive_spark_qtest_tmp/iod'"
        " ROW FORMAT DELIMITED FIELDS TERMINATED BY '|'"
        " SELECT id, CASE WHEN id = 1 THEN NULL ELSE 'v' END AS v"
        " FROM range(2);",
    )
    # outputs carry Hive's task naming (r8: scripts dfs-cat dir/000000_0)
    lines = sorted(
        line
        for f in glob.glob("/tmp/hive_spark_qtest_tmp/iod/[0-9]*_0")
        for line in open(f).read().splitlines()
    )
    assert lines == ["0|v", "1|\\N"]
    with pytest.raises(ValueError):
        run_script(
            spark,
            "INSERT OVERWRITE DIRECTORY '/etc/nope' SELECT 1 AS x;",
        )


def test_row_format_full_delimited_clauses(spark):
    """COLLECTION ITEMS / MAP KEYS / NULL DEFINED AS / ESCAPED BY all
    parse (rowFormatDelimited grammar, ref: ql/.../parse/HiveParser.g)."""
    out = run_script(
        spark,
        "DROP TABLE IF EXISTS rf_t;"
        " CREATE TABLE rf_t (k INT, tags ARRAY<STRING>, m MAP<STRING,INT>)"
        " ROW FORMAT DELIMITED FIELDS TERMINATED BY ',' ESCAPED BY '\\\\'"
        " COLLECTION ITEMS TERMINATED BY '|' MAP KEYS TERMINATED BY ':'"
        " LINES TERMINATED BY '\\n' NULL DEFINED AS 'NUL'"
        " STORED AS TEXTFILE;"
        " INSERT INTO rf_t SELECT 1, array('a','b'), map('x', 1);"
        " SELECT k, size(tags) AS nt, m['x'] AS mx FROM rf_t;"
        " DROP TABLE rf_t;",
    )
    assert [(r.k, r.nt, r.mx) for r in out.results[-1].collect()] == [(1, 2, 1)]


# the rows of Hive's data/files/doctors.avro, in file order
_DOCTORS = [
    (6, "Colin", "Baker"), (3, "Jon", "Pertwee"), (4, "Tom", "Baker"),
    (5, "Peter", "Davison"), (11, "Matt", "Smith"), (1, "William", "Hartnell"),
    (7, "Sylvester", "McCoy"), (8, "Paul", "McGann"), (2, "Patrick", "Troughton"),
    (10, "David", "Tennant"), (9, "Christopher", "Eccleston"),
]


def _write_avro(path, fields, rows):
    """An Avro object container file (null codec, one block) holding
    `rows` of a record with `fields`, [(name, "int" | "string")]."""
    import json

    def varint(n):  # zigzag, then 7 bits per byte
        n = (n << 1) ^ (n >> 63)
        out = bytearray()
        while n > 0x7F:
            out.append(n & 0x7F | 0x80)
            n >>= 7
        return bytes(out + bytes([n]))

    def blob(b):
        return varint(len(b)) + b

    schema = json.dumps({
        "type": "record", "name": "doctors",
        "fields": [{"name": n, "type": t} for n, t in fields],
    }).encode()
    sync = bytes(range(16))
    body = b"".join(
        varint(v) if t == "int" else blob(v.encode())
        for row in rows for (_, t), v in zip(fields, row)
    )
    with open(path, "wb") as f:
        f.write(
            b"Obj\x01" + varint(2) + blob(b"avro.schema") + blob(schema)
            + blob(b"avro.codec") + blob(b"null") + varint(0) + sync
            + varint(len(rows)) + varint(len(body)) + body + sync
        )


def test_load_data_avro_and_empty_table_dml(spark, tmp_path):
    """LOAD DATA sniffs self-describing formats (avro via the pure-
    Python container reader — no spark-avro jar in this runtime), and
    CoW DML on a freshly-created empty table seeds schema instead of
    failing UNABLE_TO_INFER_SCHEMA."""
    from hive_spark.sources.avro_lite import ddl_schema, read_container

    doctors = str(tmp_path / "doctors.avro")
    _write_avro(
        doctors,
        [("number", "int"), ("first_name", "string"), ("last_name", "string")],
        _DOCTORS,
    )
    fields, rows = read_container(doctors)
    assert fields == ["number", "first_name", "last_name"]
    assert len(rows) == 11 and rows[0][0] == 6
    assert "number` int" in ddl_schema(doctors).replace(" `", "`")

    out = run_script(
        spark,
        "DROP TABLE IF EXISTS avro_doc;"
        " CREATE TABLE avro_doc (number int, first_name string) STORED AS AVRO;"
        f" LOAD DATA LOCAL INPATH '{doctors}'"
        "   INTO TABLE avro_doc;"
        " SELECT COUNT(*) AS n, MIN(number) AS lo FROM avro_doc;"
        " DROP TABLE avro_doc;",
    )
    r = out.results[-1].collect()[0]
    assert (r.n, r.lo) == (11, 1)

    out = run_script(
        spark,
        "DROP TABLE IF EXISTS empty_dml;"
        " CREATE TABLE empty_dml (i INT) STORED AS ORC;"
        " DELETE FROM empty_dml WHERE i > 0;"
        " UPDATE empty_dml SET i = 1 WHERE i = 0;"
        " INSERT INTO empty_dml VALUES (7);"
        " SELECT * FROM empty_dml;"
        " DROP TABLE empty_dml;",
    )
    assert [r.i for r in out.results[-1].collect()] == [7]


def test_load_data_complex_types_delimited(spark, tmp_path):
    """LOAD DATA decodes array/map/struct text columns through the
    LazySimpleSerDe separator hierarchy (field \\x01, collection \\x02,
    map-key \\x03; ref: serde/.../lazy/LazySimpleSerDe.java)."""
    data = tmp_path / "complex.txt"
    data.write_text(
        "1\x01a\x02b\x01k1\x032\x02k2\x034\x01x\x025\n"
        "2\x01c\x01k9\x039\x01y\x026\n"
    )
    out = run_script(
        spark,
        "DROP TABLE IF EXISTS cplx;"
        " CREATE TABLE cplx (id INT, tags ARRAY<STRING>,"
        "   m MAP<STRING,INT>, s STRUCT<nm:STRING, v:INT>)"
        " ROW FORMAT DELIMITED STORED AS TEXTFILE;"
        f" LOAD DATA LOCAL INPATH '{data}' INTO TABLE cplx;"
        " SELECT id, size(tags) AS nt, m['k1'] AS k1, s.nm AS nm, s.v AS v"
        " FROM cplx ORDER BY id;"
        " DROP TABLE cplx;",
    )
    rows = [(r.id, r.nt, r.k1, r.nm, r.v) for r in out.results[-1].collect()]
    assert rows == [(1, 2, 2, "x", 5), (2, 1, None, "y", 6)]


def test_export_import_sql_text(spark):
    """EXPORT TABLE [PARTITION] TO / IMPORT FROM (ref: ql/.../parse/
    ExportSemanticAnalyzer.java): partition-pruned export, import into
    new and existing tables."""
    out = run_script(
        spark,
        "DROP TABLE IF EXISTS exim_src;"
        " CREATE TABLE exim_src (k INT) PARTITIONED BY (ds STRING);"
        " INSERT INTO exim_src PARTITION (ds='a') VALUES (1), (2);"
        " INSERT INTO exim_src PARTITION (ds='b') VALUES (3);"
        " EXPORT TABLE exim_src PARTITION (ds='a') TO"
        "   '/tmp/hive_spark_qtest_tmp/exim_a';"
        " DROP TABLE IF EXISTS exim_dst;"
        " IMPORT TABLE exim_dst FROM '/tmp/hive_spark_qtest_tmp/exim_a';"
        " SELECT COUNT(*) AS n FROM exim_dst;"
        " IMPORT TABLE exim_dst FROM '/tmp/hive_spark_qtest_tmp/exim_a';"
        " SELECT COUNT(*) AS n2 FROM exim_dst;"
        " DROP TABLE exim_src; DROP TABLE exim_dst;",
    )
    assert out.results[-2].collect()[0].n == 2  # only partition ds='a'
    assert out.results[-1].collect()[0].n2 == 4  # second import appends


def test_exchange_and_partial_drop_partition(spark):
    """EXCHANGE PARTITION moves a partition between tables; DROP
    PARTITION with a partial spec drops every matching partition."""
    out = run_script(
        spark,
        "DROP TABLE IF EXISTS xp_a; DROP TABLE IF EXISTS xp_b;"
        " CREATE TABLE xp_a (k INT) PARTITIONED BY (ds STRING, hr STRING);"
        " CREATE TABLE xp_b (k INT) PARTITIONED BY (ds STRING, hr STRING);"
        " INSERT INTO xp_b PARTITION (ds='1', hr='a') VALUES (10);"
        " INSERT INTO xp_b PARTITION (ds='1', hr='b') VALUES (11);"
        " ALTER TABLE xp_a EXCHANGE PARTITION (ds='1', hr='a')"
        "   WITH TABLE xp_b;"
        " SELECT COUNT(*) AS na FROM xp_a;"
        " SELECT COUNT(*) AS nb FROM xp_b;"
        " ALTER TABLE xp_a DROP PARTITION (ds=1);"
        " SELECT COUNT(*) AS nafter FROM xp_a;"
        " DROP TABLE xp_a; DROP TABLE xp_b;",
    )
    assert out.results[0].collect()[0].na == 1
    assert out.results[1].collect()[0].nb == 1
    assert out.results[2].collect()[0].nafter == 0


def test_unordered_window_order_injection(spark):
    """Hive allows rank-family functions over unordered windows."""
    out = run_script(
        spark,
        "SELECT id, row_number() OVER (PARTITION BY id % 2) AS rn"
        " FROM range(4) ORDER BY id;",
    )
    assert sorted(r.rn for r in out.results[-1].collect()) == [1, 1, 2, 2]


def test_charvarchar_truncation_on_write(spark):
    """Hive serdes TRUNCATE over-length char/varchar on write
    (HiveBaseCharWritable.enforceMaxLength) — including fields nested in
    structs; Spark alone raises EXCEED_LIMIT_LENGTH."""
    out = run_script(
        spark,
        "DROP TABLE IF EXISTS cv_trunc;"
        " CREATE TABLE cv_trunc (a varchar(5), s struct<x:char(3)>);"
        " INSERT INTO cv_trunc SELECT 'abcdefghij',"
        "   named_struct('x', 'wxyz');"
        " SELECT a, s.x AS x FROM cv_trunc;",
    )
    row = out.results[-1].collect()[0]
    assert row.a == "abcde"
    assert row.x.rstrip() == "wxy"
    run_script(spark, "DROP TABLE IF EXISTS cv_trunc;")


def test_timestamp_numeric_comparison_coercion(spark):
    """Hive compares TIMESTAMP and BOOLEAN with numerics through
    double (FunctionRegistry.getCommonClassForComparison); verified
    against the vectorization_12.q golden (532 rows) in the corpus —
    this is the unit form."""
    out = run_script(
        spark,
        "DROP TABLE IF EXISTS ts_cmp;"
        " CREATE TABLE ts_cmp (t timestamp, b boolean);"
        " INSERT INTO ts_cmp VALUES"
        "  (timestamp'1969-12-31 23:59:50', true),"
        "  (timestamp'1970-01-01 00:00:10', false);"
        " SELECT COUNT(*) AS n FROM ts_cmp WHERE t <= 0;"
        " SELECT COUNT(*) AS m FROM ts_cmp WHERE b > 0;",
    )
    assert out.results[-2].collect()[0].n == 1  # -10s <= 0 < +10s
    assert out.results[-1].collect()[0].m == 1  # true -> 1 > 0
    run_script(spark, "DROP TABLE IF EXISTS ts_cmp;")


def test_qualify_desugar(spark):
    """QUALIFY filters on window results (HiveParser qualifyClause)."""
    out = run_script(
        spark,
        "SELECT id, id % 2 AS g FROM range(6)"
        " QUALIFY row_number() OVER (PARTITION BY id % 2 ORDER BY id) = 1"
        " ORDER BY id;",
    )
    assert [r.id for r in out.results[-1].collect()] == [0, 1]


def test_uniontype_tagged_struct(spark):
    """UNIONTYPE<...> emulates as struct<tag, fieldN> with
    create_union/extract_union (UnionObjectInspector's (tag, value))."""
    out = run_script(
        spark,
        "DROP TABLE IF EXISTS ut1;"
        " CREATE TABLE ut1 (u UNIONTYPE<INT, STRING>);"
        " INSERT INTO ut1 VALUES (create_union(0, 7, 'seven')),"
        "  (create_union(1, 7, 'seven'));"
        " SELECT u.tag AS tag, u.field0 AS f0, u.field1 AS f1 FROM ut1"
        " ORDER BY tag;",
    )
    rows = out.results[-1].collect()
    assert (rows[0].tag, rows[0].f0, rows[0].f1) == (0, 7, None)
    assert (rows[1].tag, rows[1].f0, rows[1].f1) == (1, None, "seven")
    run_script(spark, "DROP TABLE IF EXISTS ut1;")


def test_limit_offset_comma_form(spark):
    """Hive's MySQL-style LIMIT <offset>,<count>."""
    out = run_script(
        spark, "SELECT id FROM range(10) ORDER BY id LIMIT 2,3;"
    )
    assert [r.id for r in out.results[-1].collect()] == [2, 3, 4]


def test_quantified_comparisons_3vl(spark):
    """x op ALL/ANY (subquery) desugar (r8): exact 3-valued logic per
    the standard — empty set, null probe, null elements (golden-matched
    against subquery_ALL.q / subquery_ANY.q, 46/46)."""
    run_script(
        spark,
        "CREATE OR REPLACE TEMP VIEW qv AS SELECT * FROM VALUES"
        " (1), (2), (3) AS t(v);"
        "CREATE OR REPLACE TEMP VIEW qvn AS SELECT * FROM VALUES"
        " (1), (2), (CAST(NULL AS INT)) AS t(v);"
        "CREATE OR REPLACE TEMP VIEW qve AS"
        " SELECT v FROM qv WHERE v < 0;",
    )
    cases = [
        # (predicate, expected)
        ("5 > ALL (SELECT v FROM qv)", True),
        ("2 > ALL (SELECT v FROM qv)", False),
        ("5 > ALL (SELECT v FROM qve)", True),     # empty -> TRUE
        ("5 > ANY (SELECT v FROM qve)", False),    # empty -> FALSE
        ("5 > ALL (SELECT v FROM qvn)", None),     # null element -> NULL
        ("0 > ANY (SELECT v FROM qvn)", None),
        ("2 = ANY (SELECT v FROM qvn)", True),
        ("9 = ANY (SELECT v FROM qvn)", None),     # not found + null
        ("9 <> ALL (SELECT v FROM qvn)", None),    # NOT IN w/ null
        ("2 <> ALL (SELECT v FROM qv)", False),
        ("9 <> ALL (SELECT v FROM qv)", True),
    ]
    sql = "SELECT " + ", ".join(
        f"({p}) AS c{i}" for i, (p, _) in enumerate(cases)
    )
    row = run_script(spark, sql + ";").results[-1].collect()[0]
    for i, (p, want) in enumerate(cases):
        assert row[i] == want, f"{p}: got {row[i]}, want {want}"


def test_stddev_variance_population_variants(spark):
    """Hive's bare stddev/std/variance are the POPULATION aggregates
    (FunctionRegistry -> GenericUDAFStd/GenericUDAFVariance); Spark's
    defaults are sample — the dialect must rewrite (r8, found by the
    windowing.q golden-value sweep)."""
    out = run_script(
        spark,
        "SELECT stddev(v) AS sd, std(v) AS sd2, variance(v) AS vr"
        " FROM VALUES (1.0), (2.0), (3.0) AS t(v);",
    )
    r = out.results[-1].collect()[0]
    import math

    assert math.isclose(r.sd, math.sqrt(2.0 / 3.0))   # population
    assert math.isclose(r.sd2, math.sqrt(2.0 / 3.0))
    assert math.isclose(r.vr, 2.0 / 3.0)


def test_string_range_frame_peer_group(spark):
    """RANGE numeric offsets over a STRING sort key degenerate to the
    peer group (Hive StringValueBoundaryScanner equality semantics,
    r8); UNBOUNDED sides keep their reach."""
    run_script(
        spark,
        "CREATE OR REPLACE TEMP VIEW wt AS SELECT * FROM VALUES"
        " ('a', 1), ('a', 2), ('b', 4), ('c', 8) AS t(k, x);",
    )
    out = run_script(
        spark,
        "SELECT k, sum(x) OVER (ORDER BY k"
        " RANGE BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS s,"
        " sum(x) OVER (ORDER BY k"
        " RANGE BETWEEN 1 PRECEDING AND UNBOUNDED FOLLOWING) AS s2"
        " FROM wt ORDER BY k, s;",
    )
    rows = out.results[-1].collect()
    # peers-only sums: a=3, b=4, c=8; peer-start..end sums: 15, 12, 8
    assert [(r.k, r.s, r.s2) for r in rows] == [
        ("a", 3, 15), ("a", 3, 15), ("b", 4, 12), ("c", 8, 8),
    ]


def test_window_clause_inheritance(spark):
    """`w2 as (w1 rows ...)` and bare `w2 as w3` expand the base spec
    with its frame stripped (windowing.q #42, r8)."""
    out = run_script(
        spark,
        "SELECT sum(x) OVER w2 AS s FROM VALUES (1), (2), (3) AS t(x)"
        " WINDOW w1 AS (ORDER BY x"
        "   RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),"
        " w2 AS (w1 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW);",
    )
    assert sorted(r.s for r in out.results[-1].collect()) == [1, 3, 6]


def test_regex_columns_quoted_identifiers_none(spark):
    """Backquoted regex columns under hive.support.quoted.identifiers=
    none (regex_col.q, r8)."""
    out = run_script(
        spark,
        "set hive.support.quoted.identifiers=none;"
        "CREATE OR REPLACE TEMP VIEW rt AS"
        " SELECT 1 AS ds, 2 AS hr, 3 AS key FROM range(1);"
        "SELECT `..` FROM rt;",
    )
    assert out.results[-1].columns == ["ds", "hr"]


# One case per error-retry rule: a statement Hive accepts and Spark's
# analyzer first refuses, the query that shows its effect, and the rows
# that query returns. Every case runs in database hqretry over `rt`
# (key INT, value STRING, ts TIMESTAMP; two rows) and the temp view `tv`.
_RETRY_SETUP = """
CREATE DATABASE IF NOT EXISTS hqretry; USE hqretry;
DROP TABLE IF EXISTS rt;
CREATE TABLE rt USING parquet AS SELECT * FROM VALUES
 (1, 'a', timestamp'2020-01-01 00:00:00'),
 (2, 'b', timestamp'2020-01-02 00:00:00') AS t(key, value, ts);
CREATE OR REPLACE TEMP VIEW tv AS SELECT * FROM rt;
"""

# (case id, the _RETRIES fixer that must fire, setup, statement, check
# query or None for the statement's own rows, expected rows in any order)
_RETRY_CASES = [
    ("view_without_alias", "view_autoalias", "DROP VIEW IF EXISTS v_wa",
     "CREATE VIEW v_wa AS WITH c AS (SELECT key FROM rt)"
     " SELECT key + 1 FROM c",
     "SELECT _c0 FROM v_wa", [(2,), (3,)]),
    ("view_duplicate_literals", "view_autoalias", "DROP VIEW IF EXISTS v_dup",
     "CREATE VIEW v_dup AS (SELECT '12', '12' FROM rt)",
     "SELECT _c0, _c1 FROM v_dup", [("12", "12"), ("12", "12")]),
    ("view_over_temp_view", "temp_view", "DROP VIEW IF EXISTS v_tmp",
     "CREATE VIEW v_tmp AS SELECT key FROM tv",
     "SELECT * FROM v_tmp", [(1,), (2,)]),
    ("tuple_in", "tuple_in", "",
     "SELECT key FROM rt WHERE (key, value) IN (('1','a'), (2.0,'b'))",
     None, [(1,), (2,)]),
    ("greatest_mixed_categories", "common_category", "",
     "SELECT greatest(key, ts) AS g FROM rt",
     None, [("2020-01-01 00:00:00",), ("2020-01-02 00:00:00",)]),
    ("variance_of_timestamp", "ts_numeric_agg",
     "", "SELECT variance(ts) AS v FROM rt",
     None, [(43200.0 ** 2,)]),
    ("group_by_position_aggregate", "group_by_literal", "",
     "SELECT count(*) AS c FROM rt GROUP BY 1", None, [(2,)]),
    ("group_by_position_out_of_range", "group_by_literal", "",
     "SELECT key, count(*) AS c FROM rt GROUP BY key, 3",
     None, [(1, 1), (2, 1)]),
    ("grouping_id_argument_order", "grouping_id_order", "",
     "SELECT key, value, grouping_id(value, key) AS g FROM rt"
     " GROUP BY key, value WITH ROLLUP",
     None, [(1, "a", 0), (2, "b", 0), (1, None, 2), (2, None, 2),
            (None, None, 3)]),
    ("order_by_map", "unorderable_orderby",
     "", "SELECT map('a', key) AS m FROM rt ORDER BY m",
     None, [({"a": 1},), ({"a": 2},)]),
    ("map_equality", "map_comparison", "",
     "SELECT key FROM rt WHERE map('a', key) = map('a', 1)", None, [(1,)]),
    ("grouping_under_plain_group_by", "grouping_under_group_by", "",
     "SELECT key, grouping(key) AS g FROM rt GROUP BY key",
     None, [(1, 0), (2, 0)]),
    ("partial_cte_column_aliases", "partial_cte_aliases", "",
     "WITH c(a) AS (SELECT key, value FROM rt) SELECT a, value FROM c",
     None, [(1, "a"), (2, "b")]),
    ("literal_filter", "literal_filter", "", "SELECT key FROM rt WHERE 'foo'",
     None, [(1,), (2,)]),
    ("window_over_lateral_alias", "window_agg_alias", "",
     "SELECT value, max(key) mk, rank() OVER (ORDER BY mk) AS r FROM rt"
     " GROUP BY value",
     None, [("a", 1, 1), ("b", 2, 2)]),
    ("window_over_shadowing_alias", "window_agg_alias", "",
     "SELECT value, max(key) AS key, rank() OVER (ORDER BY key) AS r"
     " FROM rt GROUP BY value",
     None, [("a", 1, 1), ("b", 2, 2)]),
    ("order_by_hidden_grouping_column", "orderby_hidden_grouping_col", "",
     "SELECT key FROM rt GROUP BY key, value"
     " GROUPING SETS ((key, value), key) ORDER BY value LIMIT 10",
     None, [(1,), (1,), (2,), (2,)]),
    ("decimal_literal_over_38_digits", "wide_decimal_literal", "",
     "SELECT 10000000000000000000000000000000000000000.5 AS d",
     None, [(1e40,)]),
    ("year_of_interval", "interval_extract", "",
     "SELECT year(INTERVAL '1-2' YEAR TO MONTH) AS y", None, [(1,)]),
    ("varchar_truncated_on_insert", "truncate_charvarchar",
     "DROP TABLE IF EXISTS vc; CREATE TABLE vc (v VARCHAR(3)) USING parquet",
     "INSERT INTO vc VALUES ('abcdef')", "SELECT v FROM vc", [("abc",)]),
    # the length check fails inside the write task, not on the driver
    ("varchar_truncated_from_table_column", "truncate_charvarchar",
     "DROP TABLE IF EXISTS vct;"
     " CREATE TABLE vct (v VARCHAR(3)) USING parquet",
     "INSERT INTO vct SELECT concat(value, 'xxxxx') FROM rt",
     "SELECT v FROM vct", [("axx",), ("bxx",)]),
    ("timestamp_compared_with_number", "binop_coercion", "",
     "SELECT key FROM rt WHERE ts > 0", None, [(1,), (2,)]),
    ("numeric_range_frame_over_string", "string_range_frame", "",
     "SELECT value, sum(key) OVER (ORDER BY value"
     " RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) AS s FROM rt",
     None, [("a", 1), ("b", 2)]),
    ("numeric_range_frame_over_timestamp", "time_range_frame", "",
     "SELECT key, sum(key) OVER (ORDER BY ts"
     " RANGE BETWEEN 10 PRECEDING AND CURRENT ROW) AS s FROM rt",
     None, [(1, 1), (2, 2)]),
    ("values_with_mixed_types", "inline_values",
     "DROP TABLE IF EXISTS ins;"
     " CREATE TABLE ins (a INT, s STRING) USING parquet",
     "INSERT INTO ins VALUES (1,'x'), ('2', 3)",
     "SELECT a, s FROM ins", [(1, "x"), (2, "3")]),
    ("ctas_repeated_expression", "ctas_autoalias",
     "DROP TABLE IF EXISTS ctas_rep",
     "CREATE TABLE ctas_rep USING parquet AS"
     " SELECT key + 1, key + 1 FROM rt",
     "SELECT _c0, _c1 FROM ctas_rep", [(2, 2), (3, 3)]),
    ("insert_overwrite_self_read", "insert_overwrite_selfread",
     "DROP TABLE IF EXISTS selfo;"
     " CREATE TABLE selfo USING parquet AS SELECT key FROM rt",
     "INSERT OVERWRITE TABLE selfo SELECT key + 10 FROM selfo",
     "SELECT key FROM selfo", [(11,), (12,)]),
]


@pytest.fixture(scope="module")
def retry_db(spark):
    run_script(spark, _RETRY_SETUP + "USE default;")
    yield
    run_script(spark, "DROP DATABASE IF EXISTS hqretry CASCADE;")


@pytest.mark.parametrize(
    "rule,setup,stmt,check,expected",
    [c[1:] for c in _RETRY_CASES],
    ids=[c[0] for c in _RETRY_CASES],
)
def test_error_retry_rule(spark, retry_db, rule, setup, stmt, check,
                          expected):
    """Each Hive-legal statement Spark first refuses runs to Hive's
    result through run_script's error retries, and the trace names the
    rule that fixed it."""
    head = "; ".join(filter(None, ["USE hqretry", setup]))
    try:
        out = run_script(
            spark, "; ".join(filter(None, [head, stmt, check])) + ";"
        )
    finally:
        run_script(spark, "USE default;")
    got = [tuple(r) for r in out.results[-1].collect()]
    assert sorted(got, key=repr) == sorted(expected, key=repr)
    assert out.retries == [(len(split_statements(head)), rule)]


def test_every_retry_rule_has_a_case():
    """A rule added to _RETRIES without a case in _RETRY_CASES fails
    here, as does a case naming a rule that no longer exists."""
    from hive_spark.hqlscript import _RETRIES

    assert {fix.__name__.lstrip("_") for _, fix in _RETRIES} == {
        c[1] for c in _RETRY_CASES
    }


def test_execute_retries_like_an_inline_statement(spark, retry_db):
    """A prepared statement gets the same error retries as the same
    statement run inline."""
    try:
        out = run_script(
            spark,
            "USE hqretry;"
            " PREPARE p1 FROM SELECT key FROM rt WHERE 'foo';"
            " EXECUTE p1;"
            " PREPARE p2 FROM SELECT count(*) AS c FROM rt GROUP BY 1;"
            " EXECUTE p2;",
        )
    finally:
        run_script(spark, "USE default;")
    assert sorted(r.key for r in out.results[0].collect()) == [1, 2]
    assert [r.c for r in out.results[1].collect()] == [2]
    assert out.retries == [(2, "literal_filter"), (4, "group_by_literal")]


def test_execute_binds_using_arguments_in_rerunning_rules(spark, retry_db):
    """The two rules that re-run a statement themselves (GROUP BY
    position, self-reading INSERT OVERWRITE) bind EXECUTE's USING
    arguments too."""
    try:
        out = run_script(
            spark,
            "USE hqretry;"
            " PREPARE pg FROM SELECT count(*) AS c FROM rt WHERE key > ?"
            "  GROUP BY 1;"
            " EXECUTE pg USING 1;"
            " DROP TABLE IF EXISTS selfx;"
            " CREATE TABLE selfx USING parquet AS SELECT key FROM rt;"
            " PREPARE pi FROM INSERT OVERWRITE TABLE selfx"
            "  SELECT key + ? FROM selfx;"
            " EXECUTE pi USING 10;"
            " SELECT key FROM selfx;",
        )
    finally:
        run_script(spark, "USE default;")
    assert [r.c for r in out.results[0].collect()] == [1]
    assert sorted(r.key for r in out.results[-1].collect()) == [11, 12]
    assert out.retries == [
        (2, "group_by_literal"), (6, "insert_overwrite_selfread"),
    ]


def test_retry_finds_the_condition_under_a_job_abort(spark, retry_db):
    """A failure inside a task can reach pyspark as a generic job abort,
    which it raises as a bare Py4JJavaError with Spark's error as the
    cause; the retry still finds EXCEED_LIMIT_LENGTH there."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    from hive_spark.hqlscript import _sql_with_retries

    stmt = "INSERT INTO vcj SELECT concat(value, 'xxxxx') FROM rt"
    run_script(
        spark,
        "USE hqretry; DROP TABLE IF EXISTS vcj;"
        " CREATE TABLE vcj (v VARCHAR(3)) USING parquet;",
    )
    try:
        with pytest.raises(PySparkException) as failed:
            spark.sql(stmt)
        abort = spark._jvm.org.apache.spark.SparkException(
            "Job aborted due to stage failure", failed.value._origin
        )

        class FirstRunAborts:
            """The session, except that its first statement fails with
            the wrapped error."""

            aborted = False

            def __getattr__(self, name):
                return getattr(spark, name)

            def sql(self, text, args=None):
                if not self.aborted:
                    self.aborted = True
                    raise Py4JJavaError("job aborted", abort)
                return spark.sql(text, args=args)

        _, rule = _sql_with_retries(FirstRunAborts(), stmt)
        got = sorted(r.v for r in spark.sql("SELECT v FROM vcj").collect())
    finally:
        run_script(spark, "USE default;")
    assert rule == "truncate_charvarchar"
    assert got == ["axx", "bxx"]


# One case per statement kind run_script routes to the engine instead of
# handing it to spark.sql as is. Every case runs in database hqstmt over
# `st` (key INT, value STRING; two rows) and the files under _STMT_DIR.
_STMT_DIR = os.path.join(QTEST_TMP, "hqstmt")
_STMT_SETUP = """
CREATE DATABASE IF NOT EXISTS hqstmt; USE hqstmt;
DROP TABLE IF EXISTS st;
CREATE TABLE st USING parquet AS SELECT * FROM VALUES
 (1, 'a'), (2, 'b') AS t(key, value);
"""
# versioned tables, one per DML case that writes one
_STMT_VERSIONED = ("hq_vu", "hq_vd", "hq_vm", "hq_vi", "hq_vt")
_PARTED = (
    "DROP TABLE IF EXISTS dp;"
    " CREATE TABLE dp (k INT, ds STRING, hr STRING) USING parquet"
    " PARTITIONED BY (ds, hr);"
    " INSERT INTO dp VALUES (1, '1', 'a'), (2, '1', 'b'), (3, '2', 'a')"
)
_STAGE = [("STAGE DEPENDENCIES:",), ("  Stage-0 is a root stage",)]


def _rows(out):
    return [tuple(r) for r in out.results[-1].collect()] if out.results else []


def _dir_lines(path):
    return sorted(
        line
        for f in os.listdir(path) if not f.startswith((".", "_"))
        for line in open(os.path.join(path, f)).read().splitlines()
    )


def _explicit_locks(spark):
    return state(spark).explicit_locks


def _session_entry(registry, spark, name):
    return name in getattr(state(spark), registry)


def _scheduled(spark, name):
    from hive_spark.scheduled import ScheduledQueryRegistry

    return ScheduledQueryRegistry(spark).get(name)


# (case id, the statement row that takes it, setup, statement, check query
# or None for the statement's own rows, expected rows in any order, a
# predicate over (spark, ScriptResult), or the exception the script raises)
_STATEMENT_CASES = [
    ("create_macro", "create_macro", "",
     "CREATE TEMPORARY MACRO hq_twice(x INT) x * 2",
     "SELECT hq_twice(21) AS v", [(42,)]),
    ("drop_macro", "drop_macro", "CREATE TEMPORARY MACRO hq_gone(x INT) x",
     "DROP TEMPORARY MACRO hq_gone", "DESCRIBE FUNCTION hq_gone",
     [("Function 'hq_gone' does not exist.",)]),
    ("prepare", "prepare", "",
     "PREPARE hq_p FROM SELECT key FROM st WHERE key > ?",
     "EXECUTE hq_p USING 1", [(2,)]),
    ("explain_analyze_query", "explain_analyze", "",
     "EXPLAIN ANALYZE SELECT key FROM st WHERE key > 1", None,
     lambda spark, out: "rows=1" in _rows(out)[0][0]),
    ("explain_analyze_dml", "explain_analyze", "",
     "EXPLAIN ANALYZE UPDATE st SET value = 'z'", None,
     [("engine metadata operation: UPDATE ...",)]),
    ("explain_analyze_ctas_creates_nothing", "explain_analyze",
     "DROP TABLE IF EXISTS ea_t",
     "EXPLAIN ANALYZE CREATE TABLE ea_t AS SELECT key FROM st", None,
     lambda spark, out: not spark.catalog.tableExists("hqstmt.ea_t")),
    ("explain_analyze_show", "explain_analyze", "",
     "EXPLAIN ANALYZE SHOW TABLES", None,
     [("side-effect statement (SHOW): plan only",)]),
    ("execute", "execute",
     "PREPARE hq_q FROM SELECT value FROM st WHERE key = ?",
     "EXECUTE hq_q USING 2", None, [("b",)]),
    ("show_locks", "show_locks", "LOCK TABLE hq_lk SHARED",
     "SHOW LOCKS hq_lk", None,
     lambda spark, out: [r[:2] for r in _rows(out)] == [("hq_lk", "SHARED")]),
    ("create_scheduled_query", "create_scheduled_query",
     "DROP SCHEDULED QUERY hq_sq",
     "CREATE SCHEDULED QUERY hq_sq CRON '0 0 * * *' AS SELECT 1", None,
     lambda spark, out: _scheduled(spark, "hq_sq").sql == "SELECT 1"),
    ("execute_scheduled_query", "alter_scheduled_query",
     "CREATE OR REPLACE SCHEDULED QUERY hq_sq2 CRON '0 0 * * *'"
     " AS SELECT 5 AS five",
     "ALTER SCHEDULED QUERY hq_sq2 EXECUTE", None, [(5,)]),
    ("disable_scheduled_query", "alter_scheduled_query",
     "CREATE OR REPLACE SCHEDULED QUERY hq_sq3 CRON '0 0 * * *' AS SELECT 1",
     "ALTER SCHEDULED QUERY hq_sq3 DISABLE", None,
     lambda spark, out: not _scheduled(spark, "hq_sq3").enabled),
    ("drop_scheduled_query", "drop_scheduled_query",
     "CREATE OR REPLACE SCHEDULED QUERY hq_sq4 CRON '0 0 * * *' AS SELECT 1",
     "DROP SCHEDULED QUERY hq_sq4", None,
     lambda spark, out: _scheduled(spark, "hq_sq4") is None),
    ("dfs_mkdir", "shell", "", f"dfs -mkdir -p {_STMT_DIR}/mk", None,
     lambda spark, out: os.path.isdir(f"{_STMT_DIR}/mk")),
    ("bang_touch", "shell", "", f"!touch {_STMT_DIR}/bang.txt", None,
     lambda spark, out: os.path.isfile(f"{_STMT_DIR}/bang.txt")),
    ("bang_other_command_rejected", "shell", "", "!ls /", None, ValueError),
    ("source", "source", "", f"source {_STMT_DIR}/src.q", None, [(7,)]),
    ("rename_table_across_databases", "rename_across_databases",
     "CREATE DATABASE IF NOT EXISTS hqstmt2; DROP TABLE IF EXISTS hqstmt2.rn_b;"
     " DROP TABLE IF EXISTS rn_a;"
     " CREATE TABLE rn_a USING parquet AS SELECT key FROM st",
     "ALTER TABLE hqstmt.rn_a RENAME TO hqstmt2.rn_b",
     "SELECT key FROM hqstmt2.rn_b", [(1,), (2,)]),
    ("rename_table_within_database", "sql",
     "DROP TABLE IF EXISTS rn_c; DROP TABLE IF EXISTS rn_d;"
     " CREATE TABLE rn_c USING parquet AS SELECT key FROM st",
     "ALTER TABLE hqstmt.rn_c RENAME TO hqstmt.rn_d",
     "SELECT key FROM rn_d", [(1,), (2,)]),
    ("rename_view_across_databases", "rename_across_databases",
     "CREATE DATABASE IF NOT EXISTS hqstmt2; DROP VIEW IF EXISTS hqstmt2.rv_b;"
     " DROP VIEW IF EXISTS rv_a; CREATE VIEW rv_a AS SELECT key FROM hqstmt.st",
     "ALTER VIEW hqstmt.rv_a RENAME TO hqstmt2.rv_b",
     "SELECT key FROM hqstmt2.rv_b", [(1,), (2,)]),
    ("create_table_like_file", "create_table_like_file",
     "DROP TABLE IF EXISTS lf_t",
     f"CREATE TABLE lf_t LIKE FILE PARQUET '{_STMT_DIR}/lf/000000_0'",
     "DESCRIBE lf_t", [("key", "int", None), ("value", "string", None)]),
    ("drop_partial_partition_spec", "drop_partitions", _PARTED,
     "ALTER TABLE dp DROP PARTITION (ds='1')", "SHOW PARTITIONS dp",
     [("ds=2/hr=a",)]),
    ("drop_two_partition_specs", "drop_partitions", _PARTED,
     "ALTER TABLE dp DROP PARTITION (ds='1', hr='a'), PARTITION (ds='2', hr='a')",
     "SHOW PARTITIONS dp", [("ds=1/hr=b",)]),
    ("drop_full_partition_spec", "sql", _PARTED,
     "ALTER TABLE dp DROP PARTITION (ds='1', hr='a')", "SHOW PARTITIONS dp",
     [("ds=1/hr=b",), ("ds=2/hr=a",)]),
    ("exchange_partition", "exchange_partition",
     "DROP TABLE IF EXISTS xa; DROP TABLE IF EXISTS xb;"
     " CREATE TABLE xa (k INT, ds STRING) USING parquet PARTITIONED BY (ds);"
     " CREATE TABLE xb (k INT, ds STRING) USING parquet PARTITIONED BY (ds);"
     " INSERT INTO xb VALUES (10, 'x')",
     "ALTER TABLE xa EXCHANGE PARTITION (ds='x') WITH TABLE xb",
     "SELECT k, ds FROM xa", [(10, "x")]),
    ("export", "export", "", f"EXPORT TABLE st TO '{_STMT_DIR}/exp'", None,
     lambda spark, out: os.path.isfile(f"{_STMT_DIR}/exp/_metadata.json")),
    ("import", "import",
     f"DROP TABLE IF EXISTS imp; EXPORT TABLE st TO '{_STMT_DIR}/exp2'",
     f"IMPORT TABLE imp FROM '{_STMT_DIR}/exp2'", "SELECT key, value FROM imp",
     [(1, "a"), (2, "b")]),
    ("add_constraint", "add_constraint", "",
     "ALTER TABLE st ADD CONSTRAINT hq_pk PRIMARY KEY (key) DISABLE NOVALIDATE",
     None, lambda spark, out: _session_entry("constraints", spark, "hq_pk")),
    ("drop_constraint", "drop_constraint",
     "ALTER TABLE st ADD CONSTRAINT hq_uk UNIQUE (value) DISABLE NOVALIDATE",
     "ALTER TABLE st DROP CONSTRAINT hq_uk", None,
     lambda spark, out: not _session_entry("constraints", spark, "hq_uk")),
    ("start_transaction", "transaction", "", "START TRANSACTION",
     "SHOW TRANSACTIONS",
     lambda spark, out: [r[1] for r in _rows(out)] == ["OPEN"]),
    ("commit_without_transaction", "transaction", "", "COMMIT", None,
     ValueError),
    ("create_role", "authorization", "", "CREATE ROLE hq_role", "SHOW ROLES",
     lambda spark, out: ("hq_role",) in _rows(out)),
    ("lock", "lock", "", "LOCK TABLE hq_lk2 EXCLUSIVE", None,
     lambda spark, out: _explicit_locks(spark)["TABLE:hq_lk2"] == "EXCLUSIVE"),
    ("unlock", "unlock", "LOCK TABLE hq_lk3 SHARED", "UNLOCK TABLE hq_lk3",
     None, lambda spark, out: "TABLE:hq_lk3" not in _explicit_locks(spark)),
    ("compact", "compact", "", "ALTER TABLE st COMPACT 'major'",
     "SHOW COMPACTIONS",
     lambda spark, out: _rows(out)[-1][2:6] == ("st", "", "major", "succeeded")),
    ("alter_view_add_partitions", "alter_view_partitions",
     "DROP VIEW IF EXISTS vpa; CREATE VIEW vpa AS SELECT key, value FROM st",
     "ALTER VIEW vpa ADD PARTITION (value='a') PARTITION (value='b')",
     "SHOW PARTITIONS vpa", [("value=a",), ("value=b",)]),
    ("alter_view_drop_partition", "alter_view_partitions",
     "DROP VIEW IF EXISTS vpd; CREATE VIEW vpd AS SELECT key, value FROM st;"
     " ALTER VIEW vpd ADD PARTITION (value='a') PARTITION (value='b')",
     "ALTER VIEW vpd DROP PARTITION (value='a')", "SHOW PARTITIONS vpd",
     [("value=b",)]),
    ("show_view_partitions", "show_view_partitions",
     "DROP VIEW IF EXISTS vps; CREATE VIEW vps AS SELECT key, value FROM st;"
     " ALTER VIEW vps ADD PARTITION (value='a') PARTITION (value='b')",
     "SHOW PARTITIONS vps PARTITION (value='b')", None, [("value=b",)]),
    ("show_table_partitions", "sql", _PARTED, "SHOW PARTITIONS dp", None,
     [("ds=1/hr=a",), ("ds=1/hr=b",), ("ds=2/hr=a",)]),
    ("show_view_partition_extended", "show_view_partition_extended",
     "DROP VIEW IF EXISTS vpx; CREATE VIEW vpx AS SELECT key, value FROM st;"
     " ALTER VIEW vpx ADD PARTITION (value='a')",
     "SHOW TABLE EXTENDED LIKE vpx PARTITION (value='a')", None,
     lambda spark, out: [r[1] for r in _rows(out)] == ["vpx"]),
    ("describe_view_partition", "describe_view_partition",
     "DROP VIEW IF EXISTS vpe; CREATE VIEW vpe AS SELECT key, value FROM st;"
     " ALTER VIEW vpe ADD PARTITION (value='a')",
     "DESCRIBE vpe PARTITION (value='a')", None,
     [("key", "int", None), ("value", "string", None)]),
    ("describe_array_element", "describe_nested_column",
     "DROP TABLE IF EXISTS nx; CREATE TABLE nx"
     " (a ARRAY<STRUCT<x:INT, y:STRING>>, m MAP<STRING, INT>) USING parquet",
     "DESCRIBE nx a.$elem$", None,
     [("x", "int", "from deserializer"), ("y", "string", "from deserializer")]),
    ("describe_map_value", "describe_nested_column",
     "DROP TABLE IF EXISTS nx; CREATE TABLE nx"
     " (a ARRAY<STRUCT<x:INT, y:STRING>>, m MAP<STRING, INT>) USING parquet",
     "DESCRIBE nx m.$value$", None, [("$value$", "int", "from deserializer")]),
    ("explain_show_locks", "explain_engine_statement", "",
     "EXPLAIN SHOW LOCKS", None, _STAGE),
    ("explain_formatted_show_locks", "explain_engine_statement", "",
     "EXPLAIN FORMATTED SHOW LOCKS", None,
     [("engine metadata operation: SHOW ...",)]),
    ("explain_show_compactions", "explain_engine_statement", "",
     "EXPLAIN SHOW COMPACTIONS", None, _STAGE),
    ("explain_create_role", "explain_engine_statement", "",
     "EXPLAIN CREATE ROLE hq_never", None, _STAGE),
    ("explain_show_current_roles", "explain_engine_statement", "",
     "EXPLAIN SHOW CURRENT ROLES", None, _STAGE),
    ("explain_create_macro", "explain_engine_statement", "",
     "EXPLAIN CREATE TEMPORARY MACRO hq_never(x INT) x", None, _STAGE),
    ("explain_show_columns_pattern", "explain_engine_statement", "",
     "EXPLAIN SHOW COLUMNS FROM st 'k*'", None, _STAGE),
    ("explain_show_partitions_where", "explain_engine_statement", _PARTED,
     "EXPLAIN SHOW PARTITIONS dp WHERE ds = '1'", None, _STAGE),
    ("explain_show_partitions", "explain_engine_statement", _PARTED,
     "EXPLAIN SHOW PARTITIONS dp", None,
     [("engine metadata operation: SHOW ...",)]),
    ("explain_lock", "explain_engine_statement", "",
     "EXPLAIN LOCK TABLE st SHARED", None,
     [("engine metadata operation: LOCK ...",)]),
    ("explain_cbo_update", "explain_engine_statement", "",
     "EXPLAIN CBO UPDATE st SET value = 'z'", None,
     [("engine metadata operation: UPDATE ...",)]),
    ("explain_extended_show_create_database", "explain_engine_statement", "",
     "EXPLAIN EXTENDED SHOW CREATE DATABASE hqstmt", None,
     [("engine metadata operation: SHOW ...",)]),
    ("explain_metadata_noop", "explain_engine_statement", "",
     "EXPLAIN ALTER TABLE st SET SERDEPROPERTIES ('a'='b')", None,
     [("engine metadata operation: ALTER ...",)]),
    ("explain_execute", "explain_engine_statement", "",
     "EXPLAIN EXECUTE hq_p", None,
     [("engine metadata operation: EXECUTE ...",)]),
    ("explain_query", "sql", "", "EXPLAIN SELECT key FROM st", None,
     lambda spark, out: "== Physical Plan ==" in _rows(out)[0][0]),
    ("explain_cbo_query", "sql", "", "EXPLAIN CBO SELECT key FROM st", None,
     lambda spark, out: "== Optimized Logical Plan ==" in _rows(out)[0][0]),
    ("show_columns_pattern", "show_columns_matching", "",
     "SHOW COLUMNS FROM st 'v*|k*'", None, [("key",), ("value",)]),
    ("show_sorted_columns", "show_columns_matching", "",
     "SHOW SORTED COLUMNS IN st", None, [("key",), ("value",)]),
    ("show_columns", "sql", "", "SHOW COLUMNS IN st", None,
     [("key",), ("value",)]),
    ("show_partitions_filtered", "show_partitions_filtered", _PARTED,
     "SHOW PARTITIONS dp WHERE hr = 'a' ORDER BY ds DESC LIMIT 1", None,
     [("ds=2/hr=a",)]),
    ("show_partitions_of_spec", "show_partitions_filtered", _PARTED,
     "SHOW PARTITIONS dp PARTITION (ds='1')", None,
     [("ds=1/hr=a",), ("ds=1/hr=b",)]),
    ("show_compactions", "show_compactions",
     "ALTER TABLE st COMPACT 'minor'", "SHOW COMPACTIONS", None,
     lambda spark, out: _rows(out)[-1][2:6] == ("st", "", "minor", "succeeded")),
    ("show_transactions", "show_transactions", "", "SHOW TRANSACTIONS", None,
     []),
    ("add_jar", "add_resource", "", "ADD JAR /nonexistent/hq.jar", None,
     lambda spark, out: out.skipped == ["ADD JAR /nonexistent/hq.jar"]),
    ("add_file", "add_resource", "", f"ADD FILE {_STMT_DIR}/src.q", None,
     lambda spark, out: _session_entry("added_files", spark, "src.q")),
    ("metadata_noop", "metadata_noop", "",
     "ALTER TABLE st SET SERDEPROPERTIES ('a'='b')", None,
     lambda spark, out: out.skipped
     == ["ALTER TABLE st SET SERDEPROPERTIES ('a'='b')"]),
    ("explain_locks", "explain_special", "",
     "EXPLAIN LOCKS SELECT * FROM st", None, [("st", "SHARED_READ")]),
    ("create_materialized_view", "create_materialized_view",
     "DROP MATERIALIZED VIEW IF EXISTS mv1",
     "CREATE MATERIALIZED VIEW mv1 AS SELECT key FROM st",
     "SELECT key FROM mv1", [(1,), (2,)]),
    ("drop_materialized_view", "drop_materialized_view",
     "CREATE MATERIALIZED VIEW IF NOT EXISTS mv2 AS SELECT key FROM st",
     "DROP MATERIALIZED VIEW mv2", None,
     lambda spark, out: not spark.catalog.tableExists("hqstmt.mv2")),
    ("show_materialized_views", "show_materialized_views",
     "CREATE MATERIALIZED VIEW IF NOT EXISTS mv3 AS SELECT key FROM st",
     "SHOW MATERIALIZED VIEWS", None,
     lambda spark, out: ("mv3", "Yes", "Manual refresh") in _rows(out)),
    ("rebuild_materialized_view", "rebuild_materialized_view",
     "DROP MATERIALIZED VIEW IF EXISTS mv4; DROP TABLE IF EXISTS mvb;"
     " CREATE TABLE mvb USING parquet AS SELECT 1 AS k;"
     " CREATE MATERIALIZED VIEW mv4 AS SELECT k FROM mvb;"
     " INSERT INTO mvb VALUES (2)",
     "ALTER MATERIALIZED VIEW mv4 REBUILD", "SELECT k FROM mv4",
     [(1,), (2,)]),
    ("create_external_complex_text", "create_external_complex_text", "",
     "CREATE EXTERNAL TABLE ext_c (id INT, tags ARRAY<STRING>)"
     f" ROW FORMAT DELIMITED STORED AS TEXTFILE LOCATION '{_STMT_DIR}/ext'",
     "SELECT id, size(tags) AS n FROM ext_c", [(1, 2)]),
    ("create_external_primitive_text", "sql", "DROP TABLE IF EXISTS ext_p",
     "CREATE EXTERNAL TABLE ext_p (id INT, s STRING) ROW FORMAT DELIMITED"
     " FIELDS TERMINATED BY ',' STORED AS TEXTFILE"
     f" LOCATION '{_STMT_DIR}/extp'",
     "SELECT id, s FROM ext_p", [(1, "a"), (2, "b")]),
    ("insert_directory", "insert_directory", "",
     f"INSERT OVERWRITE DIRECTORY '{_STMT_DIR}/out1' SELECT key, value FROM st",
     None, lambda spark, out: _dir_lines(f"{_STMT_DIR}/out1")
     == ["1\x01a", "2\x01b"]),
    ("multi_insert_with_directory", "multi_insert_with_directories",
     "DROP TABLE IF EXISTS mi_t; CREATE TABLE mi_t (key INT) USING parquet",
     f"FROM st INSERT OVERWRITE DIRECTORY '{_STMT_DIR}/out2'"
     " SELECT key WHERE key = 1"
     " INSERT OVERWRITE TABLE mi_t SELECT key WHERE key = 2",
     "SELECT key FROM mi_t",
     lambda spark, out: _rows(out) == [(2,)]
     and _dir_lines(f"{_STMT_DIR}/out2") == ["1"]),
    ("update_columns", "update_columns", "",
     "ALTER TABLE st UPDATE COLUMNS CASCADE", "SELECT key, value FROM st",
     [(1, "a"), (2, "b")]),
    ("drop_column", "alter_columns",
     "DROP TABLE IF EXISTS ac; CREATE TABLE ac USING parquet AS SELECT * FROM st",
     "ALTER TABLE ac DROP COLUMN value", "SELECT * FROM ac", [(1,), (2,)]),
    ("replace_columns_comma_in_comment", "alter_columns",
     "DROP TABLE IF EXISTS rc;"
     " CREATE TABLE rc USING parquet AS SELECT * FROM st",
     "ALTER TABLE rc REPLACE COLUMNS (a int COMMENT 'id, key', b string)",
     "DESCRIBE rc", [("a", "int", None), ("b", "string", None)]),
    ("alter_table_properties", "sql",
     "DROP TABLE IF EXISTS ac2;"
     " CREATE TABLE ac2 USING parquet AS SELECT * FROM st",
     "ALTER TABLE ac2 SET TBLPROPERTIES ('hq'='1')",
     "SHOW TBLPROPERTIES ac2 ('hq')", [("hq", "1")]),
    ("truncate_columns", "truncate_columns",
     "DROP TABLE IF EXISTS tc; CREATE TABLE tc USING parquet AS SELECT * FROM st",
     "TRUNCATE TABLE tc COLUMNS (value)", "SELECT key, value FROM tc",
     [(1, None), (2, None)]),
    ("show_create_database", "show_create_database", "",
     "SHOW CREATE DATABASE hqstmt", None,
     lambda spark, out: _rows(out)[0][0].startswith(
         "CREATE DATABASE `hqstmt`\nLOCATION\n  'file:")),
    ("reset_key", "reset", "SET hq.reset.key=1", "RESET hq.reset.key", None,
     lambda spark, out: "hq.reset.key" not in out.set_commands),
    ("set", "set", "", "SET hq.set.key=5", "SET hq.set.key",
     [("hq.set.key", "5")]),
    ("load_data", "load_data",
     "DROP TABLE IF EXISTS ld;"
     " CREATE TABLE ld (k INT, v STRING) ROW FORMAT DELIMITED"
     " STORED AS TEXTFILE",
     f"LOAD DATA LOCAL INPATH '{_STMT_DIR}/load.txt' INTO TABLE ld",
     "SELECT k, v FROM ld", [(1, "a")]),
    ("default_storage_handler", "sql", "DROP TABLE IF EXISTS dsh",
     "CREATE TABLE dsh (k INT) STORED BY"
     " 'org.apache.hadoop.hive.ql.metadata.DefaultStorageHandler'",
     "SELECT count(*) FROM dsh", [(0,)]),
    ("register_dboutput", "register_dboutput", "",
     "CREATE TEMPORARY FUNCTION dboutput AS"
     " 'org.apache.hadoop.hive.contrib.genericudf.example.GenericUDFDBOutput'",
     None, lambda spark, out: len(out.skipped) == 1),
    ("describe_folded_function", "describe_folded_function", "",
     "DESCRIBE FUNCTION likeany", None,
     [("likeany is an engine-folded function (rewritten inline at parse time)",)]),
    ("describe_missing_function", "describe_missing_function", "",
     "DESC FUNCTION EXTENDED hq_nope", None,
     [("Function 'hq_nope' does not exist.",)]),
    ("describe_catalog_function", "sql", "", "DESCRIBE FUNCTION upper", None,
     lambda spark, out: _rows(out)[0][0] == "Function: upper"),
    ("create_matchpath_alias", "create_matchpath_alias", "",
     "CREATE TEMPORARY FUNCTION hq_mp AS"
     " 'org.apache.hadoop.hive.ql.udf.ptf.MatchPath'", None,
     lambda spark, out: _session_entry("matchpath_fns", spark, "hq_mp")),
    ("create_folded_function", "create_folded_function", "",
     "CREATE TEMPORARY FUNCTION hq_len AS"
     " 'org.apache.hadoop.hive.ql.udf.UDFTestLength'",
     "SELECT hq_len('abc') AS n", [(3,)]),
    ("drop_folded_function", "drop_folded_function",
     "CREATE TEMPORARY FUNCTION hq_len2 AS"
     " 'org.apache.hadoop.hive.ql.udf.UDFTestLength'",
     "DROP TEMPORARY FUNCTION hq_len2", None,
     lambda spark, out: not _session_entry("func_folds", spark, "hq_len2")),
    ("drop_matchpath_alias", "drop_matchpath_alias",
     "CREATE TEMPORARY FUNCTION hq_mp2 AS"
     " 'org.apache.hadoop.hive.ql.udf.ptf.MatchPath'",
     "DROP TEMPORARY FUNCTION hq_mp2", None,
     lambda spark, out: not _session_entry("matchpath_fns", spark, "hq_mp2")),
    ("update_path_table", "update",
     "DROP TABLE IF EXISTS up; CREATE TABLE up USING parquet AS SELECT * FROM st",
     "UPDATE up SET value = 'z' WHERE key = 1", "SELECT key, value FROM up",
     [(1, "z"), (2, "b")]),
    ("update_bucketed_table", "update",
     "DROP TABLE IF EXISTS ub; CREATE TABLE ub (key INT, value STRING)"
     " USING parquet CLUSTERED BY (key) INTO 2 BUCKETS;"
     " INSERT INTO ub SELECT * FROM st",
     "UPDATE ub SET value = 'z' WHERE key = 1", "SELECT key, value FROM ub",
     [(1, "z"), (2, "b")]),
    ("update_versioned_table", "update", "",
     "UPDATE hq_vu SET value = 'z' WHERE key = 1",
     "SELECT key, value FROM hq_vu", [(1, "z"), (2, "b")]),
    ("delete_path_table", "delete",
     "DROP TABLE IF EXISTS dl; CREATE TABLE dl USING parquet AS SELECT * FROM st",
     "DELETE FROM dl WHERE key = 1", "SELECT key, value FROM dl",
     [(2, "b")]),
    ("delete_bucketed_table", "delete",
     "DROP TABLE IF EXISTS db; CREATE TABLE db (key INT, value STRING)"
     " USING parquet CLUSTERED BY (key) INTO 2 BUCKETS;"
     " INSERT INTO db SELECT * FROM st",
     "DELETE FROM db WHERE key = 1", "SELECT key, value FROM db", [(2, "b")]),
    ("delete_versioned_table", "delete", "", "DELETE FROM hq_vd WHERE key = 2",
     "SELECT key, value FROM hq_vd", [(1, "a")]),
    ("insert_versioned_table", "insert_versioned", "",
     "INSERT INTO hq_vi SELECT 3, 'c'", "SELECT key, value FROM hq_vi",
     [(1, "a"), (2, "b"), (3, "c")]),
    ("truncate_versioned_table", "truncate_versioned", "",
     "TRUNCATE TABLE hq_vt", "SELECT count(*) FROM hq_vt", [(0,)]),
    ("merge_path_table", "merge",
     "DROP TABLE IF EXISTS mg; CREATE TABLE mg USING parquet AS SELECT * FROM st",
     "MERGE INTO mg t USING (SELECT 2 AS k, 'y' AS v UNION ALL"
     " SELECT 3, 'c') s ON t.key = s.k"
     " WHEN MATCHED THEN UPDATE SET value = s.v"
     " WHEN NOT MATCHED THEN INSERT VALUES (s.k, s.v)",
     "SELECT key, value FROM mg", [(1, "a"), (2, "y"), (3, "c")]),
    ("merge_bucketed_table", "merge",
     "DROP TABLE IF EXISTS mb; CREATE TABLE mb (key INT, value STRING)"
     " USING parquet CLUSTERED BY (key) INTO 2 BUCKETS;"
     " INSERT INTO mb SELECT * FROM st",
     "MERGE INTO mb t USING st s ON t.key = s.key"
     " WHEN MATCHED AND s.key = 1 THEN DELETE",
     "SELECT key, value FROM mb", [(2, "b")]),
    ("merge_versioned_table", "merge", "",
     "MERGE INTO hq_vm t USING st s ON t.key = s.key + 1"
     " WHEN MATCHED THEN UPDATE SET value = 'm'"
     " WHEN NOT MATCHED THEN INSERT VALUES (s.key + 1, 'n')",
     "SELECT key, value FROM hq_vm", [(1, "a"), (2, "m"), (3, "n")]),
    ("select", "sql", "", "SELECT key FROM st WHERE key > 1", None, [(2,)]),
    ("lateral_values_paren_in_string", "sql", "",
     "SELECT v.x, v.y FROM (SELECT 1 AS k) t,"
     " LATERAL TABLE(VALUES ('a)', 1), ('b', 2)) AS v(x, y)",
     None, [("a)", 1), ("b", 2)]),
    ("qualify_paren_in_backticks", "sql", "",
     "SELECT `a(b`, r FROM (SELECT 1 AS `a(b`, 1 AS r) t"
     " QUALIFY row_number() OVER (ORDER BY r) = 1", None, [(1, 1)]),
    ("union_fns_paren_in_backticks", "sql", "",
     "SELECT extract_union(create_union(0, `x)y`, 'b'))"
     " FROM (SELECT 'a' AS `x)y`) t", None, [((0, "a", None),)]),
    ("matchpath", "sql", "",
     "SELECT key, n FROM matchpath(on st sort by key arg1('A+'), arg2('A'),"
     " arg3(key > 0), arg4('key, size(tpath) AS n'))", None,
     [(1, 2), (2, 1)]),
    ("dynamic_partition_overwrite", "sql",
     "DROP TABLE IF EXISTS dyn;"
     " CREATE TABLE dyn (k INT, ds STRING) USING parquet PARTITIONED BY (ds);"
     " INSERT INTO dyn VALUES (1, 'a'), (2, 'b')",
     "INSERT OVERWRITE TABLE dyn PARTITION (ds) SELECT 9, 'a'",
     "SELECT k, ds FROM dyn",
     lambda spark, out: sorted(_rows(out)) == [(2, "b"), (9, "a")]
     and spark.conf.get("spark.sql.sources.partitionOverwriteMode").upper()
     == "STATIC"),
]


@pytest.fixture(scope="module")
def stmt_db(spark):
    import shutil

    from hive_spark import snapshots
    from hive_spark.hqlscript import VERSIONED_TABLES, register_versioned

    shutil.rmtree(_STMT_DIR, ignore_errors=True)
    for sub in ("lf", "ext", "extp"):
        os.makedirs(os.path.join(_STMT_DIR, sub))
    with open(os.path.join(_STMT_DIR, "src.q"), "w") as f:
        f.write("SELECT 7 AS seven;\n")
    with open(os.path.join(_STMT_DIR, "load.txt"), "w") as f:
        f.write("1\x01a\n")
    with open(os.path.join(_STMT_DIR, "ext", "data.txt"), "w") as f:
        f.write("1\x01a\x02b\n")
    with open(os.path.join(_STMT_DIR, "extp", "data.txt"), "w") as f:
        f.write("1,a\n2,b\n")
    rows = spark.createDataFrame([(1, "a"), (2, "b")], "key int, value string")
    rows.write.mode("overwrite").parquet(os.path.join(_STMT_DIR, "lf"))
    for name in _STMT_VERSIONED:
        path = os.path.join(_STMT_DIR, name)
        snapshots.write_version(rows, path)
        register_versioned(name, path)
    run_script(spark, _STMT_SETUP + "USE default;")
    yield
    for name in _STMT_VERSIONED:
        VERSIONED_TABLES.pop(name, None)
        spark.catalog.dropTempView(name)
    run_script(
        spark,
        "DROP DATABASE IF EXISTS hqstmt CASCADE;"
        " DROP DATABASE IF EXISTS hqstmt2 CASCADE;",
    )
    shutil.rmtree(_STMT_DIR, ignore_errors=True)


@pytest.mark.parametrize(
    "row,setup,stmt,check,expected",
    [c[1:] for c in _STATEMENT_CASES],
    ids=[c[0] for c in _STATEMENT_CASES],
)
def test_statement_row(spark, stmt_db, row, setup, stmt, check, expected):
    """Each statement kind the engine runs itself gives Hive's rows or
    effect, and the trace names the row that took it."""
    head = "; ".join(filter(None, ["USE hqstmt", setup]))
    script = "; ".join(filter(None, [head, stmt, check])) + ";"
    try:
        if isinstance(expected, type):
            with pytest.raises(expected):
                run_script(spark, script)
            return
        out = run_script(spark, script)
    finally:
        run_script(spark, "USE default;")
    if callable(expected):
        assert expected(spark, out)
    else:
        assert sorted(_rows(out), key=repr) == sorted(expected, key=repr)
    idx = len(split_statements(head))
    assert out.handled[idx] == (idx, row)


def test_explain_reads_the_statement_rows(spark, stmt_db):
    """EXPLAIN and EXPLAIN ANALYZE describe every statement through its
    _STATEMENTS row, so forms no hand-kept list named (SHOW ROLES, a
    moded EXPLAIN of a role or macro statement, EXPLAIN ANALYZE of LOCK)
    get the descriptor instead of a Spark parse error."""
    out = run_script(
        spark,
        "USE hqstmt;"
        " EXPLAIN SHOW ROLES;"
        " EXPLAIN FORMATTED CREATE ROLE hq_never;"
        " EXPLAIN EXTENDED CREATE TEMPORARY MACRO hq_never(x INT) x;"
        " EXPLAIN ANALYZE LOCK TABLE st SHARED;"
        " USE default;",
    )
    assert [[tuple(r) for r in df.collect()] for df in out.results] == [
        _STAGE,
        [("engine metadata operation: CREATE ...",)],
        [("engine metadata operation: CREATE ...",)],
        [("engine metadata operation: LOCK ...",)],
    ]


def test_every_statement_row_has_a_case():
    """A row added to _STATEMENTS without a case in _STATEMENT_CASES
    fails here, as does a case naming a row that no longer exists."""
    from hive_spark.hqlscript import _STATEMENTS

    assert {row[0] for row in _STATEMENTS} == {
        c[1] for c in _STATEMENT_CASES if not isinstance(c[5], type)
    }


def test_drop_of_builtin_matchpath_is_refused(spark, stmt_db):
    """DROP TEMPORARY FUNCTION matchpath drops no alias: Spark refuses it,
    as in a session that made no alias, and the MatchPath PTF keeps its
    name in a session that made one."""
    from pyspark.errors import AnalysisException

    try:
        run_script(
            spark,
            "CREATE TEMPORARY FUNCTION hq_mp4 AS"
            " 'org.apache.hadoop.hive.ql.udf.ptf.MatchPath';",
        )
        with pytest.raises(AnalysisException, match="ROUTINE_NOT_FOUND"):
            run_script(spark, "DROP TEMPORARY FUNCTION matchpath;")
        out = run_script(
            spark,
            "USE hqstmt; SELECT key, n FROM matchpath(on st sort by key"
            " arg1('A+'), arg2('A'), arg3(key > 0),"
            " arg4('key, size(tpath) AS n'));",
        )
    finally:
        run_script(spark, "DROP TEMPORARY FUNCTION IF EXISTS hq_mp4; USE default;")
    assert sorted(_rows(out)) == [(1, 2), (2, 1)]


def test_explicit_lock_is_advisory(spark):
    """LOCK TABLE takes an advisory session lock, as Hive's DbTxnManager
    does for explicit locks: SHOW LOCKS lists it, and it excludes no
    writer, so the table's write lock is still granted."""
    from hive_spark.hqlscript import VERSIONED_TABLES, register_versioned
    from hive_spark.txn import write_lock

    path = os.path.join(QTEST_TMP, "hq_advisory")
    register_versioned("hq_advisory", path)
    try:
        out = run_script(
            spark, "LOCK TABLE hq_advisory EXCLUSIVE; SHOW LOCKS hq_advisory;"
        )
        assert _rows(out) == [("hq_advisory", "EXCLUSIVE", os.getpid(), True)]
        with write_lock(path, timeout=1.0):
            pass
    finally:
        run_script(spark, "UNLOCK TABLE hq_advisory;")
        VERSIONED_TABLES.pop("hq_advisory", None)


_RW_DIR = os.path.join(QTEST_TMP, "hqrw")
_RW_SCRIPT = os.path.join(_RW_DIR, "rw_script.py")
_FOLDED_UPPER = (
    "CREATE TEMPORARY FUNCTION hqrw_up AS"
    " 'org.apache.hadoop.hive.ql.udf.generic.GenericUDFUpper'"
)

# Each HiveQL-text rewrite on a statement that needs it: (case id, the
# _REWRITES row that rewrites it, setup script, statement, the text
# rewrite_statement hands to spark.sql). Rows that bundle several steps
# on one statement kind have one case per step.
_REWRITE_CASES = [
    ("backtick_trim", "backtick_trim", "",
     "SELECT ` key ` FROM t",
     "SELECT `key` FROM t"),
    ("lateral_table_values", "lateral_table_values", "",
     "SELECT v.x FROM t, LATERAL TABLE(VALUES (1, 'a'), (2, 'b')) AS "
     "v(x, y)",
     "SELECT v.x FROM t LATERAL VIEW INLINE(ARRAY(named_struct('col1', "
     "(1), 'col2', ('a')), named_struct('col1', (2), 'col2', ('b')))) v "
     "AS x, y"),
    ("lateral_table_values_default_columns", "lateral_table_values", "",
     "SELECT v.col1 FROM t, LATERAL TABLE(VALUES (1, 'a'), (2, 'b')) AS v",
     "SELECT v.col1 FROM t LATERAL VIEW INLINE(ARRAY(named_struct('col1', "
     "(1), 'col2', ('a')), named_struct('col1', (2), 'col2', ('b')))) v "
     "AS col1, col2"),
    ("alt_intervals", "alt_intervals", "",
     "SELECT ts + 2 days FROM t",
     "SELECT ts + INTERVAL '2' DAY FROM t"),
    ("hypothetical_set", "hypothetical_set", "",
     "SELECT rank(3) WITHIN GROUP (ORDER BY k) FROM t",
     "SELECT CAST(COUNT(CASE WHEN k < (3) THEN 1 END) + 1 AS BIGINT) "
     "FROM t"),
    ("uniquejoin", "uniquejoin", "",
     "FROM UNIQUEJOIN PRESERVE t1 a (a.k), t2 b (b.k) SELECT a.k, b.k",
     "SELECT a.k, b.k\nFROM (SELECT a.*, (a.k) AS _uj_k0, TRUE AS _uj_p "
     "FROM t1 a) a\nFULL OUTER JOIN (SELECT b.*, (b.k) AS _uj_k0, TRUE "
     "AS _uj_p FROM t2 b) b ON coalesce(a._uj_k0) = b._uj_k0\nWHERE "
     "a._uj_p IS NOT NULL OR (a._uj_p IS NOT NULL AND b._uj_p IS NOT "
     "NULL)"),
    ("uniontype", "uniontype", "",
     "CREATE TABLE u (c UNIONTYPE<int, string>)",
     "CREATE TABLE u (c STRUCT<tag:INT, field0:int, field1:string>)"),
    ("union_fns", "union_fns", "",
     "SELECT extract_union(create_union(0, k, v), 0) FROM t",
     "SELECT (named_struct('tag', CAST((0) AS INT), 'field0', CASE WHEN "
     "CAST((0) AS INT) = 0 THEN k END, 'field1', CASE WHEN CAST((0) AS "
     "INT) = 1 THEN v END)).field0 FROM t"),
    ("kll_fns", "kll_fns", "",
     "SELECT ds_kll_n(ds_kll_sketch(k)) FROM t",
     "SELECT CAST(size(array_sort(collect_list(CAST((k) AS FLOAT)))) AS "
     "BIGINT) FROM t"),
    ("gap_fns", "gap_fns", "",
     "SELECT approx_distinct(k), stddev(k), mid(v, 2) FROM t",
     "SELECT approx_count_distinct(k), stddev_pop(k), substr(v, 2) FROM t"),
    ("quantified_cmp", "quantified_cmp", "",
     "SELECT k FROM t WHERE k <> ALL (SELECT k FROM s)",
     "SELECT k FROM t WHERE (CASE WHEN (SELECT count(*) FROM (SELECT k "
     "FROM s) _qsub) = 0 THEN TRUE WHEN (k) IS NULL THEN CAST(NULL AS "
     "BOOLEAN) WHEN (SELECT count(*) FROM (SELECT k FROM s) _qsub(_qv) "
     "WHERE _qv = (k)) > 0 THEN FALSE WHEN (SELECT count(*) - count(_qv) "
     "FROM (SELECT k FROM s) _qsub(_qv)) > 0 THEN CAST(NULL AS BOOLEAN) "
     "ELSE TRUE END)"),
    ("group_by_empty", "group_by_empty", "",
     "SELECT count(*) FROM t GROUP BY ()",
     "SELECT count(*) FROM t GROUP BY GROUPING SETS(())"),
    ("compute_stats", "compute_stats", "",
     "SELECT compute_stats(k, 'hll') FROM t",
     "SELECT named_struct('count', count(k), 'numnulls', sum(CASE WHEN k "
     "IS NULL THEN 1 ELSE 0 END), 'ndv', count(DISTINCT k)) FROM t"),
    ("arity_fns", "arity_fns", "",
     "SELECT add_months(d, 1, 'yyyy-MM'), grouping(a, b) FROM t",
     "SELECT date_format(add_months(d, 1), 'yyyy-MM'), grouping_id(a, b) "
     "FROM t"),
    ("distinct_having", "distinct_having", "",
     "SELECT DISTINCT k FROM t HAVING count(*) > 1",
     "SELECT DISTINCT k FROM t GROUP BY k HAVING count(*) > 1"),
    ("distinct_orderby_alias", "distinct_orderby_alias", "",
     "SELECT DISTINCT k + 1 AS k1 FROM t ORDER BY k + 1",
     "SELECT DISTINCT k + 1 AS k1 FROM t ORDER BY k1 "),
    ("qualify", "qualify", "",
     "SELECT k FROM t QUALIFY row_number() OVER (ORDER BY k) = 1",
     "SELECT * EXCEPT (__qualify__) FROM (SELECT k, (row_number() OVER "
     "(ORDER BY k) = 1) AS __qualify__ FROM t) __qsub WHERE __qualify__ "),
    ("distinct_windows", "distinct_windows", "",
     "SELECT count(DISTINCT k) OVER (PARTITION BY v) FROM t",
     "SELECT size(collect_set(k) OVER (PARTITION BY v)) FROM t"),
    ("orderby_window_ordinal", "orderby_window_ordinal", "",
     "SELECT k, rank() OVER (ORDER BY k) FROM t ORDER BY rank() OVER "
     "(ORDER BY k)",
     "SELECT k, rank() OVER (ORDER BY k) FROM t ORDER BY 2"),
    ("floor_to", "floor_to", "",
     "SELECT floor(ts TO day) FROM t",
     "SELECT date_trunc('DAY', ts) FROM t"),
    ("bare_interval_literal", "bare_interval_literal", "",
     "SELECT '1 2:3:4' DAY TO SECOND",
     "SELECT INTERVAL '1 2:3:4' DAY TO SECOND"),
    ("double_precision", "double_precision", "",
     "CREATE TABLE d (x double precision)",
     "CREATE TABLE d (x double)"),
    ("charset_literal", "charset_literal", "",
     "SELECT _UTF-8 0x41",
     "SELECT decode(unhex('41'), 'UTF-8')"),
    ("xor_concat", "xor_concat", "",
     "SELECT 0 ^ 1 || '2'",
     "SELECT (0 ^ 1) || '2'"),
    ("in_boolean_test", "in_boolean_test", "",
     "SELECT k IN (1, 2) IS NOT TRUE FROM t",
     "SELECT (k IN (1, 2)) IS NOT TRUE FROM t"),
    ("truncate_force", "truncate_force", "",
     "TRUNCATE TABLE t FORCE",
     "TRUNCATE TABLE t"),
    ("alter_table_set_owner", "alter_table_set_owner", "",
     "ALTER TABLE t SET OWNER ROLE admin",
     "ALTER TABLE t SET TBLPROPERTIES ('hive.owner.type'='role', "
     "'hive.owner'='admin')"),
    ("create_view_autoalias", "create_view_autoalias", "",
     "CREATE VIEW v AS SELECT 1 + 1, 'x'",
     "CREATE VIEW v AS  SELECT 1 + 1 AS _c0 , 'x' AS _c1 "),
    ("truncate_wildcard_partition", "truncate_wildcard_partition", "",
     "TRUNCATE TABLE t PARTITION (ds='1', hr)",
     "TRUNCATE TABLE t PARTITION (ds='1')"),
    ("truncate_table_keyword", "truncate_table_keyword", "",
     "TRUNCATE t",
     "TRUNCATE TABLE t"),
    ("drop_column_cascade", "drop_column_cascade", "",
     "ALTER TABLE t DROP COLUMN c CASCADE",
     "ALTER TABLE t DROP COLUMN c"),
    ("added_file_paths", "added_file_paths", f"ADD FILE {_RW_SCRIPT}",
     "SELECT TRANSFORM(k) USING 'python rw_script.py' FROM t",
     f"SELECT TRANSFORM(k) USING 'python {_RW_SCRIPT}' "
     "FROM t"),
    ("transform_using", "transform_using", "",
     "SELECT TRANSFORM(k) USING 'tr _ \\n' FROM t",
     'SELECT TRANSFORM(k) USING "tr _ \'\n\'" FROM t'),
    ("drop_if_exists", "drop_if_exists", "",
     "DROP TABLE t",
     "DROP TABLE IF EXISTS t"),
    ("timestamp_with_local_time_zone", "timestamp_local_tz", "",
     "CREATE TABLE z (ts TIMESTAMP WITH LOCAL TIME ZONE)",
     "CREATE TABLE z (ts TIMESTAMP)"),
    ("timestamplocaltz", "timestamp_local_tz", "",
     "CREATE TABLE z (ts TIMESTAMPLOCALTZ)",
     "CREATE TABLE z (ts TIMESTAMP)"),
    ("show_table_extended_like", "show_table_extended", "",
     "SHOW TABLE EXTENDED LIKE `part*`",
     "SHOW TABLE EXTENDED LIKE 'part*'"),
    ("show_table_extended_from", "show_table_extended", "",
     "SHOW TABLE EXTENDED FROM db LIKE 'p*'",
     "SHOW TABLE EXTENDED IN db LIKE 'p*'"),
    ("pfile_scheme", "pfile_scheme", "",
     "CREATE TABLE p (a int) LOCATION 'pfile:///x/p'",
     "CREATE TABLE p (a int) LOCATION 'file:///x/p'"),
    ("show_tables_quoted_pattern", "show_tables_pattern", "",
     "SHOW TABLES 'p*'",
     "SHOW TABLES LIKE 'p*'"),
    ("show_extended_tables", "show_tables_pattern", "",
     "SHOW EXTENDED TABLES IN db",
     "SHOW TABLES IN db"),
    ("show_tables_bare_pattern", "show_tables_pattern", "",
     "SHOW TABLES alter1_db",
     "SHOW TABLES LIKE 'alter1_db'"),
    ("show_functions_pattern", "show_tables_pattern", "",
     "SHOW FUNCTIONS 'x*'",
     "SHOW FUNCTIONS LIKE 'x*'"),
    ("limit_offset_comma", "limit_offset_comma", "",
     "SELECT k FROM t LIMIT 5, 10",
     "SELECT k FROM t LIMIT 10 OFFSET 5"),
    ("hdfs_tmp", "hdfs_paths", "",
     "CREATE TABLE h (a int) LOCATION 'hdfs:///tmp/h'",
     "CREATE TABLE h (a int) LOCATION 'file:///tmp/h'"),
    ("hdfs_target", "hdfs_paths", "",
     "CREATE TABLE h (a int) LOCATION 'hdfs:/target/h'",
     f"CREATE TABLE h (a int) LOCATION 'file://{QTEST_TMP}/target/h'"),
    ("bare_tmp_location", "bare_tmp_location", "",
     "ALTER TABLE t SET LOCATION 'file:///tmp'",
     f"ALTER TABLE t SET LOCATION 'file://{QTEST_TMP}/tmp_root'"),
    ("database_set_owner", "database_location", "",
     "ALTER DATABASE d SET OWNER USER u1",
     "ALTER DATABASE d SET DBPROPERTIES ('hive.owner.type'='user', "
     "'hive.owner'='u1')"),
    ("database_set_managedlocation", "database_location", "",
     "ALTER DATABASE d SET MANAGEDLOCATION '/m'",
     "ALTER DATABASE d SET DBPROPERTIES ('hive.managedlocation'='/m')"),
    ("database_managedlocation", "database_location", "",
     "CREATE DATABASE d MANAGEDLOCATION '/m'",
     "CREATE DATABASE d "),
    ("database_root_location", "database_location", "",
     "CREATE DATABASE d LOCATION '/x/d'",
     f"CREATE DATABASE d LOCATION '{QTEST_TMP}/x/d'"),
    ("describe_partition_column", "describe_partition_column", "",
     "DESCRIBE FORMATTED t PARTITION (ds='1') key",
     "DESCRIBE FORMATTED t key"),
    ("alter_columns_cascade", "alter_columns_cascade", "",
     "ALTER TABLE t ADD COLUMNS (c int) CASCADE",
     "ALTER TABLE t ADD COLUMNS (c int)"),
    ("window_specs", "window_specs", "",
     "SELECT sum(k) OVER (DISTRIBUTE BY v SORT BY k) FROM t",
     "SELECT sum(k) OVER (PARTITION BY v ORDER BY k) FROM t"),
    ("ptf_noop", "ptf_noop", "",
     "SELECT * FROM noop(on t partition by k)",
     "SELECT * FROM (SELECT * FROM t)"),
    ("ignore_nulls_inside", "ignore_nulls_inside", "",
     "SELECT first_value(k IGNORE NULLS) OVER (ORDER BY k) FROM t",
     "SELECT first_value(k) IGNORE NULLS OVER (ORDER BY k) FROM t"),
    ("convert_to_acid", "convert_to_acid", "",
     "ALTER TABLE t CONVERT TO ACID",
     "ALTER TABLE t SET TBLPROPERTIES ('transactional'='true')"),
    ("insert_overwrite_if_not_exists", "insert_overwrite_if_not_exists", "",
     "INSERT OVERWRITE TABLE t PARTITION (ds='1') IF NOT EXISTS SELECT 1",
     "INSERT OVERWRITE TABLE t PARTITION (ds='1')  SELECT 1"),
    ("explain_formatted_cbo", "explain_mode", "",
     "EXPLAIN FORMATTED CBO SELECT 1",
     "EXPLAIN FORMATTED SELECT 1"),
    ("explain_rewrite", "explain_mode", "",
     "EXPLAIN REWRITE SELECT 1",
     "EXPLAIN EXTENDED SELECT 1"),
    ("explain_formatted_debug", "explain_mode", "",
     "EXPLAIN FORMATTED DEBUG SELECT 1",
     "EXPLAIN FORMATTED SELECT 1"),
    ("explain_cbo", "explain_mode", "",
     "EXPLAIN CBO SELECT 1",
     "EXPLAIN COST SELECT 1"),
    ("explain_trailing_debug", "explain_mode", "",
     "EXPLAIN VECTORIZATION DETAIL DEBUG SELECT 1",
     "EXPLAIN FORMATTED SELECT 1"),
    ("explain_create_mv", "explain_create_mv", "",
     "EXPLAIN CREATE MATERIALIZED VIEW mv AS SELECT 1",
     "EXPLAIN SELECT 1"),
    ("msck_repair", "msck_repair", "",
     "MSCK TABLE t",
     "MSCK REPAIR TABLE t"),
    ("tablesample_bucket", "tablesample_bucket", "",
     "SELECT * FROM t TABLESAMPLE(BUCKET 1 OUT OF 2 ON k) s",
     "SELECT * FROM (SELECT * FROM t WHERE pmod(k, 2) = 0) s"),
    ("stored_as", "stored_as", "",
     "CREATE TABLE s (a int) STORED AS ORC",
     "CREATE TABLE s (a int) USING orc "),
    ("partition_values", "partition_values", "",
     "ALTER TABLE t ADD PARTITION (ds=2008-04-08)",
     "ALTER TABLE t ADD PARTITION (ds='2008-04-08')"),
    ("set_time_zone", "set_time_zone", "",
     "SET TIME ZONE LOCAL",
     "SET TIME ZONE 'UTC'"),
    ("analyze_partition_spec", "analyze_partition_spec", "",
     "ANALYZE TABLE t PARTITION (ds) COMPUTE STATISTICS",
     "ANALYZE TABLE t COMPUTE STATISTICS"),
    ("virtual_columns", "virtual_columns", "",
     "SELECT INPUT__FILE__NAME FROM t",
     "SELECT input_file_name() FROM t"),
    ("scan_table_properties", "scan_table_properties", "",
     "SELECT * FROM t('serialization.null.format'='x')",
     "SELECT * FROM t"),
    ("all_columns_stats", "all_columns_stats", "",
     "ANALYZE TABLE t COMPUTE STATISTICS FOR COLUMNS",
     "ANALYZE TABLE t COMPUTE STATISTICS FOR ALL COLUMNS"),
    ("update_statistics", "update_statistics", "",
     "ALTER TABLE t UPDATE STATISTICS SET ('numRows'='10', "
     "'rawDataSize'='100')",
     "ALTER TABLE t SET TBLPROPERTIES "
     "('spark.sql.statistics.numRows'='10', "
     "'spark.sql.statistics.totalSize'='100')"),
    ("temporary_table", "temporary_table", "",
     "CREATE TEMPORARY TABLE tt (a int)",
     "CREATE TABLE tt (a int)"),
    ("time_travel", "time_travel", "",
     "SELECT * FROM hqrw_v FOR SYSTEM_VERSION AS OF 0",
     "SELECT * FROM hqrw_v__sysver_0"),
    ("cte_reorder", "cte_reorder", "",
     "WITH b AS (SELECT * FROM a), a AS (SELECT 1 AS x) SELECT * FROM b",
     "WITH a AS (SELECT 1 AS x),\nb AS (SELECT * FROM a)\nSELECT * FROM b"),
    ("macros", "macros", "CREATE TEMPORARY MACRO hqrw_twice(x INT) x + x",
     "SELECT hqrw_twice(k) FROM t",
     "SELECT ((k) + (k)) FROM t"),
    ("function_folds", "function_folds", _FOLDED_UPPER,
     "SELECT hqrw_up(v) FROM t",
     "SELECT upper(v) FROM t"),
    ("ds_hll_estimate", "ds_hll_estimate", "",
     "SELECT ds_hll_estimate(ds_hll_sketch(k)) FROM t",
     "SELECT approx_count_distinct(k, 0.016) FROM t"),
    ("ds_hll_union", "ds_hll_union", "",
     "SELECT ds_hll_union(sk) FROM t",
     "SELECT hll_union_agg(sk) FROM t"),
    ("ds_hll_sketch", "ds_hll_sketch", "",
     "SELECT ds_hll_sketch(k) FROM t",
     "SELECT hll_sketch_agg(k) FROM t"),
    # the kll_fns row folds every ds_kll_* call the statement spells;
    # this row folds the ones a macro body brings in later
    ("ds_kll_quantile", "ds_kll_quantile",
     "CREATE TEMPORARY MACRO hqrw_median(x DOUBLE)"
     " ds_kll_quantile(ds_kll_sketch(x), 0.5)",
     "SELECT hqrw_median(k) FROM t",
     "SELECT (approx_percentile((k), 0.5)) FROM t"),
    ("ds_cpc_estimate", "ds_cpc_estimate", "",
     "SELECT ds_cpc_estimate(ds_cpc_sketch(k)) FROM t",
     "SELECT approx_count_distinct(k, 0.016) FROM t"),
    ("dboutput", "dboutput", "",
     "EXPLAIN SELECT dboutput('jdbc:x', 'u', 'p', 'DELETE FROM y')",
     "EXPLAIN SELECT 0"),
    ("get_sql_schema", "get_sql_schema", "",
     "SELECT get_sql_schema('SELECT 1 AS a')",
     "SELECT inline(array(named_struct('col_name', 'a', 'col_type', "
     "'int')))"),
    ("sort_array_by", "sort_array_by", "",
     "SELECT sort_array_by(arr, 'f') FROM t",
     "SELECT array_sort(arr, (l, r) -> CASE WHEN l.`f` < r.`f` THEN -1 "
     "WHEN l.`f` > r.`f` THEN 1 ELSE 0 END) FROM t"),
    ("field", "field", "",
     "SELECT field(k, 1, 2) FROM t",
     "SELECT (CASE WHEN (k) = (1) THEN 1 WHEN (k) = (2) THEN 2 ELSE 0 "
     "END) FROM t"),
    ("likeany", "likeany", "",
     "SELECT likeany(v, 'a%', 'b%') FROM t",
     "SELECT ((v) LIKE 'a%' OR (v) LIKE 'b%') FROM t"),
    ("likeall", "likeall", "",
     "SELECT likeall(v, 'a%', 'b%') FROM t",
     "SELECT ((v) LIKE 'a%' AND (v) LIKE 'b%') FROM t"),
]


@pytest.fixture(scope="module")
def rewrite_db(spark):
    import shutil

    from hive_spark import snapshots
    from hive_spark.hqlscript import VERSIONED_TABLES, register_versioned

    shutil.rmtree(_RW_DIR, ignore_errors=True)
    os.makedirs(_RW_DIR)
    with open(_RW_SCRIPT, "w") as f:
        f.write("print(1)\n")
    path = os.path.join(_RW_DIR, "hqrw_v")
    snapshots.write_version(
        spark.createDataFrame([(1, "a")], "key int, value string"), path
    )
    register_versioned("hqrw_v", path)
    yield
    VERSIONED_TABLES.pop("hqrw_v", None)
    spark.catalog.dropTempView("hqrw_v__sysver_0")
    run_script(
        spark,
        f"DELETE FILE {_RW_SCRIPT}; DROP TEMPORARY MACRO IF EXISTS hqrw_twice;"
        " DROP TEMPORARY MACRO IF EXISTS hqrw_median;"
        " DROP TEMPORARY FUNCTION IF EXISTS hqrw_up;",
    )
    shutil.rmtree(_RW_DIR, ignore_errors=True)


@pytest.mark.parametrize(
    "row,setup,stmt,expected",
    [c[1:] for c in _REWRITE_CASES],
    ids=[c[0] for c in _REWRITE_CASES],
)
def test_rewrite_row(spark, rewrite_db, row, setup, stmt, expected):
    """Each HiveQL-only spelling becomes the text Spark parses, and the
    trace names the row that rewrote it."""
    from hive_spark.hqlscript import rewrite_statement

    if setup:
        run_script(spark, setup + ";")
    fired = []
    assert rewrite_statement(spark, stmt, fired) == expected
    assert row in fired


def test_every_rewrite_row_has_a_case():
    """A row added to _REWRITES without a case in _REWRITE_CASES fails
    here, as does a case naming a row that no longer exists."""
    from hive_spark.hqlscript import _REWRITES

    assert {row[0] for row in _REWRITES} == {c[1] for c in _REWRITE_CASES}


def test_script_trace_names_each_statements_rewrites(spark):
    """run_script records (statement index, row name) for every rewrite
    that changed a statement, inline or through EXECUTE."""
    query = "SELECT id FROM range(20) ORDER BY id LIMIT 5, 10"
    out = run_script(spark, f"SELECT 1 AS a; {query};")
    assert out.rewrites == [(1, "limit_offset_comma")]
    assert [r.id for r in out.results[1].collect()] == list(range(5, 15))
    out = run_script(spark, f"PREPARE p_lim FROM {query}; EXECUTE p_lim;")
    assert out.rewrites == [(1, "limit_offset_comma")]
    assert [r.id for r in out.results[0].collect()] == list(range(5, 15))


# Statements whose only call- or keyword-shaped text is inside a string
# or comment: (statement, the one value it returns). No rewrite touches
# them.
_LITERAL_CASES = [
    ("SELECT 'likeany(a, b)' AS s", "likeany(a, b)"),
    ("SELECT 'ds_hll_sketch(x)' AS s", "ds_hll_sketch(x)"),
    ("SELECT 'likeall(' AS s", "likeall("),
    ("SELECT 1 /* index(a */ AS a", 1),
    ("SELECT 'double precision' AS s", "double precision"),
    ("SELECT 'GROUP BY ()' AS s", "GROUP BY ()"),
    ("SELECT 'LIMIT 5, 10' AS s", "LIMIT 5, 10"),
    ("SELECT 'TIMESTAMPLOCALTZ' AS s", "TIMESTAMPLOCALTZ"),
    ("SELECT 'floor(x to day)' AS s", "floor(x to day)"),
]


@pytest.mark.parametrize("stmt,value", _LITERAL_CASES)
def test_rewrites_leave_strings_and_comments_alone(spark, stmt, value):
    """A function name or keyword spelled inside a string literal or a
    comment is text, not SQL: the statement returns its literal."""
    out = run_script(spark, stmt + ";")
    assert [tuple(r) for r in out.results[0].collect()] == [(value,)]
    assert out.rewrites == []


def test_is_distinct_from_is_spark_native(spark):
    """IS [NOT] DISTINCT FROM reaches Spark as written, which parses it
    with its own precedence and leaves string literals alone."""
    cases = [
        ("SELECT 1 + 1 IS DISTINCT FROM 2 AS e", [(False,)]),
        ("SELECT 'x IS DISTINCT FROM y' AS s", [("x IS DISTINCT FROM y",)]),
        ("SELECT NULL IS DISTINCT FROM NULL AS a,"
         " NULL IS NOT DISTINCT FROM NULL AS b, 1 IS DISTINCT FROM NULL AS c",
         [(False, True, True)]),
        ("SELECT a IS DISTINCT FROM b AS d"
         " FROM VALUES (1, 1), (1, NULL), (NULL, NULL) AS t(a, b)",
         [(False,), (False,), (True,)]),
        ("SELECT CASE WHEN a IS NOT DISTINCT FROM b THEN 'same'"
         " ELSE 'diff' END AS c FROM VALUES (1, 1), (2, NULL) AS t(a, b)",
         [("diff",), ("same",)]),
    ]
    for stmt, expected in cases:
        out = run_script(spark, stmt + ";")
        assert sorted(tuple(r) for r in out.results[0].collect()) == expected
        assert out.rewrites == []


@pytest.mark.parametrize("stmt,expected", [
    ("SELECT v.x, v.y FROM (SELECT 1 AS k) t,"
     " LATERAL TABLE(VALUES (1, 'a'), (2, 'b')) AS v(x, y)",
     [(1, "a"), (2, "b")]),
    ("SELECT v.col1 FROM (SELECT 5 AS k) t,"
     " LATERAL TABLE(VALUES (k), (k + 1)) AS v",
     [(5,), (6,)]),
    ("SELECT v.x FROM (SELECT 5 AS k) t,"
     " LATERAL TABLE(VALUES (k), (k + 1)) AS v(x)",
     [(5,), (6,)]),
])
def test_lateral_table_values(spark, stmt, expected):
    """LATERAL TABLE(VALUES ...) yields its rows per left-hand row, with
    the columns named by the alias's list, or col1..colN without one."""
    out = run_script(spark, stmt + ";")
    assert sorted(tuple(r) for r in out.results[0].collect()) == expected
