"""HPL/SQL subset interpreter (ref: hplsql/.../Exec.java) — procedural
control flow driving real engine queries."""

import pytest

from hive_spark.hplsql import run_hplsql
from hive_spark.operators import views


def test_declare_set_print(spark, sf_dir):
    views(spark, sf_dir)
    out = run_hplsql(
        spark,
        """DECLARE cnt INT := (SELECT COUNT(*) FROM nation);
           DECLARE msg STRING := 'nations';
           SET cnt := cnt + 1;
           PRINT concat(msg, '=', CAST(cnt AS STRING));""",
    )
    assert out.printed == ["nations=26"]
    assert out.variables == {"cnt": 26, "msg": "nations"}


def test_if_elsif_else(spark, sf_dir):
    views(spark, sf_dir)
    script = """DECLARE n INT := {n};
           IF n > 100 THEN PRINT 'big';
           ELSIF n > 10 THEN PRINT 'medium';
           ELSE PRINT 'small';
           END IF;"""
    assert run_hplsql(spark, script.format(n=500)).printed == ["big"]
    assert run_hplsql(spark, script.format(n=50)).printed == ["medium"]
    assert run_hplsql(spark, script.format(n=5)).printed == ["small"]


def test_nested_if(spark, sf_dir):
    views(spark, sf_dir)
    out = run_hplsql(
        spark,
        """DECLARE a INT := 1;
           IF a = 1 THEN
             IF a < 0 THEN PRINT 'neg'; ELSE PRINT 'pos'; END IF;
             PRINT 'outer';
           END IF;""",
    )
    assert out.printed == ["pos", "outer"]


def test_while_loop_accumulates(spark, sf_dir):
    views(spark, sf_dir)
    out = run_hplsql(
        spark,
        """DECLARE i INT := 0;
           DECLARE total INT := 0;
           WHILE i < 4 LOOP
             SET total := total + i;
             SET i := i + 1;
           END LOOP;
           PRINT total;""",
    )
    assert out.printed == ["6"]


def test_for_in_select_cursor(spark, sf_dir):
    """FOR rec IN (SELECT ...) LOOP — the HPL/SQL cursor loop; row
    columns bind as rec.col."""
    views(spark, sf_dir)
    out = run_hplsql(
        spark,
        """DECLARE total BIGINT := 0;
           FOR r IN (SELECT r_regionkey, r_name FROM region
                     ORDER BY r_regionkey LIMIT 3) LOOP
             PRINT concat(r.r_name, ':', CAST(r.r_regionkey AS STRING));
           END LOOP;""",
    )
    assert len(out.printed) == 3
    assert out.printed[0].endswith(":0")


def test_sql_statements_and_macros_inside_procedure(spark, sf_dir, tmp_path):
    """Plain SQL inside a procedure goes through hqlscript, so the HiveQL
    rewrite layer (macros, ds_*) works inside control flow; DML executes."""
    views(spark, sf_dir)
    out = run_hplsql(
        spark,
        """CREATE TEMPORARY MACRO dbl(x INT) x * 2;
           DECLARE five INT := 5;
           IF five = 5 THEN
             SELECT dbl(five) AS v;
           END IF;""",
    )
    assert out.printed == ["(10,)"]


def test_while_iteration_guard(spark, sf_dir):
    views(spark, sf_dir)
    from hive_spark.hplsql import HplInterpreter

    interp = HplInterpreter(spark, max_loop_iters=3)
    with pytest.raises(RuntimeError, match="max_loop_iters"):
        interp.run("WHILE 1 = 1 LOOP PRINT 'x'; END LOOP;")


def test_engine_procedure_facade(spark, sf_dir):
    from hive_spark.engine import Engine

    views(spark, sf_dir)
    eng = Engine(spark)
    out = eng.procedure(
        "DECLARE n INT := (SELECT COUNT(*) FROM region); PRINT n * 2;"
    )
    assert out.printed == ["10"]


def test_continue_handler_for_sqlexception(spark, sf_dir):
    """DECLARE CONTINUE HANDLER FOR SQLEXCEPTION (Exec.java handler
    dispatch): the failing statement runs the handler, then the script
    resumes; SQLCODE/ERRORMSG are visible inside the handler."""
    views(spark, sf_dir)
    out = run_hplsql(
        spark,
        """DECLARE hits INT := 0;
           DECLARE CONTINUE HANDLER FOR SQLEXCEPTION SET hits := hits + 1;
           SELECT 1 FROM table_that_does_not_exist;
           PRINT 'survived';
           PRINT hits;""",
    )
    assert out.printed == ["survived", "1"]
    assert out.variables["sqlcode"] == -1
    assert len(out.handled_errors) == 1


def test_exit_handler_stops_script(spark, sf_dir):
    views(spark, sf_dir)
    out = run_hplsql(
        spark,
        """DECLARE EXIT HANDLER FOR SQLEXCEPTION PRINT 'caught';
           SELECT bad_column FROM region;
           PRINT 'unreachable';""",
    )
    assert out.printed == ["caught"]


def test_signal_user_condition_and_raise(spark, sf_dir):
    """DECLARE CONDITION + SIGNAL routes to the named handler
    (Signal.java); RAISE maps to the SQLEXCEPTION catch-all."""
    views(spark, sf_dir)
    out = run_hplsql(
        spark,
        """DECLARE too_many CONDITION;
           DECLARE CONTINUE HANDLER FOR too_many PRINT concat('handled: ', errormsg);
           DECLARE n INT := (SELECT COUNT(*) FROM region);
           IF n > 3 THEN SIGNAL too_many, 'row budget exceeded'; END IF;
           PRINT 'after';""",
    )
    assert out.printed == ["handled: row budget exceeded", "after"]
    out2 = run_hplsql(
        spark,
        """DECLARE CONTINUE HANDLER FOR SQLEXCEPTION PRINT 'generic';
           RAISE 'boom';
           PRINT 'after';""",
    )
    assert out2.printed == ["generic", "after"]


def test_unhandled_signal_propagates(spark, sf_dir):
    views(spark, sf_dir)
    from hive_spark.hplsql import HplSignal

    with pytest.raises(HplSignal):
        run_hplsql(spark, "SIGNAL oops, 'no handler anywhere';")


def test_not_found_handler_on_empty_cursor(spark, sf_dir):
    views(spark, sf_dir)
    out = run_hplsql(
        spark,
        """DECLARE CONTINUE HANDLER FOR NOT FOUND PRINT 'empty';
           FOR r IN (SELECT r_name FROM region WHERE r_regionkey < 0) LOOP
             PRINT r.r_name;
           END LOOP;
           PRINT 'done';""",
    )
    assert out.printed == ["empty", "done"]


def test_procedure_persists_across_interpreters(spark, sf_dir):
    """CREATE PROCEDURE writes warehouse metadata; a NEW interpreter
    instance (fresh Engine analog) finds and CALLs it with positional
    args — Hive keeps procedures in the metastore the same way."""
    views(spark, sf_dir)
    run_hplsql(
        spark,
        """CREATE OR REPLACE PROCEDURE region_report(max_key INT, tag STRING)
           BEGIN
             DECLARE n INT := (SELECT COUNT(*) FROM region
                               WHERE r_regionkey <= max_key);
             PRINT concat(tag, '=', CAST(n AS STRING));
           END;""",
    )
    out = run_hplsql(spark, "CALL region_report(2, 'regions');")
    assert out.printed == ["regions=3"]
    out2 = run_hplsql(spark, "CALL region_report(0, 'one');")
    assert out2.printed == ["one=1"]
    run_hplsql(spark, "DROP PROCEDURE region_report;")
    from hive_spark.hplsql import HplInterpreter

    assert HplInterpreter(spark)._find_proc("region_report") is None


def test_procedure_with_handler_and_control_flow(spark, sf_dir):
    """Handlers + IF blocks inside a persisted procedure body; CASE END
    inside the body must not terminate the BEGIN...END grouping."""
    views(spark, sf_dir)
    run_hplsql(
        spark,
        """CREATE OR REPLACE PROCEDURE safe_probe(tbl STRING)
           BEGIN
             DECLARE CONTINUE HANDLER FOR SQLEXCEPTION PRINT 'probe-failed';
             DECLARE label STRING := (SELECT CASE WHEN 1 = 1 THEN 'y' ELSE 'n' END);
             IF label = 'y' THEN PRINT 'probing'; END IF;
             SELECT COUNT(*) FROM not_a_real_table;
             PRINT 'end';
           END;""",
    )
    out = run_hplsql(spark, "CALL safe_probe('x');")
    assert out.printed == ["probing", "probe-failed", "end"]


def test_parameterized_cursor_fetch_loop(spark, sf_dir):
    """DECLARE c CURSOR (p) FOR ... / OPEN c(arg) / FETCH ... INTO /
    CLOSE — the canonical HPL/SQL fetch loop with a NOT FOUND CONTINUE
    handler flipping the done flag (Exec.java cursor + SQLCODE=100)."""
    views(spark, sf_dir)
    out = run_hplsql(
        spark,
        """DECLARE done INT := 0;
           DECLARE total BIGINT := 0;
           DECLARE k BIGINT;
           DECLARE nm STRING;
           DECLARE c CURSOR (maxkey INT) FOR
             SELECT r_regionkey, r_name FROM region
             WHERE r_regionkey <= maxkey ORDER BY r_regionkey;
           DECLARE CONTINUE HANDLER FOR NOT FOUND SET done := 1;
           OPEN c(2);
           WHILE done = 0 LOOP
             FETCH c INTO k, nm;
             IF done = 0 THEN
               SET total := total + k;
               PRINT nm;
             END IF;
           END LOOP;
           CLOSE c;
           PRINT total;""",
    )
    assert out.printed[-1] == "3"  # 0+1+2
    assert len(out.printed) == 4  # three names + total
    assert out.variables["sqlcode"] == 100


def test_cursor_reopen_with_new_argument(spark, sf_dir):
    views(spark, sf_dir)
    out = run_hplsql(
        spark,
        """DECLARE n BIGINT;
           DECLARE c CURSOR (lim INT) FOR
             SELECT COUNT(*) AS n FROM region WHERE r_regionkey < lim;
           OPEN c(3);
           FETCH c INTO n;
           PRINT n;
           CLOSE c;
           OPEN c(5);
           FETCH c INTO n;
           PRINT n;
           CLOSE c;""",
    )
    assert out.printed == ["3", "5"]


def test_fetch_unopened_cursor_hits_handler(spark, sf_dir):
    views(spark, sf_dir)
    out = run_hplsql(
        spark,
        """DECLARE CONTINUE HANDLER FOR SQLEXCEPTION PRINT 'caught';
           DECLARE c CURSOR FOR SELECT 1;
           FETCH c INTO x;
           PRINT 'after';""",
    )
    assert out.printed == ["caught", "after"]


def test_package_state_across_calls(spark):
    """CREATE PACKAGE with variables + procedures: package state
    persists ACROSS calls within the session, pkg.var reads resolve
    anywhere, and procedures see package vars as bare names."""
    from hive_spark.hplsql import run_hplsql

    out = run_hplsql(
        spark,
        """
        CREATE OR REPLACE PACKAGE counter AS
          cnt INT := 0;
          step INT := 2;
          PROCEDURE inc(delta INT) AS
          BEGIN
            SET cnt := cnt + delta;
          END;
          PROCEDURE bump() AS
          BEGIN
            SET cnt := cnt + step;
          END;
        END;
        CALL counter.inc(5);
        CALL counter.inc(10);
        CALL counter.bump();
        PRINT counter.cnt;
        SET x := counter.cnt * 100;
        PRINT x;
        """,
    )
    assert out.printed[-2] == "17"
    assert out.printed[-1] == "1700"


def test_package_body_merges_and_persists(spark):
    """CREATE PACKAGE BODY adds procedures to a persisted spec; a NEW
    interpreter sees the package definition (metadata persistence) but
    fresh state (session-scoped, like Hive)."""
    from hive_spark.hplsql import HplInterpreter, run_hplsql

    run_hplsql(
        spark,
        """
        CREATE OR REPLACE PACKAGE acc AS
          total INT := 100;
        END;
        CREATE PACKAGE BODY acc AS
          PROCEDURE add(v INT) AS
          BEGIN
            SET total := total + v;
          END;
        END;
        CALL acc.add(11);
        """,
    )
    # a brand-new interpreter: definition persisted, state re-initialized
    out2 = run_hplsql(spark, "CALL acc.add(1); PRINT acc.total;")
    assert out2.printed == ["101"]
    run_hplsql(spark, "DROP PACKAGE acc;")
    i3 = HplInterpreter(spark)
    assert i3._find_pkg("acc") is None


def test_package_unknown_proc_signals(spark):
    """Calling a missing package procedure raises through the normal
    handler machinery (EXIT handler catches it)."""
    from hive_spark.hplsql import run_hplsql

    out = run_hplsql(
        spark,
        """
        CREATE OR REPLACE PACKAGE p1 AS
          v INT := 1;
        END;
        DECLARE EXIT HANDLER FOR SQLEXCEPTION PRINT 'caught';
        CALL p1.missing(1);
        PRINT 'unreached';
        """,
    )
    assert out.printed == ["caught"]


def test_resignal_and_get_diagnostics(spark):
    """RESIGNAL re-raises the condition under handling (surfacing to the
    caller in the flat script scope); GET DIAGNOSTICS reads the
    diagnostics area (MESSAGE_TEXT / CONDITION_IDENTIFIER / ROW_COUNT)."""
    import pytest

    from hive_spark.hplsql import HplSignal, run_hplsql

    # GET DIAGNOSTICS inside a handler sees the condition being handled
    # (a handler body is one statement; ERRORMSG carries the text out)
    out = run_hplsql(
        spark,
        """
        DECLARE bad_load CONDITION;
        DECLARE CONTINUE HANDLER FOR bad_load
          GET DIAGNOSTICS c = CONDITION_IDENTIFIER;
        SIGNAL bad_load, 'file missing';
        PRINT c;
        PRINT errormsg;
        """,
    )
    assert out.printed == ["bad_load", "file missing"]

    # ROW_COUNT tracks the last SQL statement's result size
    out2 = run_hplsql(
        spark,
        """
        SELECT * FROM (VALUES (1), (2), (3)) AS t(x);
        GET DIAGNOSTICS n = ROW_COUNT;
        PRINT n;
        """,
    )
    assert out2.printed[-1] == "3"

    # RESIGNAL from a handler surfaces the (renamed) condition
    with pytest.raises(HplSignal, match="escalated"):
        run_hplsql(
            spark,
            """
            DECLARE oops CONDITION;
            DECLARE CONTINUE HANDLER FOR oops RESIGNAL worse, 'escalated';
            SIGNAL oops, 'minor';
            """,
        )


def test_create_function_in_expressions(spark):
    """HPL/SQL user FUNCTIONs (ref: hplsql Exec.java visitCreate_function
    + Function.execUser): callable inside ANY evaluated expression —
    SET/PRINT/IF conditions — including nested and recursive calls;
    persisted like procedures so a fresh interpreter resolves them."""
    from hive_spark.hplsql import run_hplsql

    out = run_hplsql(
        spark,
        """
        CREATE OR REPLACE FUNCTION add2(a, b) RETURNS INT
        BEGIN
            RETURN a + b;
        END;
        CREATE OR REPLACE FUNCTION fact(n) RETURNS INT
        BEGIN
            IF n <= 1 THEN
                RETURN 1;
            END IF;
            RETURN n * fact(n - 1);
        END;
        SET x := add2(2, 3);
        PRINT add2(x, fact(4)) + 100;
        IF add2(1, 1) = 2 THEN
            PRINT 'fn-in-cond';
        END IF;
        """,
    )
    assert out.variables["x"] == 5
    assert out.printed == ["129", "fn-in-cond"]
    # persisted: a NEW interpreter instance resolves the function
    out2 = run_hplsql(spark, "PRINT add2(40, 2); DROP FUNCTION add2;"
                             " DROP FUNCTION fact;")
    assert out2.printed == ["42"]


def test_function_argument_with_paren_in_string(spark):
    """A ')' inside a quoted argument does not end the function call."""
    out = run_hplsql(
        spark,
        "CREATE FUNCTION wrap(s STRING) RETURNS STRING"
        " BEGIN RETURN concat('[', s, ']'); END;"
        " PRINT wrap('a)b'); DROP FUNCTION wrap;",
    )
    assert out.printed == ["[a)b]"]


def test_package_function_in_expressions(spark):
    """Package FUNCTIONs resolve as pkg.fn(args) inside expressions and
    see package variables as bare names (Exec.java packCallStack)."""
    from hive_spark.hplsql import run_hplsql

    out = run_hplsql(
        spark,
        """
        CREATE OR REPLACE PACKAGE counters AS
            hits INT := 0;
            FUNCTION bump(by) RETURNS INT
            BEGIN
                SET hits := hits + by;
                RETURN hits;
            END;
        END;
        SET a := counters.bump(3);
        SET b := counters.bump(4) + counters.hits;
        PRINT counters.hits;
        DROP PACKAGE counters;
        """,
    )
    assert out.variables["a"] == 3
    # bump(4) -> state 7, returns 7; + counters.hits (now 7) = 14
    assert out.variables["b"] == 14
    assert out.printed == ["7"]


def test_function_without_return_and_script_return(spark):
    """Falling off a function body yields NULL; a script-level RETURN
    ends the script (Exec.java leave semantics)."""
    from hive_spark.hplsql import run_hplsql

    out = run_hplsql(
        spark,
        """
        CREATE OR REPLACE FUNCTION noret(a) RETURNS INT
        BEGIN
            SET d := a;
        END;
        PRINT coalesce(noret(9), -1);
        DROP FUNCTION noret;
        PRINT 'before';
        RETURN;
        PRINT 'after';
        """,
    )
    assert out.printed == ["-1", "before"]
