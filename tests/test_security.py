"""Policy-driven masking / row filtering (SemanticAnalyzer
applyRowFilterAndColumnMasking analog)."""

from pyspark.sql import functions as F

from hive_spark.operators import views
from hive_spark.security import (
    TablePolicy,
    disable,
    drop_policy,
    enable_for_user,
    register_policy,
)
from hive_spark.session import state


def _policy():
    return TablePolicy(
        table="customer",
        column_masks={"c_name": "concat('XXXX', substr({col}, -2))"},
        row_filter="c_nationkey % 5 = 0",
        users={"analyst"},
    )


def test_policy_masks_for_governed_user_only(spark, sf_dir):
    views(spark, sf_dir)
    register_policy(_policy())
    try:
        n_all = spark.table("customer").count()
        enable_for_user(spark, "analyst")
        governed = spark.table("customer")
        assert governed.count() < n_all  # row filter applied
        assert governed.filter(~F.col("c_name").startswith("XXXX")).count() == 0
        assert governed.columns == spark.table("customer__unmasked").columns

        # an exempt user sees the pristine relation
        enable_for_user(spark, "admin")
        assert spark.table("customer").count() == n_all
        assert (
            spark.table("customer")
            .filter(F.col("c_name").startswith("XXXX"))
            .count()
            == 0
        )
    finally:
        disable(spark)
        drop_policy("customer")
    assert spark.table("customer").count() == n_all  # restored


def test_row_filter_reaches_scan(spark, sf_dir):
    """The rewrite's row filter must behave like ordinary predicate
    pushdown: it appears as a Filter directly over the relation, before
    any downstream operator a user query adds."""
    views(spark, sf_dir)
    register_policy(_policy())
    try:
        enable_for_user(spark, "analyst")
        plan = spark.sql(
            "SELECT COUNT(*) AS n FROM customer"
        )._jdf.queryExecution().executedPlan().toString()
        assert "c_nationkey" in plan  # filter present in the physical plan
    finally:
        disable(spark)
        drop_policy("customer")


def test_disable_restores_after_policy_dropped(spark):
    """drop_policy while masking is enabled must not strand the masked
    view: disable() restores from the enable-time record, not the live
    policy dict."""
    from hive_spark import security

    spark.createDataFrame(
        [(1, "alice"), (2, "bob")], "id int, name string"
    ).createOrReplaceTempView("gov_drop_demo")
    security.register_policy(
        security.TablePolicy(
            table="gov_drop_demo",
            column_masks={"name": "concat('XXX', substr({col}, -1))"},
        )
    )
    try:
        security.enable_for_user(spark, "analyst")
        assert spark.table("gov_drop_demo").collect()[0].name.startswith("XXX")
        security.drop_policy("gov_drop_demo")  # dropped WHILE enabled
        security.disable(spark)
        names = {r.name for r in spark.table("gov_drop_demo").collect()}
        assert names == {"alice", "bob"}  # pristine relation restored
        # stash view cleaned up too
        assert not any(
            t.name == "gov_drop_demo__unmasked"
            for t in spark.catalog.listTables()
        )
    finally:
        security.drop_policy("gov_drop_demo")
        security.disable(spark)
        spark.catalog.dropTempView("gov_drop_demo")


def test_privilege_enforcement_on_query_path(spark):
    """SQLStdHiveAuthorizationValidator analog (r5): with
    hive.security.authorization.enabled=true a metastore table is
    readable only by its owner, an admin-role session, or a granted
    principal — denied read raises, GRANT opens it, REVOKE closes it.
    Default sessions (conf unset) are untouched."""
    import pytest

    from hive_spark import authz
    from hive_spark.authz import HiveAccessControlError
    from hive_spark.hqlscript import run_script

    run_script(
        spark,
        "DROP TABLE IF EXISTS sec_enf_t;"
        " CREATE TABLE sec_enf_t (k INT) USING parquet;"
        " INSERT INTO sec_enf_t VALUES (1), (2);",
    )
    st = state(spark).auth
    saved_owner = st.owners.pop(
        (spark.catalog.currentDatabase().lower(), "sec_enf_t"), None
    )
    try:
        # enforcement off (default): anyone reads
        assert spark.sql("SELECT * FROM sec_enf_t").count() == 2
        spark.conf.set("hive.security.authorization.enabled", "true")
        # not owner, role=public, no grant -> denied (both surfaces)
        with pytest.raises(HiveAccessControlError, match="SELECT"):
            run_script(spark, "SELECT * FROM sec_enf_t;")
        from hive_spark.engine import Engine

        with pytest.raises(HiveAccessControlError, match="SELECT"):
            Engine(spark).sql("SELECT count(*) AS n FROM sec_enf_t")
        # writes need the write privilege, reported as such
        with pytest.raises(HiveAccessControlError, match="INSERT"):
            run_script(spark, "INSERT INTO sec_enf_t VALUES (3);")
        # GRANT SELECT to the user's active role -> read ok, write still not
        run_script(
            spark,
            "GRANT SELECT ON TABLE sec_enf_t TO ROLE public;",
        )
        out = run_script(spark, "SELECT count(*) AS n FROM sec_enf_t;")
        assert out.results[-1].collect()[0].n == 2
        with pytest.raises(HiveAccessControlError, match="INSERT"):
            run_script(spark, "INSERT INTO sec_enf_t VALUES (3);")
        # REVOKE -> denied again
        run_script(
            spark, "REVOKE SELECT ON TABLE sec_enf_t FROM ROLE public;"
        )
        with pytest.raises(HiveAccessControlError, match="SELECT"):
            run_script(spark, "SELECT * FROM sec_enf_t;")
        # active admin role passes everything
        st.current_roles = ["admin"]
        assert (
            run_script(spark, "SELECT count(*) AS n FROM sec_enf_t;")
            .results[-1]
            .collect()[0]
            .n
            == 2
        )
        st.current_roles = ["public"]
        # owner passes without grants
        st.owners[
            (spark.catalog.currentDatabase().lower(), "sec_enf_t")
        ] = authz.current_user()
        run_script(spark, "INSERT INTO sec_enf_t VALUES (3);")
    finally:
        spark.conf.unset("hive.security.authorization.enabled")
        if saved_owner is not None:
            st.owners[
                (spark.catalog.currentDatabase().lower(), "sec_enf_t")
            ] = saved_owner
        run_script(spark, "DROP TABLE IF EXISTS sec_enf_t;")


def test_enforcement_covers_intercepted_statements(spark):
    """r6 ADVICE medium closed: statements that earlier handlers
    intercept — EXPLAIN ANALYZE (which executes), EXECUTE of prepared
    statements, partition/rename ALTERs, TRUNCATE, EXPORT/IMPORT and
    LOAD DATA — are authorized ONCE at the top of the statement loop,
    the analog of Hive authorizing at compile time in
    SQLStdHiveAuthorizationValidator (ql/.../plugin/sqlstd/)."""
    import pytest

    from hive_spark import authz
    from hive_spark.authz import HiveAccessControlError
    from hive_spark.hqlscript import run_script

    run_script(
        spark,
        "DROP TABLE IF EXISTS sec_gap_t;"
        " CREATE TABLE sec_gap_t (k INT) PARTITIONED BY (p INT);"
        " INSERT INTO sec_gap_t PARTITION (p=1) VALUES (1);",
    )
    st = state(spark).auth
    db = spark.catalog.currentDatabase().lower()
    saved_owner = st.owners.pop((db, "sec_gap_t"), None)
    try:
        spark.conf.set("hive.security.authorization.enabled", "true")
        for bad in (
            "EXPLAIN ANALYZE SELECT * FROM sec_gap_t;",
            "EXPLAIN SELECT * FROM sec_gap_t;",
            "PREPARE pg1 FROM SELECT * FROM sec_gap_t WHERE k > ?;"
            " EXECUTE pg1 USING 0;",
            "ALTER TABLE sec_gap_t DROP PARTITION (p=1);",
            "ALTER TABLE sec_gap_t RENAME TO sec_gap_t2;",
            "TRUNCATE TABLE sec_gap_t;",
            "EXPORT TABLE sec_gap_t TO '/tmp/sec_gap_export';",
            "LOAD DATA INPATH '/tmp/sec_gap_nope' INTO TABLE sec_gap_t;",
        ):
            with pytest.raises(HiveAccessControlError):
                run_script(spark, bad)
        with pytest.raises(HiveAccessControlError, match="INSERT"):
            run_script(
                spark, "IMPORT TABLE sec_gap_t FROM '/tmp/sec_gap_export';"
            )
        # ownership unlocks the gated statements (SQLStd: owner has all
        # object privileges)
        st.owners[(db, "sec_gap_t")] = authz.current_user()
        run_script(spark, "EXPLAIN ANALYZE SELECT * FROM sec_gap_t;")
        run_script(
            spark,
            "PREPARE pg2 FROM SELECT * FROM sec_gap_t WHERE k > ?;"
            " EXECUTE pg2 USING 0;",
        )
        run_script(spark, "ALTER TABLE sec_gap_t DROP PARTITION (p=1);")
    finally:
        spark.conf.unset("hive.security.authorization.enabled")
        if saved_owner is not None:
            st.owners[(db, "sec_gap_t")] = saved_owner
        run_script(spark, "DROP TABLE IF EXISTS sec_gap_t;")


def test_database_ownership_enforcement(spark):
    """SQLStdHiveAuthorizationValidator gates ALTER/DROP DATABASE on
    database ownership (or admin). CREATE DATABASE records the creator;
    another principal's ALTER/DROP is denied, the owner's (and an
    admin's) succeeds."""
    import pytest

    from hive_spark.authz import HiveAccessControlError
    from hive_spark.hqlscript import run_script

    run_script(spark, "DROP DATABASE IF EXISTS sec_db_own CASCADE;"
                      " CREATE DATABASE sec_db_own;")
    st = state(spark).auth
    try:
        spark.conf.set("hive.security.authorization.enabled", "true")
        # owner may alter and drop
        run_script(
            spark, "ALTER DATABASE sec_db_own SET DBPROPERTIES ('a'='1');"
        )
        # a different recorded owner denies the current user
        st.owners[("sec_db_own", "")] = "somebody_else"
        with pytest.raises(HiveAccessControlError):
            run_script(
                spark,
                "ALTER DATABASE sec_db_own SET DBPROPERTIES ('a'='2');",
            )
        with pytest.raises(HiveAccessControlError):
            run_script(spark, "DROP DATABASE sec_db_own;")
        # admin role bypasses ownership (SQLStd admin has all privileges)
        st.current_roles.append("admin")
        try:
            run_script(
                spark,
                "ALTER DATABASE sec_db_own SET DBPROPERTIES ('a'='3');",
            )
        finally:
            st.current_roles.remove("admin")
    finally:
        spark.conf.unset("hive.security.authorization.enabled")
        st.owners.pop(("sec_db_own", ""), None)
        run_script(spark, "DROP DATABASE IF EXISTS sec_db_own CASCADE;")
