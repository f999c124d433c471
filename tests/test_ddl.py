"""DDL/catalog + storage-format conformance (SURVEY §2.1/§2.14/§7.4),
driven as HiveQL through ``hqlscript.run_script``."""

import ast
import os
import pathlib
import re

import pytest
from pyspark.sql import functions as F

from hive_spark import ddl
from hive_spark.hqlscript import run_script
from hive_spark.operators import views


@pytest.fixture(autouse=True)
def _clean_tables(spark):
    yield
    for t in spark.catalog.listTables():
        if t.name.startswith("ddl_"):
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")


def test_create_insert_select_partitioned(spark, sf_dir, tmp_path):
    loc = str(tmp_path / "part_tbl")
    views(spark, sf_dir)
    run_script(
        spark,
        f"""CREATE TABLE ddl_part (o_orderkey BIGINT, o_totalprice DOUBLE)
            PARTITIONED BY (o_year INT) STORED AS PARQUET LOCATION '{loc}';
            INSERT INTO ddl_part
            SELECT o_orderkey, o_totalprice, year(o_orderdate) AS o_year
            FROM orders""",
    )
    # partition dirs exist on disk (Hive partition = one dir per value)
    years = {d for d in os.listdir(loc) if d.startswith("o_year=")}
    assert len(years) >= 5
    # partition pruning: scan of one year reads one partition
    out = run_script(spark, "SELECT count(*) FROM ddl_part WHERE o_year = 1997")
    n_1997 = out.results[-1].collect()[0][0]
    assert n_1997 == spark.sql(
        "SELECT count(*) FROM orders WHERE year(o_orderdate) = 1997"
    ).collect()[0][0]


def test_ctas_and_analyze_feeds_cbo(spark, sf_dir):
    views(spark, sf_dir)
    out = run_script(
        spark,
        """DROP TABLE IF EXISTS ddl_ctas;
           CREATE TABLE ddl_ctas STORED AS PARQUET
           AS SELECT n_nationkey, n_name FROM nation;
           ANALYZE TABLE ddl_ctas COMPUTE STATISTICS;
           ANALYZE TABLE ddl_ctas COMPUTE STATISTICS FOR ALL COLUMNS;
           DESCRIBE EXTENDED ddl_ctas""",
    )
    assert spark.table("ddl_ctas").count() == 25
    stats = {
        r.col_name.strip(): str(r.data_type).strip()
        for r in out.results[-1].collect()
        if r.col_name and r.data_type
    }
    assert "Statistics" in stats  # sizeInBytes + rowCount recorded
    assert "25 rows" in stats["Statistics"]


def test_msck_partition_repair(spark, tmp_path):
    """Partitions written out-of-band are invisible until MSCK repair
    (Hive: ql/.../ddl/misc/msck/)."""
    loc = str(tmp_path / "msck_tbl")
    spark.sql("DROP TABLE IF EXISTS ddl_msck")
    df = spark.range(10).select(F.col("id"), F.lit(1).alias("p"))
    df.write.partitionBy("p").parquet(loc)  # out-of-band write
    run_script(
        spark,
        f"""CREATE EXTERNAL TABLE ddl_msck (id BIGINT) PARTITIONED BY (p INT)
            STORED AS PARQUET LOCATION '{loc}'""",
    )
    assert spark.table("ddl_msck").count() == 0  # catalog knows nothing
    run_script(spark, "MSCK REPAIR TABLE ddl_msck")
    assert spark.table("ddl_msck").count() == 10


def test_bucketed_join_elides_shuffle(spark, sf_dir):
    """Bucketed tables joined on the bucket key must not re-shuffle
    (Hive SMB join, SMBMapJoinOperator.java:58 — Spark elides the
    Exchange when bucketBy specs match)."""
    import contextlib
    import io

    from hive_spark.operators import views

    views(spark, sf_dir)
    for t in ("ddl_bkt_orders", "ddl_bkt_line"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    spark.table("orders").select("o_orderkey", "o_totalprice").write.bucketBy(
        8, "o_orderkey"
    ).sortBy("o_orderkey").saveAsTable("ddl_bkt_orders")
    spark.table("lineitem").select("l_orderkey", "l_quantity").write.bucketBy(
        8, "l_orderkey"
    ).sortBy("l_orderkey").saveAsTable("ddl_bkt_line")
    # force SMJ (small test tables would broadcast); at fact-fact scale
    # SMJ is what the planner picks anyway and bucketing elides its shuffle
    joined = spark.table("ddl_bkt_orders").hint("merge").join(
        spark.table("ddl_bkt_line"),
        F.col("o_orderkey") == F.col("l_orderkey"),
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        joined.explain("formatted")
    plan = buf.getvalue()
    assert "SortMergeJoin" in plan
    assert "hashpartitioning" not in plan  # no shuffle on either side
    assert "Bucketed: true" in plan
    for t in ("ddl_bkt_orders", "ddl_bkt_line"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


@pytest.mark.parametrize("fmt", ["parquet", "orc", "json", "csv"])
def test_format_round_trip(spark, sf_dir, fmt):
    """Storage-format matrix (Hive SerDes: ORC/Parquet/JSON/CSV/Text —
    SURVEY §2.1): write+read preserves values."""
    t = views(spark, sf_dir)
    src = t["nation"].orderBy("n_nationkey")
    out = run_script(
        spark,
        f"""DROP TABLE IF EXISTS ddl_fmt_{fmt};
            CREATE TABLE ddl_fmt_{fmt} STORED AS {fmt.upper()}
            AS SELECT * FROM nation;
            SELECT * FROM ddl_fmt_{fmt} ORDER BY n_nationkey""",
    )
    assert ddl._table_info(spark, f"ddl_fmt_{fmt}")["provider"] == fmt
    back = out.results[-1]
    assert [tuple(r) for r in back.collect()] == [tuple(r) for r in src.collect()]


def test_text_format_with_regex_serde_pattern(spark, sf_dir, tmp_path):
    """Hive RegexSerDe analog: text format + regexp_extract projection."""
    t = views(spark, sf_dir)
    path = str(tmp_path / "fmt_text")
    t["nation"].select(
        F.concat_ws("|", "n_nationkey", "n_name", "n_regionkey").alias("value")
    ).write.mode("overwrite").text(path)
    back = (
        spark.read.text(path)
        .select(
            F.regexp_extract("value", r"^(\d+)\|([^|]*)\|(\d+)$", 1)
            .cast("int")
            .alias("n_nationkey"),
            F.regexp_extract("value", r"^(\d+)\|([^|]*)\|(\d+)$", 2).alias("n_name"),
            F.regexp_extract("value", r"^(\d+)\|([^|]*)\|(\d+)$", 3)
            .cast("int")
            .alias("n_regionkey"),
        )
        .orderBy("n_nationkey")
    )
    assert [tuple(r) for r in back.collect()] == [
        tuple(r) for r in t["nation"].orderBy("n_nationkey").collect()
    ]


def test_show_describe_surface(spark, sf_dir):
    """SHOW TABLES / DESCRIBE — catalog introspection parity."""
    from hive_spark.operators import views

    views(spark, sf_dir)
    tables = {r.tableName for r in spark.sql("SHOW TABLES").collect()}
    assert {"nation", "orders", "lineitem"} <= tables
    desc = {r.col_name: r.data_type for r in spark.sql("DESCRIBE nation").collect()}
    assert desc["n_nationkey"] == "int"


def test_parameterized_sql(spark, sf_dir):
    """PREPARE/EXECUTE equivalent: named-parameter spark.sql (Hive
    PrepareStatementParser.g surface, SURVEY §2.14)."""
    from hive_spark.operators import views

    views(spark, sf_dir)
    df = spark.sql(
        "SELECT COUNT(*) AS n FROM orders WHERE o_orderstatus = :status",
        args={"status": "F"},
    )
    direct = spark.sql(
        "SELECT COUNT(*) AS n FROM orders WHERE o_orderstatus = 'F'"
    )
    assert df.collect() == direct.collect()


def test_analyze_stats_reach_cbo_costs(spark, sf_dir):
    """EXPLAIN COST must show real rowCount after ANALYZE — the signal
    Spark's CBO join reordering consumes (Hive: StatsRulesProcFactory
    selectivities over metastore column stats)."""
    views(spark, sf_dir)
    out = run_script(
        spark,
        """DROP TABLE IF EXISTS ddl_stats;
           CREATE TABLE ddl_stats STORED AS PARQUET AS SELECT * FROM nation;
           ANALYZE TABLE ddl_stats COMPUTE STATISTICS;
           ANALYZE TABLE ddl_stats COMPUTE STATISTICS FOR ALL COLUMNS;
           EXPLAIN COST SELECT n_regionkey, COUNT(*) FROM ddl_stats GROUP BY 1""",
    )
    cost = "\n".join(r.plan for r in out.results[-1].collect())
    assert "rowCount=25" in cost.replace(" ", "").replace("25.0", "25"), cost[:500]


def test_load_data_into_partition(spark, sf_dir, tmp_path):
    """LOAD DATA INPATH ... INTO TABLE ... PARTITION: files land in the
    partition directory, the partition registers, rows become queryable
    (ref: LoadSemanticAnalyzer.java)."""
    views(spark, sf_dir)
    run_script(
        spark,
        """DROP TABLE IF EXISTS ddl_load_t;
           CREATE TABLE ddl_load_t (n_nationkey bigint, n_name string)
           PARTITIONED BY (region string) STORED AS PARQUET""",
    )
    staged = str(tmp_path / "staged")
    spark.table("nation").selectExpr(
        "n_nationkey", "n_name"
    ).limit(5).coalesce(1).write.parquet(staged)
    load = f"LOAD DATA LOCAL INPATH '{staged}' {{}}INTO TABLE ddl_load_t"
    out = run_script(
        spark,
        load.format("") + " PARTITION (region='emea'); SHOW PARTITIONS ddl_load_t",
    )
    assert [r[0] for r in out.results[-1].collect()] == ["region=emea"]
    location = ddl._table_info(spark, "ddl_load_t")["location"]
    part_dir = os.path.join(ddl._as_local(str(location)), "region=emea")
    assert len([f for f in os.listdir(part_dir) if f.endswith(".parquet")]) == 1
    got = spark.table("ddl_load_t")
    assert got.count() == 5
    assert got.select("region").distinct().collect()[0].region == "emea"
    # OVERWRITE replaces the partition's rows, not appends
    run_script(spark, load.format("OVERWRITE ") + " PARTITION (region='emea')")
    assert spark.table("ddl_load_t").count() == 5
    # an empty partition spec is no spec: the file lacks the partition
    # column, so the load is rejected
    with pytest.raises(ValueError, match="without PARTITION"):
        run_script(spark, load.format("") + " PARTITION ()")


@pytest.mark.parametrize("carries_ds", [True, False])
def test_load_data_partitioned_without_partition_clause(
    spark, tmp_path, carries_ds
):
    """Hive 3+ rewrites a LOAD into a partitioned table with no PARTITION
    clause as INSERT ... SELECT, the file's last columns being the
    partition columns, and fails when the file lacks them (LanguageManual
    DML, "Loading files into tables")."""
    data = tmp_path / "rows.txt"
    data.write_text(
        "1,a,2024-01-01\n2,b,2024-01-02\n" if carries_ds else "1,a\n2,b\n"
    )
    script = f"""DROP TABLE IF EXISTS ddl_load_ds;
        CREATE TABLE ddl_load_ds (k INT, v STRING) PARTITIONED BY (ds STRING)
        ROW FORMAT DELIMITED FIELDS TERMINATED BY ',' STORED AS TEXTFILE;
        LOAD DATA LOCAL INPATH '{data}' INTO TABLE ddl_load_ds;
        SELECT k, v, ds FROM ddl_load_ds ORDER BY k"""
    if not carries_ds:
        with pytest.raises(ValueError, match="without PARTITION"):
            run_script(spark, script)
        assert spark.table("ddl_load_ds").count() == 0
        return
    out = run_script(spark, script)
    assert [tuple(r) for r in out.results[-1].collect()] == [
        (1, "a", "2024-01-01"), (2, "b", "2024-01-02"),
    ]


def test_regex_serde_load(spark, tmp_path):
    """ROW FORMAT SERDE RegexSerDe: LOAD DATA splits each line by the
    table's input.regex, group i to column i; a line the regex does not
    match as a whole reads as all NULL (serde/.../RegexSerDe.java)."""
    data = tmp_path / "rx.txt"
    data.write_text("1|x\n2|y\nno match\n")
    out = run_script(
        spark,
        f"""DROP TABLE IF EXISTS ddl_rx;
            CREATE TABLE ddl_rx (a INT, b STRING)
            ROW FORMAT SERDE 'org.apache.hadoop.hive.serde2.RegexSerDe'
            WITH SERDEPROPERTIES ("input.regex"="([0-9]+)\\\\|(.*)");
            LOAD DATA LOCAL INPATH '{data}' INTO TABLE ddl_rx;
            SELECT a, b FROM ddl_rx""",
    )
    assert sorted(
        (tuple(r) for r in out.results[-1].collect()), key=str
    ) == [(1, "x"), (2, "y"), (None, None)]


def test_export_import_round_trip(spark, sf_dir, tmp_path):
    """EXPORT TABLE -> IMPORT TABLE recreates a partitioned table with
    identical contents elsewhere (ref: ExportSemanticAnalyzer.java /
    ImportSemanticAnalyzer.java _metadata + data layout)."""
    from hive_spark.operators import views

    views(spark, sf_dir)
    spark.sql("DROP TABLE IF EXISTS ddl_exp_src")
    spark.sql("DROP TABLE IF EXISTS ddl_exp_copy")
    spark.sql(
        """CREATE TABLE ddl_exp_src USING parquet PARTITIONED BY (r)
           AS SELECT n_nationkey, n_name,
                     CAST(n_regionkey % 2 AS STRING) AS r
              FROM nation"""
    )
    dest = str(tmp_path / "export")
    ddl.export_table(spark, "ddl_exp_src", dest)
    assert os.path.exists(os.path.join(dest, "_metadata.json"))
    ddl.import_table(spark, dest, "ddl_exp_copy")
    a = sorted(tuple(x) for x in spark.table("ddl_exp_src").collect())
    b = sorted(tuple(x) for x in spark.table("ddl_exp_copy").collect())
    assert a == b and len(a) == 25


def test_alter_table_family(spark, sf_dir):
    """ALTER TABLE rename / add columns / tblproperties / drop partition —
    the DDL dispatch surface (Hive ql/.../ddl/table analyzers)."""
    views(spark, sf_dir)
    run_script(
        spark,
        """DROP TABLE IF EXISTS ddl_alter_a; DROP TABLE IF EXISTS ddl_alter_b;
           CREATE TABLE ddl_alter_a (k bigint, v string)
           PARTITIONED BY (p string) STORED AS PARQUET;
           INSERT INTO ddl_alter_a PARTITION (p='x') VALUES (1, 'a'), (2, 'b');
           INSERT INTO ddl_alter_a PARTITION (p='y') VALUES (3, 'c')""",
    )

    out = run_script(
        spark,
        """ALTER TABLE ddl_alter_a SET TBLPROPERTIES ('comment.owner'='etl');
           SHOW TBLPROPERTIES ddl_alter_a""",
    )
    props = {r.key: r.value for r in out.results[-1].collect()}
    assert props["comment.owner"] == "etl"

    run_script(spark, "ALTER TABLE ddl_alter_a ADD COLUMNS (extra int)")
    # existing rows read the new column as NULL (schema evolution on read)
    assert (
        spark.table("ddl_alter_a").filter("extra IS NULL").count() == 3
    )

    run_script(spark, "ALTER TABLE ddl_alter_a DROP PARTITION (p='y') PURGE")
    assert spark.table("ddl_alter_a").select("p").distinct().count() == 1

    run_script(spark, "ALTER TABLE ddl_alter_a RENAME TO ddl_alter_b")
    assert spark.table("ddl_alter_b").count() == 2
    assert "ddl_alter_a" not in [
        t.name for t in spark.catalog.listTables()
    ]


def test_every_public_ddl_name_has_an_engine_caller():
    """ddl.py holds what HiveQL's EXPORT/IMPORT run, and nothing only
    tests call: each statement has one implementation, the one
    ``run_script`` runs."""
    pkg = pathlib.Path(ddl.__file__).parent
    tree = ast.parse(pathlib.Path(ddl.__file__).read_text())
    names = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            names.append(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names += [t.id for t in targets if isinstance(t, ast.Name)]
    public = [n for n in names if not n.startswith("_")]
    engine = "\n".join(
        p.read_text() for p in sorted(pkg.rglob("*.py")) if p.name != "ddl.py"
    )
    uncalled = [
        name for name in public
        if not re.search(
            rf"\bddl\.{name}\b|from hive_spark\.ddl import[^\n]*\b{name}\b",
            engine,
        )
    ]
    assert public and uncalled == []
