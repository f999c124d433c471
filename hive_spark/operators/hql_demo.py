"""SQL-text Hive ETL shapes end-to-end through the script runner.

Hive's multi-insert (``FROM t INSERT OVERWRITE ... INSERT ...``, grammar
ref: parser/src/java/org/apache/hadoop/hive/ql/parse/HiveParser.g:2565,
plan fan-out ql/.../parse/SemanticAnalyzer.java:11468 genBodyPlan) and
``SELECT TRANSFORM ... USING`` (ref: ql/.../exec/ScriptOperator.java:61)
are SQL-TEXT features a real Hive ETL script uses verbatim. Spark SQL
parses both natively, so `hqlscript.run_script` executes such a script
unmodified — this module pins that end-to-end: one scan fanned to two
sinks, a TRANSFORM pipe stage over one sink, and an oracle-checked
read-back summary.

Scale notes: the multi-insert fan-out re-reads the scan per sink in
Spark (no shared-scan operator); for the 100 TB path the scan is a
column-pruned, filter-pushed parquet read per sink, which AQE handles
independently — or callers use dml.multi_insert (one spooled scan).
TRANSFORM forks one external process per task, streaming rows through
stdin/stdout exactly like Hive's ScriptOperator — throughput is bounded
by the pipe, so it is a cold-path integration feature, never a hot-path
operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_spark.operators import QuerySpec, views

_THRESHOLD = 200000.0


def etl_multi_insert_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run a .q-style ETL script: orders fanned into hi/lo sinks by price,
    then a TRANSFORM('cat') pipe over the hi sink; return a per-sink
    summary (count + exact decimal sum) read back from the sinks."""
    import os
    import shutil
    import tempfile

    from hive_spark.hqlscript import run_script

    views(spark, sf_dir)
    # external LOCATIONs so reruns (or a crashed previous run) can never
    # collide with a stale managed-table directory in the warehouse
    tag = os.path.basename(os.path.normpath(sf_dir))
    root = os.path.join(tempfile.gettempdir(), f"hive_spark_etl_{tag}")
    shutil.rmtree(root, ignore_errors=True)
    script = f"""
    -- one scan, two sinks (HiveParser.g:2565 multi-insert shape)
    DROP TABLE IF EXISTS etl_hi;
    DROP TABLE IF EXISTS etl_lo;
    CREATE TABLE etl_hi (o_orderkey BIGINT, o_totalprice DOUBLE)
      USING parquet LOCATION '{root}/etl_hi';
    CREATE TABLE etl_lo (o_orderkey BIGINT, o_totalprice DOUBLE)
      USING parquet LOCATION '{root}/etl_lo';
    FROM orders
    INSERT OVERWRITE TABLE etl_hi
      SELECT o_orderkey, o_totalprice WHERE o_totalprice >= {_THRESHOLD}
    INSERT OVERWRITE TABLE etl_lo
      SELECT o_orderkey, o_totalprice WHERE o_totalprice < {_THRESHOLD};
    """
    run_script(spark, script)
    # TRANSFORM pipe stage (ScriptOperator.java:61): identity filter via
    # /bin/cat, read back through the default tab-delimited serde
    transformed = spark.sql(
        """SELECT TRANSFORM (o_orderkey)
           USING 'cat' AS (o_orderkey_s STRING)
           FROM etl_hi"""
    )
    transformed.createOrReplaceTempView("etl_hi_piped")
    return spark.sql(
        """
        SELECT 'hi' AS sink, COUNT(*) AS n,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total
        FROM etl_hi
        UNION ALL
        SELECT 'lo' AS sink, COUNT(*) AS n,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total
        FROM etl_lo
        UNION ALL
        SELECT 'piped' AS sink, COUNT(*) AS n,
               CAST(SUM(CAST(o_orderkey_s AS BIGINT)) AS DECIMAL(18,2)) AS total
        FROM etl_hi_piped
        """
    )


_ORACLE = f"""
SELECT 'hi' AS sink, COUNT(*) AS n,
       SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total
FROM orders WHERE o_totalprice >= {_THRESHOLD}
UNION ALL
SELECT 'lo' AS sink, COUNT(*) AS n,
       SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total
FROM orders WHERE o_totalprice < {_THRESHOLD}
UNION ALL
SELECT 'piped' AS sink, COUNT(*) AS n,
       CAST(SUM(o_orderkey) AS DECIMAL(18,2)) AS total
FROM orders WHERE o_totalprice >= {_THRESHOLD}
"""

def time_travel_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`FOR SYSTEM_VERSION AS OF` SQL text over a snapshots.py versioned
    table (grammar ref: FromClauseParser.g:220-224; Iceberg handler ref:
    HiveIcebergStorageHandler.java:232): v0 = full nation, v1 = nation
    minus region 0; both versions queried BY SQL TEXT and unioned."""
    import os
    import shutil
    import tempfile

    from hive_spark import snapshots
    from hive_spark.hqlscript import register_versioned, run_script

    v = views(spark, sf_dir)
    tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(tempfile.gettempdir(), f"hive_spark_tt_{tag}")
    shutil.rmtree(path, ignore_errors=True)
    snapshots.write_version(v["nation"], path)
    snapshots.write_version(v["nation"].filter("n_regionkey <> 0"), path)
    register_versioned("nation_versioned", path)
    out = run_script(
        spark,
        """
        SELECT 'v0' AS snap, n_regionkey, COUNT(*) AS n,
               SUM(n_nationkey) AS ksum
        FROM nation_versioned FOR SYSTEM_VERSION AS OF 0
        GROUP BY n_regionkey;
        SELECT 'latest' AS snap, n_regionkey, COUNT(*) AS n,
               SUM(n_nationkey) AS ksum
        FROM nation_versioned FOR SYSTEM_VERSION AS OF 1
        GROUP BY n_regionkey;
        """,
    )
    return out.results[0].unionByName(out.results[1])


_TT_ORACLE = """
SELECT 'v0' AS snap, n_regionkey, COUNT(*) AS n, SUM(n_nationkey) AS ksum
FROM nation GROUP BY n_regionkey
UNION ALL
SELECT 'latest' AS snap, n_regionkey, COUNT(*) AS n, SUM(n_nationkey) AS ksum
FROM nation WHERE n_regionkey <> 0 GROUP BY n_regionkey
"""

def acid_dml_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-text UPDATE / DELETE / MERGE end-to-end (Hive ACID DML, ref:
    ql/.../parse/UpdateDeleteSemanticAnalyzer.java,
    MergeSemanticAnalyzer.java:85-102): a versioned copy of nation goes
    through all three statements via run_script, and the summary reads
    the final state back. The DuckDB oracle recomputes the same three
    mutations as pure SQL over the pristine table."""
    import os
    import shutil
    import tempfile

    from hive_spark import snapshots
    from hive_spark.hqlscript import VERSIONED_TABLES, register_versioned, run_script

    v = views(spark, sf_dir)
    tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(tempfile.gettempdir(), f"hive_spark_acid_{tag}")
    shutil.rmtree(path, ignore_errors=True)
    snapshots.write_version(
        v["nation"].select("n_nationkey", "n_name", "n_regionkey"), path
    )
    register_versioned("nation_acid", path)
    try:
        run_script(
            spark,
            """
            UPDATE nation_acid SET n_name = lower(n_name)
            WHERE n_regionkey = 0;
            DELETE FROM nation_acid WHERE n_nationkey % 7 = 3;
            MERGE INTO nation_acid t USING (
                SELECT n_nationkey + 100 AS k, n_name AS nm,
                       n_regionkey AS rk
                FROM nation_acid WHERE n_regionkey = 1
            ) s ON t.n_nationkey = s.k
            WHEN NOT MATCHED THEN INSERT (n_nationkey, n_name, n_regionkey)
                 VALUES (s.k, concat('copy_', s.nm), s.rk);
            """,
        )
        return (
            snapshots.read_table(spark, path)
            .groupBy("n_regionkey")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("n_nationkey").alias("ksum"),
                F.sum(
                    (F.col("n_name") == F.lower("n_name")).cast("int")
                ).alias("n_lower"),
            )
            .orderBy("n_regionkey")
        )
    finally:
        VERSIONED_TABLES.pop("nation_acid", None)


_ACID_ORACLE = """
WITH updated AS (
    SELECT n_nationkey,
           CASE WHEN n_regionkey = 0 THEN lower(n_name) ELSE n_name END
             AS n_name,
           n_regionkey
    FROM nation
),
deleted AS (
    SELECT * FROM updated WHERE n_nationkey % 7 <> 3
),
merged AS (
    SELECT * FROM deleted
    UNION ALL
    SELECT n_nationkey + 100, concat('copy_', n_name), n_regionkey
    FROM deleted WHERE n_regionkey = 1
)
SELECT n_regionkey, COUNT(*) AS n, SUM(n_nationkey) AS ksum,
       SUM(CASE WHEN n_name = lower(n_name) THEN 1 ELSE 0 END) AS n_lower
FROM merged GROUP BY n_regionkey ORDER BY n_regionkey
"""


def hplsql_function_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HPL/SQL user FUNCTION driving a query (r7; ref: hplsql/src/main/
    java/org/apache/hive/hplsql/Exec.java visitCreate_function_stmt +
    Function.execUser): the script declares bucket_width(lo,hi,n),
    evaluates it inside expressions over scalar-subquery inputs, and the
    derived width parameterizes an equal-width histogram. The oracle
    recomputes the identical arithmetic in pure SQL, so the hash match
    proves the interpreter's function-call -> literal substitution is
    value-exact (double ops are bit-identical across engines)."""
    from hive_spark.hplsql import HplInterpreter

    views(spark, sf_dir)
    interp = HplInterpreter(spark)
    interp.run(
        """
        CREATE OR REPLACE FUNCTION bucket_width(lo, hi, n) RETURNS DOUBLE
        BEGIN
            RETURN (hi - lo) / n;
        END;
        SET lo := (SELECT MIN(o_totalprice) FROM orders);
        SET w := bucket_width(lo, (SELECT MAX(o_totalprice) FROM orders), 4);
        """
    )
    lo = interp.res.variables["lo"]
    w = interp.res.variables["w"]
    return spark.sql(
        f"""
        SELECT LEAST(CAST(FLOOR((o_totalprice - {lo!r}) / {w!r}) AS BIGINT), 3)
                 AS bucket,
               COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2))
                 AS total
        FROM orders GROUP BY 1 ORDER BY 1
        """
    )


_HPL_FN_ORACLE = """
WITH b AS (SELECT MIN(o_totalprice) AS lo,
                  (MAX(o_totalprice) - MIN(o_totalprice)) / 4 AS w
           FROM orders)
SELECT LEAST(CAST(FLOOR((o_totalprice - lo) / w) AS BIGINT), 3) AS bucket,
       COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2))
         AS total
FROM orders, b GROUP BY 1 ORDER BY 1
"""


REGISTRY: dict[str, QuerySpec] = {
    "hplsql_function_pipeline": QuerySpec(
        fn=hplsql_function_pipeline,
        oracle=_HPL_FN_ORACLE,
        doc="HPL/SQL CREATE FUNCTION + call-in-expression derives a "
        "histogram parameter; oracle recomputes in pure SQL "
        "(Exec.java Function.execUser)",
    ),
    "hql_etl_multi_insert": QuerySpec(
        fn=etl_multi_insert_transform,
        oracle=_ORACLE,
        doc="SQL-text multi-insert + TRANSFORM pipe via run_script, "
        "read-back summary (HiveParser.g:2565, ScriptOperator.java:61)",
    ),
    "hql_time_travel": QuerySpec(
        fn=time_travel_read,
        oracle=_TT_ORACLE,
        doc="FOR SYSTEM_VERSION AS OF via SQL text over snapshots.py "
        "(FromClauseParser.g:220-224)",
    ),
    "hql_acid_dml": QuerySpec(
        fn=acid_dml_text,
        oracle=_ACID_ORACLE,
        doc="SQL-text UPDATE/DELETE/MERGE through run_script onto the "
        "CoW rewrites (Update/Delete/MergeSemanticAnalyzer)",
    ),
}
