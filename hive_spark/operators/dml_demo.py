"""DML demos: UPDATE / DELETE / MERGE / multi-insert / dynamic-partition
overwrite, each returning the post-DML table so DuckDB can verify the final
state with an equivalent *declarative* expression (DuckDB never runs the
write path — it recomputes what the table must contain).

Each demo copies a testdata table to a scratch dir under /tmp, applies the
DML via hive_spark.dml, and returns the re-read result — so the parquet
write/read round-trip is part of what's verified, not just the rewrite
expression. Hive refs in hive_spark/dml.py docstrings.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_spark import dml
from hive_spark.operators import QuerySpec, views
from hive_spark.session import read_parquet

_SCRATCH = f"/tmp/hive_spark_dml_{os.getpid()}"  # pid-unique: concurrent sessions must not collide


def _copy(spark: SparkSession, sf_dir: str, table: str, name: str) -> str:
    """Fresh scratch copy of a testdata table (idempotent per call)."""
    dst = os.path.join(_SCRATCH, f"{name}_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(dst, ignore_errors=True)
    views(spark, sf_dir)[table].write.parquet(dst)
    return dst


def dml_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE customer SET c_acctbal += 100 WHERE c_nationkey = 3."""
    views(spark, sf_dir)
    path = _copy(spark, sf_dir, "customer", "upd")
    dml.update_where(
        spark,
        path,
        F.col("c_nationkey") == 3,
        {"c_acctbal": (F.col("c_acctbal").cast("decimal(18,2)") + 100).cast("double")},
    )
    return (
        read_parquet(spark, path)
        .select("c_custkey", F.col("c_acctbal").cast("decimal(18,2)").alias("c_acctbal"))
        .orderBy("c_custkey")
    )


_UPDATE_SQL = """
SELECT c_custkey,
       CAST(CASE WHEN c_nationkey = 3
                 THEN CAST(c_acctbal AS DECIMAL(18,2)) + 100
                 ELSE CAST(c_acctbal AS DECIMAL(18,2)) END AS DECIMAL(18,2)) AS c_acctbal
FROM customer ORDER BY c_custkey
"""


def dml_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE FROM customer WHERE c_acctbal < 0."""
    views(spark, sf_dir)
    path = _copy(spark, sf_dir, "customer", "del")
    dml.delete_where(spark, path, F.col("c_acctbal") < 0)
    return read_parquet(spark, path).select("c_custkey", "c_nationkey").orderBy("c_custkey")


_DELETE_SQL = """
SELECT c_custkey, c_nationkey FROM customer
WHERE NOT (c_acctbal < 0) ORDER BY c_custkey
"""


def dml_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE order-spend per customer into the customer table:
    matched -> add total 'F'-order spend to the balance; matched customers
    with spend > 500000 are deleted (churn purge); unmatched source rows
    insert synthetic customers keyed 1M+custkey."""
    views(spark, sf_dir)
    path = _copy(spark, sf_dir, "customer", "mrg")
    source = (
        spark.table("orders")
        .filter(F.col("o_orderstatus") == "F")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("spend"))
    )
    dml.merge_into(
        spark,
        path,
        source,
        on=F.col("t.c_custkey") == F.col("s.k"),
        matched_update={
            "c_acctbal": (
                F.col("t.c_acctbal").cast("decimal(18,2)") + F.col("s.spend")
            ).cast("double")
        },
        matched_delete=F.col("s.spend") > 500000,
        not_matched_insert={
            "c_custkey": F.col("s.k") + 1000000,
            "c_name": F.lit("merged"),
            "c_nationkey": F.lit(0),
            "c_acctbal": F.col("s.spend").cast("double"),
            "c_mktsegment": F.lit("NONE"),
        },
    )
    return (
        read_parquet(spark, path)
        .select(
            "c_custkey",
            "c_name",
            F.col("c_acctbal").cast("decimal(18,2)").alias("c_acctbal"),
        )
        .orderBy("c_custkey")
    )


_MERGE_SQL = """
WITH src AS (
    SELECT o_custkey AS k, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
    FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey
)
SELECT c_custkey, c_name, c_acctbal FROM (
    SELECT c.c_custkey, c.c_name,
           CAST(CASE WHEN s.k IS NOT NULL
                     THEN CAST(c.c_acctbal AS DECIMAL(18,2)) + s.spend
                     ELSE CAST(c.c_acctbal AS DECIMAL(18,2)) END
                AS DECIMAL(18,2)) AS c_acctbal,
           s.spend
    FROM customer c LEFT JOIN src s ON c.c_custkey = s.k
    WHERE s.k IS NULL OR NOT (s.spend > 500000)
    UNION ALL
    SELECT s.k + 1000000, 'merged', CAST(s.spend AS DECIMAL(18,2)), s.spend
    FROM src s LEFT JOIN customer c ON c.c_custkey = s.k
    WHERE c.c_custkey IS NULL
)
ORDER BY c_custkey
"""


def dml_multi_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FROM lineitem INSERT high-value INSERT low-value: one cached scan,
    two sinks; returns per-sink counts + revenue."""
    views(spark, sf_dir)
    base = os.path.join(_SCRATCH, f"mi_{os.path.basename(sf_dir.rstrip('/'))}")
    hi, lo = base + "_hi", base + "_lo"
    shutil.rmtree(hi, ignore_errors=True)
    shutil.rmtree(lo, ignore_errors=True)
    line = spark.table("lineitem").select(
        "l_orderkey", "l_linenumber", F.col("l_extendedprice").cast("decimal(18,2)").alias("price")
    )
    dml.multi_insert(
        line,
        [(F.col("price") >= 50000, hi), (F.col("price") < 50000, lo)],
    )
    hi_df = read_parquet(spark, hi).select(F.lit("hi").alias("sink"), "price")
    lo_df = read_parquet(spark, lo).select(F.lit("lo").alias("sink"), "price")
    return (
        hi_df.unionAll(lo_df)
        .groupBy("sink")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("price").cast("decimal(38,2)").alias("total"),
        )
        .orderBy("sink")
    )


_MULTI_INSERT_SQL = """
SELECT sink, COUNT(*) AS n, CAST(SUM(price) AS DECIMAL(38,2)) AS total
FROM (
    SELECT CASE WHEN CAST(l_extendedprice AS DECIMAL(18,2)) >= 50000
                THEN 'hi' ELSE 'lo' END AS sink,
           CAST(l_extendedprice AS DECIMAL(18,2)) AS price
    FROM lineitem
)
GROUP BY sink ORDER BY sink
"""


def dml_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INSERT OVERWRITE with dynamic partitions: orders written partitioned
    by order-year, then ONLY the 1997 partition is overwritten with
    discounted totals — other partitions must be untouched (Hive dynamic
    partition insert, FileSinkOperator dynamic-partition path)."""
    views(spark, sf_dir)
    path = os.path.join(_SCRATCH, f"dpo_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(path, ignore_errors=True)
    orders = spark.table("orders").withColumn("o_year", F.year("o_orderdate"))
    dml.overwrite_table(orders, path, partition_cols=["o_year"])
    patch = (
        orders.filter(F.col("o_year") == 1997)
        .withColumn(
            "o_totalprice",
            (F.col("o_totalprice").cast("decimal(18,2)") * F.lit(0.9).cast("decimal(3,2)"))
            .cast("double"),
        )
    )
    dml.overwrite_table(patch, path, partition_cols=["o_year"], dynamic=True)
    return (
        read_parquet(spark, path)
        .groupBy(F.col("o_year").cast("bigint").alias("o_year"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("decimal(38,4)").alias("total"),
        )
        .orderBy("o_year")
    )


_DPO_SQL = """
SELECT year(o_orderdate) AS o_year, COUNT(*) AS n,
       CAST(SUM(CASE WHEN year(o_orderdate) = 1997
                THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(0.9 AS DECIMAL(3,2))
                          AS DECIMAL(18,4))
                ELSE CAST(o_totalprice AS DECIMAL(18,4)) END) AS DECIMAL(38,4)) AS total
FROM orders
GROUP BY 1 ORDER BY 1
"""


REGISTRY: dict[str, QuerySpec] = {
    "dml_update": QuerySpec(dml_update, _UPDATE_SQL),
    "dml_delete": QuerySpec(dml_delete, _DELETE_SQL),
    "dml_merge": QuerySpec(dml_merge, _MERGE_SQL),
    "dml_multi_insert": QuerySpec(dml_multi_insert, _MULTI_INSERT_SQL),
    "dml_dynamic_partition_overwrite": QuerySpec(
        dml_dynamic_partition_overwrite, _DPO_SQL
    ),
}
