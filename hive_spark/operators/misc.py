"""Remaining inventory odds and ends.

- approx sketches: Hive registers the DataSketches family under `ds_*`
  prefixes (ref: ql/src/java/org/apache/hadoop/hive/ql/exec/
  DataSketchesFunctions.java, registered FunctionRegistry.java:581) and
  rewrites count(distinct)->ds_hll under a CBO rule
  (HiveRewriteToDataSketchesRules.java). The Spark-native intent carriers
  are approx_count_distinct (HLL++) and approx_percentile — probabilistic,
  so the driver records a rows-only check; the unit test bounds the error
  against exact values.
- virtual columns (ref: ql/.../metadata/VirtualColumn.java:46-70 —
  INPUT__FILE__NAME, ROW__POSITION...): Spark input_file_name() and the
  _metadata hidden struct; oracle via DuckDB read_parquet(filename=true).
- UNIONTYPE<...> (ref: serde UnionTypeInfo.java): no Spark union type —
  emulated as a (tag, struct) pair per SURVEY §1.2, with tag-dispatched
  extraction.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_spark.operators import QuerySpec, views
from hive_spark.session import state


def approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL distinct-count + approximate percentile per returnflag
    (the ds_hll / ds_kll capability, Spark-native)."""
    views(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag,
               approx_count_distinct(l_orderkey, 0.01) AS approx_orders,
               approx_percentile(l_quantity, 0.5, 1000) AS approx_median_qty
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        """
    )


def sec_masked_rowfilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranger-style policy enforcement (ref: SemanticAnalyzer
    applyRowFilterAndColumnMasking; HiveAuthorizer row filters + cell
    transformers): a policy masks customer.c_name and filters rows for
    user 'analyst'; the query below is UNCHANGED application SQL — the
    governed relation comes from the session-level rewrite
    (hive_spark/security.py), and the row filter still reaches the scan
    as an ordinary pushable predicate."""
    views(spark, sf_dir)
    from hive_spark.security import (
        TablePolicy,
        disable,
        drop_policy,
        enable_for_user,
        register_policy,
    )

    register_policy(
        TablePolicy(
            table="customer",
            column_masks={"c_name": "concat('XXXX', substr({col}, -2))"},
            row_filter="c_nationkey % 5 = 0",
            users={"analyst"},
        )
    )
    enable_for_user(spark, "analyst")
    try:
        # analysis binds the masked plan now; restoring the views after
        # does not unmask this DataFrame
        return spark.sql(
            """
            SELECT c_name, COUNT(*) AS n,
                   CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DECIMAL(38,2))
                       AS bal
            FROM customer
            GROUP BY c_name ORDER BY c_name
            """
        )
    finally:
        disable(spark)
        drop_policy("customer")


_SEC_MASKED_SQL = """
SELECT concat('XXXX', substr(c_name, -2)) AS c_name, COUNT(*) AS n,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS bal
FROM customer
WHERE c_nationkey % 5 = 0
GROUP BY 1 ORDER BY c_name
"""


def virtual_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INPUT__FILE__NAME / ROW-metadata virtual columns: per-file counts
    (basename only, so the oracle is path-independent)."""
    views(spark, sf_dir)
    return (
        spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
        .select(
            F.element_at(F.split(F.input_file_name(), "/"), -1).alias("file_name"),
            F.col("_metadata.file_name").alias("meta_file_name"),
        )
        .groupBy("file_name", "meta_file_name")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy("file_name")
    )


_VIRTUAL_SQL = """
SELECT regexp_extract(filename, '([^/]+)$', 1) AS file_name,
       regexp_extract(filename, '([^/]+)$', 1) AS meta_file_name,
       COUNT(*) AS n_rows
FROM read_parquet('{sf}/nation.parquet', filename=true)
GROUP BY 1, 2 ORDER BY file_name
"""


def uniontype_emulation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNIONTYPE<int, string> as (tag, payload-struct): even keys carry an
    int, odd keys a string; extraction dispatches on the tag (the
    create_union/extract_union surface, SURVEY §1.2)."""
    views(spark, sf_dir)
    return spark.sql(
        """
        WITH u AS (
            SELECT n_nationkey,
                   CASE WHEN n_nationkey % 2 = 0 THEN 0 ELSE 1 END AS tag,
                   named_struct(
                       'i', CASE WHEN n_nationkey % 2 = 0 THEN n_regionkey END,
                       's', CASE WHEN n_nationkey % 2 = 1 THEN n_name END
                   ) AS payload
            FROM nation
        )
        SELECT n_nationkey, tag,
               CASE WHEN tag = 0 THEN CAST(payload.i AS STRING)
                    ELSE payload.s END AS extracted
        FROM u ORDER BY n_nationkey
        """
    )


_UNION_SQL = """
SELECT n_nationkey,
       CASE WHEN n_nationkey % 2 = 0 THEN 0 ELSE 1 END AS tag,
       CASE WHEN n_nationkey % 2 = 0 THEN CAST(n_regionkey AS VARCHAR)
            ELSE n_name END AS extracted
FROM nation ORDER BY n_nationkey
"""


def mv_rollup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MV containment rewrite, end-to-end: materialize an aggregate MV on
    lineitem grouped by (l_returnflag, l_linestatus), then answer a
    COARSER query — filtered on one group key, grouped by the other — from
    the MV alone (ref: ql/.../optimizer/calcite/rules/views/
    HiveMaterializedViewRule.java aggregate-rollup rules). The oracle runs
    the same query against the BASE table, so a hash match proves the
    rollup derivation (sum<-sum, count<-sum, max<-max re-merge) is sound.

    At scale: the MV has |flag|x|status| ~ 6 rows; the rewrite replaces a
    full fact scan + shuffle with a 6-row parquet read."""
    v = views(spark, sf_dir)
    from hive_spark.plans import AggregateMV

    base = v["lineitem"].select(
        "l_returnflag",
        "l_linestatus",
        F.col("l_quantity").cast("decimal(18,2)").alias("qty"),
    )
    mv = AggregateMV(
        spark,
        f"li_flag_status_{os.path.basename(os.path.normpath(sf_dir))}",
        base,
        ["l_returnflag", "l_linestatus"],
        {
            "s_qty": ("sum", "qty"),
            "c_qty": ("count", "qty"),
            "n": ("count", "*"),
            "mx": ("max", "qty"),
        },
    )
    out = mv.answer(
        ["l_returnflag"],
        {
            "sum_qty": ("sum", "qty"),
            "cnt_qty": ("count", "qty"),
            "n_rows": ("count", "*"),
            "max_qty": ("max", "qty"),
        },
        where=F.col("l_linestatus") == "F",
    )
    return out.select(
        "l_returnflag",
        F.col("sum_qty").cast("decimal(38,2)").alias("sum_qty"),
        "cnt_qty",
        "n_rows",
        F.col("max_qty").cast("decimal(18,2)").alias("max_qty"),
    ).orderBy("l_returnflag")


_MV_ROLLUP_SQL = """
SELECT l_returnflag,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS sum_qty,
       COUNT(l_quantity) AS cnt_qty,
       COUNT(*) AS n_rows,
       CAST(MAX(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS max_qty
FROM lineitem
WHERE l_linestatus = 'F'
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def _get_star_mv(spark: SparkSession, sf_dir: str):
    """The q3-family star MV, constructed once per (session, sf_dir).
    Matching inside try_rewrite uses sameResult against plan handles
    captured at materialization time, so the cached MV keeps firing
    after source views are re-registered with the same definition (and
    correctly misses if they are re-registered over different data)."""
    from hive_spark.operators.tpcds import _register_star
    from hive_spark.plans import AggregateMV

    _register_star(spark, sf_dir)
    mvs = state(spark).star_mvs
    if sf_dir not in mvs:
        mvs[sf_dir] = AggregateMV(
            spark,
            f"q3_family_{os.path.basename(os.path.normpath(sf_dir))}",
            spark.table("store_sales"),
            ["d_year", "d_moy", "i_brand", "i_brand_id", "i_manufact_id"],
            {
                "sum_cents": (
                    "sum",
                    "CAST(round(ss_ext_sales_price * 100) AS BIGINT)",
                ),
                "n_rows": ("count", "*"),
            },
            dims=[
                (spark.table("date_dim"), "ss_sold_date_sk", "d_date_sk"),
                (spark.table("item"), "ss_item_sk", "i_item_sk"),
            ],
        )
    return mvs[sf_dir]


def mv_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-join MV with JOIN-CONTAINMENT rewrite, end-to-end (r5; ref:
    ql/.../optimizer/calcite/rules/views/HiveMaterializedViewRule.java):
    materialize store_sales x date_dim x item pre-aggregated on
    (d_year, d_moy, i_brand, i_brand_id, i_manufact_id), then run a
    TPC-DS q3-family query — same joins, dim filters, coarser GROUP BY —
    through ``try_rewrite``. The rewrite must HIT (asserted: no fact
    relation in the executed plan, tests/test_mv_containment.py), and
    the oracle computes the same query from the BASE tables, so the hash
    match proves join-containment derivation is sound.

    At scale: the MV holds one row per (year, month, brand, manufact)
    combination — the fact scan and the 3-way shuffle join are replaced
    by a parquet read orders of magnitude smaller."""
    mv = _get_star_mv(spark, sf_dir)
    q = spark.sql(
        """
        SELECT dt.d_year, item.i_brand_id AS brand_id,
               item.i_brand AS brand,
               SUM(CAST(round(ss_ext_sales_price * 100) AS BIGINT))
                 AS sum_cents
        FROM date_dim dt, store_sales, item
        WHERE dt.d_date_sk = store_sales.ss_sold_date_sk
          AND store_sales.ss_item_sk = item.i_item_sk
          AND item.i_manufact_id = 4
          AND dt.d_moy = 12
        GROUP BY dt.d_year, item.i_brand, item.i_brand_id
        """
    )
    hit = mv.try_rewrite(q)
    out = hit if hit is not None else q
    return out.select(
        "d_year",
        "brand_id",
        "brand",
        (F.col("sum_cents").cast("double") / 100).alias("sum_agg"),
    ).orderBy("d_year", F.desc("sum_agg"), "brand_id")


def mv_star_distinct_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT-aggregate derivability guard (ref: Hive's
    MaterializedViewAggregateRule in ql/.../optimizer/calcite/rules/views/
    rejects rollups it cannot derive): SUM(DISTINCT x) whose input text
    exactly matches a stored NON-distinct partial must MISS the MV and be
    answered from the base tables. The oracle computes the true DISTINCT
    sum, so a bad rewrite (merging non-distinct partials) would
    hash-mismatch — this registry row is the executable proof the r6
    ADVICE-high wrong-answer hole is closed."""
    mv = _get_star_mv(spark, sf_dir)
    q = spark.sql(
        """
        SELECT dt.d_year,
               SUM(DISTINCT CAST(round(ss_ext_sales_price * 100) AS BIGINT))
                 AS sum_cents
        FROM date_dim dt, store_sales, item
        WHERE dt.d_date_sk = store_sales.ss_sold_date_sk
          AND store_sales.ss_item_sk = item.i_item_sk
          AND dt.d_moy = 12
        GROUP BY dt.d_year
        """
    )
    hit = mv.try_rewrite(q)
    assert hit is None, "DISTINCT agg must not be answered from plain partials"
    return q.select(
        "d_year",
        (F.col("sum_cents").cast("double") / 100).alias("sum_distinct_agg"),
    ).orderBy("d_year")


def _mv_star_distinct_oracle() -> str:
    from hive_spark.operators.tpcds import _oracle

    return _oracle(
        """
SELECT dt.d_year,
       CAST(SUM(DISTINCT CAST(round(ss_ext_sales_price * 100) AS BIGINT))
            AS DOUBLE) / 100 AS sum_distinct_agg
FROM date_dim dt, store_sales, item
WHERE dt.d_date_sk = store_sales.ss_sold_date_sk
  AND store_sales.ss_item_sk = item.i_item_sk
  AND dt.d_moy = 12
GROUP BY dt.d_year
ORDER BY dt.d_year
"""
    )


def _mv_star_oracle() -> str:
    from hive_spark.operators.tpcds import _oracle

    return _oracle(
        """
SELECT dt.d_year, item.i_brand_id AS brand_id, item.i_brand AS brand,
       CAST(SUM(CAST(round(ss_ext_sales_price * 100) AS BIGINT)) AS DOUBLE)
         / 100 AS sum_agg
FROM date_dim dt, store_sales, item
WHERE dt.d_date_sk = store_sales.ss_sold_date_sk
  AND store_sales.ss_item_sk = item.i_item_sk
  AND item.i_manufact_id = 4
  AND dt.d_moy = 12
GROUP BY dt.d_year, item.i_brand, item.i_brand_id
ORDER BY dt.d_year, sum_agg DESC, brand_id
"""
    )


def agg_width_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width histogram via width_bucket (Hive GenericUDFWidthBucket,
    ref udf/generic/GenericUDFWidthBucket.java; the deterministic sibling
    of histogram_numeric, whose adaptive bins are estimator-dependent and
    so live under the rows-only sketch entry). One scan, one groupBy on a
    10-value key — trivially parallel at any scale."""
    views(spark, sf_dir)
    return spark.sql(
        """
        SELECT width_bucket(l_extendedprice, 900.0D, 105000.0D, 10) AS bucket,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2))
                 AS sum_price
        FROM lineitem
        GROUP BY 1 ORDER BY 1
        """
    )


# DuckDB lacks width_bucket; the emulation folds the same constants and
# applies the same IEEE double ops (subtract, divide, floor), so buckets
# are bit-identical
_WIDTH_BUCKET_SQL = """
SELECT CASE WHEN l_extendedprice < 900.0 THEN 0
            WHEN l_extendedprice >= 105000.0 THEN 11
            ELSE CAST(FLOOR((l_extendedprice - 900.0) / ((105000.0 - 900.0) / 10))
                      AS BIGINT) + 1 END AS bucket,
       COUNT(*) AS n,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS sum_price
FROM lineitem
GROUP BY 1 ORDER BY 1
"""


def agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation on a pathologically skewed key (lang:
    5 values over the whole corpus — exactly the shape where one reducer
    gets ~1/5 of 100 TB). The salted plan must produce BIT-IDENTICAL
    results to the direct groupBy (counts and decimal sums are
    associative), which is what the oracle checks; the skew-spreading
    itself is asserted in tests/test_plans.py."""
    v = views(spark, sf_dir)
    from hive_spark.plans import salted_agg_count

    out = salted_agg_count(v["documents"], "lang", salt=16, agg_col="n_chars")
    return out.select(
        "lang",
        F.col("n").alias("n_docs"),
        F.col("sum_n_chars").cast("decimal(38,4)").alias("sum_chars"),
    ).orderBy("lang")


_SALTED_SQL = """
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(CAST(n_chars AS DECIMAL(30,4))) AS DECIMAL(38,4)) AS sum_chars
FROM documents
GROUP BY lang ORDER BY lang
"""


def _virtual_oracle_factory(sql_template: str):
    """Oracle SQL runs verbatim (no per-run templating), and
    read_parquet(filename=true) needs a literal path — so the oracle is
    pinned to the driver's correctness dir (sf0.01)."""
    return sql_template.format(sf="/root/testdata/sf0.01")


REGISTRY: dict[str, QuerySpec] = {
    "agg_approx_sketches": QuerySpec(
        approx_sketches, None, "probabilistic (HLL/KLL) — rows-only"
    ),
    "sec_masked_rowfilter": QuerySpec(
        sec_masked_rowfilter,
        _SEC_MASKED_SQL,
        "Ranger-style column mask + row filter via session rewrite",
    ),
    "virtual_columns": QuerySpec(
        virtual_columns, _virtual_oracle_factory(_VIRTUAL_SQL)
    ),
    "uniontype_emulation": QuerySpec(uniontype_emulation, _UNION_SQL),
    "agg_salted_skew": QuerySpec(
        agg_salted_skew,
        _SALTED_SQL,
        "salted two-stage agg on skewed key == direct groupBy, bit-exact",
    ),
    "agg_width_bucket_histogram": QuerySpec(
        agg_width_bucket_histogram,
        _WIDTH_BUCKET_SQL,
        "equal-width histogram, width_bucket vs folded-constant emulation",
    ),
    "mv_rollup_containment": QuerySpec(
        mv_rollup_containment,
        _MV_ROLLUP_SQL,
        "aggregate MV answers a coarser filtered rollup; oracle = base table",
    ),
    "mv_star_join": QuerySpec(
        mv_star_join,
        _mv_star_oracle(),
        "star-join MV join-containment rewrite; oracle = base star join",
    ),
    "mv_star_distinct_guard": QuerySpec(
        mv_star_distinct_guard,
        _mv_star_distinct_oracle(),
        "SUM(DISTINCT) must miss the MV (non-derivable); oracle = true "
        "distinct sum from base tables",
    ),
}
