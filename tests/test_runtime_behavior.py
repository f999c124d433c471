"""Runtime behaviors: AQE skew handling, negative cases, sketch properties.

Mirrors the parts of Hive's test strategy beyond golden results: the
clientnegative corpus (expected failures) and the physical behaviors
(skew splitting) that only show up at execution time.
"""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from hive_spark.operators import text, views


def test_aqe_splits_skewed_join(spark):
    """A 95%-hot key join runs under AQE skew handling (Hive: compile-time
    SkewJoinOptimizer + runtime GenMRSkewJoinProcessor; Spark: runtime
    split). Verified live: results correct AND the post-execution adaptive
    plan marks the sort-merge join as skew-handled."""
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
    )
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
    try:
        fact = spark.range(100_000).select(
            F.when(F.col("id") % 20 != 0, F.lit(7)).otherwise(F.col("id")).alias("k"),
            F.col("id").alias("payload"),
        )
        dim = spark.range(100).select(
            F.col("id").alias("k"), F.concat(F.lit("d"), F.col("id")).alias("name")
        )
        joined = fact.join(dim.hint("merge"), "k")
        # collect() executes THIS dataset's queryExecution (count() would
        # build a different plan and leave this one unexecuted)
        n = len(joined.collect())
        expected = 100_000 - 100_000 // 20 + len(
            [i for i in range(0, 100_000, 20) if i < 100]
        )
        assert n == expected
        final_plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in final_plan
        assert "skew=true" in final_plan, "AQE did not mark the join as skewed"
    finally:
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        ):
            spark.conf.unset(k)


# -- clientnegative analog (Hive ql/src/test/queries/clientnegative/) -------


def test_unresolved_column_fails(spark, sf_dir):
    views(spark, sf_dir)
    with pytest.raises(AnalysisException, match="no_such_col|UNRESOLVED"):
        spark.sql("SELECT no_such_col FROM nation").collect()


def test_missing_table_fails(spark):
    with pytest.raises(AnalysisException, match="nonexistent|TABLE_OR_VIEW"):
        spark.sql("SELECT * FROM nonexistent_table_xyz").collect()


def test_ambiguous_reference_fails(spark, sf_dir):
    views(spark, sf_dir)
    with pytest.raises(AnalysisException, match="AMBIGUOUS|ambiguous"):
        spark.sql(
            "SELECT n_nationkey FROM nation a JOIN nation b USING (n_name) "
            "WHERE a.n_nationkey != b.n_nationkey"
        ).collect()


def test_groupby_nonaggregated_fails(spark, sf_dir):
    views(spark, sf_dir)
    with pytest.raises(AnalysisException, match="MISSING_AGGREGATION|group"):
        spark.sql(
            "SELECT n_regionkey, n_name FROM nation GROUP BY n_regionkey"
        ).collect()


# -- sketch correctness properties ------------------------------------------


def test_minhash_identical_docs_share_cluster(spark, sf_dir):
    """Identical token sets produce identical minhash signatures, so exact
    duplicates MUST land in one cluster (recall=1 on exact dups — the
    property that makes LSH dedup sound). The corpus has no exact dups, so
    construct them: every doc is duplicated under doc_id+100000 via a view
    override (the memoized views() leaves the override in place)."""
    from hive_spark.session import state

    views(spark, sf_dir)
    docs = spark.table("documents")
    docs.unionAll(
        docs.withColumn("doc_id", F.col("doc_id") + 100000)
    ).createOrReplaceTempView("documents")
    try:
        assert spark.table("documents").count() == 2 * docs.count()
        clusters = {
            r.doc_id: r.cluster_id
            for r in text.dedup_minhash_lsh(spark, sf_dir).collect()
        }
        originals = [d for d in clusters if d < 100000]
        assert originals
        for d in originals:
            assert clusters[d] == clusters[d + 100000], f"split dup pair {d}"
    finally:
        # force re-registration of the real view for subsequent tests
        state(spark).views = None
        views(spark, sf_dir)
