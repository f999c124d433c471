"""DML rewrites (update/delete/merge/multi-insert/dpo) vs DuckDB oracle."""

import os

import pytest
from pyspark.sql import functions as F

from hive_spark import dml
from hive_spark.plans import MaterializedViews
from hive_spark.operators import dml_demo
from tests.oracle_check import compare


@pytest.mark.parametrize("name", sorted(dml_demo.REGISTRY))
def test_dml_oracle(spark, sf_dir, name):
    spec = dml_demo.REGISTRY[name]
    compare(spec.fn(spark, sf_dir), spec.oracle, sf_dir)


def test_merge_cardinality_violation(spark, sf_dir):
    """Hive raises on >1 source row per target row; so do we."""
    path = dml_demo._copy(spark, sf_dir, "nation", "card")
    dup_source = spark.createDataFrame(
        [(0, 1.0), (0, 2.0)], "k int, v double"
    )
    with pytest.raises(Exception, match="cardinality"):
        dml.merge_into(
            spark,
            path,
            dup_source,
            on=F.col("t.n_nationkey") == F.col("s.k"),
            matched_update={"n_name": F.lit("x")},
        )


def test_merge_cardinality_allows_duplicate_target_rows(spark, tmp_path):
    """Two identical target rows are a legal multiset; each matches the
    single source row once — no violation (Hive keys the check on ROW__ID,
    not column values)."""
    path = str(tmp_path / "dup_target")
    spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "b")], "k int, v string"
    ).write.parquet(path)
    src = spark.createDataFrame([(1, "z")], "k int, v string")
    dml.merge_into(
        spark,
        path,
        src,
        on=F.col("t.k") == F.col("s.k"),
        matched_update={"v": F.col("s.v")},
    )
    rows = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert rows == [(1, "z"), (1, "z"), (2, "b")]


_OVERWRITE_MODE = "spark.sql.sources.partitionOverwriteMode"


def _partitions(path):
    return sorted(d for d in os.listdir(path) if "=" in d)


def test_dynamic_overwrite_leaves_session_static(spark, tmp_path):
    """A dynamic partition overwrite applies to its own write only: the
    session conf is unchanged afterwards, so a later static overwrite
    still replaces every partition."""
    spark.conf.unset(_OVERWRITE_MODE)
    before = spark.conf.get(_OVERWRITE_MODE)
    path = str(tmp_path / "t")
    rows = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k int, v string")
    dml.overwrite_table(rows, path, ["k"])
    dml.overwrite_table(rows.filter("k = 1"), path, ["k"], dynamic=True)
    assert spark.conf.get(_OVERWRITE_MODE) == before
    assert _partitions(path) == ["k=1", "k=2", "k=3"]

    mv = MaterializedViews(spark, root=str(tmp_path / "mv"))
    mv.create_partitioned("by_k", rows, "k")
    mv.refresh_partitions("by_k", rows, [1])
    assert spark.conf.get(_OVERWRITE_MODE) == before

    dml.overwrite_table(spark.createDataFrame([(4, "d")], "k int, v string"), path, ["k"])
    assert _partitions(path) == ["k=4"]


def test_multi_insert_frees_its_spool(spark, tmp_path):
    """The spooled scan's blocks are released when the writes finish,
    not left for a later JVM GC."""
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    df = spark.range(100).withColumn("odd", F.col("id") % 2 == 1)
    sinks = [(F.col("odd"), str(tmp_path / "odd")),
             (~F.col("odd"), str(tmp_path / "even"))]
    dml.multi_insert(df, sinks)
    assert jsc.getPersistentRDDs().size() == before
    assert spark.read.parquet(str(tmp_path / "odd")).count() == 50
    assert spark.read.parquet(str(tmp_path / "even")).count() == 50
