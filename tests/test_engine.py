"""Engine facade: SQL in, DataFrame out, with MV rewrite and results
cache applied in Hive's order (compile -> rewrite -> cache -> execute)."""

import pytest
from pyspark.sql import functions as F

from hive_spark.engine import Engine


@pytest.fixture(scope="module")
def engine(spark, sf_dir, tmp_path_factory):
    e = Engine(spark, sf_dir, cache_root=str(tmp_path_factory.mktemp("qc")))
    base = spark.table("lineitem").select(
        "l_returnflag",
        "l_linestatus",
        F.col("l_quantity").cast("decimal(18,2)").alias("qty"),
    )
    base.createOrReplaceTempView("li_slim")
    e.create_aggregate_mv(
        "eng_mv",
        base,
        ["l_returnflag", "l_linestatus"],
        {"s": ("sum", "qty"), "c": ("count", "qty"), "n": ("count", "*")},
    )
    return e


def test_sql_served_from_mv(spark, engine):
    q = """SELECT l_returnflag, SUM(qty) AS s, COUNT(*) AS n
           FROM li_slim GROUP BY l_returnflag"""
    assert engine.explain_rewrite(q)
    got = {tuple(r) for r in engine.sql(q).collect()}
    want = {tuple(r) for r in spark.sql(q).collect()}
    assert got == want


def test_sql_mv_with_group_key_filter(spark, engine):
    """SQL-text WHERE on a group key: the analyzed Filter condition comes
    back qualifier-prefixed (`li_slim`.`l_linestatus`) and must be
    re-rooted on the MV relation, not crash with UNRESOLVED_COLUMN."""
    q = """SELECT l_returnflag, SUM(qty) AS s
           FROM li_slim WHERE l_linestatus = 'F' GROUP BY l_returnflag"""
    assert engine.explain_rewrite(q)
    got = {tuple(r) for r in engine.sql(q).collect()}
    want = {tuple(r) for r in spark.sql(q).collect()}
    assert got == want


def test_sql_mv_preserves_projection_order(spark, engine):
    """The rewrite must be schema-transparent: aggregate-first projections
    keep their original column order (positional consumers depend on it)."""
    q = "SELECT SUM(qty) AS s2, l_returnflag FROM li_slim GROUP BY l_returnflag"
    assert engine.explain_rewrite(q)
    df = engine.sql(q)
    assert df.columns == ["s2", "l_returnflag"]
    got = {tuple(r) for r in df.collect()}
    want = {tuple(r) for r in spark.sql(q).collect()}
    assert got == want


def test_uncontained_sql_runs_as_written(engine):
    q = "SELECT l_returnflag, MAX(qty) AS m FROM li_slim GROUP BY l_returnflag"
    assert not engine.explain_rewrite(q)  # no max partial in the MV
    assert engine.sql(q).count() == 3


def test_sql_mv_join_with_same_named_columns(spark, engine):
    """A join whose second relation has columns named like MV columns (a
    group key, the partial ``n``) is answered by re-joining that relation
    onto the MV rows, with the query's rows."""
    for q in (
        """SELECT a.l_returnflag, count(*) AS n FROM li_slim a
           JOIN (SELECT DISTINCT l_returnflag FROM li_slim) b
             ON a.l_returnflag = b.l_returnflag
           GROUP BY a.l_returnflag""",
        """SELECT a.l_returnflag, b.n, count(*) AS c FROM li_slim a
           JOIN (SELECT DISTINCT l_returnflag AS f, 1 AS n FROM li_slim) b
             ON a.l_returnflag = b.f
           GROUP BY a.l_returnflag, b.n""",
    ):
        assert engine.explain_rewrite(q)
        got = sorted(map(tuple, engine.sql(q).collect()))
        assert got == sorted(map(tuple, spark.sql(q).collect()))


def test_results_cache_round_trip(spark, engine):
    q = "SELECT l_linestatus, COUNT(*) AS n FROM li_slim GROUP BY l_linestatus"
    before = dict(engine.stats)
    first = engine.sql(q, use_cache=True)
    again = engine.sql(q, use_cache=True)
    # second run: same post-rewrite fingerprint -> served from the cache
    assert engine.stats["cache_hits"] == before["cache_hits"] + 1
    # this rollup is ALSO MV-contained (l_linestatus is a key, count(*)
    # stored) — both runs go through the rewrite first
    assert engine.stats["mv_hits"] >= before["mv_hits"] + 2
    assert {tuple(r) for r in again.collect()} == {tuple(r) for r in first.collect()}


def test_script_roundtrip(engine):
    out = engine.script(
        """SET spark.sql.shuffle.partitions=8;
           SELECT COUNT(*) AS n FROM li_slim;"""
    )
    assert out.results[-1].collect()[0].n > 0


def test_results_cache_invalidated_by_dml(spark, tmp_path):
    """An ACID rewrite on a table must invalidate cached query results —
    a flat-path rewrite keeps the same scan location, so a stale
    fingerprint would otherwise serve pre-write answers (Hive
    QueryResultsCache invalidates on table writes)."""
    from pyspark.sql import functions as F

    from hive_spark import dml
    from hive_spark.plans import ResultsCache

    path = str(tmp_path / "t")
    spark.range(5).withColumn("v", F.lit(1)).write.parquet(path)
    cache = ResultsCache(spark, root=str(tmp_path / "qc"))

    q = lambda: spark.read.parquet(path).agg(F.sum("v").alias("s"))
    r1, hit1 = cache.get_or_compute(q())
    assert not hit1 and r1.collect()[0].s == 5

    dml.update_where(spark, path, F.lit(True), {"v": F.lit(2)})
    r2, hit2 = cache.get_or_compute(q())
    assert not hit2  # cache was invalidated by the write
    assert r2.collect()[0].s == 10
