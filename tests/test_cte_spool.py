"""CTE spool rewrite: Hive's TableScanToSpoolRule analog for SQL text.

A WITH-clause CTE referenced >= hive.optimize.cte.materialize.threshold
(3) times is executed once, spooled (a per-query checkpoint), and the
statement rewritten to read the spool's view — results identical, base
inputs scanned once instead of once per reference, and nothing left in
Spark's CacheManager for a later query to read.
"""

import pytest

from hive_spark.engine import Engine
from hive_spark.operators import views
from hive_spark.plans.cte_spool import _parse_with, spool_ctes

# year-total CTE referenced four times (the q74/q4/q11 shape)
_FOUR_REFS = """
WITH totals AS (
  SELECT l_returnflag AS flag, l_linestatus AS status,
         SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS total
  FROM lineitem GROUP BY l_returnflag, l_linestatus)
SELECT a.flag, a.total, b.total AS total_b, c.total AS total_c,
       d.total AS total_d
FROM totals a, totals b, totals c, totals d
WHERE a.flag = 'A' AND b.flag = 'N' AND c.flag = 'R' AND d.flag = a.flag
  AND a.status = b.status AND b.status = c.status AND c.status = d.status
ORDER BY a.flag, a.total
"""


@pytest.fixture()
def engine(spark, sf_dir):
    views(spark, sf_dir)
    return Engine(spark, sf_dir=sf_dir)


def test_parse_with_nested_parens_and_strings():
    ctes, rest = _parse_with(
        "WITH a AS (SELECT '(not) a paren -- or comment' AS s, (1+2) AS x),"
        " b AS (SELECT * FROM a) SELECT * FROM b, a"
    )
    assert [n for n, _ in ctes] == ["a", "b"]
    assert "(1+2)" in ctes[0][1]
    assert rest.strip() == "SELECT * FROM b, a"


def test_no_with_passthrough(spark):
    sql = "SELECT 1 AS x"
    assert spool_ctes(spark, sql) == sql


def test_below_threshold_untouched(spark, sf_dir):
    views(spark, sf_dir)
    sql = ("WITH t AS (SELECT n_nationkey FROM nation)"
           " SELECT * FROM t a JOIN t b ON a.n_nationkey = b.n_nationkey")
    assert spool_ctes(spark, sql) == sql  # 2 refs < 3


def test_string_literals_not_counted(spark):
    # the CTE name inside a string/comment must not count as a reference
    sql = ("WITH t AS (SELECT 1 AS x)"
           " SELECT 't t t t' AS s, x FROM t -- t t")
    assert spool_ctes(spark, sql) == sql  # 1 real ref


def test_spooled_results_match_direct(spark, engine):
    direct = spark.sql(_FOUR_REFS).collect()
    spooled = engine.sql(_FOUR_REFS).collect()
    assert sorted(map(tuple, direct)) == sorted(map(tuple, spooled))


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_spooled_plan_reads_cache_once(spark, engine):
    df = engine.sql(_FOUR_REFS)
    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # all four references read the spool; the base table feeds only the
    # (single) spool fill, not this plan's joins
    assert plan.count("Scan ExistingRDD") == 4
    assert "FileScan" not in plan and "lineitem" not in plan


def test_spool_leaves_no_cache_entry(spark, engine):
    """The spool is per query: no statement path leaves an entry in
    Spark's CacheManager that a later plan could match."""
    from hive_spark.hqlscript import run_script

    spark.catalog.clearCache()  # entries other tests' statements left
    engine.sql(_FOUR_REFS).collect()
    assert _cache_empty(spark)
    run_script(spark, _FOUR_REFS + ";")
    assert _cache_empty(spark)
    assert engine.explain_rewrite(_FOUR_REFS) is False
    assert _cache_empty(spark)


def test_explain_rewrite_runs_no_job(spark, engine):
    """Asking whether an MV would serve a statement plans it with its
    CTEs inline: no spool, so none of the CTE's upstream jobs run."""
    jsc = spark.sparkContext._jsc.sc()
    j0 = int(jsc.dagScheduler().nextJobId())
    assert engine.explain_rewrite(_FOUR_REFS) is False
    assert int(jsc.dagScheduler().nextJobId()) == j0


def test_results_cache_keys_on_cte_bodies(spark, sf_dir, tmp_path):
    """Two spooled statements that differ only inside the CTE body get
    different results-cache entries: the key is the plan with the CTE
    inline, not the spool's bare checkpoint scan."""
    views(spark, sf_dir)
    eng = Engine(spark, cache_root=str(tmp_path / "qc"))
    texts = [
        _FOUR_REFS.replace("FROM lineitem", f"FROM lineitem WHERE {w}")
        for w in ("l_quantity < 25", "l_quantity >= 25")
    ]
    got = [sorted(map(tuple, eng.sql(t, use_cache=True).collect()))
           for t in texts]
    assert eng.stats["cache_hits"] == 0
    for text, rows in zip(texts, got):
        assert rows == sorted(map(tuple, spark.sql(text).collect()))
    assert got[0] != got[1]
    again = eng.sql(texts[1], use_cache=True).collect()
    assert eng.stats["cache_hits"] == 1
    assert sorted(map(tuple, again)) == got[1]


def test_qualified_column_named_like_cte_is_not_a_reference(spark):
    # year_total is both the CTE and its column (q4, q74): `a.year_total`
    # counts as no reference and is not rewritten
    sql = ("WITH year_total AS (SELECT 1 AS year_total)"
           " SELECT a.year_total, b.year_total, c.year_total"
           " FROM year_total a, year_total b, year_total c")
    out = spool_ctes(spark, sql)
    assert out.count("year_total__spool") == 3
    assert "a.year_total," in out
    assert spark.sql(out).collect() == [(1, 1, 1)]


def test_chained_ctes_spool_upstream(spark, engine):
    # c2 references c1; c1 is referenced 3x total -> spooled; c2 reads
    # the spool view and results stay correct
    sql = """
WITH c1 AS (SELECT n_regionkey AS k, COUNT(*) AS c FROM nation
            GROUP BY n_regionkey),
     c2 AS (SELECT k FROM c1 WHERE c > 1)
SELECT a.k, b.c, (SELECT MAX(c) FROM c1) AS mx
FROM c2 a JOIN c1 b ON a.k = b.k
ORDER BY a.k
"""
    direct = spark.sql(sql).collect()
    spooled = engine.sql(sql).collect()
    assert sorted(map(tuple, direct)) == sorted(map(tuple, spooled))


def test_disabled_threshold(spark, sf_dir):
    views(spark, sf_dir)
    assert spool_ctes(spark, _FOUR_REFS, threshold=0) == _FOUR_REFS


def test_script_runner_honors_threshold(spark, sf_dir):
    """run_script applies the spool rule, and the Hive conf knob
    (SET hive.optimize.cte.materialize.threshold) tunes/disables it."""
    from hive_spark.hqlscript import run_script

    views(spark, sf_dir)
    script = """
SET hive.optimize.cte.materialize.threshold=2;
WITH t AS (SELECT n_regionkey AS k, COUNT(*) AS c FROM nation
           GROUP BY n_regionkey)
SELECT a.k, a.c, b.c AS c2 FROM t a JOIN t b ON a.k = b.k ORDER BY a.k;
"""
    res = run_script(spark, script)
    df = res.results[-1]
    # the spool fired at the lowered threshold: the view exists and is
    # checkpoint-backed (results themselves come back as CliDriver-style
    # materialized rows, so the plan evidence lives on the view)
    assert spark.catalog.tableExists("t__spool")
    vplan = spark.table("t__spool")._jdf.queryExecution().optimizedPlan()
    assert vplan.toString().startswith("LogicalRDD")
    direct = spark.sql(
        "WITH t AS (SELECT n_regionkey AS k, COUNT(*) AS c FROM nation"
        " GROUP BY n_regionkey)"
        " SELECT a.k, a.c, b.c AS c2 FROM t a JOIN t b ON a.k = b.k"
        " ORDER BY a.k"
    ).collect()
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, direct))
