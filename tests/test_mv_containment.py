"""Aggregate-MV containment rewrite (Hive MaterializedViewAggregateRule
family, ref ql/.../optimizer/calcite/rules/views/HiveMaterializedViewRule
.java): rollup answers from the MV must equal direct aggregation over the
base table, and non-derivable queries must be rejected, not silently
answered wrong."""

import pytest
from pyspark.sql import functions as F

from hive_spark.operators import views
from hive_spark.plans import AggregateMV
from hive_spark.session import state


@pytest.fixture(scope="module")
def mv(spark, sf_dir, tmp_path_factory):
    base = views(spark, sf_dir)["lineitem"].select(
        "l_returnflag",
        "l_linestatus",
        F.col("l_quantity").cast("decimal(18,2)").alias("qty"),
        F.col("l_extendedprice").cast("decimal(18,2)").alias("price"),
    )
    return base, AggregateMV(
        spark,
        "t_lineitem",
        base,
        ["l_returnflag", "l_linestatus"],
        {
            "s_qty": ("sum", "qty"),
            "c_qty": ("count", "qty"),
            "n": ("count", "*"),
            "mn_price": ("min", "price"),
            "mx_price": ("max", "price"),
        },
        root=str(tmp_path_factory.mktemp("aggmv")),
    )


def _rows(df, *order):
    return [tuple(r) for r in df.orderBy(*order).collect()]


def test_rollup_matches_base(mv):
    base, m = mv
    got = m.answer(
        ["l_returnflag"],
        {"sum_qty": ("sum", "qty"), "n_rows": ("count", "*"),
         "mx": ("max", "price")},
    )
    want = base.groupBy("l_returnflag").agg(
        F.sum("qty").alias("sum_qty"),
        F.count(F.lit(1)).alias("n_rows"),
        F.max("price").alias("mx"),
    )
    assert _rows(got.select("l_returnflag", "sum_qty", "n_rows", "mx"),
                 "l_returnflag") == _rows(want, "l_returnflag")


def test_avg_derived_from_sum_and_count(mv):
    base, m = mv
    got = _rows(m.answer(["l_linestatus"], {"avg_qty": ("avg", "qty")}),
                "l_linestatus")
    want = _rows(
        base.groupBy("l_linestatus").agg(F.avg("qty").alias("avg_qty")),
        "l_linestatus",
    )
    assert got == want


def test_group_key_filter_commutes(mv):
    base, m = mv
    got = m.answer(
        ["l_returnflag"],
        {"n_rows": ("count", "*")},
        where=F.col("l_linestatus") == "F",
    )
    want = (
        base.filter(F.col("l_linestatus") == "F")
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    assert _rows(got, "l_returnflag") == _rows(want, "l_returnflag")


def test_rejects_uncontained_queries(mv):
    _, m = mv
    for group_by, aggs in [
        # group key outside the MV's keys
        (["l_shipmode"], {"n": ("count", "*")}),
        # aggregate with no stored partial
        (["l_returnflag"], {"s": ("sum", "price")}),
        # avg needs BOTH sum and count partials; price has min/max only
        (["l_returnflag"], {"a": ("avg", "price")}),
        # non-derivable aggregate function
        (["l_returnflag"], {"d": ("count_distinct", "qty")}),
    ]:
        with pytest.raises(ValueError, match="not contained"):
            m.answer(group_by, aggs)


def test_rejects_filter_on_collapsed_column(mv):
    _, m = mv
    with pytest.raises(ValueError, match="non-group-key"):
        m.answer(
            ["l_returnflag"],
            {"n_rows": ("count", "*")},
            where=F.col("s_qty") > 0,
        )


def test_registry_query_runs(spark, sf_dir):
    from hive_spark.operators.misc import mv_rollup_containment

    out = mv_rollup_containment(spark, sf_dir).collect()
    assert len(out) == 3  # A / N / R
    assert {r.l_returnflag for r in out} == {"A", "N", "R"}


def test_try_rewrite_plain_rollup(spark, mv):
    base, m = mv
    q = base.groupBy("l_returnflag").agg(
        F.sum("qty").alias("sq"), F.count(F.lit(1)).alias("n")
    )
    rewritten = m.try_rewrite(q)
    assert rewritten is not None
    assert _rows(rewritten.select("l_returnflag", "sq", "n"), "l_returnflag") == _rows(
        q, "l_returnflag"
    )
    # and it actually reads the MV relation (partial columns s_qty/n),
    # not the base lineitem scan
    plan = rewritten._jdf.queryExecution().optimizedPlan().toString()
    assert "s_qty" in plan and "l_quantity" not in plan


def test_try_rewrite_filtered_and_avg(spark, mv):
    base, m = mv
    q = (
        base.filter(F.col("l_linestatus") == "O")
        .groupBy("l_returnflag")
        .agg(F.avg("qty").alias("aq"), F.max("price").alias("mx"))
    )
    rewritten = m.try_rewrite(q)
    assert rewritten is not None
    want = (
        base.filter(F.col("l_linestatus") == "O")
        .groupBy("l_returnflag")
        .agg(F.avg("qty").alias("aq"), F.max("price").alias("mx"))
    )
    assert _rows(rewritten.select("l_returnflag", "aq", "mx"), "l_returnflag") == _rows(
        want, "l_returnflag"
    )


def test_try_rewrite_distinct_and_filter_rejected(spark, mv):
    """r6 ADVICE high (AggregateMV flavor): DISTINCT aggregates and
    FILTER clauses are not derivable from plain partials — must miss."""
    base, m = mv
    assert m.try_rewrite(
        base.groupBy("l_returnflag").agg(F.sum_distinct("qty").alias("s"))
    ) is None
    assert m.try_rewrite(
        base.groupBy("l_returnflag").agg(
            F.expr("sum(qty) FILTER (WHERE l_linestatus = 'F')").alias("s")
        )
    ) is None


def test_try_rewrite_declines_uncontained(spark, sf_dir, mv):
    base, m = mv
    # filter on a non-group-key column
    assert m.try_rewrite(
        base.filter(F.col("qty") > 10).groupBy("l_returnflag").agg(
            F.count(F.lit(1)).alias("n")
        )
    ) is None
    # a nondeterministic filter picks base rows, not whole MV groups
    assert m.try_rewrite(
        base.filter(F.rand(1) < 0.5).groupBy("l_returnflag").agg(
            F.count(F.lit(1)).alias("n")
        )
    ) is None
    # aggregate with no stored partial (sum of price)
    assert m.try_rewrite(
        base.groupBy("l_returnflag").agg(F.sum("price").alias("sp"))
    ) is None
    # different base relation entirely
    other = views(spark, sf_dir)["orders"].select(
        F.col("o_orderstatus").alias("l_returnflag"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("qty"),
    )
    assert m.try_rewrite(
        other.groupBy("l_returnflag").agg(F.sum("qty").alias("s"))
    ) is None
    # not an aggregate at all
    assert m.try_rewrite(base.select("qty")) is None


def test_incremental_refresh_equals_full_rebuild(spark, sf_dir, tmp_path):
    base = views(spark, sf_dir)["lineitem"].select(
        "l_returnflag",
        F.col("l_quantity").cast("decimal(18,2)").alias("qty"),
        "l_orderkey",
    )
    old = base.filter("l_orderkey % 4 != 0").drop("l_orderkey")
    delta = base.filter("l_orderkey % 4 = 0").drop("l_orderkey")
    measures = {
        "s": ("sum", "qty"), "c": ("count", "qty"), "n": ("count", "*"),
        "mn": ("min", "qty"), "mx": ("max", "qty"),
    }
    inc = AggregateMV(spark, "inc", old, ["l_returnflag"], measures,
                      root=str(tmp_path))
    inc.refresh_incremental(delta)
    full = AggregateMV(spark, "full", base.drop("l_orderkey"),
                       ["l_returnflag"], measures, root=str(tmp_path))
    q = {"s": ("sum", "qty"), "n": ("count", "*"), "a": ("avg", "qty"),
         "mn": ("min", "qty"), "mx": ("max", "qty")}
    got = _rows(inc.answer(["l_returnflag"], q), "l_returnflag")
    want = _rows(full.answer(["l_returnflag"], q), "l_returnflag")
    assert got == want
    # a second refresh on an already-refreshed MV stays exact (type
    # widening is capped, merge rules are idempotent over new deltas)
    inc.refresh_incremental(delta.limit(0))
    assert _rows(inc.answer(["l_returnflag"], q), "l_returnflag") == want


def test_refresh_moves_the_definition(spark, sf_dir, tmp_path):
    """After a refresh the MV holds base plus appended rows: a rollup of
    the old base misses, and one of the union is answered exactly."""
    base = views(spark, sf_dir)["lineitem"].select(
        "l_returnflag", F.col("l_quantity").cast("decimal(18,2)").alias("qty"),
        "l_orderkey",
    )
    old = base.filter("l_orderkey % 4 != 0").drop("l_orderkey")
    delta = base.filter("l_orderkey % 4 = 0").drop("l_orderkey")
    m = AggregateMV(spark, "moved", old, ["l_returnflag"],
                    {"s": ("sum", "qty"), "n": ("count", "*")},
                    root=str(tmp_path))
    m.refresh_incremental(delta)

    def rollup(df):
        return df.groupBy("l_returnflag").agg(
            F.sum("qty").alias("s"), F.count(F.lit(1)).alias("n"))

    assert m.try_rewrite(rollup(old)) is None
    query = rollup(old.unionByName(delta))
    hit = m.try_rewrite(query)
    assert hit is not None
    assert _rows(hit, "l_returnflag") == _rows(query, "l_returnflag")


def test_filter_and_join_rooted_fact(spark, sf_dir, tmp_path):
    """A fact whose plan is itself a Filter or an inner Join is one MV
    relation: rollups over it are answered, rollups over its inputs
    miss."""
    li = views(spark, sf_dir)["lineitem"]
    base = li.select(
        "l_returnflag", "l_linestatus", "l_orderkey",
        F.col("l_quantity").cast("decimal(18,2)").alias("qty"),
    )
    orders = views(spark, sf_dir)["orders"].select("o_orderkey", "o_orderstatus")
    measures = {"s": ("sum", "qty"), "n": ("count", "*")}
    for i, fact in enumerate((
        base.filter(F.col("qty") > 10),
        base.join(orders, base.l_orderkey == orders.o_orderkey),
    )):
        m = AggregateMV(spark, f"rooted{i}", fact,
                        ["l_returnflag", "l_linestatus"], measures,
                        root=str(tmp_path))
        got = m.answer(["l_returnflag"], {"s": ("sum", "qty")},
                       where=F.col("l_linestatus") == "F")
        want = (fact.filter(F.col("l_linestatus") == "F")
                .groupBy("l_returnflag").agg(F.sum("qty").alias("s")))
        assert _rows(got, "l_returnflag") == _rows(want, "l_returnflag")
        query = fact.groupBy("l_linestatus").agg(F.count(F.lit(1)).alias("n"))
        hit = m.try_rewrite(query)
        assert hit is not None
        assert _rows(hit, "l_linestatus") == _rows(query, "l_linestatus")
        assert m.try_rewrite(
            base.groupBy("l_linestatus").agg(F.count(F.lit(1)).alias("n"))
        ) is None


@pytest.fixture(scope="module")
def li_slim(spark, sf_dir, tmp_path_factory):
    """lineitem's flag, status and quantity as the temp view li_slim, and
    an MV over it grouped on (flag, status) with a CASE-style measure."""
    base = views(spark, sf_dir)["lineitem"].select(
        "l_returnflag",
        "l_linestatus",
        F.col("l_quantity").cast("decimal(18,2)").alias("qty"),
    )
    base.createOrReplaceTempView("li_slim")
    return base, AggregateMV(
        spark,
        "t_li_slim",
        base,
        ["l_returnflag", "l_linestatus"],
        {"s": ("sum", "qty"), "c": ("count", "qty"), "n": ("count", "*"),
         "s_f": ("sum", "IF(l_linestatus = 'F', qty, 0)")},
        root=str(tmp_path_factory.mktemp("aggmv_slim")),
    )


def test_measure_literals_keep_their_case(spark, li_slim):
    """A measure stored over 'F' must not answer the same text over 'f'
    (the query sums 0 for every flag)."""
    _, m = li_slim
    sql = ("SELECT l_returnflag, sum(IF(l_linestatus = '{}', qty, 0)) AS s "
           "FROM li_slim GROUP BY l_returnflag")
    assert m.try_rewrite(spark.sql(sql.format("f"))) is None
    query = spark.sql(sql.format("F"))
    hit = m.try_rewrite(query)
    assert hit is not None
    assert _rows(hit, "l_returnflag") == _rows(query, "l_returnflag")


def test_filter_literal_kept_verbatim(spark, li_slim):
    """A group-key filter moves onto the MV rows as written: the status
    'x.F' is not 'F', and no row has it."""
    _, m = li_slim
    query = spark.sql("SELECT l_returnflag, count(*) AS n FROM li_slim "
                      "WHERE l_linestatus = 'x.F' GROUP BY l_returnflag")
    hit = m.try_rewrite(query)
    assert hit is not None
    assert _rows(hit, "l_returnflag") == _rows(query, "l_returnflag") == []


def test_rewrite_keeps_query_schema(spark, li_slim, tmp_path):
    """The answer has the query's names and types (decimal sum and avg,
    non-NULL count) and rows, through try_rewrite and Engine.sql."""
    from hive_spark.engine import Engine

    base, m = li_slim
    sql = ("SELECT l_returnflag, sum(qty) AS s, avg(qty) AS a, "
           "count(*) AS n FROM li_slim GROUP BY l_returnflag")
    query = spark.sql(sql)
    engine = Engine(spark, cache_root=str(tmp_path / "qc"))
    engine.create_aggregate_mv(
        "eng_schema", base, ["l_returnflag", "l_linestatus"],
        {"s": ("sum", "qty"), "c": ("count", "qty"), "n": ("count", "*")},
    )
    for rewritten in (m.try_rewrite(query), engine.sql(sql)):
        assert rewritten.schema == query.schema
        assert _rows(rewritten, "l_returnflag") == _rows(query, "l_returnflag")
    assert engine.stats["mv_hits"] == 1


def test_rewrite_without_aggregates_or_rows(spark, li_slim):
    """GROUP BY with no aggregate, and a global COUNT over no rows (0,
    not NULL), answer from the MV with the query's rows."""
    _, m = li_slim
    for sql in (
        "SELECT l_returnflag FROM li_slim GROUP BY l_returnflag",
        "SELECT count(*) AS n FROM li_slim WHERE l_linestatus = 'zz'",
    ):
        query = spark.sql(sql)
        hit = m.try_rewrite(query)
        assert hit is not None
        assert hit.schema == query.schema
        assert sorted(map(tuple, hit.collect())) == sorted(
            map(tuple, query.collect())
        )


# ---------------------------------------------------------------------------
# Star-join MV (r5): join-containment rewrite
# (HiveMaterializedViewRule join derivability + residual dimensions)


@pytest.fixture(scope="module")
def star_mv(spark, sf_dir, tmp_path_factory):
    from hive_spark.operators.tpcds import _register_star
    _register_star(spark, sf_dir)
    mv = AggregateMV(
        spark,
        "t_star",
        spark.table("store_sales"),
        ["d_year", "d_moy", "i_brand", "i_brand_id", "i_manufact_id",
         "ss_store_sk"],
        {"sum_cents": ("sum",
                       "CAST(round(ss_ext_sales_price * 100) AS BIGINT)"),
         "n": ("count", "*")},
        dims=[(spark.table("date_dim"), "ss_sold_date_sk", "d_date_sk"),
              (spark.table("item"), "ss_item_sk", "i_item_sk")],
        root=str(tmp_path_factory.mktemp("starmv")),
    )
    return mv


def test_star_mv_q3_family_hit(spark, star_mv):
    """Same joins + dim filters + coarser GROUP BY: answered from the MV
    with NO fact relation in the executed plan."""
    q = spark.sql("""
        SELECT dt.d_year, item.i_brand_id AS brand_id,
               SUM(CAST(round(ss_ext_sales_price * 100) AS BIGINT)) AS s
        FROM date_dim dt, store_sales, item
        WHERE dt.d_date_sk = store_sales.ss_sold_date_sk
          AND store_sales.ss_item_sk = item.i_item_sk
          AND dt.d_moy = 12
        GROUP BY dt.d_year, item.i_brand_id
    """)
    hit = star_mv.try_rewrite(q)
    assert hit is not None
    assert sorted(map(tuple, hit.collect())) == sorted(map(tuple, q.collect()))
    plan = hit._jdf.queryExecution().executedPlan().toString()
    # the MV-only schema column proves the MV parquet scan (the path
    # itself can be elided from toString under long tmp roots)
    assert "sum_cents" in plan
    assert "lineitem" not in plan  # the fact's backing relation is gone


def test_star_mv_residual_dim_rejoin(spark, star_mv):
    """A query joining an EXTRA dim (store, not in the MV) through an MV
    group key is answered by re-joining store onto the rolled-up MV."""
    q = spark.sql("""
        SELECT d_year, s_county,
               SUM(CAST(round(ss_ext_sales_price * 100) AS BIGINT)) AS s,
               COUNT(*) AS n
        FROM store_sales, date_dim, item, store
        WHERE ss_sold_date_sk = d_date_sk AND ss_item_sk = i_item_sk
          AND ss_store_sk = s_store_sk
        GROUP BY d_year, s_county
    """)
    hit = star_mv.try_rewrite(q)
    assert hit is not None
    assert sorted(map(tuple, hit.collect())) == sorted(map(tuple, q.collect()))
    plan = hit._jdf.queryExecution().executedPlan().toString()
    assert "sum_cents" in plan and "lineitem" not in plan


def test_star_mv_rejections(spark, star_mv):
    """Filters on collapsed fact columns and non-derivable aggregates
    must MISS (run from base), never be answered wrong."""
    # filter on a non-group-key fact column the MV collapsed
    q1 = spark.sql("""
        SELECT d_year, SUM(CAST(round(ss_ext_sales_price * 100) AS BIGINT)) AS s
        FROM store_sales, date_dim, item
        WHERE ss_sold_date_sk = d_date_sk AND ss_item_sk = i_item_sk
          AND ss_quantity > 10
        GROUP BY d_year
    """)
    assert star_mv.try_rewrite(q1) is None
    # non-derivable aggregate (no avg partials stored for this input)
    q2 = spark.sql("""
        SELECT d_year, MAX(ss_net_profit) AS m
        FROM store_sales, date_dim, item
        WHERE ss_sold_date_sk = d_date_sk AND ss_item_sk = i_item_sk
        GROUP BY d_year
    """)
    assert star_mv.try_rewrite(q2) is None
    # missing one of the MV's joins (query over fact x date only): the
    # MV's item join could DROP fact rows -> must not answer
    q3 = spark.sql("""
        SELECT d_year, SUM(CAST(round(ss_ext_sales_price * 100) AS BIGINT)) AS s
        FROM store_sales, date_dim
        WHERE ss_sold_date_sk = d_date_sk
        GROUP BY d_year
    """)
    assert star_mv.try_rewrite(q3) is None


def test_star_mv_survives_view_reregistration(spark, star_mv):
    """r5/r6 red, fixed: re-registering a source view with the SAME
    definition (which stacks View/SubqueryAlias wrappers — exactly what
    security.py's enable/disable cycle does to every view mid-session)
    must not turn the rewrite into a silent miss. Matching now uses
    sameResult against materialization-time plan handles, the analog of
    Hive re-resolving MV definitions against current metastore state
    (ql/.../calcite/rules/views/HiveMaterializedViewsRegistry.java)."""
    for t in ("date_dim", "item", "store_sales"):
        spark.table(t).createOrReplaceTempView(t)
    q = spark.sql("""
        SELECT d_year, SUM(CAST(round(ss_ext_sales_price * 100) AS BIGINT)) AS s
        FROM store_sales, date_dim, item
        WHERE ss_sold_date_sk = d_date_sk AND ss_item_sk = i_item_sk
        GROUP BY d_year
    """)
    hit = star_mv.try_rewrite(q)
    assert hit is not None
    assert sorted(map(tuple, hit.collect())) == sorted(map(tuple, q.collect()))
    plan = hit._jdf.queryExecution().executedPlan().toString()
    assert "sum_cents" in plan and "lineitem" not in plan


def test_star_mv_stale_source_misses(spark, sf_dir, star_mv):
    """A source re-registered with a DIFFERENT definition (half of item)
    must make the rewrite MISS — never answer from now-stale MV rows
    (Hive gates rewrite on materialization staleness)."""
    import hive_spark.operators.tpcds as tpcds

    try:
        spark.table("item").filter(
            "i_item_sk % 2 = 0"
        ).createOrReplaceTempView("item")
        q = spark.sql("""
            SELECT d_year,
                   SUM(CAST(round(ss_ext_sales_price * 100) AS BIGINT)) AS s
            FROM store_sales, date_dim, item
            WHERE ss_sold_date_sk = d_date_sk AND ss_item_sk = i_item_sk
            GROUP BY d_year
        """)
        assert star_mv.try_rewrite(q) is None
    finally:
        state(spark).star_dir = None
        tpcds._register_star(spark, sf_dir)


def test_star_mv_distinct_and_filter_agg_rejected(spark, star_mv):
    """r6 ADVICE high: a DISTINCT or FILTER aggregate whose input text
    matches a stored partial must MISS — plain partials cannot answer it,
    and the plain result provably differs from the distinct one."""
    tpl = """
        SELECT d_year,
               SUM({d}CAST(round(ss_ext_sales_price * 100) AS BIGINT)){f} AS s
        FROM store_sales, date_dim, item
        WHERE ss_sold_date_sk = d_date_sk AND ss_item_sk = i_item_sk
        GROUP BY d_year
    """
    q_distinct = spark.sql(tpl.format(d="DISTINCT ", f=""))
    assert star_mv.try_rewrite(q_distinct) is None
    q_filter = spark.sql(
        tpl.format(d="", f=" FILTER (WHERE ss_store_sk > 2)")
    )
    assert star_mv.try_rewrite(q_filter) is None
    # the guard matters: the old code would have merged NON-distinct
    # partials, whose result differs from the true distinct sum
    q_plain = spark.sql(tpl.format(d="", f=""))
    assert sorted(map(tuple, q_distinct.collect())) != sorted(
        map(tuple, q_plain.collect())
    )


def test_star_mv_duplicate_dim_rejected(spark, star_mv):
    """r6 ADVICE low: referencing an MV dimension twice must fail the
    (multiset) containment check, not collapse onto one leaf with the
    duplicate's filter misapplied to MV rows."""
    q = spark.sql("""
        SELECT d1.d_year,
               SUM(CAST(round(ss_ext_sales_price * 100) AS BIGINT)) AS s
        FROM store_sales, date_dim d1, date_dim d2, item
        WHERE ss_sold_date_sk = d1.d_date_sk
          AND ss_sold_date_sk = d2.d_date_sk
          AND ss_item_sk = i_item_sk AND d2.d_moy = 12
        GROUP BY d1.d_year
    """)
    assert star_mv.try_rewrite(q) is None


def test_star_mv_registry_query(spark, sf_dir):
    """The registry entry transparently hits the MV (plan check) and its
    result survives the rewrite (oracle parity is the driver's check)."""
    from hive_spark.operators.misc import mv_star_join

    out = mv_star_join(spark, sf_dir)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "q3_family_" in plan and "lineitem" not in plan
    assert out.columns == ["d_year", "brand_id", "brand", "sum_agg"]
    out.collect()
