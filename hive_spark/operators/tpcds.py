"""TPC-DS query-shape coverage (Hive's perf corpus).

Hive's entire performance suite is the 99 TPC-DS queries
(ref: ql/src/test/queries/clientpositive/perf/query1.q..query99.q,
driver itests/qtest/.../TestTezTPCDS30TBPerfCliDriver.java). This
module anchors the corpus: it derives the star schema and ports the
first 27 shapes; tpcds2-tpcds5 complete ALL 99 queries on top of it.
Families here:

  star joins with 2-6 dimensions  -> q3, q42, q52, q55 (date x item),
                                     q7 (5-way), q19 (6-way, dim<>dim
                                     predicate), q96 (count-only)
  ticket-bucket HAVING reports    -> q34, q73 (inner fact agg joined
                                     out to customer, cnt BETWEEN)
  two-address city comparison     -> q68
  grouping-set rollup report      -> q27 (ROLLUP category x brand)
  repeated CTE reuse              -> q59 (monthly-sales CTE self-joined
                                     year-over-year)
  multi-channel fact union        -> q71 (3 channel subselects UNION
                                     ALL, joined to item + time_dim)

The star tables are pure, deterministic projections of the testdata
(no randomness, no engine-specific hashing), expressed once in Spark
SQL (temp views) and once in DuckDB SQL (a WITH prelude), so the
driver's oracle can replay every query bit-for-bit:

  store_sales            <- lineitem  (keys are modular arithmetic on
                                       l_orderkey/l_partkey/l_suppkey;
                                       money columns are the DOUBLE
                                       products of lineitem columns)
  date_dim               <- generated 1992..1998 calendar
  time_dim               <- generated 86400 seconds-of-day
  item                   <- part      (brand/manufact parsed from
                                       p_brand, category from p_type)
  store                  <- supplier  (first <=25 suppliers)
  customer_ds            <- customer
  customer_address       <- customer
  household_demographics <- generated 100 rows
  customer_demographics  <- generated 7200 rows
  promotion              <- generated 300 rows

All money aggregates are quantized to BIGINT cents before summing
(SUM over DOUBLE is accumulation-order-dependent; integer sums are
exact and engine-identical — the q1/q18 fixed-point pattern), and
emitted as DOUBLE cents/100.

Scale notes: every query keeps the classic star plan — dimensions
broadcast (explicit hints mirror Hive's MAPJOIN auto-conversion,
ref: ql/.../optimizer/ConvertJoinMapJoin.java), the fact table is
scanned once and shuffles exactly once (the GROUP BY), LIMIT reports
are TakeOrderedAndProject. Plan-pinned in tests/test_tpcds.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from hive_spark.operators import QuerySpec, views
from hive_spark.session import read_parquet, state

_NCUST = "(SELECT max(c_custkey) FROM customer)"
_NSTORE = "(SELECT CAST(least(count(*), 25) AS INT) FROM supplier)"


def _store_sales(datefmt: str) -> str:
    """The fact projection; `datefmt` renders a timestamp as yyyyMMdd."""
    return f"""
SELECT
  CAST({datefmt} AS INT)                                        AS ss_sold_date_sk,
  CAST((l_orderkey * 7919 + l_linenumber * 104729) % 86400 AS INT) AS ss_sold_time_sk,
  l_partkey                                                     AS ss_item_sk,
  CAST(1 + (l_suppkey % {_NSTORE}) AS INT)                      AS ss_store_sk,
  CAST(1 + ((l_orderkey * 13 + l_linenumber) % 100) AS INT)     AS ss_hdemo_sk,
  CAST(1 + ((l_orderkey * 17 + l_partkey) % 7200) AS INT)       AS ss_cdemo_sk,
  CAST(1 + (l_partkey % 300) AS INT)                            AS ss_promo_sk,
  1 + (l_orderkey % {_NCUST})                                   AS ss_customer_sk,
  1 + ((l_orderkey * 31 + l_suppkey) % {_NCUST})                AS ss_addr_sk,
  l_orderkey                                                    AS ss_ticket_number,
  l_quantity                                                    AS ss_quantity,
  l_extendedprice                                               AS ss_ext_sales_price,
  l_extendedprice * (1.0 + l_tax)                               AS ss_ext_list_price,
  l_extendedprice * l_tax                                       AS ss_ext_tax,
  l_extendedprice * l_discount                                  AS ss_coupon_amt,
  l_extendedprice * (1.0 - l_discount)                          AS ss_sales_price,
  l_extendedprice * (1.0 - l_tax)                               AS ss_ext_wholesale_cost,
  l_extendedprice * (l_tax - l_discount)                        AS ss_net_profit
FROM lineitem"""


def _item(strtype: str) -> str:
    return f"""
SELECT p_partkey AS i_item_sk,
       concat('ITEM', lpad(CAST(p_partkey AS {strtype}), 10, '0')) AS i_item_id,
       p_name AS i_item_desc,
       p_brand AS i_brand,
       CAST(substr(p_brand, 7) AS INT) AS i_brand_id,
       split_part(p_type, ' ', 1) AS i_category,
       CASE split_part(p_type, ' ', 1)
            WHEN 'STANDARD' THEN 1 WHEN 'SMALL' THEN 2 WHEN 'MEDIUM' THEN 3
            WHEN 'LARGE' THEN 4 WHEN 'ECONOMY' THEN 5 WHEN 'PROMO' THEN 6
            ELSE 0 END AS i_category_id,
       concat('CLASS_', CAST(p_size % 5 AS {strtype})) AS i_class,
       p_retailprice AS i_current_price,
       CAST(substr(p_brand, 7, 1) AS INT) AS i_manufact_id,
       concat('Manufacturer#', substr(p_brand, 7, 1)) AS i_manufact,
       CAST(1 + (p_size % 40) AS INT) AS i_manager_id
FROM part"""


def _store_returns(retfmt: str) -> str:
    """Returns fact: the 'R'-flagged lineitem rows, keyed like the
    sales fact so sales<->returns joins on (ticket, item, customer).
    Dated by l_receiptdate — returns land AFTER the sale, which gives
    the q50-family latency buckets a real day distribution."""
    return f"""
SELECT
  l_orderkey                                   AS sr_ticket_number,
  l_partkey                                    AS sr_item_sk,
  1 + (l_orderkey % {_NCUST})                  AS sr_customer_sk,
  CAST(1 + (l_suppkey % {_NSTORE}) AS INT)     AS sr_store_sk,
  CAST({retfmt} AS INT)                        AS sr_returned_date_sk,
  l_quantity                                   AS sr_return_quantity,
  l_extendedprice * (1.0 - l_discount)         AS sr_return_amt,
  l_extendedprice * l_tax                      AS sr_net_loss
FROM lineitem WHERE l_returnflag = 'R'"""


def _web_sales(datefmt: str, retfmt: str) -> str:
    """Web channel fact: the l_orderkey%3=0 slice of lineitem, keyed
    like store_sales so cross-channel customer/item set ops line up.
    Warehouse comes from l_suppkey, so multi-supplier orders ship from
    multiple warehouses (the q94/q95 EXISTS predicate)."""
    return f"""
SELECT
  CAST({datefmt} AS INT)                       AS ws_sold_date_sk,
  CAST({retfmt} AS INT)                        AS ws_ship_date_sk,
  CAST((l_orderkey * 7919 + l_linenumber * 104729) % 86400 AS INT) AS ws_sold_time_sk,
  l_partkey                                    AS ws_item_sk,
  1 + (l_orderkey % {_NCUST})                  AS ws_bill_customer_sk,
  1 + ((l_orderkey * 31 + l_suppkey) % {_NCUST}) AS ws_bill_addr_sk,
  CAST(1 + ((l_orderkey * 13 + l_linenumber) % 100) AS INT) AS ws_ship_hdemo_sk,
  CAST(1 + (l_suppkey % 5) AS INT)             AS ws_warehouse_sk,
  l_orderkey                                   AS ws_order_number,
  l_quantity                                   AS ws_quantity,
  l_extendedprice                              AS ws_ext_sales_price,
  l_extendedprice * (1.0 - l_discount)         AS ws_sales_price,
  l_extendedprice * (1.0 + l_tax)              AS ws_ext_list_price,
  l_extendedprice * (1.0 - l_discount)         AS ws_net_paid,
  l_extendedprice * (l_tax - l_discount)       AS ws_net_profit,
  l_extendedprice * l_discount                 AS ws_ext_discount_amt,
  l_extendedprice * l_tax                      AS ws_ext_wholesale_cost,
  l_extendedprice * 0.01 * l_linenumber        AS ws_ext_ship_cost
FROM lineitem WHERE l_orderkey % 3 = 0"""


def _catalog_sales(datefmt: str, retfmt: str) -> str:
    """Catalog channel fact: the l_orderkey%3=1 slice (cs_* naming)."""
    return f"""
SELECT
  CAST({datefmt} AS INT)                       AS cs_sold_date_sk,
  CAST({retfmt} AS INT)                        AS cs_ship_date_sk,
  l_partkey                                    AS cs_item_sk,
  1 + (l_orderkey % {_NCUST})                  AS cs_bill_customer_sk,
  1 + ((l_orderkey * 31 + l_suppkey) % {_NCUST}) AS cs_bill_addr_sk,
  CAST(1 + (l_suppkey % 5) AS INT)             AS cs_warehouse_sk,
  CAST(1 + (l_orderkey % 20) AS INT)           AS cs_call_center_sk,
  l_orderkey                                   AS cs_order_number,
  l_quantity                                   AS cs_quantity,
  l_extendedprice                              AS cs_ext_sales_price,
  l_extendedprice * (1.0 - l_discount)         AS cs_sales_price,
  l_extendedprice * (1.0 + l_tax)              AS cs_ext_list_price,
  l_extendedprice * (1.0 - l_discount)         AS cs_net_paid,
  l_extendedprice * (l_tax - l_discount)       AS cs_net_profit,
  l_extendedprice * l_discount                 AS cs_ext_discount_amt,
  l_extendedprice * 0.01 * l_linenumber        AS cs_ext_ship_cost
FROM lineitem WHERE l_orderkey % 3 = 1"""


def _web_returns(retfmt: str) -> str:
    return f"""
SELECT
  l_orderkey                                   AS wr_order_number,
  l_partkey                                    AS wr_item_sk,
  1 + (l_orderkey % {_NCUST})                  AS wr_returning_customer_sk,
  CAST({retfmt} AS INT)                        AS wr_returned_date_sk,
  l_quantity                                   AS wr_return_quantity,
  l_extendedprice * (1.0 - l_discount)         AS wr_return_amt,
  l_extendedprice * l_tax                      AS wr_net_loss
FROM lineitem WHERE l_orderkey % 3 = 0 AND l_returnflag = 'R'"""


def _catalog_returns(retfmt: str) -> str:
    return f"""
SELECT
  l_orderkey                                   AS cr_order_number,
  l_partkey                                    AS cr_item_sk,
  1 + (l_orderkey % {_NCUST})                  AS cr_returning_customer_sk,
  CAST({retfmt} AS INT)                        AS cr_returned_date_sk,
  l_quantity                                   AS cr_return_quantity,
  l_extendedprice * (1.0 - l_discount)         AS cr_return_amount,
  l_extendedprice * l_tax                      AS cr_net_loss
FROM lineitem WHERE l_orderkey % 3 = 1 AND l_returnflag = 'R'"""


def _warehouse(strtype: str) -> str:
    return f"""
SELECT CAST(sk AS INT) AS w_warehouse_sk,
       concat('Warehouse_', CAST(sk AS {strtype})) AS w_warehouse_name,
       concat('ST_', CAST(sk * 2 AS {strtype})) AS w_state
FROM {{range_1_6}}"""


_INVENTORY = """
SELECT m.d_month_seq AS inv_month_seq,
       p_partkey AS inv_item_sk,
       CAST(1 + ((p_partkey * 7 + m.d_month_seq) % 5) AS INT) AS inv_warehouse_sk,
       CAST((p_partkey * 31 + m.d_month_seq * 17) % 1000 AS INT) AS inv_quantity_on_hand
FROM part, (SELECT DISTINCT d_month_seq FROM date_dim) m"""

_INCOME_BAND = """
SELECT CAST(sk AS INT) AS ib_income_band_sk,
       CAST((sk - 1) * 10000 AS INT) AS ib_lower_bound,
       CAST(sk * 10000 - 1 AS INT) AS ib_upper_bound
FROM {range_1_21}"""


def _store(strtype: str) -> str:
    return f"""
SELECT s_suppkey AS s_store_sk,
       concat('Store_', CAST(s_suppkey % 3 AS {strtype})) AS s_store_name,
       concat('Company_', CAST(s_suppkey % 2 AS {strtype})) AS s_company_name,
       concat('City_', CAST(s_nationkey AS {strtype})) AS s_city,
       concat('County_', CAST(s_nationkey % 10 AS {strtype})) AS s_county,
       lpad(CAST((s_nationkey * 371) % 100000 AS {strtype}), 5, '0') AS s_zip
FROM supplier WHERE s_suppkey <= {_NSTORE}"""


def _customer_ds(strtype: str) -> str:
    return f"""
SELECT c_custkey AS c_customer_sk,
       CASE c_custkey % 5 WHEN 0 THEN 'Mr.' WHEN 1 THEN 'Mrs.' WHEN 2 THEN 'Ms.'
            WHEN 3 THEN 'Dr.' ELSE 'Sir' END AS c_salutation,
       concat('First', CAST(c_custkey % 1000 AS {strtype})) AS c_first_name,
       c_name AS c_last_name,
       CASE WHEN c_custkey % 2 = 0 THEN 'Y' ELSE 'N' END AS c_preferred_cust_flag,
       1 + ((c_custkey * 7) % {_NCUST}) AS c_current_addr_sk,
       CAST(1 + ((c_custkey * 11) % 7200) AS INT) AS c_current_cdemo_sk,
       CAST(1 + ((c_custkey * 13) % 100) AS INT) AS c_current_hdemo_sk
FROM customer"""


def _customer_address(strtype: str) -> str:
    return f"""
SELECT c_custkey AS ca_address_sk,
       concat('City_', CAST((c_custkey * 7) % 30 AS {strtype})) AS ca_city,
       concat('ST_', CAST((c_custkey * 3) % 10 AS {strtype})) AS ca_state,
       lpad(CAST((c_custkey * 17) % 100000 AS {strtype}), 5, '0') AS ca_zip
FROM customer"""


_HOUSEHOLD = """
SELECT CAST(sk AS INT) AS hd_demo_sk,
       CAST(1 + (sk % 20) AS INT) AS hd_income_band_sk,
       CAST(sk % 10 AS INT) AS hd_dep_count,
       CAST(sk % 5 AS INT) AS hd_vehicle_count,
       CASE sk % 4 WHEN 0 THEN '>10000' WHEN 1 THEN 'unknown'
            WHEN 2 THEN '1001-5000' ELSE '0-500' END AS hd_buy_potential
FROM {range_1_101}"""

_CDEMO = """
SELECT CAST(sk AS INT) AS cd_demo_sk,
       CASE sk % 2 WHEN 0 THEN 'M' ELSE 'F' END AS cd_gender,
       CASE sk % 5 WHEN 0 THEN 'M' WHEN 1 THEN 'S' WHEN 2 THEN 'D'
            WHEN 3 THEN 'W' ELSE 'U' END AS cd_marital_status,
       CASE sk % 7 WHEN 0 THEN 'Primary' WHEN 1 THEN 'Secondary'
            WHEN 2 THEN 'College' WHEN 3 THEN '2 yr Degree'
            WHEN 4 THEN '4 yr Degree' WHEN 5 THEN 'Advanced Degree'
            ELSE 'Unknown' END AS cd_education_status
FROM {range_1_7201}"""

_PROMO = """
SELECT CAST(sk AS INT) AS p_promo_sk,
       CASE WHEN sk % 2 = 0 THEN 'N' ELSE 'Y' END AS p_channel_email,
       CASE WHEN sk % 3 = 0 THEN 'N' ELSE 'Y' END AS p_channel_event
FROM {range_1_301}"""

_TIME_DIM = """
SELECT CAST(sk AS INT) AS t_time_sk,
       CAST(floor(sk / 3600) AS INT) AS t_hour,
       CAST(floor((sk % 3600) / 60) AS INT) AS t_minute
FROM {range_0_86400}"""

# monthly store sales — the q59 reused CTE
_MSS = """
SELECT ss_store_sk, d_year, d_moy,
       CAST(SUM(CAST(round(ss_ext_sales_price * 100) AS BIGINT)) AS DOUBLE) / 100 AS sales
FROM store_sales, date_dim
WHERE ss_sold_date_sk = d_date_sk
GROUP BY ss_store_sk, d_year, d_moy"""

# three-channel union — the q71 fact
_CHANNEL = """
SELECT 'web' AS channel, ss_item_sk AS sold_item_sk,
       ss_sold_time_sk AS sold_time_sk, ss_ext_sales_price AS ext_price
FROM store_sales WHERE ss_ticket_number % 3 = 0
UNION ALL
SELECT 'catalog' AS channel, ss_item_sk, ss_sold_time_sk, ss_ext_sales_price
FROM store_sales WHERE ss_ticket_number % 3 = 1
UNION ALL
SELECT 'store' AS channel, ss_item_sk, ss_sold_time_sk, ss_ext_sales_price
FROM store_sales WHERE ss_ticket_number % 3 = 2"""


def _star_sql(dialect: str) -> list[tuple[str, str]]:
    """Ordered (name, SELECT body) pairs for one engine dialect."""
    if dialect == "spark":
        datefmt = "date_format(l_shipdate, 'yyyyMMdd')"
        strtype = "STRING"
        dayname = "date_format(d, 'EEEE')"
        date_src = (
            "SELECT explode(sequence(DATE'1992-01-01', DATE'1998-12-31',"
            " INTERVAL 1 DAY)) AS d"
        )
        rng = lambda a, b: f"(SELECT id AS sk FROM range({a}, {b}))"
        dayseq = "datediff(d, DATE'1992-01-01')"
    else:
        datefmt = "strftime(l_shipdate, '%Y%m%d')"
        strtype = "VARCHAR"
        dayname = "dayname(d)"
        date_src = (
            "SELECT unnest(generate_series(DATE '1992-01-01',"
            " DATE '1998-12-31', INTERVAL 1 DAY)) AS d"
        )
        rng = lambda a, b: f"range({a}, {b}) AS t(sk)"
        dayseq = "datediff('day', DATE '1992-01-01', d)"

    date_dim = f"""
SELECT CAST({datefmt.replace('l_shipdate', 'd')} AS INT) AS d_date_sk,
       CAST(d AS DATE) AS d_date,
       CAST(year(d) AS INT) AS d_year,
       CAST(month(d) AS INT) AS d_moy,
       CAST(day(d) AS INT) AS d_dom,
       CAST(quarter(d) AS INT) AS d_qoy,
       {dayname} AS d_day_name,
       CAST((year(d) - 1992) * 12 + month(d) AS INT) AS d_month_seq,
       CAST({dayseq} AS INT) AS d_day_seq,
       CAST(floor(({dayseq}) / 7.0) AS INT) AS d_week_seq
FROM ({date_src})"""

    # days between order and ship — the q62 delay measure; datediff
    # argument order differs per engine, so it lives in the dialect layer
    if dialect == "spark":
        delay = "datediff(l_shipdate, o_orderdate)"
    else:
        delay = "datediff('day', o_orderdate, l_shipdate)"
    order_delays = f"""
SELECT l_orderkey, l_linenumber, l_returnflag, o_orderpriority,
       CAST({delay} AS INT) AS delay_days
FROM lineitem, orders WHERE l_orderkey = o_orderkey"""

    # deterministic return/receipt date: ship + 1..30 days (testdata has
    # no l_receiptdate; the offset formula is engine-neutral integers)
    _off = "CAST(1 + (l_orderkey * 7 + l_linenumber * 3) % 30 AS INT)"
    if dialect == "spark":
        retdate = f"date_add(l_shipdate, {_off})"
    else:
        retdate = f"(l_shipdate + INTERVAL ({_off}) DAY)"
    retfmt = datefmt.replace("l_shipdate", retdate)
    return [
        ("order_delays", order_delays),
        ("date_dim", date_dim),
        ("time_dim", _TIME_DIM.format(range_0_86400=rng(0, 86400))),
        ("item", _item(strtype)),
        ("store", _store(strtype)),
        ("customer_ds", _customer_ds(strtype)),
        ("customer_address", _customer_address(strtype)),
        ("household_demographics", _HOUSEHOLD.format(range_1_101=rng(1, 101))),
        ("customer_demographics", _CDEMO.format(range_1_7201=rng(1, 7201))),
        ("promotion", _PROMO.format(range_1_301=rng(1, 301))),
        ("warehouse", _warehouse(strtype).format(range_1_6=rng(1, 6))),
        ("income_band", _INCOME_BAND.format(range_1_21=rng(1, 21))),
        ("store_sales", _store_sales(datefmt)),
        ("store_returns", _store_returns(retfmt)),
        ("web_sales", _web_sales(datefmt, retfmt)),
        ("catalog_sales", _catalog_sales(datefmt, retfmt)),
        ("web_returns", _web_returns(retfmt)),
        ("catalog_returns", _catalog_returns(retfmt)),
        ("inventory", _INVENTORY),
        ("mss", _MSS),
        ("channel_sales", _CHANNEL),
    ]


# base tables the star SQL derives from — their file stats key the
# materialization cache (a rebuilt sf_dir with the same path must miss)
_STAR_BASES = ("lineitem", "orders", "part", "supplier", "customer")

# r9 opt (guide §6 "partitioning and sort order on write determine how
# well READERS can skip data"): cluster each materialized fact by its
# date surrogate at build time — repartitionByRange + sortWithinPartitions
# on the *_date_sk column — so parquet row-group/page min-max stats on
# the date key become selective. Every TPC-DS shape filters facts
# through date_dim; with d_date_sk = yyyyMMdd the dim predicate implies
# a literal fact-key range (injected at the query side), and a
# date-clustered layout turns that pushed range into wholesale file/
# row-group skipping instead of a full scan. _LAYOUT_V is hashed into
# the star fingerprint so layout changes invalidate the disk cache.
_FACT_LAYOUT = {
    "store_sales": "ss_sold_date_sk",
    "store_returns": "sr_returned_date_sk",
    "web_sales": "ws_sold_date_sk",
    "catalog_sales": "cs_sold_date_sk",
    "web_returns": "wr_returned_date_sk",
    "catalog_returns": "cr_returned_date_sk",
}
_LAYOUT_V = "datesort-v1"


def _star_fingerprint(sf_dir: str, sqls: list[tuple[str, str]]) -> str:
    import hashlib

    h = hashlib.sha256(os.path.abspath(sf_dir).encode())
    h.update(_LAYOUT_V.encode())
    for n, c in sorted(_FACT_LAYOUT.items()):
        h.update(f"{n}:{c}".encode())
    for t in _STAR_BASES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        files = (
            sorted(
                os.path.join(path, f)
                for f in os.listdir(path)
                if f.endswith(".parquet")
            )
            if os.path.isdir(path)
            else [path]
        )
        for f in files:
            st = os.stat(f)
            h.update(f"{os.path.basename(f)}:{st.st_size}:{st.st_mtime_ns}".encode())
    for name, sql in sqls:
        h.update(name.encode())
        h.update(sql.encode())
    return h.hexdigest()[:16]


def _star_plan(spark: SparkSession, sf_dir: str) -> tuple[list, str]:
    """Fold the dataset-cardinality constants into the star view SQL and
    return (rendered sqls, fingerprint-keyed materialization dir)."""
    from hive_spark.scratch import scratch_dir

    ncust = spark.sql(f"SELECT {_NCUST}").collect()[0][0]
    nstore = spark.sql(f"SELECT {_NSTORE}").collect()[0][0]
    sqls = [
        (n, s.replace(_NCUST, str(ncust)).replace(_NSTORE, str(nstore)))
        for n, s in _star_sql("spark")
    ]
    fp = _star_fingerprint(sf_dir, sqls)
    return sqls, os.path.join(scratch_dir("star"), fp)


def measure_cold_star_build(spark: SparkSession, sf_dir: str) -> float:
    """Force a cache-miss star materialization for sf_dir and return its
    wall-clock seconds (VERDICT r8 #2: `star_build_sec` reads 0.0 on every
    disk-cache hit, hiding the one-time ETL — the bench protocol calls this
    once per round so the cold figure stays committed alongside the
    steady-state numbers). The rebuild repopulates the cache, so subsequent
    runs are unaffected."""
    import shutil

    views(spark, sf_dir)
    _sqls, dst = _star_plan(spark, sf_dir)
    shutil.rmtree(dst, ignore_errors=True)
    state(spark).star_dir = None
    return _register_star(spark, sf_dir)


def _register_star(spark: SparkSession, sf_dir: str) -> float:
    """Materialize the derived star schema once per (data, definition)
    and register the views as parquet reads. Returns the seconds spent
    building (0.0 when the star is already registered or cached on disk).

    Two scale decisions live here (r7 verdict #1 — the sf1 2x-gate
    regression was a per-query constant over derived-view internals):

    1. The `(SELECT max(c_custkey) ...)` / `least(count(*),25)` scalar
       subqueries are folded to LITERALS at registration — they are
       cardinality constants of the dataset, and leaving them symbolic
       re-ran their stages inside every query that touched a fact view.
    2. The derived views are materialized to durable scratch parquet
       (fingerprint-keyed on source file stats + rendered SQL, so a
       rebuilt sf_dir or an edited view definition misses the cache)
       and re-registered as plain parquet scans. This is the classic
       warehouse shape — in real TPC-DS the star tables ARE base
       tables; only this repo's testdata forces derivation — and it
       removes the derivation stages (projection of lineitem, DISTINCT
       month_seq, explode generators) from every downstream query plan
       while keeping column pruning + filter pushdown at the scan.
       Mirrors Hive's materialized-view rewrite
       (ref: ql/src/java/org/apache/hadoop/hive/ql/metadata/
       HiveMaterializedViewsRegistry.java) with freshness keyed on
       source data instead of txn ids. The DuckDB oracle still derives
       the same tables per query from its WITH prelude (unused CTEs are
       pruned there), so cross-engine value equality is untouched.
    """
    views(spark, sf_dir)
    # the star's view names are shared: only the last sf_dir is active
    if state(spark).star_dir == sf_dir:
        return 0.0

    sqls, dst = _star_plan(spark, sf_dir)
    marker = os.path.join(dst, "_BUILT")
    built = 0.0
    if not os.path.exists(marker):
        import shutil
        import time as _time

        t0 = _time.perf_counter()
        build = f"{dst}.build.{os.getpid()}"
        shutil.rmtree(build, ignore_errors=True)
        os.makedirs(build)
        # Dependency-aware PARALLEL build (guide §2.6 — overlap
        # independent jobs): each view's write is a small job that
        # underutilizes the cluster on its own, and 18 of the ~21 views
        # are independent roots (only inventory/mss/channel_sales read
        # another view). A 4-wide thread pool lets the next view's tasks
        # back-fill executors freed by the current view's tail —
        # measured: the one-time cold star ETL at the sf1 tier drops
        # ~2x vs the sequential loop. A view is submitted only after
        # every view it references is written AND re-registered, so
        # dependents still read the materialized upstream parquet.
        import re as _re
        from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait

        all_names = {n for n, _ in sqls}
        dep_of = {
            n: {m for m in all_names if m != n and _re.search(rf"\b{m}\b", s)}
            for n, s in sqls
        }
        done: set[str] = set()
        pending = dict(sqls)

        def _build_one(name: str, sql: str) -> str:
            out = os.path.join(build, name)
            spark.sparkContext.setJobDescription(f"star build: {name}")
            df = spark.sql(sql)
            datecol = _FACT_LAYOUT.get(name)
            if datecol is not None:
                # date-cluster the fact (see _FACT_LAYOUT): each output
                # file covers a narrow date span, so pushed date-range
                # filters skip whole row groups at read time.
                # r10 A/B (VERDICT r9 #5): checkpointing the derived rows
                # before the range exchange (to spare the bound-sampler's
                # re-derivation) was measured WORSE under the 8-wide pool
                # (alternating cold sf1-tier builds: 13.5/15.8s without vs
                # 17/26/36/68s with) — eight builds caching deserialized
                # fact rows through one block manager thrash memory, while
                # the pool already overlaps the cheap sampling jobs. Kept
                # the direct exchange.
                df = df.repartitionByRange(datecol).sortWithinPartitions(datecol)
            df.write.mode("overwrite").parquet(out)
            read_parquet(spark, out).createOrReplaceTempView(name)
            return name

        # default 8 measured >= 4 workers at BOTH local[32] (tie within
        # noise: best 11.5 vs 11.9s) and local[8] (18.1/22.1 vs
        # 22.8/41.1s — the small build jobs underfill even 8 cores, so
        # deeper overlap still backfills); env-tunable for clusters
        workers = int(os.environ.get("SPARK_GRAFT_STAR_BUILD_WORKERS", "8"))
        ok = False
        try:
            with ThreadPoolExecutor(max_workers=workers) as pool:
                futures = set()
                while pending or futures:
                    ready = [
                        n for n in list(pending) if dep_of[n] <= done
                    ]
                    if pending and not ready and not futures:
                        # r10 (ADVICE): deps are inferred by regex over
                        # the view SQL, so a textual mention in both
                        # directions would leave `pending` unresolvable —
                        # without this check wait(set()) returns
                        # immediately and the loop spins forever
                        raise RuntimeError(
                            "star build stalled on unresolvable view deps: "
                            + ", ".join(
                                f"{n} <- {sorted(dep_of[n] - done)}"
                                for n in sorted(pending)
                            )
                        )
                    for n in ready:
                        futures.add(pool.submit(_build_one, n, pending.pop(n)))
                    finished, futures = wait(futures, return_when=FIRST_COMPLETED)
                    for f in finished:
                        done.add(f.result())  # raises on build failure
            ok = True
        finally:
            spark.sparkContext.setJobDescription(None)
            if not ok:
                # r10 (ADVICE): a failed build would otherwise leak the
                # pid-suffixed partial dir forever (the next attempt only
                # clears a dir with the SAME pid)
                shutil.rmtree(build, ignore_errors=True)
        open(os.path.join(build, "_BUILT"), "w").close()
        try:
            os.rename(build, dst)
        except OSError:
            # concurrent builder won the rename — use theirs
            shutil.rmtree(build, ignore_errors=True)
        built = round(_time.perf_counter() - t0, 3)
    for name, _sql in sqls:
        read_parquet(spark, os.path.join(dst, name)).createOrReplaceTempView(name)
    state(spark).star_dir = sf_dir
    return built


def _oracle(body: str) -> str:
    ctes = ",\n".join(f"{n} AS ({sql})" for n, sql in _star_sql("duck"))
    stripped = body.lstrip()
    if stripped.upper().startswith("WITH "):
        # merge the body's own CTEs into the star prelude's WITH chain
        return f"WITH {ctes},\n{stripped[5:]}"
    return f"WITH {ctes}\n{body}"


# SUM of money quantized to exact integer cents, emitted as DOUBLE —
# identical accumulation in both engines regardless of row order
def _qsum(col: str, alias: str) -> str:
    return (
        f"CAST(SUM(CAST(round({col} * 100) AS BIGINT)) AS DOUBLE) / 100"
        f" AS {alias}"
    )


def _qavg(col: str, alias: str) -> str:
    return (
        f"CAST(SUM(CAST(round({col} * 100) AS BIGINT)) AS DOUBLE) / 100"
        f" / COUNT(*) AS {alias}"
    )


# ---------------------------------------------------------------------------
# Query bodies — shared verbatim between Spark (over temp views) and the
# DuckDB oracle (over the WITH prelude). Shapes mirror the reference .q
# files cited on each entry; constants adapted to the derived data.
# ---------------------------------------------------------------------------

# ref: ql/src/test/queries/clientpositive/perf/query3.q
_Q3 = f"""
SELECT /*+ BROADCAST(dt, item) */
       dt.d_year, item.i_brand_id AS brand_id, item.i_brand AS brand,
       {_qsum("ss_ext_sales_price", "sum_agg")}
FROM date_dim dt, store_sales, item
WHERE dt.d_date_sk = store_sales.ss_sold_date_sk
  AND store_sales.ss_item_sk = item.i_item_sk
  AND item.i_manufact_id = 4
  AND dt.d_moy = 12
GROUP BY dt.d_year, item.i_brand, item.i_brand_id
ORDER BY dt.d_year, sum_agg DESC, brand_id
LIMIT 100"""

# ref: perf/query7.q
_Q7 = f"""
SELECT /*+ BROADCAST(customer_demographics, dt, item, promotion) */
       i_item_id,
       {_qavg("ss_quantity", "agg1")},
       {_qavg("ss_ext_list_price", "agg2")},
       {_qavg("ss_coupon_amt", "agg3")},
       {_qavg("ss_sales_price", "agg4")}
FROM store_sales, customer_demographics, date_dim dt, item, promotion
WHERE ss_sold_date_sk = d_date_sk AND ss_item_sk = i_item_sk
  AND ss_cdemo_sk = cd_demo_sk AND ss_promo_sk = p_promo_sk
  AND cd_gender = 'F' AND cd_marital_status = 'W'
  AND cd_education_status = 'Primary'
  AND (p_channel_email = 'N' OR p_channel_event = 'N')
  AND d_year = 1996
GROUP BY i_item_id
ORDER BY i_item_id
LIMIT 100"""

# ref: perf/query19.q — 6-table star with a dim<>dim zip predicate
_Q19 = f"""
SELECT /*+ BROADCAST(dt, item, customer_ds, customer_address, store) */
       i_brand_id AS brand_id, i_brand AS brand, i_manufact_id, i_manufact,
       {_qsum("ss_ext_sales_price", "ext_price")}
FROM date_dim dt, store_sales, item, customer_ds, customer_address, store
WHERE d_date_sk = ss_sold_date_sk
  AND ss_item_sk = i_item_sk
  AND i_manager_id = 7
  AND d_moy = 11 AND d_year = 1996
  AND ss_customer_sk = c_customer_sk
  AND c_current_addr_sk = ca_address_sk
  AND substr(ca_zip, 1, 5) <> substr(s_zip, 1, 5)
  AND ss_store_sk = s_store_sk
GROUP BY i_brand, i_brand_id, i_manufact_id, i_manufact
ORDER BY ext_price DESC, i_brand, i_brand_id, i_manufact_id, i_manufact
LIMIT 100"""

# ref: perf/query27.q — grouping-set rollup report over the star
_Q27 = f"""
SELECT /*+ BROADCAST(customer_demographics, dt, store, item) */
       i_category, i_brand,
       {_qavg("ss_quantity", "agg1")},
       {_qavg("ss_ext_list_price", "agg2")},
       {_qavg("ss_coupon_amt", "agg3")},
       {_qavg("ss_sales_price", "agg4")}
FROM store_sales, customer_demographics, date_dim dt, store, item
WHERE ss_sold_date_sk = d_date_sk AND ss_store_sk = s_store_sk
  AND ss_cdemo_sk = cd_demo_sk AND ss_item_sk = i_item_sk
  AND cd_gender = 'M' AND cd_marital_status = 'S'
  AND cd_education_status = 'College'
  AND d_year = 1996
  AND s_county IN ('County_0','County_1','County_2','County_3','County_4')
GROUP BY ROLLUP (i_category, i_brand)"""

# ref: perf/query34.q — ticket-bucket HAVING report joined to customer
_Q34 = """
SELECT c_last_name, c_first_name, c_salutation, c_preferred_cust_flag,
       ss_ticket_number, cnt
FROM (SELECT /*+ BROADCAST(date_dim, store, household_demographics) */
             ss_ticket_number, ss_customer_sk, COUNT(*) AS cnt
      FROM store_sales, date_dim, store, household_demographics
      WHERE ss_sold_date_sk = d_date_sk
        AND ss_store_sk = s_store_sk
        AND ss_hdemo_sk = hd_demo_sk
        AND (d_dom BETWEEN 1 AND 3 OR d_dom BETWEEN 25 AND 28)
        AND (hd_buy_potential = '>10000' OR hd_buy_potential = 'unknown')
        AND hd_vehicle_count > 0
        AND (CASE WHEN hd_vehicle_count > 0
                  THEN hd_dep_count / hd_vehicle_count
                  ELSE NULL END) > 1.2
        AND d_year IN (1995, 1996, 1997)
        AND s_county IN ('County_0','County_1','County_2','County_3',
                         'County_4','County_5','County_6','County_7')
      GROUP BY ss_ticket_number, ss_customer_sk) dn, customer_ds
WHERE ss_customer_sk = c_customer_sk AND cnt BETWEEN 2 AND 5
ORDER BY c_last_name, c_first_name, c_salutation,
         c_preferred_cust_flag DESC, ss_ticket_number"""

# ref: perf/query42.q
_Q42 = f"""
SELECT /*+ BROADCAST(dt, item) */
       dt.d_year, item.i_category_id, item.i_category,
       {_qsum("ss_ext_sales_price", "sum_sales")}
FROM date_dim dt, store_sales, item
WHERE dt.d_date_sk = store_sales.ss_sold_date_sk
  AND store_sales.ss_item_sk = item.i_item_sk
  AND item.i_manager_id = 1
  AND dt.d_moy = 12 AND dt.d_year = 1997
GROUP BY dt.d_year, item.i_category_id, item.i_category
ORDER BY sum_sales DESC, dt.d_year, item.i_category_id, item.i_category
LIMIT 100"""

# ref: perf/query52.q
_Q52 = f"""
SELECT /*+ BROADCAST(dt, item) */
       dt.d_year, item.i_brand_id AS brand_id, item.i_brand AS brand,
       {_qsum("ss_ext_sales_price", "ext_price")}
FROM date_dim dt, store_sales, item
WHERE dt.d_date_sk = store_sales.ss_sold_date_sk
  AND store_sales.ss_item_sk = item.i_item_sk
  AND item.i_manager_id = 1
  AND dt.d_moy = 12 AND dt.d_year = 1996
GROUP BY dt.d_year, item.i_brand, item.i_brand_id
ORDER BY dt.d_year, ext_price DESC, brand_id
LIMIT 100"""

# ref: perf/query55.q
_Q55 = f"""
SELECT /*+ BROADCAST(date_dim, item) */
       i_brand_id AS brand_id, i_brand AS brand,
       {_qsum("ss_ext_sales_price", "ext_price")}
FROM date_dim, store_sales, item
WHERE d_date_sk = ss_sold_date_sk
  AND ss_item_sk = i_item_sk
  AND i_manager_id = 28
  AND d_moy = 11 AND d_year = 1995
GROUP BY i_brand, i_brand_id
ORDER BY ext_price DESC, brand_id
LIMIT 100"""

# ref: perf/query59.q — the monthly-sales CTE consumed TWICE
# (year-over-year self-join); mss is one shared relation in both engines
_Q59 = """
SELECT y.ss_store_sk AS store_sk, y.d_moy AS moy,
       y.sales AS sales_cur, x.sales AS sales_prev,
       y.sales / x.sales AS ratio
FROM mss y, mss x
WHERE y.ss_store_sk = x.ss_store_sk
  AND y.d_moy = x.d_moy
  AND y.d_year = x.d_year + 1
  AND y.d_year = 1997
ORDER BY store_sk, moy"""

# ref: perf/query68.q — per-ticket sums, bought city <> current city
_Q68 = f"""
SELECT c_last_name, c_first_name, ca_city, bought_city, ss_ticket_number,
       extended_price, extended_tax, list_price
FROM (SELECT /*+ BROADCAST(date_dim, store, household_demographics, customer_address) */
             ss_ticket_number, ss_customer_sk, ca_city AS bought_city,
             {_qsum("ss_ext_sales_price", "extended_price")},
             {_qsum("ss_ext_list_price", "list_price")},
             {_qsum("ss_ext_tax", "extended_tax")}
      FROM store_sales, date_dim, store, household_demographics,
           customer_address
      WHERE ss_sold_date_sk = d_date_sk
        AND ss_store_sk = s_store_sk
        AND ss_hdemo_sk = hd_demo_sk
        AND ss_addr_sk = ca_address_sk
        AND d_dom BETWEEN 1 AND 7
        AND (hd_dep_count = 2 OR hd_vehicle_count = 1)
        AND d_year IN (1995, 1996, 1997)
        AND s_city IN ('City_0','City_3','City_5','City_8','City_10',
                       'City_14','City_15','City_20','City_22')
      GROUP BY ss_ticket_number, ss_customer_sk, ss_addr_sk, ca_city
     ) dn, customer_ds, customer_address current_addr
WHERE ss_customer_sk = c_customer_sk
  AND c_current_addr_sk = current_addr.ca_address_sk
  AND current_addr.ca_city <> bought_city
ORDER BY c_last_name, ss_ticket_number, bought_city,
         extended_price, list_price, extended_tax
LIMIT 100"""

# ref: perf/query71.q — three-channel UNION ALL fact joined to dims
_Q71 = f"""
SELECT /*+ BROADCAST(item, time_dim) */
       i_brand_id AS brand_id, i_brand AS brand, t_hour,
       {_qsum("ext_price", "ext_price")}
FROM channel_sales, item, time_dim
WHERE sold_item_sk = i_item_sk
  AND i_manager_id = 1
  AND sold_time_sk = t_time_sk
  AND t_hour IN (8, 9)
GROUP BY i_brand_id, i_brand, t_hour"""

# ref: perf/query73.q
_Q73 = """
SELECT c_last_name, c_first_name, c_salutation, c_preferred_cust_flag,
       ss_ticket_number, cnt
FROM (SELECT /*+ BROADCAST(date_dim, store, household_demographics) */
             ss_ticket_number, ss_customer_sk, COUNT(*) AS cnt
      FROM store_sales, date_dim, store, household_demographics
      WHERE ss_sold_date_sk = d_date_sk
        AND ss_store_sk = s_store_sk
        AND ss_hdemo_sk = hd_demo_sk
        AND d_dom BETWEEN 1 AND 2
        AND (hd_buy_potential = '>10000' OR hd_buy_potential = 'unknown')
        AND hd_vehicle_count > 0
        AND (CASE WHEN hd_vehicle_count > 0
                  THEN hd_dep_count / hd_vehicle_count
                  ELSE NULL END) > 1
        AND d_year IN (1995, 1996, 1997)
        AND s_county IN ('County_0','County_1','County_2','County_3')
      GROUP BY ss_ticket_number, ss_customer_sk) dj, customer_ds
WHERE ss_customer_sk = c_customer_sk AND cnt BETWEEN 1 AND 5
ORDER BY cnt DESC, c_last_name, ss_ticket_number"""

# ref: perf/query6.q — state report gated by a scalar month_seq subquery
# AND a CORRELATED per-category average-price subquery (price compare in
# exact integer cents so the decorrelated average is engine-identical)
_Q6 = """
SELECT a.ca_state AS state, COUNT(*) AS cnt
FROM customer_address a, customer_ds c, store_sales s, date_dim d, item i
WHERE a.ca_address_sk = c.c_current_addr_sk
  AND c.c_customer_sk = s.ss_customer_sk
  AND s.ss_sold_date_sk = d.d_date_sk
  AND s.ss_item_sk = i.i_item_sk
  AND d.d_month_seq =
      (SELECT DISTINCT d_month_seq FROM date_dim
       WHERE d_year = 1996 AND d_moy = 2)
  AND CAST(round(i.i_current_price * 100) AS BIGINT) > 1.03 *
      (SELECT AVG(CAST(round(j.i_current_price * 100) AS BIGINT))
       FROM item j WHERE j.i_category = i.i_category)
GROUP BY a.ca_state
HAVING COUNT(*) >= 2
ORDER BY cnt, state
LIMIT 100"""

# ref: perf/query13.q — disjunctive demographic/price bands: each OR arm
# pairs different cd/hd predicates with a different sales-price range
_Q13 = f"""
SELECT {_qavg("ss_quantity", "avg_qty")},
       {_qavg("ss_ext_sales_price", "avg_sales")},
       {_qavg("ss_ext_wholesale_cost", "avg_wholesale")},
       {_qsum("ss_ext_wholesale_cost", "sum_wholesale")}
FROM store_sales, store, customer_demographics, household_demographics,
     customer_address, date_dim
WHERE s_store_sk = ss_store_sk
  AND ss_sold_date_sk = d_date_sk AND d_year = 1996
  AND ss_addr_sk = ca_address_sk
  AND ca_state IN ('ST_0', 'ST_2', 'ST_4', 'ST_6', 'ST_8')
  AND ((ss_hdemo_sk = hd_demo_sk AND cd_demo_sk = ss_cdemo_sk
        AND cd_marital_status = 'M' AND cd_education_status = '4 yr Degree'
        AND ss_sales_price BETWEEN 10000.0 AND 80000.0 AND hd_dep_count = 3)
    OR (ss_hdemo_sk = hd_demo_sk AND cd_demo_sk = ss_cdemo_sk
        AND cd_marital_status = 'S' AND cd_education_status = 'College'
        AND ss_sales_price BETWEEN 5000.0 AND 60000.0 AND hd_dep_count = 1)
    OR (ss_hdemo_sk = hd_demo_sk AND cd_demo_sk = ss_cdemo_sk
        AND cd_marital_status = 'W' AND cd_education_status = '2 yr Degree'
        AND ss_sales_price BETWEEN 1000.0 AND 90000.0 AND hd_dep_count = 0))"""

# ref: perf/query32.q — "excess discount": rows whose coupon amount
# exceeds 1.3x the per-item average (correlated subquery, cents-exact)
_Q32 = f"""
SELECT {_qsum("ss_coupon_amt", "excess_discount_amount")}
FROM store_sales, item, date_dim
WHERE i_manufact_id = 2
  AND i_item_sk = ss_item_sk
  AND d_date BETWEEN DATE '1996-03-18' AND DATE '1996-06-16'
  AND d_date_sk = ss_sold_date_sk
  AND CAST(round(ss_coupon_amt * 100) AS BIGINT) >
      (SELECT 1.3 * AVG(CAST(round(s2.ss_coupon_amt * 100) AS BIGINT))
       FROM store_sales s2, date_dim d2
       WHERE s2.ss_item_sk = i_item_sk
         AND d2.d_date BETWEEN DATE '1996-03-18' AND DATE '1996-06-16'
         AND d2.d_date_sk = s2.ss_sold_date_sk)"""

# ref: perf/query36.q — gross-margin ROLLUP with RANK WITHIN PARENT
# (window partitioned by the grouping level over the grouped aggregate)
_Q36 = """
SELECT CAST(SUM(CAST(round(ss_net_profit * 100) AS BIGINT)) AS DOUBLE)
         / SUM(CAST(round(ss_ext_sales_price * 100) AS BIGINT))
         AS gross_margin,
       i_category, i_class,
       CAST(grouping(i_category) + grouping(i_class) AS BIGINT)
         AS lochierarchy,
       CAST(rank() OVER (
         PARTITION BY grouping(i_category) + grouping(i_class),
                      CASE WHEN grouping(i_class) = 0 THEN i_category END
         ORDER BY CAST(SUM(CAST(round(ss_net_profit * 100) AS BIGINT))
                       AS DOUBLE)
                  / SUM(CAST(round(ss_ext_sales_price * 100) AS BIGINT))
                  ASC) AS BIGINT) AS rank_within_parent
FROM store_sales, date_dim d1, item, store
WHERE d1.d_year = 1996
  AND d1.d_date_sk = ss_sold_date_sk
  AND i_item_sk = ss_item_sk
  AND s_store_sk = ss_store_sk
  AND s_county IN ('County_0','County_1','County_2','County_3',
                   'County_4','County_5','County_6','County_7')
GROUP BY ROLLUP(i_category, i_class)"""

# ref: perf/query43.q — day-of-week pivot report per store
_Q43 = """
SELECT s_store_name, s_store_sk AS s_store_id,
       CAST(SUM(CASE WHEN d_day_name = 'Sunday'
            THEN CAST(round(ss_sales_price * 100) AS BIGINT) END) AS DOUBLE)
         / 100 AS sun_sales,
       CAST(SUM(CASE WHEN d_day_name = 'Monday'
            THEN CAST(round(ss_sales_price * 100) AS BIGINT) END) AS DOUBLE)
         / 100 AS mon_sales,
       CAST(SUM(CASE WHEN d_day_name = 'Tuesday'
            THEN CAST(round(ss_sales_price * 100) AS BIGINT) END) AS DOUBLE)
         / 100 AS tue_sales,
       CAST(SUM(CASE WHEN d_day_name = 'Wednesday'
            THEN CAST(round(ss_sales_price * 100) AS BIGINT) END) AS DOUBLE)
         / 100 AS wed_sales,
       CAST(SUM(CASE WHEN d_day_name = 'Thursday'
            THEN CAST(round(ss_sales_price * 100) AS BIGINT) END) AS DOUBLE)
         / 100 AS thu_sales,
       CAST(SUM(CASE WHEN d_day_name = 'Friday'
            THEN CAST(round(ss_sales_price * 100) AS BIGINT) END) AS DOUBLE)
         / 100 AS fri_sales,
       CAST(SUM(CASE WHEN d_day_name = 'Saturday'
            THEN CAST(round(ss_sales_price * 100) AS BIGINT) END) AS DOUBLE)
         / 100 AS sat_sales
FROM date_dim, store_sales, store
WHERE d_date_sk = ss_sold_date_sk
  AND s_store_sk = ss_store_sk
  AND s_county IN ('County_0','County_2','County_4','County_6','County_8')
  AND d_year = 1996
GROUP BY s_store_name, s_store_sk
ORDER BY s_store_name, s_store_id
LIMIT 100"""

# ref: perf/query61.q — promotional vs total sales: two independent
# star aggregates crossed into one ratio row
_Q61 = f"""
SELECT promotions, total,
       CAST(promotions AS DOUBLE) / CAST(total AS DOUBLE) * 100 AS promo_pct
FROM
  (SELECT {_qsum("ss_ext_sales_price", "promotions")}
   FROM store_sales, store, promotion, date_dim, customer_ds,
        customer_address, item
   WHERE ss_sold_date_sk = d_date_sk
     AND ss_store_sk = s_store_sk
     AND ss_promo_sk = p_promo_sk
     AND ss_customer_sk = c_customer_sk
     AND ca_address_sk = c_current_addr_sk
     AND ss_item_sk = i_item_sk
     AND ca_state IN ('ST_1', 'ST_3', 'ST_5')
     AND i_category = 'STANDARD'
     AND (p_channel_email = 'Y' OR p_channel_event = 'Y')
     AND d_year = 1996 AND d_moy = 11) promotional_sales,
  (SELECT {_qsum("ss_ext_sales_price", "total")}
   FROM store_sales, store, date_dim, customer_ds, customer_address, item
   WHERE ss_sold_date_sk = d_date_sk
     AND ss_store_sk = s_store_sk
     AND ss_customer_sk = c_customer_sk
     AND ca_address_sk = c_current_addr_sk
     AND ss_item_sk = i_item_sk
     AND ca_state IN ('ST_1', 'ST_3', 'ST_5')
     AND i_category = 'STANDARD'
     AND d_year = 1996 AND d_moy = 11) all_sales"""

# ref: perf/query25.q — MULTI-FACT join: sales matched to their returns
# on (customer, item, ticket), each fact gated by its own date_dim
# alias. Shape note (r7, measured at the sf1 tier): each fact side is
# reduced by its OWN broadcast date filter BEFORE the big
# sales-to-returns shuffle join — the returns filter sits in a subquery
# so the d2 broadcast provably applies pre-shuffle (without it the
# sr side shipped unfiltered: 3.96s -> 2.75s, same rows)
_Q25 = f"""
SELECT /*+ BROADCAST(d1, store, item) */
       i_item_id, s_store_name,
       {_qsum("ss_ext_sales_price", "store_sales_revenue")},
       {_qsum("sr_net_loss", "store_returns_loss")}
FROM store_sales
JOIN date_dim d1 ON d1.d_date_sk = ss_sold_date_sk
    AND d1.d_moy = 4 AND d1.d_year = 1996
JOIN item ON i_item_sk = ss_item_sk
JOIN store ON s_store_sk = ss_store_sk
JOIN (SELECT /*+ BROADCAST(d2) */ sr_customer_sk, sr_item_sk,
             sr_ticket_number, sr_net_loss
      FROM store_returns
      JOIN date_dim d2 ON sr_returned_date_sk = d2.d_date_sk
          AND d2.d_moy BETWEEN 4 AND 10 AND d2.d_year = 1996) r
  ON ss_customer_sk = r.sr_customer_sk
  AND ss_item_sk = r.sr_item_sk
  AND ss_ticket_number = r.sr_ticket_number
GROUP BY i_item_id, s_store_name
ORDER BY i_item_id, s_store_name
LIMIT 100"""

# ref: perf/query88.q — N independent time-band counts cross-joined into
# one row (each subquery reduces to a single count)
_TIMEBAND_TMPL = """
 (SELECT COUNT(*) AS {alias}
  FROM store_sales, household_demographics, time_dim, store
  WHERE ss_sold_time_sk = t_time_sk
    AND ss_hdemo_sk = hd_demo_sk
    AND ss_store_sk = s_store_sk
    AND t_hour = {hour} AND t_minute {minute_cond}
    AND ((hd_dep_count = 3 AND hd_vehicle_count <= 5) OR
         (hd_dep_count = 0 AND hd_vehicle_count <= 2) OR
         (hd_dep_count = 1 AND hd_vehicle_count <= 3))
    AND s_store_name = 'Store_1') {tag}"""

_Q88 = "SELECT * FROM" + ",".join(
    _TIMEBAND_TMPL.format(alias=a, hour=h, minute_cond=mc, tag=t)
    for a, h, mc, t in [
        ("h8_30_to_9", 8, ">= 30", "s1"),
        ("h9_to_9_30", 9, "< 30", "s2"),
        ("h9_30_to_10", 9, ">= 30", "s3"),
        ("h10_to_10_30", 10, "< 30", "s4"),
    ]
)

# ref: perf/query98.q — class-relative revenue ratio: window over the
# grouped aggregate (SUM(SUM(..)) OVER (PARTITION BY i_class))
_Q98 = """
SELECT /*+ BROADCAST(item, date_dim) */
       i_item_desc, i_category, i_class, i_current_price,
       CAST(SUM(CAST(round(ss_ext_sales_price * 100) AS BIGINT)) AS DOUBLE)
         / 100 AS itemrevenue,
       CAST(SUM(CAST(round(ss_ext_sales_price * 100) AS BIGINT)) AS DOUBLE)
         * 100 / CAST(SUM(SUM(CAST(round(ss_ext_sales_price * 100) AS BIGINT)))
                      OVER (PARTITION BY i_class) AS DOUBLE) AS revenueratio
FROM store_sales, item, date_dim
WHERE ss_item_sk = i_item_sk
  AND i_category IN ('STANDARD', 'SMALL', 'PROMO')
  AND ss_sold_date_sk = d_date_sk
  AND d_date BETWEEN DATE '1996-01-12' AND DATE '1996-02-11'
GROUP BY i_item_id, i_item_desc, i_category, i_class, i_current_price"""

# ref: perf/query65.q — two-level aggregation: per-(store,item) revenue
# joined against the per-store AVERAGE of those revenues (the inner
# relation is a CTE consumed twice, as in q59); cents-exact revenues so
# the avg and the <= comparison are engine-identical
_Q65 = """
WITH sa AS (
  SELECT ss_store_sk, ss_item_sk,
         SUM(CAST(round(ss_sales_price * 100) AS BIGINT)) AS revenue_cents
  FROM store_sales, date_dim
  WHERE ss_sold_date_sk = d_date_sk AND d_month_seq BETWEEN 49 AND 60
  GROUP BY ss_store_sk, ss_item_sk),
sb AS (
  SELECT ss_store_sk, AVG(revenue_cents) AS ave
  FROM sa GROUP BY ss_store_sk)
SELECT s_store_name, s_store_sk AS s_store_id, i_item_id, i_item_desc,
       CAST(sc.revenue_cents AS DOUBLE) / 100 AS revenue,
       i_current_price, i_brand
FROM store, item, sb, sa sc
WHERE sb.ss_store_sk = sc.ss_store_sk
  AND sc.revenue_cents <= 0.5 * sb.ave
  AND s_store_sk = sc.ss_store_sk
  AND i_item_sk = sc.ss_item_sk
ORDER BY s_store_name, i_item_desc, i_item_id, s_store_id
LIMIT 100"""

# ref: perf/query89.q — monthly sales vs the brand/store average: AVG
# window over the grouped aggregate, deviation filter on the ratio
_Q89 = """
SELECT * FROM (
  SELECT i_category, i_class, i_brand, s_store_name, s_company_name,
         d_moy,
         CAST(SUM(CAST(round(ss_sales_price * 100) AS BIGINT)) AS DOUBLE)
           / 100 AS sum_sales,
         AVG(SUM(CAST(round(ss_sales_price * 100) AS BIGINT))) OVER
           (PARTITION BY i_category, i_brand, s_store_name,
                         s_company_name) / 100 AS avg_monthly_sales
  FROM item, store_sales, date_dim, store
  WHERE ss_item_sk = i_item_sk
    AND ss_sold_date_sk = d_date_sk
    AND ss_store_sk = s_store_sk
    AND d_year IN (1996)
    AND ((i_category IN ('STANDARD', 'SMALL', 'MEDIUM')
          AND i_class IN ('CLASS_0', 'CLASS_2'))
      OR (i_category IN ('LARGE', 'ECONOMY', 'PROMO')
          AND i_class IN ('CLASS_1', 'CLASS_3')))
  GROUP BY i_category, i_class, i_brand, s_store_name, s_company_name,
           d_moy) tmp1
WHERE CASE WHEN avg_monthly_sales <> 0
           THEN abs(sum_sales - avg_monthly_sales) / avg_monthly_sales
           ELSE NULL END > 0.1
ORDER BY sum_sales - avg_monthly_sales, s_store_name, i_brand, i_class,
         i_category, d_moy
LIMIT 100"""

# ref: perf/query41.q — dim-only correlated COUNT(*) subquery over
# disjunctive attribute bands (no fact table at all)
_Q41 = """
SELECT DISTINCT(i_item_desc)
FROM item i1
WHERE i_manufact_id BETWEEN 2 AND 4
  AND (SELECT COUNT(*) FROM item
       WHERE i_manufact = i1.i_manufact
         AND ((i_category = 'STANDARD'
               AND i_class IN ('CLASS_0', 'CLASS_1')
               AND i_manager_id BETWEEN 1 AND 10)
           OR (i_category = 'SMALL'
               AND i_class IN ('CLASS_2', 'CLASS_3')
               AND i_manager_id BETWEEN 11 AND 20)
           OR (i_category = 'PROMO'
               AND i_class IN ('CLASS_1', 'CLASS_4')
               AND i_manager_id BETWEEN 21 AND 30))) > 0
ORDER BY i_item_desc
LIMIT 100"""

# ref: perf/query62.q — shipping-delay bucket report (CASE bands over
# the order->ship day gap, a two-date fact measure)
_Q62 = """
SELECT l_returnflag, o_orderpriority,
       SUM(CASE WHEN delay_days <= 30 THEN 1 ELSE 0 END) AS d_30,
       SUM(CASE WHEN delay_days > 30 AND delay_days <= 60
                THEN 1 ELSE 0 END) AS d_31_60,
       SUM(CASE WHEN delay_days > 60 AND delay_days <= 90
                THEN 1 ELSE 0 END) AS d_61_90,
       SUM(CASE WHEN delay_days > 90 AND delay_days <= 120
                THEN 1 ELSE 0 END) AS d_91_120,
       SUM(CASE WHEN delay_days > 120 THEN 1 ELSE 0 END) AS d_over_120
FROM order_delays
GROUP BY l_returnflag, o_orderpriority
ORDER BY l_returnflag, o_orderpriority"""

# ref: perf/query93.q — net sales excluding returned items: LEFT join
# of the sales fact to the returns fact, anti-style CASE aggregation
_Q93 = """
SELECT customer_sk, sumsales
FROM (
  SELECT ss_customer_sk AS customer_sk,
         CAST(SUM(CASE WHEN sr_ticket_number IS NULL
                  THEN CAST(round(ss_sales_price * 100) AS BIGINT)
                  ELSE 0 END) AS DOUBLE) / 100 AS sumsales
  FROM store_sales LEFT JOIN store_returns
    ON ss_ticket_number = sr_ticket_number AND ss_item_sk = sr_item_sk
  GROUP BY ss_customer_sk) t
ORDER BY sumsales, customer_sk
LIMIT 100"""

# ref: perf/query96.q — count-only 4-way star
_Q96 = """
SELECT /*+ BROADCAST(household_demographics, time_dim, store) */
       COUNT(*) AS cnt
FROM store_sales, household_demographics, time_dim, store
WHERE ss_sold_time_sk = t_time_sk
  AND ss_hdemo_sk = hd_demo_sk
  AND ss_store_sk = s_store_sk
  AND t_hour = 8 AND t_minute >= 30
  AND hd_dep_count = 5
  AND s_store_name = 'Store_1'"""

_BODIES = {
    "tpcds_q3": _Q3,
    "tpcds_q6_correlated_avg": _Q6,
    "tpcds_q7": _Q7,
    "tpcds_q13_or_bands": _Q13,
    "tpcds_q19": _Q19,
    "tpcds_q25_sales_returns": _Q25,
    "tpcds_q27_rollup": _Q27,
    "tpcds_q32_excess_discount": _Q32,
    "tpcds_q34": _Q34,
    "tpcds_q36_margin_rank": _Q36,
    "tpcds_q41_attr_exists": _Q41,
    "tpcds_q42": _Q42,
    "tpcds_q43_dayofweek": _Q43,
    "tpcds_q62_ship_delay": _Q62,
    "tpcds_q61_promo_ratio": _Q61,
    "tpcds_q65_below_avg_items": _Q65,
    "tpcds_q52": _Q52,
    "tpcds_q55": _Q55,
    "tpcds_q59_cte_reuse": _Q59,
    "tpcds_q68": _Q68,
    "tpcds_q71_multichannel": _Q71,
    "tpcds_q73": _Q73,
    "tpcds_q88_time_bands": _Q88,
    "tpcds_q89_deviation": _Q89,
    "tpcds_q93_net_sales": _Q93,
    "tpcds_q96": _Q96,
    "tpcds_q98_class_ratio": _Q98,
}


def _mk(body: str):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        _register_star(spark, sf_dir)
        return spark.sql(body)

    return fn


REGISTRY: dict[str, QuerySpec] = {
    name: QuerySpec(_mk(body), _oracle(body)) for name, body in _BODIES.items()
}


# ---------------------------------------------------------------------------
# r9 opt (guide §6 + §8 "use what you know that the optimizer does not"):
# the derived date_dim has d_date_sk = yyyyMMdd over a FIXED calendar
# (1992-01-01..1998-12-31), so a contiguous dim predicate
# (d_year/d_moy/d_date range) implies a closed-form literal range on the
# fact's *_date_sk join key. Catalyst cannot infer a range through an
# equi-join, so the Spark bodies get the implied BETWEEN injected next
# to the date join — it reaches PushedFilters at the fact scan, where
# the date-clustered layout (_FACT_LAYOUT) lets parquet skip whole row
# groups. The dim join still enforces exact membership, so the filter
# is a provable superset; the ORACLE keeps the uninjected body and the
# driver's hash match re-proves equivalence every round. Measured at
# the sf1 tier: timing-neutral locally (the pruned scan is already at
# the fixed-cost floor); the win is I/O proportional to range
# selectivity, which grows with data volume.
# ---------------------------------------------------------------------------
def _inject(body: str, marker: str, extra: str) -> str:
    assert body.count(marker) == 1, (marker, body.count(marker))
    return body.replace(marker, marker + extra)


def _sk_ranges(col: str, bounds: list[tuple[int, int]]) -> str:
    """OR-of-BETWEEN superset filter on a fact date_sk — parquet pushes
    Or(And(GtEq,LtEq),...) so row-group stats skip disjoint ranges too."""
    ors = " OR ".join(f"{col} BETWEEN {a} AND {b}" for a, b in bounds)
    return f"\n  AND ({ors})"


_DATE_RANGE_INJECTIONS: dict[str, list[tuple[str, str]]] = {
    # d_moy = 11 AND d_year = 1996  ->  November 1996
    "tpcds_q19": [(
        "WHERE d_date_sk = ss_sold_date_sk",
        "\n  AND ss_sold_date_sk BETWEEN 19961101 AND 19961130",
    )],
    # r10 (VERDICT r9 #8): d_moy = 12 over the whole 1992-1998 calendar
    # -> the seven Decembers (disjoint ranges, OR-pushable)
    "tpcds_q3": [(
        "AND dt.d_moy = 12",
        _sk_ranges(
            "ss_sold_date_sk",
            [(y * 10000 + 1201, y * 10000 + 1231) for y in range(1992, 1999)],
        ),
    )],
    # r10: d_dom 1..7 of every month in 1995-1997 -> 36 first-week ranges
    "tpcds_q68": [(
        "AND d_year IN (1995, 1996, 1997)",
        _sk_ranges(
            "ss_sold_date_sk",
            [
                (y * 10000 + m * 100 + 1, y * 10000 + m * 100 + 7)
                for y in (1995, 1996, 1997)
                for m in range(1, 13)
            ],
        ),
    )],
    # sales leg: April 1996; returns leg: April..October 1996
    "tpcds_q25_sales_returns": [
        (
            "AND d1.d_moy = 4 AND d1.d_year = 1996",
            "\n    AND ss_sold_date_sk BETWEEN 19960401 AND 19960430",
        ),
        (
            "AND d2.d_moy BETWEEN 4 AND 10 AND d2.d_year = 1996",
            "\n          AND sr_returned_date_sk BETWEEN 19960401 AND 19961031",
        ),
    ],
    # d_date BETWEEN 1996-01-12 AND 1996-02-11
    "tpcds_q98_class_ratio": [(
        "AND d_date BETWEEN DATE '1996-01-12' AND DATE '1996-02-11'",
        "\n  AND ss_sold_date_sk BETWEEN 19960112 AND 19960211",
    )],
}

for _name, _subs in _DATE_RANGE_INJECTIONS.items():
    _spark_body = _BODIES[_name]
    for _marker, _extra in _subs:
        _spark_body = _inject(_spark_body, _marker, _extra)
    REGISTRY[_name] = QuerySpec(
        _mk(_spark_body),
        _oracle(_BODIES[_name]),
        "fact date_sk range implied by the dim date predicate injected"
        " at the scan (oracle keeps the uninjected SQL)",
    )
