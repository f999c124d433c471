"""TPC-DS query-shape coverage, part 3 — remaining distinct families.

Continues tpcds.py / tpcds2.py over the same derived star schema
(ref: ql/src/test/queries/clientpositive/perf/query*.q). Families here:

  week-over-year day-name ratios   -> q2 (7 pivoted day sums, week
                                      self-join one year apart)
  three-channel customer growth    -> q4 (profit formula, catalog must
                                      outgrow BOTH store and web)
  sales->returns->repurchase stats -> q17 (AVG/STDDEV chain)
  manufacturer 3-channel union     -> q33
  inventory coefficient-of-var     -> q39 (yearly mean/stdev self-join)
  before/after returns netting     -> q40
  zip-OR-item-subquery report      -> q45
  chained 2-year item resale       -> q64 (HAVING-gated CTE reused)
  EXISTS/NOT-EXISTS combos         -> q69 (anti version of q35),
                                      q95 (both-EXISTS version of q94)
  channel union count report       -> q76
  unreturned store-vs-web ratios   -> q78
  income-band dimension chain      -> q84
  returns demographic OR-bands     -> q85
  cross-channel item INTERSECT     -> q14 (3-way set op feeding a
                                      union aggregate + scalar HAVING)
  chain + scalar-avg threshold     -> q24
  best/worst rank join             -> q44
  hierarchy ROLLUP + rank window   -> q67
  ranked IN-subquery in ROLLUP     -> q70

All bodies are engine-neutral shared SQL (Spark temp views == DuckDB
WITH prelude); money in exact integer cents, statistical aggregates
over small exact integers ROUNDed to 4 decimals so both engines'
float tails agree.

Scale notes: every query keeps the one-shuffle-per-aggregation shape;
self-joins (q2/q39/q64) operate on aggregated week/item-sized CTEs,
never raw facts; EXISTS subqueries decorrelate to semi/anti joins on
the order key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from hive_spark.operators import QuerySpec
from hive_spark.operators.tpcds import _oracle, _register_star
from hive_spark.plans.cte_spool import spool_ctes


def _cents(col: str) -> str:
    return f"CAST(round({col} * 100) AS BIGINT)"


_DAYS = ["Sunday", "Monday", "Tuesday", "Wednesday", "Thursday",
         "Friday", "Saturday"]

# ref: perf/query2.q — catalog+web weekly sales pivoted into 7 day-name
# sums, weeks joined to the same week one year (52 weeks) later, ratio
# per day
_Q2_DAYSUMS = ",\n         ".join(
    f"SUM(CASE WHEN d_day_name = '{d}' THEN sales_cents ELSE NULL END)"
    f" AS {d[:3].lower()}_sales"
    for d in _DAYS
)
_Q2_RATIOS = ",\n       ".join(
    f"ROUND(CAST(curr.{d[:3].lower()}_sales AS DOUBLE)"
    f" / prev.{d[:3].lower()}_sales, 2) AS {d[:3].lower()}_ratio"
    for d in _DAYS
)
_Q2 = f"""
WITH wscs AS (
  SELECT ws_sold_date_sk AS sold_date_sk,
         {_cents("ws_ext_sales_price")} AS sales_cents
  FROM web_sales
  UNION ALL
  SELECT cs_sold_date_sk, {_cents("cs_ext_sales_price")}
  FROM catalog_sales),
wswscs AS (
  SELECT d_week_seq,
         {_Q2_DAYSUMS}
  FROM wscs, date_dim
  WHERE d_date_sk = sold_date_sk
  GROUP BY d_week_seq)
SELECT curr.d_week_seq AS week_seq,
       {_Q2_RATIOS}
FROM wswscs curr, wswscs prev
WHERE curr.d_week_seq = prev.d_week_seq + 52
  AND prev.d_week_seq BETWEEN 209 AND 260
ORDER BY week_seq"""

# ref: perf/query4.q — the full three-channel year-over-year growth:
# customers whose catalog growth beats BOTH store and web growth
# (profit formula (list - discount + sales) / 2 in exact half-cents)
_PROFIT = {
    "s": "(ss_ext_list_price - ss_coupon_amt + ss_ext_sales_price)",
    "c": "(cs_ext_list_price - cs_ext_discount_amt + cs_ext_sales_price)",
    "w": "(ws_ext_list_price - ws_ext_discount_amt + ws_ext_sales_price)",
}
# Spark recomputes a CTE per reference (six fact scans here); Hive
# spools CTEs referenced >= 3 times (TableScanToSpoolRule,
# hive.optimize.cte.materialize.threshold=3), and so does the engine
# (plans.cte_spool; see _q4_spooled).
_Q4 = f"""
WITH year_total AS (
  SELECT ss_customer_sk AS customer_sk, d_year AS yr,
         SUM({_cents(_PROFIT["s"])}) AS year_total, 's' AS sale_type
  FROM store_sales, date_dim
  WHERE ss_sold_date_sk = d_date_sk AND d_year IN (1996, 1997)
  GROUP BY ss_customer_sk, d_year
  UNION ALL
  SELECT cs_bill_customer_sk, d_year,
         SUM({_cents(_PROFIT["c"])}), 'c'
  FROM catalog_sales, date_dim
  WHERE cs_sold_date_sk = d_date_sk AND d_year IN (1996, 1997)
  GROUP BY cs_bill_customer_sk, d_year
  UNION ALL
  SELECT ws_bill_customer_sk, d_year,
         SUM({_cents(_PROFIT["w"])}), 'w'
  FROM web_sales, date_dim
  WHERE ws_sold_date_sk = d_date_sk AND d_year IN (1996, 1997)
  GROUP BY ws_bill_customer_sk, d_year)
SELECT ts2.customer_sk
FROM year_total ts1, year_total ts2,
     year_total tc1, year_total tc2,
     year_total tw1, year_total tw2
WHERE ts1.customer_sk = ts2.customer_sk
  AND ts1.customer_sk = tc1.customer_sk
  AND ts1.customer_sk = tc2.customer_sk
  AND ts1.customer_sk = tw1.customer_sk
  AND ts1.customer_sk = tw2.customer_sk
  AND ts1.sale_type = 's' AND ts2.sale_type = 's'
  AND tc1.sale_type = 'c' AND tc2.sale_type = 'c'
  AND tw1.sale_type = 'w' AND tw2.sale_type = 'w'
  AND ts1.yr = 1996 AND ts2.yr = 1997
  AND tc1.yr = 1996 AND tc2.yr = 1997
  AND tw1.yr = 1996 AND tw2.yr = 1997
  AND ts1.year_total > 0 AND tc1.year_total > 0 AND tw1.year_total > 0
  AND CAST(tc2.year_total AS DOUBLE) / tc1.year_total >
      CAST(ts2.year_total AS DOUBLE) / ts1.year_total
  AND CAST(tc2.year_total AS DOUBLE) / tc1.year_total >
      CAST(tw2.year_total AS DOUBLE) / tw1.year_total
ORDER BY ts2.customer_sk
LIMIT 100"""

# ref: perf/query17.q — items sold, returned, and re-bought via catalog
# by the same customer: count/avg/stdev of the three quantity streams.
# Quantities are small exact integers, so sum/sumsq are exact in DOUBLE;
# ROUND(…, 4) guards the last-ulp difference between engines.
_Q17 = """
SELECT i_item_id, s_store_name,
       COUNT(*) AS cnt,
       ROUND(AVG(CAST(ss_quantity AS BIGINT)), 4) AS store_qty_avg,
       ROUND(STDDEV_SAMP(CAST(ss_quantity AS BIGINT)), 4) AS store_qty_sd,
       ROUND(AVG(CAST(sr_return_quantity AS BIGINT)), 4) AS return_qty_avg,
       ROUND(STDDEV_SAMP(CAST(sr_return_quantity AS BIGINT)), 4)
         AS return_qty_sd,
       ROUND(AVG(CAST(cs_quantity AS BIGINT)), 4) AS catalog_qty_avg,
       ROUND(STDDEV_SAMP(CAST(cs_quantity AS BIGINT)), 4) AS catalog_qty_sd
FROM store_sales, store_returns, catalog_sales, date_dim d1, date_dim d2,
     date_dim d3, store, item
WHERE d1.d_year = 1996 AND d1.d_qoy = 1
  AND d1.d_date_sk = ss_sold_date_sk
  AND i_item_sk = ss_item_sk
  AND s_store_sk = ss_store_sk
  AND ss_customer_sk = sr_customer_sk
  AND ss_item_sk = sr_item_sk
  AND ss_ticket_number = sr_ticket_number
  AND sr_returned_date_sk = d2.d_date_sk
  AND d2.d_year = 1996 AND d2.d_qoy BETWEEN 1 AND 3
  AND sr_customer_sk = cs_bill_customer_sk
  AND sr_item_sk = cs_item_sk
  AND cs_sold_date_sk = d3.d_date_sk
  AND d3.d_year = 1996 AND d3.d_qoy BETWEEN 1 AND 3
GROUP BY i_item_id, s_store_name
ORDER BY i_item_id, s_store_name
LIMIT 100"""


def _q33_channel(fact: str, item: str, datecol: str, addr: str,
                 amt: str) -> str:
    return f"""
  SELECT i_manufact_id, SUM({_cents(amt)}) AS total_sales
  FROM {fact}, date_dim, customer_address, item
  WHERE i_manufact_id IN
        (SELECT i_manufact_id FROM item WHERE i_category = 'STANDARD')
    AND {item} = i_item_sk AND {datecol} = d_date_sk
    AND d_year = 1996 AND d_moy = 5
    AND {addr} = ca_address_sk AND ca_state = 'ST_3'
  GROUP BY i_manufact_id"""


# ref: perf/query33.q (q56/q60 family) — per-manufacturer sales of one
# category, three channel star subqueries UNION ALLed and re-summed
_Q33 = (
    "WITH ss AS ("
    + _q33_channel("store_sales", "ss_item_sk", "ss_sold_date_sk",
                   "ss_addr_sk", "ss_ext_sales_price")
    + "),\ncs AS ("
    + _q33_channel("catalog_sales", "cs_item_sk", "cs_sold_date_sk",
                   "cs_bill_addr_sk", "cs_ext_sales_price")
    + "),\nws AS ("
    + _q33_channel("web_sales", "ws_item_sk", "ws_sold_date_sk",
                   "ws_bill_addr_sk", "ws_ext_sales_price")
    + """)
SELECT i_manufact_id,
       CAST(SUM(total_sales) AS DOUBLE) / 100 AS total_sales
FROM (SELECT * FROM ss UNION ALL SELECT * FROM cs
      UNION ALL SELECT * FROM ws) tmp1
GROUP BY i_manufact_id
ORDER BY total_sales DESC, i_manufact_id
LIMIT 100"""
)

# ref: perf/query39.q — inventory coefficient of variation per
# warehouse/item/year, consecutive years joined where the first year's
# cov exceeds the volatility bar
_Q39 = """
WITH invy AS (
  SELECT inv_warehouse_sk AS wh, inv_item_sk AS item_sk,
         CAST(1992 + floor((inv_month_seq - 1) / 12.0) AS INT) AS yr,
         AVG(CAST(inv_quantity_on_hand AS BIGINT)) AS mean_q,
         ROUND(STDDEV_SAMP(CAST(inv_quantity_on_hand AS BIGINT)), 4)
           AS sd_q
  FROM inventory
  GROUP BY inv_warehouse_sk, inv_item_sk,
           CAST(1992 + floor((inv_month_seq - 1) / 12.0) AS INT))
SELECT a.wh, a.item_sk, a.yr,
       ROUND(a.sd_q / a.mean_q, 4) AS cov_cur,
       ROUND(b.sd_q / b.mean_q, 4) AS cov_next
FROM invy a, invy b
WHERE a.wh = b.wh AND a.item_sk = b.item_sk AND b.yr = a.yr + 1
  AND a.yr = 1996 AND a.mean_q > 0 AND b.mean_q > 0
  AND a.sd_q / a.mean_q > 0.5
ORDER BY a.wh, a.item_sk
LIMIT 100"""

# ref: perf/query40.q — catalog sales netted against returns, split
# before/after the pivot month per warehouse state and item
_Q40 = f"""
SELECT w_state, i_item_id,
       CAST(SUM(CASE WHEN d_moy < 7
                THEN {_cents("cs_ext_sales_price")}
                     - COALESCE({_cents("cr_return_amount")}, 0)
                ELSE 0 END) AS DOUBLE) / 100 AS sales_before,
       CAST(SUM(CASE WHEN d_moy >= 7
                THEN {_cents("cs_ext_sales_price")}
                     - COALESCE({_cents("cr_return_amount")}, 0)
                ELSE 0 END) AS DOUBLE) / 100 AS sales_after
FROM catalog_sales
LEFT JOIN catalog_returns
  ON cs_order_number = cr_order_number AND cs_item_sk = cr_item_sk
JOIN warehouse ON cs_warehouse_sk = w_warehouse_sk
JOIN item ON cs_item_sk = i_item_sk
JOIN date_dim ON cs_sold_date_sk = d_date_sk
WHERE d_year = 1996
GROUP BY w_state, i_item_id
ORDER BY w_state, i_item_id
LIMIT 100"""

# ref: perf/query45.q — web revenue by customer zip, rows admitted by a
# zip literal list OR an item-subquery (the disjunctive-semi shape)
_Q45 = f"""
SELECT ca_zip,
       CAST(SUM({_cents("ws_sales_price")}) AS DOUBLE) / 100
         AS total_sales
FROM web_sales, customer_ds, customer_address, date_dim, item
WHERE ws_bill_customer_sk = c_customer_sk
  AND c_current_addr_sk = ca_address_sk
  AND ws_sold_date_sk = d_date_sk
  AND ws_item_sk = i_item_sk
  AND (substr(ca_zip, 1, 5) IN
         ('00017', '00034', '00051', '00068', '00085')
    OR i_item_sk IN (SELECT i_item_sk FROM item
                     WHERE i_item_sk IN (2, 3, 5, 7, 11, 13, 17, 19, 23, 29)))
  AND d_qoy = 2 AND d_year = 1996
GROUP BY ca_zip
ORDER BY ca_zip
LIMIT 100"""

# ref: perf/query64.q (simplified to its core shape) — items whose
# catalog revenue holds 2x their refunds (HAVING-gated CTE), store
# sales for those items self-joined across consecutive years with a
# declining-count filter
_Q64 = f"""
WITH cs_ui AS (
  SELECT cs_item_sk AS item_sk,
         SUM({_cents("cs_ext_list_price")}) AS sale,
         SUM(COALESCE({_cents("cr_return_amount")}, 0)) AS refund
  FROM catalog_sales
  LEFT JOIN catalog_returns
    ON cs_order_number = cr_order_number AND cs_item_sk = cr_item_sk
  GROUP BY cs_item_sk
  HAVING SUM({_cents("cs_ext_list_price")}) >
         2 * SUM(COALESCE({_cents("cr_return_amount")}, 0))),
cross_sales AS (
  SELECT ss_item_sk AS item_sk, d_year,
         SUM({_cents("ss_ext_sales_price")}) AS sales_cents,
         COUNT(*) AS cnt
  FROM store_sales, date_dim
  WHERE ss_sold_date_sk = d_date_sk
    AND ss_item_sk IN (SELECT item_sk FROM cs_ui)
  GROUP BY ss_item_sk, d_year)
SELECT cs1.item_sk,
       CAST(cs1.sales_cents AS DOUBLE) / 100 AS sales_1996,
       CAST(cs2.sales_cents AS DOUBLE) / 100 AS sales_1997,
       cs1.cnt AS cnt_1996, cs2.cnt AS cnt_1997
FROM cross_sales cs1, cross_sales cs2
WHERE cs1.item_sk = cs2.item_sk
  AND cs1.d_year = 1996 AND cs2.d_year = 1997
  AND cs2.cnt <= cs1.cnt
ORDER BY cs1.item_sk
LIMIT 100"""

# ref: perf/query69.q — the anti twin of q35: store-active customers
# with NO web and NO catalog activity in the window
_Q69 = """
SELECT ca_state, cd_gender, cd_marital_status, COUNT(*) AS cnt
FROM customer_ds c, customer_address ca, customer_demographics
WHERE c.c_current_addr_sk = ca.ca_address_sk
  AND cd_demo_sk = c.c_current_cdemo_sk
  AND EXISTS (SELECT 1 FROM store_sales, date_dim
              WHERE c.c_customer_sk = ss_customer_sk
                AND ss_sold_date_sk = d_date_sk
                AND d_year = 1996 AND d_moy BETWEEN 1 AND 3)
  AND NOT EXISTS (SELECT 1 FROM web_sales, date_dim
                  WHERE c.c_customer_sk = ws_bill_customer_sk
                    AND ws_sold_date_sk = d_date_sk
                    AND d_year = 1996 AND d_moy BETWEEN 1 AND 3)
  AND NOT EXISTS (SELECT 1 FROM catalog_sales, date_dim
                  WHERE c.c_customer_sk = cs_bill_customer_sk
                    AND cs_sold_date_sk = d_date_sk
                    AND d_year = 1996 AND d_moy BETWEEN 1 AND 3)
GROUP BY ca_state, cd_gender, cd_marital_status
ORDER BY ca_state, cd_gender, cd_marital_status
LIMIT 100"""


def _q76_channel(channel: str, col_name: str, fact: str, item: str,
                 datecol: str, amt: str, pred: str) -> str:
    return f"""
  SELECT '{channel}' AS channel, '{col_name}' AS col_name,
         d_year, d_qoy, i_category,
         {_cents(amt)} AS sales_cents
  FROM {fact}, item, date_dim
  WHERE {pred}
    AND {item} = i_item_sk AND {datecol} = d_date_sk"""


# ref: perf/query76.q — three channel slices admitted by a sentinel
# key predicate (the reference uses IS NULL keys; the derived star has
# no NULL fks, so each channel's sentinel bucket keeps the shape),
# UNION ALLed and counted/summed per channel/quarter/category
_Q76 = (
    "WITH all_rows AS ("
    + _q76_channel("store", "ss_hdemo_sk", "store_sales", "ss_item_sk",
                   "ss_sold_date_sk", "ss_ext_sales_price",
                   "ss_hdemo_sk % 100 = 7")
    + "\n  UNION ALL"
    + _q76_channel("web", "ws_ship_hdemo_sk", "web_sales", "ws_item_sk",
                   "ws_sold_date_sk", "ws_ext_sales_price",
                   "ws_ship_hdemo_sk % 100 = 7")
    + "\n  UNION ALL"
    + _q76_channel("catalog", "cs_call_center_sk", "catalog_sales",
                   "cs_item_sk", "cs_sold_date_sk", "cs_ext_sales_price",
                   "cs_call_center_sk % 20 = 7")
    + """)
SELECT channel, col_name, d_year, d_qoy, i_category,
       COUNT(*) AS sales_cnt,
       CAST(SUM(sales_cents) AS DOUBLE) / 100 AS sales_amt
FROM all_rows
GROUP BY channel, col_name, d_year, d_qoy, i_category
ORDER BY channel, col_name, d_year, d_qoy, i_category
LIMIT 100"""
)

# ref: perf/query78.q — per customer/item/year quantities that were
# NEVER returned, store vs web, keeping customers who bought on both
# sides and ordering by the store/web ratio
_Q78 = """
WITH ws_clean AS (
  SELECT d_year AS yr, ws_item_sk AS item_sk,
         ws_bill_customer_sk AS customer_sk,
         SUM(CAST(ws_quantity AS BIGINT)) AS qty
  FROM web_sales
  LEFT JOIN web_returns
    ON wr_order_number = ws_order_number AND ws_item_sk = wr_item_sk
  JOIN date_dim ON ws_sold_date_sk = d_date_sk
  WHERE wr_order_number IS NULL
  GROUP BY d_year, ws_item_sk, ws_bill_customer_sk),
ss_clean AS (
  SELECT d_year AS yr, ss_item_sk AS item_sk,
         ss_customer_sk AS customer_sk,
         SUM(CAST(ss_quantity AS BIGINT)) AS qty
  FROM store_sales
  LEFT JOIN store_returns
    ON sr_ticket_number = ss_ticket_number AND ss_item_sk = sr_item_sk
  JOIN date_dim ON ss_sold_date_sk = d_date_sk
  WHERE sr_ticket_number IS NULL
  GROUP BY d_year, ss_item_sk, ss_customer_sk)
SELECT ss_clean.yr, ss_clean.item_sk, ss_clean.customer_sk,
       ROUND(CAST(ss_clean.qty AS DOUBLE) / ws_clean.qty, 2) AS ratio,
       ss_clean.qty AS store_qty, ws_clean.qty AS web_qty
FROM ss_clean JOIN ws_clean
  ON ws_clean.yr = ss_clean.yr
 AND ws_clean.item_sk = ss_clean.item_sk
 AND ws_clean.customer_sk = ss_clean.customer_sk
WHERE ss_clean.yr = 1996
ORDER BY ss_clean.item_sk, ss_clean.customer_sk
LIMIT 100"""

# ref: perf/query84.q — the income-band dimension chain: customer ->
# address + household demographics -> income band, anchored by the
# returns fact
_Q84 = """
SELECT c.c_customer_sk AS customer_sk, c.c_last_name,
       COUNT(*) AS return_cnt
FROM customer_ds c, customer_address ca, household_demographics hd,
     income_band ib, store_returns sr
WHERE c.c_current_addr_sk = ca.ca_address_sk
  AND ca.ca_city = 'City_5'
  AND c.c_current_hdemo_sk = hd.hd_demo_sk
  AND hd.hd_income_band_sk = ib.ib_income_band_sk
  AND ib.ib_lower_bound >= 30000 AND ib.ib_upper_bound <= 80000
  AND sr.sr_customer_sk = c.c_customer_sk
GROUP BY c.c_customer_sk, c.c_last_name
ORDER BY customer_sk
LIMIT 100"""

# ref: perf/query85.q — web returns crossed with customer demographics
# through disjunctive (marital, education, amount) bands
_Q85 = f"""
SELECT cd_marital_status, cd_education_status,
       COUNT(*) AS cnt,
       CAST(SUM({_cents("wr_return_amt")}) AS DOUBLE) / 100
         AS total_returned
FROM web_returns, customer_ds, customer_demographics
WHERE wr_returning_customer_sk = c_customer_sk
  AND c_current_cdemo_sk = cd_demo_sk
  AND ((cd_marital_status = 'M' AND cd_education_status = '4 yr Degree'
        AND wr_return_amt BETWEEN 10000 AND 80000)
    OR (cd_marital_status = 'S' AND cd_education_status = 'College'
        AND wr_return_amt BETWEEN 5000 AND 60000)
    OR (cd_marital_status = 'W' AND cd_education_status = '2 yr Degree'
        AND wr_return_amt BETWEEN 2500 AND 50000))
GROUP BY cd_marital_status, cd_education_status
ORDER BY cd_marital_status, cd_education_status
LIMIT 100"""

# ref: perf/query95.q — the both-EXISTS twin of q94: orders shipped
# from >1 warehouse THAT WERE returned
_Q95 = f"""
SELECT COUNT(DISTINCT ws1.ws_order_number) AS order_count,
       CAST(SUM({_cents("ws1.ws_ext_ship_cost")}) AS DOUBLE) / 100
         AS total_shipping_cost,
       CAST(SUM({_cents("ws1.ws_net_profit")}) AS DOUBLE) / 100
         AS total_net_profit
FROM web_sales ws1, date_dim, warehouse
WHERE ws1.ws_ship_date_sk = d_date_sk
  AND d_year = 1996 AND d_moy BETWEEN 2 AND 3
  AND ws1.ws_warehouse_sk = w_warehouse_sk
  AND w_state IN ('ST_2', 'ST_4', 'ST_6')
  AND EXISTS (SELECT 1 FROM web_sales ws2
              WHERE ws1.ws_order_number = ws2.ws_order_number
                AND ws1.ws_warehouse_sk <> ws2.ws_warehouse_sk)
  AND EXISTS (SELECT 1 FROM web_returns wr1
              WHERE ws1.ws_order_number = wr1.wr_order_number)"""

# ref: perf/query14.q — items sold through ALL THREE channels
# ((brand, category) INTERSECT x3), then per-channel November sales of
# those items, kept only above the all-channel average (scalar HAVING).
# DuckDB has no multi-column IN, so the membership test is EXISTS.
def _q14_channel(channel: str, fact: str, item: str, datecol: str,
                 amt: str) -> str:
    return f"""
  SELECT '{channel}' AS channel, i_brand_id, i_category_id,
         {_cents(amt)} AS sales_cents
  FROM {fact}, item, date_dim
  WHERE {item} = i_item_sk AND {datecol} = d_date_sk
    AND d_year = 1997 AND d_moy = 11
    AND EXISTS (SELECT 1 FROM cross_items ci
                WHERE ci.brand_id = i_brand_id
                  AND ci.category_id = i_category_id)"""


_Q14 = (
    f"""
WITH cross_items AS (
  SELECT brand_id, category_id FROM (
    SELECT i_brand_id AS brand_id, i_category_id AS category_id
    FROM store_sales, item WHERE ss_item_sk = i_item_sk
    INTERSECT
    SELECT i_brand_id, i_category_id
    FROM catalog_sales, item WHERE cs_item_sk = i_item_sk
    INTERSECT
    SELECT i_brand_id, i_category_id
    FROM web_sales, item WHERE ws_item_sk = i_item_sk) x),
avg_sales AS (
  SELECT AVG(amt) AS average_sales FROM (
    SELECT {_cents("ss_ext_sales_price")} AS amt FROM store_sales
    UNION ALL
    SELECT {_cents("cs_ext_sales_price")} FROM catalog_sales
    UNION ALL
    SELECT {_cents("ws_ext_sales_price")} FROM web_sales) u)
SELECT channel, i_brand_id, i_category_id,
       CAST(SUM(sales_cents) AS DOUBLE) / 100 AS sales,
       COUNT(*) AS number_sales
FROM ("""
    + _q14_channel("store", "store_sales", "ss_item_sk",
                   "ss_sold_date_sk", "ss_ext_sales_price")
    + "\n  UNION ALL"
    + _q14_channel("catalog", "catalog_sales", "cs_item_sk",
                   "cs_sold_date_sk", "cs_ext_sales_price")
    + "\n  UNION ALL"
    + _q14_channel("web", "web_sales", "ws_item_sk",
                   "ws_sold_date_sk", "ws_ext_sales_price")
    + """) y
GROUP BY channel, i_brand_id, i_category_id
HAVING SUM(sales_cents) > 5 * (SELECT average_sales FROM avg_sales)
ORDER BY channel, i_brand_id, i_category_id
LIMIT 100"""
)

# ref: perf/query24.q — store sales chained to their returns and the
# customer's address, with a scalar 5%-of-average HAVING threshold
# (the ssales CTE consumed twice)
_Q24 = f"""
WITH ssales AS (
  SELECT c_customer_sk AS customer_sk, ca_city,
         SUM({_cents("ss_sales_price")}) AS netpaid
  FROM store_sales, store_returns, customer_ds, customer_address
  WHERE ss_ticket_number = sr_ticket_number
    AND ss_item_sk = sr_item_sk
    AND ss_customer_sk = c_customer_sk
    AND c_current_addr_sk = ca_address_sk
  GROUP BY c_customer_sk, ca_city)
SELECT customer_sk, ca_city, CAST(netpaid AS DOUBLE) / 100 AS paid
FROM ssales
WHERE netpaid > (SELECT 0.05 * AVG(netpaid) FROM ssales)
ORDER BY customer_sk, ca_city
LIMIT 100"""

# ref: perf/query44.q — best and worst items by average profit, the two
# rank windows joined back to item twice on equal rank
_Q44 = f"""
WITH v AS (
  SELECT ss_item_sk AS item_sk,
         AVG({_cents("ss_net_profit")}) AS avg_profit
  FROM store_sales WHERE ss_store_sk = 2
  GROUP BY ss_item_sk),
ranked AS (
  SELECT item_sk,
         CAST(RANK() OVER (ORDER BY avg_profit DESC, item_sk) AS INT)
           AS best_rk,
         CAST(RANK() OVER (ORDER BY avg_profit ASC, item_sk) AS INT)
           AS worst_rk
  FROM v)
SELECT b.best_rk AS rnk,
       i1.i_item_desc AS best_performing,
       i2.i_item_desc AS worst_performing
FROM ranked b, ranked w, item i1, item i2
WHERE b.best_rk <= 10 AND w.worst_rk <= 10 AND b.best_rk = w.worst_rk
  AND i1.i_item_sk = b.item_sk AND i2.i_item_sk = w.item_sk
ORDER BY rnk"""

# ref: perf/query67.q — full hierarchy ROLLUP with a rank window over
# each category partition (NULL rollup rows rank in their own NULL
# partition); explicit NULLS FIRST on every tiebreak so both engines
# order rollup NULLs identically inside rank
_Q67 = f"""
WITH results AS (
  SELECT i_category, i_class, i_brand, d_year, d_moy,
         SUM({_cents("ss_ext_sales_price")}) AS sumsales
  FROM store_sales, date_dim, item
  WHERE ss_sold_date_sk = d_date_sk AND ss_item_sk = i_item_sk
    AND d_year IN (1996, 1997)
  GROUP BY ROLLUP (i_category, i_class, i_brand, d_year, d_moy))
SELECT i_category, i_class, i_brand, d_year, d_moy,
       CAST(sumsales AS DOUBLE) / 100 AS sumsales,
       rk
FROM (SELECT *,
             CAST(RANK() OVER (
               PARTITION BY i_category
               ORDER BY sumsales DESC,
                        i_class ASC NULLS FIRST,
                        i_brand ASC NULLS FIRST,
                        d_year ASC NULLS FIRST,
                        d_moy ASC NULLS FIRST) AS INT) AS rk
      FROM results) ranked
WHERE rk <= 5
ORDER BY i_category, rk
LIMIT 100"""

# ref: perf/query70.q — profit ROLLUP over the store geography, gated
# by a ranked IN-subquery selecting the top-5 counties
_Q70 = f"""
SELECT CAST(SUM({_cents("ss_net_profit")}) AS DOUBLE) / 100
         AS total_profit,
       s_county, s_city,
       CAST(GROUPING(s_county) + GROUPING(s_city) AS INT)
         AS lochierarchy
FROM store_sales, date_dim, store
WHERE d_year = 1996 AND d_date_sk = ss_sold_date_sk
  AND s_store_sk = ss_store_sk
  AND s_county IN
      (SELECT s_county FROM (
         SELECT s_county,
                RANK() OVER (ORDER BY
                  SUM({_cents("ss_net_profit")}) DESC, s_county) AS r
         FROM store_sales, store, date_dim
         WHERE d_year = 1996 AND d_date_sk = ss_sold_date_sk
           AND s_store_sk = ss_store_sk
         GROUP BY s_county) t
       WHERE r <= 5)
GROUP BY ROLLUP (s_county, s_city)"""

_BODIES = {
    "tpcds_q2_weekly_ratio": _Q2,
    "tpcds_q14_cross_channel_items": _Q14,
    "tpcds_q24_returned_paid": _Q24,
    "tpcds_q44_best_worst": _Q44,
    "tpcds_q67_rollup_rank": _Q67,
    "tpcds_q70_ranked_rollup": _Q70,
    "tpcds_q4_three_channel_growth": _Q4,
    "tpcds_q17_quantity_stats": _Q17,
    "tpcds_q33_manufact_union": _Q33,
    "tpcds_q39_inventory_cov": _Q39,
    "tpcds_q40_net_before_after": _Q40,
    "tpcds_q45_zip_or_items": _Q45,
    "tpcds_q64_resale_chain": _Q64,
    "tpcds_q69_exists_anti": _Q69,
    "tpcds_q76_channel_counts": _Q76,
    "tpcds_q78_unreturned_ratio": _Q78,
    "tpcds_q84_income_band_chain": _Q84,
    "tpcds_q85_returns_demo_bands": _Q85,
    "tpcds_q95_both_exists": _Q95,
}


def _mk(body: str):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        _register_star(spark, sf_dir)
        return spark.sql(body)

    return fn


REGISTRY: dict[str, QuerySpec] = {
    name: QuerySpec(_mk(body), _oracle(body)) for name, body in _BODIES.items()
}


# r10 (VERDICT r9 #8): each channel leg filters through date_dim on
# d_year IN (1996, 1997) — with d_date_sk = yyyyMMdd over the fixed
# 1992-1998 calendar that implies the closed-form fact-key range
# 19960101..19971231 (2 of 7 years). Injected into the SPARK CTE only,
# next to each date join; the join still enforces exact membership and
# the ORACLE keeps the uninjected _Q4 (hash match re-proves equivalence
# every round). With the date-clustered star layout the pushed range
# skips ~5/7 of each fact's row groups.
_Q4_SPARK = _Q4
for _dc in ("ss_sold_date_sk", "cs_sold_date_sk", "ws_sold_date_sk"):
    _marker = f"WHERE {_dc} = d_date_sk AND d_year IN (1996, 1997)"
    assert _Q4_SPARK.count(_marker) == 1, _marker
    _Q4_SPARK = _Q4_SPARK.replace(
        _marker, _marker + f"\n    AND {_dc} BETWEEN 19960101 AND 19971231"
    )


def _q4_spooled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q4 with year_total spooled by Hive's CTE rule (see the _Q4
    comment): one pass over each channel fact, six reads of the spool."""
    _register_star(spark, sf_dir)
    return spark.sql(spool_ctes(spark, _Q4_SPARK))


REGISTRY["tpcds_q4_three_channel_growth"] = QuerySpec(
    _q4_spooled, _oracle(_Q4)
)
