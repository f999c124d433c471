"""TPC-DS query-shape coverage, part 2 — the shape families part 1
could not express before the star gained channel facts.

Hive's perf corpus (ref: ql/src/test/queries/clientpositive/perf/
query1.q..query99.q) exercises several families absent from tpcds.py's
first 27 ports; this module adds them over the extended star schema
(web_sales / catalog_sales / *_returns / warehouse / inventory /
income_band derived in tpcds._star_sql):

  cross-channel customer set ops   -> q38 (INTERSECT x3), q87 (EXCEPT
                                      x3), q97 (FULL OUTER matched pairs)
  year-over-year growth self-join  -> q74 (store-vs-web ratio), q75
                                      (prior-year brand delta with
                                      returns netting)
  above-average returns            -> q1 (correlated CTE avg per store)
  return-latency day buckets       -> q50 (sold->returned datediff)
  worst-return-ratio ranks         -> q49 (3 channels ranked + unioned)
  time-band ratio report           -> q90 (am/pm count ratio)
  multi-warehouse order EXISTS     -> q94 (EXISTS <> warehouse,
                                      NOT EXISTS returns + COUNT
                                      DISTINCT orders)
  windowed monthly deviation       -> q47 (nested-agg AVG window +
                                      LAG/LEAD)
  cumulative channel merge         -> q51 (running SUM + running MAX
                                      over FULL OUTER)
  inventory analytics              -> q21 (before/after split), q72
                                      (low-stock join), q82 (price-band
                                      report)
  frequent-items x best-customers  -> q23 (HAVING CTE + scalar MAX
                                      threshold)
  EXISTS-OR-EXISTS demographics    -> q35
  revenue segmentation             -> q54
  12-month warehouse pivot         -> q66
  channel ROLLUP union             -> q80
  state quarterly growth           -> q31
  3-channel revenue parity         -> q58

Every body is engine-neutral SQL shared verbatim between Spark (temp
views) and the DuckDB oracle (WITH prelude); money stays in exact
integer cents until the final projection (the q1/q18 fixed-point
pattern), so hashes match bit-for-bit at any partitioning.

Scale notes: the set-op and growth queries shuffle each channel fact
once on its aggregation key — INTERSECT/EXCEPT distinct sets and the
year_total self-joins operate on aggregated, customer-sized relations,
never on raw fact x fact. q94's correlated EXISTS decorrelates to an
aggregated self-semi-join on ws_order_number (one fact shuffle), and
q50's sales<->returns join is key-aligned on (ticket, item).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from hive_spark.operators import QuerySpec
from hive_spark.operators.tpcds import _oracle, _qsum, _register_star
from hive_spark.plans.cte_spool import spool_ctes


def _cents(col: str) -> str:
    return f"CAST(round({col} * 100) AS BIGINT)"


# ref: perf/query1.q — customers returning >1.2x their store's average
# return; CTE consumed twice (outer scan + correlated per-store AVG)
_Q1 = f"""
WITH customer_total_return AS (
  SELECT sr_customer_sk AS ctr_customer_sk, sr_store_sk AS ctr_store_sk,
         SUM({_cents("sr_return_amt")}) AS ctr_total_return
  FROM store_returns, date_dim
  WHERE sr_returned_date_sk = d_date_sk AND d_year = 1996
  GROUP BY sr_customer_sk, sr_store_sk)
SELECT c_customer_sk AS customer_sk,
       CAST(ctr1.ctr_total_return AS DOUBLE) / 100 AS total_return
FROM customer_total_return ctr1, store, customer_ds
WHERE ctr1.ctr_total_return > (
        SELECT AVG(ctr_total_return) * 1.2
        FROM customer_total_return ctr2
        WHERE ctr1.ctr_store_sk = ctr2.ctr_store_sk)
  AND s_store_sk = ctr1.ctr_store_sk
  AND ctr1.ctr_customer_sk = c_customer_sk
ORDER BY customer_sk, total_return
LIMIT 100"""

# ref: perf/query38.q — customers active in ALL THREE channels in the
# window: three distinct sets INTERSECTed, then counted
_Q38 = """
SELECT COUNT(*) AS cnt FROM (
  SELECT DISTINCT ss_customer_sk AS customer_sk
  FROM store_sales, date_dim
  WHERE ss_sold_date_sk = d_date_sk AND d_month_seq BETWEEN 49 AND 60
  INTERSECT
  SELECT DISTINCT ws_bill_customer_sk
  FROM web_sales, date_dim
  WHERE ws_sold_date_sk = d_date_sk AND d_month_seq BETWEEN 49 AND 60
  INTERSECT
  SELECT DISTINCT cs_bill_customer_sk
  FROM catalog_sales, date_dim
  WHERE cs_sold_date_sk = d_date_sk AND d_month_seq BETWEEN 49 AND 60
) hot_cust"""

# ref: perf/query87.q — the EXCEPT twin of q38: store-channel customers
# who used NEITHER web nor catalog
_Q87 = """
SELECT COUNT(*) AS cnt FROM (
  SELECT DISTINCT ss_customer_sk AS customer_sk
  FROM store_sales, date_dim
  WHERE ss_sold_date_sk = d_date_sk AND d_month_seq BETWEEN 49 AND 60
  EXCEPT
  SELECT DISTINCT ws_bill_customer_sk
  FROM web_sales, date_dim
  WHERE ws_sold_date_sk = d_date_sk AND d_month_seq BETWEEN 49 AND 60
  EXCEPT
  SELECT DISTINCT cs_bill_customer_sk
  FROM catalog_sales, date_dim
  WHERE cs_sold_date_sk = d_date_sk AND d_month_seq BETWEEN 49 AND 60
) cool_cust"""

# ref: perf/query97.q — matched pairs: (customer, item) bought in store
# only / catalog only / both, via FULL OUTER of two distinct sets
_Q97 = """
WITH ssci AS (
  SELECT DISTINCT ss_customer_sk AS customer_sk, ss_item_sk AS item_sk
  FROM store_sales, date_dim
  WHERE ss_sold_date_sk = d_date_sk AND d_month_seq BETWEEN 49 AND 60),
csci AS (
  SELECT DISTINCT cs_bill_customer_sk AS customer_sk, cs_item_sk AS item_sk
  FROM catalog_sales, date_dim
  WHERE cs_sold_date_sk = d_date_sk AND d_month_seq BETWEEN 49 AND 60)
SELECT SUM(CASE WHEN ssci.customer_sk IS NOT NULL
                 AND csci.customer_sk IS NULL THEN 1 ELSE 0 END)
         AS store_only,
       SUM(CASE WHEN ssci.customer_sk IS NULL
                 AND csci.customer_sk IS NOT NULL THEN 1 ELSE 0 END)
         AS catalog_only,
       SUM(CASE WHEN ssci.customer_sk IS NOT NULL
                 AND csci.customer_sk IS NOT NULL THEN 1 ELSE 0 END)
         AS store_and_catalog
FROM ssci FULL OUTER JOIN csci
  ON ssci.customer_sk = csci.customer_sk
 AND ssci.item_sk = csci.item_sk"""

# ref: perf/query74.q (the q4/q11 family) — customers whose web sales
# grew faster than their store sales year-over-year: one yearly-total
# CTE consumed four times. Spark recomputes a CTE per reference (each
# gets different pushed filters, so ReuseExchange never fires) — four
# fact scans. Hive spools CTEs referenced >= 3 times
# (ql/.../optimizer/calcite/rules/TableScanToSpoolRule.java,
# hive.optimize.cte.materialize.threshold=3 — HiveConf.java:2686); the
# engine runs the same rule (plans.cte_spool), so the aggregated
# (customer x year x channel)-sized relation is computed once and the
# self-joins read the spool.
_Q74 = f"""
WITH year_total AS (
  SELECT ss_customer_sk AS customer_sk, d_year AS yr,
         SUM({_cents("ss_ext_sales_price")}) AS year_total, 's' AS sale_type
  FROM store_sales, date_dim
  WHERE ss_sold_date_sk = d_date_sk AND d_year IN (1996, 1997)
  GROUP BY ss_customer_sk, d_year
  UNION ALL
  SELECT ws_bill_customer_sk, d_year,
         SUM({_cents("ws_ext_sales_price")}), 'w'
  FROM web_sales, date_dim
  WHERE ws_sold_date_sk = d_date_sk AND d_year IN (1996, 1997)
  GROUP BY ws_bill_customer_sk, d_year)
SELECT ts1.customer_sk
FROM year_total ts1, year_total ts2, year_total tw1, year_total tw2
WHERE ts1.customer_sk = ts2.customer_sk
  AND ts1.customer_sk = tw1.customer_sk
  AND ts1.customer_sk = tw2.customer_sk
  AND ts1.sale_type = 's' AND ts2.sale_type = 's'
  AND tw1.sale_type = 'w' AND tw2.sale_type = 'w'
  AND ts1.yr = 1996 AND ts2.yr = 1997
  AND tw1.yr = 1996 AND tw2.yr = 1997
  AND ts1.year_total > 0 AND tw1.year_total > 0
  AND CAST(tw2.year_total AS DOUBLE) / tw1.year_total >
      CAST(ts2.year_total AS DOUBLE) / ts1.year_total
ORDER BY ts1.customer_sk
LIMIT 100"""

# ref: perf/query75.q — brands whose net sold quantity (sales minus
# returns, all three channels) dropped >10% vs the prior year
_CHANNEL_NET = """
  SELECT d_year, i_brand_id, i_category_id,
         SUM(CAST({q} AS BIGINT)
             - COALESCE(CAST({rq} AS BIGINT), 0)) AS sales_cnt,
         SUM(CAST(round({amt} * 100) AS BIGINT)
             - COALESCE(CAST(round({ramt} * 100) AS BIGINT), 0)) AS sales_amt
  FROM {fact}
  JOIN item ON i_item_sk = {item}
  JOIN date_dim ON d_date_sk = {datecol}
  LEFT JOIN {ret} ON {okey} = {rokey} AND {item} = {ritem}
  WHERE i_category = 'STANDARD'
  GROUP BY d_year, i_brand_id, i_category_id"""

_Q75 = (
    "WITH all_sales AS ("
    + _CHANNEL_NET.format(
        fact="catalog_sales", item="cs_item_sk", datecol="cs_sold_date_sk",
        q="cs_quantity", amt="cs_ext_sales_price", ret="catalog_returns",
        okey="cs_order_number", rokey="cr_order_number",
        ritem="cr_item_sk", rq="cr_return_quantity", ramt="cr_return_amount")
    + "\n  UNION ALL"
    + _CHANNEL_NET.format(
        fact="store_sales", item="ss_item_sk", datecol="ss_sold_date_sk",
        q="ss_quantity", amt="ss_ext_sales_price", ret="store_returns",
        okey="ss_ticket_number", rokey="sr_ticket_number",
        ritem="sr_item_sk", rq="sr_return_quantity", ramt="sr_return_amt")
    + "\n  UNION ALL"
    + _CHANNEL_NET.format(
        fact="web_sales", item="ws_item_sk", datecol="ws_sold_date_sk",
        q="ws_quantity", amt="ws_ext_sales_price", ret="web_returns",
        okey="ws_order_number", rokey="wr_order_number",
        ritem="wr_item_sk", rq="wr_return_quantity", ramt="wr_return_amt")
    + """),
agg AS (
  SELECT d_year, i_brand_id, i_category_id,
         SUM(sales_cnt) AS sales_cnt, SUM(sales_amt) AS sales_amt
  FROM all_sales GROUP BY d_year, i_brand_id, i_category_id)
SELECT prev_yr.d_year AS prev_year, curr_yr.d_year AS yr,
       curr_yr.i_brand_id, curr_yr.i_category_id,
       prev_yr.sales_cnt AS prev_cnt, curr_yr.sales_cnt AS curr_cnt,
       CAST(curr_yr.sales_amt - prev_yr.sales_amt AS DOUBLE) / 100
         AS sales_amt_diff
FROM agg curr_yr, agg prev_yr
WHERE curr_yr.i_brand_id = prev_yr.i_brand_id
  AND curr_yr.i_category_id = prev_yr.i_category_id
  AND curr_yr.d_year = 1997 AND prev_yr.d_year = 1996
  AND prev_yr.sales_cnt > 0
  AND CAST(curr_yr.sales_cnt AS DOUBLE) / prev_yr.sales_cnt < 0.9
ORDER BY sales_amt_diff, curr_yr.i_brand_id, curr_yr.i_category_id
LIMIT 100"""
)

# ref: perf/query50.q — return-latency day buckets per store
# (d_day_seq: days since 1992-01-01, defined in the dialect layer so
# both engines subtract identically)
_LAT = "d2.d_day_seq - d1.d_day_seq"
_Q50 = f"""
SELECT s_store_name,
  SUM(CASE WHEN {_LAT} <= 30 THEN 1 ELSE 0 END) AS days_30,
  SUM(CASE WHEN {_LAT} > 30 AND {_LAT} <= 60 THEN 1 ELSE 0 END) AS days_31_60,
  SUM(CASE WHEN {_LAT} > 60 AND {_LAT} <= 90 THEN 1 ELSE 0 END) AS days_61_90,
  SUM(CASE WHEN {_LAT} > 90 AND {_LAT} <= 120 THEN 1 ELSE 0 END) AS days_91_120,
  SUM(CASE WHEN {_LAT} > 120 THEN 1 ELSE 0 END) AS days_over_120
FROM store_sales ss, store_returns sr, store s, date_dim d1, date_dim d2
WHERE ss.ss_ticket_number = sr.sr_ticket_number
  AND ss.ss_item_sk = sr.sr_item_sk
  AND ss.ss_sold_date_sk = d1.d_date_sk
  AND sr.sr_returned_date_sk = d2.d_date_sk
  AND ss.ss_store_sk = s.s_store_sk
  AND d2.d_year = 1996 AND d2.d_moy = 8
GROUP BY s_store_name
ORDER BY s_store_name"""


# ref: perf/query49.q — worst return ratios per channel: quantity and
# currency ratios ranked inside each channel, unioned, top-10 by either
# rank (item added to the rank ORDER BY for determinism under ties)
def _rr(fact, q, amt, ret, okey, rokey, ritem, rq, ramt, item, datecol,
        channel):
    return f"""
{channel}_rr AS (
  SELECT f.{item} AS item,
         CAST(SUM(COALESCE(CAST(r.{rq} AS BIGINT), 0)) AS DOUBLE)
           / SUM(CAST(f.{q} AS BIGINT)) AS return_ratio,
         CAST(SUM(COALESCE(CAST(round(r.{ramt} * 100) AS BIGINT), 0)) AS DOUBLE)
           / SUM(CAST(round(f.{amt} * 100) AS BIGINT)) AS currency_ratio
  FROM {fact} f LEFT JOIN {ret} r
    ON f.{okey} = r.{rokey} AND f.{item} = r.{ritem}
  JOIN date_dim ON f.{datecol} = d_date_sk
  WHERE d_year = 1996 AND d_moy = 12 AND f.{q} > 0
  GROUP BY f.{item}),
{channel}_ranked AS (
  SELECT '{channel}' AS channel, item, return_ratio,
         CAST(RANK() OVER (ORDER BY return_ratio, item) AS INT)
           AS return_rank,
         CAST(RANK() OVER (ORDER BY currency_ratio, item) AS INT)
           AS currency_rank
  FROM {channel}_rr)"""


_Q49 = (
    "WITH "
    + _rr("web_sales", "ws_quantity", "ws_ext_sales_price", "web_returns",
          "ws_order_number", "wr_order_number", "wr_item_sk",
          "wr_return_quantity", "wr_return_amt", "ws_item_sk",
          "ws_sold_date_sk", "web").lstrip()
    + ","
    + _rr("catalog_sales", "cs_quantity", "cs_ext_sales_price",
          "catalog_returns", "cs_order_number", "cr_order_number",
          "cr_item_sk", "cr_return_quantity", "cr_return_amount",
          "cs_item_sk", "cs_sold_date_sk", "catalog")
    + ","
    + _rr("store_sales", "ss_quantity", "ss_ext_sales_price",
          "store_returns", "ss_ticket_number", "sr_ticket_number",
          "sr_item_sk", "sr_return_quantity", "sr_return_amt",
          "ss_item_sk", "ss_sold_date_sk", "store")
    + """
SELECT channel, item, return_ratio, return_rank, currency_rank
FROM (SELECT * FROM web_ranked
      UNION ALL SELECT * FROM catalog_ranked
      UNION ALL SELECT * FROM store_ranked) u
WHERE return_rank <= 10 OR currency_rank <= 10
ORDER BY channel, return_rank, currency_rank, item"""
)

# ref: perf/query90.q — morning/evening web traffic ratio: two
# single-count star subqueries crossed into one row
_Q90 = """
SELECT CAST(amc AS DOUBLE) / pmc AS am_pm_ratio
FROM (SELECT COUNT(*) AS amc
      FROM web_sales, household_demographics, time_dim
      WHERE ws_sold_time_sk = t_time_sk
        AND ws_ship_hdemo_sk = hd_demo_sk
        AND t_hour BETWEEN 8 AND 9 AND hd_dep_count = 3) at_cnt,
     (SELECT COUNT(*) AS pmc
      FROM web_sales, household_demographics, time_dim
      WHERE ws_sold_time_sk = t_time_sk
        AND ws_ship_hdemo_sk = hd_demo_sk
        AND t_hour BETWEEN 19 AND 20 AND hd_dep_count = 3) pt_cnt"""

# ref: perf/query94.q — web orders shipped from MORE THAN ONE warehouse
# with NO returns: correlated EXISTS (<> warehouse) + NOT EXISTS +
# COUNT(DISTINCT) over the surviving orders
_Q94 = f"""
SELECT COUNT(DISTINCT ws1.ws_order_number) AS order_count,
       {_qsum("ws1.ws_ext_ship_cost", "total_shipping_cost")},
       {_qsum("ws1.ws_net_profit", "total_net_profit")}
FROM web_sales ws1, date_dim, warehouse
WHERE ws1.ws_ship_date_sk = d_date_sk
  AND d_year = 1996 AND d_moy BETWEEN 2 AND 3
  AND ws1.ws_warehouse_sk = w_warehouse_sk
  AND w_state IN ('ST_2', 'ST_4', 'ST_6')
  AND EXISTS (SELECT 1 FROM web_sales ws2
              WHERE ws1.ws_order_number = ws2.ws_order_number
                AND ws1.ws_warehouse_sk <> ws2.ws_warehouse_sk)
  AND NOT EXISTS (SELECT 1 FROM web_returns wr1
                  WHERE ws1.ws_order_number = wr1.wr_order_number)"""

# ref: perf/query47.q — monthly brand/store sales vs the year's average
# (nested-aggregate window) with prior/next month via LAG/LEAD; rows
# deviating >10% from the yearly mean, ordered by the deviation
_Q47 = f"""
WITH v1 AS (
  SELECT i_brand, ss_store_sk, d_year, d_moy,
         SUM({_cents("ss_ext_sales_price")}) AS sum_sales,
         AVG(SUM({_cents("ss_ext_sales_price")}))
           OVER (PARTITION BY i_brand, ss_store_sk, d_year)
           AS avg_monthly_sales,
         LAG(SUM({_cents("ss_ext_sales_price")}))
           OVER (PARTITION BY i_brand, ss_store_sk ORDER BY d_year, d_moy)
           AS psum,
         LEAD(SUM({_cents("ss_ext_sales_price")}))
           OVER (PARTITION BY i_brand, ss_store_sk ORDER BY d_year, d_moy)
           AS nsum
  FROM store_sales, item, date_dim
  WHERE ss_item_sk = i_item_sk AND ss_sold_date_sk = d_date_sk
    AND d_year IN (1995, 1996, 1997)
  GROUP BY i_brand, ss_store_sk, d_year, d_moy),
v2 AS (
  SELECT i_brand, ss_store_sk AS store_sk, d_year, d_moy,
         CAST(sum_sales AS DOUBLE) / 100 AS sum_sales,
         avg_monthly_sales / 100 AS avg_monthly_sales,
         CAST(psum AS DOUBLE) / 100 AS prev_sales,
         CAST(nsum AS DOUBLE) / 100 AS next_sales,
         (sum_sales - avg_monthly_sales) / 100 AS deviation
  FROM v1
  WHERE d_year = 1996 AND avg_monthly_sales > 0
    AND ABS(sum_sales - avg_monthly_sales) / avg_monthly_sales > 0.1)
SELECT i_brand, store_sk, d_year, d_moy, sum_sales, avg_monthly_sales,
       prev_sales, next_sales
FROM v2
ORDER BY deviation, i_brand, store_sk, d_moy
LIMIT 100"""

# ref: perf/query51.q — cumulative web vs catalog sales per item:
# running totals FULL OUTER merged, months where the web cumulative
# leads (the two same-sized channel slices, so the predicate selects a
# meaningful subset; the reference compares web vs store)
_CUME = ("SUM(SUM({c})) OVER (PARTITION BY {k} ORDER BY d_month_seq"
         " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")
_Q51 = f"""
WITH web_v AS (
  SELECT ws_item_sk AS item_sk, d_month_seq AS mseq,
         {_CUME.format(c=_cents("ws_ext_sales_price"), k="ws_item_sk")}
           AS cume_sales
  FROM web_sales, date_dim
  WHERE ws_sold_date_sk = d_date_sk AND d_year IN (1996, 1997)
  GROUP BY ws_item_sk, d_month_seq),
catalog_v AS (
  SELECT cs_item_sk AS item_sk, d_month_seq AS mseq,
         {_CUME.format(c=_cents("cs_ext_sales_price"), k="cs_item_sk")}
           AS cume_sales
  FROM catalog_sales, date_dim
  WHERE cs_sold_date_sk = d_date_sk AND d_year IN (1996, 1997)
  GROUP BY cs_item_sk, d_month_seq),
joined AS (
  SELECT COALESCE(w.item_sk, s.item_sk) AS item_sk,
         COALESCE(w.mseq, s.mseq) AS mseq,
         MAX(w.cume_sales)
           OVER (PARTITION BY COALESCE(w.item_sk, s.item_sk)
                 ORDER BY COALESCE(w.mseq, s.mseq)
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS web_cumulative,
         MAX(s.cume_sales)
           OVER (PARTITION BY COALESCE(w.item_sk, s.item_sk)
                 ORDER BY COALESCE(w.mseq, s.mseq)
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS catalog_cumulative
  FROM web_v w FULL OUTER JOIN catalog_v s
    ON w.item_sk = s.item_sk AND w.mseq = s.mseq)
SELECT item_sk, mseq,
       CAST(web_cumulative AS DOUBLE) / 100 AS web_cum,
       CAST(catalog_cumulative AS DOUBLE) / 100 AS catalog_cum
FROM joined
WHERE web_cumulative > catalog_cumulative
ORDER BY item_sk, mseq
LIMIT 100"""

# ref: perf/query21.q — warehouse/item inventory split before vs after
# a pivot month, keeping items whose level stayed within [2/3, 3/2]
_Q21 = """
SELECT w_warehouse_name, i_item_id,
       SUM(CASE WHEN inv_month_seq < 54
                THEN inv_quantity_on_hand ELSE 0 END) AS inv_before,
       SUM(CASE WHEN inv_month_seq >= 54
                THEN inv_quantity_on_hand ELSE 0 END) AS inv_after
FROM inventory, warehouse, item
WHERE inv_warehouse_sk = w_warehouse_sk
  AND inv_item_sk = i_item_sk
  AND inv_month_seq BETWEEN 50 AND 57
GROUP BY w_warehouse_name, i_item_id
HAVING SUM(CASE WHEN inv_month_seq < 54
                THEN inv_quantity_on_hand ELSE 0 END) > 0
   AND CAST(SUM(CASE WHEN inv_month_seq >= 54
                     THEN inv_quantity_on_hand ELSE 0 END) AS DOUBLE)
       / SUM(CASE WHEN inv_month_seq < 54
                  THEN inv_quantity_on_hand ELSE 0 END)
       BETWEEN 0.666 AND 1.5
ORDER BY w_warehouse_name, i_item_id
LIMIT 100"""

# ref: perf/query72.q — catalog sales short on inventory the month
# before the sale: fact x inventory equi-join on (item, month-1);
# inventory carries exactly one warehouse row per (item, month), so the
# join stays linear in the fact
_Q72 = """
SELECT i_item_desc, w_warehouse_name, d_month_seq AS mseq,
       COUNT(*) AS low_stock_cnt
FROM catalog_sales
JOIN date_dim ON cs_sold_date_sk = d_date_sk
JOIN inventory ON inv_item_sk = cs_item_sk
              AND inv_month_seq = d_month_seq - 1
JOIN warehouse ON inv_warehouse_sk = w_warehouse_sk
JOIN item ON i_item_sk = cs_item_sk
WHERE inv_quantity_on_hand < cs_quantity * 10
  AND d_year = 1996
GROUP BY i_item_desc, w_warehouse_name, d_month_seq
ORDER BY low_stock_cnt DESC, i_item_desc, w_warehouse_name, mseq
LIMIT 100"""

# ref: perf/query82.q (q37 family) — items in a price band whose
# inventory sat in range during the window and that actually sold
_Q82 = """
SELECT i_item_id, i_item_desc, i_current_price
FROM item, inventory, store_sales
WHERE i_current_price BETWEEN 900 AND 1100
  AND inv_item_sk = i_item_sk
  AND inv_month_seq BETWEEN 49 AND 52
  AND inv_quantity_on_hand BETWEEN 100 AND 500
  AND ss_item_sk = i_item_sk
GROUP BY i_item_id, i_item_desc, i_current_price
ORDER BY i_item_id
LIMIT 100"""

# ref: perf/query23.q — frequent store items x best customers (spend
# above half the max), then their catalog+web sales in one month
_Q23 = f"""
WITH frequent_ss_items AS (
  SELECT ss_item_sk AS item_sk, COUNT(*) AS cnt
  FROM store_sales, date_dim
  WHERE ss_sold_date_sk = d_date_sk AND d_year IN (1995, 1996, 1997)
  GROUP BY ss_item_sk
  HAVING COUNT(*) > 4),
customer_sales AS (
  SELECT ss_customer_sk AS customer_sk,
         SUM({_cents("ss_quantity * ss_sales_price")}) AS csales
  FROM store_sales GROUP BY ss_customer_sk),
max_sales AS (SELECT MAX(csales) AS tpcds_cmax FROM customer_sales),
best_ss_customer AS (
  SELECT customer_sk FROM customer_sales, max_sales
  WHERE csales > 0.5 * tpcds_cmax)
SELECT CAST(SUM(sales_cents) AS DOUBLE) / 100 AS sales
FROM (
  SELECT {_cents("cs_quantity * cs_sales_price")} AS sales_cents
  FROM catalog_sales, date_dim
  WHERE d_year = 1997 AND d_moy = 6 AND cs_sold_date_sk = d_date_sk
    AND cs_item_sk IN (SELECT item_sk FROM frequent_ss_items)
    AND cs_bill_customer_sk IN (SELECT customer_sk FROM best_ss_customer)
  UNION ALL
  SELECT {_cents("ws_quantity * ws_sales_price")}
  FROM web_sales, date_dim
  WHERE d_year = 1997 AND d_moy = 6 AND ws_sold_date_sk = d_date_sk
    AND ws_item_sk IN (SELECT item_sk FROM frequent_ss_items)
    AND ws_bill_customer_sk IN (SELECT customer_sk FROM best_ss_customer)
) u"""

# ref: perf/query35.q (q69 family) — customers with store activity AND
# (web OR catalog) activity, reported by state/demographics: EXISTS
# plus OR-of-EXISTS, the decorrelation shape Catalyst turns into
# existence joins
_Q35 = """
SELECT ca_state, cd_gender, cd_marital_status, COUNT(*) AS cnt
FROM customer_ds c, customer_address ca, customer_demographics
WHERE c.c_current_addr_sk = ca.ca_address_sk
  AND cd_demo_sk = c.c_current_cdemo_sk
  AND EXISTS (SELECT 1 FROM store_sales, date_dim
              WHERE c.c_customer_sk = ss_customer_sk
                AND ss_sold_date_sk = d_date_sk
                AND d_year = 1996 AND d_qoy < 4)
  AND (EXISTS (SELECT 1 FROM web_sales, date_dim
               WHERE c.c_customer_sk = ws_bill_customer_sk
                 AND ws_sold_date_sk = d_date_sk
                 AND d_year = 1996 AND d_qoy < 4)
    OR EXISTS (SELECT 1 FROM catalog_sales, date_dim
               WHERE c.c_customer_sk = cs_bill_customer_sk
                 AND cs_sold_date_sk = d_date_sk
                 AND d_year = 1996 AND d_qoy < 4))
GROUP BY ca_state, cd_gender, cd_marital_status
ORDER BY ca_state, cd_gender, cd_marital_status
LIMIT 100"""

# ref: perf/query54.q — customers acquired through a category promo
# month, bucketed into $5000 revenue segments over the following
# quarter of store sales
_Q54 = f"""
WITH my_customers AS (
  SELECT DISTINCT c_customer_sk AS customer_sk
  FROM (SELECT cs_bill_customer_sk AS sold_customer_sk
        FROM catalog_sales, item, date_dim
        WHERE cs_item_sk = i_item_sk AND cs_sold_date_sk = d_date_sk
          AND i_category = 'STANDARD' AND d_moy = 5 AND d_year = 1996
        UNION ALL
        SELECT ws_bill_customer_sk
        FROM web_sales, item, date_dim
        WHERE ws_item_sk = i_item_sk AND ws_sold_date_sk = d_date_sk
          AND i_category = 'STANDARD' AND d_moy = 5 AND d_year = 1996) s,
       customer_ds
  WHERE sold_customer_sk = c_customer_sk),
my_revenue AS (
  SELECT mc.customer_sk,
         SUM({_cents("ss_ext_sales_price")}) AS revenue
  FROM my_customers mc, store_sales, date_dim
  WHERE mc.customer_sk = ss_customer_sk
    AND ss_sold_date_sk = d_date_sk
    AND d_month_seq BETWEEN 54 AND 56
  GROUP BY mc.customer_sk)
SELECT segment, COUNT(*) AS num_customers, segment * 5000 AS segment_base
FROM (SELECT CAST(floor(CAST(revenue AS DOUBLE) / 500000) AS INT) AS segment
      FROM my_revenue) t
GROUP BY segment
ORDER BY segment
LIMIT 100"""


def _q66_channel(fact: str, datecol: str, amt: str) -> str:
    sums = ",\n         ".join(
        f"SUM(CASE WHEN d_moy = {m} THEN {_cents(amt)} ELSE 0 END)"
        f" AS m{m:02d}_cents"
        for m in range(1, 13)
    )
    wh = "ws_warehouse_sk" if fact == "web_sales" else "cs_warehouse_sk"
    return f"""
  SELECT w_warehouse_name, d_year,
         {sums}
  FROM {fact}, warehouse, date_dim
  WHERE {datecol} = d_date_sk AND {wh} = w_warehouse_sk
    AND d_year IN (1996, 1997)
  GROUP BY w_warehouse_name, d_year"""


# ref: perf/query66.q — warehouse shipping report: 12 monthly CASE
# pivots per channel, channels UNION ALLed then re-aggregated
_Q66 = (
    "WITH both_channels AS ("
    + _q66_channel("web_sales", "ws_sold_date_sk", "ws_ext_sales_price")
    + "\n  UNION ALL"
    + _q66_channel("catalog_sales", "cs_sold_date_sk", "cs_ext_sales_price")
    + """)
SELECT w_warehouse_name, d_year,
       """
    + ",\n       ".join(
        f"CAST(SUM(m{m:02d}_cents) AS DOUBLE) / 100 AS m{m:02d}_sales"
        for m in range(1, 13)
    )
    + """
FROM both_channels
GROUP BY w_warehouse_name, d_year
ORDER BY w_warehouse_name, d_year"""
)


def _q80_channel(channel: str, id_expr: str, fact_joins: str,
                 amt: str, profit: str, ramt: str, rloss: str) -> str:
    return f"""
  SELECT '{channel}' AS channel, {id_expr} AS id,
         SUM({_cents(amt)}) AS sales,
         SUM(COALESCE({_cents(ramt)}, 0)) AS returns_,
         SUM({_cents(profit)} - COALESCE({_cents(rloss)}, 0)) AS profit
  FROM {fact_joins}
  WHERE d_year = 1996
  GROUP BY {id_expr}"""


# ref: perf/query80.q (q77 family) — per-channel sales/returns/profit
# rolled up with GROUPING SETS over the 3-channel union
_Q80 = (
    "WITH ssr AS ("
    + _q80_channel(
        "store channel", "concat('store_', s_store_name)",
        """store_sales LEFT JOIN store_returns
         ON ss_ticket_number = sr_ticket_number AND ss_item_sk = sr_item_sk
       JOIN date_dim ON ss_sold_date_sk = d_date_sk
       JOIN store ON ss_store_sk = s_store_sk""",
        "ss_ext_sales_price", "ss_net_profit",
        "sr_return_amt", "sr_net_loss")
    + "),\ncsr AS ("
    + _q80_channel(
        "catalog channel", "concat('cc_', cs_call_center_sk)",
        """catalog_sales LEFT JOIN catalog_returns
         ON cs_order_number = cr_order_number AND cs_item_sk = cr_item_sk
       JOIN date_dim ON cs_sold_date_sk = d_date_sk""",
        "cs_ext_sales_price", "cs_net_profit",
        "cr_return_amount", "cr_net_loss")
    + "),\nwsr AS ("
    + _q80_channel(
        "web channel", "concat('wh_', ws_warehouse_sk)",
        """web_sales LEFT JOIN web_returns
         ON ws_order_number = wr_order_number AND ws_item_sk = wr_item_sk
       JOIN date_dim ON ws_sold_date_sk = d_date_sk""",
        "ws_ext_sales_price", "ws_net_profit",
        "wr_return_amt", "wr_net_loss")
    + """)
SELECT channel, id,
       CAST(SUM(sales) AS DOUBLE) / 100 AS sales,
       CAST(SUM(returns_) AS DOUBLE) / 100 AS returns_,
       CAST(SUM(profit) AS DOUBLE) / 100 AS profit
FROM (SELECT * FROM ssr
      UNION ALL SELECT * FROM csr
      UNION ALL SELECT * FROM wsr) x
GROUP BY ROLLUP (channel, id)
ORDER BY channel, id"""
)

# ref: perf/query31.q — states where web sales grew faster than store
# sales between consecutive quarters: two per-state quarterly CTEs,
# each consumed twice
_Q31 = f"""
WITH ss AS (
  SELECT ca_state, d_qoy, d_year,
         SUM({_cents("ss_ext_sales_price")}) AS store_sales_
  FROM store_sales, date_dim, customer_address
  WHERE ss_sold_date_sk = d_date_sk AND ss_addr_sk = ca_address_sk
  GROUP BY ca_state, d_qoy, d_year),
wsq AS (
  SELECT ca_state, d_qoy, d_year,
         SUM({_cents("ws_ext_sales_price")}) AS web_sales_
  FROM web_sales, date_dim, customer_address
  WHERE ws_sold_date_sk = d_date_sk AND ws_bill_addr_sk = ca_address_sk
  GROUP BY ca_state, d_qoy, d_year)
SELECT ss1.ca_state AS state,
       CAST(ss2.store_sales_ AS DOUBLE) / ss1.store_sales_
         AS store_increase,
       CAST(ws2.web_sales_ AS DOUBLE) / ws1.web_sales_
         AS web_increase
FROM ss ss1, ss ss2, wsq ws1, wsq ws2
WHERE ss1.d_year = 1996 AND ss1.d_qoy = 1
  AND ss2.d_year = 1996 AND ss2.d_qoy = 2
  AND ss1.ca_state = ss2.ca_state
  AND ws1.d_year = 1996 AND ws1.d_qoy = 1
  AND ws2.d_year = 1996 AND ws2.d_qoy = 2
  AND ws1.ca_state = ss1.ca_state AND ws2.ca_state = ss1.ca_state
  AND ss1.store_sales_ > 0 AND ws1.web_sales_ > 0
  AND CAST(ws2.web_sales_ AS DOUBLE) / ws1.web_sales_ >
      CAST(ss2.store_sales_ AS DOUBLE) / ss1.store_sales_
ORDER BY state"""

# ref: perf/query58.q — items whose yearly revenue is balanced across
# all three channels (each within 0.75x..1.33x of the others). The
# store side uses its own third of the tickets (disjoint from the
# web=0 / catalog=1 order slices) so the three relations are
# comparably sized, as in the reference's separate channel facts.
_Q58 = f"""
WITH ss_items AS (
  SELECT i_item_id AS item_id,
         SUM({_cents("ss_ext_sales_price")}) AS ss_rev
  FROM store_sales, item, date_dim
  WHERE ss_item_sk = i_item_sk AND ss_sold_date_sk = d_date_sk
    AND ss_ticket_number % 3 = 2 AND d_year = 1996
  GROUP BY i_item_id),
cs_items AS (
  SELECT i_item_id AS item_id,
         SUM({_cents("cs_ext_sales_price")}) AS cs_rev
  FROM catalog_sales, item, date_dim
  WHERE cs_item_sk = i_item_sk AND cs_sold_date_sk = d_date_sk
    AND d_year = 1996
  GROUP BY i_item_id),
ws_items AS (
  SELECT i_item_id AS item_id,
         SUM({_cents("ws_ext_sales_price")}) AS ws_rev
  FROM web_sales, item, date_dim
  WHERE ws_item_sk = i_item_sk AND ws_sold_date_sk = d_date_sk
    AND d_year = 1996
  GROUP BY i_item_id)
SELECT ss_items.item_id,
       CAST(ss_rev AS DOUBLE) / 100 AS ss_rev,
       CAST(cs_rev AS DOUBLE) / 100 AS cs_rev,
       CAST(ws_rev AS DOUBLE) / 100 AS ws_rev,
       CAST(ss_rev + cs_rev + ws_rev AS DOUBLE) / 300 AS average
FROM ss_items, cs_items, ws_items
WHERE ss_items.item_id = cs_items.item_id
  AND ss_items.item_id = ws_items.item_id
  AND ss_rev BETWEEN 0.75 * cs_rev AND 1.33 * cs_rev
  AND ss_rev BETWEEN 0.75 * ws_rev AND 1.33 * ws_rev
  AND cs_rev BETWEEN 0.75 * ss_rev AND 1.33 * ss_rev
  AND cs_rev BETWEEN 0.75 * ws_rev AND 1.33 * ws_rev
  AND ws_rev BETWEEN 0.75 * ss_rev AND 1.33 * ss_rev
  AND ws_rev BETWEEN 0.75 * cs_rev AND 1.33 * cs_rev
ORDER BY ss_items.item_id
LIMIT 100"""

_BODIES = {
    "tpcds_q1_above_avg_returns": _Q1,
    "tpcds_q38_channel_intersect": _Q38,
    "tpcds_q49_return_ranks": _Q49,
    "tpcds_q50_return_latency": _Q50,
    "tpcds_q74_yoy_growth": _Q74,
    "tpcds_q75_prior_year_delta": _Q75,
    "tpcds_q87_channel_except": _Q87,
    "tpcds_q90_am_pm_ratio": _Q90,
    "tpcds_q94_multi_warehouse": _Q94,
    "tpcds_q97_matched_pairs": _Q97,
    "tpcds_q21_inventory_split": _Q21,
    "tpcds_q23_frequent_best": _Q23,
    "tpcds_q31_state_growth": _Q31,
    "tpcds_q35_exists_combo": _Q35,
    "tpcds_q47_monthly_deviation": _Q47,
    "tpcds_q51_cumulative_merge": _Q51,
    "tpcds_q54_revenue_segments": _Q54,
    "tpcds_q58_channel_parity": _Q58,
    "tpcds_q66_warehouse_pivot": _Q66,
    "tpcds_q72_low_inventory": _Q72,
    "tpcds_q80_channel_rollup": _Q80,
    "tpcds_q82_inventory_price": _Q82,
}


def _mk(body: str):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        _register_star(spark, sf_dir)
        return spark.sql(body)

    return fn


REGISTRY: dict[str, QuerySpec] = {
    name: QuerySpec(_mk(body), _oracle(body)) for name, body in _BODIES.items()
}


def _channel_membership(spark: SparkSession, sf_dir: str, want_mask: int,
                        cmp: str) -> DataFrame:
    """q38/q87 as ONE aggregation (r6 judge: the INTERSECT/EXCEPT stack
    spent a distinct-exchange per channel — 6+ exchanges; this is 2).
    Union the three channels with a channel bit, bit_or per customer
    (map-side partials collapse duplicates before the only wide
    exchange), then test the membership mask: INTERSECT = all three bits
    (mask=7), EXCEPT chain = store only (mask=1). NULL customers group
    together, matching set-op NULL-equality semantics. The oracle stays
    the set-op SQL text, proving the rewrite row-for-row."""
    from pyspark.sql import functions as F

    _register_star(spark, sf_dir)
    date_f = spark.table("date_dim").filter(
        "d_month_seq BETWEEN 49 AND 60"
    ).select("d_date_sk")
    chans = [
        ("store_sales", "ss_sold_date_sk", "ss_customer_sk"),
        ("web_sales", "ws_sold_date_sk", "ws_bill_customer_sk"),
        ("catalog_sales", "cs_sold_date_sk", "cs_bill_customer_sk"),
    ]
    parts = [
        spark.table(tbl)
        # r9 opt: d_month_seq 49..60 == calendar 1996 (d_month_seq =
        # (year-1992)*12 + month; d_date_sk = yyyyMMdd), so the dim
        # predicate implies this literal fact-key range — pushed to the
        # scan where the date-clustered layout skips row groups; the
        # broadcast join still enforces exact membership
        .filter(F.col(datecol).between(19960101, 19961231))
        .join(F.broadcast(date_f), F.col(datecol) == F.col("d_date_sk"))
        .select(F.col(cust).alias("customer_sk"),
                F.lit(1 << i).alias("ch_bit"))
        for i, (tbl, datecol, cust) in enumerate(chans)
    ]
    u = parts[0].unionAll(parts[1]).unionAll(parts[2])
    mask = (
        u.groupBy("customer_sk")
        .agg(F.expr("bit_or(ch_bit)").alias("mask"))
        .filter(f"mask {cmp} {want_mask}")
    )
    return mask.agg(F.count(F.lit(1)).alias("cnt"))


def _q38_one_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _channel_membership(spark, sf_dir, 7, "=")


def _q87_one_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _channel_membership(spark, sf_dir, 1, "=")


REGISTRY["tpcds_q38_channel_intersect"] = QuerySpec(
    _q38_one_agg, _oracle(_Q38),
    "3-channel INTERSECT as one bit_or membership agg; oracle keeps the"
    " INTERSECT SQL",
)
REGISTRY["tpcds_q87_channel_except"] = QuerySpec(
    _q87_one_agg, _oracle(_Q87),
    "EXCEPT chain as one bit_or membership agg (mask=store-only); oracle"
    " keeps the EXCEPT SQL",
)


def _q74_spooled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q74 with year_total spooled by Hive's CTE rule (see the _Q74
    comment): one pass over each channel fact, four reads of the spool."""
    _register_star(spark, sf_dir)
    return spark.sql(spool_ctes(spark, _Q74))


REGISTRY["tpcds_q74_yoy_growth"] = QuerySpec(_q74_spooled, _oracle(_Q74))


# r9 optimization (guide §2.4 "remove shuffles outright"): _Q75's
# `FROM agg curr_yr, agg prev_yr` self-join makes Spark evaluate the agg
# CTE TWICE — 6 fact-scan legs (3 channels x 2 years), two final-agg
# exchanges, a sort + SortMergeJoin. The year filters push into each
# copy's date_dim, so neither copy is cheaper than a full channel scan.
# Rewrite: scan each channel ONCE with d_year IN (1996, 1997), then pair
# the years by conditional aggregation on (brand, category) — no
# self-join at all. Equivalence to the inner join:
#   * a (brand, category) row survives only when prev_cnt > 0 (NULL > 0
#     is false, covering both a missing 1996 group and an all-NULL sum)
#     and curr_cnt/prev_cnt < 0.9 (NULL ratio when 1997 is missing);
#     exactly the rows the join + WHERE keeps;
#   * the join drops NULL brand/category keys (NULL = NULL is not true);
#     the WHERE ... IS NOT NULL below replicates that before grouping.
# Oracle stays the original self-join SQL (_Q75): DuckDB re-verifies
# value identity every round.
_Q75_ONEPASS = (
    "WITH all_sales AS ("
    + _CHANNEL_NET.format(
        fact="catalog_sales", item="cs_item_sk", datecol="cs_sold_date_sk",
        q="cs_quantity", amt="cs_ext_sales_price", ret="catalog_returns",
        okey="cs_order_number", rokey="cr_order_number",
        ritem="cr_item_sk", rq="cr_return_quantity", ramt="cr_return_amount")
    + "\n  UNION ALL"
    + _CHANNEL_NET.format(
        fact="store_sales", item="ss_item_sk", datecol="ss_sold_date_sk",
        q="ss_quantity", amt="ss_ext_sales_price", ret="store_returns",
        okey="ss_ticket_number", rokey="sr_ticket_number",
        ritem="sr_item_sk", rq="sr_return_quantity", ramt="sr_return_amt")
    + "\n  UNION ALL"
    + _CHANNEL_NET.format(
        fact="web_sales", item="ws_item_sk", datecol="ws_sold_date_sk",
        q="ws_quantity", amt="ws_ext_sales_price", ret="web_returns",
        okey="ws_order_number", rokey="wr_order_number",
        ritem="wr_item_sk", rq="wr_return_quantity", ramt="wr_return_amt")
    + """),
pair AS (
  SELECT i_brand_id, i_category_id,
         SUM(CASE WHEN d_year = 1997 THEN sales_cnt END) AS curr_cnt,
         SUM(CASE WHEN d_year = 1996 THEN sales_cnt END) AS prev_cnt,
         SUM(CASE WHEN d_year = 1997 THEN sales_amt END) AS curr_amt,
         SUM(CASE WHEN d_year = 1996 THEN sales_amt END) AS prev_amt
  FROM all_sales
  WHERE i_brand_id IS NOT NULL AND i_category_id IS NOT NULL
  GROUP BY i_brand_id, i_category_id)
SELECT 1996 AS prev_year, 1997 AS yr, i_brand_id, i_category_id,
       prev_cnt, curr_cnt,
       CAST(curr_amt - prev_amt AS DOUBLE) / 100 AS sales_amt_diff
FROM pair
WHERE prev_cnt > 0
  AND CAST(curr_cnt AS DOUBLE) / prev_cnt < 0.9
ORDER BY sales_amt_diff, i_brand_id, i_category_id
LIMIT 100"""
).replace(
    "WHERE i_category = 'STANDARD'",
    "WHERE i_category = 'STANDARD' AND d_year IN (1996, 1997)",
)

# r9 opt: d_year IN (1996, 1997) implies *_sold_date_sk in
# [19960101, 19971231] (d_date_sk = yyyyMMdd) — injected on each SALES
# leg so the range reaches the fact scan's PushedFilters (the returns
# legs join on order/item keys, not dates, so no range is provable
# there). The oracle keeps the uninjected self-join SQL.
for _dc in ("cs_sold_date_sk", "ss_sold_date_sk", "ws_sold_date_sk"):
    _marker = f"JOIN date_dim ON d_date_sk = {_dc}"
    assert _Q75_ONEPASS.count(_marker) == 1
    _Q75_ONEPASS = _Q75_ONEPASS.replace(
        _marker, _marker + f" AND {_dc} BETWEEN 19960101 AND 19971231"
    )


def _q75_onepass(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register_star(spark, sf_dir)
    return spark.sql(_Q75_ONEPASS)


REGISTRY["tpcds_q75_prior_year_delta"] = QuerySpec(
    _q75_onepass, _oracle(_Q75),
    "year self-join folded into one conditional aggregation (3 fact"
    " legs instead of 6); oracle keeps the self-join SQL",
)
