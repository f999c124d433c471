"""Event-stream analytics over the `events` table.

Hive has no stream-processing operators (SURVEY §2.10) — only a scalar
`tumbling_window` helper (ref: ql/src/java/org/apache/hadoop/hive/ql/udf/
generic/GenericUDFTumbledWindow.java, registered FunctionRegistry.java:649)
and Kafka-table reads. These queries cover that surface PLUS the Structured
Streaming semantics the north star requires, each expressed as a batch
DataFrame pipeline so it is DuckDB-oracle-checkable. The same window
expressions are reused by hive_spark/streaming/ with readStream +
watermark — identical plan shape in micro-batch mode.

Scale design: every query here is a single scan + one hash-aggregate
shuffle keyed on (window, dim) or (user, session) — no self-joins, no
driver-side state. Session windows use Spark's native `session_window`
(state-store-backed when streaming; sort-based grouping in batch).
Window starts are emitted as epoch millis (BIGINT) so Arrow tz handling
can never skew the oracle comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_spark.operators import QuerySpec, spool_sort, views

D4 = "decimal(18,4)"


def events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows per event_type (Hive's tumbling_window UDF
    → Spark F.window; ref FunctionRegistry.java:649)."""
    views(spark, sf_dir)
    df = spark.table("events")
    return (
        df.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast(D4)).alias("sum_value"),
        )
        .select(
            F.unix_millis(F.col("w.start").cast("timestamp")).alias("window_start"),
            "event_type",
            "n_events",
            F.col("sum_value").cast("decimal(28,4)").alias("sum_value"),
        )
        .orderBy("window_start", "event_type")
    )


_TUMBLING_SQL = """
SELECT epoch_ms(date_trunc('hour', ts)) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(28,4)) AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
"""


def events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows: 1 h length, 30 min slide — every event lands in
    exactly two windows. Spark's window() generates both copies in the
    project before the single hash-agg shuffle."""
    views(spark, sf_dir)
    df = spark.table("events")
    return (
        df.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast(D4)).alias("sum_value"),
        )
        .select(
            F.unix_millis(F.col("w.start").cast("timestamp")).alias("window_start"),
            "n_events",
            F.col("sum_value").cast("decimal(28,4)").alias("sum_value"),
        )
        .orderBy("window_start")
    )


# An event at epoch-second t (with fractional micros) belongs to the two
# slide-aligned windows starting at floor(t/1800)*1800 and that minus 1800.
_SLIDING_SQL = """
SELECT (CAST(floor(epoch(ts) / 1800) AS BIGINT) - g.k) * 1800000 AS window_start,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(28,4)) AS sum_value
FROM events CROSS JOIN (VALUES (0), (1)) g(k)
GROUP BY 1
ORDER BY 1
"""


def events_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows, 30-minute inactivity gap — Spark native
    `session_window` (the streaming-state operator, exercised in batch)."""
    views(spark, sf_dir)
    df = spark.table("events")
    # r10 (VERDICT r9 #3, guide §1.2/§3.3): the bare ORDER BY's range
    # sampler re-executed the sort-based MergingSessions aggregate (the
    # expensive reduce side; the event shuffle below is reused). Spooling
    # the finished session rows via a lazy localCheckpoint halves the
    # query: interleaved best-of-5 at the sf1 tier 1.34 -> 0.70s, rows
    # identical in order. (The structural alternatives are measured and
    # rejected: gaps-and-islands 2.63 vs 1.57s, raw-row repartition
    # loses, and pre-aggregation by (user, 30-min bucket) collapses only
    # 1.02:1 on this corpus —
    # `git show ebbee1c:bench_artifacts/events_density_r10.md`.)
    out = (
        df.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast(D4)).alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_millis(F.col("w.start").cast("timestamp")).alias("session_start"),
            "n_events",
            F.col("sum_value").cast("decimal(28,4)").alias("sum_value"),
        )
    )
    return spool_sort(out, "user_id", "session_start")


# Gaps-and-islands: a new session starts when the gap from the previous
# event is >= 30 min (Spark session interval is half-open [start, last+gap)).
_SESSION_SQL = """
WITH o AS (
    SELECT user_id, ts, value,
           CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     < INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS brk
    FROM events
),
g AS (
    SELECT user_id, ts, value,
           SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
    FROM o
)
SELECT user_id,
       epoch_ms(MIN(ts)) AS session_start,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(28,4)) AS sum_value
FROM g
GROUP BY user_id, sid
ORDER BY user_id, session_start
"""


def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction (Hive get_json_object, ref ql/.../udf/
    UDFJson.java; json_tuple UDTF GenericUDTFJSONTuple.java) aggregated
    per event_type."""
    views(spark, sf_dir)
    return spark.sql(
        """
        SELECT event_type,
               COUNT(*) AS n,
               SUM(CAST(get_json_object(props, '$.k') AS BIGINT)) AS sum_k,
               MIN(CAST(get_json_object(props, '$.k') AS BIGINT)) AS min_k,
               MAX(CAST(get_json_object(props, '$.k') AS BIGINT)) AS max_k
        FROM events
        GROUP BY event_type
        ORDER BY event_type
        """
    )


_JSON_SQL = """
SELECT event_type,
       COUNT(*) AS n,
       SUM(CAST(props->>'k' AS BIGINT)) AS sum_k,
       MIN(CAST(props->>'k' AS BIGINT)) AS min_k,
       MAX(CAST(props->>'k' AS BIGINT)) AS max_k
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def events_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-dedup analog in batch: keep each user's latest event per
    day (row_number over a deterministic order — the batch twin of
    `dropDuplicatesWithinWatermark`). One shuffle on (user_id, day)."""
    views(spark, sf_dir)
    return spark.sql(
        """
        SELECT user_id, day, event_id AS last_event_id, event_type,
               CAST(value AS DECIMAL(18,4)) AS value
        FROM (
            SELECT user_id, CAST(date_trunc('DAY', ts) AS DATE) AS day,
                   event_id, event_type, value,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id, CAST(date_trunc('DAY', ts) AS DATE)
                       ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        )
        WHERE rn = 1
        ORDER BY user_id, day
        """
    )


_DEDUP_LATEST_SQL = """
SELECT user_id, day, last_event_id, event_type,
       CAST(value AS DECIMAL(18,4)) AS value
FROM (
    SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
           event_id AS last_event_id, event_type, value,
           ROW_NUMBER() OVER (
               PARTITION BY user_id, CAST(date_trunc('day', ts) AS DATE)
               ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
)
WHERE rn = 1
ORDER BY user_id, day
"""


def events_user_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ordered-event funnel: first signup → first purchase
    conversion lag, via conditional min aggregation (one shuffle)."""
    views(spark, sf_dir)
    return spark.sql(
        """
        SELECT user_id,
               epoch_ms_signup, epoch_ms_purchase,
               CASE WHEN epoch_ms_purchase >= epoch_ms_signup
                    THEN epoch_ms_purchase - epoch_ms_signup END AS lag_ms
        FROM (
            SELECT user_id,
                   unix_millis(CAST(MIN(CASE WHEN event_type = 'signup' THEN ts END) AS TIMESTAMP))
                       AS epoch_ms_signup,
                   unix_millis(CAST(MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS TIMESTAMP))
                       AS epoch_ms_purchase
            FROM events
            GROUP BY user_id
        )
        WHERE epoch_ms_signup IS NOT NULL
        ORDER BY user_id
        """
    )


_FUNNEL_SQL = """
SELECT user_id,
       epoch_ms_signup, epoch_ms_purchase,
       CASE WHEN epoch_ms_purchase >= epoch_ms_signup
            THEN epoch_ms_purchase - epoch_ms_signup END AS lag_ms
FROM (
    SELECT user_id,
           epoch_ms(MIN(CASE WHEN event_type = 'signup' THEN ts END))
               AS epoch_ms_signup,
           epoch_ms(MIN(CASE WHEN event_type = 'purchase' THEN ts END))
               AS epoch_ms_purchase
    FROM events
    GROUP BY user_id
)
WHERE epoch_ms_signup IS NOT NULL
ORDER BY user_id
"""


def events_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup: hour, day, and month
    granularities in ONE pass via GROUPING SETS over pre-computed time
    buckets — the multi-resolution rollup a time-series store maintains,
    expressed as a single scan + one grouping-sets aggregate (Spark
    expands the sets map-side; no re-reads per granularity). Pair with
    plans.MaterializedViews.refresh_partitions for the continuous part."""
    views(spark, sf_dir)
    return spark.sql(
        """
        SELECT CASE WHEN grouping(h) = 0 THEN 'hour'
                    WHEN grouping(d) = 0 THEN 'day'
                    ELSE 'month' END AS grain,
               unix_millis(CAST(coalesce(h, d, m) AS TIMESTAMP)) AS bucket_ms,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(28,4)) AS sum_value
        FROM (
            SELECT value,
                   date_trunc('HOUR', ts) AS h,
                   date_trunc('DAY', ts) AS d,
                   date_trunc('MONTH', ts) AS m
            FROM events
        )
        GROUP BY GROUPING SETS ((h), (d), (m))
        ORDER BY grain, bucket_ms
        """
    )


_HYPERTABLE_SQL = """
SELECT grain, bucket_ms, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(28,4)) AS sum_value
FROM (
    SELECT 'hour' AS grain, epoch_ms(date_trunc('hour', ts)) AS bucket_ms, value FROM events
    UNION ALL
    SELECT 'day', epoch_ms(date_trunc('day', ts)), value FROM events
    UNION ALL
    SELECT 'month', epoch_ms(date_trunc('month', ts)), value FROM events
)
GROUP BY grain, bucket_ms
ORDER BY grain, bucket_ms
"""


REGISTRY: dict[str, QuerySpec] = {
    "events_hypertable_rollup": QuerySpec(events_hypertable_rollup, _HYPERTABLE_SQL),
    "events_tumbling": QuerySpec(events_tumbling, _TUMBLING_SQL),
    "events_sliding": QuerySpec(events_sliding, _SLIDING_SQL),
    "events_session": QuerySpec(events_session, _SESSION_SQL),
    "events_json_props": QuerySpec(events_json_props, _JSON_SQL),
    "events_dedup_latest": QuerySpec(events_dedup_latest, _DEDUP_LATEST_SQL),
    "events_user_funnel": QuerySpec(events_user_funnel, _FUNNEL_SQL),
}
