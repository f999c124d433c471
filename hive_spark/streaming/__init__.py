"""Structured Streaming surface over the `events` table.

Hive has NO stream processing (SURVEY §2.10) — only transactional ingest
(ref: streaming/src/java/org/apache/hive/streaming/HiveStreamingConnection
.java:107) and Kafka table reads with offset pushdown (ref: kafka-handler/
.../KafkaScanTrimmer.java). This module supplies the north-star streaming
surface with Spark primitives and composes with the DML layer for
exactly-once-style upserts:

- file-chunked micro-batch source (the parquet stand-in for a Kafka topic;
  swap `readStream.format("kafka")` in production — same downstream plan)
- tumbling-window aggregation with watermark (F.window)
- cross-batch exact dedup via dropDuplicatesWithinWatermark
- sessionization via session_window in update mode, upserted per
  micro-batch into a parquet table through foreachBatch + dml.merge_into —
  the Spark analog of Hive's streaming-ingest-into-ACID pattern.

Determinism for oracles: every pipeline runs Trigger.AvailableNow over a
fixed chunking, so the final state equals the batch computation of the
same expression — which is exactly what the DuckDB oracle checks.

Scale notes: state (window aggs, dedup keys, sessions) is partitioned by
key across executors by Spark's state store; watermark bounds state size.
The chunk count models micro-batches, not data volume — at 100 TB the same
plan reads a Kafka topic with thousands of partitions.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_spark.scratch import process_dir

_SCRATCH = process_dir("stream")

# ts is TIMESTAMP (ltz): watermarks reject TIMESTAMP_NTZ; under the UTC
# session the cast from the tables' NTZ values is epoch-preserving.
EVENTS_SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING"
)


def _chunked_source(
    spark: SparkSession, sf_dir: str, name: str, chunks: int = 6, duplicate: bool = False
) -> str:
    """Split events into N parquet chunk files so AvailableNow yields N
    micro-batches (maxFilesPerTrigger=1). `duplicate=True` writes every
    chunk twice — an at-least-once source for the dedup demo."""
    dst = os.path.join(_SCRATCH, f"{name}_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    from hive_spark.session import load_tables

    # load via the session layer so TIMESTAMP(NANOS) parquet is normalized
    # to TIMESTAMP_NTZ before chunks are written (the stream schema type)
    ev = load_tables(spark, sf_dir, ("events",))["events"].withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    # deterministic chunking by event_id range, roughly time-ordered so the
    # watermark advances monotonically like a real stream
    n = ev.count()
    per = max(1, n // chunks + 1)
    rows = ev.withColumn("_chunk", (F.col("event_id") / per).cast("int"))
    for i in range(chunks):
        part = rows.filter(F.col("_chunk") == i).drop("_chunk")
        part.coalesce(1).write.parquet(os.path.join(dst, f"c{i:03d}_a"))
        if duplicate:
            part.coalesce(1).write.parquet(os.path.join(dst, f"c{i:03d}_b"))
    # flatten: move part files up so the dir is one flat file-stream source
    flat = dst + "_flat"
    shutil.rmtree(flat, ignore_errors=True)
    os.makedirs(flat)
    # FileStreamSource orders files by modification time — sub-second copies
    # tie and arrive in arbitrary order, which turns in-order chunks into
    # late data. Stamp strictly increasing mtimes in chunk order.
    stamp = 1_000_000_000
    for sub in sorted(os.listdir(dst)):
        subdir = os.path.join(dst, sub)
        for f in os.listdir(subdir):
            if f.endswith(".parquet"):
                tgt = os.path.join(flat, f"{sub}.parquet")
                shutil.copy(os.path.join(subdir, f), tgt)
                os.utime(tgt, (stamp, stamp))
                stamp += 60
    shutil.rmtree(dst)
    return flat


def read_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )


def _run(query_builder, checkpoint: str):
    # Unique suffix per invocation: two sessions (e.g. pytest + a replica
    # sweep) sharing a fixed path rmtree each other's LIVE checkpoint —
    # the stream dies with "commits does not exist" mid-batch.
    checkpoint = f"{checkpoint}_{uuid.uuid4().hex[:8]}"
    shutil.rmtree(checkpoint, ignore_errors=True)
    try:
        q = query_builder(checkpoint)
        q.awaitTermination()
        return q
    finally:
        shutil.rmtree(checkpoint, ignore_errors=True)


def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-h window counts per event_type, complete mode — final
    memory-sink table equals the batch windowed aggregation."""
    src = _chunked_source(spark, sf_dir, "tum")
    agg = (
        read_stream(spark, src)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("sum_value"),
        )
    )
    _run(
        lambda cp: agg.writeStream.format("memory")
        .queryName("stream_tumbling")
        .outputMode("complete")
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start(),
        os.path.join(_SCRATCH, "cp_tum"),
    )
    return (
        spark.table("stream_tumbling")
        .select(
            F.unix_millis(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
            F.col("sum_value").cast("decimal(28,4)").alias("sum_value"),
        )
        .orderBy("window_start", "event_type")
    )


def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-h windows on a 30-min slide over the stream — each event
    feeds two windows; the window copies are generated in the project
    BEFORE the single stateful shuffle, so slide overlap costs map-side
    row duplication, not extra state passes. Complete-mode final table
    equals the batch sliding aggregation."""
    src = _chunked_source(spark, sf_dir, "sld")
    agg = (
        read_stream(spark, src)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("sum_value"),
        )
    )
    _run(
        lambda cp: agg.writeStream.format("memory")
        .queryName("stream_sliding")
        .outputMode("complete")
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start(),
        os.path.join(_SCRATCH, "cp_sld"),
    )
    return (
        spark.table("stream_sliding")
        .select(
            F.unix_millis(F.col("w.start").cast("timestamp")).alias("window_start"),
            "n_events",
            F.col("sum_value").cast("decimal(28,4)").alias("sum_value"),
        )
        .orderBy("window_start")
    )


def stream_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once from an at-least-once source: every chunk arrives twice;
    dropDuplicatesWithinWatermark(event_id) restores exact counts. Append
    sink to parquet, then the final table is aggregated."""
    src = _chunked_source(spark, sf_dir, "ddp", duplicate=True)
    out = os.path.join(_SCRATCH, f"ddp_out_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(out, ignore_errors=True)
    deduped = (
        read_stream(spark, src)
        .withWatermark("ts", "365 days")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    _run(
        lambda cp: deduped.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", cp)
        .outputMode("append")
        .trigger(availableNow=True)
        .start(),
        os.path.join(_SCRATCH, "cp_ddp"),
    )
    return (
        spark.read.parquet(out)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("decimal(28,4)").alias("sum_value"),
        )
        .orderBy("event_type")
    )


def _append_sentinels(spark: SparkSession, src: str) -> None:
    """Two far-future sentinel chunks (user_id < 0, event_type 'sentinel'):
    the first advances the watermark past every real event at its batch
    END; the second is the batch in which that new watermark actually
    evicts+emits remaining state (emission happens one batch after
    advancement — AvailableNow does not run a trailing no-data batch).
    Consumers filter sentinels out of results (user_id >= 0)."""
    for i, when in enumerate(["2100-01-01 00:00:00", "2100-06-01 00:00:00"]):
        sentinel = spark.createDataFrame(
            [(int(-1 - i), when, int(-1 - i), "sentinel", 0.0, "{}")],
            "event_id bigint, ts string, user_id bigint, event_type string, "
            "value double, props string",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        sdir = os.path.join(src, f"_zs{i}")
        sentinel.coalesce(1).write.parquet(sdir)
        for f in os.listdir(sdir):
            if f.endswith(".parquet"):
                tgt = os.path.join(src, f"zzz_sentinel{i}.parquet")
                shutil.copy(os.path.join(sdir, f), tgt)
                os.utime(tgt, (2_000_000_000 + i * 60, 2_000_000_000 + i * 60))
        shutil.rmtree(sdir)


def stream_stream_left_join_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join: every click emits —
    matched pairs eagerly, unmatched clicks null-padded only once the
    global watermark passes click_ts + the join window (that is when
    "no purchase can still arrive" becomes provable; ref Spark SS outer
    join semantics). Sentinel chunks push the final watermark past all
    real data so the bounded run flushes every unmatched click, making
    the result equal the batch LEFT JOIN — which is the oracle.

    Scale: state shards by user_id; the 30-min range condition bounds
    both sides' state exactly as in the inner variant. Hive has no
    analog (SURVEY §2.10)."""
    src = _chunked_source(spark, sf_dir, "s2jl")
    _append_sentinels(spark, src)
    out = os.path.join(_SCRATCH, f"s2jl_out_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(out, ignore_errors=True)
    # sentinels pass BOTH filters so BOTH sides' watermarks advance (the
    # global watermark is the min across inputs); their user_ids are
    # negative and distinct per side-role, so they never match real rows
    clicks = (
        read_stream(spark, src)
        .filter(F.col("event_type").isin("click", "sentinel"))
        .select(
            "user_id",
            F.col("ts").alias("click_ts"),
            F.unix_micros(F.col("ts")).alias("c_us"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    buys = (
        read_stream(spark, src)
        .filter(F.col("event_type").isin("purchase", "sentinel"))
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.unix_micros(F.col("ts")).alias("p_us"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    pairs = clicks.join(
        buys,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
        "leftOuter",
    ).select(
        "user_id",
        "c_us",
        F.expr("(p_us - c_us) div 1000").alias("ms_to_purchase"),
    )
    _run(
        lambda cp: pairs.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", cp)
        .outputMode("append")
        .trigger(availableNow=True)
        .start(),
        os.path.join(_SCRATCH, "cp_s2jl"),
    )
    return (
        spark.read.parquet(out)
        .filter(F.col("user_id") >= 0)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("ms_to_purchase").alias("n_matched"),
            F.min("ms_to_purchase").alias("min_ms"),
            F.max("ms_to_purchase").alias("max_ms"),
        )
        .orderBy("user_id")
    )


def stream_stream_join_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with an event-time range condition: click
    events join purchase events of the same user that land within 30
    minutes. Both sides are watermarked and the range condition is on the
    event-time columns, so Spark bounds the join state (a click's state is
    droppable once the purchase-side watermark passes click_ts + 30 min);
    matches emit eagerly in append mode. Hive has no analog — this is the
    north-star capability a Kafka-fed funnel analysis needs, and at 100 TB
    the state store shards by user_id across executors.

    Cross-engine exactness: timestamps are µs-precision on the Spark side
    (session layer floors ns -> µs), so the oracle compares epoch_us
    values, not raw ns timestamps."""
    src = _chunked_source(spark, sf_dir, "s2j")
    out = os.path.join(_SCRATCH, f"s2j_out_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(out, ignore_errors=True)
    clicks = (
        read_stream(spark, src)
        .filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("ts").alias("click_ts"),
            F.unix_micros(F.col("ts")).alias("c_us"),
        )
        .withWatermark("click_ts", "90 days")
    )
    buys = (
        read_stream(spark, src)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.unix_micros(F.col("ts")).alias("p_us"),
        )
        .withWatermark("purchase_ts", "90 days")
    )
    pairs = clicks.join(
        buys,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
        "inner",
    ).select("user_id", F.expr("(p_us - c_us) div 1000").alias("ms_to_purchase"))
    _run(
        lambda cp: pairs.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", cp)
        .outputMode("append")
        .trigger(availableNow=True)
        .start(),
        os.path.join(_SCRATCH, "cp_s2j"),
    )
    return (
        spark.read.parquet(out)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min("ms_to_purchase").alias("min_ms_to_purchase"),
            F.max("ms_to_purchase").alias("max_ms_to_purchase"),
        )
        .orderBy("user_id")
    )


def stream_session_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows (30-min gap), append mode: a session emits
    once the watermark passes its close (session windows support only
    append in streaming). A far-future sentinel event (user_id = -1) in the
    final chunk advances the watermark past every real session, and Spark's
    no-data micro-batch flushes the remaining state — so the appended sink
    holds exactly the batch session set. The sink is a parquet table
    (Hive streaming-ingest-into-table analog)."""
    src = _chunked_source(spark, sf_dir, "ses")
    _append_sentinels(spark, src)

    out = os.path.join(_SCRATCH, f"ses_out_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(out, ignore_errors=True)
    sessions = (
        read_stream(spark, src)
        .withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_millis(F.col("w.start")).alias("session_start"),
            "n_events",
            F.col("sum_value").cast("decimal(28,4)").alias("sum_value"),
        )
    )
    _run(
        lambda cp: sessions.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", cp)
        .outputMode("append")
        .trigger(availableNow=True)
        .start(),
        os.path.join(_SCRATCH, "cp_ses"),
    )
    return (
        spark.read.parquet(out)
        .filter(F.col("user_id") >= 0)
        .orderBy("user_id", "session_start")
    )


def stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE upsert — the Hive streaming-ingest-into-ACID +
    MERGE pattern (HiveStreamingConnection.java:107 ingest; MERGE rewrite
    MergeSemanticAnalyzer.java): each micro-batch folds into a
    latest-event-per-user table via foreachBatch + dml.merge_into
    (newer-wins on (ts, event_id), insert on first sight). The merge
    condition handles out-of-order batches, so the final table equals the
    batch 'latest row per key' regardless of chunking — which is what the
    oracle checks. At scale the per-batch merge is one key-partitioned
    join against the target (Delta/Iceberg streaming-upsert shape)."""
    from pyspark.sql import Window

    from hive_spark.dml import merge_into

    src = _chunked_source(spark, sf_dir, "cdc")
    out = os.path.join(_SCRATCH, f"cdc_out_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(out, ignore_errors=True)
    cols = ("user_id", "ts", "event_id", "value")

    def sink(batch_df, batch_id):
        w = Window.partitionBy("user_id").orderBy(
            F.desc("ts"), F.desc("event_id")
        )
        latest = (
            batch_df.select(*cols)
            .withColumn("_rk", F.row_number().over(w))
            .filter("_rk = 1")
            .drop("_rk")
        )
        if not os.path.exists(out):
            latest.write.parquet(out)
            return
        newer = (F.col("s.ts") > F.col("t.ts")) | (
            (F.col("s.ts") == F.col("t.ts"))
            & (F.col("s.event_id") > F.col("t.event_id"))
        )
        merge_into(
            spark,
            out,
            latest,
            on=F.col("t.user_id") == F.col("s.user_id"),
            matched_update={
                c: F.when(newer, F.col(f"s.{c}")).otherwise(F.col(f"t.{c}"))
                for c in ("ts", "event_id", "value")
            },
            not_matched_insert={c: F.col(f"s.{c}") for c in cols},
        )

    _run(
        lambda cp: read_stream(spark, src)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start(),
        os.path.join(_SCRATCH, "cp_cdc"),
    )
    return (
        spark.read.parquet(out)
        .select(
            "user_id",
            F.unix_millis(F.col("ts")).alias("last_ts_ms"),
            F.col("event_id").alias("last_event_id"),
            F.col("value").alias("last_value"),
        )
        .orderBy("user_id")
    )


def stream_custom_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running totals maintained in explicit GroupState across micro-batches
    (the escape hatch for operators session_window/window can't express —
    Hive has no analog at all, SURVEY §2.10). Each batch emits the user's
    updated running total; the LAST emission per user equals the batch
    aggregate, which is what the oracle checks."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src = _chunked_source(spark, sf_dir, "cst")

    def track(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            # exact cents: float values have 2 decimals
            total += int(round(pdf["value"].sum() * 100))
        state.update((n, total))
        import pandas as pd  # noqa: PLC0415 (worker-side import)

        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_cents": [total]}
        )

    # Sink stays distributed: each micro-batch appends its update rows
    # (stamped with batch_id) as parquet from the executors — never a
    # driver-side collect, which would OOM the driver in production.
    # "Current state" is then the max-batch_id emission per user.
    out = os.path.join(_SCRATCH, f"cst_out_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(out, ignore_errors=True)

    def sink(batch_df, batch_id):
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(out)

    q = (
        read_stream(spark, src)
        .groupBy("user_id")
        .applyInPandasWithState(
            track,
            outputStructType="user_id bigint, n_events bigint, total_cents bigint",
            stateStructType="n bigint, total bigint",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    _run(
        lambda cp: q.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start(),
        os.path.join(_SCRATCH, "cp_cst"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("batch_id").desc())
    return (
        spark.read.parquet(out)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "n_events", "total_cents")
        .orderBy("user_id")
    )
