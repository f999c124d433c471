"""Headline benchmark: run the engine's flagship queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and print ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Every query is timed by ``profile_run``: its ``QuerySpec.fn`` plus a
``noop`` write that runs the whole plan (scan → shuffle → result), three
times, and the median is reported. The first rep pays one-time costs
(plan compile, codegen, scratch writes); the median discards it. A
warm-up touches every table and runs each headline query once first,
so the numbers reflect what a long-lived session sees.

Tiers: the HEADLINE queries and the TPC-DS extras at SF_DIR, then the
same queries on a 10× multi-file copy of the fact tables ("sf1"), then
one forced cold build of the star schema. ``bench_out.json`` adds each
query's profile per tier: the quartiles of the reps, the last rep's
seconds inside ``fn`` (``build_s``) and in the action (``run_s``), the
Spark counters of both job ranges, and the Catalyst phases.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# Headline set: the TPC-H core (scan/filter/agg/join/window shapes) plus
# the scale-critical training-pipeline ops (dedup sketching, ANN search,
# sessionization). Keys must exist in full_registry().
HEADLINE = [
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q6",
    "tpch_q9",
    "tpch_q13",
    "tpch_q18",
    "tpch_q21",
    "window_rank",
    "agg_rollup",
    "events_session",
    "events_tumbling",
    "text_stats",
    "text_tfidf_topk",
    "text_inverted_index",
    "dedup_minhash_lsh",
    "knn_lsh_bucketed",
    "mm_features",
    "training_data_pipeline",
]

# sf1 tier: 10x the sf0.1 facts ≈ TPC-H sf1 row counts (6M lineitem),
# multi-file layout
SF1_FACTOR = 10

# TPC-DS star-shape extras: reported separately so the headline total
# stays comparable across rounds
TPCDS_EXTRA = (
    "tpcds_q3",
    "tpcds_q19",
    "tpcds_q25_sales_returns",
    "tpcds_q68",
    "tpcds_q98_class_ratio",
    "tpcds_q4_three_channel_growth",
    "tpcds_q38_channel_intersect",
    "tpcds_q75_prior_year_delta",
)


def profile_run(spark, name: str, fn, sf_dir: str) -> dict:
    """Time ``fn(spark, sf_dir)`` plus a noop write of its DataFrame
    three times, with every Spark job the query starts described as
    ``name``. Returns the median and quartiles of the reps' seconds and,
    for the last rep, the seconds inside ``fn`` (``build_s``: plan
    building and any eager jobs) and in the action (``run_s``), the job
    ids bounding both (``job_ids``: build jobs are [0]..[1], run jobs
    [1]..[2]), the scheduler counters of each range (``build``,
    ``run``) and the Catalyst phase seconds of the DataFrame's own plan.
    Counters, then phases, are read after the timed interval."""
    from perfbench import layers

    stats = layers.SparkStats(spark)
    sc = spark.sparkContext
    walls = []
    for _ in range(3):
        j0 = stats.next_job_id()
        sc.setJobDescription(name)
        try:
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            j1 = stats.next_job_id()
            t2 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t3 = time.perf_counter()
        finally:
            sc.setJobDescription(None)
        j2 = stats.next_job_id()
        walls.append((t1 - t0) + (t3 - t2))
    counters = {
        part: {k: round(v, 3) for k, v in stats.jobs(a, b).items()}
        for part, a, b in (("build", j0, j1), ("run", j1, j2))
    }
    # the noop write plans a fresh copy of the query; the phases are
    # taken from the DataFrame's own plan
    df._jdf.queryExecution().executedPlan()
    q1, med, q3 = statistics.quantiles(walls, n=4, method="inclusive")
    return {
        "median_s": round(med, 3),
        "q1_s": round(q1, 3),
        "q3_s": round(q3, 3),
        "reps_s": [round(w, 3) for w in walls],
        "build_s": round(t1 - t0, 3),
        "run_s": round(t3 - t2, 3),
        "job_ids": [j0, j1, j2],
        **counters,
        "catalyst": {k: round(v, 3) for k, v in layers.catalyst_phases(df).items()},
    }


def _session(app_name: str):
    """The benchmark's session on local[CPUS]. Its status store keeps
    every stage of the run: past ``spark.ui.retainedStages`` stages
    (1000 by default) Spark drops skipped ones first, and profile_run
    reads every stage a job lists."""
    from hive_spark.session import get_session

    return get_session(
        app_name=app_name,
        master=f"local[{CPUS}]",
        shuffle_partitions=int(CPUS),
        extra_conf={"spark.ui.retainedStages": "100000"},
    )


def _warm_up(spark, registry) -> None:
    """Touch every table once (file listing + footer reads), then run each
    headline query once untimed (JIT, codegen, Python workers), so the
    medians reflect what a long-lived session sees."""
    from hive_spark.operators import views

    for df in views(spark, SF_DIR).values():
        df.limit(1).count()
    for n in HEADLINE:
        registry[n].fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()


def _fixed_overhead(spark) -> float:
    """Per-query fixed cost (scheduler + py4j + noop commit): the median
    of a 1-row query, subtracted nowhere, reported so ratios can be read
    net."""
    return profile_run(spark, "fixed_overhead", lambda s, _d: s.range(1), SF_DIR)["median_s"]


# fact tables unioned k times with join keys shifted per copy
# (joins stay copy-local; dims keep their cardinality, so each dim row
# simply matches k times — the realistic fact/dim growth asymmetry)
_FACTS = {"lineitem": "l_orderkey", "orders": "o_orderkey",
          "documents": "doc_id", "events": "events",
          "embeddings": "embeddings"}


def _build_scaled_dir(spark, src: str, k: int) -> str:
    """Materialize src scaled k× on the fact tables in the engine
    scratch (cached).
    Facts are written as multi-file parquet dirs — also undoing the
    single-row-group scan-parallelism cap of the source testdata files."""
    import shutil

    from pyspark.sql import functions as F

    from hive_spark.session import TESTDATA_TABLES, load_tables

    # durable root: /tmp is tmpfiles-purged on this host mid-run, which
    # deletes the scaled parquet out from under the sf1 tier (r7)
    from hive_spark.scratch import scratch_dir

    dst = os.path.join(
        scratch_dir("benchscale"),
        f"{os.path.basename(src.rstrip('/'))}_x{k}",
    )
    marker = os.path.join(dst, "_BUILT")
    if os.path.exists(marker):
        return dst
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    tables = load_tables(spark, src, tuple(TESTDATA_TABLES))
    # orders/lineitem share the orderkey domain: one offset keeps joins
    # copy-local AND copy-consistent (a per-table max would misalign the
    # shifted keys whenever the two maxima differ)
    okey_offset = (
        max(
            tables["lineitem"].agg(F.max("l_orderkey")).collect()[0][0],
            tables["orders"].agg(F.max("o_orderkey")).collect()[0][0],
        )
        + 1
    )
    for t in TESTDATA_TABLES:
        out = os.path.join(dst, f"{t}.parquet")
        if t in _FACTS:
            df, key = tables[t], _FACTS[t]
            if key == "events":
                # shift event AND user ids: sessions stay copy-local
                # (identical copies would stack 10 events on one ts)
                eoff = df.agg(F.max("event_id")).collect()[0][0] + 1
                uoff = df.agg(F.max("user_id")).collect()[0][0] + 1
                parts = [
                    df.withColumn("event_id", F.col("event_id") + F.lit(i * eoff))
                    .withColumn("user_id", F.col("user_id") + F.lit(i * uoff))
                    for i in range(k)
                ]
            elif key == "embeddings":
                # shift ids and perturb each copy's vectors slightly so
                # scaled corpora aren't k exact duplicates of every
                # point (which would distort LSH bucket occupancy)
                voff = df.agg(F.max("vec_id")).collect()[0][0] + 1
                parts = [
                    df.withColumn("vec_id", F.col("vec_id") + F.lit(i * voff))
                    .withColumn(
                        "embedding",
                        F.transform(
                            "embedding",
                            lambda x, i=i: (x + F.lit(i * 1e-3)).cast("float"),
                        ),
                    )
                    for i in range(k)
                ]
            else:
                # lineitem/orders share the orderkey domain (one offset,
                # computed above); any OTHER fact shifts by its own
                # max(key)+1 — reusing okey_offset would collide ids
                # whenever max(doc_id) >= okey_offset (r6 ADVICE low)
                offset = (
                    okey_offset
                    if key in ("l_orderkey", "o_orderkey")
                    else df.agg(F.max(key)).collect()[0][0] + 1
                )
                parts = [
                    df.withColumn(key, F.col(key) + F.lit(i * offset)) for i in range(k)
                ]
            scaled = parts[0]
            for p in parts[1:]:
                scaled = scaled.unionAll(p)
            scaled.repartition(int(CPUS)).write.mode("overwrite").parquet(out)
        else:
            shutil.copyfile(os.path.join(src, f"{t}.parquet"), out)
    open(marker, "w").close()
    return dst


def main() -> None:
    from hive_spark.operators import full_registry
    from hive_spark.operators.tpcds import _register_star, measure_cold_star_build

    spark = _session("hive_spark_bench")
    registry = full_registry()

    def tier(names, sf_dir: str) -> dict[str, dict]:
        return {n: profile_run(spark, n, registry[n].fn, sf_dir) for n in names}

    _warm_up(spark, registry)
    base = tier(HEADLINE, SF_DIR)
    overhead = _fixed_overhead(spark)
    # the star is registered (built on a cache miss) before each tier
    # that reads it, so no query's reps include the one-time build
    star_build = _register_star(spark, SF_DIR)
    base.update(tier(TPCDS_EXTRA, SF_DIR))

    # sf1 tier (r4 verdict #1): at sf0.1 the ~0.2-0.5 s/query session
    # constant dominates and the bench measures the constant, not the
    # engine. Run the full headline suite + TPC-DS extras against a
    # 10x-row multi-file copy so the data-dependent cost is the signal.
    sf1_dir = _build_scaled_dir(spark, SF_DIR, SF1_FACTOR)
    star_build += _register_star(spark, sf1_dir)
    sf1_profiles = tier(HEADLINE + list(TPCDS_EXTRA), sf1_dir)
    sf1_timings = {n: p["median_s"] for n, p in sf1_profiles.items()}
    sf1 = {
        "factor": SF1_FACTOR,
        "total_sec": round(sum(sf1_timings.values()), 3),
        "queries": sf1_timings,
    }

    # Cold star-ETL measurement (VERDICT r8 #2): the fingerprint cache
    # survives across rounds, so `star_build_sec` reads 0.0 on hits and
    # the one-time materialization cost vanishes from the record. Force
    # ONE cache-miss rebuild per bench run — AFTER the query timings, so
    # steady-state numbers are unperturbed — and report it separately.
    star_cold = measure_cold_star_build(spark, sf1_dir)

    timings = {n: base[n]["median_s"] for n in HEADLINE}
    extra = {n: base[n]["median_s"] for n in TPCDS_EXTRA}
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    full = {
        "metric": "headline_query_suite_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "fixed_overhead_sec": overhead,
        "queries_net": {
            n: round(max(t - overhead, 0.0), 3) for n, t in timings.items()
        },
        "extra_queries": extra,
        # seconds the star registrations before the two tiers spent
        # building (0.0 on disk-cache hits)
        "star_build_sec": round(star_build, 3),
        # forced cache-miss rebuild at the sf1 tier, measured after the
        # query pass (VERDICT r8 #2) — the honest one-time ETL figure
        "star_build_cold_sec": star_cold,
        "sf1": sf1,
        "profiles": {os.path.basename(SF_DIR.rstrip("/")): base, "sf1": sf1_profiles},
    }
    # full detail to a file: the r7 stdout line outgrew the driver's
    # capture (BENCH_r07 "parsed": null, tail truncated mid-key)
    out_path = os.path.join(_REPO, "bench_out.json")
    with open(out_path, "w") as f:
        json.dump(full, f, indent=1)
    # stdout gets a COMPACT single line (the driver contract): headline
    # keys + totals only, guaranteed to fit any reasonable capture
    compact = {
        k: full[k]
        for k in ("metric", "value", "unit", "sf", "queries", "fixed_overhead_sec",
                  "extra_queries", "star_build_sec", "star_build_cold_sec", "sf1")
    }
    compact["details_file"] = out_path
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
