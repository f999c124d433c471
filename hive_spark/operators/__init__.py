"""Operator surface of the engine — Hive's §2 inventory as Spark pipelines.

Each submodule exposes ``REGISTRY: dict[str, QuerySpec]``; a QuerySpec binds
the Spark implementation to its DuckDB oracle SQL (None when the operator is
not SQL-expressible, e.g. probabilistic sketches — the driver then records a
rows-only check).

Oracle-parity design: the driver hash-compares values across engines, so
every aggregate output is cast to a fixed DECIMAL type in BOTH engines
(decimal sums are exact and associative → bit-reproducible regardless of
partitioning / execution order — crucial because Spark at 100 TB sums in a
different order than single-threaded DuckDB). Timestamps are emitted as
DATE or epoch millis to sidestep tz-awareness differences in Arrow.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from hive_spark.session import register_functions, register_views, state


@dataclass(frozen=True)
class QuerySpec:
    """One operator/query: Spark impl + optional DuckDB oracle SQL."""

    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""


# Runtime confs a *foreign* SparkSession (the driver's) needs before our
# queries run. Everything here is runtime-settable (no JVM restart). Static
# confs cannot follow: a foreign session keeps Spark's 100-entry codegen
# class cache (``spark.sql.codegen.cache.maxEntries``, sized in
# ``session.get_session``) and recompiles once its queries generate more.
_RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    # Hive NULL-on-error semantics (div/0, bad casts) vs Spark 4 ANSI default
    "spark.sql.ansi.enabled": "false",
    # Hive INSERT semantics: implicit casts on write (string key -> INT
    # column succeeds, malformed values become NULL) — Spark's ANSI
    # store-assignment policy would reject the qtest INSERT OVERWRITEs
    "spark.sql.storeAssignmentPolicy": "LEGACY",
    # Hive date functions speak Java SimpleDateFormat patterns
    "spark.sql.legacy.timeParserPolicy": "LEGACY",
    # Hive map construction keeps the LAST value for duplicate keys
    "spark.sql.mapKeyDedupPolicy": "LAST_WIN",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # TIMESTAMP columns as INT64 micros, which parquet writes with min/max
    # statistics; the INT96 default has none, so no range predicate on an
    # engine-written TIMESTAMP column could skip a row group
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
}


def spool_sort(df: DataFrame, *cols) -> DataFrame:
    """Terminal bare ORDER BY (no LIMIT) over an expensive child pays the
    child TWICE: the range exchange's bound-sampling job executes the
    child RDD once before the real pass (shuffle stages below are reused
    by the DAG scheduler, but reduce-side compute — final aggregates,
    windows, Python stages, un-shuffled scan chains — re-runs). Spooling
    the finished rows through a localCheckpoint lets the sampler
    and the range shuffle both read the spool, so everything upstream
    runs exactly once (guide §1.2 "don't compute things you throw away",
    §3.3 "materialising an intermediate truncates the plan").

    The checkpoint is not lazy under AQE, despite ``eager=False``:
    ``localCheckpoint`` builds its RDD from the executed physical plan,
    and an adaptive plan only settles after it has materialised every
    upstream shuffle stage, so all upstream shuffle jobs run before this
    function returns. They belong to the query but land outside the
    final action's plan and metrics (text_tfidf_topk: 5 of the 10
    build-time jobs of a traced perfbench interactive_sf0.01 pass).

    Measured r10 (interleaved, sf1 tier): text_tfidf_topk 1.98 -> 0.51s,
    events_session 1.34 -> 0.70s, mm_features 1.20 -> 0.81s,
    text_inverted_index 1.68 -> 1.24s (best-of-3, both alternation
    rounds). Adoption is MEASUREMENT-GATED per query: when the doubled
    child is cheap (a final aggregate over a reused shuffle), the
    spool's extra job + block-manager write costs more than it saves —
    tpch_q1/q5/q13, window_rank, agg_rollup, events_tumbling,
    text_stats, dedup_minhash_lsh and knn_lsh_bucketed measured
    neutral-to-worse with it and keep their direct ORDER BY.

    Scale/correctness notes: the spool is RDD-identity-keyed — a fresh
    checkpoint per call, recomputed from the parquet inputs on every
    run (never reused across runs, unlike plan-keyed persist()). Storage
    is MEMORY_AND_DISK of the query RESULT rows (post-aggregation /
    post-filter — orders of magnitude smaller than the inputs). The
    trade is lineage truncation: on executor loss the spooled partitions
    are recomputed from the checkpoint's materialization point, not
    replayed per-partition — the standard localCheckpoint contract; use
    reliable checkpointing for long-lived results on a real cluster.
    ORDER BY + LIMIT queries are NOT routed here (they plan as
    TakeOrderedAndProject — no range exchange, no sampling pass)."""
    return df.localCheckpoint(eager=False).orderBy(*cols)


def ensure_engine(spark: SparkSession) -> None:
    """Make any SparkSession behave like an engine session (idempotent)."""
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass
    register_functions(spark)


def views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register the testdata tables as temp views on this session and
    return them. Memoized while sf_dir stays the active registration
    (table names resolve to the last one; entry runs sf0.001 and
    correctness runs sf0.01, possibly in one session): registration
    reads parquet footers for every table, which adds up across a
    100-query registry run."""
    st = state(spark)
    if st.views is not None and st.views[0] == sf_dir:
        return st.views[1]
    ensure_engine(spark)
    out = register_views(spark, sf_dir)
    st.views = (sf_dir, out)
    return out


# ---------------------------------------------------------------------------
# Driver output-protocol normalization.
#
# The driver hash-compares PANDAS-converted frames (spark ``toPandas()`` vs
# DuckDB ``.df()``), where physical types leak into the hashed strings even
# when every value matches (CORRECTNESS_r01: 21/50 failed with zero value
# differences):
#   - Spark DECIMAL -> object Decimals ('138014.00'); DuckDB DECIMAL ->
#     float64 ('138014.0')
#   - DuckDB SUM(int) -> HUGEINT -> float64 ('19525.0'); Spark -> int64
#   - Spark DATE -> datetime.date ('1996-07-26'); DuckDB DATE ->
#     datetime64 ('1996-07-26 00:00:00')
# The fix is a final-select adapter applied to BOTH engines at the driver
# contract boundary (__spark_entry__): internal math stays decimal-exact
# (associative, partitioning-independent — the 100 TB requirement), only
# the last projection converges on types whose pandas string forms agree:
# DOUBLE, BIGINT, TIMESTAMP. Identical exact decimals cast to identical
# doubles on both engines, so the hash stays value-faithful.
# ---------------------------------------------------------------------------

import re as _re

# `date` must match only in TYPE position (whole string, or followed by
# `>`/`,` in array/map nests) — a struct FIELD named `date` prints as
# `struct<date:...>` (followed by `:`) and must not be rewritten.
_SPARK_TYPE_FIX = [
    (_re.compile(r"decimal\(\s*\d+\s*,\s*-?\d+\s*\)"), "double"),
    (_re.compile(r"\bdate\b(?=[>,]|$)"), "timestamp_ntz"),
]

_DUCK_TYPE_FIX = [
    (_re.compile(r"DECIMAL\(\s*\d+\s*,\s*\d+\s*\)"), "DOUBLE"),
    (_re.compile(r"\bHUGEINT\b"), "BIGINT"),
    (_re.compile(r"\bDATE\b"), "TIMESTAMP"),
]


def normalize_spark_output(df: DataFrame):
    """Cast final DECIMAL->DOUBLE and DATE->TIMESTAMP_NTZ (recursing into
    array/struct type strings); no-op when nothing needs converting."""
    from pyspark.sql import functions as F

    cols, changed = [], False
    for f in df.schema.fields:
        s = f.dataType.simpleString()
        ns = s
        for pat, rep in _SPARK_TYPE_FIX:
            ns = pat.sub(rep, ns)
        c = df[f.name]
        if ns != s:
            c = c.cast(ns)
            changed = True
        cols.append(c.alias(f.name))
    return df.select(*cols) if changed else df


def normalize_oracle_sql(sql: str, describe_con) -> str:
    """Wrap an oracle query so DECIMAL/HUGEINT/DATE outputs become
    DOUBLE/BIGINT/TIMESTAMP. ``describe_con`` is a DuckDB connection with
    the testdata views registered (schema-only bind, no data scan)."""
    body = sql.strip().rstrip(";")
    try:
        desc = describe_con.sql(f"DESCRIBE {body}").fetchall()
    except Exception:
        return sql
    items, changed = [], False
    for row in desc:
        name, typ = row[0], row[1]
        nt = typ
        for pat, rep in _DUCK_TYPE_FIX:
            nt = pat.sub(rep, nt)
        if _re.fullmatch(r"DECIMAL\(\s*\d+\s*,\s*\d+\s*\)", typ):
            # Straight DECIMAL->DOUBLE in DuckDB multiplies the int128
            # mantissa by 10^-scale in floating point — off by 1 ulp from
            # the correctly-rounded value Spark's BigDecimal.doubleValue
            # produces. String round-trip (strtod) is correctly rounded.
            items.append(f'CAST(CAST("{name}" AS VARCHAR) AS DOUBLE) AS "{name}"')
            changed = True
        elif nt != typ:
            items.append(f'CAST("{name}" AS {nt}) AS "{name}"')
            changed = True
        else:
            items.append(f'"{name}"')
    if not changed:
        return sql
    return f"SELECT {', '.join(items)} FROM ({body}) __norm"


def full_registry() -> dict[str, QuerySpec]:
    """Merge every submodule's REGISTRY (the SURVEY §2 checklist)."""
    from hive_spark.operators import (
        dml_demo,
        edges,
        edges2,
        events,
        extension,
        funcdemo,
        hql_demo,
        misc,
        multimodal,
        pipeline,
        relational,
        sampling,
        sketches,
        stream_demo,
        text,
        text2,
        text3,
        timeseries,
        tpcds,
        tpcds2,
        tpcds3,
        tpcds4,
        tpcds5,
        tpch,
        tpch2,
        vectors,
    )

    out: dict[str, QuerySpec] = {}
    for mod in (tpch, tpch2, tpcds, tpcds2, tpcds3, tpcds4, tpcds5, relational, funcdemo, text, vectors,
                events, dml_demo, stream_demo, multimodal, extension, edges, edges2,
                text2, text3, sampling, sketches, misc, pipeline, timeseries,
                hql_demo):
        overlap = out.keys() & mod.REGISTRY.keys()
        if overlap:
            raise ValueError(f"duplicate query names: {overlap}")
        out.update(mod.REGISTRY)
    return out
