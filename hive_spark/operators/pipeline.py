"""End-to-end training-data pipeline: the north-star composition.

One linear DataFrame pipeline over `documents`, the shape a 100 TB
pretraining-data curation job takes:

  1. quality gate  — length / stopword-ratio / non-alpha thresholds
     (pure whole-stage-codegen expressions)
  2. language gate — keep the dominant langs
  3. exact dedup   — md5 digest, keep min doc_id per digest (one shuffle)
  4. token stats   — per-doc token counts
  5. partitioned sink — write survivors partitioned by lang (the layout
     the next job's partition pruning wants)
  6. summary       — per-lang survivor counts + token totals (returned)

Every stage is declarative; Catalyst fuses 1-2-4 into the scan projection
and the only shuffles are the dedup digest groupBy and the final summary
agg. The DuckDB oracle recomputes the whole pipeline (it is exactly
SQL-expressible because the dedup keep-rule is deterministic min-id).

Perf notes (r4): the stopword gate is a single codegen'd `regexp_count`
over the lowered text — provably equivalent to filtering the
split-on-space token list (a token IS a maximal run of non-space chars,
so ` stopword ` occurrences are exactly stopword-valued tokens; the
equivalence is asserted corpus-wide in tests/test_pipeline.py). The r3
higher-order-function formulation was interpreted, not codegen'd, and
was re-evaluated by both the filter and the window stages — it alone
was the r3 bench regression. Dedup is a `min_by` hash aggregation, not
a window: partial aggregation collapses duplicates map-side, so the
shuffle carries ~unique digests instead of every row + a sort."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_spark.operators import QuerySpec, spool_sort, views

from hive_spark.scratch import process_dir
from hive_spark.session import read_parquet

_SCRATCH = process_dir("pipeline")

_STOPWORDS = ("the", "a", "of", "and", "to")
# " stopword " bounded by start/space and lookahead space/end == the
# count of split-on-space tokens equal to a stopword (see module doc)
_STOP_RE = r"(^| )(" + "|".join(_STOPWORDS) + r")(?= |$)"


def gated_documents(docs: DataFrame) -> DataFrame:
    """Quality + language gate with per-doc token counts (all codegen)."""
    n_tokens = F.size(F.filter(F.split("text", " "), lambda x: x != ""))
    stop_hits = F.regexp_count(F.lower("text"), F.lit(_STOP_RE))
    return (
        docs.filter(F.col("lang").isin("en", "de", "fr"))
        .withColumn("n_tokens", n_tokens)
        .withColumn("_stop_hits", stop_hits)
        .filter(
            (F.length("text") >= 50)
            & (F.col("n_tokens") >= 10)
            & ((F.col("_stop_hits") / F.col("n_tokens")) <= 0.5)
        )
        .drop("_stop_hits")
    )


def training_data_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    gated = gated_documents(spark.table("documents")).withColumn(
        "digest", F.md5("text")
    )

    # keep the min-doc_id row per digest: one aggregate shuffle with
    # map-side partial_min_by (duplicates collapse before the exchange,
    # so the shuffle carries ~unique digests — a window must shuffle
    # every row and can never combine map-side)
    row = F.struct(*[F.col(c) for c in gated.columns if c != "digest"])
    deduped = (
        gated.groupBy("digest")
        .agg(F.min_by(row, F.col("doc_id")).alias("_r"))
        .select("digest", "_r.*")
    )

    out = os.path.join(_SCRATCH, f"out_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(out, ignore_errors=True)
    # r9 (guide §6): REBALANCE on the partition key before the write —
    # without it every shuffle partition emits a file per lang it holds
    # (18 scattered files at bench SF; shuffle-partitions x langs at
    # scale). AQE rebalance is scale-adaptive: it coalesces tiny
    # per-lang outputs AND splits big langs at the advisory partition
    # size, so files land near the configured target at any volume.
    #
    # r10 (VERDICT r9 #1): the hint is now VOLUME-GUARDED. At bench SF
    # each lang is far below the advisory partition size, so AQE
    # coalesced the write to one task per lang (3 tasks) — serializing a
    # write that previously used every shuffle partition, and paying an
    # extra exchange for files that were already tiny (driver record:
    # sf0.1 0.99 -> 1.38s, sf1 0.91 -> 1.25s). Small-files pain and the
    # rebalance payoff both start where per-lang volume exceeds the
    # advisory size, so gate on source bytes (file metadata only, same
    # pattern as tpch._input_bytes): below 1 GiB of documents the write
    # keeps the natural parallel layout; above it the rebalance caps the
    # file count at data-proportional sizes.
    from hive_spark.operators.tpch import _input_bytes

    sink = deduped
    if _input_bytes(spark.table("documents")) >= (1 << 30):
        sink = deduped.hint("rebalance", "lang")
    sink.write.partitionBy("lang").parquet(out)

    summary = (
        read_parquet(spark, out)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_tokens").cast("bigint")).alias("total_tokens"),
            F.min("doc_id").alias("min_doc_id"),
        )
    )
    # r10: spool before the terminal sort — the range sampler otherwise
    # re-reads the freshly written parquet a second time
    return spool_sort(summary, "lang")


_PIPELINE_SQL = """
WITH toks AS (
    SELECT doc_id, lang, text,
           list_filter(string_split(text, ' '), x -> x != '') AS t
    FROM documents
),
gated AS (
    SELECT doc_id, lang, text, len(t) AS n_tokens
    FROM toks
    WHERE length(text) >= 50
      AND len(t) >= 10
      AND CAST(len(list_filter(t, x -> lower(x) IN ('the','a','of','and','to')))
               AS DOUBLE) / len(t) <= 0.5
      AND lang IN ('en', 'de', 'fr')
),
deduped AS (
    SELECT * FROM (
        SELECT doc_id, lang, n_tokens,
               MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
        FROM gated
    ) WHERE doc_id = keep_id
)
SELECT lang, COUNT(*) AS n_docs,
       SUM(CAST(n_tokens AS BIGINT)) AS total_tokens,
       MIN(doc_id) AS min_doc_id
FROM deduped
GROUP BY lang ORDER BY lang
"""


# Fair-comparison twin for bench_compare (NOT the correctness oracle):
# the Spark side's cost includes a lang-partitioned parquet sink of the
# full deduped rows plus the readback summary; timing DuckDB on the
# summary SELECT alone overstated the ratio ~12x (r4-r6 "harness
# asymmetry"). These two statements give DuckDB the same work: COPY the
# same columns partitioned by lang, then summarize from the readback.
_PIPELINE_DUCK_WRITE = """
COPY (
    WITH toks AS (
        SELECT doc_id, lang, text, source, n_chars,
               list_filter(string_split(text, ' '), x -> x != '') AS t
        FROM documents
    ),
    gated AS (
        SELECT doc_id, lang, text, source, n_chars, len(t) AS n_tokens
        FROM toks
        WHERE length(text) >= 50
          AND len(t) >= 10
          AND CAST(len(list_filter(t, x -> lower(x) IN
                   ('the','a','of','and','to'))) AS DOUBLE) / len(t) <= 0.5
          AND lang IN ('en', 'de', 'fr')
    )
    SELECT md5(text) AS digest, doc_id, text, lang, source, n_chars,
           n_tokens
    FROM (
        SELECT *, MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
        FROM gated
    ) WHERE doc_id = keep_id
) TO '{dir}' (FORMAT PARQUET, PARTITION_BY (lang), OVERWRITE_OR_IGNORE)
"""

_PIPELINE_DUCK_SUMMARY = """
SELECT lang, COUNT(*) AS n_docs,
       SUM(CAST(n_tokens AS BIGINT)) AS total_tokens,
       MIN(doc_id) AS min_doc_id
FROM read_parquet('{dir}/*/*.parquet', hive_partitioning = true)
GROUP BY lang ORDER BY lang
"""


def duck_pipeline_equivalent(con, out_dir: str):
    """Run the oracle with the SAME side effects as the Spark operator
    (partitioned parquet write + summary from readback); returns the
    summary rows. Used by bench_compare for an apples-to-apples ratio."""
    shutil.rmtree(out_dir, ignore_errors=True)
    con.execute(_PIPELINE_DUCK_WRITE.format(dir=out_dir))
    return con.sql(_PIPELINE_DUCK_SUMMARY.format(dir=out_dir)).fetchall()


REGISTRY: dict[str, QuerySpec] = {
    "training_data_pipeline": QuerySpec(training_data_pipeline, _PIPELINE_SQL),
}
