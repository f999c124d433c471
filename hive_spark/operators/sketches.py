"""DataSketches HLL sketch-object LIFECYCLE — sketches as storable,
mergeable values, not just the folded ``estimate(sketch(x))`` composition.

Hive registers the DataSketches family as first-class UDFs whose sketch
values can be persisted per partition and unioned across tables later
(ref: ql/src/java/org/apache/hadoop/hive/ql/exec/DataSketchesFunctions.java,
registered FunctionRegistry.java:581). Spark 3.5+ ships the same Apache
DataSketches HLL implementation natively — ``hll_sketch_agg`` (build,
binary result), ``hll_union_agg`` (merge), ``hll_sketch_estimate`` — so
the lifecycle maps to JVM-side built-in aggregates: no UDF, no Python.
The HiveQL text spellings (``ds_hll_sketch``/``ds_hll_union``/
``ds_hll_estimate`` over stored sketch columns) fold to these natives in
hqlscript.rewrite_statement.

Scale shape: building per-group sketches is one partial/final hash
aggregate (each partial is a fixed ~2-4 KB register set, so the shuffle
carries K sketches, not N rows); merging M stored sketches moves M
binary blobs. This is exactly the "sketch once per partition, merge at
query time" pattern a 100 TB rollup pipeline needs.

Oracle protocol: HLL estimates are implementation-specific, so the
oracled output emits (group, exact_count, within_bound) — the engine
computes its own exact count AND checks its estimate against it
(|est - exact| / exact <= 0.05; lgK=12 gives ~1.6% rse, so 5% ~ 3
sigma); DuckDB emits the exact counts with literal TRUE. A hash match
therefore certifies both the exact counts and the sketch pipeline's
error bound. The sketch is a register-max structure, so the estimate is
identical at any partitioning/merge order — the boolean is stable.
"""

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_spark.operators import QuerySpec, views
from hive_spark.session import read_parquet


def sketch_hll_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build per-returnflag HLL sketches of l_orderkey, PERSIST them to a
    parquet table (binary sketch column), read them back, estimate per
    group, and fold all stored sketches into a '~TOTAL' row via
    hll_union_agg — the store/load/merge path a user of Hive's ds_*
    family exercises."""
    views(spark, sf_dir)
    path = os.path.join(
        tempfile.gettempdir(),
        f"hive_spark_hll_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    (
        spark.table("lineitem")
        .groupBy("l_returnflag")
        .agg(F.expr("hll_sketch_agg(l_orderkey)").alias("sk"))
        .write.mode("overwrite")
        .parquet(path)
    )
    stored = read_parquet(spark, path)
    est = stored.selectExpr(
        "l_returnflag", "hll_sketch_estimate(sk) AS est"
    ).unionAll(
        stored.agg(F.expr("hll_union_agg(sk)").alias("m")).selectExpr(
            "'~TOTAL' AS l_returnflag", "hll_sketch_estimate(m) AS est"
        )
    )
    exact = spark.sql(
        """
        SELECT l_returnflag, COUNT(DISTINCT l_orderkey) AS exact_orders
        FROM lineitem GROUP BY l_returnflag
        UNION ALL
        SELECT '~TOTAL', COUNT(DISTINCT l_orderkey) FROM lineitem
        """
    )
    return (
        est.join(exact, "l_returnflag")
        .selectExpr(
            "l_returnflag",
            "exact_orders",
            "CAST(abs(est - exact_orders) / exact_orders <= 0.05 AS BOOLEAN)"
            " AS within_bound",
        )
        .orderBy("l_returnflag")
    )


_LIFECYCLE_SQL = """
SELECT l_returnflag, COUNT(DISTINCT l_orderkey) AS exact_orders,
       TRUE AS within_bound
FROM lineitem GROUP BY l_returnflag
UNION ALL
SELECT '~TOTAL', COUNT(DISTINCT l_orderkey), TRUE FROM lineitem
ORDER BY l_returnflag
"""


def sketch_hll_cross_table_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ds_hll_union ACROSS TABLES: custkey sketches built independently
    over orders and customer, merged into one union-cardinality estimate
    (Hive's `SELECT ds_hll_estimate(ds_hll_union_f(a.sk, b.sk))` shape).
    Each side is a linear scan producing one ~KB sketch row."""
    views(spark, sf_dir)
    merged = (
        spark.sql("SELECT hll_sketch_agg(o_custkey) AS sk FROM orders")
        .unionAll(spark.sql("SELECT hll_sketch_agg(c_custkey) AS sk FROM customer"))
        .agg(F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est"))
    )
    exact = spark.sql(
        """
        SELECT COUNT(DISTINCT k) AS exact_keys FROM (
            SELECT o_custkey AS k FROM orders
            UNION SELECT c_custkey FROM customer)
        """
    )
    return merged.crossJoin(exact).selectExpr(
        "exact_keys",
        "CAST(abs(est - exact_keys) / exact_keys <= 0.05 AS BOOLEAN)"
        " AS within_bound",
    )


_CROSS_UNION_SQL = """
SELECT COUNT(DISTINCT k) AS exact_keys, TRUE AS within_bound
FROM (SELECT o_custkey AS k FROM orders UNION SELECT c_custkey FROM customer) t
"""


# ---------------------------------------------------------------------------
# Theta sketches (set algebra) and KLL-style quantile sketches.
#
# Hive registers ds_theta_{sketch,union,intersect,exclude,estimate} and
# ds_kll_{sketch,quantile,rank,n} (ref: ql/src/java/org/apache/hadoop/
# hive/ql/exec/DataSketchesFunctions.java:91-97). Spark has no native
# theta/kll, so these are built from first principles on the same
# distributive shape Hive's UDAFs use:
#
#   theta  = KMV/bottom-K sketch: the K smallest xxhash64 values of the
#            key, normalized to [0,1). theta = Kth smallest, entries =
#            hashes < theta; estimate = |entries| / theta. Set algebra
#            is ARRAY algebra on retained entries below min(theta) —
#            array_union / array_intersect / array_except, all JVM-side.
#   kll    = bottom-K BY ROW-HASH sample carrying the value: a uniform
#            mergeable row sample; quantile(q) = sample quantile, with
#            rank error ~ sqrt(q(1-q)/K) (K=4096 -> ~0.8% rse).
#
# Build is ONE linear Arrow-batched pass (mapInPandas keeps a running
# bottom-K per group per partition and emits <= groups x K rows per
# partition — the Java UDAF partial analog), then one tiny final merge
# (#partitions x groups rows). No shuffle of raw data.
#
# Oracle protocol: like HLL above — emit (op/group, exact, within_bound)
# where the engine checks its own estimate against the exact answer;
# DuckDB recomputes the exact side with literal TRUE. Deterministic:
# xxhash64 is fixed, so the boolean is stable for given data.
# ---------------------------------------------------------------------------

_THETA_K = 4096


def _bottom_k_hashes(df: DataFrame, group_col, hash_col, k: int) -> DataFrame:
    """Partial bottom-k of DISTINCT hash values per group: one linear
    pass, <= k entries per (partition, group) emitted."""
    import numpy as np
    import pandas as pd

    src = df.select(
        F.col(group_col).alias("g"), F.col(hash_col).alias("h")
    )

    def partials(batches):
        best: dict[str, np.ndarray] = {}
        for pdf in batches:
            for g, sub in pdf.groupby("g"):
                h = sub["h"].to_numpy(dtype=np.int64)
                cur = best.get(g)
                merged = np.unique(h if cur is None else np.concatenate([cur, h]))
                if len(merged) > k:
                    merged = np.partition(merged, k)[:k]
                    merged.sort()
                best[g] = merged
        if best:
            yield pd.DataFrame(
                {"g": list(best), "hs": [b.tolist() for b in best.values()]}
            )

    part = src.mapInPandas(partials, "g string, hs array<long>")
    return (
        part.groupBy("g")
        .agg(
            F.slice(
                F.array_sort(F.array_distinct(F.flatten(F.collect_list("hs")))),
                1,
                k,
            ).alias("hs")
        )
    )


# hash -> uniform double in [0,1): (unsigned h) / 2^64
_U01 = "(CAST({h} AS DOUBLE) / 18446744073709551616.0 + 0.5)"


def _theta_cols(df: DataFrame, k: int) -> DataFrame:
    """(g, hs) -> (g, entries array<double> below theta, theta)."""
    u = F.expr(f"transform(hs, h -> {_U01.format(h='h')})")
    df = df.withColumn("us", u)
    sat = F.size("us") >= k
    theta = F.when(sat, F.element_at("us", k)).otherwise(F.lit(1.0))
    df = df.withColumn("theta", theta)
    return df.select(
        "g",
        F.expr("filter(us, x -> x < theta)").alias("entries"),
        "theta",
    )


def _theta_estimate(entries_col: str, theta_col: str):
    return F.size(entries_col) / F.col(theta_col)


def sketch_theta_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ds_theta set algebra across two tables: sketches of orders.o_custkey
    and customer.c_custkey; union / intersect / a_not_b estimates checked
    against exact set counts (ref: DataSketchesFunctions.java theta
    family — union/intersect/exclude are sketch-object operations)."""
    views(spark, sf_dir)
    k = _THETA_K

    def table_sketch(table: str, col: str) -> DataFrame:
        df = spark.table(table).select(
            F.lit(table).alias("g"), F.xxhash64(F.col(col)).alias("h")
        )
        return _theta_cols(_bottom_k_hashes(df, "g", "h", k), k)

    a = table_sketch("orders", "o_custkey").select(
        F.col("entries").alias("ea"), F.col("theta").alias("ta")
    )
    b = table_sketch("customer", "c_custkey").select(
        F.col("entries").alias("eb"), F.col("theta").alias("tb")
    )
    both = a.crossJoin(b).withColumn("tmin", F.least("ta", "tb"))
    # retained entries below the common theta; array algebra is exact on
    # the retained sets, so the estimate is |result| / tmin
    ests = both.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("union").alias("op"),
                    (
                        F.size(
                            F.expr(
                                "filter(array_union(ea, eb), x -> x < tmin)"
                            )
                        )
                        / F.col("tmin")
                    ).alias("est"),
                ),
                F.struct(
                    F.lit("intersect").alias("op"),
                    (
                        F.size(
                            F.expr(
                                "filter(array_intersect(ea, eb), x -> x < tmin)"
                            )
                        )
                        / F.col("tmin")
                    ).alias("est"),
                ),
                F.struct(
                    F.lit("a_not_b").alias("op"),
                    (
                        F.size(
                            F.expr("filter(array_except(ea, eb), x -> x < tmin)")
                        )
                        / F.col("tmin")
                    ).alias("est"),
                ),
            )
        ).alias("r")
    ).select("r.op", "r.est")
    exact = spark.sql(
        """
        SELECT 'union' AS op, COUNT(DISTINCT k) AS exact FROM (
            SELECT o_custkey AS k FROM orders
            UNION ALL SELECT c_custkey FROM customer) t
        UNION ALL
        SELECT 'intersect', COUNT(*) FROM (
            SELECT DISTINCT o_custkey FROM orders
            WHERE o_custkey IN (SELECT c_custkey FROM customer)) t
        UNION ALL
        SELECT 'a_not_b', COUNT(*) FROM (
            SELECT DISTINCT o_custkey FROM orders
            WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)) t
        """
    )
    return (
        ests.join(exact, "op")
        .selectExpr(
            "op",
            "exact",
            "CAST(abs(est - exact) <= greatest(0.08 * exact, 8.0) AS BOOLEAN)"
            " AS within_bound",
        )
        .orderBy("op")
    )


_THETA_ALGEBRA_SQL = """
SELECT 'a_not_b' AS op, COUNT(*) AS exact, TRUE AS within_bound FROM (
    SELECT DISTINCT o_custkey FROM orders
    WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)) t
UNION ALL
SELECT 'intersect', COUNT(*), TRUE FROM (
    SELECT DISTINCT o_custkey FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer)) t
UNION ALL
SELECT 'union', COUNT(DISTINCT k), TRUE FROM (
    SELECT o_custkey AS k FROM orders
    UNION ALL SELECT c_custkey FROM customer) t
ORDER BY op
"""


def sketch_theta_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta sketch persist/read/merge lifecycle (the ds_theta_sketch ->
    store -> ds_theta_union ACROSS stored rows path): per-returnflag
    sketches of l_orderkey written to parquet, read back, estimated per
    group, and merged into a '~TOTAL' union row."""
    views(spark, sf_dir)
    k = _THETA_K
    src = spark.table("lineitem").select(
        F.col("l_returnflag").alias("g"), F.xxhash64("l_orderkey").alias("h")
    )
    sk = _theta_cols(_bottom_k_hashes(src, "g", "h", k), k)
    path = os.path.join(
        tempfile.gettempdir(),
        f"hive_spark_theta_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    sk.write.mode("overwrite").parquet(path)
    stored = read_parquet(spark, path)

    per_group = stored.select(
        F.col("g").alias("l_returnflag"),
        _theta_estimate("entries", "theta").alias("est"),
    )
    # union across stored sketches: every retained entry below the
    # smallest theta participates (capping at k BEFORE the theta filter
    # would truncate the union and bias the estimate low — the union of
    # G saturated sketches legitimately retains up to G*k entries)
    merged = stored.agg(
        F.min("theta").alias("tmin"),
        F.array_distinct(F.flatten(F.collect_list("entries"))).alias("es"),
    ).select(
        F.lit("~TOTAL").alias("l_returnflag"),
        (F.size(F.expr("filter(es, x -> x < tmin)")) / F.col("tmin")).alias(
            "est"
        ),
    )
    exact = spark.sql(
        """
        SELECT l_returnflag, COUNT(DISTINCT l_orderkey) AS exact_orders
        FROM lineitem GROUP BY l_returnflag
        UNION ALL
        SELECT '~TOTAL', COUNT(DISTINCT l_orderkey) FROM lineitem
        """
    )
    return (
        per_group.unionAll(merged)
        .join(exact, "l_returnflag")
        .selectExpr(
            "l_returnflag",
            "exact_orders",
            "CAST(abs(est - exact_orders) <="
            " greatest(0.08 * exact_orders, 8.0) AS BOOLEAN) AS within_bound",
        )
        .orderBy("l_returnflag")
    )


_THETA_LIFECYCLE_SQL = """
SELECT l_returnflag, COUNT(DISTINCT l_orderkey) AS exact_orders,
       TRUE AS within_bound
FROM lineitem GROUP BY l_returnflag
UNION ALL
SELECT '~TOTAL', COUNT(DISTINCT l_orderkey), TRUE FROM lineitem
ORDER BY l_returnflag
"""


def sketch_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL-style quantile sketch lifecycle: per-returnflag mergeable
    row-hash samples of l_extendedprice persisted to parquet, read back,
    merged to '~TOTAL', quantiles estimated at q=0.5/0.9, and the EXACT
    rank of each estimate checked within +-0.03 of q (ref:
    DataSketchesFunctions kll family — sketch/quantile/rank/n)."""
    import numpy as np
    import pandas as pd

    views(spark, sf_dir)
    k = _THETA_K
    src = spark.table("lineitem").select(
        F.col("l_returnflag").alias("g"),
        F.xxhash64("l_orderkey", "l_linenumber").alias("h"),
        F.col("l_extendedprice").alias("v"),
    )

    def partials(batches):
        best: dict[str, tuple[np.ndarray, np.ndarray, int]] = {}
        for pdf in batches:
            for g, sub in pdf.groupby("g"):
                h = sub["h"].to_numpy(dtype=np.int64)
                v = sub["v"].to_numpy(dtype=np.float64)
                n = len(h)
                cur = best.get(g)
                if cur is not None:
                    h = np.concatenate([cur[0], h])
                    v = np.concatenate([cur[1], v])
                    n += cur[2]
                if len(h) > k:
                    idx = np.argpartition(h, k)[:k]
                    h, v = h[idx], v[idx]
                best[g] = (h, v, n)
        if best:
            yield pd.DataFrame(
                {
                    "g": list(best),
                    "hs": [b[0].tolist() for b in best.values()],
                    "vs": [b[1].tolist() for b in best.values()],
                    "n": [b[2] for b in best.values()],
                }
            )

    part = src.mapInPandas(
        partials, "g string, hs array<long>, vs array<double>, n long"
    )
    # final merge per group: bottom-k pairs by row-hash across partials
    # (collect_list sees <= #partitions arrays of <= k pairs), and the
    # TRUE row count is the sum of the partials' per-partition counts
    _by_h = (
        "(a, b) -> CASE WHEN a.hs < b.hs THEN -1"
        " WHEN a.hs > b.hs THEN 1 ELSE 0 END"
    )
    sk = part.groupBy("g").agg(
        F.expr(
            f"transform(slice(array_sort(flatten(collect_list("
            f"arrays_zip(hs, vs))), {_by_h}), 1, {k}),"
            " p -> struct(p.hs AS h, p.vs AS v))"
        ).alias("pairs"),
        F.sum("n").alias("n"),
    )
    path = os.path.join(
        tempfile.gettempdir(),
        f"hive_spark_kll_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    sk.write.mode("overwrite").parquet(path)
    stored = read_parquet(spark, path)

    # merge ALL stored sketches into '~TOTAL' (the ds_kll merge path):
    # bottom-k of the concatenated pair sets, counts added
    _by_h2 = (
        "(a, b) -> CASE WHEN a.h < b.h THEN -1"
        " WHEN a.h > b.h THEN 1 ELSE 0 END"
    )
    total = stored.agg(
        F.expr(
            f"slice(array_sort(flatten(collect_list(pairs)), {_by_h2}),"
            f" 1, {k})"
        ).alias("pairs"),
        F.sum("n").alias("n"),
    ).select(F.lit("~TOTAL").alias("g"), "pairs", "n")
    per = stored.select("g", "pairs", "n").unionAll(total)

    qs = per.select(
        "g",
        "n",
        F.explode(F.array(F.lit(0.5), F.lit(0.9))).alias("q"),
        F.expr("array_sort(transform(pairs, p -> p.v))").alias("vs"),
    ).select(
        "g",
        "n",
        "q",
        F.expr(
            "element_at(vs, CAST(greatest(1, ceil(q * size(vs))) AS INT))"
        ).alias("est_v"),
    )
    # exact rank of the estimated quantile, computed over the raw data
    lineitem = spark.table("lineitem")
    ranks = (
        qs.join(
            lineitem.select(
                F.col("l_returnflag").alias("g0"),
                F.col("l_extendedprice").alias("v0"),
            ),
            F.expr("g0 = g OR g = '~TOTAL'"),
        )
        .groupBy("g", "n", "q", "est_v")
        .agg(F.avg(F.expr("CAST(v0 <= est_v AS DOUBLE)")).alias("rank"))
    )
    return ranks.selectExpr(
        "g AS l_returnflag",
        "n",
        "q",
        "CAST(abs(rank - q) <= 0.03 AS BOOLEAN) AS within_bound",
    ).orderBy("l_returnflag", "q")


_KLL_SQL = """
SELECT l_returnflag, COUNT(*) AS n, q, TRUE AS within_bound
FROM lineitem, (SELECT 0.5 AS q UNION ALL SELECT 0.9) qs
GROUP BY l_returnflag, q
UNION ALL
SELECT '~TOTAL', COUNT(*), q, TRUE
FROM lineitem, (SELECT 0.5 AS q UNION ALL SELECT 0.9) qs
GROUP BY q
ORDER BY l_returnflag, q
"""


def sketch_tuple_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tuple sketch: theta's key sample with a per-key SUMMARY column
    (ref: DataSketchesFunctions.java tuple family — ds_tuple_arrayofdoubles
    carries per-key aggregates through sketch set operations).

    Build: aggregate orders to (custkey, revenue_cents) — the tuple
    sketch's per-key summary — then keep the k keys with smallest
    xxhash64, carrying their summaries (one agg shuffle + a p*k merge;
    the retained set is a uniform key sample with inclusion probability
    theta). Estimators: distinct customers = |retained|/theta (theta),
    total revenue = sum(retained summaries)/theta (Horvitz-Thompson over
    the key sample). Both checked against exact answers; the DuckDB
    oracle recomputes the exact side with literal TRUE."""
    import numpy as np
    import pandas as pd

    views(spark, sf_dir)
    k = _THETA_K
    per_key = (
        spark.table("orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")).alias(
                "s"
            )
        )
        .select(F.xxhash64("o_custkey").alias("h"), "s")
    )

    def partials(batches):
        hs = np.empty(0, dtype=np.int64)
        ss = np.empty(0, dtype=np.int64)
        for pdf in batches:
            hs = np.concatenate([hs, pdf["h"].to_numpy(dtype=np.int64)])
            ss = np.concatenate([ss, pdf["s"].to_numpy(dtype=np.int64)])
            if len(hs) > k:
                idx = np.argpartition(hs, k)[:k]
                hs, ss = hs[idx], ss[idx]
        if len(hs):
            yield pd.DataFrame({"hs": [hs.tolist()], "ss": [ss.tolist()]})

    part = per_key.mapInPandas(partials, "hs array<long>, ss array<long>")
    _by_h = (
        "(a, b) -> CASE WHEN a.hs < b.hs THEN -1"
        " WHEN a.hs > b.hs THEN 1 ELSE 0 END"
    )
    sk = part.agg(
        F.expr(
            f"slice(array_sort(flatten(collect_list(arrays_zip(hs, ss))),"
            f" {_by_h}), 1, {k})"
        ).alias("pairs")
    ).select(
        F.expr(f"transform(pairs, p -> {_U01.format(h='p.hs')})").alias("us"),
        F.expr("transform(pairs, p -> p.ss)").alias("sums"),
    )
    sat = F.size("us") >= k
    sk = sk.withColumn(
        "theta", F.when(sat, F.element_at("us", k)).otherwise(F.lit(1.0))
    ).select(
        (
            F.size(F.expr("filter(us, x -> x < theta)")) / F.col("theta")
        ).alias("est_distinct"),
        F.expr(
            "aggregate(zip_with(us, sums, (u, s) ->"
            " IF(u < theta, s, 0L)), 0L, (acc, x) -> acc + x)"
        ).cast("double").alias("_ret_sum"),
        "theta",
    ).select(
        "est_distinct",
        (F.col("_ret_sum") / F.col("theta") / 100.0).alias("est_revenue"),
    )
    exact = spark.sql(
        """
        SELECT COUNT(DISTINCT o_custkey) AS exact_customers,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
                 / 100 AS exact_revenue
        FROM orders
        """
    )
    return sk.crossJoin(exact).selectExpr(
        "exact_customers",
        "CAST(exact_revenue AS DECIMAL(18,2)) AS exact_revenue",
        "CAST(abs(est_distinct - exact_customers)"
        " <= greatest(0.08 * exact_customers, 8.0) AS BOOLEAN)"
        " AS distinct_within_bound",
        "CAST(abs(est_revenue - exact_revenue)"
        " <= 0.10 * exact_revenue AS BOOLEAN) AS revenue_within_bound",
    )


_TUPLE_SQL = """
SELECT COUNT(DISTINCT o_custkey) AS exact_customers,
       CAST(CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
            / 100 AS DECIMAL(18,2)) AS exact_revenue,
       TRUE AS distinct_within_bound,
       TRUE AS revenue_within_bound
FROM orders
"""


# ---------------------------------------------------------------------------
# CPC-analog coupon sketch (ds_cpc family).
#
# Hive registers ds_cpc_{sketch,union,estimate,...} (ref: ql/src/java/org/
# apache/hadoop/hive/ql/exec/DataSketchesFunctions.java:315-326). CPC's
# sparse mode collects COUPONS — (row, column) pairs where row is a
# uniform k-way hash and column is geometric — and the estimator inverts
# the expected-coupon-count curve. That structure (a distinct-coupon SET,
# merged by set union) is deliberately different from HLL's register-max
# array, and it gives CPC its defining property: the union of two coupon
# sketches IS the sketch of the unioned data, bit for bit.
#
# Build: coupon = row*64 + col computed with JVM codegen expressions
# (xxhash64 row, trailing-zeros-of-second-hash column via
# bit_count(lowbit-1)), then one partial-distinct groupBy — the shuffle
# carries <= groups x k*64 coupon ints, never N rows. Merge is
# array_distinct(flatten(...)). Estimate: a vectorized pandas UDF
# bisects n in E[C](n) = k * sum_t (1 - (1 - p_t/k)^n) — deterministic
# float math over the observed coupon count only.
#
# Oracle protocol: as the HLL family — (group, exact, within_bound)
# with the engine checking its own estimate; DuckDB emits exacts + TRUE.
# ---------------------------------------------------------------------------

_CPC_LGK = 10
_CPC_K = 1 << _CPC_LGK
_CPC_COLS = 48  # geometric column cap; tail mass 2^-48 is negligible


def _cpc_coupon_expr(v: str) -> str:
    """SQL expression for the CPC coupon of value expression `v`.

    row = pmod(xxhash64(v), k); col = trailing zeros of an independent
    63-bit hash (geometric, p=1/2), capped. bit_count(lowbit-1) counts
    trailing zeros exactly in integer arithmetic — no float log2 that
    could round 41.999... down."""
    h2 = f"(xxhash64({v}, 1) & 9223372036854775807)"
    tz = (
        f"CASE WHEN {h2} = 0 THEN {_CPC_COLS - 1} "
        f"ELSE least({_CPC_COLS - 1}, bit_count(({h2} & -{h2}) - 1)) END"
    )
    return f"CAST(pmod(xxhash64({v}), {_CPC_K}) * 64 + ({tz}) AS INT)"


def _register_cpc_estimate(spark: SparkSession) -> None:
    """`cpc_estimate(num_coupons) -> double`: invert E[C](n) by bisection
    (vectorized numpy over the handful of sketch rows)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    k = float(_CPC_K)
    probs = 2.0 ** -(np.arange(_CPC_COLS, dtype=np.float64) + 1.0)
    probs[-1] = 2.0 ** -(_CPC_COLS - 1)  # last column absorbs the tail
    log1m = np.log1p(-probs / k)  # per-column log(1 - p_t/k)

    def expected(n):  # n: (rows,) -> E[total coupons]
        return k * (1.0 - np.exp(np.outer(n, log1m))).sum(axis=1)

    # the hints must be objects for pandas_udf to read the UDF's kind,
    # so this module has no `from __future__ import annotations`
    @pandas_udf("double")
    def cpc_estimate(c: pd.Series) -> pd.Series:
        obs = c.to_numpy(dtype=np.float64)
        lo = np.zeros_like(obs)
        hi = np.full_like(obs, 2.0**50)
        for _ in range(120):
            mid = 0.5 * (lo + hi)
            below = expected(mid) < obs
            lo = np.where(below, mid, lo)
            hi = np.where(below, hi, mid)
        return pd.Series(np.where(obs <= 0.0, 0.0, 0.5 * (lo + hi)))

    spark.udf.register("cpc_estimate", cpc_estimate)


def sketch_cpc_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ds_cpc lifecycle: per-returnflag coupon sketches of l_orderkey
    persisted to parquet (sorted array<int> coupon column), read back,
    estimated per group, and set-union-merged into a '~TOTAL' row whose
    sketch is IDENTICAL to one built over the whole column."""
    views(spark, sf_dir)
    _register_cpc_estimate(spark)
    coupon = _cpc_coupon_expr("l_orderkey")
    sk = (
        spark.table("lineitem")
        .selectExpr("l_returnflag", f"{coupon} AS coupon")
        .groupBy("l_returnflag")
        .agg(F.expr("sort_array(collect_set(coupon))").alias("coupons"))
    )
    path = os.path.join(
        tempfile.gettempdir(),
        f"hive_spark_cpc_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    sk.write.mode("overwrite").parquet(path)
    stored = read_parquet(spark, path)

    per_group = stored.selectExpr(
        "l_returnflag", "cpc_estimate(size(coupons)) AS est"
    )
    merged = stored.agg(
        F.expr(
            "size(array_distinct(flatten(collect_list(coupons))))"
        ).alias("nc")
    ).selectExpr("'~TOTAL' AS l_returnflag", "cpc_estimate(nc) AS est")
    exact = spark.sql(
        """
        SELECT l_returnflag, COUNT(DISTINCT l_orderkey) AS exact_orders
        FROM lineitem GROUP BY l_returnflag
        UNION ALL
        SELECT '~TOTAL', COUNT(DISTINCT l_orderkey) FROM lineitem
        """
    )
    return (
        per_group.unionAll(merged)
        .join(exact, "l_returnflag")
        .selectExpr(
            "l_returnflag",
            "exact_orders",
            "CAST(abs(est - exact_orders) <="
            " greatest(0.05 * exact_orders, 8.0) AS BOOLEAN)"
            " AS within_bound",
        )
        .orderBy("l_returnflag")
    )


_CPC_LIFECYCLE_SQL = """
SELECT l_returnflag, COUNT(DISTINCT l_orderkey) AS exact_orders,
       TRUE AS within_bound
FROM lineitem GROUP BY l_returnflag
UNION ALL
SELECT '~TOTAL', COUNT(DISTINCT l_orderkey), TRUE FROM lineitem
ORDER BY l_returnflag
"""


def sketch_freq_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-items (heavy hitters) sketch over document tokens (ref:
    DataSketchesFunctions.java frequencies family — ds_freq_items).

    Space-saving shape: each partition computes EXACT token counts
    locally (partition-local vocabulary), emits its top-k counters plus
    the residual bound r_i = the largest dropped count; the merge sums
    counters and the bounds. Any token whose true count exceeds
    sum(r_i) is guaranteed retained, and every estimate satisfies
    exact - sum(r_i) <= est <= exact — the bound the output checks row
    by row against the exact top-10 (which the DuckDB oracle recomputes
    with literal TRUE). One linear pass + a p*k-row merge shuffle."""
    import numpy as np
    import pandas as pd

    views(spark, sf_dir)
    k = 256
    toks = spark.table("documents").select(
        F.explode(
            F.filter(F.split(F.lower("text"), " "), lambda x: x != "")
        ).alias("tok")
    )

    def partials(batches):
        from collections import Counter

        counts: Counter = Counter()
        for pdf in batches:
            counts.update(pdf["tok"].tolist())
        if not counts:
            return
        top = counts.most_common(k)
        dropped = counts.most_common(k + 1)[k:]  # [] if <= k distinct
        yield pd.DataFrame(
            {
                "tok": [t for t, _ in top],
                "cnt": np.array([c for _, c in top], dtype=np.int64),
                "residual": np.int64(dropped[0][1] if dropped else 0),
            }
        )

    part = toks.mapInPandas(partials, "tok string, cnt long, residual long")
    # the residual column repeats per row within a partition's output;
    # sum of per-partition DISTINCT residuals = the global bound. Tag
    # rows with their partition to dedupe residuals exactly.
    part = part.withColumn("pid", F.spark_partition_id())
    bound = (
        part.groupBy("pid")
        .agg(F.first("residual").alias("r"))
        .agg(F.sum("r").alias("bound"))
    )
    est = part.groupBy("tok").agg(F.sum("cnt").alias("est"))
    exact_top = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .orderBy(F.desc("exact_count"), "tok")
        .limit(10)
    )
    return (
        exact_top.join(est, "tok", "left")
        .crossJoin(bound)
        .selectExpr(
            "tok",
            "exact_count",
            "CAST(est IS NOT NULL AND est <= exact_count"
            " AND exact_count - est <= bound AS BOOLEAN) AS within_bound",
        )
        .orderBy(F.desc("exact_count"), "tok")
    )


_FREQ_SQL = """
SELECT tok, COUNT(*) AS exact_count, TRUE AS within_bound
FROM (
    SELECT unnest(list_filter(string_split(lower(text), ' '), x -> x != ''))
           AS tok
    FROM documents) t
GROUP BY tok
ORDER BY exact_count DESC, tok
LIMIT 10
"""


REGISTRY: dict[str, QuerySpec] = {
    "sketch_hll_lifecycle": QuerySpec(
        sketch_hll_lifecycle,
        _LIFECYCLE_SQL,
        "persist per-group sketches, read back, merge; error-bound vs exact",
    ),
    "sketch_hll_cross_table_union": QuerySpec(
        sketch_hll_cross_table_union,
        _CROSS_UNION_SQL,
        "sketches from two tables merged via hll_union_agg; bound vs exact",
    ),
    "sketch_theta_set_algebra": QuerySpec(
        sketch_theta_set_algebra,
        _THETA_ALGEBRA_SQL,
        "theta union/intersect/a_not_b across two tables; bound vs exact",
    ),
    "sketch_theta_lifecycle": QuerySpec(
        sketch_theta_lifecycle,
        _THETA_LIFECYCLE_SQL,
        "theta sketches persisted, read back, merged; bound vs exact",
    ),
    "sketch_kll_quantiles": QuerySpec(
        sketch_kll_quantiles,
        _KLL_SQL,
        "mergeable quantile sketches; exact-rank-of-estimate bound",
    ),
    "sketch_cpc_lifecycle": QuerySpec(
        sketch_cpc_lifecycle,
        _CPC_LIFECYCLE_SQL,
        "coupon sketches persisted, read back, set-union-merged; bound vs exact",
    ),
    "sketch_freq_items": QuerySpec(
        sketch_freq_items,
        _FREQ_SQL,
        "space-saving heavy hitters over tokens; residual-bound vs exact",
    ),
    "sketch_tuple_sum": QuerySpec(
        sketch_tuple_sum,
        _TUPLE_SQL,
        "tuple sketch: key sample + summaries; HT estimators vs exact",
    ),
}
