"""The engine facade — one object with Hive's operational surface.

A HiveServer2 user talks to one endpoint that parses HiveQL, consults
the results cache, fires MV rewrites, and executes (ref: service/src/
java/org/apache/hive/service/cli/session/HiveSessionImpl.java +
ql/Driver.java compile/execute pipeline). `Engine` is that endpoint for
this engine: SQL in, DataFrame out, with the plan-level services applied
in the same order Hive applies them —

    sql text -> spark.sql (parse/analyze)
             -> MV containment rewrite  (AggregateMV.try_rewrite)
             -> results cache           (plan-fingerprint lookup)
             -> CTE spool, execute      (cte_spool.spool_ctes)

Multi-statement scripts route through `hqlscript.run_script`; DDL and
DML statements execute directly (caching only reads is Hive's rule too:
QueryResultsCache.java admits SELECTs only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from hive_spark.hqlscript import ScriptResult, rewrite_statement, run_script
from hive_spark.operators import ensure_engine, views
from hive_spark.plans import AggregateMV, ResultsCache
from hive_spark.plans.cte_spool import spool_ctes


class Engine:
    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str | None = None,
        cache_root: str | None = None,
    ):
        self.spark = spark
        ensure_engine(spark)
        if sf_dir is not None:
            views(spark, sf_dir)
        self.cache = ResultsCache(spark, root=cache_root)
        self.mvs: list[AggregateMV] = []
        self.stats = {"mv_hits": 0, "cache_hits": 0}

    # -- materialized views ------------------------------------------------
    def create_aggregate_mv(
        self,
        name: str,
        base_df: DataFrame,
        group_keys: list[str],
        measures: dict[str, tuple[str, str]],
    ) -> AggregateMV:
        mv = AggregateMV(self.spark, name, base_df, group_keys, measures)
        self.mvs.append(mv)
        return mv

    def _rewrite(self, df: DataFrame) -> tuple[DataFrame, bool]:
        for mv in self.mvs:
            hit = mv.try_rewrite(df)
            if hit is not None:
                return hit, True
        return df, False

    # -- statements --------------------------------------------------------
    def _plan(self, text: str) -> tuple[str, DataFrame]:
        """The statement after the HiveQL rewrites, and its plan with every
        CTE inline: the MV registry and the results cache match on it (a
        spooled CTE's checkpoint scan would hide the CTE's body)."""
        text = rewrite_statement(self.spark, text)
        return text, self.spark.sql(text)

    def sql(self, text: str, use_cache: bool = False) -> DataFrame:
        """One statement. MV rewrite always consults the registry;
        `use_cache=True` additionally serves/stores by plan fingerprint
        (reads only — statements without a result shape skip both). The
        CTE spool (3 references) runs only when base tables answer it."""
        from hive_spark import authz

        authz.check_statement(self.spark, text)
        text, df = self._plan(text)
        if not df.columns:  # DDL/DML — spark.sql ran it; never cache
            return df
        df, mv_hit = self._rewrite(df)
        self.stats["mv_hits"] += mv_hit

        def run() -> DataFrame:
            spooled = text if mv_hit else spool_ctes(self.spark, text)
            return df if spooled == text else self.spark.sql(spooled)

        if not use_cache:
            return run()
        # keyed on the POST-rewrite plan (Hive caches what it will
        # actually execute, after its own compile-time rewrites)
        df, cache_hit = self.cache.get_or_compute(df, run)
        self.stats["cache_hits"] += cache_hit
        return df

    def explain_rewrite(self, text: str) -> bool:
        """True when the MV registry would serve this statement."""
        df = self._plan(text)[1]
        return df.columns != [] and self._rewrite(df)[1]

    def script(self, text: str) -> ScriptResult:
        return run_script(self.spark, text)

    def procedure(self, text: str):
        """Run an HPL/SQL procedural script (DECLARE/IF/WHILE/FOR over
        engine SQL); returns HplResult (printed lines + variables)."""
        from hive_spark.hplsql import run_hplsql

        return run_hplsql(self.spark, text)
