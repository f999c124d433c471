"""Session factory: one-time function registration and the codegen class
cache sized to the engine's working set."""

import os
import weakref

from hive_spark import functions, operators, session
from hive_spark.operators import full_registry, views

# perfbench's interactive_sf0.01 workload: one query of each shape the
# bench suite has, 177 distinct generated classes between them
INTERACTIVE = (
    "tpch_q1",
    "tpch_q5",
    "tpch_q6",
    "events_session",
    "text_tfidf_topk",
    "dedup_minhash_lsh",
    "training_data_pipeline",
    "tpcds_q3",
)


def test_functions_registered_once(spark, sf_dir, monkeypatch):
    """get_session and the first views() call both ask for the Hive gap
    functions; only the first request may run register_all (a second
    one replaces ~20 functions and logs a WARN for each)."""
    calls = []
    real = functions.register_all

    def counting(s):
        calls.append(s)
        real(s)

    monkeypatch.setattr(functions, "register_all", counting)
    # forget that the fixture session is registered and has views
    monkeypatch.setattr(session, "_FUNCS_REGISTERED", weakref.WeakSet())
    monkeypatch.setattr(operators, "_ACTIVE_SF", {})
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    s = session.get_session(app_name="hive_spark_tests", master=f"local[{cpus}]", shuffle_partitions=8)
    assert s is spark
    views(s, sf_dir)
    assert calls == [spark]


def _compilations(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_warm_pass_compiles_nothing(spark, sf_dir):
    """A second pass over the interactive queries finds every generated
    class in the codegen cache. With Spark's default of 100 entries the
    177 classes evicted each other and all were recompiled every pass."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "2048"
    registry = full_registry()
    views(spark, sf_dir)

    def run_pass():
        for name in INTERACTIVE:
            df = registry[name].fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()

    run_pass()
    before = _compilations(spark)
    run_pass()
    assert _compilations(spark) - before == 0
