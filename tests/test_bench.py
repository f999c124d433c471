"""The bench suite's one timing loop (``bench.profile_run``) and the
import chain the benchmark harness loads: ``perfbench/check.py`` imports
``bench_compare``, which imports names from ``bench``."""

import importlib.util
import os

import pytest

import bench
from hive_spark.operators import full_registry, views

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def tiny_dir(spark, sf_dir):
    """The sf 0.001 testdata beside the suite's own; the suite's views
    are registered again afterwards."""
    d = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if not os.path.isdir(d):
        pytest.skip(f"no testdata at {d}")
    yield d
    views(spark, sf_dir)


def _counts(p):
    """(build jobs, run jobs, stages, tasks) of a profile's last rep."""
    b, r = p["build"], p["run"]
    return (b["jobs"], r["jobs"], b["stages"] + r["stages"], b["tasks"] + r["tasks"])


def test_profile_run_tags_and_repeats(spark, tiny_dir):
    registry = full_registry()
    store = spark.sparkContext._jsc.sc().statusStore()
    profiles = {}
    for name in ("tpch_q6", "training_data_pipeline"):
        first = bench.profile_run(spark, name, registry[name].fn, tiny_dir)
        second = bench.profile_run(spark, name, registry[name].fn, tiny_dir)
        for key in ("median_s", "q1_s", "q3_s", "reps_s", "build_s", "run_s",
                    "job_ids", "build", "run", "catalyst"):
            assert key in first, key
        assert len(first["reps_s"]) == 3
        assert first["q1_s"] <= first["median_s"] <= first["q3_s"]
        assert set(first["catalyst"]) == {"analysis", "optimization", "planning"}
        j0, j1, j2 = first["job_ids"]
        assert first["build"]["jobs"] == j1 - j0
        assert first["run"]["jobs"] == j2 - j1 >= 1
        for jid in range(j0, j2):
            desc = store.job(jid).description()
            assert desc.isDefined() and desc.get() == name, (name, jid)
        assert _counts(first) == _counts(second), name
        profiles[name] = first
    # the pipeline's eager partitioned write runs inside fn
    assert profiles["training_data_pipeline"]["build"]["jobs"] >= 1


def test_benchmark_oracle_loads(tiny_dir):
    """perfbench/check.py loaded by path, as perfbench/run.py uses it: a
    name dropped from bench.py or bench_compare.py fails here."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_check", os.path.join(_REPO, "perfbench", "check.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    mod.Oracle(tiny_dir, 1)
