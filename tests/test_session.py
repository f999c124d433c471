"""Session factory: one-time function registration, the codegen class
cache sized to the engine's working set, and the driver JVM's
class-data-sharing archive."""

import os
import re

import pytest

from hive_spark import functions, session
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
    monkeypatch.setattr(session.state(spark), "funcs_registered", False)
    monkeypatch.setattr(session.state(spark), "views", None)
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    s = session.get_session(app_name="hive_spark_tests", master=f"local[{cpus}]", shuffle_partitions=8)
    assert s is spark
    views(s, sf_dir)
    assert calls == [spark]


def test_engine_state_is_per_session(spark):
    """A second Spark session's macro, function fold, explicit lock, role
    and view partition stay in that session: the first sees none of
    them, and the second still sees its own."""
    from hive_spark.hqlscript import run_script

    def seen(s):
        out = run_script(
            s,
            "DESCRIBE FUNCTION iso_twice; DESCRIBE FUNCTION iso_len;"
            " SHOW LOCKS iso_t; SHOW ROLES; SHOW PARTITIONS iso_v;",
        )
        macro, fold, locks, roles, parts = (
            [tuple(r) for r in df.collect()] for df in out.results
        )
        return {
            "macro": "engine-folded" in macro[0][0],
            "fold": "engine-folded" in fold[0][0],
            "lock": locks == [("iso_t", "EXCLUSIVE", os.getpid(), True)],
            "role": ("iso_role",) in roles,
            "partition": parts == [("p=a",)],
        }

    other = spark.newSession()
    try:
        run_script(
            other,
            "CREATE TEMPORARY MACRO iso_twice(x INT) x * 2;"
            " CREATE TEMPORARY FUNCTION iso_len AS"
            " 'org.apache.hadoop.hive.ql.udf.UDFTestLength';"
            " LOCK TABLE iso_t EXCLUSIVE; CREATE ROLE iso_role;"
            " CREATE VIEW iso_v AS SELECT 1 AS k, 'a' AS p;"
            " ALTER VIEW iso_v ADD PARTITION (p='a');",
        )
        first, second = seen(spark), seen(other)
    finally:
        run_script(spark, "DROP VIEW IF EXISTS iso_v;")
    assert not any(first.values()), first
    assert all(second.values()), second


def test_script_reset_keeps_owners_and_macros(spark):
    """The reset the qtest fixture and the triage script run between
    scripts drops a script's roles, compactions, explicit locks, view
    partitions and ADD FILE resources, and keeps table owners and the
    session's macros."""
    from hive_spark.hqlscript import run_script
    from tests.qtest_fixture_lib import reset_script_state

    other = spark.newSession()
    st = session.state(other)
    st.auth.owners[("default", "rs_t")] = "rs_owner"
    run_script(
        other,
        "CREATE ROLE rs_role; LOCK TABLE rs_t SHARED;"
        " ALTER TABLE rs_t COMPACT 'major'; ALTER VIEW rs_v ADD PARTITION (p='a');"
        f" ADD FILE {__file__}; CREATE TEMPORARY MACRO rs_m(x INT) x;",
    )
    assert "rs_role" in st.auth.roles and st.compactions and st.explicit_locks
    assert st.view_parts and st.added_files
    reset_script_state(other)
    assert "rs_role" not in st.auth.roles
    assert st.auth.owners == {("default", "rs_t"): "rs_owner"}
    assert not (st.compactions or st.explicit_locks or st.view_parts or st.added_files)
    assert "rs_m" in st.macros


def test_no_state_is_keyed_on_session_ids():
    """Per-session state has one home, session.state(spark). A module
    store keyed on the session's id() would be a second one, and would
    outlive its session."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    found = [
        f"{path.relative_to(root)}:{n}"
        for top in ("hive_spark", "scripts", "tests")
        for path in sorted((root / top).rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if re.search(r"\bid\(\s*spark\s*\)", line)
    ]
    assert found == []


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


# -- the driver JVM's class-data-sharing archive ---------------------------
# Each test starts sessions in child processes: the archive option only
# reaches a JVM at launch, and this suite's JVM is already running.

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PROBE = """
import json
from hive_spark.session import get_session
s = get_session(app_name="cds_probe", master="local[1]", shuffle_partitions=1)
jvm = s._jvm
print("PROBE " + json.dumps({
    "rows": s.sql("SELECT count(*) FROM range(7)").collect()[0][0],
    "classpath": jvm.System.getProperty("java.class.path"),
    "args": list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()),
    "marker": s.conf.get("spark.hive_spark.probe", None),
}))
"""


def _probe(scratch, **env) -> dict:
    """Start a session in a child process whose engine scratch is
    ``scratch``; its answer to a query, class path and JVM arguments."""
    import json
    import subprocess
    import sys

    child_env = {
        k: v for k, v in os.environ.items()
        if k not in ("SPARK_CONF_DIR", "PYSPARK_GATEWAY_PORT", "PYSPARK_GATEWAY_SECRET")
    }
    child_env.update(
        HIVE_SPARK_SCRATCH=str(scratch),
        SPARK_GRAFT_DRIVER_MEM="1g",
        PYTHONPATH=_REPO,
        **env,
    )
    out = subprocess.run(
        [sys.executable, "-c", _PROBE],
        capture_output=True, text=True, timeout=600, env=child_env, cwd=str(scratch),
    )
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("PROBE ")]
    assert out.returncode == 0 and lines, out.stdout[-2000:] + out.stderr[-2000:]
    return json.loads(lines[-1][len("PROBE "):])


def _key_path(scratch) -> str:
    from pyspark.find_spark_home import _find_spark_home

    key = session._archive_key(_find_spark_home())
    assert key is not None
    return os.path.join(str(scratch), "cds", f"spark-{key}.jsa")


def _archive_args(probe: dict) -> list[str]:
    return [a for a in probe["args"] if "Archive" in a or "Xlog:cds" in a]


@pytest.fixture(scope="module")
def written(tmp_path_factory):
    """A session started with no archive for its key, and the archive
    its JVM wrote at exit (deleted afterwards: pytest keeps its last
    temporary directories, and an archive is ~170 MB)."""
    import shutil

    scratch = tmp_path_factory.mktemp("cds_written")
    yield scratch, _probe(scratch)
    shutil.rmtree(scratch, ignore_errors=True)


def test_missing_archive_is_written_and_published(written):
    """With no archive for its key the JVM dumps one at exit under a
    per-process name, and the session's exit moves it to the key path."""
    scratch, probe = written
    path = _key_path(scratch)
    assert probe["rows"] == 7
    (dump, quiet) = _archive_args(probe)
    assert re.fullmatch(rf"-XX:ArchiveClassesAtExit={re.escape(path)}\.\d+\.tmp", dump)
    assert quiet == "-Xlog:cds=off"
    assert os.path.isfile(path)
    assert sorted(os.listdir(os.path.dirname(path))) == ["conf", os.path.basename(path)]


def test_archive_maps_on_the_session_class_path(written):
    """A JVM that must map the archive (-Xshare:on exits 1 when it
    cannot) accepts it on the class path the session ran with."""
    import shutil
    import subprocess

    scratch, probe = written
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get(
        "JAVA_HOME"
    ) else shutil.which("java")
    out = subprocess.run(
        [java, "-Xshare:on", f"-XX:SharedArchiveFile={_key_path(scratch)}",
         "-cp", probe["classpath"], "-version"],
        capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert "sharing" in out.stderr


@pytest.mark.parametrize("kind", ["garbage", "other_jdk"])
def test_session_starts_over_a_bad_archive(written, tmp_path, kind):
    """Garbage bytes, or an archive whose header names another JVM build,
    at the key path: the JVM declines to map it and the session runs
    from the jars."""
    scratch, _ = written
    path = _key_path(tmp_path)
    os.makedirs(os.path.dirname(path))
    if kind == "garbage":
        data = bytearray(os.urandom(1 << 16))
    else:
        with open(_key_path(scratch), "rb") as f:
            data = bytearray(f.read())
        at = data.index(b"VM (", 0, 4096) + len(b"VM (")  # "... VM (17.0.x+..."
        data[at] = ord("9") if data[at] != ord("9") else ord("8")
    with open(path, "wb") as f:
        f.write(data)
    try:
        probe = _probe(tmp_path)
    finally:
        os.remove(path)
    assert probe["rows"] == 7
    assert _archive_args(probe) == [f"-XX:SharedArchiveFile={path}"]


def test_real_conf_dir_is_kept_without_an_archive(tmp_path):
    """A conf directory that holds configuration stays on the class path
    and is read; the JVM gets no archive option, since JDK 17 refuses a
    non-empty directory on an archived class path."""
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.hive_spark.probe honoured\n")
    (conf / "log4j2.properties.template").write_text("")
    scratch = tmp_path / "scratch"
    scratch.mkdir()
    probe = _probe(scratch, SPARK_CONF_DIR=str(conf))
    assert probe["rows"] == 7
    assert probe["marker"] == "honoured"
    assert _archive_args(probe) == []
    assert probe["classpath"].split(os.pathsep)[0].rstrip("/") == str(conf)
    assert not os.path.exists(scratch / "cds")


def test_process_scratch_removed_at_exit(tmp_path):
    """A process that imports the pipeline and streaming modules, writes
    to one of their scratch directories and exits leaves neither
    ``pipeline_<pid>`` nor ``stream_<pid>`` in the engine scratch."""
    import subprocess
    import sys

    code = (
        "import os\n"
        "from hive_spark.operators import pipeline\n"
        "import hive_spark.streaming\n"
        "os.makedirs(pipeline._SCRATCH, exist_ok=True)\n"
        "open(os.path.join(pipeline._SCRATCH, 'part'), 'w').close()\n"
        "print(os.getpid())\n"
    )
    env = {**os.environ, "HIVE_SPARK_SCRATCH": str(tmp_path), "PYTHONPATH": _REPO}
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=300, env=env
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip().isdigit()
    assert os.listdir(tmp_path) == []
