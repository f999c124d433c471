import os
import shutil
import sys
import tempfile

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# this host purges /tmp mid-run, which deletes pytest's own
# tmp_path root (/tmp/pytest-of-*) under a long suite and turns
# unrelated tests into FileNotFoundError churn — keep pytest temp
# dirs on durable scratch instead
_PYTEST_TMP = os.path.expanduser("~/.hive_spark_scratch/pytest_tmp")
os.makedirs(_PYTEST_TMP, exist_ok=True)
os.environ["TMPDIR"] = _PYTEST_TMP
tempfile.tempdir = None  # re-derive gettempdir() from the new TMPDIR

# hqlscript's QTEST_TMP (read at import) defaults to one directory per
# user, and the qtest-style fixtures rmtree fixed subdirectories of it;
# a directory of this run's own keeps two runs on one host from deleting
# each other's files
_OWN_QTEST_TMP = None
if "HIVE_SPARK_QTEST_TMP" not in os.environ:
    _OWN_QTEST_TMP = tempfile.mkdtemp(prefix="qtest_tmp_")
    os.environ["HIVE_SPARK_QTEST_TMP"] = _OWN_QTEST_TMP


def pytest_sessionfinish(session):
    if _OWN_QTEST_TMP:
        shutil.rmtree(_OWN_QTEST_TMP, ignore_errors=True)


SF_DIR = os.environ.get("HIVE_SPARK_TEST_SF", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    from hive_spark import get_session

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    # the status store keeps every stage, as in bench.py's session:
    # past spark.ui.retainedStages it drops skipped stages first, and
    # bench.profile_run reads every stage a job lists
    s = get_session(
        app_name="hive_spark_tests",
        master=f"local[{cpus}]",
        shuffle_partitions=8,
        extra_conf={"spark.ui.retainedStages": "100000"},
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
