"""Triage candidate reference .q scripts through run_script.

Builds the same qverbatim fixtures tests/test_qtest_verbatim.py uses,
then attempts each candidate script and reports OK(last-rowcount) or
the first error line — a scouting tool for widening the verbatim
conformance corpus (nothing here ships; passing scripts get promoted
into SMOKE_SCRIPTS with their fixture-determined counts).

Usage: python scripts/qtest_triage.py file1.q file2.q ...
       python scripts/qtest_triage.py --glob 'join*.q'
"""

import fnmatch
import re
import os
import shutil
import sys
import traceback

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

QDIR = "/root/reference/ql/src/test/queries/clientpositive"
DB = os.environ.get("QTRIAGE_DB", "qtriage")
# durable base: /tmp is purged on this host mid-sweep, which killed whole
# chunks with FAILED_READ_FILE on warehouse files (see sweep5/6 triage)
SCRATCH = os.path.expanduser(f"~/.hive_spark_scratch/{DB}")
REF_ROOT = "/root/reference/ql/src"

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hive_spark.hqlscript import LOAD_DATA_BASES, run_script  # noqa: E402
from hive_spark.session import get_session  # noqa: E402


def build_fixtures(spark):
    from tests.qtest_fixture_lib import build_qtest_fixtures

    build_qtest_fixtures(spark, DB, SCRATCH)


def main():
    args = sys.argv[1:]
    if args and args[0] == "--glob":
        names = sorted(
            f
            for f in os.listdir(QDIR)
            if any(fnmatch.fnmatch(f, g) for g in args[1:])
        )
    else:
        names = args
    # own warehouse so concurrent pytest/triage processes can't collide
    # on default-db table directories; start it clean (a killed run
    # leaves managed-table dirs that LOCATION_ALREADY_EXISTS later)
    shutil.rmtree(f"{SCRATCH}_wh", ignore_errors=True)
    spark = get_session(
        extra_conf={"spark.sql.warehouse.dir": f"{SCRATCH}_wh"}
    )
    build_fixtures(spark)
    fixture_tables = {t.name for t in spark.catalog.listTables()}
    known_dbs = {d.name for d in spark.catalog.listDatabases()}
    for fname in names:
        path = os.path.join(QDIR, fname)
        if not os.path.isfile(path):
            print(f"{fname}\tMISSING")
            continue
        text = open(path).read()
        # QTestUtil resets HiveConf between tests: snapshot every conf
        # key this script SETs so a leaked knob (shuffle partitions,
        # partitionOverwriteMode, ...) can't poison later scripts
        conf_keys = re.findall(r"(?im)^\s*set\s+([\w.]+)\s*=", text)
        conf_prev = {}
        for k in conf_keys:
            try:
                conf_prev[k] = spark.conf.get(k)
            except Exception:
                conf_prev[k] = None
        try:
            from tests.qtest_fixture_lib import ensure_declared_datasets

            ensure_declared_datasets(spark, text)
            res = run_script(spark, text)
            from tests.qtest_fixture_lib import final_rowcount

            n = final_rowcount(res)
            print(f"{fname}\tOK\t{n}")
        except Exception as e:
            errlen = int(os.environ.get("QTRIAGE_ERRLEN", "160"))
            first = str(e).replace("\n", " ")[:errlen]
            print(f"{fname}\tFAIL\t{type(e).__name__}: {first}")
        finally:
            for k, v in conf_prev.items():
                try:
                    if v is None:
                        spark.conf.unset(k)
                    else:
                        spark.conf.set(k, v)
                except Exception:
                    pass
            # QTestUtil.clearTablesCreatedDuringTests analog: drop what
            # the script created so scripts can't collide on names;
            # reset the database pointer (scripts may USE other dbs)
            try:
                from hive_spark.sources.jdbc_handler import (
                    drop_memory_databases,
                )
                from tests.qtest_fixture_lib import reset_script_state

                reset_script_state(spark)
                drop_memory_databases(spark)
                spark.conf.set("spark.sql.session.timeZone", "UTC")
                spark.catalog.setCurrentDatabase("default")
                for t in spark.catalog.listTables("default"):
                    if t.name in fixture_tables:
                        continue
                    if t.isTemporary:
                        spark.catalog.dropTempView(t.name)
                    else:
                        kind = "VIEW" if t.tableType == "VIEW" else "TABLE"
                        spark.sql(
                            f"DROP {kind} IF EXISTS `default`.`{t.name}`"
                        )
                for d in spark.catalog.listDatabases():
                    if d.name not in known_dbs:
                        spark.sql(f"DROP DATABASE IF EXISTS `{d.name}` CASCADE")
            except Exception:
                build_fixtures(spark)
                fixture_tables = {t.name for t in spark.catalog.listTables()}


if __name__ == "__main__":
    main()
