"""Writer locks + multi-statement transactions (DbTxnManager analog)."""

import os

import pytest
from pyspark.sql import functions as F

from hive_spark import snapshots
from hive_spark.txn import LockTimeout, Transaction, write_lock


def test_write_lock_excludes_second_writer(tmp_path):
    path = str(tmp_path / "t")
    os.makedirs(path)
    with write_lock(path):
        with pytest.raises(LockTimeout):
            with write_lock(path, timeout=0.3):
                pass
    # released: acquirable again
    with write_lock(path, timeout=0.3):
        pass


def test_dml_rewrite_serializes_under_lock(spark, tmp_path):
    """update_where must wait for (or fail on) a held table lock instead
    of interleaving with another writer's rewrite."""
    from hive_spark.dml import update_where

    path = str(tmp_path / "t")
    spark.range(10).withColumn("v", F.lit(1)).write.parquet(path)
    with write_lock(path):
        with pytest.raises(LockTimeout):
            import hive_spark.txn as txn_mod

            orig = txn_mod.write_lock
            txn_mod.write_lock = lambda p, timeout=0.3, poll=0.05: orig(
                p, timeout=timeout, poll=poll
            )
            try:
                update_where(spark, path, F.col("id") < 5, {"v": F.lit(2)})
            finally:
                txn_mod.write_lock = orig
    # lock released: the update applies cleanly now
    update_where(spark, path, F.col("id") < 5, {"v": F.lit(2)})
    assert (
        spark.read.parquet(path).filter("v = 2").count() == 5
    )


def test_transaction_commit_and_rollback(spark, tmp_path):
    ta, tb = str(tmp_path / "a"), str(tmp_path / "b")
    snapshots.write_version(spark.range(3), ta)
    snapshots.write_version(spark.range(5), tb)

    # rollback: both tables flip back atomically
    with pytest.raises(RuntimeError, match="boom"):
        with Transaction(spark, {"a": ta, "b": tb}) as txn:
            txn.write("a", spark.range(30))
            txn.write("b", spark.range(50))
            raise RuntimeError("boom")
    assert snapshots.read_table(spark, ta).count() == 3
    assert snapshots.read_table(spark, tb).count() == 5

    # commit: both new versions visible
    with Transaction(spark, {"a": ta, "b": tb}) as txn:
        txn.write("a", spark.range(30))
        txn.write("b", spark.range(50))
    assert snapshots.read_table(spark, ta).count() == 30
    assert snapshots.read_table(spark, tb).count() == 50


def test_transaction_repeatable_read(spark, tmp_path):
    """txn.read() serves the version pinned at BEGIN even after the txn
    itself writes a newer one (reader-snapshot semantics)."""
    ta = str(tmp_path / "a")
    snapshots.write_version(spark.range(3), ta)
    with Transaction(spark, {"a": ta}) as txn:
        txn.write("a", spark.range(99))
        assert txn.read("a").count() == 3  # still the BEGIN snapshot
    assert snapshots.read_table(spark, ta).count() == 99


def test_transaction_holds_write_lock(spark, tmp_path):
    ta = str(tmp_path / "a")
    snapshots.write_version(spark.range(3), ta)
    with Transaction(spark, {"a": ta}):
        with pytest.raises(LockTimeout):
            with write_lock(ta, timeout=0.3):
                pass
    with write_lock(ta, timeout=0.3):  # released after commit
        pass


def test_hql_script_transaction_rollback(spark, tmp_path):
    """SQL-text BEGIN/ROLLBACK over a registered versioned table: a write
    inside the txn disappears on ROLLBACK; reads inside the txn are
    pinned at BEGIN."""
    from hive_spark.hqlscript import register_versioned, run_script

    ta = str(tmp_path / "vt")
    snapshots.write_version(
        spark.range(4).withColumn("v", F.lit(0)), ta
    )
    register_versioned("vt_txn_demo", ta)
    try:
        out = run_script(
            spark,
            "START TRANSACTION; SELECT COUNT(*) AS n FROM vt_txn_demo;",
        )
        # script ended with the txn open -> auto-rollback recorded
        assert any("rolled back" in s for s in out.skipped)
        assert out.results[-1].collect()[0].n == 4

        # a write between BEGIN and ROLLBACK is undone
        with Transaction(spark, {"vt_txn_demo": ta}) as t2:
            t2.write("vt_txn_demo", spark.range(100).withColumn("v", F.lit(1)))
            t2.rollback()
        assert snapshots.read_table(spark, ta).count() == 4
    finally:
        from hive_spark.hqlscript import VERSIONED_TABLES

        VERSIONED_TABLES.pop("vt_txn_demo", None)


def test_show_locks(spark, tmp_path):
    """SHOW LOCKS surfaces held writer locks for registered versioned
    tables (table, path, holder pid, liveness)."""
    from hive_spark.hqlscript import VERSIONED_TABLES, register_versioned, run_script
    from hive_spark.txn import list_locks

    ta = str(tmp_path / "locked")
    snapshots.write_version(spark.range(2), ta)
    register_versioned("locked_tbl", ta)
    try:
        assert list_locks({"locked_tbl": ta}) == []
        with write_lock(ta):
            rows = run_script(spark, "SHOW LOCKS;").results[-1].collect()
            mine = [r for r in rows if r.table == "locked_tbl"]
            assert len(mine) == 1
            assert mine[0].holder_pid > 0 and mine[0].holder_alive
        assert list_locks({"locked_tbl": ta}) == []
    finally:
        VERSIONED_TABLES.pop("locked_tbl", None)


def test_begin_partial_failure_releases_acquired_locks(spark, tmp_path):
    """LockTimeout on table N must release tables 1..N-1's locks before
    propagating — otherwise later writers block with no handle."""
    import hive_spark.txn as txn_mod

    ta, tb = str(tmp_path / "a"), str(tmp_path / "b")
    snapshots.write_version(spark.range(1), ta)
    snapshots.write_version(spark.range(1), tb)
    orig = txn_mod.write_lock
    txn_mod.write_lock = lambda p, timeout=0.3, poll=0.05: orig(
        p, timeout=timeout, poll=poll
    )
    try:
        with orig(tb):  # second table's lock is held by "another writer"
            with pytest.raises(LockTimeout):
                Transaction(spark, {"a": ta, "b": tb}).begin()
            # the first table's lock must NOT have leaked
            with orig(ta, timeout=0.3):
                pass
    finally:
        txn_mod.write_lock = orig


def test_pid_alive_eperm_means_alive(monkeypatch):
    """EPERM from kill(pid, 0) = pid exists under another user — the
    lock must be treated as held, not expired."""
    import socket

    from hive_spark.lockdb import _pid_alive_local

    def eperm(pid, sig):
        raise PermissionError("not permitted")

    monkeypatch.setattr(os, "kill", eperm)
    assert _pid_alive_local(socket.gethostname(), 12345)


def test_script_error_inside_txn_rolls_back_and_releases(spark, tmp_path):
    """A failing statement between BEGIN and COMMIT must roll the txn
    back (releasing write locks) and restore latest-version views."""
    from hive_spark.hqlscript import (
        VERSIONED_TABLES,
        register_versioned,
        run_script,
    )

    ta = str(tmp_path / "vt_err")
    snapshots.write_version(spark.range(6), ta)
    register_versioned("vt_err_demo", ta)
    try:
        with pytest.raises(Exception):
            run_script(
                spark,
                "BEGIN; SELECT * FROM table_that_does_not_exist_xyz;",
            )
        # lock released (would LockTimeout if leaked)
        with write_lock(ta, timeout=0.5):
            pass
        # view restored to the latest committed version, not the pin
        assert spark.table("vt_err_demo").count() == 6
    finally:
        VERSIONED_TABLES.pop("vt_err_demo", None)


# ---------------------------------------------------------------------------
# DB-backed lock manager (r5): DbTxnManager's real mechanism — lock ROWS
# in one central database, heartbeats, timeout expiry, cross-PROCESS.


_CHILD_ACQUIRE = """
import sys, time
sys.path.insert(0, {repo!r})
import os
os.environ["HIVE_SPARK_LOCKDB"] = {db!r}
from hive_spark.lockdb import DbLockManager
from hive_spark.txn import LockTimeout
try:
    lid = DbLockManager().acquire({path!r}, timeout={timeout})
    print("ACQUIRED", lid, flush=True)
    {after}
except LockTimeout:
    print("TIMEOUT", flush=True)
"""


def _spawn_child(tmp_path, db, path, timeout, after="pass"):
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = _CHILD_ACQUIRE.format(
        repo=repo, db=db, path=path, timeout=timeout, after=after
    )
    return subprocess.Popen(
        [sys.executable, "-c", code],
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
    )


def test_lockdb_two_processes_serialize(tmp_path, monkeypatch):
    """Two OS processes contending on the same table path serialize on
    the lock ROW: the child times out while the parent holds, then
    acquires after release."""
    db = str(tmp_path / "locks.sqlite")
    monkeypatch.setenv("HIVE_SPARK_LOCKDB", db)
    path = str(tmp_path / "t")
    from hive_spark.lockdb import DbLockManager

    mgr = DbLockManager()
    lid = mgr.acquire(path, timeout=1.0)
    try:
        child = _spawn_child(tmp_path, db, path, 0.5)
        out, _ = child.communicate(timeout=30)
        assert "TIMEOUT" in out
    finally:
        mgr.release(lid)
    child = _spawn_child(tmp_path, db, path, 2.0)
    out, _ = child.communicate(timeout=30)
    assert "ACQUIRED" in out


def test_lockdb_survives_filesystem_tricks(tmp_path, monkeypatch):
    """Deleting lock FILES can't steal a DB lock — the row is the lock."""
    db = str(tmp_path / "locks.sqlite")
    monkeypatch.setenv("HIVE_SPARK_LOCKDB", db)
    path = str(tmp_path / "t")
    os.makedirs(path)
    from hive_spark.lockdb import DbLockManager
    from hive_spark.txn import write_lock

    with write_lock(path):
        # the old file backend's artifact doesn't even exist...
        assert not os.path.exists(path + "._lock")
        # ...and planting/removing one changes nothing: still locked
        open(path + "._lock", "w").write("999999999:0")
        os.remove(path + "._lock")
        with pytest.raises(LockTimeout):
            with write_lock(path, timeout=0.4):
                pass
        assert len(DbLockManager().locks()) == 1
    assert DbLockManager().locks() == []


def test_lockdb_dead_holder_expired(tmp_path, monkeypatch):
    """A SIGKILLed holder's row is expired by the next acquirer
    (performTimeOuts analog via same-host pid probe)."""
    import signal
    import time as _t

    db = str(tmp_path / "locks.sqlite")
    monkeypatch.setenv("HIVE_SPARK_LOCKDB", db)
    path = str(tmp_path / "t")
    child = _spawn_child(
        tmp_path, db, path, 5.0, after="time.sleep(60)"
    )
    # wait for the child to report acquisition, then SIGKILL it
    line = child.stdout.readline()
    assert "ACQUIRED" in line
    child.send_signal(signal.SIGKILL)
    child.wait(timeout=30)
    from hive_spark.txn import write_lock

    t0 = _t.monotonic()
    with write_lock(path, timeout=10.0):
        pass  # acquired by expiring the dead holder's row
    assert _t.monotonic() - t0 < 8.0


def test_lockdb_show_locks_reads_db(tmp_path, monkeypatch, spark):
    """SHOW LOCKS surfaces DB lock rows for registered versioned
    tables."""
    db = str(tmp_path / "locks.sqlite")
    monkeypatch.setenv("HIVE_SPARK_LOCKDB", db)
    from hive_spark.hqlscript import VERSIONED_TABLES, register_versioned, run_script
    from hive_spark.txn import write_lock

    ta = str(tmp_path / "locked")
    snapshots.write_version(spark.range(2), ta)
    register_versioned("locked_db_tbl", ta)
    try:
        with write_lock(ta):
            rows = run_script(spark, "SHOW LOCKS;").results[-1].collect()
            mine = [r for r in rows if r.table == "locked_db_tbl"]
            assert len(mine) == 1
            assert mine[0].holder_pid == os.getpid() and mine[0].holder_alive
        rows = run_script(spark, "SHOW LOCKS;").results[-1].collect()
        assert not [r for r in rows if r.table == "locked_db_tbl"]
    finally:
        VERSIONED_TABLES.pop("locked_db_tbl", None)


def test_lockdb_lost_lock_aborts_publish(tmp_path, monkeypatch):
    """r6 ADVICE medium closed: a holder whose row was expired while it
    was paused must NOT keep writing — the next heartbeat sees 0 updated
    rows, flags the loss, and release/publish raises LockLost
    (TxnHandler aborts the txn on heartbeat miss rather than letting two
    writers proceed)."""
    import sqlite3
    import time as _t

    db = str(tmp_path / "locks.sqlite")
    monkeypatch.setenv("HIVE_SPARK_LOCKDB", db)
    path = str(tmp_path / "t")
    from hive_spark.lockdb import HEARTBEAT_S, DbLockManager, LockLost, lock

    mgr = DbLockManager()
    lid = mgr.acquire(path, timeout=1.0)
    assert not mgr.lost(lid)
    # simulate expiry-by-a-waiter: delete the row out-of-band (what
    # _expire_stale does after EXPIRE_S of silence)
    con = sqlite3.connect(db)
    con.execute("DELETE FROM hive_locks WHERE hl_id=?", (lid,))
    con.commit()
    con.close()
    # the next heartbeat updates 0 rows and flags the loss
    deadline = _t.monotonic() + HEARTBEAT_S * 4
    while not mgr.lost(lid) and _t.monotonic() < deadline:
        _t.sleep(0.1)
    assert mgr.lost(lid)
    with pytest.raises(LockLost):
        mgr.check(lid)
    with pytest.raises(LockLost):
        mgr.release(lid)
    # a second writer is free meanwhile (the row really is gone)
    mgr2 = DbLockManager()
    lid2 = mgr2.acquire(path, timeout=1.0)
    mgr2.release(lid2)

    # contextmanager form: clean exit from the body re-verifies the row —
    # the publish gate raises instead of silently succeeding
    with pytest.raises(LockLost):
        with lock(path, timeout=1.0):
            con = sqlite3.connect(db)
            con.execute("DELETE FROM hive_locks")
            con.commit()
            con.close()
    # ...but a body exception is never masked by LockLost
    with pytest.raises(ValueError, match="boom"):
        with lock(path, timeout=1.0):
            con = sqlite3.connect(db)
            con.execute("DELETE FROM hive_locks")
            con.commit()
            con.close()
            raise ValueError("boom")
