"""Write locks + multi-statement transactions over CoW versioned tables.

Hive serializes writers through the metastore-backed lock manager and
transaction handler (ref: ql/src/java/org/apache/hadoop/hive/ql/lockmgr/
DbTxnManager.java:103 — locks acquired before the write DAG launches;
ql/.../txn/TxnHandler.java — txn state; readers keep their snapshot).
This module supplies the same two guarantees for this engine's
copy-on-write tables:

- **Exclusive write locks** (`write_lock`): lock ROWS in a central lock
  database (`hive_spark/lockdb.py` — DbTxnManager's actual
  mechanism: acquire/heartbeat/timeout rows, cross-PROCESS, SHOW LOCKS
  reads the table; see that module for why SQLite plays the
  metastore-RDBMS role in this environment). Every DML rewrite
  (`dml.update_where` / `delete_where` / `merge_into`) takes it for the
  full materialize+publish window, so two concurrent writers SERIALIZE
  instead of last-write-winning at the file level.

- **Multi-statement transactions** (`Transaction`): over
  `snapshots.py`-layout versioned tables. BEGIN pins each table's
  current version and takes its write lock; `write()` publishes new
  immutable versions; ROLLBACK flips every pointer back to the pinned
  version (version dirs written inside the txn become unreferenced —
  `snapshots.expire` reclaims them, the aborted-delta cleaner analog);
  COMMIT keeps the new pointers. Readers that opened before COMMIT keep
  their snapshot (pointer flip is atomic) — Hive ACID's reader-snapshot
  semantics.

`hqlscript` maps START TRANSACTION / BEGIN / COMMIT / ROLLBACK onto
this when the session has versioned tables registered: reads inside the
transaction go to views pinned at BEGIN (repeatable reads), and the
bracketing controls the Transaction lifecycle.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

from hive_spark import snapshots


class LockTimeout(RuntimeError):
    """Another writer holds the table lock past the timeout."""


@contextmanager
def write_lock(table_path: str, timeout: float = 30.0, poll: float = 0.05):
    """Exclusive writer lock for one table path (DbTxnManager analog).
    Blocks up to `timeout` seconds, expires dead or silent holders,
    raises LockTimeout otherwise."""
    from hive_spark import lockdb

    with lockdb.lock(table_path, timeout=timeout, poll=poll):
        yield


def list_locks(tables: dict[str, str]) -> list[dict]:
    """SHOW LOCKS analog (ref: ql/.../ddl/process/show/locks/ — Hive
    lists metastore lock rows): one row per held lock among `tables`
    (name -> path), with holder pid and liveness, read from the central
    lock database."""
    from hive_spark import lockdb

    by_path = {path: name for name, path in tables.items()}
    out = [
        {
            "table": by_path[row["path"]],
            "path": row["path"],
            "holder_pid": row["holder_pid"],
            "holder_alive": row["holder_alive"],
            "acquired_at": row["acquired_at"],
        }
        for row in lockdb.DbLockManager().locks()
        if row["path"] in by_path
    ]
    out.sort(key=lambda r: r["table"])
    return out


class Transaction:
    """Multi-statement transaction over versioned tables (name -> path).

    with Transaction(spark, {"t": path}) as txn:
        txn.write("t", df)          # new version, invisible to ROLLBACK
        ...                          # raise -> automatic rollback
    # clean exit -> COMMIT (pointers stay), locks released either way
    """

    def __init__(self, spark: SparkSession, tables: dict[str, str]):
        self.spark = spark
        self.tables = dict(tables)
        self._pinned: dict[str, int | None] = {}
        self._locks: list = []
        self.active = False

    def begin(self) -> "Transaction":
        try:
            for name, path in self.tables.items():
                cm = write_lock(path)
                cm.__enter__()
                self._locks.append((name, cm))
                ptr = os.path.join(path, "_latest")
                self._pinned[name] = (
                    snapshots.current_version(path) if os.path.exists(ptr) else None
                )
        except BaseException:
            # Partial-failure cleanup: a LockTimeout on table N must not
            # leave tables 1..N-1 locked with no handle for the caller.
            for _, cm in reversed(self._locks):
                try:
                    cm.__exit__(None, None, None)
                except Exception:
                    pass
            self._locks.clear()
            self._pinned.clear()
            raise
        self.active = True
        return self

    def pinned_version(self, name: str) -> int | None:
        return self._pinned[name]

    def read(self, name: str) -> DataFrame:
        """Repeatable read: the version pinned at BEGIN."""
        v = self._pinned[name]
        if v is None:
            raise ValueError(f"{name} had no committed version at BEGIN")
        return snapshots.read_table(self.spark, self.tables[name], v)

    def write(self, name: str, df: DataFrame) -> int:
        if not self.active:
            raise RuntimeError("transaction is not active")
        return snapshots.write_version(df, self.tables[name])

    def commit(self) -> None:
        self._finish(restore=False)

    def rollback(self) -> None:
        self._finish(restore=True)

    def _finish(self, restore: bool) -> None:
        if not self.active:
            return
        try:
            if restore:
                import shutil

                for name, path in self.tables.items():
                    v = self._pinned[name]
                    ptr = os.path.join(path, "_latest")
                    if v is None:
                        if os.path.exists(ptr):
                            os.remove(ptr)
                        continue
                    tmp = ptr + ".tmp"
                    with open(tmp, "w") as f:
                        f.write(str(v))
                    os.replace(tmp, ptr)  # same atomic flip as a write
                    # aborted-delta cleanup (Hive AcidHouseKeeper analog):
                    # versions written inside this txn were never
                    # committed, so no reader could have pinned them
                    for dead in snapshots.versions(path):
                        if dead > v:
                            shutil.rmtree(
                                os.path.join(path, f"v{dead:05d}"),
                                ignore_errors=True,
                            )
        finally:
            self.active = False
            for _, cm in reversed(self._locks):
                cm.__exit__(None, None, None)
            self._locks.clear()

    def __enter__(self) -> "Transaction":
        return self.begin()

    def __exit__(self, exc_type, exc, tb) -> None:
        if exc_type is None:
            self.commit()
        else:
            self.rollback()
