"""Versioned tables: snapshot isolation + time travel, copy-on-write.

Hive exposes time travel only through Iceberg tables (`FOR SYSTEM_VERSION
AS OF`, grammar ref: parser/src/java/org/apache/hadoop/hive/ql/parse/
FromClauseParser.g:220-224; handler ref: iceberg/iceberg-handler/.../
HiveIcebergStorageHandler.java:232). No Iceberg runtime exists in this
environment, so the engine supplies the same *capability* with plain
parquet: every write creates an immutable version directory and snapshot
reads address any retained version. The layout IS Iceberg's core idea
(immutable snapshots + a pointer), minus manifests/statistics.

Layout:  <table>/v00000/ v00001/ ... + <table>/_latest (text pointer)

- writes are atomic: data lands in the new version dir first, the pointer
  file is replaced last (a reader never observes a half-written version)
- readers pin a version at open, so long queries are snapshot-isolated
  from concurrent writers (Hive ACID's reader-snapshot semantics)
- `expire(keep_last=N)` is the compaction/retention analog
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from hive_spark.session import read_parquet

_PTR = "_latest"


def _vdir(path: str, v: int) -> str:
    return os.path.join(path, f"v{v:05d}")


def current_version(path: str) -> int:
    with open(os.path.join(path, _PTR)) as f:
        return int(f.read().strip())


def versions(path: str) -> list[int]:
    return sorted(
        int(d[1:]) for d in os.listdir(path) if d.startswith("v") and d[1:].isdigit()
    )


def write_version(df: DataFrame, path: str) -> int:
    """Append a new immutable version; returns its number. Allocation is
    max(existing)+1, not pointer+1 — after a transaction ROLLBACK the
    pointer rewinds but aborted version dirs may still be on disk."""
    os.makedirs(path, exist_ok=True)
    vs = versions(path)
    v = (vs[-1] + 1) if vs else 0
    df.write.mode("errorifexists").parquet(_vdir(path, v))
    tmp = os.path.join(path, _PTR + ".tmp")
    with open(tmp, "w") as f:
        f.write(str(v))
    os.replace(tmp, os.path.join(path, _PTR))  # atomic pointer flip
    return v


def read_table(spark: SparkSession, path: str, version: int | None = None) -> DataFrame:
    """Latest snapshot, or `FOR SYSTEM_VERSION AS OF version`."""
    v = current_version(path) if version is None else version
    vd = _vdir(path, v)
    if not os.path.isdir(vd):
        raise FileNotFoundError(f"version {v} of {path} does not exist (expired?)")
    return read_parquet(spark, vd)


def expire(path: str, keep_last: int = 2) -> list[int]:
    """Drop all but the newest `keep_last` versions (retention/compaction
    analog, Hive ql/.../txn/compactor/). Returns expired version numbers."""
    vs = versions(path)
    cur = current_version(path)
    to_drop = [v for v in vs[:-keep_last] if v != cur]
    for v in to_drop:
        shutil.rmtree(_vdir(path, v), ignore_errors=True)
    return to_drop


def history(spark: SparkSession, path: str) -> DataFrame:
    """Snapshot history relation (Iceberg's `<table>$history` /
    `$snapshots` metadata-table analog, ref: iceberg-handler
    HiveIcebergStorageHandler metadata tables): one row per retained
    version with its commit time, current-pointer flag, and schema —
    schema is PER VERSION, so this also surfaces schema evolution."""
    import datetime

    from pyspark.sql import Row

    cur = current_version(path)
    rows = []
    for v in versions(path):
        vd = _vdir(path, v)
        mtime = datetime.datetime.fromtimestamp(
            os.stat(vd).st_mtime, tz=datetime.timezone.utc
        ).replace(tzinfo=None)
        schema = read_parquet(spark, vd).columns
        rows.append(
            Row(
                version=v,
                committed_at=mtime,
                is_current=(v == cur),
                columns=schema,
            )
        )
    return spark.createDataFrame(rows)


def evolve_add_columns(
    spark: SparkSession, path: str, new_cols: dict[str, str]
) -> int:
    """Schema evolution, add-column flavor (Iceberg's most common DDL):
    publish a NEW version whose schema adds `new_cols` (name -> SQL
    expression over the existing columns, or a literal for a constant
    default). Old versions keep their original schema — time travel
    returns the schema AS OF that version, exactly like Iceberg."""
    from pyspark.sql import functions as F

    df = read_table(spark, path)
    for name, expr in new_cols.items():
        df = df.withColumn(name, F.expr(expr))
    return write_version(df, path)
