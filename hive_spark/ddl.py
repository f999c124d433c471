"""EXPORT / IMPORT (Hive: ExportSemanticAnalyzer.java,
ImportSemanticAnalyzer.java), run by HiveQL's EXPORT and IMPORT
statements in ``hqlscript``.

EXPORT writes the table's data plus a metadata descriptor so IMPORT can
recreate the table elsewhere. Same contract here: a file-level copy of the
data directory (scales as a distcp-style parallel copy in production —
never a row-level rewrite), a ``_metadata.json`` descriptor, and catalog
registration + partition repair on the way back in. This module is the
only one that knows the descriptor's layout.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import SparkSession


def _table_info(spark: SparkSession, name: str) -> dict[str, str | list[str]]:
    """Location / provider / partition columns from DESCRIBE FORMATTED."""
    rows = spark.sql(f"DESCRIBE FORMATTED {name}").collect()
    info: dict[str, str | list[str]] = {"partition_cols": []}
    in_part = False
    for r in rows:
        c = (r.col_name or "").strip()
        if c == "# Partition Information":
            in_part = True
            continue
        if in_part:
            if c.startswith("#") or not c:
                if c == "# Detailed Table Information":
                    in_part = False
                continue
            info["partition_cols"].append(c)
        elif c == "Location":
            info["location"] = r.data_type.strip()
        elif c == "Provider":
            info["provider"] = r.data_type.strip().lower()
    return info


def _as_local(location: str) -> str:
    return location.removeprefix("file:")


def export_table(spark: SparkSession, table: str, dest: str) -> str:
    """EXPORT TABLE t TO dest: copy the table's data directory plus a
    _metadata.json descriptor (schema DDL, provider, partition columns) —
    the Hive export layout (data/ + _metadata) in JSON form."""
    info = _table_info(spark, table)
    src = _as_local(str(info["location"]))
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    shutil.copytree(src, os.path.join(dest, "data"))
    schema_ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in spark.table(table).schema.fields
    )
    with open(os.path.join(dest, "_metadata.json"), "w") as fh:
        json.dump(
            {
                "table": table,
                "schema": schema_ddl,
                "provider": info.get("provider", "parquet"),
                "partition_cols": info["partition_cols"],
            },
            fh,
        )
    return dest


def import_table(spark: SparkSession, src: str, new_name: str | None) -> None:
    """IMPORT [TABLE new_name] FROM src, src an export_table() directory.
    With no name the exported table's name is used. A table that exists
    gets the exported rows appended; otherwise the table is created over
    a copy of the data and its partitions repaired, so the metastore sees
    every partition directory."""
    with open(os.path.join(src, "_metadata.json")) as fh:
        meta = json.load(fh)
    name = new_name or meta["table"].split(".")[-1]
    data = os.path.join(src, "data")
    if spark.catalog.tableExists(name):
        # ImportSemanticAnalyzer's existing-table path
        staged = spark.read.format(meta["provider"]).load(data)
        staged.select(*spark.table(name).columns).write.insertInto(name)
        return
    dest = os.path.join(
        _as_local(spark.conf.get("spark.sql.warehouse.dir")), name
    )
    shutil.rmtree(dest, ignore_errors=True)
    shutil.copytree(data, dest)
    part_cols = meta["partition_cols"]
    partitioned = f" PARTITIONED BY ({', '.join(part_cols)})" if part_cols else ""
    spark.sql(
        f"CREATE TABLE {name} ({meta['schema']}) USING {meta['provider']}"
        f"{partitioned} LOCATION '{dest}'"
    )
    if part_cols:
        spark.sql(f"MSCK REPAIR TABLE {name}")
    spark.sql(f"REFRESH TABLE {name}")
