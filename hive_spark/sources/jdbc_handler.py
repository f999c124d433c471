"""SQL-text on-ramp for Hive's JdbcStorageHandler qtest surface.

Pieces the verbatim jdbc_*.q / external_jdbc_*.q scripts need:

- the ``--!qt:database:derby:<name>`` harness directive (ref:
  itests/util/.../QTestDatabaseHandler.java): QTestUtil boots a database
  and exports ``system:hive.test.database.<name>.jdbc.url`` (+username/
  password). Embedded Derby is the one database this environment can
  actually run, so derby directives map to an in-memory Derby instance;
  any other engine raises the honest env-blocked error.
- ``dboutput(url, user, pass, sql [, args...])`` (ref: contrib/src/java/
  org/apache/hadoop/hive/contrib/genericudf/example/GenericUDFDBOutput
  .java): executes DML/DDL over JDBC, returns 0 on success / 1 on
  failure. Executed once per call site on the driver through the JVM's
  DriverManager (the reference evaluates it per streamed row — the
  qtests' observable is the side effect + the 0/1 column, which a
  driver-side single execution reproduces deterministically).
- ``CREATE [EXTERNAL] TABLE ... STORED BY 'org.apache.hive.storage.jdbc
  .JdbcStorageHandler' TBLPROPERTIES (...)`` (ref: jdbc-handler/src/
  main/java/org/apache/hive/storage/jdbc/JdbcStorageHandler.java):
  mapped to a temp view over Spark's JDBC DataSource — filters and
  projections push to the remote scan (JDBCRelation PushedFilters).
  hive.sql.partitionColumn shards the read like JdbcInputFormat's
  splits, with MIN/MAX bounds auto-derived when the script omits them
  (JdbcInputFormat.getSplits computes them the same way); bounds only
  set stride boundaries in Spark, so staleness cannot drop rows.
  hive.sql.column.mapping renames remote columns to the hive schema.
- INSERT INTO/OVERWRITE on a handler table appends/truncate-overwrites
  through Spark's JDBC writer using the remote table's own column case.
"""

from __future__ import annotations

import re

from pyspark.sql import SparkSession

from hive_spark.sqltext import split_top

_DB_DIRECTIVE = re.compile(
    r"--!\s*qt:database:(\w+):(\w+)(?::([\w.\-]+))?", re.I
)
_INIT_SCRIPT_DIR = "/root/reference/data/scripts"

# jdbc-handler property -> Spark JDBC reader option
_PROP_MAP = {
    "hive.sql.jdbc.url": "url",
    "hive.sql.jdbc.driver": "driver",
    "hive.sql.dbcp.username": "user",
    "hive.sql.dbcp.password": "password",
    "hive.sql.table": "dbtable",
    "hive.sql.query": "query",
    "hive.sql.partitionColumn": "partitionColumn",
    "hive.sql.lowerBound": "lowerBound",
    "hive.sql.upperBound": "upperBound",
    "hive.sql.numPartitions": "numPartitions",
}

# handler tables registered this session:
# short name -> {"options": reader options, "remote_cols": native-case
#                column names of the remote relation}
HANDLER_TABLES: dict[str, dict] = {}
# in-memory Derby databases created via qt:database directives
ACTIVE_MEMORY_DBS: set[str] = set()


def database_vars(text: str, spark: SparkSession | None = None) -> dict[str, str]:
    """Resolve qt:database directives in a script to substitution vars;
    when the directive names an init script (QTestDatabaseHandler's
    initScript arg), execute it against the fresh database."""
    import os

    out: dict[str, str] = {}
    for dbtype, name, init in _DB_DIRECTIVE.findall(text):
        if dbtype.lower() != "derby":
            raise EnvironmentError(
                f"qt:database:{dbtype} needs a live {dbtype} server "
                "(env-blocked; only embedded Derby runs here)"
            )
        url = f"jdbc:derby:memory:qtest_{name};create=true"
        pfx = f"system:hive.test.database.{name}"
        out[f"{pfx}.jdbc.url"] = url
        out[f"{pfx}.jdbc.username"] = "APP"
        out[f"{pfx}.jdbc.password"] = "mine"
        fresh = name not in ACTIVE_MEMORY_DBS
        ACTIVE_MEMORY_DBS.add(name)
        if init and spark is not None and fresh:
            path = os.path.join(_INIT_SCRIPT_DIR, init)
            if os.path.isfile(path):
                for sql in open(path).read().split(";"):
                    if sql.strip():
                        rc = dboutput(spark, url, "", "", sql.strip())
                        if rc != 0:
                            raise ValueError(
                                f"qt:database init {init}: statement failed: "
                                f"{sql.strip()[:80]!r}"
                            )
    return out


def _connect(spark: SparkSession, url: str, user: str = "",
             password: str = ""):
    jvm = spark.sparkContext._jvm
    if user:
        return jvm.java.sql.DriverManager.getConnection(url, user, password)
    return jvm.java.sql.DriverManager.getConnection(url)


def dboutput(spark: SparkSession, url: str, user: str, password: str,
             sql: str, *args: str) -> int:
    """Execute one JDBC statement driver-side; 0 = success, 1 = failure
    (GenericUDFDBOutput.evaluate's contract)."""
    try:
        conn = _connect(spark, url, user, password)
        try:
            ps = conn.prepareStatement(sql)
            for i, a in enumerate(args):
                ps.setString(i + 1, a)
            ps.executeUpdate()
            ps.close()
            return 0
        finally:
            conn.close()
    except Exception:
        return 1


def drop_memory_databases(spark: SparkSession) -> None:
    """QTestDatabaseHandler teardown analog: drop the in-memory Derby
    databases and the handler views that point at them, so scripts can't
    leak tables into each other."""
    for name in list(ACTIVE_MEMORY_DBS):
        try:
            _connect(spark, f"jdbc:derby:memory:qtest_{name};drop=true")
        except Exception:
            pass  # 08006 'database dropped' is the success signal
        ACTIVE_MEMORY_DBS.discard(name)
    for short in list(HANDLER_TABLES):
        try:
            spark.catalog.dropTempView(short)
        except Exception:
            pass
        HANDLER_TABLES.pop(short, None)


_STORED_BY_JDBC = re.compile(
    r"^\s*CREATE\s+(?:EXTERNAL\s+)?(?:TEMPORARY\s+)?TABLE\s+"
    r"(?:IF\s+NOT\s+EXISTS\s+)?`?([\w.]+)`?\s*"
    r"(?:\(((?:[^()]|\([^()]*\))*)\))?\s*"
    r"(?:COMMENT\s+'[^']*'\s*)?"
    r"STORED\s+BY\s+['\"]org\.apache\.hive\.storage\.jdbc\."
    r"JdbcStorageHandler['\"]\s*"
    r"(?:WITH\s+SERDEPROPERTIES\s*\((?:[^()]|\([^)]*\))*\)\s*)?"
    r"TBLPROPERTIES\s*\(((?:[^()]|\([^)]*\))*)\)\s*$",
    re.I | re.S,
)


def try_create_jdbc_table(spark: SparkSession, stmt: str) -> bool:
    """If stmt is a JdbcStorageHandler CREATE TABLE, register the temp
    view over the remote scan and return True."""
    m = _STORED_BY_JDBC.match(stmt)
    if not m:
        return False
    name, _cols, props_csv = m.group(1), m.group(2), m.group(3)
    props: dict[str, str] = {}
    for kv in split_top(props_csv):
        if "=" in kv:
            k, v = kv.split("=", 1)
            v = v.strip().strip("'\"").replace('\\"', '"').replace("\\'", "'")
            props[k.strip().strip("'\"")] = v
    if props.get("hive.sql.database.type", "").upper() == "METASTORE":
        raise EnvironmentError(
            "hive.sql.database.type=METASTORE queries the Hive metastore "
            "RDBMS — this engine's catalog is not a JDBC endpoint"
        )
    options: dict[str, str] = {}
    for hive_key, opt in _PROP_MAP.items():
        if hive_key in props:
            v = props[hive_key]
            if opt == "url":
                # Derby rejects re-specifying creation attributes like
                # collation on an existing database
                v = re.sub(r";collation=[^;]*", "", v)
            options[opt] = v
    if "dbtable" in options:
        options.pop("query", None)  # hive.sql.table wins if both appear
    if not ("dbtable" in options or "query" in options):
        raise ValueError(
            f"JdbcStorageHandler table {name}: needs hive.sql.table "
            "or hive.sql.query"
        )
    pc = options.get("partitionColumn")
    if pc and "query" in options:
        # Spark refuses query+partitionColumn; a derived-table dbtable is
        # the same scan and keeps the sharded read
        options["dbtable"] = f"({options.pop('query')}) sq"
    if pc and not ("lowerBound" in options and "upperBound" in options):
        # JdbcInputFormat.getSplits computes MIN/MAX server-side when the
        # table doesn't declare bounds; do the same with one bounds scan
        probe_opts = {
            k: v
            for k, v in options.items()
            if k not in ("partitionColumn", "lowerBound", "upperBound",
                         "numPartitions")
        }
        probe = spark.read.format("jdbc").options(**probe_opts).load()
        pcol = next(
            (c for c in probe.columns if c.lower() == pc.lower()), None
        )
        from pyspark.sql import functions as F

        row = (
            probe.agg(F.min(pcol).alias("lo"), F.max(pcol).alias("hi"))
            .collect()[0]
            if pcol
            else None
        )
        import math

        integral = (
            row is not None
            and row.lo is not None
            and all(
                isinstance(v, int)
                or (isinstance(v, float) and math.floor(v) == v)
                for v in (row.lo, row.hi)
            )
        )
        if integral:
            options["lowerBound"] = str(int(row.lo))
            options["upperBound"] = str(int(row.hi))
            options.setdefault("numPartitions", "4")
        else:
            # empty relation, or a fractional split column Spark's JDBC
            # partitioner can't stride — unpartitioned read, still correct
            for k in ("partitionColumn", "numPartitions"):
                options.pop(k, None)
    df = spark.read.format("jdbc").options(**options).load()
    remote_cols = list(df.columns)
    mapping = props.get("hive.sql.column.mapping")
    if mapping:
        # "hive_col=REMOTE_COL, ..." (JdbcSerDe's mapping property)
        pairs = [
            tuple(x.strip() for x in kv.split("=", 1))
            for kv in mapping.split(",")
            if "=" in kv
        ]
        by_remote = {r.lower(): h for h, r in pairs}
        df = df.toDF(*[by_remote.get(c.lower(), c.lower()) for c in df.columns])
    else:
        # Hive lowercases handler column names (JdbcSerDe reads the hive
        # schema); Derby reports unquoted identifiers uppercase
        df = df.toDF(*[c.lower() for c in df.columns])
    short = name.split(".")[-1]
    df.createOrReplaceTempView(short)
    HANDLER_TABLES[short.lower()] = {
        "options": options,
        "remote_cols": remote_cols,
    }
    return True


_INSERT_HANDLER = re.compile(
    r"^\s*INSERT\s+(INTO|OVERWRITE)\s+(?:TABLE\s+)?`?([\w.]+)`?\s*"
    r"((?:SELECT|VALUES|WITH|FROM|\()[\s\S]*)$",
    re.I,
)


def try_insert_handler_table(spark: SparkSession, stmt: str) -> bool:
    m = _INSERT_HANDLER.match(stmt)
    if not m:
        return False
    verb, name, body = m.groups()
    short = name.split(".")[-1].lower()
    info = HANDLER_TABLES.get(short)
    if info is None:
        return False
    opts = info["options"]
    if "dbtable" not in opts:
        raise ValueError(f"handler table {short} is query-backed; read-only")
    from hive_spark.hqlscript import rewrite_statement

    src = spark.sql(rewrite_statement(spark, body))
    # write with the remote relation's own column case so the generated
    # INSERT's quoted identifiers resolve on the server
    src = src.toDF(*info["remote_cols"][: len(src.columns)])
    writer = (
        src.write.format("jdbc")
        .options(**{
            k: v
            for k, v in opts.items()
            if k in ("url", "driver", "user", "password", "dbtable")
        })
    )
    if verb.upper() == "OVERWRITE":
        writer.option("truncate", "true").mode("overwrite").save()
    else:
        writer.mode("append").save()
    # refresh the registered view (jdbc reads are live, but re-register
    # in case bounds-derived partitioning should now apply)
    return True


def try_alter_handler_table(spark: SparkSession, stmt: str) -> bool:
    """ALTER TABLE <handler table> SET TBLPROPERTIES: connection-pool /
    auth metadata with no scan semantics here — recorded no-op."""
    m = re.match(
        r"^\s*ALTER\s+TABLE\s+`?([\w.]+)`?\s+SET\s+TBLPROPERTIES\b", stmt,
        re.I,
    )
    return bool(m) and m.group(1).split(".")[-1].lower() in HANDLER_TABLES


def try_drop_handler_table(spark: SparkSession, stmt: str) -> bool:
    m = re.match(
        r"^\s*DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?`?([\w.]+)`?\s*$", stmt, re.I
    )
    if not m:
        return False
    short = m.group(1).split(".")[-1].lower()
    if short not in HANDLER_TABLES:
        return False
    spark.catalog.dropTempView(short)
    HANDLER_TABLES.pop(short, None)
    return True
