"""SparkSession factory + catalog bootstrap.

Hive equivalents: Driver/SessionState setup (ref: ql/src/java/org/apache/
hadoop/hive/ql/Driver.java:143) and metastore table registration (ref:
standalone-metastore/.../hive_metastore.thrift:644 `struct Table`). In the
Spark-native engine both collapse into one tuned SparkSession plus temp-view
registration over parquet directories.

Scale notes (100 TB design intent):
- AQE on: runtime coalescing, skew-join splitting, SMJ->BHJ conversion
  replace Hive's SkewJoinOptimizer / ConvertJoinMapJoin passes.
- Broadcast threshold mirrors Hive's 10 MB auto-mapjoin default
  (ref: common/.../HiveConf.java:2308) but raised to 64 MB — on a
  1000-executor cluster shipping a 64 MB table beats shuffling 100 TB.
- shuffle.partitions is a *default*; AQE coalesces down, and at cluster
  scale it should be set ~2-3x total cores by the deployment, not code.
- The codegen class cache is sized to the engine's working set. Spark
  keeps 100 generated classes by default; the eight interactive queries
  of ``perfbench`` alone generate 177, so every warm pass recompiled all
  of them in Janino (~0.8-1.6 s of a ~4 s pass on 4 cores). In local
  mode the executors share the driver JVM, so one cache serves both the
  planning-time and the in-task compiles. ``bench.py``'s best-of-2 loop
  cannot show the problem: it runs each query twice back to back, and
  one query's 4-40 classes are still cached for the second run.
- Spark spends one job per schema-less parquet read: its schema
  inference (``SchemaMergeUtils.mergeSchemasInParallel``) reads a footer
  inside a distributed job, ~65-70 ms of a warm session on 4 cores. Hive
  plans from the metastore's schema and opens no data file.
  ``read_parquet`` reads the same footer key on the driver for output
  the engine wrote: O(files) footer reads, ~0.1 ms per page-cached file
  on the same host (the 53 files of the sf 0.01 star in 6-7 ms), and
  no job. Paths that are not local directories (HDFS, object stores)
  keep Spark's inference job. ``load_tables`` maps the testdata's own
  footer (written by pyarrow, without Spark's key) the same way, so a
  cold session registers its ten tables with no job.
- A cold driver JVM spends most of its start loading, parsing and
  verifying Spark's classes from 287 jars; Hive pays the same per job,
  and Shark's and Dremel's answer is a long-lived server. ``get_session``
  keeps the classes instead: a JDK dynamic AppCDS archive of every class
  the built-in loaders loaded in one session (~160-175 MB; Janino's
  signed jar and pre-Java-6 class files are left out), mapped read-only
  by later JVMs. The first JVM for a key runs with
  ``-XX:ArchiveClassesAtExit`` and dumps at exit under a name unique to
  its process; its Python process then moves the file to the key path
  (``scratch_dir("cds")/spark-<key>.jsa``), so no JVM maps a partly
  written archive. Later JVMs run with ``-XX:SharedArchiveFile``. The key
  digests the JDK (install path, ``release``, ``lib/modules`` size and
  mtime) and Spark's jar list (names, sizes, mtimes), read from the file
  system: probing ``java -version`` would cost a JVM launch per session.
  One archive is kept, as the ones for other keys belong to a JDK or
  Spark install that is gone. There is no switch: a JVM that finds the
  archive unusable (corrupt, another build) maps nothing and loads from
  the jars as before, so results never depend on it. Archived classes
  need a class path without non-empty directories, and Spark puts its
  conf directory first; when that directory holds only ``*.template``
  files the launch points ``SPARK_CONF_DIR`` at an empty directory, and
  when it holds real configuration the JVM gets no archive. (Another
  non-empty directory on the class path, which no caller adds, fails
  the dump at exit; nothing is published.) A session whose JVM is
  already running (a foreign driver's) is not touched.
"""

from __future__ import annotations

import contextlib
import os
import weakref
from dataclasses import dataclass, field
from typing import TYPE_CHECKING, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

if TYPE_CHECKING:
    from hive_spark.authz import AuthState
    from hive_spark.plans import AggregateMV

# Tables the driver materializes at /root/testdata/sf*/ (TESTDATA.md).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _auth_state() -> AuthState:
    from hive_spark.authz import AuthState  # authz imports this module

    return AuthState()


@dataclass
class SessionState:
    """A Spark session's engine state, as Hive's ``SessionState`` holds a
    session's temporary functions, macros, locks, roles and resources."""

    funcs_registered: bool = False  # the Hive gap functions are installed
    views: tuple[str, dict[str, DataFrame]] | None = None  # (sf_dir, views)
    star_dir: str | None = None  # sf_dir of the registered TPC-DS star views
    star_mvs: dict[str, AggregateMV] = field(default_factory=dict)  # by sf_dir
    embedding_rows: dict[str, int] = field(default_factory=dict)  # by semanticHash
    masking: tuple[str, list[str]] | None = None  # (user, tables masked)
    auth: AuthState = field(default_factory=_auth_state)
    # HiveQL registries (hqlscript), by lower-case name
    explicit_locks: dict[str, str] = field(default_factory=dict)  # "TABLE:t" -> mode
    # (table, partition spec, type, state) per ALTER TABLE ... COMPACT
    compactions: list[tuple[str, str, str, str]] = field(default_factory=list)
    view_parts: dict[str, list[str]] = field(default_factory=dict)
    added_files: dict[str, str] = field(default_factory=dict)  # ADD FILE -> path
    mv_defs: dict[str, str] = field(default_factory=dict)  # MV -> its SQL
    constraints: set[str] = field(default_factory=set)  # names; informational
    macros: dict[str, tuple[list[str], str]] = field(default_factory=dict)
    matchpath_fns: set[str] = field(default_factory=lambda: {"matchpath"})  # + aliases
    func_folds: dict[str, Callable] = field(default_factory=dict)  # alias -> fold


# held weakly: a session's state goes with it
_STATES: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def state(spark: SparkSession) -> SessionState:
    """The engine state of this Spark session, made on first use."""
    if spark not in _STATES:
        _STATES[spark] = SessionState()
    return _STATES[spark]


def get_session(
    app_name: str = "hive_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    Local test default is ``local[$SPARK_GRAFT_CPUS]``; on a real cluster the
    caller passes ``master=None`` with spark-submit providing the master and
    the same configs scale up unchanged.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # -- determinism / oracle parity --------------------------------
        .config("spark.sql.session.timeZone", "UTC")
        # Hive semantics: x/0 -> NULL, invalid cast -> NULL, silent overflow
        # (Spark 4 defaults ANSI=true, which ERRORS on all three — a real
        # behavior divergence for any query over dirty data)
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.storeAssignmentPolicy", "LEGACY")
        # Hive's date_format/unix_timestamp/from_unixtime speak Java
        # SimpleDateFormat ('YYYY', 'u', 'MM/dd/yy' two-digit years);
        # Spark >= 3 errors on those patterns unless the parser runs in
        # the LEGACY (SimpleDateFormat) mode Hive uses
        .config("spark.sql.legacy.timeParserPolicy", "LEGACY")
        # Hive builds maps with HashMap.put — duplicate keys keep the
        # LAST value (str_to_map, map()); Spark 3+ errors by default
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        # deep LATERAL VIEW chains exceed the default 100 analyzer
        # iterations (lateral_view_multi.q)
        .config("spark.sql.analyzer.maxIterations", "500")
        # -- optimizer: everything Hive's Optimizer.java does, built in --
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.cbo.joinReorder.enabled", "true")
        .config("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # -- execution ---------------------------------------------------
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # TIMESTAMP(NANOS) parquet columns read as long, and load_tables
        # converts them (Spark has no ns timestamp type). The testdata
        # stores timestamp[us] (isAdjustedToUTC=false), read as TIMESTAMP_NTZ
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # static conf, so only settable here. Distinct generated classes:
        # 177 (perfbench interactive_sf0.01), 106 (etl_sf0.01), 586 (~3 MB
        # of bytecode: bench.py's 27 queries + 5 writes), 3,154 (the full
        # 253-path registry). With Spark's default of 100 the LRU evicts
        # classes before their next use and Janino compiles them again.
        .config("spark.sql.codegen.cache.maxEntries", "2048")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    # Shuffle/blockmgr scratch: /tmp is subject to tmpfiles purging on this
    # host (observed mid-run: FAILED_READ_FILE on /tmp/spark-*), so default
    # the local dir somewhere durable unless the caller already chose one.
    local_dir = os.environ.get(
        "SPARK_GRAFT_LOCAL_DIR", os.path.expanduser("~/.spark_local")
    )
    os.makedirs(local_dir, exist_ok=True)
    if "SPARK_LOCAL_DIRS" not in os.environ:
        builder = builder.config("spark.local.dir", local_dir)
    # java.io.tmpdir defaults to /tmp, where the JVM keeps its driver
    # staging dirs (/tmp/spark-<uuid>: py4j secrets, userFiles) — this
    # host's tmpfiles purger deletes them mid-run and the whole JVM dies
    # (observed r9: three concurrent sessions killed in one sweep). Keep
    # the JVM's temp root on durable scratch alongside spark.local.dir.
    jtmp = os.path.join(local_dir, "jtmp")
    os.makedirs(jtmp, exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={jtmp}"
    archive = _ClassArchive.for_launch()
    if archive is not None:
        java_opts += " " + archive.option
    builder = builder.config("spark.driver.extraJavaOptions", java_opts).config(
        "spark.executor.extraJavaOptions", f"-Djava.io.tmpdir={jtmp}"
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)

    spark = builder.getOrCreate() if archive is None else archive.launch(builder)
    spark.sparkContext.setLogLevel("WARN")
    register_functions(spark)
    return spark


class _ClassArchive:
    """The driver JVM's dynamic AppCDS archive (see the scale note)."""

    def __init__(self, key: str) -> None:
        from hive_spark.scratch import scratch_dir

        self.path = os.path.join(scratch_dir("cds"), f"spark-{key}.jsa")
        self.conf_dir = scratch_dir("cds", "conf")  # stays empty
        if os.path.isfile(self.path):
            self.tmp = None
            self.option = f"-XX:SharedArchiveFile={self.path}"
        else:
            self.tmp = f"{self.path}.{os.getpid()}.tmp"
            # the dump warns once per class it skips (signed jars, old
            # class-file versions): ~640 lines at exit
            self.option = f"-XX:ArchiveClassesAtExit={self.tmp} -Xlog:cds=off"

    @classmethod
    def for_launch(cls) -> _ClassArchive | None:
        """The archive for a driver JVM this process is about to launch;
        None when no JVM is launched (a gateway is running or given) or
        when Spark's conf directory holds configuration that would have
        to stay on the class path."""
        from pyspark import SparkContext
        from pyspark.find_spark_home import _find_spark_home

        if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
            return None
        spark_home = _find_spark_home()
        conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
        if os.path.isdir(conf) and any(
            not name.endswith(".template") for name in os.listdir(conf)
        ):
            return None
        key = _archive_key(spark_home)
        return None if key is None else cls(key)

    def launch(self, builder: SparkSession.Builder) -> SparkSession:
        """``builder.getOrCreate()`` with the empty conf directory in
        place of Spark's, and, when this JVM writes the archive, its
        publication registered for this process's exit."""
        import atexit

        from pyspark import SparkContext

        saved = os.environ.get("SPARK_CONF_DIR")
        os.environ["SPARK_CONF_DIR"] = self.conf_dir
        try:
            spark = builder.getOrCreate()
        finally:
            if saved is None:
                del os.environ["SPARK_CONF_DIR"]
            else:
                os.environ["SPARK_CONF_DIR"] = saved
        proc = getattr(SparkContext._gateway, "proc", None)
        if self.tmp is not None and proc is not None:
            atexit.register(self.publish, proc)
        return spark

    def publish(self, proc) -> None:
        """Wait for the JVM to write the archive at exit, then move it
        to the key path and delete every other archive."""
        import subprocess

        from pyspark import SparkContext

        if proc.poll() is None:
            if SparkContext._active_spark_context is not None:
                # stop it first, or its accumulator server thread dies on
                # the closed connection with a traceback
                SparkContext._active_spark_context.stop()
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=300)
            except subprocess.TimeoutExpired:
                return
        if proc.returncode == 0 and os.path.isfile(self.tmp):
            os.replace(self.tmp, self.path)
        root = os.path.dirname(self.path)
        for name in os.listdir(root):
            path = os.path.join(root, name)
            if path == self.path or not name.endswith((".jsa", ".tmp")):
                continue
            owner = name.rsplit(".", 2)[-2] if name.endswith(".tmp") else ""
            if owner.isdigit() and int(owner) != os.getpid() and _alive(int(owner)):
                continue  # another process's JVM may still be writing it
            with contextlib.suppress(FileNotFoundError):
                os.unlink(path)


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _archive_key(spark_home: str) -> str | None:
    """A digest of what the archive's classes come from: the JDK that
    ``spark-class`` runs (``$JAVA_HOME``, else ``java`` on the path) and
    Spark's jars. Read from the file system; no JVM is started. None
    when no JDK is found."""
    import hashlib
    import shutil

    java = (
        os.path.join(os.environ["JAVA_HOME"], "bin", "java")
        if os.environ.get("JAVA_HOME")
        else shutil.which("java")
    )
    if not java or not os.path.isfile(java):
        return None
    jdk = os.path.dirname(os.path.dirname(os.path.realpath(java)))
    h = hashlib.sha256(jdk.encode())
    try:
        with open(os.path.join(jdk, "release"), "rb") as f:
            h.update(f.read())
        st = os.stat(os.path.join(jdk, "lib", "modules"))
        h.update(f"{st.st_size} {st.st_mtime_ns}".encode())
        jars = sorted(os.scandir(os.path.join(spark_home, "jars")), key=lambda e: e.name)
        for e in jars:
            st = e.stat()
            h.update(f"\0{e.name} {st.st_size} {st.st_mtime_ns}".encode())
    except OSError:
        return None
    return h.hexdigest()[:16]


def register_functions(spark: SparkSession) -> None:
    """Install the Hive function gap-fill into this session's SQL
    namespace, once per session (``get_session`` and ``ensure_engine``
    both ask for it)."""
    if state(spark).funcs_registered:
        return
    from hive_spark.functions import register_all

    register_all(spark)
    state(spark).funcs_registered = True


def load_tables(
    spark: SparkSession,
    sf_dir: str = DEFAULT_SF_DIR,
    tables: tuple[str, ...] = TESTDATA_TABLES,
) -> dict[str, DataFrame]:
    """Load the testdata parquet tables as DataFrames.

    Plain `spark.read.parquet` — Catalyst handles column pruning and filter
    pushdown into the scan; nothing to hand-roll (Hive needed MapOperator +
    SerDe per format, ref: ql/.../exec/MapOperator.java:78). The schema
    comes from the parquet footer on the driver, so no table costs a
    schema-inference job (see the scale note).
    """
    from pyspark.sql import functions as F

    out: dict[str, DataFrame] = {}
    for name in tables:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        schema, ns_cols = _testdata_schema(path)
        reader = spark.read if schema is None else spark.read.schema(schema)
        df = reader.parquet(path)
        # Timestamp normalization: ms/us parquet timestamps read natively as
        # TIMESTAMP_NTZ; TIMESTAMP(NANOS) columns arrive as long (nanosAsLong)
        # and are converted here to TIMESTAMP_NTZ at microsecond precision,
        # so every table exposes one timestamp type (matching the DuckDB
        # oracle's naive timestamps under the UTC session).
        for col in ns_cols:
            df = df.withColumn(
                col,
                F.timestamp_micros(F.expr(f"`{col}` div 1000")).cast("timestamp_ntz"),
            )
        out[name] = df
    return out


def _testdata_schema(path: str) -> tuple[StructType | None, list[str]]:
    """(the schema Spark's inference would return for ``path``, or None
    when the footer's types do not map; its TIMESTAMP(NANOS) columns).

    Naive timestamps map to TIMESTAMP_NTZ and nanosecond ones to BIGINT,
    as Spark reads them under ``nanosAsLong``."""
    import pyarrow.parquet as pq
    import pyarrow.types as pat
    from pyspark.sql.pandas.types import from_arrow_schema
    from pyspark.sql.types import LongType

    if os.path.isdir(path):  # multi-file table: any part carries the schema
        parts = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
        if not parts:
            return None, []
        path = os.path.join(path, parts[0])
    arrow = pq.read_schema(path)
    ns_cols = [
        f.name for f in arrow if pat.is_timestamp(f.type) and f.type.unit == "ns"
    ]
    try:
        schema = from_arrow_schema(arrow, prefer_timestamp_ntz=True)
    except (TypeError, ValueError, KeyError):  # a type Spark's mapping lacks
        return None, ns_cols
    for f in schema.fields:
        if f.name in ns_cols:
            f.dataType = LongType()
    return schema, ns_cols


# footer key under which Spark's parquet writer stores the row schema
# as JSON (ParquetReadSupport.SPARK_METADATA_KEY)
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without Spark's schema-inference job
    when the files carry Spark's own schema (see ``_footer_schema``)."""
    schema = _footer_schema(path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def _footer_schema(path: str) -> StructType | None:
    """The schema Spark's inference would return for ``path``, read on
    the driver, or None when only Spark's own inference can say.

    For a directory Spark wrote, every data file's footer holds the row
    schema under ``_SPARK_ROW_METADATA``, and Spark's inference
    (``ParquetFileFormat.readSchemaFromFooter``) returns exactly that
    string. None unless every file holds the same parseable string: not
    a local directory, no data files, a summary file, a file without the
    key, files that disagree.
    """
    import json

    import pyarrow.parquet as pq

    try:
        found = {
            (pq.read_metadata(f).metadata or {}).get(_SPARK_ROW_METADATA)
            for f in _parquet_data_files(path)
        }
    except (OSError, ValueError):  # unreadable, or not parquet
        return None
    if len(found) != 1 or None in found:
        return None
    try:
        return StructType.fromJson(json.loads(found.pop()))
    except (ValueError, KeyError, TypeError):  # not a schema this Spark reads
        return None


def _parquet_data_files(path: str) -> list[str]:
    """The files Spark's file index would list under ``path``, or ``[]``
    when the fast path must not be taken (not a local directory, or a
    ``_metadata``/``_common_metadata`` summary file, which Spark's
    inference prefers over the data files). Hidden names are Spark's
    (``InMemoryFileIndex.shouldFilterOutPathName``): a leading ``.``, a
    leading ``_`` without ``=``, or a ``._COPYING_`` suffix."""
    if not os.path.isdir(path):
        return []
    files: list[str] = []
    stack = [path]
    while stack:
        with os.scandir(stack.pop()) as it:
            for e in it:
                if e.name.startswith(("_metadata", "_common_metadata")):
                    return []
                if (
                    e.name.startswith(".")
                    or (e.name.startswith("_") and "=" not in e.name)
                    or e.name.endswith("._COPYING_")
                ):
                    continue
                if e.is_dir():
                    stack.append(e.path)
                else:
                    files.append(e.path)
    return files


def register_views(
    spark: SparkSession,
    sf_dir: str = DEFAULT_SF_DIR,
    tables: tuple[str, ...] = TESTDATA_TABLES,
) -> dict[str, DataFrame]:
    """Register testdata tables as temp views (SQL entry point parity:
    Hive metastore tables -> Spark temp views over parquet)."""
    dfs = load_tables(spark, sf_dir, tables)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
