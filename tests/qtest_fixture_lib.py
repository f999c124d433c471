"""Shared qtest fixture builder: the reference's canonical test tables
(src, srcpart, src1, cbo_t1-t3, part, lineitem, srcbucket, alltypesorc),
synthesized or loaded from the reference's OWN data files
(data/files/datasets/*/load.hive.sql define the schemas; nothing is
copied into the repo — files are read from /root/reference at run time).

Used by tests/test_qtest_verbatim.py, tests/test_qtest_corpus.py and
scripts/qtest_triage.py so all three run the same catalog.
"""

import os
import re
import shutil

from pyspark.sql import functions as F

from hive_spark.session import state

REF_ROOT = "/root/reference/ql/src"
QDIR = "/root/reference/ql/src/test/queries/clientpositive"

FIXTURE_TABLES = (
    "src", "srcpart", "src1", "src_cbo", "cbo_t1", "cbo_t2", "cbo_t3",
    "part", "lineitem", "srcbucket", "srcbucket2", "alltypesorc",
    "alltypesparquet", "src_thrift", "src_json", "testdataset",
    "src_sequencefile",
)


def build_qtest_fixtures(spark, db: str, scratch: str) -> None:
    """(Re)create the canonical qtest tables IN THE DEFAULT DATABASE —
    QTestUtil loads its datasets into `default`, and many scripts
    reference them with that qualifier (`default.src`,
    `analyze table default.Employee_Part ...` after an unqualified
    CREATE), so running anywhere else diverges. `db`/`scratch` name the
    legacy per-run database/scratch, still dropped for cleanliness;
    process isolation comes from spark.sql.warehouse.dir (triage sets
    its own)."""
    from hive_spark.hqlscript import LOAD_DATA_BASES

    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    shutil.rmtree(scratch, ignore_errors=True)
    spark.catalog.setCurrentDatabase("default")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in FIXTURE_TABLES:
        spark.sql(f"DROP TABLE IF EXISTS `default`.`{t}`")
        shutil.rmtree(os.path.join(wh, t), ignore_errors=True)
    # a killed earlier process leaves managed-table dirs with no catalog
    # entry (this catalog is in-memory); orphans make later CREATEs die
    # LOCATION_ALREADY_EXISTS — sweep them
    live = {t.name.lower() for t in spark.catalog.listTables("default")}
    live_dbs = {d.name.lower() for d in spark.catalog.listDatabases()}
    if os.path.isdir(wh):
        for d in os.listdir(wh):
            p = os.path.join(wh, d)
            if not os.path.isdir(p) or d.startswith("_"):
                continue
            if d.endswith(".db"):
                # a managed database dir whose database is NOT in the
                # catalog (ephemeral metastore + persistent warehouse):
                # any CREATE TABLE inside it dies LOCATION_ALREADY_EXISTS
                # even with IF NOT EXISTS — sweep the whole orphan
                if d[: -len(".db")].lower() not in live_dbs:
                    shutil.rmtree(p, ignore_errors=True)
            elif d.lower() not in live:
                shutil.rmtree(p, ignore_errors=True)

    src = spark.range(500).select(
        ((F.col("id") * 7) % 499).cast("string").alias("key"),
        F.concat(F.lit("val_"), ((F.col("id") * 7) % 499).cast("string")).alias(
            "value"
        ),
    )
    src.write.saveAsTable("src")
    parts = spark.createDataFrame(
        [("2008-04-08", "11"), ("2008-04-08", "12"),
         ("2008-04-09", "11"), ("2008-04-09", "12")],
        "ds string, hr string",
    )
    src.crossJoin(parts).write.partitionBy("ds", "hr").saveAsTable("srcpart")
    src.limit(25).write.saveAsTable("src1")
    src.write.saveAsTable("src_cbo")
    # cbo_t1-t3 from the reference's own dataset files
    cbo_schema = ("key string, value string, c_int int, c_float float,"
                  " c_boolean boolean")
    for t in ("cbo_t1", "cbo_t2", "cbo_t3"):
        df = spark.read.csv(
            f"/root/reference/data/files/{t}.txt", schema=cbo_schema
        )
        df.withColumn("dt", F.lit("2014")).write.saveAsTable(t)
    # the canonical 26-row part dimension (reference's parquet copy)
    spark.read.parquet("/root/reference/data/files/part.parquet") \
        .write.saveAsTable("part")

    # --- datasets loaded from the reference's own data files ---
    # Session temp views (testdata base views + TPC-DS star views from
    # earlier registry tests) shadow same-named catalog tables the
    # scripts create/insert into (temp resolution wins in Spark) — drop
    # them all and invalidate the registration caches so later registry
    # queries rebuild them on demand.
    for t in spark.catalog.listTables():
        if t.isTemporary:
            spark.catalog.dropTempView(t.name)
    state(spark).views = None
    state(spark).star_dir = None
    lineitem_schema = (
        "l_orderkey int, l_partkey int, l_suppkey int, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate string, l_commitdate string, l_receiptdate string,"
        " l_shipinstruct string, l_shipmode string, l_comment string"
    )
    spark.read.csv(
        "/root/reference/data/files/tpch/tiny/lineitem.tbl.bz2",
        schema=lineitem_schema, sep="|",
    ).write.saveAsTable("lineitem")
    spark.read.csv(
        [
            "/root/reference/data/files/bucketed_files/000000_0",
            "/root/reference/data/files/bucketed_files/000001_0",
        ],
        schema="key int, value string", sep="\x01",
    ).write.bucketBy(2, "key").sortBy("key").saveAsTable("srcbucket")
    # srcbucket2: 4-bucket variant (ref: data/files/datasets/srcbucket2/
    # load.hive.sql — the bmj/00000[0-3]_0 files, CLUSTERED BY key INTO
    # 4 BUCKETS)
    spark.read.csv(
        [f"/root/reference/data/files/bmj/00000{i}_0" for i in range(4)],
        schema="key int, value string", sep="\x01",
    ).write.bucketBy(4, "key").sortBy("key").saveAsTable("srcbucket2")
    spark.read.orc(
        "/root/reference/data/files/alltypesorc"
    ).write.saveAsTable("alltypesorc")
    spark.read.orc(
        "/root/reference/data/files/alltypesorc"
    ).write.format("parquet").saveAsTable("alltypesparquet")

    # src_thrift: the reference loads complex.seq (ThriftDeserializer over
    # serde2.thrift.test.Complex); the generator is deterministic
    # (serde/src/test/.../thrift_test/CreateSequenceFile.java — 10 rows
    # from java.util.Random(20081215) + one all-null record), so the same
    # rows are synthesized here. The thrift-union columns (attributes,
    # unionfield1-3) have no Spark type and are omitted; scripts touching
    # them fail visibly rather than silently.
    def _jrand_ints(seed: int, n: int) -> list[int]:
        s = (seed ^ 0x5DEECE66D) & ((1 << 48) - 1)
        out = []
        for _ in range(n):
            s = (s * 0x5DEECE66D + 0xB) & ((1 << 48) - 1)
            v = s >> 16
            out.append(v - (1 << 32) if v >= (1 << 31) else v)
        return out

    aints = _jrand_ints(20081215, 10)

    # PropValueUnion (serde/if/test/complex.thrift) in the engine's
    # tagged-struct emulation: tag + field0..field6 per alternative
    # order <int,bigint,string,double,boolean,array<string>,
    # map<string,string>> — matches _rewrite_uniontype's layout
    def _u(tag, **kw):
        f = [None] * 7
        for k, v in kw.items():
            f[int(k[1:])] = v
        return (tag, *f)

    thrift_rows = [
        (
            aints[i],
            f"record_{i}",
            [i, i * 2, i * 3],
            [str(i * 10), str(i * 100), str(i * 1000)],
            [(i * i, str(i ** 3), i)],
            {f"key_{i}": f"value_{i}"},
            # attributes: key_i -> erVal<i> -> value_i -> double(1.0)
            {f"key_{i}": {f"erVal{i}": {f"value_{i}": _u(3, f3=1.0)}}},
            _u(2, f2=f"test{i}"),                       # stringValue
            _u(6, f6={f"key_{i}": f"value_{i}"}),       # unionMStringString
            _u(5, f5=[str(i * 10), str(i * 100), str(i * 1000)]),  # lString
        )
        for i in range(10)
    ] + [(0, None, None, None, None, None, None, None, None, None)]
    _union_t = (
        "struct<tag:int,field0:int,field1:bigint,field2:string,"
        "field3:double,field4:boolean,field5:array<string>,"
        "field6:map<string,string>>"
    )
    spark.createDataFrame(
        thrift_rows,
        "aint int, astring string, lint array<int>, lstring array<string>,"
        " lintstring array<struct<myint:int,mystring:string,"
        "underscore_int:int>>, mstringstring map<string,string>,"
        f" attributes map<string,map<string,map<string,{_union_t}>>>,"
        f" unionfield1 {_union_t}, unionfield2 {_union_t},"
        f" unionfield3 {_union_t}",
    ).coalesce(1).write.saveAsTable("src_thrift")

    # flat datasets qtests request via --! qt:dataset:<name> that the
    # synthesized fixtures above don't cover — run their own loaders.
    # NOTE: the tpch_0_001.* dataset (which creates a whole DATABASE) is
    # deliberately NOT eager: QTestUtil loads datasets per-script from
    # the --! qt:dataset: header, and an always-present tpch_0_001 db
    # broke every script whose golden asserts SHOW DATABASES ==
    # [default] (alter4.q, r9 full-suite repro). Declaring scripts get
    # it from ensure_declared_datasets(); per-script db cleanup drops it.
    for d in [
        f"/root/reference/data/files/datasets/{n}/load.hive.sql"
        for n in ("src_json", "testdataset", "src_sequencefile")
    ]:
        _run_dataset_loader(spark, d)

    # QTestUtil runs data/scripts/test_init_file.sql as the CLI init
    # file before every script (init_file.q reads the table it creates)
    spark.sql("CREATE TABLE IF NOT EXISTS tbl_created_by_init(i int)")

    # qtest LOAD DATA paths are relative to ql/src
    if REF_ROOT not in LOAD_DATA_BASES:
        LOAD_DATA_BASES.append(REF_ROOT)

    # QTestUtil creates the datasets under the SAME user that runs the
    # scripts, so in Hive that user OWNS src/srcpart/... and SQLStd
    # authorization lets it through (owner has all object privileges).
    # Scripts that SET hive.security.authorization.enabled=true (the
    # masking_*/authorization_* preamble) depend on exactly that — the
    # fixture build must record ownership the way a scripted CREATE
    # would.
    from hive_spark import authz

    for t in FIXTURE_TABLES:
        authz.record_owner(spark, f"default.{t}")


def _run_dataset_loader(spark, path: str) -> None:
    """Run one reference dataset load.hive.sql through the HiveQL
    on-ramp, idempotent across persistent warehouses (corpus runs reuse
    spark-warehouse; LOAD ... OVERWRITE re-seeds the rows)."""
    from hive_spark.hqlscript import run_script as _rs

    sql = open(path).read().replace(
        "${hiveconf:test.data.dir}", "/root/reference/data/files"
    )
    sql = re.sub(
        r"(?i)\bCREATE\s+TABLE\s+(?!IF\b)", "CREATE TABLE IF NOT EXISTS ",
        sql,
    )
    _rs(spark, sql)


def ensure_declared_datasets(spark, text: str) -> None:
    """QTestUtil-style per-script dataset setup: scripts declare the
    datasets they need via `--! qt:dataset:<name>` headers; load the
    ones that live outside the always-present default-db fixtures (the
    tpch_0_001.* family, which creates its own DATABASE). Loaded here,
    dropped again by run_and_cleanup's unknown-database sweep — so a
    script that does NOT declare them never sees the extra database."""
    if not re.search(r"--!\s*qt:dataset:tpch_0_001\.", text):
        return
    import glob as _glob

    for d in sorted(
        _glob.glob(
            "/root/reference/data/files/datasets/tpch_0_001.*/load.hive.sql"
        )
    ):
        _run_dataset_loader(spark, d)


def final_rowcount(res) -> int:
    """Manifest row count for a script result. EXPLAIN output is plan
    TEXT — its row count changes with Spark rendering details, so it is
    not a semantic signal; normalize any plan-text result to 1 row."""
    if not res.results:
        return -1
    df = res.results[-1]
    if df.columns == ["plan"]:
        return 1
    return df.count()


def _conf_overlay(spark) -> dict:
    """The session's full mutable conf map (SQLConf.getAllConfs) — the
    exact state QTestUtil resets between tests."""
    out = {}
    it = spark._jsparkSession.sessionState().conf().getAllConfs().iterator()
    while it.hasNext():
        e = it.next()
        out[e._1()] = e._2()
    return out


def reset_script_state(spark) -> None:
    """Drop the session state one script leaves that Hive's QTestUtil
    resets between tests. Roles and grants are session-scoped in Hive's
    qtests too (QTestUtil tears the session down), but table OWNERSHIP
    is metastore state (the setup user owns src/srcpart across every
    test), so owners carry over: wiping them made any later script that
    SETs authorization.enabled=true (the masking_* family's
    SQLStdHiveAuthorizerFactoryForTest preamble) deny the owner its own
    fixture tables. The compaction queue, explicit locks, view
    partitions and ADD FILE resources are metastore state QTestUtil
    resets; a leaked compaction request would inflate a later script's
    SHOW COMPACTIONS."""
    from hive_spark.authz import AuthState

    st = state(spark)
    owners = st.auth.owners
    st.auth = AuthState()
    st.auth.owners.update(owners)
    st.compactions.clear()
    st.explicit_locks.clear()
    st.view_parts.clear()
    st.added_files.clear()


def run_and_cleanup(
    spark, db: str, fname: str, fixture_tables: set, known_dbs: set | None = None
):
    """Run one verbatim script; afterwards drop whatever tables/views/
    databases it created (QTestUtil.clearTablesCreatedDuringTests /
    clearKeysCreatedInTests analog), restore every conf key the script
    SET (QTestUtil resets HiveConf between tests —
    itests/util/.../ql/QTestUtil.java), reset the per-session authz
    state, and restore the current database. Returns the ScriptResult."""
    from hive_spark.hqlscript import run_script

    path = os.path.join(QDIR, fname)
    from hive_spark.scheduled import ScheduledQueryRegistry

    sched = ScheduledQueryRegistry(spark)
    pre_sched = {q.name for q in sched.list()}
    text = open(path).read()
    # snapshot the SESSION CONF OVERLAY itself (not a regex over SET
    # lines — r6 ADVICE: keys changed via RESET, hiveconf substitution,
    # or engine code acting on the script's behalf were invisible to
    # text parsing); after the script, every added key is unset and
    # every changed key restored, so no leaked knob (authorization
    # .enabled, shuffle partitions, overwrite mode, ...) can poison
    # later tests in the shared session
    conf_prev = _conf_overlay(spark)
    ensure_declared_datasets(spark, text)
    try:
        return run_script(spark, text)
    finally:
        conf_now = _conf_overlay(spark)
        for k in conf_now.keys() - conf_prev.keys():
            try:
                spark.conf.unset(k)
            except Exception:
                pass
        for k, v in conf_prev.items():
            if conf_now.get(k) != v:
                try:
                    spark.conf.set(k, v)
                except Exception:
                    pass
        reset_script_state(spark)
        from hive_spark.sources.jdbc_handler import drop_memory_databases

        drop_memory_databases(spark)
        for q in sched.list():  # scripts' scheduled queries don't persist
            if q.name not in pre_sched:
                sched.drop(q.name)
        # scripts may SET TIME ZONE; determinism needs UTC back
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        spark.catalog.setCurrentDatabase("default")
        for t in spark.catalog.listTables("default"):
            if t.name in fixture_tables:
                continue
            if t.isTemporary:
                spark.catalog.dropTempView(t.name)
            else:
                kind = "VIEW" if t.tableType == "VIEW" else "TABLE"
                spark.sql(f"DROP {kind} IF EXISTS `default`.`{t.name}`")
        if known_dbs is not None:
            for d in spark.catalog.listDatabases():
                if d.name not in known_dbs:
                    spark.sql(f"DROP DATABASE IF EXISTS `{d.name}` CASCADE")
