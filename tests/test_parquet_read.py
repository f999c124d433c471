"""session.read_parquet: the schema of engine-written parquet comes from
the file footers on the driver, with no Spark job, and equals what
Spark's own inference returns; every other directory takes Spark's
plain read (one inference job). session.load_tables does the same for
the pyarrow-written testdata."""

import datetime
import decimal
import os
import shutil

import pytest
from pyspark.sql import functions as F

from hive_spark import session, snapshots
from hive_spark.session import read_parquet


def _jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _read_both(spark, path):
    """(helper frame, jobs it ran, plain frame)."""
    before = _jobs(spark)
    fast = read_parquet(spark, path)
    ran = _jobs(spark) - before
    return fast, ran, spark.read.parquet(path)


def _rows(df):
    return sorted(map(repr, df.collect()))


@pytest.fixture
def typed(spark):
    return spark.createDataFrame(
        [
            (
                1,
                decimal.Decimal("12.34"),
                decimal.Decimal("1234567890.0123456789"),
                datetime.date(1997, 3, 1),
                datetime.datetime(1997, 3, 1, 12, 30, 45, 123456),
                datetime.datetime(1998, 1, 2, 3, 4, 5, 6),
                b"\x00\xff",
                (7, ["a", "b"]),
                {"k": 1.5},
                "x",
            ),
            (2, None, None, None, None, None, None, None, None, "y"),
        ],
        "id int, d decimal(18,2), wide decimal(38,10), day date, ts timestamp,"
        " ntz timestamp_ntz, bin binary, st struct<n:bigint, tags:array<string>>,"
        " m map<string,double>, k string",
    )


def _engine_output(tmp_path, layout, typed):
    path = str(tmp_path / layout)
    if layout == "version":
        v = snapshots.write_version(typed, path)
        return os.path.join(path, f"v{v:05d}")
    writer = (typed.limit(0) if layout == "empty" else typed.repartition(3)).write
    if layout == "partitioned":
        writer = writer.partitionBy("k")
    writer.parquet(path)
    return path


@pytest.mark.parametrize("layout", ["flat", "partitioned", "empty", "version"])
def test_engine_output_reads_without_a_job(spark, tmp_path, typed, layout):
    fast, ran, plain = _read_both(spark, _engine_output(tmp_path, layout, typed))
    assert ran == 0
    assert fast.schema.json() == plain.schema.json()
    assert _rows(fast) == _rows(plain)


def _fallback_dirs(tmp_path, sf_dir, typed):
    # pandas-written testdata: a single file, and a directory of files
    # with no Spark schema key in the footer
    testdata = os.path.join(sf_dir, "customer.parquet")
    yield testdata
    keyless = tmp_path / "keyless"
    keyless.mkdir()
    shutil.copy(testdata, keyless / "part-0.parquet")
    yield str(keyless)
    # an append that adds a column: the files disagree
    grown = str(tmp_path / "grown")
    typed.write.parquet(grown)
    typed.selectExpr("*", "id * 2 AS extra").write.mode("append").parquet(grown)
    yield grown
    # a summary file, which Spark's inference reads first
    summarized = str(tmp_path / "summarized")
    typed.coalesce(1).write.parquet(summarized)
    part = next(f for f in os.listdir(summarized) if f.endswith(".parquet"))
    shutil.copy(
        os.path.join(summarized, part), os.path.join(summarized, "_common_metadata")
    )
    yield summarized


def test_other_dirs_fall_back_to_spark_inference(spark, sf_dir, tmp_path, typed):
    for path in _fallback_dirs(tmp_path, sf_dir, typed):
        fast, ran, plain = _read_both(spark, path)
        assert ran == 1, path
        assert fast.schema.json() == plain.schema.json(), path


def _testdata_dirs(sf_dir):
    """Every testdata scale present beside ``sf_dir`` (sf0.001, sf0.01, ...)."""
    root = os.path.dirname(os.path.abspath(sf_dir))
    return sorted(
        os.path.join(root, d) for d in os.listdir(root)
        if d.startswith("sf") and os.path.isdir(os.path.join(root, d))
    )


def _digest(df):
    return df.agg(F.count("*"), F.sum(F.xxhash64(*df.columns))).first()


def test_testdata_tables_load_without_a_job(spark, sf_dir):
    """load_tables builds each testdata schema from the pyarrow-written
    footer: Spark's inference returns the same schema, the rows read
    under it are the same, and registering the tables runs no job."""
    for d in _testdata_dirs(sf_dir):
        before = _jobs(spark)
        tables = session.load_tables(spark, d)
        assert _jobs(spark) - before == 0, d
        assert tables, d
        for name in tables:
            path = os.path.join(d, f"{name}.parquet")
            schema, _ = session._testdata_schema(path)
            plain = spark.read.parquet(path)
            assert schema.json() == plain.schema.json(), path
            assert _digest(spark.read.schema(schema).parquet(path)) == _digest(plain), path
