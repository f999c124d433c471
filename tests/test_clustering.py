"""Sort-clustered writes: verify the layout actually enables row-group
skipping (parquet min/max stats), not just that it runs — Hive's
SORTED BY / ORC row-index value proposition on plain parquet.

A HiveQL CTAS clusters with a REPARTITION_BY_RANGE hint, which gives each
output file a disjoint key range, and SORT BY, which sorts within each
file, so every row group's min/max covers a narrow slice and a selective
predicate prunes to the few row groups whose range intersects it. The
cost is one range shuffle at write time, paid once.

CTAS keeps the views' TIMESTAMP_NTZ ``ts`` type, which parquet stores with
statistics; the session's INT96 TIMESTAMP output carries none."""

import datetime

import pyarrow.parquet as pq

from hive_spark.hqlscript import run_script
from hive_spark.operators import views


def row_groups_matching(path, column, lo, hi):
    """(matching, total) parquet row groups whose [min,max] stats
    intersect [lo, hi] — the groups a pushed-down range predicate must
    actually read."""
    total = matching = 0
    for frag in pq.ParquetDataset(path).fragments:
        md = frag.metadata
        idx = frag.physical_schema.names.index(column)
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            total += 1
            if st is None or st.min is None:
                matching += 1  # no stats -> reader must scan it
            elif not (st.max < lo or st.min > hi):
                matching += 1
    return matching, total


def _ctas(spark, name, path, select):
    run_script(
        spark,
        f"DROP TABLE IF EXISTS {name};"
        f" CREATE TABLE {name} STORED AS PARQUET LOCATION '{path}' AS {select}",
    )


def test_clustered_layout_prunes_row_groups(spark, sf_dir, tmp_path):
    views(spark, sf_dir)
    clustered = str(tmp_path / "clustered")
    scattered = str(tmp_path / "scattered")
    _ctas(
        spark, "clu_events", clustered,
        "SELECT /*+ REPARTITION_BY_RANGE(8, ts) */ event_id, ts, value"
        " FROM events SORT BY ts",
    )
    # hash layout: no locality
    _ctas(
        spark, "clu_scattered", scattered,
        "SELECT /*+ REPARTITION(8) */ event_id, ts, value FROM events",
    )

    # one day out of the ~30-day span
    lo = datetime.datetime(2024, 1, 10)
    hi = datetime.datetime(2024, 1, 11)
    m_c, t_c = row_groups_matching(clustered, "ts", lo, hi)
    m_s, t_s = row_groups_matching(scattered, "ts", lo, hi)

    assert t_c > 0 and t_s > 0
    # scattered layout: every row group spans the full range -> none skip
    assert m_s == t_s
    # clustered layout: the day lives in a small fraction of row groups
    assert m_c * 4 <= t_c, (m_c, t_c)

    # and the clustered copy still returns the right rows
    where = "WHERE ts >= '2024-01-10' AND ts < '2024-01-11'"
    out = run_script(
        spark,
        f"SELECT count(*) FROM clu_events {where};"
        f" SELECT count(*) FROM events {where}",
    )
    got, want = (r.collect()[0][0] for r in out.results)
    assert got == want > 0
    for t in ("clu_events", "clu_scattered"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_clustered_files_have_disjoint_ranges(spark, sf_dir, tmp_path):
    views(spark, sf_dir)
    path = str(tmp_path / "li")
    _ctas(
        spark, "clu_lineitem", path,
        "SELECT /*+ REPARTITION_BY_RANGE(6, l_orderkey) */ l_orderkey,"
        " l_quantity FROM lineitem SORT BY l_orderkey",
    )

    ranges = []
    for frag in pq.ParquetDataset(path).fragments:
        md = frag.metadata
        idx = frag.physical_schema.names.index("l_orderkey")
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    overlaps = sum(
        1 for (a, b) in zip(ranges, ranges[1:]) if a[1] > b[0]
    )
    # range partitioner boundaries: at most tie-edge contact, no overlap
    assert overlaps == 0, ranges
    spark.sql("DROP TABLE IF EXISTS clu_lineitem")
