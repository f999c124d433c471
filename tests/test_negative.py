"""Clientnegative-corpus replay: queries that must FAIL, loudly.

Hive's test strategy includes 1,046 expected-failure scripts
(ref: ql/src/test/queries/clientnegative/*.q, run by the negative
CliDriver variants in itests/util/.../CliConfigs.java). This module
replays the semantic-error families on the engine: each case cites
the clientnegative file whose failure mode it models and asserts the
engine rejects it (analysis errors at plan time, runtime errors for
data-dependent guards like assert_true and multi-row scalar
subqueries). The non-ANSI session only relaxes EXPRESSION EVALUATION
(NULL-on-error arithmetic, edge_div_by_zero); semantic analysis stays
strict, as in Hive.

The DML-layer negatives (MERGE cardinality violation, lock conflicts)
live with their modules: tests/test_dml.py, test_txn.py.
"""

import pytest
from pyspark.sql.utils import AnalysisException

from hive_spark.operators import views


@pytest.fixture(autouse=True)
def _views(spark, sf_dir):
    views(spark, sf_dir)


# (name, cited clientnegative file, SQL, exception fragment)
ANALYSIS_CASES = [
    # duplicate output alias then outer reference — Hive SemanticException
    ("ambiguous_col", "ambiguous_col.q",
     "SELECT a.c FROM (SELECT n_name AS c, n_comment AS c FROM nation) a",
     "UNRESOLVED_COLUMN"),
    # GROUP BY ordinal beyond the select list
    ("groupby_invalid_position", "groupby_invalid_position.q",
     "SELECT n_regionkey, count(*) FROM nation GROUP BY 3",
     "GROUP_BY_POS_OUT_OF_RANGE"),
    # HAVING with no GROUP BY over a non-aggregate select
    ("having_no_groupby", "having1.q",
     "SELECT * FROM nation HAVING n_nationkey > 3",
     "MISSING_GROUP_BY"),
    # CLUSTER BY combined with ORDER BY
    ("cluster_by_order_by", "clusterbyorderby.q",
     "SELECT n_name FROM nation CLUSTER BY n_name ORDER BY n_name",
     ""),  # ParseException carries no error class
    # avg(*) is not a valid aggregate call
    ("invalid_avg_syntax", "invalid_avg_syntax.q",
     "SELECT avg(*) FROM nation",
     "WRONG_NUM_ARGS"),
    # UNION arms with different column counts
    ("union_column_mismatch", "union2.q",
     "SELECT n_name, n_nationkey FROM nation"
     " UNION ALL SELECT r_name FROM region",
     "NUM_COLUMNS_MISMATCH"),
    # binary -> int cast is not defined
    ("invalid_cast_from_binary", "invalid_cast_from_binary_1.q",
     "SELECT CAST(CAST(n_name AS BINARY) AS INT) FROM nation",
     "DATATYPE_MISMATCH"),
    # unresolved column reference
    ("invalid_column", "invalid_t_column.q",
     "SELECT no_such_col FROM nation",
     "UNRESOLVED_COLUMN"),
    # DISTINCT inside a scalar (non-aggregate) function
    ("invalid_distinct", "invalid_distinct1.q",
     "SELECT hash(DISTINCT n_name) FROM nation",
     "INVALID_SQL_SYNTAX"),
    # window function in WHERE
    ("window_in_where", "ptf_negative_WhereWithRankCond.q",
     "SELECT n_name FROM nation"
     " WHERE lead(n_nationkey) OVER (ORDER BY n_nationkey) > 1",
     "window functions inside WHERE"),
    # ALTER on a nonexistent table
    ("alter_wrong_table", "alter_table_wrong_table.q",
     "ALTER TABLE no_such_table_xyz RENAME TO also_missing",
     "TABLE_OR_VIEW_NOT_FOUND"),
]


@pytest.mark.parametrize(
    "name,ref,sql,frag",
    ANALYSIS_CASES,
    ids=[c[0] for c in ANALYSIS_CASES],
)
def test_analysis_negative(spark, name, ref, sql, frag):
    with pytest.raises(Exception) as exc:
        spark.sql(sql).collect()
    assert frag in str(exc.value), (
        f"{name} (models clientnegative/{ref}) raised the wrong error:"
        f" {str(exc.value)[:200]}"
    )


def test_duplicate_column_create(spark):
    """Models clientnegative/create_or_replace_view1.q-family: duplicate
    column names in CREATE TABLE are rejected at DDL time."""
    spark.sql("DROP TABLE IF EXISTS dup_cols_neg")
    with pytest.raises(AnalysisException, match="COLUMN_ALREADY_EXISTS"):
        spark.sql("CREATE TABLE dup_cols_neg (a INT, a STRING)")


def test_scalar_subquery_multi_rows_runtime(spark):
    """Models clientnegative/subquery_scalar_multi_rows.q: a scalar
    subquery producing more than one row fails AT RUNTIME (Hive raises
    through sq_count_check; Spark through the scalar-subquery guard)."""
    with pytest.raises(Exception) as exc:
        spark.sql("SELECT (SELECT n_nationkey FROM nation) AS x").collect()
    assert "TOO_MANY_ROWS" in str(exc.value) or "More than one row" in str(
        exc.value
    ), str(exc.value)[:300]


def test_assert_true_runtime(spark):
    """Models clientnegative/udf_assert_true.q: assert_true raises on a
    false predicate even under non-ANSI evaluation — it is the one
    expression whose job IS to throw."""
    with pytest.raises(Exception, match="not true"):
        spark.sql(
            "SELECT assert_true(n_nationkey > 100) FROM nation"
        ).collect()
