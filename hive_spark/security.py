"""Policy-driven column masking + row filtering (compile-time rewrite).

Hive enforces Ranger-style data-masking and row-filter policies by
REWRITING the query at compile time: the semantic analyzer asks the
authorizer for each table's policies and replaces the table reference
with a subquery that applies the masks and the filter (ref:
ql/src/java/org/apache/hadoop/hive/ql/parse/SemanticAnalyzer.java —
applyRowFilterAndColumnMasking path; plugin interface ql/.../security/
authorization/plugin/HiveAuthorizer.java, policy objects
HivePrivilegeObject.getRowFilterExpression()/getCellValueTransformers()).
The mask FUNCTIONS (mask, mask_hash, mask_show_last_n, ...) already
exist in hive_spark.functions; this module adds the policy layer that
drives them.

Spark-first translation: instead of rewriting SQL text per query, the
policy is applied to the SESSION — `enable_for_user` replaces each
governed table's temp view with the masked+filtered projection (the
pristine relation is stashed first). Every later query — registry
DataFrame pipelines, spark.sql text, HPL/SQL — sees the governed
relation with zero per-query cost, exactly the effect of Hive's
rewrite, and Catalyst still pushes the row filter into the scan.

Policies are expressions, not callables: `{"c_name": "concat('XXX',
substr({col}, -2))"}` with `{col}` bound to the column — so the same
policy text can be mirrored by an oracle engine for verification.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from hive_spark.session import state


@dataclass
class TablePolicy:
    """Masking + row-filter policy for one table (HivePrivilegeObject
    carries the same two pieces: cell transformers + row filter)."""

    table: str
    column_masks: dict[str, str] = field(default_factory=dict)
    row_filter: str | None = None
    users: set[str] | None = None  # None = applies to every user

    def applies_to(self, user: str) -> bool:
        return self.users is None or user in self.users


_POLICIES: dict[str, TablePolicy] = {}
_STASH_SUFFIX = "__unmasked"


def register_policy(policy: TablePolicy) -> None:
    _POLICIES[policy.table.lower()] = policy


def drop_policy(table: str) -> None:
    _POLICIES.pop(table.lower(), None)


def masked_relation(df: DataFrame, policy: TablePolicy) -> DataFrame:
    """The rewritten relation: row filter first (pushable predicate),
    then per-column mask expressions — column set and order unchanged,
    so downstream queries are unaffected by the rewrite."""
    from pyspark.sql import functions as F

    out = df
    if policy.row_filter:
        out = out.filter(policy.row_filter)
    cols = [
        F.expr(policy.column_masks[c].format(col=c)).alias(c)
        if c in policy.column_masks
        else F.col(c)
        for c in df.columns
    ]
    return out.select(*cols)


def enable_for_user(spark: SparkSession, user: str) -> list[str]:
    """Swap every governed table's view for its masked relation, as seen
    by `user`. Returns the rewritten table names. Idempotent per user;
    call disable() to restore the pristine relations."""
    masking = state(spark).masking
    if masking is not None and masking[0] == user:
        return []
    disable(spark)
    rewritten = []
    for name, pol in _POLICIES.items():
        if not pol.applies_to(user):
            continue
        base = spark.table(name)
        base.createOrReplaceTempView(name + _STASH_SUFFIX)
        masked_relation(spark.table(name + _STASH_SUFFIX), pol)\
            .createOrReplaceTempView(name)
        rewritten.append(name)
    state(spark).masking = (user, list(rewritten))
    return rewritten


def disable(spark: SparkSession) -> None:
    """Restore every stashed pristine relation. Restores from the list
    recorded at enable time, NOT the live policy dict — a policy dropped
    while masking is active must still have its view unwound."""
    st = state(spark)
    if st.masking is None:
        return
    for name in st.masking[1]:
        stash = name + _STASH_SUFFIX
        try:
            spark.table(stash).createOrReplaceTempView(name)
            spark.catalog.dropTempView(stash)
        except Exception:
            pass  # stash vanished (view dropped externally)
    st.masking = None
