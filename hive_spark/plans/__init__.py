"""Plan-level engine components: the pieces Catalyst does NOT provide.

SURVEY §4 bottom line: of Hive's ~45 rewrites all but four are Catalyst/AQE
built-ins. This package implements the custom remainder that is practical
and useful at 100 TB:

- plan fingerprinting (canonical hash of the optimized logical plan)
- query-results cache keyed on plan fingerprint (Hive QueryResultsCache,
  ref: ql/src/java/org/apache/hadoop/hive/ql/cache/results/
  QueryResultsCache.java:83 — cross-query answer reuse)
- materialized views with exact-plan rewrite (the exact-match subset of
  Hive's Calcite MV rewrite, ref: ql/.../optimizer/calcite/rules/views/
  HiveMaterializedViewsRegistry.java)
- aggregate materialized views with containment rewrite, over one table
  or a fact joined with dimensions (`AggregateMV`, the aggregate rule of
  HiveMaterializedViewRule.java in the same directory)
- salted two-stage aggregation for skewed group keys (Hive
  SkewJoinOptimizer/GroupByOperator skew path, ref: ql/.../optimizer/
  SkewJoinOptimizer.java:78 — for *joins* AQE handles skew at runtime,
  but a skewed groupBy key still needs salting)

Fingerprint determinism: Spark renumbers expression IDs (#123) per plan,
so the canonical form strips them; everything else of the optimized plan
(operators, expressions, literals, scan locations) participates.
"""

from __future__ import annotations

import hashlib
import weakref
import os
import re
import shutil

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

from hive_spark.session import read_parquet

_EXPR_ID = re.compile(r"#\d+L?")


def plan_fingerprint(df: DataFrame) -> str:
    """Canonical md5 of the *optimized* logical plan (stable across
    sessions for the same query over the same tables)."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return hashlib.md5(_EXPR_ID.sub("#x", plan).encode()).hexdigest()


# live caches, so an ACID write can invalidate every session's entries
# (Hive QueryResultsCache invalidates on table writes the same way)
_LIVE_CACHES: "weakref.WeakSet" = weakref.WeakSet()


def invalidate_results_caches() -> None:
    """Called by dml._rewrite after any copy-on-write table rewrite: a
    flat-path rewrite keeps the same scan location, so a cached plan
    fingerprint would otherwise serve PRE-write results."""
    for cache in list(_LIVE_CACHES):
        cache.clear()


class ResultsCache:
    """Cross-query results cache: fingerprint -> parquet snapshot.

    `get_or_compute(df)` returns the cached relation when an identical
    optimized plan was materialized before (Hive QueryResultsCache.java:83
    semantics: exact-plan match). ACID writes through dml.py invalidate
    every live cache (Hive invalidates on table writes the same way);
    out-of-band file mutations still need an explicit `clear()`.
    """

    def __init__(self, spark: SparkSession, root: str | None = None):
        from hive_spark.scratch import scratch_dir

        self.spark = spark
        self.root = root = root or scratch_dir("qcache")
        os.makedirs(root, exist_ok=True)
        _LIVE_CACHES.add(self)

    def _path(self, fp: str) -> str:
        return os.path.join(self.root, fp)

    def lookup(self, df: DataFrame) -> DataFrame | None:
        p = self._path(plan_fingerprint(df))
        if os.path.exists(os.path.join(p, "_SUCCESS")):
            return read_parquet(self.spark, p)
        return None

    def get_or_compute(self, df: DataFrame) -> tuple[DataFrame, bool]:
        """Returns (result, was_hit)."""
        hit = self.lookup(df)
        if hit is not None:
            return hit, True
        p = self._path(plan_fingerprint(df))
        df.write.mode("overwrite").parquet(p)
        return read_parquet(self.spark, p), False

    def clear(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        os.makedirs(self.root, exist_ok=True)


class MaterializedViews:
    """MV registry with exact-plan rewrite.

    `create(name, df)` materializes the defining query; `rewrite(df)`
    serves any query whose optimized plan equals a registered definition
    from the materialization instead of the base tables. This is the
    exact-match subset of Hive's MV rewrite (HiveMaterializedViewsRegistry);
    `AggregateMV` below answers aggregate rollups by containment.
    """

    def __init__(self, spark: SparkSession, root: str | None = None):
        from hive_spark.scratch import scratch_dir

        self.spark = spark
        self.root = root = root or scratch_dir("mv")
        self._by_fp: dict[str, str] = {}
        os.makedirs(root, exist_ok=True)

    def create(self, name: str, df: DataFrame) -> None:
        path = os.path.join(self.root, name)
        df.write.mode("overwrite").parquet(path)
        self._by_fp[plan_fingerprint(df)] = path

    def refresh(self, name: str, df: DataFrame) -> None:
        """Full rebuild (ALTER MATERIALIZED VIEW ... REBUILD)."""
        self.create(name, df)

    def create_partitioned(
        self, name: str, df: DataFrame, partition_col: str
    ) -> None:
        """MV materialized with a partition column — the prerequisite for
        incremental refresh (Hive: MVs PARTITIONED ON, incremental rules
        ql/.../optimizer/calcite/rules/views/
        HiveAggregateInsertIncrementalRewritingRule.java)."""
        path = os.path.join(self.root, name)
        df.write.mode("overwrite").partitionBy(partition_col).parquet(path)
        self._by_fp[plan_fingerprint(df)] = path
        self._part_col = getattr(self, "_part_col", {})
        self._part_col[name] = partition_col

    def refresh_partitions(
        self, name: str, df: DataFrame, values: list
    ) -> None:
        """Incremental rebuild: recompute ONLY the named partition values
        of the defining query and dynamic-overwrite those partitions —
        the partition-wise subset of Hive's incremental MV rewrite. Sound
        whenever the defining query is partition-local on partition_col
        (each output row derives from inputs sharing its value — true for
        any groupBy that includes the partition column). At 100 TB this is
        the difference between rescanning a day and rescanning a decade."""
        from pyspark.sql import functions as F

        col = self._part_col[name]
        path = os.path.join(self.root, name)
        patch = df.filter(F.col(col).isin(values))
        (
            patch.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(col)
            .parquet(path)
        )
        # the stored relation now reflects the defining query again
        self._by_fp[plan_fingerprint(df)] = path

    def table(self, name: str) -> DataFrame:
        return read_parquet(self.spark, os.path.join(self.root, name))

    def rewrite(self, df: DataFrame) -> tuple[DataFrame, bool]:
        """Returns (possibly-rewritten df, used_mv)."""
        path = self._by_fp.get(plan_fingerprint(df))
        if path is None:
            return df, False
        return read_parquet(self.spark, path), True


_MERGE = {"sum": "sum", "count": "sum", "min": "min", "max": "max"}
_FN_MAP = {"Sum": "sum", "Count": "count", "Min": "min", "Max": "max",
           "Average": "avg"}


def _list(seq) -> list:
    """A Scala Seq as a Python list."""
    return [seq.apply(i) for i in range(seq.size())]


def _unalias(node):
    # a temp view over the same relation adds SubqueryAlias/View
    # wrappers; names don't change the relation
    while node.getClass().getSimpleName() in ("SubqueryAlias", "View"):
        node = node.child()
    return node


def _conjuncts(cond) -> list:
    if cond.getClass().getSimpleName() == "And":
        return _conjuncts(cond.left()) + _conjuncts(cond.right())
    return [cond]


def _gather(node, conjuncts: list, leaves: list, whole: list) -> bool:
    """Flatten a Filter/inner-Join tree into its conjuncts and relation
    leaves; False on a shape the rewrite does not cover. A node with the
    result of one of the ``whole`` plans (an MV relation that is itself a
    Filter or Join) stays one leaf."""
    node = _unalias(node)
    if any(w.sameResult(node) for w in whole):
        leaves.append(node)
        return True
    cls = node.getClass().getSimpleName()
    if cls == "Filter":
        conjuncts.extend(_conjuncts(node.condition()))
        return _gather(node.child(), conjuncts, leaves, whole)
    if cls == "Join":
        if node.joinType().toString().lower() not in ("inner", "cross"):
            return False
        if node.condition().isDefined():
            conjuncts.extend(_conjuncts(node.condition().get()))
        return _gather(node.left(), conjuncts, leaves, whole) and _gather(
            node.right(), conjuncts, leaves, whole
        )
    leaves.append(node)
    return True


def _uncast(e):
    # implicit widening casts around join keys (int = bigint) don't
    # change which attribute joins
    while e.getClass().getSimpleName() in ("Cast", "AnsiCast"):
        e = e.child()
    return e


def _ref_ids(expr) -> set:
    out = set()
    it = expr.references().iterator()
    while it.hasNext():
        out.add(it.next().exprId().id())
    return out


def _attr_seq(jvm, leaves: list):
    """The leaves' output attributes, in order, as a Catalyst AttributeSeq."""
    out = leaves[0].output()
    for lf in leaves[1:]:
        out = out.appendedAll(lf.output())
    return getattr(
        jvm.org.apache.spark.sql.catalyst.expressions, "package$AttributeSeq"
    )(out)


def _canonical(jvm, expr, attrs):
    """``expr`` canonicalized with each attribute numbered by its position
    in ``attrs``: equal for the same expression over matching relations,
    whatever the plans' expression ids."""
    return jvm.org.apache.spark.sql.catalyst.plans.QueryPlan.normalizeExpressions(
        expr, attrs
    )


def _rebind(jvm, expr, attrs: dict):
    """``expr`` with each attribute replaced by the one of that name in
    ``attrs`` (a predicate moved onto another relation). The tree is
    rebuilt node by node, never re-parsed, so literals stay as written."""
    if expr.getClass().getSimpleName() == "AttributeReference":
        return attrs[expr.name()]
    return expr.withNewChildren(
        jvm.org.apache.spark.api.python.PythonUtils.toSeq(
            [_rebind(jvm, k, attrs) for k in _list(expr.children())]
        )
    )


def _measure(fn: str, inp: str) -> Column:
    """The aggregate ``fn`` over ``inp``, a SQL expression ("*": rows)."""
    if (fn, inp) == ("count", "*"):
        return F.count(F.lit(1))
    return getattr(F, fn)(F.expr(inp))


def _merge(fn: str, partial: str) -> Column:
    """Re-aggregate a stored ``fn`` partial. A merged count stays 0, not
    NULL, over no rows, as COUNT does."""
    merged = getattr(F, _MERGE[fn])(partial)
    return F.coalesce(merged, F.lit(0)) if fn == "count" else merged


class AggregateMV:
    """Aggregate materialized view with CONTAINMENT (rollup) rewrite: the
    aggregate rule of Hive's Calcite MV rewrite (ref: ql/.../optimizer/
    calcite/rules/views/HiveMaterializedViewRule.java,
    MaterializedViewAggregateRule with join derivability). A query whose
    aggregate is derivable from the MV's partials is answered from the MV
    instead of its base tables.

    The MV is ``fact`` inner-joined with ``dims`` (``[(dim_df, fact_col,
    dim_col)]``, none for a single-table rollup), grouped by
    ``group_keys`` (post-join names), storing the partials ``measures``:
    ``{out: (fn, input)}`` with fn in {sum, count, min, max} and input a
    SQL expression over the definition ("*" with count: its rows).

    ``try_rewrite`` matches an incoming Aggregate plan structurally:

    - relations compare with Spark's ``LogicalPlan.sameResult`` against
      plan handles captured at materialization. That is the
      re-resolution Hive performs per match (a temp view re-registered
      with the same definition still matches) and its staleness gate (a
      source re-registered over different files or with a different
      definition misses instead of answering from stale MV rows);
    - each MV relation matches a distinct query relation and every MV
      join edge appears in the query (multiset containment): a dropped
      MV join could drop fact rows, and a dimension joined twice has
      filters that cannot be told apart from the MV occurrence's;
    - residual relations (joins the MV lacks) are re-joined onto the
      rolled-up rows, provided they attach through an MV group key;
    - filter conjuncts are deterministic and sit on MV group keys (they
      select whole MV rows, so they commute with the rollup) or on one
      residual relation;
    - aggregates derive from stored partials: sum <- sum, count <- sum
      of counts, min/max re-merge, avg <- the sum/count pair of the same
      input. Inputs compare as canonical Catalyst expressions, literals
      included. DISTINCT aggregates and FILTER clauses are not derivable
      from plain partials and miss.

    The answer has the query's projection order, column names and types.
    At 100 TB it replaces a fact scan and an N-way shuffle join with a
    scan of an MV orders of magnitude smaller; residual dims re-join the
    rolled-up rows, not the fact.
    """

    def __init__(
        self,
        spark: SparkSession,
        name: str,
        fact: DataFrame,
        group_keys: list[str],
        measures: dict[str, tuple[str, str]],
        dims: list = (),
        root: str | None = None,
    ):
        from hive_spark.scratch import scratch_dir

        for out, (fn, inp) in measures.items():
            if fn not in _MERGE:
                raise ValueError(f"{out}: non-derivable aggregate {fn!r}")
            if inp == "*" and fn != "count":
                raise ValueError(f"{out}: '*' only valid for count")
        self.spark = spark
        self.group_keys = list(group_keys)
        self.measures = dict(measures)
        self.dims = list(dims)
        self.path = os.path.join(root or scratch_dir("aggmv"), name)
        self._edges = {
            frozenset({(("mv", 0), fc.split(".")[-1]),
                       (("mv", j + 1), dc.split(".")[-1])})
            for j, (_d, fc, dc) in enumerate(self.dims)
        }
        self._bind(fact)
        self._rollup(self._definition).write.mode("overwrite").parquet(self.path)

    def _bind(self, fact: DataFrame) -> None:
        """Capture the plans of the data the MV holds: ``fact`` joined
        with the dims."""
        jvm = self.spark._jvm
        self._fact = fact
        self._definition = self._join(fact)
        # analyzed plan handles of the definition's relations:
        # ``sameResult`` against them is both the match test and the
        # staleness gate; they denote exactly the data the MV holds
        self._leaves = [
            _unalias(df._jdf.queryExecution().analyzed())
            for df in [fact] + [d for d, _f, _c in self.dims]
        ]
        # each partial's input, canonical over the relations' outputs
        attrs = _attr_seq(jvm, self._leaves)
        rolled = self._rollup(self._definition)
        agg = rolled._jdf.queryExecution().analyzed().aggregateExpressions()
        named = {e.name(): e for e in _list(agg)}
        self._partials = {
            out: (fn, _canonical(
                jvm, named[out].child().aggregateFunction().children().apply(0),
                attrs))
            for out, (fn, _inp) in self.measures.items()
        }

    def _join(self, fact: DataFrame) -> DataFrame:
        for dim, fact_col, dim_col in self.dims:
            fact = fact.join(dim, F.col(fact_col) == F.col(dim_col), "inner")
        return fact

    def _rollup(self, joined: DataFrame) -> DataFrame:
        return joined.groupBy(*self.group_keys).agg(
            *[_measure(fn, inp).alias(out)
              for out, (fn, inp) in self.measures.items()]
        )

    def _partial(self, fn: str, inp) -> str | None:
        for out, (pfn, pinp) in self._partials.items():
            if pfn == fn and pinp.equals(inp):
                return out
        return None

    def _frame(self, plan, conds=()) -> DataFrame:
        """A DataFrame over the Catalyst ``plan`` filtered by ``conds``."""
        jvm = self.spark._jvm
        for c in conds:
            plan = jvm.org.apache.spark.sql.catalyst.plans.logical.Filter(c, plan)
        return DataFrame(
            jvm.org.apache.spark.sql.classic.Dataset.ofRows(
                self.spark._jsparkSession, plan
            ),
            self.spark,
        )

    def _match_leaves(self, leaves) -> list | None:
        """Identity key per query leaf: ("mv", j) when it is the j-th MV
        relation, else ("res", i). None when containment fails: an MV
        relation missing from the query, or referenced more than once."""
        keys: list = []
        used: set = set()
        for i, lf in enumerate(leaves):
            hit = next(
                (j for j, mv_lf in enumerate(self._leaves) if mv_lf.sameResult(lf)),
                None,
            )
            if hit is None:
                keys.append(("res", i))
            elif hit in used:
                return None
            else:
                used.add(hit)
                keys.append(("mv", hit))
        return keys if len(used) == len(self._leaves) else None

    def try_rewrite(self, df: DataFrame) -> DataFrame | None:
        """Answer ``df`` from the MV when its analyzed plan is contained
        in the definition (see the class docstring); None when it is not,
        and the caller runs ``df`` as written."""
        jvm = self.spark._jvm
        jplan = df._jdf.queryExecution().analyzed()
        if jplan.getClass().getSimpleName() != "Aggregate":
            return None
        conjuncts: list = []
        leaves: list = []
        if not _gather(jplan.child(), conjuncts, leaves, self._leaves):
            return None
        keys = self._match_leaves(leaves)
        if keys is None:
            return None
        # exprId -> (leaf key, column): an MV relation's column by name, a
        # residual one by relation and position, the name it is re-joined
        # under, so it cannot clash with an MV column (a self-join, a
        # partial called ``n``) or another residual relation's column
        attr_of: dict[int, tuple] = {}
        for lf, key in zip(leaves, keys):
            for p, a in enumerate(_list(lf.output())):
                attr_of[a.exprId().id()] = (
                    key, a.name() if key[0] == "mv" else f"_r{key[1]}_{p}"
                )

        # conjuncts: equi-join edges, filters on MV rows, residual filters
        edges: set = set()
        mv_filters: list = []
        residual_filters: dict[tuple, list] = {}
        for c in conjuncts:
            if c.getClass().getSimpleName() == "EqualTo":
                l, r = _uncast(c.left()), _uncast(c.right())
                if (
                    l.getClass().getSimpleName() == "AttributeReference"
                    and r.getClass().getSimpleName() == "AttributeReference"
                ):
                    la = attr_of.get(l.exprId().id())
                    ra = attr_of.get(r.exprId().id())
                    if la and ra and la[0] != ra[0]:
                        edges.add(frozenset({la, ra}))
                        continue
            ids = _ref_ids(c)
            if not c.deterministic() or not ids <= attr_of.keys():
                return None
            owners = {attr_of[i][0] for i in ids}
            if all(k[0] == "mv" for k in owners):
                # must commute with the rollup: group keys only
                if not {attr_of[i][1] for i in ids} <= set(self.group_keys):
                    return None
                mv_filters.append(c)
            elif len(owners) == 1:
                residual_filters.setdefault(owners.pop(), []).append(c)
            else:
                return None  # a filter spanning MV and residual relations
        if not self._edges <= edges:
            return None
        # each residual relation attaches through an MV group key
        residual_edges: dict[tuple, list] = {}
        for e in edges - self._edges:
            (m_key, m_col), (r_key, r_col) = sorted(e)  # "mv" < "res"
            if m_key[0] != "mv" or r_key[0] != "res" or m_col not in self.group_keys:
                return None  # an undeclared MV join or a residual chain
            residual_edges.setdefault(r_key, []).append((m_col, r_col))
        if set(residual_edges) != {k for k in keys if k[0] == "res"}:
            return None

        group_by = []  # (leaf key, column)
        for e in _list(jplan.groupingExpressions()):
            if e.getClass().getSimpleName() != "AttributeReference":
                return None
            ref = attr_of.get(e.exprId().id())
            if ref is None or (ref[0][0] == "mv" and ref[1] not in self.group_keys):
                return None
            group_by.append(ref)

        # aggregate inputs are canonical over the MV relations' outputs in
        # definition order, then the residual ones (which match nothing)
        attrs = _attr_seq(
            jvm,
            [leaves[keys.index(("mv", j))] for j in range(len(self._leaves))]
            + [lf for lf, k in zip(leaves, keys) if k[0] == "res"],
        )
        outputs: list = []  # per column: ("key", ref) or (fn, partials...)
        for ne in _list(jplan.aggregateExpressions()):
            inner = ne.child() if ne.getClass().getSimpleName() == "Alias" else ne
            cls = inner.getClass().getSimpleName()
            if cls == "AttributeReference":  # a group key, maybe renamed
                ref = attr_of.get(inner.exprId().id())
                if ref not in group_by:
                    return None
                outputs.append(("key", ref))
                continue
            if (
                cls != "AggregateExpression"
                or inner.isDistinct()
                or inner.filter().isDefined()
            ):
                # stored partials are plain: SUM(DISTINCT x) and FILTER
                # (WHERE ...) are not derivable from them
                return None
            fn = _FN_MAP.get(inner.aggregateFunction().getClass().getSimpleName())
            kids = inner.aggregateFunction().children()
            if fn is None or kids.size() != 1:
                return None
            inp = _canonical(jvm, kids.apply(0), attrs)
            parts = (
                [self._partial("sum", inp), self._partial("count", inp)]
                if fn == "avg" else [self._partial(fn, inp)]
            )
            if None in parts:
                return None
            outputs.append((fn, *parts))

        # ---- the answer: MV rows, filtered, re-joined, rolled up --------
        out = read_parquet(self.spark, self.path)
        if mv_filters:
            plan = out._jdf.queryExecution().analyzed()
            by_name = {a.name(): a for a in _list(plan.output())}
            out = self._frame(plan, [_rebind(jvm, c, by_name) for c in mv_filters])
        # MV columns are renamed by position too: no working name can
        # clash with another
        mv_col = {c: f"_m{p}" for p, c in enumerate(out.columns)}
        out = out.toDF(*mv_col.values())

        def working(ref: tuple) -> str:
            key, name = ref
            return mv_col[name] if key[0] == "mv" else name

        for key, lf in zip(keys, leaves):
            if key[0] == "res":
                dim = self._frame(lf, residual_filters.get(key, []))
                dim = dim.toDF(*[f"_r{key[1]}_{p}" for p in range(len(dim.columns))])
                cond = None
                for m_col, r_col in residual_edges[key]:
                    eq = out[mv_col[m_col]] == dim[r_col]
                    cond = eq if cond is None else (cond & eq)
                out = out.join(F.broadcast(dim), cond, "inner")
        merged, select = [], []
        for i, (spec, field) in enumerate(zip(outputs, df.schema.fields)):
            if spec[0] == "key":
                col = F.col(working(spec[1]))
            else:
                fn, *parts = spec
                merged.append(
                    self._derive(fn, [mv_col[p] for p in parts], field.dataType, out)
                    .alias(f"_a{i}")
                )
                col = F.col(f"_a{i}")
            select.append(col.cast(field.dataType).alias(field.name))
        grouped = out.groupBy(*map(working, group_by))
        return (grouped.agg(*merged) if merged else grouped.count()).select(*select)

    @staticmethod
    def _derive(fn: str, parts: list, out_type, mv: DataFrame) -> Column:
        if fn != "avg":
            return _merge(fn, parts[0])
        # as Spark's Average finishes its (sum, count) buffer; the stored
        # sum partial has the buffer's type
        total, n = F.sum(parts[0]), F.sum(parts[1])
        if isinstance(out_type, DecimalType):
            return F.try_divide(
                total.cast(mv.schema[parts[0]].dataType), n.cast("decimal(20,0)")
            )
        return F.try_divide(total.cast("double"), n.cast("double"))

    def answer(
        self,
        group_by: list[str],
        aggs: dict[str, tuple[str, str]],
        where: Column | None = None,
    ) -> DataFrame:
        """Answer ``definition.where(where).groupBy(group_by).agg(aggs)``
        from the MV, through ``try_rewrite``. ``aggs`` is ``{out: (fn,
        input)}`` over the definition, fn in {sum, count, min, max, avg};
        ValueError when the MV cannot answer it."""
        q = self._definition
        if where is not None:
            try:
                q = q.filter(where)
            except AnalysisException as e:
                raise ValueError("filter touches non-group-key columns") from e
        try:
            q = q.groupBy(*group_by).agg(
                *[_measure(fn, inp).alias(out) for out, (fn, inp) in aggs.items()]
            )
        except AnalysisException as e:
            raise ValueError("query is not contained in this MV") from e
        hit = self.try_rewrite(q)
        if hit is None:
            raise ValueError("query is not contained in this MV")
        return hit

    def refresh_incremental(self, appended: DataFrame) -> None:
        """Incremental rebuild from APPENDED fact rows only (Hive:
        ql/.../optimizer/calcite/rules/views/
        HiveAggregateInsertIncrementalRewritingRule.java, sound exactly
        when the sources are insert-only since the last refresh): roll the
        delta up through the same definition (joined with the dims), union
        it with the stored partials and merge them (sum/count partials
        re-SUM, min/max re-MIN/MAX), keeping each partial's type. Cost is
        sized to the delta plus the MV: at 100 TB, yesterday's insertions
        instead of the decade. avg needs nothing: it is derived at answer
        time from sum and count partials, which merge exactly. The MV
        then answers rollups over ``fact.unionByName(appended)``, and no
        longer those over the fact alone."""
        stored = read_parquet(self.spark, self.path)
        merged = (
            stored.unionByName(self._rollup(self._join(appended)))
            .groupBy(*self.group_keys)
            .agg(*[
                _merge(fn, out).cast(stored.schema[out].dataType).alias(out)
                for out, (fn, _inp) in self.measures.items()
            ])
        )
        staging = self.path + "._refresh"
        merged.write.mode("overwrite").parquet(staging)
        shutil.rmtree(self.path)
        shutil.move(staging, self.path)
        self._bind(self._fact.unionByName(appended))


def salted_agg_count(
    df: DataFrame, key: str, salt: int = 16, agg_col: str | None = None
) -> DataFrame:
    """Two-stage salted aggregation for a skewed group key: stage 1 groups
    on (key, salt) so a hot key spreads over `salt` reducers; stage 2
    merges the partials. Result is identical to a direct groupBy (counts
    and decimal sums are associative); the shuffle skew disappears.

    At 100 TB: use when one key holds >~1/shuffle-partitions of the rows
    (Hive's GroupByOperator hash-flush + skew 2-MR-job plan analog,
    ref ql/.../parse/SemanticAnalyzer.java:7014 genGroupByPlanMapAggr2MR).

    The salt is derived from the row CONTENT (hash of all columns), never
    from monotonically_increasing_id: a nondeterministic shuffle key means
    a stage retry after fetch-failure can re-salt rows into different
    reduce partitions and double-count or drop them (SPARK-23207 class).
    Content-hashing is deterministic under retries; identical rows land in
    one bucket, which still spreads a hot KEY as long as its rows differ
    anywhere — the normal case for fact rows.
    """
    salted = df.withColumn(
        "_salt", F.pmod(F.hash(*[F.col(c) for c in df.columns]), F.lit(salt))
    )
    aggs1 = [F.count(F.lit(1)).alias("_n")]
    aggs2 = [F.sum("_n").alias("n")]
    if agg_col is not None:
        aggs1.append(F.sum(F.col(agg_col).cast("decimal(30,4)")).alias("_s"))
        aggs2.append(F.sum("_s").cast("decimal(38,4)").alias(f"sum_{agg_col}"))
    return (
        salted.groupBy(key, "_salt")
        .agg(*aggs1)
        .groupBy(key)
        .agg(*aggs2)
    )


def explain_analyze(df: DataFrame) -> str:
    """EXPLAIN ANALYZE (Hive: `EXPLAIN ANALYZE <query>` re-executes the
    query and annotates each operator with actual row counts — ref:
    ql/.../parse/ExplainSemanticAnalyzer.java `analyze` mode,
    ql/.../exec/Operator.java runtime row counters).

    Spark analog: execute the plan (noop sink — full pipeline, no result
    transfer), then walk the final AQE physical plan and print each node
    with its measured `numOutputRows` SQLMetric. This is runtime truth,
    not CBO estimates — the tool for "which operator exploded".
    """
    qe = df._jdf.queryExecution()
    # Execute THIS QueryExecution's plan (a .write/.count would build a new
    # one and leave these metrics at zero). toRdd().count() runs the full
    # pipeline JVM-side without transferring rows to the driver.
    qe.toRdd().count()
    plan = qe.executedPlan()
    # AdaptiveSparkPlanExec wraps the real tree until final; unwrap it
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()

    lines: list[str] = []

    def walk(node, depth: int) -> None:
        cls = node.getClass().getSimpleName()
        # AQE stage wrappers (Shuffle/Broadcast/ResultQueryStage*) hang the
        # real subtree off .plan(); WholeStageCodegen off children as usual
        if "QueryStage" in cls:
            walk(node.plan(), depth)
            return
        name = node.nodeName()
        rows = ""
        opt = node.metrics().get("numOutputRows")
        if opt.isDefined():
            rows = f"  rows={opt.get().value()}"
        lines.append(f"{'  ' * depth}{name}{rows}")
        children = node.children()
        for i in range(children.length()):
            walk(children.apply(i), depth + 1)

    walk(plan, 0)
    return "\n".join(lines)
