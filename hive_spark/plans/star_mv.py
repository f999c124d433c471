"""Star-join materialized views with JOIN-CONTAINMENT rewrite.

The common warehouse MV is a pre-joined fact x dims aggregate; Hive
rewrites queries onto it through the Calcite view rules (ref: ql/src/
java/org/apache/hadoop/hive/ql/optimizer/calcite/rules/views/
HiveMaterializedViewRule.java — MaterializedViewAggregateRule with join
derivability; HiveMaterializedViewUtils). This module implements that
containment for this engine's plans:

- the MV is defined by fact, equi-joined dims, post-join GROUP BY keys
  and partial measures (sum/count/min/max over fact columns or fact
  expressions);
- ``try_rewrite`` structurally matches an incoming Aggregate plan whose
  join set CONTAINS the MV's joins on the same keys: every MV relation
  and MV join edge must appear in the query. Relations are compared
  with Spark's ``LogicalPlan.sameResult`` (canonicalized-plan equality)
  against the plan handles captured when the MV was MATERIALIZED. That
  is simultaneously the re-resolution Hive performs per match
  (HiveMaterializedViewsRegistry re-resolves MV definitions against
  current metastore state — a temp view re-registered with the same
  definition gains View/SubqueryAlias wrappers that canonicalization
  strips, so the rewrite still hits) and the STALENESS gate Hive
  applies before rewriting (canonicalized file relations carry their
  data location, so a source re-registered over different files or with
  a different definition no longer matches and the rewrite MISSES
  rather than answering from stale MV rows);
- each MV relation must match a DISTINCT query relation (multiset
  containment): a query referencing an MV dimension twice is rejected,
  never collapsed onto one leaf with the duplicate's filters misapplied
  to MV rows;
- residual relations (query joins the MV lacks) are RE-JOINED onto the
  rolled-up MV, provided they attach through an MV group key — the
  residual-dimension case of Hive's rule;
- residual filter conjuncts must sit on MV group keys (answered by
  filtering MV rows — they commute with the rollup) or on residual
  relations (applied after the re-join);
- aggregates must be derivable from stored partials (sum<-sum,
  count<-sum of count, min/max re-merge, avg <- sum/count pair).
  DISTINCT aggregates and FILTER clauses are NOT derivable from plain
  partials — ``isDistinct()`` / ``filter().isDefined()`` force a miss
  (MaterializedViewAggregateRule's distinct-agg derivability guard).

At 100 TB the rewrite replaces a fact scan + N-way shuffle join with a
scan of an MV that is orders of magnitude smaller; the residual dims
re-join against the rolled-up rows, not the fact.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_spark.session import read_parquet

_MERGE = {"sum": "sum", "count": "sum", "min": "min", "max": "max"}
_FN_MAP = {"Sum": "sum", "Count": "count", "Min": "min", "Max": "max",
           "Average": "avg"}


def _norm_sql(sql: str) -> str:
    """Canonical text of an expression: backticks and table qualifiers
    stripped, whitespace collapsed, lowercased."""
    s = sql.replace("`", "")
    s = re.sub(r"\b(?:[A-Za-z_]\w*\.)+([A-Za-z_]\w*)", r"\1", s)
    return re.sub(r"\s+", " ", s).strip().lower()


def _strip_qualifiers(sql: str) -> str:
    s = sql.replace("`", "")
    return re.sub(r"\b(?:[A-Za-z_]\w*\.)+([A-Za-z_]\w*)", r"\1", s)


def _unalias(node):
    while node.getClass().getSimpleName() in ("SubqueryAlias", "View"):
        node = node.child()
    return node


def _split_conjuncts(cond) -> list:
    if cond.getClass().getSimpleName() == "And":
        return _split_conjuncts(cond.left()) + _split_conjuncts(cond.right())
    return [cond]


def _ref_ids(expr) -> set:
    out = set()
    it = expr.references().iterator()
    while it.hasNext():
        out.add(it.next().exprId().id())
    return out


class StarJoinMV:
    """Aggregate MV over fact equi-joined with dimensions.

    ``dims``: list of ``(dim_df, fact_col, dim_col)``. ``measures``:
    ``{out_name: (fn, input)}`` where input is a fact column name or a
    SQL expression over fact columns (matched canonically against the
    query's aggregate inputs). ``group_keys`` are post-join column names
    (fact or dim attributes)."""

    def __init__(
        self,
        spark: SparkSession,
        name: str,
        fact: DataFrame,
        dims: list,
        group_keys: list,
        measures: dict,
        root: str | None = None,
    ):
        from hive_spark.scratch import scratch_dir

        root = root or scratch_dir("starmv")
        for out, (fn, _inp) in measures.items():
            if fn not in _MERGE:
                raise ValueError(f"{out}: non-derivable aggregate {fn!r}")
        self.spark = spark
        self.group_keys = list(group_keys)
        self.measures = dict(measures)
        self.path = os.path.join(root, name)
        self._dim_cols = [
            (fc.split(".")[-1], dc.split(".")[-1]) for _d, fc, dc in dims
        ]

        joined = fact
        for dim_df, fact_col, dim_col in dims:
            joined = joined.join(
                dim_df, F.col(fact_col) == F.col(dim_col), "inner"
            )
        aggs = [
            (F.count(F.lit(1)) if (fn, inp) == ("count", "*")
             else getattr(F, fn)(F.expr(inp))).alias(out)
            for out, (fn, inp) in measures.items()
        ]
        agg_df = joined.groupBy(*group_keys).agg(*aggs)
        agg_df.write.mode("overwrite").parquet(self.path)

        # canonical (ANALYZER-normalized) text of each partial's input,
        # read back from the defining plan so it compares equal to the
        # same expression in an incoming query's analyzed plan
        self._norm_measures: dict = {}
        ae = agg_df._jdf.queryExecution().analyzed().aggregateExpressions()
        for i in range(ae.size()):
            ne = ae.apply(i)
            if ne.getClass().getSimpleName() != "Alias":
                continue
            inner = ne.child()
            if inner.getClass().getSimpleName() != "AggregateExpression":
                continue
            fn = _FN_MAP.get(
                inner.aggregateFunction().getClass().getSimpleName()
            )
            kids = inner.aggregateFunction().children()
            if fn is None or kids.size() != 1:
                continue
            norm = _norm_sql(kids.apply(0).sql())
            if fn == "count" and norm in ("1", "*"):
                norm = "*"
            self._norm_measures[ne.name()] = (fn, norm)

        # analyzed plan handles of the DEFINITION's relations, captured at
        # materialization time: ``sameResult`` against these is both the
        # match test and the staleness gate (see module docstring). The
        # handles never go semantically stale — they denote exactly the
        # data the MV parquet was built from.
        self._mv_leaves = [
            _unalias(fact._jdf.queryExecution().analyzed())
        ] + [
            _unalias(d._jdf.queryExecution().analyzed()) for d, _f, _c in dims
        ]
        self.edges: set = set()
        for j, (fact_col, dim_col) in enumerate(self._dim_cols):
            self.edges.add(
                frozenset({(("mv", 0), fact_col), (("mv", j + 1), dim_col)})
            )

    # -- matching ----------------------------------------------------------
    def _gather(self, node, conjuncts, leaves) -> bool:
        """Flatten Filter/Join tree into conjuncts + relation leaves.
        Returns False on a shape this rule doesn't cover."""
        node = _unalias(node)
        cls = node.getClass().getSimpleName()
        if cls == "Filter":
            conjuncts.extend(_split_conjuncts(node.condition()))
            return self._gather(node.child(), conjuncts, leaves)
        if cls == "Join":
            jt = node.joinType().toString().lower()
            if jt not in ("inner", "cross"):
                return False
            if node.condition().isDefined():
                conjuncts.extend(_split_conjuncts(node.condition().get()))
            return self._gather(
                node.left(), conjuncts, leaves
            ) and self._gather(node.right(), conjuncts, leaves)
        leaves.append(node)
        return True

    def _match_leaves(self, leaves) -> list | None:
        """Identity key per query leaf: ("mv", j) when it is the j-th MV
        relation (sameResult vs the materialization-time handle), else
        ("res", i). None when containment fails — an MV relation missing
        from the query, or referenced more than once (multiset check)."""
        keys: list = []
        used: set = set()
        for i, lf in enumerate(leaves):
            hit = None
            for j, mv_lf in enumerate(self._mv_leaves):
                if mv_lf.sameResult(lf):
                    hit = j
                    break
            if hit is None:
                keys.append(("res", i))
            elif hit in used:
                return None  # same MV relation twice: duplicate's filters
                # cannot be told apart from the MV occurrence's — reject
            else:
                used.add(hit)
                keys.append(("mv", hit))
        if len(used) != len(self._mv_leaves):
            return None  # an MV join is missing: it could drop fact rows
        return keys

    def try_rewrite(self, df: DataFrame) -> DataFrame | None:
        """Containment rewrite; None when the plan is not covered."""
        jplan = df._jdf.queryExecution().analyzed()
        if jplan.getClass().getSimpleName() != "Aggregate":
            return None
        conjuncts: list = []
        leaves: list = []
        if not self._gather(jplan.child(), conjuncts, leaves):
            return None

        keys = self._match_leaves(leaves)
        if keys is None:
            return None
        # exprId -> (leaf key, attr name)
        attr_of: dict[int, tuple] = {}
        for lf, key in zip(leaves, keys):
            out_seq = lf.output()
            for i in range(out_seq.size()):
                a = out_seq.apply(i)
                attr_of[a.exprId().id()] = (key, a.name())

        residual_keys = {k for k in keys if k[0] == "res"}

        # classify conjuncts: equi-join edges vs filters
        edges: set = set()
        mv_filters: list = []
        residual_filters: dict[tuple, list] = {}
        def _uncast(e):
            # implicit type-widening casts around join keys don't change
            # which attribute joins (analyzer inserts them for int=bigint)
            while e.getClass().getSimpleName() in ("Cast", "AnsiCast"):
                e = e.child()
            return e

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
            owners = {attr_of[i][0] for i in ids if i in attr_of}
            names = {attr_of[i][1] for i in ids if i in attr_of}
            if len(ids) != len([i for i in ids if i in attr_of]):
                return None
            if all(k[0] == "mv" for k in owners):
                # must commute with the rollup: group keys only
                if not names <= set(self.group_keys):
                    return None
                mv_filters.append(c)
            elif len(owners) == 1:
                residual_filters.setdefault(next(iter(owners)), []).append(c)
            else:
                return None  # filter spans mv and residual relations

        if not self.edges <= edges:
            return None
        # residual edges must attach a residual relation through an MV
        # group key (or connect two residual relations - chains allowed
        # as ordinary joins among residuals)
        residual_edges: dict[tuple, list] = {}
        for e in edges - self.edges:
            sides = list(e)
            r_sides = [s for s in sides if s[0][0] == "res"]
            m_sides = [s for s in sides if s[0][0] == "mv"]
            if len(r_sides) == 1 and len(m_sides) == 1:
                if m_sides[0][1] not in self.group_keys:
                    return None
                residual_edges.setdefault(r_sides[0][0], []).append(
                    (m_sides[0][1], r_sides[0][1])
                )
            elif len(r_sides) == 2:
                return None  # residual-residual chains: out of scope
            else:
                return None  # extra mv-mv join the MV didn't declare

        # every residual relation must be reachable
        if set(residual_edges) != residual_keys:
            return None

        # grouping keys: MV group keys or residual attrs
        g = jplan.groupingExpressions()
        group_by = []
        for i in range(g.size()):
            expr = g.apply(i)
            if expr.getClass().getSimpleName() != "AttributeReference":
                return None
            key, nm = attr_of.get(expr.exprId().id(), (None, None))
            if nm is None:
                return None
            if key[0] == "mv" and nm not in self.group_keys:
                return None
            group_by.append(nm)

        # aggregate expressions: derivable from stored partials
        def _find_partial(fn: str, norm_inp: str) -> str | None:
            for out, (pfn, pinp) in self._norm_measures.items():
                if pfn == fn and pinp == norm_inp:
                    return out
            return None

        out_cols: list = []  # final projection (group keys aliased back)
        derived: dict[str, tuple] = {}  # alias -> (fn, partial[, partial2])
        a = jplan.aggregateExpressions()
        for i in range(a.size()):
            ne = a.apply(i)
            cls = ne.getClass().getSimpleName()
            if cls == "AttributeReference":
                if ne.name() not in group_by:
                    return None
                out_cols.append(F.col(ne.name()))
                continue
            if cls != "Alias":
                return None
            inner = ne.child()
            icls = inner.getClass().getSimpleName()
            if icls == "AttributeReference":
                # a group key echoed under a new name (SELECT k AS a)
                _key, nm = attr_of.get(inner.exprId().id(), (None, None))
                if nm is None or nm not in group_by:
                    return None
                out_cols.append(F.col(nm).alias(ne.name()))
                continue
            if icls != "AggregateExpression":
                return None
            if inner.isDistinct() or inner.filter().isDefined():
                # stored partials are plain (non-distinct, unfiltered):
                # SUM(DISTINCT x) / agg FILTER (WHERE ...) are NOT
                # derivable from them — answering would be silently wrong
                return None
            fn = _FN_MAP.get(
                inner.aggregateFunction().getClass().getSimpleName()
            )
            if fn is None:
                return None
            kids = inner.aggregateFunction().children()
            if kids.size() != 1:
                return None
            norm_inp = _norm_sql(kids.apply(0).sql())
            if fn == "count" and norm_inp in ("1", "*"):
                norm_inp = "*"
                hit = _find_partial("count", "*")
            elif fn == "avg":
                s = _find_partial("sum", norm_inp)
                c = _find_partial("count", norm_inp)
                if s is None or c is None:
                    return None
                derived[ne.name()] = ("avg", s, c)
                out_cols.append(F.col(ne.name()))
                continue
            else:
                hit = _find_partial(fn, norm_inp)
            if hit is None:
                return None
            derived[ne.name()] = (fn, hit)
            out_cols.append(F.col(ne.name()))

        # ---- build the answer ------------------------------------------
        out = read_parquet(self.spark, self.path)
        for c in mv_filters:
            out = out.filter(F.expr(_strip_qualifiers(c.sql())))
        from pyspark.sql import DataFrame as PyDF

        for key, lf in zip(keys, leaves):
            if key[0] != "res":
                continue
            jdf = self.spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
                self.spark._jsparkSession, lf
            )
            dim = PyDF(jdf, self.spark)
            for c in residual_filters.get(key, []):
                dim = dim.filter(F.expr(_strip_qualifiers(c.sql())))
            cond = None
            for mv_col, dim_col in residual_edges[key]:
                eq = out[mv_col] == dim[dim_col]
                cond = eq if cond is None else (cond & eq)
            out = out.join(F.broadcast(dim), cond, "inner")

        merged = []
        for alias, spec in derived.items():
            if spec[0] == "avg":
                merged.append(
                    (F.sum(spec[1]) / F.sum(spec[2])).alias(alias)
                )
            else:
                merged.append(
                    getattr(F, _MERGE[spec[0]])(spec[1]).alias(alias)
                )
        answered = out.groupBy(*group_by).agg(*merged)
        return answered.select(*out_cols)
