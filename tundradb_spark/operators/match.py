"""MATCH pattern → Spark join-tree compiler.

This replaces the reference's imperative traversal executor
(src/query/traverse_executor.cpp, src/query/execution.cpp:790-883 hop
expansion, src/query/join.cpp join strategies, src/query/result_builder.cpp
BFS row population) with a declarative DataFrame plan. The semantics were
derived from the reference's own strategy + row-builder code and verified
against tests/join_test.cpp; they are NOT plain SQL joins:

- every alias's table is renamed to ``alias.field`` columns (the denormalized
  output schema, src/query/execution.cpp:483-549) and hops compose
  **right-associatively along the alias tree**, so a hop's target subtree is
  fully resolved before the parent joins it — reproducing the reference's
  prune-ID-set-then-BFS behavior (traverse_executor.cpp:94-107 +
  result_builder.cpp:251-389).
- INNER prunes unmatched sources (join.cpp:51-76). Non-INNER hops never
  prune sources; a source with **no edge at all** null-pads
  (result_builder.cpp partial-path emission), while a source whose edges all
  lead to targets pruned by deeper INNER hops produces **no row** (the BFS
  ``skip`` logic, result_builder.cpp:95-110). Hence LEFT is *not* a plain
  left_outer: it is ``matched ∪ (sources with no connection)``.
- RIGHT/FULL keep all targets: unmatched-target rows are appended as a
  **final pass** against the fully-joined result (the reference emits them
  from the final ID sets during row population), carrying the target's own
  subtree values; for **self-joins** (source schema == target schema) the
  hop's matched *sources* are excluded so a node never appears both as a
  matched source and as a null-source target row (join.cpp:184-198).
- a FROM root with no connection on any hop is dropped unless the FROM alias
  participates in a LEFT/FULL hop (result_builder.cpp:260-278 join-type map
  + the INNER root skip at :203-206).
- single-alias WHERE predicates apply to the alias table *before* its join
  (the reference's inline_where / FROM pushdown,
  src/query/query_bootstrap.cpp:46-56, execution.cpp:651-702); cross-alias
  predicates are deferred until after all joins and unmatched-row padding
  (src/query/filter_executor.cpp:26-33).

Catalyst then performs predicate pushdown, column pruning, join reordering
and (with AQE) broadcast/skew handling — none of which the reference has.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import TYPE_CHECKING

from pyspark.sql import Column, DataFrame, functions as F

from tundradb_spark.errors import QueryError
from tundradb_spark.query import (
    Compare,
    CompareOp,
    Expr,
    FieldRef,
    Logical,
    Query,
    Traverse,
    TraverseType,
)
from tundradb_spark.session import materialize

if TYPE_CHECKING:
    from tundradb_spark.database import Database


def _bt(name: str) -> Column:
    """Column ref for names containing dots (``u.age`` → `` `u.age` ``)."""
    return F.col("`" + name + "`")


def _prefix(df: DataFrame, alias: str) -> DataFrame:
    return df.toDF(*[f"{alias}.{c}" for c in df.columns])


def _dtypes(df: DataFrame) -> dict:
    """Column name → dataType, for type-directed compilation (VARIANT
    property maps take a different access path than map columns)."""
    return {f.name: f.dataType for f in df.schema.fields}


# ---------------------------------------------------------------------------
# WHERE expression compilation
# ---------------------------------------------------------------------------


def compile_expr(expr: Expr, dtypes: dict | None = None) -> Column:
    """Expr tree → Spark Column over alias-prefixed column names.

    Parity notes (reference src/query/query.cpp:81-201):
    - ``=`` / ``!=`` are **null-safe** (NULL = NULL → true), unlike SQL
      three-valued logic → ``eqNullSafe``.
    - CONTAINS / STARTS_WITH / ENDS_WITH are implemented correctly; the
      reference's vectorized path degrades them to equality
      (src/query/query.cpp:635-649) which SURVEY.md flags as a bug not to
      replicate.
    - nested map access ``u.props.role`` → ``element_at`` (the reference's
      row-eval fallback, src/query/filter_executor.cpp:50-92, is unnecessary:
      element_at is vectorized/codegen'd in Spark).
    - r7: a VARIANT property column (``dtypes`` carries the frame's
      column types) takes the ``try_variant_get`` path instead — per-ROW
      runtime types preserved, the full ``map<utf8, dense_union>``
      semantics of the reference (include/arrow/utils.hpp:127-137) that
      the map<string,string> fallback can only approximate.
    """
    if isinstance(expr, Logical):
        left = compile_expr(expr.left, dtypes)
        right = compile_expr(expr.right, dtypes)
        return left & right if expr.op == "AND" else left | right
    if isinstance(expr, Compare):
        from tundradb_spark.functions import scalar as sf

        base = f"{expr.ref.alias}.{expr.ref.field}"
        col = _bt(base)
        op, v = expr.op, expr.value
        if expr.ref.nested_path:
            if dtypes is not None and sf.is_variant(dtypes.get(base)):
                col = sf.variant_get_for_literal(
                    col, expr.ref.nested_path, v
                )
            else:
                col = sf.map_get(col, *expr.ref.nested_path)
                # mixed-type maps load as map<string,string>; typed
                # literals force a typed comparison (reference
                # dominant-type inference)
                col = sf.cast_for_literal(col, v)
        if op is CompareOp.EQ:
            return sf.null_safe_eq(col, v)
        if op is CompareOp.NE:
            return sf.null_safe_ne(col, v)
        if op is CompareOp.GT:
            return col > v
        if op is CompareOp.LT:
            return col < v
        if op is CompareOp.GE:
            return col >= v
        if op is CompareOp.LE:
            return col <= v
        if op is CompareOp.CONTAINS:
            return sf.contains(col, v)
        if op is CompareOp.STARTS_WITH:
            return sf.starts_with(col, v)
        if op is CompareOp.ENDS_WITH:
            return sf.ends_with(col, v)
    raise QueryError(f"cannot compile expression: {expr!r}")


def _split_filters(
    wheres: list[Expr],
) -> tuple[dict[str, list[Expr]], list[Expr]]:
    """Single-alias predicates (pushed to the alias table) vs cross-alias
    predicates (deferred post-join). AND trees are split so each conjunct is
    pushed independently; OR trees spanning aliases stay deferred."""
    per_alias: dict[str, list[Expr]] = {}
    deferred: list[Expr] = []

    def visit(e: Expr) -> None:
        if isinstance(e, Logical) and e.op == "AND":
            visit(e.left)
            visit(e.right)
            return
        a = e.aliases()
        if len(a) == 1:
            per_alias.setdefault(next(iter(a)), []).append(e)
        else:
            deferred.append(e)

    for w in wheres:
        visit(w)
    return per_alias, deferred


# ---------------------------------------------------------------------------
# Join tree construction
# ---------------------------------------------------------------------------


@dataclass
class _PendingExtra:
    """A RIGHT/FULL hop's unmatched-target rows, appended post-join."""

    target_alias: str
    sub: DataFrame  # the target's fully-built subtree at hop time
    matched_sources: DataFrame | None  # self-join exclusion set (ids)


_MIRROR = {
    TraverseType.INNER: TraverseType.INNER,
    TraverseType.LEFT: TraverseType.RIGHT,
    TraverseType.RIGHT: TraverseType.LEFT,
    TraverseType.FULL: TraverseType.FULL,
    # a reversed-bound SEMI/ANTI hop still filters the already-bound alias
    # by edge existence, so the semantics are direction-symmetric
    TraverseType.SEMI: TraverseType.SEMI,
    TraverseType.ANTI: TraverseType.ANTI,
}

# hops that prune the parent frontier directly (INNER semantics for the
# FROM-root liveness rule)
_PRUNING = (TraverseType.INNER, TraverseType.SEMI, TraverseType.ANTI)


@dataclass
class _BuildHop:
    """A traverse oriented for tree building. ``reversed_build=True`` means
    the hop BINDS its written source, so the tree attaches it under the
    written target with the edge roles swapped and the join type mirrored
    (keep-all-sources LEFT becomes keep-all-child RIGHT from the parent's
    viewpoint, etc.)."""

    hop: Traverse
    reversed_build: bool

    @property
    def parent_alias(self) -> str:
        return self.hop.target_alias if self.reversed_build else self.hop.source_alias

    @property
    def child_alias(self) -> str:
        return self.hop.source_alias if self.reversed_build else self.hop.target_alias

    @property
    def build_type(self) -> TraverseType:
        t = self.hop.traverse_type
        return _MIRROR[t] if self.reversed_build else t

    @property
    def written_type(self) -> TraverseType:
        return self.hop.traverse_type


class MatchCompiler:
    def __init__(self, db: "Database", q: Query) -> None:
        self.db = db
        self.q = q
        self.alias_schema: dict[str, str] = {}  # node alias -> schema name
        self.edge_alias_type: dict[str, str] = {}  # edge alias -> edge type
        self.alias_order: list[str] = []  # bind order incl. edge aliases
        self._edge_seq = 0
        self._per_alias_filters: dict[str, list[Expr]] = {}
        self.deferred: list[Expr] = []
        self._extras: list[_PendingExtra] = []

    # -- helpers -------------------------------------------------------------
    def _node_table(self, alias: str) -> DataFrame:
        schema = self.alias_schema[alias]
        df = _prefix(
            self.db.get_table(schema, self.q.valid_time, self.q.tx_time), alias
        )
        for e in self._per_alias_filters.get(alias, []):
            df = df.filter(compile_expr(e, _dtypes(df)))
        return df

    def _edge_table(self, hop: Traverse) -> tuple[DataFrame, str, str, list[str]]:
        """Returns (edge_df, src_col, tgt_col, drop_cols)."""
        raw = self.db.get_edge_table(hop.edge_type, self.q.valid_time, self.q.tx_time)
        if hop.edge_alias:
            ea = hop.edge_alias
            df = _prefix(raw, ea)
            for e in self._per_alias_filters.get(ea, []):
                df = df.filter(compile_expr(e, _dtypes(df)))
            return df, f"{ea}.source_id", f"{ea}.target_id", []
        self._edge_seq += 1
        s, t = f"__e{self._edge_seq}_src", f"__e{self._edge_seq}_tgt"
        df = raw.select(F.col("source_id").alias(s), F.col("target_id").alias(t))
        return df, s, t, [s, t]

    # -- main ---------------------------------------------------------------
    def compile(self) -> DataFrame:
        q = self.q
        self.alias_schema[q.from_alias] = q.from_schema
        self.alias_order.append(q.from_alias)

        # Bind aliases & build the alias tree (reference prepare_query,
        # src/query/execution.cpp:730-787).
        children: dict[str, list[_BuildHop]] = {}
        closing: list[_BuildHop] = []
        from_hops: list[_BuildHop] = []
        for hop in q.traverses:
            src_b = hop.source_alias in self.alias_schema
            tgt_b = hop.target_alias in self.alias_schema
            if hop.edge_alias:
                if hop.edge_alias in self.edge_alias_type:
                    raise QueryError(f"duplicate edge alias: {hop.edge_alias}")
                self.edge_alias_type[hop.edge_alias] = hop.edge_type
            if src_b and not tgt_b:
                self.alias_schema[hop.target_alias] = hop.target_schema
                bh = _BuildHop(hop, reversed_build=False)
                children.setdefault(hop.source_alias, []).append(bh)
                self.alias_order.append(hop.target_alias)
            elif src_b and tgt_b:
                if self.alias_schema[hop.target_alias] != hop.target_schema:
                    raise QueryError(
                        f"alias {hop.target_alias} rebound to a different schema"
                    )
                bh = _BuildHop(hop, reversed_build=False)
                closing.append(bh)
            elif tgt_b and hop.source_schema is not None:
                # the hop BINDS its source (reversed pattern (c)<-[:E]-(u)):
                # build it as a child of the bound target, joining the edge
                # with swapped roles (the reference loads the source table on
                # demand, traverse_executor.cpp:61-69)
                self.alias_schema[hop.source_alias] = hop.source_schema
                bh = _BuildHop(hop, reversed_build=True)
                children.setdefault(hop.target_alias, []).append(bh)
                self.alias_order.append(hop.source_alias)
            else:
                raise QueryError(
                    f"source alias {hop.source_alias!r} must be bound by FROM, "
                    "a prior traverse, or an inline schema (\"u:User\")"
                )
            if hop.edge_alias:
                self.alias_order.append(hop.edge_alias)
            if bh.parent_alias == q.from_alias:
                from_hops.append(bh)

        self._per_alias_filters, self.deferred = _split_filters(q.wheres)
        known = set(self.alias_schema) | set(self.edge_alias_type)
        for a in self._per_alias_filters:
            if a not in known:
                raise QueryError(f"WHERE references unknown alias: {a!r}")
        for e in self.deferred:
            missing = e.aliases() - known
            if missing:
                raise QueryError(f"WHERE references unknown alias: {missing}")

        df = self._build(q.from_alias, children)

        # FROM-root semantics: with traversals, a root with no connection on
        # any hop is skipped unless FROM participates as an outer side
        # (result_builder.cpp:260-278 + the INNER root-skip at :203-206).
        # As written source, LEFT/FULL keep the root; as written target
        # (reversed build) any non-INNER keeps it, because the target ID set
        # is existing ∪ matched and FROM's existing set is the full table
        # (src/query/join.cpp:119-137, 243-260).
        from_is_outer = any(
            (not h.reversed_build and h.written_type in (TraverseType.LEFT, TraverseType.FULL))
            or (h.reversed_build and h.written_type not in _PRUNING)
            for h in from_hops
        )
        if from_hops and not from_is_outer:
            has_inner = any(h.build_type in _PRUNING for h in from_hops)
            if not has_inner:  # all RIGHT: require ≥1 live connection
                cond = F.lit(False)
                for h in from_hops:
                    cond = cond | _bt(f"{h.child_alias}.id").isNotNull()
                df = df.filter(cond)

        # Closing hops: both aliases already bound — the edge constrains
        # existing columns (multi-pattern conjunction,
        # apps/tundra_shell.cpp:470-478; INNER ID-set intersection,
        # src/query/join.cpp:51-76).
        for bh in closing:
            hop = bh.hop
            if hop.traverse_type is not TraverseType.INNER:
                raise QueryError(
                    "only INNER is supported for a pattern whose aliases are "
                    "both already bound"
                )
            edf, sc, tc, drop = self._edge_table(hop)
            df = df.join(
                edf,
                (_bt(f"{hop.source_alias}.id") == _bt(sc))
                & (_bt(f"{hop.target_alias}.id") == _bt(tc)),
                "inner",
            )
            if drop:
                df = df.drop(*drop)

        # RIGHT/FULL unmatched-target rows, appended against the final result
        # in hop order (the reference emits them from the final ID sets,
        # result_builder.cpp:305-330).
        for extra in self._extras:
            ckey = f"{extra.target_alias}.id"
            present = df.select(_bt(ckey).alias("__mid")).distinct()
            rows = extra.sub.join(present, _bt(ckey) == _bt("__mid"), "anti")
            if extra.matched_sources is not None:
                rows = rows.join(
                    extra.matched_sources, _bt(ckey) == _bt("__srcid"), "anti"
                )
            df = df.unionByName(rows, allowMissingColumns=True)

        # Deferred cross-alias WHERE: after joins AND null padding
        # (src/query/filter_executor.cpp:26-33; build_result_table order).
        for e in self.deferred:
            df = df.filter(compile_expr(e, _dtypes(df)))
        return df

    def _build(self, alias: str, children: dict[str, list[_BuildHop]]) -> DataFrame:
        return self._build_from(self._node_table(alias), alias, children)

    def _build_from(
        self, base: DataFrame, alias: str, children: dict[str, list[_BuildHop]]
    ) -> DataFrame:
        df = base
        for bh in children.get(alias, []):
            child_base = self._node_table(bh.child_alias)
            sub = self._build_from(child_base, bh.child_alias, children)
            df = self._attach(df, alias, bh, sub, child_base)
        return df

    def _attach(
        self,
        parent: DataFrame,
        alias: str,
        bh: _BuildHop,
        sub: DataFrame,
        child_base: DataFrame,
    ) -> DataFrame:
        hop = bh.hop
        edf, src_col, tgt_col, drop = self._edge_table(hop)
        # edge columns keep true direction; a reversed build joins the parent
        # on the edge's TARGET side and the child on its SOURCE side
        pcol, ccol = (tgt_col, src_col) if bh.reversed_build else (src_col, tgt_col)
        pkey, ckey = f"{alias}.id", f"{bh.child_alias}.id"
        jt = bh.build_type
        self_join = self.alias_schema[alias] == self.alias_schema[bh.child_alias]

        # SEMI/ANTI (J14 extension): filter the parent by edge existence into
        # the (filtered) child subtree; target columns never enter the output.
        # Physically: one semi-join edge→child, one semi/anti-join parent→edge
        # — both hash joins on ids, no row amplification.
        if jt in (TraverseType.SEMI, TraverseType.ANTI):
            hit = (
                edf.join(sub, _bt(ccol) == _bt(ckey), "semi")
                .select(_bt(pcol).alias("__hit"))
            )
            how = "semi" if jt is TraverseType.SEMI else "anti"
            return parent.join(hit, _bt(pkey) == _bt("__hit"), how)

        # matched paths: parent —edge→ surviving child subtree
        matched = parent.join(edf, _bt(pkey) == _bt(pcol), "inner").join(
            sub, _bt(ccol) == _bt(ckey), "inner"
        )
        if jt is TraverseType.INNER:
            out = matched
        elif sub is child_base:
            # Single-hop non-INNER (r14 optimization round, guide §2.4):
            # when the child subtree has no further descendants, the
            # reference's "no connection" set (no edge to a child passing
            # the child's OWN filters, i.e. child_base) is exactly the
            # native left join's unmatched set against edge ⨝ sub — the
            # matched ∪ no-connection union collapses to ONE outer join.
            # Same rows, same null padding, same schema; the union shape
            # below stays for deeper subtrees, where reference BFS-skip
            # semantics (prune-through-descendants) diverge from a plain
            # outer join.  Halves the parent/edge/child scans per hop.
            out = parent.join(
                edf.join(sub, _bt(ccol) == _bt(ckey), "inner"),
                _bt(pkey) == _bt(pcol),
                "left",
            )
        else:
            # Non-INNER: parent rows with NO connection (edge to a child
            # passing the child's own filters) ride along null-padded; rows
            # whose connections all lead into pruned subtrees do NOT
            # (reference BFS skip). Connections are edge ⨝ filtered-child-base.
            #
            # r15 (r14 verdict item 4): the matched leg and the no-connection
            # probe both scanned the edge table — and the probe additionally
            # re-scanned the child.  The edge rows that matter to BOTH legs
            # are exactly the edges whose child end passes the child's own
            # filters (edges into child ids absent from child_base cannot
            # join `sub` either, since sub's ids ⊆ child_base's ids — sub is
            # built FROM child_base and attaching descendants never adds
            # rows with new child ids).  So that narrow live-edge frame
            # (edge key columns only) is computed ONCE, lazily checkpointed,
            # and read by both legs: the edge and child tables are each
            # scanned once per hop (the probe's child read folds into the
            # semi-join here; the matched leg still reads the child's full
            # columns through `sub`).  This is the NARROW shared subtree —
            # checkpointing the wide result-so-far was measured 2.1x slower
            # in r14 and stays rejected.
            edge_live = materialize(
                edf.join(
                    child_base.select(_bt(ckey)), _bt(ccol) == _bt(ckey), "semi"
                ),
                eager=False,
            )
            matched = parent.join(
                edge_live, _bt(pkey) == _bt(pcol), "inner"
            ).join(sub, _bt(ccol) == _bt(ckey), "inner")
            conn_src = edge_live.select(_bt(pcol).alias("__csrc")).distinct()
            no_conn = parent.join(conn_src, _bt(pkey) == _bt("__csrc"), "anti")
            out = matched.unionByName(no_conn, allowMissingColumns=True)
        if jt in (TraverseType.RIGHT, TraverseType.FULL):
            # J4 self-join exclusion (matched sources never reappear as
            # unmatched targets, src/query/join.cpp:184-198). Not applied
            # to reversed builds: there the appended rows are the WRITTEN
            # SOURCES, whose pad set (all − matched) is disjoint by
            # construction (src/query/join.cpp:119-137).
            msrc = (
                matched.select(_bt(pkey).alias("__srcid")).distinct()
                if self_join and not bh.reversed_build
                else None
            )
            self._extras.append(_PendingExtra(bh.child_alias, sub, msrc))
        if drop:
            out = out.drop(*drop)
        return out

    # -- projection -----------------------------------------------------------
    def apply_select(self, df: DataFrame) -> DataFrame:
        """SELECT projection (reference apply_select,
        src/query/execution.cpp:585-635): exact ``alias.field`` names, bare
        alias → all of that alias's columns, empty → full denormalized
        schema in alias bind order. ``alias.map_field.key`` synthesizes a
        flat column (reference enrich_nested_select_fields,
        execution.cpp:32-207). ``AS`` aliasing is supported via
        ``"u.name AS username"`` — the reference parses but drops AS
        (apps/tundra_shell.cpp:485-494); we implement it properly.
        """
        fields = self.q.select_fields
        if not fields:
            ordered = [
                c
                for a in self.alias_order
                for c in df.columns
                if c.startswith(a + ".")
            ]
            rest = [c for c in df.columns if c not in ordered]
            return df.select([_bt(c) for c in ordered + rest])

        cols: list[Column] = []
        for f_spec in fields:
            out_name = None
            spec = f_spec
            low = f_spec.lower()
            if " as " in low:
                idx = low.rindex(" as ")
                spec, out_name = f_spec[:idx].strip(), f_spec[idx + 4 :].strip()
            if "." not in spec:
                matches = [c for c in df.columns if c.startswith(spec + ".")]
                if not matches:
                    raise QueryError(f"SELECT alias not found: {spec!r}")
                cols.extend(_bt(c) for c in matches)
                continue
            ref = FieldRef.parse(spec)
            base = f"{ref.alias}.{ref.field}"
            if base in df.columns and not ref.nested_path:
                cols.append(_bt(base).alias(out_name or base))
            elif ref.nested_path:
                from tundradb_spark.functions import scalar as sf

                c = _bt(base)
                if sf.is_variant(_dtypes(df).get(base)):
                    # VARIANT map: string realization on SELECT (every
                    # runtime type coerces; WHERE keeps literal types)
                    c = sf.variant_get_string(c, tuple(ref.nested_path))
                else:
                    for key in ref.nested_path:
                        c = F.element_at(c, key)
                cols.append(c.alias(out_name or str(ref)))
            else:
                raise QueryError(f"SELECT field not found: {spec!r}")
        return df.select(cols)


# ---------------------------------------------------------------------------
# post-MATCH extensions: aggregation / ordering / limit
# ---------------------------------------------------------------------------

_AGG_FNS = {
    "count": lambda c: F.count(c),
    "count_distinct": lambda c: F.count_distinct(c),
    "sum": F.sum,
    "avg": F.avg,
    "min": F.min,
    "max": F.max,
    "stddev": F.stddev,
    "median": F.median,
    "collect_set": F.collect_set,
    # approximate distinct via Spark's native HLL++ (constant state per
    # group at any scale); the externally-verifiable deterministic sketch
    # lives in pipeline.sketches.hll_distinct — use that when a SQL
    # oracle must reproduce the estimate
    "approx_distinct": F.approx_count_distinct,
}


def apply_post_ops(df: DataFrame, q: Query) -> DataFrame:
    if q.agg_spec is not None:
        spec = q.agg_spec
        aggs = []
        for fn, fld, out, cast in spec.aggs:
            if fn not in _AGG_FNS:
                raise QueryError(f"unknown aggregate: {fn}")
            col = F.lit(1) if fld == "*" else _bt(fld)
            if cast:
                col = col.cast(cast)
            aggs.append(_AGG_FNS[fn](col).alias(out))
        if spec.group_cols:
            df = df.groupBy([_bt(c) for c in spec.group_cols]).agg(*aggs)
        else:
            df = df.agg(*aggs)
    if q.rank_spec is not None:
        from tundradb_spark.operators.relational import top_k_per_group

        rs = q.rank_spec
        if rs.top is not None:
            df = top_k_per_group(
                df, rs.partition_by, rs.order_by, rs.top, rs.alias, rs.fn
            )
        else:
            from pyspark.sql import Window

            w = Window.partitionBy([_bt(c) for c in rs.partition_by]).orderBy(
                [_bt(c).asc() if asc else _bt(c).desc() for c, asc in rs.order_by]
            )
            from tundradb_spark.operators.relational import _RANK_FNS

            df = df.withColumn(rs.alias, _RANK_FNS[rs.fn]().over(w))
    if q.distinct_flag:
        df = df.distinct()
    if q.order_by_specs:
        df = df.orderBy(
            [_bt(c).asc() if asc else _bt(c).desc() for c, asc in q.order_by_specs]
        )
    if q.limit_n is not None:
        df = df.limit(q.limit_n)
    return df


def execute_match(db: "Database", q: Query) -> DataFrame:
    mc = MatchCompiler(db, q)
    df = mc.compile()
    df = mc.apply_select(df)
    return apply_post_ops(df, q)
