"""TundraQL interpreter: AST → Database engine calls.

Mirrors the behavior of the reference shell's visitor
(apps/tundra_shell.cpp:114-1310): each statement maps onto the same engine
entry points the fluent API uses, so text queries and builder queries share
one execution path (reference entry points 1 and 2, SURVEY.md §3).
"""

from __future__ import annotations

import importlib
from dataclasses import fields
from typing import TYPE_CHECKING, Any

from pyspark.sql import DataFrame

from tundradb_spark.errors import QueryError
from tundradb_spark.ql import ast
from tundradb_spark.query import Query

if TYPE_CHECKING:  # pragma: no cover
    from tundradb_spark.database import Database


def _build_query(db: "Database", m: ast.Match) -> Query:
    """Compile a MATCH AST into an engine Query (alias/schema resolution,
    hop ordering, WHERE, SELECT with AS — the reference drops AS aliases,
    apps/tundra_shell.cpp:485-494; we implement them, SURVEY.md §7)."""
    alias_schema: dict[str, str] = {}

    def bind(ref: ast.NodeRef) -> str:
        if ref.schema is not None:
            prev = alias_schema.get(ref.alias)
            if prev is not None and prev != ref.schema:
                raise QueryError(
                    f"alias {ref.alias!r} bound to both {prev} and {ref.schema}"
                )
            alias_schema[ref.alias] = ref.schema
        elif ref.alias not in alias_schema:
            raise QueryError(
                f"alias {ref.alias!r} used without a schema binding"
            )
        return ref.alias

    # first pass: bind every alias that declares a schema
    for ref in list(m.roots):
        bind(ref)
    for hop in m.hops:
        for ref in (hop.source, hop.target):
            if ref.schema is not None:
                bind(ref)
    for hop in m.hops:
        for ref in (hop.source, hop.target):
            bind(ref)

    if m.hops:
        # the query roots at the pattern's first written node, even when the
        # first hop is reversed (the traverse itself is emitted swapped)
        first = m.hops[0].source
    elif m.roots:
        first = m.roots[0]
    else:
        raise QueryError("MATCH requires at least one pattern")

    q = Query.from_(f"{first.alias}:{alias_schema[first.alias]}")

    for hop in m.hops:
        if hop.edge_type is None:
            raise QueryError("edge pattern requires a type: -[:TYPE]->")
        # <-[...]- swaps source/target at parse time into true edge direction
        # (reference apps/tundra_shell.cpp:570-577); the engine loads unbound
        # traverse sources on demand via the inline "alias:Schema" form
        src, tgt = (hop.target, hop.source) if hop.reversed else (hop.source, hop.target)
        q = q.traverse(
            f"{src.alias}:{alias_schema[src.alias]}",
            hop.edge_type,
            f"{tgt.alias}:{alias_schema[tgt.alias]}",
            hop.join_type,
            edge_alias=hop.edge_alias,
        )
    if m.where is not None:
        q = q.where(m.where)
    if m.select:
        q = q.select(
            *[
                f"{path} AS {as_name}" if as_name else path
                for path, as_name in m.select
            ]
        )
    # text-surface extension clauses — one-to-one onto the builder, so the
    # shell gains exactly the engine's post-MATCH capability set (§2.5/2.7,
    # operators/match.apply_post_ops)
    if m.distinct:
        q = q.distinct()
    if m.as_of_vt is not None:
        q = q.as_of_valid_time(m.as_of_vt)
    if m.as_of_tt is not None:
        q = q.as_of_tx_time(m.as_of_tt)
    if m.group_by:
        q = q.group_by(*m.group_by)
    for fn, fld, as_name in m.aggs:
        q = q.agg(fn, fld, alias=as_name)
    for path, asc in m.order_by:
        q = q.order_by(f"{path} {'asc' if asc else 'desc'}")
    if m.limit is not None:
        q = q.limit(m.limit)
    return q


def execute_statement(db: "Database", text: str) -> DataFrame | None:
    """Parse + execute ONE TundraQL statement. Returns a DataFrame for
    MATCH / SHOW / CREATE NODE ... RETURN id, else None."""
    from tundradb_spark.ql.parser import parse_statement

    stmt = parse_statement(text)
    return execute_ast(db, stmt)


def execute_ast(db: "Database", stmt: ast.Statement) -> DataFrame | None:
    if isinstance(stmt, ast.CreateSchema):
        if stmt.is_edge:
            db.create_edge_schema(stmt.name, stmt.fields)
        else:
            db.create_schema(stmt.name, stmt.fields)
        return None

    if isinstance(stmt, ast.CreateNode):
        nid = db.create_node(stmt.schema, **stmt.props)
        if stmt.return_id:
            return db.spark.createDataFrame([(nid,)], "id long")
        return None

    if isinstance(stmt, ast.CreateEdge):
        db.connect(
            stmt.edge_type,
            stmt.source,
            stmt.target,
            props=stmt.props or None,
            unique=stmt.unique,
        )
        return None

    if isinstance(stmt, ast.Match):
        return db.query(_build_query(db, stmt))

    if isinstance(stmt, ast.Update):
        return _execute_update(db, stmt)

    if isinstance(stmt, ast.Delete):
        return _execute_delete(db, stmt)

    if isinstance(stmt, ast.Show):
        if stmt.target == "edges":
            return db.show_edges(stmt.edge_type)
        return db.show_edge_types()

    if isinstance(stmt, ast.Commit):
        db.commit()
        return None

    if isinstance(stmt, ast.Explain):
        # plan introspection (extension): the compiled MATCH's PHYSICAL
        # plan, one output row per line so the shell renders it verbatim
        df = db.query(_build_query(db, stmt.inner))
        plan = df._jdf.queryExecution().executedPlan().toString()
        return db.spark.createDataFrame(
            [(line,) for line in plan.rstrip("\n").split("\n")],
            "plan string",
        )

    if isinstance(stmt, ast.Outliers):
        from tundradb_spark.operators.analytics import (
            robust_outliers,
            value_outliers,
        )

        events = db.get_table(stmt.table)
        cols = dict(
            group_col=stmt.group_col, value_col=stmt.value_col, id_col=stmt.id_col
        )
        if stmt.robust:
            return robust_outliers(events, k=stmt.k, **cols)
        return value_outliers(events, z_threshold=stmt.z, **cols)

    if isinstance(stmt, ast.Similarity):
        from tundradb_spark.graphs.algorithms import neighborhood_similarity

        if stmt.edges:
            pairs = db.get_edge_table(stmt.table)
            src = stmt.src or "source_id"
            dst = stmt.dst or "target_id"
        else:
            pairs = db.get_table(stmt.table)
            src = stmt.src or "id_a"
            dst = stmt.dst or "id_b"
        return neighborhood_similarity(
            pairs,
            src=src,
            dst=dst,
            min_common=stmt.min_common,
            max_degree=stmt.max_degree,
            include_adjacent=stmt.include_adjacent,
        )

    if isinstance(stmt, ast.Drift):
        from tundradb_spark.operators.analytics import distribution_drift

        return distribution_drift(
            db.get_table(stmt.ref),
            db.get_table(stmt.cur),
            group_col=stmt.group_col,
            value_col=stmt.value_col,
            bounds=(stmt.lo, stmt.hi),
            n_bins=stmt.n_bins,
            min_n=stmt.min_n,
            eps=stmt.eps,
        )

    if isinstance(stmt, ast.Diff):
        from tundradb_spark.pipeline.dedup import (
            corpus_diff,
            corpus_diff_summary,
            row_diff,
        )

        if stmt.cols is not None:
            # row_diff's dtype contract raises ValueError on columns the
            # portable digest can't render (raw float/double, nested
            # types) — surface it as a statement error, not a shell
            # crash (run_script catches QueryError only)
            try:
                return row_diff(
                    db.get_table(stmt.old),
                    db.get_table(stmt.new),
                    stmt.id_col,
                    list(stmt.cols),
                    include_unchanged=stmt.include_unchanged,
                )
            except ValueError as e:
                raise QueryError(f"DIFF COLS: {e}") from e
        if stmt.summary:
            return corpus_diff_summary(
                db.get_table(stmt.old),
                db.get_table(stmt.new),
                id_col=stmt.id_col,
                text_col=stmt.text_col,
            )
        return corpus_diff(
            db.get_table(stmt.old),
            db.get_table(stmt.new),
            id_col=stmt.id_col,
            text_col=stmt.text_col,
            include_unchanged=stmt.include_unchanged,
        )

    if isinstance(stmt, ast.Quality):
        from tundradb_spark.pipeline.classify import (
            lr_score,
            precision_thresholds,
        )

        scored = lr_score(
            db.get_table(stmt.table),
            db.get_table(stmt.weights),
            text_col=stmt.text_col,
            id_col=stmt.id_col,
            n_buckets=stmt.n_buckets,
            bigrams=stmt.bigrams,
        )
        if stmt.label_col is None:
            return scored
        if stmt.label_col in ("prob", "n_feats", "logit", stmt.id_col):
            raise QueryError(
                f"TundraQL: QUALITY THRESHOLDS LABEL {stmt.label_col!r}"
                " collides with a scorer output column"
                " (prob/n_feats/logit) or the id column — rename the"
                " label column on the source table"
            )
        labeled = scored.join(
            db.get_table(stmt.table).select(
                stmt.id_col, stmt.label_col
            ),
            stmt.id_col,
        )
        return precision_thresholds(
            labeled, "prob", stmt.label_col, n_bins=stmt.n_bins
        )

    if isinstance(stmt, ast.Gates):
        from tundradb_spark.pipeline.recipe import gate_funnel

        return gate_funnel(
            db.get_table(stmt.table),
            group_col=stmt.group_col,
            text_col=stmt.text_col,
            max_bigram_rep=stmt.max_bigram_rep,
            quality_weights=_quality_weights(db, stmt.weights),
            min_quality=stmt.min_quality,
            n_quality_buckets=stmt.n_buckets,
            quality_bigrams=stmt.bigrams,
        )

    if isinstance(stmt, ast.Report):
        from tundradb_spark.pipeline.recipe import curation_report

        return curation_report(
            db.get_table(stmt.table),
            text_col=stmt.text_col,
            id_col=stmt.id_col,
            group_col=stmt.group_col,
            max_bigram_rep=stmt.max_bigram_rep,
            quality_weights=_quality_weights(db, stmt.weights),
            min_quality=stmt.min_quality,
            n_quality_buckets=stmt.n_buckets,
            quality_bigrams=stmt.bigrams,
            quality_labeled=(
                db.get_table(stmt.labeled)
                if stmt.labeled is not None
                else None
            ),
            quality_label_col=stmt.label_col,
            quality_target_precision=stmt.target_precision,
            quality_calibration_bins=stmt.calibration_bins,
            dup_pairs=(
                db.get_table(stmt.pairs)
                if stmt.pairs is not None
                else None
            ),
            split_col=stmt.split_col,
            pair_src=stmt.pair_src,
            pair_dst=stmt.pair_dst,
        )

    if isinstance(stmt, ast.Extension):
        return _call_operator(db, stmt)

    raise QueryError(f"unhandled statement: {stmt!r}")


def _quality_weights(db: "Database", name: str | None) -> list | None:
    """The ``(bucket, weight)`` rows of weight table ``name``, the form the
    recipe's learned-quality gate takes."""
    if name is None:
        return None
    rows = db.get_table(name).select("bucket", "weight").collect()
    return [(r["bucket"], r["weight"]) for r in rows]


def _call_operator(db: "Database", stmt: ast.Extension) -> DataFrame:
    """A one-to-one statement: its tables (read with ``db.get_table``) and
    clause values go to ``stmt.OPERATOR`` by argument name."""
    module, _, name = stmt.OPERATOR.rpartition(".")
    op = getattr(importlib.import_module(f"tundradb_spark.{module}"), name)
    kwargs = {}
    for f in fields(stmt):
        value = getattr(stmt, f.name)
        if "kw" not in f.metadata:
            value = db.get_table(value)
        kwargs[f.metadata.get("arg", f.name)] = value
    return op(**kwargs)


def _execute_update(db: "Database", stmt: ast.Update) -> None:
    if stmt.locator is not None:
        # Mode 1: UPDATE User(0) SET f = v (update_executor.cpp:23-81)
        schema, nid = stmt.locator
        if stmt.where is not None:
            raise QueryError("UPDATE by id takes no WHERE clause")
        db.update_by_id(schema, nid, stmt.assignments)
        return None

    if stmt.pattern is not None:
        # Mode 2: UPDATE (u:User) SET u.f = v WHERE ...
        if stmt.pattern.schema is None:
            raise QueryError("UPDATE pattern requires (alias:Schema)")
        m = ast.Match(hops=[], roots=[stmt.pattern], where=stmt.where, select=[])
        q = _build_query(db, m)
        db.update_by_match(q, stmt.assignments)
        return None

    # Mode 3: UPDATE MATCH <patterns> SET alias.f = v WHERE ...
    assert stmt.match is not None
    m = ast.Match(
        hops=stmt.match.hops, roots=stmt.match.roots, where=stmt.where, select=[]
    )
    q = _build_query(db, m)
    db.update_by_match(q, stmt.assignments)
    return None


def _execute_delete(db: "Database", stmt: ast.Delete) -> None:
    if stmt.edge_type is not None:
        db.delete_edges(stmt.edge_type, stmt.edge_from, stmt.edge_to)
        return None
    if stmt.locator is not None:
        schema, nid = stmt.locator
        db.delete_node(schema, nid)
        return None
    if stmt.pattern is not None:
        if stmt.pattern.schema is None:
            raise QueryError("DELETE pattern requires (alias:Schema)")
        m = ast.Match(hops=[], roots=[stmt.pattern], where=stmt.where, select=[])
        q = _build_query(db, m)
        db.delete_by_match(q, stmt.pattern.alias)
        return None
    # path-pattern deletion: the reference shell stubs this with "not yet
    # implemented" (apps/tundra_shell.cpp:847-856) — parity-preserved.
    raise QueryError("path-pattern DELETE is not yet implemented")


def execute_script(db: "Database", script: str) -> list[DataFrame | None]:
    """Execute a multi-statement script (``;``-separated), returning each
    statement's result (reference --script mode, apps/tundra_shell.cpp:
    1988-2051)."""
    from tundradb_spark.ql.parser import split_statements

    return [execute_statement(db, s) for s in split_statements(script)]
