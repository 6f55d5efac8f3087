"""Physical-plan auditing: assert that the plans Catalyst produces are the
plans we want at 100 TB.

The reference engine hand-schedules its execution (ID-set pruning,
inline-where flags — SURVEY.md §4.1); this engine instead *declares* the
query and trusts Catalyst, so the scale guarantees live in the physical
plan: filters must reach the parquet scan (``PushedFilters``), scans must
prune columns (``ReadSchema``), small dimension tables must broadcast, and
an operator must not smuggle in a nested-loop join. These helpers make
those properties testable — tests/test_plans.py pins them for the headline
queries, so a regression that silently de-optimizes a plan fails CI rather
than surfacing as a 10× slowdown on a cluster.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """The final (AQE-resolved where available) physical plan as text."""
    jvm = df.sparkSession._sc._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def simple_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def scan_pushed_filters(df: DataFrame) -> list[str]:
    """All ``PushedFilters: [...]`` entries across the plan's parquet scans."""
    return re.findall(r"PushedFilters: \[([^\]]*)\]", formatted_plan(df))


def scan_partition_filters(df: DataFrame) -> list[str]:
    """All ``PartitionFilters: [...]`` entries across the plan's file scans.

    Non-empty entries mean the scan prunes at FILE level (directories for
    non-matching partition values are never listed or opened) — stronger
    than ``PushedFilters``, which still opens every file and relies on
    row-group stats."""
    return re.findall(r"PartitionFilters: \[([^\]]*)\]", formatted_plan(df))


def assert_partition_pruned(df: DataFrame, column: str) -> None:
    """Assert some file scan carries a real partition filter on ``column``
    (i.e. the predicate prunes files, not just rows post-scan)."""
    parts = scan_partition_filters(df)
    hits = [p for p in parts if column in p]
    if not any("IN" in p or "=" in p for p in hits):
        raise AssertionError(
            f"no pruning PartitionFilter on {column!r}; scans carry: {parts}"
        )


def scan_read_schemas(df: DataFrame) -> list[str]:
    """All ``ReadSchema`` strings across the plan's parquet scans."""
    return re.findall(r"ReadSchema: (\S+)", formatted_plan(df))


def assert_filter_pushed(df: DataFrame, column: str) -> None:
    """Assert some parquet scan received a pushed filter on ``column``."""
    pushed = scan_pushed_filters(df)
    if not any(column in p for p in pushed):
        raise AssertionError(
            f"no pushed filter on {column!r}; scans carry: {pushed}"
        )


def assert_column_pruned(df: DataFrame, column: str) -> None:
    """Assert no parquet scan reads ``column`` (projection pruning worked)."""
    schemas = scan_read_schemas(df)
    if any(column in s for s in schemas):
        raise AssertionError(f"column {column!r} still read by a scan: {schemas}")


def join_strategies(df: DataFrame) -> dict[str, int]:
    """Count physical join nodes by strategy name."""
    plan = formatted_plan(df)
    out: dict[str, int] = {}
    for strat in (
        "BroadcastHashJoin",
        "SortMergeJoin",
        "ShuffledHashJoin",
        "BroadcastNestedLoopJoin",
        "CartesianProduct",
    ):
        n = plan.count(strat)
        if n:
            out[strat] = n
    return out


def assert_no_nested_loop(df: DataFrame) -> None:
    """The cardinal sin at scale: a nested-loop / cartesian join."""
    bad = {
        k: v
        for k, v in join_strategies(df).items()
        if k in ("BroadcastNestedLoopJoin", "CartesianProduct")
    }
    if bad:
        raise AssertionError(f"plan contains non-equi join strategies: {bad}")


def assert_broadcast(df: DataFrame, at_least: int = 1) -> None:
    """Assert ≥``at_least`` broadcast hash joins (small-dim strategy chosen)."""
    n = join_strategies(df).get("BroadcastHashJoin", 0)
    if n < at_least:
        raise AssertionError(
            f"expected ≥{at_least} BroadcastHashJoin, plan has {n}: "
            f"{join_strategies(df)}"
        )


def count_exchanges(df: DataFrame) -> int:
    """Number of DATA-DEPENDENT shuffle exchanges (excluding broadcast
    exchanges) — the scale-critical metric: every one is a full network
    repartition of its input at 100 TB.

    Exchanges whose origin is an EXPLICIT ``repartition(n, ...)``
    (``REPARTITION_BY_NUM`` in the plan) are not counted.  Their source
    is the spread that ``sources.tables.read(..., spread_key=...)`` adds
    when a scan under-splits, which disappears on any real at-scale file
    layout.  The exchanges the pins exist to catch — joins,
    aggregations, windows, ``distinct`` — are planner-inserted
    (``ENSURE_REQUIREMENTS``) and are always counted."""
    plan = formatted_plan(df)
    # "Exchange" section headers look like "(n) Exchange"; broadcast ones are
    # "(n) BroadcastExchange"
    n = len(re.findall(r"\(\d+\) Exchange\b", plan))
    return n - plan.count("REPARTITION_BY_NUM")
