"""Event-sequence analytics: ordered funnels and cohort retention.

The events table is the same append-only stream the time-series and
sessionization operators consume; these two operators answer the product
questions a warehouse asks of it — "how many users progress through this
ordered sequence of actions?" and "how many users come back k periods
after their first visit?".  Both are exact, engine-reproducible (integer
counts, one rounded ratio), and SQL-oracle-checkable.

Scale design (100 TB events):

* :func:`funnel` — ONE linear lineage: the per-user frame carries every
  step's chained min time forward through k−1 user-keyed left joins
  (each against a type-filtered, pushed-down scan), and ALL per-step
  counts come from a single final aggregate over that one frame — so
  each frontier is computed exactly once and the physical plan has O(k)
  exchanges (pinned in tests/test_plans.py).  The r8 shape unioned one
  count branch per step, re-deriving frontiers 1..i for step i — O(k²)
  subplans that ReuseExchange does NOT collapse (column pruning makes
  the branches non-canonical-equal; measured on the analogous
  q_substr_spans plan).  The frame stays one row per funnel-ENTRY user
  (left joins preserve it for counting), and every join/agg after the
  first reuses the hash(user) partitioning — one exchange per step for
  the new step's scan, zero for the running frame.
* :func:`cohort_retention` — one ``(user, period)`` distinct (the only
  corpus-sized shuffle), one per-user min for the cohort assignment, one
  broadcast-able join back, one final small groupBy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from tundradb_spark.functions.timecols import epoch_micros
from tundradb_spark.session import materialize


def funnel(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    within_us: int | None = None,
) -> DataFrame:
    """Ordered-funnel analysis: for each prefix of ``steps``, the number
    of users with events matching the prefix IN ORDER — the classic
    product funnel (view → click → purchase).

    Semantics (the min-chaining definition every SQL funnel uses, so the
    oracle can reproduce it exactly): ``t₁(u)`` is the user's earliest
    ``steps[0]`` event; ``tᵢ(u)`` is the earliest ``steps[i]`` event
    STRICTLY after ``tᵢ₋₁(u)`` (and, when ``within_us`` is set, no later
    than ``t₁(u) + within_us`` — a conversion window anchored at funnel
    entry).  A user counts for step i iff ``tᵢ(u)`` exists.

    Output: ``(step_idx, step, n_users, conversion)`` — 1-based index,
    ``conversion = round(n_users / n_users(step 1), 6)``.
    """
    if not steps:
        raise ValueError("steps must be a non-empty ordered list")
    k = len(steps)
    ev = events.select(
        F.col(user_col).cast("long").alias("u"),
        epoch_micros(events, ts_col).alias("t"),
        F.col(type_col).alias("et"),
    )
    # step 1: funnel entry — t1 doubles as the conversion-window anchor.
    # The frame stays one row per ENTRY user through the whole chain;
    # step i's chained min rides in column ti (null = user never reached
    # step i), so the final single aggregate can count every step.
    frame = (
        ev.filter(F.col("et") == steps[0])
        .groupBy("u")
        .agg(F.min("t").alias("t1"))
    )
    for i, s in enumerate(steps[1:], start=2):
        step_ev = ev.filter(F.col("et") == s).select(
            F.col("u").alias("su"), F.col("t").alias("st")
        )
        cond = (F.col("u") == F.col("su")) & (
            F.col("st") > F.col(f"t{i - 1}")
        )
        if within_us is not None:
            cond = cond & (F.col("st") <= F.col("t1") + F.lit(within_us))
        # left join: a null t{i-1} never matches, so non-reaching users
        # carry a null ti forward; min() per group is the chained min
        frame = (
            frame.join(step_ev, cond, "left")
            .groupBy("u")
            .agg(
                *[F.min(f"t{j}").alias(f"t{j}") for j in range(1, i)],
                F.min("st").alias(f"t{i}"),
            )
        )
    # ONE row with every step count, exploded to the k output rows
    totals = frame.agg(
        *[F.count(f"t{i}").alias(f"n{i}") for i in range(1, k + 1)]
    )
    rows = totals.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).cast("long").alias("step_idx"),
                        F.lit(s).alias("step"),
                        F.col(f"n{i}").alias("n_users"),
                        F.col("n1").alias("n_first"),
                    )
                    for i, s in enumerate(steps, start=1)
                ]
            )
        ).alias("r")
    )
    return rows.select(
        F.col("r.step_idx").alias("step_idx"),
        F.col("r.step").alias("step"),
        F.col("r.n_users").alias("n_users"),
        F.round(
            F.col("r.n_users").cast("double")
            / F.nullif(F.col("r.n_first").cast("double"), F.lit(0.0)),
            6,
        ).alias("conversion"),
    )


def funnel_sql(
    table: str,
    steps: list[str],
    user_col: str = "user_id",
    ts_expr: str = "epoch_us(ts)",
    type_col: str = "event_type",
    within_us: int | None = None,
) -> str:
    """DuckDB oracle reproducing :func:`funnel` exactly — the same
    min-chaining, unrolled one CTE per step."""
    ctes = [
        f"ev AS (SELECT CAST({user_col} AS BIGINT) u, {ts_expr} t,"
        f" {type_col} et FROM {table})",
        f"s1 AS (SELECT u, min(t) AS t, min(t) AS t0 FROM ev"
        f" WHERE et = '{steps[0]}' GROUP BY u)",
    ]
    for i, s in enumerate(steps[1:], start=2):
        win = (
            f" AND ev.t <= s{i-1}.t0 + {within_us}"
            if within_us is not None
            else ""
        )
        ctes.append(
            f"s{i} AS (SELECT ev.u, min(ev.t) AS t, min(s{i-1}.t0) AS t0"
            f" FROM ev JOIN s{i-1} ON ev.u = s{i-1}.u"
            f" WHERE ev.et = '{s}' AND ev.t > s{i-1}.t{win}"
            f" GROUP BY ev.u)"
        )
    unions = " UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) step_idx, '{s}' step,"
        f" (SELECT count(*) FROM s{i}) n_users"
        for i, s in enumerate(steps, start=1)
    )
    ctes.append(f"counts AS ({unions})")
    return (
        "WITH "
        + ", ".join(ctes)
        + " SELECT step_idx, step, CAST(n_users AS BIGINT) AS n_users,"
        " round(CAST(n_users AS DOUBLE) / nullif(CAST((SELECT n_users"
        " FROM counts WHERE step_idx = 1) AS DOUBLE), 0.0), 6)"
        " AS conversion FROM counts"
    )


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    period_us: int = 86_400_000_000,
    max_offset: int | None = None,
) -> DataFrame:
    """Cohort retention: users are cohorted by the period of their FIRST
    event; ``n_users(cohort, offset)`` counts the cohort's users active
    ``offset`` periods later.  ``retention`` divides by the cohort's size
    (its offset-0 count — every user is active in their first period by
    definition).

    Periods are integer indices (``epoch_µs div period_us``), not
    calendar dates: exact on both engines and timezone-free.

    Output: ``(cohort, period_offset, n_users, retention)``.
    """
    if period_us < 1:
        raise ValueError(f"period_us must be >= 1, got {period_us}")
    # floor-div semantics for nonnegative epochs; `div` keeps it integral
    ev = events.select(
        F.col(user_col).cast("long").alias("u"),
        epoch_micros(events, ts_col).alias("t"),
    ).select("u", F.expr(f"t div {period_us}").alias("p"))
    active = ev.distinct()  # (user, period) — the one corpus-sized shuffle
    first = active.groupBy("u").agg(F.min("p").alias("p0"))
    ret = (
        active.join(first, "u")
        .select("p0", (F.col("p") - F.col("p0")).alias("off"))
    )
    if max_offset is not None:
        ret = ret.filter(F.col("off") <= max_offset)
    counts = ret.groupBy("p0", "off").agg(
        F.count(F.lit(1)).alias("n_users")
    )  # (u, p) is distinct, so count(*) IS the distinct-user count
    from pyspark.sql import Window

    w = Window.partitionBy("p0")
    base = F.max(F.when(F.col("off") == 0, F.col("n_users"))).over(w)
    return counts.select(
        F.col("p0").alias("cohort"),
        F.col("off").alias("period_offset"),
        "n_users",
        F.round(
            F.col("n_users").cast("double") / base.cast("double"), 6
        ).alias("retention"),
    )


def cohort_retention_sql(
    table: str,
    user_col: str = "user_id",
    ts_expr: str = "epoch_us(ts)",
    period_us: int = 86_400_000_000,
    max_offset: int | None = None,
) -> str:
    """DuckDB oracle reproducing :func:`cohort_retention` exactly."""
    off_filter = (
        f" WHERE p - p0 <= {max_offset}" if max_offset is not None else ""
    )
    return f"""
    WITH active AS (
        SELECT DISTINCT CAST({user_col} AS BIGINT) u,
               {ts_expr} // {period_us} AS p
        FROM {table}
    ),
    first AS (SELECT u, min(p) AS p0 FROM active GROUP BY u),
    ret AS (
        SELECT p0, p - p0 AS off
        FROM active JOIN first USING (u){off_filter}
    ),
    counts AS (
        SELECT p0, off, count(*) AS n_users FROM ret GROUP BY p0, off
    )
    SELECT CAST(p0 AS BIGINT) AS cohort,
           CAST(off AS BIGINT) AS period_offset,
           CAST(n_users AS BIGINT) AS n_users,
           round(CAST(n_users AS DOUBLE) /
                 CAST(max(CASE WHEN off = 0 THEN n_users END)
                      OVER (PARTITION BY p0) AS DOUBLE), 6) AS retention
    FROM counts
    """


def value_outliers(
    events: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
    z_threshold: float = 3.0,
) -> DataFrame:
    """Per-group z-score anomaly detection: rows whose ``value`` deviates
    from their group's mean by at least ``z_threshold`` population
    standard deviations — the metric-outlier sweep a pipeline runs over
    an event stream before trusting its aggregates.

    Plan / 100 TB shape: ONE map-side-combined ``groupBy(group)``
    computing ``(n, Σv, Σv², n_domain)`` over a SINGLE events scan (the
    domain tag is a per-row boolean, so both the stats and the exclusion
    counts come out of the same aggregate), broadcast back onto the
    events scan for the per-row z — the events table is never shuffled.

    Metric domain (dirty-input policy, r10: VISIBLE, not silent): rows
    with a non-NULL value outside ``|value| < 1e9`` — NaN, ±Inf, and
    ±1e308-style glitches — are excluded from the moment sums (under
    ANSI mode one 1e308 row would otherwise throw on the decimal cast
    and kill the whole job; operators.relational.METRIC_ABS_BOUND has
    the rationale) but are EMITTED as ``flag='domain'`` rows: an
    anomaly detector is the one place extreme glitches must stay
    observable (r9 verdict "What's wrong #2").  A domain row carries the
    event's id and group, its raw value when finite (NULL for NaN/±Inf,
    which have no portable hash), ``n_group`` = the count of
    domain-violating rows in its group, and a NULL z.  Rows with a NULL
    value carry no metric at all and are dropped silently as before.

    Engine determinism: the moment sums are accumulated in
    ``decimal(38,12)`` (cast per row from double, exact and
    partition-order independent — the ``pq_train`` discipline; the cast
    sits inside the domain ``when``, which Catalyst evaluates lazily,
    so glitch rows never reach it); mean and variance then come from
    single double divisions with an expression shape shared by
    :func:`value_outliers_sql`, so z values are bit-identical across
    engines.  Variance is clamped at 0 against negative rounding
    residue; zero-variance groups produce no outlier rows (their domain
    rows still surface).

    Output: ``(id, group, value, n_group, z, flag)`` with
    ``flag IN ('outlier', 'domain')`` and z rounded half-up to 6 via
    exact decimal arithmetic (NULL on domain rows).
    """
    if z_threshold <= 0:
        raise ValueError(f"z_threshold must be > 0, got {z_threshold}")
    ev = _metric_tagged(events, group_col, value_col, id_col)
    stats = outlier_moments(ev, group_col, value_col)
    return flag_outliers(ev, stats, group_col, value_col, id_col, z_threshold)


def _metric_tagged(
    events: DataFrame, group_col: str, value_col: str, id_col: str
) -> DataFrame:
    """(id, group, value double) with NULL values dropped and the
    metric-domain tag ``__ok`` — the shared front end of
    :func:`value_outliers` and the streaming moment sink."""
    v = F.col(value_col)
    return (
        events.select(
            F.col(id_col).cast("long").alias(id_col),
            F.col(group_col).alias(group_col),
            F.col(value_col).cast("double").alias(value_col),
        )
        .filter(v.isNotNull())
        # NaN/±Inf compare greater than any finite double in BOTH
        # engines, so one predicate covers every domain violation
        .withColumn("__ok", F.abs(v) < F.lit(1e9))
    )


def outlier_moments(
    ev: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Per-group moment partials ``(n_group, __sv, __svv, __ndom)`` over a
    ``__ok``-tagged frame.  Every column is ADDITIVE (exact longs and
    exact ``decimal(38,12)`` sums), so partials from disjoint row sets —
    micro-batch epochs, shards — merge by plain ``sum`` into exactly the
    single-pass aggregate (streaming.ops.stream_outlier_moments is that
    merge's producer)."""
    v = F.col(value_col)
    return ev.groupBy(group_col).agg(
        F.sum(F.when(F.col("__ok"), 1).otherwise(0)).alias("n_group"),
        F.sum(
            F.when(F.col("__ok"), v.cast("decimal(38,12)"))
        ).alias("__sv"),
        F.sum(
            F.when(F.col("__ok"), (v * v).cast("decimal(38,12)"))
        ).alias("__svv"),
        F.sum(F.when(~F.col("__ok"), 1).otherwise(0)).alias("__ndom"),
    )


def flag_outliers(
    ev: DataFrame,
    stats: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    z_threshold: float,
    how: str = "inner",
) -> DataFrame:
    """Score a ``__ok``-tagged frame against per-group moment partials
    (:func:`outlier_moments` layout) — the back half of
    :func:`value_outliers`, shared verbatim with the streaming reader so
    stream-merged moments flag IDENTICALLY to the batch operator.

    ``how`` matters only when ``ev`` is a DIFFERENT frame than the one
    the stats came from (the streaming reader's live-monitoring use):
    with ``"left"``, a row whose group never appeared in the stats still
    surfaces — an ``__ok`` row can't be judged without moments and is
    dropped by the z-filter either way (its z is NULL), but a
    metric-domain glitch row keeps its ``flag='domain'`` visibility
    (``n_group`` coalesced to 0: the stats side saw zero domain rows for
    that group).  In the batch operator the stats come FROM ``ev``, every
    group is present, and ``"inner"`` ≡ ``"left"``."""
    v = F.col(value_col)
    mean = F.expr(
        "cast(__sv as double) / nullif(cast(n_group as double), 0.0)"
    )
    var = F.expr(
        "greatest(cast(__svv as double)"
        " / nullif(cast(n_group as double), 0.0)"
        " - (cast(__sv as double) / nullif(cast(n_group as double), 0.0))"
        " * (cast(__sv as double) / nullif(cast(n_group as double), 0.0))"
        ", 0.0)"
    )
    joined = ev.join(
        F.broadcast(
            stats.select(
                group_col,
                "n_group",
                "__ndom",
                mean.alias("__mean"),
                F.sqrt(var).alias("__std"),
            )
        ),
        group_col,
        how,
    )
    zraw = F.expr(
        f"case when __ok and __std > 0 then"
        f" cast(({value_col} - __mean) / __std as decimal(20,10)) end"
    )
    nonfinite = F.isnan(v) | (F.abs(v) == F.lit(float("inf")))
    return (
        joined.withColumn("__z", zraw)
        .filter(
            ~F.col("__ok")
            | (F.col("__z").isNotNull() & (F.abs(F.col("__z")) >= z_threshold))
        )
        .select(
            id_col,
            group_col,
            F.when(F.col("__ok") | ~nonfinite, v).alias(value_col),
            F.when(F.col("__ok"), F.col("n_group"))
            .otherwise(F.coalesce(F.col("__ndom"), F.lit(0)))
            .cast("long")
            .alias("n_group"),
            F.expr(
                "cast(floor(__z * 1000000 + 0.5) as double) / 1000000.0"
            ).alias("z"),
            F.when(F.col("__ok"), F.lit("outlier"))
            .otherwise(F.lit("domain"))
            .alias("flag"),
        )
    )


def value_outliers_sql(
    table: str,
    group_col: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
    z_threshold: float = 3.0,
) -> str:
    """DuckDB oracle reproducing :func:`value_outliers` exactly — the
    same decimal moment sums and double division shapes, the same
    ``flag='domain'`` pass-through of metric-domain violations (the
    decimal casts sit behind a ``WHERE ok`` so ±1e308 glitch rows never
    reach them, the SQL analogue of the Spark side's lazy ``when``)."""
    return f"""
    WITH raw AS (
        SELECT CAST({id_col} AS BIGINT) AS {id_col}, {group_col},
               CAST({value_col} AS DOUBLE) AS {value_col}
        FROM {table} WHERE {value_col} IS NOT NULL
    ),
    tagged AS (
        SELECT *, abs({value_col}) < 1000000000.0 AS ok FROM raw
    ),
    stats AS (
        SELECT {group_col}, count(*) AS n_group,
               sum(CAST({value_col} AS DECIMAL(38,12))) AS sv,
               sum(CAST({value_col} * {value_col} AS DECIMAL(38,12))) AS svv
        FROM tagged WHERE ok GROUP BY {group_col}
    ),
    dom AS (
        SELECT {group_col}, count(*) AS n_domain
        FROM tagged WHERE NOT ok GROUP BY {group_col}
    ),
    m AS (
        SELECT {group_col}, n_group,
               CAST(sv AS DOUBLE)
                 / nullif(CAST(n_group AS DOUBLE), 0.0) AS mean,
               sqrt(greatest(
                   CAST(svv AS DOUBLE)
                     / nullif(CAST(n_group AS DOUBLE), 0.0)
                   - (CAST(sv AS DOUBLE)
                      / nullif(CAST(n_group AS DOUBLE), 0.0))
                     * (CAST(sv AS DOUBLE)
                        / nullif(CAST(n_group AS DOUBLE), 0.0)),
                   0.0)) AS std
        FROM stats
    ),
    zz AS (
        SELECT t.{id_col}, t.{group_col}, t.{value_col}, t.ok,
               m.n_group, d.n_domain,
               CASE WHEN t.ok AND m.std > 0
                    THEN CAST((t.{value_col} - m.mean) / m.std
                              AS DECIMAL(20,10)) END AS z
        FROM tagged t
        LEFT JOIN m USING ({group_col})
        LEFT JOIN dom d USING ({group_col})
    )
    SELECT {id_col}, {group_col},
           CASE WHEN ok OR NOT (isnan({value_col}) OR isinf({value_col}))
                THEN {value_col} END AS {value_col},
           CAST(CASE WHEN ok THEN n_group ELSE n_domain END
                AS BIGINT) AS n_group,
           CAST(floor(z * 1000000 + 0.5) AS DOUBLE) / 1000000.0 AS z,
           CASE WHEN ok THEN 'outlier' ELSE 'domain' END AS flag
    FROM zz
    WHERE (NOT ok) OR (z IS NOT NULL AND abs(z) >= {z_threshold})
    """


def markov_transitions(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str = "event_id",
    min_count: int = 1,
) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: for every ordered pair of consecutive events a user emits,
    count ``src_type → dst_type`` and normalize per source state — the
    "what do users do next?" path-analysis primitive behind next-action
    prediction and drop-off diagnosis.

    Semantics: each user's events are ordered by ``(ts, tiebreak)``;
    every adjacent pair contributes one transition (sequences of length 1
    contribute none).  ``prob`` is ``n_transitions / n_from_src`` where
    the denominator is the source state's TOTAL outgoing transitions
    BEFORE any ``min_count`` pruning, so surviving rows keep their true
    probabilities (they need not sum to 1 after pruning).

    Plan / 100 TB shape: ONE hash shuffle on the user key, one window
    sort, one ``lead`` — then a ``groupBy(src, dst)`` whose output is
    states²-sized (map-side combined, trivially small); the per-source
    totals are a window over that tiny frame.  Nothing corpus-sized
    survives the first aggregate.

    Engine determinism: counts are exact longs; the single division is
    one double op rounded half-up to 6 via exact decimal arithmetic.

    Output: ``(src, dst, n_transitions, n_from_src, prob)``.
    """
    from pyspark.sql import Window

    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    ev = events.select(
        F.col(user_col).cast("long").alias("u"),
        epoch_micros(events, ts_col).alias("t"),
        F.col(tiebreak_col).cast("long").alias("tb"),
        F.col(type_col).alias("src"),
    )
    w = Window.partitionBy("u").orderBy(F.asc("t"), F.asc("tb"))
    pairs = ev.withColumn("dst", F.lead("src").over(w)).filter(
        F.col("dst").isNotNull()
    )
    counts = pairs.groupBy("src", "dst").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    w_src = Window.partitionBy("src")
    return (
        counts.withColumn(
            "n_from_src", F.sum("n_transitions").over(w_src)
        )
        .filter(F.col("n_transitions") >= min_count)
        .select(
            "src",
            "dst",
            "n_transitions",
            "n_from_src",
            F.expr(
                "cast(floor(cast(cast(n_transitions as double)"
                " / cast(n_from_src as double) as decimal(20,10))"
                " * 1000000 + 0.5) as double) / 1000000.0"
            ).alias("prob"),
        )
    )


def markov_transitions_sql(
    table: str,
    user_col: str = "user_id",
    ts_expr: str = "epoch_us(ts)",
    type_col: str = "event_type",
    tiebreak_col: str = "event_id",
    min_count: int = 1,
) -> str:
    """DuckDB oracle reproducing :func:`markov_transitions` exactly."""
    return f"""
    WITH ev AS (
        SELECT CAST({user_col} AS BIGINT) u, {ts_expr} t,
               CAST({tiebreak_col} AS BIGINT) tb, {type_col} AS src
        FROM {table}
    ),
    pairs AS (
        SELECT src,
               lead(src) OVER (PARTITION BY u ORDER BY t ASC, tb ASC) AS dst
        FROM ev
    ),
    counts AS (
        SELECT src, dst, count(*) AS n_transitions
        FROM pairs WHERE dst IS NOT NULL GROUP BY src, dst
    ),
    tot AS (
        SELECT *, sum(n_transitions) OVER (PARTITION BY src) AS n_from_src
        FROM counts
    )
    SELECT src, dst, CAST(n_transitions AS BIGINT) AS n_transitions,
           CAST(n_from_src AS BIGINT) AS n_from_src,
           CAST(floor(CAST(CAST(n_transitions AS DOUBLE)
                           / CAST(n_from_src AS DOUBLE) AS DECIMAL(20,10))
                      * 1000000 + 0.5) AS DOUBLE) / 1000000.0 AS prob
    FROM tot WHERE n_transitions >= {min_count}
    """


def event_ngrams(
    events: DataFrame,
    n: int = 3,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    min_count: int = 1,
    top_n: int | None = None,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Frequent sequential patterns: the contiguous length-``n`` event-type
    sequences (n-grams over each user's time-ordered stream) with their
    total occurrence counts and distinct-user support — the "what do
    users actually do, in order" sweep that complements
    :func:`markov_transitions` (which sees only adjacent pairs) and
    :func:`funnel` (which checks ONE hypothesized order; this surfaces
    the orders worth hypothesizing).

    Semantics: a user's events are ordered by ``(ts, tiebreak)``; every
    window of ``n`` consecutive events contributes one n-gram
    (``a>b>c``); occurrences count every window, support counts distinct
    users.  A window containing a NULL event type contributes NO gram —
    the gate requires every part non-null, because ``concat_ws`` would
    otherwise silently collapse ``(a, NULL, c)`` into the string ``a>c``,
    indistinguishable from a real bigram (and divergent from the SQL
    ``||`` chain, which nullifies the gram).

    Plan / 100 TB shape: ONE user-keyed shuffle + window sort builds the
    grams via ``lead`` chains (no per-user collect — per-row state is
    ``n−1`` strings); the gram groupBy is map-side combined with
    count-distinct expansion bounded by (gram, user) pairs; ``top_n``
    compiles to TakeOrderedAndProject (no global sort).  Ordering ties
    are broken by ``tiebreak_col`` so results are partition-order free.

    Returns ``(gram, n_occurrences, n_users)``; with ``top_n``, the top
    rows by ``(n_occurrences DESC, gram ASC)`` — a total order, so the
    cut is deterministic.
    """
    if n < 2:
        raise ValueError(f"n must be >= 2, got {n}")
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    from pyspark.sql import Window

    cols = [
        F.col(user_col).cast("long").alias("u"),
        epoch_micros(events, ts_col).alias("t"),
        F.col(type_col).alias("et"),
    ]
    order = [F.col("t").asc()]
    if tiebreak_col is not None:
        cols.append(F.col(tiebreak_col).alias("__tb"))
        order.append(F.col("__tb").asc())
    ev = events.select(*cols)
    w = Window.partitionBy("u").orderBy(*order)
    parts = [F.col("et")] + [
        F.lead("et", j).over(w) for j in range(1, n)
    ]
    all_non_null = parts[0].isNotNull()
    for p in parts[1:]:
        all_non_null = all_non_null & p.isNotNull()
    grams = ev.select(
        "u",
        F.when(
            all_non_null,
            F.concat_ws(">", *parts),
        ).alias("gram"),
    ).filter(F.col("gram").isNotNull())
    counts = (
        grams.groupBy("gram")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.count_distinct("u").alias("n_users"),
        )
        .filter(F.col("n_occurrences") >= min_count)
    )
    if top_n is not None:
        counts = counts.orderBy(
            F.col("n_occurrences").desc(), F.col("gram").asc()
        ).limit(top_n)
    return counts.select(
        "gram",
        F.col("n_occurrences").cast("long").alias("n_occurrences"),
        F.col("n_users").cast("long").alias("n_users"),
    )


def event_ngrams_sql(
    table: str,
    n: int = 3,
    user_col: str = "user_id",
    ts_expr: str = "epoch_us(ts)",
    type_col: str = "event_type",
    min_count: int = 1,
    top_n: int | None = None,
    tiebreak_col: str | None = None,
) -> str:
    """DuckDB oracle reproducing :func:`event_ngrams` exactly (same
    window, same lead chain, same tie-breaks)."""
    tb = ", tb ASC" if tiebreak_col is not None else ""
    tb_sel = (
        f", {tiebreak_col} AS tb" if tiebreak_col is not None else ""
    )
    leads = ["et"] + [f"lead(et, {j}) OVER w" for j in range(1, n)]
    gram = " || '>' || ".join(leads)
    all_non_null = " AND ".join(f"{l} IS NOT NULL" for l in leads)
    tail = (
        f" ORDER BY n_occurrences DESC, gram ASC LIMIT {top_n}"
        if top_n is not None
        else ""
    )
    return f"""
    WITH ev AS (SELECT CAST({user_col} AS BIGINT) u, {ts_expr} t,
                       {type_col} et{tb_sel} FROM {table}),
    g AS (SELECT u, CASE WHEN {all_non_null}
                         THEN {gram} END AS gram
          FROM ev WINDOW w AS (PARTITION BY u ORDER BY t ASC{tb}))
    SELECT gram, CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(count(DISTINCT u) AS BIGINT) AS n_users
    FROM g WHERE gram IS NOT NULL
    GROUP BY gram HAVING count(*) >= {min_count}{tail}
    """


def robust_outliers(
    events: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
    k: float = 3.5,
) -> DataFrame:
    """Per-group ROBUST anomaly detection via the median / MAD rule
    (Iglewicz & Hoaglin 1993): a row is an outlier when

        ``|value − median| / (1.4826 · MAD) >= k``

    — the standard complement to :func:`value_outliers`' z-score, whose
    mean and standard deviation are themselves dragged by the very
    extremes it hunts (one 1e8 inlier-bound glitch can mask every true
    outlier by inflating σ).  Median and MAD have a 50% breakdown point,
    so the threshold stays put no matter how wild the tail is.

    Exact cross-engine medians WITHOUT interpolation ambiguity: the
    median is computed from explicit ranks — ``row_number`` over
    ``(value, id)`` picks the value(s) at 1-indexed ranks
    ``floor((n+1)/2)`` and ``floor((n+2)/2)``, and the median is their
    ``sum/count`` (one IEEE add + divide for even n, identity for odd) —
    the SAME arithmetic in :func:`robust_outliers_sql`, avoiding
    engine-defined ``percentile``/``quantile_cont`` interpolation shapes
    (``lo + (hi−lo)·0.5`` and ``(lo+hi)/2`` differ in the last bit).
    The MAD is the same rank trick over ``|value − median|``.

    Plan / 100 TB shape: two sort-based window passes over the
    ``(group, value, id)`` PROJECTION (never the full rows) — exact
    distributed medians with no per-group in-memory buffering (Spark's
    ``percentile`` aggregate collects every group value into one
    executor's memory; ``row_number`` sorts spill) — plus group-sized
    median/MAD frames broadcast back onto the scan.  For an approximate
    single-pass alternative at extreme scale, see
    ``relational.group_quantiles`` (histogram sketch).  Skewed groups
    cost a skewed sort, which AQE splits.

    Metric domain: same VISIBLE policy as :func:`value_outliers` —
    NULL values drop silently; NaN/±Inf/|v| >= 1e9 rows are excluded
    from median/MAD but emitted as ``flag='domain'`` rows (value NULL
    for non-finite, ``n_group`` = per-group violation count, NULL
    score).  Zero-MAD groups (over half the values identical) produce
    no outlier rows; their domain rows still surface.

    Output: ``(id, group, value, n_group, score, flag)`` — ``score`` is
    the signed robust z rounded half-up to 6 dp, ``flag IN ('outlier',
    'domain')``.
    """
    if k <= 0:
        raise ValueError(f"k must be > 0, got {k}")
    from pyspark.sql import Window

    v = F.col(value_col)
    ev = (
        events.select(
            F.col(id_col).cast("long").alias(id_col),
            F.col(group_col).alias(group_col),
            v.cast("double").alias(value_col),
        )
        .filter(v.isNotNull())
        .withColumn("__ok", F.abs(v) < F.lit(1e9))
    )
    ok = ev.filter("__ok")

    def _rank_median(df: DataFrame, col: str, out: str) -> DataFrame:
        """Per-group median of ``col`` via explicit ranks (see above);
        returns a group-sized ``(group, n_group?, out)`` frame.

        r14 opt (guide §2.4): the group count rides the SAME window
        partitioning as the rank (an unbounded-frame ``count`` over the
        ``row_number`` sort's exchange) instead of a separate
        ``groupBy`` + broadcast join — one source scan per median, not
        two, and the ``dev`` input to the MAD median is consumed once.
        Same ``__n`` values, bit-identical medians."""
        w = Window.partitionBy(group_col).orderBy(
            F.col(col).asc(), F.col(id_col).asc()
        )
        wn = Window.partitionBy(group_col)
        ranked = df.select(
            group_col,
            col,
            F.row_number().over(w).alias("__rn"),
            F.count(F.lit(1)).over(wn).alias("__n"),
        )
        return (
            ranked.filter(
                (F.col("__rn") == F.floor((F.col("__n") + 1) / 2))
                | (F.col("__rn") == F.floor((F.col("__n") + 2) / 2))
            )
            .groupBy(group_col)
            .agg(
                (F.sum(col) / F.count(F.lit(1))).alias(out),
                F.first("__n").alias("__n"),
            )
        )
    # med is consumed TWICE (the MAD deviation join and the final
    # score join) and is group-sized — checkpoint lazily so the whole
    # median pipeline (scan + sort window) runs once (guide §5)
    med = materialize(_rank_median(ok, value_col, "__med"), eager=False)
    dev = ok.join(F.broadcast(med.select(group_col, "__med")), group_col).select(
        id_col, group_col, F.abs(v - F.col("__med")).alias("__dev")
    )
    mad = _rank_median(dev, "__dev", "__mad").select(group_col, "__mad")
    ndom = (
        ev.filter(~F.col("__ok"))
        .groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("__ndom"))
    )
    joined = (
        ev.join(F.broadcast(med.withColumnRenamed("__n", "__nok")), group_col, "left")
        .join(F.broadcast(mad), group_col, "left")
        .join(F.broadcast(ndom), group_col, "left")
    )
    rz = F.expr(
        f"case when __ok and __mad > 0 then"
        f" cast(({value_col} - __med) / (__mad * 1.4826)"
        f" as decimal(20,10)) end"
    )
    nonfinite = F.isnan(v) | (F.abs(v) == F.lit(float("inf")))
    return (
        joined.withColumn("__rz", rz)
        .filter(
            ~F.col("__ok")
            | (F.col("__rz").isNotNull() & (F.abs(F.col("__rz")) >= k))
        )
        .select(
            id_col,
            group_col,
            F.when(F.col("__ok") | ~nonfinite, v).alias(value_col),
            F.when(F.col("__ok"), F.col("__nok"))
            .otherwise(F.col("__ndom"))
            .cast("long")
            .alias("n_group"),
            F.expr(
                "cast(floor(__rz * 1000000 + 0.5) as double) / 1000000.0"
            ).alias("score"),
            F.when(F.col("__ok"), F.lit("outlier"))
            .otherwise(F.lit("domain"))
            .alias("flag"),
        )
    )


def robust_outliers_sql(
    table: str,
    group_col: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
    k: float = 3.5,
) -> str:
    """DuckDB oracle reproducing :func:`robust_outliers` exactly — the
    same explicit-rank medians (``sum/count`` of the rank-picked values,
    never ``median()``/``quantile_cont`` whose interpolation shape is
    engine-defined), the same ``(v − med) / (mad · 1.4826)`` score and
    the same ``flag='domain'`` pass-through."""
    return f"""
    WITH raw AS (
        SELECT CAST({id_col} AS BIGINT) AS {id_col}, {group_col},
               CAST({value_col} AS DOUBLE) AS {value_col}
        FROM {table} WHERE {value_col} IS NOT NULL
    ),
    tagged AS (
        SELECT *, abs({value_col}) < 1000000000.0 AS ok FROM raw
    ),
    ok_rows AS (SELECT * FROM tagged WHERE ok),
    ns AS (SELECT {group_col}, count(*) AS n FROM ok_rows
           GROUP BY {group_col}),
    ranked AS (
        SELECT o.{group_col}, o.{value_col}, ns.n,
               row_number() OVER (PARTITION BY o.{group_col}
                                  ORDER BY o.{value_col} ASC,
                                           o.{id_col} ASC) AS rn
        FROM ok_rows o JOIN ns USING ({group_col})
    ),
    med AS (
        SELECT {group_col}, sum({value_col}) / count(*) AS med,
               first(n) AS nok
        FROM ranked
        WHERE rn = floor((n + 1) / 2) OR rn = floor((n + 2) / 2)
        GROUP BY {group_col}
    ),
    dev AS (
        SELECT o.{id_col}, o.{group_col},
               abs(o.{value_col} - med.med) AS dv
        FROM ok_rows o JOIN med USING ({group_col})
    ),
    dev_ranked AS (
        SELECT d.{group_col}, d.dv, ns.n,
               row_number() OVER (PARTITION BY d.{group_col}
                                  ORDER BY d.dv ASC, d.{id_col} ASC) AS rn
        FROM dev d JOIN ns USING ({group_col})
    ),
    mad AS (
        SELECT {group_col}, sum(dv) / count(*) AS mad
        FROM dev_ranked
        WHERE rn = floor((n + 1) / 2) OR rn = floor((n + 2) / 2)
        GROUP BY {group_col}
    ),
    dom AS (
        SELECT {group_col}, count(*) AS n_domain
        FROM tagged WHERE NOT ok GROUP BY {group_col}
    ),
    scored AS (
        SELECT t.{id_col}, t.{group_col}, t.{value_col}, t.ok,
               med.nok, dom.n_domain,
               CASE WHEN t.ok AND mad.mad > 0
                    THEN CAST((t.{value_col} - med.med)
                              / (mad.mad * 1.4826)
                              AS DECIMAL(20,10)) END AS rz
        FROM tagged t
        LEFT JOIN med USING ({group_col})
        LEFT JOIN mad USING ({group_col})
        LEFT JOIN dom USING ({group_col})
    )
    SELECT {id_col}, {group_col},
           CASE WHEN ok OR NOT (isnan({value_col}) OR isinf({value_col}))
                THEN {value_col} END AS {value_col},
           CAST(CASE WHEN ok THEN nok ELSE n_domain END
                AS BIGINT) AS n_group,
           CAST(floor(rz * 1000000 + 0.5) AS DOUBLE) / 1000000.0
               AS score,
           CASE WHEN ok THEN 'outlier' ELSE 'domain' END AS flag
    FROM scored
    WHERE (NOT ok) OR (rz IS NOT NULL AND abs(rz) >= {k})
    """


def event_cooccurrence(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    min_users: int = 1,
    top_n: int | None = None,
    max_types_per_user: int | None = None,
) -> DataFrame:
    """Unordered event-type co-occurrence: for every pair of event types,
    how many distinct users did BOTH, with support and lift — the
    market-basket view of the events stream.  Completes the sequence-
    analytics family: :func:`markov_transitions` sees adjacent pairs,
    :func:`event_ngrams` contiguous runs, :func:`funnel` one hypothesized
    order; this sees ANY-order affinity (``lift > 1`` = the pair
    co-occurs more than independent usage predicts).

    Plan / 100 TB shape: ONE ``(user, type)`` distinct (the only
    corpus-sized shuffle; map-side combined), then a per-user self-join
    whose fan-out is ``Σ_u t_u²`` — bounded by the event-type universe
    squared per user, the same wedge shape as the graph family's
    ``Σ deg²`` with the TYPE UNIVERSE (small) in the hub role, so the
    blow-up risk sits on users, not types.  ``max_types_per_user`` is
    the ``max_degree`` analog: drop users touching more distinct types
    than the cap (bots/crawlers) before pairing.  Per-type user counts
    and the total-user count are type-universe-sized frames, broadcast.

    Determinism: all counts are exact longs; support and lift are each
    ONE double division (lift's operands multiplied as doubles first —
    ``n_ab · N`` can pass 2⁶³ at planetary user counts), rounded
    half-up to 6 dp via the house ``floor(x·1e6 + 0.5)`` shape.

    Returns ``(type_a, type_b, n_users_both, support, lift)`` with
    ``type_a < type_b``; with ``top_n``, the top rows by
    ``(n_users_both DESC, type_a, type_b)`` — a total order.
    """
    if min_users < 1:
        raise ValueError(f"min_users must be >= 1, got {min_users}")
    ut = (
        events.select(
            F.col(user_col).cast("long").alias("u"),
            F.col(type_col).alias("et"),
        )
        .filter(F.col("u").isNotNull() & F.col("et").isNotNull())
        .distinct()
    )
    if max_types_per_user is not None:
        keep = ut.groupBy("u").agg(F.count(F.lit(1)).alias("__t")).filter(
            F.col("__t") <= max_types_per_user
        )
        ut = ut.join(keep.select("u"), "u")
    per_type = ut.groupBy("et").agg(F.count(F.lit(1)).alias("n_t"))
    total = ut.select(F.count_distinct("u").alias("n_total"))
    l, r = ut.alias("l"), ut.alias("r")
    pairs = (
        l.join(r, "u")
        .filter(F.col("l.et") < F.col("r.et"))
        .groupBy(
            F.col("l.et").alias("type_a"), F.col("r.et").alias("type_b")
        )
        .agg(F.count(F.lit(1)).alias("n_users_both"))
        .filter(F.col("n_users_both") >= min_users)
    )
    na = per_type.select(F.col("et").alias("type_a"), F.col("n_t").alias("__na"))
    nb = per_type.select(F.col("et").alias("type_b"), F.col("n_t").alias("__nb"))
    out = (
        pairs.join(F.broadcast(na), "type_a")
        .join(F.broadcast(nb), "type_b")
        .crossJoin(F.broadcast(total))
        .select(
            "type_a",
            "type_b",
            F.col("n_users_both").cast("long").alias("n_users_both"),
            F.expr(
                "cast(floor(cast(n_users_both as double)"
                " / cast(n_total as double) * 1000000 + 0.5) as double)"
                " / 1000000.0"
            ).alias("support"),
            F.expr(
                "cast(floor(cast(n_users_both as double)"
                " * cast(n_total as double)"
                " / (cast(__na as double) * cast(__nb as double))"
                " * 1000000 + 0.5) as double) / 1000000.0"
            ).alias("lift"),
        )
    )
    if top_n is not None:
        out = out.orderBy(
            F.col("n_users_both").desc(),
            F.col("type_a").asc(),
            F.col("type_b").asc(),
        ).limit(top_n)
    return out


def event_cooccurrence_sql(
    table: str,
    user_col: str = "user_id",
    type_col: str = "event_type",
    min_users: int = 1,
    top_n: int | None = None,
    max_types_per_user: int | None = None,
) -> str:
    """DuckDB oracle reproducing :func:`event_cooccurrence` exactly (same
    distinct, same self-join, same double-division shapes)."""
    cap = (
        f"""
    , capped AS (
        SELECT u FROM ut GROUP BY u
        HAVING count(*) <= {max_types_per_user}
    )"""
        if max_types_per_user is not None
        else ""
    )
    src = "ut JOIN capped USING (u)" if max_types_per_user is not None else "ut"
    tail = (
        f" ORDER BY n_users_both DESC, type_a ASC, type_b ASC LIMIT {top_n}"
        if top_n is not None
        else ""
    )
    return f"""
    WITH ut0 AS (
        SELECT DISTINCT CAST({user_col} AS BIGINT) AS u, {type_col} AS et
        FROM {table}
        WHERE {user_col} IS NOT NULL AND {type_col} IS NOT NULL
    ),
    ut AS (SELECT * FROM ut0){cap},
    base AS (SELECT * FROM {src}),
    per_type AS (SELECT et, count(*) AS n_t FROM base GROUP BY et),
    total AS (SELECT count(DISTINCT u) AS n_total FROM base),
    pairs AS (
        SELECT l.et AS type_a, r.et AS type_b, count(*) AS n_users_both
        FROM base l JOIN base r ON l.u = r.u AND l.et < r.et
        GROUP BY l.et, r.et HAVING count(*) >= {min_users}
    )
    SELECT type_a, type_b,
           CAST(n_users_both AS BIGINT) AS n_users_both,
           CAST(floor(CAST(n_users_both AS DOUBLE)
                      / CAST(n_total AS DOUBLE) * 1000000 + 0.5)
                AS DOUBLE) / 1000000.0 AS support,
           CAST(floor(CAST(n_users_both AS DOUBLE)
                      * CAST(n_total AS DOUBLE)
                      / (CAST(na.n_t AS DOUBLE) * CAST(nb.n_t AS DOUBLE))
                      * 1000000 + 0.5) AS DOUBLE) / 1000000.0 AS lift
    FROM pairs
    JOIN per_type na ON pairs.type_a = na.et
    JOIN per_type nb ON pairs.type_b = nb.et
    CROSS JOIN total
    {tail}
    """


def winsorize(
    events: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
    p_lo: float = 0.01,
    p_hi: float = 0.99,
) -> DataFrame:
    """Per-group winsorization: clamp ``value`` into its group's
    ``[q(p_lo), q(p_hi)]`` quantile band — the standard metric-taming
    transform a pipeline applies before trusting means/sums that
    :func:`value_outliers` would otherwise show to be glitch-dominated
    (detectors FLAG extremes; this REPAIRS them, preserving row count).

    Exact cross-engine quantiles with NO arithmetic at all: ``q(p)`` is
    the data value at 1-indexed rank ``max(1, ceil(n·p))`` under the
    total order ``(value, id)`` — the classic type-1 (lower) empirical
    quantile, so both engines pick the SAME physical row and the only
    float op anywhere is the ``n·p`` product (IEEE-identical in both).
    The clamp is pure comparisons (``greatest(lo, least(hi, v))``).

    Plan / 100 TB shape: one sort-based window pass over the
    ``(group, value, id)`` projection for the ranks (spills, no
    per-group buffering), group-universe-sized bound/count frames
    broadcast back onto the scan — the events table itself is never
    shuffled.

    Metric domain (house policy): NULL values drop; NaN/±Inf/|v| >= 1e9
    rows are excluded from the quantile ranks (a ±1e308 glitch must not
    BECOME the clip bound) and pass through with ``flag='domain'`` and a
    NULL ``clipped`` (raw value preserved when finite, NULL for NaN/±Inf
    which have no portable hash — the :func:`value_outliers` contract).
    In-domain rows come back with the clamped value and
    ``flag IN ('kept', 'clipped')``.

    Output: ``(id, group, value, clipped, flag)`` — one row per
    non-NULL input row.
    """
    if not (0.0 <= p_lo <= p_hi <= 1.0):
        raise ValueError(
            f"need 0 <= p_lo <= p_hi <= 1, got ({p_lo}, {p_hi})"
        )
    from pyspark.sql import Window

    v = F.col(value_col)
    ev = _metric_tagged(events, group_col, value_col, id_col)
    ok = ev.filter("__ok")
    w = Window.partitionBy(group_col).orderBy(
        v.asc(), F.col(id_col).asc()
    )
    ns = ok.groupBy(group_col).agg(F.count(F.lit(1)).alias("__n"))
    ranked = ok.select(
        group_col, value_col, F.row_number().over(w).alias("__rn")
    ).join(F.broadcast(ns), group_col)
    rank_lo = F.greatest(F.lit(1), F.ceil(F.col("__n") * F.lit(p_lo)))
    rank_hi = F.greatest(F.lit(1), F.ceil(F.col("__n") * F.lit(p_hi)))
    bounds = (
        ranked.filter(
            (F.col("__rn") == rank_lo) | (F.col("__rn") == rank_hi)
        )
        .groupBy(group_col)
        .agg(
            F.min(value_col).alias("__qlo"),
            F.max(value_col).alias("__qhi"),
        )
    )
    out = ev.join(F.broadcast(bounds), group_col, "left")
    clipped = F.when(
        F.col("__ok"),
        F.greatest(F.col("__qlo"), F.least(F.col("__qhi"), v)),
    )
    nonfinite = F.isnan(v) | (F.abs(v) == F.lit(float("inf")))
    return out.select(
        id_col,
        group_col,
        F.when(F.col("__ok") | ~nonfinite, v).alias(value_col),
        clipped.alias("clipped"),
        F.when(~F.col("__ok"), F.lit("domain"))
        .when((v < F.col("__qlo")) | (v > F.col("__qhi")), F.lit("clipped"))
        .otherwise(F.lit("kept"))
        .alias("flag"),
    )


def winsorize_sql(
    table: str,
    group_col: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
    p_lo: float = 0.01,
    p_hi: float = 0.99,
) -> str:
    """DuckDB oracle reproducing :func:`winsorize` exactly — the same
    rank-picked type-1 quantiles (never ``quantile_cont``), the same
    clamp comparisons, the same domain pass-through."""
    return f"""
    WITH raw AS (
        SELECT CAST({id_col} AS BIGINT) AS {id_col}, {group_col},
               CAST({value_col} AS DOUBLE) AS {value_col}
        FROM {table} WHERE {value_col} IS NOT NULL
    ),
    tagged AS (
        SELECT *, abs({value_col}) < 1000000000.0 AS ok FROM raw
    ),
    ok_rows AS (SELECT * FROM tagged WHERE ok),
    ns AS (SELECT {group_col}, count(*) AS n FROM ok_rows
           GROUP BY {group_col}),
    ranked AS (
        SELECT o.{group_col}, o.{value_col}, ns.n,
               row_number() OVER (PARTITION BY o.{group_col}
                                  ORDER BY o.{value_col} ASC,
                                           o.{id_col} ASC) AS rn
        FROM ok_rows o JOIN ns USING ({group_col})
    ),
    bounds AS (
        SELECT {group_col}, min({value_col}) AS qlo, max({value_col}) AS qhi
        FROM ranked
        WHERE rn = greatest(1, ceil(n * {p_lo}))
           OR rn = greatest(1, ceil(n * {p_hi}))
        GROUP BY {group_col}
    )
    SELECT t.{id_col}, t.{group_col},
           CASE WHEN t.ok OR NOT (isnan(t.{value_col})
                                  OR isinf(t.{value_col}))
                THEN t.{value_col} END AS {value_col},
           CASE WHEN t.ok
                THEN greatest(b.qlo, least(b.qhi, t.{value_col})) END
               AS clipped,
           CASE WHEN NOT t.ok THEN 'domain'
                WHEN t.{value_col} < b.qlo OR t.{value_col} > b.qhi
                    THEN 'clipped'
                ELSE 'kept' END AS flag
    FROM tagged t LEFT JOIN bounds b USING ({group_col})
    """


#: Benford expected first-digit mass, log10(1 + 1/d) — precomputed once
#: in Python and injected as full-precision literals into BOTH engines'
#: expressions (decimal-literal → double parsing is correctly rounded
#: everywhere, so the constants are bit-identical; computing log10 at
#: query time would tie the result to each engine's libm).
_BENFORD_P = {d: __import__("math").log10(1.0 + 1.0 / d) for d in range(1, 10)}


def benford_deviation(
    events: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value",
    min_n: int = 100,
) -> DataFrame:
    """Per-group Benford's-law conformance scan: the chi-square statistic
    of the observed first-significant-digit distribution against
    ``P(d) = log10(1 + 1/d)`` — the classic glitch/fabrication sweep for
    metric columns (organically generated magnitude-spanning values
    follow Benford; constant-injected, unit-scaled, or synthesized ones
    pile onto a few digits).  Complements :func:`value_outliers` /
    :func:`robust_outliers`: those flag individual extreme rows, this
    flags a GROUP whose values are collectively implausible even when
    every row is individually in range.

    Engine-exact digit extraction WITHOUT ``log10`` at query time (libm
    results differ across engines in the last ulp, and a flipped
    ``floor`` flips the digit): the first digit is the first character
    of the INTEGER part's decimal string — integer-to-string is
    unambiguous everywhere — so the scan covers ``1 <= |v| < 1e9``
    (the sub-1e9 bound doubles as the metric-domain/bigint-safety
    guard: ``floor(±1e308)`` would overflow the cast; |v| < 1 has no
    integer digits and is excluded, documented Benford practice is to
    scale such series first).  NULLs and out-of-band rows drop;
    ``excluded`` reports how many (the r10 visibility discipline).

    Plan / 100 TB shape: ONE map-side-combined ``groupBy(group)``
    producing 11 exact longs per group (n, 9 digit counts, excluded) —
    the events table is scanned once and never shuffled; everything
    after is per-group constant arithmetic.  Determinism: the chi-square
    sum is written as a FIXED d=1..9 expression chain over the conditional
    counts (never a float ``sum()`` over a digit table, whose partition
    order would vary), so every double op has one engine-independent
    evaluation order.

    Output: ``(group, n, excluded, chi2, worst_digit, worst_dev)`` —
    groups with ``n >= min_n``; ``worst_digit`` is the smallest digit
    attaining the max ``|obs_d/n − P(d)|``; chi2/worst_dev rounded
    half-up to 6 dp.
    """
    if min_n < 1:
        raise ValueError(f"min_n must be >= 1, got {min_n}")
    stats = benford_counts(events, group_col, value_col)
    return benford_score(stats, group_col, min_n)


def benford_counts(
    events: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Per-group first-digit count partials ``(n, excluded, o1..o9)`` —
    11 exact longs per group from one map-side-combined aggregate.
    ADDITIVE, so partials from disjoint row sets (micro-batch epochs,
    shards) merge by plain ``sum`` into the single-pass aggregate
    (streaming.ops.stream_benford_counts is that merge's producer)."""
    v = F.col(value_col)
    ev = events.select(
        F.col(group_col).alias(group_col), v.cast("double").alias("__v")
    ).filter(F.col("__v").isNotNull())
    av = F.abs(F.col("__v"))
    ok = (av >= 1.0) & (av < 1e9)
    digit = F.substring(
        F.floor(av).cast("long").cast("string"), 1, 1
    ).cast("int")
    aggs = [
        F.sum(F.when(ok, 1).otherwise(0)).alias("n"),
        F.sum(F.when(~ok, 1).otherwise(0)).alias("excluded"),
    ] + [
        F.sum(F.when(ok & (digit == d), 1).otherwise(0)).alias(f"o{d}")
        for d in range(1, 10)
    ]
    return ev.groupBy(group_col).agg(*aggs)


def benford_score(
    stats: DataFrame, group_col: str, min_n: int
) -> DataFrame:
    """Chi-square + argmax over a :func:`benford_counts`-layout frame —
    the back half of :func:`benford_deviation`, shared verbatim with the
    streaming reader so sum-merged counts score IDENTICALLY to the batch
    operator.  The ``min_n`` gate applies HERE (over total counts), so a
    group that crosses the threshold only across epochs still scores."""
    stats = stats.filter(F.col("n") >= min_n)
    chi_terms = " + ".join(
        f"(cast(o{d} as double) - cast(n as double) * {_BENFORD_P[d]!r})"
        f" * (cast(o{d} as double) - cast(n as double) * {_BENFORD_P[d]!r})"
        f" / (cast(n as double) * {_BENFORD_P[d]!r})"
        for d in range(1, 10)
    )
    devs = {
        d: f"abs(cast(o{d} as double) / cast(n as double)"
        f" - {_BENFORD_P[d]!r})"
        for d in range(1, 10)
    }
    worst = "greatest(" + ", ".join(devs.values()) + ")"
    worst_digit = (
        "case "
        + " ".join(
            f"when {devs[d]} = __worst then {d}" for d in range(1, 10)
        )
        + " end"
    )
    return (
        stats.withColumn("__chi2", F.expr(chi_terms))
        .withColumn("__worst", F.expr(worst))
        .select(
            group_col,
            F.col("n").cast("long").alias("n"),
            F.col("excluded").cast("long").alias("excluded"),
            F.expr(
                "cast(floor(cast(__chi2 as decimal(28,10)) * 1000000"
                " + 0.5) as double) / 1000000.0"
            ).alias("chi2"),
            F.expr(worst_digit).cast("int").alias("worst_digit"),
            F.expr(
                "cast(floor(cast(__worst as decimal(28,10)) * 1000000"
                " + 0.5) as double) / 1000000.0"
            ).alias("worst_dev"),
        )
    )


def benford_deviation_sql(
    table: str,
    group_col: str = "event_type",
    value_col: str = "value",
    min_n: int = 100,
) -> str:
    """DuckDB oracle reproducing :func:`benford_deviation` exactly — the
    same injected digit-probability literals, string-extracted first
    digits, fixed-order chi-square chain and greatest/case argmax."""
    obs = ",\n               ".join(
        f"sum(CASE WHEN ok AND digit = {d} THEN 1 ELSE 0 END) AS o{d}"
        for d in range(1, 10)
    )
    chi_terms = " + ".join(
        f"(CAST(o{d} AS DOUBLE) - CAST(n AS DOUBLE) * {_BENFORD_P[d]!r})"
        f" * (CAST(o{d} AS DOUBLE) - CAST(n AS DOUBLE) * {_BENFORD_P[d]!r})"
        f" / (CAST(n AS DOUBLE) * {_BENFORD_P[d]!r})"
        for d in range(1, 10)
    )
    devs = {
        d: f"abs(CAST(o{d} AS DOUBLE) / CAST(n AS DOUBLE)"
        f" - {_BENFORD_P[d]!r})"
        for d in range(1, 10)
    }
    worst = "greatest(" + ", ".join(devs.values()) + ")"
    worst_digit = (
        "CASE "
        + " ".join(
            f"WHEN {devs[d]} = w.worst THEN {d}" for d in range(1, 10)
        )
        + " END"
    )
    return f"""
    WITH raw AS (
        SELECT {group_col}, CAST({value_col} AS DOUBLE) AS v
        FROM {table} WHERE {value_col} IS NOT NULL
    ),
    tagged AS (
        SELECT {group_col},
               abs(v) >= 1.0 AND abs(v) < 1000000000.0 AS ok,
               CASE WHEN abs(v) >= 1.0 AND abs(v) < 1000000000.0
                    THEN CAST(substr(CAST(CAST(floor(abs(v)) AS BIGINT)
                                          AS VARCHAR), 1, 1) AS INT)
               END AS digit
        FROM raw
    ),
    stats AS (
        SELECT {group_col},
               sum(CASE WHEN ok THEN 1 ELSE 0 END) AS n,
               sum(CASE WHEN NOT ok THEN 1 ELSE 0 END) AS excluded,
               {obs}
        FROM tagged GROUP BY {group_col}
        HAVING sum(CASE WHEN ok THEN 1 ELSE 0 END) >= {min_n}
    ),
    w AS (SELECT *, {chi_terms} AS chi2_raw, {worst} AS worst FROM stats)
    SELECT {group_col}, CAST(n AS BIGINT) AS n,
           CAST(excluded AS BIGINT) AS excluded,
           CAST(floor(CAST(chi2_raw AS DECIMAL(28,10)) * 1000000 + 0.5)
                AS DOUBLE) / 1000000.0 AS chi2,
           CAST(({worst_digit}) AS INT) AS worst_digit,
           CAST(floor(CAST(w.worst AS DECIMAL(28,10)) * 1000000 + 0.5)
                AS DOUBLE) / 1000000.0 AS worst_dev
    FROM w
    """


def distribution_drift(
    ref: DataFrame,
    cur: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value",
    bounds: tuple[float, float] = (0.0, 1000.0),
    n_bins: int = 10,
    min_n: int = 100,
    eps: float = 1e-6,
) -> DataFrame:
    """Per-group distribution-drift scan between two snapshots of a
    metric: the population stability index (PSI), Jensen-Shannon
    divergence (nats), and total-variation distance of ``cur``'s
    per-group value histogram against ``ref``'s — the standard
    between-crawl / between-release data-quality gate ("did this
    metric's SHAPE move?") that row-level detectors
    (:func:`value_outliers`, :func:`benford_deviation`) can't answer:
    every row can be individually in range while the distribution
    silently shifts under a retrained model or a re-ingested corpus.

    Binning is the house histogram formula (shared verbatim with
    :func:`~tundradb_spark.operators.relational.histogram_quantiles`
    via ``histogram_bin_col``): fixed-width bins over explicit
    ``bounds`` — bounds are a DATA FACT the caller fixes up front
    (same discipline as the streaming histogram sink), so ``ref`` and
    ``cur`` are binned identically and the score never depends on
    which side was scanned first.  Out-of-band finite values clamp to
    the edge bins (drift INTO the tails is visible as edge-bin mass).

    Score formulas over per-bin proportions ``p = c/n`` (only bins
    observed in either side — absent-in-both bins contribute exactly 0
    to every metric):

    - ``psi = Σ (p_cur' − p_ref') · ln(p_cur'/p_ref')`` with both
      proportions floored at ``eps`` (the classic zero-bin smoothing);
    - ``jsd = Σ ½·(p_ref·ln(p_ref/m) + p_cur·ln(p_cur/m))``,
      ``m = (p_ref+p_cur)/2``, ``0·ln(0) ≡ 0`` — bounded by ln 2;
    - ``tv  = Σ ½·|p_cur − p_ref|`` — bounded by 1.

    Engine determinism: each per-bin double term is cast to
    ``decimal(28,18)`` BEFORE the sum, so the per-group total is exact
    decimal addition — partition/partial-aggregation order can never
    wobble the result (the Benford fixed-chain discipline, generalized
    to a runtime bin count); results round half-up to 6 dp.  ``ln`` at
    query time follows the BM25/PMI/TF-IDF precedent (oracle-green
    across engines at 6 dp).

    Metric domain (house policy): NULL values drop; NaN/±Inf/|v| >=
    1e9 rows are excluded from the histograms and surfaced as
    ``excluded_ref`` / ``excluded_cur`` counts — visible, not silent.
    Groups need ``min_n`` in-domain rows on BOTH sides (a PSI against
    a 3-row reference is noise); groups below the gate drop, the
    Benford precedent.

    Plan / 100 TB shape: each snapshot is scanned ONCE into a
    map-side-combined ``groupBy(group, bin)`` — the only corpus-sized
    work; everything downstream (totals, gate, full-outer bin join,
    term sums) is ``groups × n_bins`` sized, with the group-sized gate
    frame broadcast.  Neither events table is ever shuffled.

    Output: ``(group, status, n_ref, n_cur, excluded_ref,
    excluded_cur, psi, jsd, tv)`` — one row per gated group
    (``status = 'ok'``), plus one NULL-scored row per group present in
    only ONE snapshot (``status = 'ref_only' | 'cur_only'`` — total
    disappearance/appearance is the strongest drift signal and must
    never be mistaken for "no drift"; r12 ADVICE fix).  Groups present
    on both sides but below ``min_n`` on either still drop (documented
    gate).
    """
    rb = drift_bin_counts(ref, group_col, value_col, bounds, n_bins)
    cb = drift_bin_counts(cur, group_col, value_col, bounds, n_bins)
    return drift_score(rb, cb, group_col, min_n=min_n, eps=eps)


def drift_bin_counts(
    events: DataFrame,
    group_col: str,
    value_col: str,
    bounds: tuple[float, float],
    n_bins: int,
) -> DataFrame:
    """Per-(group, bin) count partials ``(group, __bin, __c)`` — the
    front half of :func:`distribution_drift`, shared verbatim with the
    streaming bin sink (streaming.ops.stream_drift_bins) so sum-merged
    epoch partials score IDENTICALLY to the batch operator.  ``__bin``
    is the house histogram bin for in-domain rows, ``-1`` for
    metric-domain rows (NaN/±Inf/|v| >= 1e9 — counted, never binned);
    NULL values drop.  ADDITIVE: partials from disjoint row sets merge
    by plain ``sum``."""
    from tundradb_spark.operators.relational import histogram_bin_col

    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1, got {n_bins}")
    mn, mx = float(bounds[0]), float(bounds[1])
    if not mn < mx:
        raise ValueError(f"need bounds lo < hi, got ({mn}, {mx})")
    if abs(mn) >= 1e9 or abs(mx) >= 1e9:
        raise ValueError(
            f"bounds must sit inside the metric domain |v| < 1e9, "
            f"got ({mn}, {mx})"
        )
    v = F.col(value_col)
    ev = events.select(
        F.col(group_col).alias(group_col), v.cast("double").alias("__v")
    ).filter(F.col("__v").isNotNull())
    vv = F.col("__v")
    # clamp BEFORE binning: the bin cast is bigint and a legit 1e8
    # value against a subnormal-width band must clamp, not overflow
    tagged = ev.select(
        group_col,
        vv.alias("__v"),
        F.least(F.greatest(vv, F.lit(mn)), F.lit(mx)).alias("__vc"),
    )
    return (
        tagged.select(
            group_col,
            F.when(
                F.abs(F.col("__v")) < F.lit(1e9),
                histogram_bin_col("__vc", mn, mx, n_bins),
            )
            .otherwise(F.lit(-1).cast("bigint"))
            .alias("__bin"),
        )
        .groupBy(group_col, "__bin")
        .agg(F.count(F.lit(1)).alias("__c"))
    )


def drift_score(
    ref_bins: DataFrame,
    cur_bins: DataFrame,
    group_col: str,
    min_n: int = 100,
    eps: float = 1e-6,
) -> DataFrame:
    """PSI / JSD / TV over two :func:`drift_bin_counts`-layout frames —
    the back half of :func:`distribution_drift`, shared verbatim with
    the streaming reader so stream-merged counts score IDENTICALLY to
    the batch operator.  The ``min_n`` gate applies HERE (over merged
    totals), so a side that crosses the threshold only across epochs
    still scores.  Groups present in only one frame surface as
    ``status = 'ref_only' | 'cur_only'`` rows with NULL scores (r12);
    ``status = 'ok'`` rows carry the metrics."""
    if min_n < 1:
        raise ValueError(f"min_n must be >= 1, got {min_n}")
    if not 0.0 < eps < 1.0:
        raise ValueError(f"eps must be in (0, 1), got {eps}")

    # Single-pass gather (r12): pack each side's bins into ONE
    # per-group map, so each bin frame's lineage is referenced exactly
    # ONCE — the r11 shape referenced each side twice (totals + bin
    # join) and Spark recomputed the corpus-sized aggregation for each
    # reference (4 corpus exchanges; the full-outer presence fix would
    # have pushed it to 6).  Here: one corpus-sized (group, bin)
    # aggregation per side, one bins-sized map gather per side, one
    # groups-sized full-outer join — totals, presence, gate, and
    # metrics all derive from that single joined row.  The inner
    # (group, bin) re-aggregation also makes the function total over
    # UN-merged epoch partials (duplicate (group, bin) rows sum first).
    def _gather(b: DataFrame, side: str) -> DataFrame:
        per = b.groupBy(group_col, "__bin").agg(
            F.sum("__c").alias("__c")
        )
        return per.groupBy(group_col).agg(
            F.map_from_entries(
                F.collect_list(F.struct("__bin", "__c"))
            ).alias(f"__m{side}")
        )

    # NULL-SAFE group join (r12): a NULL group key is a group like any
    # other (the key_skew position — NULL-heavy keys are the most
    # common real-world skew); a plain equi-join would never match the
    # two sides' NULL groups and mis-report one as 'ref_only' and the
    # other as 'cur_only'
    rg = _gather(ref_bins, "r").withColumnRenamed(group_col, "__gr")
    cg = _gather(cur_bins, "c").withColumnRenamed(group_col, "__gc")
    joined = rg.join(
        cg, F.col("__gr").eqNullSafe(F.col("__gc")), "full_outer"
    ).select(
        F.coalesce("__gr", "__gc").alias(group_col), "__mr", "__mc"
    )

    def _tot(m: str) -> str:
        # in-domain total: sum of bin >= 0 counts inside the map
        return (
            f"aggregate(map_entries({m}), cast(0 as bigint),"
            f" (acc, e) -> acc + if(e.key >= 0, e.value,"
            f" cast(0 as bigint)))"
        )

    # FULL-OUTER presence (r12, ADVICE fix): a group present in only
    # one snapshot — often the strongest drift signal — surfaces as a
    # 'ref_only'/'cur_only' row with NULL scores instead of silently
    # vanishing like a below-min_n group (that drop stays, documented).
    presence = joined.select(
        group_col,
        F.expr(
            "case when __mr is null then 'cur_only'"
            " when __mc is null then 'ref_only' else 'ok' end"
        ).alias("status"),
        F.expr(_tot("__mr")).alias("n_ref"),
        F.expr(_tot("__mc")).alias("n_cur"),
        F.expr("coalesce(try_element_at(__mr, cast(-1 as bigint)),"
               " if(__mr is null, null, cast(0 as bigint)))")
        .alias("excluded_ref"),
        F.expr("coalesce(try_element_at(__mc, cast(-1 as bigint)),"
               " if(__mc is null, null, cast(0 as bigint)))")
        .alias("excluded_cur"),
        "__mr",
        "__mc",
    ).filter(
        (F.col("status") != "ok")
        | ((F.col("n_ref") >= min_n) & (F.col("n_cur") >= min_n))
    )

    # metric terms, summed over the union of in-domain bins via a
    # higher-order aggregate with a decimal(28,18) accumulator — the
    # house order-proof-sum convention (sort_array makes the fold
    # order deterministic besides)
    keys = (
        "sort_array(array_distinct(filter("
        "concat(map_keys(__mr), map_keys(__mc)), k -> k >= 0)))"
    )
    cr = "cast(coalesce(try_element_at(__mr, k), 0) as double)"
    cc = "cast(coalesce(try_element_at(__mc, k), 0) as double)"
    pr = f"({cr} / cast(n_ref as double))"
    pc = f"({cc} / cast(n_cur as double))"
    e = f"cast({eps!r} as double)"
    prs = f"greatest({pr}, {e})"
    pcs = f"greatest({pc}, {e})"
    psi_t = f"({pcs} - {prs}) * ln({pcs} / {prs})"
    m = f"(({pr} + {pc}) / cast(2.0 as double))"
    jsd_t = (
        f"cast(0.5 as double) * ("
        f"(case when {pr} > cast(0.0 as double)"
        f" then {pr} * ln({pr} / {m}) else cast(0.0 as double) end)"
        f" + (case when {pc} > cast(0.0 as double)"
        f" then {pc} * ln({pc} / {m}) else cast(0.0 as double) end))"
    )
    tv_t = f"cast(0.5 as double) * abs({pc} - {pr})"

    def _metric(term: str) -> str:
        fold = (
            f"aggregate({keys}, cast(0 as decimal(28,18)),"
            f" (acc, k) -> cast(acc + cast({term} as decimal(28,18))"
            f" as decimal(28,18)))"
        )
        rnd = (
            f"cast(floor(cast(cast({fold} as double) as decimal(28,10))"
            f" * 1000000 + 0.5) as double) / 1000000.0"
        )
        return f"case when status = 'ok' then {rnd} end"

    return presence.select(
        group_col,
        "status",
        F.col("n_ref").cast("long").alias("n_ref"),
        F.col("n_cur").cast("long").alias("n_cur"),
        F.col("excluded_ref").cast("long").alias("excluded_ref"),
        F.col("excluded_cur").cast("long").alias("excluded_cur"),
        F.expr(_metric(psi_t)).alias("psi"),
        F.expr(_metric(jsd_t)).alias("jsd"),
        F.expr(_metric(tv_t)).alias("tv"),
    )


def distribution_drift_sql(
    ref_table: str,
    cur_table: str,
    group_col: str = "event_type",
    value_col: str = "value",
    bounds: tuple[float, float] = (0.0, 1000.0),
    n_bins: int = 10,
    min_n: int = 100,
    eps: float = 1e-6,
) -> str:
    """DuckDB oracle reproducing :func:`distribution_drift` exactly —
    the same clamp-then-bin formula, eps floors, 0·ln(0) ≡ 0 cases,
    per-term decimal(28,18) casts (order-independent sums), and 6 dp
    half-up rounding.  ``ref_table`` / ``cur_table`` may be subqueries."""
    mn, mx = float(bounds[0]), float(bounds[1])
    dmn, dmx = f"CAST({mn!r} AS DOUBLE)", f"CAST({mx!r} AS DOUBLE)"
    width = (
        "1.0" if (mx - mn) / n_bins == 0.0 else f"(({dmx} - {dmn}) / {n_bins})"
    )
    e = f"CAST({eps!r} AS DOUBLE)"

    def _bins(table: str, name: str) -> str:
        return f"""
    {name}raw AS (
        SELECT {group_col}, CAST({value_col} AS DOUBLE) AS v
        FROM {table} WHERE {value_col} IS NOT NULL
    ),
    {name}bin AS (
        SELECT {group_col},
               CASE WHEN abs(v) < 1000000000.0
                    THEN least(greatest(CAST(floor(
                             (least(greatest(v, {dmn}), {dmx}) - {dmn})
                             / {width}) AS BIGINT), 0), {n_bins - 1})
                    ELSE -1 END AS bin,
               count(*) AS c
        FROM {name}raw GROUP BY 1, 2
    )"""

    pr = "(CAST(coalesce(cr, 0) AS DOUBLE) / CAST(n_ref AS DOUBLE))"
    pc = "(CAST(coalesce(cc, 0) AS DOUBLE) / CAST(n_cur AS DOUBLE))"
    prs = f"greatest({pr}, {e})"
    pcs = f"greatest({pc}, {e})"
    psi_t = f"({pcs} - {prs}) * ln({pcs} / {prs})"
    m = f"(({pr} + {pc}) / CAST(2.0 AS DOUBLE))"
    jsd_t = (
        f"CAST(0.5 AS DOUBLE) * ("
        f"(CASE WHEN {pr} > CAST(0.0 AS DOUBLE)"
        f" THEN {pr} * ln({pr} / {m}) ELSE CAST(0.0 AS DOUBLE) END)"
        f" + (CASE WHEN {pc} > CAST(0.0 AS DOUBLE)"
        f" THEN {pc} * ln({pc} / {m}) ELSE CAST(0.0 AS DOUBLE) END))"
    )
    tv_t = f"CAST(0.5 AS DOUBLE) * abs({pc} - {pr})"

    def _rnd(col: str) -> str:
        return (
            f"CAST(floor(CAST(CAST({col} AS DOUBLE) AS DECIMAL(28,10))"
            f" * 1000000 + 0.5) AS DOUBLE) / 1000000.0"
        )

    return f"""
    WITH {_bins(ref_table, 'r')},
    {_bins(cur_table, 'c')},
    rtot AS (
        SELECT {group_col},
               sum(CASE WHEN bin >= 0 THEN c ELSE 0 END) AS n_ref,
               sum(CASE WHEN bin < 0 THEN c ELSE 0 END) AS excluded_ref
        FROM rbin GROUP BY {group_col}
    ),
    ctot AS (
        SELECT {group_col},
               sum(CASE WHEN bin >= 0 THEN c ELSE 0 END) AS n_cur,
               sum(CASE WHEN bin < 0 THEN c ELSE 0 END) AS excluded_cur
        FROM cbin GROUP BY {group_col}
    ),
    presence AS (
        -- null-safe group join: NULL is a group like any other (the
        -- Spark side joins with <=>); plain USING would split the two
        -- sides' NULL groups into spurious one-sided rows
        SELECT coalesce(r.{group_col}, c.{group_col}) AS {group_col},
               CASE WHEN n_ref IS NULL THEN 'cur_only'
                    WHEN n_cur IS NULL THEN 'ref_only'
                    ELSE 'ok' END AS status,
               n_ref, n_cur, excluded_ref, excluded_cur
        FROM rtot r FULL OUTER JOIN ctot c
          ON r.{group_col} IS NOT DISTINCT FROM c.{group_col}
    ),
    gates AS (
        SELECT {group_col}, n_ref, n_cur, excluded_ref, excluded_cur
        FROM presence
        WHERE status = 'ok' AND n_ref >= {min_n} AND n_cur >= {min_n}
    ),
    j AS (
        SELECT coalesce(r.{group_col}, c.{group_col}) AS {group_col},
               coalesce(r.bin, c.bin) AS bin, r.c AS cr, c.c AS cc
        FROM (SELECT * FROM rbin WHERE bin >= 0) r
        FULL OUTER JOIN (SELECT * FROM cbin WHERE bin >= 0) c
          ON r.{group_col} IS NOT DISTINCT FROM c.{group_col}
         AND r.bin = c.bin
    ),
    terms AS (
        SELECT j.{group_col}, g.n_ref, g.n_cur,
               g.excluded_ref, g.excluded_cur,
               CAST({psi_t} AS DECIMAL(28,18)) AS psi_t,
               CAST({jsd_t} AS DECIMAL(28,18)) AS jsd_t,
               CAST({tv_t} AS DECIMAL(28,18)) AS tv_t
        FROM j JOIN gates g
          ON j.{group_col} IS NOT DISTINCT FROM g.{group_col}
    )
    SELECT {group_col}, 'ok' AS status,
           CAST(max(n_ref) AS BIGINT) AS n_ref,
           CAST(max(n_cur) AS BIGINT) AS n_cur,
           CAST(max(excluded_ref) AS BIGINT) AS excluded_ref,
           CAST(max(excluded_cur) AS BIGINT) AS excluded_cur,
           {_rnd('sum(psi_t)')} AS psi,
           {_rnd('sum(jsd_t)')} AS jsd,
           {_rnd('sum(tv_t)')} AS tv
    FROM terms GROUP BY {group_col}
    UNION ALL
    SELECT {group_col}, status,
           CAST(n_ref AS BIGINT) AS n_ref,
           CAST(n_cur AS BIGINT) AS n_cur,
           CAST(excluded_ref AS BIGINT) AS excluded_ref,
           CAST(excluded_cur AS BIGINT) AS excluded_cur,
           CAST(NULL AS DOUBLE) AS psi,
           CAST(NULL AS DOUBLE) AS jsd,
           CAST(NULL AS DOUBLE) AS tv
    FROM presence WHERE status != 'ok'
    """


def value_trend(
    events: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value",
    ts_col: str = "ts",
    epoch_us: int = 0,
    min_n: int = 100,
) -> DataFrame:
    """Per-group linear trend of a metric over time: ordinary-least-
    squares ``slope`` (reported per DAY — readable at human cadences),
    ``intercept`` (the fitted value at ``epoch_us``), and ``r2`` — the
    drift-detection complement on the TIME axis:
    :func:`distribution_drift` compares two snapshots' shapes, this
    asks one window "is the metric trending, and how fast?"

    ``epoch_us`` is a DATA FACT the caller fixes (the bounds
    discipline): x is ``(ts − epoch_us) / 1e6`` seconds, keeping the
    moment magnitudes bounded (Σx² of raw µs epochs would overflow any
    fixed-precision sum at corpus row counts) and making the intercept
    a meaningful "fitted value at epoch".  Closed-form OLS over five
    additive moments — no iteration::

        slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)        [per second]
        intercept = (Σy − slope·Σx) / n
        r²    = (n·Σxy − Σx·Σy)² / ((n·Σx²−(Σx)²)(n·Σy²−(Σy)²))

    Engine determinism: the moments are exact ``decimal(38,12)`` sums
    of double per-row terms (the :func:`outlier_moments` convention —
    partition order can never wobble them) and the closed form is ONE
    fixed double expression chain per output column.  Degenerate
    groups fall out of the formula: a single-timestamp group (x
    variance 0) reports NULL slope/intercept/r²; a constant-value
    group (y variance 0) reports its exact slope with NULL r².

    Metric domain (house policy): rows with NULL value or NULL ts
    drop; NaN/±Inf/|v| >= 1e9 values are excluded from the fit and
    surfaced as ``excluded`` — visible, not silent.  ``min_n`` gates
    groups with too few in-domain rows (the Benford precedent).

    Plan / 100 TB shape: ONE map-side-combined ``groupBy(group)``
    emitting 11 mergeable cells per group (7 additive + 4 extents) — the
    events table is scanned
    once and never shuffled; the closed form is per-group constant
    arithmetic.  The moments are the streaming twin's state
    (streaming.ops.stream_trend_moments): live trend monitoring with
    O(groups) state.

    Output: ``(group, n, excluded, slope_per_day, intercept, r2)``
    rounded half-up to 6 dp.
    """
    stats = trend_moments(events, group_col, value_col, ts_col, epoch_us)
    return trend_score(stats, group_col, min_n)


def trend_moments(
    events: DataFrame,
    group_col: str,
    value_col: str,
    ts_col: str,
    epoch_us: int,
) -> DataFrame:
    """Per-group OLS moment partials ``(n_group, __ndom, __sx, __sy,
    __sxx, __syy, __sxy, __minx, __maxx, __miny, __maxy)`` — the front
    half of :func:`value_trend`, shared verbatim with the streaming
    sink.  The sums are ADDITIVE (exact longs and exact
    ``decimal(38,12)`` sums of double per-row terms) and the extents
    MERGEABLE (min of mins / max of maxes), so partials from disjoint
    row sets merge into exactly the single-pass aggregate.  The extents
    exist for EXACT degeneracy detection: ``n·Σx² − (Σx)²`` computed in
    doubles lands on rounding noise of random sign when x has zero (or
    tiny) variance at large magnitudes — e.g. 1000 rows sharing one
    timestamp ~1e6 s past the epoch measured dx = +256.0 and a spurious
    slope of −168.75/day — so variance-zero is decided by
    ``min = max`` (exact doubles, portable), never by the double
    moment chain's sign.

    CAPACITY BOUND: decimal(38,12) carries 26 integer digits, so every
    per-group sum needs ``n · max(x², y², |x·y|) < 1e26`` — with x in
    seconds-from-epoch, a 3-year span (x ~ 1e8, x² ~ 1e16) caps a group
    at ~1e10 rows; choosing ``epoch_us`` INSIDE the window (a 30-day
    window → x ≤ 2.6e6, x² ≤ 7e12 → ~1e13 rows) buys three orders of
    magnitude.  Exceeding the bound NULLs the sum under non-ANSI Spark;
    :func:`trend_score` detects NULL-moment-with-nonzero-n and raises
    (r12, ADVICE fix) instead of emitting a silently NULL fit."""
    from tundradb_spark.functions.timecols import epoch_micros

    v = F.col(value_col)
    ev = (
        events.select(
            F.col(group_col).alias(group_col),
            v.cast("double").alias("__y"),
            epoch_micros(events, ts_col).alias("__tus"),
        )
        .filter(F.col("__y").isNotNull() & F.col("__tus").isNotNull())
        .select(
            group_col,
            "__y",
            (
                (F.col("__tus") - F.lit(int(epoch_us)))
                .cast("double") / F.lit(1000000.0)
            ).alias("__x"),
            (F.abs(F.col("__y")) < F.lit(1e9)).alias("__ok"),
        )
    )
    x, y = F.col("__x"), F.col("__y")
    dec = lambda c: c.cast("decimal(38,12)")  # noqa: E731
    ok = F.col("__ok")
    return ev.groupBy(group_col).agg(
        F.sum(F.when(ok, 1).otherwise(0)).alias("n_group"),
        F.sum(F.when(~ok, 1).otherwise(0)).alias("__ndom"),
        F.sum(F.when(ok, dec(x))).alias("__sx"),
        F.sum(F.when(ok, dec(y))).alias("__sy"),
        F.sum(F.when(ok, dec(x * x))).alias("__sxx"),
        F.sum(F.when(ok, dec(y * y))).alias("__syy"),
        F.sum(F.when(ok, dec(x * y))).alias("__sxy"),
        F.min(F.when(ok, x)).alias("__minx"),
        F.max(F.when(ok, x)).alias("__maxx"),
        F.min(F.when(ok, y)).alias("__miny"),
        F.max(F.when(ok, y)).alias("__maxy"),
    )


def trend_score(
    stats: DataFrame, group_col: str, min_n: int
) -> DataFrame:
    """Closed-form OLS over a :func:`trend_moments`-layout frame — the
    back half of :func:`value_trend`, shared verbatim with the
    streaming reader so sum-merged moments fit IDENTICALLY to the
    batch operator.  ``min_n`` applies HERE (over merged totals)."""
    if min_n < 1:
        raise ValueError(f"min_n must be >= 1, got {min_n}")
    stats = stats.filter(F.col("n_group") >= min_n)
    # Overflow guard (r12, ADVICE fix): decimal(38,12) holds 26 integer
    # digits, so a group violates the capacity bound n·max(x²,y²,|xy|)
    # < 1e26 — e.g. ~1e11 rows of x ~ a-few-years-in-seconds — its Σ
    # goes NULL under non-ANSI Spark and the fit would silently report
    # NULL slope/r² for exactly the largest groups.  A NULL moment with
    # n_group ≥ min_n ≥ 1 has no other cause (all-excluded groups have
    # n_group = 0), so fail LOUDLY instead: pick epoch_us inside the
    # window (shrinking |x|) or shard the window.  DuckDB's decimal sum
    # errors natively on overflow, so the oracle twin fails loudly too.
    guard = (
        "case when __sx is null or __sy is null or __sxx is null"
        " or __syy is null or __sxy is null then"
        " raise_error('trend_moments: decimal(38,12) moment overflow"
        " (n*max(x^2,y^2,|x*y|) must stay < 1e26) — choose epoch_us"
        " inside the window or shard it') end"
    )
    n = "cast(n_group as double)"
    sx, sy = "cast(__sx as double)", "cast(__sy as double)"
    sxx, syy = "cast(__sxx as double)", "cast(__syy as double)"
    sxy = "cast(__sxy as double)"
    num = f"({n} * {sxy} - {sx} * {sy})"
    dx = f"({n} * {sxx} - {sx} * {sx})"
    dy = f"({n} * {syy} - {sy} * {sy})"
    # degeneracy is decided EXACTLY by the extents (min = max), never by
    # the double moment chain, whose n·Σx² − (Σx)² lands on rounding
    # noise of random sign at zero variance and large |x| (see
    # trend_moments); the dx/dy > 0 terms remain as belt-and-braces
    # against near-degenerate noise making the quotient explode
    vx = f"(__minx <> __maxx and {dx} > 0.0)"
    vy = f"(__miny <> __maxy and {dy} > 0.0)"
    slope = f"(case when {vx} then {num} / {dx} end)"
    intercept = (
        f"(case when {vx}"
        f" then ({sy} - ({num} / {dx}) * {sx}) / {n} end)"
    )
    # a zero-x-variance group has no fit at all; a zero-y-variance one
    # keeps its (exactly zero) slope but r² is undefined
    zero = "cast(0.0 as double)"
    slope = (
        f"(case when __minx <> __maxx and __miny = __maxy and {dx} > 0.0"
        f" then {zero} else {slope} end)"
    )
    intercept = (
        f"(case when __minx <> __maxx and __miny = __maxy and {dx} > 0.0"
        f" then cast(__miny as double) else {intercept} end)"
    )
    r2 = f"(case when {vx} and {vy} then ({num} * {num}) / ({dx} * {dy}) end)"

    def _rnd(expr: str) -> str:
        return (
            f"cast(floor(cast(({expr}) as decimal(28,10)) * 1000000"
            f" + 0.5) as double) / 1000000.0"
        )

    return stats.select(
        group_col,
        # the guard rides the always-evaluated n column — the metric
        # CASEs short-circuit on NULL moments and would never reach it
        F.expr(f"cast(coalesce({guard}, n_group) as long)").alias("n"),
        F.col("__ndom").cast("long").alias("excluded"),
        F.expr(_rnd(f"{slope} * 86400.0")).alias("slope_per_day"),
        F.expr(_rnd(intercept)).alias("intercept"),
        F.expr(_rnd(r2)).alias("r2"),
    )


def value_trend_sql(
    table: str,
    group_col: str = "event_type",
    value_col: str = "value",
    ts_expr: str = "epoch_us(ts)",
    epoch_us: int = 0,
    min_n: int = 100,
) -> str:
    """DuckDB oracle reproducing :func:`value_trend` exactly — the same
    per-row double terms cast decimal(38,12) before exact sums, the
    same fixed closed-form chain and NULL degeneracies."""
    xe = (
        f"CAST(({ts_expr}) - {int(epoch_us)} AS DOUBLE)"
        f" / CAST(1000000.0 AS DOUBLE)"
    )
    n = "CAST(n_group AS DOUBLE)"
    sx, sy = "CAST(sxv AS DOUBLE)", "CAST(syv AS DOUBLE)"
    sxx, syy = "CAST(sxxv AS DOUBLE)", "CAST(syyv AS DOUBLE)"
    sxy = "CAST(sxyv AS DOUBLE)"
    num = f"({n} * {sxy} - {sx} * {sy})"
    dx = f"({n} * {sxx} - {sx} * {sx})"
    dy = f"({n} * {syy} - {sy} * {sy})"
    # same exact extent-based degeneracy logic as trend_score
    vx = f"(minx <> maxx AND {dx} > 0.0)"
    vy = f"(miny <> maxy AND {dy} > 0.0)"
    slope_fit = f"(CASE WHEN {vx} THEN {num} / {dx} END)"
    icpt_fit = (
        f"(CASE WHEN {vx}"
        f" THEN ({sy} - ({num} / {dx}) * {sx}) / {n} END)"
    )
    ycst = f"(minx <> maxx AND miny = maxy AND {dx} > 0.0)"
    slope = (
        f"(CASE WHEN {ycst} THEN CAST(0.0 AS DOUBLE)"
        f" ELSE {slope_fit} END)"
    )
    intercept = (
        f"(CASE WHEN {ycst} THEN CAST(miny AS DOUBLE)"
        f" ELSE {icpt_fit} END)"
    )
    r2 = (
        f"(CASE WHEN {vx} AND {vy}"
        f" THEN ({num} * {num}) / ({dx} * {dy}) END)"
    )

    def _rnd(expr: str) -> str:
        return (
            f"CAST(floor(CAST(({expr}) AS DECIMAL(28,10)) * 1000000"
            f" + 0.5) AS DOUBLE) / 1000000.0"
        )

    return f"""
    WITH raw AS (
        SELECT {group_col},
               CAST({value_col} AS DOUBLE) AS y, {xe} AS x
        FROM {table}
        WHERE {value_col} IS NOT NULL AND ({ts_expr}) IS NOT NULL
    ),
    tagged AS (SELECT *, abs(y) < 1000000000.0 AS ok FROM raw),
    stats AS (
        SELECT {group_col},
               sum(CASE WHEN ok THEN 1 ELSE 0 END) AS n_group,
               sum(CASE WHEN NOT ok THEN 1 ELSE 0 END) AS ndom,
               sum(CASE WHEN ok THEN CAST(x AS DECIMAL(38,12)) END) AS sxv,
               sum(CASE WHEN ok THEN CAST(y AS DECIMAL(38,12)) END) AS syv,
               sum(CASE WHEN ok THEN CAST(x * x AS DECIMAL(38,12)) END)
                   AS sxxv,
               sum(CASE WHEN ok THEN CAST(y * y AS DECIMAL(38,12)) END)
                   AS syyv,
               sum(CASE WHEN ok THEN CAST(x * y AS DECIMAL(38,12)) END)
                   AS sxyv,
               min(CASE WHEN ok THEN x END) AS minx,
               max(CASE WHEN ok THEN x END) AS maxx,
               min(CASE WHEN ok THEN y END) AS miny,
               max(CASE WHEN ok THEN y END) AS maxy
        FROM tagged GROUP BY {group_col}
        HAVING sum(CASE WHEN ok THEN 1 ELSE 0 END) >= {min_n}
    )
    SELECT {group_col}, CAST(n_group AS BIGINT) AS n,
           CAST(ndom AS BIGINT) AS excluded,
           {_rnd(f"{slope} * 86400.0")} AS slope_per_day,
           {_rnd(intercept)} AS intercept,
           {_rnd(r2)} AS r2
    FROM stats
    """
