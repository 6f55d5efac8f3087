"""SparkSession factory with scale-oriented defaults.

Tests run on local[N] but every setting is chosen for cluster scale:
AQE on (runtime re-planning, skew-join splitting, partition coalescing),
Arrow on (fast pandas interchange for the few Pandas-UDF operators),
parquet filter pushdown on.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile
import zipfile
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import Column, DataFrame, Observation, SparkSession


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable confs the engine depends on to an
    EXTERNALLY-created session (the correctness driver builds its own plain
    ``SparkSession`` — round-1 lost 23/38 contract queries because
    ``nanosAsLong`` was only set in :func:`get_spark`).

    Only confs that Spark allows to change at runtime belong here; session
    timezone matters for ``unix_micros``/NTZ casts, and ``nanosAsLong``
    mirrors the reference's raw int64-nanos clock representation
    (include/common/clock.hpp:24-33).  The package is shipped to the
    session's Python workers here too, as in :func:`get_spark`.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    _ship_package(spark)
    return spark


@functools.cache
def _package_zip() -> str:
    """This package's ``.py`` files in one zip, written once per process
    into a temp dir removed at exit."""
    pkg = os.path.dirname(os.path.abspath(__file__))
    out = tempfile.mkdtemp(prefix="tundradb-pyfiles-")
    atexit.register(shutil.rmtree, out, True)
    path = os.path.join(out, "tundradb_spark.zip")
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, _, files in os.walk(pkg):
            for name in files:
                if name.endswith(".py"):
                    full = os.path.join(dirpath, name)
                    zf.write(full, os.path.relpath(full, os.path.dirname(pkg)))
    return path


def _ship_package(spark: SparkSession) -> None:
    """Put this package on the Python workers' path, once per SparkContext.

    A Python worker (``mapInPandas``, ``applyInPandas``, a UDF) imports
    the package by name but does not see the driver's ``sys.path``: a
    driver that found the package through ``sys.path`` from any other
    working directory would fail in the worker with ``ModuleNotFoundError``.
    """
    sc = spark.sparkContext
    path = _package_zip()
    name = "/" + os.path.basename(path)
    if not any(f.endswith(name) for f in sc.listFiles):
        sc.addPyFile(path)


def materialize(
    df: DataFrame, *observed: Column, eager: bool = True
) -> DataFrame | tuple[DataFrame, dict]:
    """Materialize ``df`` and cut its lineage: the one checkpoint path.

    A session with a checkpoint dir (``sc.setCheckpointDir``, the cluster
    setting) gets a RELIABLE checkpoint, whose blocks survive executor
    loss; it is always eager, because a lazy ``Dataset.checkpoint``
    computes the frame a second time to write the files.  Otherwise the
    checkpoint is local, eager unless ``eager=False``.  A lazy local
    checkpoint is only partly lazy: under AQE the call runs the frame's
    shuffle and broadcast stages as jobs, and the final stage runs inside
    whichever later job first reads the frame.

    ``observed`` aggregate columns (e.g. ``F.sum(...).alias("changed")``)
    are computed by the materializing job itself through an
    ``Observation`` and returned with the frame as
    ``(frame, {name: value})``, so a loop's convergence value costs no
    second action.  They are evaluated at the top of the plan, in the
    final stage, whose per-task contributions Spark merges once per
    partition even when a task is retried.  Observing forces the
    checkpoint eager.
    """
    obs = None
    if observed:
        obs = Observation()
        df = df.observe(obs, *observed)
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        out = df.checkpoint(eager=True)
    else:
        out = df.localCheckpoint(eager=eager or obs is not None)
    if obs is None:
        return out
    return out, obs.get


def spread_scan(df, key: str, parts: int | None = None):
    """Spread an under-split file scan across the session's cores.

    This is the optimization guide's §2.5 "input skew" case — one huge
    unsplittable file: a parquet file with a single row group plans as a
    SINGLE scan partition no matter how many cores the session has, so
    every per-row expression downstream (LR folds, shingle hashing, PII
    regexes) runs on one task while the rest of the cluster idles, and
    the map side of the first shuffle is serialized through one task too.

    Scale-adaptive by construction, not a local[32] tuning: when the
    scan already plans at least the session's default parallelism in
    splits — the normal state for any real multi-file/multi-row-group
    table, and always the state at 100 TB — this returns ``df``
    UNCHANGED (zero plan impact, no exchange).  Only a genuinely
    under-split input pays one hash repartition on ``key``, whose cost
    (one small exchange) buys full-width execution of everything above
    it.  ``key`` should be the table's unique id so the hash spreads
    evenly (guide §2.5's 20-100x distinct-values rule) and so an
    id-keyed join downstream can reuse the partitioning; hash
    repartition is chosen over round-robin because round-robin pays a
    local binary sort of the full rows first (SPARK-23207) — measured
    0.50 vs 0.40 s on the r14 gate-funnel probe.
    """
    spark = df.sparkSession
    if parts is None:
        parts = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= parts:
        return df
    from pyspark.sql import functions as F

    return df.repartition(parts, F.col(key))


@contextmanager
def scoped_shuffle_partitions(spark: SparkSession, n: int) -> Iterator[None]:
    """Temporarily pin ``spark.sql.shuffle.partitions``.

    A stateful streaming query fixes its state-store partition count when
    the FIRST micro-batch plans (async, on the stream thread) and keeps it
    for the checkpoint's lifetime — a small-key local query planned at one
    partition per core pays one state store + one Arrow python worker per
    core for a handful of keys.  Keep the scope open until the query stops.
    Not safe around CONCURRENT batch queries that need the session default.
    """
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def get_spark(
    app_name: str = "tundradb-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # driver testdata carries TIMESTAMP(NANOS) — read as raw int64 nanos,
        # which is exactly the reference's time representation
        # (include/common/clock.hpp:24-33: raw int64 nanos/millis)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # reliable checkpoints (COW-DML compaction under a checkpoint dir)
        # are never deleted by default — clean them when their RDD is GC'd
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # let the planner pick shuffled-hash over sort-merge when its size
        # conditions fit, and let AQE rewrite SMJ->SHJ when every
        # post-shuffle partition is under 64m (r14 optimization round:
        # measured 3-16% better on every join-bearing bench query, no
        # regression; the build side is still size-guarded, so the
        # known SHJ risk — an unsplittable oversized build partition —
        # stays bounded by the same threshold at any scale)
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m"
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _ship_package(spark)
    return spark
