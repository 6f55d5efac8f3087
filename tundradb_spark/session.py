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
from typing import Callable, Hashable, Iterator, TypeVar

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


_T = TypeVar("_T")


def memo(spark: SparkSession, key: Hashable, build: Callable[[], _T]) -> _T:
    """``build()`` once per (session, ``key``), its value reused after.

    The per-session memo for what is derived from an immutable input
    (the rule is stated in ``sources.tables``): table schemas, the TPC-H
    databases, materialized pair sets and index dirs.  ``key`` is a tag
    tuple, e.g. ``("tables.schema", path)``.  The entries live on the
    session object itself, so they go with it; a value that refers back
    to the session (a ``Database``, a ``DataFrame``) only forms a cycle
    that the garbage collector frees.
    """
    cached = vars(spark).setdefault("_tundradb_memo", {})
    if key not in cached:
        cached[key] = build()
    return cached[key]


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
        # Spark keeps 100 compiled classes per JVM by default, fewer than
        # one graphbench match_read cycle plans (about 250), so repeated
        # plans (graph rounds, MATCH templates) recompiled in Janino and
        # the JIT compiled every fresh class again.  Only byte-identical
        # generated code is shared; a static conf, so set at build time.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _ship_package(spark)
    return spark
