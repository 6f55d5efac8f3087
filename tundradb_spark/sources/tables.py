"""The driver's input tables: the only code that knows their layout.

Every input table is one parquet dataset, ``<sf_dir>/<name>.parquet``
(customer, nation, region, supplier, part, orders, lineitem, events,
documents, embeddings).  Query code reads one with :func:`read`, takes
its schema with :func:`schema` and, to hand the files to another
reader, its location with :func:`path`; tests/test_contract.py fails on
any other hand-built path.

Schemas are cached, data never is.  The first read of a table in a
session infers its schema from the parquet footers, which costs one
Spark job; every later read passes that schema to
``spark.read.schema(s).parquet(p)`` and fires none, the way a
metastore-backed table takes its schema from the catalog rather than
from each query.  Each inference first applies
:func:`session.ensure_runtime_confs`, so a cached schema is always the
one read under ``nanosAsLong`` and UTC, and a plain session built by
someone else is safe for every table.

``sf_dir`` is immutable for the life of a session.  Everything kept per
(session, input) through :func:`session.memo` relies on it: the schemas
and split counts here, ``graphs.tpch``'s databases, and
``pipeline.queries``' pair sets and index dirs.  A caller who rewrites a
table in place must read it through a new session or a new path.

``spread_key`` spreads an under-split scan across the session's cores
(the optimization guide's §2.5 "input skew" case).  A parquet file with
one row group plans as ONE scan partition however many cores the
session has, so every per-row expression above it (LR folds, shingle
hashing, PII regexes) and the map side of the first shuffle run on one
task.  When the scan plans fewer splits than the session's default
parallelism, the read adds one hash repartition on ``spread_key``;
otherwise, the normal state of any real multi-file table, it returns
the scan unchanged.  ``spread_key`` should be the table's unique id, so
the hash spreads evenly and an id-keyed join above can reuse the
partitioning; hash beats round-robin, which sorts the full rows locally
first (SPARK-23207).  The split count is kept with the schema, so only
the first spread read of a table pays the ``getNumPartitions`` probe.
Only the queries whose first stage is compute-bound spread their scan;
the cheap projection queries measured a small loss from the exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from tundradb_spark.session import ensure_runtime_confs, memo


def path(sf_dir: str, name: str) -> str:
    """Where input table ``name`` lives under ``sf_dir``."""
    return f"{sf_dir}/{name}.parquet"


def schema(spark: SparkSession, sf_dir: str, name: str) -> StructType:
    """Input table ``name``'s schema, inferred once per session."""

    def infer() -> StructType:
        ensure_runtime_confs(spark)
        return spark.read.parquet(path(sf_dir, name)).schema

    return memo(spark, ("tables.schema", path(sf_dir, name)), infer)


def read(
    spark: SparkSession, sf_dir: str, name: str, spread_key: str | None = None
) -> DataFrame:
    """Scan input table ``name`` with its cached schema; spread across the
    session's cores on ``spread_key`` when the scan under-splits."""
    df = spark.read.schema(schema(spark, sf_dir, name)).parquet(path(sf_dir, name))
    if spread_key is None:
        return df
    parts = spark.sparkContext.defaultParallelism
    splits = memo(
        spark, ("tables.splits", path(sf_dir, name)), df.rdd.getNumPartitions
    )
    if splits >= parts:
        return df
    return df.repartition(parts, F.col(spread_key))
