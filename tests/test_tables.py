"""The input-table catalog (``sources.tables``): schemas are inferred once
per session and then supplied, data is never cached, and a spread read
repartitions exactly when its scan under-splits."""

import pytest
from test_contract import SF_DIR as SF

from tundradb_spark.plans import audit
from tundradb_spark.sources import tables

TABLES = (
    "customer", "nation", "region", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def _jobs(spark, fn):
    """``fn()`` and the number of Spark jobs it fired."""
    sc = spark.sparkContext
    group = f"tables-{id(fn)}"
    sc.setJobGroup(group, "count the jobs one table read fires")
    try:
        out = fn()
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setJobGroup(None, None)
    return out, len(jobs)


@pytest.mark.parametrize("name", TABLES)
def test_second_read_fires_no_job_and_equals_an_inferring_read(spark, name):
    tables.read(spark, SF, name)
    df, n_jobs = _jobs(spark, lambda: tables.read(spark, SF, name))
    assert n_jobs == 0
    ref = spark.read.parquet(tables.path(SF, name))
    assert df.schema == ref.schema
    assert df.collect() == ref.collect()


def _spread_case(spark, tmp_path_factory, case):
    """An sf_dir whose documents scan plans one split (the testdata) or
    one split per core."""
    if case == "one_file":
        return SF
    d = str(tmp_path_factory.mktemp("tables_split"))
    n = spark.sparkContext.defaultParallelism
    spark.read.parquet(tables.path(SF, "documents")).repartition(n).write.parquet(
        tables.path(d, "documents")
    )
    return d


@pytest.mark.parametrize("case", ["one_file", "one_file_per_core"])
def test_spread_read_repartitions_exactly_when_the_scan_under_splits(
    spark, tmp_path_factory, case
):
    sf_dir = _spread_case(spark, tmp_path_factory, case)
    raw = spark.read.parquet(tables.path(sf_dir, "documents"))
    under = raw.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    assert under == (case == "one_file")
    df = tables.read(spark, sf_dir, "documents", spread_key="doc_id")
    assert ("REPARTITION_BY_NUM" in audit.formatted_plan(df)) == under
    assert sorted(df.collect()) == sorted(raw.collect())


def test_a_memo_value_that_holds_its_session_lets_it_be_collected(spark):
    """Memo entries live on the session: a value that refers back to it
    (a ``Database``, a ``DataFrame``) forms a cycle the collector frees,
    instead of pinning the session for the rest of the process."""
    import gc
    import weakref

    from tundradb_spark.session import memo

    other = spark.newSession()
    memo(other, ("test.holds_session",), lambda: [other])
    ref = weakref.ref(other)
    del other
    # pyspark pins the most recently constructed session through its
    # RDD.toDF patch; constructing one more releases the one above
    spark.newSession()
    gc.collect()
    assert ref() is None
