import json
import os

import pytest

from tundradb_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # local[8] (r14): the suite is wall-clock-bound on task latency, not
    # correctness — 8 threads cut the heavy shuffle/iteration tests'
    # turnaround on a 32-core box; shuffle_partitions stays 4 so the
    # plan-pin tests see the same exchanges.
    # TEST_SPARK_EXTRA (a JSON object of extra Spark conf) applies only to
    # the FIRST session created in this pytest process: get_spark ends in
    # getOrCreate(), so once a session exists its conf is not rebuilt.
    raw = os.environ.get("TEST_SPARK_EXTRA", "{}")
    try:
        extra = json.loads(raw)
    except json.JSONDecodeError:
        extra = None
    if not isinstance(extra, dict):
        raise ValueError(
            f"TEST_SPARK_EXTRA must be a JSON object of Spark conf, got {raw!r}"
        )
    s = get_spark(
        "tundradb-spark-tests", cpus=8, shuffle_partitions=4,
        extra_conf=extra,
    )
    yield s


@pytest.fixture()
def db(spark):
    from tundradb_spark.database import Database

    return Database(spark)


def setup_join_fixture(db):
    """The reference's canonical join fixture (tests/join_test.cpp:71-96):
    users alex(0,25) bob(1,31) jeff(2,33) sam(3,21) matt(4,40);
    companies ibm(0,1000) google(1,3000) aws(2,5000)."""
    db.create_schema("users", {"name": "string", "age": "long"})
    db.create_schema("companies", {"name": "string", "size": "long"})
    for name, age in [("alex", 25), ("bob", 31), ("jeff", 33), ("sam", 21), ("matt", 40)]:
        db.create_node("users", name=name, age=age)
    for name, size in [("ibm", 1000), ("google", 3000), ("aws", 5000)]:
        db.create_node("companies", name=name, size=size)
    return db


def rows_set(df, *cols):
    """Collect to a set of tuples over given columns (reference row order is
    nondeterministic — SURVEY.md §7 says compare as sets)."""
    sel = df.select([f"`{c}`" for c in cols]) if cols else df
    return {tuple(r) for r in sel.collect()}
