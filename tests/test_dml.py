"""DML parity: UPDATE modes 1-3 (incl. nested map SET, APPEND, edge
updates), DELETE variants, SHOW — reference tests/update_query_test.cpp,
update_query_join_test.cpp, delete_test.sql, array_query_test.cpp."""

import itertools

import pytest
from pyspark.sql import functions as F

from tundradb_spark.database import Database
from tundradb_spark.errors import QueryError
from tundradb_spark.query import Query
from tundradb_spark.temporal import MockClock
from tests.conftest import rows_set, setup_join_fixture


@pytest.fixture()
def jdb(db):
    return setup_join_fixture(db)


def test_update_by_id(jdb):
    # UPDATE users(0) SET age = 26 (Mode 1, update_executor.cpp:23-81)
    n = jdb.update_by_id("users", 0, {"age": 26})
    assert n == 1
    df = jdb.get_table("users").filter("id = 0")
    assert [(r["name"], r["age"]) for r in df.collect()] == [("alex", 26)]


def test_update_by_id_missing_node(jdb):
    with pytest.raises(QueryError):
        jdb.update_by_id("users", 99, {"age": 1})


def test_update_nested_map(db):
    # SET u.props.role = 'admin' (nested map path, tundra_shell.cpp:973-1066)
    db.create_schema("User", {"name": "string", "props": "map<string,string>"})
    db.create_node("User", name="a", props={"role": "user", "lvl": "3"})
    db.create_node("User", name="b")
    db.update_by_id("User", 0, {"props.role": "admin"})
    db.update_by_id("User", 1, {"props.role": "guest"})  # null map → created
    rows = {r["name"]: r["props"] for r in db.get_table("User").collect()}
    assert rows["a"] == {"role": "admin", "lvl": "3"}
    assert rows["b"] == {"role": "guest"}


def test_update_array_append(db):
    # UPDATE ... APPEND (UpdateType::APPEND, array_query_test.cpp:362-431)
    db.create_schema("Person", {"name": "string", "tags": "array<string>"})
    db.create_node("Person", name="a", tags=["cpp", "rust"])
    db.create_node("Person", name="b", tags=[])
    db.update_by_id("Person", 0, {"tags": "py"}, append=True)
    db.update_by_id("Person", 1, {"tags": ["go", "zig"]}, append=True)
    rows = {r["name"]: r["tags"] for r in db.get_table("Person").collect()}
    assert rows["a"] == ["cpp", "rust", "py"]
    assert rows["b"] == ["go", "zig"]


def test_update_array_set_replaces(db):
    db.create_schema("Person", {"name": "string", "tags": "array<string>"})
    db.create_node("Person", name="a", tags=["x"])
    db.update_by_id("Person", 0, {"tags": ["y", "z"]})
    assert db.get_table("Person").collect()[0]["tags"] == ["y", "z"]


def test_update_by_match_nodes(jdb):
    # UPDATE (u:users) SET ... WHERE ... (Mode 2)
    q = Query.from_("u:users").where("u.age", ">", 30)
    counts = jdb.update_by_match(q, {"u.name": "senior"})
    assert counts == {"u": 3}
    assert rows_set(jdb.get_table("users").filter("name = 'senior'"), "id") == {
        (1,),
        (2,),
        (4,),
    }


def test_update_by_match_edge_props(jdb):
    # UPDATE MATCH (u)-[e:works_at]->(c) SET e.role = ... (Mode 3,
    # update_executor.cpp:85-213, update_query_join_test.cpp:48-80)
    jdb.create_edge_schema("works_at", {"since": "long", "role": "string"})
    jdb.connect("works_at", ("users", 0), ("companies", 0), {"since": 2020, "role": "eng"})
    jdb.connect("works_at", ("users", 1), ("companies", 0), {"since": 2021, "role": "pm"})
    q = (
        Query.from_("u:users")
        .traverse("u", "e:works_at", "c:companies", "inner")
        .where("e.since", "=", 2020)
    )
    counts = jdb.update_by_match(q, {"e.role": "principal", "u.age": 99})
    assert counts == {"e": 1, "u": 1}
    roles = {
        (r["source_id"], r["role"]) for r in jdb.get_edge_table("works_at").collect()
    }
    assert roles == {(0, "principal"), (1, "pm")}
    assert jdb.get_table("users").filter("id=0").collect()[0]["age"] == 99


def test_delete_node_by_id(jdb):
    assert jdb.delete_node("users", 3) == 1
    assert jdb.get_table("users").count() == 4
    assert rows_set(jdb.get_table("users"), "id") == {(0,), (1,), (2,), (4,)}


def test_delete_by_match(jdb):
    # DELETE (u:users) WHERE u.age < 30
    q = Query.from_("u:users").where("u.age", "<", 30)
    n = jdb.delete_by_match(q, "u")
    assert n == 2  # alex(25), sam(21)
    assert rows_set(jdb.get_table("users"), "name") == {("bob",), ("jeff",), ("matt",)}


def test_delete_edges_variants(jdb):
    # DELETE EDGE type [FROM sel] [TO sel] (TundraQL.g4:46-50)
    jdb.connect("friend", ("users", 0), ("users", 1))
    jdb.connect("friend", ("users", 0), ("users", 2))
    jdb.connect("friend", ("users", 1), ("users", 2))
    assert jdb.delete_edges("friend", from_selector=("users", 0)) == 2
    assert jdb.get_edge_table("friend").count() == 1
    assert jdb.delete_edges("friend") == 1
    assert jdb.get_edge_table("friend").count() == 0


def test_show_edge_types(jdb):
    jdb.connect("friend", ("users", 0), ("users", 1))
    jdb.connect("likes", ("users", 0), ("companies", 1))
    jdb.connect("likes", ("users", 1), ("companies", 1))
    rows = {(r["edge_type"], r["count"]) for r in jdb.show_edge_types().collect()}
    assert rows == {("friend", 1), ("likes", 2)}


def test_property_selector_cartesian(jdb):
    # CREATE EDGE with property selectors hitting many nodes → cartesian
    # (TundraQL.g4:21-28; apps/tundra_shell.cpp:385-460)
    ids = jdb.connect(
        "likes", ("users", {"age": 31}), ("companies", {"name": "ibm"})
    )
    assert len(ids) == 1
    with pytest.raises(QueryError):
        jdb.connect("likes", ("users", {"age": 31}), ("companies", 99))
    # multi-match source: ages > exist twice? use name prefix instead
    jdb.create_node("users", name="bob", age=31)  # second bob, id=5
    ids = jdb.connect("likes", ("users", {"name": "bob"}), ("companies", 0))
    assert len(ids) == 2  # 2 sources × 1 target


def test_unique_edge_violation(jdb):
    jdb.create_node("users", name="bob", age=31)  # duplicate name
    with pytest.raises(QueryError):
        jdb.connect(
            "likes", ("users", {"name": "bob"}), ("companies", 0), unique=True
        )


def test_bulk_insert_contiguous_ids(db, spark):
    db.create_schema("U", {"name": "string", "age": "long"})
    db.create_node("U", name="first", age=1)
    src = spark.range(100).selectExpr("concat('u', id) AS name", "id AS age")
    db.bulk_insert("U", src)
    df = db.get_table("U")
    assert df.count() == 101
    ids = sorted(r["id"] for r in df.select("id").collect())
    assert ids == list(range(101))  # contiguous, resumes after point insert
    nxt = db.create_node("U", name="last", age=2)
    assert nxt == 101

def test_update_nested_map_multi_assignment(db):
    # Multiple nested assignments to the SAME map field in one UPDATE must
    # all land (round-1 ADVICE: map_concat built from the original column
    # dropped all but the last)
    db.create_schema("User", {"name": "string", "props": "map<string,string>"})
    db.create_node("User", name="a", props={"keep": "x"})
    n = db.update_by_id("User", 0, {"props.a": "1", "props.b": "2"})
    assert n == 1
    props = db.get_table("User").collect()[0]["props"]
    assert props == {"keep": "x", "a": "1", "b": "2"}


def test_update_array_multi_append(db):
    # two APPENDs to the same array in one statement accumulate
    db.create_schema("P", {"name": "string", "tags": "array<string>"})
    db.create_node("P", name="a", tags=["x"])
    db.update_by_id("P", 0, {"tags": "y"}, append=True)
    assert db.get_table("P").collect()[0]["tags"] == ["x", "y"]


def test_update_count_matched_only(db, spark):
    # ids absent from the table must not inflate the reported count
    db.create_schema("U", {"name": "string", "age": "long"})
    db.create_node("U", name="a", age=1)
    db.create_node("U", name="b", age=2)
    ids = spark.createDataFrame([(0,), (7,), (None,)], "id long")
    assert db.update_nodes("U", ids, {"age": 10}) == 1
    assert db.get_table("U").filter("age = 10").count() == 1


def test_delete_count_matched_only(db, spark):
    db.create_schema("U", {"name": "string", "age": "long"})
    db.create_node("U", name="a", age=1)
    ids = spark.createDataFrame([(0,), (42,)], "id long")
    assert db.delete_nodes("U", ids) == 1
    assert db.get_table("U").count() == 0


def test_mixed_type_map_typed_access(db):
    # reference P2 dominant-type inference: heterogeneous map values load as
    # map<string,string>; a typed literal in a predicate forces a typed
    # comparison and unparsable values coerce to NULL (execution.cpp:32-207)
    db.create_schema("E", {"name": "string", "props": "map<string,string>"})
    db.create_node("E", name="hi", props={"k": "95", "s": "abc"})
    db.create_node("E", name="lo", props={"k": "7"})
    db.create_node("E", name="bad", props={"k": "zzz"})
    q = Query.from_("e:E").where("e.props.k", ">", 90).select("e.name AS name")
    assert rows_set(db.query(q), "name") == {("hi",)}
    # lexicographic comparison would have matched "zzz" > "90" too
    q2 = Query.from_("e:E").where("e.props.k", "<", 10).select("e.name AS name")
    assert rows_set(db.query(q2), "name") == {("lo",)}


def test_update_duplicate_ids_no_row_multiplication(db, spark):
    # duplicate ids in the input id set must neither multiply table rows
    # through the left join nor inflate the matched count (round-2 ADVICE)
    db.create_schema("d", {"v": "long"})
    for i in range(3):
        db.create_node("d", v=i)
    dup_ids = spark.createDataFrame([(1,), (1,), (1,), (2,)], "id long")
    n = db.update_nodes("d", dup_ids, {"v": 99})
    assert n == 2
    rows = rows_set(db.get_table("d"), "id", "v")
    assert rows == {(0, 0), (1, 99), (2, 99)}


def test_read_only_database_rejects_mutation(db):
    db.create_schema("ro", {"v": "long"})
    db.create_node("ro", v=1)
    db.read_only = True
    with pytest.raises(QueryError):
        db.create_node("ro", v=2)
    with pytest.raises(QueryError):
        db.update_by_id("ro", 0, {"v": 3})
    with pytest.raises(QueryError):
        db.delete_node("ro", 0)
    # reads still work
    db.read_only = False  # create_node buffered before the flag flips is ok
    assert db.get_table("ro").count() == 1


def test_bulk_insert_plan_is_python_free(db, spark):
    # the bulk-ingest id assigner must stay JVM-side: no Python workers in
    # the plan (round-2 verdict item 2 — the RDD zip paid per-row Python
    # serialization at ingest)
    db.create_schema("bp", {"v": "long"})
    src = spark.range(0, 1000).select(F.col("id").alias("v")).repartition(7)
    db.bulk_insert("bp", src)
    frame = db.get_table("bp")
    plan = frame._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan, plan
    # ids are still the contiguous range
    rows = sorted(r["id"] for r in frame.select("id").collect())
    assert rows == list(range(1000))


def test_show_edge_types_single_lazy_plan(jdb):
    jdb.connect("WORKS_AT", ("users", 0), ("companies", 0))
    jdb.connect("WORKS_AT", ("users", 1), ("companies", 0))
    jdb.connect("LIKES", ("users", 2), ("companies", 1))
    out = jdb.show_edge_types()
    assert rows_set(out, "edge_type", "count") == {
        ("LIKES", 1),
        ("WORKS_AT", 2),
    }


def test_pending_id_probe_duplicate_id_multiplicity(db, spark):
    # resume_counter=False leaves the id counter at 0, so create_node hands
    # out an id the registered frame already holds.  While the new row is
    # pending, the driver-side id probe resolves the selector to that id
    # ONCE; after a flush the distributed path returns one entry per
    # matching row.  Pins both multiplicities and that the pending-id set
    # is emptied with the buffer.
    db.register_node_table(
        "p", spark.createDataFrame([(0, "old")], "id long, name string"),
        resume_counter=False,
    )
    assert db.create_node("p", name="new") == 0
    assert db._resolve_selector(("p", 0)) == [0]
    assert len(db.connect("knows", ("p", 0), ("p", 0), unique=True)) == 1
    assert db.get_table("p").filter("id = 0").count() == 2  # flushes pending
    assert db._resolve_selector(("p", 0)) == [0, 0]
    with pytest.raises(QueryError):
        db.connect("knows", ("p", 0), ("p", 0), unique=True)
    assert len(db.connect("knows", ("p", 0), ("p", 0))) == 4


def _vdb(spark, clock=None):
    return Database(spark, versioning=True, clock=clock or MockClock(1000))


_GROUPS = itertools.count()


def _jobs(spark, fn):
    """Run ``fn`` inside a fresh job group; return its result and the
    number of Spark jobs it fired (the pattern of test_text's rrf_fuse
    probe)."""
    sc = spark.sparkContext
    group = f"dml-jobs-{next(_GROUPS)}"
    sc.setJobGroup(group, "count the jobs one DML call fires")
    try:
        out = fn()
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setJobGroup(None, None)
    return out, len(jobs)


def _committed_people(db, n=6):
    """A schema whose rows are flushed into the frame (none pending), so
    point selectors take the frame path, not the pending-id probe."""
    db.create_schema("P", {"name": "string", "age": "long"})
    for i in range(n):
        db.create_node("P", name=f"p{i}", age=20 + i)
    db.get_table_versions("P")  # flushes pending; fires no job
    assert not db._node("P").pending
    return db


@pytest.mark.parametrize("versioning", [False, True])
def test_delete_nodes_duplicate_ids_counted_once(spark, versioning):
    # a duplicated id must neither double the count nor (versioned) write a
    # second closed copy of the head through the marker join
    db = _vdb(spark) if versioning else Database(spark)
    _committed_people(db, n=3)
    dup = spark.createDataFrame([(1,), (1,)], "id long")
    assert db.delete_nodes("P", dup) == 1
    # versioned: the head is closed in place; plain: the row is dropped
    assert db.get_table_versions("P").count() == (3 if versioning else 2)
    assert rows_set(db.get_table("P"), "id") == {(0,), (2,)}


@pytest.mark.parametrize("versioning", [False, True])
def test_point_update_and_delete_are_one_job(spark, versioning):
    db = _committed_people(_vdb(spark) if versioning else Database(spark))
    n, jobs = _jobs(spark, lambda: db.update_by_id("P", 2, {"age": 99}))
    assert n == 1 and jobs <= 1, (n, jobs)
    n, jobs = _jobs(spark, lambda: db.delete_node("P", 3))
    assert n == 1 and jobs <= 1, (n, jobs)
    assert rows_set(db.get_table("P"), "id", "age") == {
        (0, 20), (1, 21), (2, 99), (4, 24), (5, 25)
    }


def test_connect_committed_ids_is_two_jobs(spark):
    db = _committed_people(_vdb(spark))
    db.delete_node("P", 5)
    ids, jobs = _jobs(spark, lambda: db.connect("K", ("P", 0), ("P", 4)))
    assert len(ids) == 1 and jobs <= 2, jobs
    with pytest.raises(QueryError):  # a deleted node is no endpoint
        db.connect("K", ("P", 0), ("P", 5))
    assert rows_set(db.get_edge_table("K"), "source_id", "target_id") == {(0, 4)}


def test_compact_is_eager(spark):
    db = Database(spark)
    db.register_node_table("R", spark.range(0, 200).withColumn("v", F.col("id") * 2))
    _, jobs = _jobs(spark, db.compact)
    assert jobs >= 1
    _, read_jobs = _jobs(spark, lambda: db.get_table("R").count())
    fresh = Database(spark)
    fresh.register_node_table("R", spark.createDataFrame(
        [(i, 2 * i) for i in range(200)], "id long, v long"
    ))
    _, fresh_jobs = _jobs(spark, lambda: fresh.get_table("R").count())
    assert read_jobs <= fresh_jobs, (read_jobs, fresh_jobs)


def test_versioned_update_of_missing_id_has_no_side_effects(spark):
    clock = MockClock(1000)
    db = _committed_people(_vdb(spark, clock))
    db.delete_node("P", 1)  # a closed head is not found either
    t = db._node("P")
    t.dirty = False
    frame, before = t.frame, clock.advance(0)
    for missing in (1, 99):
        with pytest.raises(QueryError, match="not found"):
            db.update_by_id("P", missing, {"age": 1})
    assert clock.advance(0) == before  # no tick consumed
    assert t.frame is frame and t.dirty is False


def test_versioned_noop_update_writes_no_version(spark):
    db = _committed_people(_vdb(spark))
    t = db._node("P")
    t.dirty = False
    assert db.update_by_id("P", 2, {"age": 22}) == 0  # already 22
    assert db.get_table_versions("P").count() == 6
    assert t.dirty is False


_DML_RETRY_SCRIPT = r"""
import json, os, sys
from pyspark import TaskContext
from pyspark.sql import functions as F
from tundradb_spark.database import Database
from tundradb_spark.session import get_spark
from tundradb_spark.temporal import MockClock

marks = sys.argv[1]
spark = get_spark("dml-retry-probe", cpus=2, extra_conf={"spark.master": "local[2,2]"})
spark.sparkContext.setLogLevel("ERROR")


def fail_first_attempt(x):
    tc = TaskContext.get()
    if tc.partitionId() == 0 and tc.attemptNumber() == 0:
        open(os.path.join(marks, f"stage-{tc.stageId()}"), "w").close()
        raise RuntimeError("injected failure of a first task attempt")
    return x


def run(people):
    db = Database(spark, versioning=True, clock=MockClock(1000))
    db.register_node_table("P", people)
    ids = lambda *v: spark.createDataFrame([(i,) for i in v], "id long")
    counts = [
        db.update_by_id("P", 3, {"age": 99}),
        db.update_by_id("P", 3, {"age": 99}),
        db.update_nodes("P", ids(1, 1, 2, 999), {"age": 7}),
        db.delete_node("P", 4),
        db.delete_nodes("P", ids(5, 5, 6)),
        len(db.connect("K", ("P", 0), ("P", 3))),
        len(db.connect("K", ("P", 1), ("P", 2))),
        db.delete_edges("K", ("P", 0)),
    ]
    versions = db.get_table_versions("P").collect()
    edges = db.get_edge_table("K").select("source_id", "target_id").collect()
    return {"counts": counts, "versions": sorted(map(list, versions)),
            "edges": sorted(map(list, edges))}


def people():
    return spark.range(0, 40, numPartitions=3).select(
        "id", (F.col("id") % 9 + 20).alias("age"))


plain = run(people())
spark.sparkContext.setCheckpointDir(os.path.join(marks, "ckpt"))
flaky = F.udf(fail_first_attempt, "long")
retried = run(people().select(flaky("id").alias("id"), "age"))
print("RESULT " + json.dumps({"plain": plain, "retried": retried}))
spark.stop()
"""


def test_dml_counts_under_reliable_checkpoint_dir_and_task_retry(tmp_path):
    """Point and bulk DML under a reliable checkpoint dir on local[2,2],
    with the table passed through a UDF that fails the first attempt of
    partition 0: the returned counts and the final version rows equal a
    plain run, so counts observed by the materializing job are neither
    lost nor double-counted.  A subprocess keeps the checkpoint dir and
    the master out of the shared test session."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": repo + os.pathsep + os.environ.get("PYTHONPATH", "")}
    proc = subprocess.run(
        [sys.executable, "-c", _DML_RETRY_SCRIPT, str(tmp_path)],
        cwd=repo, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    line = next(x for x in proc.stdout.splitlines() if x.startswith("RESULT "))
    got = json.loads(line[len("RESULT "):])
    plain, retried = got["plain"], got["retried"]
    assert any(p.startswith("stage-") for p in os.listdir(tmp_path))  # retried
    assert os.listdir(tmp_path / "ckpt")  # reliable checkpoints were written
    assert plain["counts"] == [1, 0, 2, 1, 2, 1, 1, 1]
    assert retried == plain
