"""Bitemporal versioning parity — reference tests/temporal_query_test.cpp
(AS-OF valid/tx/bitemporal reads, version chains under MockClock,
before-creation invisibility, no-op updates) and
docs/README_temporal_versioning.md:78-100 visibility rules."""

import pytest

from tundradb_spark.catalog import MAX_TS
from tundradb_spark.database import Database
from tundradb_spark.query import Query
from tundradb_spark.temporal import MockClock
from tests.conftest import rows_set


@pytest.fixture()
def tdb(spark):
    clock = MockClock(start=1000)
    db = Database(spark, versioning=True, clock=clock)
    db.clock_handle = clock
    return db


def test_version_chain_and_as_of(tdb):
    db = tdb
    db.create_schema("User", {"name": "string", "age": "long"})
    db.create_node("User", name="alice", age=25)  # t≈1001
    t_created = db.clock_handle.advance(100)  # 1101
    db.update_by_id("User", 0, {"age": 30})  # t≈1102
    t_after_first = db.clock_handle.advance(100)  # 1202
    db.update_by_id("User", 0, {"age": 35})  # t≈1203

    # current read sees the newest version
    assert db.get_table("User").collect()[0]["age"] == 35
    # AS-OF before the first update
    df = db.query(Query.from_("u:User").as_of_valid_time(t_created))
    assert rows_set(df, "u.age") == {(25,)}
    # AS-OF between the updates
    df = db.query(Query.from_("u:User").as_of_valid_time(t_after_first))
    assert rows_set(df, "u.age") == {(30,)}
    # version chain has 3 versions
    assert db.get_table_versions("User").count() == 3


def test_before_creation_invisible(tdb):
    db = tdb
    db.create_schema("User", {"name": "string", "age": "long"})
    t_before = db.clock_handle.advance(1)
    db.clock_handle.advance(100)
    db.create_node("User", name="alice", age=25)
    assert db.query(Query.from_("u:User").as_of_valid_time(t_before)).count() == 0
    assert db.get_table("User").count() == 1


def test_noop_update_creates_no_version(tdb):
    # temporal_query_test.cpp:823 NoOpUpdate
    db = tdb
    db.create_schema("User", {"name": "string", "age": "long"})
    db.create_node("User", name="alice", age=25)
    n = db.update_by_id("User", 0, {"age": 25})
    assert n == 0
    assert db.get_table_versions("User").count() == 1


def test_tx_time_travel(tdb):
    db = tdb
    db.create_schema("User", {"name": "string", "age": "long"})
    db.create_node("User", name="alice", age=25)
    t_tx = db.clock_handle.advance(50)
    db.update_by_id("User", 0, {"age": 99})
    # as-of transaction time before the update: the old version was current
    df = db.query(Query.from_("u:User").as_of_tx_time(t_tx))
    assert rows_set(df, "u.age") == {(25,)}
    # bitemporal: both axes pinned
    df = db.query(Query.from_("u:User").as_of(t_tx, t_tx))
    assert rows_set(df, "u.age") == {(25,)}


def test_versioned_delete_is_logical(tdb):
    db = tdb
    db.create_schema("User", {"name": "string", "age": "long"})
    db.create_node("User", name="alice", age=25)
    t_alive = db.clock_handle.advance(10)
    db.clock_handle.advance(10)
    db.delete_node("User", 0)
    assert db.get_table("User").count() == 0  # gone now
    df = db.query(Query.from_("u:User").as_of_valid_time(t_alive))
    assert df.count() == 1  # still visible in the past


def test_match_respects_temporal_context(tdb):
    # temporal context flows through traversals (query_bootstrap.cpp:10-17)
    db = tdb
    db.create_schema("User", {"name": "string", "age": "long"})
    db.create_schema("Co", {"name": "string"})
    db.create_node("User", name="a", age=1)
    db.create_node("Co", name="x")
    db.connect("works", ("User", 0), ("Co", 0))
    t_old = db.clock_handle.advance(10)
    db.clock_handle.advance(10)
    db.update_by_id("Co", 0, {"name": "y"})
    q = (
        Query.from_("u:User")
        .traverse("u", "works", "c:Co", "inner")
        .as_of_valid_time(t_old)
    )
    assert rows_set(db.query(q), "c.name") == {("x",)}


def test_update_by_match_versioned_counts_only_changed(tdb):
    db = tdb
    db.create_schema("User", {"name": "string", "age": "long"})
    db.create_node("User", name="a", age=10)
    db.create_node("User", name="b", age=20)
    db.create_node("User", name="c", age=20)
    # no-op for b and c? no: set age=20 → only a changes
    q = Query.from_("u:User")
    counts = db.update_by_match(q, {"u.age": 20})
    assert counts == {"u": 1}
    assert db.get_table_versions("User").count() == 4  # 3 creates + 1 version


def test_nonversioned_db_has_no_version_columns(spark):
    db = Database(spark, versioning=False)
    db.create_schema("U", {"x": "long"})
    db.create_node("U", x=1)
    assert db.get_table("U").columns == ["id", "x"]


class TestSparseDeltaStorage:
    """Sparse COW version deltas (temporal.deltify_versions /
    undeltify_versions — reference include/memory/node_arena.hpp:40-81
    stores only changed fields per version; this is that layout as
    parquet-friendly sparse rows + a field mask)."""

    def _chain(self, tdb):
        db = tdb
        db.create_schema("W", {"a": "string", "b": "long", "c": "double"})
        db.create_node("W", a="x", b=1, c=1.5)
        db.create_node("W", a="y", b=2, c=2.5)
        db.update_by_id("W", 0, {"b": 10})          # only b changes
        db.update_by_id("W", 0, {"a": None})        # assign a TO null
        db.update_by_id("W", 1, {"c": 9.0, "b": 2})  # c changes, b no-op val
        return db.get_table_versions("W")

    def test_round_trip_identity(self, tdb):
        from tundradb_spark.temporal import (
            deltify_versions,
            undeltify_versions,
        )

        chain = self._chain(tdb)
        back = undeltify_versions(deltify_versions(chain))
        cols = sorted(chain.columns)

        def rows(df):
            return sorted(
                (tuple(r[c] for c in cols) for r in df.collect()),
                key=lambda t: tuple(str(x) for x in t),
            )

        assert rows(chain) == rows(back.select(*chain.columns))

    def test_deltas_are_sparse_and_null_assign_survives(self, tdb):
        from tundradb_spark.temporal import FIELDS_SET_COL, deltify_versions

        chain = self._chain(tdb)
        deltas = {
            (r["id"], r["version_id"]): r
            for r in deltify_versions(chain).collect()
        }
        # base versions carry every field
        assert sorted(deltas[(0, 0)][FIELDS_SET_COL]) == ["a", "b", "c"]
        # v1 of id 0 changed only b; a and c are NOT stored again
        v1 = deltas[(0, 1)]
        assert v1[FIELDS_SET_COL] == ["b"] and v1["b"] == 10
        assert v1["a"] is None and v1["c"] is None
        # v2 assigned a := NULL — mask distinguishes it from "unchanged"
        v2 = deltas[(0, 2)]
        assert v2[FIELDS_SET_COL] == ["a"] and v2["a"] is None
        # id 1: the b assignment was a no-op value, only c is in the mask
        w1 = deltas[(1, 1)]
        assert w1[FIELDS_SET_COL] == ["c"] and w1["c"] == 9.0

    def test_snapshot_delta_storage_round_trip(self, spark, tmp_path):
        from tundradb_spark.temporal import MockClock

        path = str(tmp_path / "ddb")
        clock = MockClock(start=1000)
        db = Database(
            spark, path=path, versioning=True, clock=clock,
            version_storage="delta",
        )
        db.create_schema("U", {"name": "string", "score": "long"})
        db.create_node("U", name="n0", score=5)
        db.create_node("U", name="n1", score=7)
        t_mid = clock.advance(100)
        db.update_by_id("U", 0, {"score": 50})
        db.commit()

        # the on-disk layout really is sparse (mask column present)
        import glob

        snap = sorted(glob.glob(f"{path}/snapshots/*/nodes/U"))[-1]
        on_disk = spark.read.parquet(snap)
        assert "__fields_set" in on_disk.columns
        stored = {
            (r["id"], r["version_id"]): r for r in on_disk.collect()
        }
        assert stored[(0, 1)]["name"] is None  # unchanged field not stored

        # a fresh restore reconstructs full chains; AS-OF reads agree
        db2 = Database(spark, path=path, versioning=True, clock=clock)
        asof = {
            r["id"]: r["score"]
            for r in db2.query(
                Query.from_("u:U").as_of_valid_time(t_mid)
                .select("u.id AS id", "u.score AS score")
            ).collect()
        }
        now = {
            r["id"]: r["score"]
            for r in db2.query(
                Query.from_("u:U").select("u.id AS id", "u.score AS score")
            ).collect()
        }
        assert asof == {0: 5, 1: 7}
        assert now == {0: 50, 1: 7}


class TestVersionStorageLayout:
    """Round-6 data-driven storage decision (README 'Version storage'):
    full-row chains CLUSTERED by id cost about the same as sparse deltas
    (parquet dictionary folds unchanged repeats) while reading 3-13x
    faster, so 'full' stays the default and commit clusters chains."""

    def _chain(self, spark, n_ids=2000, n_vers=10, n_cols=16):
        from pyspark.sql import functions as F

        vers = spark.range(n_ids).crossJoin(
            spark.range(n_vers).select(F.col("id").alias("version_id"))
        )
        cols = []
        for c in range(n_cols):
            last = (
                F.floor((F.col("version_id").cast("long") - c) / n_cols)
                * n_cols
                + c
            )
            seed = F.when(last >= 0, last).otherwise(F.lit(-1))
            cols.append(
                F.md5(F.concat_ws("|", F.col("id"), F.lit(c), seed)).alias(
                    f"c{c}"
                )
            )
        return vers.select(
            "id",
            "version_id",
            (F.col("version_id") * 1000).alias("valid_from"),
            ((F.col("version_id") + 1) * 1000).alias("valid_to"),
            (F.col("version_id") * 1000).alias("tx_from"),
            F.lit(9223372036854775807).alias("tx_to"),
            *cols,
        )

    @staticmethod
    def _du(path):
        import os

        return sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(path)
            for f in fs
            if f.endswith(".parquet")
        )

    def test_clustered_full_within_2x_of_delta(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from tundradb_spark.temporal import deltify_versions

        chain = self._chain(spark)
        d_full = str(tmp_path / "full")
        d_delta = str(tmp_path / "delta")
        chain.repartition(4, "id").sortWithinPartitions(
            "id", "version_id"
        ).write.parquet(d_full)
        deltify_versions(chain).repartition(4, "id").write.parquet(d_delta)
        ratio = self._du(d_full) / self._du(d_delta)
        assert ratio < 2.0, f"clustered full-row is {ratio:.2f}x delta"

    def test_scattered_full_is_the_trap_delta_avoids(self, spark, tmp_path):
        from tundradb_spark.temporal import deltify_versions

        chain = self._chain(spark)
        d_scat = str(tmp_path / "scat")
        d_delta = str(tmp_path / "delta2")
        # arrival order: an id's chain spans every file
        chain.repartition(8, "version_id").write.parquet(d_scat)
        deltify_versions(chain).repartition(4, "id").write.parquet(d_delta)
        ratio = self._du(d_scat) / self._du(d_delta)
        assert ratio > 2.0, (
            f"expected scattered full-row >> delta, measured {ratio:.2f}x"
        )

    def test_commit_clusters_version_chains_by_id(self, spark, tmp_path):
        # every id's chain must land in exactly ONE parquet file after a
        # commit of a versioned full-row table
        from pyspark.sql import functions as F

        from tundradb_spark.database import Database

        db = Database(spark, path=str(tmp_path / "db"), versioning=True)
        db.create_schema("Doc", {"title": "string", "body": "string"})
        for i in range(20):
            db.create_node("Doc", title=f"t{i}", body=f"b{i}")
        for i in range(20):
            db.update_by_id("Doc", i, {"body": f"b{i}-v2"})
        snap = db.commit()
        import glob

        files = glob.glob(f"{snap}/nodes/Doc/*.parquet")
        assert files
        per_id = (
            spark.read.parquet(f"{snap}/nodes/Doc")
            .select("id", F.input_file_name().alias("f"))
            .groupBy("id")
            .agg(F.count_distinct("f").alias("nf"))
            .agg(F.max("nf"))
            .first()[0]
        )
        assert per_id == 1, f"some id's chain spans {per_id} files"


def test_tx_only_read_of_engine_chain_picks_newest(tdb):
    # a tx-time-only read leaves the valid axis "always visible": every
    # version of the chain passes the filter, and the window picks one
    db = tdb
    db.create_schema("User", {"name": "string", "age": "long"})
    db.create_node("User", name="alice", age=25)
    db.update_by_id("User", 0, {"age": 30})
    t_mid = db.clock_handle.advance(10)
    db.update_by_id("User", 0, {"age": 35})
    t_now = db.clock_handle.advance(10)
    for tt, age in ((t_mid, 30), (t_now, 35)):
        df = db.query(Query.from_("u:User").as_of_tx_time(tt))
        assert [tuple(r) for r in df.select("`u.age`").collect()] == [(age,)]


def test_backward_clock_keeps_valid_intervals_disjoint(tdb):
    db, clock = tdb, tdb.clock_handle
    db.create_schema("User", {"name": "string", "age": "long"})
    db.create_node("User", name="a", age=1)  # @1001
    db.create_node("User", name="b", age=2)  # @1002
    clock.set(2000)
    db.update_by_id("User", 0, {"age": 10})  # @2001
    db.update_by_id("User", 1, {"age": 20})  # @2002
    clock.set(1500)
    db.update_by_id("User", 0, {"age": 30})  # clock says 1501
    db.delete_node("User", 1)  # clock says 1502
    rows = db.get_table_versions("User").collect()
    assert all(r["valid_from"] <= r["valid_to"] for r in rows), rows
    edges = {b for r in rows for b in (r["valid_from"], r["valid_to"])}
    for vt in {e + d for e in edges for d in (-1, 0, 1)}:
        for i in (0, 1):
            live = [r for r in rows
                    if r["id"] == i and r["valid_from"] <= vt < r["valid_to"]]
            assert len(live) <= 1, (vt, live)
    at = db.query(Query.from_("u:User").as_of_valid_time(1600))
    assert rows_set(at, "u.id", "u.age") == {(0, 1), (1, 2)}
    assert rows_set(db.get_table("User"), "id", "age") == {(0, 30)}


def _history(spark, rows):
    return spark.createDataFrame(
        rows,
        "id long, name string, valid_from long, valid_to long, tx_from long, "
        "tx_to long, version_id long",
    )


@pytest.mark.parametrize("versioning", [False, True])
def test_pre_versioned_history_survives_commit(spark, tmp_path, versioning):
    # one id with versions a @[0,100) and b @[100,MAX): COMMIT writes every
    # version and restore keeps the table versioned, even in a Database
    # whose own tables are unversioned
    path = str(tmp_path / "db")
    db = Database(spark, path=path, versioning=versioning)
    db.register_node_table("H", _history(spark, [
        (0, "a", 0, 100, 0, MAX_TS, 0),
        (0, "b", 100, MAX_TS, 0, MAX_TS, 1),
    ]), pre_versioned=True)

    def names(d, vt):
        q = Query.from_("h:H").as_of_valid_time(vt)
        return [r[0] for r in d.query(q).select("`h.name`").collect()]

    assert names(db, 50) == ["a"]
    db.commit()
    assert names(Database(spark, path=path, versioning=versioning), 50) == ["a"]


def test_overlapping_external_chain_reads_newest(spark, tmp_path):
    # chains the Database did not write may overlap: v1 opens at 50 while
    # v0 stays open, so both pass the interval filter and only the window
    # makes each read return the newest version
    path = str(tmp_path / "db")
    db = Database(spark, path=path, versioning=True)
    db.register_node_table("H", _history(spark, [
        (0, "a", 0, MAX_TS, 0, MAX_TS, 0),
        (0, "b", 50, MAX_TS, 0, MAX_TS, 1),
        (1, "c", 0, MAX_TS, 0, MAX_TS, 0),
    ]), pre_versioned=True)

    def reads(d):
        now = d.query(Query.from_("h:H"))
        mid = d.query(Query.from_("h:H").as_of_valid_time(60))
        old = d.query(Query.from_("h:H").as_of_valid_time(10))
        return [sorted(tuple(r) for r in q.select("`h.id`", "`h.name`").collect())
                for q in (now, mid, old)]

    want = [[(0, "b"), (1, "c")], [(0, "b"), (1, "c")], [(0, "a"), (1, "c")]]
    assert reads(db) == want
    db.commit()
    assert reads(Database(spark, path=path, versioning=True)) == want
