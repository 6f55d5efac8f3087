"""Tests for the relational extension operators (SURVEY.md §2 J13/J14,
§2.6 window, §2.8 set ops — all absent from the reference, added Spark-first).
"""

import pytest
from pyspark.sql import functions as F

from tests.conftest import rows_set, setup_join_fixture
from tundradb_spark.errors import QueryError
from tundradb_spark.operators.relational import (
    asof_join,
    except_all,
    except_distinct,
    intersect,
    range_join,
    top_k_per_group,
    union_distinct,
)
from tundradb_spark.query import Query


# ---------------------------------------------------------------------------
# as-of join
# ---------------------------------------------------------------------------


def test_asof_basic(spark):
    trades = spark.createDataFrame(
        [("A", 5), ("A", 10), ("A", 25), ("B", 100), ("C", 50)],
        "sym string, tts long",
    )
    quotes = spark.createDataFrame(
        [("A", 10, 1.0, 1), ("A", 20, 2.0, 2), ("A", 20, 2.5, 3), ("B", 15, 9.0, 4)],
        "sym string, qts long, px double, qid long",
    )
    out = asof_join(
        trades, quotes, on="sym", left_ts="tts", right_ts="qts",
        right_cols=["px", "qid"], tie_break="qid",
    )
    got = {(r.sym, r.tts): (r.px, r.qid) for r in out.collect()}
    assert got[("A", 5)] == (None, None)  # nothing at or before ts=5
    assert got[("A", 10)] == (1.0, 1)  # exact-ts match counts (<=)
    assert got[("A", 25)] == (2.5, 3)  # tie at qts=20 → max qid wins
    assert got[("B", 100)] == (9.0, 4)
    assert got[("C", 50)] == (None, None)  # key never seen on the right


def test_asof_tolerance(spark):
    trades = spark.createDataFrame([("A", 100)], "sym string, tts long")
    quotes = spark.createDataFrame([("A", 10, 1.0)], "sym string, qts long, px double")
    out = asof_join(
        trades, quotes, on="sym", left_ts="tts", right_ts="qts",
        right_cols=["px"], tolerance=50,
    )
    assert out.collect()[0].px is None  # 100-10=90 > 50 → discarded
    out2 = asof_join(
        trades, quotes, on="sym", left_ts="tts", right_ts="qts",
        right_cols=["px"], tolerance=95,
    )
    assert out2.collect()[0].px == 1.0


# ---------------------------------------------------------------------------
# range join
# ---------------------------------------------------------------------------


def test_range_join_keyed(spark):
    left = spark.createDataFrame(
        [(1, 5), (1, 15), (2, 5)], "k long, ts long"
    )
    right = spark.createDataFrame(
        [(1, 0, 10, "r1"), (1, 10, 20, "r2"), (2, 100, 200, "r3")],
        "k long, lo long, hi long, tag string",
    )
    out = range_join(left, right, "ts", "lo", "hi", on="k")
    assert rows_set(out, "ts", "tag") == {(5, "r1"), (15, "r2")}


def test_range_join_bucketed(spark):
    left = spark.createDataFrame([(5,), (15,), (25,)], "ts long")
    right = spark.createDataFrame(
        [(0, 10, "a"), (10, 30, "b")], "lo long, hi long, tag string"
    )
    out = range_join(left, right, "ts", "lo", "hi", bucket_width=8)
    assert rows_set(out, "ts", "tag") == {(5, "a"), (15, "b"), (25, "b")}
    # keyless + no bucket_width must refuse (would be a nested-loop join)
    with pytest.raises(QueryError):
        range_join(left, right, "ts", "lo", "hi")


def test_range_join_bucketed_no_dup(spark):
    # an interval spanning many buckets must not duplicate matches
    left = spark.createDataFrame([(17,)], "ts long")
    right = spark.createDataFrame([(0, 100, "wide")], "lo long, hi long, tag string")
    out = range_join(left, right, "ts", "lo", "hi", bucket_width=10)
    assert out.count() == 1


# ---------------------------------------------------------------------------
# top-k per group
# ---------------------------------------------------------------------------


def test_top_k_per_group(spark):
    df = spark.createDataFrame(
        [("g1", 1), ("g1", 3), ("g1", 2), ("g2", 7)], "g string, v long"
    )
    out = top_k_per_group(df, ["g"], [("v", False)], k=2)
    assert rows_set(out, "g", "v", "rn") == {
        ("g1", 3, 1), ("g1", 2, 2), ("g2", 7, 1),
    }


# ---------------------------------------------------------------------------
# set operations
# ---------------------------------------------------------------------------


def test_set_ops(spark):
    a = spark.createDataFrame([(1,), (2,), (2,), (3,)], "x long")
    b = spark.createDataFrame([(2,), (4,)], "x long")
    assert rows_set(union_distinct(a, b), "x") == {(1,), (2,), (3,), (4,)}
    assert rows_set(intersect(a, b), "x") == {(2,)}
    assert rows_set(except_distinct(a, b), "x") == {(1,), (3,)}
    assert except_all(a, b).filter("x = 2").count() == 1  # multiset semantics
    mismatched = spark.createDataFrame([(1,)], "y long")
    with pytest.raises(QueryError):
        union_err = intersect(a, mismatched)


# ---------------------------------------------------------------------------
# SEMI / ANTI traverse hops (engine-level)
# ---------------------------------------------------------------------------


def _employment(db):
    setup_join_fixture(db)
    # alex→ibm, bob→google (others unemployed), per join_test.cpp style
    db.connect("WORKS_AT", ("users", 0), ("companies", 0))
    db.connect("WORKS_AT", ("users", 1), ("companies", 1))
    return db


def test_semi_hop(db):
    _employment(db)
    q = (
        Query.from_("u:users")
        .traverse("u", "WORKS_AT", "c:companies", "semi")
        .select("u.name")
    )
    assert rows_set(db.query(q), "u.name") == {("alex",), ("bob",)}


def test_semi_hop_target_filter(db):
    _employment(db)
    q = (
        Query.from_("u:users")
        .traverse("u", "WORKS_AT", "c:companies", "semi")
        .where("c.size", ">", 2000)
        .select("u.name")
    )
    # only google (size 3000) passes the child filter → only bob survives
    assert rows_set(db.query(q), "u.name") == {("bob",)}


def test_anti_hop(db):
    _employment(db)
    q = (
        Query.from_("u:users")
        .traverse("u", "WORKS_AT", "c:companies", "anti")
        .select("u.name")
    )
    assert rows_set(db.query(q), "u.name") == {("jeff",), ("sam",), ("matt",)}


def test_semi_output_has_no_target_columns(db):
    _employment(db)
    q = Query.from_("u:users").traverse("u", "WORKS_AT", "c:companies", "semi")
    df = db.query(q)
    assert all(not c.startswith("c.") for c in df.columns)


def test_rank_within_query(db):
    setup_join_fixture(db)
    q = (
        Query.from_("u:users")
        .select("u.name AS name", "u.age AS age")
        .rank_within([], ["age desc"], alias="r", top=2)
    )
    out = db.query(q)
    assert rows_set(out, "name", "r") == {("matt", 1), ("jeff", 2)}


def test_range_join_left_keyed(spark):
    # outer joins keep unmatched rows null-padded — the range predicate is
    # part of the join condition, not a post-join filter (round-1 ADVICE)
    left = spark.createDataFrame([(1, 5), (1, 99), (3, 5)], "k long, ts long")
    right = spark.createDataFrame(
        [(1, 0, 10, "r1")], "k long, lo long, hi long, tag string"
    )
    out = range_join(left, right, "ts", "lo", "hi", on="k", how="left")
    assert rows_set(out, "ts", "tag") == {(5, "r1"), (99, None), (5, None)}


def test_range_join_semi_anti_keyed(spark):
    left = spark.createDataFrame([(1, 5), (1, 99), (3, 5)], "k long, ts long")
    right = spark.createDataFrame(
        [(1, 0, 10, "r1")], "k long, lo long, hi long, tag string"
    )
    semi = range_join(left, right, "ts", "lo", "hi", on="k", how="semi")
    assert rows_set(semi, "k", "ts") == {(1, 5)}
    anti = range_join(left, right, "ts", "lo", "hi", on="k", how="anti")
    assert rows_set(anti, "k", "ts") == {(1, 99), (3, 5)}


def test_range_join_full_keyed(spark):
    left = spark.createDataFrame([(1, 5), (2, 5)], "k long, ts long")
    right = spark.createDataFrame(
        [(1, 0, 10, "r1"), (9, 0, 10, "r9")],
        "k long, lo long, hi long, tag string",
    )
    out = range_join(left, right, "ts", "lo", "hi", on="k", how="full")
    assert rows_set(out, "k", "ts", "tag") == {
        (1, 5, "r1"),
        (2, 5, None),
        (9, None, "r9"),
    }


def test_range_join_left_bucketed(spark):
    left = spark.createDataFrame([(5,), (999,)], "ts long")
    right = spark.createDataFrame(
        [(0, 10, "a")], "lo long, hi long, tag string"
    )
    out = range_join(left, right, "ts", "lo", "hi", bucket_width=8, how="left")
    assert rows_set(out, "ts", "tag") == {(5, "a"), (999, None)}
    # right/full in bucketed mode would duplicate unmatched exploded rows
    with pytest.raises(QueryError):
        range_join(left, right, "ts", "lo", "hi", bucket_width=8, how="full")


def test_asof_salted_matches_unsalted(spark):
    # one dominant key: the salted two-phase merge must return the identical
    # result (each (key, salt) window sees every right row of the key)
    left = spark.createDataFrame(
        [("HOT", t) for t in range(0, 200, 2)] + [("B", 7)],
        "sym string, tts long",
    )
    right = spark.createDataFrame(
        [("HOT", t, float(t)) for t in range(0, 200, 5)] + [("B", 5, 1.0)],
        "sym string, qts long, px double",
    )
    base = asof_join(left, right, on="sym", left_ts="tts", right_ts="qts")
    salted = asof_join(
        left, right, on="sym", left_ts="tts", right_ts="qts", salt=4
    )
    cols = ["sym", "tts", "qts", "px"]
    assert rows_set(salted, *cols) == rows_set(base, *cols)
    assert salted.count() == left.count()  # no row amplification


def test_asof_salt_with_map_column(spark):
    # hash() over MAP elements is an AnalysisException — the salt spread
    # must skip unhashable columns (node tables carry map props)
    left = spark.createDataFrame(
        [("A", 10, {"k": "v"}), ("A", 20, None)],
        "sym string, tts long, props map<string,string>",
    )
    right = spark.createDataFrame(
        [("A", 5, 1.0), ("A", 15, 2.0)], "sym string, qts long, px double"
    )
    base = asof_join(left, right, on="sym", left_ts="tts", right_ts="qts")
    salted = asof_join(
        left, right, on="sym", left_ts="tts", right_ts="qts", salt=3
    )
    cols = ["sym", "tts", "qts", "px"]
    assert rows_set(salted, *cols) == rows_set(base, *cols)


def test_range_join_keyed_outer_with_colliding_column(spark):
    # right side carries a column with the LEFT key's name ("k"): the join
    # condition must bind frame-qualified, not by name (round-2 ADVICE)
    left = spark.createDataFrame([(1, 10), (2, 99)], "k long, ts long")
    right = spark.createDataFrame(
        [(1, 0, 20, 7)], "rk long, lo long, hi long, k long"
    )
    out = range_join(
        left, right, "ts", "lo", "hi", on=("k", "rk"), how="left"
    )
    got = {
        (r["ts"], r["lo"]) for r in out.select("ts", "lo").collect()
    }
    assert got == {(10, 0), (99, None)}


class TestGroupQuantiles:
    def test_exact_linear_interpolation(self, spark):
        from tundradb_spark.operators.relational import group_quantiles

        df = spark.createDataFrame(
            [("a", float(v)) for v in [10, 20, 30, 40]]
            + [("b", float(v)) for v in [1, 2, 3]],
            "g string, v double",
        )
        rows = {r.g: r for r in group_quantiles(
            df, ["g"], "v", [0.25, 0.5, 0.9]).collect()}
        # group a: sorted [10,20,30,40]; p50 at 1.5 -> 25.0; p25 at 0.75 -> 17.5
        assert rows["a"].n_rows == 4
        assert rows["a"].p25 == 17.5
        assert rows["a"].p50 == 25.0
        assert rows["a"].p90 == pytest.approx(37.0)
        assert rows["b"].p50 == 2.0


def test_quantile_labels_decimal_safe():
    """ADVICE r4: int(p*100) truncation mislabeled 0.29 as p28 and
    collapsed 0.99/0.995 into duplicate p99 columns."""
    import pytest

    from tundradb_spark.operators.relational import _quantile_label

    assert _quantile_label(0.25) == "p25"
    assert _quantile_label(0.9) == "p90"
    assert _quantile_label(0.29) == "p29"
    assert _quantile_label(0.995) == "p99_5"
    assert _quantile_label(0.99) == "p99"
    with pytest.raises(ValueError):
        _quantile_label(1.5)


def test_quantile_duplicate_labels_raise(spark):
    import pytest

    from tundradb_spark.operators.relational import group_quantiles

    df = spark.range(10).selectExpr("'a' AS g", "CAST(id AS DOUBLE) AS v")
    with pytest.raises(ValueError, match="duplicate"):
        group_quantiles(df, ["g"], "v", [0.99, 0.99])


class TestHistogramQuantiles:
    def test_matches_sql_oracle_bit_for_bit(self, spark):
        import duckdb

        from tundradb_spark.operators.relational import (
            histogram_quantiles,
            histogram_quantiles_sql,
        )

        path = "/root/testdata/sf0.001/lineitem.parquet"
        li = spark.read.parquet(path).select(
            "l_returnflag", F.col("l_extendedprice").cast("double").alias("v")
        )
        got = {
            r["l_returnflag"]: (r["n_rows"], r["p25"], r["p50"], r["p99_5"])
            for r in histogram_quantiles(
                li, ["l_returnflag"], "v", [0.25, 0.5, 0.995], n_bins=100
            ).collect()
        }
        con = duckdb.connect()
        con.execute(f"CREATE VIEW lineitem AS SELECT * FROM '{path}'")
        mn, mx = con.execute(
            "SELECT min(CAST(l_extendedprice AS DOUBLE)),"
            " max(CAST(l_extendedprice AS DOUBLE)) FROM lineitem"
        ).fetchone()
        sql = histogram_quantiles_sql(
            "lineitem",
            "l_returnflag",
            "l_extendedprice",
            [0.25, 0.5, 0.995],
            mn,
            mx,
            n_bins=100,
        )
        want = {g: tuple(rest) for g, *rest in con.execute(sql).fetchall()}
        assert got == want

    def test_estimate_within_bin_width_of_exact(self, spark):
        from tundradb_spark.operators.relational import (
            group_quantiles,
            histogram_quantiles,
        )

        li = spark.read.parquet(
            "/root/testdata/sf0.001/lineitem.parquet"
        ).select("l_returnflag", F.col("l_extendedprice").cast("double").alias("v"))
        mm = li.agg(F.min("v"), F.max("v")).first()
        width = (mm[1] - mm[0]) / 500
        exact = {
            r["l_returnflag"]: (r["p25"], r["p50"], r["p90"])
            for r in group_quantiles(
                li, ["l_returnflag"], "v", [0.25, 0.5, 0.9]
            ).collect()
        }
        est = {
            r["l_returnflag"]: (r["p25"], r["p50"], r["p90"])
            for r in histogram_quantiles(
                li, ["l_returnflag"], "v", [0.25, 0.5, 0.9], n_bins=500
            ).collect()
        }
        for g in exact:
            for e, a in zip(est[g], exact[g]):
                assert abs(e - a) <= width * 1.5, (g, e, a)

    def test_degenerate_single_value(self, spark):
        from tundradb_spark.operators.relational import histogram_quantiles

        df = spark.createDataFrame([("a", 7.0)] * 5, "g string, v double")
        row = histogram_quantiles(df, ["g"], "v", [0.5]).first()
        assert row["n_rows"] == 5 and row["p50"] == 7.0

    def test_validation(self, spark):
        from tundradb_spark.operators.relational import histogram_quantiles

        df = spark.createDataFrame([("a", 1.0)], "g string, v double")
        with pytest.raises(ValueError):
            histogram_quantiles(df, ["g"], "v", [0.5], n_bins=0)
        with pytest.raises(ValueError):
            histogram_quantiles(df, ["g"], "v", [0.99, 0.995, 0.99])


class TestHistogramQuantilesBounded:
    def test_bounded_oracle_matches_with_out_of_range_values(self, spark):
        """Explicit bounds + values outside them: the oracle must apply
        the same edge-bin clamp the Spark operator does."""
        import duckdb

        from tundradb_spark.operators.relational import (
            histogram_quantiles,
            histogram_quantiles_sql,
        )

        rows = [("g", -50.0), ("g", 5.0), ("g", 7.0), ("g", 500.0), ("h", 2.0)]
        df = spark.createDataFrame(rows, "g string, v double")
        got = sorted(
            map(
                tuple,
                histogram_quantiles(
                    df, ["g"], "v", [0.5, 0.9], n_bins=10, bounds=(0.0, 10.0)
                ).collect(),
            )
        )
        con = duckdb.connect()
        con.execute("CREATE TABLE t (g VARCHAR, v DOUBLE)")
        con.executemany("INSERT INTO t VALUES (?, ?)", rows)
        sql = histogram_quantiles_sql(
            "t", "g", "v", [0.5, 0.9], 0.0, 10.0, n_bins=10
        )
        want = sorted(map(tuple, con.execute(sql).fetchall()))
        assert got == want


class TestTimeRollupResample:
    def test_rollup_buckets_and_sums(self, spark):
        from tundradb_spark.operators.relational import time_bucket_rollup

        rows = [
            (0, 1_000_000, "a", 1.5),
            (1, 2_000_000, "a", 2.5),   # same 10s bucket
            (2, 11_000_000, "a", 4.0),  # next bucket
            (3, 1_500_000, "b", 7.0),
        ]
        df = spark.createDataFrame(rows, "event_id long, ts long, event_type string, value double")
        # ts here is raw int64: treated as NANOS by epoch_micros → µs = ns/1000
        out = {(r["event_type"], r["bucket_start_us"]): r
               for r in time_bucket_rollup(df, 10_000, ["event_type"], "value").collect()}
        # 1_000_000 ns = 1000 µs → bucket 0; 11_000_000 ns = 11000 µs → bucket 10000
        assert out[("a", 0)]["n_events"] == 2
        assert out[("a", 0)]["total_value"] == 4.0
        assert out[("a", 10000)]["min_value"] == 4.0
        assert out[("b", 0)]["max_value"] == 7.0

    def test_resample_fills_gaps_with_locf(self, spark):
        from tundradb_spark.operators.relational import resample_ffill

        # user 1: events in buckets 0 and 30 (step 10) → gaps at 10, 20
        rows = [
            (0, 1_000_000, 1, 5.0),
            (1, 2_000_000, 1, 6.0),    # same bucket, later ts → wins
            (2, 31_000_000, 1, 9.0),
        ]
        df = spark.createDataFrame(rows, "event_id long, ts long, user_id long, value double")
        out = {r["bucket_start_us"]: r
               for r in resample_ffill(df, 10_000, "user_id", "value",
                                       tiebreak_col="event_id").collect()}
        assert sorted(out) == [0, 10000, 20000, 30000]
        assert out[0]["value_ffill"] == 6.0 and out[0]["n_in_bucket"] == 2
        assert out[10000]["value_ffill"] == 6.0 and out[10000]["n_in_bucket"] == 0
        assert out[20000]["value_ffill"] == 6.0
        assert out[30000]["value_ffill"] == 9.0 and out[30000]["n_in_bucket"] == 1

    def test_resample_tiebreak_pins_equal_timestamps(self, spark):
        from tundradb_spark.operators.relational import resample_ffill

        rows = [(1, 1_000_000, 1, 5.0), (2, 1_000_000, 1, 8.0)]
        df = spark.createDataFrame(rows, "event_id long, ts long, user_id long, value double")
        row = resample_ffill(df, 10_000, "user_id", "value",
                             tiebreak_col="event_id").first()
        assert row["value_ffill"] == 8.0  # higher event_id wins

    def test_resample_grid_guard(self, spark):
        from tundradb_spark.operators.relational import resample_ffill

        rows = [(0, 0, 1, 1.0), (1, 10**16, 1, 2.0)]  # ~10^13 µs apart
        df = spark.createDataFrame(rows, "event_id long, ts long, user_id long, value double")
        with pytest.raises(ValueError):
            resample_ffill(df, 1, "user_id", "value")

    def test_resample_guard_rides_the_bounds_job(self, spark):
        """The grid-size guard is observed by the job that materializes
        the bounds frame: building a resample fires 2 jobs (the bounds
        shuffle and its materialization), where a separate guard count
        fired 4."""
        from tundradb_spark.operators.relational import resample_ffill

        rows = [(0, 1_000_000, 1, 3.0), (1, 31_000_000, 1, 9.0),
                (2, 5_000_000, 2, 1.0)]
        df = spark.createDataFrame(
            rows, "event_id long, ts long, user_id long, value double"
        )
        sc = spark.sparkContext
        sc.setJobGroup("resample-ffill-build", "count resample build jobs")
        try:
            out = resample_ffill(df, 10_000_000, "user_id", "value")
        finally:
            sc.setJobGroup(None, None)
        jobs = sc.statusTracker().getJobIdsForGroup("resample-ffill-build")
        assert len(jobs) == 2, jobs
        assert sorted(map(tuple, out.collect())) == [
            (1, 0, 9.0, 2), (2, 0, 1.0, 1)
        ]

    def test_validation(self, spark):
        from tundradb_spark.operators.relational import time_bucket_rollup

        df = spark.createDataFrame([(0, 0, "a", 1.0)],
                                   "event_id long, ts long, event_type string, value double")
        with pytest.raises(ValueError):
            time_bucket_rollup(df, 0, ["event_type"], "value")


class TestResampleInterp:
    def test_linear_interpolation_between_observations(self, spark):
        from tundradb_spark.operators.relational import resample_interp

        # buckets 0 and 30000 observed (step 10000): gaps at 10000, 20000
        rows = [(0, 1_000_000, 1, 3.0), (1, 31_000_000, 1, 9.0)]
        df = spark.createDataFrame(
            rows, "event_id long, ts long, user_id long, value double"
        )
        out = {r["bucket_start_us"]: r["value_interp"]
               for r in resample_interp(df, 10_000, "user_id", "value",
                                        tiebreak_col="event_id").collect()}
        assert out[0] == 3.0 and out[30000] == 9.0
        assert out[10000] == 5.0  # 3 + 6 * (1/3)
        assert out[20000] == 7.0  # 3 + 6 * (2/3)

    def test_edges_fall_back_to_available_side(self, spark):
        from tundradb_spark.operators.relational import resample_interp

        rows = [(0, 11_000_000, 1, 4.0)]
        df = spark.createDataFrame(
            rows, "event_id long, ts long, user_id long, value double"
        )
        out = resample_interp(df, 10_000, "user_id", "value").collect()
        assert len(out) == 1 and out[0]["value_interp"] == 4.0

    def test_matches_ffill_on_observed_buckets(self, spark):
        from tundradb_spark.operators.relational import (
            resample_ffill,
            resample_interp,
        )

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        f = resample_ffill(ev, 86_400_000_000, "user_id", "value",
                           tiebreak_col="event_id")
        i = resample_interp(ev, 86_400_000_000, "user_id", "value",
                            tiebreak_col="event_id")
        joined = f.join(
            i.drop("n_in_bucket"), ["user_id", "bucket_start_us"]
        ).filter(F.col("n_in_bucket") > 0)
        bad = joined.filter(
            F.abs(F.col("value_ffill") - F.col("value_interp")) > 1e-6
        ).count()
        assert bad == 0 and joined.count() > 0

    def test_negative_epoch_floor_buckets(self, spark):
        """Pre-1970 timestamps must floor to the bucket BEFORE them, not
        truncate toward zero."""
        from tundradb_spark.operators.relational import time_bucket_rollup

        # raw int64 nanos: -500_000 ns = -500 µs → bucket -1000 at step 1000
        df = spark.createDataFrame(
            [(0, -500_000, "a", 2.0), (1, 500_000, "a", 3.0)],
            "event_id long, ts long, event_type string, value double",
        )
        out = {r["bucket_start_us"]: r["n_events"]
               for r in time_bucket_rollup(df, 1000, ["event_type"], "value").collect()}
        assert out == {-1000: 1, 0: 1}


def test_histogram_quantiles_empty_input_raises(spark):
    # r6 advice: bounds=None on an empty/all-null input must be a clear
    # error, not a TypeError from float(None)
    from tundradb_spark.operators.relational import histogram_quantiles

    empty = spark.createDataFrame([], "g string, v double")
    with pytest.raises(ValueError, match="non-null"):
        histogram_quantiles(empty, ["g"], "v", [0.5])


class TestMovingAggregate:
    def test_trailing_window_semantics(self, spark):
        from tundradb_spark.operators.relational import moving_aggregate

        # integer ts is treated as raw nanos (/1000 -> us), so use
        # 1000x-scaled stamps; key 1 events land at us 0, 50, 120
        rows = [
            (1, 0, 10.0),
            (1, 50_000, 20.0),
            (1, 120_000, 30.0),
            (2, 60_000, 5.0),
        ]
        df = spark.createDataFrame(rows, "user_id long, ts long, value double")
        out = {
            (r["key"], r["ts_us"]): (r["n_window"], r["sum_window"])
            for r in moving_aggregate(df, 100, "user_id", "value").collect()
        }
        # ns->us: ts 0, 50, 120; window [t-100, t]
        assert out[(1, 0)] == (1, 10.0)
        assert out[(1, 50)] == (2, 30.0)
        assert out[(1, 120)] == (2, 50.0)  # t=0 fell out of [20, 120]
        assert out[(2, 60)] == (1, 5.0)

    def test_equal_timestamps_share_frame(self, spark):
        from tundradb_spark.operators.relational import moving_aggregate

        rows = [(1, 1_000, 1.0), (1, 1_000, 2.0)]
        df = spark.createDataFrame(rows, "user_id long, ts long, value double")
        out = [
            (r["n_window"], r["sum_window"])
            for r in moving_aggregate(df, 10, "user_id", "value").collect()
        ]
        # RANGE frame: both rows see both values — order-free
        assert out == [(2, 3.0), (2, 3.0)]

    def test_validation(self, spark):
        from tundradb_spark.operators.relational import moving_aggregate

        df = spark.createDataFrame([(1, 0, 1.0)], "user_id long, ts long, value double")
        with pytest.raises(ValueError):
            moving_aggregate(df, -1, "user_id", "value")


class TestTimeWeightedAvg:
    def test_locf_weighting(self, spark):
        from tundradb_spark.operators.relational import time_weighted_avg

        # bucket [0, 100): v=10 holds [10, 60), v=20 holds [60, 100)
        # twa = (10*50 + 20*40) / (100 - 10) = 900 / 90 = 10.0... wait:
        # (500 + 800) / 90 = 14.444444
        rows = [(1, 10_000, 10.0), (1, 60_000, 20.0)]
        df = spark.createDataFrame(rows, "k long, ts long, v double")
        out = time_weighted_avg(df, 100, "k", "v").collect()
        assert len(out) == 1
        r = out[0]
        assert r["n_obs"] == 2
        assert r["twa"] == round((10 * 50 + 20 * 40) / 90, 6)

    def test_single_observation_is_its_value(self, spark):
        from tundradb_spark.operators.relational import time_weighted_avg

        df = spark.createDataFrame(
            [(1, 30_000, 42.5)], "k long, ts long, v double"
        )
        r = time_weighted_avg(df, 100, "k", "v").first()
        assert r["twa"] == 42.5  # holds [30, 100) over span 70: 42.5*70/70

    def test_unequal_sampling_beats_plain_avg(self, spark):
        from tundradb_spark.operators.relational import time_weighted_avg

        # v=0 held for 90% of the bucket, v=100 for 10%: plain avg says
        # 50, TWA says ~11.1 — the irregular-sampling correction
        rows = [(1, 0, 0.0), (1, 90_000, 100.0)]
        df = spark.createDataFrame(rows, "k long, ts long, v double")
        r = time_weighted_avg(df, 100, "k", "v").first()
        assert r["twa"] == round((0 * 90 + 100 * 10) / 100, 6)

    def test_validation(self, spark):
        from tundradb_spark.operators.relational import time_weighted_avg

        df = spark.createDataFrame([(1, 0, 1.0)], "k long, ts long, v double")
        with pytest.raises(ValueError):
            time_weighted_avg(df, 0, "k", "v")


def _lttb_reference(points, n_out):
    """Pure-Python mirror of downsample_lttb's parallel bucket-mean
    variant: same rank bucketing, same exact-sum/one-division anchor
    means, same area formula and (area desc, rank asc) argmax."""
    from decimal import Decimal

    pts = sorted(points)  # (ts, tb, value) — ranks by (ts, tb)
    n = len(pts)
    if n <= n_out:
        return sorted((t, v) for t, _tb, v in pts)
    nb = n_out - 2
    first, last = pts[0], pts[-1]
    interior = pts[1:-1]
    buckets = {}
    for idx, p in enumerate(interior):  # idx = rank-2
        b = int(idx * nb / (n - 2))
        buckets.setdefault(b, []).append((idx, p))
    anchors = {}
    for b, members in buckets.items():
        sx = sum(t for _i, (t, _tb, _v) in members)
        sy = sum(Decimal(str(v)) for _i, (_t, _tb, v) in members)
        anchors[b] = (float(sx) / len(members), float(sy) / len(members))
    anchors[-1] = (float(first[0]), first[2])
    anchors[nb] = (float(last[0]), last[2])
    out = [(first[0], first[2]), (last[0], last[2])]
    for b, members in buckets.items():
        lx, ly = anchors[b - 1]
        rx, ry = anchors[b + 1]
        best = None
        for idx, (t, _tb, v) in members:
            area = abs((lx - rx) * (v - ly) - (lx - float(t)) * (ry - ly))
            key = (-area, idx)
            if best is None or key < best[0]:
                best = (key, (t, v))
        out.append(best[1])
    return sorted(out)


class TestDownsampleLttb:
    def test_small_series_pass_through(self, spark):
        from tundradb_spark.operators.relational import downsample_lttb

        rows = [(1, t * 1000, float(t)) for t in range(5)]
        df = spark.createDataFrame(rows, "k long, ts long, v double")
        out = sorted(
            (r["ts_us"], r["value"])
            for r in downsample_lttb(df, 10, "k", "v").collect()
        )
        assert out == [(t, float(t)) for t in range(5)]

    def test_matches_python_reference(self, spark):
        import random

        from tundradb_spark.operators.relational import downsample_lttb

        rng = random.Random(7)
        rows = []
        for k in (1, 2):
            for i in range(60):
                rows.append(
                    (k, i * 1000, round(rng.uniform(-10, 10), 2), i)
                )
        df = spark.createDataFrame(
            rows, "k long, ts long, v double, eid long"
        )
        got = {}
        for r in downsample_lttb(df, 12, "k", "v", tiebreak_col="eid").collect():
            got.setdefault(r["key"], []).append((r["ts_us"], r["value"]))
        for k in (1, 2):
            pts = [(t, eid, v) for k2, t2, v, eid in rows if k2 == k
                   for t in [t2 // 1000]]
            want = _lttb_reference(pts, 12)
            assert sorted(got[k]) == want, f"key {k}"

    def test_output_size_and_endpoints(self, spark):
        from tundradb_spark.operators.relational import downsample_lttb

        rows = [(1, t * 1000, float(t % 7)) for t in range(100)]
        df = spark.createDataFrame(rows, "k long, ts long, v double")
        out = sorted(
            r["ts_us"] for r in downsample_lttb(df, 10, "k", "v").collect()
        )
        assert len(out) == 10
        assert out[0] == 0 and out[-1] == 99

    def test_validation(self, spark):
        from tundradb_spark.operators.relational import downsample_lttb

        df = spark.createDataFrame([(1, 0, 1.0)], "k long, ts long, v double")
        with pytest.raises(ValueError):
            downsample_lttb(df, 2, "k", "v")


class TestEwmaFilter:
    def test_known_series(self, spark):
        from tundradb_spark.operators.relational import ewma_filter

        import datetime

        rows = [
            ("a", datetime.datetime(2024, 1, 1, 0, 0, i), float(v), i)
            for i, v in enumerate([10.0, 20.0, 30.0])
        ]
        df = spark.createDataFrame(
            rows, "user string, ts timestamp, value double, event_id long"
        )
        out = {
            r["ts_us"]: r["ewma"]
            for r in ewma_filter(
                df, "user", "value", alpha=0.5, taps=3, tiebreak_col="event_id"
            ).collect()
        }
        ts = sorted(out)
        # row 0: only itself. row 1: (.5*20 + .25*10)/.75
        # row 2: (.5*30 + .25*20 + .125*10)/.875
        assert out[ts[0]] == 10.0
        assert abs(out[ts[1]] - (0.5 * 20 + 0.25 * 10) / 0.75) < 1e-6
        assert (
            abs(out[ts[2]] - (0.5 * 30 + 0.25 * 20 + 0.125 * 10) / 0.875)
            < 1e-6
        )

    def test_single_shuffle(self, spark):
        from tundradb_spark.operators.relational import ewma_filter
        from tundradb_spark.plans import audit

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        df = ewma_filter(ev, "user_id", "value", tiebreak_col="event_id")
        assert audit.count_exchanges(df) <= 1, audit.formatted_plan(df)

    def test_validation(self, spark):
        import pytest

        from tundradb_spark.operators.relational import ewma_filter

        ev = spark.createDataFrame(
            [], "user_id long, ts timestamp, value double"
        )
        with pytest.raises(ValueError):
            ewma_filter(ev, "user_id", "value", alpha=0.0)
        with pytest.raises(ValueError):
            ewma_filter(ev, "user_id", "value", taps=0)


def test_moving_aggregate_std_matches_reference(spark):
    # r7: population std over the trailing window from decimal-exact
    # sums — the z-score anomaly-detection input
    import datetime
    import statistics

    from tundradb_spark.operators.relational import moving_aggregate

    vals = [10.0, 12.0, 9.0, 30.0, 11.0]
    rows = [
        ("a", datetime.datetime(2024, 1, 1, 0, 0, i), v)
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, "user string, ts timestamp, value double")
    out = sorted(
        (r["ts_us"], r["std_window"])
        for r in moving_aggregate(df, 3_600_000_000, "user", "value").collect()
    )
    for i, (_, got) in enumerate(out):
        want = statistics.pstdev(vals[: i + 1])
        assert abs(got - want) < 1e-6, (i, got, want)


class TestCusumAlarms:
    def _df(self, spark, vals, key="a"):
        import datetime

        t0 = datetime.datetime(2024, 1, 1)
        rows = [
            (key, t0 + datetime.timedelta(seconds=i), float(v), i)
            for i, v in enumerate(vals)
        ]
        return spark.createDataFrame(
            rows, "user string, ts timestamp, value double, event_id long"
        )

    def test_closed_form_matches_recurrence(self, spark):
        from tundradb_spark.operators.relational import cusum_alarms

        # hand recurrence with target=0, slack=1:
        # d = [-1,-1,9,9,-1]; S = [0,0,9,18,17] → threshold 10 flags rows 4,5
        df = self._df(spark, [0, 0, 10, 10, 0])
        got = sorted(
            (r.value, r.cusum)
            for r in cusum_alarms(
                df, "user", "value", slack=1.0, threshold=10.0,
                target=0.0, tiebreak_col="event_id",
            ).collect()
        )
        assert got == [(0.0, 17.0), (10.0, 18.0)]

    def test_resets_after_dip(self, spark):
        from tundradb_spark.operators.relational import cusum_alarms

        # a deep dip drives P to a new minimum → S restarts from 0 there,
        # exactly max(0, ·) semantics: the later small rise never alarms
        df = self._df(spark, [10, 10, -100, 5, 5])
        rows = cusum_alarms(
            df, "user", "value", slack=0.0, threshold=15.0,
            target=0.0, tiebreak_col="event_id",
        ).collect()
        # S = [10, 20, 0, 5, 10] → only row 2 (S=20) crosses 15
        assert [(r.value, r.cusum) for r in rows] == [(10.0, 20.0)]

    def test_per_key_mean_target(self, spark):
        from tundradb_spark.operators.relational import cusum_alarms

        import datetime

        # key a: mean 10, constant series → S stays ≤ 0, never alarms;
        # key b: mean 5 with a late surge → alarms on the surge
        rows = [
            ("a", datetime.datetime(2024, 1, 1, 0, 0, i), 10.0, i)
            for i in range(4)
        ] + [
            ("b", datetime.datetime(2024, 1, 1, 0, 0, i), v, 10 + i)
            for i, v in enumerate([0.0, 0.0, 10.0, 10.0])
        ]
        df = spark.createDataFrame(
            rows, "user string, ts timestamp, value double, event_id long"
        )
        got = cusum_alarms(
            df, "user", "value", slack=0.0, threshold=8.0,
            tiebreak_col="event_id",
        ).collect()
        # b: d = [-5,-5,5,5]; P = [-5,-10,-5,0]; S = [0,0,5,10]
        assert [(r.key, r.value, r.cusum) for r in got] == [("b", 10.0, 10.0)]

    def test_partition_order_independent(self, spark):
        from tundradb_spark.operators.relational import cusum_alarms

        import random

        rng = random.Random(8)
        vals = [rng.uniform(-3, 25) for _ in range(200)]
        df = self._df(spark, vals)
        kw = dict(slack=2.0, threshold=30.0, tiebreak_col="event_id")
        a = sorted(
            (r.ts_us, r.cusum)
            for r in cusum_alarms(df, "user", "value", **kw).collect()
        )
        b = sorted(
            (r.ts_us, r.cusum)
            for r in cusum_alarms(
                df.repartition(7), "user", "value", **kw
            ).collect()
        )
        assert a == b and len(a) > 0

    def test_validation(self, spark):
        from tundradb_spark.operators.relational import cusum_alarms

        df = self._df(spark, [1.0])
        with pytest.raises(ValueError, match="slack"):
            cusum_alarms(df, "user", "value", slack=-1.0, threshold=1.0)
        with pytest.raises(ValueError, match="threshold"):
            cusum_alarms(df, "user", "value", slack=0.0, threshold=0.0)
        with pytest.raises(ValueError, match="target"):
            cusum_alarms(
                df, "user", "value", slack=0.0, threshold=1.0, target="median"
            )


class TestKeySkew:
    """r11: key-distribution skew report — the pre-shuffle diagnostic."""

    def test_report_by_hand(self, spark):
        from tundradb_spark.operators.relational import key_skew

        df = spark.createDataFrame(
            [("a",)] * 6 + [("b",)] * 3 + [(None,)] * 1,
            "k string",
        )
        got = [tuple(r) for r in key_skew(df, "k", top_n=2).collect()]
        assert got == [
            (1, "a", False, 6, 0.6, 0.6, 3, 10),
            (2, "b", False, 3, 0.3, 0.9, 3, 10),
        ]

    def test_null_sentinel_and_tie_order(self, spark):
        from tundradb_spark.operators.relational import key_skew

        df = spark.createDataFrame(
            [(None,)] * 2 + [("z",)] * 2 + [("a",)] * 2, "k string")
        got = [(r["rank"], r["key"], r["is_null"])
               for r in key_skew(df, "k").collect()]
        # ties break (is_null ASC, key ASC): real keys first, NULL last
        assert got == [
            (1, "a", False), (2, "z", False), (3, "<null>", True)]

    def test_literal_null_string_is_not_merged_with_nulls(self, spark):
        # r12 ADVICE fix: a genuine '<null>' string key is its own row,
        # distinguishable from actual NULLs by the is_null flag
        from tundradb_spark.operators.relational import key_skew

        df = spark.createDataFrame(
            [("<null>",)] * 3 + [(None,)] * 2, "k string")
        got = {(r["key"], r["is_null"]): r["cnt"]
               for r in key_skew(df, "k").collect()}
        assert got == {("<null>", False): 3, ("<null>", True): 2}

    def test_numeric_keys_stringify(self, spark):
        from tundradb_spark.operators.relational import key_skew

        df = spark.createDataFrame([(7,), (7,), (8,)], "k long")
        got = {r["key"]: r["cnt"] for r in key_skew(df, "k").collect()}
        assert got == {"7": 2, "8": 1}

    def test_validation(self, spark):
        from tundradb_spark.operators.relational import key_skew
        from tundradb_spark.errors import QueryError

        df = spark.createDataFrame([("a",)], "k string")
        with pytest.raises(QueryError):
            key_skew(df, "k", top_n=0)


class TestJoinFanout:
    """r11: exact pre-join cardinality + hot-key contributions."""

    def _t(self, spark, rows, col="k"):
        return spark.createDataFrame([(r,) for r in rows], f"{col} string")

    def test_exact_cardinality_by_hand(self, spark):
        from tundradb_spark.operators.relational import join_fanout

        a = self._t(spark, ["x"] * 3 + ["y"] * 2 + ["only_a"])
        b = self._t(spark, ["x"] * 4 + ["y"] * 1 + ["only_b"])
        got = [tuple(r) for r in join_fanout(a, b, "k", top_n=5).collect()]
        # x: 3*4=12, y: 2*1=2 → est 14; unmatched keys contribute
        # nothing; shares are floor(x*1e6+0.5)/1e6 of 12/14 and 2/14;
        # counts render as STRING (r13: decimal is driver-unhashable)
        assert got == [
            (1, "x", 3, 4, "12", 0.857143, 2, "14"),
            (2, "y", 2, 1, "2", 0.142857, 2, "14"),
        ]

    def test_equals_real_join_count(self, spark):
        from tundradb_spark.operators.relational import join_fanout

        import random
        rnd = random.Random(7)
        a = self._t(spark, [str(rnd.randint(0, 20)) for _ in range(200)])
        b = self._t(spark, [str(rnd.randint(0, 25)) for _ in range(150)],
                    col="j")
        est = join_fanout(a, b, "k", "j", top_n=1).collect()[0]["est_rows"]
        real = a.join(b, a.k == b.j).count()
        assert int(est) == real

    def test_nulls_excluded(self, spark):
        from tundradb_spark.operators.relational import join_fanout

        a = spark.createDataFrame([("x",), (None,)], "k string")
        b = spark.createDataFrame([("x",), (None,), (None,)], "k string")
        got = [tuple(r) for r in join_fanout(a, b, "k").collect()]
        assert len(got) == 1 and got[0][1] == "x" and got[0][7] == "1"

    def test_disjoint_sides_empty_report(self, spark):
        from tundradb_spark.operators.relational import join_fanout

        a = self._t(spark, ["p"])
        b = self._t(spark, ["q"])
        assert join_fanout(a, b, "k").count() == 0


class TestSaltedJoin:
    """r12: skew-mitigated equi-join — result must be EXACTLY the plain
    join (the mitigation half of the key_skew/join_fanout diagnostics)."""

    def _skewed(self, spark):
        # key 'hot' carries 80% of a's rows; b has 3 rows per key
        a = spark.createDataFrame(
            [(i, "hot" if i % 10 < 8 else f"k{i % 10}", i * 1.5)
             for i in range(200)],
            "rid long, k string, v double",
        )
        b = spark.createDataFrame(
            [(k, j) for k in ["hot", "k8", "k9"] for j in range(3)],
            "kk string, payload long",
        )
        return a, b

    def _rows(self, df):
        return sorted(map(tuple, df.collect()))

    def test_inner_equals_plain_join(self, spark):
        from tundradb_spark.operators.relational import salted_join

        a, b = self._skewed(spark)
        plain = a.join(b, a["k"] == b["kk"], "inner")
        salted = salted_join(a, b, "k", "kk", hot_keys=["hot"], salt=4)
        assert self._rows(salted) == self._rows(plain)

    def test_scatter_cols_subset_equals_plain_join(self, spark):
        """r14: routing is salt-invariant, so a caller-chosen scatter
        column subset (the column-pruning mode — the default hashes every
        column and forces a full-width scan) must leave the result
        multiset untouched; the subset still spreads the hot key over
        multiple salts."""
        from tundradb_spark.operators.relational import salted_join

        a, b = self._skewed(spark)
        plain = a.join(b, a["k"] == b["kk"], "inner")
        salted = salted_join(
            a, b, "k", "kk", hot_keys=["hot"], salt=4,
            scatter_cols=["rid"],
        )
        assert self._rows(salted) == self._rows(plain)

    def test_scatter_cols_must_be_subset(self, spark):
        from tundradb_spark.errors import QueryError
        from tundradb_spark.operators.relational import salted_join

        a, b = self._skewed(spark)
        import pytest

        with pytest.raises(QueryError, match="scatter_cols"):
            salted_join(a, b, "k", "kk", hot_keys=["hot"],
                        scatter_cols=["nope"])
        with pytest.raises(QueryError, match="scatter_cols"):
            salted_join(a, b, "k", "kk", hot_keys=["hot"], scatter_cols=[])

    def test_left_keeps_unmatched_once(self, spark):
        from tundradb_spark.operators.relational import salted_join

        a, b = self._skewed(spark)
        plain = a.join(b, a["k"] == b["kk"], "left")
        salted = salted_join(a, b, "k", "kk", how="left",
                             hot_keys=["hot"], salt=8)
        assert self._rows(salted) == self._rows(plain)

    def test_auto_probe_finds_the_hot_key(self, spark):
        from tundradb_spark.operators.relational import salted_join

        a, b = self._skewed(spark)
        plain = a.join(b, a["k"] == b["kk"], "inner")
        # no hot_keys given: one key_skew probe derives {'hot'} (80%)
        salted = salted_join(a, b, "k", "kk", salt=4, min_share=0.5)
        assert self._rows(salted) == self._rows(plain)

    def test_no_hot_keys_degenerates_to_plain_join(self, spark):
        from tundradb_spark.operators.relational import salted_join

        a = spark.createDataFrame(
            [(i, f"k{i}") for i in range(20)], "rid long, k string")
        b = spark.createDataFrame(
            [(f"k{i}", i) for i in range(20)], "kk string, p long")
        out = salted_join(a, b, "k", "kk", min_share=0.5)
        assert out.count() == 20 and "__salt" not in out.columns

    def test_null_keys_pass_through_unsalted(self, spark):
        from tundradb_spark.operators.relational import salted_join

        a = spark.createDataFrame(
            [(1, None), (2, "hot")], "rid long, k string")
        b = spark.createDataFrame(
            [("hot", 7)], "kk string, p long")
        inner = salted_join(a, b, "k", "kk", hot_keys=["hot"], salt=4)
        assert inner.count() == 1
        left = salted_join(a, b, "k", "kk", how="left",
                           hot_keys=["hot"], salt=4)
        assert left.count() == 2  # NULL-key row survives exactly once

    def test_b_side_replicates_hot_keys_only(self, spark):
        from tundradb_spark.operators.relational import salted_join

        a, b = self._skewed(spark)
        out = salted_join(a, b, "k", "kk", hot_keys=["hot"], salt=4)
        # structural check via the plan: b side carries an explode of a
        # 4-element sequence, a side a pmod scatter
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "explode" in plan.lower()

    def test_validation(self, spark):
        from tundradb_spark.errors import QueryError
        from tundradb_spark.operators.relational import salted_join

        a, b = self._skewed(spark)
        with pytest.raises(QueryError):
            salted_join(a, b, "k", "kk", how="full")
        with pytest.raises(QueryError):
            salted_join(a, b, "k", "kk", salt=1)
        with pytest.raises(QueryError):
            salted_join(a, b, "k", "kk", min_share=0.0)
