"""MATCH join semantics, ported from the reference's integration corpus
tests/join_test.cpp (the most important parity suite per SURVEY.md §5)."""

import pytest

from tundradb_spark.query import Query
from tests.conftest import rows_set, setup_join_fixture


@pytest.fixture()
def jdb(db):
    return setup_join_fixture(db)


def test_match_all(jdb):
    # join_test.cpp:97 MatchAll
    df = jdb.query(Query.from_("u:users"))
    assert df.count() == 5
    assert df.columns == ["u.id", "u.name", "u.age"]


def test_user_friend_company_inner_join(jdb):
    # join_test.cpp:112 UserFriendCompanyInnerJoin
    jdb.connect("friend", ("users", 0), ("users", 1))
    jdb.connect("works-at", ("users", 1), ("companies", 1))
    q = (
        Query.from_("u:users")
        .traverse("u", "friend", "f:users", "inner")
        .traverse("f", "works-at", "c:companies", "inner")
    )
    df = jdb.query(q)
    assert rows_set(df, "u.id", "u.name", "f.id", "f.name", "c.id", "c.name") == {
        (0, "alex", 1, "bob", 1, "google")
    }


def test_join_from_same_node(jdb):
    # join_test.cpp:177 JoinFromSameNode
    jdb.connect("friend", ("users", 0), ("users", 1))
    jdb.connect("friend", ("users", 0), ("users", 2))
    df = jdb.query(
        Query.from_("u:users").traverse("u", "friend", "f:users", "inner")
    )
    assert rows_set(df, "u.id", "u.name", "u.age", "f.id", "f.name", "f.age") == {
        (0, "alex", 25, 1, "bob", 31),
        (0, "alex", 25, 2, "jeff", 33),
    }


def test_inner_join_from_same_node_multi_target(jdb):
    # join_test.cpp:248 InnerJoinFromSameNodeMultiTarget — cartesian of the
    # two branches hanging off u
    jdb.connect("friend", ("users", 0), ("users", 1))
    jdb.connect("friend", ("users", 0), ("users", 2))
    jdb.connect("works-at", ("users", 0), ("companies", 1))
    q = (
        Query.from_("u:users")
        .traverse("u", "friend", "f:users", "inner")
        .traverse("u", "works-at", "c:companies", "inner")
    )
    df = jdb.query(q)
    assert rows_set(df, "u.id", "f.id", "c.id", "c.name") == {
        (0, 1, 1, "google"),
        (0, 2, 1, "google"),
    }


def test_empty_result_from_inner_join(jdb):
    # join_test.cpp:423 EmptyResultFromInnerJoin — the last hop kills the
    # whole chain (jeff works nowhere)
    jdb.connect("friend", ("users", 0), ("users", 1))
    jdb.connect("friend", ("users", 1), ("users", 2))
    jdb.connect("works-at", ("users", 1), ("companies", 1))
    q = (
        Query.from_("u:users")
        .traverse("u", "friend", "f1:users", "inner")
        .traverse("f1", "friend", "f2:users", "inner")
        .traverse("f2", "works-at", "c:companies", "inner")
    )
    assert jdb.query(q).count() == 0


def test_multi_path_to_same_target(jdb):
    # join_test.cpp:456 MultiPathToSameTarget
    jdb.connect("friend", ("users", 0), ("users", 1))
    jdb.connect("friend", ("users", 0), ("users", 2))
    jdb.connect("works-at", ("users", 0), ("companies", 0))
    jdb.connect("works-at", ("users", 1), ("companies", 0))
    jdb.connect("works-at", ("users", 2), ("companies", 1))
    q = (
        Query.from_("u:users")
        .traverse("u", "friend", "f:users", "inner")
        .traverse("u", "works-at", "c1:companies", "inner")
        .traverse("f", "works-at", "c2:companies", "inner")
        .where("c1.id", "=", 0)
        .where("c2.id", "=", 0)
    )
    df = jdb.query(q)
    assert rows_set(df, "u.id", "f.id", "c1.id", "c1.name", "c2.id") == {
        (0, 1, 0, "ibm", 0)
    }


def test_cartesian_product_explosion(jdb):
    # join_test.cpp:524 CartesianProductExplosion
    jdb.connect("friend", ("users", 0), ("users", 1))
    jdb.connect("friend", ("users", 0), ("users", 2))
    jdb.connect("friend", ("users", 0), ("users", 3))
    for u, c in [(1, 0), (1, 1), (2, 1), (2, 2), (3, 0), (3, 2)]:
        jdb.connect("works-at", ("users", u), ("companies", c))
    q = (
        Query.from_("u:users")
        .traverse("u", "friend", "f:users", "inner")
        .traverse("f", "works-at", "c:companies", "inner")
    )
    df = jdb.query(q)
    assert df.count() == 6
    assert {r[0] for r in df.select("`c.name`").collect()} == {"ibm", "google", "aws"}


def test_left_join(jdb):
    # join_test.cpp:581 LeftJoin — jeff has no company → NULL padding
    jdb.connect("friend", ("users", 0), ("users", 1))
    jdb.connect("friend", ("users", 0), ("users", 2))
    jdb.connect("works-at", ("users", 1), ("companies", 1))
    q = (
        Query.from_("u:users")
        .traverse("u", "friend", "f:users", "inner")
        .traverse("f", "works-at", "c:companies", "left")
    )
    df = jdb.query(q)
    assert rows_set(df, "u.id", "f.id", "f.name", "c.id", "c.name", "c.size") == {
        (0, 1, "bob", 1, "google", 3000),
        (0, 2, "jeff", None, None, None),
    }


def test_right_join(jdb):
    # join_test.cpp:691 RightJoin — ibm must appear though no friend works
    # there (sam, who works at ibm, is not alex's friend)
    jdb.connect("friend", ("users", 0), ("users", 1))
    jdb.connect("friend", ("users", 0), ("users", 2))
    jdb.connect("works-at", ("users", 1), ("companies", 1))
    jdb.connect("works-at", ("users", 2), ("companies", 2))
    jdb.connect("works-at", ("users", 3), ("companies", 0))
    q = (
        Query.from_("u:users")
        .traverse("u", "friend", "f:users", "inner")
        .traverse("f", "works-at", "c:companies", "right")
    )
    df = jdb.query(q)
    names = {r[0] for r in df.select("`c.name`").collect() if r[0] is not None}
    assert names == {"google", "aws", "ibm"}
    assert rows_set(df, "u.id", "f.id", "c.name") >= {
        (0, 1, "google"),
        (0, 2, "aws"),
        (None, None, "ibm"),
    }


def test_combined_join_types(jdb):
    # join_test.cpp:742 CombinedJoinTypes — LEFT then RIGHT
    jdb.connect("friend", ("users", 0), ("users", 1))
    jdb.connect("friend", ("users", 0), ("users", 2))
    jdb.connect("works-at", ("users", 1), ("companies", 1))
    jdb.connect("works-at", ("users", 4), ("companies", 0))
    q = (
        Query.from_("u:users")
        .traverse("u", "friend", "f:users", "left")
        .traverse("f", "works-at", "c:companies", "right")
    )
    rows = rows_set(jdb.query(q), "u.id", "f.id", "c.id")
    assert (0, 1, 1) in rows  # alex->bob->google
    assert (0, 2, None) in rows  # alex->jeff->NULL (left-join effect)
    assert (None, None, 2) in rows  # aws reached by nobody (right-join effect)


def test_multi_level_left_join(jdb):
    # join_test.cpp:876 MultiLevelLeftJoin — 7 rows, all 5 users as u
    jdb.connect("friend", ("users", 0), ("users", 1))
    jdb.connect("friend", ("users", 0), ("users", 2))
    jdb.connect("friend", ("users", 0), ("users", 3))
    jdb.connect("works-at", ("users", 1), ("companies", 1))
    jdb.connect("likes", ("users", 2), ("companies", 0))
    q = (
        Query.from_("u:users")
        .traverse("u", "friend", "f:users", "left")
        .traverse("f", "works-at", "c:companies", "left")
        .traverse("f", "likes", "l:companies", "left")
    )
    df = jdb.query(q)
    assert df.count() == 7
    u_ids = {r[0] for r in df.select("`u.id`").collect() if r[0] is not None}
    assert u_ids == {0, 1, 2, 3, 4}
    rows = rows_set(df, "u.id", "f.id", "c.id", "l.id")
    assert (0, 1, 1, None) in rows  # alex->bob->google
    assert (0, 2, None, 0) in rows  # alex->jeff->likes ibm


def test_outer_hop_with_descendants_checkpoints_through_materialize(
    jdb, monkeypatch
):
    # the shared live-edge frame of a non-INNER hop whose child has
    # descendants goes through the one checkpoint path, so a session's
    # reliable checkpoint dir applies to it
    from tundradb_spark.operators import match

    calls = []
    materialize = match.materialize

    def recorded(df, *observed, **kwargs):
        calls.append(kwargs)
        return materialize(df, *observed, **kwargs)

    monkeypatch.setattr(match, "materialize", recorded)
    jdb.connect("friend", ("users", 0), ("users", 1))
    jdb.connect("friend", ("users", 0), ("users", 2))
    jdb.connect("friend", ("users", 0), ("users", 3))
    jdb.connect("works-at", ("users", 1), ("companies", 1))
    jdb.connect("likes", ("users", 2), ("companies", 0))
    q = (
        Query.from_("u:users")
        .traverse("u", "friend", "f:users", "left")
        .traverse("f", "works-at", "c:companies", "left")
        .traverse("f", "likes", "l:companies", "left")
    )
    assert jdb.query(q).count() == 7  # as in test_multi_level_left_join
    assert calls and all(c == {"eager": False} for c in calls), calls


def test_self_join_with_left_join(jdb):
    # join_test.cpp:1010 SelfJoinWithLeftJoin — management chains
    jdb.connect("manages", ("users", 0), ("users", 1))
    jdb.connect("manages", ("users", 1), ("users", 2))
    jdb.connect("manages", ("users", 1), ("users", 3))
    q = Query.from_("manager:users").traverse(
        "manager", "manages", "employee:users", "left"
    )
    df = jdb.query(q)
    mgr_ids = {r[0] for r in df.select("`manager.id`").collect() if r[0] is not None}
    assert mgr_ids == {0, 1, 2, 3, 4}
    pairs = rows_set(df, "manager.id", "employee.id")
    assert {(0, 1), (1, 2), (1, 3)} <= pairs


def test_full_outer_join(jdb):
    # join_test.cpp:1127 FullOuterJoin
    jdb.connect("friend", ("users", 0), ("users", 1))
    jdb.connect("friend", ("users", 0), ("users", 2))
    jdb.connect("works-at", ("users", 1), ("companies", 1))
    jdb.connect("works-at", ("users", 4), ("companies", 0))
    q = (
        Query.from_("u:users")
        .traverse("u", "friend", "f:users", "full")
        .traverse("f", "works-at", "c:companies", "full")
    )
    df = jdb.query(q)
    c_names = {r[0] for r in df.select("`c.name`").collect() if r[0] is not None}
    assert c_names == {"ibm", "google", "aws"}
    rows = rows_set(df, "u.id", "f.id", "c.id")
    assert (0, 1, 1) in rows  # alex->bob->google
    assert (0, 2, None) in rows  # alex->jeff->NULL
    assert (None, None, 2) in rows  # aws unmatched target
    # self-join dedup: alex (matched source) must NOT appear as a
    # null-source f row (join.cpp:184-198)
    assert (None, 0, None) not in rows


def test_right_self_join_excludes_matched_sources(jdb):
    # join.cpp:184-230 worked example: friends 0->1, 0->2; sam/matt isolated
    jdb.connect("friends", ("users", 0), ("users", 1))
    jdb.connect("friends", ("users", 0), ("users", 2))
    q = Query.from_("u:users").traverse("u", "friends", "f:users", "right")
    rows = rows_set(jdb.query(q), "u.id", "f.id")
    assert rows == {(0, 1), (0, 2), (None, 3), (None, 4)}


def test_select_projection(jdb):
    # join_test.cpp:1283 SelectClauseFiltering-style
    jdb.connect("friend", ("users", 0), ("users", 1))
    q = (
        Query.from_("u:users")
        .traverse("u", "friend", "f:users", "inner")
        .select("u.name", "f.age")
    )
    df = jdb.query(q)
    assert df.columns == ["u.name", "f.age"]
    assert rows_set(df) == {("alex", 31)}


def test_select_bare_alias(jdb):
    jdb.connect("friend", ("users", 0), ("users", 1))
    q = (
        Query.from_("u:users")
        .traverse("u", "friend", "f:users", "inner")
        .select("f")
    )
    df = jdb.query(q)
    assert df.columns == ["f.id", "f.name", "f.age"]


def test_select_with_as_alias(jdb):
    q = Query.from_("u:users").where("u.id", "=", 0).select("u.name AS username")
    df = jdb.query(q)
    assert df.columns == ["username"]
    assert rows_set(df) == {("alex",)}


def test_where_on_from_alias(jdb):
    df = jdb.query(Query.from_("u:users").where("u.age", ">", 30))
    assert rows_set(df, "u.name") == {("bob",), ("jeff",), ("matt",)}


def test_where_inlined_on_target(jdb):
    # filters on the target restrict matches BEFORE the outer join → sources
    # survive with NULLs (where_expression_test.cpp inlining semantics)
    jdb.connect("friend", ("users", 0), ("users", 1))
    jdb.connect("friend", ("users", 0), ("users", 2))
    q = (
        Query.from_("u:users")
        .traverse("u", "friend", "f:users", "left")
        .where("f.age", ">", 32)
    )
    rows = rows_set(jdb.query(q), "u.id", "f.id")
    assert (0, 2) in rows  # jeff (33) passes
    assert (0, 1) not in rows  # bob (31) filtered out of the match


def test_edge_alias_columns_and_filter(jdb):
    # FIXTURES.md F4: typed edges with properties, edge alias in output
    jdb.create_edge_schema("works_at", {"since": "long", "role": "string"})
    jdb.connect(
        "works_at", ("users", 0), ("companies", 0), {"since": 2020, "role": "eng"}
    )
    jdb.connect(
        "works_at", ("users", 1), ("companies", 0), {"since": 2021, "role": "pm"}
    )
    q = (
        Query.from_("u:users")
        .traverse("u", "e:works_at", "c:companies", "inner")
        .where("e.since", ">=", 2021)
        .select("u.name", "e.since", "e.role", "c.name")
    )
    df = jdb.query(q)
    assert rows_set(df) == {("bob", 2021, "pm", "ibm")}


def test_multi_pattern_closing_edge(jdb):
    # two patterns sharing both aliases: (u)-[:friend]->(f) and
    # (u)-[:coworker]->(f) — intersection semantics
    jdb.connect("friend", ("users", 0), ("users", 1))
    jdb.connect("friend", ("users", 0), ("users", 2))
    jdb.connect("coworker", ("users", 0), ("users", 1))
    q = (
        Query.from_("u:users")
        .traverse("u", "friend", "f:users", "inner")
        .traverse("u", "coworker", "f:users", "inner")
    )
    rows = rows_set(jdb.query(q), "u.id", "f.id")
    assert rows == {(0, 1)}


def test_null_safe_equality(jdb):
    # reference: NULL = NULL is true (query.cpp:84-96)
    jdb.create_schema("things", {"tag": "string"})
    jdb.create_node("things", tag=None)
    jdb.create_node("things", tag="x")
    df = jdb.query(Query.from_("t:things").where("t.tag", "=", None))
    assert rows_set(df, "t.id") == {(0,)}
    df2 = jdb.query(Query.from_("t:things").where("t.tag", "!=", None))
    assert rows_set(df2, "t.id") == {(1,)}


def test_where_and_or_parentheses(jdb):
    # where_expression_test.cpp:206 precedence
    from tundradb_spark.query import where as W

    expr = (W("u.age", ">", 30) & W("u.age", "<", 40)) | W("u.name", "=", "sam")
    df = jdb.query(Query.from_("u:users").where(expr))
    assert rows_set(df, "u.name") == {("bob",), ("jeff",), ("sam",)}


def test_string_ops(jdb):
    # CONTAINS/STARTS_WITH/ENDS_WITH implemented correctly (the reference's
    # vectorized path degrades them to equality — do NOT replicate, SURVEY F7)
    df = jdb.query(Query.from_("u:users").where("u.name", "contains", "e"))
    assert rows_set(df, "u.name") == {("alex",), ("jeff",)}
    df = jdb.query(Query.from_("u:users").where("u.name", "starts_with", "ma"))
    assert rows_set(df, "u.name") == {("matt",)}
    df = jdb.query(Query.from_("u:users").where("u.name", "ends_with", "m"))
    assert rows_set(df, "u.name") == {("sam",)}


def test_single_hop_outer_plan_is_native_join_and_row_equal(jdb):
    # r14 optimization: a non-INNER traverse whose child subtree has no
    # further descendants compiles to ONE native left join instead of the
    # matched ∪ no-connection union (same rows — "no connection" is defined
    # against the child base table, which IS the subtree in the single-hop
    # case).  Pins both the plan shape (no Union; parent scanned once) and
    # the row set next to the union-shape quirk tests above.
    jdb.connect("friend", ("users", 0), ("users", 1))
    jdb.connect("works-at", ("users", 1), ("companies", 1))
    q = (
        Query.from_("u:users")
        .traverse("u", "works-at", "c:companies", "left")
    )
    df = jdb.query(q)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in plan
    assert rows_set(df, "u.id", "c.id") == {
        (0, None), (1, 1), (2, None), (3, None), (4, None),
    }
    # multi-level left (deeper subtree) keeps the union shape — the
    # reference's BFS-skip semantics require it (test_multi_level_left_join
    # pins its rows; here we pin that the rewrite did NOT fire)
    q2 = (
        Query.from_("u:users")
        .traverse("u", "friend", "f:users", "left")
        .traverse("f", "works-at", "c:companies", "left")
    )
    plan2 = jdb.query(q2)._jdf.queryExecution().executedPlan().toString()
    assert "Union" in plan2
