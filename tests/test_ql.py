"""TundraQL front-end tests (parser + interpreter), modeled on the
reference's script tests (test_scripts/*.sql + TEST.MD expectations)."""

import pytest

from tundradb_spark.errors import QueryError
from tundradb_spark.ql.parser import parse_statement, split_statements
from tundradb_spark.ql import ast
from tests.conftest import rows_set


@pytest.fixture()
def qldb(db):
    """The reference TEST.MD fixture: 4 users, 2 FRIEND edges, built purely
    through TundraQL statements."""
    for stmt in [
        'CREATE SCHEMA User (name: STRING, age: INT64);',
        'CREATE SCHEMA Company (name: STRING);',
        'CREATE EDGE SCHEMA WORKS_AT (role: STRING, since: INT64);',
        'CREATE NODE User (name = "alice", age = 30);',
        'CREATE NODE User (name = "bob", age = 25);',
        'CREATE NODE User (name = "carol", age = 41);',
        'CREATE NODE User (name = "dave", age = 19);',
        'CREATE NODE Company (name = "acme");',
        'CREATE EDGE FRIEND FROM User(0) TO User(1);',
        'CREATE EDGE FRIEND FROM User(2) TO User(3);',
        'CREATE EDGE WORKS_AT FROM User(0) TO Company(0) '
        'WITH (role = "eng", since = 2020);',
    ]:
        db.sql(stmt)
    return db


class TestParser:
    def test_split_statements(self):
        s = 'CREATE NODE A (x = "a;b");\n// comment; with semi\nCOMMIT;'
        parts = split_statements(s)
        assert len(parts) == 2
        assert parts[0] == 'CREATE NODE A (x = "a;b");'
        assert parts[1] == "COMMIT;"

    def test_create_schema_types(self):
        st = parse_statement(
            "CREATE SCHEMA T (a: STRING, b: INT64, c: FLOAT64, d: MAP);"
        )
        assert st.fields == {"a": "string", "b": "long", "c": "double", "d": "map"}

    def test_match_pattern_joins(self):
        st = parse_statement(
            "MATCH (u:User)-[e:FRIEND LEFT]->(f:User) WHERE u.age > 30 "
            "SELECT u.name, f.name AS friend;"
        )
        assert isinstance(st, ast.Match)
        hop = st.hops[0]
        assert (hop.edge_alias, hop.edge_type, hop.join_type) == ("e", "FRIEND", "left")
        assert st.select == [("u.name", None), ("f.name", "friend")]

    def test_reversed_edge(self):
        st = parse_statement("MATCH (c:Company)<-[:WORKS_AT]-(u:User);")
        hop = st.hops[0]
        assert hop.reversed and hop.source.alias == "c" and hop.target.alias == "u"

    def test_where_precedence(self):
        st = parse_statement(
            'MATCH (u:User) WHERE u.a = 1 OR u.b = 2 AND u.c = 3;'
        )
        # OR binds loosest: (a=1) OR ((b=2) AND (c=3))
        assert st.where.op == "OR"
        assert st.where.right.op == "AND"

    def test_parenthesized_where(self):
        st = parse_statement(
            'MATCH (u:User) WHERE (u.a = 1 OR u.b = 2) AND u.c = 3;'
        )
        assert st.where.op == "AND"
        assert st.where.left.op == "OR"

    def test_map_literal_value(self):
        st = parse_statement(
            'CREATE NODE User (name = "x", props = {role = "admin", lvl = 3});'
        )
        assert st.props["props"] == {"role": "admin", "lvl": 3}

    def test_field_to_field_rejected(self):
        with pytest.raises(QueryError):
            parse_statement("MATCH (u:User) WHERE u.a = u.b;")

    def test_swapped_literal_comparison(self):
        st = parse_statement("MATCH (u:User) WHERE 30 < u.age;")
        assert st.where.op.value == ">"
        assert st.where.value == 30

    def test_match_tail_extensions_parse(self):
        st = parse_statement(
            "MATCH (u:User) AS OF 1500 TX 99 WHERE u.age > 20 "
            "SELECT u.name AS who "
            "GROUP BY u.name AGG count(*) AS n, avg(u.age) AS mean_age "
            "ORDER BY n DESC, u.name LIMIT 5;"
        )
        assert (st.as_of_vt, st.as_of_tt) == (1500, 99)
        assert st.group_by == ["u.name"]
        assert st.aggs == [("count", "*", "n"), ("avg", "u.age", "mean_age")]
        assert st.order_by == [("n", False), ("u.name", True)]
        assert st.limit == 5

    def test_group_by_requires_agg(self):
        with pytest.raises(QueryError, match="AGG"):
            parse_statement("MATCH (u:User) GROUP BY u.name;")

    def test_as_of_requires_int(self):
        with pytest.raises(QueryError, match="AS OF"):
            parse_statement('MATCH (u:User) AS OF "yesterday";')

    def test_limit_rejects_negative(self):
        with pytest.raises(QueryError, match="LIMIT"):
            parse_statement("MATCH (u:User) LIMIT -1;")


class TestInterpreter:
    def test_match_inner(self, qldb):
        df = qldb.sql("MATCH (u:User)-[:FRIEND]->(f:User) SELECT u.name, f.name;")
        assert rows_set(df) == {("alice", "bob"), ("carol", "dave")}

    def test_match_left_join_nulls(self, qldb):
        df = qldb.sql(
            "MATCH (u:User)-[:FRIEND LEFT]->(f:User) SELECT u.name, f.name;"
        )
        assert rows_set(df) == {
            ("alice", "bob"),
            ("carol", "dave"),
            ("bob", None),
            ("dave", None),
        }

    def test_match_where_and_or(self, qldb):
        df = qldb.sql(
            'MATCH (u:User) WHERE u.age > 20 AND u.age < 40 OR u.name = "carol" '
            "SELECT u.name;"
        )
        assert rows_set(df) == {("alice",), ("bob",), ("carol",)}

    def test_reversed_edge_semantics(self, qldb):
        df = qldb.sql(
            "MATCH (c:Company)<-[:WORKS_AT]-(u:User) SELECT c.name, u.name;"
        )
        assert rows_set(df) == {("acme", "alice")}

    def test_edge_props_in_output(self, qldb):
        df = qldb.sql(
            "MATCH (u:User)-[w:WORKS_AT]->(c:Company) "
            "SELECT u.name, w.role, w.since;"
        )
        assert rows_set(df) == {("alice", "eng", 2020)}

    def test_select_as_alias(self, qldb):
        df = qldb.sql("MATCH (u:User) WHERE u.age > 40 SELECT u.name AS who;")
        assert df.columns == ["who"]
        assert rows_set(df) == {("carol",)}

    def test_create_node_return_id(self, qldb):
        out = qldb.sql('CREATE NODE User (name = "eve", age = 55) RETURN id;')
        assert [r.id for r in out.collect()] == [4]

    def test_select_distinct_text(self, qldb):
        df = qldb.sql(
            "MATCH (u:User)-[:FRIEND LEFT]->(f:User) SELECT DISTINCT u.age "
            "ORDER BY u.age;"
        )
        assert [r[0] for r in df.collect()] == [19, 25, 30, 41]

    def test_order_by_limit_text(self, qldb):
        df = qldb.sql(
            "MATCH (u:User) SELECT u.name AS who, u.age AS age "
            "ORDER BY u.age DESC LIMIT 2;"
        )
        assert [(r.who, r.age) for r in df.collect()] == [
            ("carol", 41), ("alice", 30),
        ]

    def test_global_agg_text(self, qldb):
        df = qldb.sql("MATCH (u:User) WHERE u.age > 20 AGG count(*) AS n, "
                      "max(u.age) AS oldest;")
        assert [tuple(r) for r in df.collect()] == [(3, 41)]

    def test_median_agg_text(self, qldb):
        # ages 30, 25, 41, 19 -> median 27.5
        df = qldb.sql("MATCH (u:User) AGG median(u.age) AS mid;")
        assert [r.mid for r in df.collect()] == [27.5]

    def test_group_by_agg_order_text(self, qldb):
        df = qldb.sql(
            "MATCH (u:User)-[:FRIEND LEFT]->(f:User) "
            "GROUP BY u.name AGG count(f.id) AS n_friends "
            "ORDER BY n_friends DESC, u.name LIMIT 3;"
        )
        assert [tuple(r) for r in df.collect()] == [
            ("alice", 1), ("carol", 1), ("bob", 0),
        ]

    def test_as_of_text(self, spark):
        from tundradb_spark.database import Database
        from tundradb_spark.temporal import MockClock

        db = Database(spark, versioning=True, clock=MockClock(1000))
        db.sql("CREATE SCHEMA acct (bal: FLOAT64);")
        db.sql("CREATE NODE acct (bal = 10.0);")
        db.clock.advance(1000)
        db.update_by_id("acct", 0, {"bal": 20.0})
        before = db.sql("MATCH (a:acct) AS OF 1500 SELECT a.bal AS bal;")
        after = db.sql("MATCH (a:acct) AS OF 2500 SELECT a.bal AS bal;")
        assert [r.bal for r in before.collect()] == [10.0]
        assert [r.bal for r in after.collect()] == [20.0]

    def test_update_by_id(self, qldb):
        qldb.sql('UPDATE User(1) SET age = 26, name = "bobby";')
        df = qldb.sql("MATCH (u:User) WHERE u.id = 1 SELECT u.name, u.age;")
        assert rows_set(df) == {("bobby", 26)}

    def test_update_by_pattern_where(self, qldb):
        qldb.sql('UPDATE (u:User) SET u.age = 100 WHERE u.age < 20;')
        df = qldb.sql("MATCH (u:User) WHERE u.age = 100 SELECT u.name;")
        assert rows_set(df) == {("dave",)}

    def test_update_by_match_edge_props(self, qldb):
        qldb.sql(
            'UPDATE MATCH (u:User)-[w:WORKS_AT]->(c:Company) '
            'SET w.role = "mgr" WHERE u.name = "alice";'
        )
        df = qldb.sql(
            "MATCH (u:User)-[w:WORKS_AT]->(c:Company) SELECT u.name, w.role;"
        )
        assert rows_set(df) == {("alice", "mgr")}

    def test_delete_by_id(self, qldb):
        qldb.sql("DELETE User(3);")
        df = qldb.sql("MATCH (u:User) SELECT u.name;")
        assert ("dave",) not in rows_set(df)

    def test_delete_by_pattern_where(self, qldb):
        qldb.sql('DELETE (u:User) WHERE u.age < 20;')
        df = qldb.sql("MATCH (u:User) SELECT u.name;")
        assert rows_set(df) == {("alice",), ("bob",), ("carol",)}

    def test_delete_edges_from(self, qldb):
        qldb.sql("DELETE EDGE FRIEND FROM User(0);")
        df = qldb.sql("MATCH (u:User)-[:FRIEND]->(f:User) SELECT u.name;")
        assert rows_set(df) == {("carol",)}

    def test_show_edge_types(self, qldb):
        df = qldb.sql("SHOW EDGE TYPES;")
        assert rows_set(df) == {("FRIEND", 2), ("WORKS_AT", 1)}

    def test_show_edges(self, qldb):
        df = qldb.sql("SHOW EDGES FRIEND;")
        assert df.count() == 2
        assert {"id", "source_id", "target_id", "created_ts"} <= set(df.columns)

    def test_property_selector_edge(self, qldb):
        qldb.sql(
            'CREATE EDGE FRIEND FROM (User{name = "alice"}) TO (User{name = "carol"});'
        )
        df = qldb.sql("MATCH (u:User)-[:FRIEND]->(f:User) SELECT u.name, f.name;")
        assert ("alice", "carol") in rows_set(df)

    def test_unique_edge_violation(self, qldb):
        with pytest.raises(QueryError):
            qldb.sql(
                'CREATE UNIQUE EDGE FRIEND FROM (User{age = 30}) TO (User{age = 25});'
            )
            # age=30 matches alice only — ok; make a many-match case
            qldb.sql('CREATE UNIQUE EDGE FRIEND FROM (User{}) TO User(0);')

    def test_path_delete_is_stub(self, qldb):
        with pytest.raises(QueryError, match="not yet implemented"):
            qldb.sql("DELETE (u:User)-[:FRIEND]->(f:User);")

    def test_multi_pattern_shared_alias(self, qldb):
        # second pattern re-uses f by alias only
        df = qldb.sql(
            "MATCH (u:User)-[:FRIEND]->(f:User), (f)-[:WORKS_AT LEFT]->(c:Company) "
            "SELECT u.name, f.name, c.name;"
        )
        assert rows_set(df) == {("alice", "bob", None), ("carol", "dave", None)}


class TestQLSemiAnti:
    """SEMI/ANTI join keywords — engine extension beyond the reference
    grammar (antlr/TundraQL.g4:88 has only INNER/LEFT/RIGHT/FULL)."""

    def test_semi_hop(self, qldb):
        df = qldb.sql("MATCH (u:User)-[:FRIEND SEMI]->(f:User) SELECT u.name;")
        names = {r[0] for r in df.collect()}
        full = qldb.sql(
            "MATCH (u:User)-[:FRIEND]->(f:User) SELECT u.name;"
        )
        assert names == {r[0] for r in full.collect()}
        assert df.columns == ["u.name"]

    def test_anti_hop(self, qldb):
        semi = {
            r[0]
            for r in qldb.sql(
                "MATCH (u:User)-[:FRIEND SEMI]->(f:User) SELECT u.name;"
            ).collect()
        }
        anti = {
            r[0]
            for r in qldb.sql(
                "MATCH (u:User)-[:FRIEND ANTI]->(f:User) SELECT u.name;"
            ).collect()
        }
        everyone = {
            r[0] for r in qldb.sql("MATCH (u:User) SELECT u.name;").collect()
        }
        assert semi | anti == everyone and not (semi & anti)


def test_shell_script_continue_on_error(db):
    # reference script mode (SCRIPT_EXECUTION_FEATURE.md): execution
    # continues past individual failures and reports statistics
    from tundradb_spark.ql.shell import run_script, unique_db_path

    script = (
        'CREATE SCHEMA SU (name: STRING);\n'
        'THIS IS NOT TUNDRAQL;\n'
        'CREATE SCHEMA SV (name: STRING);'
    )
    failures = run_script(db, script)
    assert failures == 1
    assert db.has_schema("SU") and db.has_schema("SV")
    # --stop-on-error opts back into abort-on-first-failure
    script2 = 'ALSO NOT TUNDRAQL;\nCREATE SCHEMA SW (name: STRING);'
    assert run_script(db, script2, stop_on_error=True) == 1
    assert not db.has_schema("SW")
    assert unique_db_path(None).startswith("./test-db_")
    assert unique_db_path("/tmp/x").startswith("/tmp/x_")


def test_shell_completer(db):
    # tab-completion over keywords + schema/edge names, mirroring the
    # reference's linenoise completions (apps/tundra_shell.cpp:1860-1954)
    from tundradb_spark.ql.shell import make_completer

    db.create_schema("person", {"name": "string"})
    db.create_edge_schema("KNOWS", {})
    comp = make_completer(db)

    def all_matches(prefix):
        out, i = [], 0
        while (m := comp(prefix, i)) is not None:
            out.append(m)
            i += 1
        return out

    assert "SELECT" in all_matches("sel")
    assert all_matches("per") == ["person"]
    assert all_matches("KNO") == ["KNOWS"]
    assert "MATCH" in all_matches("")  # empty buffer: top-level commands
    assert all_matches("zzz") == []


def test_shell_context_completion_and_hints(db):
    # r8: context-aware completion branches + syntax hints, the reference's
    # completionCallback/hintsCallback parity (apps/tundra_shell.cpp:
    # 1860-1954) with real catalog names instead of hard-coded examples
    from tundradb_spark.ql.shell import completion_candidates, hint_for

    db.create_schema("person", {"name": "string"})
    db.create_edge_schema("KNOWS", {})

    # after CREATE: statement kinds + schema names
    got = completion_candidates("CREATE ", "", db)
    assert "SCHEMA" in got and "NODE" in got and "person" in got
    # after DELETE EDGE / SHOW EDGES: edge types only
    assert completion_candidates("DELETE EDGE ", "", db) == ["KNOWS"]
    assert completion_candidates("SHOW EDGES KN", "KN", db) == ["KNOWS"]
    assert completion_candidates("SHOW ", "", db) == ["EDGES", "EDGE TYPES"]
    # empty buffer: top-level commands, not the flat keyword pool
    assert "AS" not in completion_candidates("", "", db)
    # hints fire at exact syntax points only (reference semantics)
    assert hint_for("CREATE ") == "SCHEMA|NODE|EDGE"
    assert hint_for("MATCH ") == "(node1)-[rel]->(node2)"
    assert hint_for("MATCH (u") is None


class TestExplain:
    def test_explain_match_returns_physical_plan(self, qldb):
        from tundradb_spark.ql.interpreter import execute_statement

        out = execute_statement(
            qldb, 'EXPLAIN MATCH (u:User) WHERE u.age > 25 SELECT u.name'
        )
        text = "\n".join(r["plan"] for r in out.collect())
        assert "Scan" in text or "LocalTableScan" in text
        assert out.columns == ["plan"]

    def test_explain_requires_match(self, db):
        from tundradb_spark.errors import QueryError
        from tundradb_spark.ql.interpreter import execute_statement

        with pytest.raises(QueryError):
            execute_statement(db, "EXPLAIN SHOW EDGE TYPES")


class TestApproxDistinctAgg:
    def test_ql_approx_distinct(self, db):
        from tests.conftest import setup_join_fixture

        from tundradb_spark.ql.interpreter import execute_statement

        setup_join_fixture(db)
        out = execute_statement(
            db,
            'MATCH (u:users) GROUP BY u.age '
            'AGG approx_distinct(u.name) AS n_names, count(*) AS n '
            'ORDER BY u.age ASC;'
        )
        rows = {r["u.age"]: r for r in out.collect()}
        # fixture names are unique per user: estimate == exact count here
        for age, r in rows.items():
            assert r["n_names"] == r["n"]


def test_ql_nested_path_over_variant(spark):
    # r7: the QL text surface shares match.py's type-dispatched compile
    # path, so VARIANT property access works through MATCH text too
    from pyspark.sql import functions as F

    from tundradb_spark import Database
    from tundradb_spark.ql.interpreter import execute_statement

    ev = spark.createDataFrame(
        [(1, '{"k": 69}'), (2, '{"k": "hi"}'), (3, '{"k": 95}')],
        "id long, j string",
    ).select("id", F.parse_json("j").alias("props"))
    db = Database(spark)
    db.register_node_table("ev", ev, "id", resume_counter=False)
    res = execute_statement(
        db, "MATCH (e:ev) WHERE e.props.k > 90 SELECT e.id AS id;"
    )
    assert sorted(r["id"] for r in res.collect()) == [3]


class TestQLAnalytics:
    """FUNNEL / RETENTION statements — the analytics family on the text
    surface (r8 verdict item 8), value-checked against the operators
    they front."""

    def test_funnel_parse(self):
        st = parse_statement(
            "FUNNEL ON events STEPS 'view', 'click', 'purchase' "
            "USER uid TS at TYPE kind WITHIN 1000;"
        )
        assert isinstance(st, ast.Funnel)
        assert st.table == "events"
        assert st.steps == ("view", "click", "purchase")
        assert (st.user_col, st.ts_col, st.type_col) == ("uid", "at", "kind")
        assert st.within_us == 1000

    def test_funnel_defaults(self):
        st = parse_statement("FUNNEL ON events STEPS 'a', 'b';")
        assert (st.user_col, st.ts_col, st.type_col) == (
            "user_id", "ts", "event_type")
        assert st.within_us is None

    def test_retention_parse(self):
        st = parse_statement(
            "RETENTION ON events PERIOD 10000000 MAX OFFSET 7;")
        assert isinstance(st, ast.Retention)
        assert st.period_us == 10_000_000
        assert st.max_offset == 7

    def test_retention_bad_max(self):
        with pytest.raises(QueryError):
            parse_statement("RETENTION ON events MAX 7;")

    def test_funnel_executes_like_operator(self, db, spark):
        from tundradb_spark.operators.analytics import funnel

        ev = spark.createDataFrame(
            [
                (0, 1, 1_000_000, "view"), (1, 1, 2_000_000, "click"),
                (2, 2, 1_500_000, "view"),
                (3, 3, 9_000_000, "click"),  # never views
            ],
            "row_id long, user_id long, ts_ns long, event_type string",
        )
        db.register_node_table("ev_tbl", ev, "row_id", resume_counter=False)
        got = rows_set(
            db.sql(
                "FUNNEL ON ev_tbl STEPS 'view', 'click' TS ts_ns;"
            ).select("step_idx", "step", "n_users", "conversion")
        )
        want = rows_set(
            funnel(db.get_table("ev_tbl"), ["view", "click"], ts_col="ts_ns")
        )
        assert got == want
        assert (2, "click", 1, 0.5) in got

    def test_retention_executes_like_operator(self, db, spark):
        from tundradb_spark.operators.analytics import cohort_retention

        ev = spark.createDataFrame(
            [
                (0, 1, 1_000_000_000), (1, 1, 11_000_000_000),
                (2, 2, 2_000_000_000), (3, 2, 22_000_000_000),
            ],
            "row_id long, user_id long, ts long",
        )
        db.register_node_table("ev_tbl2", ev, "row_id", resume_counter=False)
        got = rows_set(
            db.sql("RETENTION ON ev_tbl2 PERIOD 10000000 MAX OFFSET 3;"))
        want = rows_set(
            cohort_retention(
                db.get_table("ev_tbl2"), period_us=10_000_000, max_offset=3))
        assert got == want

    def test_hints_cover_analytics(self):
        from tundradb_spark.ql.shell import hint_for

        assert "STEPS" in hint_for("FUNNEL ")
        assert "PERIOD" in hint_for("RETENTION ")


class TestQLAnalyticsR9b:
    """OUTLIERS / CUSUM / NGRAMS statements — the rest of the analytics
    family on the text surface."""

    def test_outliers_parse(self):
        st = parse_statement(
            "OUTLIERS ON events GROUP kind VALUE v ID eid Z 2.5;")
        assert isinstance(st, ast.Outliers)
        assert (st.group_col, st.value_col, st.id_col, st.z) == (
            "kind", "v", "eid", 2.5)

    def test_cusum_parse_and_required_clauses(self):
        st = parse_statement(
            "CUSUM ON events SLACK 20 THRESHOLD 200.5 KEY uid TIEBREAK eid;")
        assert isinstance(st, ast.Cusum)
        assert (st.slack, st.threshold, st.key_col, st.tiebreak_col) == (
            20.0, 200.5, "uid", "eid")
        with pytest.raises(QueryError):
            parse_statement("CUSUM ON events SLACK 20;")

    def test_ngrams_parse(self):
        st = parse_statement(
            "NGRAMS ON events N 2 MIN 3 TOP 10 TIEBREAK eid;")
        assert isinstance(st, ast.Ngrams)
        assert (st.n, st.min_count, st.top_n, st.tiebreak_col) == (
            2, 3, 10, "eid")

    def test_outliers_executes_like_operator(self, db, spark):
        from tundradb_spark.operators.analytics import value_outliers

        ev = spark.createDataFrame(
            [(0, "a", 1.0), (1, "a", 1.0), (2, "a", 1.0), (3, "a", 100.0)],
            "event_id long, event_type string, value double",
        )
        db.register_node_table("ev_out", ev, "event_id", resume_counter=False)
        got = rows_set(db.sql("OUTLIERS ON ev_out ID id Z 1.5;"))
        want = rows_set(
            value_outliers(db.get_table("ev_out"), id_col="id",
                           z_threshold=1.5))
        assert got == want and got  # non-empty: the 100.0 is an outlier

    def test_ngrams_executes_like_operator(self, db, spark):
        from tundradb_spark.operators.analytics import event_ngrams

        ev = spark.createDataFrame(
            [(0, 1, 1_000_000, "A"), (1, 1, 2_000_000, "B"),
             (2, 1, 3_000_000, "A"), (3, 1, 4_000_000, "B")],
            "row_id long, user_id long, ts_ns long, event_type string",
        )
        db.register_node_table("ev_ng", ev, "row_id", resume_counter=False)
        got = rows_set(db.sql("NGRAMS ON ev_ng N 2 TS ts_ns;"))
        want = rows_set(
            event_ngrams(db.get_table("ev_ng"), n=2, ts_col="ts_ns"))
        assert got == want
        assert ("A>B", 2, 1) in got

    def test_cusum_executes_like_operator(self, db, spark):
        from tundradb_spark.operators.relational import cusum_alarms

        ev = spark.createDataFrame(
            [(0, 1, 1_000_000, 10.0), (1, 1, 2_000_000, 500.0),
             (2, 1, 3_000_000, 500.0)],
            "row_id long, user_id long, ts_ns long, value double",
        )
        db.register_node_table("ev_cu", ev, "row_id", resume_counter=False)
        got = rows_set(
            db.sql("CUSUM ON ev_cu SLACK 1 THRESHOLD 50 TS ts_ns;"))
        want = rows_set(
            cusum_alarms(db.get_table("ev_cu"), "user_id", "value",
                         slack=1.0, threshold=50.0, ts_col="ts_ns"))
        assert got == want

    def test_hints_cover_new_statements(self):
        from tundradb_spark.ql.shell import hint_for

        assert "SLACK" in hint_for("CUSUM ")
        assert "Z" in hint_for("OUTLIERS ")
        assert "TOP" in hint_for("NGRAMS ")


class TestQLAnalyticsR10:
    """MARKOV / SIMILARITY statements (r9 verdict item 7) — closes the
    shell asymmetry: every seated analytics operator now has a TundraQL
    statement."""

    def test_markov_parse(self):
        st = parse_statement(
            "MARKOV ON events USER uid TS t TYPE kind TIEBREAK eid MIN 2;")
        assert isinstance(st, ast.Markov)
        assert (st.user_col, st.ts_col, st.type_col,
                st.tiebreak_col, st.min_count) == (
            "uid", "t", "kind", "eid", 2)

    def test_markov_defaults(self):
        st = parse_statement("MARKOV ON events;")
        assert (st.user_col, st.ts_col, st.type_col,
                st.tiebreak_col, st.min_count) == (
            "user_id", "ts", "event_type", "event_id", 1)

    def test_similarity_parse(self):
        st = parse_statement(
            "SIMILARITY ON EDGES follows MIN 2 MAXDEG 50 EXCLUDE ADJACENT;")
        assert isinstance(st, ast.Similarity)
        assert st.edges and st.min_common == 2 and st.max_degree == 50
        assert not st.include_adjacent and st.src is None
        st2 = parse_statement("SIMILARITY ON pairs SRC a DST b;")
        assert not st2.edges and (st2.src, st2.dst) == ("a", "b")

    def test_markov_executes_like_operator(self, db, spark):
        from tundradb_spark.operators.analytics import markov_transitions

        ev = spark.createDataFrame(
            [(0, 1, 1_000_000, "A"), (1, 1, 2_000_000, "B"),
             (2, 1, 3_000_000, "A"), (3, 2, 1_000_000, "A"),
             (4, 2, 2_000_000, "B")],
            "event_id long, user_id long, ts_ns long, event_type string",
        )
        db.register_node_table("ev_mk", ev, "event_id", resume_counter=False)
        got = rows_set(db.sql("MARKOV ON ev_mk TS ts_ns TIEBREAK id;"))
        want = rows_set(
            markov_transitions(db.get_table("ev_mk"), ts_col="ts_ns",
                               tiebreak_col="id"))
        assert got == want
        # u1: A->B->A, u2: A->B — A's outgoing total is 2 (both to B)
        assert got == {("A", "B", 2, 2, 1.0), ("B", "A", 1, 1, 1.0)}

    def test_similarity_executes_like_operator(self, db, spark):
        from tundradb_spark.graphs.algorithms import neighborhood_similarity

        # triangle 1-2-3 plus a pendant 4 on 1
        pairs = spark.createDataFrame(
            [(0, 1, 2), (1, 2, 3), (2, 1, 3), (3, 1, 4)],
            "row_id long, id_a long, id_b long",
        )
        db.register_node_table("pairs_ns", pairs, "row_id",
                               resume_counter=False)
        got = rows_set(db.sql("SIMILARITY ON pairs_ns;"))
        want = rows_set(neighborhood_similarity(db.get_table("pairs_ns")))
        assert got == want and got

    def test_similarity_on_edges(self, qldb):
        # qldb has WORKS_AT edges between Users and Companies — the
        # statement must reach the edge table through the same accessor
        got = rows_set(qldb.sql("SIMILARITY ON EDGES WORKS_AT;"))
        want = rows_set(
            __import__(
                "tundradb_spark.graphs.algorithms",
                fromlist=["neighborhood_similarity"],
            ).neighborhood_similarity(
                qldb.get_edge_table("WORKS_AT"),
                src="source_id", dst="target_id",
            )
        )
        assert got == want

    def test_hints_and_completions_cover_r10(self):
        from tundradb_spark.ql.shell import hint_for

        assert "TIEBREAK" in hint_for("MARKOV ")
        assert "MAXDEG" in hint_for("SIMILARITY ")


class TestQLAnalyticsR10b:
    """OUTLIERS ROBUST + COOCCURRENCE statements — the r10 operators on
    the text surface, value-checked against the operators they front."""

    def test_outliers_robust_parse(self):
        st = parse_statement(
            "OUTLIERS ON events GROUP kind VALUE v ROBUST K 4.0;")
        assert isinstance(st, ast.Outliers)
        assert st.robust and st.k == 4.0 and st.group_col == "kind"

    def test_outliers_robust_default_k(self):
        st = parse_statement("OUTLIERS ON events ROBUST;")
        assert st.robust and st.k == 3.5 and st.z == 3.0

    def test_outliers_k_without_robust_rejected(self):
        with pytest.raises(QueryError):
            parse_statement("OUTLIERS ON events K 4.0;")

    def test_cooccurrence_parse(self):
        st = parse_statement(
            "COOCCURRENCE ON events USER uid TYPE kind MIN 2 TOP 10 CAP 50;")
        assert isinstance(st, ast.Cooccurrence)
        assert (st.user_col, st.type_col, st.min_users, st.top_n,
                st.max_types_per_user) == ("uid", "kind", 2, 10, 50)

    def test_cooccurrence_defaults(self):
        st = parse_statement("COOCCURRENCE ON events;")
        assert (st.user_col, st.type_col, st.min_users, st.top_n,
                st.max_types_per_user) == (
            "user_id", "event_type", 1, None, None)

    def test_robust_outliers_executes_like_operator(self, db, spark):
        from tundradb_spark.operators.analytics import robust_outliers

        ev = spark.createDataFrame(
            [(i, "A", float(v)) for i, v in
             enumerate([1, 2, 3, 4, 100], 1)],
            "event_id long, event_type string, value double",
        )
        db.register_node_table("ev_ro", ev, "event_id", resume_counter=False)
        got = rows_set(db.sql("OUTLIERS ON ev_ro ID id ROBUST K 3.5;"))
        want = rows_set(robust_outliers(db.get_table("ev_ro"), id_col="id", k=3.5))
        assert got == want and len(got) == 1

    def test_cooccurrence_executes_like_operator(self, db, spark):
        from tundradb_spark.operators.analytics import event_cooccurrence

        ev = spark.createDataFrame(
            [(0, 1, "A"), (1, 1, "B"), (2, 2, "A"), (3, 2, "B"),
             (4, 3, "A")],
            "row_id long, user_id long, event_type string",
        )
        db.register_node_table("ev_co", ev, "row_id", resume_counter=False)
        got = rows_set(db.sql("COOCCURRENCE ON ev_co MIN 2;"))
        want = rows_set(
            event_cooccurrence(db.get_table("ev_co"), min_users=2))
        assert got == want
        assert [(r[0], r[1], r[2]) for r in sorted(got)] == [("A", "B", 2)]

    def test_hints_and_completions(self):
        from tundradb_spark.ql.shell import hint_for

        assert "ROBUST" in hint_for("OUTLIERS ")
        assert "CAP" in hint_for("COOCCURRENCE ")


class TestQLWinsorize:
    def test_parse_and_defaults(self):
        st = parse_statement(
            "WINSORIZE ON events GROUP kind VALUE v PLO 0.05 PHI 0.95;")
        assert isinstance(st, ast.Winsorize)
        assert (st.group_col, st.value_col, st.p_lo, st.p_hi) == (
            "kind", "v", 0.05, 0.95)
        st2 = parse_statement("WINSORIZE ON events;")
        assert (st2.p_lo, st2.p_hi) == (0.01, 0.99)

    def test_bad_band_rejected(self):
        with pytest.raises(QueryError):
            parse_statement("WINSORIZE ON events PLO 0.9 PHI 0.1;")

    def test_executes_like_operator(self, db, spark):
        from tundradb_spark.operators.analytics import winsorize

        ev = spark.createDataFrame(
            [(i, "A", float(i)) for i in range(1, 11)],
            "event_id long, event_type string, value double",
        )
        db.register_node_table("ev_wz", ev, "event_id", resume_counter=False)
        got = rows_set(db.sql("WINSORIZE ON ev_wz ID id PLO 0.2 PHI 0.8;"))
        want = rows_set(
            winsorize(db.get_table("ev_wz"), id_col="id",
                      p_lo=0.2, p_hi=0.8))
        assert got == want and len(got) == 10

    def test_hint(self):
        from tundradb_spark.ql.shell import hint_for

        assert "PLO" in hint_for("WINSORIZE ")


class TestQLBenford:
    def test_parse(self):
        st = parse_statement("BENFORD ON events GROUP kind VALUE v MIN 50;")
        assert isinstance(st, ast.Benford)
        assert (st.group_col, st.value_col, st.min_n) == ("kind", "v", 50)
        st2 = parse_statement("BENFORD ON events;")
        assert (st2.group_col, st2.value_col, st2.min_n) == (
            "event_type", "value", 100)

    def test_executes_like_operator(self, db, spark):
        from tundradb_spark.operators.analytics import benford_deviation

        ev = spark.createDataFrame(
            [(i, "A", float(100 + i)) for i in range(60)]
            + [(100 + i, "A", float(900 + i)) for i in range(40)],
            "row_id long, event_type string, value double",
        )
        db.register_node_table("ev_bf", ev, "row_id", resume_counter=False)
        got = rows_set(db.sql("BENFORD ON ev_bf MIN 50;"))
        want = rows_set(benford_deviation(db.get_table("ev_bf"), min_n=50))
        assert got == want and len(got) == 1

    def test_hint(self):
        from tundradb_spark.ql.shell import hint_for

        assert "MIN" in hint_for("BENFORD ")


class TestQLCalibration:
    """r11: CALIBRATION statement — the shell surface for
    pipeline.classify.calibration_bins (r10 verdict item 6)."""

    def test_parse_and_defaults(self):
        st = parse_statement(
            "CALIBRATION ON preds PROB p LABEL y BINS 5;")
        assert isinstance(st, ast.Calibration)
        assert (st.table, st.prob_col, st.label_col, st.n_bins) == (
            "preds", "p", "y", 5)
        st2 = parse_statement("CALIBRATION ON preds;")
        assert (st2.prob_col, st2.label_col, st2.n_bins) == (
            "prob", "label", 10)

    def test_bad_bins_rejected(self):
        with pytest.raises(QueryError):
            parse_statement("CALIBRATION ON preds BINS 0;")

    def test_executes_like_operator(self, db, spark):
        from tundradb_spark.pipeline.classify import calibration_bins

        preds = spark.createDataFrame(
            [(i, i / 10.0, i >= 5) for i in range(11)],
            "row_id long, p double, y boolean",
        )
        db.register_node_table(
            "preds_cal", preds, "row_id", resume_counter=False)
        got = rows_set(
            db.sql("CALIBRATION ON preds_cal PROB p LABEL y BINS 5;"))
        want = rows_set(calibration_bins(
            db.get_table("preds_cal"), "p", "y", n_bins=5))
        assert got == want and len(got) == 5

    def test_hint_and_completion(self):
        from tundradb_spark.ql.shell import COMPLETION_KEYWORDS, hint_for

        assert "BINS" in hint_for("CALIBRATION ")
        assert "CALIBRATION" in COMPLETION_KEYWORDS


class TestQLRrf:
    """r11: RRF statement — the shell surface for
    pipeline.text.rrf_fuse (r10 verdict item 6)."""

    def test_parse_and_defaults(self):
        st = parse_statement(
            "RRF ON bm WITH ann K 10 TOP 3 QUERY q ID d SCORE s;")
        assert isinstance(st, ast.Rrf)
        assert (st.table_a, st.table_b, st.k, st.top_n) == (
            "bm", "ann", 10, 3)
        assert (st.query_col, st.id_col, st.score_col) == ("q", "d", "s")
        st2 = parse_statement("RRF ON bm WITH ann;")
        assert (st2.k, st2.top_n, st2.query_col, st2.id_col,
                st2.score_col) == (60, None, "query_id", "doc_id", "score")

    def test_bad_args_rejected(self):
        with pytest.raises(QueryError):
            parse_statement("RRF ON bm WITH ann K 0;")
        with pytest.raises(QueryError):
            parse_statement("RRF ON bm;")  # missing WITH operand

    def test_executes_like_operator(self, db, spark):
        from tundradb_spark.pipeline.text import rrf_fuse

        a = spark.createDataFrame(
            [(0, 1, 10, 5.0), (1, 1, 11, 4.0), (2, 2, 10, 1.0)],
            "row_id long, query_id long, doc_id long, score double",
        )
        b = spark.createDataFrame(
            [(0, 1, 11, 9.0), (1, 1, 12, 2.0)],
            "row_id long, query_id long, doc_id long, score double",
        )
        db.register_node_table("rank_a", a, "row_id", resume_counter=False)
        db.register_node_table("rank_b", b, "row_id", resume_counter=False)
        got = rows_set(db.sql("RRF ON rank_a WITH rank_b K 60 TOP 5;"))
        want = rows_set(rrf_fuse(
            db.get_table("rank_a"), db.get_table("rank_b"),
            k=60, top_n=5))
        assert got == want and len(got) == 4

    def test_hint_and_completion(self):
        from tundradb_spark.ql.shell import COMPLETION_KEYWORDS, hint_for

        assert "WITH" in hint_for("RRF ")
        assert "RRF" in COMPLETION_KEYWORDS


class TestQLDrift:
    """r11: DRIFT statement — the shell surface for
    operators.analytics.distribution_drift."""

    def test_parse_and_defaults(self):
        st = parse_statement(
            "DRIFT ON today WITH baseline GROUP g VALUE v LO 1 HI 9 "
            "BINS 4 MIN 2 EPS 0.001;")
        assert isinstance(st, ast.Drift)
        assert (st.cur, st.ref, st.group_col, st.value_col) == (
            "today", "baseline", "g", "v")
        assert (st.lo, st.hi, st.n_bins, st.min_n, st.eps) == (
            1.0, 9.0, 4, 2, 0.001)
        st2 = parse_statement("DRIFT ON today WITH baseline;")
        assert (st2.group_col, st2.value_col, st2.lo, st2.hi,
                st2.n_bins, st2.min_n, st2.eps) == (
            "event_type", "value", 0.0, 1000.0, 10, 100, 1e-6)

    def test_bad_args_rejected(self):
        with pytest.raises(QueryError):
            parse_statement("DRIFT ON today WITH baseline BINS 0;")
        with pytest.raises(QueryError):
            parse_statement("DRIFT ON today WITH baseline MIN 0;")
        with pytest.raises(QueryError):
            parse_statement("DRIFT ON today;")  # missing WITH operand

    def test_executes_like_operator(self, db, spark):
        from tundradb_spark.operators.analytics import distribution_drift

        ref = spark.createDataFrame(
            [(i, "A", float(i % 10)) for i in range(40)],
            "row_id long, event_type string, value double",
        )
        cur = spark.createDataFrame(
            [(i, "A", float(i % 5)) for i in range(40)],
            "row_id long, event_type string, value double",
        )
        db.register_node_table("dr_ref", ref, "row_id",
                               resume_counter=False)
        db.register_node_table("dr_cur", cur, "row_id",
                               resume_counter=False)
        got = rows_set(db.sql(
            "DRIFT ON dr_cur WITH dr_ref LO 0 HI 10 BINS 5 MIN 10;"))
        want = rows_set(distribution_drift(
            db.get_table("dr_ref"), db.get_table("dr_cur"),
            bounds=(0.0, 10.0), n_bins=5, min_n=10))
        assert got == want and len(got) == 1

    def test_hint_and_completion(self):
        from tundradb_spark.ql.shell import COMPLETION_KEYWORDS, hint_for

        assert "WITH" in hint_for("DRIFT ")
        assert "DRIFT" in COMPLETION_KEYWORDS


class TestQLDiff:
    """r11: DIFF statement — the shell surface for
    pipeline.dedup.corpus_diff / corpus_diff_summary."""

    def test_parse_and_defaults(self):
        st = parse_statement("DIFF ON crawl2 WITH crawl1 ID id TEXT body;")
        assert isinstance(st, ast.Diff)
        assert (st.new, st.old, st.id_col, st.text_col) == (
            "crawl2", "crawl1", "id", "body")
        assert (st.include_unchanged, st.summary) == (False, False)
        st2 = parse_statement("DIFF ON crawl2 WITH crawl1 ALL;")
        assert st2.include_unchanged is True
        st3 = parse_statement("DIFF ON crawl2 WITH crawl1 SUMMARY;")
        assert st3.summary is True

    def test_bad_args_rejected(self):
        with pytest.raises(QueryError):
            parse_statement("DIFF ON crawl2;")  # missing WITH operand

    def test_executes_like_operator(self, db, spark):
        from tundradb_spark.pipeline.dedup import (
            corpus_diff,
            corpus_diff_summary,
        )

        schema = "row_id long, doc_id long, text string"
        old = spark.createDataFrame(
            [(0, 1, "a"), (1, 2, "b"), (2, 3, "c")], schema)
        new = spark.createDataFrame(
            [(0, 2, "b"), (1, 3, "c2"), (2, 4, "d")], schema)
        db.register_node_table("crawl1", old, "row_id",
                               resume_counter=False)
        db.register_node_table("crawl2", new, "row_id",
                               resume_counter=False)
        got = rows_set(db.sql("DIFF ON crawl2 WITH crawl1;"))
        want = rows_set(corpus_diff(
            db.get_table("crawl1"), db.get_table("crawl2")))
        assert got == want and len(got) == 3
        gsum = rows_set(db.sql("DIFF ON crawl2 WITH crawl1 SUMMARY;"))
        wsum = rows_set(corpus_diff_summary(
            db.get_table("crawl1"), db.get_table("crawl2")))
        assert gsum == wsum

    def test_hint_and_completion(self):
        from tundradb_spark.ql.shell import COMPLETION_KEYWORDS, hint_for

        assert "SUMMARY" in hint_for("DIFF ")
        assert "DIFF" in COMPLETION_KEYWORDS


class TestQLTokenDrift:
    """r11: TOKENDRIFT statement — the shell surface for
    pipeline.text.token_drift."""

    def test_parse_and_defaults(self):
        st = parse_statement("TOKENDRIFT ON crawl2 WITH crawl1 TEXT body;")
        assert isinstance(st, ast.TokenDrift)
        assert (st.cur, st.ref, st.text_col) == ("crawl2", "crawl1", "body")
        st2 = parse_statement("TOKENDRIFT ON crawl2 WITH crawl1;")
        assert st2.text_col == "text"
        with pytest.raises(QueryError):
            parse_statement("TOKENDRIFT ON crawl2;")  # missing WITH

    def test_executes_like_operator(self, db, spark):
        from tundradb_spark.pipeline.text import token_drift

        schema = "row_id long, text string"
        ref = spark.createDataFrame(
            [(0, "a a a b"), (1, "b c")], schema)
        cur = spark.createDataFrame([(0, "a a c c")], schema)
        db.register_node_table("td_ref", ref, "row_id",
                               resume_counter=False)
        db.register_node_table("td_cur", cur, "row_id",
                               resume_counter=False)
        got = rows_set(db.sql("TOKENDRIFT ON td_cur WITH td_ref;"))
        want = rows_set(token_drift(
            db.get_table("td_ref"), db.get_table("td_cur")))
        assert got == want and len(got) == 1

    def test_hint_and_completion(self):
        from tundradb_spark.ql.shell import COMPLETION_KEYWORDS, hint_for

        assert "WITH" in hint_for("TOKENDRIFT ")
        assert "TOKENDRIFT" in COMPLETION_KEYWORDS


class TestQLSkewFanout:
    """r11: SKEW and FANOUT statements — the shell surface for the
    join-safety diagnostics (relational.key_skew / join_fanout)."""

    def test_parse_and_defaults(self):
        st = parse_statement("SKEW ON events KEY user_id TOP 5;")
        assert isinstance(st, ast.Skew)
        assert (st.table, st.key_col, st.top_n) == ("events", "user_id", 5)
        assert parse_statement("SKEW ON events KEY t;").top_n == 20
        fo = parse_statement(
            "FANOUT ON lineitem WITH orders KEY l_orderkey "
            "KEYB o_orderkey TOP 3;")
        assert isinstance(fo, ast.Fanout)
        assert (fo.table_a, fo.table_b, fo.key_a, fo.key_b, fo.top_n) == (
            "lineitem", "orders", "l_orderkey", "o_orderkey", 3)
        fo2 = parse_statement("FANOUT ON a WITH b KEY k;")
        assert (fo2.key_b, fo2.top_n) == (None, 10)

    def test_bad_args_rejected(self):
        with pytest.raises(QueryError):
            parse_statement("SKEW ON events KEY k TOP 0;")
        with pytest.raises(QueryError):
            parse_statement("SKEW ON events;")  # KEY required
        with pytest.raises(QueryError):
            parse_statement("FANOUT ON a WITH b;")  # KEY required

    def test_execute_like_operators(self, db, spark):
        from tundradb_spark.operators.relational import (
            join_fanout,
            key_skew,
        )

        a = spark.createDataFrame(
            [(0, "x"), (1, "x"), (2, "y")], "row_id long, k string")
        b = spark.createDataFrame(
            [(0, "x"), (1, "z")], "row_id long, j string")
        db.register_node_table("sk_a", a, "row_id", resume_counter=False)
        db.register_node_table("sk_b", b, "row_id", resume_counter=False)
        got = rows_set(db.sql("SKEW ON sk_a KEY k TOP 5;"))
        want = rows_set(key_skew(db.get_table("sk_a"), "k", top_n=5))
        assert got == want
        gf = rows_set(db.sql("FANOUT ON sk_a WITH sk_b KEY k KEYB j;"))
        wf = rows_set(join_fanout(
            db.get_table("sk_a"), db.get_table("sk_b"), "k", "j"))
        assert gf == wf and len(gf) == 1

    def test_hints_and_completions(self):
        from tundradb_spark.ql.shell import COMPLETION_KEYWORDS, hint_for

        assert "KEY" in hint_for("SKEW ")
        assert "KEYB" in hint_for("FANOUT ")
        assert "SKEW" in COMPLETION_KEYWORDS
        assert "FANOUT" in COMPLETION_KEYWORDS


class TestQLTrend:
    """r11: TREND statement — the shell surface for
    operators.analytics.value_trend."""

    def test_parse_and_defaults(self):
        st = parse_statement(
            "TREND ON events EPOCH 1704067200000000 GROUP g VALUE v "
            "TS t MIN 5;")
        assert isinstance(st, ast.Trend)
        assert (st.table, st.epoch_us, st.group_col, st.value_col,
                st.ts_col, st.min_n) == (
            "events", 1704067200000000, "g", "v", "t", 5)
        st2 = parse_statement("TREND ON events EPOCH 0;")
        assert (st2.group_col, st2.value_col, st2.ts_col, st2.min_n) == (
            "event_type", "value", "ts", 100)

    def test_epoch_required(self):
        with pytest.raises(QueryError, match="EPOCH"):
            parse_statement("TREND ON events;")
        with pytest.raises(QueryError):
            parse_statement("TREND ON events EPOCH 0 MIN 0;")

    def test_executes_like_operator(self, db, spark):
        from tundradb_spark.operators.analytics import value_trend

        day = 86_400 * 1_000_000_000
        rows = [(i, "A", 10.0 + 2.0 * d, d * day)
                for i, d in enumerate(range(5))]
        ev = spark.createDataFrame(
            rows, "row_id long, event_type string, value double, ts long")
        db.register_node_table("tr_ev", ev, "row_id",
                               resume_counter=False)
        got = rows_set(db.sql("TREND ON tr_ev EPOCH 0 MIN 1;"))
        want = rows_set(value_trend(
            db.get_table("tr_ev"), epoch_us=0, min_n=1))
        assert got == want and len(got) == 1

    def test_hint_and_completion(self):
        from tundradb_spark.ql.shell import COMPLETION_KEYWORDS, hint_for

        assert "EPOCH" in hint_for("TREND ")
        assert "TREND" in COMPLETION_KEYWORDS


class TestQLDiffCols:
    """r11: DIFF … COLS — the shell surface for pipeline.dedup.row_diff
    (the schema-agnostic form of the DIFF statement)."""

    def test_parse(self):
        st = parse_statement(
            "DIFF ON crawl2 WITH crawl1 ID k COLS a, b, c;")
        assert isinstance(st, ast.Diff)
        assert (st.id_col, st.cols) == ("k", ("a", "b", "c"))
        assert parse_statement("DIFF ON n WITH o;").cols is None
        with pytest.raises(QueryError, match="SUMMARY"):
            parse_statement("DIFF ON n WITH o COLS a SUMMARY;")

    def test_executes_like_operator(self, db, spark):
        from tundradb_spark.pipeline.dedup import row_diff

        schema = "row_id long, k long, a string, b long"
        old = spark.createDataFrame(
            [(0, 1, "x", 10), (1, 2, "y", 20)], schema)
        new = spark.createDataFrame(
            [(0, 1, "x", 99), (1, 3, "z", 30)], schema)
        db.register_node_table("rd_old", old, "row_id",
                               resume_counter=False)
        db.register_node_table("rd_new", new, "row_id",
                               resume_counter=False)
        got = rows_set(db.sql("DIFF ON rd_new WITH rd_old ID k COLS a, b;"))
        want = rows_set(row_diff(
            db.get_table("rd_old"), db.get_table("rd_new"),
            "k", ["a", "b"]))
        assert got == want and len(got) == 3

    def test_hint(self):
        from tundradb_spark.ql.shell import hint_for

        assert "COLS" in hint_for("DIFF ")


class TestQLDiffColsDtypeContract:
    """r12: DIFF … COLS surfaces row_diff's dtype rejection as a
    statement-level QueryError (the shell catches QueryError; a bare
    ValueError would crash script mode instead of counting a failure)."""

    def test_float_column_is_statement_error(self, db, spark):
        from tundradb_spark.errors import QueryError

        t = spark.createDataFrame(
            [(0, 1, 1.5)], "row_id long, k long, v double")
        db.register_node_table("dc_old", t, "row_id",
                               resume_counter=False)
        db.register_node_table("dc_new", t, "row_id",
                               resume_counter=False)
        with pytest.raises(QueryError, match="DIFF COLS.*decimal"):
            db.sql("DIFF ON dc_new WITH dc_old ID k COLS v;")

    def test_script_mode_counts_failure_and_continues(self, db, spark):
        from tundradb_spark.ql.shell import run_script

        t = spark.createDataFrame(
            [(0, 1, 1.5, "a")], "row_id long, k long, v double, s string")
        db.register_node_table("dc2_old", t, "row_id",
                               resume_counter=False)
        db.register_node_table("dc2_new", t, "row_id",
                               resume_counter=False)
        script = ("DIFF ON dc2_new WITH dc2_old ID k COLS v;\n"
                  "DIFF ON dc2_new WITH dc2_old ID k COLS s;")
        assert run_script(db, script) == 1  # fails, then continues


class TestQLQuality:
    """r12: QUALITY statement — the shell surface for the learned
    linear quality filter (pipeline.classify.lr_score with a frozen
    weight table)."""

    def test_parse_and_defaults(self):
        st = parse_statement(
            "QUALITY ON docs WITH w BUCKETS 64 ID k TEXT body UNIGRAMS;")
        assert isinstance(st, ast.Quality)
        assert (st.table, st.weights, st.n_buckets, st.id_col,
                st.text_col, st.bigrams) == (
            "docs", "w", 64, "k", "body", False)
        st2 = parse_statement("QUALITY ON docs WITH w;")
        assert (st2.n_buckets, st2.id_col, st2.text_col,
                st2.bigrams) == (256, "doc_id", "text", True)

    def test_bad_args_rejected(self):
        with pytest.raises(QueryError):
            parse_statement("QUALITY ON docs WITH w BUCKETS 1;")
        with pytest.raises(QueryError):
            parse_statement("QUALITY ON docs WITH w BUCKETS 8192;")
        with pytest.raises(QueryError):
            parse_statement("QUALITY ON docs;")  # WITH required

    def test_executes_like_operator(self, db, spark):
        from tundradb_spark.pipeline.classify import lr_score

        docs = spark.createDataFrame(
            [(0, 1, "good detailed analysis"), (1, 2, "click click buy")],
            "row_id long, k long, text string",
        )
        w = spark.createDataFrame(
            [(0, -1, 0.5)] + [(b + 1, b, 0.01 * (b % 5)) for b in range(16)],
            "row_id long, bucket long, weight double",
        )
        db.register_node_table("qd", docs, "row_id", resume_counter=False)
        db.register_node_table("qw", w, "row_id", resume_counter=False)
        got = rows_set(db.sql("QUALITY ON qd WITH qw BUCKETS 16 ID k;"))
        want = rows_set(lr_score(
            db.get_table("qd"), db.get_table("qw"),
            id_col="k", n_buckets=16))
        assert got == want and len(got) == 2

    def test_thresholds_parse(self):
        st = parse_statement(
            "QUALITY ON docs WITH w THRESHOLDS LABEL y BINS 20;")
        assert (st.label_col, st.n_bins) == ("y", 20)
        st2 = parse_statement("QUALITY ON docs WITH w THRESHOLDS LABEL y;")
        assert (st2.label_col, st2.n_bins) == ("y", 10)
        assert parse_statement("QUALITY ON docs WITH w;").label_col is None
        with pytest.raises(QueryError):  # BINS needs THRESHOLDS
            parse_statement("QUALITY ON docs WITH w BINS 5;")
        with pytest.raises(QueryError):
            parse_statement(
                "QUALITY ON docs WITH w THRESHOLDS LABEL y BINS 0;")
        with pytest.raises(QueryError):  # LABEL required
            parse_statement("QUALITY ON docs WITH w THRESHOLDS;")

    def test_thresholds_label_collision_rejected(self, db, spark):
        # a label column named like a scorer output (or the id) would
        # make the internal join ambiguous — refused at the QL level
        docs = spark.createDataFrame(
            [(0, 1, "text body", 1)],
            "row_id long, k long, text string, prob int",
        )
        w = spark.createDataFrame(
            [(0, -1, 0.5)], "row_id long, bucket long, weight double")
        db.register_node_table("qcd", docs, "row_id", resume_counter=False)
        db.register_node_table("qcw", w, "row_id", resume_counter=False)
        with pytest.raises(QueryError, match="collides"):
            db.sql("QUALITY ON qcd WITH qcw ID k THRESHOLDS LABEL prob;")
        with pytest.raises(QueryError, match="collides"):
            db.sql("QUALITY ON qcd WITH qcw ID k THRESHOLDS LABEL k;")

    def test_thresholds_executes_like_operator(self, db, spark):
        from tundradb_spark.pipeline.classify import (
            lr_score, precision_thresholds,
        )

        docs = spark.createDataFrame(
            [(0, 1, "good detailed analysis", 1),
             (1, 2, "click click buy", 0),
             (2, 3, "careful measured report", 1)],
            "row_id long, k long, text string, y int",
        )
        w = spark.createDataFrame(
            [(0, -1, 0.5)] + [(b + 1, b, 0.01 * (b % 5)) for b in range(16)],
            "row_id long, bucket long, weight double",
        )
        db.register_node_table("qtd", docs, "row_id", resume_counter=False)
        db.register_node_table("qtw", w, "row_id", resume_counter=False)
        got = rows_set(db.sql(
            "QUALITY ON qtd WITH qtw BUCKETS 16 ID k"
            " THRESHOLDS LABEL y BINS 4;"))
        scored = lr_score(db.get_table("qtd"), db.get_table("qtw"),
                          id_col="k", n_buckets=16)
        want = rows_set(precision_thresholds(
            scored.join(db.get_table("qtd").select("k", "y"), "k"),
            "prob", "y", n_bins=4))
        assert got == want and len(got) == 4

    def test_hint_and_completion(self):
        from tundradb_spark.ql.shell import COMPLETION_KEYWORDS, hint_for

        assert "WITH" in hint_for("QUALITY ")
        assert "THRESHOLDS" in hint_for("QUALITY ")
        assert "QUALITY" in COMPLETION_KEYWORDS


class TestQLGates:
    """r13: GATES statement — the shell surface for the gate-attrition
    funnel (pipeline.recipe.gate_funnel)."""

    def test_parse_and_defaults(self):
        st = parse_statement(
            "GATES ON docs GROUP source TEXT body MAXREP 0.3"
            " WITH w BUCKETS 64 MIN 0.7 UNIGRAMS;")
        assert isinstance(st, ast.Gates)
        assert (st.table, st.group_col, st.text_col, st.max_bigram_rep,
                st.weights, st.n_buckets, st.min_quality, st.bigrams) == (
            "docs", "source", "body", 0.3, "w", 64, 0.7, False)
        st2 = parse_statement("GATES ON docs;")
        assert (st2.group_col, st2.text_col, st2.max_bigram_rep,
                st2.weights) == ("lang", "text", 0.5, None)

    def test_bad_args_rejected(self):
        with pytest.raises(QueryError):  # quality knobs need WITH
            parse_statement("GATES ON docs MIN 0.7;")
        with pytest.raises(QueryError):
            parse_statement("GATES ON docs BUCKETS 64;")
        with pytest.raises(QueryError):
            parse_statement("GATES ON docs UNIGRAMS;")
        # presence-tracked (r13 review fix): typing the DEFAULT value
        # without WITH is the same forgot-the-weights mistake
        with pytest.raises(QueryError):
            parse_statement("GATES ON docs MIN 0.5;")
        with pytest.raises(QueryError):
            parse_statement("GATES ON docs BUCKETS 256;")
        with pytest.raises(QueryError):
            parse_statement("GATES ON docs MAXREP 1.5;")
        with pytest.raises(QueryError):
            parse_statement("GATES ON docs WITH w BUCKETS 1;")

    def test_executes_like_operator(self, db, spark):
        from tundradb_spark.pipeline.recipe import gate_funnel

        docs = spark.createDataFrame(
            [(0, "good detailed analysis", "en"),
             (1, "mail@example.com spam", "en"),
             (2, "spam spam spam spam spam spam", "de"),
             (3, "ordinary boring sentence here", "de")],
            "row_id long, text string, lang string",
        )
        w = spark.createDataFrame(
            [(0, -1, 0.5)] + [(b + 1, b, 0.01 * (b % 5)) for b in range(16)],
            "row_id long, bucket long, weight double",
        )
        db.register_node_table("gfd", docs, "row_id", resume_counter=False)
        db.register_node_table("gfw", w, "row_id", resume_counter=False)
        got = rows_set(db.sql(
            "GATES ON gfd WITH gfw BUCKETS 16 MIN 0.6;"))
        weights = [(r["bucket"], r["weight"]) for r in w.select(
            "bucket", "weight").collect()]
        want = rows_set(gate_funnel(
            db.get_table("gfd"), quality_weights=weights,
            min_quality=0.6, n_quality_buckets=16))
        assert got == want and got
        plain = rows_set(db.sql("GATES ON gfd;"))
        assert plain == rows_set(gate_funnel(db.get_table("gfd")))

    def test_hint_and_completion(self):
        from tundradb_spark.ql.shell import COMPLETION_KEYWORDS, hint_for

        assert "MAXREP" in hint_for("GATES ")
        assert "GATES" in COMPLETION_KEYWORDS


class TestQLReport:
    """r14: REPORT statement — the shell surface for the curation run
    report v2 (pipeline.recipe.curation_report)."""

    def test_parse_and_defaults(self):
        st = parse_statement(
            "REPORT ON docs GROUP source TEXT body ID rid MAXREP 0.3"
            " WITH w BUCKETS 64 MIN 0.7 UNIGRAMS"
            " LABELED lab LABEL y PRECISION 0.8 BINS 20"
            " SPLIT part PAIRS dup SRC a DST b;")
        assert isinstance(st, ast.Report)
        assert (st.table, st.group_col, st.text_col, st.id_col,
                st.max_bigram_rep, st.weights, st.n_buckets,
                st.min_quality, st.bigrams) == (
            "docs", "source", "body", "rid", 0.3, "w", 64, 0.7, False)
        assert (st.labeled, st.label_col, st.target_precision,
                st.calibration_bins) == ("lab", "y", 0.8, 20)
        assert (st.split_col, st.pairs, st.pair_src, st.pair_dst) == (
            "part", "dup", "a", "b")
        st2 = parse_statement("REPORT ON docs;")
        assert (st2.group_col, st2.weights, st2.labeled,
                st2.split_col) == ("lang", None, None, None)

    def test_bad_args_rejected(self):
        with pytest.raises(QueryError):  # quality knobs need WITH
            parse_statement("REPORT ON docs MIN 0.7;")
        with pytest.raises(QueryError):  # LABELED needs WITH
            parse_statement(
                "REPORT ON docs LABELED lab PRECISION 0.5;")
        with pytest.raises(QueryError):  # LABELED and PRECISION pair
            parse_statement("REPORT ON docs WITH w LABELED lab;")
        with pytest.raises(QueryError):
            parse_statement("REPORT ON docs WITH w PRECISION 0.5;")
        with pytest.raises(QueryError):  # SPLIT and PAIRS pair
            parse_statement("REPORT ON docs SPLIT part;")
        with pytest.raises(QueryError):
            parse_statement("REPORT ON docs PAIRS dup;")
        with pytest.raises(QueryError):  # PRECISION domain
            parse_statement(
                "REPORT ON docs WITH w LABELED lab PRECISION 1.5;")
        with pytest.raises(QueryError):
            parse_statement("REPORT ON docs MAXREP 1.5;")
        # r14 review fix: orphan clauses die loudly instead of being
        # silently dropped
        with pytest.raises(QueryError):
            parse_statement("REPORT ON docs LABEL y;")
        with pytest.raises(QueryError):
            parse_statement("REPORT ON docs WITH w BINS 20;")
        with pytest.raises(QueryError):
            parse_statement("REPORT ON docs SRC a DST b;")

    def test_executes_like_operator(self, db, spark):
        from tundradb_spark.pipeline.recipe import curation_report

        docs = spark.createDataFrame(
            [(0, "good detailed analysis", "en", "train"),
             (1, "mail@example.com spam", "en", "val"),
             (2, "spam spam spam spam spam spam", "de", "train"),
             (3, "ordinary boring sentence here", "de", "val"),
             (4, "ordinary boring sentence here", "de", "train")],
            "row_id long, text string, lang string, part string",
        )
        pairs = spark.createDataFrame(
            [(0, 3, 4)], "row_id long, id_a long, id_b long")
        db.register_node_table("crd", docs, "row_id",
                               resume_counter=False)
        db.register_node_table("crp", pairs, "row_id",
                               resume_counter=False)
        # register_node_table exposes the registration key as `id`
        got = rows_set(db.sql(
            "REPORT ON crd ID id SPLIT part PAIRS crp;"))
        want = rows_set(curation_report(
            db.get_table("crd"), id_col="id",
            dup_pairs=db.get_table("crp"), split_col="part"))
        assert got == want and got
        # the leak channel surfaced
        assert any(r[0] == "leakage" for r in got)

    def test_hint_and_completion(self):
        from tundradb_spark.ql.shell import COMPLETION_KEYWORDS, hint_for

        assert "LABELED" in hint_for("REPORT ")
        assert "REPORT" in COMPLETION_KEYWORDS


# Two statements per extension: the bare form and one giving every clause
# (DIFF adds its SUMMARY form, which excludes COLS).  The expected ASTs
# were produced by the per-statement hand-written parser this grammar
# replaced; they pin every clause keyword, value type and default.
CLAUSE_CORPUS = [
    (
        "FUNNEL ON ev STEPS 'view', click;",
        ast.Funnel(
            table="ev", steps=("view", "click"), user_col="user_id",
            ts_col="ts", type_col="event_type", within_us=None,
        ),
    ),
    (
        "FUNNEL ON ev STEPS 'view', 'buy' USER uid TS at TYPE kind WITHIN "
        "1000;",
        ast.Funnel(
            table="ev", steps=("view", "buy"), user_col="uid", ts_col="at",
            type_col="kind", within_us=1000,
        ),
    ),
    (
        "RETENTION ON ev;",
        ast.Retention(
            table="ev", user_col="user_id", ts_col="ts",
            period_us=86400000000, max_offset=None,
        ),
    ),
    (
        "RETENTION ON ev USER uid TS at PERIOD 3600 MAX OFFSET 7;",
        ast.Retention(
            table="ev", user_col="uid", ts_col="at", period_us=3600,
            max_offset=7,
        ),
    ),
    (
        "OUTLIERS ON ev;",
        ast.Outliers(
            table="ev", group_col="event_type", value_col="value",
            id_col="event_id", z=3.0, robust=False, k=3.5,
        ),
    ),
    (
        "OUTLIERS ON ev GROUP g VALUE v ID eid Z 2.5 ROBUST K 4.5;",
        ast.Outliers(
            table="ev", group_col="g", value_col="v", id_col="eid", z=2.5,
            robust=True, k=4.5,
        ),
    ),
    (
        "CUSUM ON ev SLACK 1 THRESHOLD 20.5;",
        ast.Cusum(
            table="ev", slack=1.0, threshold=20.5, key_col="user_id",
            value_col="value", ts_col="ts", tiebreak_col=None,
        ),
    ),
    (
        "CUSUM ON ev SLACK 1.5 THRESHOLD 20 KEY k VALUE v TS at TIEBREAK eid;",
        ast.Cusum(
            table="ev", slack=1.5, threshold=20.0, key_col="k",
            value_col="v", ts_col="at", tiebreak_col="eid",
        ),
    ),
    (
        "MARKOV ON ev;",
        ast.Markov(
            table="ev", user_col="user_id", ts_col="ts",
            type_col="event_type", tiebreak_col="event_id", min_count=1,
        ),
    ),
    (
        "MARKOV ON ev USER uid TS at TYPE kind TIEBREAK eid MIN 2;",
        ast.Markov(
            table="ev", user_col="uid", ts_col="at", type_col="kind",
            tiebreak_col="eid", min_count=2,
        ),
    ),
    (
        "SIMILARITY ON pairs;",
        ast.Similarity(
            table="pairs", edges=False, src=None, dst=None, min_common=1,
            max_degree=None, include_adjacent=True,
        ),
    ),
    (
        "SIMILARITY ON EDGES follows SRC a DST b MIN 2 MAXDEG 50 EXCLUDE "
        "ADJACENT;",
        ast.Similarity(
            table="follows", edges=True, src="a", dst="b", min_common=2,
            max_degree=50, include_adjacent=False,
        ),
    ),
    (
        "COOCCURRENCE ON ev;",
        ast.Cooccurrence(
            table="ev", user_col="user_id", type_col="event_type",
            min_users=1, top_n=None, max_types_per_user=None,
        ),
    ),
    (
        "COOCCURRENCE ON ev USER uid TYPE kind MIN 2 TOP 10 CAP 50;",
        ast.Cooccurrence(
            table="ev", user_col="uid", type_col="kind", min_users=2,
            top_n=10, max_types_per_user=50,
        ),
    ),
    (
        "WINSORIZE ON ev;",
        ast.Winsorize(
            table="ev", group_col="event_type", value_col="value",
            id_col="event_id", p_lo=0.01, p_hi=0.99,
        ),
    ),
    (
        "WINSORIZE ON ev GROUP g VALUE v ID eid PLO 0.05 PHI 0.95;",
        ast.Winsorize(
            table="ev", group_col="g", value_col="v", id_col="eid",
            p_lo=0.05, p_hi=0.95,
        ),
    ),
    (
        "BENFORD ON ev;",
        ast.Benford(
            table="ev", group_col="event_type", value_col="value", min_n=100,
        ),
    ),
    (
        "BENFORD ON ev GROUP g VALUE v MIN 50;",
        ast.Benford(
            table="ev", group_col="g", value_col="v", min_n=50,
        ),
    ),
    (
        "NGRAMS ON ev;",
        ast.Ngrams(
            table="ev", n=3, user_col="user_id", ts_col="ts",
            type_col="event_type", min_count=1, top_n=None,
            tiebreak_col=None,
        ),
    ),
    (
        "NGRAMS ON ev N 2 USER uid TS at TYPE kind MIN 3 TOP 10 TIEBREAK eid;",
        ast.Ngrams(
            table="ev", n=2, user_col="uid", ts_col="at", type_col="kind",
            min_count=3, top_n=10, tiebreak_col="eid",
        ),
    ),
    (
        "CALIBRATION ON preds;",
        ast.Calibration(
            table="preds", prob_col="prob", label_col="label", n_bins=10,
        ),
    ),
    (
        "CALIBRATION ON preds PROB p LABEL y BINS 5;",
        ast.Calibration(
            table="preds", prob_col="p", label_col="y", n_bins=5,
        ),
    ),
    (
        "RRF ON bm WITH ann;",
        ast.Rrf(
            table_a="bm", table_b="ann", k=60, top_n=None,
            query_col="query_id", id_col="doc_id", score_col="score",
        ),
    ),
    (
        "RRF ON bm WITH ann K 10 TOP 3 QUERY q ID d SCORE s;",
        ast.Rrf(
            table_a="bm", table_b="ann", k=10, top_n=3, query_col="q",
            id_col="d", score_col="s",
        ),
    ),
    (
        "DRIFT ON cur WITH ref;",
        ast.Drift(
            cur="cur", ref="ref", group_col="event_type", value_col="value",
            lo=0.0, hi=1000.0, n_bins=10, min_n=100, eps=1e-06,
        ),
    ),
    (
        "DRIFT ON cur WITH ref GROUP g VALUE v LO 1 HI 9.5 BINS 4 MIN 2 EPS "
        "0.001;",
        ast.Drift(
            cur="cur", ref="ref", group_col="g", value_col="v", lo=1.0,
            hi=9.5, n_bins=4, min_n=2, eps=0.001,
        ),
    ),
    (
        "TOKENDRIFT ON cur WITH ref;",
        ast.TokenDrift(
            cur="cur", ref="ref", text_col="text",
        ),
    ),
    (
        "TOKENDRIFT ON cur WITH ref TEXT body;",
        ast.TokenDrift(
            cur="cur", ref="ref", text_col="body",
        ),
    ),
    (
        "TREND ON ev EPOCH 0;",
        ast.Trend(
            table="ev", epoch_us=0, group_col="event_type",
            value_col="value", ts_col="ts", min_n=100,
        ),
    ),
    (
        "TREND ON ev EPOCH 1704067200000000 GROUP g VALUE v TS at MIN 5;",
        ast.Trend(
            table="ev", epoch_us=1704067200000000, group_col="g",
            value_col="v", ts_col="at", min_n=5,
        ),
    ),
    (
        "GATES ON docs;",
        ast.Gates(
            table="docs", group_col="lang", text_col="text",
            max_bigram_rep=0.5, weights=None, n_buckets=256,
            min_quality=0.5, bigrams=True,
        ),
    ),
    (
        "GATES ON docs GROUP src TEXT body MAXREP 0.3 WITH w BUCKETS 64 MIN "
        "0.7 UNIGRAMS;",
        ast.Gates(
            table="docs", group_col="src", text_col="body",
            max_bigram_rep=0.3, weights="w", n_buckets=64, min_quality=0.7,
            bigrams=False,
        ),
    ),
    (
        "REPORT ON docs;",
        ast.Report(
            table="docs", group_col="lang", text_col="text",
            id_col="doc_id", max_bigram_rep=0.5, weights=None,
            n_buckets=256, min_quality=0.5, bigrams=True, labeled=None,
            label_col="label", target_precision=None, calibration_bins=10,
            split_col=None, pairs=None, pair_src="id_a", pair_dst="id_b",
        ),
    ),
    (
        "REPORT ON docs GROUP src TEXT body ID rid MAXREP 0.3 WITH w BUCKETS "
        "64 MIN 0.7 UNIGRAMS LABELED lab LABEL y PRECISION 0.8 BINS 20 SPLIT "
        "part PAIRS dup SRC a DST b;",
        ast.Report(
            table="docs", group_col="src", text_col="body", id_col="rid",
            max_bigram_rep=0.3, weights="w", n_buckets=64, min_quality=0.7,
            bigrams=False, labeled="lab", label_col="y",
            target_precision=0.8, calibration_bins=20, split_col="part",
            pairs="dup", pair_src="a", pair_dst="b",
        ),
    ),
    (
        "SKEW ON ev KEY k;",
        ast.Skew(
            table="ev", key_col="k", top_n=20,
        ),
    ),
    (
        "SKEW ON ev KEY k TOP 5;",
        ast.Skew(
            table="ev", key_col="k", top_n=5,
        ),
    ),
    (
        "FANOUT ON li WITH ord KEY lk;",
        ast.Fanout(
            table_a="li", table_b="ord", key_a="lk", key_b=None, top_n=10,
        ),
    ),
    (
        "FANOUT ON li WITH ord KEY lk KEYB ok TOP 3;",
        ast.Fanout(
            table_a="li", table_b="ord", key_a="lk", key_b="ok", top_n=3,
        ),
    ),
    (
        "DIFF ON new WITH old;",
        ast.Diff(
            new="new", old="old", id_col="doc_id", text_col="text",
            cols=None, include_unchanged=False, summary=False,
        ),
    ),
    (
        "DIFF ON new WITH old ID k TEXT body COLS a, b ALL;",
        ast.Diff(
            new="new", old="old", id_col="k", text_col="body", cols=("a",
            "b"), include_unchanged=True, summary=False,
        ),
    ),
    (
        "DIFF ON new WITH old SUMMARY;",
        ast.Diff(
            new="new", old="old", id_col="doc_id", text_col="text",
            cols=None, include_unchanged=False, summary=True,
        ),
    ),
    (
        "QUALITY ON docs WITH w;",
        ast.Quality(
            table="docs", weights="w", n_buckets=256, id_col="doc_id",
            text_col="text", bigrams=True, label_col=None, n_bins=10,
        ),
    ),
    (
        "QUALITY ON docs WITH w BUCKETS 64 ID k TEXT body UNIGRAMS THRESHOLDS"
        " LABEL y BINS 20;",
        ast.Quality(
            table="docs", weights="w", n_buckets=64, id_col="k",
            text_col="body", bigrams=False, label_col="y", n_bins=20,
        ),
    ),
]


@pytest.mark.parametrize(
    "text,want", CLAUSE_CORPUS, ids=[t for t, _ in CLAUSE_CORPUS]
)
def test_extension_clause_corpus(text, want):
    assert parse_statement(text) == want


def test_clause_corpus_covers_every_extension_clause():
    given = {type(w): set() for _, w in CLAUSE_CORPUS}
    for text, want in CLAUSE_CORPUS:
        given[type(want)] |= {
            kw for kw in want.clauses() if f" {kw} " in f" {text[:-1]} "
        }
    assert set(given) == set(ast.EXTENSIONS.values())
    for cls, kws in given.items():
        assert kws == set(cls.clauses()), cls.KEYWORD


@pytest.mark.parametrize("kw", list(ast.EXTENSIONS))
def test_shell_hint_names_every_clause(kw):
    from tundradb_spark.ql.shell import COMPLETION_KEYWORDS, hint_for

    hint = hint_for(kw + " ")
    for clause_kw in ast.EXTENSIONS[kw].clauses():
        assert clause_kw in hint, (kw, clause_kw, hint)
    assert kw in COMPLETION_KEYWORDS


@pytest.mark.parametrize(
    "text,clause",
    [
        ("WINSORIZE ON ev PLO 0.1 PLO 0.2;", "PLO"),
        ("REPORT ON docs WITH a MAXREP 0.2 WITH b;", "WITH"),
        ("OUTLIERS ON ev ROBUST K 4 ROBUST;", "ROBUST"),
    ],
)
def test_repeated_clause_rejected(text, clause):
    kw = text.split()[0]
    with pytest.raises(QueryError, match=f"{kw} repeats {clause}$"):
        parse_statement(text)


def test_required_clause_may_follow_optional_ones():
    assert parse_statement("SKEW ON ev TOP 5 KEY k;") == ast.Skew("ev", "k", 5)
    with pytest.raises(QueryError, match="SKEW requires KEY$"):
        parse_statement("SKEW ON ev TOP 5;")
