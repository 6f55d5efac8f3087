"""The two workloads. Each one owns its generated inputs, its engine
set-up, a seeded stream of op cycles and the check of every op result.

An op is one user-visible engine call, materialized the way a user
would read it (``collect``). Ops come in cycles of a fixed composition
in seeded order, and the timed phase runs whole cycles, so every run
measures the same op mix whatever the seed.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass
from typing import Any, Callable, Iterable, Iterator

import numpy as np

import gen
import oracles
from metrics import CORPUS_ROWS
from tracing import Tracer, catalyst_phases


@dataclass
class Op:
    kind: str  # the op type metrics group by
    name: str  # template / row / algorithm
    call: Callable[[Tracer], Any]
    check: Callable[[Any], str | None] | None = None  # -> mismatch or None
    hops: int = 0


@dataclass
class Record:
    op_id: int
    kind: str
    name: str
    ms: float
    hops: int = 0
    error: str | None = None


def _timed_collect(tr: Tracer, df) -> list:
    with tr.span("exec", jobs=True):
        rows = df.collect()
    if tr.enabled:
        tr.spans[-1].phases = catalyst_phases(df)
        tr.spans[-1].rows = len(rows)
    return rows


def _dir_size(root: str) -> tuple[int, int]:
    n = size = 0
    for dp, _, fs in os.walk(root):
        for f in fs:
            n += 1
            size += os.path.getsize(os.path.join(dp, f))
    return n, size


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int) -> None:
        self.spark, self.work, self.seed = spark, work, seed
        self.rng = np.random.default_rng([seed, 100])
        self.extra: dict[str, float] = {}

    def inputs(self) -> None:
        """Generate and write the seeded inputs (not part of set-up time)."""

    def setup(self, i: int) -> float:
        """Build the engine state from the inputs; returns seconds taken."""
        raise NotImplementedError

    def cycles(self) -> Iterator[Iterable[Op]]:
        raise NotImplementedError

    def finish(self, tr: Tracer) -> list[tuple[str, str | None]]:
        """Untimed end-of-run work; returns (check name, mismatch)."""
        return []


# --------------------------------------------------------------- match_read
class MatchRead(Workload):
    """Read-only: the MATCH templates over the TPC-H graph, the iterative
    graph algorithms over a seeded edge list, and the corpus row q_markov
    over the raw events parquet. Nothing here writes, commits or restores,
    so the database and snapshot layers stay idle."""

    name = "match_read"
    N_V, N_E, N_CHAINS, CHAIN_LEN = 5_000, 15_000, 20, 3
    N_SOURCES, PR_ITERS = 16, 5
    #: every MATCH template runs this many times per cycle, so that the
    #: cheap MATCH ops, not one draw of one template, set op_p50_ms
    MATCH_ROUNDS = 2

    def inputs(self) -> None:
        import __spark_entry__ as entry

        self.fns = {**entry.queries(), **entry.parked_queries()}
        self.sql = {**entry.oracle_sql(), **entry.parked_oracle_sql()}
        graph = gen.edge_list(self.seed, self.N_V, self.N_E, self.N_CHAINS, self.CHAIN_LEN)
        gen.write({**gen.tpch(self.seed, scale=1.0), **graph}, os.path.join(self.work, "data"))
        e = graph["edges"]
        self.src, self.dst = e["src"].to_numpy(), e["dst"].to_numpy()
        self.sym_src = np.concatenate([self.src, self.dst])
        self.sym_dst = np.concatenate([self.dst, self.src])
        self.ref_cc = oracles.components(self.src, self.dst)
        self.ref_pr = oracles.pagerank(self.src, self.dst, self.PR_ITERS)
        self.rounds = {"cc": oracles.cc_rounds(self.src, self.dst), "pagerank": self.PR_ITERS}

    def setup(self, i: int) -> float:
        from pyspark.sql import functions as F
        from tundradb_spark.graphs.tpch import load_graph, load_versioned_orders

        # a fresh directory per repetition: graphs.tpch caches per path
        self.dir = os.path.join(self.work, f"setup{i}")
        shutil.copytree(os.path.join(self.work, "data"), self.dir)
        t0 = time.perf_counter()
        self.db = load_graph(self.spark, self.dir)
        self.vdb = load_versioned_orders(self.spark, self.dir)
        e = self.spark.read.parquet(os.path.join(self.dir, "edges.parquet"))
        self.edges = e
        self.sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        e.count()
        return time.perf_counter() - t0

    def _match(self, m: oracles.MatchOp, con) -> Op:
        from tundradb_spark.ql.interpreter import execute_ast
        from tundradb_spark.ql.parser import parse_statement

        db = self.vdb if m.versioned else self.db

        def call(tr: Tracer):
            with tr.span("parse"):
                stmt = parse_statement(m.text)
            with tr.span("build", jobs=True):
                df = execute_ast(db, stmt)
            return oracles.digest(_timed_collect(tr, df))

        return Op(m.kind, m.template, call, lambda got: oracles.match_check(con, m, got),
                  hops=m.text.count("]->"))

    def _sources(self) -> list[int]:
        """15 block vertices and the head of one chain, so every BFS walks
        a full chain and its round count does not depend on the seed."""
        n_rand = self.N_V - self.N_CHAINS * self.CHAIN_LEN
        chain = int(self.rng.integers(self.N_CHAINS))
        # chains are the last edges of the list, one path after another
        first_edge = len(self.src) - self.N_CHAINS * (self.CHAIN_LEN - 1) + chain * (self.CHAIN_LEN - 1)
        head = int(self.src[first_edge])
        picks = self.rng.choice(n_rand, self.N_SOURCES - 1, replace=False)
        return sorted(set(int(x) for x in picks) | {head})

    def _algo(self, algo: str) -> Op:
        from tundradb_spark.graphs import algorithms as A

        if algo == "cc":
            def call(tr):
                with tr.span("build", jobs=True):
                    df = A.connected_components(self.edges, "src", "dst")
                return {r[0]: r[1] for r in _timed_collect(tr, df)}

            def check(got):
                return oracles.labels_check(got, self.ref_cc, "cc")
        elif algo == "bfs":
            sources = self._sources()
            want = oracles.bfs_levels(self.sym_src, self.sym_dst, sources)

            def call(tr):
                with tr.span("build", jobs=True):
                    sdf = self.spark.createDataFrame([(s,) for s in sources], "vertex long")
                    df = A.bfs_levels(self.sym, sdf, "src", "dst", max_hops=self.N_V)
                got = {r[0]: r[1] for r in _timed_collect(tr, df)}
                self.rounds.setdefault("bfs_list", []).append(max(got.values()) + 1)
                return got

            def check(got):
                return oracles.labels_check(got, want, "bfs")
        else:
            def call(tr):
                with tr.span("build", jobs=True):
                    df = A.pagerank(self.edges, "src", "dst", iters=self.PR_ITERS)
                return {r[0]: r[1] for r in _timed_collect(tr, df)}

            def check(got):
                return oracles.pagerank_check(got, self.ref_pr)

        return Op(algo, algo, call, check)

    def _row(self, row: str, con, wanted: dict) -> Op:
        def call(tr):
            with tr.span("build", jobs=True):
                df = self.fns[row](self.spark, self.dir)
            return df.columns, _timed_collect(tr, df)

        def check(got):
            if row not in wanted:
                cur = con.execute(self.sql[row])
                wanted[row] = ([d[0] for d in cur.description], cur.fetchall())
            return oracles.compare_frames(got[0], got[1], *wanted[row])

        return Op("corpus", row, call, check)

    def cycles(self) -> Iterator[Iterable[Op]]:
        con = oracles.duckdb_views(
            os.path.join(self.work, "data"),
            ["customer", "nation", "region", "orders", "lineitem", "part", "events"],
        )
        wanted: dict[str, tuple] = {}
        while True:
            ops = [
                self._match(m, con)
                for _ in range(self.MATCH_ROUNDS)
                for m in oracles.match_cycle(self.rng)
            ]
            ops += [self._algo(a) for a in ("cc", "bfs", "pagerank")]
            ops += [self._row(r, con, wanted) for r in CORPUS_ROWS]
            yield [ops[i] for i in self.rng.permutation(len(ops))]

    def finish(self, tr: Tracer) -> list[tuple[str, str | None]]:
        n_rows, n_ids = (
            self.vdb.get_table_versions("orders_v").selectExpr("count(*)", "count(distinct id)").first()
        )
        self.extra["versions_per_id"] = n_rows / n_ids
        return []


# ------------------------------------------------------------ dml_versioned
class DmlVersioned(Workload):
    name = "dml_versioned"
    N_PERSON, N_COMPANY, N_EDGES = 5_000, 500, 15_000
    #: one cycle: the op mix in seeded order, then a COMMIT. The point
    #: reads are the cheapest ops, and there are enough of them that
    #: op_p50_ms falls among them rather than on one write
    MIX = (
        ("create", "knows", "works_at", "update", "set_map", "append", "delete")
        + ("match",) * 3 + ("asof",) * 2
    )

    def inputs(self) -> None:
        self.tables = gen.social(self.seed, self.N_PERSON, self.N_COMPANY, self.N_EDGES)
        gen.write(self.tables, os.path.join(self.work, "data"))

    def setup(self, i: int) -> float:
        from tundradb_spark.database import Database
        from tundradb_spark.temporal import MockClock

        data = os.path.join(self.work, "data")
        read = lambda t: self.spark.read.parquet(f"{data}/{t}.parquet")  # noqa: E731
        self.path = os.path.join(self.work, f"db{i}")
        self.clock = MockClock(1_000)
        t0 = time.perf_counter()
        db = Database(self.spark, path=self.path, versioning=True, clock=self.clock)
        db.register_node_table("person", read("person"))
        load_ts = self.clock.advance(0)
        db.register_node_table("company", read("company"))
        db.bulk_connect("KNOWS", read("KNOWS"))
        db.bulk_connect("WORKS_AT", read("WORKS_AT"))
        elapsed = time.perf_counter() - t0
        self.db = db
        self.model = oracles.SocialModel()
        self.model.load(
            self.tables["person"].drop(["id"]).to_pylist(),
            self.N_COMPANY,
            [("KNOWS", r["source_id"], r["target_id"]) for r in self.tables["KNOWS"].to_pylist()]
            + [("WORKS_AT", r["source_id"], r["target_id"]) for r in self.tables["WORKS_AT"].to_pylist()],
            load_ts,
        )
        for vs in self.model.persons.values():
            vs[0].data["props"] = dict(vs[0].data["props"])
        self.alive = list(range(self.N_PERSON))
        self.commits: list[tuple[float, int, int, int]] = []
        return elapsed

    # -- op constructors --------------------------------------------------
    def _pick(self) -> int:
        return self.alive[int(self.rng.integers(len(self.alive)))]

    def _ql(self, tr: Tracer, text: str):
        from tundradb_spark.ql.interpreter import execute_ast
        from tundradb_spark.ql.parser import parse_statement

        with tr.span("parse"):
            stmt = parse_statement(text)
        with tr.span("build", jobs=True):
            return execute_ast(self.db, stmt)

    def _write(self, kind: str, text: str | None, apply: Callable[[int], None], api=None) -> Op:
        def call(tr: Tracer):
            if api is not None:
                with tr.span("build", jobs=True):
                    api()
            else:
                self._ql(tr, text)
            apply(self.clock.advance(0))  # the engine's timestamp for this op

        return Op("write", kind, call)

    def _read(self, kind: str, pid: int, as_of: int | None) -> Op:
        cols = "p.id, p.name, p.age, p.score, p.props"
        at = f" AS OF {as_of}" if as_of is not None else ""
        text = f"MATCH (p:person){at} WHERE p.id = {pid} SELECT {cols};"
        row = self.model.row(pid, as_of)
        want = oracles.digest(
            [] if row is None else [[pid, row["name"], row["age"], row["score"], row["props"]]]
        )

        def call(tr: Tracer):
            return oracles.digest(_timed_collect(tr, self._ql(tr, text)))

        return Op(kind, kind, call, lambda got: oracles.rows_check(got, want, text))

    def _make(self, kind: str) -> Op:
        m, r = self.model, self.rng
        if kind == "create":
            age, score = int(r.integers(18, 80)), round(float(r.uniform(0, 100)), 2)
            name = f"n{int(r.integers(1_000_000))}"
            data = {"name": name, "age": age, "score": score, "props": None, "tags": None}

            def apply(ts):
                self.alive.append(m.create(data, ts))

            return self._write(
                "create", f'CREATE NODE person (name = "{name}", age = {age}, score = {score:.2f});', apply
            )
        if kind in ("knows", "works_at"):
            a = self._pick()
            etype, tgt = ("KNOWS", "person") if kind == "knows" else ("WORKS_AT", "company")
            b = self._pick() if kind == "knows" else int(r.integers(self.N_COMPANY))
            return self._write(
                "connect", f"CREATE EDGE {etype} FROM person({a}) TO {tgt}({b});",
                lambda ts: m.connect(etype, a, b),
            )
        if kind == "update":
            a, age = self._pick(), int(r.integers(18, 80))
            return self._write(
                "update", f"UPDATE person({a}) SET age = {age};",
                lambda ts: m.update(a, "age", age, ts),
            )
        if kind == "set_map":
            a, k, v = self._pick(), f"k{int(r.integers(5))}", int(r.integers(1000))
            return self._write(
                "update", f"UPDATE person({a}) SET props.{k} = {v};",
                lambda ts: m.update(a, f"props.{k}", v, ts),
            )
        if kind == "append":
            # APPEND has no TundraQL text form; it is a Database call
            a, tag = self._pick(), f"t{int(r.integers(50))}"
            return self._write(
                "update", None, lambda ts: m.update(a, "tags", tag, ts, append=True),
                api=lambda: self.db.update_by_id("person", a, {"tags": tag}, append=True),
            )
        if kind == "delete":
            a = self._pick()
            self.alive.remove(a)
            return self._write("delete", f"DELETE person({a});", lambda ts: m.delete(a, ts))
        if kind == "match":
            # mostly live ids, sometimes any id ever created (deleted ones read empty)
            pid = self._pick() if r.random() < 0.8 else int(r.integers(m.next_person))
            return self._read("match", pid, None)
        if kind == "asof":
            now = self.clock.advance(0)
            return self._read("asof", int(r.integers(m.next_person)), int(r.integers(1_001, now + 1)))
        raise ValueError(kind)

    def _commit(self) -> Op:
        def call(tr: Tracer):
            before = _dir_size(self.path)
            t0 = time.perf_counter()
            with tr.span("commit", jobs=True):
                snap = self.db.commit()
            ms = 1e3 * (time.perf_counter() - t0)
            after = _dir_size(self.path)
            # a snapshot directory holds only the tables this commit rewrote
            rewritten = sum(
                len(os.listdir(d))
                for d in (os.path.join(snap, "nodes"), os.path.join(snap, "edges"))
                if os.path.isdir(d)
            )
            self.commits.append((ms, after[1] - before[1], after[0] - before[0], rewritten))

        return Op("commit", "commit", call)

    def cycles(self) -> Iterator[Iterable[Op]]:
        while True:
            kinds = list(self.rng.permutation(self.MIX)) + ["commit"]
            # built lazily: each op depends on the model state the ops
            # before it in the cycle left behind
            yield (self._commit() if k == "commit" else self._make(str(k)) for k in kinds)

    def finish(self, tr: Tracer) -> list[tuple[str, str | None]]:
        from tundradb_spark.database import Database
        from tundradb_spark.temporal import MockClock

        checks = []
        self._commit().call(tr)
        want_nodes = oracles.digest(
            [[pid, d["name"], d["age"], d["score"], d["props"], d["tags"]]
             for pid, d in self.model.current().items()]
        )
        want_edges = {
            et: oracles.digest([[eid, s, t] for eid, (e, s, t) in self.model.edges.items() if e == et])
            for et in ("KNOWS", "WORKS_AT")
        }
        want_counters = ({"person": self.model.next_person, "company": self.model.next_company},
                         self.model.next_edge)

        def state(db) -> list[tuple[str, str | None]]:
            got = oracles.digest(
                db.get_table("person").select("id", "name", "age", "score", "props", "tags").collect()
            )
            out = [("nodes", oracles.rows_check(got, want_nodes, "nodes"))]
            for et, want in want_edges.items():
                g = oracles.digest(db.get_edge_table(et).select("id", "source_id", "target_id").collect())
                out.append((f"edges.{et}", oracles.rows_check(g, want, et)))
            return out

        checks += [("final." + k, v) for k, v in state(self.db)]
        restores = []
        for _ in range(3):
            t0 = time.perf_counter()
            with tr.span("restore", jobs=True):
                db2 = Database(self.spark, path=self.path, versioning=True, clock=MockClock(10**9))
                db2.get_table("person").count()
            restores.append(1e3 * (time.perf_counter() - t0))
        got_counters = (dict(db2.catalog.node_id_counters), db2.catalog.edge_id_counter)
        checks.append(("restore.counters",
                       None if got_counters == want_counters else f"{got_counters} vs {want_counters}"))
        checks += [("restore." + k, v) for k, v in state(db2)]
        versions = self.db.get_table_versions("person")
        n_rows, n_ids = versions.selectExpr("count(*)", "count(distinct id)").first()
        user_bytes = sum(
            os.path.getsize(os.path.join(self.work, "data", f"{t}.parquet")) for t in self.tables
        )
        self.extra.update(
            {
                "restore_ms": float(np.median(restores)),
                "versions_per_id": n_rows / n_ids,
                "store_bytes_per_user_byte": _dir_size(self.path)[1] / user_bytes,
            }
        )
        return checks


WORKLOADS = {w.name: w for w in (MatchRead, DmlVersioned)}
