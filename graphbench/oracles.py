"""Reference computations the benchmark checks the engine against.

Nothing here calls the engine: the MATCH templates are re-stated as
DuckDB SQL over the same parquet, the DML stream is replayed on a
Python model, the graph algorithms are recomputed with numpy, and the
corpus rows use their own ``oracle_sql()`` through DuckDB.
"""

from __future__ import annotations

import hashlib
import math
from collections import deque
from dataclasses import dataclass, field
from typing import Any

import numpy as np

from gen import PRIORITIES, REGIONS, SEGMENTS

#: valid time at which ``graphs.tpch.load_versioned_orders`` reprices the
#: 'F' orders (prices double from then on)
REPRICE_VT = 1_000
MAX_TS = 2**63 - 1


# ------------------------------------------------------------ row digests
def norm(v: Any) -> Any:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, dict):
        return tuple(sorted((k, norm(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    return v


def digest(rows: list) -> tuple[int, str]:
    """(row count, order-independent checksum) of a result."""
    keys = sorted(repr(tuple(norm(x) for x in r)) for r in rows)
    return len(keys), hashlib.sha256("\n".join(keys).encode()).hexdigest()[:16]


def rows_check(got: tuple[int, str], want: tuple[int, str], what: str) -> str | None:
    return None if got == want else f"{what}: {got} vs {want}"


# ------------------------------------------------------ match_read oracle
@dataclass(frozen=True)
class MatchOp:
    template: str
    text: str  # TundraQL
    sql: str  # the same question in DuckDB SQL
    versioned: bool = False  # runs against the orders_v Database

    @property
    def kind(self) -> str:
        return "asof" if self.versioned else "match"


def _match_op(template: str, rng: np.random.Generator) -> MatchOp:
    n = int(rng.integers(0, 25))
    if template == "scan_filter":
        x = int(rng.integers(5000, 9500))
        return MatchOp(
            template,
            f"MATCH (c:customer) WHERE c.c_acctbal > {x} AND c.c_nationkey = {n} "
            "SELECT c.id, c.c_name, c.c_acctbal;",
            f"SELECT c_custkey, c_name, c_acctbal FROM customer "
            f"WHERE c_acctbal > {x} AND c_nationkey = {n}",
        )
    if template == "one_hop":
        x = int(rng.integers(5000, 9500))
        return MatchOp(
            template,
            f"MATCH (c:customer)-[:IN_NATION]->(n:nation) WHERE n.n_name = 'NATION_{n}' "
            f"AND c.c_acctbal > {x} SELECT c.id, n.n_name;",
            f"SELECT c.c_custkey, n.n_name FROM customer c JOIN nation n "
            f"ON c.c_nationkey = n.n_nationkey WHERE n.n_name = 'NATION_{n}' "
            f"AND c.c_acctbal > {x}",
        )
    if template == "two_hop":
        r = REGIONS[int(rng.integers(0, 5))]
        s = SEGMENTS[int(rng.integers(0, 5))]
        x = int(rng.integers(7000, 9900))
        return MatchOp(
            template,
            "MATCH (c:customer)-[:IN_NATION]->(n:nation)-[:IN_REGION]->(r:region) "
            f"WHERE r.r_name = '{r}' AND c.c_mktsegment = '{s}' AND c.c_acctbal > {x} "
            "SELECT c.id, n.id, r.r_name;",
            "SELECT c.c_custkey, n.n_nationkey, r.r_name FROM customer c "
            "JOIN nation n ON c.c_nationkey = n.n_nationkey "
            "JOIN region r ON n.n_regionkey = r.r_regionkey "
            f"WHERE r.r_name = '{r}' AND c.c_mktsegment = '{s}' AND c.c_acctbal > {x}",
        )
    if template == "left_orders":
        x = int(rng.integers(100, 1500))
        return MatchOp(
            template,
            f"MATCH (c:customer)-[:HAS_ORDER LEFT]->(o:orders) WHERE c.c_nationkey = {n} "
            f"AND c.c_acctbal < {x} SELECT c.id, o.id;",
            "SELECT c.c_custkey, o.o_orderkey FROM customer c LEFT JOIN orders o "
            f"ON o.o_custkey = c.c_custkey WHERE c.c_nationkey = {n} AND c.c_acctbal < {x}",
        )
    if template == "has_item":
        k = int(rng.integers(0, 1500))
        return MatchOp(
            template,
            f"MATCH (o:orders)-[:HAS_ITEM]->(p:part) WHERE o.o_custkey = {k} "
            "SELECT o.id, p.id, p.p_brand;",
            "SELECT o.o_orderkey, p.p_partkey, p.p_brand FROM orders o "
            "JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
            f"JOIN part p ON p.p_partkey = l.l_partkey WHERE o.o_custkey = {k}",
        )
    if template == "as_of":
        k = int(rng.integers(0, 1500))
        vt = int(rng.choice([REPRICE_VT // 2, REPRICE_VT * 3 // 2]))
        price = (
            "CASE WHEN o_orderstatus = 'F' THEN o_totalprice * 2 ELSE o_totalprice END"
            if vt >= REPRICE_VT
            else "o_totalprice"
        )
        return MatchOp(
            template,
            f"MATCH (o:orders_v) AS OF {vt} WHERE o.o_custkey = {k} "
            "SELECT o.id, o.o_totalprice;",
            f"SELECT o_orderkey, {price} FROM orders WHERE o_custkey = {k}",
            versioned=True,
        )
    if template == "group_count":
        p = PRIORITIES[int(rng.integers(0, 5))]
        return MatchOp(
            template,
            "MATCH (c:customer)-[:HAS_ORDER]->(o:orders) "
            f"WHERE o.o_orderpriority = '{p}' AND c.c_nationkey = {n} "
            "GROUP BY c.c_mktsegment AGG count(*) AS n;",
            "SELECT c.c_mktsegment, count(*) FROM customer c JOIN orders o "
            f"ON o.o_custkey = c.c_custkey WHERE o.o_orderpriority = '{p}' "
            f"AND c.c_nationkey = {n} GROUP BY c.c_mktsegment",
        )
    raise ValueError(template)


MATCH_TEMPLATES = (
    "scan_filter", "one_hop", "two_hop", "left_orders", "has_item", "as_of", "group_count",
)


def match_cycle(rng: np.random.Generator) -> list[MatchOp]:
    """Every template once, in seeded order, with seeded literals."""
    return [_match_op(t, rng) for t in rng.permutation(MATCH_TEMPLATES)]


def match_check(con, m: MatchOp, got: tuple[int, str]) -> str | None:
    return rows_check(got, digest(con.execute(m.sql).fetchall()), m.template)


def duckdb_views(data_dir: str, tables: list[str]):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


# ------------------------------------------------------------ corpus oracle
def compare_frames(got_cols: list[str], got: list, want_cols: list[str], want: list) -> str | None:
    """Order-insensitive equality by column name (the driver's oracle
    rule). Returns a mismatch description or None."""
    if sorted(got_cols) != sorted(want_cols):
        return f"columns {sorted(got_cols)} vs {sorted(want_cols)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    order = sorted(got_cols)
    gi = [got_cols.index(c) for c in order]
    wi = [want_cols.index(c) for c in order]
    if digest([[r[i] for i in gi] for r in got]) != digest([[r[i] for i in wi] for r in want]):
        return "values differ"
    return None


# ------------------------------------------------------------- graph refs
def components(src: np.ndarray, dst: np.ndarray) -> dict[int, int]:
    """Union-find: vertex -> minimum vertex id of its component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in zip(src.tolist(), dst.tolist()):
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        a, b = find(u), find(v)
        if a != b:
            parent[max(a, b)] = min(a, b)
    return {v: find(v) for v in parent}


def cc_rounds(src: np.ndarray, dst: np.ndarray) -> int:
    """Rounds the engine's min-label + pointer-jumping loop runs on this
    graph, counting the final round that finds no change."""
    keep = src != dst
    u = np.concatenate([src[keep], dst[keep]])
    v = np.concatenate([dst[keep], src[keep]])
    n = int(max(u.max(), v.max())) + 1
    big = np.iinfo(np.int64).max
    nb = np.full(n, big)
    np.minimum.at(nb, u, v)
    present = nb < big
    lab = np.where(present, np.minimum(np.arange(n), nb), np.arange(n))
    rounds = 0
    while True:
        rounds += 1
        nbm = np.full(n, big)
        np.minimum.at(nbm, u, lab[v])
        c1 = np.minimum(lab, nbm)
        c2 = np.minimum(c1, c1[c1])
        changed = bool(((c2 < lab) & present).any())
        lab = c2
        if not changed:
            return rounds


def bfs_levels(src: np.ndarray, dst: np.ndarray, sources: list[int]) -> dict[int, int]:
    adj: dict[int, list[int]] = {}
    for u, v in zip(src.tolist(), dst.tolist()):
        adj.setdefault(u, []).append(v)
    level = {s: 0 for s in sources}
    q = deque(sources)
    while q:
        x = q.popleft()
        for y in adj.get(x, ()):
            if y not in level:
                level[y] = level[x] + 1
                q.append(y)
    return level


def labels_check(got: dict[int, int], want: dict[int, int], what: str) -> str | None:
    """Exact per-vertex equality (CC component ids, BFS levels)."""
    if got == want:
        return None
    bad = sum(got.get(v) != want.get(v) for v in set(got) | set(want))
    return f"{what}: {bad} vertices differ"


def pagerank_check(got: dict[int, float], want: dict[int, float], tol: float = 1e-9) -> str | None:
    if got.keys() != want.keys():
        return "pagerank: vertex sets differ"
    err = max(abs(got[v] - want[v]) for v in got)
    return None if err <= tol else f"pagerank: max error {err:.3g}"


def pagerank(src: np.ndarray, dst: np.ndarray, iters: int, damping: float = 0.85) -> dict[int, float]:
    """Power iteration with uniform dangling redistribution (ranks sum to
    |V|), the convention ``graphs.algorithms.pagerank`` documents."""
    pairs = np.unique(np.stack([src, dst], axis=1), axis=0)
    u, v = pairs[:, 0], pairs[:, 1]
    verts, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
    ui, vi = inv[: len(u)], inv[len(u):]
    n = len(verts)
    outdeg = np.bincount(ui, minlength=n).astype(float)
    rank = np.ones(n)
    for _ in range(iters):
        recv = np.bincount(vi, weights=rank[ui] / outdeg[ui], minlength=n)
        dangling = n - recv.sum()
        rank = (1 - damping) + damping * (recv + dangling / n)
    return dict(zip(verts.tolist(), rank.tolist()))


# ------------------------------------------------------- dml replay model
@dataclass
class Version:
    valid_from: int
    valid_to: int
    version_id: int
    data: dict


@dataclass
class SocialModel:
    """Python replay of the ``dml_versioned`` op stream with the engine's
    documented semantics: a scalar SET that changes nothing makes no
    version, map SET and APPEND always do, DELETE closes the head."""

    persons: dict[int, list[Version]] = field(default_factory=dict)
    edges: dict[int, tuple[str, int, int]] = field(default_factory=dict)
    next_person: int = 0
    next_company: int = 0
    next_edge: int = 0

    def load(self, person_rows: list[dict], n_company: int, edge_rows: list[tuple[str, int, int]], ts: int) -> None:
        for row in person_rows:
            self.persons[self.next_person] = [Version(ts, MAX_TS, 0, dict(row))]
            self.next_person += 1
        self.next_company = n_company
        for e in edge_rows:
            self.edges[self.next_edge] = e
            self.next_edge += 1

    def alive(self, pid: int) -> bool:
        vs = self.persons.get(pid)
        return bool(vs) and vs[-1].valid_to == MAX_TS

    def create(self, data: dict, ts: int) -> int:
        pid = self.next_person
        self.persons[pid] = [Version(ts, MAX_TS, 0, dict(data))]
        self.next_person += 1
        return pid

    def connect(self, etype: str, src: int, dst: int) -> None:
        self.edges[self.next_edge] = (etype, src, dst)
        self.next_edge += 1

    def update(self, pid: int, key: str, value: Any, ts: int, append: bool = False) -> None:
        head = self.persons[pid][-1]
        data = dict(head.data)
        name, _, sub = key.partition(".")
        if sub:
            data[name] = {**(data[name] or {}), sub: value}
        elif append:
            data[name] = list(data[name] or []) + [value]
        elif data[name] == value:
            return  # no-op update: no new version
        else:
            data[name] = value
        head.valid_to = ts
        self.persons[pid].append(Version(ts, MAX_TS, head.version_id + 1, data))

    def delete(self, pid: int, ts: int) -> None:
        self.persons[pid][-1].valid_to = ts

    def row(self, pid: int, as_of: int | None = None) -> dict | None:
        vs = self.persons.get(pid, [])
        if as_of is None:
            return vs[-1].data if vs and vs[-1].valid_to == MAX_TS else None
        live = [v for v in vs if v.valid_from <= as_of < v.valid_to]
        return max(live, key=lambda v: v.version_id).data if live else None

    def current(self) -> dict[int, dict]:
        return {pid: vs[-1].data for pid, vs in self.persons.items() if vs[-1].valid_to == MAX_TS}
