"""Seeded input generators. Pure numpy/pyarrow: the same seed gives
byte-identical tables, a different seed gives different ones.

Every generator returns ``{table_name: pyarrow.Table}``; :func:`write`
stores them as one parquet file each, the layout ``graphs.tpch`` and the
``__spark_entry__`` rows read.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["red", "blue", "green", "black", "white", "small", "large", "tiny"]
NOUNS = ["widget", "ring", "bolt", "gear", "valve", "pipe", "spring", "panel"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window data column join small customer query order "
    "stream group filter big index plan cache shuffle task stage node edge "
    "graph path"
).split()

#: days since epoch of 1995-01-01 and the span the order dates cover
_DAY0, _DAYS = 9131, 2400
_DAY_US = 86_400_000_000
_EVENT_T0_US = 1_704_067_200_000_000  # 2024-01-01


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tpch(seed: int, scale: float = 1.0) -> dict[str, pa.Table]:
    """TPC-H-shaped tables plus ``events`` and ``documents``; ``scale=1``
    gives the row counts of the sf0.01 test data (1.5k customers, 15k
    orders, ~60k lineitems, 10k events, 500 documents)."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(1500 * scale), int(100 * scale), int(2000 * scale)
    n_ord, n_ev, n_doc = int(15000 * scale), int(10000 * scale), int(500 * scale)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
            "c_acctbal": _money(rng, 0, 10000, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
            "s_acctbal": _money(rng, 0, 10000, n_supp),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype="int64"),
            "p_name": [
                f"{COLORS[a]} {NOUNS[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype("int32"),
            "p_retailprice": _money(rng, 900, 2000, n_part),
        }
    )
    day = rng.integers(0, _DAYS, n_ord)
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000, 500000, n_ord),
            "o_orderdate": _ts((_DAY0 + day) * _DAY_US),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord, dtype="int64"), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype("int32")
    t["lineitem"] = pa.table(
        {
            "l_orderkey": okey,
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": lnum,
            "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
            "l_extendedprice": _money(rng, 900, 100000, n_li),
            "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _ts((_DAY0 + day[okey] + rng.integers(1, 120, n_li)) * _DAY_US),
        }
    )
    ev_us = _EVENT_T0_US + np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype="int64"),
            "ts": _ts(ev_us),
            "user_id": rng.integers(0, 150, n_ev),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.round(rng.lognormal(3.0, 1.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    t["documents"] = _documents(rng, n_doc)
    return t


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random word documents; one in eight is a light edit of an earlier
    document so the dedup rows find near-duplicate pairs."""
    texts: list[str] = []
    for i in range(n):
        if i >= 8 and rng.random() < 0.125:
            words = texts[int(rng.integers(0, i))].split()
            j = int(rng.integers(0, len(words)))
            words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = [VOCAB[k] for k in rng.integers(0, len(VOCAB), int(rng.integers(20, 80)))]
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": np.arange(n, dtype="int64"),
            "text": texts,
            "lang": ["en"] * n,
            "source": [f"src{k}" for k in rng.integers(0, 4, n)],
            "n_chars": np.array([len(s) for s in texts], dtype="int64"),
        }
    )


def social(seed: int, n_person: int, n_company: int, n_edges: int) -> dict[str, pa.Table]:
    """The ``dml_versioned`` graph: persons (scalar, map and array fields)
    and companies with ids ``0..n-1``, KNOWS (person→person) and WORKS_AT
    (person→company) edges; ``n_edges`` is split 2:1 between the two
    edge types."""
    rng = np.random.default_rng([seed, 2])
    n_knows = n_edges * 2 // 3
    n_works = n_edges - n_knows
    person = pa.table(
        {
            "id": np.arange(n_person, dtype="int64"),
            "name": [f"p{i}" for i in range(n_person)],
            "age": rng.integers(18, 80, n_person),
            "score": _money(rng, 0, 100, n_person),
            "props": pa.array(
                [[("k0", int(v))] for v in rng.integers(0, 1000, n_person)],
                pa.map_(pa.string(), pa.int64()),
            ),
            "tags": pa.array(
                [[f"t{v}"] for v in rng.integers(0, 50, n_person)], pa.list_(pa.string())
            ),
        }
    )
    company = pa.table(
        {
            "id": np.arange(n_company, dtype="int64"),
            "name": [f"c{i}" for i in range(n_company)],
            "size": rng.integers(1, 5000, n_company),
        }
    )
    knows = pa.table(
        {
            "source_id": rng.integers(0, n_person, n_knows),
            "target_id": rng.integers(0, n_person, n_knows),
        }
    )
    works = pa.table(
        {
            "source_id": rng.integers(0, n_person, n_works),
            "target_id": rng.integers(0, n_company, n_works),
        }
    )
    return {"person": person, "company": company, "KNOWS": knows, "WORKS_AT": works}


def edge_list(seed: int, n_vertices: int, n_edges: int, n_chains: int, chain_len: int) -> dict[str, pa.Table]:
    """The graph-algorithm edge list: random edges inside blocks of 25
    vertices (many small, dense components) plus ``n_chains`` paths of
    ``chain_len`` vertices, so CC and BFS need several rounds."""
    rng = np.random.default_rng([seed, 3])
    n_chain_v = n_chains * chain_len
    n_rand_v = n_vertices - n_chain_v
    block = 25
    n_rand_e = n_edges - n_chains * (chain_len - 1)
    src = rng.integers(0, n_rand_v, n_rand_e)
    dst = (src // block) * block + rng.integers(0, block, n_rand_e)
    dst = np.minimum(dst, n_rand_v - 1)
    # chains use a seeded permutation of their vertex range so ids along a
    # path are not monotone (min-label propagation must walk the path)
    perm = n_rand_v + rng.permutation(n_chain_v)
    cs = perm.reshape(n_chains, chain_len)
    src = np.concatenate([src, cs[:, :-1].ravel()])
    dst = np.concatenate([dst, cs[:, 1:].ravel()])
    keep = src != dst
    return {"edges": pa.table({"src": src[keep].astype("int64"), "dst": dst[keep].astype("int64")})}


def write(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
