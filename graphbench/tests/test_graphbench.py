"""Tests of the benchmark itself: seeded inputs, metric names, the p90
rule, and that every correctness check rejects a corrupted result.
None of them starts Spark.

    python3 -m pytest graphbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import metrics  # noqa: E402
import oracles  # noqa: E402


def _bytes(tables, out):
    gen.write(tables, str(out))
    return {n: (out / f"{n}.parquet").read_bytes() for n in tables}


@pytest.mark.parametrize(
    "make",
    [
        lambda s: gen.tpch(s, scale=0.05),
        lambda s: gen.social(s, 200, 20, 600),
        lambda s: gen.edge_list(s, 500, 1500, 5, 6),
    ],
    ids=["tpch", "social", "edge_list"],
)
def test_inputs_are_seeded(make, tmp_path):
    a = _bytes(make(7), tmp_path / "a")
    b = _bytes(make(7), tmp_path / "b")
    c = _bytes(make(8), tmp_path / "c")
    assert a == b
    assert all(a[n] != c[n] for n in a if n not in ("region", "nation"))


def test_match_ops_are_seeded():
    one = [m.text for m in oracles.match_cycle(np.random.default_rng([3, 100]))]
    two = [m.text for m in oracles.match_cycle(np.random.default_rng([3, 100]))]
    other = [m.text for m in oracles.match_cycle(np.random.default_rng([4, 100]))]
    assert one == two != other
    assert sorted(m.template for m in oracles.match_cycle(np.random.default_rng(0))) == sorted(
        oracles.MATCH_TEMPLATES
    )


def test_metric_names_and_benchmark_json():
    metrics.check_names()
    for name in list(metrics.END_TO_END) + list(metrics.PER_LAYER):
        assert metrics.NAME_RE.fullmatch(name), name
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metrics.PER_LAYER


def test_p90_needs_ten_samples_beyond_it():
    few = list(range(1, 100))  # 99 samples: median only
    assert metrics.p90_or_median(few) == metrics.median(few)
    many = list(range(1, 101))
    p90 = metrics.p90_or_median(many)
    assert p90 != metrics.median(many)
    assert sum(x > p90 for x in many) >= 10


# ------------------------------------------------- checks reject corruption
def test_match_check_rejects_corrupted_rows(tmp_path):
    gen.write(gen.tpch(5, scale=0.05), str(tmp_path))
    con = oracles.duckdb_views(str(tmp_path), ["customer", "nation", "region", "orders", "lineitem", "part"])
    for m in oracles.match_cycle(np.random.default_rng(5)):
        rows = con.execute(m.sql).fetchall()
        assert oracles.match_check(con, m, oracles.digest(rows)) is None
        bad = rows[1:] if rows else [(0,) * 3]
        assert oracles.match_check(con, m, oracles.digest(bad)) is not None
        if rows:
            changed = [tuple(x + 1 if isinstance(x, (int, float)) else x for x in rows[0])] + rows[1:]
            assert oracles.match_check(con, m, oracles.digest(changed)) is not None


def _model():
    m = oracles.SocialModel()
    m.load([{"name": "a", "age": 30, "props": {"k0": 1}, "tags": ["t1"]}] * 3, 2,
           [("KNOWS", 0, 1)], ts=1001)
    m.update(0, "age", 31, ts=1002)
    m.update(0, "age", 31, ts=1003)  # no-op: no version
    m.update(1, "props.k1", 5, ts=1004)
    m.update(1, "tags", "t2", ts=1005, append=True)
    m.delete(2, ts=1006)
    m.connect("KNOWS", 1, 0)
    return m


def test_replay_model_semantics():
    m = _model()
    assert len(m.persons[0]) == 2
    assert m.row(0)["age"] == 31 and m.row(0, as_of=1001)["age"] == 30
    assert m.row(1) == {"name": "a", "age": 30, "props": {"k0": 1, "k1": 5}, "tags": ["t1", "t2"]}
    assert m.row(2) is None and m.row(2, as_of=1005)["name"] == "a"
    assert (m.next_person, m.next_edge) == (3, 2)


def test_state_check_rejects_corrupted_state():
    m = _model()
    good = [[pid, d["name"], d["age"], d["props"], d["tags"]] for pid, d in m.current().items()]
    want = oracles.digest(good)
    assert oracles.rows_check(oracles.digest(good), want, "nodes") is None
    bad = [list(r) for r in good]
    bad[0][2] = 30  # a lost update
    assert oracles.rows_check(oracles.digest(bad), want, "nodes") is not None
    resurrected = good + [[2, "a", 30, {"k0": 1}, ["t1"]]]  # a lost delete
    assert oracles.rows_check(oracles.digest(resurrected), want, "nodes") is not None


def _graph():
    t = gen.edge_list(9, 400, 1200, 4, 6)["edges"]
    return t["src"].to_numpy(), t["dst"].to_numpy()


def test_graph_checks_reject_corruption():
    src, dst = _graph()
    cc = oracles.components(src, dst)
    assert oracles.labels_check(dict(cc), cc, "cc") is None
    v = next(iter(cc))
    assert oracles.labels_check({**cc, v: cc[v] + 1}, cc, "cc") is not None
    sym_s, sym_d = np.concatenate([src, dst]), np.concatenate([dst, src])
    lv = oracles.bfs_levels(sym_s, sym_d, [0, 1])
    far = max(lv, key=lv.get)
    assert oracles.labels_check({**lv, far: lv[far] - 1}, lv, "bfs") is not None
    pr = oracles.pagerank(src, dst, 10)
    assert oracles.pagerank_check(dict(pr), pr) is None
    assert oracles.pagerank_check({**pr, v: pr[v] + 1e-8}, pr) is not None


def test_cc_rounds_on_a_path():
    # 0-1-...-7 as one path: neighbor-min plus pointer jumping
    src = np.arange(7)
    dst = np.arange(1, 8)
    assert oracles.components(src, dst) == {i: 0 for i in range(8)}
    assert 2 <= oracles.cc_rounds(src, dst) <= 4


def test_corpus_check_rejects_corruption():
    cols = ["doc_id", "score"]
    rows = [(1, 0.5), (2, 0.25)]
    assert oracles.compare_frames(cols, rows, ["score", "doc_id"], [(0.25, 2), (0.5, 1)]) is None
    assert oracles.compare_frames(cols, [(1, 0.5), (2, 0.26)], cols, rows) is not None
    assert oracles.compare_frames(cols, rows[:1], cols, rows) is not None
    assert oracles.compare_frames(["doc_id"], [(1,), (2,)], cols, rows) is not None
