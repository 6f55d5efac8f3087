"""Tests for the graph algorithms module (SURVEY.md §7 M6 extension)."""

import pytest

from tests.conftest import rows_set
from tundradb_spark.graphs import algorithms as ga


def test_connected_components(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    cc = ga.connected_components(pairs)
    assert rows_set(cc, "vertex", "component") == {
        (1, 1), (2, 1), (3, 1), (10, 10), (11, 10),
    }


def test_connected_components_chain(spark):
    # a path graph needs diameter rounds to converge — exercises iteration
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(5, 0, -1)], "id_a long, id_b long"
    )
    cc = ga.connected_components(pairs)
    assert {r.component for r in cc.collect()} == {1}


def test_connected_components_long_path_pointer_jumping(spark):
    """r13: pointer jumping converges a 200-vertex path (diameter 199)
    inside the default 50-round budget — the shape that silently
    exhausted the old one-hop loop and returned a partially-merged
    labeling (which leaked near-duplicates across splits)."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(199)], "id_a long, id_b long"
    )
    cc = ga.connected_components(pairs)
    assert {r.component for r in cc.collect()} == {0}


def test_connected_components_self_pairs_ignored(spark):
    """r14: the seeded init groups the symmetrized edges per vertex — a
    degenerate self-pair (u, u) must neither seed a phantom vertex nor
    shift any component label (``_sym_edges`` drops it before the
    groupBy)."""
    pairs = spark.createDataFrame(
        [(1, 2), (9, 9)], "id_a long, id_b long"
    )
    cc = ga.connected_components(pairs)
    assert rows_set(cc, "vertex", "component") == {(1, 1), (2, 1)}


def test_connected_components_nonconvergence_raises(spark):
    """r13: exhausting max_iters with labels still moving is an ERROR,
    never a silently under-merged labeling."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(199)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        ga.connected_components(pairs, max_iters=2)


def test_dedup_clusters(spark):
    pairs = spark.createDataFrame([(7, 3), (3, 9)], "id_a long, id_b long")
    out = ga.dedup_clusters(pairs)
    assert rows_set(out, "doc_id", "keep_id") == {(3, 3), (7, 3), (9, 3)}


def test_degrees(spark):
    pairs = spark.createDataFrame([(1, 2), (1, 3)], "id_a long, id_b long")
    assert rows_set(ga.degrees(pairs), "vertex", "degree") == {
        (1, 2), (2, 1), (3, 1),
    }


def test_pagerank_cycle_uniform(spark):
    # on a cycle every vertex has rank exactly 1.0 at every iteration
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "source_id long, target_id long"
    )
    pr = ga.pagerank(edges, iters=5)
    for r in pr.collect():
        assert r.rank == pytest.approx(1.0, abs=1e-9)


def test_pagerank_star_sink_gets_mass(spark):
    # hub → spokes: the hub is dangling-fed only; spokes receive hub mass
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3)], "source_id long, target_id long"
    )
    pr = {r.vertex: r.rank for r in ga.pagerank(edges, iters=10).collect()}
    assert pr[1] == pytest.approx(pr[2]) == pytest.approx(pr[3])
    assert pr[1] > pr[0]  # spokes out-rank the hub
    assert sum(pr.values()) == pytest.approx(4.0, abs=1e-6)  # mass conserved


class TestBfsLevels:
    def test_levels_cycle_and_unreachable(self, spark):
        from tundradb_spark.graphs.algorithms import bfs_levels

        # 0 -> 1 -> 2 -> 0 (cycle), 2 -> 3, isolated 9 unreachable
        edges = spark.createDataFrame(
            [(0, 1), (1, 2), (2, 0), (2, 3), (8, 9)], "src long, dst long"
        )
        src = spark.createDataFrame([(0,)], "vertex long")
        got = {r.vertex: r.level for r in bfs_levels(edges, src).collect()}
        assert got == {0: 0, 1: 1, 2: 2, 3: 3}

    def test_multi_source_takes_min(self, spark):
        from tundradb_spark.graphs.algorithms import bfs_levels

        edges = spark.createDataFrame([(0, 1), (1, 2), (5, 2)], "src long, dst long")
        src = spark.createDataFrame([(0,), (5,)], "vertex long")
        got = {r.vertex: r.level for r in bfs_levels(edges, src).collect()}
        # 2 is reachable at distance 2 from 0 but 1 from 5 — BFS takes 1
        assert got == {0: 0, 5: 0, 1: 1, 2: 1}

    def test_max_hops_truncates(self, spark):
        from tundradb_spark.graphs.algorithms import bfs_levels

        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(6)], "src long, dst long"
        )
        src = spark.createDataFrame([(0,)], "vertex long")
        got = bfs_levels(edges, src, max_hops=2).collect()
        assert max(r.level for r in got) == 2 and len(got) == 3


class TestTriangleCounts:
    def test_known_graph(self, spark):
        from tundradb_spark.graphs.algorithms import triangle_counts

        # K4 on {1,2,3,4}: every vertex is in C(3,2)=3 triangles
        edges = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        out = {r["vertex"]: r["n_triangles"] for r in triangle_counts(df).collect()}
        assert out == {1: 3, 2: 3, 3: 3, 4: 3}

    def test_direction_and_dups_ignored(self, spark):
        from tundradb_spark.graphs.algorithms import triangle_counts

        df = spark.createDataFrame(
            [(1, 2), (2, 1), (2, 3), (3, 1), (1, 3), (3, 4)],
            "id_a long, id_b long",
        )
        out = {r["vertex"]: r["n_triangles"] for r in triangle_counts(df).collect()}
        assert out == {1: 1, 2: 1, 3: 1}

    def test_triangle_free(self, spark):
        from tundradb_spark.graphs.algorithms import triangle_counts

        df = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "id_a long, id_b long")
        assert triangle_counts(df).count() == 0


class TestSssp:
    def test_weighted_shortest_paths(self, spark):
        from tundradb_spark.graphs.algorithms import sssp

        # 0 ->(1) 1 ->(1) 2 ; 0 ->(5) 2 ; 2 ->(1) 3
        e = spark.createDataFrame(
            [(0, 1, 1.0), (1, 2, 1.0), (0, 2, 5.0), (2, 3, 1.0)],
            "src long, dst long, w double",
        )
        s = spark.createDataFrame([(0,)], "vertex long")
        out = {r["vertex"]: r["dist"] for r in sssp(e, s).collect()}
        assert out == {0: 0.0, 1: 1.0, 2: 2.0, 3: 3.0}

    def test_unreachable_absent_and_multi_source(self, spark):
        from tundradb_spark.graphs.algorithms import sssp

        e = spark.createDataFrame(
            [(0, 1, 2.0), (5, 6, 1.0)], "src long, dst long, w double"
        )
        s = spark.createDataFrame([(0,), (5,)], "vertex long")
        out = {r["vertex"]: r["dist"] for r in sssp(e, s).collect()}
        assert out == {0: 0.0, 1: 2.0, 5: 0.0, 6: 1.0}
        assert 99 not in out

    def test_isolated_source_keeps_dist_zero(self, spark):
        """r14: the seeded init derives the first relaxation from the
        edge list — a source with NO outgoing edges must still come back
        at distance 0 through the union path, not vanish."""
        from tundradb_spark.graphs.algorithms import sssp

        e = spark.createDataFrame([(0, 1, 2.0)], "src long, dst long, w double")
        s = spark.createDataFrame([(0,), (7,)], "vertex long")
        out = {r["vertex"]: r["dist"] for r in sssp(e, s).collect()}
        assert out == {0: 0.0, 1: 2.0, 7: 0.0}

    def test_relaxation_beats_greedy(self, spark):
        from tundradb_spark.graphs.algorithms import sssp

        # longer hop count but cheaper total must win
        e = spark.createDataFrame(
            [(0, 9, 10.0), (0, 1, 1.0), (1, 2, 1.0), (2, 9, 1.0)],
            "src long, dst long, w double",
        )
        s = spark.createDataFrame([(0,)], "vertex long")
        out = {r["vertex"]: r["dist"] for r in sssp(e, s).collect()}
        assert out[9] == 3.0


class TestPersonalizedPagerank:
    def test_locality_and_mass(self, spark):
        from tundradb_spark.graphs.algorithms import personalized_pagerank

        # two disconnected components; sources only in the first
        e = spark.createDataFrame(
            [(0, 1), (1, 2), (2, 0), (10, 11), (11, 10)],
            "source_id long, target_id long",
        )
        s = spark.createDataFrame([(0,)], "vertex long")
        out = {r["vertex"]: r["rank"] for r in
               personalized_pagerank(e, s, iters=8).collect()}
        # unreachable component holds zero rank
        assert out[10] == 0.0 and out[11] == 0.0
        # mass conserved at |V| = 5
        assert sum(out.values()) == pytest.approx(5.0, abs=1e-6)
        # the source outranks its downstream neighbors
        assert out[0] > out[1] > 0

    def test_uniform_sources_recover_standard(self, spark):
        from tundradb_spark.graphs.algorithms import pagerank, personalized_pagerank

        e = spark.createDataFrame(
            [(0, 1), (1, 2), (2, 0), (0, 2)], "source_id long, target_id long"
        )
        all_v = spark.createDataFrame([(0,), (1,), (2,)], "vertex long")
        std = {r["vertex"]: r["rank"] for r in pagerank(e, iters=6).collect()}
        ppr = {r["vertex"]: r["rank"] for r in
               personalized_pagerank(e, all_v, iters=6).collect()}
        for v in std:
            assert ppr[v] == pytest.approx(std[v], abs=1e-9)

    def test_empty_sources_raise(self, spark):
        from tundradb_spark.graphs.algorithms import personalized_pagerank

        e = spark.createDataFrame([(0, 1)], "source_id long, target_id long")
        s = spark.createDataFrame([], "vertex long")
        with pytest.raises(ValueError):
            personalized_pagerank(e, s)


class TestLabelPropagation:
    def test_clique_converges_to_min_label(self, spark):
        from tundradb_spark.graphs.algorithms import label_propagation

        # K4: after round 1 every vertex holds the min neighbor label; by
        # round 2 all agree on 1 (tie-breaks are min-label)
        edges = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        out = {r["vertex"]: r["label"]
               for r in label_propagation(df, iters=3).collect()}
        assert set(out.values()) == {1}

    def test_two_cliques_two_labels(self, spark):
        from tundradb_spark.graphs.algorithms import label_propagation

        edges = [(a, b) for a in range(1, 4) for b in range(a + 1, 4)]
        edges += [(a, b) for a in range(10, 13) for b in range(a + 1, 13)]
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        out = {r["vertex"]: r["label"]
               for r in label_propagation(df, iters=3).collect()}
        assert {out[v] for v in (1, 2, 3)} == {1}
        assert {out[v] for v in (10, 11, 12)} == {10}

    def test_deterministic_across_partitionings(self, spark):
        from tundradb_spark.graphs.algorithms import label_propagation

        edges = [(i, (i * 3 + 1) % 20) for i in range(20)]
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        a = sorted(map(tuple, label_propagation(df, iters=4).collect()))
        b = sorted(map(tuple, label_propagation(
            df.repartition(7), iters=4).collect()))
        assert a == b

    def test_validation(self, spark):
        from tundradb_spark.graphs.algorithms import label_propagation

        df = spark.createDataFrame([(0, 1)], "id_a long, id_b long")
        with pytest.raises(ValueError):
            label_propagation(df, iters=0)


class TestHits:
    def test_bipartite_authority_proportional_to_indegree(self, spark):
        from tundradb_spark.graphs.algorithms import hits

        # hubs 0..4 -> authorities 10 (3 in-edges) and 11 (2 in-edges)
        e = spark.createDataFrame(
            [(0, 10), (1, 10), (2, 10), (3, 11), (4, 11)],
            "source_id long, target_id long",
        )
        out = {r["vertex"]: r for r in hits(e, iters=3).collect()}
        assert out[10]["authority"] > out[11]["authority"] > 0
        assert out[10]["hub"] == 0.0  # pure authority
        assert out[0]["authority"] == 0.0  # pure hub
        # hubs pointing at the stronger authority score higher
        assert out[0]["hub"] > out[3]["hub"]

    def test_mass_normalization(self, spark):
        from tundradb_spark.graphs.algorithms import hits

        e = spark.createDataFrame(
            [(0, 1), (1, 2), (2, 0)], "source_id long, target_id long"
        )
        out = hits(e, iters=4).collect()
        assert sum(r["hub"] for r in out) == pytest.approx(3.0, abs=1e-9)
        assert sum(r["authority"] for r in out) == pytest.approx(3.0, abs=1e-9)


class TestClusteringCoefficients:
    def test_triangle_with_pendant(self, spark):
        from tundradb_spark.graphs.algorithms import clustering_coefficients

        # triangle {1,2,3} plus pendant 4 attached to 3
        df = spark.createDataFrame(
            [(1, 2), (2, 3), (1, 3), (3, 4)], "id_a long, id_b long"
        )
        out = {r["vertex"]: r for r in clustering_coefficients(df).collect()}
        assert out[1]["coeff"] == 1.0 and out[2]["coeff"] == 1.0
        # vertex 3: degree 3, one triangle → 2*1/(3*2)
        assert out[3]["degree"] == 3
        assert out[3]["coeff"] == pytest.approx(1 / 3, abs=1e-6)
        # pendant: degree 1 → defined as 0
        assert out[4]["coeff"] == 0.0 and out[4]["n_triangles"] == 0

    def test_complete_graph_is_all_ones(self, spark):
        from tundradb_spark.graphs.algorithms import clustering_coefficients

        edges = [(i, j) for i in range(5) for j in range(i + 1, 5)]
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        for r in clustering_coefficients(df).collect():
            assert r["coeff"] == 1.0 and r["degree"] == 4 and r["n_triangles"] == 6


def _py_kcore(edges, k):
    """Pure-python peeling reference."""
    adj = {}
    for a, b in edges:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    changed = True
    while changed:
        changed = False
        for v in [v for v, ns in adj.items() if len(ns) < k]:
            for u in adj.pop(v):
                adj[u].discard(v)
            changed = True
    return {v: len(ns) for v, ns in adj.items() if ns}


class TestKCore:
    def test_known_graph(self, spark):
        from tundradb_spark.graphs.algorithms import k_core

        # K4 core {1,2,3,4} plus a tail 4-5-6
        edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6)]
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        out = {r["vertex"]: r["core_degree"] for r in k_core(df, 3).collect()}
        assert out == {1: 3, 2: 3, 3: 3, 4: 3}

    def test_no_core_is_empty(self, spark):
        from tundradb_spark.graphs.algorithms import k_core

        df = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
        assert k_core(df, 2).count() == 0

    def test_matches_python_peeling_on_random_graph(self, spark):
        import random

        from tundradb_spark.graphs.algorithms import k_core

        rng = random.Random(5)
        edges = list(
            {
                (min(a, b), max(a, b))
                for a, b in (
                    (rng.randrange(40), rng.randrange(40)) for _ in range(120)
                )
                if a != b
            }
        )
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        for k in (2, 3, 4):
            got = {
                r["vertex"]: r["core_degree"] for r in k_core(df, k).collect()
            }
            assert got == _py_kcore(edges, k), k

    def test_validation(self, spark):
        from tundradb_spark.graphs.algorithms import k_core

        df = spark.createDataFrame([(0, 1)], "id_a long, id_b long")
        with pytest.raises(ValueError):
            k_core(df, 0)


class TestPprIsolatedSeed:
    def test_isolated_seed_conserves_mass(self, spark):
        """A seed with no edges must still hold its reset share (as a
        dangling vertex) — deriving the universe from edges alone leaks
        its n/|S| mass and deflates every rank."""
        from tundradb_spark.graphs.algorithms import personalized_pagerank

        e = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 1)], "source_id long, target_id long"
        )
        seeds = spark.createDataFrame([(1,), (99,)], "vertex long")  # 99 isolated
        out = personalized_pagerank(e, seeds, iters=4)
        ranks = {r["vertex"]: r["rank"] for r in out.collect()}
        assert 99 in ranks and ranks[99] > 0  # the seed exists and holds mass
        # ranks sum to |V| = 4 every round
        assert sum(ranks.values()) == pytest.approx(4.0, abs=1e-9)


class TestConvergenceEarlyExit:
    """Round-6: tol/stability-based early exit for the iterative ops —
    iters becomes a cap, not a fixed cost; tol=None keeps the
    oracle-pinned exact-iteration mode."""

    @pytest.mark.fulltier  # ~95 s 60-iter equivalence re-run;
    # the cheap tol=None exactness pin below stays in the fast tier
    def test_pagerank_tol_matches_long_run(self, spark):
        from tundradb_spark.graphs.algorithms import pagerank

        e = spark.createDataFrame(
            [(0, 1), (1, 2), (2, 0), (0, 2), (3, 0)],
            "source_id long, target_id long",
        )
        full = {r["vertex"]: r["rank"] for r in pagerank(e, iters=60).collect()}
        early = {
            r["vertex"]: r["rank"]
            for r in pagerank(e, iters=60, tol=1e-9).collect()
        }
        for v in full:
            assert early[v] == pytest.approx(full[v], abs=1e-6)

    def test_pagerank_tol_none_is_exact_iteration_mode(self, spark):
        from tundradb_spark.graphs.algorithms import pagerank

        e = spark.createDataFrame(
            [(0, 1), (1, 0)], "source_id long, target_id long"
        )
        a = sorted(map(tuple, pagerank(e, iters=3).collect()))
        b = sorted(map(tuple, pagerank(e, iters=3, tol=None).collect()))
        assert a == b

    @pytest.mark.fulltier  # ~95 s 60-iter equivalence re-run;
    # the cheap tol=None exactness pin below stays in the fast tier
    def test_ppr_tol_matches_long_run(self, spark):
        from tundradb_spark.graphs.algorithms import personalized_pagerank

        e = spark.createDataFrame(
            [(0, 1), (1, 2), (2, 0)], "source_id long, target_id long"
        )
        s = spark.createDataFrame([(0,)], "vertex long")
        full = {
            r["vertex"]: r["rank"]
            for r in personalized_pagerank(e, s, iters=60).collect()
        }
        early = {
            r["vertex"]: r["rank"]
            for r in personalized_pagerank(e, s, iters=60, tol=1e-9).collect()
        }
        for v in full:
            assert early[v] == pytest.approx(full[v], abs=1e-6)

    def test_lpa_stops_when_stable(self, spark):
        from tundradb_spark.graphs.algorithms import label_propagation

        # K4 stabilizes by round 2; six rounds must return the same
        # labels as the plain 3-round run
        edges = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        stable = sorted(map(tuple, label_propagation(df, iters=6).collect()))
        fixed = sorted(map(tuple, label_propagation(df, iters=3).collect()))
        assert stable == fixed


class TestKCoreFixpoint:
    def test_long_path_peels_to_empty(self, spark):
        from tundradb_spark.graphs.algorithms import k_core

        # r5 advice repro: a 12-vertex path has NO 2-core; peeling needs
        # ~6 rounds (one layer per round) — must converge, not cap out
        df = spark.createDataFrame(
            [(i, i + 1) for i in range(11)], "id_a long, id_b long"
        )
        assert k_core(df, 2).count() == 0

    def test_finite_cap_raises_instead_of_lying(self, spark):
        from tundradb_spark.graphs.algorithms import k_core

        df = spark.createDataFrame(
            [(i, i + 1) for i in range(11)], "id_a long, id_b long"
        )
        with pytest.raises(RuntimeError, match="fixpoint"):
            k_core(df, 2, max_iters=2)


def _jobs_in(spark, group, fn):
    """Spark jobs ``fn()`` submits, counted with a job group (any job
    submitted while the group is active lands in it)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


class TestJobsPerRound:
    """Each round of an iterative operator is one materialization, and its
    convergence value comes from that job: the per-round job count is the
    round plan's exchanges + 1, with no separate action."""

    def test_pagerank_round_costs_at_most_three_jobs(self, spark):
        from pyspark.sql import functions as F

        from tundradb_spark.graphs.algorithms import pagerank

        # a 30-cycle plus edges from every third vertex into the sink 30.
        # Built from range scans so the planner knows its size (as for a
        # parquet scan) and broadcasts a join side; an input of unknown
        # size plans a sort-merge join, one more exchange per round.
        ring = spark.range(30).select(
            F.col("id").alias("source_id"), ((F.col("id") + 1) % 30).alias("target_id")
        )
        sink = spark.range(0, 30, 3).select(
            F.col("id").alias("source_id"), F.lit(30).cast("long").alias("target_id")
        )
        e = ring.union(sink)
        pagerank(e, iters=2).collect()  # warm-up: codegen
        two = _jobs_in(spark, "pr-iters-2", lambda: pagerank(e, iters=2).collect())
        three = _jobs_in(spark, "pr-iters-3", lambda: pagerank(e, iters=3).collect())
        # one broadcast of the smaller join side, one shuffle map stage for
        # the destination groupBy, one final stage that also observes Σrecv
        assert three - two <= 3, (two, three)

    def test_hits_round_observes_its_totals(self, spark):
        from pyspark.sql import functions as F

        from tundradb_spark.graphs.algorithms import hits

        # the PageRank test's graph: a 30-cycle plus edges into the sink 30
        ring = spark.range(30).select(
            F.col("id").alias("source_id"), ((F.col("id") + 1) % 30).alias("target_id")
        )
        sink = spark.range(0, 30, 3).select(
            F.col("id").alias("source_id"), F.lit(30).cast("long").alias("target_id")
        )
        e = ring.union(sink)
        hits(e, iters=2).collect()  # warm-up: codegen
        two = _jobs_in(spark, "hits-iters-2", lambda: hits(e, iters=2).collect())
        three = _jobs_in(spark, "hits-iters-3", lambda: hits(e, iters=3).collect())
        # two half-steps per round, each one materialization whose job
        # also observes the normalizing total: no cross-joined aggregate
        assert three - two <= 10, (two, three)

    def test_cc_round_fires_no_separate_convergence_job(self, spark, monkeypatch):
        from tundradb_spark.graphs import algorithms

        sc = spark.sparkContext
        call_group = "cc-call"
        materialize = algorithms.materialize

        def grouped(*args, **kwargs):
            sc.setJobGroup("cc-materialize", "cc-materialize")
            try:
                return materialize(*args, **kwargs)
            finally:
                sc.setJobGroup(call_group, call_group)

        monkeypatch.setattr(algorithms, "materialize", grouped)
        # a 16-vertex path with shuffled ids needs several rounds
        ids = [7, 3, 12, 0, 15, 9, 4, 11, 1, 14, 6, 10, 2, 13, 5, 8]
        df = spark.createDataFrame(
            list(zip(ids, ids[1:])), "id_a long, id_b long"
        )
        labels = {}
        outside = _jobs_in(
            spark, call_group,
            lambda: labels.update(algorithms.connected_components(df).collect()),
        )
        assert labels == {v: 0 for v in ids}
        # the only job outside a materialization is the final collect
        assert outside == 1, outside


_RETRY_SCRIPT = r"""
import json, os, sys
from pyspark import TaskContext
from pyspark.sql import functions as F
from tundradb_spark.graphs import algorithms as A
from tundradb_spark.session import get_spark

marks = sys.argv[1]
spark = get_spark("retry-probe", cpus=2, extra_conf={"spark.master": "local[2,2]"})
spark.sparkContext.setLogLevel("ERROR")
rows = (
    [(i, i + 1) for i in range(0, 20)]                # a path
    + [(i, (i * 7) % 15 + 30) for i in range(30, 45)]  # a tangle
    + [(50 + i, 50 + (i * 3 + 1) % 11) for i in range(11)]
)


def fail_first_attempt(x):
    tc = TaskContext.get()
    if tc.partitionId() == 0 and tc.attemptNumber() == 0:
        open(os.path.join(marks, f"stage-{tc.stageId()}"), "w").close()
        raise RuntimeError("injected failure of a first task attempt")
    return x


def run(edges):
    sym = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    srcs = spark.createDataFrame([(0,), (33,)], "vertex long")
    return {
        "labels": sorted(map(tuple, A.connected_components(edges, "src", "dst").collect())),
        "levels": sorted(map(tuple, A.bfs_levels(sym, srcs, "src", "dst", max_hops=30).collect())),
        "ranks": sorted(map(tuple, A.pagerank(edges, "src", "dst", iters=4).collect())),
    }


plain = run(spark.createDataFrame(rows, "src long, dst long").repartition(3))
spark.sparkContext.setCheckpointDir(os.path.join(marks, "ckpt"))
flaky = F.udf(fail_first_attempt, "long")
retried = run(
    spark.createDataFrame(rows, "src long, dst long").repartition(3)
    .select(flaky("src").alias("src"), "dst")
)
print("RESULT " + json.dumps({"plain": plain, "retried": retried}))
spark.stop()
"""


def test_reliable_checkpoint_dir_and_task_retry_keep_results(tmp_path):
    """CC, BFS and PageRank under a reliable checkpoint dir on local[2,2],
    with the input passed through a UDF that fails the first attempt of
    partition 0: results equal a plain run, so observed convergence values
    are neither lost nor double-counted.  A subprocess keeps the
    checkpoint dir and the master out of the shared test session."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": repo + os.pathsep + os.environ.get("PYTHONPATH", "")}
    proc = subprocess.run(
        [sys.executable, "-c", _RETRY_SCRIPT, str(tmp_path)],
        cwd=repo, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    line = next(x for x in proc.stdout.splitlines() if x.startswith("RESULT "))
    got = json.loads(line[len("RESULT "):])
    plain, retried = got["plain"], got["retried"]
    assert any(p.startswith("stage-") for p in os.listdir(tmp_path))  # retried
    assert os.listdir(tmp_path / "ckpt")  # reliable checkpoints were written
    assert retried["labels"] == plain["labels"]
    assert retried["levels"] == plain["levels"]
    assert [v for v, _ in retried["ranks"]] == [v for v, _ in plain["ranks"]]
    for (_, a), (_, b) in zip(retried["ranks"], plain["ranks"]):
        assert abs(a - b) <= 1e-12
