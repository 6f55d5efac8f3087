"""Distributed graph algorithms over node/edge DataFrames (SURVEY.md §7 M6:
the GraphFrames-style analytics extension — the reference has no graph
algorithms at all, only pattern-match traversal).

Implemented directly as iterative DataFrame programs (GraphFrames is not a
container dependency) with the standard scale disciplines:

- each round is a Pregel superstep (GraphX, OSDI 2014): the edge list is
  materialized once and stays put, and only vertex state moves;
- each round materializes ONCE, through ``session.materialize``, which
  cuts the lineage (without it round k re-executes rounds 1..k-1) and
  honors a reliable checkpoint dir.  Under AQE every shuffle or broadcast
  stage of that plan runs as its own job, so a round costs (its exchanges
  + 1) jobs, and a round plan is kept to the fewest exchanges that
  compute it;
- a round's convergence value (changed labels, frontier size, dangling
  mass, improved distances, surviving edges) is an aggregate OBSERVED by
  that same job, never a second action.

``connected_components`` composes with the dedup operators: the duplicate
PAIRS from minhash/simhash/embedding LSH become duplicate CLUSTERS (pick
``min(component)`` as the canonical doc — the standard corpus-dedup step).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from tundradb_spark.session import materialize


def _sym_edges(pairs: DataFrame, src: str, dst: str) -> DataFrame:
    """Symmetrized, deduped edge list (u, v) with both directions."""
    e = pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    return e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).filter(
        F.col("u") != F.col("v")
    ).distinct()


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iters: int = 50,
    presymmetrized: bool = False,
) -> DataFrame:
    """Label every vertex with the MIN vertex id reachable from it.

    Min-label propagation WITH POINTER JUMPING (r13): each round every
    vertex takes the minimum of its own label and its neighbors' labels
    (one edge join + groupBy), then follows its label's label (one
    label-table self-join — Shiloach-Vishkin-style shortcutting), so
    label distance to the component minimum roughly halves per round on
    top of the one-hop spread.  Rounds needed ≈ log₂(diameter) instead
    of diameter — dedup near-cliques still converge in 2-3 rounds, and
    a 10⁶-vertex PATH (the worst case that silently exhausted the old
    diameter-bound loop at max_iters=50) now needs ~20.

    NON-CONVERGENCE IS AN ERROR (r13): if labels are still changing
    after ``max_iters`` rounds the function RAISES instead of returning
    a partially-propagated labeling — an unconverged result silently
    splits components, which under-merges dedup clusters and, worse,
    lets near-duplicates straddle train/val/test in
    ``sampling.leakage_safe_split`` (the exact leak that operator
    exists to close).  Raise ``max_iters`` for pathological graphs.

    ``presymmetrized=True`` declares ``pairs`` an ALREADY symmetrized,
    deduped, materialized (u, v) edge list — callers running several
    algorithms over the same pair graph (q_dup_clusters: CC + LPA) build
    ``materialize(_sym_edges(...))`` once instead of paying the
    symmetrize-distinct shuffle and its checkpoint per algorithm.

    Returns ``(vertex, component)`` — component = min id of the cluster.
    """
    if presymmetrized:
        edges = pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    else:
        # symmetrize WITHOUT _sym_edges' dedup shuffle (r14 optimization
        # round): every aggregate this loop takes over edges is a MIN —
        # duplicate-invariant — so the distinct bought nothing but a full
        # exchange of the edge list before round 1 (A/B at sf0.1: best
        # 2.65 -> 2.37 s; labelings identical, including on an input with
        # repeated pairs).  degrees()/label_propagation keep _sym_edges'
        # distinct — their COUNT aggregates are not duplicate-invariant.
        e = pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        edges = materialize(
            e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .filter(F.col("u") != F.col("v")),
            eager=False,
        )
    # seed each vertex with its 1-hop neighborhood minimum instead of the
    # identity label (r14 optimization round): the groupBy costs the same
    # one shuffle the old `distinct` init paid, but starts the loop in
    # exactly the state round 1's neighbor-min step would have produced —
    # one fewer full round on every graph (A/B at sf0.1 over the MinHash
    # pair graph: best 2.46 -> 1.93 s; labelings identical, including on a
    # 300-vertex path)
    labels = materialize(
        edges.groupBy(F.col("u").alias("vertex"))
        .agg(F.min("v").alias("__nb"))
        .select(
            "vertex",
            F.least(F.col("vertex"), F.col("__nb")).alias("component"),
        ),
        eager=False,
    )
    # frontier-restricted propagation (r15, r14 verdict item 7 / guide
    # §2.3 "shuffle fewer bytes"): only labels that DECREASED last round
    # can lower a neighbor this round — a neighbor v untouched since
    # round j had its label folded into every u∈N(v) in round j+1, so
    # the full edges⨝labels join re-shipped bytes that could not change
    # the min.  Joining edges against the changed subset only produces
    # the identical label table every round (per-round equality pinned
    # by tests on dup/path/self-loop graphs) while the joined bytes
    # shrink monotonically with the frontier.  Round 1's frontier is the
    # whole seeded label table — every seed label is new by definition.
    frontier = labels
    changed = 1
    for _ in range(max_iters):
        # own label and the labels of CHANGED neighbors (the min over
        # them equals the min over all neighbors — see frontier note
        # above) as one tagged union under ONE groupBy: a left join of
        # labels against the per-vertex neighbor minimum would shuffle
        # both sides again.  Every vertex has a label row (edges are
        # symmetric), so the group's own-label maximum is its old label.
        nbr = edges.join(frontier, edges["v"] == frontier["vertex"]).select(
            F.col("u").alias("vertex"), "component", F.lit(False).alias("__own")
        )
        stepped = (
            labels.withColumn("__own", F.lit(True))
            .unionByName(nbr)
            .groupBy("vertex")
            .agg(
                F.max(F.when(F.col("__own"), F.col("component"))).alias("__old"),
                F.min("component").alias("__c1"),
            )
        )
        # pointer jump: follow my label's label (labels are always vertex
        # ids, so __c1 resolves against the same table) — halves label
        # distance to the component minimum every round.  __pc reads
        # __old too (least(__old, __c1) IS __c1: the own label is among
        # the minimized values), so column pruning leaves both sides of
        # this self-join the same plan and they share its exchanges
        par = stepped.select(
            F.col("vertex").alias("__pv"),
            F.least("__old", "__c1").alias("__pc"),
        )
        new_labels, stats = materialize(
            stepped.join(par, stepped["__c1"] == par["__pv"], "left").select(
                "vertex",
                F.least(
                    F.col("__c1"), F.coalesce("__pc", F.col("__c1"))
                ).alias("component"),
                (
                    F.least(
                        F.col("__c1"), F.coalesce("__pc", F.col("__c1"))
                    )
                    < F.col("__old")
                ).alias("changed"),
            ),
            F.count_if("changed").alias("changed"),
        )
        changed = stats["changed"]
        labels = new_labels.drop("changed")
        # next round's frontier: the rows whose component just decreased
        # (a lazy filter over the round's materialized labels)
        frontier = new_labels.filter("changed").select("vertex", "component")
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"connected_components did not converge within max_iters="
            f"{max_iters} rounds (labels were still changing) — the graph's"
            f" effective diameter exceeds the budget even with pointer"
            f" jumping; raise max_iters rather than consuming a"
            f" partially-merged labeling (it under-merges dedup clusters"
            f" and leaks near-duplicates across splits)"
        )
    return labels


def dedup_clusters(
    pairs: DataFrame, src: str = "id_a", dst: str = "id_b"
) -> DataFrame:
    """Duplicate clusters from near-dup pairs: ``(doc_id, keep_id)`` where
    ``keep_id`` is the cluster's canonical (minimum) id. Rows with
    ``doc_id == keep_id`` are the survivors; the rest are the removal set."""
    cc = connected_components(pairs, src, dst)
    return cc.select(
        F.col("vertex").alias("doc_id"), F.col("component").alias("keep_id")
    )


def degrees(pairs: DataFrame, src: str = "id_a", dst: str = "id_b") -> DataFrame:
    """Undirected degree per vertex — one explode-free groupBy."""
    return (
        _sym_edges(pairs, src, dst)
        .groupBy(F.col("u").alias("vertex"))
        .agg(F.count(F.lit(1)).alias("degree"))
    )


def _out_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """The deduped directed edge list ``(u, v, outdeg)``, out-degree
    attached once, materialized lazily: the loop-invariant side of every
    power-iteration round."""
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).distinct()
    return materialize(
        e.withColumn("outdeg", F.count(F.lit(1)).over(Window.partitionBy("u"))),
        eager=False,
    )


def _power_iteration(
    eo: DataFrame,
    pv: DataFrame,
    n: int,
    damping: float,
    iters: int,
    tol: float | None,
) -> DataFrame:
    """The power-iteration loop :func:`pagerank` and
    :func:`personalized_pagerank` share.  ``eo`` is :func:`_out_edges`,
    ``pv`` the ``(vertex, p)`` reset vector over all ``n`` vertices (1.0
    everywhere for PageRank); ranks start at ``p``.

    One round is one materialization of
    ``groupBy(vertex).sum`` over the union of a zero contribution per
    vertex (which also carries ``p``) and the real contributions
    ``rank / outdeg`` along each edge, so every vertex gets a row without
    a join (``x + 0.0 == x``, the sums are unchanged).  The same job
    observes ``Σrecv``; the dangling mass ``n − Σrecv`` (rank not passed
    along any edge) then enters the next rank as a literal:
    ``(1 − d)·p + d·(recv + dangling·p / n)``, so ranks sum to ``n`` every
    round.

    ``tol``: each round's zero rows also carry ``|rank − previous rank|``,
    so round k+1's job observes the L1 delta of round k; once it is below
    ``tol`` the loop returns round k's ranks.  Same result as checking
    after round k, for the price of one speculative round instead of an
    extra join and action every round.
    """
    track = tol is not None
    carry = ["prev", "dl"] if track else []
    ranks = pv.select(
        "vertex", "p", F.col("p").alias("rank"),
        *([F.col("p").alias("prev")] if track else []),
    )
    for i in range(iters):
        zeros = ranks.select(
            "vertex",
            F.lit(0.0).alias("c"),
            "p",
            *(
                [
                    F.col("rank").alias("prev"),
                    F.abs(F.col("rank") - F.col("prev")).alias("dl"),
                ]
                if track
                else []
            ),
        )
        contribs = eo.join(
            ranks.select(F.col("vertex").alias("u"), "rank"), "u"
        ).select(
            F.col("v").alias("vertex"),
            (F.col("rank") / F.col("outdeg")).alias("c"),
            *[F.lit(0.0).alias(c) for c in ("p", *carry)],
        )
        summed, stats = materialize(
            zeros.unionByName(contribs)
            .groupBy("vertex")
            .agg(
                F.sum("c").alias("recv"),
                *[F.sum(c).alias(c) for c in ("p", *carry)],
            ),
            F.sum("recv").alias("recv"),
            *([F.sum("dl").alias("delta")] if track else []),
        )
        if track and i > 0 and (stats["delta"] or 0.0) < tol:
            break  # the previous round's ranks are within tol of their own
        dangling = float(n) - (stats["recv"] or 0.0)
        ranks = summed.select(
            "vertex",
            "p",
            (
                F.lit(1.0 - damping) * F.col("p")
                + F.lit(damping)
                * (
                    F.col("recv")
                    + F.lit(dangling) * F.col("p") / F.lit(float(n))
                )
            ).alias("rank"),
            *(["prev"] if track else []),
        )
    return ranks.select("vertex", "rank")


def pagerank(
    edges: DataFrame,
    src: str = "source_id",
    dst: str = "target_id",
    damping: float = 0.85,
    iters: int = 10,
    tol: float | None = None,
) -> DataFrame:
    """Standard power-iteration PageRank over a directed edge DataFrame.

    Each round is one materialization: the rank × edge join (the
    out-degree rides on the edge list) and one groupBy on the destination
    (see :func:`_power_iteration`).  Dangling-node mass is redistributed
    uniformly so ranks sum to |V| every round (the convention GraphX uses
    with ``resetProb = 1 - damping``).

    ``tol``: convergence-based early exit — stop as soon as the L1 rank
    delta of a round falls below ``tol`` (``iters`` becomes the CAP, not
    the fixed cost; the delta is observed by the next round's job).
    ``tol=None`` (default) runs exactly ``iters`` rounds — the mode the
    unrolled SQL oracles pin.

    Returns ``(vertex, rank)``.
    """
    eo = _out_edges(edges, src, dst)
    verts, stats = materialize(
        eo.select(F.col("u").alias("vertex"))
        .union(eo.select(F.col("v").alias("vertex")))
        .distinct(),
        F.count(F.lit(1)).alias("n"),
    )
    pv = verts.withColumn("p", F.lit(1.0))
    return _power_iteration(eo, pv, stats["n"], damping, iters, tol)


def bfs_levels(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    vertex_col: str = "vertex",
    max_hops: int = 10,
) -> DataFrame:
    """Multi-source BFS: hop distance from the source set to every
    reachable vertex (directed edges; pass a symmetrized list for
    undirected reach).

    The scale-standard iterative frontier program: per level, ONE join
    (frontier → out-neighbors) plus one LEFT ANTI against the visited set;
    both are equi-joins Catalyst plans freely (a small frontier
    broadcasts).  Each hop's new frontier is materialized once, so round
    k never re-executes rounds 1..k-1, and that job also observes the
    frontier's size.  Terminates on an empty frontier or ``max_hops``.

    Returns ``(vertex, level)`` with level 0 for the sources — the
    reachability/radius primitive the reference's join-only traversal
    cannot express (its MATCH is fixed-length).
    """
    # the visited set is NEVER re-materialized: it and the result are flat
    # unions of the per-hop frontiers, so plan depth stays bounded by
    # max_hops with nothing re-executed
    frontier = materialize(
        sources.select(F.col(vertex_col).alias("vertex")).distinct(),
        eager=False,
    )
    levels = [frontier.withColumn("level", F.lit(0))]
    visited = frontier
    # loop-invariant edge list materialized once: otherwise every hop's
    # plan replays the caller's edge construction (scans, unions,
    # projections) from scratch
    out = materialize(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v")), eager=False
    )
    for hop in range(1, max_hops + 1):
        nxt, stats = materialize(
            out.join(frontier.withColumnRenamed("vertex", "u"), "u")
            .select(F.col("v").alias("vertex"))
            .distinct()
            .join(visited, "vertex", "left_anti"),
            F.count(F.lit(1)).alias("n"),
        )
        if stats["n"] == 0:
            break
        levels.append(nxt.withColumn("level", F.lit(hop)))
        visited = visited.unionByName(nxt)
        frontier = nxt
    result = levels[0]
    for lv in levels[1:]:
        result = result.unionByName(lv)
    return result


def triangle_counts(
    pairs: DataFrame, src: str = "id_a", dst: str = "id_b"
) -> DataFrame:
    """Per-vertex triangle participation counts over the undirected graph.

    The MapReduce-standard degree-ordered formulation (Suri &
    Vassilvitskii 2011): canonicalize each undirected edge as
    ``a < b``, enumerate wedges by joining the edge list with itself on
    the middle vertex, and close each wedge with a third edge lookup —
    with ``a < b < c`` ordering every triangle is produced exactly ONCE.
    Two equi-joins of the (deduplicated) edge list; at scale the wedge
    join's cost is bounded by the degree distribution, and skewed hubs
    are exactly what AQE's skew-join splitting handles.

    Returns ``(vertex, n_triangles)`` for every vertex in ≥1 triangle.
    """
    a, b = F.col(src).cast("long"), F.col(dst).cast("long")
    e = (
        pairs.select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    e1 = e.alias("e1")
    e2 = e.alias("e2")
    e3 = e.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("x"),
            F.col("e1.b").alias("y"),
            F.col("e2.b").alias("z"),
        )
    )
    return (
        tri.select(F.explode(F.array("x", "y", "z")).alias("vertex"))
        .groupBy("vertex")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def clustering_coefficients(
    pairs: DataFrame, src: str = "id_a", dst: str = "id_b"
) -> DataFrame:
    """Local clustering coefficient per vertex:
    ``2·T(v) / (d(v)·(d(v)−1))`` — how close each vertex's neighborhood is
    to a clique.  The standard community-structure signal one step past
    :func:`triangle_counts`, which this reuses (same two wedge joins; the
    degree side is one extra groupBy).

    Vertices with degree < 2 have an undefined coefficient and emit 0.0
    (the networkx convention).  The coefficient is a single IEEE division
    of exact integers, rounded to 6 — bit-reproducible by a SQL oracle.

    Returns ``(vertex, degree, n_triangles, coeff)`` for every vertex.
    """
    deg = degrees(pairs, src, dst)
    tri = triangle_counts(pairs, src, dst)
    joined = deg.join(tri, "vertex", "left").select(
        "vertex",
        F.col("degree").cast("long").alias("degree"),
        F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long").alias(
            "n_triangles"
        ),
    )
    return joined.withColumn(
        "coeff",
        F.round(
            F.when(
                F.col("degree") > 1,
                F.lit(2.0)
                * F.col("n_triangles").cast("double")
                / (
                    F.col("degree").cast("double")
                    * (F.col("degree") - 1).cast("double")
                ),
            ).otherwise(0.0),
            6,
        ),
    )


def k_core(
    pairs: DataFrame,
    k: int,
    src: str = "id_a",
    dst: str = "id_b",
    max_iters: int | None = None,
) -> DataFrame:
    """k-core decomposition subgraph: the maximal vertex set in which
    every vertex has ≥ ``k`` neighbors WITHIN the set — the standard
    dense-region extractor (spam farms, tightly-duplicated doc clusters,
    collaboration cores).

    Iterative peeling as a frontier program: each round recomputes degrees
    over the surviving edge set and drops vertices below ``k``; runs to
    the FIXPOINT (each non-converged round strictly shrinks the edge set,
    so termination is guaranteed in ≤ peel-depth rounds — long chains
    peel one layer per round).  ``max_iters`` is an optional safety
    valve: if given and exhausted before the fixpoint, this RAISES
    instead of returning a set that violates the core invariant (r5
    advice: a silent cap could hand back vertices with in-set degree
    < k).  Per round: one groupBy + one semi-join pair, materialized so
    round i never replays rounds 1..i-1; the surviving edge count that
    decides the fixpoint is observed by that materialization.

    Returns ``(vertex, core_degree)`` — the surviving vertices and their
    degree inside the core (≥ k by construction; empty if no k-core).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    a, b = F.col(src).cast("long"), F.col(dst).cast("long")
    edges, stats = materialize(
        pairs.select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct(),
        F.count(F.lit(1)).alias("m"),
    )
    rounds = 0
    while True:
        deg = (
            edges.select(F.col("a").alias("u"))
            .unionByName(edges.select(F.col("b").alias("u")))
            .groupBy("u")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        keep = materialize(
            deg.filter(F.col("d") >= k).select("u"), eager=False
        )
        m = stats["m"]
        edges, stats = materialize(
            edges.join(keep.withColumnRenamed("u", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("u", "b"), "b", "left_semi")
            .select("a", "b"),
            F.count(F.lit(1)).alias("m"),
        )
        converged = stats["m"] == m
        rounds += 1
        if converged:
            break
        if max_iters is not None and rounds >= max_iters:
            raise RuntimeError(
                f"k_core did not reach its fixpoint within max_iters="
                f"{max_iters} rounds; pass max_iters=None to peel to "
                f"convergence"
            )
    return (
        edges.select(F.col("a").alias("vertex"))
        .unionByName(edges.select(F.col("b").alias("vertex")))
        .groupBy("vertex")
        .agg(F.count(F.lit(1)).alias("core_degree"))
    )


def sssp(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    vertex_col: str = "vertex",
    max_iters: int = 20,
) -> DataFrame:
    """Single-source (multi-source) shortest paths over WEIGHTED directed
    edges — Bellman-Ford as the standard iterative frontier program
    (:func:`bfs_levels` is the unit-weight special case).

    Per round: one equi-join (current distances → out-edges) and a
    ``groupBy(vertex).min`` merge with the previous distances, which
    carry along as ``old``; the round is materialized once, so round k
    never replays rounds 1..k-1, and that job observes the improvement
    count that ends the loop.
    Converges in ≤ diameter rounds on non-negative weights; ``max_iters``
    bounds adversarial inputs (negative-cycle graphs are out of scope).

    Returns ``(vertex, dist)`` for every reachable vertex (0 at sources).
    Integer-valued weights keep the fp path sums exact, so a SQL oracle
    (recursive CTE on a DAG) matches bit-for-bit.
    """
    # loop-invariant edge list materialized once (see bfs_levels)
    out = materialize(
        edges.select(
            F.col(src).alias("u"), F.col(dst).alias("v"), F.col(weight).alias("w")
        ),
        eager=False,
    )
    # seed with the 1-hop relaxation (r14, the connected_components seed
    # discipline): the init pays one join + min-merge — exactly what
    # round 1 would compute — so the loop starts one round ahead (A/B at
    # sf0.1: best 1.07 -> 0.85 s, distances identical)
    src0 = (
        sources.select(F.col(vertex_col).alias("vertex"))
        .distinct()
        .withColumn("dist", F.lit(0.0))
    )
    hop1 = (
        src0.withColumnRenamed("vertex", "u")
        .join(out, "u")
        .select(F.col("v").alias("vertex"), (F.col("dist") + F.col("w")).alias("dist"))
    )
    dist = materialize(
        src0.unionByName(hop1).groupBy("vertex").agg(F.min("dist").alias("dist")),
        eager=False,
    )
    for _ in range(max_iters):
        relaxed = (
            dist.withColumnRenamed("vertex", "u")
            .join(out, "u")
            .select(
                F.col("v").alias("vertex"),
                (F.col("dist") + F.col("w")).alias("dist"),
                F.lit(None).cast("double").alias("old"),
            )
        )
        merged, stats = materialize(
            dist.withColumn("old", F.col("dist"))
            .unionByName(relaxed)
            .groupBy("vertex")
            .agg(F.min("dist").alias("dist"), F.max("old").alias("old")),
            F.count_if(
                F.col("old").isNull() | (F.col("dist") < F.col("old"))
            ).alias("improved"),
        )
        dist = merged.select("vertex", "dist")
        if stats["improved"] == 0:
            break
    return dist


def personalized_pagerank(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "source_id",
    dst: str = "target_id",
    vertex_col: str = "vertex",
    damping: float = 0.85,
    iters: int = 10,
    tol: float | None = None,
) -> DataFrame:
    """Personalized PageRank: random walks RESTART at the source set
    instead of a uniform jump — the graph-proximity relevance measure
    (recommendations, seed-expansion, related-entity queries).

    Same power-iteration loop as :func:`pagerank` (one materialization
    per round, dangling mass observed by that job) with the
    reset/dangling mass directed to the
    personalization vector ``p`` (``n/|S|`` on sources, 0 elsewhere;
    ranks sum to |V| every round, so the two variants share the same
    normalization and the uniform ``p`` recovers standard PageRank).

    Returns ``(vertex, rank)``; vertices unreachable from the sources
    hold rank 0 — the property that makes PPR a locality measure.

    The vertex universe is the EDGE vertices ∪ the SOURCE set: a seed
    with no edges still carries its ``n/|S|`` share of the reset vector
    (as a dangling vertex whose mass redistributes to the seeds each
    round).  Deriving the universe from edges alone would silently drop
    absent seeds while still dividing by the full |S| — leaking their
    reset mass and deflating every rank, breaking both invariants above.

    ``tol``: same convergence-based early exit as :func:`pagerank` —
    stop when a round's L1 rank delta < ``tol``; ``None`` (default) runs
    exactly ``iters`` rounds (the oracle-pinned mode).
    """
    eo = _out_edges(edges, src, dst)
    verts, stats = materialize(
        eo.select(F.col("u").alias("vertex"), F.lit(False).alias("__s"))
        .union(eo.select(F.col("v").alias("vertex"), F.lit(False)))
        .union(sources.select(F.col(vertex_col).alias("vertex"), F.lit(True)))
        .groupBy("vertex")
        .agg(F.max("__s").alias("__s")),
        F.count(F.lit(1)).alias("n"),
        F.count_if("__s").alias("n_src"),
    )
    n, n_src = stats["n"], stats["n_src"]
    if n_src == 0:
        raise ValueError("personalized_pagerank needs a non-empty source set")
    pv = verts.select(
        "vertex",
        F.when(F.col("__s"), F.lit(float(n) / n_src))
        .otherwise(F.lit(0.0))
        .alias("p"),
    )
    return _power_iteration(eo, pv, n, damping, iters, tol)


def label_propagation(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    iters: int = 3,
    presymmetrized: bool = False,
) -> DataFrame:
    """SYNCHRONIZED label-propagation communities (Raghavan et al. 2007,
    made deterministic): every vertex starts as its own label; each round
    ALL vertices simultaneously adopt their neighborhood's most frequent
    label, ties broken by minimum label — no asynchronous update order,
    no randomness, so any engine reproduces the labeling exactly.

    Where :func:`connected_components` answers "touching at all", LPA
    after k rounds reflects local edge DENSITY — dense near-dup blobs
    converge to one label while chains fragment, which is the structure a
    curation pass inspects before collapsing clusters.

    Per round: one equi-join (labels → neighbors), one
    ``groupBy(vertex, label)`` count, one per-vertex window argmax —
    all hash-partitioned on the vertex key; frames checkpointed so round
    k never replays earlier rounds.  Returns ``(vertex, label)``.

    Always runs exactly ``iters`` rounds: synchronous LPA can oscillate
    between two labelings and never stabilize, so a stop test would cost
    a job per round without a bound on the rounds it saves.

    ``presymmetrized``: see :func:`connected_components` — skip the
    symmetrize-distinct pass when the caller already materialized it.
    """
    from pyspark.sql import Window

    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    # non-presymmetrized path checkpoints the symmetrize-distinct ONCE
    # (the connected_components discipline) — otherwise every round's
    # join replays it; presymmetrized callers already materialized theirs
    e = (
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        if presymmetrized
        else materialize(_sym_edges(pairs, src, dst), eager=False)
    )
    verts = materialize(
        e.select(F.col("u").alias("vertex")).distinct(), eager=False
    )
    labels = verts.withColumn("label", F.col("vertex"))
    for _ in range(iters):
        counts = (
            e.join(labels.withColumnRenamed("vertex", "u"), "u")
            .groupBy(F.col("v").alias("vertex"), "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        w = Window.partitionBy("vertex").orderBy(
            F.desc("cnt"), F.asc("label")
        )
        labels = materialize(
            counts.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("vertex", "label"),
            eager=False,
        )
    return labels


def hits(
    edges: DataFrame,
    src: str = "source_id",
    dst: str = "target_id",
    iters: int = 3,
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999): authority(v) ∝ Σ hub(u)
    over in-edges, hub(u) ∝ Σ authority(v) over out-edges, alternating.

    Normalization: each half-step rescales its vector to SUM to |V|
    (instead of the classic L2) — same fixed point direction, but the
    total is one sum OBSERVED by the job that materializes the half-step,
    and the linear scale keeps a SQL oracle exact after rounding.  Per
    iteration: two equi-joins + two destination groupBys, each half-step
    one materialization.  Returns ``(vertex, hub, authority)``; sinks hold
    hub 0, sources authority 0.
    """
    # loop-invariant edge list materialized once per fit (see pagerank)
    e = materialize(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).distinct(),
        eager=False,
    )
    verts, stats = materialize(
        e.select(F.col("u").alias("vertex"))
        .union(e.select(F.col("v").alias("vertex")))
        .distinct(),
        F.count(F.lit(1)).alias("n"),
    )
    n = stats["n"]

    def half_step(prev: DataFrame, key: str, to: str, name: str) -> DataFrame:
        # Σ of prev's score along each vertex's edges from the ``key``
        # end, 0.0 for a vertex with none; rescaled by the observed total
        raw, stats = materialize(
            verts.join(
                e.join(prev.withColumnRenamed("vertex", key), key)
                .groupBy(F.col(to).alias("vertex"))
                .agg(F.sum(prev.columns[1]).alias("raw")),
                "vertex",
                "left",
            ).select("vertex", F.coalesce("raw", F.lit(0.0)).alias("raw")),
            F.sum("raw").alias("tot"),
        )
        return raw.select(
            "vertex",
            (F.col("raw") * F.lit(float(n)) / F.lit(stats["tot"])).alias(name),
        )

    hubs = verts.withColumn("hub", F.lit(1.0))
    auths = verts.withColumn("authority", F.lit(1.0))
    for _ in range(iters):
        auths = half_step(hubs, "u", "v", "authority")
        hubs = half_step(auths, "v", "u", "hub")
    return hubs.join(auths, "vertex")


def link_prediction(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    min_common: int = 1,
    max_degree: int | None = None,
) -> DataFrame:
    """Neighborhood-based link prediction over the undirected graph:
    common-neighbor counts and Adamic–Adar scores
    (``Σ_{z ∈ Γ(a)∩Γ(b)} 1/ln(deg(z))``, Adamic & Adar 2003) for every
    NON-adjacent vertex pair sharing ≥ ``min_common`` neighbors — the
    classic "who should connect next" / missing-edge signal.

    Plan shape: symmetrize → one degree groupBy → ONE wedge self-join on
    the middle vertex (the :func:`triangle_counts` join, with the middle
    vertex's degree riding along) → one pair groupBy → one left-anti join
    against the existing edge set.  Candidate volume is ``Σ_z deg(z)²``,
    the same bound as triangle counting — never all-pairs; skewed hubs
    are what ``max_degree`` is for: dropping middle vertices above it
    caps per-vertex wedge fan-out (an APPROXIMATION — scores through
    dropped hubs are lost — but hubs contribute the least Adamic–Adar
    mass per pair by construction, ``1/ln(deg)``; same trade as the
    dedup ``max_df`` caps, and the exact default leaves it off).

    Determinism: per-middle-vertex weights are ``decimal(20,10)``-cast
    BEFORE the pair sum (order-free aggregation; a middle vertex in a
    wedge always has degree ≥ 2, so ``ln`` is never 0), and the final
    score rounds to 6 — bit-reproducible by a SQL oracle.

    Returns ``(id_a, id_b, common_neighbors, adamic_adar)`` with
    ``id_a < id_b``.
    """
    if min_common < 1:
        raise ValueError(f"min_common must be >= 1, got {min_common}")
    a, b = F.col(src).cast("long"), F.col(dst).cast("long")
    e = (
        pairs.select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    # e is canonical (a < b, deduped), so the reversed copy is disjoint
    # from the forward copy and the union is already duplicate-free:
    # symmetrizing needs NO second dedup (r15, guide §2.4 — _sym_edges'
    # distinct here was a full exchange re-deduping an already-distinct
    # union).  (u, v): v neighbor of u.
    adj = e.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    deg = adj.groupBy(F.col("u").alias("z")).agg(
        F.count(F.lit(1)).alias("dz")
    )
    if max_degree is not None:
        deg = deg.filter(F.col("dz") <= max_degree)
    # neighbor lists keyed by the MIDDLE vertex z, degree attached once
    mid = adj.select(F.col("v").alias("z"), F.col("u")).join(deg, "z")
    l, r = mid.alias("l"), mid.alias("r")
    wedges = l.join(r, "z").filter(F.col("l.u") < F.col("r.u"))
    scores = (
        wedges.select(
            F.col("l.u").alias("id_a"),
            F.col("r.u").alias("id_b"),
            F.expr(
                "cast(1.0 / ln(cast(l.dz as double)) as decimal(20,10))"
            ).alias("w"),
        )
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("common_neighbors"),
            F.round(F.sum("w").cast("double"), 6).alias("adamic_adar"),
        )
        .filter(F.col("common_neighbors") >= min_common)
    )
    return scores.join(
        e,
        (scores["id_a"] == e["a"]) & (scores["id_b"] == e["b"]),
        "left_anti",
    )


def neighborhood_similarity(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    min_common: int = 1,
    max_degree: int | None = None,
    include_adjacent: bool = True,
) -> DataFrame:
    """Jaccard similarity of vertex neighborhoods: for every vertex pair
    sharing >= ``min_common`` neighbors,

        ``J(a, b) = |Γ(a) ∩ Γ(b)| / |Γ(a) ∪ Γ(b)|
                  = cn / (deg(a) + deg(b) − cn)``

    — the classic structural-equivalence / entity-matching signal
    (graph counterpart of the MinHash Jaccard the dedup family estimates
    on text).  :func:`link_prediction` weights the SHARED neighbors
    (Adamic–Adar); this normalizes by the union, so hubs with huge
    neighborhoods score low against small vertices even when they share
    everything the small vertex has.

    Plan shape (identical cost bound to :func:`link_prediction`):
    symmetrize → one degree groupBy → ONE wedge self-join on the middle
    vertex (``Σ_z deg(z)²`` candidates, ``max_degree`` caps skewed
    middles) → one pair groupBy → one degree join per side (degree frame
    is vertex-sized — broadcastable).  ``include_adjacent=False`` adds
    the link-prediction left-anti join against the edge set.

    Determinism: ``cn`` and degrees are exact longs, so the single
    division is one correctly-rounded IEEE double op — identical on any
    engine and partitioning — and the half-up 6-dp presentation uses the
    ``floor(x·1e6 + 0.5)`` shape both engines share (the bm25/pmi
    discipline; decimal division is avoided because its result scale is
    engine-defined).

    Returns ``(id_a, id_b, common_neighbors, jaccard)`` with
    ``id_a < id_b``.
    """
    if min_common < 1:
        raise ValueError(f"min_common must be >= 1, got {min_common}")
    a, b = F.col(src).cast("long"), F.col(dst).cast("long")
    e = (
        pairs.select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    # same canonical-input symmetrize-without-dedup as link_prediction
    # (r15, guide §2.4): e's reversed copy is disjoint, the distinct
    # exchange bought nothing
    adj = e.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    deg = adj.groupBy(F.col("u").alias("z")).agg(
        F.count(F.lit(1)).alias("dz")
    )
    mid = adj.select(F.col("v").alias("z"), F.col("u"))
    if max_degree is not None:
        # cap skewed middles; with no cap the join was a NO-OP filter
        # (every v in the symmetrized adj has a degree row) that still
        # paid a join — skipped entirely now (r15, guide §2.4)
        mid = mid.join(
            deg.filter(F.col("dz") <= max_degree).select("z"), "z"
        )
    l, r = mid.alias("l"), mid.alias("r")
    cn = (
        l.join(r, "z")
        .filter(F.col("l.u") < F.col("r.u"))
        .groupBy(
            F.col("l.u").alias("id_a"), F.col("r.u").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("common_neighbors"))
        .filter(F.col("common_neighbors") >= min_common)
    )
    da = deg.select(F.col("z").alias("id_a"), F.col("dz").alias("da"))
    db = deg.select(F.col("z").alias("id_b"), F.col("dz").alias("db"))
    scored = (
        cn.join(da, "id_a")
        .join(db, "id_b")
        .select(
            "id_a",
            "id_b",
            "common_neighbors",
            F.expr(
                "cast(floor((cast(common_neighbors as double)"
                " / cast(da + db - common_neighbors as double))"
                " * 1000000 + 0.5) as double) / 1000000.0"
            ).alias("jaccard"),
        )
    )
    if include_adjacent:
        return scored
    return scored.join(
        e,
        (scored["id_a"] == e["a"]) & (scored["id_b"] == e["b"]),
        "left_anti",
    )
