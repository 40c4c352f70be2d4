"""Graph operator tests: integer fixed-point PageRank against an exact
Python reference model, plus declarative Lloyd's k-means on planted
separable blobs. No vacuous greens — every expectation is computed
independently of the Spark code."""

from __future__ import annotations

import pytest

from yellowrush_spark_ml_pipeline_spark.operators.graph import (
    RANK_BASE,
    bipartite_edges,
    pagerank,
)
from yellowrush_spark_ml_pipeline_spark.operators.similarity import kmeans_lloyd


def _model_pagerank(edges, iterations=3, damping_pct=85, base=RANK_BASE):
    """Exact integer reference model of operators/graph.py::pagerank —
    dict arithmetic with Python ints (// == floor; all values
    non-negative, so identical to Spark's div)."""
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    n = len(nodes)
    outdeg = {}
    for u, _ in edges:
        outdeg[u] = outdeg.get(u, 0) + 1
    pr = {v: base // n for v in nodes}
    for _ in range(iterations):
        inflow = {v: 0 for v in nodes}
        for u, v in edges:
            inflow[v] += pr[u] // outdeg[u]
        pr = {
            v: ((100 - damping_pct) * (base // n) + damping_pct * inflow[v]) // 100
            for v in nodes
        }
    return pr


def _run(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src string, dst string")
    return {r.node: r.rank_nano for r in pagerank(df, **kw).collect()}


def test_pagerank_cycle_is_uniform(spark):
    """A 3-cycle is perfectly symmetric: every node ends with the same
    integer rank, equal to the reference model's."""
    edges = [("a", "b"), ("b", "c"), ("c", "a")]
    got = _run(spark, edges)
    want = _model_pagerank(edges)
    assert got == want
    assert len(set(got.values())) == 1


def test_pagerank_hub_ranks_highest_exact(spark):
    """Star with reciprocated edges: the hub must outrank every leaf, and
    every integer must equal the reference model bit for bit."""
    edges = [
        ("hub", "l1"), ("l1", "hub"),
        ("hub", "l2"), ("l2", "hub"),
        ("hub", "l3"), ("l3", "hub"),
    ]
    got = _run(spark, edges)
    want = _model_pagerank(edges)
    assert got == want
    assert got["hub"] > got["l1"] == got["l2"] == got["l3"]


def test_pagerank_dangling_node_keeps_teleport_share(spark):
    """'sink' has an in-edge but no out-edges: its mass leaks (documented
    simplification) and every node still matches the reference model."""
    edges = [("a", "b"), ("b", "a"), ("a", "sink")]
    got = _run(spark, edges)
    want = _model_pagerank(edges)
    assert got == want
    # the sink receives inflow but re-emits nothing; with damping it must
    # rank above the bare teleport floor yet below the circulating pair
    floor = ((100 - 85) * (RANK_BASE // 3)) // 100
    assert got["sink"] > floor
    assert got["a"] > got["sink"]


def test_pagerank_iterations_and_damping_validation(spark):
    df = spark.createDataFrame([("a", "b")], "src string, dst string")
    with pytest.raises(ValueError):
        pagerank(df, iterations=0)
    with pytest.raises(ValueError):
        pagerank(df, damping_pct=101)


def test_bipartite_edges_prefixes_and_reciprocates(spark):
    rel = spark.createDataFrame([(1, 7), (1, 7), (2, 7)], "cust long, supp long")
    got = {(r.src, r.dst) for r in bipartite_edges(rel, "cust", "supp").collect()}
    assert got == {
        ("c1", "s7"), ("s7", "c1"),
        ("c2", "s7"), ("s7", "c2"),
    }


# ---------------------------------------------------------------- kmeans


def test_kmeans_lloyd_separates_planted_blobs(spark):
    """Two tight blobs far apart, one seed id planted in each (ids 0 and 1
    are the two smallest -> initial centroids, one per blob): every point
    must land with its blob and near its centroid."""
    blob_a = [(i, [0.0 + 0.01 * i, 0.0]) for i in range(0, 10, 2)]  # ids 0,2,4,6,8
    blob_b = [(i, [10.0 + 0.01 * i, 10.0]) for i in range(1, 11, 2)]  # ids 1,3,5,7,9
    df = spark.createDataFrame(blob_a + blob_b, "vec_id long, embedding array<double>")
    rows = kmeans_lloyd(df, k=2, n_assign=3).collect()
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, set()).add(r.vec_id)
        assert r.dist < 1.0  # tight blobs: every point close to its centroid
    assert by_cluster == {0: {0, 2, 4, 6, 8}, 1: {1, 3, 5, 7, 9}}


def test_kmeans_lloyd_converged_input_is_fixed_point(spark):
    """If the seeds already are the exact cluster centers of symmetric
    pairs, one round and three rounds give the same assignment."""
    pts = [
        (0, [0.0, 0.0]), (1, [4.0, 4.0]),
        (2, [0.0, 0.2]), (3, [0.2, 0.0]),
        (4, [4.0, 4.2]), (5, [4.2, 4.0]),
    ]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<double>")
    one = {(r.vec_id, r.cluster_id) for r in kmeans_lloyd(df, k=2, n_assign=1).collect()}
    three = {(r.vec_id, r.cluster_id) for r in kmeans_lloyd(df, k=2, n_assign=3).collect()}
    assert one == three == {(0, 0), (2, 0), (3, 0), (1, 1), (4, 1), (5, 1)}


def test_kmeans_lloyd_tie_breaks_to_lowest_cid(spark):
    """A point equidistant from both centroids must deterministically take
    the lower cluster id (struct-min on (dist, cid))."""
    pts = [(0, [0.0, 0.0]), (1, [2.0, 0.0]), (2, [1.0, 0.0])]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<double>")
    got = {r.vec_id: r.cluster_id for r in kmeans_lloyd(df, k=2, n_assign=1).collect()}
    assert got[2] == 0


def test_kmeans_lloyd_validates_params(spark):
    df = spark.createDataFrame([(0, [0.0])], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError):
        kmeans_lloyd(df, k=0)
    with pytest.raises(ValueError):
        kmeans_lloyd(df, n_assign=0)


def test_kmeans_lloyd_rejects_vec_out_with_centroids(spark):
    """The centroid relation has no per-point column to carry ``vec_out``;
    asking for both is refused instead of silently dropping the column."""
    df = spark.createDataFrame([(0, [0.0])], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="vec_out"):
        kmeans_lloyd(df, k=1, return_centroids=True, vec_out="_v")


# ------------------------------------------------------- triangle counting


from yellowrush_spark_ml_pipeline_spark.operators.graph import (  # noqa: E402
    triangle_participation,
)


def _tri(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {r.node: r.n_triangles for r in triangle_participation(df).collect()}


def _model_triangles(edges):
    """Brute-force reference: count triangles per node over the
    canonicalized undirected edge set."""
    import itertools

    es = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    nodes = sorted({n for e in es for n in e})
    out = {}
    for a, b, c in itertools.combinations(nodes, 3):
        if (a, b) in es and (b, c) in es and (a, c) in es:
            for n in (a, b, c):
                out[n] = out.get(n, 0) + 1
    return out


def test_triangles_k4_every_node_in_three(spark):
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    got = _tri(spark, k4)
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_triangles_path_and_star_have_none(spark):
    assert _tri(spark, [(1, 2), (2, 3), (3, 4)]) == {}
    assert _tri(spark, [(0, i) for i in range(1, 6)]) == {}


def test_triangles_canonicalizes_duplicates_loops_reversals(spark):
    edges = [(1, 2), (2, 1), (1, 2), (2, 3), (1, 3), (3, 3)]
    got = _tri(spark, edges)
    assert got == {1: 1, 2: 1, 3: 1}


def test_triangles_match_brute_force_on_pseudorandom_graph(spark):
    """Deterministic pseudo-random graph (Lehmer stream) vs the O(n^3)
    Python model — exact per-node equality."""
    edges, x = [], 1
    for _ in range(120):
        x = (x * 48271) % 2147483647
        a = x % 30
        x = (x * 48271) % 2147483647
        b = x % 30
        if a != b:
            edges.append((a, b))
    assert _tri(spark, edges) == _model_triangles(edges)


# --------------------------------------------------- personalized pagerank


from yellowrush_spark_ml_pipeline_spark.operators.graph import (  # noqa: E402
    personalized_pagerank,
)


def _model_ppr(edges, seeds, iterations=3, damping_pct=85, base=RANK_BASE):
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    s = [n for n in nodes if n in set(seeds)]
    outdeg = {}
    for u, _ in edges:
        outdeg[u] = outdeg.get(u, 0) + 1
    share = base // len(s)
    pr = {v: (share if v in s else 0) for v in nodes}
    for _ in range(iterations):
        inflow = {v: 0 for v in nodes}
        for u, v in edges:
            inflow[v] += pr[u] // outdeg[u]
        pr = {
            v: (
                (100 - damping_pct) * (share if v in s else 0)
                + damping_pct * inflow[v]
            )
            // 100
            for v in nodes
        }
    return pr


def test_ppr_mass_concentrates_near_seed(spark):
    """Line a-b-c-d (reciprocated), seed {a}: every integer must match
    the reference model, and mass thins with distance from the seed
    (a's whole mass flows to its only neighbor b each round, so b can
    exceed a at small iteration counts — the model is the contract;
    the monotone tail b > c > d is what distance guarantees)."""
    edges = []
    for x, y in [("a", "b"), ("b", "c"), ("c", "d")]:
        edges += [(x, y), (y, x)]
    df = spark.createDataFrame(edges, "src string, dst string")
    seeds = spark.createDataFrame([("a",)], "node string")
    got = {r.node: r.rank_nano for r in personalized_pagerank(df, seeds).collect()}
    want = _model_ppr(edges, ["a"])
    assert got == want
    # small-iteration parity oscillation on a path precludes per-node
    # monotonicity; the robust distance statement is pairwise mass:
    assert got["a"] + got["b"] > 3 * (got["c"] + got["d"])


def test_ppr_unreachable_node_gets_zero(spark):
    """A disconnected component with no seed must decay to exactly 0 —
    the PPR semantics that distinguish it from uniform pagerank."""
    edges = [("a", "b"), ("b", "a"), ("x", "y"), ("y", "x")]
    df = spark.createDataFrame(edges, "src string, dst string")
    seeds = spark.createDataFrame([("a",)], "node string")
    got = {r.node: r.rank_nano for r in personalized_pagerank(df, seeds).collect()}
    assert got == _model_ppr(edges, ["a"])
    assert got["x"] == 0 and got["y"] == 0 and got["a"] > 0


def test_ppr_seed_outside_graph_ignored(spark):
    """Seeds not present as graph nodes carry no mass (inner join), so
    the share is divided among the REACHABLE seeds only."""
    edges = [("a", "b"), ("b", "a")]
    df = spark.createDataFrame(edges, "src string, dst string")
    seeds = spark.createDataFrame([("a",), ("ghost",)], "node string")
    got = {r.node: r.rank_nano for r in personalized_pagerank(df, seeds).collect()}
    assert got == _model_ppr(edges, ["a"])  # share = base // 1, not // 2


# ----------------------------------------------------------------- k-core


from yellowrush_spark_ml_pipeline_spark.operators.graph import (  # noqa: E402
    k_core_membership,
)


def _kcore(spark, edges, k, rounds=4):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {
        r.node: r.degree for r in k_core_membership(df, k=k, rounds=rounds).collect()
    }


def test_k_core_strips_pendant_chain_keeps_clique(spark):
    """K4 with a pendant path hanging off: the 3-core is exactly the K4
    (peeling must cascade down the chain)."""
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    chain = [(3, 10), (10, 11), (11, 12)]
    got = _kcore(spark, k4 + chain, k=3, rounds=4)
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_k_core_cascade_needs_enough_rounds(spark):
    """A long pendant chain peels one node per round: with rounds=2 the
    2-core still contains chain remnants (documented superset), with
    enough rounds it collapses to the triangle."""
    tri = [(0, 1), (1, 2), (0, 2)]
    chain = [(2, 10), (10, 11), (11, 12), (12, 13)]
    exact = _kcore(spark, tri + chain, k=2, rounds=6)
    assert exact == {0: 2, 1: 2, 2: 2}
    early = _kcore(spark, tri + chain, k=2, rounds=2)
    assert set(exact) < set(early)  # strict superset before convergence


def test_k_core_empty_when_graph_too_sparse(spark):
    assert _kcore(spark, [(1, 2), (2, 3)], k=3, rounds=3) == {}
