"""Iterative graph analytics as deterministic DataFrame programs.

Connected components (the dedup grouping machinery) live in
``operators/dedup.py``; this module holds general graph measures, starting
with fixed-iteration PageRank. The design constraint throughout is the
same one the dedup CC solved: an *iterative* algorithm expressed as a
finite, unrolled, fully declarative plan — joins and aggregations only,
zero driver-side state, zero Python in the data path — so the result is
bit-identical on any partitioning and replayable by a SQL oracle.

Provenance: the reference pipeline (nyc_taxi_final.py) has no graph
operators; this extends the engine for entity-importance ranking over
relationship graphs a training-data pipeline derives (domain link graphs
for crawl prioritization, contributor graphs for source weighting).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Fixed-point base for integer PageRank mass: 1.0 of rank == 10^12 units.
RANK_BASE = 10**12

#: label_propagation checkpoints its labels every this many rounds.
LPA_CHECKPOINT_EVERY = 2


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping_pct: int = 85,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Fixed-iteration PageRank with INTEGER fixed-point mass — every
    quantity is a BIGINT in units of ``1/RANK_BASE``, so the result is exact,
    order-independent, and cross-engine reproducible (float PageRank sums
    inflows in nondeterministic order; at nanorank resolution that flips
    low bits run-to-run — the same trap unigram_nll's nanonat
    formulation avoids for log-likelihoods).

    Per node v each round::

        pr'(v) = ((100 - d) * (RANK_BASE div N) + d * inflow(v)) div 100
        inflow(v) = sum over in-edges (u, v) of  pr(u) div outdeg(u)

    Floor divisions truncate; the lost mass (< outdeg ulps per node per
    round) stays lost — deterministically, identically in both engines.
    Dangling nodes (no out-edges) keep only their teleport share and
    leak the rest, the standard simplified treatment; callers who need
    mass conservation should densify the graph first (e.g. the
    bidirectional edges :func:`bipartite_edges` emits).

    Output: (node, rank_nano) — one row per node, rank in
    ``1/RANK_BASE`` units as BIGINT.

    Scale shape: each iteration is (a) the edges relation joined to the
    current rank vector on ``src`` — both sides hash-partitioned on the
    source key, and the rank vector is |V| rows vs |E| edges, so AQE
    broadcasts it while it fits — then (b) one map-side-combinable SUM
    shuffle on ``dst``, then (c) a join back to the node list (left,
    for inflow-less nodes). Nothing ever materializes more than |E|
    rows, no driver collect, and ``iterations`` is a small constant so
    the unrolled lineage stays shallow (the dedup CC's localCheckpoint
    lesson applies from ~8 rounds up; at 3 it is not needed).

    The edge list, node list, and out-degree relations are always
    materialized: they are referenced by EVERY unrolled round, and
    without reuse Spark's lazy DAG re-derives them per round —
    ``iterations`` redundant scans of the relationship table (measured:
    49 exchanges vs 21 at 3 rounds on the trade graph). Reuse is via
    ``localCheckpoint``, not ``persist``: AQE does not re-plan inside
    an InMemoryRelation, so cached graph relations left every downstream
    join without runtime skew-splitting/coalescing — measured 84 s ->
    19 s for the full 3-round query at the sf1 decade after switching
    (same lesson as triangle_participation). Only the rank vector stays
    lazy (each round consumes its predecessor once)."""
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    if not (0 <= damping_pct <= 100):
        raise ValueError("damping_pct must be in [0, 100]")

    e = edges.select(F.col(src_col).alias("_src"), F.col(dst_col).alias("_dst"))
    nodes = (
        e.select(F.col("_src").alias("node"))
        .union(e.select(F.col("_dst").alias("node")))
        .distinct()
    )
    e = e.localCheckpoint(eager=True)
    nodes = nodes.localCheckpoint(eager=True)
    n_row = nodes.agg(F.count(F.lit(1)).alias("_n"))
    outdeg = (
        e.groupBy("_src")
        .agg(F.count(F.lit(1)).alias("_outdeg"))
        .localCheckpoint(eager=True)
    )

    pr = nodes.crossJoin(F.broadcast(n_row)).select(
        "node", F.expr(f"{RANK_BASE} div _n").alias("_pr")
    )
    for _ in range(iterations):
        contrib = (
            e.join(pr, e["_src"] == pr["node"])
            .join(outdeg, "_src")
            .select(F.col("_dst"), F.expr("_pr div _outdeg").alias("_contrib"))
        )
        inflow = contrib.groupBy("_dst").agg(F.sum("_contrib").alias("_inflow"))
        pr = (
            nodes.join(inflow, nodes["node"] == inflow["_dst"], "left")
            .crossJoin(F.broadcast(n_row))
            .select(
                "node",
                F.expr(
                    f"(({100 - damping_pct} * ({RANK_BASE} div _n))"
                    f" + {damping_pct} * coalesce(_inflow, 0)) div 100"
                ).alias("_pr"),
            )
        )
    return pr.select("node", F.col("_pr").alias("rank_nano"))


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 3,
    damping_pct: int = 85,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "node",
) -> DataFrame:
    """Personalized (topic-sensitive) PageRank: identical integer
    fixed-point recurrence to :func:`pagerank`, but ALL teleport mass
    returns to the seed set instead of spreading uniformly — rank then
    measures proximity-weighted importance RELATIVE TO the seeds. The
    crawl-frontier shape: seed the domains you trust, rank the rest of
    the link graph by how reachable it is from them.

    Per node v each round (S = seed set)::

        pr'(v) = ((100 - d) * (RANK_BASE div |S|) * [v in S] + d * inflow(v)) div 100

    Non-seed nodes with no inflow decay to 0 — correct PPR semantics,
    not a bug. Output, exactness contract and ``localCheckpoint``
    discipline identical to :func:`pagerank`; the seed relation enters
    each round as a broadcast-size membership join (|S| << |V| in
    practice)."""
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    if not (0 <= damping_pct <= 100):
        raise ValueError("damping_pct must be in [0, 100]")

    e = edges.select(F.col(src_col).alias("_src"), F.col(dst_col).alias("_dst"))
    nodes = (
        e.select(F.col("_src").alias("node"))
        .union(e.select(F.col("_dst").alias("node")))
        .distinct()
    )
    e = e.localCheckpoint(eager=True)
    nodes = nodes.localCheckpoint(eager=True)
    outdeg = e.groupBy("_src").agg(F.count(F.lit(1)).alias("_outdeg"))
    seed_nodes = (
        seeds.select(F.col(seed_col).alias("node"))
        .distinct()
        .join(nodes, "node")  # seeds outside the graph carry no mass
        .withColumn("_is_seed", F.lit(1))
    )
    outdeg = outdeg.localCheckpoint(eager=True)
    seed_nodes = seed_nodes.localCheckpoint(eager=True)
    s_row = seed_nodes.agg(F.count(F.lit(1)).alias("_s"))

    share = f"({RANK_BASE} div _s)"
    pr = (
        nodes.join(seed_nodes, "node", "left")
        .crossJoin(F.broadcast(s_row))
        .select(
            "node",
            F.expr(
                f"CASE WHEN _is_seed = 1 THEN {share} ELSE 0 END"
            ).alias("_pr"),
        )
    )
    for _ in range(iterations):
        contrib = (
            e.join(pr, e["_src"] == pr["node"])
            .join(outdeg, "_src")
            .select(F.col("_dst"), F.expr("_pr div _outdeg").alias("_contrib"))
        )
        inflow = contrib.groupBy("_dst").agg(F.sum("_contrib").alias("_inflow"))
        pr = (
            nodes.join(inflow, nodes["node"] == inflow["_dst"], "left")
            .join(seed_nodes, "node", "left")
            .crossJoin(F.broadcast(s_row))
            .select(
                "node",
                F.expr(
                    f"(({100 - damping_pct} * CASE WHEN _is_seed = 1"
                    f" THEN {share} ELSE 0 END)"
                    f" + {damping_pct} * coalesce(_inflow, 0)) div 100"
                ).alias("_pr"),
            )
        )
    return pr.select("node", F.col("_pr").alias("rank_nano"))


def bipartite_edges(
    rel: DataFrame,
    left_col: str,
    right_col: str,
    left_prefix: str = "c",
    right_prefix: str = "s",
) -> DataFrame:
    """Directed edges BOTH ways for each distinct (left, right) pair of a
    bipartite relationship table (e.g. customer--supplier via orders),
    with prefixed string node ids so the two key domains cannot collide.
    Both directions make every node non-dangling, so PageRank mass
    actually circulates instead of pooling at the sink side."""
    pairs = rel.select(
        F.concat(F.lit(left_prefix), F.col(left_col).cast("string")).alias("_l"),
        F.concat(F.lit(right_prefix), F.col(right_col).cast("string")).alias("_r"),
    ).distinct()
    fwd = pairs.select(F.col("_l").alias("src"), F.col("_r").alias("dst"))
    rev = pairs.select(F.col("_r").alias("src"), F.col("_l").alias("dst"))
    return fwd.union(rev)


def triangle_participation(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-node triangle participation over an undirected graph — the
    clustering/cohesion measure behind community detection and
    link-spam screens. Input edges may be duplicated or in either
    orientation; they are canonicalized (u < v, distinct) first.

    Output: (node, n_triangles) — how many distinct triangles each node
    is a corner of; only nodes in >= 1 triangle appear. Exact integers.

    Scale shape — "compact-forward": degree-ordered orientation plus
    JVM-side sorted-array intersection, the combination that makes
    distributed triangle counting tractable WITHOUT ever materializing
    the wedge relation. Every canonical edge is re-oriented from its
    (degree, node)-smaller endpoint to the larger, so each triangle is
    found exactly once at its lowest-degree corner; out-degree under
    the orientation is O(sqrt(|E|)) for any graph (arboricity bound),
    so a hub with millions of neighbors points all its edges inward
    and carries an EMPTY out-neighbor array. Each oriented edge
    (u, w) then joins the out-neighbor array of u and of w —
    |E| rows total, never the wedge fan-out — and the closing test is
    one whole-stage-codegen `array_intersect` per edge. The earlier
    wedge-enumeration formulation (oriented self-join on the middle
    vertex, then close) shuffled ~7e8 wedge rows at the sf1 decade
    where this one shuffles 12M edge rows carrying the same bytes as
    sorted arrays: measured 146 s -> 13 s at sf0.1 and 369 s -> 148 s
    at sf1 on local[32], and the decade ratio is ~11x on 10x data
    (linear). Total payload of all arrays is exactly |E| longs.

    The canonical edge list feeds the degree count AND the orientation
    join, and the oriented list feeds the adjacency build AND the probe
    side; both are |E|-bounded derived relations that Spark's lazy DAG
    would otherwise re-derive per reference, so they (and the adjacency
    arrays) are always ``localCheckpoint``-ed — rather than
    ``persist``-ed: AQE does not re-plan inside an InMemoryRelation,
    so a cached relation would leave the skewed joins without runtime
    skew-splitting (measured on the earlier formulation: 269 s cached
    vs 131 s checkpointed at sf1)."""
    u, v = F.col(src_col), F.col(dst_col)
    canon = (
        edges.filter(u != v)
        .select(F.least(u, v).alias("_a"), F.greatest(u, v).alias("_b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        canon.select(F.col("_a").alias("node"))
        .union(canon.select(F.col("_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("_deg"))
    )
    da = deg.select(F.col("node").alias("_a"), F.col("_deg").alias("_dega"))
    db = deg.select(F.col("node").alias("_b"), F.col("_deg").alias("_degb"))
    ranked = canon.join(da, "_a").join(db, "_b")
    # orient from (deg, id)-smaller endpoint to larger: a total order, so
    # every triangle's three corners get exactly one wedge apex
    a_first = (F.col("_dega") < F.col("_degb")) | (
        (F.col("_dega") == F.col("_degb")) & (F.col("_a") < F.col("_b"))
    )
    oriented = ranked.select(
        F.when(a_first, F.col("_a")).otherwise(F.col("_b")).alias("_u"),
        F.when(a_first, F.col("_b")).otherwise(F.col("_a")).alias("_w"),
    ).localCheckpoint(eager=True)
    # sorted out-neighbor arrays; total payload across all rows = |E| longs,
    # per-row length bounded by O(sqrt(|E|)) under the orientation
    adj = (
        oriented.groupBy("_u")
        .agg(F.sort_array(F.collect_list("_w")).alias("_nbrs"))
        .localCheckpoint(eager=True)
    )
    probed = oriented.join(
        adj.select(F.col("_u").alias("_x"), F.col("_nbrs").alias("_nx")),
        oriented["_u"] == F.col("_x"),
    ).join(
        adj.select(F.col("_u").alias("_y"), F.col("_nbrs").alias("_ny")),
        oriented["_w"] == F.col("_y"),
    )
    tris = probed.select(
        F.col("_u").alias("_cu"),
        F.col("_w").alias("_cw"),
        F.explode(F.array_intersect("_nx", "_ny")).alias("_cz"),
    ).select(F.explode(F.array("_cu", "_cw", "_cz")).alias("node"))
    return tris.groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))


def k_core_membership(
    edges: DataFrame,
    k: int = 3,
    rounds: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Fixed-round k-core peeling: repeatedly delete nodes whose CURRENT
    degree (over the canonical undirected edge set) is below ``k`` —
    the community-cohesion filter that strips hangers-on before
    clustering, and the standard spam-farm screen on link graphs.

    ``rounds`` is a fixed unroll, not a convergence loop: after r rounds
    the survivor set is a SUPERSET of the true k-core, shrinking
    monotonically and reaching the exact core once no round removes
    anything (shallow peel chains converge in a few rounds; a path
    graph's 2-core needs O(n) — callers with adversarial chains raise
    ``rounds``). Fixed unrolling is what keeps the operator a pure
    declarative plan: deterministic, partition-invariant, and
    SQL-oracle-replayable round for round — the pagerank/kmeans
    discipline applied to a deletion recurrence.

    Output: (node, degree) for nodes surviving ``rounds`` peels, with
    their end-state degree (>= k at fixpoint).

    Scale shape: each round is one map-side-combinable degree count
    plus two ANTI-joins against the REMOVED node set — all keyed on
    node ids, with the edge relation shrinking monotonically. Removed
    (deg < k), not kept (deg >= k), is the join side by deliberate
    asymmetry (round 8): at single-box test scales a same-context A/B
    measured the two forms EQUAL (sf0.1 5.5/5.0 s, sf1 18.0/17.2 s,
    sf2 32.1/34.6 s — both sides are |V|-bounded and AQE broadcasts
    either), but the removed set is the per-round DELTA while keep is
    nearly the whole node set, so at cluster scale — where |V| alone
    outgrows the broadcast threshold and keep-side joins degrade to
    |E| shuffles — the anti form stays broadcastable for far longer.
    Equal now, strictly safer at 100 TB; the same-context probe also
    put the equal-warmth decade ratios at 3.4x per 10x and 2.0x per
    2x — linear.
    Each round's survivor edges are always ``localCheckpoint``-ed: the
    round recurrence references the previous edge list THREE
    times (degree count twice via the union, anti-join base once), so
    an unpruned lazy plan grows ~3^rounds and OOMs the DRIVER on plan
    size alone by round 6 — the same pathology the per-sweep
    ``localCheckpoint`` in ``dedup.dedup_groups`` guards against; lineage
    truncation, not mere persistence, is the fix."""
    if k < 1 or rounds < 1:
        raise ValueError("k and rounds must be >= 1")
    u, v = F.col(src_col), F.col(dst_col)
    # Null endpoints are dropped EXPLICITLY (round 9): u != v already
    # rejects them via three-valued logic, but the anti-join form's
    # "removed never matches -> edge kept" equivalence argument (and the
    # degree count) must hold unconditionally, not by comparison
    # side-effect — so the contract is spelled out, not inherited.
    e = (
        edges.filter(u.isNotNull() & v.isNotNull() & (u != v))
        .select(F.least(u, v).alias("_a"), F.greatest(u, v).alias("_b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    for _ in range(rounds):
        deg = (
            e.select(F.col("_a").alias("node"))
            .union(e.select(F.col("_b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("degree"))
        )
        removed = deg.filter(F.col("degree") < k).select("node")
        e = (
            e.join(removed.withColumnRenamed("node", "_a"), "_a", "left_anti")
            .join(removed.withColumnRenamed("node", "_b"), "_b", "left_anti")
            .localCheckpoint(eager=True)
        )
    final_deg = (
        e.select(F.col("_a").alias("node"))
        .union(e.select(F.col("_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return final_deg.filter(F.col("degree") >= k)


def label_propagation(
    edges: DataFrame,
    rounds: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Fixed-round synchronous label propagation (Raghavan et al. 2007)
    — the cheap community detector behind spam-cluster and account-ring
    screens — in a fully DETERMINISTIC variant: each round every node
    adopts the most frequent label among its neighbors plus itself,
    ties broken by smallest label. Classic LPA tie-breaks randomly;
    breaking by label order instead makes the result a pure function of
    the graph, hence partition-invariant and cross-engine replayable
    (the DuckDB oracle unrolls the same ``rounds`` recurrence).

    Input edges are canonicalized (self-loops dropped, both directions
    added, distinct), so callers may pass either orientation. The
    self-vote keeps the two-coloring oscillation bipartite graphs
    otherwise exhibit under synchronous updates from erasing progress.

    Output: (node, label) — every node's community label after
    ``rounds`` rounds; labels are node ids, so communities are named by
    a member.

    Scale shape per round: one edges⋈labels hash join on the node key
    (the label table is |V| rows — AQE broadcasts it while it fits),
    one combinable (node, label) count, then a combinable per-node
    ARGMAX — ``min(struct(-_cnt, label))`` — instead of a
    ``row_number`` window: the struct min needs no per-partition sort
    and map-side-combines, so each round is two partial-aggregate
    shuffles and zero sorts (round-8 rewrite; the struct ordering is
    total, so the most-frequent-then-smallest-label tie-break stays
    deterministic for any label type).
    Labels are ``localCheckpoint``-ed every :data:`LPA_CHECKPOINT_EVERY`
    rounds (and always after the last): each round references the previous
    labels TWICE (join + self-vote union), so an unbounded lineage grows
    2^rounds — but the checkpoint itself serializes the stage, and
    measured at sf0.1 the every-round cadence costs ~35% more wall than
    every-2nd (5.5 s vs 5.1 s steady-state, 41 s vs 7 s cold) for the
    same result. Every-2nd bounds the re-derivation factor at 4x while
    halving the serialization barriers (round-7 profile)."""
    s, d = F.col(src_col), F.col(dst_col)
    fwd = edges.filter(s != d).select(s.alias("_s"), d.alias("_d"))
    und = (
        fwd.union(fwd.select(F.col("_d").alias("_s"), F.col("_s").alias("_d")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = und.select(F.col("_s").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _r in range(rounds):
        votes = (
            und.join(
                labels.select(F.col("node").alias("_s"), "label"), "_s"
            ).select(F.col("_d").alias("node"), "label")
        ).union(labels)
        labels = (
            votes.groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("_cnt"))
            .groupBy("node")
            .agg(
                # min(struct(-count, label)): largest count wins, ties
                # break to the SMALLEST label — and negating the COUNT
                # (always BIGINT) keeps the argmax type-agnostic in the
                # label (node ids may be strings).
                F.min(
                    F.struct(
                        (-F.col("_cnt")).alias("nc"),
                        F.col("label").alias("l"),
                    )
                ).alias("_m")
            )
            .select("node", F.col("_m.l").alias("label"))
        )
        if (_r + 1) % LPA_CHECKPOINT_EVERY == 0 or _r == rounds - 1:
            labels = labels.localCheckpoint(eager=True)
    return labels
