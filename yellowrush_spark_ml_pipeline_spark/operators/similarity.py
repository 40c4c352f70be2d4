"""Similarity search over embedding columns (SURVEY.md §2.13).

Two tiers:

* ``brute_force_topk`` — exact cosine top-k. The query side is broadcast
  (queries are few); candidates stream through a BroadcastNestedLoopJoin,
  then a per-query window takes top-k. Exact, and the right baseline —
  but O(|queries| × |corpus|) compute, so at 100 TB it's for small query
  sets or oracle checking.
* ``lsh_topk`` — sign-random-projection (SRP) bucketed approximate top-k:
  each vector gets a b-bit sign hash from deterministic pseudo-random
  hyperplanes; only same-bucket (or neighboring-probe) pairs are scored.
  Compute drops by ~2^b; recall is tunable with bucket bits / probes.

Both use JVM-side higher-order-function math from ``functions.vector`` —
no Python in the scoring loop.
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vector import (
    as_double_array,
    cosine_similarity,
    dot,
    euclidean_distance,
    normalize,
)


def _cluster_for_write(df: DataFrame, key: str) -> DataFrame:
    """Pre-write clustering for a ``partitionBy(key)`` sink — the one
    place the write layout of the IVF, PQ and semantic-state artifacts
    is decided: one exchange keyed on the partition column, so each key
    lands in ONE file instead of up-to-(tasks x keys) tiny files (guide
    §6 — compact on write). Write parallelism is one task per key."""
    return df.repartition(F.col(key))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k: broadcast queries × corpus, window per query.

    Output: (query_id, vec_id, rank, cosine) with a total order —
    ties broken by vec_id so results are deterministic."""
    q = queries.select(
        F.col(query_id_col), as_double_array(F.col(vec_col)).alias("_qv")
    )
    c = corpus.select(F.col(id_col), as_double_array(F.col(vec_col)).alias("_cv"))
    scored = c.crossJoin(F.broadcast(q)).select(
        query_id_col,
        id_col,
        F.round(cosine_similarity(F.col("_qv"), F.col("_cv")), 6).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "rank", "cosine")
    )


def brute_force_topk_l2(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact Euclidean top-k — the L2 sibling of :func:`brute_force_topk`
    (nearest = smallest distance, ascending window).

    On unnormalized embeddings L2 and cosine genuinely rank differently
    (cosine ignores magnitude), which is what makes fusing the two lists
    (:func:`rrf_fuse`) meaningful. Distance is the sequential-fold
    ``sqrt(sum((x-y)^2))`` from ``functions.vector`` — order-fixed, so
    the DuckDB ``list_distance`` oracle reproduces it bit-for-bit."""
    q = queries.select(
        F.col(query_id_col), as_double_array(F.col(vec_col)).alias("_qv")
    )
    c = corpus.select(F.col(id_col), as_double_array(F.col(vec_col)).alias("_cv"))
    scored = c.crossJoin(F.broadcast(q)).select(
        query_id_col,
        id_col,
        F.round(
            euclidean_distance(F.col("_qv"), F.col("_cv")), 6
        ).alias("distance"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("distance").asc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "rank", "distance")
    )


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    k: int = 10,
    rrf_k: int = 60,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
) -> DataFrame:
    """Reciprocal-rank fusion of two rankers' candidate lists — the
    standard hybrid-retrieval combiner (Cormack et al.): score(d) =
    Σ_systems 1/(rrf_k + rank_s(d)), robust to incomparable raw scores
    (cosine vs L2 vs BM25) because only RANKS enter.

    Inputs are (query_id, id, rank) relations (e.g. two ``*_topk``
    outputs). A candidate missing from one list contributes 0 from it.
    Determinism: each term is one double division of exact integers and
    the two terms add in fixed left-to-right order — bit-identical in any
    engine, no rounding needed; ties break on id.

    Scale shape: one full-outer join on (query, id) — both sides are
    already tiny top-N lists, per-query-bounded — then a per-query
    window; the corpus itself never enters."""
    a = ranked_a.select(query_id_col, id_col, F.col("rank").alias("_ra"))
    b = ranked_b.select(query_id_col, id_col, F.col("rank").alias("_rb"))
    joined = a.join(b, [query_id_col, id_col], "full_outer")
    score = F.coalesce(
        F.lit(1.0) / (F.lit(rrf_k) + F.col("_ra")), F.lit(0.0)
    ) + F.coalesce(F.lit(1.0) / (F.lit(rrf_k) + F.col("_rb")), F.lit(0.0))
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("rrf_score").desc(), F.col(id_col).asc()
    )
    return (
        joined.withColumn("rrf_score", score)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "rank", "rrf_score")
    )


def _srp_hyperplanes(dim: int, bits: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (Box-Muller over a
    splitmix-style counter) — reproducible across runs/executors with no
    RNG state shipped around."""

    def splitmix(x: int) -> int:
        x = (x + 0x9E3779B97F4A7C15) & (1 << 64) - 1
        x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & (1 << 64) - 1
        x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & (1 << 64) - 1
        return x ^ (x >> 31)

    planes = []
    ctr = seed
    for _ in range(bits):
        v = []
        for _ in range(dim):
            ctr = splitmix(ctr)
            u1 = ((ctr >> 11) + 1) / (1 << 53)
            ctr = splitmix(ctr)
            u2 = (ctr >> 11) / (1 << 53)
            v.append(math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.pi * u2))
        planes.append(v)
    return planes


def srp_bucket(vec_col, planes: list[list[float]]):
    """b-bit sign-random-projection bucket id as a long column."""
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        d = dot(vec_col, F.array(*[F.lit(x) for x in plane]))
        bucket = bucket.bitwiseOR(
            F.when(d >= 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(0)
        )
    return bucket


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int = 64,
    bucket_bits: int = 8,
    seed: int = 42,
    probe_radius: int = 1,
) -> DataFrame:
    """Approximate cosine top-k: SRP-bucketed candidate generation, exact
    scoring inside buckets. Equi-join on bucket id → shuffle-partitionable,
    AQE handles skewed buckets.

    Multiprobe: each query also probes every bucket within Hamming distance
    ``probe_radius`` of its own (radius 1 → ``bits+1`` probes). The probe
    fan-out multiplies only the QUERY side — tiny and broadcast — so
    corpus-side cost is unchanged while recall rises steeply (a neighbor at
    cosine 0.95 mismatches >=2 of 8 sign bits only ~6% of the time).
    ``probe_radius=0`` restores single-bucket probing."""
    planes = _srp_hyperplanes(dim, bucket_bits, seed)
    c = corpus.select(
        F.col(id_col), as_double_array(F.col(vec_col)).alias("_cv")
    ).withColumn("_bucket", srp_bucket(F.col("_cv"), planes))
    q = queries.select(
        F.col(query_id_col), as_double_array(F.col(vec_col)).alias("_qv")
    ).withColumn("_bucket0", srp_bucket(F.col("_qv"), planes))
    probes = [F.col("_bucket0")]
    if probe_radius >= 1:
        probes += [
            F.col("_bucket0").bitwiseXOR(F.lit(1 << i)) for i in range(bucket_bits)
        ]
    if probe_radius >= 2:
        probes += [
            F.col("_bucket0").bitwiseXOR(F.lit((1 << i) | (1 << j)))
            for i in range(bucket_bits)
            for j in range(i + 1, bucket_bits)
        ]
    q = q.withColumn("_bucket", F.explode(F.array(*probes))).drop("_bucket0")
    scored = c.join(F.broadcast(q), "_bucket").select(
        query_id_col,
        id_col,
        F.round(cosine_similarity(F.col("_qv"), F.col("_cv")), 6).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "rank", "cosine")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_lists: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    max_iter: int = 8,
    fit_fraction: float = 0.25,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the second scale path next
    to SRP-LSH (`lsh_topk`).

    ``max_iter`` caps the quantizer's Lloyd iterations: recall depends on
    probing the lists nearest the query, not on a fully-converged
    clustering, and each iteration is a driver-coordinated job.

    ``fit_fraction`` bounds what the iterative quantizer ever reads: the
    KMeans fit runs on a seed-pinned Bernoulli sample of the corpus, while
    list assignment stays a single full scan. Coarse centroids only need
    enough points to place ``n_lists`` cells over the data distribution, so
    a sample is statistically sufficient — and at 100 TB it is the
    difference between ``max_iter`` passes over a sample vs over the whole
    corpus. ``fit_fraction=1.0`` restores a full-corpus fit.
    Search: each query probes its ``n_probe`` nearest centroids — the probe
    assignment happens on the tiny broadcast query side — and exact cosine
    runs only inside the probed lists, cutting scored candidates to
    ~``n_probe / n_lists`` of the corpus. Unlike data-oblivious SRP
    hyperplanes, the quantizer adapts to the data distribution, which is
    what makes IVF the standard billion-scale layout (FAISS-style).
    """
    assigned, centroids = ivf_build_index(
        corpus,
        id_col=id_col,
        vec_col=vec_col,
        n_lists=n_lists,
        seed=seed,
        max_iter=max_iter,
        fit_fraction=fit_fraction,
    )
    # Query-side probe assignment: distances to all centroids as a literal
    # array (centroids are driver-small by construction), top-n_probe lists.
    return ivf_search_index(
        assigned,
        centroids,
        queries,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        n_probe=n_probe,
    )


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    with_dist: bool = False,
) -> DataFrame:
    """Assign vectors to their nearest IVF list given FROZEN centroids —
    the incremental-ingest half of the IVF lifecycle. A daily batch joins
    a persisted index WITHOUT refitting the quantizer: centroids are just
    data (a driver-small literal), so ingest needs no KMeans model object,
    no ML library at all — one narrow argmin map, zero shuffles.

    Output: (id, _cv double-array, _list) rows, union-compatible with the
    index built by :func:`ivf_build_index`.

    ``with_dist=True`` (round 13) additionally emits ``_dist`` — the
    euclidean distance to the winning centroid, i.e. the argmin struct's
    own ``d`` field.  Consumers that need the audit distance (the
    SemDeDup build/incremental paths) previously re-derived it through a
    k-row broadcast join against a centroid relation; the join recomputed
    the IDENTICAL expression (same kernel, same literal doubles) one
    extra exchange later, so reading it off the argmin is bit-identical
    and one BroadcastHashJoin cheaper per call site."""
    c = df.select(F.col(id_col), as_double_array(F.col(vec_col)).alias("_cv"))
    dists = F.array(
        *[
            F.struct(
                euclidean_distance(
                    F.col("_cv"), F.array(*[F.lit(x) for x in ctr])
                ).alias("d"),
                F.lit(i).alias("l"),
            )
            for i, ctr in enumerate(centroids)
        ]
    )
    best = F.array_sort(dists)[0]
    if with_dist:
        # codegen's subexpression elimination evaluates `best` once for
        # both field extractions (deterministic expression, one project)
        return c.select(
            id_col,
            "_cv",
            best.getField("l").alias("_list"),
            best.getField("d").alias("_dist"),
        )
    return c.select(id_col, "_cv", best.getField("l").alias("_list"))


def ivf_build_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    seed: int = 42,
    max_iter: int = 8,
    fit_fraction: float = 0.25,
) -> tuple[DataFrame, list[list[float]]]:
    """Fit the coarse quantizer (on a seed-pinned sample — see
    :func:`ivf_topk`) and assign the whole corpus. Returns the assigned
    index DataFrame (persist it as parquet partitioned by ``_list``) and
    the centroid list (persist as JSON next to it). Rebuilds are rare,
    scheduled events; daily ingest goes through :func:`ivf_assign`."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    c = corpus.select(F.col(id_col), as_double_array(F.col(vec_col)).alias("_cv"))
    cv = c.withColumn("_features", array_to_vector("_cv"))
    fit_df = cv if fit_fraction >= 1.0 else cv.sample(fraction=fit_fraction, seed=seed)
    model = KMeans(
        k=n_lists, seed=seed, maxIter=max_iter,
        featuresCol="_features", predictionCol="_list",
    ).fit(fit_df)
    assigned = model.transform(cv).select(id_col, "_cv", "_list")
    centroids = [list(map(float, ctr)) for ctr in model.clusterCenters()]
    return assigned, centroids


def ivf_search_index(
    assigned: DataFrame,
    centroids: list[list[float]],
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_probe: int = 4,
) -> DataFrame:
    """Search a (possibly reloaded / incrementally grown) IVF index: each
    query probes its ``n_probe`` nearest lists, exact cosine runs only
    inside probed lists. Same plan shape as the search half of
    :func:`ivf_topk` — broadcast probe fan-out, one window top-k."""
    q = queries.select(
        F.col(query_id_col), as_double_array(F.col(vec_col)).alias("_qv")
    )
    dists = F.array(
        *[
            F.struct(
                euclidean_distance(
                    F.col("_qv"), F.array(*[F.lit(x) for x in ctr])
                ).alias("d"),
                F.lit(i).alias("l"),
            )
            for i, ctr in enumerate(centroids)
        ]
    )
    probed = q.withColumn(
        "_list",
        F.explode(
            F.transform(
                F.slice(F.array_sort(dists), 1, n_probe), lambda s: s.getField("l")
            )
        ),
    )
    scored = assigned.join(F.broadcast(probed), "_list").select(
        query_id_col,
        id_col,
        F.round(cosine_similarity(F.col("_qv"), F.col("_cv")), 6).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "rank", "cosine")
    )


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
) -> DataFrame:
    """Per-vector scalar quantization to ``bits``-bit codes — the 4×
    (float32→int8) memory/IO reduction that makes billion-vector indexes
    fit storage budgets. Each vector is min/max-scaled to [0, 2^bits-1]
    with its own (scale, offset) pair kept alongside for dequantization.

    Engine-portable arithmetic: codes are ``floor(x_norm * levels + 0.5)``
    — floor rounds identically everywhere, unlike round-half-up vs
    half-even. Pure array transforms, zero shuffle, fused into the scan.

    (offset, scale) are materialized through an ``inline`` generator
    BEFORE the code transform: inlining them as expressions would embed
    array_min/array_max inside the per-element lambda after projection
    collapse — an O(dim²) scan per row (measured ~3× slower at dim=64)."""
    levels = (1 << bits) - 1
    v = as_double_array(F.col(vec_col))
    vmin, vmax = F.array_min(v), F.array_max(v)
    scale = (vmax - vmin) / F.lit(float(levels))
    safe_scale = F.when(scale == 0, F.lit(1.0)).otherwise(scale)
    prepared = df.select(
        F.col(id_col),
        F.inline(
            F.array(
                F.struct(
                    v.alias("_v"), vmin.alias("offset"), safe_scale.alias("scale")
                )
            )
        ),
    )
    return prepared.select(
        F.col(id_col),
        F.transform(
            F.col("_v"),
            lambda x: F.floor(
                (x - F.col("offset")) / F.col("scale") + F.lit(0.5)
            ).cast("int"),
        ).alias("codes"),
        F.col("offset"),
        F.col("scale"),
    )


def pq_train(
    df: DataFrame,
    m: int = 4,
    k: int = 16,
    n_assign: int = 2,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    fit_fraction: float = 1.0,
) -> DataFrame:
    """Product-quantization codebook training (Jégou et al. 2011 — the
    FAISS IVF-PQ compression tier, between :func:`quantize_embeddings`'s
    int8 scalar codes and raw floats): split each vector into ``m``
    contiguous subvectors and train an INDEPENDENT k-means codebook per
    subspace.  Memory per vector drops from dim x 4 bytes to m x ceil(
    log2 k)/8 bytes (m=4, k=16: 2 BYTES per vector) while distances stay
    approximable subspace-wise.

    Each subspace codebook is the exact, partition-invariant
    :func:`kmeans_lloyd` chain (deterministic smallest-id seeds, decimal
    means), so training is ORACLE-REPLAYABLE — a property no engine's
    native PQ gives you.  Cost: m independent chains of ``n_assign``
    narrow passes; the m results union into one parameter-sized relation
    (subspace, cluster_id, centroid) with m*k rows total.

    ``dim % m`` must be 0 (contiguous equal splits — the standard PQ
    layout); raises otherwise rather than silently padding.

    ``fit_fraction`` is the production sampled-fit seam (the same
    discipline as :func:`ivf_build_index`): codebooks train on a
    DETERMINISTIC md5-gated subset — ``md5_hash60(id) % 1e6 <
    fit_fraction * 1e6`` — never on the full corpus.  Unlike MLlib's
    Bernoulli sample, the gate is a pure function of the id, so the
    sampled fit stays partition-invariant AND oracle-replayable (DuckDB
    applies the same md5 predicate).  Encoding always covers the full
    corpus; only training narrows."""
    from ..functions.hashing import md5_hash60

    first = df.select(F.size(as_double_array(F.col(emb_col)))).first()
    if first is None:
        raise ValueError("pq_train: empty corpus")
    dim = int(first[0])
    if m < 1 or dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    if not (0.0 < fit_fraction <= 1.0):
        raise ValueError(f"fit_fraction must be in (0, 1], got {fit_fraction}")
    fit = df
    if fit_fraction < 1.0:
        fit = df.filter(
            md5_hash60(F.col(id_col).cast("string")) % F.lit(1_000_000)
            < F.lit(int(fit_fraction * 1_000_000))
        )
    sub = dim // m
    parts = []
    for s in range(m):
        vs = fit.select(
            F.col(id_col),
            F.slice(
                as_double_array(F.col(emb_col)), s * sub + 1, sub
            ).alias("_sv"),
        )
        cents = kmeans_lloyd(
            vs, k=k, n_assign=n_assign, emb_col="_sv", id_col=id_col,
            return_centroids=True,
        )
        parts.append(
            cents.select(
                F.lit(s).alias("subspace"), "cluster_id", "centroid"
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def pq_encode(
    df: DataFrame,
    codebooks: DataFrame,
    m: int,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    extra_cols: "Sequence[str]" = (),
) -> DataFrame:
    """Encode vectors against trained PQ codebooks: per subspace, the
    nearest-centroid id (ties by smaller centroid id — total order).
    Output: (id, codes ARRAY<INT> of length m).

    Plan shape: the m*k codebook rows collapse to ONE parameter-sized
    broadcast row (array of (subspace, cid, vector) structs, sorted);
    each point computes all m argmins in a single narrow TRANSFORM over
    that array — zero shuffles, fused into the scan.  This is the
    frozen-codebook ingest map: daily batches encode without touching
    the training corpus, exactly like ivf_assign.

    ``extra_cols`` are carried through unchanged — e.g. the IVF list id
    when building a composed IVF-PQ index (codes stored IN the inverted
    lists, the FAISS layout), so no corpus-sized re-join afterwards."""
    # The m-vs-codebook cross-check rides INSIDE the broadcast relation
    # as a raise_error guard (the _pq_query_lut dense-guard pattern):
    # _cb is sorted by (s, c), so the last element's subspace + 1 is the
    # codebook's m.  An eager .first() here would re-execute the full PQ
    # Lloyd training DAG once per encode call before the broadcast
    # collect executes it again (r11 ADVICE).
    raw_cb = codebooks.select(
        F.struct(
            F.col("subspace").alias("s"),
            F.col("cluster_id").alias("c"),
            F.col("centroid").alias("v"),
        ).alias("_e")
    ).agg(F.sort_array(F.collect_list("_e")).alias("_cb"))
    cb = F.broadcast(
        raw_cb.select(
            F.when(
                F.element_at(F.col("_cb"), -1)["s"] + 1 == F.lit(m),
                F.col("_cb"),
            )
            .otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(f"pq_encode: m={m} but codebook has "),
                        (
                            F.element_at(F.col("_cb"), -1)["s"] + 1
                        ).cast("string"),
                        F.lit(" subspaces"),
                    )
                )
            )
            .alias("_cb")
        )
    )
    v = as_double_array(F.col(emb_col))
    first = df.select(F.size(v)).first()
    dim = int(first[0]) if first else 0
    # Mirror pq_train's refusal: with dim % m != 0 the trailing
    # dim - m*(dim//m) components would silently drop from every
    # subspace slice — wrong codes with no error.
    if m < 1 or (first is not None and dim % m != 0):
        raise ValueError(f"pq_encode: dim {dim} not divisible by m={m}")
    sub = dim // m if m else 0
    # per-subspace argmin on the SQRT euclidean — the proven
    # cross-engine-exact kernel (euclidean_distance == DuckDB
    # list_distance bit-for-bit); squared-vs-sqrt argmins can diverge
    # on near-ties after the correctly-rounded sqrt collapses them
    codes = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda s: F.array_min(
            F.transform(
                F.filter(F.col("_cb"), lambda e: e["s"] == s),
                lambda e: F.struct(
                    euclidean_distance(
                        F.slice(F.col("_x"), s * F.lit(sub) + 1, sub),
                        e["v"],
                    ).alias("d"),
                    e["c"].alias("c"),
                ),
            )
        )["c"].cast("int"),
    )
    extras = [F.col(c) for c in extra_cols]
    return (
        df.select(F.col(id_col), *extras, v.alias("_x"))
        .crossJoin(cb)
        .select(F.col(id_col), *extras, codes.alias("codes"))
    )


def _pq_query_lut(
    codebooks: DataFrame,
    queries: DataFrame,
    m: int,
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Per-query ADC lookup table — (query_id, _k, _lut) with
    LUT[s*k + c] = ||q_s - centroid(s,c)|| (L2, NOT squared: the score
    is the sum of per-subspace L2 distances — a deliberate variant of
    squared-ADC, because euclidean_distance == list_distance is the
    proven cross-engine-exact kernel while a squared fold summed in
    engine-specific order is not; ranking quality is recall-tested).
    Shared by :func:`pq_search_adc` (full scan) and
    :func:`pq_search_ivf_adc` (list-pruned scan).

    Refuses a dim % m mismatch (silently-wrong LUT otherwise) and a
    non-dense codebook: the positional lookup REQUIRES dense (s, c)
    ids — a cluster that emptied during Lloyd would silently shift
    every later position and mis-score candidates.  The dense check is
    one boolean over the parameter-sized sorted array, per query row
    (a handful of rows)."""
    cb = (
        codebooks.select(
            F.struct(
                F.col("subspace").alias("s"),
                F.col("cluster_id").alias("c"),
                F.col("centroid").alias("v"),
            ).alias("_e")
        ).agg(F.sort_array(F.collect_list("_e")).alias("_cb"))
    )
    q = queries.select(
        F.col(query_id_col), as_double_array(F.col(vec_col)).alias("_qv")
    ).crossJoin(F.broadcast(cb))
    first = queries.select(F.size(as_double_array(F.col(vec_col)))).first()
    dim = int(first[0]) if first else 0
    if m < 1 or (first is not None and dim % m != 0):
        raise ValueError(f"pq ADC: dim {dim} not divisible by m={m}")
    sub = dim // m if m else 0
    kk = F.size(F.filter(F.col("_cb"), lambda e: e["s"] == 0))
    # _cb is sorted by (s, c) so array position IS s*k + c.
    lut = F.transform(
        F.col("_cb"),
        lambda e: euclidean_distance(
            F.slice(F.col("_qv"), e["s"] * F.lit(sub) + 1, sub), e["v"]
        ),
    )
    dense = F.aggregate(
        F.zip_with(
            F.col("_cb"),
            F.sequence(F.lit(0), F.size(F.col("_cb")) - 1),
            lambda e, i: (e["s"] == (i / kk).cast("int"))
            & (e["c"] == F.pmod(i, kk)),
        ),
        F.lit(True),
        lambda acc, x: acc & x,
    ) & (F.size(F.col("_cb")) == F.lit(m) * kk)
    return q.select(
        query_id_col,
        kk.alias("_k"),
        F.when(dense, lut)
        .otherwise(
            F.raise_error(
                F.lit(
                    "pq ADC: codebook (subspace, cluster_id) ids are "
                    "not dense — a cluster emptied during training; re-train "
                    "with smaller k or denser seeds"
                )
            )
        )
        .alias("_lut"),
    )


def pq_search_adc(
    encoded: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: each query
    precomputes its distance to every codebook centroid ONCE (an m*k
    lookup table — parameter-sized), then a candidate's approximate
    distance is just m table lookups summed — no per-pair vector math,
    which is the entire PQ speedup (dim multiplies -> m adds per
    candidate).  The score is the sum of per-subspace L2 distances (see
    the LUT note below for why that variant is the cross-engine-exact
    one); planted-recall tests pin its ranking quality.

    Plan shape: the LUT builds on the broadcast (queries x one-row
    codebook) side; candidates stream through a BroadcastNestedLoopJoin
    against the tiny query set exactly like :func:`brute_force_topk`
    (PQ compresses the scan, IVF prunes it — compose with list
    filtering for both).  Output: (query_id, id, rank, approx_dist)
    with the deterministic (distance asc, id asc) total order."""
    qlut = _pq_query_lut(codebooks, queries, m, vec_col, query_id_col)
    scored = encoded.crossJoin(F.broadcast(qlut)).select(
        query_id_col,
        F.col(id_col),
        F.round(
            F.aggregate(
                F.zip_with(
                    F.col("codes"),
                    F.sequence(F.lit(0), F.lit(m - 1)),
                    lambda c, s: F.element_at(
                        F.col("_lut"), (s * F.col("_k") + c + 1).cast("int")
                    ),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        ).alias("approx_dist"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("approx_dist").asc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "rank", "approx_dist")
    )


def pq_search_ivf_adc(
    encoded: DataFrame,
    codebooks: DataFrame,
    centroids: "list[tuple[int, list[int]]] | DataFrame",
    queries: DataFrame,
    k: int = 10,
    m: int = 4,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    scale_bits: int = 20,
) -> DataFrame:
    """The composed FAISS production tier — IVF list pruning x PQ code
    compression (IVFADC, Jégou et al. 2011 §IV): each query probes its
    ``n_probe`` nearest coarse lists by exact INTEGER centroid distance
    (ties by list id — the same probe rule, and the same frozen
    centroids, as :func:`ivf_search_index_exact`), then ADC-scores ONLY
    the PQ codes stored in those lists.  :func:`pq_search_adc` scans
    every code; this scans ~n_probe/n_lists of them — at 100 TB the
    difference between touching the whole index and touching 1/4 of it,
    on top of PQ's 128x byte shrink.

    ``encoded``: (id, _list, codes) — the inverted-list layout from
    ``pq_encode(assigned, ..., extra_cols=["_list"])`` or a reloaded
    :func:`load_pq_index` artifact (parquet PARTITIONED BY _list, so
    the probe join prunes the scan to probed partitions).

    Plan shape: probes and LUTs are parameter-sized broadcasts (n_q x
    n_probe rows; n_q x m*k doubles); the code scan joins them
    broadcast-hash, so the only data-proportional work is the pruned
    narrow scan + one batch-sized top-k window per query.  Everything
    is exact integer / proven-kernel arithmetic — the whole composed
    lifecycle (coarse Lloyd, subspace Lloyd, encode, probe, LUT, fold
    order) replays in DuckDB."""
    q = queries.select(
        F.col(query_id_col),
        _quantize_ints(as_double_array(F.col(vec_col)), scale_bits).alias(
            "_qv_i"
        ),
    ).crossJoin(F.broadcast(_cs_rel(centroids, queries.sparkSession)))
    probed = q.withColumn(
        "_list",
        F.explode(
            F.transform(
                F.slice(
                    F.array_sort(
                        _cs_struct_dists(F.col("_qv_i"), F.col("cs"))
                    ),
                    1,
                    n_probe,
                ),
                lambda s: s.getField("l"),
            )
        ),
    ).select(query_id_col, "_list")
    qlut = _pq_query_lut(codebooks, queries, m, vec_col, query_id_col)
    scored = (
        encoded.join(F.broadcast(probed), "_list")
        .join(F.broadcast(qlut), query_id_col)
        .select(
            query_id_col,
            F.col(id_col),
            F.round(
                F.aggregate(
                    F.zip_with(
                        F.col("codes"),
                        F.sequence(F.lit(0), F.lit(m - 1)),
                        lambda c, s: F.element_at(
                            F.col("_lut"),
                            (s * F.col("_k") + c + 1).cast("int"),
                        ),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                6,
            ).alias("approx_dist"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("approx_dist").asc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "rank", "approx_dist")
    )


def _ivf_centroid_rel(centroids, spark) -> DataFrame:
    """Exact-IVF centroids as a k-row relation (_list, _c int-array) —
    the per-row join form for residual computation (the one-row cs
    relation of :func:`_cs_rel` is the argmin form)."""
    if isinstance(centroids, DataFrame):
        # one-row cs relation -> explode to k rows
        return centroids.select(
            F.explode("cs").alias("_e")
        ).select(F.col("_e.l").alias("_list"), F.col("_e.c").alias("_c"))
    return spark.createDataFrame(
        [(int(l), [int(x) for x in c]) for l, c in centroids],
        "_list int, _c array<bigint>",
    )


def pq_residuals(
    assigned: DataFrame,
    centroids: "list[tuple[int, list[int]]] | DataFrame",
    id_col: str = "vec_id",
    scale_bits: int = 20,
) -> DataFrame:
    """Coarse-quantizer RESIDUALS for true IVFADC (Jégou et al. 2011
    §IV-A): r = (q(x) - c_list) / 2^scale_bits, where q(x) is the
    exact-integer quantization the coarse index already stores (``_qv``)
    and c_list its assigned centroid.  Integer subtraction scaled by a
    power of two — every residual component is an exactly-representable
    double, so residual PQ training/encoding/search stays
    oracle-replayable, which float residuals would not be.

    Residual encoding is the accuracy-critical half of IVFADC: raw
    vectors within a list share their centroid's offset, so encoding
    the OFFSET-FREE residual spends the codebook's resolution on the
    within-list structure instead of re-describing the centroid.

    Input: the (id, _cv, _qv, _list) relation of
    :func:`ivf_build_index_exact` / :func:`ivf_assign_exact`.
    Output: (id, _list, _rv array<double>) — one broadcast join, narrow."""
    cent = _ivf_centroid_rel(centroids, assigned.sparkSession)
    scale = float(1 << scale_bits)
    return assigned.join(F.broadcast(cent), "_list").select(
        F.col(id_col),
        F.col("_list"),
        F.zip_with(
            "_qv", "_c", lambda a, b: (a - b) / F.lit(scale)
        ).alias("_rv"),
    )


def pq_search_ivf_residual(
    encoded: DataFrame,
    codebooks: DataFrame,
    centroids: "list[tuple[int, list[int]]] | DataFrame",
    queries: DataFrame,
    k: int = 10,
    m: int = 4,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    scale_bits: int = 20,
) -> DataFrame:
    """True-IVFADC search over RESIDUAL codes: the lookup table is built
    per (query, probed list) from the query's residual AGAINST THAT
    LIST's centroid — n_q x n_probe LUTs of m*k entries each, still
    parameter-sized — then candidates in the list sum their code's m
    lookups exactly as in :func:`pq_search_ivf_adc`.

    ``encoded``: (id, _list, codes) over residuals — from
    ``pq_encode(pq_residuals(assigned, cents), books, m,
    emb_col="_rv", extra_cols=["_list"])``.

    Plan shape identical to the raw-vector composition (broadcast
    probes/LUTs, pruned narrow scan, one top-k window); only the LUT
    construction gains the per-list centroid join — against the k-row
    centroid relation, broadcast."""
    spark = queries.sparkSession
    q = queries.select(
        F.col(query_id_col),
        _quantize_ints(as_double_array(F.col(vec_col)), scale_bits).alias(
            "_qv_i"
        ),
    ).crossJoin(F.broadcast(_cs_rel(centroids, spark)))
    probed = q.withColumn(
        "_list",
        F.explode(
            F.transform(
                F.slice(
                    F.array_sort(
                        _cs_struct_dists(F.col("_qv_i"), F.col("cs"))
                    ),
                    1,
                    n_probe,
                ),
                lambda s: s.getField("l"),
            )
        ),
    ).select(query_id_col, "_qv_i", "_list")
    # per-(query, list) residual of the query against the probed list's
    # centroid — the defining IVFADC step
    scale = float(1 << scale_bits)
    cent = _ivf_centroid_rel(centroids, spark)
    qres = probed.join(F.broadcast(cent), "_list").select(
        query_id_col,
        "_list",
        F.zip_with(
            "_qv_i", "_c", lambda a, b: (a - b) / F.lit(scale)
        ).alias("_qr"),
    )
    # m*k LUT per (query, list) row — same collapsed-codebook + dense
    # guard as _pq_query_lut, keyed by the pair instead of the query
    cb = (
        codebooks.select(
            F.struct(
                F.col("subspace").alias("s"),
                F.col("cluster_id").alias("c"),
                F.col("centroid").alias("v"),
            ).alias("_e")
        ).agg(F.sort_array(F.collect_list("_e")).alias("_cb"))
    )
    first = queries.select(F.size(as_double_array(F.col(vec_col)))).first()
    dim = int(first[0]) if first else 0
    if m < 1 or (first is not None and dim % m != 0):
        raise ValueError(
            f"pq_search_ivf_residual: dim {dim} not divisible by m={m}"
        )
    sub = dim // m if m else 0
    kk = F.size(F.filter(F.col("_cb"), lambda e: e["s"] == 0))
    lut = F.transform(
        F.col("_cb"),
        lambda e: euclidean_distance(
            F.slice(F.col("_qr"), e["s"] * F.lit(sub) + 1, sub), e["v"]
        ),
    )
    dense = F.aggregate(
        F.zip_with(
            F.col("_cb"),
            F.sequence(F.lit(0), F.size(F.col("_cb")) - 1),
            lambda e, i: (e["s"] == (i / kk).cast("int"))
            & (e["c"] == F.pmod(i, kk)),
        ),
        F.lit(True),
        lambda acc, x: acc & x,
    ) & (F.size(F.col("_cb")) == F.lit(m) * kk)
    qlut = qres.crossJoin(F.broadcast(cb)).select(
        query_id_col,
        "_list",
        kk.alias("_k"),
        F.when(dense, lut)
        .otherwise(
            F.raise_error(
                F.lit(
                    "pq_search_ivf_residual: codebook (subspace, cluster_id)"
                    " ids are not dense — a cluster emptied during training"
                )
            )
        )
        .alias("_lut"),
    )
    scored = encoded.join(
        F.broadcast(qlut), ["_list"]
    ).select(
        query_id_col,
        F.col(id_col),
        F.round(
            F.aggregate(
                F.zip_with(
                    F.col("codes"),
                    F.sequence(F.lit(0), F.lit(m - 1)),
                    lambda c, s: F.element_at(
                        F.col("_lut"), (s * F.col("_k") + c + 1).cast("int")
                    ),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        ).alias("approx_dist"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("approx_dist").asc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "rank", "approx_dist")
    )


def pq_search_rerank(
    encoded: DataFrame,
    codebooks: DataFrame,
    centroids: "list[tuple[int, list[int]]] | DataFrame",
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    shortlist: int = 100,
    m: int = 4,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    scale_bits: int = 20,
) -> DataFrame:
    """IVFADC + exact re-rank — the complete FAISS two-stage recipe
    (Jégou et al. 2011 §V): :func:`pq_search_ivf_adc` shortlists
    ``shortlist`` candidates per query from the probed lists by
    approximate distance, then ONLY those candidates fetch their raw
    vectors for exact cosine re-ranking.  PQ distortion decides the
    shortlist, never the final order — the standard fix for ADC's
    within-cluster tie scrambling.

    Scale shape: the shortlist is bounded by n_queries x ``shortlist``
    (parameter-sized), so the raw-vector fetch is a BROADCAST-hash
    probe into one narrow corpus scan — no corpus shuffle, no exact
    scoring outside the shortlist.  Output: (query_id, id, rank,
    cosine) with the deterministic (cosine desc, id asc) total order.
    Fully oracle-replayable: both stages are exact arithmetic."""
    short = pq_search_ivf_adc(
        encoded,
        codebooks,
        centroids,
        queries,
        k=shortlist,
        m=m,
        n_probe=n_probe,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        scale_bits=scale_bits,
    ).select(query_id_col, id_col)
    c = corpus.select(
        F.col(id_col), as_double_array(F.col(vec_col)).alias("_cv")
    )
    q = queries.select(
        F.col(query_id_col), as_double_array(F.col(vec_col)).alias("_qv")
    )
    scored = (
        c.join(F.broadcast(short), id_col)
        .join(F.broadcast(q), query_id_col)
        .select(
            query_id_col,
            id_col,
            F.round(
                cosine_similarity(F.col("_qv"), F.col("_cv")), 6
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "rank", "cosine")
    )


PQ_INDEX_FORMAT_VERSION = 1


def save_pq_index(
    encoded: DataFrame,
    codebooks: DataFrame,
    centroids,
    path: str,
    encoding: str = "raw",
    scale_bits: int = 20,
) -> None:
    """Persist a composed IVF-PQ index as a versioned artifact — the
    compressed sibling of :func:`save_ivf_index`: the (id, _list,
    codes) relation goes to parquet PARTITIONED BY the list id (a
    search probing ``n_probe`` lists prunes to those partitions at the
    scan), the PQ codebooks to their own parameter-sized parquet, the
    coarse centroids to JSON, and ``meta.json`` pins the format version
    plus m/k so a loader refuses incompatible layouts.

    ``encoding`` records WHAT the codes quantize — ``"raw"`` vectors
    (:func:`pq_search_ivf_adc`) or coarse-quantizer ``"residual"``s
    (:func:`pq_search_ivf_residual`).  Searching residual codes with
    the raw-vector LUT (or vice versa) returns silently wrong distances,
    so the marker lets a loader dispatch — and refuse — correctly.

    ``scale_bits`` records the integer-quantizer scale the exact-kind
    centroids (and residual codes) were built with; a search reading
    the artifact MUST probe and build residual LUTs at the SAME scale
    or its distances are silently wrong, so the value rides in
    meta.json and :func:`pq_search_index` takes it from there
    (r11 ADVICE).

    ``centroids`` accepts the collected [(list_id, int_vector)] /
    [float_vector] list forms, or the lazy one-row ``cs`` relation the
    sibling search functions take (collected here — it is
    parameter-sized); anything else is refused up front instead of
    dying later inside payload serialization (r11 ADVICE)."""
    if encoding not in ("raw", "residual"):
        raise ValueError(f"encoding must be 'raw' or 'residual', got {encoding!r}")
    import json as _json
    import os as _os

    if isinstance(centroids, DataFrame):
        if "cs" not in centroids.columns:
            raise ValueError(
                "save_pq_index: centroids must be a [(list_id, int_vector)]"
                " list, a [float_vector] list, or the one-row 'cs' relation"
                f" from ivf_exact_cs; got a DataFrame with columns"
                f" {centroids.columns}"
            )
        row = centroids.select("cs").first()
        centroids = [
            (int(s["l"]), [int(x) for x in s["c"]])
            for s in (row["cs"] if row else [])
        ]
    # Repartition by the partition column before the partitioned write:
    # without it every one of the N input tasks opens a file in every
    # list directory it holds rows for (up to tasks x n_lists tiny
    # files; 32 x 16 measured at sf0.1), which slows the commit AND
    # every later probe scan.
    _cluster_for_write(encoded, "_list").write.mode(
        "overwrite"
    ).partitionBy("_list").parquet(_os.path.join(path, "codes.parquet"))
    codebooks.coalesce(1).write.mode("overwrite").parquet(
        _os.path.join(path, "codebooks.parquet")
    )
    exact = bool(centroids) and isinstance(centroids[0], tuple)
    payload = (
        [[int(l), [int(x) for x in c]] for l, c in centroids]
        if exact
        else [[float(x) for x in c] for c in centroids]
    )
    with open(_os.path.join(path, "centroids.json"), "w") as fh:
        _json.dump(payload, fh)
        fh.write("\n")
    # m/k for the meta guard come from the parquet JUST WRITTEN, not the
    # input DataFrame: an agg over `codebooks` would re-execute its full
    # training DAG (4 subspace Lloyd chains for the PQ queries) one more
    # time per save (r11 ADVICE class — the pq_encode eager-guard bug).
    mk = (
        encoded.sparkSession.read.parquet(
            _os.path.join(path, "codebooks.parquet")
        )
        .agg(
            (F.max("subspace") + 1).alias("_m"),
            (F.max("cluster_id") + 1).alias("_k"),
        )
        .first()
    )
    with open(_os.path.join(path, "meta.json"), "w") as fh:
        _json.dump(
            {
                "format_version": PQ_INDEX_FORMAT_VERSION,
                "kind": "exact" if exact else "float",
                "encoding": encoding,
                "n_lists": len(payload),
                "m": int(mk["_m"]) if mk and mk["_m"] is not None else 0,
                "k": int(mk["_k"]) if mk and mk["_k"] is not None else 0,
                "scale_bits": int(scale_bits),
            },
            fh,
            indent=1,
            sort_keys=True,
        )
        fh.write("\n")


def load_pq_index(spark, path: str):
    """Load a :func:`save_pq_index` artifact -> (encoded, codebooks,
    centroids, meta) ready for :func:`pq_search_ivf_adc`.  Raises
    ValueError on a missing/garbled meta.json or an unknown
    format_version (refusing beats silently mis-searching)."""
    import json as _json
    import os as _os

    try:
        with open(_os.path.join(path, "meta.json")) as fh:
            meta = _json.load(fh)
    except (OSError, ValueError) as exc:
        raise ValueError(
            f"not a PQ index artifact (no readable meta.json): {path}"
        ) from exc
    ver = meta.get("format_version")
    if ver != PQ_INDEX_FORMAT_VERSION:
        raise ValueError(
            f"PQ index artifact {path} has format_version {ver!r}; this "
            f"code reads version {PQ_INDEX_FORMAT_VERSION}"
        )
    with open(_os.path.join(path, "centroids.json")) as fh:
        raw = _json.load(fh)
    centroids = (
        [(int(l), [int(x) for x in c]) for l, c in raw]
        if meta.get("kind") == "exact"
        else [[float(x) for x in c] for c in raw]
    )
    encoded = spark.read.parquet(_os.path.join(path, "codes.parquet"))
    codebooks = spark.read.parquet(_os.path.join(path, "codebooks.parquet"))
    return encoded, codebooks, centroids, meta


def pq_search_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    **search_kwargs,
):
    """Search a persisted IVF-PQ artifact — loads it and DISPATCHES on
    the recorded ``encoding``: raw codes go through
    :func:`pq_search_ivf_adc`, residual codes through
    :func:`pq_search_ivf_residual` (whose LUTs are built from per-list
    query residuals).  Running the wrong LUT against a code set returns
    silently wrong distances, which is exactly why the artifact records
    what its codes quantize; ``m`` AND ``scale_bits`` come from the
    artifact too, so a caller cannot mis-slice or probe/build residual
    LUTs at a different quantizer scale than the index was built with —
    an artifact whose meta omits scale_bits is refused rather than
    silently searched at the default (r11 ADVICE)."""
    encoded, codebooks, centroids, meta = load_pq_index(spark, path)
    if "scale_bits" not in meta:
        raise ValueError(
            f"PQ index artifact {path} meta.json omits scale_bits; "
            "rebuild it with save_pq_index (searching at a guessed scale "
            "returns silently wrong distances)"
        )
    fn = (
        pq_search_ivf_residual
        if meta.get("encoding") == "residual"
        else pq_search_ivf_adc
    )
    return fn(
        encoded,
        codebooks,
        centroids,
        queries,
        k=k,
        m=int(meta["m"]),
        n_probe=n_probe,
        scale_bits=int(meta["scale_bits"]),
        **search_kwargs,
    )


def embedding_cosine_dedup(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    bucket_bits: "int | str" = 6,
    seed: int = 42,
    n_tables: int = 1,
    target_bucket_size: int = 64,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ threshold, SRP-bucketed
    self-join (same-bucket pairs only). Normalized vectors → cosine is a
    plain dot product.

    ``bucket_bits="auto"`` derives the bit width from the CORPUS size —
    ceil(log2(n / target_bucket_size)) — the same corpus-relative
    discipline as the dedup tier's ``relative_cap``: a FIXED bit width
    makes the self-join quadratic no matter the content (2^b buckets ×
    (n/2^b)² pairs = n²/2^(b+1) — a round-8 three-decade probe measured
    embedding dedup going 2.78x on a 2x step from exactly this), while
    auto bits hold expected bucket membership at ``target_bucket_size``
    so candidates stay ~n·target/2 — linear. Deeper buckets lower
    per-table recall for borderline-cosine pairs, so auto mode pairs
    with ``n_tables`` INDEPENDENT tables (seeded seed+t; candidates are
    the distinct union): miss probability multiplies per table —
    P(candidate) = 1-(1-agree^b)^L with agree = 1-acos(cos)/π. Exact
    duplicates (cosine 1.0 — identical normalized vectors) collide in
    EVERY table at ANY width, so the dedup-tier contract (find true
    copies) is width-independent; the borderline band is the standard
    LSH recall/cost dial, documented not hidden.

    ``auto`` mode contract (round 9, explicit): resolving the width
    runs ONE eager COUNT job at call time — this function is otherwise
    a lazy builder, so the count is the single deliberate exception
    (same as the dedup tier's ``_resolve_cap``), bounded to a
    count-star over one column. And because deeper corpora mean deeper
    buckets, recall for NON-identical pairs (threshold <= cosine < 1)
    depends on (bits, n_tables) while the differential oracle stays an
    exact all-pairs join — tests/test_round9_ops.py pins the guard: at
    the oracle SF every exact pair must be produced by THIS generator,
    so a testdata regeneration that introduces a borderline pair the
    chosen width would miss fails a named test instead of silently
    flipping the driver hash."""
    if bucket_bits == "auto":
        n = df.select(id_col).count()  # one tiny count job, like _resolve_cap
        bucket_bits = max(
            6, math.ceil(math.log2(max(n / max(target_bucket_size, 1), 2)))
        )
    v = df.select(
        F.col(id_col), normalize(as_double_array(F.col(vec_col))).alias("_v")
    )
    tagged = v.select(
        id_col,
        "_v",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("t"),
                        srp_bucket(
                            F.col("_v"),
                            _srp_hyperplanes(dim, bucket_bits, seed + t),
                        ).alias("b"),
                    )
                    for t in range(max(n_tables, 1))
                ]
            )
        ).alias("_tb"),
    ).select(
        id_col, "_v",
        F.col("_tb.t").alias("_table"), F.col("_tb.b").alias("_bucket"),
    )
    a, b = tagged.alias("a"), tagged.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a._table") == F.col("b._table"))
            & (F.col("a._bucket") == F.col("b._bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a._v").alias("_va"),
            F.col("b._v").alias("_vb"),
        )
    )
    # Verify BEFORE cross-table dedup: the dot product is a narrow map,
    # so each table's candidates are scored in place and only the
    # (tiny) qualifying pair set pays the distinct shuffle — deduping
    # first would shuffle every candidate with BOTH 64-double vectors
    # attached (~1 KB/row; measured 43 s vs 14 s at the sf2 decade).
    scored = cand.select(
        "id_a",
        "id_b",
        F.round(dot(F.col("_va"), F.col("_vb")), 6).alias("cosine"),
    ).filter(F.col("cosine") >= threshold)
    if n_tables > 1:
        scored = scored.dropDuplicates(["id_a", "id_b"])
    return scored


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.9,
    k: "int | str" = "auto",
    n_assign: int = 3,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    target_cluster_size: int = 64,
    quantizer: str = "exact",
    n_lists: "int | str" = "auto",
    fit_fraction: float = 0.25,
    seed: int = 42,
    max_iter: int = 8,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
    the corpus on the unit sphere, then prune within-cluster cosine
    near-duplicates, keeping the most "canonical" member — the point
    closest to its centroid (ties by smaller id). The standard
    embedding-level curation step for LLM corpora.

    Semantics: a point is pruned iff SOME same-cluster neighbor with
    cosine >= ``threshold`` is strictly more canonical (smaller rounded
    centroid distance, ties by id). Chains prune transitively through
    their canonical neighbor even when that neighbor is itself pruned —
    the deterministic greedy rule, documented not hidden. Clustering
    runs on NORMALIZED vectors (cosine geometry), so exact duplicates —
    including collinear copies, whose normalization is bit-identical —
    always share a cluster and always collapse.

    QUANTIZER SEAM (round 10) — two clusterings, one prune:

    * ``quantizer="exact"`` (default, the ORACLE path):
      :func:`kmeans_lloyd` — partition-invariant, cross-engine
      replayable, bit-stable.  ``k="auto"`` holds expected cluster size
      at ``target_cluster_size`` (k = clamp(ceil(n / target), 8, n), one
      eager count), which keeps candidate PAIRS linear (~n * target / 2)
      — but be explicit about what that costs upstream: with k
      proportional to n, the Lloyd ASSIGNMENT broadcasts ONE row holding
      all k centroid vectors — (n/target) x dim doubles, CORPUS-
      proportional, in a single array cell — and every point folds over
      all k centroids, so assignment work is n^2 * dim / target.  This
      path buys oracle-replayable exactness at quadratic scale cost; it
      is for differential verification and small/medium corpora, NOT the
      100 TB plan.
    * ``quantizer="ivf"`` (the PRODUCTION path): the sampled-fit MLlib
      quantizer of :func:`ivf_build_index` — KMeans fit on a seed-pinned
      ``fit_fraction`` Bernoulli sample, then one narrow full-corpus
      assignment (frozen centroids; MLlib ships them as a proper
      broadcast variable, not a one-row array cell, so no row-size
      ceiling).  Per-point centroid distance comes from a k-ROW
      broadcast-hash join on the list id.  ``n_lists="auto"`` uses the
      standard IVF sizing n_lists ~ ceil(sqrt(n)) (FAISS discipline):
      assignment work is n * sqrt(n) * dim and within-cluster candidate
      pairs ~ n * sqrt(n) / 2 — total ~n^1.5, the accepted sub-quadratic
      SemDeDup posture (the paper itself eats per-cluster pairwise).
      Pass an int ``n_lists`` to pin cluster granularity (daily jobs
      reuse a known-good setting).  NOT oracle-replayable: k-means||
      init and Vector float paths are engine-internal, so register ivf-
      path queries rows-only.  Keep/prune semantics are IDENTICAL to the
      exact path — both feed the same prune; on well-separated clusters
      the two paths produce the same keep set (pinned by pytest).

    Output: one audit row per point — (id, cluster_id, dist, n_close
    BIGINT, keep INT) — so keep/prune decisions, neighborhood density,
    and cluster geometry are all differentially checkable downstream.

    Scale shape: quantizer assignment + one cluster-keyed self-join
    (bounded by cluster size) + one groupBy on the point id + one left
    join back. No all-pairs join anywhere. Two relations are always
    ``localCheckpoint``-ed: the normalized corpus ``v`` (the unrolled
    Lloyd chain references its input once per round per consumer — a
    measured 30 parquet scans of the corpus in the lazy plan, 0
    ReusedExchange; ONE scan after truncation) and the assigned relation
    ``pts`` (three consumers: both self-join sides and the audit
    output). ``localCheckpoint`` rather than ``persist``: the fix is
    lineage truncation (the graph operators' lesson) — each consumer
    starts from the materialized blocks, not from the whole upstream
    chain. At toy scale the eager materialization costs ~1 s of
    constant and removes a 30x corpus-rescan multiplier — the same
    deliberate 100 TB trade as embedding_cosine_dedup's auto buckets."""
    import math as _math

    if quantizer not in ("exact", "ivf"):
        raise ValueError(f"quantizer must be 'exact' or 'ivf', got {quantizer!r}")
    v = df.select(
        F.col(id_col), normalize(as_double_array(F.col(emb_col))).alias("_v")
    ).localCheckpoint(eager=True)
    if quantizer == "ivf":
        pts, _ = _ivf_points(v, id_col, n_lists, fit_fraction, seed, max_iter)
        return _semantic_prune(pts, threshold, id_col)
    if k == "auto":
        n = v.count()  # one tiny count job — documented eager exception
        k = max(8, min(n, _math.ceil(n / max(target_cluster_size, 1))))
    # vec_out: the assignment carries its input vector out directly —
    # no id-keyed join back onto v (bit-identical column)
    pts = kmeans_lloyd(
        v, k=k, n_assign=n_assign, emb_col="_v", id_col=id_col,
        vec_out="_v",
    ).localCheckpoint(eager=True)
    return _semantic_prune(pts, threshold, id_col)


def _ivf_points(
    v: DataFrame,
    id_col: str,
    n_lists: "int | str",
    fit_fraction: float,
    seed: int,
    max_iter: int,
) -> "tuple[DataFrame, list[list[float]]]":
    """The sampled-fit IVF assignment both :func:`semantic_dedup` and
    :func:`semantic_dedup_build` prune over -> (pts, centroids), with
    ``pts`` = (id, cluster_id, dist, _v) ``localCheckpoint``-ed.
    ``n_lists="auto"`` sizes the lists at ceil(sqrt(n)), clamped to
    [8, n], from one tiny count job."""
    import math as _math

    if n_lists == "auto":
        n = v.count()  # one tiny count job — documented eager exception
        n_lists = max(8, min(n, _math.ceil(_math.sqrt(n))))
    assigned_ivf, centroids = ivf_build_index(
        v,
        id_col=id_col,
        vec_col="_v",
        n_lists=int(n_lists),
        seed=seed,
        max_iter=max_iter,
        fit_fraction=fit_fraction,
    )
    # distance to the assigned centroid via a k-ROW broadcast join —
    # the parameter-sized relation shape (n_lists rows), not a
    # single row holding every centroid
    cent_df = v.sparkSession.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)],
        "cluster_id int, _c array<double>",
    )
    pts = (
        assigned_ivf.withColumnRenamed("_list", "cluster_id")
        .join(F.broadcast(cent_df), "cluster_id")
        .select(
            F.col(id_col),
            F.col("cluster_id"),
            F.round(
                euclidean_distance(F.col("_cv"), F.col("_c")), 6
            ).alias("dist"),
            F.col("_cv").alias("_v"),
        )
    )
    return pts.localCheckpoint(eager=True), centroids


def _semantic_prune(
    pts: DataFrame, threshold: float, id_col: str
) -> DataFrame:
    """The SemDeDup prune shared by both quantizer paths and the
    incremental variant: within-cluster cosine neighbors >= threshold,
    keep iff no strictly-more-canonical neighbor (smaller rounded
    centroid dist, ties by id).  ``pts``: (id, cluster_id, dist, _v)."""
    a = pts.select(
        F.col(id_col).alias("_pid"),
        F.col("cluster_id").alias("_pc"),
        F.col("dist").alias("_pd"),
        F.col("_v").alias("_pv"),
    )
    b = pts.select(
        F.col(id_col).alias("_qid"),
        F.col("cluster_id").alias("_qc"),
        F.col("dist").alias("_qd"),
        F.col("_v").alias("_qv"),
    )
    nbr = (
        a.join(b, (F.col("_pc") == F.col("_qc")) & (F.col("_pid") != F.col("_qid")))
        .withColumn("_cos", F.round(dot(F.col("_pv"), F.col("_qv")), 6))
        .filter(F.col("_cos") >= threshold)
    )
    stats = nbr.groupBy("_pid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_close"),
        F.max(
            (
                (F.col("_qd") < F.col("_pd"))
                | ((F.col("_qd") == F.col("_pd")) & (F.col("_qid") < F.col("_pid")))
            ).cast("int")
        ).alias("_pruned"),
    )
    return (
        pts.select(id_col, "cluster_id", "dist")
        .join(stats, F.col(id_col) == F.col("_pid"), "left")
        .select(
            id_col,
            "cluster_id",
            "dist",
            F.coalesce("n_close", F.lit(0).cast("bigint")).alias("n_close"),
            (F.coalesce("_pruned", F.lit(0)) == 0).cast("int").alias("keep"),
        )
    )


def semantic_dedup_build(
    df: DataFrame,
    threshold: float = 0.9,
    k: "int | str" = "auto",
    n_assign: int = 3,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    target_cluster_size: int = 64,
    quantizer: str = "exact",
    n_lists: "int | str" = "auto",
    fit_fraction: float = 0.25,
    seed: int = 42,
    max_iter: int = 8,
) -> "tuple[DataFrame, list[list[float]]]":
    """:func:`semantic_dedup` PLUS the frozen quantizer state — the
    build half of the incremental lifecycle.  Returns (audit,
    centroids): persist the audit (and the kept rows' embeddings) as the
    corpus kept-set, the centroid list as JSON next to it, then judge
    daily batches with :func:`semantic_dedup_incremental` — no
    re-clustering, no corpus self-join.  The centroids are EXACTLY the
    ones the audit's assignment used, so incremental assignment
    reproduces the build's cluster geometry bit-for-bit.

    ``quantizer="exact"`` (default): the deterministic Lloyd chain —
    oracle-replayable, the differential-verification build.
    ``quantizer="ivf"``: the production build — the sampled-fit MLlib
    quantizer of the :func:`semantic_dedup` ivf path; the returned
    centroids are the fitted model's centers, the same "model is just
    data" JSON footprint either way.  Both feed the incremental judge
    unchanged.  The normalized corpus and the assigned points are
    ``localCheckpoint``-ed exactly as in :func:`semantic_dedup`."""
    import math as _math

    v = df.select(
        F.col(id_col), normalize(as_double_array(F.col(emb_col))).alias("_v")
    ).localCheckpoint(eager=True)
    if quantizer == "ivf":
        # fit ONCE here and reuse for audit + returned state — calling
        # semantic_dedup(quantizer="ivf") separately would re-fit and
        # (with MLlib's engine-internal init) could disagree
        pts, centroids = _ivf_points(
            v, id_col, n_lists, fit_fraction, seed, max_iter
        )
        return _semantic_prune(pts, threshold, id_col), centroids
    # exact path: run the Lloyd chain ONCE and derive BOTH halves from
    # it — the centroid list via kmeans_lloyd_centroids, the audit by
    # re-assigning against those frozen final centroids (bit-identical
    # to the chain's own last assignment round: same euclidean kernel,
    # same (dist, cid) argmin tie-break, same 6-digit rounding).
    # Running semantic_dedup() separately would repeat the full chain —
    # 2x training cost and a parameter-drift hazard between call sites.
    if k == "auto":
        n = v.count()
        k = max(8, min(n, _math.ceil(n / max(target_cluster_size, 1))))
    centroids = kmeans_lloyd_centroids(
        v, k=int(k), n_assign=n_assign, emb_col="_v", id_col=id_col
    )
    # the audit distance comes straight off the frozen-centroid argmin
    # (ivf_assign with_dist) — bit-identical to the old k-row broadcast
    # join's re-derivation (same kernel, same literal doubles), one
    # BroadcastHashJoin fewer in the build
    pts = ivf_assign(
        v, centroids, id_col=id_col, vec_col="_v", with_dist=True
    ).select(
        F.col(id_col),
        F.col("_list").alias("cluster_id"),
        F.round(F.col("_dist"), 6).alias("dist"),
        F.col("_cv").alias("_v"),
    ).localCheckpoint(eager=True)
    return _semantic_prune(pts, threshold, id_col), centroids


SEMANTIC_STATE_FORMAT_VERSION = 1


def save_semantic_state(
    kept: DataFrame,
    centroids: list[list[float]],
    path: str,
    quantizer: str = "exact",
) -> None:
    """Persist a :func:`semantic_dedup_build` result as the versioned
    artifact the daily :func:`semantic_dedup_incremental` job loads:
    the kept-set (audit columns + embeddings) as parquet PARTITIONED BY
    cluster_id — so a batch touching few clusters prunes the corpus
    read at the scan — plus the frozen centroids as JSON and a
    format-version meta guard.  Same artifact discipline as
    save_tokenizer / save_ivf_index.

    ``quantizer`` (round 12) records WHICH build produced the frozen
    centroids ("exact" Lloyd chain vs sampled-fit MLlib "ivf") — the
    daily loop is identical either way (frozen geometry, no refit),
    but an audit reading the artifact should know whether its
    centroids are oracle-replayable."""
    import json as _json
    import os as _os

    if quantizer not in ("exact", "ivf"):
        raise ValueError(
            f"quantizer must be 'exact' or 'ivf', got {quantizer!r}"
        )

    # one file per cluster, not one per (task, cluster) — see save_pq_index
    _cluster_for_write(kept, "cluster_id").write.mode(
        "overwrite"
    ).partitionBy("cluster_id").parquet(_os.path.join(path, "kept.parquet"))
    with open(_os.path.join(path, "centroids.json"), "w") as fh:
        _json.dump([[float(x) for x in c] for c in centroids], fh)
        fh.write("\n")
    with open(_os.path.join(path, "meta.json"), "w") as fh:
        _json.dump(
            {
                "format_version": SEMANTIC_STATE_FORMAT_VERSION,
                "n_clusters": len(centroids),
                "quantizer": quantizer,
                # bumped by every append_semantic_state fold — daily jobs
                # can assert they consumed the state they expected
                "state_version": 1,
            },
            fh,
            indent=1,
            sort_keys=True,
        )
        fh.write("\n")


def append_semantic_state(
    batch: DataFrame,
    audit: DataFrame,
    path: str,
    id_col: str = "vec_id",
    batch_tag: "str | None" = None,
) -> int:
    """The WRITE half of the daily SemDeDup loop (round 11): fold a
    judged batch's KEEPERS — ``audit`` rows with ``keep = 1`` from
    :func:`semantic_dedup_incremental`, re-joined to the batch for
    their embeddings — into the versioned kept-set artifact, so
    tomorrow's batch is judged against today's survivors too.

    The append is cluster-partitioned (new parquet files land only in
    the partitions the batch touched — no rewrite of the corpus
    kept-set), the frozen centroids are untouched (geometry never
    drifts between days; a re-cluster is a scheduled REBUILD, not an
    append), and ``meta.json``'s ``state_version`` is bumped and
    returned so jobs can assert the fold landed.

    Crash seam (r11 ADVICE): the parquet append and the meta bump are
    two non-atomic steps — a failure BETWEEN them leaves keepers folded
    with the version unbumped.  The meta write itself is atomic
    (temp-file + ``os.replace``, never a torn meta.json), and a
    ``batch_tag`` (e.g. the day id) makes the fold idempotent: a tag
    already recorded in meta's ``applied_tags`` is skipped with the
    current version returned, so a scheduler retrying a COMPLETED fold
    cannot duplicate keepers.  A crash inside the seam still needs the
    scheduler to treat "tag absent" as "re-fold from the pre-append
    snapshot" (or accept at-least-once keepers); without a tag,
    exactly-once is entirely the scheduler's contract, as with any
    append-mode sink.

    ``batch`` must carry the same non-audit columns as the persisted
    kept-set (the embeddings column in particular); the fold selects
    the artifact's own column set, so schema drift fails loudly in the
    column resolver instead of silently writing a ragged table."""
    spark = batch.sparkSession
    kept, _cents = load_semantic_state(spark, path)  # validates version
    return _fold_keepers(batch, audit, path, kept.columns, id_col, batch_tag)


def _fold_keepers(
    batch: DataFrame,
    audit: DataFrame,
    path: str,
    kept_columns: list[str],
    id_col: str,
    batch_tag: "str | None",
) -> int:
    """The write half of :func:`append_semantic_state`, given the
    artifact's column order — so a caller that already loaded the state
    (``semantic_dedup_daily``) folds without a second artifact
    load/validate per tick (round 13: one parquet-footer read + meta
    parse fewer per daily tick; the public append still validates)."""
    import json as _json
    import os as _os

    meta_path = _os.path.join(path, "meta.json")
    with open(meta_path) as fh:
        meta = _json.load(fh)
    tags = list(meta.get("applied_tags", []))
    if batch_tag is not None and batch_tag in tags:
        return int(meta.get("state_version", 1))  # already folded — skip
    keepers = (
        audit.filter(F.col("keep") == 1)
        .select(id_col, "cluster_id", "dist")
        .join(batch, id_col)
    )
    _cluster_for_write(
        keepers.select(*kept_columns), "cluster_id"
    ).write.mode("append").partitionBy("cluster_id").parquet(
        _os.path.join(path, "kept.parquet")
    )
    meta["state_version"] = int(meta.get("state_version", 1)) + 1
    if batch_tag is not None:
        meta["applied_tags"] = tags + [str(batch_tag)]
    tmp = meta_path + ".tmp"
    with open(tmp, "w") as fh:
        _json.dump(meta, fh, indent=1, sort_keys=True)
        fh.write("\n")
    _os.replace(tmp, meta_path)
    return meta["state_version"]


def semantic_dedup_daily(
    batch: DataFrame,
    path: str,
    threshold: float = 0.9,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    batch_tag: "str | None" = None,
    **judge_kwargs,
) -> DataFrame:
    """One daily SemDeDup tick against a persisted state artifact:
    load (version-validated) → judge the batch with
    :func:`semantic_dedup_incremental` → fold the keepers back in with
    :func:`append_semantic_state` → return the batch audit.  The loop
    the r10 judge composed by hand, as one call; the audit is
    localCheckpointed before the fold so judge and fold see the same
    rows exactly once.  ``batch_tag`` (e.g. the day id) makes the fold
    idempotent under scheduler retries — see
    :func:`append_semantic_state`."""
    spark = batch.sparkSession
    kept, centroids = load_semantic_state(spark, path)
    audit = semantic_dedup_incremental(
        batch,
        kept,
        centroids,
        threshold=threshold,
        emb_col=emb_col,
        id_col=id_col,
        **judge_kwargs,
    ).localCheckpoint(eager=True)
    # fold via the loaded state's own columns — no second load/validate
    _fold_keepers(batch, audit, path, kept.columns, id_col, batch_tag)
    return audit


def load_semantic_state(spark, path: str):
    """Load a :func:`save_semantic_state` artifact -> (kept, centroids)
    for :func:`semantic_dedup_incremental`.  Raises ValueError on a
    missing/garbled meta.json or an unknown format_version."""
    import json as _json
    import os as _os

    try:
        with open(_os.path.join(path, "meta.json")) as fh:
            meta = _json.load(fh)
    except (OSError, ValueError) as exc:
        raise ValueError(
            f"not a semantic-dedup state artifact (no readable meta.json): "
            f"{path}"
        ) from exc
    ver = meta.get("format_version")
    if ver != SEMANTIC_STATE_FORMAT_VERSION:
        raise ValueError(
            f"semantic state artifact {path} has format_version {ver!r}; "
            f"this code reads version {SEMANTIC_STATE_FORMAT_VERSION}"
        )
    with open(_os.path.join(path, "centroids.json")) as fh:
        centroids = [[float(x) for x in c] for c in _json.load(fh)]
    kept = spark.read.parquet(_os.path.join(path, "kept.parquet"))
    return kept, centroids


def semantic_dedup_incremental(
    batch: DataFrame,
    kept: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.9,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    kept_emb_col: str | None = None,
    broadcast_batch: bool | None = None,
    max_broadcast_rows: int = 1_000_000,
) -> DataFrame:
    """Daily-ingest SemDeDup — the embedding-tier analogue of
    ``minhash_incremental_pairs`` (dedup.py): judge a NEW batch against a
    PERSISTED kept-set under FROZEN cluster geometry, with no corpus
    self-join and no re-clustering.

    Inputs mirror what a production pipeline persists after a full
    :func:`semantic_dedup` build: ``kept`` is the surviving rows of the
    corpus WITH their embeddings and audit columns (``id, cluster_id,
    dist, <emb>``); ``centroids`` is the frozen quantizer state (index =
    cluster_id — the collected centroid list the build wrote next to the
    parquet, exactly the "model is just data" footprint of
    :func:`ivf_assign`).

    Rules (deterministic, oracle-replayable when the centroids came from
    the exact path):

    * a batch doc is PRUNED iff (a) some KEPT corpus member of its
      cluster has cosine >= ``threshold`` — incumbents always win;
      they are already in the training set — or (b) some strictly more
      canonical batch member of the same cluster is that close (the
      same smaller-rounded-dist / smaller-id rule as the full build);
    * kept corpus rows are never re-judged;
    * a batch copy of a PRUNED corpus doc is judged only against the
      kept-set (its canonical twin is kept, so it still collapses unless
      the near-dup relation fails transitively — the same documented
      greedy-chain semantics as the full build).

    Scale shape: normalization + one narrow frozen-centroid argmin over
    the BATCH only (:func:`ivf_assign` — nothing proportional to the
    corpus), one k-row broadcast join for the audit distance, then two
    cluster-keyed joins in which the BATCH side is broadcast — the
    corpus is touched once, streamed map-side, and only rows whose
    cluster_id appears in the batch survive the broadcast hash probe.
    No corpus self-join, no re-cluster, no shuffle of the corpus.

    The batch-side broadcast is SIZE-GATED (the r10 verdict's OOM
    hazard: a backfill-sized batch pinned as a broadcast relation blows
    every executor). ``broadcast_batch`` mirrors
    :func:`~..joins.broadcast_dim_join`'s contract:

    * ``None`` (default) — decide from a bounded count of the batch:
      broadcast iff ``count(batch) <= max_broadcast_rows``. The count
      is cheap: it reads the localCheckpoint the function takes anyway.
    * ``True``  — pin the broadcast (daily-sized batches; zero corpus
      shuffle).
    * ``False`` — shuffle-hash join keyed on cluster_id instead (the
      backfill path: the corpus shuffles once on cluster_id — the
      correct, bounded-memory plan when the batch itself is
      corpus-sized). Output is identical row-for-row (pytest-pinned).

    Output: one audit row per BATCH doc — (id, cluster_id, dist,
    n_close BIGINT, keep INT) — union-compatible with the full build's
    audit table, so the daily merge is an append."""
    kept_emb_col = kept_emb_col or emb_col
    # ONE checkpoint: the assigned batch `bpts` feeds the size gate, both
    # join sides and the audit output, so it is ``localCheckpoint``-ed
    # (lineage truncation, as in semantic_dedup); the normalized batch
    # `v` has only the argmin as consumer and stays lazy.
    # The audit distance reads off the argmin struct itself (ivf_assign
    # with_dist) instead of a k-row broadcast join re-deriving the same
    # expression — bit-identical, one BroadcastHashJoin fewer per judge.
    v = batch.select(
        F.col(id_col), normalize(as_double_array(F.col(emb_col))).alias("_v")
    )
    bpts = ivf_assign(
        v, centroids, id_col=id_col, vec_col="_v", with_dist=True
    ).select(
        F.col(id_col),
        F.col("_list").alias("cluster_id"),
        F.round(F.col("_dist"), 6).alias("dist"),
        F.col("_cv").alias("_v"),
    ).localCheckpoint(eager=True)
    if broadcast_batch is None:
        # Bounded decision, not a guess: one count over the checkpointed
        # batch. At 100 TB the corpus never enters this.
        broadcast_batch = bpts.count() <= max_broadcast_rows
    cpts = kept.select(
        F.col(id_col).alias("_qid"),
        F.col("cluster_id").alias("_qc"),
        normalize(as_double_array(F.col(kept_emb_col))).alias("_qv"),
    )
    a = bpts.select(
        F.col(id_col).alias("_pid"),
        F.col("cluster_id").alias("_pc"),
        F.col("dist").alias("_pd"),
        F.col("_v").alias("_pv"),
    )
    # (a) vs the kept corpus: incumbent wins at any cosine >= threshold.
    # Gated: batch broadcast (corpus streams map-side, zero corpus
    # shuffle) for daily batches; cluster_id shuffle-hash for backfills.
    a_hinted = F.broadcast(a) if broadcast_batch else a.hint("shuffle_hash")
    nbr_corpus = (
        cpts.join(a_hinted, F.col("_qc") == F.col("_pc"))
        .withColumn("_cos", F.round(dot(F.col("_pv"), F.col("_qv")), 6))
        .filter(F.col("_cos") >= threshold)
        .select("_pid", F.lit(1).alias("_flag"))
    )
    # (b) within the batch: the full build's canonical-neighbor rule.
    b = bpts.select(
        F.col(id_col).alias("_qid"),
        F.col("cluster_id").alias("_qc"),
        F.col("dist").alias("_qd"),
        F.col("_v").alias("_qv"),
    )
    # Same gate for the within-batch self-join: a backfill-sized batch
    # must not be auto-broadcast by AQE either.
    nbr_batch = (
        (a if broadcast_batch else a.hint("shuffle_hash")).join(
            b,
            (F.col("_pc") == F.col("_qc")) & (F.col("_pid") != F.col("_qid")),
        )
        .withColumn("_cos", F.round(dot(F.col("_pv"), F.col("_qv")), 6))
        .filter(F.col("_cos") >= threshold)
        .select(
            "_pid",
            (
                (F.col("_qd") < F.col("_pd"))
                | (
                    (F.col("_qd") == F.col("_pd"))
                    & (F.col("_qid") < F.col("_pid"))
                )
            )
            .cast("int")
            .alias("_flag"),
        )
    )
    stats = (
        nbr_corpus.unionByName(nbr_batch)
        .groupBy("_pid")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_close"),
            F.max("_flag").alias("_pruned"),
        )
    )
    return (
        bpts.select(id_col, "cluster_id", "dist")
        .join(stats, F.col(id_col) == F.col("_pid"), "left")
        .select(
            id_col,
            "cluster_id",
            "dist",
            F.coalesce("n_close", F.lit(0).cast("bigint")).alias("n_close"),
            (F.coalesce("_pruned", F.lit(0)) == 0).cast("int").alias("keep"),
        )
    )


def class_centroids(
    df: DataFrame,
    group_col: str,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-group embedding centroids in long format (group, dim, n,
    centroid_val) — the seed step of IVF/KMeans init, class-prototype
    nearest-centroid classification, and per-source drift monitoring.

    posexplode → one map-side-combining shuffle on (group, dim): at 100 TB
    the exchange carries one partial (sum, count) per partition per
    (group, dim) — independent of row count. Means go through the proven
    DECIMAL(28,18)-sum / DECIMAL(28,8)-cast path (order-independent,
    cross-engine exact — see q_embedding_dim_stats provenance note).
    Long format on purpose: re-assembling arrays would force a second
    shuffle and a collect_list whose ordering needs pinning; downstream
    dot products join on (group, dim) just as well."""
    exploded = df.select(
        F.col(group_col),
        F.posexplode(F.col(emb_col).cast("array<double>")).alias("dim", "val"),
    )
    dec = F.col("val").cast("decimal(28,18)")
    dec8 = lambda c: c.cast("decimal(28,8)").cast("double")  # noqa: E731
    return exploded.groupBy(group_col, "dim").agg(
        F.count(F.lit(1)).alias("n"),
        dec8(F.sum(dec).cast("double") / F.count(F.lit(1))).alias("centroid_val"),
    )


def kmeans_lloyd(
    df: DataFrame,
    k: int = 8,
    n_assign: int = 3,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    return_centroids: bool = False,
    vec_out: "str | None" = None,
) -> DataFrame:
    """Fixed-iteration Lloyd's k-means as a fully declarative DataFrame
    program — ``n_assign`` assignment rounds with ``n_assign - 1``
    centroid updates between them, deterministic init (the ``k`` rows
    with smallest ids seed clusters 0..k-1). Complements the MLlib
    KMeans inside :func:`ivf_build_index`: that one is the production
    quantizer (sampled fit, early-stopping, driver-coordinated); this
    one is the exact, partition-invariant, oracle-replayable variant —
    bit-identical output on any cluster layout, which MLlib does not
    guarantee.

    Output: (vec_id, cluster_id, dist) — the final assignment, with the
    euclidean distance to the winning centroid rounded to 6 digits.

    Exactness: distances are sequential double folds (functions.vector),
    the argmin is a struct-min on (dist, cid) — deterministic
    tie-break — and centroid means go through the proven
    DECIMAL(28,18)-sum / DECIMAL(28,8)-truncate path
    (order-independent across partitionings and engines; see
    q_embedding_dim_stats provenance).

    Scale shape — the part worth copying: the ASSIGNMENT step has ZERO
    shuffle. Centroids collapse to ONE broadcast row holding a
    k-element array of (cid, vector) structs; each point computes all k
    distances with a TRANSFORM + ARRAY_MIN over that array — a narrow
    map fused into the scan. Each update is one map-side-combinable
    aggregation whose exchange carries k x dim cells per partition,
    independent of row count. Total cost: ``n_assign`` narrow passes
    over the points plus tiny (cid, dim) shuffles — the optimal
    distributed Lloyd shape. Empty clusters (possible in principle,
    not with spread seeds) drop out identically in both engines.

    ``return_centroids=True`` returns the FINAL centroid relation
    (cluster_id, centroid array<double>) — the state the last
    assignment round used — instead of the assignment; see
    :func:`kmeans_lloyd_centroids` for the collected form. It carries
    no per-point column, so combining it with ``vec_out`` raises
    ``ValueError``.

    ``vec_out`` (round 13): also emit the input vector under this name —
    the assignment always carried it internally, so a consumer that
    needs (assignment + vector), like :func:`semantic_dedup`'s prune,
    reads it here instead of re-joining the corpus on the id (one
    id-keyed shuffle join fewer; values bit-identical — it IS the same
    column)."""
    if k < 1 or n_assign < 1:
        raise ValueError("k and n_assign must be >= 1")
    if vec_out and return_centroids:
        raise ValueError(
            "vec_out names a per-point output column; the centroid relation"
            " returned under return_centroids=True has none"
        )
    pts = df.select(F.col(id_col), as_double_array(F.col(emb_col)).alias("_x"))

    seeds = pts.orderBy(id_col).limit(k)
    w = Window.orderBy(id_col)
    cents = seeds.select(
        (F.row_number().over(w) - 1).alias("_cid"), F.col("_x").alias("_c")
    )

    def _collapse(c: DataFrame) -> DataFrame:
        # k rows -> ONE row: array of (cid, vector) structs, sorted by cid
        return c.agg(
            F.sort_array(F.collect_list(F.struct("_cid", "_c"))).alias("_cents")
        )

    def _assign(c: DataFrame) -> DataFrame:
        best = F.array_min(
            F.transform(
                F.col("_cents"),
                lambda e: F.struct(
                    euclidean_distance(F.col("_x"), e["_c"]).alias("d"),
                    e["_cid"].alias("cid"),
                ),
            )
        )
        return (
            pts.crossJoin(F.broadcast(_collapse(c)))
            .withColumn("_best", best)
            .select(
                F.col(id_col),
                F.col("_x"),
                F.col("_best")["cid"].alias("cluster_id"),
                F.col("_best")["d"].alias("_dist"),
            )
        )

    dec8 = lambda col: col.cast("decimal(28,8)").cast("double")  # noqa: E731
    assigned = _assign(cents)
    for _ in range(n_assign - 1):
        upd = (
            assigned.select(
                F.col("cluster_id").alias("_cid"),
                F.posexplode(F.col("_x")).alias("_dim", "_v"),
            )
            .groupBy("_cid", "_dim")
            .agg(
                dec8(
                    F.sum(F.col("_v").cast("decimal(28,18)")).cast("double")
                    / F.count(F.lit(1))
                ).alias("_val")
            )
        )
        cents = upd.groupBy("_cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_dim", "_val"))),
                lambda e: e["_val"],
            ).alias("_c")
        )
        assigned = _assign(cents)
    if return_centroids:
        return cents.select(
            F.col("_cid").alias("cluster_id"), F.col("_c").alias("centroid")
        )
    out = [
        F.col(id_col),
        F.col("cluster_id"),
        F.round(F.col("_dist"), 6).alias("dist"),
    ]
    if vec_out:
        out.append(F.col("_x").alias(vec_out))
    return assigned.select(*out)


def kmeans_lloyd_centroids(
    df: DataFrame,
    k: int = 8,
    n_assign: int = 3,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[float]]:
    """The FINAL centroids of the :func:`kmeans_lloyd` chain — exactly
    the ones its last assignment round used — as a driver-small list
    indexed by cluster_id.  This is the frozen-quantizer state an exact-
    path :func:`semantic_dedup` build persists next to its audit table
    so that :func:`semantic_dedup_incremental` can judge daily batches
    under the SAME cluster geometry (the "model is just data" footprint:
    k x dim doubles as JSON, no model object).  One driver-small collect
    of a k-row relation — the documented eager exception."""
    cents = kmeans_lloyd(
        df, k=k, n_assign=n_assign, emb_col=emb_col, id_col=id_col,
        return_centroids=True,
    )
    rows = cents.collect()
    out: dict[int, list[float]] = {
        int(r["cluster_id"]): [float(x) for x in r["centroid"]] for r in rows
    }
    # list index MUST equal cluster_id (the incremental assign and the
    # persisted audit table key on it) — an emptied-out cluster would
    # silently shift every later id, so refuse instead of compacting
    if sorted(out) != list(range(len(out))):
        raise ValueError(
            f"non-contiguous cluster ids {sorted(out)[:8]}... — a cluster "
            "emptied during Lloyd; re-run with smaller k or denser seeds"
        )
    return [out[i] for i in range(len(out))]


def quantized_recall(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    bits: int = 8,
) -> DataFrame:
    """Retrieval-quality eval of scalar quantization: per query, the
    recall@k of cosine top-k over DEQUANTIZED ``bits``-bit codes against
    full-precision top-k — the measurement that decides whether the 4x
    int8 storage cut is safe for a given embedding space (the ANN-bench
    protocol, run as one query). Both paths are deterministic (ties to
    vec_id), so the oracle replays quantize -> dequantize -> rank ->
    set-overlap exactly; the output is integer overlap counts, the most
    drift-proof comparison there is.

    Output: (query_id, n_overlap, recall) with recall = n_overlap / k
    rounded to 4, one row per query, ordered by query_id.

    Scale shape: two broadcast-queries x corpus scans (no corpus
    self-join), each TakeOrdered per query; the overlap join keys on
    (query_id, id) over 2*Q*k rows — driver-tiny. The quantize step is
    a zero-shuffle narrow map fused into the scan."""
    # both top-k relations are Q*k rows and each is referenced twice
    # downstream — checkpoint so the corpus-scan crossJoin runs once per
    # path, not once per reference (measured 6 -> 2 BNLJ scans)
    exact = brute_force_topk(
        corpus, queries, k, id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col,
    ).localCheckpoint(eager=True)
    codes = quantize_embeddings(corpus, id_col=id_col, vec_col=vec_col,
                                bits=bits)
    deq = codes.select(
        F.col(id_col),
        F.transform(
            "codes",
            lambda c: c.cast("double") * F.col("scale") + F.col("offset"),
        ).alias(vec_col),
    )
    approx = brute_force_topk(
        deq, queries, k, id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col,
    ).localCheckpoint(eager=True)
    overlap = (
        exact.select(query_id_col, id_col)
        .join(approx.select(query_id_col, id_col), [query_id_col, id_col])
        .groupBy(query_id_col)
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    all_q = exact.select(query_id_col).distinct()
    return (
        all_q.join(overlap, query_id_col, "left")
        .select(
            query_id_col,
            F.coalesce(F.col("n_overlap"), F.lit(0)).alias("n_overlap"),
            F.round(
                F.coalesce(F.col("n_overlap"), F.lit(0)) / F.lit(float(k)), 4
            ).alias("recall"),
        )
        .orderBy(query_id_col)
    )


# ---------------------------------------------------------------------------
# Exact-replayable IVF: a coarse quantizer whose EVERY step is integer
# arithmetic with a cross-engine contract, so the whole index lifecycle
# (build -> assign -> probe -> search) can be differentially checked by a
# DuckDB oracle — the property the KMeans-based `ivf_topk` cannot have
# (KMeans|| init is engine-internal).  The quantizer is real KMeans:
# random-PARTITION initialization (each vector's initial list is
# md5_hash60(id) mod n_lists — a classic init strategy) followed by
# `lloyd_iters` unrolled Lloyd steps.  All distances run over vectors
# quantized to integers (floor(x * 2^scale_bits + 0.5), exact in IEEE
# double for |x| * 2^scale_bits < 2^52), centroid means use truncating
# integer division with the sign factored out — so every assignment is
# bit-identical across engines AND across partitionings (integer sums are
# associative; double sums are not).  Exact cosine inside probed lists
# still runs on the original doubles (deterministic per-row fold).
# ---------------------------------------------------------------------------


def _quantize_ints(vec: Column, scale_bits: int = 20) -> Column:
    """floor(x * 2^scale_bits + 0.5) per component as BIGINT — exact and
    identical in Spark and DuckDB for |x| < ~2^31/2^scale_bits."""
    s = float(1 << scale_bits)
    return F.transform(vec, lambda x: F.floor(x * F.lit(s) + F.lit(0.5)))


def _cs_struct_dists(qv: Column, cs: Column) -> Column:
    """array<struct<d,l>> of integer squared distances from ``qv`` to
    every centroid in ``cs`` (array<struct<l:int, c:array<bigint>>> —
    centroid DATA, not literals). The expression is literal-free and
    identical for every corpus / Lloyd iteration / run, so Spark's
    codegen cache compiles it ONCE ever — the round-7 literal-unrolled
    form re-compiled a fresh multi-thousand-node expression per distinct
    centroid set (~1.3 s each, 3+ per IVF query, measured)."""
    return F.transform(
        cs,
        lambda s: F.struct(
            F.aggregate(
                F.zip_with(qv, s["c"], lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("d"),
            s["l"].alias("l"),
        ),
    )


def _cs_argmin(qv: Column, cs: Column) -> Column:
    """Nearest-centroid list id, ties broken by list id — mirrors the
    oracle's ROW_NUMBER() OVER (ORDER BY d2, l). array_min over
    struct<d,l> orders lexicographically, so the tie-break is total."""
    return F.array_min(_cs_struct_dists(qv, cs)).getField("l")


def _cs_df(spark, centroids: list[tuple[int, list[int]]]):
    """The driver-small centroid set as a ONE-ROW relation
    (cs: array<struct<l,c>>) for broadcast crossJoin — centroids travel
    as data, keeping every distance expression generic."""
    data = [
        ([(int(l), [int(x) for x in c]) for l, c in centroids],)
    ]
    return spark.createDataFrame(
        data, "cs array<struct<l:int,c:array<bigint>>>"
    )


def _trunc_div(s: int, n: int) -> int:
    """Truncate-toward-zero integer division on exact Python ints — the
    semantics both Spark's div and the oracle's sign-factored // share."""
    return -((-s) // n) if s < 0 else s // n


def ivf_exact_cs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    lloyd_iters: int = 2,
    scale_bits: int = 20,
) -> DataFrame:
    """The exact-IVF centroid set as a fully LAZY one-row relation
    (cs: array<struct<l,c>>) — hash-partition init + ``lloyd_iters``
    unrolled integer Lloyd steps, each step's centroids a computed
    one-row relation broadcast into the next assignment. Nothing runs
    until an action touches the result, so an assign+search query over
    a fresh corpus is ONE Spark job end to end (no per-iteration driver
    round-trips — the round-7 form paid 2 collects + an eager
    checkpoint + a giant literal argmin re-compile per iteration).
    Callers that need the centroids driver-side (persist as JSON, cache
    across queries) use :func:`ivf_build_index_exact`, which collects
    this relation once."""
    qdf = corpus.select(
        F.col(id_col),
        _quantize_ints(as_double_array(F.col(vec_col)), scale_bits).alias(
            "_qv"
        ),
    )

    from ..functions.hashing import md5_hash60

    assigned = qdf.withColumn(
        "_list",
        (md5_hash60(F.col(id_col).cast("string")) % F.lit(n_lists)).cast(
            "int"
        ),
    )
    cdf = None
    for _ in range(lloyd_iters):
        comp = (
            assigned.select("_list", F.posexplode("_qv").alias("_pos", "_v"))
            .groupBy("_list", "_pos")
            .agg(F.sum("_v").alias("_s"), F.count(F.lit(1)).alias("_n"))
            # truncate-toward-zero with the sign factored out — the
            # semantics Spark div and the oracle's sign-split // share
            .select(
                "_list",
                "_pos",
                F.expr(
                    "CASE WHEN _s < 0 THEN -((-_s) div _n)"
                    " ELSE _s div _n END"
                ).alias("_c"),
            )
        )
        cdf = (
            comp.groupBy("_list")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_pos", "_c"))),
                    lambda s: s["_c"],
                ).alias("c")
            )
            .select(F.struct(F.col("_list").alias("l"), F.col("c")).alias("_lc"))
            .agg(F.array_sort(F.collect_list("_lc")).alias("cs"))
        )
        assigned = (
            qdf.crossJoin(F.broadcast(cdf))
            .withColumn("_list", _cs_argmin(F.col("_qv"), F.col("cs")))
            .drop("cs")
        )
    return cdf


def _cs_rel(df_or_centroids, spark) -> DataFrame:
    """Accept either a collected centroid list or the lazy one-row cs
    relation from :func:`ivf_exact_cs`."""
    if isinstance(df_or_centroids, DataFrame):
        return df_or_centroids
    return _cs_df(spark, df_or_centroids)


def ivf_build_index_exact(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    lloyd_iters: int = 2,
    scale_bits: int = 20,
) -> tuple[DataFrame, list[tuple[int, list[int]]]]:
    """Build the exact-replayable IVF index.  Returns (assigned, centroids):
    ``assigned`` has (id, _cv double-array, _qv int-array, _list) with every
    vector in its nearest-centroid list; ``centroids`` is a driver-small
    [(list_id, int-vector)] sorted by list id (persist as JSON; at 100 TB it
    is n_lists x dim integers — the same "model is just data" footprint as
    `ivf_assign`'s literal centroids).

    Each Lloyd step is ONE combinable pass over the corpus (posexplode ->
    partial SUM per (list, dim)) plus an exact-integer mean of n_lists x
    dim cells — the identical dataflow KMeans uses, minus the
    engine-internal init. The whole recurrence stays lazy (centroids are
    computed one-row relations broadcast into the next step), so the
    build runs as a single Spark job with one driver-small collect at
    the end.
    """
    cdf = ivf_exact_cs(
        corpus, id_col, vec_col, n_lists, lloyd_iters, scale_bits
    )
    row = cdf.collect()[0]  # ONE job: the full Lloyd DAG, once
    centroids = [(int(s["l"]), [int(x) for x in s["c"]]) for s in row["cs"]]
    # The returned assignment is rooted on the COLLECTED centroids — a
    # single narrow map over the corpus, not the Lloyd DAG replayed
    # (the last Lloyd step IS this argmin, so values are identical).
    assigned = ivf_assign_exact(
        corpus, centroids, id_col=id_col, vec_col=vec_col,
        scale_bits=scale_bits,
    )
    return assigned, centroids


def ivf_assign_exact(
    df: DataFrame,
    centroids: "list[tuple[int, list[int]]] | DataFrame",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale_bits: int = 20,
) -> DataFrame:
    """Incremental-ingest half with FROZEN exact centroids: one narrow
    argmin map, zero shuffles, union-compatible with the built index."""
    out = df.select(
        F.col(id_col),
        as_double_array(F.col(vec_col)).alias("_cv"),
        _quantize_ints(as_double_array(F.col(vec_col)), scale_bits).alias(
            "_qv"
        ),
    )
    return (
        out.crossJoin(F.broadcast(_cs_rel(centroids, df.sparkSession)))
        .withColumn("_list", _cs_argmin(F.col("_qv"), F.col("cs")))
        .drop("cs")
    )


IVF_INDEX_FORMAT_VERSION = 1


def save_ivf_index(assigned: DataFrame, centroids, path: str) -> None:
    """Persist an IVF index as a versioned artifact — the similarity-
    search analogue of the S7 model sink (and of save_tokenizer for the
    BPE lifecycle): the assigned corpus goes to parquet PARTITIONED BY
    the list id (so a search probing ``n_probe`` lists prunes to those
    partitions at the scan — PartitionFilters, no full-index read), the
    centroids go to JSON next to it (parameter-sized: n_lists x dim
    numbers — "the model is just data"), and ``meta.json`` pins the
    format version and quantizer kind so a loader refuses incompatible
    layouts instead of silently mis-searching.

    Accepts BOTH quantizer forms: the exact-integer centroids of
    :func:`ivf_build_index_exact` (``[(list_id, int-vector)]``) and the
    float centroids of :func:`ivf_build_index` (``[[float]]``)."""
    import json as _json
    import os as _os

    exact = bool(centroids) and isinstance(centroids[0], tuple)
    # one file per list, not one per (task, list) — see save_pq_index
    _cluster_for_write(assigned, "_list").write.mode(
        "overwrite"
    ).partitionBy("_list").parquet(_os.path.join(path, "assigned.parquet"))
    payload = (
        [[int(l), [int(x) for x in c]] for l, c in centroids]
        if exact
        else [[float(x) for x in c] for c in centroids]
    )
    with open(_os.path.join(path, "centroids.json"), "w") as fh:
        _json.dump(payload, fh)
        fh.write("\n")
    meta = {
        "format_version": IVF_INDEX_FORMAT_VERSION,
        "kind": "exact" if exact else "float",
        "n_lists": len(centroids),
    }
    with open(_os.path.join(path, "meta.json"), "w") as fh:
        _json.dump(meta, fh, indent=1, sort_keys=True)
        fh.write("\n")


def load_ivf_index(spark, path: str):
    """Load a :func:`save_ivf_index` artifact -> (assigned, centroids),
    ready for :func:`ivf_search_index_exact` (kind 'exact') or
    :func:`ivf_search_index` (kind 'float') — and for frozen-centroid
    daily ingest via the matching assign function.  Raises ValueError on
    a missing/garbled meta.json or an unknown format_version (refusing
    beats silently mis-searching a stale layout)."""
    import json as _json
    import os as _os

    try:
        with open(_os.path.join(path, "meta.json")) as fh:
            meta = _json.load(fh)
    except (OSError, ValueError) as exc:
        raise ValueError(
            f"not an IVF index artifact (no readable meta.json): {path}"
        ) from exc
    ver = meta.get("format_version")
    if ver != IVF_INDEX_FORMAT_VERSION:
        raise ValueError(
            f"IVF index artifact {path} has format_version {ver!r}; this "
            f"code reads version {IVF_INDEX_FORMAT_VERSION}"
        )
    with open(_os.path.join(path, "centroids.json")) as fh:
        raw = _json.load(fh)
    centroids = (
        [(int(l), [int(x) for x in c]) for l, c in raw]
        if meta.get("kind") == "exact"
        else [[float(x) for x in c] for c in raw]
    )
    assigned = spark.read.parquet(_os.path.join(path, "assigned.parquet"))
    return assigned, centroids


def ivf_search_index_exact(
    assigned: DataFrame,
    centroids: "list[tuple[int, list[int]]] | DataFrame",
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_probe: int = 4,
    scale_bits: int = 20,
) -> DataFrame:
    """Search: each query probes its ``n_probe`` nearest lists by INTEGER
    centroid distance (ties by list id), exact double cosine runs only
    inside probed lists, per-query window top-k with (cosine desc, id asc)
    total order.  Same broadcast-probe plan shape as `ivf_search_index`."""
    q = queries.select(
        F.col(query_id_col),
        as_double_array(F.col(vec_col)).alias("_qv_d"),
        _quantize_ints(as_double_array(F.col(vec_col)), scale_bits).alias(
            "_qv_i"
        ),
    ).crossJoin(F.broadcast(_cs_rel(centroids, queries.sparkSession)))
    probed = q.withColumn(
        "_list",
        F.explode(
            F.transform(
                F.slice(
                    F.array_sort(
                        _cs_struct_dists(F.col("_qv_i"), F.col("cs"))
                    ),
                    1,
                    n_probe,
                ),
                lambda s: s.getField("l"),
            )
        ),
    ).select(query_id_col, "_qv_d", "_list")
    scored = assigned.join(F.broadcast(probed), "_list").select(
        query_id_col,
        id_col,
        F.round(
            cosine_similarity(F.col("_qv_d"), F.col("_cv")), 6
        ).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "rank", "cosine")
    )
