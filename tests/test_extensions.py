"""Quality verification for the approximate (non-SQL-expressible) extension
operators: LSH similarity recall vs the exact baseline, MinHash recall vs
exact all-pairs Jaccard, SimHash bit-distance properties.

The fixtures are isotropic random data — no natural near neighbors (max
natural cosine 0.513; max natural 3-gram Jaccard << 0.4) — so ground truth
is PLANTED: deterministic jittered copies whose true similarity is known to
dominate the random background. Recall is then measured against the exact
operator on the same corpus, which is the operator contract
(operators/similarity.py, operators/dedup.py).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from yellowrush_spark_ml_pipeline_spark.functions.text import shingles, tokens
from yellowrush_spark_ml_pipeline_spark.operators import dedup, similarity
from yellowrush_spark_ml_pipeline_spark.sources import load_table

N_QUERIES = 10
JITTERS = (0.05, 0.10, 0.15)  # per-copy multiplicative noise amplitude


@pytest.fixture(scope="module")
def planted_embeddings(spark, sf_small):
    """Corpus = 500 random vectors + len(JITTERS) deterministic jittered
    copies of each of the first N_QUERIES (cosine ≈ 0.995-0.9995 >> 0.51
    random background)."""
    emb = load_table(spark, sf_small, "embeddings")
    out = emb
    for j, amp in enumerate(JITTERS):
        planted = emb.filter(F.col("vec_id") < N_QUERIES).select(
            (F.col("vec_id") + 1000 * (j + 1)).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: (
                    x * (F.lit(1.0) + F.lit(amp) * F.cos(F.col("vec_id") + i))
                ).cast("float"),
            ).alias("embedding"),
            "label",
        )
        out = out.unionByName(planted)
    return out.cache()


def _queries(emb):
    return emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def test_lsh_recall_of_true_neighbors(spark, planted_embeddings):
    """Recall@len(JITTERS): every query's true near neighbors are its
    planted copies (the only pairs with cosine >= 0.9). Multiprobe SRP-LSH
    must find >= 80% of what the exact baseline finds."""
    k = len(JITTERS)
    q = _queries(planted_embeddings)
    exact = similarity.brute_force_topk(planted_embeddings, q, k=k)
    approx = similarity.lsh_topk(
        planted_embeddings, q, k=k, bucket_bits=8, probe_radius=1
    )
    exact_pairs = {(r.query_id, r.vec_id) for r in exact.collect()}
    approx_pairs = {(r.query_id, r.vec_id) for r in approx.collect()}
    # sanity: the exact top-k really is the planted copies, not background
    assert all(vid >= 1000 or vid == qid for qid, vid in exact_pairs)
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.8, f"LSH recall {recall:.2f} < 0.8"


def test_ivf_recall_of_true_neighbors(spark, planted_embeddings):
    """Same planted ground truth as the LSH test, through the IVF path:
    a data-adaptive quantizer must put a query's near-collinear copies in
    its probed lists."""
    k = len(JITTERS)
    q = _queries(planted_embeddings)
    exact = similarity.brute_force_topk(planted_embeddings, q, k=k)
    approx = similarity.ivf_topk(
        planted_embeddings, q, k=k, n_lists=16, n_probe=4
    )
    exact_pairs = {(r.query_id, r.vec_id) for r in exact.collect()}
    approx_pairs = {(r.query_id, r.vec_id) for r in approx.collect()}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.8, f"IVF recall {recall:.2f} < 0.8"


def test_ivf_incremental_ingest_no_refit(spark, planted_embeddings):
    """The IVF lifecycle split: build the index on a base corpus, ingest a
    held-out batch with FROZEN centroids (ivf_assign — no KMeans, no
    refit), and search the union. Assignments must be the true argmin
    centroid, and recall on the grown index must clear the same bar as a
    full build."""
    import math as _math

    k = len(JITTERS)
    base = planted_embeddings.filter(F.col("vec_id") % 5 != 0)
    batch = planted_embeddings.filter(F.col("vec_id") % 5 == 0)
    assigned, centroids = similarity.ivf_build_index(base, n_lists=16)
    grown = assigned.unionByName(similarity.ivf_assign(batch, centroids))

    # argmin correctness of the model-free ingest path
    got = {r.vec_id: (r._list, list(r._cv))
           for r in similarity.ivf_assign(batch, centroids).collect()}
    for vid, (lst, vec) in got.items():
        dists = [
            _math.sqrt(sum((a - b) ** 2 for a, b in zip(vec, ctr)))
            for ctr in centroids
        ]
        assert dists[lst] == min(dists), f"vec {vid} not assigned to argmin list"

    q = _queries(planted_embeddings)
    exact = similarity.brute_force_topk(planted_embeddings, q, k=k)
    approx = similarity.ivf_search_index(grown, centroids, q, k=k, n_probe=4)
    exact_pairs = {(r.query_id, r.vec_id) for r in exact.collect()}
    approx_pairs = {(r.query_id, r.vec_id) for r in approx.collect()}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.8, f"incremental IVF recall {recall:.2f} < 0.8"


def test_lsh_scores_match_exact_for_common_pairs(spark, planted_embeddings):
    """Approximation affects WHICH pairs are scored, never the score:
    cosines for pairs both paths return must be identical."""
    q = _queries(planted_embeddings)
    exact = {
        (r.query_id, r.vec_id): r.cosine
        for r in similarity.brute_force_topk(planted_embeddings, q, k=5).collect()
    }
    approx = {
        (r.query_id, r.vec_id): r.cosine
        for r in similarity.lsh_topk(planted_embeddings, q, k=5).collect()
    }
    common = set(exact) & set(approx)
    assert common, "no overlap at all — LSH is broken"
    assert all(exact[p] == approx[p] for p in common)


def test_class_centroids_known_means(spark):
    """Centroids over a hand-built table: two groups whose per-dim means are
    exact in binary (so decimal rounding is a no-op) — output must equal the
    hand-computed mean and carry the right group sizes."""
    rows = [
        ("a", [1.0, 2.0]),
        ("a", [3.0, 6.0]),
        ("b", [10.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "label string, embedding array<float>")
    out = {
        (r.label, r.dim): (r.n, r.centroid_val)
        for r in similarity.class_centroids(df, group_col="label").collect()
    }
    assert out == {
        ("a", 0): (2, 2.0),
        ("a", 1): (2, 4.0),
        ("b", 0): (1, 10.0),
        ("b", 1): (1, 0.0),
    }


@pytest.fixture(scope="module")
def planted_docs(spark, sf_small):
    """150 random docs + suffix-mutated copies of the first 20: appending 4
    tokens to a ~56-token doc keeps 3-gram Jaccard ≈ 0.9 — far above the
    random background and the 0.4 threshold."""
    docs = load_table(spark, sf_small, "documents").filter(F.col("doc_id") < 150)
    planted = docs.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" planted near duplicate suffix")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    return docs.unionByName(planted).cache()


def _exact_jaccard_pairs(docs, threshold):
    sh = F.array_distinct(shingles(tokens(F.col("text")), 3))
    d = docs.select(F.col("doc_id"), sh.alias("_sh")).filter(F.size("_sh") > 0)
    a, b = d.alias("a"), d.alias("b")
    return (
        a.crossJoin(b)
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("a._sh", "b._sh"))
            / F.size(F.array_union("a._sh", "b._sh")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
    )


def test_minhash_recall_and_precision_vs_exact_jaccard(spark, planted_docs):
    threshold = 0.4
    truth = {(r.id_a, r.id_b) for r in _exact_jaccard_pairs(planted_docs, threshold).collect()}
    assert len(truth) >= 15, f"expected >=15 planted true pairs, got {len(truth)}"
    found = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_dedup_pairs(
            planted_docs, jaccard_threshold=threshold
        ).collect()
    }
    # precision is 1.0 by construction (exact verify on candidates)…
    assert found <= truth, f"false positives: {sorted(found - truth)[:5]}"
    # …recall is the LSH banding quality under test
    recall = len(found & truth) / len(truth)
    assert recall >= 0.9, f"minhash recall {recall:.2f} < 0.9"


def test_minhash_char_basis_finds_cjk_near_dups(spark, sf_small):
    """Word tokenization degenerates on Chinese (a sentence is one giant
    \\p{L} token → almost no word shingles), so the char-n-gram basis is
    the one that must catch zh near-duplicates."""
    docs = load_table(spark, sf_small, "documents").filter(F.col("lang") == "zh")
    n_zh = docs.count()
    assert n_zh >= 50
    # deterministic planted set: limit() without ordering re-evaluates to
    # a different row set per action
    planted = docs.orderBy("doc_id").limit(20).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit("后缀标记")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    corpus = docs.unionByName(planted)
    found = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_dedup_pairs(
            corpus, shingle_n=5, jaccard_threshold=0.5, basis="char"
        ).collect()
    }
    planted_ids = {r.doc_id for r in planted.select("doc_id").collect()}
    hits = {(a, b) for a, b in found if b in planted_ids and b - 200000 == a}
    assert len(hits) >= 16, f"char-basis minhash found {len(hits)}/20 planted zh pairs"


def test_dedup_groups_connected_components(spark):
    """Pairs → groups: chains must merge transitively (a~b, b~c → one
    group with the min id), singletons in pairs stay in their own group,
    and group_id == min(component)."""
    pairs = spark.createDataFrame(
        [
            (1, 2), (2, 3), (3, 4),          # chain → component {1,2,3,4}
            (10, 11),                        # simple pair
            (20, 22), (21, 22),              # star → {20,21,22}
            (30, 31), (32, 33), (31, 32),    # two pairs bridged → {30..33}
        ],
        ["id_a", "id_b"],
    )
    groups = {
        r.doc_id: r.group_id for r in dedup.dedup_groups(pairs).collect()
    }
    assert {groups[i] for i in (1, 2, 3, 4)} == {1}
    assert {groups[i] for i in (10, 11)} == {10}
    assert {groups[i] for i in (20, 21, 22)} == {20}
    assert {groups[i] for i in (30, 31, 32, 33)} == {30}
    # keep-rule: exactly one representative per component
    keeps = [n for n, g in groups.items() if n == g]
    assert sorted(keeps) == [1, 10, 20, 30]


def test_dedup_groups_star_matches_label_propagation(spark):
    """Both algorithms implement the same contract: identical
    (doc_id, group_id) output on chains, stars, and bridged components."""
    pairs = spark.createDataFrame(
        [
            (1, 2), (2, 3), (3, 4),
            (10, 11),
            (20, 22), (21, 22),
            (30, 31), (32, 33), (31, 32),
            (42, 40), (41, 40),              # edges pointing at the min
        ],
        ["id_a", "id_b"],
    )
    label = {(r.doc_id, r.group_id) for r in dedup.dedup_groups(pairs).collect()}
    star = {
        (r.doc_id, r.group_id)
        for r in dedup.dedup_groups(pairs, algorithm="star").collect()
    }
    assert label == star


def test_dedup_groups_long_chain(spark):
    """Adversarial 500-node path graph (diameter 499). Min-label
    propagation needs O(diameter) sweeps — far past any sane cap — while
    large-star/small-star halves depth each round and must converge to a
    single component within the default 20-round cap (log2(500) ≈ 9)."""
    n = 500
    chain = spark.range(n - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    out = dedup.dedup_groups(chain, algorithm="star")
    rows = out.collect()
    assert len(rows) == n
    assert {r.group_id for r in rows} == {0}, "chain did not collapse to root 0"
    assert {r.doc_id for r in rows} == set(range(n))


@pytest.mark.parametrize(
    "kwargs, hint",
    [({}, 'algorithm="star"'), ({"algorithm": "star", "max_iterations": 2}, None)],
    ids=["label", "star"],
)
def test_dedup_groups_raises_when_not_converged(spark, kwargs, hint):
    """A 30-node path outlasts the label loop's 20 default sweeps and the
    star loop's 2 rounds: both must refuse rather than return one
    component split across several group ids."""
    chain = spark.range(29).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    with pytest.raises(ValueError, match="max_iterations") as err:
        dedup.dedup_groups(chain, **kwargs).collect()
    if hint:
        assert hint in str(err.value)


def test_dedup_groups_end_to_end_with_minhash(spark, planted_docs):
    """Full curation path: minhash pairs → components → drop list. The 20
    planted near-dups must each group with their source doc."""
    pairs = dedup.minhash_dedup_pairs(planted_docs, jaccard_threshold=0.4)
    groups = {r.doc_id: r.group_id for r in dedup.dedup_groups(pairs).collect()}
    hit = sum(
        1 for d, g in groups.items() if d >= 100000 and g == d - 100000
    )
    assert hit >= 18, f"only {hit}/20 planted dups grouped with their source"


def test_minhash_incremental_new_batch_vs_corpus(spark, planted_docs):
    """Daily-increment shape: the corpus is represented ONLY by its
    persisted signature table; a new batch of mutated copies + fresh docs
    must match its copies' sources without any corpus-side re-shingling
    or corpus self-join."""
    corpus = planted_docs.filter(F.col("doc_id") < 100000).select("doc_id", "text")
    corpus_sigs = dedup.minhash_signatures(corpus).localCheckpoint()
    # new batch: near-copies of docs 0..19 (+300000 ids) and 30 fresh docs
    copies = corpus.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" appended tail words")).alias("text"),
    )
    fresh = corpus.filter((F.col("doc_id") >= 60) & (F.col("doc_id") < 90)).select(
        (F.col("doc_id") + 500000).alias("doc_id"),
        F.reverse(F.col("text")).alias("text"),  # reversed => unrelated
    )
    new_batch = copies.unionByName(fresh)
    all_docs = corpus.unionByName(new_batch)
    pairs = dedup.minhash_incremental_pairs(
        new_batch, corpus_sigs, all_docs, jaccard_threshold=0.4
    )
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    planted = {(300000 + i, i) for i in range(20)}
    assert len(planted & got) >= 18, f"found {len(planted & got)}/20 planted pairs"
    fresh_ids = {500000 + i for i in range(60, 90)}
    assert not {p for p in got if p[0] in fresh_ids}, "fresh docs matched corpus"


def test_simhash_near_dups_differ_in_few_bits(spark, planted_docs):
    sims = dedup.simhash(planted_docs)
    a = sims.alias("a")
    b = sims.alias("b")
    planted_pairs = (
        a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 100000)
        .select(
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("h")
        )
        .collect()
    )
    assert len(planted_pairs) == 20
    hammings = [r.h for r in planted_pairs]
    assert sum(hammings) / len(hammings) <= 10, hammings
    random_pairs = (
        a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1)
        .filter(F.col("a.doc_id") < 100)
        .select(
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("h")
        )
        .collect()
    )
    rand_mean = sum(r.h for r in random_pairs) / len(random_pairs)
    # unrelated fixture docs share a vocabulary pool, so their simhashes
    # correlate (≈18 bits, not the 32 of independent text) — the operator
    # contract is the SEPARATION between near-dup and background distance
    planted_mean = sum(hammings) / len(hammings)
    assert rand_mean >= 15, rand_mean
    assert planted_mean <= rand_mean - 5, (planted_mean, rand_mean)


def test_stratified_sample_rebalances(spark, sf_small):
    """Downsampling the dominant stratum: en ~30% kept (binomial bounds),
    every other language kept in full, deterministic for a fixed seed."""
    from yellowrush_spark_ml_pipeline_spark.operators.cleaning import (
        stratified_sample,
    )

    docs = load_table(spark, sf_small, "documents")
    full = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    sampled = stratified_sample(docs, "lang", {"en": 0.3}, seed=42, default_fraction=1.0)
    got = {r.lang: r.n for r in sampled.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    # non-en strata fully kept
    for lang, n in full.items():
        if lang != "en":
            assert got[lang] == n, (lang, got.get(lang), n)
    # en within generous binomial bounds around 0.3
    assert 0.15 * full["en"] <= got["en"] <= 0.45 * full["en"], got["en"]
    # deterministic for fixed seed within a session
    again = {
        r.lang: r.n
        for r in stratified_sample(docs, "lang", {"en": 0.3}, seed=42, default_fraction=1.0)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert again == got


def test_deterministic_stratified_sample_exact(spark, sf_small):
    """The hash-mod sampler is a pure function of the data: the EXACT row
    set is predictable (Lehmer hash threshold per stratum), non-en strata
    survive in full, and en lands near 30% — no RNG, no partitioning
    sensitivity."""
    from yellowrush_spark_ml_pipeline_spark.operators.cleaning import (
        deterministic_stratified_sample,
    )

    docs = load_table(spark, sf_small, "documents")
    sampled = deterministic_stratified_sample(
        docs, "lang", {"en": 0.3}, default_fraction=1.0
    )
    p, mod = 2_147_483_647, 1_000_000
    expected = {
        r.doc_id
        for r in docs.select("doc_id", "lang").collect()
        if (r.doc_id % p) * 48271 % p % mod < (300_000 if r.lang == "en" else mod)
    }
    got = {r.doc_id for r in sampled.select("doc_id").collect()}
    assert got == expected
    # repartitioning must not change the surviving set (unlike Bernoulli)
    again = {
        r.doc_id
        for r in deterministic_stratified_sample(
            docs.repartition(7), "lang", {"en": 0.3}, default_fraction=1.0
        ).select("doc_id").collect()
    }
    assert again == expected
    full_en = docs.filter(F.col("lang") == "en").count()
    kept_en = len(expected) - docs.filter(F.col("lang") != "en").count()
    assert 0.2 * full_en <= kept_en <= 0.4 * full_en


def test_sketch_stats_error_bounds(spark, sf_small):
    """HLL++ distinct and approximate percentiles must land within their
    advertised error of the exact answers."""
    from yellowrush_spark_ml_pipeline_spark.operators.aggregates import approx_stats

    li = load_table(spark, sf_small, "lineitem")
    row = approx_stats(li, ["l_partkey", "l_extendedprice"]).first()
    exact_distinct = li.select("l_partkey").distinct().count()
    assert abs(row["approx_distinct_l_partkey"] - exact_distinct) <= 0.1 * exact_distinct
    exact_p = li.selectExpr(
        "percentile(l_extendedprice, array(0.5, 0.95, 0.99)) AS p"
    ).first()["p"]
    approx_p = row["approx_percentiles_l_extendedprice"]
    for a, e in zip(approx_p, exact_p):
        assert abs(a - e) <= 0.05 * abs(e), (a, e)


def test_minhash_banded_join_under_planted_skew(spark):
    """Boilerplate-skew proof for the dedup path (dedup.py:12-14 risk):
    one boilerplate sentence stamped into 40% of docs creates a hot
    (band_id, band_hash) bucket. The banded self-join must (a) still
    complete under the skew, and (b) with the max_bucket_size guard, skip
    the quadratic boilerplate bucket while keeping genuine planted
    near-dup candidates.

    Why the guard is row-count-based and not left to AQE (measured, not
    assumed — see test_aqe_skew_split_engages_for_byte_visible_skew for
    the byte-visible case): a boilerplate bucket's shuffle rows share
    identical (band_id, band_hash) keys, which LZ4 collapses in the map
    outputs, so MapStatus BYTE sizes under-report exactly the partitions
    that are row-wise quadratic — AQE's byte-threshold skew detection
    structurally under-fires here, and even when it fires it rebalances
    the shuffle without shrinking the O(B²) pair output. Capping bucket
    membership is the only fix that bounds the output itself."""
    import random

    rng = random.Random(42)
    vocab = [f"w{i:03d}" for i in range(400)]
    boiler = "this content is provided as is without warranty of any kind " * 5
    docs = []
    for i in range(1500):
        body = " ".join(rng.choice(vocab) for _ in range(60))
        if i % 5 in (0, 1):  # 40% carry the boilerplate + tiny unique tail
            docs.append((i, boiler + " " + body[:20]))
        else:
            docs.append((i, body))
    # genuine near-dups: suffix-mutated copies of 20 clean docs
    for i in range(2, 100, 5):
        docs.append((200000 + i, docs[i][1] + " tail x y"))
    df = spark.createDataFrame(docs, ["doc_id", "text"])

    sigs = dedup.minhash_signatures(df).localCheckpoint()
    (n_hot,) = dedup.minhash_lsh_candidates(sigs).groupBy().count().collect()
    assert n_hot["count"] > 100000, "boilerplate should explode the pair count"

    capped = dedup.minhash_lsh_candidates(sigs, max_bucket_size=50)
    capped_pairs = {(r.id_a, r.id_b) for r in capped.collect()}
    planted = {(i, 200000 + i) for i in range(2, 100, 5)}
    found = planted & capped_pairs
    assert len(found) >= 16, f"cap lost genuine near-dups: {len(found)}/20"
    assert len(capped_pairs) < n_hot["count"] / 10, (
        "cap should remove the quadratic boilerplate bucket"
    )


def test_aqe_skew_split_engages_for_byte_visible_skew(spark):
    """The AQE runtime safety net: when shuffle-partition skew IS
    byte-visible (incompressible hot key), the session's adaptive config
    must split it — SortMergeJoin(skew=true) in the executed final plan.
    Together with the planted-skew test above this pins down the division
    of labor: AQE rebalances byte-skewed shuffles at runtime, while the
    dedup path's max_bucket_size bounds row-quadratic buckets AQE cannot
    see (compressed away) or fix (output-size, not shuffle-size)."""
    from pyspark.sql import functions as F2

    conf = spark.conf
    keys = (
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    saved = {k: conf.get(k, None) for k in keys}
    try:
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "2KB")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2KB")
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        # 20% of rows share key 0; payloads are distinct longs (do not
        # compress away), so the hot reduce partition is byte-visible.
        left = spark.range(20000).select(
            F2.when(F2.col("id") % 5 == 0, 0).otherwise(F2.col("id")).alias("k"),
            F2.col("id").alias("a"),
        )
        right = left.select("k", F2.col("a").alias("b"))
        j = left.join(right, "k").filter(F2.col("a") < F2.col("b")).groupBy().count()
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, "AQE skew-split did not engage"
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_language_id_pluggable_scorer(spark):
    """The pandas-UDF scorer slot must route every row through the model
    and keep the output contract identical to the heuristic path."""
    from yellowrush_spark_ml_pipeline_spark.operators.textstats import language_id

    def _toy_lang_scorer(texts):
        # Stand-in for a fastText-class model: Series -> Series of codes.
        # Defined inside the test so cloudpickle ships it by value (the
        # test module isn't importable on executor workers).
        return texts.str.contains("bonjour").map({True: "fr", False: "xx"})

    docs = spark.createDataFrame(
        [(1, "bonjour le monde"), (2, "the quick brown fox"), (3, "bonjour again")],
        ["doc_id", "text"],
    )
    heur = language_id(docs)
    plug = language_id(docs, scorer=_toy_lang_scorer)
    assert heur.columns == plug.columns  # same contract either way
    got = {r.doc_id: r.lang_pred for r in plug.collect()}
    assert got == {1: "fr", 2: "xx", 3: "fr"}
    # flows.curate_corpus threads the scorer through without API change
    import inspect

    from yellowrush_spark_ml_pipeline_spark.flows import curate_corpus

    assert "lang_scorer" in inspect.signature(curate_corpus).parameters


def test_curate_corpus_threads_lang_scorer(spark):
    """curate_corpus(lang_scorer=...) labels every kept doc with the
    plugged model's code instead of the heuristic's."""
    from yellowrush_spark_ml_pipeline_spark.flows import curate_corpus

    def _toy_lang_scorer(texts):
        return texts.str.contains("bonjour").map({True: "fr", False: "xx"})

    docs = spark.createDataFrame(
        [
            (1, "bonjour le monde entier ce matin"),
            (2, "the quick brown fox jumps over the lazy dog"),
        ],
        ["doc_id", "text"],
    )
    out = curate_corpus(docs, min_quality=0.0, lang_scorer=_toy_lang_scorer)
    assert {r.doc_id: r.lang_pred for r in out.collect()} == {1: "fr", 2: "xx"}


def test_quantize_embeddings_roundtrip_error_bound(spark, sf_small):
    """Scalar quantization contract: every code is in [0, 255] and
    dequantization (code*scale + offset) reconstructs each value within
    half a quantization step."""
    from yellowrush_spark_ml_pipeline_spark.operators.similarity import (
        quantize_embeddings,
    )

    emb = load_table(spark, sf_small, "embeddings")
    q = quantize_embeddings(emb)
    joined = q.join(emb, "vec_id").select(
        F.arrays_zip(
            F.col("codes").alias("c"),
            F.col("embedding").cast("array<double>").alias("x"),
        ).alias("z"),
        "offset",
        "scale",
    )
    checked = joined.select(
        F.exists("z", lambda p: (p["c"] < 0) | (p["c"] > 255)).alias("bad_code"),
        F.exists(
            "z",
            lambda p: F.abs(p["c"] * F.col("scale") + F.col("offset") - p["x"])
            > F.col("scale") / 2 + 1e-9,
        ).alias("bad_err"),
    )
    assert checked.filter(F.col("bad_code") | F.col("bad_err")).count() == 0


def test_quantize_embeddings_dequantized_values(spark, sf_small):
    """Explicit round-trip on a planted vector with known codes."""
    from yellowrush_spark_ml_pipeline_spark.operators.similarity import (
        quantize_embeddings,
    )

    df = spark.createDataFrame(
        [(1, [0.0, 1.0, 2.0, 4.0]), (2, [5.0, 5.0, 5.0, 5.0])],
        ["vec_id", "embedding"],
    )
    rows = {r.vec_id: r for r in quantize_embeddings(df).collect()}
    # vec 1: min 0, max 4 → scale 4/255; codes = floor(x*255/4 + .5)
    assert rows[1].codes == [0, 64, 128, 255]
    assert rows[1].offset == 0.0 and abs(rows[1].scale - 4 / 255) < 1e-12
    # constant vector: scale guard 1.0, all codes 0
    assert rows[2].codes == [0, 0, 0, 0] and rows[2].scale == 1.0
    deq = [c * rows[1].scale + rows[1].offset for c in rows[1].codes]
    assert all(abs(d - x) <= rows[1].scale / 2 for d, x in zip(deq, [0, 1, 2, 4]))


def test_repetition_score_separates_looping_text(spark):
    """Planted looping text must score high top_ngram_frac / low
    diversity; varied prose the opposite. Counts are exact."""
    from yellowrush_spark_ml_pipeline_spark.operators.textstats import (
        repetition_score,
    )

    loop = "buy now click here " * 25  # 100 tokens, one dominant 3-gram
    varied = " ".join(f"tok{i}" for i in range(100))
    df = spark.createDataFrame([(1, loop), (2, varied)], ["doc_id", "text"])
    rows = {r.doc_id: r for r in repetition_score(df).collect()}
    # loop: tokens = (buy now click here)*25 → 98 3-grams, 4 distinct
    # patterns each appearing 24-25 times
    assert rows[1].n_ngrams == 98
    assert rows[1].n_distinct_ngrams == 4
    assert rows[1].top_ngram_count == 25
    assert rows[1].top_ngram_frac > 0.2
    assert rows[2].n_distinct_ngrams == rows[2].n_ngrams  # all unique
    assert rows[2].top_ngram_count == 1
    assert rows[1].ngram_diversity < 0.1 < rows[2].ngram_diversity


def test_boilerplate_spans_finds_planted_shared_span(spark):
    """A span planted into 4 of 6 docs must rank first with doc_freq=4;
    intra-doc repetition must NOT inflate doc_freq (per-doc distinct);
    spans in fewer than min_docs docs are excluded."""
    from yellowrush_spark_ml_pipeline_spark.operators.textstats import (
        boilerplate_spans,
    )

    banner = "subscribe to our newsletter for daily updates now"  # 8 tokens
    rows = []
    for i in range(4):  # banner in docs 0-3; doc 0 repeats it twice
        filler = " ".join(f"w{i}x{j}" for j in range(10))
        text = f"{banner} {filler}" + (f" {banner}" if i == 0 else "")
        rows.append((i, text))
    rows.append((4, " ".join(f"unique{j}" for j in range(12))))
    rows.append((5, " ".join(f"solo{j}" for j in range(12))))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = boilerplate_spans(df, n=8, min_docs=2, k=10).collect()
    assert out, "planted shared span not detected"
    top = out[0]
    assert top.rank == 1 and top.gram == banner and top.doc_freq == 4
    assert all(r.doc_freq >= 2 for r in out)


def test_chunk_text_reassembles_documents(spark):
    """Chunking contract: chunk 0 plus each later chunk minus its overlap
    concatenates back to the original text, starts step by
    chunk-overlap, and every chunk except the last is full-size."""
    from yellowrush_spark_ml_pipeline_spark.operators.textstats import chunk_text

    text = " ".join(f"tok{i:04d}" for i in range(80))  # 640 chars
    df = spark.createDataFrame([(7, text)], ["doc_id", "text"])
    chunks = chunk_text(df, chunk_chars=200, overlap=50).orderBy("chunk_id").collect()
    assert [c.chunk_start for c in chunks] == [1 + 150 * i for i in range(len(chunks))]
    assert all(len(c.chunk_text) == 200 for c in chunks[:-1])
    rebuilt = chunks[0].chunk_text + "".join(c.chunk_text[50:] for c in chunks[1:])
    assert rebuilt == text


def test_multimodal_arrow_path(spark):
    """First-class execution of the mapInPandas plumbing: schema, batch
    shape, and the deterministic stub decode (operators/multimodal.py —
    codec calls are stubbed, the Spark-side shape is the real artifact)."""
    from yellowrush_spark_ml_pipeline_spark.operators.multimodal import (
        FEATURES_SCHEMA,
        extract_features,
        synthetic_media,
    )

    media = synthetic_media(spark, n=48, payload_bytes=512)
    feats = extract_features(media)
    assert feats.schema == FEATURES_SCHEMA
    rows = feats.collect()
    assert len(rows) == 48
    for r in rows:
        assert len(r.feature) == 8, "stub featurizer is 8-dim"
        assert r.feature[0] == float(r.n_bytes)
        assert r.feature[7] == 1.0
        assert r.n_bytes > 0
    # deterministic across runs (same payload pattern → same features)
    again = {r.media_id: r.feature for r in extract_features(media).collect()}
    assert all(again[r.media_id] == r.feature for r in rows)


def test_multimodal_real_bmp_decode(spark):
    """A planted known-pixel BMP must decode to its KNOWN content features
    — this is real parsing (header, bottom-up rows, BGR order, padding),
    not the byte-statistic stub."""
    from yellowrush_spark_ml_pipeline_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        encode_bmp,
        extract_features,
    )

    # 2x2: red, green / blue, white — means are exactly computable.
    px = [[(255, 0, 0), (0, 255, 0)], [(0, 0, 255), (255, 255, 255)]]
    bmp = encode_bmp(px)
    media = spark.createDataFrame(
        [(1, "image", bytearray(bmp), "image/bmp", 2, 2, None)], MEDIA_SCHEMA
    )
    (row,) = extract_features(media).collect()
    f = row.feature
    assert f[7] == 2.0, "BMP must take the real-decode path, not the stub"
    assert (f[0], f[1]) == (2.0, 2.0)  # width, height from the header
    assert abs(f[2] - 127.5) < 1e-3  # mean R = (255+0+0+255)/4
    assert abs(f[3] - 127.5) < 1e-3  # mean G
    assert abs(f[4] - 127.5) < 1e-3  # mean B
    lums = [0.299 * r + 0.587 * g + 0.114 * b for row_ in px for r, g, b in row_]
    mean = sum(lums) / 4
    var = sum(v * v for v in lums) / 4 - mean * mean
    assert abs(f[5] - mean) < 1e-3
    assert abs(f[6] - var**0.5) < 1e-3


def test_multimodal_real_wav_decode(spark):
    """A planted square-wave WAV must decode to its known RMS / peak /
    zero-crossing statistics through the RIFF chunk parser."""
    from yellowrush_spark_ml_pipeline_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        encode_wav,
        extract_features,
    )

    samples = [1000 if i % 4 < 2 else -1000 for i in range(32)]
    wav = encode_wav(samples, sample_rate=16000)
    media = spark.createDataFrame(
        [(1, "audio", bytearray(wav), "audio/wav", None, None, 2), ], MEDIA_SCHEMA
    )
    (row,) = extract_features(media).collect()
    f = row.feature
    assert f[7] == 3.0, "WAV must take the real-decode path, not the stub"
    assert f[0] == 16000.0 and f[1] == 32.0 and f[2] == 1.0
    assert abs(f[3] - 1000.0) < 1e-3  # square wave RMS == amplitude
    assert f[5] == 1000.0  # peak
    assert abs(f[4] - 15 / 32) < 1e-6  # sign flips every 2 samples
    assert abs(f[6]) < 1e-6  # zero mean


def test_multimodal_decodable_synthetic_table(spark):
    """The synthetic decodable table routes every image row and WAV row
    through a REAL parser (tag 2.0 BMP / 4.0 PNG / 5.0 JPEG / 3.0 WAV);
    only the planted MP3 rows (i%6==3, header-probe fixtures) hit the
    documented codec stub (tag 1.0)."""
    from yellowrush_spark_ml_pipeline_spark.operators.multimodal import (
        extract_features,
        synthetic_decodable_media,
    )

    rows = extract_features(synthetic_decodable_media(spark, n=12)).collect()
    assert len(rows) == 12
    tags = {r.kind: {r2.feature[7] for r2 in rows if r2.kind == r.kind} for r in rows}
    assert tags == {"image": {2.0, 4.0, 5.0}, "audio": {1.0, 3.0}}


def test_compression_ratio_separates_repetition_from_prose(spark):
    """Planted repetitive text must compress far below varied prose, and
    the reported byte/ratio facts must match a local zlib replay exactly
    (same level) — the Gopher-style repetition signal is real, not a
    byte-stat fake."""
    import zlib

    from yellowrush_spark_ml_pipeline_spark.operators.textstats import (
        compression_ratio,
    )

    loop = "spam ham " * 400
    prose = " ".join(f"w{i * 7919 % 10007}x{i * 104729 % 31}" for i in range(400))
    docs = spark.createDataFrame(
        [(1, loop), (2, prose), (3, None), (4, "")],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in compression_ratio(docs).collect()}
    assert out[1].ratio < 0.05 and out[2].ratio > 0.3
    assert out[2].ratio > 5 * out[1].ratio  # clear separation
    for did, text in ((1, loop), (2, prose)):
        raw = text.encode()
        assert out[did].n_bytes == len(raw)
        assert out[did].n_compressed == len(zlib.compress(raw, 6))
    # degraded rows: empty/None text → no ratio, zero bytes
    assert out[3].n_bytes == 0 and out[3].ratio is None
    assert out[4].n_bytes == 0 and out[4].ratio is None


def test_png_decode_known_pixels_all_filters():
    """Planted-pixel PNG decoded to exact channel features, for every
    filter type (None/Sub/Up/Average/Paeth) — compressed-codec decode is
    real, stdlib-only."""
    from yellowrush_spark_ml_pipeline_spark.operators.multimodal import (
        _decode_png,
        encode_png,
    )

    red, blue = (255, 0, 0), (0, 0, 255)
    px = [[red, red, blue, blue]] * 4  # left half red, right half blue
    for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
        f = _decode_png(encode_png(px, row_filters=filters))
        assert f[0] == 4.0 and f[1] == 4.0  # dims
        assert f[2] == 127.5 and f[3] == 0.0 and f[4] == 127.5  # exact means
        lum = (0.299 * 255 + 0.114 * 255) / 2
        assert abs(f[5] - lum) < 1e-9
        assert f[7] == 4.0  # the PNG tag, not the stub's 1.0


def test_png_decode_gradient_roundtrip():
    """A non-uniform image (every pixel distinct) survives the
    deflate→inflate→unfilter round-trip bit-exactly: per-channel means
    match the plaintext computation."""
    from yellowrush_spark_ml_pipeline_spark.operators.multimodal import (
        _decode_png,
        encode_png,
    )

    w = h = 8
    px = [[((x * 31) % 256, (y * 53) % 256, (x * y * 7) % 256) for x in range(w)]
          for y in range(h)]
    f = _decode_png(encode_png(px, row_filters=[4, 3, 2, 1, 0]))
    n = w * h
    assert f[2] == sum(p[0] for row in px for p in row) / n
    assert f[3] == sum(p[1] for row in px for p in row) / n
    assert f[4] == sum(p[2] for row in px for p in row) / n


def test_probe_media_headers_only_metadata(spark):
    """probe_media must identify every real format from magic bytes and
    read exact dims/sample facts from headers alone — including rows whose
    `mime` column lies (routing must trust bytes, not labels)."""
    from pyspark.sql import functions as F2

    from yellowrush_spark_ml_pipeline_spark.operators.multimodal import (
        probe_media,
        synthetic_decodable_media,
    )

    media = synthetic_decodable_media(spark, n=12).withColumn(
        "mime", F2.lit("application/octet-stream")  # labels lie; bytes don't
    )
    rows = {r.media_id: r for r in probe_media(media).collect()}
    assert len(rows) == 12
    for i, r in rows.items():
        if i % 2 == 1 and i % 6 == 3:
            # planted MP3 frame stream: header facts from the 4-byte
            # frame header (bitrate table + sample-rate index)
            assert r.format == "mp3"
            assert r.sample_rate == 44100 and r.bitrate_kbps == 128
        elif i % 2 == 1:
            assert r.format == "wav"
            assert r.sample_rate == 8000 and r.n_samples == 64
        elif i % 6 == 0:
            assert r.format == "bmp" and (r.width, r.height) == (4, 4)
        elif i % 6 == 2:
            assert r.format == "png" and (r.width, r.height) == (4, 4)
        else:
            assert r.format == "jpeg" and (r.width, r.height) == (8, 8)
        assert r.n_bytes > 0


def test_probe_media_unknown_and_null_payloads(spark):
    from yellowrush_spark_ml_pipeline_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        probe_media,
    )

    media = spark.createDataFrame(
        [
            (1, "image", bytearray(b"\x00garbage-bytes-here"), None, None, None, None),
            (2, "image", None, None, None, None, None),
        ],
        MEDIA_SCHEMA,
    )
    rows = {r.media_id: r for r in probe_media(media).collect()}
    assert rows[1].format == "unknown" and rows[1].n_bytes > 0
    assert rows[2].format == "unknown" and rows[2].n_bytes == 0


def test_jpeg_solid_color_roundtrips_exactly():
    """A solid-color block is pure DC energy — quantization cannot move
    it, so decode must reproduce the color EXACTLY."""
    from yellowrush_spark_ml_pipeline_spark.operators.jpeg import (
        decode_jpeg_pixels,
        encode_jpeg,
    )

    for color in ((200, 100, 50), (0, 0, 0), (255, 255, 255)):
        w, h, rows = decode_jpeg_pixels(encode_jpeg([[color] * 8] * 8, quality=90))
        assert (w, h) == (8, 8)
        assert all(px == color for row in rows for px in row)


def test_jpeg_two_tone_means_within_quantization_error():
    """Half-red/half-blue: per-channel means from the real decode must sit
    within a few units of the plaintext means (DCT ringing is local; the
    mean is preserved), and interior pixels must be the exact tones."""
    from yellowrush_spark_ml_pipeline_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    red, blue = (255, 0, 0), (0, 0, 255)
    px = [[red] * 8 + [blue] * 8] * 8
    f = decode_jpeg(encode_jpeg(px, quality=95))
    assert (f[0], f[1], f[7]) == (16.0, 8.0, 5.0)
    assert abs(f[2] - 127.5) < 3 and abs(f[3] - 0.0) < 3 and abs(f[4] - 127.5) < 3


def test_jpeg_non_multiple_of_8_dims():
    """10x6 exercises edge-replication padding at encode and cropping at
    decode — output dims must be the TRUE dims, content near-exact."""
    from yellowrush_spark_ml_pipeline_spark.operators.jpeg import (
        decode_jpeg_pixels,
        encode_jpeg,
    )

    c = (30, 180, 90)
    w, h, rows = decode_jpeg_pixels(encode_jpeg([[c] * 10] * 6, quality=90))
    assert (w, h) == (10, 6)
    assert len(rows) == 6 and len(rows[0]) == 10
    for row in rows:
        for r, g, b in row:
            assert abs(r - c[0]) <= 2 and abs(g - c[1]) <= 2 and abs(b - c[2]) <= 2


def test_jpeg_gradient_means_accurate():
    """Every pixel distinct: decoded channel means within 2 units of the
    plaintext means at quality 90 (quantization moves pixels, barely the
    mean)."""
    from yellowrush_spark_ml_pipeline_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    w = h = 16
    px = [
        [((x * 16) % 256, (y * 16) % 256, (x * y) % 256) for x in range(w)]
        for y in range(h)
    ]
    f = decode_jpeg(encode_jpeg(px, quality=90))
    n = w * h
    for ch, idx in ((0, 2), (1, 3), (2, 4)):
        true_mean = sum(p[ch] for row in px for p in row) / n
        assert abs(f[idx] - true_mean) < 2.0, (ch, f[idx], true_mean)


def test_jpeg_unsupported_variants_raise():
    from yellowrush_spark_ml_pipeline_spark.operators.jpeg import (
        decode_jpeg_pixels,
        encode_jpeg,
    )

    data = bytearray(encode_jpeg([[(1, 2, 3)] * 8] * 8))
    # flip SOF0 (FFC0) to SOF2 (FFC2, progressive) — must raise, not
    # mis-decode
    i = bytes(data).find(b"\xff\xc0")
    data[i + 1] = 0xC2
    try:
        decode_jpeg_pixels(bytes(data))
        raise AssertionError("expected ValueError for progressive JPEG")
    except ValueError:
        pass


def test_png_rgba_alpha_ignored():
    """Color-type-6 (RGBA) PNGs decode with alpha excluded from channel
    statistics."""
    import struct
    import zlib

    from yellowrush_spark_ml_pipeline_spark.operators.multimodal import _decode_png

    def chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))

    # 2x1 RGBA: (10,20,30,alpha=0) and (50,60,70,alpha=255), filter 0
    ihdr = struct.pack(">IIBBBBB", 2, 1, 8, 6, 0, 0, 0)
    raw = bytes([0, 10, 20, 30, 0, 50, 60, 70, 255])
    png = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
           + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))
    f = _decode_png(png)
    assert (f[0], f[1]) == (2.0, 1.0)
    assert (f[2], f[3], f[4]) == (30.0, 40.0, 50.0)  # alpha ignored


def test_png_unsupported_variants_raise():
    from yellowrush_spark_ml_pipeline_spark.operators.multimodal import _decode_png

    import struct
    import zlib

    def chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))

    # 16-bit depth and palette color both must raise, not mis-decode
    for depth, color in ((16, 2), (8, 3)):
        ihdr = struct.pack(">IIBBBBB", 2, 2, depth, color, 0, 0, 0)
        bad = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        try:
            _decode_png(bad)
            raise AssertionError("expected ValueError")
        except ValueError:
            pass


def test_multimodal_null_payload(spark):
    """Null payloads must yield null features (not crash the batch) —
    the degraded-row contract of a real decoder stage."""
    from pyspark.sql import functions as F2

    from yellowrush_spark_ml_pipeline_spark.operators.multimodal import (
        extract_features,
        synthetic_media,
    )

    media = synthetic_media(spark, n=6).withColumn(
        "payload",
        F2.when(F2.col("media_id") % 2 == 0, F2.col("payload")),
    )
    rows = extract_features(media).orderBy("media_id").collect()
    assert [r.feature is None for r in rows] == [False, True] * 3
    assert [r.n_bytes for r in rows[1::2]] == [0, 0, 0]


def test_fingerprint_dedup_collapses_planted(spark, sf_small):
    import __spark_entry__ as entrymod

    out = entrymod.q_fingerprint_dedup(spark, sf_small)
    dup_groups = out.filter(F.col("dup_count") > 1)
    assert dup_groups.count() == 50
    assert out.count() == 500  # 550 inputs → 500 fingerprint groups


def test_simhash_candidates_find_exact_copies(spark, sf_small):
    docs = load_table(spark, sf_small, "documents").filter(F.col("doc_id") < 100)
    copies = docs.select(
        (F.col("doc_id") + 5000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    sims = dedup.simhash(docs.unionByName(copies))
    cands = dedup.simhash_candidates(sims, max_hamming=3)
    found = {(r.id_a, r.id_b) for r in cands.collect()}
    expected = {(i, i + 5000) for i in range(100)}
    assert expected <= found, sorted(expected - found)[:5]


def test_deterministic_k_per_group_contract(spark, sf_small):
    """Exactly min(k, group size) rows per group, and the SAME row set
    under a different input partitioning (the reproducibility contract
    Bernoulli sampling can't give)."""
    from yellowrush_spark_ml_pipeline_spark.operators.cleaning import (
        deterministic_k_per_group,
    )
    from yellowrush_spark_ml_pipeline_spark.sources import load_table

    docs = load_table(spark, sf_small, "documents")
    out = deterministic_k_per_group(docs, "lang", k=5)
    sizes = {r.lang: r.n for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    full = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert sizes == {g: min(5, n) for g, n in full.items()}
    ids_a = {r.doc_id for r in out.select("doc_id").collect()}
    ids_b = {
        r.doc_id
        for r in deterministic_k_per_group(docs.repartition(13), "lang", k=5)
        .select("doc_id")
        .collect()
    }
    assert ids_a == ids_b
