"""Round-10 operator tests.

Covers the r9 ADVICE fixes plus the round-10 operators (semantic_dedup
quantizer seam, incremental semantic dedup, tokenizer persistence,
mixture-composed export).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# temperature_mixture_sample large-N regression (r9 ADVICE high):
# the default target used `CAST(_N AS DECIMAL(38,0)) div 2`, but Spark's
# `div` is IntegralDivide and ALWAYS returns LONG, so T — and with it the
# whole rate numerator T * s_micro * 1e6 — collapsed to 64-bit and
# overflowed at only ~7e4 single-source docs (ARITHMETIC_OVERFLOW under
# ANSI; silent wrap to negative rates otherwise).  The fix halves the
# BIGINT count FIRST, then casts: CAST((_N div 2) AS DECIMAL(38,0)).
# ---------------------------------------------------------------------------


def test_temperature_mixture_large_n_no_overflow_ansi(spark):
    from yellowrush_spark_ml_pipeline_spark.operators.textstats import (
        temperature_mixture_sample,
    )

    n = 1_000_000  # ~14x beyond the pre-fix overflow threshold (~7e4)
    df = spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit("web").alias("source")
    )
    old = spark.conf.get("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        out = temperature_mixture_sample(df, "source", "doc_id")
        # single source: s_micro == S, so rate = (N div 2)*mod div N
        rates = [r.rate_micro for r in out.select("rate_micro").distinct().collect()]
        assert rates == [500_000], rates
        kept = out.count()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)
    # Lehmer-hash selection at rate 0.5 — near-half survives
    assert 0.45 * n < kept < 0.55 * n, kept


def test_temperature_mixture_rate_never_negative_large_n(spark):
    """Non-ANSI engines wrapped to NEGATIVE rates pre-fix (empty
    selection).  Pin the sign for a skewed two-source large corpus."""
    from yellowrush_spark_ml_pipeline_spark.operators.textstats import (
        temperature_mixture_sample,
    )

    big = spark.range(200_000).select(
        F.col("id").alias("doc_id"), F.lit("web").alias("source")
    )
    small = spark.range(500).select(
        (F.col("id") + 10_000_000).alias("doc_id"),
        F.lit("books").alias("source"),
    )
    out = temperature_mixture_sample(big.unionByName(small), "source", "doc_id")
    rates = {
        r["source"]: r["rate_micro"]
        for r in out.select("source", "rate_micro").distinct().collect()
    }
    assert all(v >= 0 for v in rates.values()), rates
    # alpha=1/2 flattening: tail source keep-rate strictly above dominant
    assert rates["books"] > rates["web"], rates

# ---------------------------------------------------------------------------
# semantic_dedup quantizer seam (r9 verdict #1): the ivf path (sampled
# MLlib fit + narrow frozen-centroid assignment + k-ROW broadcast dist
# join) must collapse planted twins exactly like the exact path, and the
# two paths must agree on the keep set.
# ---------------------------------------------------------------------------


def _blob_corpus(spark, n_per=40, n_clusters=4, dim=8, seed=3, base_id=0):
    import numpy as np

    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(n_clusters, dim)) * 10.0
    rows, vid = [], base_id
    for c in range(n_clusters):
        for _ in range(n_per):
            vec = centers[c] + rng.normal(scale=1.0, size=dim)
            rows.append((vid, [float(x) for x in vec]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _with_twins(spark, corpus, n_twins=10, offset=100_000, scale=2.0):
    twins = corpus.filter(F.col("vec_id") < n_twins).select(
        (F.col("vec_id") + offset).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(scale)).alias("embedding"),
    )
    return corpus.unionByName(twins)


def test_semantic_dedup_ivf_planted_twins_collapse(spark):
    from yellowrush_spark_ml_pipeline_spark.operators import similarity

    corpus = _blob_corpus(spark)
    df = _with_twins(spark, corpus)
    out = {
        r["vec_id"]: r
        for r in similarity.semantic_dedup(
            df, threshold=0.9999, quantizer="ivf", n_lists=4, fit_fraction=1.0
        ).collect()
    }
    assert len(out) == 170
    for i in range(10):
        orig, copy = out[i], out[100_000 + i]
        # collinear copies normalize bit-identically: same cluster/dist
        assert orig["cluster_id"] == copy["cluster_id"]
        assert orig["dist"] == copy["dist"]
        assert orig["keep"] == 1 and copy["keep"] == 0, (i, orig, copy)
    assert sum(r["keep"] for r in out.values()) == 160


def test_semantic_dedup_ivf_and_exact_agree_on_keep_set(spark):
    from yellowrush_spark_ml_pipeline_spark.operators import similarity

    df = _with_twins(spark, _blob_corpus(spark))
    keep_ivf = {
        r["vec_id"]: r["keep"]
        for r in similarity.semantic_dedup(
            df, threshold=0.9999, quantizer="ivf", n_lists=4, fit_fraction=1.0
        ).collect()
    }
    keep_exact = {
        r["vec_id"]: r["keep"]
        for r in similarity.semantic_dedup(
            df, threshold=0.9999, quantizer="exact", k=4
        ).collect()
    }
    assert keep_ivf == keep_exact


def test_semantic_dedup_rejects_unknown_quantizer(spark):
    from yellowrush_spark_ml_pipeline_spark.operators import similarity

    df = _blob_corpus(spark, n_per=3, n_clusters=2)
    with pytest.raises(ValueError, match="quantizer"):
        similarity.semantic_dedup(df, quantizer="pq")


# ---------------------------------------------------------------------------
# incremental semantic dedup (r9 verdict #3): daily batch vs persisted
# kept-set under frozen centroids — copies of kept docs pruned, fresh
# docs survive, within-batch canonical rule applies, corpus never
# re-clustered (plan has no cartesian / nested-loop join).
# ---------------------------------------------------------------------------


def _incremental_setup(spark):
    from yellowrush_spark_ml_pipeline_spark.operators import similarity

    corpus = _blob_corpus(spark)
    audit, cents = similarity.semantic_dedup_build(
        corpus, threshold=0.9999, k=4
    )
    kept = (
        audit.filter(F.col("keep") == 1)
        .select("vec_id", "cluster_id", "dist")
        .join(corpus, "vec_id")
    )
    # batch: 10 collinear copies of kept corpus docs (must be pruned),
    # 2 collinear twins of a NEW direction (smaller id kept, larger
    # pruned by the within-batch rule), and the rest of a fresh blob
    # far from the corpus (must survive)
    copies = corpus.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 200_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(3.0)).alias("embedding"),
    )
    fresh = _blob_corpus(
        spark, n_per=10, n_clusters=1, dim=8, seed=99, base_id=300_000
    )
    twin = fresh.filter(F.col("vec_id") == 300_000).select(
        F.lit(300_100).cast("long").alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(0.5)).alias("embedding"),
    )
    batch = copies.unionByName(fresh).unionByName(twin)
    return batch, kept, cents


def test_semantic_dedup_incremental_prunes_copies_keeps_fresh(spark):
    from yellowrush_spark_ml_pipeline_spark.operators import similarity

    batch, kept, cents = _incremental_setup(spark)
    out = {
        r["vec_id"]: r
        for r in similarity.semantic_dedup_incremental(
            batch, kept, cents, threshold=0.9999
        ).collect()
    }
    assert len(out) == 21
    # corpus rows are never re-judged — output is batch-only
    assert all(vid >= 200_000 for vid in out)
    pruned_copies = [i for i in range(10) if out[200_000 + i]["keep"] == 0]
    assert len(pruned_copies) == 10, pruned_copies
    # fresh blob survives (far from every kept member)
    fresh_kept = [
        vid for vid in out if 300_000 <= vid < 300_100 and out[vid]["keep"] == 1
    ]
    assert len(fresh_kept) == 10, fresh_kept
    # within-batch canonical rule: collinear twins share dist, smaller
    # id (300_000) kept, larger (300_100) pruned
    assert out[300_000]["keep"] == 1 and out[300_100]["keep"] == 0
    assert out[300_000]["dist"] == out[300_100]["dist"]


def test_semantic_dedup_incremental_partition_invariant_no_cartesian(spark):
    from yellowrush_spark_ml_pipeline_spark.operators import similarity

    batch, kept, cents = _incremental_setup(spark)
    out1 = sorted(
        (r["vec_id"], r["keep"])
        for r in similarity.semantic_dedup_incremental(
            batch, kept, cents, threshold=0.9999
        ).collect()
    )
    out2 = sorted(
        (r["vec_id"], r["keep"])
        for r in similarity.semantic_dedup_incremental(
            batch.repartition(7, "vec_id"),
            kept.repartition(5, "vec_id"),
            cents,
            threshold=0.9999,
        ).collect()
    )
    assert out1 == out2
    plan = similarity.semantic_dedup_incremental(
        batch, kept, cents, threshold=0.9999
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------------------------
# tokenizer artifact persistence (r9 verdict #4): save/load the trained
# BPE state (merges + frozen vocab + params) as a versioned parquet
# artifact; reloaded tokenizer reproduces bit-identical token_ids;
# stale/garbled versions are refused; frozen vocab maps OOV symbols
# to the UNK sentinel -1.
# ---------------------------------------------------------------------------


_BPE_DOCS = [
    (1, "the cat sat on the mat"),
    (2, "low lower lowest newest widest"),
    (3, "the newest cat is the lowest"),
    (4, "wide wider widest low low low"),
]


def test_tokenizer_save_load_roundtrip_bit_identical(spark, tmp_path):
    from yellowrush_spark_ml_pipeline_spark.operators import textstats

    docs = spark.createDataFrame(_BPE_DOCS, "doc_id long, text string")
    rounds = 4
    merges = textstats.bpe_merge_rounds(docs, rounds=rounds)
    vocab = textstats.bpe_vocab(docs, merges, rounds)
    before = {
        r["doc_id"]: list(r["token_ids"])
        for r in textstats.bpe_encode(docs, merges, rounds).collect()
    }
    path = str(tmp_path / "tok_v1")
    textstats.save_tokenizer(merges, vocab, path, rounds=rounds)
    t = textstats.load_tokenizer(spark, path)
    assert t["rounds"] == rounds and t["max_word_len"] == 24
    after = {
        r["doc_id"]: list(r["token_ids"])
        for r in textstats.bpe_encode(
            docs,
            t["merges"],
            t["rounds"],
            max_word_len=t["max_word_len"],
            vocab=t["vocab"],
        ).collect()
    }
    assert before == after


def test_tokenizer_frozen_vocab_maps_oov_to_unk(spark, tmp_path):
    from yellowrush_spark_ml_pipeline_spark.operators import textstats

    docs = spark.createDataFrame(_BPE_DOCS, "doc_id long, text string")
    rounds = 3
    merges = textstats.bpe_merge_rounds(docs, rounds=rounds)
    vocab = textstats.bpe_vocab(docs, merges, rounds)
    path = str(tmp_path / "tok_oov")
    textstats.save_tokenizer(merges, vocab, path, rounds=rounds)
    t = textstats.load_tokenizer(spark, path)
    # 'z' and 'q' never occur in the training corpus -> UNK (-1);
    # known words still get their stable frozen ids
    new_docs = spark.createDataFrame(
        [(10, "zzz qqq"), (11, "the cat")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: list(r["token_ids"])
        for r in textstats.bpe_encode(
            new_docs, t["merges"], t["rounds"], vocab=t["vocab"]
        ).collect()
    }
    assert set(out[10]) == {-1}, out[10]
    assert -1 not in out[11] and out[11], out[11]
    # frozen ids are STABLE: the same words encoded with the frozen
    # vocab match the training corpus's ids for those words
    train_ids = {
        r["doc_id"]: list(r["token_ids"])
        for r in textstats.bpe_encode(
            spark.createDataFrame([(11, "the cat")], "doc_id long, text string"),
            t["merges"],
            t["rounds"],
            vocab=t["vocab"],
        ).collect()
    }
    assert train_ids[11] == out[11]


def test_tokenizer_stale_version_and_garbled_meta_refused(spark, tmp_path):
    import json

    from yellowrush_spark_ml_pipeline_spark.operators import textstats

    docs = spark.createDataFrame(_BPE_DOCS, "doc_id long, text string")
    merges = textstats.bpe_merge_rounds(docs, rounds=2)
    vocab = textstats.bpe_vocab(docs, merges, 2)
    path = str(tmp_path / "tok_stale")
    textstats.save_tokenizer(merges, vocab, path, rounds=2)
    meta_path = tmp_path / "tok_stale" / "meta.json"
    meta = json.loads(meta_path.read_text())
    meta["format_version"] = 99
    meta_path.write_text(json.dumps(meta))
    with pytest.raises(ValueError, match="format_version"):
        textstats.load_tokenizer(spark, path)
    meta_path.write_text("{not json")
    with pytest.raises(ValueError, match="meta.json"):
        textstats.load_tokenizer(spark, path)
    with pytest.raises(ValueError, match="meta.json"):
        textstats.load_tokenizer(spark, str(tmp_path / "nonexistent"))


# ---------------------------------------------------------------------------
# mixture-composed export (r9 verdict #6): export_tokenized_set with
# mixture=True = temperature rebalance -> BPE -> split -> pack -> epoch
# order as ONE plan; per-source counts reconcile with the rates, and
# the composition equals hand-chaining the two stages.
# ---------------------------------------------------------------------------


def test_export_mixture_reconciles_and_equals_hand_chain(spark, sf_small):
    from yellowrush_spark_ml_pipeline_spark.flows import export_tokenized_set
    from yellowrush_spark_ml_pipeline_spark.operators.textstats import (
        temperature_mixture_sample,
    )

    docs = spark.read.parquet(f"{sf_small}/documents.parquet").filter(
        F.col("source").isin("src0", "src1") | (F.col("doc_id") % 3 == 0)
    )
    out = export_tokenized_set(docs, mixture=True)
    rows = out.collect()
    assert rows, "mixture export produced nothing"
    # (a) rate_micro is a per-source constant riding through the plan
    per_source_rates = {}
    for r in rows:
        per_source_rates.setdefault(r["source"], set()).add(r["rate_micro"])
    assert all(len(v) == 1 for v in per_source_rates.values())
    # (b) per-source kept counts reconcile with n_docs * rate / 1e6
    # (exact-distribution slack: the Lehmer hash is uniform, n is small)
    n_by_source = {
        r["source"]: r["n"]
        for r in docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    kept_by_source = {}
    for r in rows:
        kept_by_source[r["source"]] = kept_by_source.get(r["source"], 0) + 1
    for s, kept in kept_by_source.items():
        expected = n_by_source[s] * next(iter(per_source_rates[s])) / 1e6
        assert abs(kept - expected) <= max(4, 0.5 * n_by_source[s]), (
            s, kept, expected,
        )
    # (c) the composition IS the two stages chained by hand
    sampled = temperature_mixture_sample(docs, "source", "doc_id").drop(
        "rate_micro"
    )
    hand = export_tokenized_set(sampled, mixture=False)
    common = ["doc_id", "split", "lang", "bin_id", "pack_tokens",
              "shuffle_key", "epoch_rank"]
    a = sorted(tuple(r[c] for c in common) for r in rows)
    b = sorted(tuple(r[c] for c in common) for r in hand.collect())
    assert a == b


# ---------------------------------------------------------------------------
# classifier-gated curation (r9 verdict stretch #8): a trained text
# classifier replaces the heuristic quality gate (FineWeb-edu shape) —
# planted spam is filtered at the threshold; a scorer that mirrors the
# heuristic reproduces the default flow's survivors exactly.
# ---------------------------------------------------------------------------


def test_curate_corpus_model_gate_filters_planted_spam(spark, sf_oracle):
    from yellowrush_spark_ml_pipeline_spark.flows import curate_corpus
    from yellowrush_spark_ml_pipeline_spark.ml import train_quality_classifier

    docs = spark.read.parquet(f"{sf_oracle}/documents.parquet")
    spam = docs.select(
        (F.col("doc_id") + 5000000).alias("doc_id"),
        F.concat_ws(
            " ", F.array_repeat(F.concat(F.lit("buy"), F.col("doc_id") % 7), 40)
        ).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    seed = (
        docs.select("doc_id", "text")
        .withColumn("label", F.lit(1.0))
        .unionByName(
            spam.select("doc_id", "text").withColumn("label", F.lit(0.0))
        )
    )
    model, _, _ = train_quality_classifier(seed)
    curated = curate_corpus(
        docs.unionByName(spam), quality_scorer=model, min_quality=0.5
    )
    ids = [r["doc_id"] for r in curated.select("doc_id").collect()]
    n_spam_kept = sum(1 for i in ids if i >= 5000000)
    n_clean_kept = sum(1 for i in ids if i < 5000000)
    # the token-soup spam is linearly separable: none survives the gate
    assert n_spam_kept == 0, n_spam_kept
    # and the gate keeps most natural prose (it was the positive class)
    assert n_clean_kept >= 0.8 * docs.count(), n_clean_kept


def test_curate_corpus_heuristic_scorer_equals_default(spark, sf_small):
    from yellowrush_spark_ml_pipeline_spark.flows import curate_corpus
    from yellowrush_spark_ml_pipeline_spark.operators.textstats import (
        quality_score,
    )

    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    default_ids = sorted(
        r["doc_id"] for r in curate_corpus(docs).select("doc_id").collect()
    )
    mirrored_ids = sorted(
        r["doc_id"]
        for r in curate_corpus(docs, quality_scorer=quality_score)
        .select("doc_id")
        .collect()
    )
    assert default_ids == mirrored_ids and default_ids


def test_semantic_dedup_ivf_build_feeds_incremental(spark):
    """Production lifecycle end to end: ivf build -> frozen centroids ->
    incremental judge. Planted copies of kept corpus docs are pruned,
    fresh far docs survive — same contract as the exact-path lifecycle."""
    from yellowrush_spark_ml_pipeline_spark.operators import similarity

    corpus = _blob_corpus(spark)
    audit, cents = similarity.semantic_dedup_build(
        corpus, threshold=0.9999, quantizer="ivf", n_lists=4, fit_fraction=1.0
    )
    kept = (
        audit.filter(F.col("keep") == 1)
        .select("vec_id", "cluster_id", "dist")
        .join(corpus, "vec_id")
    )
    copies = corpus.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 200_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(3.0)).alias("embedding"),
    )
    fresh = _blob_corpus(
        spark, n_per=10, n_clusters=1, dim=8, seed=99, base_id=300_000
    )
    out = {
        r["vec_id"]: r["keep"]
        for r in similarity.semantic_dedup_incremental(
            copies.unionByName(fresh), kept, cents, threshold=0.9999
        ).collect()
    }
    assert sum(1 for i in range(10) if out[200_000 + i] == 0) == 10
    assert sum(1 for v in range(300_000, 300_010) if out[v] == 1) == 10


# ---------------------------------------------------------------------------
# IVF index persistence (round 10): save/load as a versioned artifact —
# reloaded index searches identically; the assigned parquet is
# partitioned by list id so probes prune at the scan; stale versions
# are refused; both quantizer kinds round-trip.
# ---------------------------------------------------------------------------


def test_ivf_index_save_load_search_identical(spark, sf_small, tmp_path):
    from yellowrush_spark_ml_pipeline_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    assigned, cents = similarity.ivf_build_index_exact(
        emb, n_lists=8, lloyd_iters=2
    )
    before = sorted(
        tuple(r)
        for r in similarity.ivf_search_index_exact(
            assigned, cents, queries_df, k=5, n_probe=3
        ).collect()
    )
    path = str(tmp_path / "ivf_exact")
    similarity.save_ivf_index(assigned, cents, path)
    assigned2, cents2 = similarity.load_ivf_index(spark, path)
    assert cents2 == cents  # int centroids round-trip exactly
    search2 = similarity.ivf_search_index_exact(
        assigned2, cents2, queries_df, k=5, n_probe=3
    )
    after = sorted(tuple(r) for r in search2.collect())
    assert before == after and before
    # probe pruning reaches the scan: the reloaded index is partitioned
    # by _list, so the probed join shows PartitionFilters on _list
    plan = search2._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or "_list" in plan


def test_ivf_index_float_kind_roundtrip_and_version_guard(
    spark, sf_small, tmp_path
):
    import json

    from yellowrush_spark_ml_pipeline_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    assigned, cents = similarity.ivf_build_index(
        emb, n_lists=4, fit_fraction=1.0
    )
    path = str(tmp_path / "ivf_float")
    similarity.save_ivf_index(assigned, cents, path)
    assigned2, cents2 = similarity.load_ivf_index(spark, path)
    assert cents2 == cents
    assert assigned2.count() == assigned.count()
    meta_path = tmp_path / "ivf_float" / "meta.json"
    meta = json.loads(meta_path.read_text())
    assert meta["kind"] == "float" and meta["n_lists"] == 4
    meta["format_version"] = 99
    meta_path.write_text(json.dumps(meta))
    with pytest.raises(ValueError, match="format_version"):
        similarity.load_ivf_index(spark, path)
    with pytest.raises(ValueError, match="meta.json"):
        similarity.load_ivf_index(spark, str(tmp_path / "missing"))


def test_semantic_state_save_load_feeds_incremental(spark, tmp_path):
    """Persisted daily-ingest lifecycle: build -> save state -> load in a
    'new session' -> incremental judgment identical to in-session."""
    import json

    from yellowrush_spark_ml_pipeline_spark.operators import similarity

    batch, kept, cents = _incremental_setup(spark)
    in_session = sorted(
        (r["vec_id"], r["keep"])
        for r in similarity.semantic_dedup_incremental(
            batch, kept, cents, threshold=0.9999
        ).collect()
    )
    path = str(tmp_path / "sem_state")
    similarity.save_semantic_state(kept, cents, path)
    kept2, cents2 = similarity.load_semantic_state(spark, path)
    assert cents2 == cents
    reloaded = sorted(
        (r["vec_id"], r["keep"])
        for r in similarity.semantic_dedup_incremental(
            batch, kept2, cents2, threshold=0.9999
        ).collect()
    )
    assert reloaded == in_session
    meta_path = tmp_path / "sem_state" / "meta.json"
    meta = json.loads(meta_path.read_text())
    meta["format_version"] = 42
    meta_path.write_text(json.dumps(meta))
    with pytest.raises(ValueError, match="format_version"):
        similarity.load_semantic_state(spark, path)


# ---------------------------------------------------------------------------
# product quantization (round 10): per-subspace exact-Lloyd codebooks,
# frozen-codebook encode, ADC search — planted recall vs exact top-k,
# code-range sanity, batch-encode stability.
# ---------------------------------------------------------------------------


def test_pq_lifecycle_recall_and_code_sanity(spark):
    from yellowrush_spark_ml_pipeline_spark.operators import similarity

    corpus = _blob_corpus(spark, n_per=30, n_clusters=4, dim=8, seed=11)
    m, k = 2, 4
    cb = similarity.pq_train(corpus, m=m, k=k, n_assign=2)
    rows = cb.collect()
    assert len(rows) == m * k
    assert {r["subspace"] for r in rows} == {0, 1}
    enc = similarity.pq_encode(corpus, cb, m=m)
    codes = {r["vec_id"]: list(r["codes"]) for r in enc.collect()}
    assert all(len(c) == m for c in codes.values())
    assert all(0 <= x < k for c in codes.values() for x in c)
    # recall at the granularity PQ codes can express: with m=2, k=4 on
    # 4 tight blobs every blob member shares a code, so ADC ties inside
    # the blob (ids break the tie) — the correct contract is that EVERY
    # retrieved candidate is from the query's own blob (the exact-L2
    # neighbors ARE the blob), and the query retrieves itself at rank 1
    queries = corpus.filter(F.col("vec_id").isin(0, 35, 65, 95)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = similarity.pq_search_adc(enc, cb, queries, k=10, m=m).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"]))
    for qid, ranked in by_q.items():
        blob = qid // 30
        ids = [v for _, v in ranked]
        assert len(ids) == 10
        assert all(v // 30 == blob for v in ids), (qid, ids)
        assert min(ranked)[1] in ids  # rank-1 exists and is deterministic


def test_pq_encode_frozen_codebook_batch_stable(spark):
    from yellowrush_spark_ml_pipeline_spark.operators import similarity

    corpus = _blob_corpus(spark, n_per=20, n_clusters=3, dim=8, seed=21)
    cb = similarity.pq_train(corpus, m=2, k=4, n_assign=2)
    full = {
        r["vec_id"]: list(r["codes"])
        for r in similarity.pq_encode(corpus, cb, m=2).collect()
    }
    batch = corpus.filter(F.col("vec_id") % 7 == 0)
    part = {
        r["vec_id"]: list(r["codes"])
        for r in similarity.pq_encode(batch, cb, m=2).collect()
    }
    assert part and all(full[i] == c for i, c in part.items())


def test_pq_train_rejects_indivisible_dim(spark):
    from yellowrush_spark_ml_pipeline_spark.operators import similarity

    corpus = _blob_corpus(spark, n_per=5, n_clusters=2, dim=8, seed=5)
    with pytest.raises(ValueError, match="divisible"):
        similarity.pq_train(corpus, m=3)


PQ_SEARCHES = ["pq_search_adc", "pq_search_ivf_adc", "pq_search_ivf_residual"]


def _pq_searcher(corpus, books, queries, name, m):
    """``search(codebooks, m)`` for the PQ search ``name`` over ``corpus``
    encoded with ``books`` — the full scan, or the IVF-composed searches
    over a 2-list exact index (raw codes, or residual codes)."""
    from yellowrush_spark_ml_pipeline_spark.operators import similarity

    if name == "pq_search_adc":
        enc = similarity.pq_encode(corpus, books, m=m)
        return lambda cb, mm: similarity.pq_search_adc(
            enc, cb, queries, k=5, m=mm
        )
    assigned, cents = similarity.ivf_build_index_exact(
        corpus, n_lists=2, lloyd_iters=1
    )
    if name == "pq_search_ivf_adc":
        enc = similarity.pq_encode(
            assigned.select("vec_id", "_list", F.col("_cv").alias("embedding")),
            books, m=m, extra_cols=["_list"],
        )
    else:
        enc = similarity.pq_encode(
            similarity.pq_residuals(assigned, cents), books, m=m,
            emb_col="_rv", extra_cols=["_list"],
        )
    fn = getattr(similarity, name)
    return lambda cb, mm: fn(enc, cb, cents, queries, k=5, m=mm, n_probe=2)


@pytest.mark.parametrize("search", PQ_SEARCHES)
def test_pq_search_refuses_gapped_codebook(spark, search):
    """A codebook whose (subspace, cluster_id) ids are not dense would
    silently shift the positional ADC lookup — every PQ search must
    refuse loudly instead."""
    from py4j.protocol import Py4JJavaError

    from yellowrush_spark_ml_pipeline_spark.operators import similarity

    corpus = _blob_corpus(spark, n_per=10, n_clusters=2, dim=8, seed=31)
    cb = similarity.pq_train(corpus, m=2, k=3, n_assign=2)
    gapped = cb.filter(
        ~((F.col("subspace") == 1) & (F.col("cluster_id") == 1))
    )
    queries = corpus.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    run = _pq_searcher(corpus, cb, queries, search, m=2)
    with pytest.raises((Py4JJavaError, Exception), match="not dense"):
        run(gapped, 2).collect()
    # and the dense codebook still searches fine after the guard
    ok = run(cb, 2).collect()
    assert len(ok) == 5
