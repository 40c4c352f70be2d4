"""Round-11 operator tests.

Covers the r10 verdict/advice items:
* the size-gated batch broadcast in semantic_dedup_incremental (the
  backfill OOM hazard): the shuffle fallback must produce the identical
  audit row-for-row, and the broadcast path must keep ZERO corpus
  shuffles;
* pq_encode / pq_search_adc refusing a dim % m mismatch (silently
  wrong codes otherwise) and an m that disagrees with the codebook.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from tests.test_round10_ops import (
    PQ_SEARCHES,
    _blob_corpus,
    _incremental_setup,
    _pq_searcher,
)
from yellowrush_spark_ml_pipeline_spark.plans.explain import explain_str


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_semantic_dedup_incremental_gate_fallback_identical(spark):
    """broadcast_batch=False (the backfill path) must produce the
    byte-identical audit the pinned-broadcast path produces."""
    from yellowrush_spark_ml_pipeline_spark.operators import similarity

    batch, kept, cents = _incremental_setup(spark)
    out_b = _rows(
        similarity.semantic_dedup_incremental(
            batch, kept, cents, threshold=0.9999, broadcast_batch=True
        )
    )
    out_s = _rows(
        similarity.semantic_dedup_incremental(
            batch, kept, cents, threshold=0.9999, broadcast_batch=False
        )
    )
    assert out_b == out_s
    # the auto gate (default None) on a tiny batch resolves to broadcast
    out_auto = _rows(
        similarity.semantic_dedup_incremental(
            batch, kept, cents, threshold=0.9999
        )
    )
    assert out_auto == out_b
    # ... and with a zero bound it resolves to the shuffle path
    out_auto_s = _rows(
        similarity.semantic_dedup_incremental(
            batch, kept, cents, threshold=0.9999, max_broadcast_rows=0
        )
    )
    assert out_auto_s == out_b


def test_semantic_dedup_incremental_broadcast_plan_zero_corpus_shuffles(spark):
    """Gated-broadcast path: the corpus (kept side, key _qc / batch key
    _pc) must never sit behind a hashpartitioning exchange — only the
    batch-sized _pid aggregation/join may shuffle."""
    from yellowrush_spark_ml_pipeline_spark.operators import similarity

    batch, kept, cents = _incremental_setup(spark)
    df = similarity.semantic_dedup_incremental(
        batch, kept, cents, threshold=0.9999, broadcast_batch=True
    )
    df.write.format("noop").mode("overwrite").save()  # let AQE finalize
    plan = explain_str(df)
    assert "BroadcastHashJoin" in plan
    for keys in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "_qc" not in keys and "_pc" not in keys, (
            f"cluster-keyed shuffle on the broadcast path: {keys}"
        )
    # fallback path: the cluster-keyed joins become shuffled-hash
    df_s = similarity.semantic_dedup_incremental(
        batch, kept, cents, threshold=0.9999, broadcast_batch=False
    )
    df_s.write.format("noop").mode("overwrite").save()
    plan_s = explain_str(df_s)
    assert "ShuffledHashJoin" in plan_s, plan_s


def test_pq_encode_rejects_indivisible_dim(spark):
    from yellowrush_spark_ml_pipeline_spark.operators import similarity

    df = _blob_corpus(spark, n_per=4, n_clusters=2, dim=8)
    books = similarity.pq_train(df, m=4, k=2, n_assign=1)
    with pytest.raises(ValueError, match="not divisible"):
        similarity.pq_encode(df, books, m=3)


def test_pq_encode_rejects_codebook_m_mismatch(spark):
    from yellowrush_spark_ml_pipeline_spark.operators import similarity

    df = _blob_corpus(spark, n_per=4, n_clusters=2, dim=8)
    books = similarity.pq_train(df, m=4, k=2, n_assign=1)
    # m=2 divides dim=8 cleanly but the codebook was trained with m=4.
    # The guard rides inside the broadcast relation as raise_error (no
    # eager pre-job over the training DAG, r11 ADVICE), so it fires at
    # materialization, not at call time.
    with pytest.raises(Exception, match="subspaces"):
        similarity.pq_encode(df, books, m=2).collect()


@pytest.mark.parametrize("search", PQ_SEARCHES)
def test_pq_search_adc_rejects_indivisible_dim(spark, search):
    from yellowrush_spark_ml_pipeline_spark.operators import similarity

    df = _blob_corpus(spark, n_per=4, n_clusters=2, dim=8)
    books = similarity.pq_train(df, m=4, k=2, n_assign=1)
    queries = df.limit(1).select(
        F.lit(0).alias("query_id"), F.col("embedding")
    )
    run = _pq_searcher(df, books, queries, search, m=4)
    with pytest.raises(ValueError, match="not divisible"):
        run(books, 3)


def test_semantic_dedup_build_exact_single_chain_matches_semantic_dedup(spark):
    """The shared-Lloyd refactor: build's audit must stay bit-identical
    to a standalone semantic_dedup run with the same parameters (the
    frozen-centroid re-assignment IS the chain's last assignment)."""
    from yellowrush_spark_ml_pipeline_spark.operators import similarity

    corpus = _blob_corpus(spark)
    audit, cents = similarity.semantic_dedup_build(
        corpus, threshold=0.9999, k=4
    )
    direct = similarity.semantic_dedup(corpus, threshold=0.9999, k=4)
    assert _rows(audit) == _rows(direct)
    assert len(cents) == 4


# ---------------------------------------------------------------------------
# IVF-PQ composition (r10 verdict #5): list-pruned ADC equals full-scan
# ADC at full probe width; planted recall >= 0.8 vs exact L2 brute
# force; the persisted artifact round-trips and the reloaded scan
# partition-prunes to probed lists; sampled-fit trains on the md5 gate.
# ---------------------------------------------------------------------------


def _pq_ivf_setup(spark, n_lists=8, fit_fraction=1.0):
    from yellowrush_spark_ml_pipeline_spark.operators import similarity

    corpus = _blob_corpus(spark, n_per=40, n_clusters=4, dim=8)
    queries = corpus.filter(F.col("vec_id") % 40 == 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cb = similarity.pq_train(
        corpus, m=4, k=4, n_assign=2, fit_fraction=fit_fraction
    )
    assigned, cents = similarity.ivf_build_index_exact(
        corpus, n_lists=n_lists, lloyd_iters=2
    )
    enc = similarity.pq_encode(
        assigned.select("vec_id", "_list", F.col("_cv").alias("embedding")),
        cb,
        m=4,
        extra_cols=["_list"],
    )
    return corpus, queries, cb, cents, enc


def test_pq_search_ivf_full_probe_equals_full_scan(spark):
    """With n_probe = n_lists every list is probed, so the composed
    search must equal pq_search_adc exactly (same codes, same LUT)."""
    from yellowrush_spark_ml_pipeline_spark.operators import similarity

    corpus, queries, cb, cents, enc = _pq_ivf_setup(spark, n_lists=8)
    full = _rows(
        similarity.pq_search_adc(
            enc.drop("_list"), cb, queries, k=5, m=4
        )
    )
    composed = _rows(
        similarity.pq_search_ivf_adc(
            enc, cb, cents, queries, k=5, m=4, n_probe=8
        )
    )
    assert composed == full and composed


def test_pq_search_ivf_planted_recall(spark):
    """Recall at the granularity PQ codes can express — the SAME
    planted contract (and the same proven m=2/k=4 blob setup) as r10's
    test_pq_lifecycle_recall_and_code_sanity, but through the composed
    list-pruned path: with half the lists probed, every retrieved
    candidate must come from the query's own blob (which is exactly
    where all its exact-L2 neighbors live), and each query retrieves a
    full k."""
    from yellowrush_spark_ml_pipeline_spark.operators import similarity

    corpus = _blob_corpus(spark, n_per=30, n_clusters=4, dim=8, seed=11)
    m, k = 2, 4
    cb = similarity.pq_train(corpus, m=m, k=k, n_assign=2)
    assigned, cents = similarity.ivf_build_index_exact(
        corpus, n_lists=8, lloyd_iters=2
    )
    enc = similarity.pq_encode(
        assigned.select("vec_id", "_list", F.col("_cv").alias("embedding")),
        cb,
        m=m,
        extra_cols=["_list"],
    )
    queries = corpus.filter(F.col("vec_id").isin(0, 35, 65, 95)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = similarity.pq_search_ivf_adc(
        enc, cb, cents, queries, k=10, m=m, n_probe=4
    ).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r["vec_id"])
    assert set(by_q) == {0, 35, 65, 95}
    for qid, ids in by_q.items():
        blob = qid // 30
        assert len(ids) == 10
        assert all(v // 30 == blob for v in ids), (qid, ids)


def test_pq_index_save_load_search_identical_and_pruned(spark, tmp_path):
    from yellowrush_spark_ml_pipeline_spark.operators import similarity

    corpus, queries, cb, cents, enc = _pq_ivf_setup(spark, n_lists=8)
    before = _rows(
        similarity.pq_search_ivf_adc(
            enc, cb, cents, queries, k=5, m=4, n_probe=3
        )
    )
    path = str(tmp_path / "pq_ivf")
    similarity.save_pq_index(enc, cb, cents, path)
    enc2, cb2, cents2, meta = similarity.load_pq_index(spark, path)
    assert cents2 == cents  # exact integer centroids round-trip
    assert meta["m"] == 4 and meta["k"] == 4 and meta["kind"] == "exact"
    search2 = similarity.pq_search_ivf_adc(
        enc2, cb2, cents2, queries, k=5, m=4, n_probe=3
    )
    after = _rows(search2)
    assert before == after and before
    # the reloaded codes parquet is partitioned by _list, so the probe
    # join prunes the scan to probed partitions
    plan = search2._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or "_list" in plan


def test_pq_index_version_guard(spark, tmp_path):
    import json

    from yellowrush_spark_ml_pipeline_spark.operators import similarity

    corpus, queries, cb, cents, enc = _pq_ivf_setup(spark, n_lists=8)
    path = str(tmp_path / "pq_guard")
    similarity.save_pq_index(enc, cb, cents, path)
    meta_path = tmp_path / "pq_guard" / "meta.json"
    meta = json.loads(meta_path.read_text())
    meta["format_version"] = 99
    meta_path.write_text(json.dumps(meta))
    with pytest.raises(ValueError, match="format_version"):
        similarity.load_pq_index(spark, str(path))


def test_pq_train_fit_fraction_gates_training_set(spark):
    """fit_fraction trains on the deterministic md5-gated subset: the
    codebooks must equal training pq_train on the pre-filtered corpus,
    and a bad fraction is refused."""
    from yellowrush_spark_ml_pipeline_spark.functions.hashing import (
        md5_hash60,
    )
    from yellowrush_spark_ml_pipeline_spark.operators import similarity

    corpus = _blob_corpus(spark, n_per=40, n_clusters=4, dim=8)
    sampled = similarity.pq_train(
        corpus, m=4, k=4, n_assign=2, fit_fraction=0.5
    )
    manual = similarity.pq_train(
        corpus.filter(
            md5_hash60(F.col("vec_id").cast("string")) % F.lit(1_000_000)
            < F.lit(500_000)
        ),
        m=4,
        k=4,
        n_assign=2,
    )
    assert _rows(sampled) == _rows(manual)
    with pytest.raises(ValueError, match="fit_fraction"):
        similarity.pq_train(corpus, m=4, k=4, fit_fraction=0.0)


# ---------------------------------------------------------------------------
# semantic-state daily merge (r10 verdict stretch #9): append keepers
# into the versioned artifact after each incremental judge — day-2
# copies of day-1 keepers must be pruned (the fold landed), the version
# bumps per fold, and after N days the kept-id set equals a one-shot
# build over the union for planted collinear-dup cases.
# ---------------------------------------------------------------------------


def test_semantic_state_daily_lifecycle(spark, tmp_path):
    import json

    from yellowrush_spark_ml_pipeline_spark.operators import similarity

    corpus = _blob_corpus(spark)
    audit0, cents = similarity.semantic_dedup_build(
        corpus, threshold=0.9999, k=4
    )
    kept0 = (
        audit0.filter(F.col("keep") == 1)
        .select("vec_id", "cluster_id", "dist")
        .join(corpus, "vec_id")
    )
    path = str(tmp_path / "sem_state")
    similarity.save_semantic_state(kept0, cents, path)

    # day 1: collinear copies of 10 corpus docs (prune) + a fresh blob
    copies1 = corpus.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 200_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(3.0)).alias("embedding"),
    )
    fresh1 = _blob_corpus(
        spark, n_per=10, n_clusters=1, dim=8, seed=99, base_id=300_000
    )
    a1 = {
        r["vec_id"]: r["keep"]
        for r in similarity.semantic_dedup_daily(
            copies1.unionByName(fresh1), path, threshold=0.9999
        ).collect()
    }
    assert all(a1[200_000 + i] == 0 for i in range(10))
    assert all(a1[300_000 + i] == 1 for i in range(10))
    meta = json.loads((tmp_path / "sem_state" / "meta.json").read_text())
    assert meta["state_version"] == 2

    # day 2: collinear copies of day-1 KEEPERS — pruned only if the
    # day-1 fold actually landed in the artifact — plus another blob
    copies2 = fresh1.filter(F.col("vec_id") < 300_005).select(
        (F.col("vec_id") + 100_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(0.5)).alias("embedding"),
    )
    fresh2 = _blob_corpus(
        spark, n_per=8, n_clusters=1, dim=8, seed=77, base_id=500_000
    )
    a2 = {
        r["vec_id"]: r["keep"]
        for r in similarity.semantic_dedup_daily(
            copies2.unionByName(fresh2), path, threshold=0.9999
        ).collect()
    }
    assert all(a2[400_000 + i] == 0 for i in range(5)), a2
    assert all(a2[500_000 + i] == 1 for i in range(8))
    meta = json.loads((tmp_path / "sem_state" / "meta.json").read_text())
    assert meta["state_version"] == 3

    # N-day fold == one-shot build on the union (planted cases: the
    # only near-dups above 0.9999 are the collinear copies)
    kept_final, _ = similarity.load_semantic_state(spark, path)
    union = corpus.unionByName(copies1).unionByName(fresh1).unionByName(
        copies2
    ).unionByName(fresh2)
    oneshot, _ = similarity.semantic_dedup_build(
        union, threshold=0.9999, k=6
    )
    incr_ids = {r["vec_id"] for r in kept_final.select("vec_id").collect()}
    oneshot_ids = {
        r["vec_id"]
        for r in oneshot.filter(F.col("keep") == 1).select("vec_id").collect()
    }
    assert incr_ids == oneshot_ids


def test_pq_search_rerank_exact_order_on_covered_blobs(spark):
    """IVFADC + exact re-rank: when the shortlist covers the query's
    whole blob (all its exact top-k live there), the re-ranked top-k
    must EQUAL brute-force exact cosine top-k — PQ distortion picks the
    shortlist, exact arithmetic picks the order."""
    from yellowrush_spark_ml_pipeline_spark.operators import similarity

    corpus = _blob_corpus(spark, n_per=30, n_clusters=4, dim=8, seed=11)
    m, k = 2, 4
    cb = similarity.pq_train(corpus, m=m, k=k, n_assign=2)
    assigned, cents = similarity.ivf_build_index_exact(
        corpus, n_lists=8, lloyd_iters=2
    )
    enc = similarity.pq_encode(
        assigned.select("vec_id", "_list", F.col("_cv").alias("embedding")),
        cb,
        m=m,
        extra_cols=["_list"],
    )
    queries = corpus.filter(F.col("vec_id").isin(0, 35, 65, 95)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = _rows(
        similarity.pq_search_rerank(
            enc, cb, cents, queries, corpus,
            k=5, shortlist=30, m=m, n_probe=4,
        )
    )
    exact = _rows(similarity.brute_force_topk(corpus, queries, k=5))
    assert got == exact and got


# ---------------------------------------------------------------------------
# true IVFADC (r11): PQ over coarse-quantizer residuals — exact
# reconstruction law, and blob-level retrieval through the per-(query,
# list) residual LUT path.
# ---------------------------------------------------------------------------


def test_pq_residuals_exact_reconstruction(spark):
    """r = (qv - c)/2^20 must reconstruct qv EXACTLY (r*2^20 + c == qv
    component-wise) — the law that makes residual PQ oracle-replayable."""
    from yellowrush_spark_ml_pipeline_spark.operators import similarity

    corpus = _blob_corpus(spark, n_per=20, n_clusters=2, dim=8)
    assigned, cents = similarity.ivf_build_index_exact(
        corpus, n_lists=4, lloyd_iters=2
    )
    res = similarity.pq_residuals(assigned, cents)
    qv = {r["vec_id"]: list(r["_qv"]) for r in assigned.collect()}
    cent = {l: list(c) for l, c in cents}
    for row in res.collect():
        want = [
            (a - b) / float(1 << 20)
            for a, b in zip(qv[row["vec_id"]], cent[row["_list"]])
        ]
        got = list(row["_rv"])
        assert got == want, row["vec_id"]
        recon = [g * float(1 << 20) + b for g, b in zip(got, cent[row["_list"]])]
        assert recon == [float(x) for x in qv[row["vec_id"]]]


def test_pq_search_ivf_residual_blob_retrieval(spark):
    """Residual IVFADC retrieves from the query's own blob (the same
    planted contract as the raw-vector composition) and returns a full
    deterministic k per query."""
    from yellowrush_spark_ml_pipeline_spark.operators import similarity

    corpus = _blob_corpus(spark, n_per=30, n_clusters=4, dim=8, seed=11)
    assigned, cents = similarity.ivf_build_index_exact(
        corpus, n_lists=8, lloyd_iters=2
    )
    res = similarity.pq_residuals(assigned, cents)
    cb = similarity.pq_train(res, m=2, k=4, n_assign=2, emb_col="_rv")
    enc = similarity.pq_encode(res, cb, m=2, emb_col="_rv", extra_cols=["_list"])
    queries = corpus.filter(F.col("vec_id").isin(0, 35, 65, 95)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = similarity.pq_search_ivf_residual(
        enc, cb, cents, queries, k=10, m=2, n_probe=4
    ).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r["vec_id"])
    assert set(by_q) == {0, 35, 65, 95}
    for qid, ids in by_q.items():
        assert len(ids) == 10
        assert all(v // 30 == qid // 30 for v in ids), (qid, ids)


def test_pq_index_encoding_dispatch(spark, tmp_path):
    """The artifact records what its codes quantize (raw vs residual);
    pq_search_index dispatches on that marker and must equal the direct
    call — the wrong LUT on a code set is silently wrong distances."""
    import json

    from yellowrush_spark_ml_pipeline_spark.operators import similarity

    corpus = _blob_corpus(spark, n_per=30, n_clusters=4, dim=8, seed=11)
    assigned, cents = similarity.ivf_build_index_exact(
        corpus, n_lists=8, lloyd_iters=2
    )
    res = similarity.pq_residuals(assigned, cents)
    cb = similarity.pq_train(res, m=2, k=4, n_assign=2, emb_col="_rv")
    enc = similarity.pq_encode(res, cb, m=2, emb_col="_rv", extra_cols=["_list"])
    queries = corpus.filter(F.col("vec_id").isin(0, 65)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    path = str(tmp_path / "pq_res")
    similarity.save_pq_index(enc, cb, cents, path, encoding="residual")
    meta = json.loads((tmp_path / "pq_res" / "meta.json").read_text())
    assert meta["encoding"] == "residual" and meta["m"] == 2
    via_index = _rows(
        similarity.pq_search_index(spark, path, queries, k=5, n_probe=4)
    )
    direct = _rows(
        similarity.pq_search_ivf_residual(
            enc, cb, cents, queries, k=5, m=2, n_probe=4
        )
    )
    assert via_index == direct and via_index
    with pytest.raises(ValueError, match="encoding"):
        similarity.save_pq_index(enc, cb, cents, path, encoding="opq")


# ---------------------------------------------------------------------------
# temperature up-sampling (r11): repetition epochs for tail sources —
# exact integer rates, Lehmer partial-epoch draw, 4-epoch ceiling;
# degenerates to the down-sampler's exact selection when rates <= 1.
# ---------------------------------------------------------------------------


def _lehmer_mod(doc_id: int, modulus: int = 1_000_000) -> int:
    return ((doc_id % 2147483647) * 48271) % 2147483647 % modulus


def test_mixture_upsample_matches_exact_integer_model(spark):
    import math

    from yellowrush_spark_ml_pipeline_spark.operators.textstats import (
        temperature_mixture_upsample,
    )

    sizes = {"big": 400, "mid": 100, "tiny": 4}
    rows, nid = [], 0
    for src, n in sizes.items():
        for _ in range(n):
            rows.append((nid, src))
            nid += 1
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = temperature_mixture_upsample(
        df, "source", "doc_id", target_factor_milli=3000, max_epochs=4
    ).collect()

    # exact Python model of the rate arithmetic
    s_micro = {s: math.floor(math.sqrt(n) * 1_000_000) for s, n in sizes.items()}
    big_s, big_n = sum(s_micro.values()), sum(sizes.values())
    t = (big_n * 3000) // 1000
    rate = {
        s: min(4_000_000, t * s_micro[s] * 1_000_000 // (big_s * sizes[s]))
        for s in sizes
    }
    # mid and tiny hit the 4-epoch ceiling; big gets a partial epoch
    assert rate["mid"] == 4_000_000 and rate["tiny"] == 4_000_000
    assert 2_000_000 < rate["big"] < 4_000_000

    got = {}
    for r in out:
        got.setdefault(r["doc_id"], []).append(r["epoch"])
        assert r["rate_micro"] == rate[r["source"]]
    for doc_id, src in rows:
        want_n = rate[src] // 1_000_000 + (
            1 if _lehmer_mod(doc_id) < rate[src] % 1_000_000 else 0
        )
        assert sorted(got.get(doc_id, [])) == list(range(want_n)), doc_id


def test_mixture_upsample_degenerates_to_downsample(spark):
    """With the default target (N/2) every rate is <= 1e6, so the
    up-sampler's row set at epoch 0 must EQUAL the down-sampler's
    selection."""
    from yellowrush_spark_ml_pipeline_spark.operators.textstats import (
        temperature_mixture_sample,
        temperature_mixture_upsample,
    )

    rows = [(i, f"s{i % 5}") for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    up = temperature_mixture_upsample(df, "source", "doc_id")
    assert {r["epoch"] for r in up.select("epoch").distinct().collect()} == {0}
    up_ids = {r["doc_id"] for r in up.collect()}
    down_ids = {
        r["doc_id"] for r in temperature_mixture_sample(df, "source", "doc_id").collect()
    }
    assert up_ids == down_ids and up_ids


def test_mixture_rates_rejects_conflicting_targets(spark):
    from yellowrush_spark_ml_pipeline_spark.operators.textstats import (
        temperature_mixture_rates,
    )

    df = spark.createDataFrame([(1, "a")], "doc_id long, source string")
    with pytest.raises(ValueError, match="not both"):
        temperature_mixture_rates(
            df, "source", target_total=10, target_factor_milli=2000
        )
