"""Round-7 hardening tests: the ADVICE r6 edge cases (degenerate kappa,
misconfigured hash_split buckets, integer labels into woe_iv) plus the
overflow-cast rewrites (operand cast BEFORE multiply)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from yellowrush_spark_ml_pipeline_spark.operators import (
    aggregates,
    cleaning,
    features,
)


def test_cohens_kappa_degenerate_constant_raters_is_null(spark):
    # both raters constant-and-agreeing => pe = 1, denominator 0:
    # kappa is undefined and must surface as NULL, not an error.
    df = spark.range(10).select(
        F.lit(True).alias("a"), F.lit(True).alias("b")
    )
    row = aggregates.cohens_kappa(df, F.col("a"), F.col("b")).collect()[0]
    assert row["n"] == 10 and row["n11"] == 10
    assert row["kappa_milli"] is None


def test_cohens_kappa_normal_case_still_exact(spark):
    # 2x2 = (n11=4, n10=1, n01=1, n00=4): po=0.8, pe=0.5, kappa=0.6
    rows = (
        [(True, True)] * 4
        + [(True, False)]
        + [(False, True)]
        + [(False, False)] * 4
    )
    df = spark.createDataFrame(rows, "a boolean, b boolean")
    row = aggregates.cohens_kappa(df, F.col("a"), F.col("b")).collect()[0]
    assert row["kappa_milli"] == 600


def test_hash_split_rejects_short_bucket_cover(spark):
    df = spark.range(5).select(F.col("id").cast("string").alias("g"))
    with pytest.raises(ValueError, match="upper bound must be 1000"):
        cleaning.hash_split(df, "g", buckets=[("train", 900), ("val", 950)])
    with pytest.raises(ValueError, match="upper bound must be 1000"):
        cleaning.hash_split(df, "g", buckets=[])


def test_hash_split_default_buckets_cover_everything(spark):
    df = spark.range(500).select(F.col("id").cast("string").alias("g"))
    out = cleaning.hash_split(df, "g")
    assert out.filter(F.col("split").isNull()).count() == 0


def test_woe_iv_accepts_integer_labels(spark):
    # 0/1 int labels (the natural reading of "binary label") must work
    # identically to booleans after the internal boolean cast.
    rows = [("a", 1), ("a", 0), ("a", 1), ("b", 0), ("b", 0), ("b", 1)]
    df = spark.createDataFrame(rows, "bucket string, y int")
    as_int = features.woe_iv(df, "bucket", "y").collect()
    df_b = df.select("bucket", F.col("y").cast("boolean").alias("y"))
    as_bool = features.woe_iv(df_b, "bucket", "y").collect()
    assert [r.asDict() for r in as_int] == [r.asDict() for r in as_bool]
    assert as_int[0]["n_pos"] == 2 and as_int[0]["n_neg"] == 1


def test_nelson_aalen_hazard_is_bigint_schema(spark):
    # the DECIMAL(38,0) overflow route must still surface BIGINT columns
    # (div on decimal operands yields a long integral part in Spark).
    from yellowrush_spark_ml_pipeline_spark.operators import events

    rows = [
        (1, "signup", "2024-01-01 00:00:00", 1, 0.0),
        (1, "purchase", "2024-01-01 01:30:00", 2, 0.0),
        (2, "signup", "2024-01-01 00:00:00", 3, 0.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_type string, ts string, "
        "event_id long, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    out = events.nelson_aalen(df)
    dt = dict(out.dtypes)
    assert dt["hazard_nano"] == "bigint"
    assert dt["cum_hazard_nano"] == "bigint"
    got = out.collect()
    # user1 converts in bucket t=1 with 2 at risk -> hazard 0.5e9
    assert [(r["t"], r["hazard_nano"]) for r in got] == [(1, 500000000)]


def test_ivf_exact_recall_and_consistency(spark, sf_oracle):
    """The exact-replayable IVF must (a) assign every vector to its
    nearest centroid (index consistency), (b) reach reasonable recall vs
    brute force — the vacuous-green trap check for the oracle."""
    from yellowrush_spark_ml_pipeline_spark.operators import similarity
    from yellowrush_spark_ml_pipeline_spark.sources.readers import load_table

    emb = load_table(spark, sf_oracle, "embeddings")
    assigned, centroids = similarity.ivf_build_index_exact(
        emb, n_lists=16, lloyd_iters=2
    )
    # consistency: re-running the argmin over the returned centroids
    # reproduces the stored assignment exactly
    re_assigned = similarity.ivf_assign_exact(emb, centroids)
    diff = (
        assigned.select("vec_id", "_list")
        .join(
            re_assigned.select(
                "vec_id", F.col("_list").alias("_list2")
            ),
            "vec_id",
        )
        .filter(F.col("_list") != F.col("_list2"))
        .count()
    )
    assert diff == 0
    # every list id in [0, 16), none empty enough to break probing
    lists = [r["_list"] for r in assigned.select("_list").distinct().collect()]
    assert all(0 <= x < 16 for x in lists)

    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    approx = similarity.ivf_search_index_exact(
        assigned, centroids, queries, k=10, n_probe=4
    )
    exact = similarity.brute_force_topk(emb, queries, k=10)
    hit = (
        exact.select("query_id", "vec_id")
        .join(approx.select("query_id", "vec_id"), ["query_id", "vec_id"])
        .count()
    )
    # 4/16 lists probed over weakly-clustered synthetic embeddings:
    # measured recall is ~50% (24-27/50 across 2-6 Lloyd iters); demand a
    # 40% floor as the regression band.
    assert hit >= 20, f"IVF-exact recall too low: {hit}/50"
    # non-vacuous anchor: each query is IN the corpus, its own list is
    # always probed (nearest centroid), so the exact self-match at
    # cosine 1.0 must appear for all 5 queries.
    selfs = approx.filter(
        (F.col("query_id") == F.col("vec_id")) & (F.col("rank") == 1)
    ).count()
    assert selfs == 5


def test_ivf_exact_incremental_matches_full_build_assignment(spark, sf_oracle):
    """Frozen-centroid ingest: vectors added via ivf_assign_exact land in
    the same list a full re-search would probe them from."""
    from yellowrush_spark_ml_pipeline_spark.operators import similarity
    from yellowrush_spark_ml_pipeline_spark.sources.readers import load_table

    emb = load_table(spark, sf_oracle, "embeddings")
    base = emb.filter(F.col("vec_id") % 10 != 0)
    batch = emb.filter(F.col("vec_id") % 10 == 0)
    _, centroids = similarity.ivf_build_index_exact(
        base, n_lists=16, lloyd_iters=2
    )
    got = similarity.ivf_assign_exact(batch, centroids)
    assert got.count() == batch.count()
    assert dict(got.dtypes)["_list"] == "int"


def test_mann_whitney_auc_matches_mllib_evaluator(spark, sf_small):
    """auc_nano (tie-corrected integer Mann-Whitney over persisted probs)
    must agree with MLlib's areaUnderROC — same statistic, different
    computation — to float tolerance."""
    import __spark_entry__ as entrymod
    from pyspark.ml.evaluation import BinaryClassificationEvaluator

    row = entrymod.q_ml_classifier_metrics(spark, sf_small).first()
    # resolve through the same routing the query used (non-oracle SFs
    # write to a scratch root since the round-9 git-churn fix)
    pred = spark.read.parquet(
        entrymod._pred_artifact(sf_small, "ml_classifier_metrics")
    )
    # rebuild a rawPrediction-like column from prob for the evaluator
    from pyspark.ml.functions import array_to_vector

    scored = pred.select(
        F.col("label").cast("double").alias("label"),
        array_to_vector(
            F.array(F.lit(1.0) - F.col("prob"), F.col("prob"))
        ).alias("rawPrediction"),
    )
    auc = BinaryClassificationEvaluator(
        labelCol="label", rawPredictionCol="rawPrediction"
    ).evaluate(scored)
    assert abs(row["auc_nano"] / 1e9 - auc) < 1e-6, (row["auc_nano"], auc)


def test_ntile_buckets_histogram_form_equals_row_level_ntile(spark):
    """The round-7 aggregate-then-distribute rewrite must reproduce the
    row-level NTILE profile exactly — including tie-heavy data and the
    N < n_buckets degenerate (q=0) case."""
    from pyspark.sql import Window

    from yellowrush_spark_ml_pipeline_spark.operators import aggregates

    cases = [
        # heavy ties: 1000 rows over 7 distinct values
        [(i, i % 7) for i in range(1000)],
        # fewer rows than buckets
        [(i, i * 10) for i in range(4)],
        # all-identical values
        [(i, 5) for i in range(37)],
    ]
    for rows in cases:
        df = spark.createDataFrame(rows, "doc_id long, n_chars long")
        got = {
            r["bucket"]: (r["n_rows"], r["min_value"], r["max_value"],
                          r["total_value"])
            for r in aggregates.ntile_buckets(df, "n_chars", n_buckets=10).collect()
        }
        w = Window.orderBy(F.col("n_chars").asc(), F.col("doc_id").asc())
        want = {
            r["bucket"]: (r["n_rows"], r["min_value"], r["max_value"],
                          r["total_value"])
            for r in df.select(
                "n_chars", F.ntile(10).over(w).alias("bucket")
            )
            .groupBy("bucket")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.min("n_chars").alias("min_value"),
                F.max("n_chars").alias("max_value"),
                F.sum(F.col("n_chars").cast("bigint")).alias("total_value"),
            )
            .collect()
        }
        assert got == want, (rows[:3], got, want)


def _planted_corpus(spark, n_docs: int, seed: int = 7):
    """Corpus with boilerplate stamped into 40% of docs and 20 planted
    suffix-mutated near-dups — scaled to n_docs so the same GENERATIVE
    process runs at two data decades."""
    import random

    rng = random.Random(seed)
    vocab = [f"w{i:03d}" for i in range(400)]
    boiler = (
        "this content is provided as is without warranty of any kind " * 5
    )
    docs = []
    for i in range(n_docs):
        body = " ".join(rng.choice(vocab) for _ in range(60))
        if i % 5 in (0, 1):
            docs.append((i, boiler + " " + body[:20]))
        else:
            docs.append((i, body))
    planted = set()
    for i in range(2, 100, 5):
        docs.append((2_000_000 + i, docs[i][1] + " tail x y"))
        planted.add((i, 2_000_000 + i))
    return spark.createDataFrame(docs, ["doc_id", "text"]), planted


def test_auto_caps_are_scale_invariant_on_planted_duplicates(spark):
    """relative_cap closes the sf-tuned-constants caveat: with
    max_bucket_size="auto" the SAME planted near-dups are found at two
    corpus scales (700 and 7000 docs), while the boilerplate bucket stays
    excluded at both — an absolute cap tuned at one scale fails one side
    or the other."""
    from yellowrush_spark_ml_pipeline_spark.operators import dedup

    assert dedup.relative_cap(500) == 64          # floor branch
    assert dedup.relative_cap(10_000_000) == 1000  # relative branch

    for n_docs in (700, 7000):
        df, planted = _planted_corpus(spark, n_docs)
        sigs = dedup.minhash_signatures(df).localCheckpoint()
        capped = dedup.minhash_lsh_candidates(sigs, max_bucket_size="auto")
        pairs = {(r.id_a, r.id_b) for r in capped.collect()}
        found = planted & pairs
        assert len(found) >= 16, (
            f"auto cap lost planted near-dups at n={n_docs}: "
            f"{len(found)}/20"
        )
        # boilerplate bucket (40% of corpus >> cap) must stay excluded:
        # candidate count stays far below the quadratic count
        quad = (2 * n_docs // 5) ** 2 / 2
        assert len(pairs) < quad / 10, (n_docs, len(pairs), quad)


def test_auto_cap_resolution_values(spark):
    from yellowrush_spark_ml_pipeline_spark.operators.dedup import (
        _resolve_cap,
    )

    df = spark.range(200).select(F.col("id").alias("doc_id"))
    assert _resolve_cap(None, df, "doc_id") is None
    assert _resolve_cap(17, df, "doc_id") == 17
    assert _resolve_cap("auto", df, "doc_id") == 64  # floor at small N
    with pytest.raises(ValueError, match="auto"):
        _resolve_cap("bogus", df, "doc_id")


def test_probe_media_parses_mp3_headers_under_lying_mime(spark):
    """Audio probe parity (round 7): planted MP3 frame headers — bare,
    ID3v2-wrapped, and mislabeled as image/png — must yield format=mp3
    with the spec's sample-rate and bitrate facts; WAV and garbage rows
    keep their verdicts. Decode itself stays stubbed: probing is routing."""
    from yellowrush_spark_ml_pipeline_spark.operators.multimodal import (
        probe_media,
    )

    mpeg1 = bytes([0xFF, 0xFB, 0x90, 0x00]) + b"\x00" * 4000  # 128k @44100
    id3 = (
        b"ID3" + bytes([3, 0, 0, 0, 0, 0, 10]) + b"x" * 10
        + bytes([0xFF, 0xF3, 0xA0, 0x00]) + b"\x00" * 500     # MPEG2 @22050
    )
    rows = [
        (0, "audio", bytearray(mpeg1), "audio/mpeg"),
        (1, "audio", bytearray(id3), "image/png"),   # lying MIME label
        (2, "audio", bytearray(b"garbagegarbage"), "audio/mpeg"),
    ]
    media = spark.createDataFrame(
        rows, "media_id long, kind string, payload binary, mime string"
    )
    got = {r.media_id: r for r in probe_media(media).collect()}
    assert got[0].format == "mp3"
    assert got[0].sample_rate == 44100 and got[0].bitrate_kbps == 128
    # CBR estimate: frame_len = 144*128000/44100 = 417 -> ~9 frames
    assert got[0].n_samples == 1152 * (4004 // 417)
    assert got[1].format == "mp3"  # magic bytes win over the MIME label
    assert got[1].sample_rate == 22050 and got[1].bitrate_kbps == 96
    assert got[2].format == "unknown" and got[2].bitrate_kbps is None


def test_minhash_autocap_query_drops_boilerplate_keeps_planted(spark, sf_oracle):
    """The registry's minhash_dedup_autocap must (a) find nearly all
    planted non-boilerplate twins and (b) emit a pair count orders of
    magnitude below the uncapped boilerplate blowup (~180 identical docs
    → ~16k pairs if the auto cap failed to bite)."""
    import __spark_entry__ as entrymod

    out = entrymod.q_minhash_dedup_autocap(spark, sf_oracle)
    pairs = out.collect()
    planted = [r for r in pairs if r["id_b"] - r["id_a"] == 800000]
    assert len(planted) >= 24, f"planted twins lost: {len(planted)}/27"
    assert len(pairs) < 500, f"boilerplate bucket leaked: {len(pairs)} pairs"


# ---------------------------------------------------------------------------
# Round 8: mergeable quantile state
# ---------------------------------------------------------------------------


def test_quantile_state_merge_equals_recompute(spark, sf_oracle):
    """The monoid law for the fixed-edge histogram state: deriving
    quantiles from MERGED per-half states must equal deriving them from
    one state over all rows — and a 3-way split must merge to the same
    thing (associativity). Exact equality, not tolerance: bin counters
    are integers and the walk is a pure function of the state."""
    from yellowrush_spark_ml_pipeline_spark.operators import sketches
    from yellowrush_spark_ml_pipeline_spark.sources import load_table

    ev = load_table(spark, sf_oracle, "events").select(
        "event_type", "value", "event_id"
    )
    kw = dict(keys=["event_type"], val_col="value", lo=0.0, hi=512.0, n_bins=64)
    full = sketches.quantile_state(ev, **kw)
    halves = sketches.merge_quantile_states(
        sketches.quantile_state(ev.filter(F.col("event_id") % 2 == 0), **kw),
        sketches.quantile_state(ev.filter(F.col("event_id") % 2 == 1), **kw),
    )
    thirds = sketches.merge_quantile_states(
        *[
            sketches.quantile_state(
                ev.filter(F.col("event_id") % 3 == i), **kw
            )
            for i in range(3)
        ]
    )

    def q(state):
        return sorted(
            sketches.quantile_from_state(
                state, ["event_type"], ps=(0.5, 0.9, 0.99), lo=0.0, hi=512.0
            ).collect(),
            key=lambda r: (r["event_type"], r["p"]),
        )

    base = q(full)
    assert q(halves) == base
    assert q(thirds) == base
    assert len(base) > 0
    # state sanity: n_vals must equal the raw row count per key
    n = {r["event_type"]: r["n_vals"] for r in full.collect()}
    raw = {
        r["event_type"]: r["c"]
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    assert n == raw


def test_quantile_state_out_of_range_saturates(spark):
    """Values outside [lo, hi) keep exact ranks (counted in the overflow
    counters) and an out-of-range quantile reports the saturated
    boundary value."""
    from yellowrush_spark_ml_pipeline_spark.operators import sketches

    df = spark.createDataFrame(
        [("k", float(v)) for v in [-5, -1, 1, 2, 3, 1000]], "k string, value double"
    )
    st = sketches.quantile_state(df, ["k"], "value", lo=0.0, hi=4.0, n_bins=4)
    row = st.collect()[0]
    assert row["n_below"] == 2 and row["n_above"] == 1 and row["n_vals"] == 6
    got = {
        r["p"]: r["est_value"]
        for r in sketches.quantile_from_state(
            st, ["k"], ps=(0.01, 0.99), lo=0.0, hi=4.0
        ).collect()
    }
    assert got[0.01] == 0.0  # rank 1 lands in n_below -> saturates to lo
    assert got[0.99] == 4.0  # rank 6 lands in n_above -> saturates to hi
