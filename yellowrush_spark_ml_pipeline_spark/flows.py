"""End-to-end composed pipelines — the reference's four notebook sections
as pure functions (SURVEY.md §3).

The reference is not a bag of operators; it is four composed flows
(weather preprocess nyc_taxi_final.py:149-234, taxi preprocess :259-650,
two model pipelines :666-966/:985-1282). These functions chain the same
stages over the synthetic tables so scan→clean→derive→aggregate→join→
encode→sink executes as ONE lazy plan per flow:

* ``preprocess_dim_csv``    — the weather flow: schema'd CSV → project/
  round → range filter → validation aggregate → parquet.
* ``preprocess_lineitem``   — the taxi flow: schema'd parquet → null drop →
  outlier filter → time features → period binning → rate derivation →
  4-key historical average (single-plan global fill) → expected value →
  labels → broadcast dim join + null fill → categorical encoding →
  final projection → hive-partitioned parquet.
* ``train_and_evaluate``    — the model flow: sample → split → assemble →
  RF → cached evaluation → optional persistence (see ml.pipelines).

Everything stays declarative: no action fires until the caller writes,
counts, or collects, so Catalyst sees the whole pipeline at once
(projection collapse, filter pushdown to the scan, AQE join planning).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .ml.pipelines import encode_categorical
from .operators.aggregates import validate_table
from .operators.cleaning import drop_nulls, filter_ranges
from .operators.features import (
    add_expected_duration,
    add_speed,
    add_time_features,
    add_time_period,
    historical_average,
    label_exceeds,
    label_threshold_flag,
)
from .operators.joins import broadcast_dim_join
from .sources.readers import load_table, read_csv
from .sources.writers import write_parquet, write_partitioned_parquet


def preprocess_dim_csv(
    spark: SparkSession,
    csv_path: str,
    schema: StructType,
    select_cols: list[str] | None = None,
    round_cols: dict[str, int] | None = None,
    ranges: dict | None = None,
    predicate=None,
    output_path: str | None = None,
) -> DataFrame:
    """Weather-flow shape (nyc_taxi_final.py:149-234): schema'd CSV scan →
    projection (P2) with rounding (P1) → predicate/range filter (P3/P4) →
    overwrite parquet sink (S5). ``predicate`` takes the reference's
    date-part filter (`year(date)==2024 & month(date).between(1,6)`,
    :198-199) or any Column.

    Returns the cleaned DataFrame (lazy); writes only when ``output_path``
    is given."""
    df = read_csv(spark, csv_path, schema)
    if select_cols:
        df = df.select(*select_cols)
    for col, nd in (round_cols or {}).items():
        df = df.withColumn(col, F.round(F.col(col), nd))
    if predicate is not None:
        df = df.filter(predicate)
    if ranges:
        df = filter_ranges(df, ranges)
    if output_path:
        write_parquet(df, output_path)
    return df


def preprocess_lineitem(
    spark: SparkSession,
    sf_dir: str,
    output_path: str | None = None,
    encode: bool = True,
) -> DataFrame:
    """Taxi-flow shape (nyc_taxi_final.py:259-650) bound to the synthetic
    star schema: lineitem is the trip fact, ``part`` plays weather's role
    of a broadcast-joined enrichment dim, price-per-unit plays speed.

    Stage map (reference line): null drop (:373) → outlier filter
    (:376-384) → time features (:410-425) → period binning (:428-434) →
    rate (:468) → 4-key historical average with single-plan global fill
    (:471-496) → expected value (:526) → threshold + exceeds labels
    (:530-533, :1053-1056) → broadcast dim join + null fill (:558-564) →
    StringIndexer+OHE (:581-596) → final projection (:607-614) →
    repartition+partitionBy sink (:640-641)."""
    li = load_table(spark, sf_dir, "lineitem")
    li = drop_nulls(li)
    li = filter_ranges(
        li,
        {
            "l_quantity": (0.0, 60.0, False, True),
            "l_extendedprice": (0.0, None, False, False),
            "l_discount": (0.0, 1.0, True, True),
            "l_tax": (0.0, None, True, False),
        },
    )
    li = add_time_features(li, "l_shipdate", prefix="ship_")
    li = add_time_period(li, "ship_hour", "ship_period")
    li = add_speed(li, "l_extendedprice", "l_quantity", out_col="price_rate")
    li = historical_average(
        li,
        ["l_returnflag", "l_linestatus", "ship_year", "ship_month"],
        numerator="l_extendedprice",
        denominator="l_quantity",
        out_col="hist_price_rate",
    )
    li = add_expected_duration(
        li, "l_extendedprice", "hist_price_rate", out_col="expected_quantity"
    )
    li = label_exceeds(li, "l_quantity", "expected_quantity", "is_over_expected")
    li = label_threshold_flag(li, "l_discount", 0.05, "is_discounted")

    part_dim = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_size") <= 25)
        .select(F.col("p_partkey").alias("l_partkey"), "p_retailprice")
    )
    # part grows with scale → no pinned broadcast (AQE decides)
    li = broadcast_dim_join(
        li, part_dim, on="l_partkey", how="left",
        fill={"p_retailprice": 0.0}, broadcast=None,
    )

    final_cols = [
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "ship_year",
        "ship_month",
        "ship_day_of_week",
        "ship_is_holiday",
        "ship_period",
        "price_rate",
        "hist_price_rate",
        "expected_quantity",
        "is_over_expected",
        "is_discounted",
        "p_retailprice",
    ]
    if encode:
        li, ohe_cols = encode_categorical(
            li.withColumn("returnflag_cat", F.col("l_returnflag")), "returnflag_cat"
        )
        out = li.select(*final_cols, *ohe_cols)
    else:
        out = li.select(*final_cols)
    if output_path:
        write_partitioned_parquet(out, output_path, "ship_year")
    return out


def curate_corpus(
    docs: DataFrame,
    min_quality: float = 0.5,
    jaccard_threshold: float = 0.7,
    output_path: str | None = None,
    partition_col: str = "lang",
    redact: bool = False,
    lang_scorer=None,
    max_bucket_size: int | None = None,
    canonical: str = "min_id",
    hash_fn: str = "xxhash64",
    quality_scorer=None,
    max_broadcast_rows: int = 1_000_000,
) -> DataFrame:
    """The LLM training-data curation flow end-to-end: quality scoring →
    threshold filter → language ID → MinHash near-dup pairs → connected
    components → keep one representative per group → hive-partitioned
    sink by language.

    ``lang_scorer`` plugs a real language-ID model (pandas-UDF slot, see
    ``textstats.language_id``) into the flow without any other change;
    None keeps the zero-Python heuristic. ``max_bucket_size`` is the
    boilerplate-skew guard on the dedup candidate join (see
    ``dedup.minhash_lsh_candidates``) — set it for web-scale corpora.

    ``quality_scorer`` (round 10) swaps the gate itself — the
    FineWeb-edu shape, where a trained classifier replaces the C4-style
    heuristic rules:

    * ``None`` — the heuristic :func:`quality_score` composite (default);
    * a fitted MLlib model (anything with ``.transform``, e.g.
      ``ml.train_quality_classifier``'s output) — documents are scored
      with ``P(label=1)`` as ``quality_score`` (train with label 1 =
      KEEP).  The model ships to executors as a broadcast and scoring
      is a narrow map fused behind the scan — no join, no shuffle, no
      Python (MLlib LR transform is JVM-side);
    * a callable ``df -> df`` adding ``quality_score`` (and the
      heuristic's feature columns) — passing
      ``textstats.quality_score`` itself reproduces the default flow
      exactly (pinned by test).

    Every path yields the same columns, so the threshold filter, dedup
    tier, and sink are untouched.

    This is the 100 TB shape: scoring/lang-ID are narrow map stages fused
    into the scan; dedup candidates come from banded self-joins (never
    all-pairs); the grouping join ships only (doc_id, group_id); the text
    column rides through untouched — no re-tokenization after the filter
    stage decides survival."""
    from .operators.dedup import dedup_groups, minhash_dedup_pairs
    from .operators.textstats import language_id, quality_score, redact_pii

    if redact:
        # scrub BEFORE scoring/dedup so downstream stages (and the sink)
        # never see raw contact strings
        scrubbed = redact_pii(docs)
        docs = scrubbed.select(
            *[c for c in docs.columns if c != "text"],
            F.col("redacted_text").alias("text"),
        )
    if quality_scorer is None:
        scored = quality_score(docs)
    elif hasattr(quality_scorer, "transform"):
        from pyspark.ml.functions import vector_to_array

        feats = quality_score(docs).drop("quality_score")
        preds = quality_scorer.transform(feats)
        scored = preds.select(
            *feats.columns,
            F.round(vector_to_array("probability")[1], 6).alias(
                "quality_score"
            ),
        )
    else:
        scored = quality_scorer(docs)
    kept = scored.filter(F.col("quality_score") >= min_quality)
    kept = language_id(kept, scorer=lang_scorer)
    # `kept` feeds FOUR consumers (signature build, both Jaccard-verify
    # joins, canonical join-back), and its quality/lang-ID stage is
    # regex-heavy — without intervention that stage re-executes once per
    # consumer (measured 4x the regex cost at sf0.1).  Round 12: apply
    # the decide-with-small-rows discipline (optimization guide §8) —
    # checkpoint ONLY the per-doc DECISION columns (id + lang_pred,
    # n_tokens, quality_score, ...; a few dozen bytes/row, never the
    # text), then re-attach the raw corpus by id.  The regex stage runs
    # exactly once into the checkpoint; each consumer re-reads the
    # text from the source scan and hash-joins the tiny decision
    # relation.  Unlike a persist of the WHOLE text-bearing relation (OOM
    # hazard: its cached stats steered the planner into broadcasting the
    # corpus at 10x data), the checkpointed relation carries no payload,
    # so a planner broadcasting it is correct at any scale where it fits
    # and falls back to a shuffle join where not.  localCheckpoint, not
    # persist: it truncates lineage, so no consumer re-plans the regex
    # stage; its blocks are unreplicated, so an executor loss on a
    # multi-node cluster fails the flow instead of recomputing it.
    # The attach is a SIZE-GATED broadcast (r12 ADVICE: an explicit
    # broadcast hint never falls back on size, so an unconditional
    # F.broadcast(dec) would pin a corpus-proportional relation into
    # every executor at 100 TB).  A checkpointed relation has no
    # catalyst stats, so without a hint the planner picks a sort-merge
    # join and shuffles the TEXT column by doc_id once per consumer —
    # the "join sneaks the payload shuffle back in" trap of guide §8.4
    # (measured +2 s on curate_scored).  Gate: one bounded count over
    # the checkpointed decision blocks (same contract as
    # semantic_dedup_incremental's max_broadcast_rows); over the gate, a
    # shuffle-hash hint keeps the join memory-bounded — the corpus
    # shuffles once by doc_id, which is the correct plan when the
    # decision relation itself is beyond broadcast; slicing it further
    # is the guide's Bloom/semi-join refinement, not the default.
    #
    # Contract notes (r12 ADVICE): a callable ``quality_scorer`` must be
    # ADD-ONLY — it may append columns but never modify existing ones
    # (the attach re-reads originals from ``docs``, so a scorer that
    # e.g. normalized ``text`` would have its change silently dropped);
    # enforced below by refusing a scorer output missing any original
    # column.  ``docs`` must also be unique on doc_id (duplicate ids
    # would multiply through this join) — guaranteed here by every
    # caller's id construction, asserted cheaply via the dedup tier
    # downstream which keys on doc_id.
    missing = [c for c in docs.columns if c not in kept.columns]
    if missing:
        raise ValueError(
            f"quality_scorer dropped original columns {missing}; the "
            "scorer contract is add-only (df -> df plus derived columns)"
        )
    derived = [c for c in kept.columns if c not in docs.columns]
    dec = kept.select("doc_id", *derived).localCheckpoint(eager=True)
    attach = (
        F.broadcast(dec)
        if dec.count() <= max_broadcast_rows
        else dec.hint("shuffle_hash")
    )
    kept = docs.join(attach, "doc_id").select(
        *[F.col(c) for c in list(docs.columns) + derived]
    )
    # hash_fn="md5" switches the dedup tier onto the cross-engine hash
    # (functions/hashing.py) so the WHOLE flow is DuckDB-replayable.
    pairs = minhash_dedup_pairs(
        kept, jaccard_threshold=jaccard_threshold,
        max_bucket_size=max_bucket_size, hash_fn=hash_fn,
    )
    groups = dedup_groups(pairs)
    # Schema-agnostic output: whatever columns the corpus came with, plus
    # the derived curation columns — the flow requires only doc_id + text.
    # canonical="min_id" keeps the smallest id per dup component (pure
    # filter, no extra shuffle); "best_quality" keeps the highest-quality
    # member via dedup.select_canonical's key-only argmax.
    from .operators.dedup import select_canonical

    out_cols = list(docs.columns) + ["lang_pred", "n_tokens", "quality_score"]
    curated = select_canonical(
        kept,
        groups,
        quality_col="quality_score" if canonical == "best_quality" else None,
    ).select(*out_cols)
    if output_path:
        if partition_col not in curated.columns:
            raise ValueError(
                f"partition_col {partition_col!r} not in curated columns "
                f"{curated.columns}; pass partition_col= for this corpus"
            )
        write_partitioned_parquet(curated, output_path, partition_col)
    return curated


def export_training_set(
    docs: DataFrame,
    output_path: str | None = None,
    min_quality: float = 0.5,
    capacity: int = 2048,
    val_mod: int = 10,
    seed: int = 42,
    hash_fn: str = "xxhash64",
    **curate_kwargs,
) -> tuple[DataFrame, DataFrame]:
    """The final mile of the corpus pipeline: curation → deterministic
    train/val split → per-(split, language) context-window packing →
    hive-partitioned sink + manifest. Returns ``(dataset, manifest)``;
    the manifest is the per-(split, lang) accounting a training job
    validates against before reading a byte.

    The split is a seeded hash-mod on ``doc_id`` — exact, partition-
    invariant, reproducible across backfills, and stable under corpus
    growth (a doc's split never changes when neighbors arrive, unlike
    randomSplit). Packing runs WITHIN (split, lang) so no context window
    straddles the train/val boundary or mixes languages.

    Scale: curation's shuffles are the dedup tiers' own; the split tag is
    a narrow map; packing is one window per (split, lang) group; the
    assignment joins back on ``doc_id`` (same key the dedup stages
    already hash by). The manifest aggregates to (splits x langs) rows.
    """
    from .functions.hashing import md5_hash60
    from .operators.textstats import pack_sequences

    curated = curate_corpus(
        docs, min_quality=min_quality, hash_fn=hash_fn, **curate_kwargs
    )
    # hash_fn="md5": seed folds into the hashed string, keeping the split
    # cross-engine replayable (the xxhash64 default takes the seed natively)
    split_hash = (
        md5_hash60(
            F.concat(F.col("doc_id").cast("string"), F.lit(f":{seed}"))
        )
        if hash_fn == "md5"
        else F.xxhash64(F.col("doc_id"), F.lit(seed))
    )
    tagged = curated.withColumn(
        "split",
        F.when(
            F.pmod(split_hash, F.lit(val_mod)) == 0,
            F.lit("val"),
        ).otherwise(F.lit("train")),
    )
    grouped = tagged.withColumn("_grp", F.concat_ws("/", "split", "lang"))
    packed = pack_sequences(grouped, group_col="_grp", capacity=capacity)
    dataset = tagged.join(
        packed.select("doc_id", F.col("n_tokens").alias("pack_tokens"), "bin_id"),
        "doc_id",
    )
    manifest = dataset.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("pack_tokens").alias("n_tokens"),
        (F.max("bin_id") + 1).alias("n_bins"),
    )
    if output_path:
        write_partitioned_parquet(dataset, output_path, ["split", "lang"])
        manifest.coalesce(1).write.mode("overwrite").parquet(
            f"{output_path}_manifest"
        )
    return dataset, manifest


def epoch_shuffle(
    dataset: DataFrame, seed: int = 42, epoch_col: str | None = None
) -> DataFrame:
    """Deterministic seeded GLOBAL shuffle of a packed training set
    (round 9) — training-order reproducibility as a first-class output:
    the same (corpus, seed) always yields the byte-identical epoch
    order, across reruns, partitionings, and engines, so a training-job
    manifest can pin the order it will consume.

    The shuffle unit is the packed BIN (split/lang/bin_id) — context
    windows stay contiguous, documents inside a bin keep packing order
    (doc_id asc) — and bins are ordered by a Lehmer step over the
    cross-engine md5 hash of (split, lang, bin_id, seed):
    ``key = (48271 * md5_hash60('split/lang/bin:seed')) mod (2^61 - 1)``
    — pure integer arithmetic (the multiply routed through
    DECIMAL(38,0); BIGINT would wrap), so DuckDB replays it exactly,
    the same invariance discipline as deterministic_stratified_sample.
    A new seed reshuffles every epoch; key collisions cannot break
    determinism because the total order tie-breaks on
    (split, lang, bin_id, doc_id).

    ``epoch_rank`` materializes the total order via one global
    row_number — the audit/manifest form. At 100 TB a writer would
    instead ``repartitionByRange(shuffle_key, ...)`` +
    ``sortWithinPartitions`` and let file order carry the rank
    implicitly; the KEY, not the rank column, is the scalable
    contract.

    ``epoch_col`` (round 12): for an up-sampled dataset keyed by
    (doc_id, epoch), the total-order tie-break extends to the epoch so
    a doc's repetitions have a deterministic relative order inside
    their bin."""
    from pyspark.sql import Window

    from .functions.hashing import md5_hash60

    h = md5_hash60(
        F.concat(
            F.col("split"),
            F.lit("/"),
            F.col("lang"),
            F.lit("/"),
            F.col("bin_id").cast("string"),
            F.lit(f":{seed}"),
        )
    )
    keyed = (
        dataset.withColumn("_h61", h)
        .withColumn(
            "shuffle_key",
            F.expr(
                "CAST((CAST(48271 AS DECIMAL(38,0)) * _h61)"
                " % 2305843009213693951 AS BIGINT)"
            ),
        )
        .drop("_h61")
    )
    order_cols = ["shuffle_key", "split", "lang", "bin_id", "doc_id"] + (
        [epoch_col] if epoch_col else []
    )
    w = Window.orderBy(*order_cols)
    return keyed.withColumn(
        "epoch_rank", F.row_number().over(w).cast("bigint")
    )


def export_tokenized_set(
    docs: DataFrame,
    rounds: int = 3,
    capacity: int = 2048,
    val_mod: int = 10,
    seed: int = 42,
    mixture: bool = False,
    source_col: str = "source",
    mixture_target: int | None = None,
    mixture_factor_milli: int | None = None,
    max_epochs: int = 4,
) -> DataFrame:
    """The tokenizer-complete final mile (round 9): train BPE merges on
    the corpus, ENCODE it (real token counts, not the whitespace proxy),
    seeded hash-mod train/val split, context-window packing within
    (split, lang) driven by the REAL ``n_tokens``, and the deterministic
    seeded epoch order — the first composition where every stage of
    train → tokenize → split → pack → shuffle consumes the previous
    stage's true outputs, and the whole chain stays one lazy plan
    replayable by the DuckDB oracle.

    Scale: BPE work is dictionary-sized (see bpe_encode); the split tag
    is a narrow map; packing is one window per (split, lang); the epoch
    key is a narrow hash expression. The corpus-sized relations move
    through exactly the joins bpe_encode already needs plus one packing
    window — no new data-sized shuffle versus the proxy-count export.

    ``mixture=True`` (round 10) inserts the temperature-scaled source
    REBALANCING stage (textstats.temperature_mixture_sample, alpha=1/2)
    before the tokenizer: the deterministic hash-rate selection decides
    the corpus, the tokenizer trains on the REBALANCED mixture (the
    order a real pipeline uses — the tokenizer should see the
    distribution it will encode), and the per-source ``rate_micro``
    audit column rides through to the final epoch-ordered output so a
    manifest can reconcile row counts against the planned rates. The
    stage is one combinable per-source count + a broadcast rate join +
    a narrow filter — nothing data-sized beyond the scan.

    ``mixture_factor_milli`` (round 12) selects the UNIFIED rebalancing
    stage (textstats.temperature_mixture_upsample): per-source uncapped
    rates mean each source is down- OR up-sampled as its temperature
    share demands — heads are probabilistically thinned (rate < 1.0,
    exactly the capped sampler's draw at epoch 0) while tails REPEAT
    across epochs (Muennighoff-style data-constrained scaling, capped
    at ``max_epochs``). Downstream, (doc_id, epoch) is the training-
    example key end to end: the split hashes doc_id ONLY (a doc's
    repetitions never straddle train/val — epoch-level splitting leaks
    the val set verbatim into training), packing orders by (doc_id,
    epoch) within (split, lang), and the epoch-order tie-break extends
    to the epoch. The tokenizer trains and encodes each UNIQUE
    surviving document once (merges over the epoch-0 relation — the
    deduplicated mixture support); real token counts then join back
    onto every repetition, so tokenizer cost stays corpus-sized while
    the training set expands. Mutually exclusive with ``mixture``."""
    from .functions.hashing import md5_hash60
    from .operators.textstats import (
        bpe_encode,
        bpe_merge_rounds,
        pack_sequences,
    )

    if mixture and mixture_factor_milli is not None:
        raise ValueError(
            "pass mixture=True (capped down-sampling) OR "
            "mixture_factor_milli (epoch-keyed up-sampling), not both"
        )
    upsample = mixture_factor_milli is not None
    epoch_keys: list[str] = []
    if upsample:
        from .operators.textstats import temperature_mixture_upsample

        expanded = temperature_mixture_upsample(
            docs,
            source_col,
            "doc_id",
            target_factor_milli=mixture_factor_milli,
            max_epochs=max_epochs,
        )
        # every surviving doc has an epoch-0 row (n_copies >= 1), so the
        # epoch-0 slice IS the distinct surviving corpus: train/encode once
        docs = expanded.filter(F.col("epoch") == 0).drop("epoch")
        epoch_keys = ["epoch"]
    elif mixture:
        from .operators.textstats import temperature_mixture_sample

        docs = temperature_mixture_sample(
            docs, source_col, "doc_id", target_total=mixture_target
        )
    merges = bpe_merge_rounds(docs, rounds=rounds)
    enc = bpe_encode(docs, merges, rounds=rounds)
    keep_cols = ["doc_id", "lang"] + (
        [source_col, "rate_micro"] if (mixture or upsample) else []
    )
    if upsample:
        keep_cols.append("epoch")
        base = expanded.select(*keep_cols).join(
            enc.select("doc_id", "n_tokens"), "doc_id"
        )
    else:
        base = docs.select(*keep_cols).join(
            enc.select("doc_id", "n_tokens"), "doc_id"
        )
    # NOT checkpointed (round 13, measured): `base` feeds both the
    # packing window and the dataset join-back, and the final plans
    # show the mixture+BPE subtree repeated (documents scanned 21x in
    # export_mixture's plan) — but a same-session A/B of an eager
    # decision-relation checkpoint here was a WASH (±0.3 s on all five
    # export queries): runtime exchange reuse already dedupes the
    # identical subtrees, so the barrier bought nothing and cost an
    # extra materialization.  Left lazy on evidence.
    split_hash = md5_hash60(
        F.concat(F.col("doc_id").cast("string"), F.lit(f":{seed}"))
    )
    tagged = base.withColumn(
        "split",
        F.when(F.pmod(split_hash, F.lit(val_mod)) == 0, F.lit("val"))
        .otherwise(F.lit("train")),
    )
    grouped = tagged.withColumn("_grp", F.concat_ws("/", "split", "lang"))
    packed = pack_sequences(
        grouped,
        group_col="_grp",
        capacity=capacity,
        n_tokens_col="n_tokens",
        epoch_col="epoch" if upsample else None,
    )
    dataset = tagged.drop("n_tokens").join(
        packed.select(
            "doc_id",
            *epoch_keys,
            F.col("n_tokens").alias("pack_tokens"),
            "bin_id",
        ),
        ["doc_id"] + epoch_keys,
    )
    return epoch_shuffle(
        dataset, seed=seed, epoch_col="epoch" if upsample else None
    )


def train_and_evaluate(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    sample_fraction: float | None = 0.3,
    model_path: str | None = None,
    seed: int = 42,
) -> dict[str, float]:
    """Model-flow shape (nyc_taxi_final.py:666-966 congestion, :985-1282
    delay — identical structure, different label): sample → split →
    assemble → RF (reference config) → cached evaluation → optional
    persistence. Returns the metric dict; both reference model pipelines
    are this function with a different ``label_col``."""
    from .ml.pipelines import evaluate_binary, save_model, train_classifier

    model, _, test_df = train_classifier(
        df, feature_cols, label_col, sample_fraction=sample_fraction, seed=seed
    )
    metrics = evaluate_binary(model, test_df, label_col)
    if model_path:
        save_model(model, model_path)
    return metrics


def validate_preprocessed(df: DataFrame) -> dict:
    """D10 as a hard gate (the reference eyeballs show() output): one-pass
    validation row, returned as a dict for assertions/monitoring."""
    row = validate_table(
        df.select("l_orderkey", "l_quantity", "expected_quantity"),
        nonnegative_cols=["l_quantity", "expected_quantity"],
    ).first()
    return row.asDict()
