"""Batch event-sequence analytics over the ``events`` table: ordered
funnels and cohort retention. Complements the streaming sessionization in
``streaming/windows.py`` (SURVEY.md §2.12) with the two classic offline
event queries a product-analytics engine ships.

Scale posture: every stage keys on ``user_id``. The first aggregation
shuffles once on that key; each subsequent stage joins and re-aggregates
on the SAME key, so Catalyst reuses the hash partitioning and no further
full shuffle of the events table occurs (the `.explain` shows one
Exchange per pass over events, none between join→agg pairs). All outputs
are exact integers — no cross-engine float drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def funnel_counts(
    df: DataFrame,
    stages: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Ordered-funnel analysis: for each stage k, the number of users who
    performed stages[0..k] in strict timestamp order (each stage strictly
    after the previous one; earliest qualifying occurrence taken —
    standard first-touch funnel semantics).

    One conditional aggregation per stage: pass k joins the per-user
    frontier timestamp from pass k-1 and takes ``min(ts)`` over matching
    later events. With S stages that is S passes over the (filtered)
    events relation, all hash-partitioned on ``user_col`` — for the usual
    3-5 stage funnel this beats a per-user sort + sequence scan because
    no per-user state or ordering is ever materialized.
    """
    if not stages:
        raise ValueError("stages must be non-empty")
    ev = df.filter(F.col(type_col).isin(stages)).select(
        user_col, type_col, ts_col
    )
    # Stage 0: earliest occurrence of the entry event per user.
    frontier = (
        ev.filter(F.col(type_col) == stages[0])
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("_t0"))
    )
    counts = [frontier]
    prev = frontier.withColumnRenamed("_t0", "_tprev")
    for stage in stages[1:]:
        nxt = (
            ev.filter(F.col(type_col) == stage)
            .join(prev, user_col)
            .filter(F.col(ts_col) > F.col("_tprev"))
            .groupBy(user_col)
            .agg(F.min(ts_col).alias("_tnext"))
        )
        counts.append(nxt)
        prev = nxt.withColumnRenamed("_tnext", "_tprev")
    rows = None
    for i, (stage, frame) in enumerate(zip(stages, counts)):
        row = frame.agg(
            F.lit(i + 1).alias("stage_idx"),
            F.lit(stage).alias("stage"),
            F.count(F.lit(1)).alias("n_users"),
        )
        rows = row if rows is None else rows.unionByName(row)
    return rows


def funnel_counts_window(
    df: DataFrame,
    stages: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Single-shuffle variant of :func:`funnel_counts` — identical
    first-touch semantics, different physical strategy.

    One groupBy on ``user_col`` collects each user's (filtered) stage
    events into a ts-sorted array, then a JVM-side ``aggregate`` higher-
    order function runs the greedy frontier scan: stage k's frontier is
    set by the first stage-k event strictly after stage k-1's frontier.
    Events shuffle ONCE total, versus one join+agg pass per stage in the
    S-pass variant.

    Tradeoff at scale: per-user state here is the user's full stage-event
    array (collect_list), so a power-user with millions of events makes a
    fat row; the S-pass variant never materializes per-user sequences.
    Prefer this form for deep funnels (S large) over bounded per-user
    activity, the S-pass form for shallow funnels or unbounded per-user
    event counts. Measured head-to-head in bench.py (`funnel` vs
    `funnel_window`): at sf0.1 with 3 stages the S-pass form wins
    (0.60 s vs 0.97 s warm median-of-3) — its three small hash
    aggregations beat one collect_list materialization; the crossover
    is deeper funnels, where S-pass cost grows linearly in S and the
    single-shuffle scan cost is flat.
    """
    if not stages:
        raise ValueError("stages must be non-empty")
    n = len(stages)
    stage_arr = "array(" + ",".join(f"'{s}'" for s in stages) + ")"
    ev = df.filter(F.col(type_col).isin(stages)).select(
        F.col(user_col).alias("_u"),
        F.col(ts_col).alias("ts"),
        F.col(type_col).alias("tp"),
    )
    per_user = ev.groupBy("_u").agg(
        F.sort_array(F.collect_list(F.struct("ts", "tp"))).alias("evs")
    )
    # Greedy frontier scan: acc[i] is stage i's frontier timestamp (NULL =
    # not reached). Each event advances at most its own stage's slot, and
    # only when the previous stage is already reached strictly earlier.
    frontier = per_user.select(
        F.expr(
            f"""
            aggregate(
              evs,
              array_repeat(CAST(NULL AS TIMESTAMP), {n}),
              (acc, e) -> transform(acc, (t, i) ->
                CASE
                  WHEN t IS NOT NULL THEN t
                  WHEN array_position({stage_arr}, e.tp) - 1 = i
                       AND (i = 0 OR (acc[i] IS NULL AND acc[i-1] IS NOT NULL
                                      AND e.ts > acc[i-1]))
                  THEN e.ts
                END)
            )
            """
        ).alias("fr")
    )
    counts = (
        frontier.select(F.posexplode("fr").alias("idx", "t"))
        .groupBy("idx")
        .agg(F.count("t").alias("n_users"))  # count() skips NULLs
    )
    spark = df.sparkSession
    stage_frame = spark.createDataFrame(
        [(i, i + 1, s) for i, s in enumerate(stages)],
        "idx int, stage_idx int, stage string",
    )
    return (
        stage_frame.join(counts, "idx", "left")
        .select(
            "stage_idx",
            "stage",
            F.coalesce("n_users", F.lit(0)).cast("bigint").alias("n_users"),
        )
        .orderBy("stage_idx")
    )


def cohort_retention(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    max_weeks: int = 4,
) -> DataFrame:
    """Weekly cohort retention: users are cohorted by the week of their
    first event; for each (cohort_week, k) we count the distinct users
    active k weeks after their cohort week (k=0..max_weeks).

    Two aggregations, both on ``user_col`` first: (1) per-user first-seen
    day (one shuffle), (2) distinct user-week activity re-joined to the
    cohort and aggregated per (cohort_week, k). The user-week distinct is
    map-side-reducible and the final group-by is on the tiny
    (weeks x weeks) key space.
    """
    day = F.date_trunc("week", F.col(ts_col)).cast("date")
    first = df.groupBy(user_col).agg(
        F.min(day).alias("cohort_week")
    )
    activity = df.select(
        F.col(user_col), day.alias("active_week")
    ).distinct()
    joined = activity.join(first, user_col).withColumn(
        "weeks_after",
        F.datediff(F.col("active_week"), F.col("cohort_week")) / 7,
    )
    return (
        joined.filter(F.col("weeks_after") <= max_weeks)
        .groupBy("cohort_week", F.col("weeks_after").cast("int").alias("weeks_after"))
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def event_transitions(
    df: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Markov transition counts between consecutive event types per user:
    (prev_type, next_type, n_transitions, p_next) — the session-flow /
    next-action model behind recommendation and anomaly baselines.

    One window pass (lag over the per-user ordered stream — the sort key
    is (ts, event_id) so ties are deterministic in any engine) and one
    combinable aggregation on the tiny (type x type) key space; events
    shuffle exactly once on ``user_col``. ``p_next`` is the row-normalized
    probability computed from exact integer counts, so the double is a
    single int/int division — cross-engine exact."""
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    steps = df.select(
        F.col(user_col),
        F.lag(type_col).over(w).alias("prev_type"),
        F.col(type_col).alias("next_type"),
    ).filter(F.col("prev_type").isNotNull())
    counts = steps.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    w_prev = Window.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "next_type",
        "n_transitions",
        (
            F.col("n_transitions")
            / F.sum("n_transitions").over(w_prev)
        ).alias("p_next"),
    )


def interval_concurrency(
    df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    duration_minutes: int = 10,
) -> DataFrame:
    """Peak concurrency per key over half-open activity intervals
    [ts, ts + duration): the classic capacity-planning query (max
    simultaneously-open sessions / connections / jobs).

    Sweep-line as a window aggregation: each event contributes a +1
    delta at its start and a -1 delta at its end; the running sum
    ordered by (time, delta) is the number of open intervals, and its
    maximum is the peak. Ordering deltas ascending puts -1 closes
    before +1 opens at the same instant — half-open semantics, so
    back-to-back intervals never double-count. The default RANGE frame
    makes simultaneous rows peers sharing one cumulative value, which
    is both the correct "all open at this instant" reading and
    engine-order-independent (ties collapse identically in any engine —
    no row-order nondeterminism to leak into the result).

    Output: (key, peak_concurrency, peak_at = earliest instant the peak
    is reached). Scale shape: the delta relation is 2x events but only
    (key, t, delta) wide; ONE shuffle on ``key_col`` covers the running
    sum, the per-key max, and the argmin — all three windows share the
    partition key, so Catalyst plans a single exchange."""
    from pyspark.sql import Window

    start = df.select(
        F.col(key_col), F.col(ts_col).alias("t"), F.lit(1).alias("delta")
    )
    end = df.select(
        F.col(key_col),
        (F.col(ts_col) + F.expr(f"INTERVAL {duration_minutes} MINUTES")).alias(
            "t"
        ),
        F.lit(-1).alias("delta"),
    )
    deltas = start.unionByName(end)
    w_run = Window.partitionBy(key_col).orderBy("t", "delta")
    w_key = Window.partitionBy(key_col)
    cum = deltas.withColumn("open_now", F.sum("delta").over(w_run))
    peaked = cum.withColumn("peak", F.max("open_now").over(w_key))
    return (
        peaked.filter(F.col("open_now") == F.col("peak"))
        .groupBy(key_col)
        .agg(
            F.max("peak").alias("peak_concurrency"),
            F.min("t").alias("peak_at"),
        )
    )


def first_touch_attribution(
    df: DataFrame,
    convert_type: str = "purchase",
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """First-touch revenue attribution: every user's conversion value is
    credited to the event type that FIRST touched them. Output per
    first-touch channel: converted-user count and attributed revenue.

    Shape: ONE scan and ONE events shuffle — the per-user first touch is
    ``min(struct(ts, event_id, type))`` (lexicographic argmin; event_id
    makes ties deterministic) computed in the SAME aggregation as the
    DECIMAL-cent conversion sums, with map-side partial agg collapsing
    each user before the exchange. A window-rank formulation would scan
    events twice (rank pass + conversion pass) and join the halves —
    two extra exchanges for identical semantics. The final group-by runs
    on the tiny channel key space."""
    per_user = df.groupBy(user_col).agg(
        F.min(F.struct(ts_col, id_col, type_col)).alias("_first"),
        F.sum(
            F.when(
                F.col(type_col) == convert_type,
                F.col(value_col).cast("decimal(12,2)"),
            )
        ).alias("_cents"),
        F.sum(
            F.when(F.col(type_col) == convert_type, 1).otherwise(0)
        ).alias("_n_conv"),
    )
    return (
        per_user.filter(F.col("_n_conv") > 0)
        .groupBy(F.col("_first")[type_col].alias("first_touch"))
        .agg(
            F.count(F.lit(1)).alias("n_converted_users"),
            F.sum("_n_conv").alias("n_conversions"),
            F.sum("_cents").cast("decimal(18,2)").cast("double").alias(
                "attributed_value"
            ),
        )
    )


def session_stats(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    gap_minutes: int = 30,
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Per-session engagement metrics over gap-based sessions: event
    count, wall duration, distinct event types, and the bounce flag
    (single-event session) — the session-quality relation feeding
    engagement dashboards and on-policy data filtering.

    Composes :func:`streaming.windows.sessionize` (lag + running-sum
    break detection) with one session-key aggregation. Both the
    sessionizing windows and the aggregation key on ``user_col`` first,
    so events shuffle ONCE; duration is an exact epoch-second integer
    (no float time math)."""
    from ..streaming.windows import sessionize

    s = sessionize(
        df,
        ts_col=ts_col,
        user_col=user_col,
        gap_minutes=gap_minutes,
        tiebreak_col=tiebreak_col,
    )
    return s.groupBy(user_col, "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            F.unix_timestamp(F.max(ts_col)) - F.unix_timestamp(F.min(ts_col))
        ).alias("duration_sec"),
        F.count_distinct(F.col(type_col)).alias("n_types"),
        (F.count(F.lit(1)) == 1).cast("int").alias("is_bounce"),
    )


def conversion_lag(
    df: DataFrame,
    start_type: str = "view",
    convert_type: str = "purchase",
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    bucket_minutes: int = 60,
) -> DataFrame:
    """Time-to-convert distribution: for every user whose first
    ``start_type`` precedes their first ``convert_type``, the lag is
    bucketed into ``bucket_minutes`` bins → (lag_bucket, n_users,
    min/max_lag_sec) — the funnel-velocity histogram.

    One conditional aggregation computes both first-touch timestamps
    per user (map-side combine, single events shuffle); the lag is an
    exact epoch-second integer, bucketed by integer division — no float
    time math anywhere, so the histogram is bit-identical in any
    engine."""
    per_user = df.groupBy(user_col).agg(
        F.min(
            F.when(F.col(type_col) == start_type, F.col(ts_col))
        ).alias("_t_start"),
        F.min(
            F.when(F.col(type_col) == convert_type, F.col(ts_col))
        ).alias("_t_conv"),
    )
    lag = (
        F.unix_timestamp(F.col("_t_conv"))
        - F.unix_timestamp(F.col("_t_start"))
    )
    converted = per_user.filter(
        F.col("_t_start").isNotNull()
        & F.col("_t_conv").isNotNull()
        & (lag >= 0)
    ).select(lag.alias("_lag_sec"))
    bucket = F.floor(F.col("_lag_sec") / (bucket_minutes * 60))
    return converted.groupBy(bucket.alias("lag_bucket")).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.min("_lag_sec").alias("min_lag_sec"),
        F.max("_lag_sec").alias("max_lag_sec"),
    )


def top_paths(
    df: DataFrame,
    k: int = 20,
    max_len: int = 5,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
    gap_minutes: int = 30,
) -> DataFrame:
    """Top-k session paths: the most common ordered event-type sequences
    (truncated to ``max_len`` steps) across gap-based sessions — the
    "what do users actually do" query behind navigation analysis.

    Sessionization and the per-session path construction share the
    ``user_col`` key (one events shuffle); paths are built with an
    ordered collect inside the session aggregation — deterministic via
    the (ts, id) sort key — then counted on the (small) distinct-path
    key space with a TakeOrderedAndProject head. Per-session state is
    bounded by ``max_len`` (slice before join), so a runaway session
    can't fatten a row."""
    from pyspark.sql import Window

    from ..streaming.windows import sessionize

    s = sessionize(
        df, ts_col=ts_col, user_col=user_col,
        gap_minutes=gap_minutes, tiebreak_col=id_col,
    )
    paths = (
        s.groupBy(user_col, "session_id")
        .agg(
            F.array_join(
                F.slice(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(ts_col, id_col, type_col)
                            )
                        ),
                        lambda e: e[type_col],
                    ),
                    1,
                    max_len,
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), F.col("path").asc())
        .limit(k)
    )


def co_visitation(
    df: DataFrame,
    k: int = 30,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
    gap_minutes: int = 30,
) -> DataFrame:
    """Session co-visitation pairs: the top-``k`` unordered event-type
    pairs that co-occur within the same gap-based session — the
    "users who did X in a session also did Y" signal behind
    recommendation candidate generation and navigation affinity.

    Output: (type_a, type_b, n_sessions) with ``type_a < type_b``
    (canonical orientation, so each pair counts once per session) —
    exact integers, no float drift.

    Scale shape: sessionize shuffles events once on ``user_col``; the
    per-session distinct-type set and the pair self-join both key on
    (user, session), so Catalyst reuses that partitioning — no second
    full shuffle of events. The self-join fan-out is bounded by
    |event types per session| choose 2, independent of session length
    (distinct BEFORE the join), and the final pair count aggregates a
    key space of at most |types|^2 — tiny. A runaway vocabulary of
    event types would need a skew cap on the session key; with a
    bounded type alphabet (the product-analytics norm) none is needed."""
    from ..streaming.windows import sessionize

    s = sessionize(
        df, ts_col=ts_col, user_col=user_col,
        gap_minutes=gap_minutes, tiebreak_col=id_col,
    )
    present = s.select(user_col, "session_id", type_col).distinct()
    a = present.alias("a")
    b = present.alias("b")
    pairs = a.join(
        b,
        on=[
            F.col(f"a.{user_col}") == F.col(f"b.{user_col}"),
            F.col("a.session_id") == F.col("b.session_id"),
            F.col(f"a.{type_col}") < F.col(f"b.{type_col}"),
        ],
    ).select(
        F.col(f"a.{type_col}").alias("type_a"),
        F.col(f"b.{type_col}").alias("type_b"),
    )
    return (
        pairs.groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), F.col("type_a").asc(), F.col("type_b").asc())
        .limit(k)
    )


def linear_attribution(
    df: DataFrame,
    convert_type: str = "purchase",
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Linear (equal-split) multi-touch attribution: each user's FIRST
    conversion distributes one unit of credit equally across the
    DISTINCT touch channels that occurred strictly before it — the
    standard complement to :func:`first_touch_attribution` when the
    middle of the journey must count too.

    Credits are INTEGER micro-units (``1_000_000 div n_touches``,
    floor): no float credit accumulation, so per-channel totals are
    exact, partition-invariant, and cross-engine reproducible (the
    unigram_nll/pagerank fixed-point discipline). The remainder
    (< n_touches micro-units per conversion) is deterministically
    dropped, identically in both engines. Events at exactly the
    conversion timestamp are NOT touches (strictly-before keeps the
    cut engine-order-independent when timestamps tie).

    Output: (channel, n_conversions, micro_credits) — conversions that
    credited the channel, and its exact micro-credit total.

    Scale shape: full-size event movement happens exactly twice — the
    map-side-combinable first-conversion aggregation, and the distinct
    over (user, touch-type). The conversion vector joins back as a
    broadcast while it fits (so the events scan is never reshuffled for
    the join), and everything after the distinct — per-user touch
    count, credit join, per-channel SUM — operates on the
    |users| x |channels|-bounded touch relation. Exact integers end to
    end."""
    conv = (
        df.filter(F.col(type_col) == convert_type)
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("_conv_ts"))
    )
    touches = (
        df.join(conv, user_col)
        .filter((F.col(ts_col) < F.col("_conv_ts")) & (F.col(type_col) != convert_type))
        .select(user_col, type_col)
        .distinct()
    )
    n_per_user = touches.groupBy(user_col).agg(
        F.count(F.lit(1)).alias("_n_touch")
    )
    credited = touches.join(n_per_user, user_col).select(
        F.col(type_col).alias("channel"),
        F.expr("1000000 div _n_touch").alias("_credit"),
    )
    return credited.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n_conversions"),
        F.sum("_credit").alias("micro_credits"),
    )


def association_rules(
    df: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    k: int = 20,
) -> DataFrame:
    """Market-basket association rules a→b over daily per-user baskets
    (basket = the DISTINCT event types a user produced on one day), with
    support / confidence / lift in exact integer micro-units.

    Pipeline: one shuffle builds the distinct (user, day, type) basket
    relation; pairs come from a self-join keyed on the basket id (small
    per-basket fan-out — the item domain is event-type-sized); item and
    basket totals are tiny and broadcast back. Metrics avoid float:
    conf_e6 = 1e6·n_ab div n_a, lift_e6 = 1e6·n_ab·N div (n_a·n_b)
    through DECIMAL(38,0). Top-k by lift, pair tiebreak."""
    basket = df.select(
        F.col(user_col).alias("u"),
        F.to_date(F.col(ts_col)).alias("d"),
        F.col(type_col).alias("item"),
    ).distinct()
    n_baskets = basket.select("u", "d").distinct().agg(
        F.count(F.lit(1)).alias("n_total")
    )
    item_counts = basket.groupBy("item").agg(F.count(F.lit(1)).alias("n_item"))
    a, b = basket.alias("a"), basket.alias("b")
    pair_counts = (
        a.join(
            b,
            (F.col("a.u") == F.col("b.u"))
            & (F.col("a.d") == F.col("b.d"))
            & (F.col("a.item") != F.col("b.item")),
        )
        .groupBy(
            F.col("a.item").alias("antecedent"),
            F.col("b.item").alias("consequent"),
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    ia = item_counts.select(
        F.col("item").alias("antecedent"), F.col("n_item").alias("n_a")
    )
    ib = item_counts.select(
        F.col("item").alias("consequent"), F.col("n_item").alias("n_b")
    )
    return (
        pair_counts.join(F.broadcast(ia), "antecedent")
        .join(F.broadcast(ib), "consequent")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "antecedent",
            "consequent",
            "n_ab",
            F.expr(
                "CAST(CAST(n_ab AS DECIMAL(38,0)) * 1000000 AS DECIMAL(38,0))"
                " div n_total"
            ).alias("support_e6"),
            F.expr(
                "CAST(CAST(n_ab AS DECIMAL(38,0)) * 1000000 AS DECIMAL(38,0))"
                " div n_a"
            ).alias("confidence_e6"),
            F.expr(
                "CAST(CAST(n_ab AS DECIMAL(38,0)) * n_total * 1000000"
                " AS DECIMAL(38,0)) div (CAST(n_a AS DECIMAL(38,0)) * n_b)"
            ).alias("lift_e6"),
        )
        .orderBy(
            F.col("lift_e6").desc(),
            F.col("antecedent").asc(),
            F.col("consequent").asc(),
        )
        .limit(k)
    )


def psi_drift(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    split_ts: str = "2024-01-16",
) -> DataFrame:
    """Population Stability Index of a metric distribution between a
    reference window (before ``split_ts``) and a current window — the
    standard model/feature drift monitor. Ten fixed-width buckets of
    width 50 (values from 450 up share the last one); per
    bucket the PSI term (p−q)·ln(p/q) is computed in the repo's
    integer-nanonat formulation: ONE libm log of the exact integer
    ratio (np·Nq)/(nq·Np), rounded once to 1e-9 units, then all-BIGINT
    cross-multiplied accumulation — order-independent and engine-exact.
    Buckets empty on either side are excluded (standard practice) but
    reported with null psi terms so the exclusion is visible. One scan,
    one ~10-row aggregation."""
    b = F.least(
        F.lit(9),
        F.floor(F.col(value_col) / F.lit(50.0)),
    ).cast("int")
    is_ref = F.col(ts_col) < F.lit(split_ts).cast("timestamp")
    counts = (
        df.select(b.alias("bucket"), is_ref.alias("_ref"))
        .groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("_ref"), 1).otherwise(0)).alias("n_ref"),
            F.sum(F.when(~F.col("_ref"), 1).otherwise(0)).alias("n_cur"),
        )
    )
    tot = counts.agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    both = F.col("n_ref") > 0
    both = both & (F.col("n_cur") > 0)
    # Cross products routed through DECIMAL(38,0) (exact), each cast to
    # DOUBLE once just before the IEEE division feeding ln() — bare
    # BIGINT*BIGINT wraps silently past 2^63 (~3e9-row windows) while
    # the DuckDB oracle's HUGEINT errors loudly; exact-then-double on
    # both engines keeps the rounded nanonat bit-identical.
    ln_nano = F.round(
        F.log(
            F.expr("CAST(CAST(n_ref AS DECIMAL(38,0)) * t_cur AS DOUBLE)")
            / F.expr("CAST(CAST(n_cur AS DECIMAL(38,0)) * t_ref AS DOUBLE)")
        )
        * F.lit(1e9),
        0,
    ).cast("long")
    # (p - q) * ln(p/q) with p = n_ref/t_ref, q = n_cur/t_cur:
    # ((n_ref*t_cur - n_cur*t_ref) * ln_nano) div (t_ref*t_cur), in
    # nanonats. The numerator is provably >= 0 ((p-q) and ln(p/q) share
    # sign; rounding ln to 0 zeroes the product), so truncating `div`
    # and flooring `//` agree.
    return (
        counts.crossJoin(F.broadcast(tot))
        .withColumn("_ln_nano", F.when(both, ln_nano))
        .select(
            "bucket",
            "n_ref",
            "n_cur",
            F.expr(
                "CAST((CAST(n_ref AS DECIMAL(38,0)) * t_cur"
                " - CAST(n_cur AS DECIMAL(38,0)) * t_ref) * _ln_nano"
                " AS DECIMAL(38,0))"
                " div (CAST(t_ref AS DECIMAL(38,0)) * t_cur)"
            ).alias("psi_term_nano"),
        )
        .orderBy("bucket")
    )


def survival_risk_sets(
    df: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    start_type: str = "signup",
    event_type: str = "purchase",
) -> DataFrame:
    """Shared risk-set relation for survival estimators (Kaplan–Meier,
    Nelson–Aalen): per distinct one-hour duration bucket t, the exact integer
    (n_events, n_censored, n_risk) triple — time measured from each
    user's first ``start_type`` to their first subsequent
    ``event_type``, right-censored at corpus end.

    The per-user reduction is two tiny aggregates and one left join
    carrying the >= predicate (censoring correctness — see inline
    note); risk sets come from ONE running-sum window over the
    distinct-duration relation, bounded by the time domain, never the
    user count."""
    from pyspark.sql import Window

    starts = (
        df.filter(F.col(type_col) == start_type)
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("_s"))
    )
    convs = df.filter(F.col(type_col) == event_type).select(
        F.col(user_col).alias("_cu"), F.col(ts_col).alias("_p")
    )
    # the >= predicate must live IN the left join: a user whose
    # conversions all precede the start would otherwise lose their null
    # row to a post-join filter and vanish instead of being censored.
    first_conv = (
        starts.join(
            convs,
            (F.col(user_col) == F.col("_cu")) & (F.col("_p") >= F.col("_s")),
            "left",
        )
        .groupBy(user_col, "_s")
        .agg(F.min("_p").alias("_p"))
    )
    end = df.agg(F.max(ts_col).alias("_end"))
    durations = first_conv.crossJoin(F.broadcast(end)).select(
        (
            (
                F.unix_timestamp(F.coalesce(F.col("_p"), F.col("_end")))
                - F.unix_timestamp(F.col("_s"))
            )
            / 3600
        )
        .cast("bigint")
        .alias("t"),
        F.col("_p").isNotNull().cast("int").alias("is_event"),
    )
    per_t = durations.groupBy("t").agg(
        F.sum("is_event").alias("n_events"),
        F.sum(1 - F.col("is_event")).alias("n_censored"),
    )
    w_before = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    total = per_t.agg(
        F.sum(F.col("n_events") + F.col("n_censored")).alias("n_total")
    )
    return per_t.crossJoin(F.broadcast(total)).select(
        "t",
        "n_events",
        "n_censored",
        (
            F.col("n_total")
            - F.coalesce(
                F.sum(F.col("n_events") + F.col("n_censored")).over(w_before),
                F.lit(0),
            )
        ).alias("n_risk"),
    )


def kaplan_meier(
    df: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    start_type: str = "signup",
    event_type: str = "purchase",
) -> DataFrame:
    """Kaplan–Meier survival curve for start→event conversion (time
    from first ``start_type`` to first subsequent ``event_type``; users
    who never convert are right-censored at the corpus end). The
    standard funnel/retention survival estimator.

    Exactness: durations are integer one-hour buckets; risk sets and event
    counts are exact integers from one running-sum window over the
    DISTINCT-duration relation (bounded by the time domain); the
    product Π(1−dᵢ/nᵢ) is carried in log domain with the repo's
    integer-nanonat pattern (one libm ln of an exact integer ratio per
    event time, cumulative BIGINT sum), and surv_e6 applies exp to the
    identical integer nanonat on both engines — one deterministic
    rounding. Terms with dᵢ = nᵢ (curve hits zero) emit NULL log-terms
    visibly rather than −∞."""
    from pyspark.sql import Window

    risk = survival_risk_sets(
        df, user_col, type_col, ts_col, start_type, event_type
    )
    ln_term = F.when(
        F.col("n_risk") > F.col("n_events"),
        F.round(
            F.log((F.col("n_risk") - F.col("n_events")) / F.col("n_risk"))
            * F.lit(1e9),
            0,
        ).cast("long"),
    )
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    curve = (
        risk.filter(F.col("n_events") > 0)
        .withColumn("_ln_nano", ln_term)
        .withColumn(
            "log_surv_nano",
            # a NULL term means the curve hit exactly zero (d == n_risk,
            # only possible at the final event time): surface NULL log
            # and survival 0 rather than a silently-wrong partial sum.
            F.when(
                F.col("_ln_nano").isNull(), F.lit(None).cast("long")
            ).otherwise(F.sum("_ln_nano").over(w_cum)),
        )
    )
    return curve.select(
        "t",
        "n_risk",
        "n_events",
        "n_censored",
        "log_surv_nano",
        F.when(F.col("log_surv_nano").isNull(), F.lit(0))
        .otherwise(
            F.round(
                F.exp(F.col("log_surv_nano") / F.lit(1e9)) * F.lit(1e6), 0
            ).cast("long")
        )
        .cast("long")
        .alias("surv_e6"),
    ).orderBy("t")


def rfm_segments(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """RFM (recency/frequency/monetary) customer segmentation: per-user
    metrics scored into quintiles with NTILE (deterministic via the
    user-id tiebreak — NTILE's row distribution is SQL-standard
    identical across engines given a total order), then rolled up to
    segment counts with exact cents totals. One user-keyed aggregation;
    the three ranking windows run over the USER-cardinality relation,
    not raw events."""
    from pyspark.sql import Window

    end = df.agg(F.max(ts_col).alias("_end"))
    per_user = (
        df.groupBy(user_col)
        .agg(
            F.max(ts_col).alias("_last"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(
                (F.col(value_col).cast("decimal(12,2)") * 100).cast("bigint")
            ).alias("monetary_cents"),
        )
        .crossJoin(F.broadcast(end))
        .select(
            user_col,
            F.floor(
                (
                    F.unix_timestamp(F.col("_end"))
                    - F.unix_timestamp(F.col("_last"))
                )
                / 86400
            )
            .cast("bigint")
            .alias("recency_days"),
            "frequency",
            "monetary_cents",
        )
    )
    scored = per_user.select(
        "recency_days",
        "frequency",
        "monetary_cents",
        F.ntile(5)
        .over(Window.orderBy(F.col("recency_days").asc(), F.col(user_col).asc()))
        .alias("r_score"),
        F.ntile(5)
        .over(Window.orderBy(F.col("frequency").desc(), F.col(user_col).asc()))
        .alias("f_score"),
        F.ntile(5)
        .over(
            Window.orderBy(F.col("monetary_cents").desc(), F.col(user_col).asc())
        )
        .alias("m_score"),
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("monetary_cents").alias("segment_cents"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


def burst_runs(
    df: DataFrame,
    ts_col: str = "ts",
    top_permille: int = 50,
) -> DataFrame:
    """Burst (incident) detection on the bucketed count series: the top
    ``top_permille``/1000 busiest hours (rank-based — a relative-to-mean
    threshold thins to nothing as Poisson counts concentrate with
    scale, so the cutoff is a fraction of hours, non-vacuous at every
    SF), merged into contiguous runs (gaps-and-islands) with per-run
    extent and peak. Selection is exact integer rank arithmetic with a
    (count desc, bucket asc) tiebreak; the islands key is bucket −
    row_number over the flagged set. All windows run over the bounded
    bucket series."""
    from pyspark.sql import Window

    hourly = (
        df.select(
            F.floor(F.unix_timestamp(F.col(ts_col)) / 3600)
            .cast("bigint")
            .alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tot = hourly.agg(F.count(F.lit(1)).alias("n_buckets"))
    ranked = hourly.crossJoin(F.broadcast(tot)).select(
        "bucket",
        "cnt",
        F.row_number()
        .over(Window.orderBy(F.col("cnt").desc(), F.col("bucket").asc()))
        .alias("_rk"),
        F.expr(f"(n_buckets * {top_permille} + 999) div 1000").alias("_k"),
    )
    flagged = ranked.filter(F.col("_rk") <= F.col("_k"))
    isl = flagged.select(
        "bucket",
        "cnt",
        (F.col("bucket") - F.row_number().over(Window.orderBy("bucket"))).alias(
            "_grp"
        ),
    )
    return (
        isl.groupBy("_grp")
        .agg(
            F.min("bucket").alias("run_start"),
            F.max("bucket").alias("run_end"),
            F.count(F.lit(1)).alias("n_hours"),
            F.max("cnt").alias("peak_cnt"),
            F.sum("cnt").alias("total_cnt"),
        )
        .drop("_grp")
        .select("run_start", "run_end", "n_hours", "peak_cnt", "total_cnt")
        .orderBy("run_start")
    )


def nelson_aalen(
    df: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    start_type: str = "signup",
    event_type: str = "purchase",
) -> DataFrame:
    """Nelson–Aalen cumulative hazard for start→event conversion —
    the sibling of :func:`kaplan_meier` on the SAME risk-set relation
    (shared via :func:`survival_risk_sets`): H(t) = Σ_{tᵢ<=t} dᵢ/nᵢ.
    Preferred over KM when hazard INCREMENTS are the signal (spotting
    when conversion pressure changes) and as the exp(-H) survival
    estimate that behaves better at small risk sets.

    Exactness: each hazard increment is ONE truncating division
    (dᵢ * 1e9) div nᵢ — both operands exact integers, numerator
    non-negative so Spark div and DuckDB // agree — and the cumulative
    sum is BIGINT. No float anywhere until the reader exponentiates.
    """
    from pyspark.sql import Window

    risk = survival_risk_sets(
        df, user_col, type_col, ts_col, start_type, event_type
    )
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    return (
        risk.filter(F.col("n_events") > 0)
        .withColumn(
            "_h_nano",
            F.expr(
                "(CAST(n_events AS DECIMAL(38,0)) * 1000000000)"
                " div n_risk"
            ),
        )
        .select(
            "t",
            "n_risk",
            "n_events",
            "n_censored",
            "_h_nano",
            F.sum("_h_nano").over(w_cum).alias("cum_hazard_nano"),
        )
        .withColumnRenamed("_h_nano", "hazard_nano")
        .orderBy("t")
    )
