"""Aggregation operators (SURVEY.md §2.4 A1-A7, §2.11 D10 validate).

All declarative groupBy/agg — Catalyst plans partial (map-side) + final
hash aggregation automatically, so a 4-key agg over 100 TB shuffles only
the per-group partials, not rows.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.scalar import count_if, decimal_avg, decimal_sum, null_count, safe_div


def date_range_stats(df: DataFrame, col: str) -> DataFrame:
    """Global min/max/count validation aggregate (A1,
    nyc_taxi_final.py:206-210)."""
    return df.agg(
        F.min(col).alias("min_value"),
        F.max(col).alias("max_value"),
        F.count(col).alias("row_count"),
    )


def null_counts(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """Per-column null counts in ONE pass (A2, nyc_taxi_final.py:214-216)."""
    cols = list(cols or df.columns)
    return df.select([null_count(F.col(c)).alias(c) for c in cols])


def invalid_counts(df: DataFrame, predicates: dict[str, Column]) -> DataFrame:
    """Named conditional counts, e.g. negative-precipitation rows (A3,
    nyc_taxi_final.py:220-222)."""
    return df.select([count_if(p).alias(name) for name, p in predicates.items()])


def ratio_of_sums(
    df: DataFrame,
    keys: Sequence[str],
    numerator: str,
    denominator: str,
    alias: str,
    scale_factor: float = 1.0,
    round_to: int | None = 2,
) -> DataFrame:
    """The reference's signature aggregate (A4/D5,
    nyc_taxi_final.py:471-481): grouped **weighted** mean
    ``sum(num)/(sum(den)+eps)*scale`` — NOT avg(num/den).

    Sums are decimal-typed for order-independent exactness (partial-agg
    merge order varies across runs/executors; see functions.scalar).
    """
    expr = safe_div(decimal_sum(F.col(numerator)), decimal_sum(F.col(denominator)))
    expr = expr * F.lit(scale_factor)
    if round_to is not None:
        expr = F.round(expr, round_to)
    return df.groupBy(*keys).agg(expr.alias(alias))


def global_scalar(df: DataFrame, expr: Column, alias: str = "value") -> DataFrame:
    """Global single-row aggregate (A5, nyc_taxi_final.py:491) — kept as a
    DataFrame so callers can cross-join it instead of `.first()[0]`-ing a
    scalar through the driver (a serialization point the reference has that
    we deliberately remove)."""
    return df.agg(expr.alias(alias))


def validate_table(
    df: DataFrame,
    date_col: str | None = None,
    nonnegative_cols: Sequence[str] = (),
) -> DataFrame:
    """One-pass validation aggregate (D10): row count, per-column null
    counts, negative-value counts, optional date range — the reference's
    show()-and-eyeball checks (nyc_taxi_final.py:203-223) folded into a
    single assertable row."""
    aggs: list[Column] = [F.count(F.lit(1)).alias("row_count")]
    for c in df.columns:
        aggs.append(null_count(F.col(c)).alias(f"nulls_{c}"))
    for c in nonnegative_cols:
        aggs.append(count_if(F.col(c) < 0).alias(f"negative_{c}"))
    if date_col:
        aggs.append(F.min(date_col).alias("min_date"))
        aggs.append(F.max(date_col).alias("max_date"))
    return df.agg(*aggs)


def rollup_agg(
    df: DataFrame,
    keys: Sequence[str],
    agg_exprs: dict[str, Column],
    grouping_id_col: str = "grouping_lvl",
) -> DataFrame:
    """Hierarchical subtotals (ROLLUP): one pass produces per-key,
    per-prefix, and grand-total rows. Catalyst expands grouping sets
    before the shuffle, so this is still a single partial+final hash
    aggregation — not N queries over the fact table. ``grouping_lvl``
    (the GROUPING_ID bitmask) disambiguates a subtotal row from a data
    row whose key is genuinely NULL."""
    return df.rollup(*keys).agg(
        F.grouping_id().alias(grouping_id_col),
        *[expr.alias(name) for name, expr in agg_exprs.items()],
    )


def cube_agg(
    df: DataFrame,
    keys: Sequence[str],
    agg_exprs: dict[str, Column],
    grouping_id_col: str = "grouping_lvl",
) -> DataFrame:
    """All-subsets subtotals (CUBE) — same single-pass property as
    `rollup_agg`, 2^|keys| grouping sets."""
    return df.cube(*keys).agg(
        F.grouping_id().alias(grouping_id_col),
        *[expr.alias(name) for name, expr in agg_exprs.items()],
    )


def approx_stats(
    df: DataFrame,
    cols: Sequence[str],
) -> DataFrame:
    """Sketch-based profiling aggregates: HyperLogLog++ distinct counts
    (`approx_count_distinct`, ~5 % relative standard deviation) and
    KLL-style approximate percentiles 0.5/0.95/0.99 (`percentile_approx`
    at accuracy 10000) in ONE pass.

    At 100 TB these are the only affordable forms — exact distinct is a
    full shuffle of every distinct value and exact percentiles a global
    sort; the sketches are fixed-size, mergeable map-side state (kilobytes
    per partition regardless of data volume). Error bounds are asserted
    against exact answers in tests/test_extensions.py."""
    aggs: list[Column] = [F.count(F.lit(1)).alias("row_count")]
    for c in cols:
        aggs.append(F.approx_count_distinct(c, 0.05).alias(f"approx_distinct_{c}"))
        aggs.append(
            F.percentile_approx(c, [0.5, 0.95, 0.99], 10000).alias(
                f"approx_percentiles_{c}"
            )
        )
    return df.agg(*aggs)


def assert_valid(
    df: DataFrame,
    date_col: str | None = None,
    nonnegative_cols: Sequence[str] = (),
) -> dict:
    """D10 as a HARD gate: run `validate_table` and raise ``ValueError``
    on any violation (nulls, negatives, empty table) instead of returning
    numbers for a human to eyeball — the operational form of the
    reference's show()-and-look checks. Returns the validation dict on
    success for logging."""
    row = validate_table(df, date_col, nonnegative_cols).first().asDict()
    problems = []
    if row["row_count"] == 0:
        problems.append("table is empty")
    for k, v in row.items():
        if (k.startswith("nulls_") or k.startswith("negative_")) and v:
            problems.append(f"{k}={v}")
    if problems:
        raise ValueError(f"validation failed: {', '.join(problems)}")
    return row


def summary_stats(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """df.summary() analogue (A7, nyc_taxi_final.py:338) restricted to
    named columns; uses exact count + decimal mean + min/max (the
    percentile part of summary() is approximate by design and stays in
    `DataFrame.summary` for interactive use)."""
    aggs: list[Column] = []
    for c in cols:
        aggs += [
            F.count(F.col(c)).alias(f"count_{c}"),
            F.round(decimal_avg(F.col(c)), 4).alias(f"mean_{c}"),
            F.min(c).alias(f"min_{c}"),
            F.max(c).alias(f"max_{c}"),
        ]
    return df.agg(*aggs)


def ntile_buckets(
    df: DataFrame,
    value_col: str,
    n_buckets: int = 10,
) -> DataFrame:
    """Equal-frequency bucketing (NTILE semantics) + per-bucket profile:
    the quality-stratification step of corpus curation ("drop the bottom
    decile, oversample the top one").

    Round-7 scale rewrite — aggregate-then-DISTRIBUTE, no global sort of
    the fact table: rows first COLLAPSE to per-value counts (one
    combinable shuffle), the running sum over the |distinct values|-row
    histogram gives each value its global rank interval [start, end],
    and NTILE's bucket arithmetic (first N mod n buckets get one extra
    row) distributes that interval across the <= n buckets it straddles
    in exact integers. Because rows tied on value are IDENTICAL in the
    profiled column, the per-bucket aggregates equal the row-level
    NTILE(value, id) profile exactly — same output, and the only
    unpartitioned window runs over the pre-aggregated histogram (the
    bounded-window contract pinned in tests/test_plans.py). The DuckDB
    oracle keeps the row-level NTILE form, differentially proving the
    distribution arithmetic."""
    from pyspark.sql import Window

    counts = df.groupBy(F.col(value_col).alias("_v")).agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    w = Window.orderBy(F.col("_v").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = (
        counts.withColumn("_end", F.sum("_cnt").over(w))
        .withColumn("_n", F.sum("_cnt").over(Window.partitionBy()))
        .withColumn("_start", F.col("_end") - F.col("_cnt") + 1)
    )
    # NTILE(n) over N rows: q = N div n, rem = N mod n; bucket b has
    # q+1 rows for b <= rem else q.  bucket(r) closed form (guarded for
    # q = 0, where only the first branch is ever taken):
    spread = (
        cum.withColumn("_q", F.expr(f"_n div {n_buckets}"))
        .withColumn("_rem", F.col("_n") % n_buckets)
        .withColumn(
            "_b0",
            F.expr(
                "CASE WHEN _start <= _rem * (_q + 1)"
                " THEN (_start - 1) div (_q + 1) + 1"
                " ELSE _rem + (_start - _rem * (_q + 1) - 1) div _q + 1 END"
            ),
        )
        .withColumn(
            "_b1",
            F.expr(
                "CASE WHEN _end <= _rem * (_q + 1)"
                " THEN (_end - 1) div (_q + 1) + 1"
                " ELSE _rem + (_end - _rem * (_q + 1) - 1) div _q + 1 END"
            ),
        )
        .select(
            "_v",
            "_cnt",
            "_start",
            "_end",
            "_q",
            "_rem",
            F.explode(F.sequence("_b0", "_b1")).alias("bucket"),
        )
        .withColumn(
            "_bstart",
            F.expr("(bucket - 1) * _q + least(bucket - 1, _rem) + 1"),
        )
        .withColumn("_bend", F.expr("bucket * _q + least(bucket, _rem)"))
        .withColumn(
            "_rows",
            F.least("_end", "_bend") - F.greatest("_start", "_bstart") + 1,
        )
        .filter(F.col("_rows") > 0)
    )
    return spread.groupBy(F.col("bucket").cast("int").alias("bucket")).agg(
        F.sum("_rows").alias("n_rows"),
        F.min("_v").alias("min_value"),
        F.max("_v").alias("max_value"),
        F.sum(F.col("_v").cast("bigint") * F.col("_rows")).alias(
            "total_value"
        ),
    )


def quantile_cutoff(
    df: DataFrame,
    value_col: str,
    q_pct: int = 99,
) -> DataFrame:
    """Exact q-th percentile WITHOUT a global sort of the fact table:
    aggregate to per-value counts (one shuffle, map-side combinable),
    then a running sum over the tiny distinct-value relation picks the
    smallest value whose cumulative count reaches ceil(q% * N). This is
    the scalable form of exact-percentile trimming: the window runs over
    |distinct values| rows, not |table| rows. Returns one row:
    (cutoff, n_total, n_at_or_below, n_above) — integer-exact.

    Semantics match SQL's ``percentile_disc(q) WITHIN GROUP (ORDER BY v)``
    for q expressed as a percentage."""
    from pyspark.sql import Window

    counts = df.groupBy(F.col(value_col).alias("v")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.orderBy(F.col("v").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = counts.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "n_total", F.sum("cnt").over(Window.partitionBy())
    )
    # ceil(q/100 * N) in pure integers: (N*q + 99) div 100
    target = (F.col("n_total") * q_pct + 99) / F.lit(100)
    hit = (
        cum.filter(F.col("cum") >= F.floor(target))
        .orderBy(F.col("v").asc())
        .limit(1)
    )
    return hit.select(
        F.col("v").alias("cutoff"),
        F.col("n_total"),
        F.col("cum").alias("n_at_or_below"),
        (F.col("n_total") - F.col("cum")).alias("n_above"),
    )


def skew_profile(df: DataFrame, key_col: str, k: int = 20) -> DataFrame:
    """Join-key skew diagnostic: the top-k heaviest keys with exact counts
    and share of total rows in basis points — the measurement that decides
    between a plain shuffle join, salting, or an AQE skew split. One
    map-side-combinable count agg; the scalar total rides in on a
    broadcast single-row cross join (never a global window), and only the
    top-k rows leave via TakeOrderedAndProject."""
    from pyspark.sql import Window

    counts = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    total = df.agg(F.count(F.lit(1)).alias("total"))
    order = [F.col("cnt").desc(), F.col("key").asc()]
    head = counts.join(F.broadcast(total)).orderBy(*order).limit(k)
    return head.select(
        F.row_number().over(Window.orderBy(*order)).alias("rank"),
        "key",
        "cnt",
        "total",
        F.floor(F.col("cnt") * 10000 / F.col("total")).alias("share_bp"),
    )


def corr_moments(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Exact decimal moments for Pearson correlation / covariance:
    (n, Σx, Σy, Σx², Σy², Σxy) with every sum in DECIMAL(38,8) — the
    inputs carry ≤2 decimals, so products have ≤4 and the sums are exact
    rationals, order-independent, identical on every engine. Float
    corr()/covar() differ at the last ulp per engine and per partition
    order; the moments never do, and corr derives driver-side in one
    line: (n·Σxy − Σx·Σy) / √(n·Σx²−Σx²ᵗᵒᵗ)·√(n·Σy²−Σy²ᵗᵒᵗ).
    One map-side-combinable aggregation, no shuffle beyond the final
    single-row reduce."""
    x = F.col(x_col).cast("decimal(18,4)")
    y = F.col(y_col).cast("decimal(18,4)")
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("decimal(38,8)").alias("sum_x"),
        F.sum(y).cast("decimal(38,8)").alias("sum_y"),
        F.sum((x * y).cast("decimal(38,8)")).alias("sum_xy"),
        F.sum((x * x).cast("decimal(38,8)")).alias("sum_x2"),
        F.sum((y * y).cast("decimal(38,8)")).alias("sum_y2"),
    )


def grouped_quantile_cutoff(
    df: DataFrame,
    group_col: str,
    value_col: str,
    q_pct: int = 50,
) -> DataFrame:
    """Per-group exact q-th percentile (percentile_disc semantics) with
    the same histogram-ranking shape as `quantile_cutoff`: aggregate to
    per-(group, value) counts first, run the window over that relation
    (|groups × distinct values| rows, not |table| rows), pick the
    smallest value whose cumulative count reaches ceil(q% · group
    total). At scale the only full-table operation is one combinable
    count shuffle."""
    from pyspark.sql import Window

    counts = df.groupBy(
        F.col(group_col).alias("grp"), F.col(value_col).alias("v")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = (
        Window.partitionBy("grp")
        .orderBy(F.col("v").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = counts.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "n_total", F.sum("cnt").over(Window.partitionBy("grp"))
    )
    target = F.floor((F.col("n_total") * q_pct + 99) / F.lit(100))
    return (
        cum.filter(F.col("cum") >= target)
        .groupBy("grp")
        .agg(F.min("v").alias("cutoff"), F.max("n_total").alias("n_total"))
    )


def winsorize_summary(
    df: DataFrame,
    value_col: str,
    q_pct: int = 99,
) -> DataFrame:
    """Winsorized aggregate: clip values above the exact q-th percentile
    (from `quantile_cutoff`'s histogram ranking — no global sort) and
    report before/after sums plus the clip count. The cutoff is a 1-row
    broadcast cross join, so the clipping pass stays a narrow map over
    the fact table; sums are decimal-exact (order-independent)."""
    from ..functions.scalar import decimal_sum

    cutoff = quantile_cutoff(df, value_col, q_pct).select("cutoff")
    v = F.col(value_col).cast("decimal(18,4)")
    clipped = F.least(v, F.col("cutoff").cast("decimal(18,4)"))
    return (
        df.join(F.broadcast(cutoff))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum((F.col(value_col) > F.col("cutoff")).cast("long")).alias(
                "n_clipped"
            ),
            F.min("cutoff").alias("cutoff"),
            F.sum(v).cast("decimal(38,8)").cast("double").alias("sum_raw"),
            F.sum(clipped).cast("decimal(38,8)").cast("double").alias("sum_winsorized"),
        )
    )


# ---------------------------------------------------------------------------
# Mergeable partial-aggregate state — incremental rollup maintenance.
#
# At 100 TB you do not recompute yesterday's rollup when today's batch
# lands: you keep an ALGEBRAIC state per group — every field a
# commutative monoid (sum, count, min, max) — merge the new batch's
# state into it, and derive the non-mergeable metrics (mean) only at
# read time. This is the same decomposition Spark itself uses for
# partial/final hash aggregation, lifted to a persisted table so the
# merge can happen across days/runs instead of across partitions.
# ---------------------------------------------------------------------------


def partial_agg_state(
    df: DataFrame,
    keys: Sequence[str],
    val_col: str,
) -> DataFrame:
    """Collapse rows to per-key mergeable state:
    (keys..., n_rows, n_vals, sum_val DECIMAL(38,2), min_val, max_val).

    ``sum_val`` is a DECIMAL sum of 2-decimal-quantized values, so merge
    order can never change the total (float sums are order-dependent;
    decimal sums are exact integers underneath). One shuffle on ``keys``
    with map-side combine. AVG is deliberately absent — it is NOT
    mergeable; derive it in :func:`finalize_agg_state`."""
    v = F.col(val_col)
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(v).alias("n_vals"),
        F.sum(v.cast("decimal(12,2)")).cast("decimal(38,2)").alias("sum_val"),
        F.min(v).alias("min_val"),
        F.max(v).alias("max_val"),
    )


def merge_agg_states(*states: DataFrame) -> DataFrame:
    """Merge any number of compatible state tables (yesterday's rollup +
    today's batch + a backfill, ...) into one: union + re-aggregate with
    each field's own monoid (counts and sums add; min/max take
    extremes). Idempotent in shape: the output schema equals the input
    schema, so states chain across arbitrarily many days."""
    if not states:
        raise ValueError("merge_agg_states needs at least one state")
    merged = states[0]
    for s in states[1:]:
        merged = merged.unionByName(s)
    keys = [c for c in merged.columns
            if c not in ("n_rows", "n_vals", "sum_val", "min_val", "max_val")]
    return merged.groupBy(*keys).agg(
        F.sum("n_rows").alias("n_rows"),
        F.sum("n_vals").alias("n_vals"),
        F.sum("sum_val").cast("decimal(38,2)").alias("sum_val"),
        F.min("min_val").alias("min_val"),
        F.max("max_val").alias("max_val"),
    )


def finalize_agg_state(state: DataFrame) -> DataFrame:
    """Derive the read-time metrics from mergeable state: mean as ONE
    exact-decimal-over-int division (cross-engine bit-identical), plus
    the passthrough monoid fields."""
    keys = [c for c in state.columns
            if c not in ("n_rows", "n_vals", "sum_val", "min_val", "max_val")]
    return state.select(
        *keys,
        "n_rows",
        "n_vals",
        F.col("sum_val").cast("double").alias("sum_val"),
        (F.col("sum_val").cast("double") / F.col("n_vals")).alias("mean_val"),
        "min_val",
        "max_val",
    )


def skyline_2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    buckets: int = 32,
) -> DataFrame:
    """Pareto frontier maximizing BOTH columns: the points no other row
    beats on x and y simultaneously (domination = >= on both, > on one).
    Output: the distinct frontier points with their row counts.

    Distributed shape — the classic two-level skyline: a globally
    undominated point is undominated in every subset, so (1) points
    hash into ``buckets`` and each bucket computes its LOCAL skyline in
    parallel (sort by (x desc, y desc); a point survives iff every
    preceding point's y is smaller — after (x, y) dedup that predicate
    is exactly non-domination), then (2) the same pass runs globally on
    the tiny survivor union. The global window IS single-partition, but
    it only ever sees local-skyline survivors — never the fact table.
    The bucket hash never affects the RESULT (only the pruning), which
    is why a direct single-pass oracle can check this differentially."""
    from pyspark.sql import Window

    pts = df.groupBy(x_col, y_col).agg(F.count(F.lit(1)).alias("n_rows"))
    bucketed = pts.withColumn(
        "_b", F.pmod(F.xxhash64(x_col, y_col), F.lit(buckets))
    )

    def survivors(frame: DataFrame, w: "Window") -> DataFrame:
        cm = F.max(y_col).over(
            w.orderBy(F.col(x_col).desc(), F.col(y_col).desc()).rowsBetween(
                Window.unboundedPreceding, -1
            )
        )
        return (
            frame.withColumn("_cm", cm)
            .filter(F.col("_cm").isNull() | (F.col("_cm") < F.col(y_col)))
            .drop("_cm")
        )

    local = survivors(bucketed, Window.partitionBy("_b")).drop("_b")
    return survivors(local, Window.partitionBy())


def table_checksum(
    df: DataFrame,
    cols: Sequence[str],
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Order-independent table checksum for migration/CDC parity audits:
    per group (or globally), the row count and the XOR-aggregate of a
    cross-engine md5 row hash over ``cols`` — two tables agree iff
    (n_rows, checksum) agree per group, with O(|groups|) output instead
    of the O(rows) a full `full_outer_reconcile` ships.

    XOR is the right monoid here: commutative/associative (partition
    order can't change it), overflow-free (no ANSI sum wraparound), and
    any single-row difference flips it with probability 1 - 2^-60.
    The row hash is ``md5_hash60`` of a NUL-delimited canonical string
    (NULL encoded distinctly from the empty string), so DuckDB replays
    it bit-for-bit. One combinable aggregation — map-side partials
    collapse rows before the (tiny) group exchange."""
    from ..functions.hashing import md5_hash60

    canonical = F.concat_ws(
        "\x00",
        *[
            F.coalesce(F.col(c).cast("string"), F.lit("\x01NULL"))
            for c in cols
        ],
    )
    row_hash = md5_hash60(canonical)
    keys = [F.col(k) for k in group_cols]
    agg = [
        F.count(F.lit(1)).alias("n_rows"),
        F.bit_xor(row_hash).alias("checksum"),
    ]
    return df.groupBy(*keys).agg(*agg) if keys else df.agg(*agg)


def mad_outlier_summary(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k_tenths: int = 30,
) -> DataFrame:
    """Robust per-group outlier screen: median / MAD (median absolute
    deviation) with discrete-percentile semantics, flagging rows whose
    deviation exceeds ``k_tenths/10`` MADs — the outlier detector that,
    unlike z-scores, is not itself dragged by the outliers it hunts.

    Output: (grp, n_total, median_v, mad, n_outliers). ``k_tenths`` is
    an integer (30 -> the classic 3.0x) so the threshold comparison is
    ``10 * |dev| > k_tenths * mad`` — pure integer/decimal arithmetic,
    no float k to drift.

    Exactness: both medians are percentile_disc picks (smallest value
    whose cumulative count reaches ceil(n/2)) — actual data values, no
    interpolation arithmetic to diverge cross-engine; deviations of
    DECIMAL inputs stay exact.

    Scale shape: two histogram-ranked discrete medians (each a
    combinable count shuffle + a window over |groups x distinct
    values|, never the full table — grouped_quantile_cutoff's shape),
    with the per-group median/MAD joined back as broadcast-size
    relations; the final screen is one combinable count aggregation."""
    med = grouped_quantile_cutoff(df, group_col, value_col, q_pct=50).select(
        F.col("grp"), F.col("cutoff").alias("median_v")
    )
    dev = (
        df.select(F.col(group_col).alias("grp"), F.col(value_col).alias("_v"))
        .join(F.broadcast(med), "grp")
        .withColumn("_dev", F.abs(F.col("_v") - F.col("median_v")))
    )
    mad = grouped_quantile_cutoff(dev, "grp", "_dev", q_pct=50).select(
        F.col("grp"), F.col("cutoff").alias("mad"), F.col("n_total")
    )
    return (
        dev.join(F.broadcast(mad), "grp")
        .groupBy("grp")
        .agg(
            F.max("n_total").alias("n_total"),
            F.max("median_v").alias("median_v"),
            F.max("mad").alias("mad"),
            F.sum(
                F.when(
                    F.lit(10) * F.col("_dev") > F.lit(k_tenths) * F.col("mad"), 1
                ).otherwise(0)
            ).alias("n_outliers"),
        )
    )


def ab_welch_summary(
    df: DataFrame,
    unit_col: str,
    value_col: str,
) -> DataFrame:
    """Two-arm A/B comparison with Welch's t statistic, computed at the
    EXPERIMENT-UNIT level: per-unit metric totals first (events within a
    user are correlated — row-level stats overstate significance), then
    arm-level n / mean / variance and the t statistic. Arms are assigned
    by unit-id parity — deterministic, reproducible, engine-neutral (a
    hash bucket would tie the assignment to one engine's hash).

    Output: one row — (n_a, n_b, mean_a, mean_b, var_a, var_b,
    welch_t), means/vars/t rounded to 6 digits.

    Exactness: per-unit totals and the arm-level sum / sum-of-squares
    accumulate in DECIMAL (order-independent); the mean / variance /
    t-statistic formulas then run in DOUBLE with one fixed operation
    order mirrored by the oracle, and ROUND caps the last-ulp surface
    (the bm25 contract). Variance is the textbook
    (sumsq - sum^2/n) / (n - 1) — fine in double here because the
    decimal sums are exact before the single widening.

    Scale shape: one combinable per-unit shuffle, then a 2-group
    combinable aggregation; the final single-row join of the two arms
    is driver-trivial. Nothing quadratic, zero Python."""
    per_unit = (
        df.select(
            (F.col(unit_col) % 2).alias("_arm"),
            F.col(unit_col).alias("_u"),
            F.col(value_col).cast("decimal(18,4)").alias("_v"),
        )
        .groupBy("_arm", "_u")
        .agg(F.sum("_v").alias("_m"))
    )
    arms = per_unit.groupBy("_arm").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.col("_m")).alias("_s"),
        F.sum(
            (F.col("_m") * F.col("_m")).cast("decimal(38,8)")
        ).alias("_ss"),
    )
    a = arms.filter(F.col("_arm") == 0).select(
        F.col("_n").alias("n_a"),
        F.col("_s").cast("double").alias("_sa"),
        F.col("_ss").cast("double").alias("_ssa"),
    )
    b = arms.filter(F.col("_arm") == 1).select(
        F.col("_n").alias("n_b"),
        F.col("_s").cast("double").alias("_sb"),
        F.col("_ss").cast("double").alias("_ssb"),
    )
    j = a.crossJoin(b)
    mean_a = F.col("_sa") / F.col("n_a")
    mean_b = F.col("_sb") / F.col("n_b")
    var_a = (F.col("_ssa") - (F.col("_sa") * F.col("_sa")) / F.col("n_a")) / (
        F.col("n_a") - F.lit(1)
    )
    var_b = (F.col("_ssb") - (F.col("_sb") * F.col("_sb")) / F.col("n_b")) / (
        F.col("n_b") - F.lit(1)
    )
    t = (mean_a - mean_b) / F.sqrt(var_a / F.col("n_a") + var_b / F.col("n_b"))
    r = lambda c: F.round(c, 6)  # noqa: E731
    return j.select(
        "n_a",
        "n_b",
        r(mean_a).alias("mean_a"),
        r(mean_b).alias("mean_b"),
        r(var_a).alias("var_a"),
        r(var_b).alias("var_b"),
        r(t).alias("welch_t"),
    )


def dq_report(checks: dict[str, DataFrame]) -> DataFrame:
    """Data-quality constraint report: each named check is a DataFrame
    whose single aggregated row/column yields the violation COUNT (0 =
    constraint holds); the report unions them into (check, violations)
    — the deequ-style artifact a pipeline gates on and a warehouse
    stores per run.

    Each check stays an independent single-pass aggregate (count
    distinct, anti-join count, conditional count — all combinable);
    the union is |checks| one-row relations, so the report costs
    exactly the sum of its checks and parallelizes across them. The
    output is sorted by check name (a final orderBy over the |checks|-
    row result — free), so the contract holds even when a fused
    :func:`dq_column_checks` group contributes rows under one label.

    A check value may also be a PRE-SHAPED (check, violations) relation
    — the output of :func:`dq_column_checks`, which fuses several
    same-table constraints into ONE scan — in which case its own check
    names are used and the dict key is just a group label."""
    if not checks:
        raise ValueError("dq_report needs at least one check")
    parts = []
    for name, df in sorted(checks.items()):
        if list(df.columns) == ["check", "violations"]:
            parts.append(df)
            continue
        col = df.columns[0]
        parts.append(
            df.select(
                F.lit(name).alias("check"),
                F.col(col).cast("long").alias("violations"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("check")


def dq_column_checks(df: DataFrame, exprs: dict[str, Column]) -> DataFrame:
    """Fuse several same-table constraint checks into ONE scan: each
    named value is an AGGREGATE expression yielding that check's
    violation count; all of them evaluate in a single multi-aggregate
    pass over ``df``, and the one wide row is unpivoted with ``stack``
    into (check, violations) rows — feed the result straight into
    :func:`dq_report`.

    At 100 TB this is the difference between one table pass per
    constraint and one pass total: N independent one-row aggregates on
    the same fact table each re-scan it, while a fused aggregation
    shares the scan, the partial-aggregation stage, and the single-row
    exchange. (Join-shaped checks like :func:`fk_orphans` keep their own
    plan — only plain column constraints fuse.)"""
    if not exprs:
        raise ValueError("dq_column_checks needs at least one expression")
    names = sorted(exprs)
    row = df.agg(*[exprs[n].cast("long").alias(n) for n in names])
    stack = ", ".join(f"'{n}', `{n}`" for n in names)
    return row.selectExpr(
        f"stack({len(names)}, {stack}) AS (check, violations)"
    )


def pk_duplicates_expr(*key_cols: str) -> Column:
    """Aggregate expression form of :func:`pk_duplicates` (rows minus
    distinct keys), for fusing into :func:`dq_column_checks`."""
    return F.count(F.lit(1)) - F.count_distinct(*[F.col(c) for c in key_cols])


def dq_fused_table_checks(
    fact: DataFrame,
    column_exprs: dict[str, "Column"],
    fk_checks: dict[str, tuple[DataFrame, str, str]] | None = None,
) -> DataFrame:
    """Fuse ALL of one fact table's constraints — plain column/aggregate
    checks AND FK-orphan checks — into ONE scan of the fact table
    (round-7 close of the r5 stretch item; PLANS.md dq_report).

    Each ``fk_checks[name] = (parent_df, fact_key, parent_key)`` becomes a
    broadcast LEFT join against the parent's DISTINCT key column (distinct
    keeps the join row-preserving even if the parent key has duplicates —
    the parent's own PK check reports those separately), after which the
    orphan count is just ``count_if(marker IS NULL)`` — an expression in
    the SAME conditional aggregation as every column check. At 100 TB the
    fact table is read ONCE for its whole constraint set instead of once
    per constraint; the parents stay dim-sized broadcast builds.

    Output: (check, violations) rows — feed straight into
    :func:`dq_report`."""
    if not column_exprs and not fk_checks:
        raise ValueError("dq_fused_table_checks needs at least one check")
    out = fact
    exprs = dict(column_exprs)
    for name, (parent, fact_key, parent_key) in sorted(
        (fk_checks or {}).items()
    ):
        marker = f"_dq_fk_{name}"
        out = out.join(
            F.broadcast(
                parent.select(F.col(parent_key).alias(marker)).distinct()
            ),
            on=F.col(fact_key) == F.col(marker),
            how="left",
        )
        # count_if-shaped, not SUM: SUM over zero rows is NULL, and an
        # empty fact table must report 0 violations (parity with
        # fk_orphans, whose COUNT() returns 0).
        exprs[name] = F.coalesce(
            F.sum(F.col(marker).isNull().cast("long")), F.lit(0)
        )
    names = sorted(exprs)
    row = out.agg(*[exprs[n].cast("long").alias(n) for n in names])
    stack = ", ".join(f"'{n}', `{n}`" for n in names)
    return row.selectExpr(
        f"stack({len(names)}, {stack}) AS (check, violations)"
    )


def pk_duplicates(df: DataFrame, *key_cols: str) -> DataFrame:
    """Violation count for a primary-key constraint: rows minus distinct
    keys (0 = unique). NULL-key caveat: count_distinct drops rows where
    ANY key column is NULL, so null-bearing keys inflate the count —
    correct for a PK check (NULL keys ARE violations), but pair with an
    explicit not-null check when the distinction matters."""
    return df.agg(pk_duplicates_expr(*key_cols).alias("violations"))


def fk_orphans(child: DataFrame, parent: DataFrame, child_key: str, parent_key: str) -> DataFrame:
    """Violation count for referential integrity: child rows whose key
    has no parent (left anti join, then count)."""
    return (
        child.join(
            parent.select(F.col(parent_key).alias(child_key)).distinct(),
            child_key,
            "left_anti",
        ).agg(F.count(F.lit(1)).alias("violations"))
    )


def ols_fit(
    df: DataFrame,
    group_col: str,
    x: Column,
    y_cents: Column,
) -> DataFrame:
    """Grouped simple linear regression (closed-form OLS) in EXACT
    integer arithmetic: with integer x (e.g. days-since-epoch) and
    integer y (cents), every moment is exact, the slope/intercept
    numerators and denominators are DECIMAL(38,0) integer expressions,
    and the 1e-6-unit outputs come from sign-split integer division
    (truncation == floor on the non-negative operands, so Spark ``div``
    and DuckDB ``//`` agree). One combinable groupBy — five sums — then
    per-group scalar math: the canonical "regression by moments" that
    map-side-combines at any scale.
    """
    sums = df.select(
        F.col(group_col), x.cast("bigint").alias("_x"), y_cents.alias("_y")
    ).groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        # row products through DECIMAL(38,0): days x cents passes BIGINT
        # range near 1e9 rows/group (oracle HUGEINT matches exactly)
        F.sum(F.col("_x").cast("decimal(38,0)") * F.col("_y")).alias("_sxy"),
        F.sum(F.col("_x").cast("decimal(38,0)") * F.col("_x")).alias("_sxx"),
    )
    wide = sums.select(
        group_col,
        "n",
        "_sx",
        "_sy",
        F.expr(
            "CAST(n AS DECIMAL(38,0)) * _sxy - CAST(_sx AS DECIMAL(38,0)) * _sy"
        ).alias("_num"),
        F.expr(
            "CAST(n AS DECIMAL(38,0)) * _sxx - CAST(_sx AS DECIMAL(38,0)) * _sx"
        ).alias("_den"),
    )
    slope = F.when(F.col("_num") < 0, F.lit(-1)).otherwise(F.lit(1)) * F.expr(
        "CAST(abs(_num) * 1000000 AS DECIMAL(38,0)) div _den"
    )
    with_slope = wide.select(
        group_col, "n", "_sx", "_sy", slope.alias("slope_e6")
    )
    icept_num = F.expr(
        "CAST(_sy AS DECIMAL(38,0)) * 1000000 - CAST(slope_e6 AS DECIMAL(38,0)) * _sx"
    )
    return (
        with_slope.select(
            group_col,
            F.col("n").alias("n_rows"),
            "slope_e6",
            (
                F.when(icept_num < 0, F.lit(-1)).otherwise(F.lit(1))
                * F.expr(
                    "CAST(abs(CAST(_sy AS DECIMAL(38,0)) * 1000000"
                    " - CAST(slope_e6 AS DECIMAL(38,0)) * _sx)"
                    " AS DECIMAL(38,0)) div n"
                )
            ).alias("intercept_e6"),
        )
        .orderBy(group_col)
    )


# Benford expected first-digit shares, 1e6-scaled round(log10(1+1/d)*1e6).
_BENFORD_E6 = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
    6: 66947, 7: 57992, 8: 51153, 9: 45757,
}


def benford_digits(df: DataFrame, cents: Column) -> DataFrame:
    """Benford's-law first-digit audit of a positive money column — the
    classic fraud/DQ screen. The leading significant digit is invariant
    under the ×100 cents scaling, so it is read off the integer cents
    string (no float log). Output per digit: observed count, observed
    share in micro-units, Benford's expected share, and the absolute
    deviation — all exact integers; the aggregation is a 9-key groupBy
    with map-side combine, so it is scan-bound at any scale."""
    digit = F.substring(cents.cast("string"), 1, 1).cast("int")
    counts = (
        df.select(digit.alias("digit"))
        .filter(F.col("digit") >= 1)
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = counts.agg(F.sum("n").alias("n_total"))
    expected = F.create_map(
        *[F.lit(x) for kv in _BENFORD_E6.items() for x in kv]
    )
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n",
            F.expr(
                "CAST(CAST(n AS DECIMAL(38,0)) * 1000000 AS DECIMAL(38,0))"
                " div n_total"
            ).alias("share_e6"),
            expected[F.col("digit")].alias("benford_e6"),
        )
        .withColumn(
            "abs_dev_e6", F.abs(F.col("share_e6") - F.col("benford_e6"))
        )
        .orderBy("digit")
    )


def gini_coefficient(df: DataFrame, key_col: str, cents: Column) -> DataFrame:
    """Gini concentration of a money total across keys (revenue
    concentration — the inequality/skew health metric). Per-key cents
    totals are ranked ascending (key tiebreak → deterministic ranks even
    on tied totals) and the closed form G = (2·Σi·xᵢ − (n+1)·Σx)/(n·Σx)
    ships as exact integers with one 1e-6-unit floor division (numerator
    provably ≥ 0 for ascending order). The global sort runs on the
    KEY-cardinality relation (customers, not line items) — bounded, and
    the only ordered step."""
    from pyspark.sql import Window

    per_key = (
        df.select(F.col(key_col).alias("_k"), cents.alias("_c"))
        .groupBy("_k")
        .agg(F.sum("_c").alias("x"))
    )
    w = Window.orderBy(F.col("x").asc(), F.col("_k").asc())
    ranked = per_key.select("x", F.row_number().over(w).alias("i"))
    return ranked.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("x").alias("total_cents"),
        F.sum(F.col("i").cast("decimal(38,0)") * F.col("x")).alias("_ix"),
    ).select(
        "n_keys",
        "total_cents",
        F.expr(
            "CAST((2 * _ix - CAST(n_keys + 1 AS DECIMAL(38,0)) * total_cents)"
            " * 1000000 AS DECIMAL(38,0))"
            " div (CAST(n_keys AS DECIMAL(38,0)) * total_cents)"
        ).alias("gini_e6"),
    )


def chi_square_independence(
    df: DataFrame, row_col: str, col_col: str
) -> DataFrame:
    """Per-cell chi-square contributions for a two-way contingency table
    (independence screen between two categorical columns). Expected
    counts and contributions are exact-integer micro-units:
    contrib_e6 = (O·N − R·C)²·1e6 div (N·R·C) through DECIMAL(38,0) —
    engine-exact, order-independent. One groupBy over the cell keys plus
    two broadcast margins; consumers sum contrib_e6 for the statistic."""
    cells = df.groupBy(
        F.col(row_col).alias("r"), F.col(col_col).alias("c")
    ).agg(F.count(F.lit(1)).alias("o"))
    rm = cells.groupBy("r").agg(F.sum("o").alias("r_tot"))
    cm = cells.groupBy("c").agg(F.sum("o").alias("c_tot"))
    tot = cells.agg(F.sum("o").alias("n_tot"))
    return (
        cells.join(F.broadcast(rm), "r")
        .join(F.broadcast(cm), "c")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("r").alias(row_col),
            F.col("c").alias(col_col),
            F.col("o").alias("observed"),
            F.expr(
                "CAST(1000 AS DECIMAL(38,0)) * r_tot * c_tot div n_tot"
            ).alias("expected_milli"),
            F.expr(
                "CAST(CAST(CAST(o AS DECIMAL(38,0)) * n_tot"
                " - CAST(r_tot AS DECIMAL(38,0)) * c_tot AS DECIMAL(38,0))"
                " * (CAST(o AS DECIMAL(38,0)) * n_tot"
                "    - CAST(r_tot AS DECIMAL(38,0)) * c_tot)"
                " * 1000000 AS DECIMAL(38,0))"
                " div (CAST(n_tot AS DECIMAL(38,0)) * r_tot * c_tot)"
            ).alias("contrib_e6"),
        )
        .orderBy(row_col, col_col)
    )


def mann_whitney_u(
    df: DataFrame,
    group_col: str,
    group_a: str,
    group_b: str,
    cents: Column,
) -> DataFrame:
    """Exact Mann–Whitney U (rank-sum) statistic between two groups —
    the nonparametric A/B complement to the Welch t-test. Tie-averaged
    ranks are kept integral by working in DOUBLED rank units:
    2·rank(value) = 2·(count below) + (count at value) + 1, computed
    from the per-distinct-value count relation with one running-sum
    window (bounded by the VALUE DOMAIN, not row count). Outputs the
    doubled rank sum and U statistics plus the doubled mean
    (mu2 = n_a·n_b) — all exact BIGINT, no float."""
    from pyspark.sql import Window

    marked = df.select(
        cents.alias("v"),
        F.when(F.col(group_col) == group_a, F.lit(1)).otherwise(F.lit(0)).alias("_a"),
        F.when(F.col(group_col) == group_b, F.lit(1)).otherwise(F.lit(0)).alias("_b"),
    ).filter((F.col("_a") == 1) | (F.col("_b") == 1))
    per_val = marked.groupBy("v").agg(
        F.sum("_a").alias("na_v"), F.sum("_b").alias("nb_v")
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    ranked = per_val.select(
        "v",
        "na_v",
        "nb_v",
        (
            2 * F.coalesce(F.sum(F.col("na_v") + F.col("nb_v")).over(w), F.lit(0))
            + (F.col("na_v") + F.col("nb_v"))
            + 1
        ).alias("rank2"),
    )
    # rank-weighted sums approach 2N² — DECIMAL(38,0) through the
    # arithmetic (oracle HUGEINT), BIGINT only on the final outputs
    # (their documented range).
    return ranked.agg(
        F.sum("na_v").alias("n_a"),
        F.sum("nb_v").alias("n_b"),
        F.sum(F.col("na_v").cast("decimal(38,0)") * F.col("rank2")).alias(
            "_r2a"
        ),
    ).select(
        "n_a",
        "n_b",
        F.col("_r2a").cast("bigint").alias("r2_a"),
        F.expr(
            "CAST(_r2a - CAST(n_a AS DECIMAL(38,0)) * (n_a + 1) AS BIGINT)"
        ).alias("u2_a"),
        F.expr(
            "CAST(2 * CAST(n_a AS DECIMAL(38,0)) * n_b"
            " - (_r2a - CAST(n_a AS DECIMAL(38,0)) * (n_a + 1)) AS BIGINT)"
        ).alias("u2_b"),
        F.expr("CAST(CAST(n_a AS DECIMAL(38,0)) * n_b AS BIGINT)").alias(
            "mu2_u"
        ),
    )


def column_entropy(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Per-column Shannon entropy + distinct-count profile of
    categorical columns (the data-profiling signal behind drift and
    join-key health checks). One unpivot scan → per-(column, value)
    counts → the integer-nanonat entropy formulation: each value
    contributes c·round(−ln(c/N)·1e9) BIGINT nanonats, summed and
    floor-divided by N — order-independent, engine-exact, and the
    second shuffle is value-domain-sized."""
    stack_args = ", ".join(f"'{c}', CAST({c} AS STRING)" for c in cols)
    long = df.select(
        F.expr(f"stack({len(cols)}, {stack_args}) AS (col, val)")
    )
    counts = long.groupBy("col", "val").agg(F.count(F.lit(1)).alias("c"))
    totals = counts.groupBy("col").agg(F.sum("c").alias("n"))
    return (
        counts.join(F.broadcast(totals), "col")
        .select(
            "col",
            "c",
            "n",
            (
                F.col("c")
                * F.round(-F.log(F.col("c") / F.col("n")) * F.lit(1e9), 0).cast(
                    "long"
                )
            ).alias("_nano"),
        )
        .groupBy("col")
        .agg(
            F.max("n").alias("n_values"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.expr("sum(_nano) div max(n)").alias("entropy_nano"),
        )
        .orderBy("col")
    )


def salted_aggregate(
    df: DataFrame,
    key_col: str,
    salt_expr: Column,
    n_salts: int,
    sum_cols: dict[str, Column],
) -> DataFrame:
    """Two-stage SALTED aggregation for hot grouping keys — the explicit
    skew treatment for when AQE can't help (AQE splits skewed JOIN
    partitions, but a skewed partial-agg reduce task has no runtime
    rescue if the combiner ratio is poor, e.g. high-cardinality
    secondary state per key).

    Stage 1 groups on (key, salt mod ``n_salts``) so a key whose rows
    would all land in one reduce task spread across ``n_salts`` tasks;
    stage 2 re-aggregates the n_salts partial rows per key — a
    |keys| x n_salts relation, trivially small. Every aggregate must be
    COMBINABLE (sums/counts here; the same trick carries any
    commutative monoid). Result is EXACTLY the plain groupBy — which is
    what the differential oracle checks — while the physical plan swaps
    one skew-bound exchange for two balanced ones.

    ``salt_expr`` must be deterministic (a row id mod N, never rand())
    so re-execution after task retry aggregates each row once.
    """
    salted = df.groupBy(
        F.col(key_col), (salt_expr % F.lit(n_salts)).alias("_salt")
    ).agg(
        F.count(F.lit(1)).alias("_n"),
        *[expr.alias(f"_s_{name}") for name, expr in sum_cols.items()],
    )
    return (
        salted.groupBy(key_col)
        .agg(
            F.sum("_n").alias("n_rows"),
            *[
                F.sum(f"_s_{name}").alias(name)
                for name in sum_cols
            ],
        )
        .orderBy(key_col)
    )


def cohens_kappa(
    df: DataFrame, rater_a: Column, rater_b: Column
) -> DataFrame:
    """Cohen's kappa between two binary raters (e.g. two label
    heuristics being reconciled before one becomes training signal) —
    chance-corrected agreement, exact integer milli-units:

        kappa = (po - pe) / (1 - pe)
              = (n*(n00 + n11) - (a1*b1 + a0*b0))
                / (n^2 - (a1*b1 + a0*b0))

    computed entirely from the ONE-pass 2x2 confusion counts; the
    n^2-scale products route through DECIMAL(38,0)/HUGEINT (BIGINT
    wraps past ~3e9 rows). kappa may be NEGATIVE (worse-than-chance
    agreement), and Spark's ``div`` truncates toward zero while
    DuckDB's ``//`` floors — so the division runs on |numerator| with
    the sign factored out, where the two semantics agree. When both
    raters are constant and agreeing (pe = 1, denominator 0) kappa is
    undefined and the result is NULL on BOTH engines (Spark div would
    yield NULL but DuckDB // would raise, so the guard is explicit).
    One scan, one single-row aggregate.
    """
    a = rater_a.cast("boolean")
    bb = rater_b.cast("boolean")
    counts = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((a & bb).cast("bigint")).alias("n11"),
        F.sum((a & ~bb).cast("bigint")).alias("n10"),
        F.sum((~a & bb).cast("bigint")).alias("n01"),
        F.sum((~a & ~bb).cast("bigint")).alias("n00"),
    )
    with_terms = counts.select(
        "n",
        "n00",
        "n01",
        "n10",
        "n11",
        F.expr(
            "CAST(n AS DECIMAL(38,0)) * (n00 + n11)"
            " - (CAST(n11 + n10 AS DECIMAL(38,0)) * (n11 + n01)"
            "    + CAST(n00 + n01 AS DECIMAL(38,0)) * (n00 + n10))"
        ).alias("_num"),
        F.expr(
            "CAST(n AS DECIMAL(38,0)) * n"
            " - (CAST(n11 + n10 AS DECIMAL(38,0)) * (n11 + n01)"
            "    + CAST(n00 + n01 AS DECIMAL(38,0)) * (n00 + n10))"
        ).alias("_den"),
    )
    return with_terms.select(
        "n",
        "n00",
        "n01",
        "n10",
        "n11",
        F.when(
            F.col("_den") > 0,
            F.when(F.col("_num") < 0, F.lit(-1)).otherwise(F.lit(1))
            * F.expr("(1000 * abs(_num)) div _den"),
        )
        .cast("long")
        .alias("kappa_milli"),
    )


def weighted_median(
    df: DataFrame,
    group_col: str,
    value_expr: Column,
    weight_expr: Column,
) -> DataFrame:
    """Exact weighted (lower) median per group: the smallest value v
    with cumulative weight(<= v) * 2 >= total weight — e.g. the
    revenue-weighted median discount, where an unweighted median would
    let million-row penny lines outvote the revenue.

    Scale shape: raw rows first COLLAPSE to (group, value) weight sums
    — one combinable pass over the fact table — and the cumulative
    window runs over the collapsed relation only (|groups| x |distinct
    values| rows). Integer weights in, integer comparisons throughout;
    ties are impossible by construction (values are distinct post-
    collapse and the ordering is total).
    """
    from pyspark.sql import Window

    collapsed = (
        df.select(
            F.col(group_col).alias("grp"),
            value_expr.alias("val"),
            weight_expr.alias("_w"),
        )
        .groupBy("grp", "val")
        .agg(F.sum("_w").alias("w"))
    )
    win = (
        Window.partitionBy("grp")
        .orderBy("val")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = Window.partitionBy("grp")
    ranked = collapsed.select(
        "grp",
        "val",
        F.sum("w").over(win).alias("_cum"),
        F.sum("w").over(tot).alias("_tot"),
    ).filter(F.col("_cum") * 2 >= F.col("_tot"))
    first = (
        ranked.groupBy("grp")
        .agg(
            F.min("val").alias("weighted_median"),
            F.max("_tot").alias("total_weight"),
        )
        .orderBy("grp")
    )
    return first


def k_anonymity_profile(
    df: DataFrame, qi_cols: list, k: int = 5
) -> DataFrame:
    """k-anonymity audit over a set of quasi-identifier columns — the
    re-identification screen run before releasing or training on
    user-adjacent tables (Sweeney 2002): every row in an equivalence
    class of size < k is linkable to at most k-1 candidates, i.e. at
    risk.

    Output: one row per distinct equivalence-CLASS SIZE —
    (class_size, n_classes, n_rows, at_risk) where at_risk = 1 iff
    class_size < k — ordered by class_size. The histogram form keeps
    the output bounded (sizes, not classes) while preserving exactly
    the numbers a privacy review needs: min class size is row 1,
    rows-at-risk is SUM(n_rows) WHERE at_risk.

    Scale shape: two combinable aggregations (rows -> classes ->
    size histogram), both map-side partial, no window, no collect.
    NULL quasi-identifier values group as their own class (Spark and
    SQL GROUP BY agree on null grouping)."""
    classes = df.groupBy(*qi_cols).agg(F.count(F.lit(1)).alias("class_size"))
    return (
        classes.groupBy("class_size")
        .agg(
            F.count(F.lit(1)).alias("n_classes"),
            F.sum("class_size").alias("n_rows"),
        )
        .select(
            "class_size",
            "n_classes",
            "n_rows",
            F.when(F.col("class_size") < k, F.lit(1))
            .otherwise(F.lit(0))
            .alias("at_risk"),
        )
        .orderBy("class_size")
    )


def calibration_bins(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability-diagram bins for a probabilistic score against a
    binary label — the calibration eval (is a 0.8 score right 80% of
    the time?) run before trusting a quality-classifier threshold, plus
    the per-bin Brier contribution. Scores must lie in [0, 1]; the top
    edge folds into the last bin.

    Exactness: scores and squared errors are accumulated as
    DECIMAL(18, 6)/(28, 12) — bitwise-identical across engines and
    partition orders where a float SUM would drift in the last ulp —
    and each ratio is ONE double division of exact sums, so the oracle
    hash-matches without tolerance bands.

    Output per bin: (bin, n, n_pos, frac_pos, mean_score, brier),
    ordered by bin. Single combinable aggregation, one shuffle on the
    bin id."""
    s = F.col(score_col)
    lbl = F.col(label_col).cast("int")
    bin_id = F.least(
        F.floor(s * F.lit(n_bins)).cast("int"), F.lit(n_bins - 1)
    )
    s_dec = s.cast("decimal(18,6)")
    diff = s_dec - lbl.cast("decimal(18,6)")
    sq = (diff * diff).cast("decimal(28,12)")
    agg = (
        df.select(bin_id.alias("bin"), s_dec.alias("_s"), lbl.alias("_l"),
                  sq.alias("_sq"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("_l").cast("long").alias("n_pos"),
            F.sum("_s").alias("_sum_s"),
            F.sum("_sq").alias("_sum_sq"),
        )
    )
    return agg.select(
        "bin",
        "n",
        "n_pos",
        F.round(F.col("n_pos").cast("double") / F.col("n"), 6).alias(
            "frac_pos"
        ),
        F.round(F.col("_sum_s").cast("double") / F.col("n"), 6).alias(
            "mean_score"
        ),
        F.round(F.col("_sum_sq").cast("double") / F.col("n"), 6).alias(
            "brier"
        ),
    ).orderBy("bin")


def fd_violations(
    df: DataFrame,
    determinant_cols: list,
    dependent_col: str,
) -> DataFrame:
    """Functional-dependency audit: determinant values that map to MORE
    THAN ONE dependent value — the consistency check behind reference-
    data quality gates (does brand always imply one manufacturer? does
    zip imply one state?) and a standard profiling primitive (TANE-style
    FD verification, run for one declared FD).

    Output: (determinant..., n_dependents, n_rows, example_a, example_b)
    — one row per violating determinant, with the two smallest distinct
    dependent values as human-actionable evidence, ordered by the
    determinant.

    Scale shape: one combinable aggregation on the determinant key
    (min/max/count distinct all partial-aggregate); no window, no
    self-join."""
    agg = df.groupBy(*determinant_cols).agg(
        F.countDistinct(dependent_col).alias("n_dependents"),
        F.count(F.lit(1)).alias("n_rows"),
        F.min(dependent_col).alias("example_a"),
        F.max(dependent_col).alias("example_b"),
    )
    return agg.filter(F.col("n_dependents") > 1).orderBy(*determinant_cols)


def profile_table(df: DataFrame, cols: list) -> DataFrame:
    """One-pass column profiler — the table-of-contents artifact every
    ingest pipeline writes before anything trusts a new feed: per
    column, row/null counts, distinct cardinality, lexicographic
    min/max, and the modal value with its count.

    Values profile in their STRING rendering (callers cast floats to
    DECIMAL first — float-to-string formatting is engine-specific,
    decimal/int/date renderings are not). Ties for the modal value
    break to the smallest value, so the profile is deterministic.

    Output: (column, n_rows, n_null, ndv, min_value, max_value,
    top_value, top_count), one row per profiled column, ordered by
    column name.

    Scale shape: ONE scan explodes each row into |cols| (column, value)
    cells, then a combinable (column, value) count; everything after
    operates on the |cols x distinct-values| relation, never the table.
    The per-column rollup and the top-1 window both ride the same
    column-keyed partitioning."""
    from pyspark.sql import Window

    cells = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.col(c).cast("string").alias("v"),
                    )
                    for c in cols
                ]
            )
        ).alias("s")
    ).select("s.column", "s.v")
    per_val = cells.groupBy("column", "v").agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    rollup = per_val.groupBy("column").agg(
        F.sum("_cnt").alias("n_rows"),
        F.sum(F.when(F.col("v").isNull(), F.col("_cnt")).otherwise(0)).alias(
            "n_null"
        ),
        F.count(F.col("v")).alias("ndv"),
        F.min("v").alias("min_value"),
        F.max("v").alias("max_value"),
    )
    w_top = Window.partitionBy("column").orderBy(
        F.col("_cnt").desc(), F.col("v").asc()
    )
    top = (
        per_val.filter(F.col("v").isNotNull())
        .withColumn("_rn", F.row_number().over(w_top))
        .filter(F.col("_rn") == 1)
        .select("column", F.col("v").alias("top_value"),
                F.col("_cnt").alias("top_count"))
    )
    return rollup.join(top, "column", "left").orderBy("column")
