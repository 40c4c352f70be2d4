"""Time-series resample + gap fill (hypertable-style, batch side).

Sensor/event streams are irregular; training features want a dense,
fixed-step grid per entity. This is the batch counterpart of the
streaming tumbling-window rollup (streaming/windows.py): bucket to the
step grid, aggregate, then *densify* — materialize the missing buckets
per key and carry the last observation forward (LOCF), flagging which
rows are real vs filled.

The grid is generated distributively: per-key [min, max] bucket extents
(a tiny agg) explode through ``sequence()`` executor-side — no driver
loop, no `spark.range` cross join against a global calendar (which would
make every key pay for the global time span; per-key extents keep output
linear in Σ per-key spans). At 100 TB the whole plan is three key-hash
exchanges — bucket agg, grid build (tiny), grid↔agg join — plus one
window pass per key for LOCF, all JVM-side.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def bucketize(ts: Column, step_seconds: int) -> Column:
    """Floor a timestamp to its step-grid bucket (truncating division on
    whole seconds — identical arithmetic in any engine)."""
    secs = F.unix_timestamp(ts)
    return F.timestamp_seconds((secs - (secs % F.lit(step_seconds))))


def resample(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    step_seconds: int,
    aggs: dict[str, Column],
) -> DataFrame:
    """Aggregate to a fixed-step grid: one map-side-combining shuffle on
    (keys, bucket). ``aggs`` maps output name → aggregate expression."""
    bucket = bucketize(F.col(ts_col), step_seconds)
    return (
        df.withColumn("bucket", bucket)
        .groupBy(*keys, "bucket")
        .agg(*[c.alias(n) for n, c in aggs.items()])
    )


def gap_fill(
    buckets: DataFrame,
    keys: Sequence[str],
    step_seconds: int,
    value_cols: Sequence[str],
    bucket_col: str = "bucket",
) -> DataFrame:
    """Densify a resampled frame to every step in each key's [min, max]
    extent, LOCF-filling ``value_cols`` and emitting ``is_gap``.

    Scale: the extent agg collapses to one row per key before the
    ``sequence`` explode, so the expensive relation (the dense grid) is
    built executor-side already partitioned by key; the left join back to
    the observed buckets and the LOCF window reuse that key partitioning.
    A key whose span is pathological (years of seconds-grid) shows up as
    an exploded-row skew — bound it upstream by choosing the step, not in
    this operator.
    """
    extents = buckets.groupBy(*keys).agg(
        F.min(bucket_col).alias("_mn"), F.max(bucket_col).alias("_mx")
    )
    grid = extents.select(
        *keys,
        F.explode(
            F.sequence(
                F.col("_mn"), F.col("_mx"),
                F.expr(f"interval {int(step_seconds)} second"),
            )
        ).alias(bucket_col),
    )
    joined = grid.join(buckets, on=[*keys, bucket_col], how="left")
    w = (
        Window.partitionBy(*keys)
        .orderBy(bucket_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    probe = F.col(value_cols[0])
    out = joined.withColumn("is_gap", probe.isNull())
    for c in value_cols:
        out = out.withColumn(c, F.last(F.col(c), ignorenulls=True).over(w))
    return out


def ewma(
    df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    alpha: float = 0.8,
    span: int = 7,
) -> DataFrame:
    """Exponentially-weighted moving average over a daily series per key,
    with a finite ``span``-day memory: for day t,

        ewma_t = sum_{j=0..span-1} alpha^j * x_{t-j} / sum(alpha^j present)

    The daily series aggregates the raw values in exact DECIMAL cents
    (order-independent; the day mean is ONE int/int-style division), and
    the smoothing is ``span`` explicit ``lag`` terms — a fixed expression
    tree, so the float additions happen in the SAME order in any engine (a
    window SUM over a frame has engine-chosen accumulation order; this
    formulation does not). The output is rounded to 6 digits: even with
    identical association, engines differ in the last ulp on chained
    multiply-adds (FMA contraction is compiler-discretionary), measured
    ~1e-14 relative — rounding pins the cross-engine contract.

    Scale: one shuffle to the (key, day) grid — the fact table collapses
    to |keys| x |days| rows before any window work — then one window pass
    partitioned by key. lag(j) terms read the SAME sorted partition; no
    extra exchanges (plan-asserted in tests)."""
    from pyspark.sql import Window

    day = F.date_trunc("day", F.col(ts_col)).cast("date")
    daily = (
        df.groupBy(F.col(key_col), day.alias("day"))
        .agg(
            F.sum(F.col(value_col).cast("decimal(12,2)")).alias("_s"),
            F.count(F.lit(1)).alias("_n"),
        )
        .select(
            key_col,
            "day",
            (F.col("_s").cast("double") / F.col("_n")).alias("day_mean"),
        )
    )
    w = Window.partitionBy(key_col).orderBy("day")
    num = None
    den = None
    for j in range(span):
        term = F.lag("day_mean", j).over(w)
        # weight as a Python-computed literal (repr round-trips the exact
        # double), NOT engine-side POWER — one less libm call to trust
        wgt = F.lit(alpha**j)
        num_j = F.when(term.isNotNull(), term * wgt).otherwise(F.lit(0.0))
        den_j = F.when(term.isNotNull(), wgt).otherwise(F.lit(0.0))
        num = num_j if num is None else num + num_j
        den = den_j if den is None else den + den_j
    return daily.select(
        key_col, "day", "day_mean", F.round(num / den, 6).alias("ewma")
    )


def rolling_zscore(
    df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    window_days: int = 7,
) -> DataFrame:
    """Rolling z-score anomaly flag over a daily series per key: each
    day's mean is scored against the trailing ``window_days`` window's
    mean/stddev (population variance over the frame, computed from exact
    DECIMAL sum and sum-of-squares so the aggregation order cannot change
    the double result), and flagged when |z| > 2.

    The variance uses E[x^2] - E[x]^2 on cent-exact sums — every float op
    is a fixed-shape expression over exact integers, so the score is
    bit-identical across engines and partitionings. Days with zero
    variance (constant window) emit z = NULL, anomaly = false.

    Scale: identical shape to ``ewma`` — one shuffle to the (key, day)
    grid, then ``window_days`` lag terms in one window pass."""
    from pyspark.sql import Window

    day = F.date_trunc("day", F.col(ts_col)).cast("date")
    daily = (
        df.groupBy(F.col(key_col), day.alias("day"))
        .agg(
            F.sum(F.col(value_col).cast("decimal(12,2)")).alias("_s"),
            F.count(F.lit(1)).alias("_n"),
        )
        .select(
            key_col,
            "day",
            (F.col("_s").cast("double") / F.col("_n")).alias("day_mean"),
        )
    )
    w = Window.partitionBy(key_col).orderBy("day")
    s = None
    s2 = None
    n = None
    for j in range(window_days):
        term = F.lag("day_mean", j).over(w)
        s_j = F.when(term.isNotNull(), term).otherwise(F.lit(0.0))
        s2_j = F.when(term.isNotNull(), term * term).otherwise(F.lit(0.0))
        n_j = F.when(term.isNotNull(), F.lit(1)).otherwise(F.lit(0))
        s = s_j if s is None else s + s_j
        s2 = s2_j if s2 is None else s2 + s2_j
        n = n_j if n is None else n + n_j
    mean = s / n
    var = s2 / n - mean * mean
    z = F.when(var > 0, (F.col("day_mean") - mean) / F.sqrt(var))
    return daily.select(
        key_col,
        "day",
        "day_mean",
        F.round(mean, 6).alias("roll_mean"),
        F.round(z, 6).alias("zscore"),
        F.coalesce(F.abs(z) > F.lit(2.0), F.lit(False)).alias("anomaly"),
    )


def seasonal_decompose(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    step_seconds: int = 3600,
    period: int = 24,
    trend_half_window: int = 12,
) -> DataFrame:
    """Classical additive seasonal decomposition on a resampled grid:
    ``value = trend + seasonal + residual`` — trend from a centered
    moving average, seasonal from the per-phase mean of the detrended
    series, residual as the remainder. The monitoring primitive behind
    "is this spike load growth, time-of-day, or an anomaly".

    Output: (bucket, v, trend, seasonal, residual) per grid step,
    doubles rounded to 6 digits.

    Exactness: grid sums accumulate in DECIMAL; the centered moving
    average divides a decimal-exact windowed sum by its row count
    (edges use the partial window, deterministically); the detrended
    value is re-truncated to DECIMAL(28,8) BEFORE the per-phase mean so
    that group mean is an exact decimal sum too — no float accumulates
    across rows anywhere, and the remaining double formulas have one
    fixed order under the ROUND contract.

    Scale shape: one combinable resample shuffle; ONE global-ordering
    window for the trend (a single series after resampling is |grid|
    rows — thousands per year at hourly step — so the single-partition
    window is bounded by construction, not by the data; for per-key
    panels, partition the window by key instead); the seasonal mean is
    a |period|-key aggregation broadcast back. Document shape over
    cleverness: the grid relation is tiny, the full-table work is only
    the resample."""
    grid = resample(
        df,
        keys=[],
        ts_col=ts_col,
        step_seconds=step_seconds,
        aggs={"_vdec": F.sum(F.col(value_col).cast("decimal(18,4)"))},
    )
    w = (
        Window.orderBy("bucket")
        .rowsBetween(-trend_half_window, trend_half_window)
    )
    trended = grid.select(
        "bucket",
        F.col("_vdec").cast("double").alias("v"),
        (
            F.sum("_vdec").over(w).cast("double")
            / F.count(F.lit(1)).over(w)
        ).alias("trend"),
    ).withColumn(
        "_det",
        (F.col("v") - F.col("trend")).cast("decimal(28,8)"),
    ).withColumn(
        "_phase",
        F.pmod((F.unix_timestamp("bucket") / F.lit(step_seconds)).cast("long"), F.lit(period)),
    )
    seasonal = trended.groupBy("_phase").agg(
        (F.sum("_det").cast("double") / F.count(F.lit(1)))
        .cast("decimal(28,8)")
        .alias("_seasonal_dec")
    )
    r = lambda c: F.round(c, 6)  # noqa: E731
    # seasonal/residual go through DECIMAL truncation + exact decimal
    # subtraction instead of a final double ROUND: a residual landing on
    # the half-way boundary flips between engines' tie handling (the
    # unigram_nll lesson — measured 2 rows flipping at 1e-6 here).
    return (
        trended.join(F.broadcast(seasonal), "_phase")
        .select(
            "bucket",
            r(F.col("v")).alias("v"),
            r(F.col("trend")).alias("trend"),
            F.col("_seasonal_dec").cast("double").alias("seasonal"),
            (F.col("_det") - F.col("_seasonal_dec")).cast("double").alias("residual"),
        )
    )


def time_weighted_avg(
    df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Time-weighted average of a 2-decimal metric per key — the
    TimescaleDB-style TWA where each observation is held until the next
    one (last-observation-carried-forward weighting, last point carries
    no weight).

    Exactness: value → integer cents (lossless for 2-decimal data),
    hold duration → integer microseconds from ``lead()``; the weighted
    numerator accumulates in DECIMAL(38,0) (cents × µs exceeds BIGINT
    once a key's history spans years at scale — the oracle's HUGEINT
    matches exactly); the final micro-unit average is one scaled
    integer division. One shuffle: the lead() window and the
    aggregation share the key.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(ts_col, id_col)
    held = df.select(
        key_col,
        (F.col(value_col).cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("v_cents"),
        (F.unix_micros(F.lead(ts_col).over(w)) - F.unix_micros(F.col(ts_col)))
        .alias("dur_us"),
    ).filter(F.col("dur_us").isNotNull())
    return (
        held.groupBy(key_col)
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.sum("dur_us").alias("total_dur_us"),
            F.sum(
                F.col("v_cents").cast("decimal(38,0)") * F.col("dur_us")
            ).alias("_num"),
        )
        .select(
            key_col,
            "n_intervals",
            "total_dur_us",
            F.expr(
                "CAST(_num * 10000 AS DECIMAL(38,0)) div total_dur_us"
            ).alias("twa_e6"),
        )
        .orderBy(key_col)
    )


def autocorrelation(
    df: DataFrame,
    ts_col: str = "ts",
    max_lag: int = 3,
) -> DataFrame:
    """Lag-1..max_lag autocorrelation of the hourly event-count
    series, in EXACT integer arithmetic: counts are integers, so every
    Pearson moment (n·Σxy−ΣxΣy, n·Σx²−(Σx)², n·Σy²−(Σy)²) is a BIGINT,
    and the signed squared correlation ships as sign(num)·(num²·1e6 div
    dx·dy) through DECIMAL(38,0) — no float anywhere, so the result is
    bit-identical across engines and partitionings.

    The one ordered window runs over the BUCKETED series (hours-scale
    cardinality — bounded by time span, not data volume), so the
    single-partition sort is fine at any SF; the raw-event aggregation
    before it is a plain combinable groupBy.
    """
    from pyspark.sql import Window

    hourly = (
        df.select(
            (
                F.floor(F.unix_timestamp(F.col(ts_col)) / 3600)
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy("bucket")
    leads = hourly.select(
        "cnt",
        *[
            F.lead("cnt", k).over(w).alias(f"_lead{k}")
            for k in range(1, max_lag + 1)
        ],
    )
    stack_args = ", ".join(f"{k}, _lead{k}" for k in range(1, max_lag + 1))
    pairs = leads.select(
        "cnt", F.expr(f"stack({max_lag}, {stack_args}) AS (lag, y)")
    ).filter(F.col("y").isNotNull())
    # products go through DECIMAL(38,0): bucket counts grow with data
    # volume (the series is bounded, its VALUES are not), and n·Σxy
    # overflows BIGINT once counts pass ~1e6/bucket. The oracle's
    # HUGEINT arithmetic matches exactly; outputs cast back to BIGINT
    # (their documented range).
    moments = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("cnt").alias("_sx"),
        F.sum("y").alias("_sy"),
        F.sum(F.col("cnt").cast("decimal(38,0)") * F.col("y")).alias("_sxy"),
        F.sum(F.col("cnt").cast("decimal(38,0)") * F.col("cnt")).alias("_sxx"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("_syy"),
    )
    return (
        moments.select(
            F.col("lag").cast("int").alias("lag"),
            "n_pairs",
            F.expr(
                "CAST(CAST(n_pairs AS DECIMAL(38,0)) * _sxy"
                " - CAST(_sx AS DECIMAL(38,0)) * _sy AS BIGINT)"
            ).alias("cov_num"),
            F.expr(
                "CAST(CAST(n_pairs AS DECIMAL(38,0)) * _sxx"
                " - CAST(_sx AS DECIMAL(38,0)) * _sx AS BIGINT)"
            ).alias("den_x"),
            F.expr(
                "CAST(CAST(n_pairs AS DECIMAL(38,0)) * _syy"
                " - CAST(_sy AS DECIMAL(38,0)) * _sy AS BIGINT)"
            ).alias("den_y"),
        )
        .select(
            "lag",
            "n_pairs",
            "cov_num",
            "den_x",
            "den_y",
            (
                F.when(F.col("cov_num") < 0, F.lit(-1)).otherwise(F.lit(1))
                * F.expr(
                    "CAST(CAST(cov_num AS DECIMAL(38,0)) * cov_num * 1000000"
                    " AS DECIMAL(38,0))"
                    " div (CAST(den_x AS DECIMAL(38,0)) * den_y)"
                )
            ).alias("signed_r2_e6"),
        )
        .orderBy("lag")
    )


def lttb_downsample(
    series: DataFrame,
    x_col: str = "x",
    y_col: str = "y",
    n_out: int = 50,
) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling of an integer (x, y)
    series to ``n_out`` visually-representative points — the standard
    dashboard/preview reducer (Steinarsson 2013), in the parallel
    fixed-anchor variant: both triangle anchors are the NEIGHBOR BUCKET
    AVERAGES (milli-quantized to exact integers) rather than the
    previously-selected point, which removes the sequential dependency
    so every bucket scores independently — the variant that
    distributes. First and last points are always kept.

    Exactness: anchors are (1000·Σ) div n integers, triangle areas are
    |cross-product| in BIGINT, ties break on smaller x — no float ever,
    so selection is bit-stable across engines and partitionings. The
    ordered windows run on the already-bucketed series (bounded by time
    span); per-bucket argmax is one row_number over ~n/n_out rows.
    """
    from pyspark.sql import Window

    w = Window.orderBy(x_col)
    g = series.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.min(x_col).alias("_x1"),
        F.max(x_col).alias("_xn"),
        F.expr(f"min_by({y_col}, {x_col})").alias("_y1"),
        F.expr(f"max_by({y_col}, {x_col})").alias("_yn"),
    )
    pts = series.select(
        F.col(x_col).alias("x"),
        F.col(y_col).alias("y"),
        F.row_number().over(w).alias("r"),
    ).crossJoin(F.broadcast(g))
    interior = pts.filter(
        (F.col("r") >= 2) & (F.col("r") <= F.col("n_total") - 1)
    ).withColumn("b", F.expr(f"((r - 2) * {n_out - 2}) div (n_total - 2)"))
    ba = interior.groupBy("b").agg(
        F.expr("(1000 * sum(x)) div count(*)").alias("ax"),
        F.expr("(1000 * sum(y)) div count(*)").alias("ay"),
    )
    wb = Window.orderBy("b")
    an = ba.select(
        "b",
        F.lag("ax").over(wb).alias("pax"),
        F.lag("ay").over(wb).alias("pay"),
        F.lead("ax").over(wb).alias("nax"),
        F.lead("ay").over(wb).alias("nay"),
    ).crossJoin(F.broadcast(g)).select(
        "b",
        F.coalesce("pax", F.expr("1000 * _x1")).alias("pax"),
        F.coalesce("pay", F.expr("1000 * _y1")).alias("pay"),
        F.coalesce("nax", F.expr("1000 * _xn")).alias("nax"),
        F.coalesce("nay", F.expr("1000 * _yn")).alias("nay"),
    )
    scored = interior.join(F.broadcast(an), "b").withColumn(
        "score",
        F.abs(
            (F.col("pax") - F.col("nax")) * (1000 * F.col("y") - F.col("pay"))
            - (F.col("pax") - 1000 * F.col("x"))
            * (F.col("nay") - F.col("pay"))
        ),
    )
    wsel = Window.partitionBy("b").orderBy(
        F.col("score").desc(), F.col("x").asc()
    )
    sel = (
        scored.withColumn("rn", F.row_number().over(wsel))
        .filter(F.col("rn") == 1)
        .select("x", "y")
    )
    ends = pts.filter(
        (F.col("r") == 1) | (F.col("r") == F.col("n_total"))
    ).select("x", "y")
    return sel.unionByName(ends).orderBy("x")


def theil_sen(
    series: DataFrame,
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Theil–Sen robust trend estimate over an integer series: the
    median (and quartiles) of all pairwise slopes, with slopes
    quantized to exact 1e-9 integer units via sign-split division
    (truncation == floor on the non-negative magnitudes, so the
    quantized slope set is engine-identical; the estimate is the
    documented quantized-Theil–Sen variant).

    The O(n²) pair generation runs on the BUCKETED series — bounded by
    time span, not data volume — which is the standard way Theil–Sen is
    applied to monitoring series at scale; the rank selection is one
    ordered window over the pair relation."""
    from pyspark.sql import Window

    a = series.select(
        F.col(x_col).alias("xi"), F.col(y_col).alias("yi")
    ).alias("a")
    b = series.select(
        F.col(x_col).alias("xj"), F.col(y_col).alias("yj")
    ).alias("b")
    pairs = a.join(b, F.col("xi") < F.col("xj")).select(
        "xi",
        "xj",
        (
            F.when(F.col("yj") - F.col("yi") < 0, F.lit(-1)).otherwise(
                F.lit(1)
            )
            * F.expr("(1000000000 * abs(yj - yi)) div (xj - xi)")
        ).alias("slope_e9"),
    )
    w = Window.orderBy(
        F.col("slope_e9").asc(), F.col("xi").asc(), F.col("xj").asc()
    )
    ranked = pairs.select(
        "slope_e9", F.row_number().over(w).alias("rn")
    ).crossJoin(
        F.broadcast(pairs.agg(F.count(F.lit(1)).alias("n_pairs")))
    )
    # quartile ranks in exact integer arithmetic: the k/4-quantile is the
    # ((k*n + 2) div 4)-th smallest pair slope (lower-quantile style).
    pick = lambda k: F.max(  # noqa: E731
        F.when(
            F.col("rn") == F.expr(f"greatest(({k} * n_pairs + 2) div 4, 1)"),
            F.col("slope_e9"),
        )
    )
    return ranked.agg(
        F.max("n_pairs").alias("n_pairs"),
        pick(1).alias("q1_slope_e9"),
        pick(2).alias("median_slope_e9"),
        pick(3).alias("q3_slope_e9"),
    )


def seasonal_naive_backtest(
    df: DataFrame,
    ts_col: str = "ts",
) -> DataFrame:
    """Backtest of the two canonical zero-parameter forecasters on the
    hourly count series — naive (ŷ=y[t−1]) and seasonal-naive
    (ŷ=y[t−24], the daily season) — the baselines every forecasting
    deployment must beat. Exact integer scoring: absolute errors sum in
    BIGINT, sMAPE terms are (2e6·|y−ŷ|) div (y+ŷ) per point (0 when both
    zero), averaged by integer division. One bounded ordered window (the
    bucketed series), one global row out per model."""
    from pyspark.sql import Window

    hourly = (
        df.select(
            F.floor(F.unix_timestamp(F.col(ts_col)) / 3600).alias(
                "bucket"
            )
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("y"))
    )
    w = Window.orderBy("bucket")
    preds = hourly.select(
        "y",
        F.lag("y", 1).over(w).alias("p_naive"),
        F.lag("y", 24).over(w).alias("p_seasonal"),
    )
    def _score(pred_col: str, model: str) -> DataFrame:
        p = preds.filter(F.col(pred_col).isNotNull()).select(
            "y", F.col(pred_col).alias("p")
        )
        ae = F.abs(F.col("y") - F.col("p"))
        smape_term = F.when(F.col("y") + F.col("p") == 0, F.lit(0)).otherwise(
            F.expr(f"(2000000 * abs(y - p)) div (y + p)")
        )
        return p.agg(
            F.lit(model).alias("model"),
            F.count(F.lit(1)).alias("n_points"),
            F.sum(ae).alias("sum_abs_err"),
            F.expr("sum(abs(y - p)) div count(1)").alias("mae_floor"),
            F.sum(smape_term).alias("_smape_sum"),
        ).select(
            "model",
            "n_points",
            "sum_abs_err",
            "mae_floor",
            F.expr("_smape_sum div n_points").alias("smape_e6"),
        )
    return _score("p_naive", "naive").unionByName(
        _score("p_seasonal", "seasonal_naive")
    ).orderBy("model")


def ohlc_bars(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """OHLC (open/high/low/close) candlestick bars per hour bucket —
    the financial-style first/last/extremes rollup. Open/close come
    from row_number over (ts, id) ascending/descending inside the
    bucket (deterministic under timestamp ties), high/low/volume from
    plain aggregates; values are exact integer cents. One shuffle: the
    two windows and the aggregation all share the bucket key."""
    from pyspark.sql import Window

    cents = (F.col(value_col).cast("decimal(12,2)") * 100).cast("bigint")
    base = df.select(
        F.floor(F.unix_timestamp(F.col(ts_col)) / 3600)
        .cast("bigint")
        .alias("bucket"),
        F.col(ts_col).alias("_ts"),
        F.col(id_col).alias("_id"),
        cents.alias("v"),
    )
    wa = Window.partitionBy("bucket").orderBy(
        F.col("_ts").asc(), F.col("_id").asc()
    )
    wd = Window.partitionBy("bucket").orderBy(
        F.col("_ts").desc(), F.col("_id").desc()
    )
    flagged = base.select(
        "bucket",
        "v",
        F.row_number().over(wa).alias("_rf"),
        F.row_number().over(wd).alias("_rl"),
    )
    return (
        flagged.groupBy("bucket")
        .agg(
            F.max(F.when(F.col("_rf") == 1, F.col("v"))).alias("open"),
            F.max("v").alias("high"),
            F.min("v").alias("low"),
            F.max(F.when(F.col("_rl") == 1, F.col("v"))).alias("close"),
            F.count(F.lit(1)).alias("volume"),
        )
        .orderBy("bucket")
    )


def cusum_changepoint(
    df: DataFrame,
    ts_col: str = "ts",
) -> DataFrame:
    """CUSUM changepoint locator on the hourly count series: the
    bucket where the cumulative deviation from the global mean peaks in
    magnitude. Exact integers throughout — the mean never materializes:
    S_t = n·prefix_t − t·total (cross-multiplied CUSUM, DECIMAL(38,0)),
    argmax |S_t| picked by a struct-max with earliest-bucket tiebreak.
    One bounded ordered window plus a one-row aggregate."""
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
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    tot = hourly.agg(
        F.sum("cnt").alias("total"), F.count(F.lit(1)).alias("n_buckets")
    )
    cum = hourly.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.row_number().over(Window.orderBy("bucket")).alias("t_idx"),
        F.sum("cnt").over(w).alias("prefix"),
        "total",
        "n_buckets",
    )
    s = cum.select(
        "bucket",
        F.expr(
            "CAST(CAST(n_buckets AS DECIMAL(38,0)) * prefix"
            " - CAST(t_idx AS DECIMAL(38,0)) * total AS DECIMAL(38,0))"
        ).alias("s2"),
    )
    best = s.agg(
        F.max(
            F.struct(F.abs(F.col("s2")).alias("a"), (-F.col("bucket")).alias("nb"))
        ).alias("_b")
    ).select(
        F.expr("-_b.nb").cast("bigint").alias("changepoint_bucket"),
        F.col("_b.a").cast("bigint").alias("max_abs_s2"),
    )
    return best.join(
        s.select("bucket", F.col("s2").cast("bigint").alias("s2_signed")),
        F.col("changepoint_bucket") == F.col("bucket"),
    ).select("changepoint_bucket", "max_abs_s2", "s2_signed")


def range_window_stats(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    value_col: str,
    bucket_seconds: int = 3600,
    range_seconds: int = 10800,
) -> DataFrame:
    """Time-RANGE windowed rollup: per (group, bucket), the count and
    exact integer cent-sum of everything in the trailing
    ``range_seconds`` — a RANGE frame over epoch seconds, which differs
    from a ROWS frame exactly when buckets are MISSING (a 3-bucket rows
    frame would reach past a gap; the range frame honors wall-clock
    time). The semantics behind "3h trailing volume" dashboards and
    rate-limit features.

    Scale shape: raw events first collapse to per-bucket partials (one
    combinable groupBy — the only pass over the fact table), and the
    range window then runs over the BUCKETED series: |groups| x
    |buckets| rows, partitioned by group, ordered by bucket epoch. The
    window never sees raw events, so its sort is bounded by the time
    span, not the data volume.
    """
    secs = F.unix_timestamp(F.col(ts_col))
    bucket = secs - (secs % F.lit(bucket_seconds))
    cents = F.expr(
        f"CAST(CAST({value_col} AS DECIMAL(12,2)) * 100 AS BIGINT)"
    )
    buckets = (
        df.select(
            F.col(group_col).alias("grp"),
            bucket.alias("bucket_epoch"),
            cents.alias("_cents"),
        )
        .groupBy("grp", "bucket_epoch")
        .agg(
            F.count(F.lit(1)).alias("n_bucket"),
            F.sum("_cents").alias("cents_bucket"),
        )
    )
    w = (
        Window.partitionBy("grp")
        .orderBy("bucket_epoch")
        .rangeBetween(-range_seconds, 0)
    )
    return buckets.select(
        "grp",
        "bucket_epoch",
        "n_bucket",
        F.sum("n_bucket").over(w).alias("n_trailing"),
        F.sum("cents_bucket").over(w).alias("cents_trailing"),
    ).orderBy("grp", "bucket_epoch")


def bollinger_bands(
    df: DataFrame,
    ts_col: str = "ts",
) -> DataFrame:
    """Bollinger-band breach detection on the hourly count series, in
    EXACT integer arithmetic: each bucket's count x is scored against
    the trailing 24 observed buckets' mean/variance, and flagged when
    |x - mean| > 2·stddev — but the comparison is the cross-multiplied
    square

        (m·x - S)² > 2² · (m·Q - S²)   [m buckets, S = Σx, Q = Σx²]

    so no division, no sqrt, no float — bit-identical in any engine,
    and immune to the near-boundary rounding flips a float z-score
    has. Products route through DECIMAL(38,0): at 100 TB an hourly
    count reaches ~1e10 and (m·x)² ~ 1e23 wraps BIGINT.

    Scale shape: the fact table collapses to the bucket grid first
    (one combinable shuffle); the window runs over |buckets| rows of
    (x, x²) partials — running sums, not re-scans.
    """
    from pyspark.sql import Window

    secs = F.unix_timestamp(F.col(ts_col))
    bucket = secs - (secs % F.lit(3600))
    grid = (
        df.select(bucket.alias("bucket_epoch"))
        .groupBy("bucket_epoch")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    w = (
        Window.orderBy("bucket_epoch")
        .rowsBetween(-23, 0)
    )
    stats = grid.select(
        "bucket_epoch",
        "x",
        F.count(F.lit(1)).over(w).alias("m"),
        F.sum("x").over(w).alias("s"),
        # x^2 in DECIMAL before the sum: a 100 TB hourly count (~3e9)
        # squares past 2^63; q stays internal (not emitted)
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).over(w).alias("_q"),
    )
    dev = F.expr("CAST(m AS DECIMAL(38,0)) * x - s")
    breach = F.expr(
        "CAST((CAST(m AS DECIMAL(38,0)) * x - s)"
        " * (CAST(m AS DECIMAL(38,0)) * x - s) AS DECIMAL(38,0))"
        " > CAST(4 AS DECIMAL(38,0))"
        " * (CAST(m AS DECIMAL(38,0)) * _q - CAST(s AS DECIMAL(38,0)) * s)"
    )
    return stats.select(
        "bucket_epoch",
        "x",
        "m",
        "s",
        (breach & (dev > 0)).alias("breach_hi"),
        (breach & (dev < 0)).alias("breach_lo"),
    ).orderBy("bucket_epoch")


def interpolate_linear(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    value_col: str,
) -> DataFrame:
    """Per-series LINEAR interpolation of missing values — pandas'
    ``interpolate(method='linear')`` as a distributed window program,
    the gap repair for sensor/metric series where LOCF (:func:`gap_fill`)
    would flatten trends.

    For each NULL value the nearest non-null neighbors in ``order_col``
    order bracket it::

        v = prev + (next - prev) * (t - t_prev) / (t_next - t_prev)

    Leading NULLs (no prev) take the next value; trailing NULLs take
    prev — pandas' default edge behavior. The arithmetic is one fixed
    double expression per row (no accumulation), so results are
    bit-identical across engines and partitionings.

    Output: input keys + order + original value + ``filled`` (round 6)
    + ``was_null`` flag.

    Scale shape: two window passes over the same (keys) partitioning —
    an ascending RUNNING frame for the previous non-null and a
    DESCENDING running frame for the next one — one shuffle, two sorts,
    both frames O(n) incremental. The tempting single-sort alternative
    (first IGNORE NULLS over [current, unbounded FOLLOWING]) is a trap:
    Spark's UnboundedFollowingWindowFunctionFrame re-aggregates the
    tail for EVERY row, O(n²) per partition (measured as a >25-minute
    sf1 stall before this formulation)."""
    v, t = F.col(value_col), F.col(order_col).cast("double")
    kp = [F.col(k) for k in keys]
    w_prev = (
        Window.partitionBy(*kp)
        .orderBy(F.col(order_col).asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_next = (
        Window.partitionBy(*kp)
        .orderBy(F.col(order_col).desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    prev_v = F.last(v, ignorenulls=True).over(w_prev)
    prev_t = F.last(F.when(v.isNotNull(), t), ignorenulls=True).over(w_prev)
    # over the desc sort, the running frame's last non-null is the
    # nearest non-null AT-OR-AFTER the current row in ascending order
    next_v = F.last(v, ignorenulls=True).over(w_next)
    next_t = F.last(F.when(v.isNotNull(), t), ignorenulls=True).over(w_next)
    interp = F.when(v.isNotNull(), v).otherwise(
        F.when(prev_v.isNull(), next_v)
        .when(next_v.isNull(), prev_v)
        .otherwise(
            prev_v + (next_v - prev_v) * (t - prev_t) / (next_t - prev_t)
        )
    )
    return df.select(
        *keys,
        order_col,
        value_col,
        F.round(interp, 6).alias("filled"),
        v.isNull().cast("int").alias("was_null"),
    )
