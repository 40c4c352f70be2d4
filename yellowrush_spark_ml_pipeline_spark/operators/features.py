"""Derived-feature operators (SURVEY.md §2.11 D1-D9) — the reference's
domain logic as reusable, pure DataFrame→DataFrame transforms.

The one structural improvement over the reference: ``historical_average``
fills group-level nulls from the global mean in a SINGLE logical plan
(window over empty partition ≡ cross-join of the 1-row global agg) instead
of the reference's driver round-trip ``.first()[0]``
(nyc_taxi_final.py:491-496) — no job barrier, no driver-embedded literal,
and the whole thing stays re-optimizable by Catalyst/AQE.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.scalar import (
    binary_flag,
    decimal_sum,
    duration_minutes,
    is_weekend,
    safe_div,
    speed_mph,
    time_period,
)


def add_time_features(df: DataFrame, ts_col: str, prefix: str = "") -> DataFrame:
    """D1 (nyc_taxi_final.py:410-425): minute/hour/dow/dom/month/year +
    weekend-as-holiday flag + date."""
    ts = F.col(ts_col)
    p = prefix
    return (
        df.withColumn(f"{p}minute", F.minute(ts))
        .withColumn(f"{p}hour", F.hour(ts))
        .withColumn(f"{p}day_of_week", F.dayofweek(ts))
        .withColumn(f"{p}day_of_month", F.dayofmonth(ts))
        .withColumn(f"{p}month", F.month(ts))
        .withColumn(f"{p}year", F.year(ts))
        .withColumn(f"{p}is_holiday", is_weekend(F.dayofweek(ts)))
        .withColumn(f"{p}date", F.to_date(ts))
    )


def add_time_period(df: DataFrame, hour_col: str = "hour",
                    out_col: str = "time_period") -> DataFrame:
    """D2 (nyc_taxi_final.py:428-434)."""
    return df.withColumn(out_col, time_period(F.col(hour_col)))


def add_duration_minutes(df: DataFrame, start_col: str, end_col: str,
                         out_col: str = "duration_min") -> DataFrame:
    """D3 (nyc_taxi_final.py:460-464)."""
    return df.withColumn(out_col, duration_minutes(F.col(start_col), F.col(end_col)))


def add_speed(df: DataFrame, distance_col: str, duration_col: str = "duration_min",
              out_col: str = "speed_mph") -> DataFrame:
    """D4 (nyc_taxi_final.py:468)."""
    return df.withColumn(out_col, speed_mph(F.col(distance_col), F.col(duration_col)))


def historical_average(
    df: DataFrame,
    keys: Sequence[str],
    numerator: str,
    denominator: str,
    out_col: str = "hist_avg",
    scale_factor: float = 60.0,
    round_to: int = 2,
) -> DataFrame:
    """D5 (nyc_taxi_final.py:471-496): grouped ratio-of-sums
    (``sum(num)/(sum(den)+eps)*scale``, rounded) left-joined back to every
    row; rows whose group is null get the global mean OF THE GROUP VALUES
    (the reference's ``hist_speed.agg(avg(...)).first()[0]`` at :491,
    re-expressed as a broadcast 1-row cross join → single logical plan,
    no driver round-trip, no job barrier).

    Scale shape: groupBy shuffles once on ``keys``; the tiny aggregate side
    is broadcast back to the fact (AQE will pick BHJ); the global fallback
    is a tree-aggregated single row broadcast everywhere. Decimal sums keep
    results order-independent.
    """
    num, den = F.col(numerator), F.col(denominator)
    group_val = F.round(
        safe_div(decimal_sum(num), decimal_sum(den)) * F.lit(scale_factor), round_to
    )
    agg_df = df.groupBy(*keys).agg(group_val.alias(out_col))
    from ..operators.aggregates import global_scalar

    global_df = global_scalar(
        agg_df, F.round(F.avg(out_col), round_to), alias="_global_mean"
    )
    # agg_df is NOT force-broadcast: group cardinality can be huge at scale;
    # AQE picks broadcast vs shuffle join from its observed size.
    return (
        df.join(agg_df, list(keys), "left")
        .crossJoin(F.broadcast(global_df))
        .withColumn(out_col, F.coalesce(F.col(out_col), F.col("_global_mean")))
        .drop("_global_mean")
    )


def add_expected_duration(
    df: DataFrame,
    distance_col: str,
    avg_speed_col: str,
    out_col: str = "expected_duration",
) -> DataFrame:
    """D6 (nyc_taxi_final.py:526): ``round(dist/(speed+eps)*60, 2)``."""
    return df.withColumn(
        out_col,
        F.round(safe_div(F.col(distance_col), F.col(avg_speed_col)) * 60.0, 2),
    )


def label_threshold_flag(
    df: DataFrame, col: str, threshold, out_col: str
) -> DataFrame:
    """D7 (nyc_taxi_final.py:530-533): ``col > threshold → 1 else 0``."""
    return df.withColumn(out_col, binary_flag(F.col(col) > threshold))


def label_exceeds(
    df: DataFrame, col: str, reference_col: str, out_col: str
) -> DataFrame:
    """D8 (nyc_taxi_final.py:1052-1056): ``col > ref * 1.0``.

    The reference's prose says "+10%" but the code multiplies by literally
    1 — we implement the code semantics, multiplication included."""
    return df.withColumn(
        out_col, binary_flag(F.col(col) > F.col(reference_col) * F.lit(1.0))
    )


def target_encoding(
    df: DataFrame,
    cat_col: str,
    id_col: str,
    label_col,
    k_folds: int = 5,
) -> DataFrame:
    """K-fold leakage-safe target (mean) encoding: rows in fold f get
    their category's label mean computed over the OTHER folds —
    enc(cat, f) = (sum(cat) - sum(cat, f)) / (n(cat) - n(cat, f)) —
    the standard guard against the target leaking into its own
    encoding. Folds are md5_hash60(id) mod k: deterministic,
    engine-portable, stable under re-runs.

    Output per (category, fold): fold row count and the exact
    milli-unit encoding (integer div; NULL when a category exists only
    in that fold). Two aggregations: (cat, fold) partials — ONE pass
    over the fact table — and a tiny |cats| rollup of those partials
    joined back; nothing re-scans the input.
    """
    from ..functions.hashing import md5_hash60

    lab = label_col if not isinstance(label_col, str) else F.col(label_col)
    fold = (md5_hash60(F.col(id_col).cast("string")) % F.lit(k_folds)).cast(
        "int"
    )
    per_fold = (
        df.select(
            F.col(cat_col).alias("category"),
            fold.alias("fold"),
            lab.cast("bigint").alias("_y"),
        )
        .groupBy("category", "fold")
        .agg(F.count(F.lit(1)).alias("n_fold"), F.sum("_y").alias("_s_fold"))
    )
    totals = per_fold.groupBy("category").agg(
        F.sum("n_fold").alias("_n_all"), F.sum("_s_fold").alias("_s_all")
    )
    enc = F.when(
        F.col("_n_all") > F.col("n_fold"),
        F.expr(
            "(1000 * (_s_all - _s_fold)) div (_n_all - n_fold)"
        ),
    )
    return (
        per_fold.join(F.broadcast(totals), "category")
        .select("category", "fold", "n_fold", enc.alias("enc_milli"))
        .orderBy("category", "fold")
    )


def woe_iv(
    df: DataFrame,
    bucket_col,
    label_col,
) -> DataFrame:
    """Weight-of-evidence / information-value profile of a bucketed
    feature against a binary label — the classic scorecard / feature-
    screening statistic. Per bucket b:

        woe_b = ln( (pos_b/pos_tot) / (neg_b/neg_tot) )
        iv_b  = (pos_b/pos_tot - neg_b/neg_tot) * woe_b

    in integer nanonats via the psi_drift recipe (events.py): cross
    products through DECIMAL(38,0)/HUGEINT, ONE double ln() with
    identical expression order in the oracle, one truncating div whose
    numerator is provably >= 0 ((p-q) and ln(p/q) share sign). Buckets
    empty on either side report NULL woe/iv (visible exclusion).
    One scan, one ~|buckets|-row aggregation, one broadcast of totals.
    """
    lab = label_col if not isinstance(label_col, str) else F.col(label_col)
    # Accept 0/1 integer labels as well as booleans: cast internally
    # (as cohens_kappa does) so the natural "binary label" column works.
    lab = lab.cast("boolean")
    b = bucket_col if not isinstance(bucket_col, str) else F.col(bucket_col)
    counts = (
        df.select(b.alias("bucket"), lab.alias("_y"))
        .groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("_y"), 1).otherwise(0)).alias("n_pos"),
            F.sum(F.when(F.col("_y"), 0).otherwise(1)).alias("n_neg"),
        )
    )
    tot = counts.agg(
        F.sum("n_pos").alias("t_pos"), F.sum("n_neg").alias("t_neg")
    )
    both = (F.col("n_pos") > 0) & (F.col("n_neg") > 0)
    woe_nano = F.round(
        F.log(
            F.expr("CAST(CAST(n_pos AS DECIMAL(38,0)) * t_neg AS DOUBLE)")
            / F.expr("CAST(CAST(n_neg AS DECIMAL(38,0)) * t_pos AS DOUBLE)")
        )
        * F.lit(1e9),
        0,
    ).cast("long")
    return (
        counts.crossJoin(F.broadcast(tot))
        .withColumn("_woe_nano", F.when(both, woe_nano))
        .select(
            "bucket",
            "n_pos",
            "n_neg",
            F.col("_woe_nano").alias("woe_nano"),
            F.expr(
                "CAST((CAST(n_pos AS DECIMAL(38,0)) * t_neg"
                " - CAST(n_neg AS DECIMAL(38,0)) * t_pos) * _woe_nano"
                " AS DECIMAL(38,0))"
                " div (CAST(t_pos AS DECIMAL(38,0)) * t_neg)"
            ).alias("iv_term_nano"),
        )
        .orderBy("bucket")
    )
