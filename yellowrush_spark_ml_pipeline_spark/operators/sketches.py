"""Distributed cardinality / activity sketches with exact cross-engine
replay.

Spark ships HLL++ as ``approx_count_distinct``, but its sketch internals
are JVM-private: a result can only be smoke-tested, never differentially
verified, and the sketch bytes can't be re-aggregated by another engine.
These operators rebuild the classic sketches from PUBLIC primitives
(Flajolet et al. 2007 HyperLogLog; bitmap rollups as in Druid/ClickHouse
groupBitmap) on the cross-engine `md5_hash60` contract
(functions/hashing.py), so the WHOLE sketch — register values, masks,
estimates — is replayable in DuckDB SQL and hash-checked by the driver.

Scale shape: both are single-scan combinable aggregations (map-side
partials, one shuffle on the group key). An HLL register table is
``m`` rows per group regardless of input size — the mergeable artifact a
100 TB rollup stores per (day, dimension) and unions later; the bitmap
mask is one BIGINT per (user, window). Production would keep Spark's
built-in HLL++ for speed; this path is the verification-grade twin with
identical asymptotics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5_hash60

#: registers = 2^P; P=8 -> m=256, standard error 1.04/sqrt(256) ~ 6.5%
HLL_P = 8
HLL_M = 1 << HLL_P

#: alpha_256 = 0.7213 / (1 + 1.079/256), in 1e-9 units (exact literal
#: shared with the DuckDB oracle; computed once at import, a pure
#: function of the constants above)
HLL_ALPHA_E9 = int(0.7213 / (1 + 1.079 / HLL_M) * 1e9)

#: inverse-power scale: term = POW >> rho stays integral for rho <= 53,
#: and the all-empty worst case m * POW = 2^61 still fits BIGINT —
#: a larger base (e.g. 2^60) would overflow the register SUM.
HLL_POW = 1 << 53


def hll_registers(
    df: DataFrame, group_cols: list[str], value_col: str
) -> DataFrame:
    """Per-group HyperLogLog register table over ``value_col``.

    hash = md5_hash60(CAST(value AS STRING))  (60 bits, cross-engine;
    base-10 integer rendering is identical in both engines)
    register index = hash % m (low P bits)
    payload w = hash div m    (52 bits, integer div — never a float)
    rho(w) = trailing-zero count of w, plus 1 (w = 0 -> 53): for a
    uniform hash, trailing zeros follow the same geometric law as the
    classic leading-zero rank, and they compute in EXACT integer
    arithmetic on both engines — ``bit_count((w & -w) - 1)`` — where a
    floating ``floor(log2())`` could drift at powers of two.

    Output: group_cols + (register, max_rho), one row per NON-EMPTY
    register. Combinable: max per register merges across partitions,
    days, or engines — union two register tables and re-max to merge
    sketches.
    """
    return (
        df.select(
            *group_cols,
            md5_hash60(F.col(value_col).cast("string")).alias("_h"),
        )
        .select(
            *group_cols,
            F.expr(f"CAST(_h % {HLL_M} AS INT)").alias("register"),
            F.expr(f"_h div {HLL_M}").alias("_w"),
        )
        .select(
            *group_cols,
            "register",
            F.when(F.col("_w") == 0, F.lit(53))
            .otherwise(
                F.expr("CAST(bit_count((_w & -_w) - 1) AS INT) + 1")
            )
            .alias("_rho"),
        )
        .groupBy(*group_cols, "register")
        .agg(F.max("_rho").alias("max_rho"))
    )


def hll_estimate(registers: DataFrame, group_cols: list[str]) -> DataFrame:
    """HLL estimate from a register table, in exact integer milli-units.

    Raw estimator: E = alpha_m * m^2 / sum_j 2^(-rho_j), empty
    registers contributing 2^0. The inverse-power sum is computed as
    S = sum(2^53 >> rho) + (m - n_nonzero) * 2^53 — all integers, max
    m * 2^53 = 2^61 < 2^63 — and the final division routes through
    DECIMAL(38,0)/HUGEINT (the numerator ~ 4e32 overflows BIGINT).

    Small-range correction (E <= 2.5m, some registers empty):
    linear counting m * ln(m / V) — the one float op, rounded once to
    milli with identical expression order in the oracle.
    """
    agg = registers.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_nonzero"),
        F.sum(
            F.expr(
                f"CAST({HLL_POW} AS BIGINT)"
                " div shiftleft(CAST(1 AS BIGINT), max_rho)"
            )
        ).alias("_s_nonzero"),
    )
    raw_milli = F.expr(
        f"CAST(CAST({HLL_ALPHA_E9} AS DECIMAL(38,0)) * {HLL_M} * {HLL_M}"
        f" * {HLL_POW} * 1000 AS DECIMAL(38,0))"
        f" div (CAST(_s_nonzero + ({HLL_M} - n_nonzero)"
        f" * CAST({HLL_POW} AS BIGINT) AS DECIMAL(38,0)) * 1000000000)"
    )
    v = F.lit(HLL_M) - F.col("n_nonzero")  # empty registers
    linear_milli = F.round(
        F.log(F.lit(float(HLL_M)) / v.cast("double")) * F.lit(HLL_M) * 1000.0,
        0,
    ).cast("long")
    use_linear = (F.col("raw_milli") <= F.lit(2500 * HLL_M)) & (v > 0)
    return (
        agg.withColumn("raw_milli", raw_milli.cast("long"))
        .select(
            *group_cols,
            "n_nonzero",
            F.when(use_linear, linear_milli)
            .otherwise(F.col("raw_milli"))
            .alias("hll_est_milli"),
        )
    )


def hll_distinct(
    df: DataFrame, group_cols: list[str], value_col: str
) -> DataFrame:
    """Per-group HLL distinct estimate NEXT TO the exact count, so the
    sketch's error is part of the verified output rather than a claim:
    (group, exact_distinct, n_nonzero, hll_est_milli).

    Two single-scan aggregations over the same input (both combinable;
    at 100 TB the exact side is the expensive one — that is the point
    of shipping the sketch)."""
    regs = hll_estimate(hll_registers(df, group_cols, value_col), group_cols)
    exact = df.groupBy(*group_cols).agg(
        F.countDistinct(value_col).alias("exact_distinct")
    )
    return exact.join(regs, group_cols).orderBy(*group_cols)


def bitmap_activity(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    anchor_date: str,
    cohort_mod: int = 50,
) -> DataFrame:
    """Druid/ClickHouse-style bitmap rollup: each entity's activity over
    a <=63-day window packs into ONE BIGINT mask (bit d = active on
    anchor+d days), aggregated with ``bit_or`` — the mergeable artifact
    behind retention / DAU-overlap queries that would otherwise need
    count-distinct over raw events.

    Output per cohort (entity id mod ``cohort_mod``): entity count, total
    active-days (popcount sum), distinct activity PATTERNS (masks as
    grouping keys — the bitmap-as-value trick), and max active-days.
    Two combinable aggregations, no window functions; the per-entity
    state is 8 bytes no matter how many raw events — the 100 TB shape.
    """
    day = F.datediff(F.to_date(F.col(ts_col)), F.to_date(F.lit(anchor_date)))
    masks = (
        df.select(F.col(group_col).alias("entity"), day.alias("_d"))
        .filter((F.col("_d") >= 0) & (F.col("_d") < 63))
        .groupBy("entity")
        .agg(
            F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), _d))").alias("mask")
        )
    )
    return (
        masks.groupBy((F.col("entity") % F.lit(cohort_mod)).alias("cohort"))
        .agg(
            F.count(F.lit(1)).alias("n_entities"),
            F.sum(F.expr("CAST(bit_count(mask) AS BIGINT)")).alias(
                "total_active_days"
            ),
            F.countDistinct("mask").alias("n_patterns"),
            F.max(F.expr("CAST(bit_count(mask) AS BIGINT)")).alias(
                "max_active_days"
            ),
        )
        .orderBy("cohort")
    )


#: Count-Min Sketch shape: depth rows x width buckets. Width is a power
#: of two only for cache friendliness — the bucket map is a universal
#: hash mod width, not a bit mask, so any width is correct.
CMS_DEPTH = 4
CMS_WIDTH = 128


def cms_heavy_hitters(
    df: DataFrame,
    key_col,
    top_k: int = 20,
) -> DataFrame:
    """Count-Min Sketch (Cormode & Muthukrishnan 2005) heavy hitters with
    the estimate reported NEXT TO the exact count — the streaming
    frequency sketch behind top-k dashboards, rate limiters, and corpus
    token-frequency screens, rebuilt on the cross-engine `md5_hash60` +
    universal-hash contract so every counter is replayable in DuckDB.

    Sketch: ``CMS_DEPTH`` independent hash rows; row i maps a key to
    bucket ``((a_i * h + b_i) mod p) mod CMS_WIDTH`` where
    h = md5_hash60(key) mod p and (a_i, b_i) come from the deterministic
    coefficient generator (functions/hashing.py, seed 7). A key's
    estimate is the MIN of its ``CMS_DEPTH`` bucket counters — always
    >= the true count (counters only ever include extra colliding keys,
    never miss their own).

    Output, for the ``top_k`` keys by TRUE count (ties broken by key):
    (key, true_count, cms_count, overcount), ordered by true_count desc.

    Scale shape: the sketch is ONE combinable aggregation producing at
    most CMS_DEPTH*CMS_WIDTH rows NO MATTER the input size — the mergeable
    artifact a 100 TB pipeline keeps per (hour, source) and unions into
    daily rollups. The probe side is top_k*CMS_DEPTH rows joined against
    the tiny sketch (broadcast). Exact-truth comparison obviously
    re-scans (this is the verification-grade twin, like hll_distinct);
    production keeps only the sketch.
    """
    from ..functions.hashing import MINHASH_P, minhash_coefficients

    coefs = minhash_coefficients(CMS_DEPTH, seed=7)
    keyed = df.select(F.col(key_col).cast("string").alias("key"))
    h = md5_hash60(F.col("key")) % F.lit(MINHASH_P)

    def bucket(i: int):
        a, b = coefs[i]
        return ((F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_P)) % F.lit(CMS_WIDTH)

    buckets = F.array(*[bucket(i) for i in range(CMS_DEPTH)])
    sketch = (
        keyed.select(F.posexplode(buckets).alias("_row", "_bucket"))
        .groupBy("_row", "_bucket")
        .agg(F.count(F.lit(1)).alias("_counter"))
    )
    truth = (
        keyed.groupBy("key")
        .agg(F.count(F.lit(1)).alias("true_count"))
        .orderBy(F.col("true_count").desc(), F.col("key").asc())
        .limit(top_k)
    )
    probes = truth.select(
        "key", "true_count", F.posexplode(buckets).alias("_row", "_bucket")
    )
    est = (
        probes.join(F.broadcast(sketch), ["_row", "_bucket"])
        .groupBy("key", "true_count")
        .agg(F.min("_counter").alias("cms_count"))
    )
    return est.select(
        "key",
        "true_count",
        "cms_count",
        (F.col("cms_count") - F.col("true_count")).alias("overcount"),
    ).orderBy(F.col("true_count").desc(), F.col("key").asc())


def histogram_percentiles(
    df: DataFrame,
    value_col: str,
    ps: tuple = (0.5, 0.95, 0.99),
    n_bins: int = 256,
) -> DataFrame:
    """Percentile estimation from a fixed equi-width histogram, reported
    NEXT TO the exact rank-based percentile — the mergeable-sketch
    answer to "p99 latency per hour over 100 TB" (a histogram is ``n_bins``
    counters per group: combinable, unionable across days, constant
    size), with the exact twin as the verification-grade baseline (the
    exact side sorts distinct values — fine at test scale, deliberately
    NOT the 100 TB path).

    Estimate: locate the bin holding rank ``ceil(p * n)``, then
    linearly interpolate inside it by rank fraction. Exact: the
    smallest value whose cumulative count reaches the rank (type-1
    quantile). All arithmetic is fixed-order doubles + integer ranks,
    so both engines agree bitwise.

    Output per p: (p, rank, est_value, exact_value, err) — est/exact/
    err rounded to 6."""
    from pyspark.sql import Window

    v = F.col(value_col).cast("double")
    stats = df.agg(
        F.min(v).alias("_mn"), F.max(v).alias("_mx"),
        F.count(v).alias("_n"),
    )
    width = (F.col("_mx") - F.col("_mn")) / F.lit(float(n_bins))
    binned = df.crossJoin(F.broadcast(stats)).select(
        F.when(
            F.col("_mx") == F.col("_mn"), F.lit(0)
        ).otherwise(
            F.least(
                F.floor((v - F.col("_mn")) / width).cast("int"),
                F.lit(n_bins - 1),
            )
        ).alias("_bin"),
        "_mn", "_mx", "_n",
    )
    hist = binned.groupBy("_bin", "_mn", "_mx", "_n").agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    w_cum = Window.orderBy("_bin").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = hist.select(
        "_bin", "_mn", "_mx", "_n", "_cnt",
        F.coalesce(F.sum("_cnt").over(w_cum), F.lit(0)).alias("_before"),
    )
    ps_df = df.sparkSession.createDataFrame(
        [(float(p),) for p in ps], "p double"
    )
    est = (
        cum.crossJoin(F.broadcast(ps_df))
        .withColumn("_rank", F.ceil(F.col("p") * F.col("_n")).cast("long"))
        .filter(
            (F.col("_before") < F.col("_rank"))
            & (F.col("_rank") <= F.col("_before") + F.col("_cnt"))
        )
        .select(
            "p",
            "_rank",
            F.round(
                F.col("_mn")
                + width * F.col("_bin")
                + width
                * ((F.col("_rank") - F.col("_before")) / F.col("_cnt")),
                6,
            ).alias("est_value"),
        )
    )
    # exact type-1 quantile over the distinct-value cumulative counts;
    # single-partition window over DISTINCT values — verification twin
    vals = df.select(v.alias("_val")).groupBy("_val").agg(
        F.count(F.lit(1)).alias("_c")
    )
    w_v = Window.orderBy("_val").rowsBetween(
        Window.unboundedPreceding, 0
    )
    vcum = vals.select("_val", F.sum("_c").over(w_v).alias("_cum"))
    exact = (
        vcum.crossJoin(
            F.broadcast(
                ps_df.crossJoin(F.broadcast(stats)).select(
                    "p",
                    F.ceil(F.col("p") * F.col("_n"))
                    .cast("long")
                    .alias("_rank"),
                )
            )
        )
        .filter(F.col("_cum") >= F.col("_rank"))
        .groupBy("p")
        .agg(F.round(F.min("_val"), 6).alias("exact_value"))
    )
    return (
        est.join(exact, "p")
        .select(
            "p",
            F.col("_rank").alias("rank"),
            "est_value",
            "exact_value",
            F.round(F.col("est_value") - F.col("exact_value"), 6).alias(
                "err"
            ),
        )
        .orderBy("p")
    )


def quantile_state(
    df: DataFrame,
    keys: list[str],
    val_col: str,
    lo: float,
    hi: float,
    n_bins: int = 128,
) -> DataFrame:
    """Mergeable per-key quantile STATE: a fixed-edge equi-width
    histogram — (keys..., n_below, n_above, n_vals, bins array<bigint>)
    — completing the incremental-maintenance story
    (:func:`~.aggregates.partial_agg_state` covers count/sum/min/max;
    production rollups also need percentiles). Bin edges are FIXED
    parameters (``[lo, hi)`` split into ``n_bins``), not data-derived:
    data-derived edges make two days' histograms incompatible, while
    fixed edges make merge literally integer counter addition — exact,
    associative, order-free, so merge(1000 days) is a tree of unions,
    never a replay (the same monoid law partial_agg_state proves).
    Values outside [lo, hi) land in the n_below / n_above counters —
    kept, not dropped, so ranks stay exact and only the VALUE of an
    out-of-range quantile saturates to the boundary.

    NULL and NaN (round 9): NULLs are dropped before binning — the
    SQL-aggregate convention every percentile function follows (a NULL
    is "no measurement", not a rank) — so n_vals counts only real
    values and map_from_entries never sees a null key (a NULL would
    otherwise fall through every WHEN arm into a null _bin and crash
    the map build at runtime). NaN routes EXPLICITLY to n_above via
    isnan, not via comparison fall-through: both Spark and DuckDB sort
    NaN above every real double, so "NaN counts as >= hi" is the one
    rule the two engines agree on — but Spark's ``v >= hi`` happens to
    be true for NaN while DuckDB's CASE needs the isnan arm spelled
    out, so both halves state it explicitly rather than leaning on
    engine-specific comparison semantics.

    Scale shape: one combinable shuffle on ``keys`` (map-side partials
    over a (key, bin) space of at most |keys| x (n_bins+2)); the state
    is n_bins+3 integers per key regardless of input size. All counters
    are BIGINT, so the state — like every sketch here — is replayable
    cross-engine with no float accumulation anywhere."""
    if not (hi > lo) or n_bins < 1:
        raise ValueError("need hi > lo and n_bins >= 1")
    w = (hi - lo) / n_bins  # python float == IEEE double division
    v = F.col(val_col).cast("double")
    tagged = df.filter(v.isNotNull()).select(
        *keys,
        F.when(F.isnan(v), F.lit(n_bins))
        .when(v < float(lo), F.lit(-1))
        .when(v >= float(hi), F.lit(n_bins))
        .otherwise(
            F.floor((v - F.lit(float(lo))) / F.lit(w)).cast("int")
        )
        .alias("_bin"),
    )
    counts = tagged.groupBy(*keys, "_bin").agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    packed = counts.groupBy(*keys).agg(
        F.map_from_entries(
            F.collect_list(F.struct("_bin", "_cnt"))
        ).alias("_m")
    )
    zero = F.lit(0).cast("long")
    return packed.select(
        *keys,
        F.coalesce(F.element_at("_m", F.lit(-1)), zero).alias("n_below"),
        F.coalesce(F.element_at("_m", F.lit(n_bins)), zero).alias("n_above"),
        F.transform(
            F.sequence(F.lit(0), F.lit(n_bins - 1)),
            lambda i: F.coalesce(F.element_at("_m", i), zero),
        ).alias("bins"),
    ).withColumn(
        "n_vals",
        F.col("n_below")
        + F.col("n_above")
        + F.aggregate("bins", zero, lambda acc, x: acc + x),
    )


def merge_quantile_states(*states: DataFrame) -> DataFrame:
    """Merge any number of compatible quantile states (same keys, same
    lo/hi/n_bins contract): union + per-key integer addition — counters
    add, bins add element-wise. Output schema equals input schema, so
    states chain across arbitrarily many days. The element-wise bin sum
    folds the per-key collect_list of bin arrays with zip_with — the
    list is |states being merged| small arrays per key, and integer
    addition is order-free, so the fold is partition-invariant."""
    if not states:
        raise ValueError("merge_quantile_states needs at least one state")
    merged = states[0]
    for s in states[1:]:
        merged = merged.unionByName(s)
    keys = [
        c
        for c in merged.columns
        if c not in ("n_below", "n_above", "n_vals", "bins")
    ]
    return (
        merged.groupBy(*keys)
        .agg(
            F.sum("n_below").alias("n_below"),
            F.sum("n_above").alias("n_above"),
            F.collect_list("bins").alias("_bl"),
            F.sum("n_vals").alias("n_vals"),
        )
        .select(
            *keys,
            "n_below",
            "n_above",
            F.aggregate(
                F.slice(
                    "_bl", 2, F.greatest(F.size("_bl") - 1, F.lit(0))
                ),
                F.element_at("_bl", 1),
                lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b),
            ).alias("bins"),
            "n_vals",
        )
    )


def quantile_from_state(
    state: DataFrame,
    keys: list[str],
    ps: tuple,
    lo: float,
    hi: float,
) -> DataFrame:
    """Read-time percentile estimates from (possibly merged) quantile
    state: per key and requested p, locate the bin holding rank
    ceil(p * n_vals) and linearly interpolate inside it by rank
    fraction (the :func:`histogram_percentiles` estimator, lifted onto
    persisted state). Ranks and cumulative counts are pure BIGINT; the
    only doubles are the final fixed-order interpolation, so the result
    is cross-engine exact. A rank landing in the below/above overflow
    counters reports the saturated boundary value — documented
    semantics of the fixed-edge contract, not data loss.

    Output: (keys..., p, rank, est_value). Scale: the exploded relation
    is |keys| x (n_bins+2) rows — state-sized, never data-sized."""
    n_bins = F.size("bins")
    width = (F.lit(float(hi)) - F.lit(float(lo))) / n_bins.cast("double")
    rows = state.select(
        *keys,
        "n_vals",
        n_bins.alias("_nb"),
        F.explode(
            F.concat(
                F.array(F.struct(F.lit(-1).alias("_bin"), F.col("n_below").alias("_cnt"))),
                F.transform(
                    F.sequence(F.lit(0), n_bins - 1),
                    lambda i: F.struct(
                        i.alias("_bin"), F.element_at("bins", i + 1).alias("_cnt")
                    ),
                ),
                F.array(F.struct(n_bins.alias("_bin"), F.col("n_above").alias("_cnt"))),
            )
        ).alias("_e"),
    ).select(*keys, "n_vals", "_nb", F.col("_e._bin").alias("_bin"), F.col("_e._cnt").alias("_cnt"))
    from pyspark.sql import Window

    w_cum = Window.partitionBy(*keys).orderBy("_bin").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = rows.withColumn(
        "_before", F.coalesce(F.sum("_cnt").over(w_cum), F.lit(0).cast("long"))
    )
    ps_df = state.sparkSession.createDataFrame(
        [(float(p),) for p in ps], "p double"
    )
    width2 = (F.lit(float(hi)) - F.lit(float(lo))) / F.col("_nb").cast("double")
    return (
        cum.crossJoin(F.broadcast(ps_df))
        .withColumn("rank", F.ceil(F.col("p") * F.col("n_vals")).cast("long"))
        .filter(
            (F.col("_before") < F.col("rank"))
            & (F.col("rank") <= F.col("_before") + F.col("_cnt"))
        )
        .select(
            *keys,
            "p",
            "rank",
            F.round(
                F.when(F.col("_bin") < 0, F.lit(float(lo)))
                .when(F.col("_bin") >= F.col("_nb"), F.lit(float(hi)))
                .otherwise(
                    F.lit(float(lo))
                    + width2 * F.col("_bin")
                    + width2
                    * (
                        (F.col("rank") - F.col("_before"))
                        / F.col("_cnt")
                    )
                ),
                6,
            ).alias("est_value"),
        )
    )
