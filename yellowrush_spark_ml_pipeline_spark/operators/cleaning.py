"""Null handling + range/outlier filtering (SURVEY.md §2.2 P4-P9).

Spec-driven conjunctive range filters, generalizing the reference's
hard-coded outlier cuts (``nyc_taxi_final.py:376-384``) and duration window
(``:502-505``). Filters are plain Column predicates → Catalyst pushes them
into the parquet scan (check ``PushedFilters`` in ``.explain``), which at
100 TB means row groups are skipped by min/max stats before any CPU burns.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# (low, high, low_inclusive, high_inclusive)
RangeSpec = tuple[float | None, float | None, bool, bool]


def range_predicate(col: Column, low=None, high=None,
                    low_inclusive: bool = True, high_inclusive: bool = False) -> Column:
    pred = F.lit(True)
    if low is not None:
        pred = pred & (col >= low if low_inclusive else col > low)
    if high is not None:
        pred = pred & (col <= high if high_inclusive else col < high)
    return pred


def filter_ranges(df: DataFrame, specs: Mapping[str, RangeSpec]) -> DataFrame:
    """Conjunctive range filter over several columns (P4,
    nyc_taxi_final.py:376-384: `0.5<trip_distance<60 AND surcharge>=0 AND
    0<=extra<10 AND 0<=tolls<50`)."""
    pred = F.lit(True)
    for name, (low, high, li, hi) in specs.items():
        pred = pred & range_predicate(F.col(name), low, high, li, hi)
    return df.filter(pred)


def drop_nulls(df: DataFrame, subset: Sequence[str] | None = None) -> DataFrame:
    """Null-row drop (P6, nyc_taxi_final.py:373)."""
    return df.na.drop(subset=list(subset) if subset else None)


def fill_nulls(df: DataFrame, values: Mapping[str, object]) -> DataFrame:
    """Null fill, e.g. post-left-join (P7, nyc_taxi_final.py:563)."""
    return df.na.fill(dict(values))


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: Mapping[object, float],
    seed: int = 42,
    default_fraction: float | None = None,
) -> DataFrame:
    """Per-stratum Bernoulli sampling (`sampleBy`) — the corpus-rebalancing
    op of a training-data pipeline: downsample the dominant language /
    source, keep the tail at full weight. One narrow scan, no shuffle;
    each row flips a seed-pinned coin against its stratum's fraction.

    ``default_fraction`` applies to strata absent from ``fractions``
    (sampleBy's own default silently DROPS unlisted strata — usually not
    what a rebalancing pass wants)."""
    fr = dict(fractions)
    if default_fraction is not None:
        # strata are low-cardinality by definition (languages, sources) and
        # sampleBy's fractions dict is driver-side by API design
        for row in df.select(strata_col).distinct().collect():
            fr.setdefault(row[0], default_fraction)
    return df.sampleBy(strata_col, fr, seed=seed)


def deterministic_stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: Mapping[object, float],
    default_fraction: float = 1.0,
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact stratified sampling: keep a row iff a Lehmer hash of its id,
    reduced mod 1,000,000, falls under its stratum's threshold (the
    fraction in millionths).

    Unlike Bernoulli ``sampleBy`` this is a pure function of the data — no
    RNG stream, no partitioning sensitivity — so the SAME rows survive in
    any engine, which makes the sampling surface differentially testable
    (exact DuckDB oracle) and reproducible across reruns/backfills at
    100 TB. The hash is the MINSTD Lehmer step ``(id % p) * 48271 % p``
    (p = 2^31-1): multiplicative mixing whose intermediate product stays
    < 2^47, overflow-free in strict/ANSI integer arithmetic in any engine.
    One narrow filter — no shuffle, no collect."""
    modulus = 1_000_000
    h = F.pmod(_lehmer_hash(df, id_col), F.lit(modulus))
    threshold = None
    for k, frac in fractions.items():
        t = F.lit(int(frac * modulus))
        cond = F.col(strata_col) == F.lit(k)
        threshold = F.when(cond, t) if threshold is None else threshold.when(cond, t)
    default_t = F.lit(int(default_fraction * modulus))
    threshold = default_t if threshold is None else threshold.otherwise(default_t)
    return df.filter(h < threshold)


def _lehmer_hash(df: DataFrame, id_col: str):
    """MINSTD Lehmer step ``pmod(pmod(id, p) * 48271, p)`` (p = 2^31-1) as a
    Column. ``pmod`` keeps the value in [0, p) for NEGATIVE ids too (plain
    ``%`` carries the sign through and weakens the permutation), and the
    intermediate product stays < 2^47 — overflow-free in strict/ANSI integer
    arithmetic in any engine. Requires a NUMERIC id column: a string id
    would make ``id % p`` resolve to NULL and silently degrade ordering to
    plain id order, so that case raises instead (pre-hash string ids with
    ``F.xxhash64`` — noting that leaves the cross-engine-exact contract,
    since xxhash64 is Spark-specific)."""
    field = df.schema[id_col].dataType.typeName()
    if field in ("string", "binary", "boolean", "date", "timestamp"):
        raise TypeError(
            f"deterministic samplers need a numeric id column; {id_col!r} is "
            f"{field}. Pre-hash non-numeric ids (e.g. F.xxhash64) first."
        )
    p = 2_147_483_647
    return F.pmod(F.pmod(F.col(id_col), F.lit(p)) * F.lit(48271), F.lit(p))


def deterministic_k_per_group(
    df: DataFrame,
    group_col: str,
    k: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact k-per-group sampling (the balanced eval-set / few-shot-pool
    constructor): rank each group's rows by a Lehmer hash of their id and
    keep the first ``k``. The companion to `deterministic_stratified_sample`
    for when the contract is a COUNT per stratum, not a fraction.

    Pure function of the data — the same k rows survive in any engine, at
    any partitioning, on any rerun (hash order stands in for the random
    order a true reservoir would draw; ``(hash, id)`` breaks ties so the
    order is total). One shuffle on ``group_col`` for the window; no
    driver state, group count never materializes anywhere.
    """
    from pyspark.sql import Window

    h = _lehmer_hash(df, id_col)
    w = Window.partitionBy(group_col).orderBy(h.asc(), F.col(id_col).asc())
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def weighted_priority_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic weighted sampling without replacement: keep the k
    rows with the highest priority ``w / u``, where ``u`` is the row's
    Lehmer-hash uniform in (0, 1] (Duffield et al.'s priority sampling,
    with the hash standing in for the RNG). A row's selection odds scale
    with its weight — the quality-weighted corpus subsetting step of a
    training-data pipeline — yet the surviving row SET is a pure
    function of the data: engine-, partitioning- and rerun-invariant,
    hence exactly DuckDB-checkable.

    Arithmetic contract: ``u = (h + 1) / (p + 1)`` and ``w / u`` are two
    IEEE double divisions of exactly-representable integers — correctly
    rounded, bit-identical in any engine; ordering ties break on id, so
    the top-k set is total-ordered. Rows with non-positive or NULL
    weight are excluded (they'd sort above everything on NULL/inf
    semantics differences otherwise — the one cross-engine trap here).

    Scale shape: a narrow priority projection + global top-k, which
    Spark plans as TakeOrderedAndProject (per-partition heaps + one
    k-row merge at the driver stage) — no global sort of the table."""
    p = 2_147_483_647
    h = _lehmer_hash(df, id_col)
    u = (h + F.lit(1)).cast("double") / F.lit(float(p + 1))
    pri = F.col(weight_col).cast("double") / u
    return (
        df.filter(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
        .withColumn("priority", pri)
        .orderBy(F.col("priority").desc(), F.col(id_col).asc())
        .limit(k)
    )


def quantile_normalize(
    df: DataFrame,
    value_col: str,
    group_col: str,
    id_col: str,
    out_col: str = "pct",
) -> DataFrame:
    """Per-group quantile (ECDF) normalization: map each row's value to
    its empirical percentile WITHIN its group — ``(rank - 1) / (n - 1)``
    in [0, 1] — so scores from groups with different scales become
    comparable. The curation use: a quality score whose distribution
    varies by ingest source biases any global cutoff toward verbose
    sources; normalizing per source makes "keep the top 30%" mean the
    same thing everywhere.

    Rank is ``row_number`` ordered by (value, id) — the id tiebreak
    makes duplicated values deterministic, partition-invariant, and
    cross-engine exact (the division is one int/int -> double op,
    identical in any engine; no interpolation arithmetic to drift).
    Single-row groups define pct = 0.5 (middle of an empty range),
    deterministically.

    Scale shape: ONE shuffle on the group key; both windows (rank and
    group count) ride the same partitioning. At 100 TB a pathological
    single giant group serializes into one partition — that is inherent
    to exact within-group ranking; salt-and-merge approximations exist
    but change semantics, so this operator stays exact and documents
    the bound instead."""
    from pyspark.sql import Window

    w_rank = Window.partitionBy(group_col).orderBy(
        F.col(value_col).asc(), F.col(id_col).asc()
    )
    w_all = Window.partitionBy(group_col)
    n = F.count(F.lit(1)).over(w_all)
    rank = F.row_number().over(w_rank)
    pct = F.when(n == 1, F.lit(0.5)).otherwise(
        (rank - F.lit(1)) / (n - F.lit(1))
    )
    return df.withColumn(out_col, pct)


def hash_split(
    df: DataFrame,
    group_col: str,
    buckets: Sequence[tuple[str, int]] = (
        ("train", 980),
        ("val", 990),
        ("test", 1000),
    ),
) -> DataFrame:
    """Leakage-safe train/val/test assignment: the split is a pure
    function of md5_hash60(group key) mod 1000, so EVERY row of a group
    (domain, author, near-dup cluster representative...) lands in the
    same split — the property that keeps eval honest when documents
    within a group are correlated. Stateless and stable: re-running on
    grown data never moves an old group across splits (the eval-set
    contamination failure of fraction-based randomSplit).

    ``buckets`` are (name, upper_bound_exclusive) over [0, 1000),
    ordered; e.g. the default is 98/1/1. The final bound MUST be 1000
    (validated loudly) so no hash value can fall through to a silent
    NULL split. One narrow projection — the assignment adds no shuffle
    to whatever consumes it.
    """
    from ..functions.hashing import md5_hash60

    if not buckets or buckets[-1][1] != 1000:
        raise ValueError(
            "hash_split buckets must cover [0, 1000): the last bucket's "
            f"upper bound must be 1000, got {list(buckets)!r}"
        )
    b = md5_hash60(F.col(group_col).cast("string")) % F.lit(1000)
    expr = None
    for name, hi in buckets:
        cond = b < F.lit(hi)
        expr = (
            F.when(cond, F.lit(name))
            if expr is None
            else expr.when(cond, F.lit(name))
        )
    return df.withColumn("split", expr)
