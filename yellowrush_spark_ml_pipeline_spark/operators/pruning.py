"""Bloom-filter join pruning — cut fact-table shuffle bytes before a join.

At 100 TB the dominant cost of fact⋈dim is shuffling the fact side. When
the dim side is selective but too big (or too late in the plan) for a
broadcast-hash join, the classic fix is a Bloom filter on the dim keys
applied to the fact scan — Spark's own runtime row-group filtering
(``spark.sql.optimizer.runtime.bloomFilter.enabled``) does exactly this
inside Catalyst, but its trigger heuristics are opaque and its
``bloom_filter_agg``/``might_contain`` expressions aren't registered for
public SQL. This module is the explicit, deterministic version:

* build — ONE distributed aggregation: per dim key, k = ``n_hashes``
  bit positions from seeded ``xxhash64`` double-hashing, exploded and
  ``bit_or``-combined into ``n_bits/64`` words. The bitmap size is fixed
  by construction (``n_bits``), NOT by dim cardinality.
* materialize — the words collect to the driver (bounded: n_bits/64
  longs, e.g. 2^20 bits = 16 K longs = 128 KB) and re-enter the plan as
  an array *literal*, so membership tests are whole-stage-codegen'd
  column expressions — no UDF, no extra join, no broadcast variable.
* probe — ``bloom_might_contain`` ANDs the k bit tests; a fact row
  passes iff every probed bit is set. No false negatives (every inserted
  key's bits are all set), so pruned⋈dim ≡ fact⋈dim exactly — the filter
  only drops rows the join would drop anyway. False positives only cost
  shuffle bytes; with k=5 and n_bits ≈ 10–20 bits/key the FP rate is
  ~1–3%.

Scale: the build shuffles ``dim_rows × k`` longs into ≤ n_bits/64
groups (map-side bit_or collapses per partition first), the probe is a
narrow scan. Total extra cost is one tiny agg; the win is (1 − dim
selectivity) of the fact shuffle. At a 1000-executor scale the same
bitmap literal ships inside the serialized plan to every task.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _positions(key: Column, n_bits: int, n_hashes: int) -> list[Column]:
    # double hashing h_i = h1 + i*h2 (Kirsch–Mitzenmacher) over seeded
    # xxhash64 variants; pmod keeps positions in [0, n_bits)
    # reduce each hash mod n_bits BEFORE combining: i*h2 on raw 64-bit
    # hashes overflows long under ANSI; reduced terms stay < k * n_bits
    h1 = F.pmod(F.xxhash64(key), F.lit(n_bits))
    h2 = F.pmod(F.xxhash64(key, F.lit(0x9E3779B9)), F.lit(n_bits))
    return [F.pmod(h1 + F.lit(i) * h2, F.lit(n_bits)) for i in range(n_hashes)]


def _long_array(values) -> Column:
    # ONE SQL-parsed ``array<bigint>`` literal: a single py4j call, where
    # ``F.array(*[F.lit(v) ...])`` (and ``F.lit(list)``, which expands to
    # the same per-element Columns) costs a round trip per element.
    return F.expr("array(" + ",".join(f"{int(v)}L" for v in values) + ")")


# bit i's single-bit mask; bit 63 is the sign-bit pattern (two's complement)
_MASK_VALUES: tuple[int, ...] = tuple(
    (1 << i) if i < 63 else -(1 << 63) for i in range(64)
)


def _mask(bit: Column) -> Column:
    # single-bit mask via a 64-long literal lookup: shiftleft() only takes
    # a Python-int shift, so a variable shift is a table lookup instead
    return F.element_at(_long_array(_MASK_VALUES), bit.cast("int") + 1)


def bloom_build(
    dim: DataFrame, key_col: str, n_bits: int = 1 << 17, n_hashes: int = 5
) -> list[int]:
    """Aggregate the dim keys' bit positions into a ``n_bits``-wide bitmap;
    returns the Python word list (length n_bits/64, the ONLY driver-side
    materialization, bounded by construction)."""
    assert n_bits % 64 == 0
    pos = F.explode(
        F.array(*_positions(F.col(key_col), n_bits, n_hashes))
    ).alias("pos")
    words = (
        dim.select(pos)
        .select(
            (F.col("pos") / 64).cast("long").alias("word"),
            _mask(F.col("pos") % 64).alias("bit"),
        )
        .groupBy("word")
        .agg(F.bit_or("bit").alias("bits"))
        .collect()
    )
    out = [0] * (n_bits // 64)
    for r in words:
        out[r["word"]] = r["bits"]
    return out


def bloom_might_contain(
    words: list[int], key: Column, n_bits: int, n_hashes: int
) -> Column:
    """Membership predicate against a materialized bitmap: AND of the k
    probed bits, each an ``element_at`` on the array literal.

    The bitmap travels as ONE ``array<bigint>`` literal (``_long_array``,
    one py4j hop, ~10 ms); a per-word Column costs a py4j round trip per
    word, measured 2-7 s of driver-side plan construction for a 2^17-bit
    filter before any task ran."""
    arr = _long_array(words)
    pred = F.lit(True)
    for p in _positions(key, n_bits, n_hashes):
        word = F.element_at(arr, (p / 64).cast("int") + 1)
        pred = pred & (word.bitwiseAND(_mask(p % 64)) != 0)
    return pred


def bloom_prune(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    n_bits: int = 1 << 17,
    n_hashes: int = 5,
) -> DataFrame:
    """Filter ``fact`` down to rows whose key *might* be in ``dim`` —
    no false negatives, so a subsequent join is unchanged; false
    positives only ride along to the join that drops them."""
    words = bloom_build(dim, dim_key, n_bits, n_hashes)
    return fact.filter(
        bloom_might_contain(words, F.col(fact_key), n_bits, n_hashes)
    )


def bloom_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    how: str = "inner",
    n_bits: int = 1 << 17,
    n_hashes: int = 5,
) -> DataFrame:
    """fact⋈dim with the fact side bloom-pruned first. Exact: equals the
    plain join (the bloom admits every true key)."""
    pruned = bloom_prune(fact, dim, fact_key, dim_key, n_bits, n_hashes)
    return pruned.join(dim, on=pruned[fact_key] == dim[dim_key], how=how)
