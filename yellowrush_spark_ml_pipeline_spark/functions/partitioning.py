"""Scan-parallelism floor for unsplittable inputs (guide §2.5 remedy).

A parquet file is splittable only at row-group boundaries; a table written
as one row group therefore scans as ONE task no matter how
``spark.sql.files.maxPartitionBytes`` / ``minPartitionNum`` are set — and
every expression fused into that scan (regex quality rules, per-gram md5,
array math) runs on a single core while the rest of the cluster idles.
The standard remedy is a repartition immediately after the read,
CONDITIONAL on the scan actually being starved: at production scale,
inputs split into thousands of tasks and the condition never fires, so
no extra exchange is paid where the layout is already healthy.

Only operators whose results are PARTITION-INVARIANT may use this —
exactly the invariance the driver-mirror's ``--shuffle N`` probe asserts
for every oracle query.  Never apply it near ``randomSplit`` /
``sample`` consumers, whose draws depend on the partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# Partition-count memo keyed on (Spark application id, analyzed-plan
# semantic hash).  The ``df.rdd.getNumPartitions()`` probe converts the
# full analyzed plan to an RDD — driver-side physical planning + file
# listing, repeated verbatim when the same operator plan is rebuilt
# (every bench shot, every oracle replay, every flow that composes the
# same scan twice).  Semantically-equal plans yield the same partition
# count within one context (same files, same session conf), so the probe
# runs once per distinct plan instead of once per call (r12 ADVICE).
# The application id, not ``id(sparkContext)``, scopes the entry: an
# ``id()`` is reused once a stopped context is garbage-collected, and a
# new context over changed files must not inherit the old counts.
# Bounded: cleared wholesale if it ever grows past _NPART_MEMO_MAX —
# a memo, not a cache of data.
_NPART_MEMO: dict[tuple[str, int], int] = {}
_NPART_MEMO_MAX = 4096


def ensure_scan_parallelism(df: DataFrame, min_fraction: float = 0.5) -> DataFrame:
    """Round-robin repartition ``df`` up to the session's default
    parallelism iff its current plan yields fewer than ``min_fraction``
    of that many partitions.  No-op for streaming frames and whenever
    the input already splits (the 100 TB case); the target derives from
    the session's core count, never a constant."""
    if df.isStreaming:
        return df
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        key = (
            spark.sparkContext.applicationId,
            int(df._jdf.queryExecution().analyzed().semanticHash()),
        )
        n = _NPART_MEMO.get(key)
        if n is None:
            n = df.rdd.getNumPartitions()
            if len(_NPART_MEMO) >= _NPART_MEMO_MAX:
                _NPART_MEMO.clear()
            _NPART_MEMO[key] = n
    except Exception:  # noqa: BLE001 — planning-only probe; never fail the op
        return df
    if n < max(2, int(target * min_fraction)):
        return df.repartition(target)
    return df
