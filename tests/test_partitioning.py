"""ensure_scan_parallelism: the partition-count memo is scoped to one
Spark application."""

from __future__ import annotations

from yellowrush_spark_ml_pipeline_spark.functions import partitioning


def test_scan_parallelism_memo_ignores_other_applications(spark):
    """Entries for the same plan under another application — including
    one under this context's ``id()``, which a later context can reuse —
    are not read back: the probe runs again and records the count under
    this application's id."""
    df = spark.range(64).coalesce(1)
    plan = int(df._jdf.queryExecution().analyzed().semanticHash())
    sc = spark.sparkContext
    saved = dict(partitioning._NPART_MEMO)
    partitioning._NPART_MEMO.clear()
    try:
        # a stale count large enough to make the call a no-op if reused
        partitioning._NPART_MEMO[("app-stopped-earlier", plan)] = 10**6
        partitioning._NPART_MEMO[(id(sc), plan)] = 10**6
        out = partitioning.ensure_scan_parallelism(df)
        assert out is not df
        assert out.rdd.getNumPartitions() == sc.defaultParallelism
        assert partitioning._NPART_MEMO[(sc.applicationId, plan)] == 1
    finally:
        partitioning._NPART_MEMO.clear()
        partitioning._NPART_MEMO.update(saved)
