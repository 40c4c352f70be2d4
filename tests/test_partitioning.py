"""ensure_scan_parallelism: the partition-count memo is scoped to one
Spark application and to the session confs that set the count."""

from __future__ import annotations

from yellowrush_spark_ml_pipeline_spark.functions import partitioning


def test_scan_parallelism_memo_ignores_other_applications(spark):
    """Entries for the same plan under another application — including
    one under this context's ``id()``, which a later context can reuse —
    are not read back: the probe runs again and records the count under
    this application's id."""
    df = spark.range(64).coalesce(1)
    plan = int(df._jdf.queryExecution().analyzed().semanticHash())
    confs = tuple(spark.conf.get(k) for k in partitioning._NPART_CONFS)
    sc = spark.sparkContext
    saved = dict(partitioning._NPART_MEMO)
    partitioning._NPART_MEMO.clear()
    try:
        # a stale count large enough to make the call a no-op if reused
        partitioning._NPART_MEMO[("app-stopped-earlier", *confs, plan)] = 10**6
        partitioning._NPART_MEMO[(id(sc), *confs, plan)] = 10**6
        out = partitioning.ensure_scan_parallelism(df)
        assert out is not df
        assert out.rdd.getNumPartitions() == sc.defaultParallelism
        assert partitioning._NPART_MEMO[(sc.applicationId, *confs, plan)] == 1
    finally:
        partitioning._NPART_MEMO.clear()
        partitioning._NPART_MEMO.update(saved)


def test_scan_parallelism_memo_follows_max_partition_bytes(spark, tmp_path):
    """One parquet file scans as one task at the 128 MiB split size and
    gets repartitioned; after ``maxPartitionBytes`` drops to 4 KiB in the
    same session the same plan splits into many tasks, and the probe
    must see that instead of reusing the count taken under the old conf."""
    path = str(tmp_path / "ints.parquet")
    spark.range(20_000).coalesce(1).write.parquet(path)
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    target = spark.sparkContext.defaultParallelism
    try:
        spark.conf.set(key, str(128 << 20))
        wide = spark.read.parquet(path)
        assert wide.rdd.getNumPartitions() == 1
        assert partitioning.ensure_scan_parallelism(wide) is not wide

        spark.conf.set(key, "4096")
        split = spark.read.parquet(path)
        assert split.rdd.getNumPartitions() >= target
        assert partitioning.ensure_scan_parallelism(split) is split
    finally:
        spark.conf.set(key, old)
