"""SparkSession factory with scale-first defaults.

The reference (``nyc_taxi_final.py:703-711``) tunes a tiny
cluster by hand (``shuffle.partitions=4``, Kryo, 6g driver). This engine
instead relies on AQE to right-size shuffles at runtime, which is the only
strategy that survives a 1000-executor / 100 TB deployment:

* ``spark.sql.adaptive.enabled`` — runtime re-planning (partition coalescing,
  skew-join splitting, broadcast demotion/promotion) from observed stats.
* ``spark.sql.adaptive.coalescePartitions.enabled`` — post-shuffle partitions
  sized by bytes, not a static count, so the same code runs at sf0.001 and
  100 TB.
* ``spark.sql.adaptive.skewJoin.enabled`` — hot keys (e.g. a celebrity user
  in ``events``) get split instead of stalling one task.
* UTC session timezone — deterministic date/time semantics regardless of host.
* Arrow execution — any unavoidable Python boundary moves columnar batches,
  not pickled rows.

Two defaults keep one session from redoing driver-side work on every query
(compiled code is reused, never query results):

* ``spark.sql.codegen.cache.maxEntries`` = ``CODEGEN_CACHE_ENTRIES``
  (8192; Spark's default is 100).  The generated-class cache is an LRU
  keyed on the generated source.  The 10-query ``perfbench``
  ``query_mix`` pass alone needs 111 distinct sources, so at 100 entries
  a warm pass recompiled 59-95 classes (a median 11-12 ms of Janino each
  on 4 cores).  One pass over the whole registry at sf0.001 compiles
  3,805 distinct sources; a second pass in the same session recompiled
  6,402 at the default and 234 with this cache.  8192 is the smallest
  power of two at least 1.5x the two-pass working set (4,039).
  Metaspace after the two passes: +34 MB over the default.  A static
  conf: it takes effect only when this call starts the JVM's first
  session.
* ``spark.python.sql.dataFrameDebugging.enabled`` = ``false``.  PySpark
  wraps every ``functions.*`` and Column call in an origin recorder that
  walks the Python stack and makes several py4j round trips (active
  session, ``conf.get``, origin ``set``/``clear``) per call: without it
  the ten ``query_mix`` builds make ~1,400 round trips instead of 3,660,
  and ten ``F.col`` calls take 3.5 ms instead of 10 ms.  Runtime errors
  keep their error class and SQLSTATE; they lose only the Python call
  site: the message's DataFrame context names a JVM frame instead of
  the Python file and line.  PySpark reads the flag once per process,
  from the session active at the first wrapped call, so it holds when
  that session is this one.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
CODEGEN_CACHE_ENTRIES = 8192


def get_spark(
    app_name: str = "yellowrush-spark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    driver_mem: str | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-safe defaults.

    On a real cluster ``master`` comes from the environment; locally we
    default to ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # local-mode driver == all executors: the 1g JVM default is the
    # hidden scale ceiling (the sf1 bench pass OOM-killed the gateway on
    # it). Sized well under the box; on a real cluster the submitter's
    # --driver-memory/--executor-memory win because the JVM is already up.
    # Callers running data decades ABOVE the default testdata (the bench
    # sf1/sf2 probe contexts) pass ``driver_mem`` to size the heap to the
    # data, exactly like shuffle partitions — a 12 GiB heap at sf2 measures
    # GCLocker thrash, not plans (triangles 83.8 s -> 30.3 s at 28 GiB,
    # partitions unchanged; see SCALE.md round-9 probe).
    driver_mem = driver_mem or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # localCheckpoint'd RDDs (graph operators' bounded relations) are
        # reclaimed by the ContextCleaner only after a JVM GC notices the
        # dropped references; the 30 min default lets dead blocks pile up
        # across a long multi-query session and evict live storage
        # (measured: a 2 s k-means degrading to 27 s late in a 300-query
        # bench run purely from earlier queries' residue).
        .config("spark.cleaner.periodicGC.interval", "3min")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # 128 MiB scan splits: good default for large parquet scans; AQE
        # coalesces small ones.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
