"""get_spark's session defaults: generated classes stay cached across more
distinct sources than Spark's 100-entry default, PySpark's per-call origin
capture is off, and runtime errors keep their error class."""

from __future__ import annotations

import pytest
from pyspark.errors import ArithmeticException
from pyspark.errors import utils as error_utils
from pyspark.sql import functions as F

from yellowrush_spark_ml_pipeline_spark.session import CODEGEN_CACHE_ENTRIES


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def test_codegen_cache_outlives_more_than_100_other_sources(spark):
    """A query's generated classes are still cached after more than 100
    other distinct sources have been compiled: re-running it compiles
    nothing."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )

    def first():
        return spark.range(64).selectExpr("id * 7 + 3 AS v", "id % 5 AS m")

    _noop(first())
    c0 = _compiles(spark)
    # each long literal is inlined into the generated source, so every
    # filler compiles distinct classes (two per write)
    for i in range(60):
        _noop(spark.range(8).selectExpr(f"id * {1_000_003 + i} AS v"))
    assert _compiles(spark) - c0 > 100
    c1 = _compiles(spark)
    _noop(first())
    assert _compiles(spark) == c1


def test_dataframe_debugging_is_off(spark):
    """PySpark caches the flag per process; re-reading it from the
    active session must give False."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    saved = error_utils._enable_debugging_cache
    error_utils._enable_debugging_cache = None
    try:
        assert error_utils.is_debugging_enabled() is False
    finally:
        error_utils._enable_debugging_cache = saved


def test_ansi_divide_by_zero_keeps_error_class(spark):
    key = "spark.sql.ansi.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        with pytest.raises(ArithmeticException) as err:
            spark.range(3).select((F.col("id") + 1) / F.lit(0)).collect()
    finally:
        spark.conf.set(key, old)
    assert err.value.getCondition() == "DIVIDE_BY_ZERO"
    assert err.value.getSqlState() == "22012"
