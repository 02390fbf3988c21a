"""Session settings that only show over many queries in one JVM."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_codegen_cache_holds_a_cyclic_query_set(spark):
    """150 distinct plans, each run twice in order: the second pass must
    compile nothing. At Spark's default cache size (100) a cycle this long
    evicts every class just before its next use."""
    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()
    plans = [spark.range(3).select((F.col("id") + i).alias("x"))
             for i in range(150)]
    for df in plans:
        df.collect()
    before = compiled.getCount()
    for df in plans:
        df.collect()
    assert compiled.getCount() - before == 0
