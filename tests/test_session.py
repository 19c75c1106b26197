"""Session defaults that only show across repeated queries."""

from __future__ import annotations

from pyspark_big_data_spark import session
from pyspark_big_data_spark.queries import REGISTRY

# The benchmark's olap_reads queries: their warm working set (about 110
# generated classes) overflows Spark's default 100-entry codegen cache.
OLAP_QUERIES = [
    "q1_top_months_per_year",
    "q2_event_time_bins",
    "q3_segment_profile_top",
    "q4_avg_distance",
    "q4_avg_distance_pandas_udf",
    "pricing_summary",
]


def test_codegen_cache_holds_the_warm_working_set(spark, sf_dir):
    """A second round of the same queries compiles no generated class:
    the codegen cache keeps what the first round compiled."""
    key = "spark.sql.codegen.cache.maxEntries"
    assert spark.conf.get(key) == session._PERF_CONFS[key]
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def run_round() -> int:
        before = compiles.getCount()
        for name in OLAP_QUERIES:
            REGISTRY[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            spark.catalog.clearCache()
        return compiles.getCount() - before

    assert run_round() > 0
    assert run_round() == 0
