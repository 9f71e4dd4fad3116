"""Settings get_spark gives every session: bench.py, perfbench, the
test fixture and driver_sim all build theirs through it."""

from __future__ import annotations

from bench import force
from discogs_xml_to_parquet_spark import registry
from tests.conftest import SF_SMOKE

# perfbench's headline mix (perfbench/workloads.json): 131 generated
# classes a pass, more than Spark's default codegen cache of 100 holds
HEADLINE_MIX = ("q_curation_pipeline", "q_asof_join",
                "q_sessionize_events", "q_stream_tumbling")


def _compiles(spark) -> int:
    return (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
            .METRIC_COMPILATION_TIME().getCount())


def _force_mix(spark) -> None:
    spark.catalog.clearCache()  # a cold-cache pass, as the benchmarks run
    for name in HEADLINE_MIX:
        force(spark, name, SF_SMOKE)


def test_warm_pass_compiles_nothing(spark):
    """The second pass over the mix reuses every class the first one
    compiled (spark.sql.codegen.cache.maxEntries). At the default bound
    the LRU evicted each class before its next use, and the second pass
    compiled all 131 again."""
    registry.load_all_queries()
    _force_mix(spark)
    before = _compiles(spark)
    _force_mix(spark)
    assert _compiles(spark) - before == 0
