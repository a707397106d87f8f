"""The session factory's settings, pinned by what they do."""

from __future__ import annotations

from perfbench.workloads import QUERY_LIGHT
from postgis_gtfs_importer_spark.plans import queries as Q

SF_DIR = "/root/testdata/sf0.01"


def _classes_compiled(spark) -> int:
    """Generated classes Janino has compiled in this JVM so far: one per
    miss of Spark's codegen cache."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_repeated_queries_reuse_generated_classes(spark):
    """The light benchmark's 12 registry entries compile about 170
    generated classes, more than Spark's default codegen cache of 100
    holds, so at the default every repeat recompiles most of them. With
    the cache sized in ``get_spark``, and stage ids kept out of class
    names, a second pass over freshly built frames compiles nothing."""
    registry = Q.queries()

    def run_all() -> None:
        for name in QUERY_LIGHT:
            df = registry[name](spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()

    run_all()
    before = _classes_compiled(spark)
    run_all()
    assert _classes_compiled(spark) - before == 0
