"""Session factory: generated code is compiled once per session.

A workload of many short statements over the same tables brings the same
generated sources back on every pass. The factory sizes Spark's codegen
cache above one pass's working set, so a repeated pass compiles nothing.
"""

from __future__ import annotations

from cassandra_sql_spark.queries import REGISTRY
from perfbench.workloads import ANALYTICS


def _compiles(spark) -> int:
    """Classes Janino has compiled in this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _run_all(spark, sf_dir) -> None:
    for name in ANALYTICS:
        REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()


def test_codegen_cache_holds_a_pass(spark, sf_dir):
    """A second round of the 15 SQL registry entries reuses every class
    the first round compiled (with Spark's default 100-entry cache the
    second round recompiles about 160 of them)."""
    _run_all(spark, sf_dir)
    before = _compiles(spark)
    _run_all(spark, sf_dir)
    assert _compiles(spark) - before == 0
