"""The engine session's generated-class cache holds a mixed query sequence.

Spark caches compiled whole-stage and projection classes in an LRU bounded
by the static conf ``spark.sql.codegen.cache.maxEntries`` (default 100).
A sequence that cycles through more distinct classes than the bound evicts
each class before its query runs again, so every run re-pays its Janino
compile.  ``CodegenMetrics.METRIC_COMPILATION_TIME`` counts compiles (cache
misses); re-running a plan whose classes are still cached adds none.
"""

from ingest_pipeline_spark.session import _DEFAULTS

BOUND_KEY = "spark.sql.codegen.cache.maxEntries"


def _compiles(spark) -> int:
    jvm = spark.sparkContext._jvm
    return jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def _run(spark, i: int) -> None:
    # the literals are inlined into the generated code: one distinct class
    # set per i
    spark.range(3).selectExpr(f"id * {i} + {i} AS v").collect()


def test_codegen_cache_bound_is_the_engine_default(spark):
    assert spark.conf.get(BOUND_KEY) == _DEFAULTS[BOUND_KEY]


def test_rerun_after_150_distinct_plans_compiles_nothing(spark):
    for i in range(150):
        _run(spark, i)
    before = _compiles(spark)
    for i in range(20):
        _run(spark, i)
    assert _compiles(spark) == before
