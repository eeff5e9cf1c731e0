"""Generated-code reuse: a re-run of the same plans compiles (almost)
nothing.

``session.get_spark`` sizes Spark's whole-stage codegen class cache
(``spark.sql.codegen.cache.maxEntries``) to the registry's working set.
q_graph_pagerank and q_ts_similarity together generate more sources
than Spark's default of 100 entries, so with the default
least-recently-used cache nearly every class of the first round is evicted
before the second round reaches it, and the second round recompiles
them.
"""

from __future__ import annotations

from keycloak_event_stream_spark.registry import collect
from tests.conftest import SF_DIR

ROUND = ("q_graph_pagerank", "q_ts_similarity")


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _clear_compiled_classes(spark) -> None:
    """Empty Spark's JVM-wide generated-class cache. Plans that sit at
    the bounded-eval floor width run without AQE, whose stage ids made
    class names differ between runs, so without this the first round
    would reuse every class that earlier tests in this JVM compiled."""
    cls = spark._jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$"
    )
    field = cls.getDeclaredField("cache")
    field.setAccessible(True)
    field.get(cls.getField("MODULE$").get(None)).invalidateAll()


def test_second_round_reuses_compiled_classes(spark):
    queries, _ = collect()
    _clear_compiled_classes(spark)
    compiled = []
    for _ in range(2):
        before = _compiles(spark)
        for name in ROUND:
            spark.catalog.clearCache()
            queries[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
        compiled.append(_compiles(spark) - before)
    first, second = compiled
    assert first > 0
    assert second <= 0.1 * first, compiled
