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


def test_second_round_reuses_compiled_classes(spark):
    queries, _ = collect()
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
