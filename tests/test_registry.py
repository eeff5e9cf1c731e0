"""Driver-contract invariants: registry completeness and exact-sum
helpers."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from keycloak_event_stream_spark.operators._exact import davg, dsum
from keycloak_event_stream_spark.registry import collect

# rows-only by design: approximate or non-SQL-expressible (documented in
# each op's docstring; the driver records the weaker check).
# Round 4 emptied the set: the two mergeable sketches (q_sketch_hll,
# q_sketch_quantiles) now carry exact counts + within-bound flags on
# the hashed surface (the q_agg_approx_distinct pattern), so all 479
# registered queries are value-checked.
ROWS_ONLY: set[str] = set()


def test_registry_collects_without_errors():
    queries, oracle = collect()
    assert len(queries) >= 50
    assert set(oracle) <= set(queries)


def test_collect_fails_loudly_on_a_broken_module(monkeypatch):
    """A module that cannot be imported fails collect() instead of
    quietly shrinking the registry."""
    from keycloak_event_stream_spark import registry

    monkeypatch.setattr(
        registry,
        "_MODULES",
        registry._MODULES + ["keycloak_event_stream_spark.no_such_module"],
    )
    with pytest.raises(ModuleNotFoundError):
        collect()


def test_every_query_is_oracle_checked_or_declared():
    queries, oracle = collect()
    missing = set(queries) - set(oracle) - ROWS_ONLY
    assert not missing, f"queries without oracle twin: {sorted(missing)}"


def test_entry_contract(spark):
    import __spark_entry__ as E

    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns  # stable schema
    assert set(E.oracle_sql()) <= set(E.queries())


def test_dsum_order_independent(spark):
    vals = [(0.1,), (0.2,), (0.3,)] * 1000
    df = spark.createDataFrame(vals, "v double")
    a = df.repartition(1).agg(dsum("v", "s")).collect()[0].s
    b = df.repartition(7).agg(dsum("v", "s")).collect()[0].s
    assert a == b == 600.0  # decimal accumulate: no float drift either way


def test_davg(spark):
    df = spark.createDataFrame([(1.0,), (2.0,), (4.0,)], "v double")
    got = df.agg(davg("v", "m")).collect()[0].m
    assert got == 7.0 / 3


def test_nulls_excluded_from_avg(spark):
    df = spark.createDataFrame([(1.0,), (None,), (3.0,)], "v double")
    got = df.agg(davg("v", "m"), F.count(F.lit(1)).alias("n")).collect()[0]
    assert got.m == 2.0 and got.n == 3


def test_priority_queries_register_first():
    """The driver's correctness report caps at the first ~50 registered
    queries; the riskiest/newest operators must occupy that window and
    every priority name must actually exist."""
    from keycloak_event_stream_spark.registry import _PRIORITY

    queries, _ = collect()
    names = list(queries)
    assert len(_PRIORITY) == 50
    assert names[:50] == _PRIORITY
    assert not set(_PRIORITY) - set(queries)


def test_register_rejects_a_duplicate_name():
    """A second registration of one name raises at import, whichever
    module it comes from, and leaves the first entry in place."""
    from keycloak_event_stream_spark.registry import register

    queries, oracle = collect()
    name = next(iter(queries))
    with pytest.raises(ValueError, match=f"duplicate query name {name}"):
        register(name, "SELECT 1")(lambda spark, sf_dir: None)
    assert collect() == (queries, oracle)
