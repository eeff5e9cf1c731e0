"""Shared fixtures: one session-scoped local SparkSession and one
registry sweep over it."""

from __future__ import annotations

import datetime as dt
import os
import sys
from collections import Counter
from types import SimpleNamespace

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from keycloak_event_stream_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=4, extra_conf={"spark.sql.shuffle.partitions": "4"})
    yield s


@pytest.fixture
def register(monkeypatch):
    """Register throwaway queries without touching the real registry."""
    from keycloak_event_stream_spark import registry

    registry.collect()  # import every module first: the copy holds them all
    monkeypatch.setattr(registry, "_QUERIES", dict(registry._QUERIES))
    monkeypatch.setattr(registry, "_ORACLE", dict(registry._ORACLE))
    return lambda name, fn: registry.register(name, oracle="SELECT 1")(fn)


@pytest.fixture(scope="session")
def sweep(spark):
    """One pass over the registry at SF_DIR (``tools/plan_audit.sweep``):
    each batch query is built once, and a query that persists is
    collected and followed by one throwaway registered call. Streaming
    ``s_*`` entries are skipped: they execute when built. ``records``
    holds one ``plan_audit.Record`` per query; ``builds`` counts the
    calls of each query function. The registry-wide checks over it:

    - window hygiene: ``test_scale_windows::test_registry_window_hygiene``
      and ``test_fixed_queries_have_no_global_window``;
    - no pin left behind: ``test_pins::test_registry_pins_released``;
      ``test_pins::test_dropped_plans_leave_no_pins`` rebuilds the
      queries whose pins were still pending after the build;
    - no query raises, no session conf changed, plan-shape counts at
      or below ``plans/shape.json``, each query built exactly once:
      ``test_sweep``.
    """
    from keycloak_event_stream_spark.registry import collect
    from tools import plan_audit

    builds: Counter = Counter()

    def counted(name, fn):
        def build(*args):
            builds[name] += 1
            return fn(*args)

        return build

    queries = {n: counted(n, fn) for n, fn in collect()[0].items()}
    # start from an empty CacheManager, as tools/plan_audit.py does in a
    # fresh process, so InMemoryTableScan counts compare with the ledger
    spark.catalog.clearCache()
    records = plan_audit.sweep(spark, SF_DIR, queries)
    return SimpleNamespace(records=records, builds=builds)


@pytest.fixture(scope="session")
def events_df(spark):
    """Small deterministic in-memory event table for semantics tests."""
    rows = []
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    types = ["login", "logout", "click", "error"]
    for i in range(40):
        rows.append(
            (
                i,
                base + dt.timedelta(minutes=13 * i),
                i % 5,
                types[i % 4],
                float(i),
            )
        )
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
