"""Physical-plan promises for the TPC-H suite (operators/tpch.py).

These pin the *shape* facts the 100 TB design relies on — which join
strategies appear, that no accidental nested-loop join sneaks in, and
that semi/anti semantics stay semi/anti (never widened to inner +
dedup).
"""

from __future__ import annotations

import re

import pytest

from keycloak_event_stream_spark.registry import collect
from tests.conftest import SF_DIR

QUERIES = collect()[0]


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _ops(plan: str, name: str) -> int:
    return len(re.findall(rf"\(\d+\) {name}", plan))


def test_q4_exists_is_semi_join(spark):
    plan = _plan(QUERIES["q_tpch_q4"](spark, SF_DIR))
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q16_not_in_is_anti_join(spark):
    plan = _plan(QUERIES["q_tpch_q16"](spark, SF_DIR))
    assert "LeftAnti" in plan


def test_q22_no_recent_orders_is_anti_join(spark):
    plan = _plan(QUERIES["q_tpch_q22"](spark, SF_DIR))
    assert "LeftAnti" in plan


def test_q2_no_nested_loop(spark):
    # 5-way join + window argmin: every join must have an equi key
    plan = _plan(QUERIES["q_tpch_q2"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan


def test_q18_preaggregates_before_wide_join(spark):
    # the `big` HAVING-filtered aggregate must sit below the joins:
    # at least one aggregate pair (partial+final) in addition to the
    # final groupBy's, i.e. >= 4 HashAggregate nodes overall
    plan = _plan(QUERIES["q_tpch_q18"](spark, SF_DIR))
    assert _ops(plan, "HashAggregate") >= 4


def test_q1_single_scan_single_agg_pair(spark):
    plan = _plan(QUERIES["q_tpch_q1"](spark, SF_DIR))
    assert _ops(plan, "Scan parquet") == 1
    # partial + final hash aggregate, nothing else
    assert _ops(plan, "HashAggregate") == 2
    assert "Exchange" in plan


def test_q6_filters_pushed_to_scan(spark):
    plan = _plan(QUERIES["q_tpch_q6"](spark, SF_DIR))
    assert "PushedFilters: [" in plan
    # quantity cap must reach the parquet reader
    assert re.search(r"PushedFilters: \[[^\]]*LessThan\(l_quantity", plan)


@pytest.mark.parametrize(
    "name",
    ["q_tpch_q7", "q_tpch_q8", "q_tpch_q9"],
)
def test_star_joins_broadcast_dimensions(spark, name):
    plan = _plan(QUERIES[name](spark, SF_DIR))
    assert _ops(plan, "BroadcastHashJoin") >= 3
    assert "BroadcastNestedLoopJoin" not in plan
