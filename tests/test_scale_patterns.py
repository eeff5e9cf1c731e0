"""Pinned promises of the scale-pattern operators
(:mod:`keycloak_event_stream_spark.operators.scale_patterns`)."""

from __future__ import annotations

from pyspark.sql import functions as F

from keycloak_event_stream_spark.catalog import load_table
from keycloak_event_stream_spark.operators.scale_patterns import (
    q_cdc_apply,
    q_incremental_agg,
    q_join_bloom_prefilter,
    q_join_salted_skew,
    q_profile_table,
)
from tests.conftest import SF_DIR


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_bloom_prefilter_matches_plain_semi_join(spark):
    got = q_join_bloom_prefilter(spark, SF_DIR)
    c = load_table(spark, SF_DIR, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, SF_DIR, "orders")
    want = o.join(c, o.o_custkey == c.c_custkey, "left_semi").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_bloom_prefilter_digest_is_broadcast(spark):
    plan = _plan(q_join_bloom_prefilter(spark, SF_DIR))
    # the coarse digest phase must be a broadcast, never a nested loop
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_salted_join_matches_plain(spark):
    got = q_join_salted_skew(spark, SF_DIR).collect()
    l = load_table(spark, SF_DIR, "lineitem")
    s = load_table(spark, SF_DIR, "supplier")
    want = (
        l.join(s, l.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(27,6)"))
            .cast("double")
            .alias("total_price"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("s_name")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_profiler_reads_table_once(spark):
    import re

    plan = _plan(q_profile_table(spark, SF_DIR))
    # formatted explain lists each operator in the tree AND in the
    # numbered details; count the unique detail headers
    scans = re.findall(r"\(\d+\) Scan parquet", plan)
    assert len(scans) == 1, f"profiler must be single-scan, got {len(scans)}"


def test_incremental_agg_empty_delta(spark):
    """Merging an empty delta must reproduce the base state exactly."""
    o = load_table(spark, SF_DIR, "orders")
    # fixture horizon ends 2001-08-01, so a 2002+ delta is empty: the
    # registered query's merged state must equal the direct rollup
    got = q_incremental_agg(spark, SF_DIR).collect()
    want = (
        o.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(27,6)"))
            .cast("double")
            .alias("total_spent"),
        )
        .orderBy("o_custkey")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_cdc_apply_tombstones_drop_keys(spark):
    """A user whose latest event is an error must be absent."""
    out = q_cdc_apply(spark, SF_DIR)
    ev = load_table(spark, SF_DIR, "events")
    from pyspark.sql.window import Window as W

    w = W.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    latest = ev.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    tombstoned = {
        r.user_id for r in latest.filter(F.col("event_type") == "error").collect()
    }
    surviving = {r.user_id for r in out.collect()}
    assert tombstoned.isdisjoint(surviving)
    all_users = {r.user_id for r in ev.select("user_id").distinct().collect()}
    assert surviving == all_users - tombstoned
