"""Semantics tests for lateral/posexplode/window-distinct/skyline."""

from __future__ import annotations

from conftest import SF_DIR

from keycloak_event_stream_spark.operators.advanced_sql import (
    q_lateral_topk,
    q_posexplode_tokens,
    q_skyline,
    q_sql_scripting,
    q_window_distinct_running,
)


def test_lateral_topk_at_most_3_per_nation(spark):
    rows = q_lateral_topk(spark, SF_DIR).collect()
    per = {}
    for r in rows:
        per.setdefault(r.n_name, []).append(r.c_acctbal)
    assert per and all(len(v) <= 3 for v in per.values())
    # each nation's list is its own descending top — no balance below
    # the group's min appears for that nation in the base table
    assert all(v == sorted(v, reverse=True) for v in per.values())


def test_posexplode_positions_bounded(spark):
    rows = q_posexplode_tokens(spark, SF_DIR).collect()
    assert [r.pos for r in rows] == list(range(8))
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    # every document has >= 8 tokens in the fixture, so each position
    # appears once per doc
    assert all(r.n_tokens <= n_docs for r in rows)
    assert all(0 < r.n_distinct <= r.n_tokens for r in rows)


def test_window_distinct_running_final_equals_countdistinct(spark):
    from pyspark.sql import functions as F

    from keycloak_event_stream_spark.catalog import load_table

    got = {
        r.event_type: r.total_distinct
        for r in q_window_distinct_running(spark, SF_DIR).collect()
    }
    want = {
        r.event_type: r.d
        for r in load_table(spark, SF_DIR, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("d"))
        .collect()
    }
    assert got == want


def test_skyline_sweep_equals_bruteforce(spark):
    """The O(n log n) sweep must equal the O(n^2) dominance spec."""
    pts = [(1.0, 5), (2.0, 7), (2.0, 7), (3.0, 6), (2.5, 8), (4.0, 9), (5.0, 9)]
    df = spark.createDataFrame(pts, "p_retailprice double, p_size int")
    df.createOrReplaceTempView("_sky_part")

    import keycloak_event_stream_spark.operators.advanced_sql as mod
    from keycloak_event_stream_spark import catalog

    orig = catalog.load_table
    try:
        mod.load_table = lambda s, d, n: spark.table("_sky_part")
        got = sorted(
            (r.price, r.sz, r.n_parts)
            for r in q_skyline(spark, "ignored").collect()
        )
    finally:
        mod.load_table = orig

    distinct = sorted(set(pts))
    brute = [
        (p, s)
        for (p, s) in distinct
        if not any(
            bp <= p and bs >= s and (bp < p or bs > s) for (bp, bs) in distinct
        )
    ]
    want = sorted((p, s, pts.count((p, s))) for (p, s) in brute)
    assert got == want


def test_sql_scripting_restores_the_session_conf(spark):
    """The script runs inside spark.sql(), so scripting is enabled for
    that call only: the session conf reads the same before and after,
    and the result still collects with the conf unset."""
    import duckdb

    from keycloak_event_stream_spark.catalog import table_path
    from keycloak_event_stream_spark.registry import collect

    key = "spark.sql.scripting.enabled"
    before = spark.conf.get(key, None)
    df = q_sql_scripting(spark, SF_DIR)
    assert spark.conf.get(key, None) == before
    got = [tuple(r) for r in df.collect()]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM "
        f"read_parquet('{table_path(SF_DIR, 'orders')}')"
    )
    want = con.execute(collect()[1]["q_sql_scripting"]).fetchall()
    assert got == want and len(got) == 1
