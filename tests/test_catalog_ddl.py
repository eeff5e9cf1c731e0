"""Catalog/DDL surface: externally-declared tables, statistics, and
their effect on planning.

The reference declares its tables out-of-band (Glue DDL in Terraform,
``terraform/main.tf:78-178``) and queries them by name; the Spark
equivalent is an external (unmanaged) table over the same parquet plus
``ANALYZE TABLE`` statistics for the cost-based optimizer. These tests
pin that surface: DDL round-trip, schema fidelity, stats visibility,
and stats-informed planning.
"""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def events_table(spark):
    spark.sql("DROP TABLE IF EXISTS kes_events_ext")
    spark.sql(
        f"""
        CREATE TABLE kes_events_ext
        USING parquet
        LOCATION '{SF}/events.parquet'
        """
    )
    yield "kes_events_ext"
    spark.sql("DROP TABLE IF EXISTS kes_events_ext")


def test_external_table_schema_and_rows(spark, events_table):
    cols = {r.col_name for r in spark.sql(
        f"DESCRIBE {events_table}"
    ).collect()}
    assert {"event_id", "ts", "user_id", "event_type", "value",
            "props"} <= cols
    n = spark.table(events_table).count()
    assert n == spark.read.parquet(f"{SF}/events.parquet").count()
    # external: dropping must not delete data — verified by re-creating
    spark.sql(f"DROP TABLE {events_table}")
    assert spark.read.parquet(f"{SF}/events.parquet").count() == n
    spark.sql(
        f"CREATE TABLE {events_table} USING parquet"
        f" LOCATION '{SF}/events.parquet'"
    )


def test_analyze_table_feeds_cbo(spark, events_table):
    spark.sql(
        f"ANALYZE TABLE {events_table} COMPUTE STATISTICS"
        " FOR COLUMNS event_id, event_type, user_id"
    )
    desc = {
        r.col_name: r.data_type
        for r in spark.sql(
            f"DESCRIBE TABLE EXTENDED {events_table}"
        ).collect()
    }
    assert "Statistics" in desc  # table-level sizeInBytes + rowCount
    assert "rows" in desc["Statistics"]
    col = spark.sql(
        f"DESCRIBE EXTENDED {events_table} event_type"
    ).collect()
    info = {r.info_name: r.info_value for r in col}
    assert info.get("distinct_count") not in (None, "NULL")
    # optimized plan carries the analyzed rowCount (CBO-visible)
    df = spark.table(events_table).filter("user_id = 1")
    stats = (
        df._jdf.queryExecution().optimizedPlan().stats().toString()
    )
    assert "rowCount" in stats


def test_show_and_describe_surface(spark, events_table):
    names = {
        r.tableName for r in spark.sql("SHOW TABLES").collect()
    }
    assert events_table in names
    create = spark.sql(
        f"SHOW CREATE TABLE {events_table}"
    ).collect()[0][0]
    assert "USING parquet" in create and "LOCATION" in create


def test_table_memo_drops_stopped_applications(spark, tmp_path):
    from keycloak_event_stream_spark import catalog

    dead = ("local-0-stopped", SF, "region")
    catalog._TABLE_MEMO[dead] = ((0,), None)
    try:
        spark.range(3).write.parquet(catalog.table_path(str(tmp_path), "region"))
        catalog.load_table(spark, str(tmp_path), "region")
        assert dead not in catalog._TABLE_MEMO
        live = spark.sparkContext.applicationId
        assert (live, str(tmp_path), "region") in catalog._TABLE_MEMO
    finally:
        catalog._TABLE_MEMO.pop(dead, None)
