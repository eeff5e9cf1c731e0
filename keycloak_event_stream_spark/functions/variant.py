"""Semi-structured VARIANT operators (Spark 4 ``parse_json`` family).

The reference stores Keycloak event details as a JSON *string* column
and re-parses it on every read (``FlatEvents.java:20-29``,
``AthenaEventQuery.java:238-241``). Spark 4's VARIANT type is the
scale-correct upgrade: parse once into a binary-encoded tree, then
``variant_get`` path extraction runs without per-row JSON text parsing,
stays inside whole-stage codegen, and (when persisted with shredding)
admits column pruning on subfields. These operators exercise the full
surface: ``parse_json`` / ``try_parse_json`` / ``variant_get`` /
``is_variant_null`` + nested-path and array-index navigation.

Oracle discipline: every extracted leaf is an integer (no float
formatting ambiguity), and the "nested" document is constructed with
printf-style formatting from the same integer columns in both engines,
so DuckDB's JSON functions replay the exact semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from keycloak_event_stream_spark.catalog import load_table
from keycloak_event_stream_spark.registry import register as _q


@_q(
    "q_variant_parse",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS min_k,
           CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS max_k
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_variant_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse the JSON ``props`` column into VARIANT once, then extract
    ``$.k`` as a typed leaf and aggregate per event type.

    This is the reference's details-JSON read path (S7/F10,
    ``FlatEvents.java:20-29``) done the Spark-4 way: at 100 TB the
    parse happens in the scan projection (one pass, vectorized binary
    encoding), and every downstream ``variant_get`` is a cheap tree
    walk instead of a repeated string parse.
    """
    ev = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    k = F.expr("variant_get(v, '$.k', 'bigint')")
    return (
        ev.select("event_type", v.alias("v"))
        .select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


@_q(
    "q_variant_nested",
    oracle="""
    WITH j AS (
      SELECT event_type,
             printf('{"u":{"id":%d},"tags":[%d,%d,%d]}',
                    user_id,
                    CAST(json_extract_string(props, '$.k') AS BIGINT),
                    CAST(json_extract_string(props, '$.k') AS BIGINT) * 2,
                    CAST(json_extract_string(props, '$.k') AS BIGINT) + 7)
               AS doc
      FROM events
    ),
    x AS (
      SELECT event_type,
             CAST(json_extract_string(doc, '$.u.id') AS BIGINT) AS uid,
             CAST(json_extract_string(doc, '$.tags[1]') AS BIGINT) AS tag1
      FROM j
    )
    SELECT event_type,
           count(*) AS n_div3,
           CAST(sum(uid) AS BIGINT) AS sum_uid,
           CAST(sum(tag1) AS BIGINT) AS sum_tag1
    FROM x
    WHERE tag1 % 3 = 0
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_variant_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-path + array-index VARIANT navigation: build a nested
    JSON document (printf-identical in both engines), parse to VARIANT,
    extract ``$.u.id`` and ``$.tags[1]``, filter on the array element,
    aggregate.

    Models the reference's admin-event ``authDetails`` recomposition
    (``AthenaAdminEventQuery.java:290-307``) as typed path extraction
    instead of positional cell decoding.
    """
    ev = load_table(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'bigint')")
    doc = F.format_string(
        '{"u":{"id":%d},"tags":[%d,%d,%d]}',
        F.col("user_id"),
        k,
        k * 2,
        k + 7,
    )
    parsed = ev.select("event_type", F.parse_json(doc).alias("v"))
    x = parsed.select(
        "event_type",
        F.expr("variant_get(v, '$.u.id', 'bigint')").alias("uid"),
        F.expr("variant_get(v, '$.tags[1]', 'bigint')").alias("tag1"),
    )
    return (
        x.filter(F.col("tag1") % 3 == 0)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_div3"),
            F.sum("uid").alias("sum_uid"),
            F.sum("tag1").alias("sum_tag1"),
        )
        .orderBy("event_type")
    )


@_q(
    "q_variant_invalid",
    oracle="""
    WITH raw AS (
      SELECT event_type,
             CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT)
                       % 10 = 0
                  THEN substr(props, 1, len(props) - 1)
                  ELSE props END AS s
      FROM events
    )
    SELECT event_type,
           count(*) AS n_rows,
           CAST(sum(CASE WHEN json_valid(s) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_valid,
           CAST(sum(CASE WHEN json_valid(s) THEN 0 ELSE 1 END)
                AS BIGINT) AS n_invalid,
           CAST(sum(CASE WHEN json_valid(s)
                         THEN CAST(json_extract_string(s, '$.k') AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS sum_valid_k
    FROM raw
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_variant_invalid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-input handling: ``try_parse_json`` returns NULL for
    broken documents instead of failing the job.

    Every 10th ``k`` we truncate the closing brace — at 100 TB a
    poison row must degrade to NULL, not kill a 1000-executor stage
    (the reference swallows per-record errors the same way,
    ``FirehoseEventStoreProvider.java:141-150``).
    """
    ev = load_table(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'bigint')")
    s = F.when(
        k % 10 == 0, F.expr("substr(props, 1, length(props) - 1)")
    ).otherwise(F.col("props"))
    raw = ev.select("event_type", s.alias("s"))
    v = F.expr("try_parse_json(s)")
    ok = v.isNotNull()
    return (
        raw.select(
            "event_type",
            ok.alias("ok"),
            F.expr(
                "coalesce(variant_get(try_parse_json(s), '$.k', 'bigint'), 0)"
            ).alias("k0"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("ok"), 1).otherwise(0)).alias("n_valid"),
            F.sum(F.when(F.col("ok"), 0).otherwise(1)).alias("n_invalid"),
            F.sum(F.when(F.col("ok"), F.col("k0")).otherwise(0)).alias(
                "sum_valid_k"
            ),
        )
        .orderBy("event_type")
    )
