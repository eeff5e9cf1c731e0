"""Scalar function families (SURVEY.md §2.3: q_string/date/math/json/
array/map_funcs).

The reference generates no scalar functions at all — its SQL contains
only column references and literals (``AthenaEventQuery.java:161-198``);
the JSON encode/decode pair (``FlatEvents.java:9-29``, ref S6/S7) is the
single function-like behavior, generalized here into the q_json/q_map
families. Everything is built-in ``pyspark.sql.functions`` — JVM-side,
inside whole-stage codegen; no Python UDFs anywhere on these paths.

Cross-engine notes (Spark vs the DuckDB oracle):
- ``sqrt`` is IEEE-correctly-rounded in both -> bit identical; ``pow``
  with integral exponents is exact; free-form ``log``/``exp`` are libm-
  dependent and only appear rounded (see textstats/tfidf).
- ``round`` on doubles differs at representation boundaries between
  engines, so rounding goes through DECIMAL (exact, HALF_UP in both).
- array results are emitted as joined strings or exploded rows — scalar
  cells hash identically everywhere; raw array cells are avoided at the
  oracle boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from keycloak_event_stream_spark.catalog import load_table
from keycloak_event_stream_spark.registry import register as _q


@_q(
    "q_string_funcs",
    oracle="""
    SELECT p_partkey,
           upper(p_name)                            AS name_upper,
           substr(p_name, 1, 5)                     AS name_prefix,
           p_brand || ':' || p_type                 AS brand_type,
           p_name LIKE '%widget%'                   AS is_widget,
           regexp_extract(p_name, '([a-z]+)', 1)    AS first_word,
           length(p_name)                           AS name_len,
           replace(p_name, ' ', '_')                AS name_snake,
           trim(lower(p_type))                      AS type_norm
    FROM part
    """,
)
def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """upper/substr/concat/like/regexp_extract/length/replace/trim."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.substring("p_name", 1, 5).alias("name_prefix"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.col("p_name").like("%widget%").alias("is_widget"),
        F.regexp_extract("p_name", "([a-z]+)", 1).alias("first_word"),
        F.length("p_name").alias("name_len"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_snake"),
        F.trim(F.lower("p_type")).alias("type_norm"),
    )


@_q(
    "q_date_funcs",
    oracle="""
    SELECT o_orderkey,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP)   AS order_month,
           CAST(extract(year  FROM o_orderdate) AS INTEGER)      AS order_year,
           CAST(extract(month FROM o_orderdate) AS INTEGER)      AS order_mon,
           CAST(extract(day   FROM o_orderdate) AS INTEGER)      AS order_day,
           CAST(extract(dow   FROM o_orderdate) AS INTEGER)      AS order_dow,
           CAST(datediff('day', o_orderdate,
                TIMESTAMP '2001-12-31 00:00:00') AS INTEGER)     AS days_to_eoy,
           CAST(o_orderdate + INTERVAL 30 DAY AS TIMESTAMP)      AS due_date,
           strftime(o_orderdate, '%Y-%m-%d')                     AS order_iso
    FROM orders
    """,
)
def q_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """date_trunc / extract / datediff / interval arithmetic / format.

    Generalizes ref F4 (the reference's only temporal op is an epoch-ms
    range compare, ``AthenaEventQuery.java:189-195``).
    DOW convention pinned to Sunday=0 in both engines (Spark's dayofweek
    is Sunday=1, so shift by -1)."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.date_trunc("month", "o_orderdate").alias("order_month"),
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_mon"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        (F.dayofweek("o_orderdate") - 1).alias("order_dow"),
        F.datediff(
            F.lit("2001-12-31").cast("date"), F.col("o_orderdate").cast("date")
        ).alias("days_to_eoy"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")).alias("due_date"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_iso"),
    )


@_q(
    "q_math_funcs",
    oracle="""
    SELECT p_partkey,
           abs(p_retailprice - 1000.0)                        AS price_dist,
           CAST(ceil(p_retailprice) AS BIGINT)                AS price_ceil,
           CAST(floor(p_retailprice) AS BIGINT)               AS price_floor,
           sqrt(p_retailprice)                                AS price_sqrt,
           pow(CAST(p_size AS DOUBLE), 2)                     AS size_sq,
           CAST(round(CAST(p_retailprice AS DECIMAL(18,2)), 1)
                AS DOUBLE)                                    AS price_round1,
           CAST(p_size % 7 AS INTEGER)                        AS size_mod7,
           greatest(p_retailprice, 500.0)                     AS price_floor500,
           least(CAST(p_size AS DOUBLE), 25.0)                AS size_cap25
    FROM part
    """,
)
def q_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """abs/ceil/floor/sqrt/pow/round/mod/greatest/least — all exact or
    correctly-rounded ops (bit-identical across engines); decimal-routed
    rounding for the boundary-sensitive case."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.abs(F.col("p_retailprice") - 1000.0).alias("price_dist"),
        F.ceil("p_retailprice").alias("price_ceil"),
        F.floor("p_retailprice").alias("price_floor"),
        F.sqrt("p_retailprice").alias("price_sqrt"),
        F.pow(F.col("p_size").cast("double"), 2).alias("size_sq"),
        F.round(F.col("p_retailprice").cast("decimal(18,2)"), 1)
        .cast("double")
        .alias("price_round1"),
        (F.col("p_size") % 7).alias("size_mod7"),
        F.greatest(F.col("p_retailprice"), F.lit(500.0)).alias("price_floor500"),
        F.least(F.col("p_size").cast("double"), F.lit(25.0)).alias("size_cap25"),
    )


@_q(
    "q_json_funcs",
    oracle="""
    SELECT event_id,
           json_extract_string(props, '$.k')                    AS k_str,
           CAST(json_extract_string(props, '$.k') AS INTEGER)   AS k_int,
           CAST(json_extract_string(props, '$.missing') IS NOT NULL
                AS BOOLEAN)                                     AS has_missing
    FROM events
    """,
)
def q_json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction off the ``props`` column — the reference's
    ``detailsjson`` read surface (``FlatEvents.java:20-29``, ref S7/F10)
    done with JVM-side ``get_json_object`` instead of Jackson."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k")
    return ev.select(
        "event_id",
        k.alias("k_str"),
        k.cast("int").alias("k_int"),
        F.get_json_object("props", "$.missing").isNotNull().alias("has_missing"),
    )


@_q(
    "q_map_funcs",
    oracle="""
    SELECT event_id,
           CAST(len(json_keys(props)) AS INTEGER)               AS n_keys,
           list_aggregate(list_sort(json_keys(props)), 'string_agg', ',')
                                                                AS keys_joined,
           CAST(json_extract_string(props, '$.k') AS INTEGER)   AS k_val
    FROM events
    """,
)
def q_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode ``props`` into a real MapType (ref S7: JSON -> Map) and use
    map_keys / element_at — the typed view the reference only ever held
    as a Java ``Map<String,String>``."""
    ev = load_table(spark, sf_dir, "events")
    m = F.from_json("props", T.MapType(T.StringType(), T.IntegerType()))
    return ev.select(
        "event_id",
        F.size(F.map_keys(m)).alias("n_keys"),
        F.array_join(F.sort_array(F.map_keys(m)), ",").alias("keys_joined"),
        F.element_at(m, "k").alias("k_val"),
    )


@_q(
    "q_array_funcs",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INTEGER)        AS n_words,
           list_contains(string_split(text, ' '), 'spark')      AS has_spark,
           string_split(text, ' ')[1]                           AS first_word,
           array_to_string(string_split(text, ' ')[1:3], ' ')   AS first3,
           CAST(len(list_distinct(string_split(text, ' ')))
                AS INTEGER)                                     AS n_distinct_words
    FROM documents
    """,
)
def q_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """split/size/array_contains/element_at/slice/array_distinct over
    document text. Arrays stay intermediate; outputs are scalars."""
    d = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    return d.select(
        "doc_id",
        F.size(words).alias("n_words"),
        F.array_contains(words, "spark").alias("has_spark"),
        F.element_at(words, 1).alias("first_word"),
        F.array_join(F.slice(words, 1, 3), " ").alias("first3"),
        F.size(F.array_distinct(words)).alias("n_distinct_words"),
    )


@_q(
    "q_array_explode",
    oracle="""
    SELECT doc_id, unnest(string_split(text, ' ')) AS word
    FROM documents WHERE doc_id < 50
    """,
)
def q_array_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode (UDTF-shape, built-in): one row per token. The lateral-
    view pattern every text pipeline downstream (tfidf, dedup shingles)
    builds on."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.filter(F.col("doc_id") < 50)
        .select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    )


@_q(
    "q_array_agg",
    oracle="""
    SELECT user_id,
           string_agg(DISTINCT event_type, ',' ORDER BY event_type)
               AS types_seen,
           CAST(count(DISTINCT event_type) AS INTEGER) AS n_types
    FROM events GROUP BY user_id
    """,
)
def q_array_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set -> sorted joined string per group (array-valued agg
    with a scalar, engine-portable output)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.array_join(F.sort_array(F.collect_set("event_type")), ",").alias(
            "types_seen"
        ),
        F.size(F.collect_set("event_type")).alias("n_types"),
    )


@_q(
    "q_conditional_funcs",
    oracle="""
    SELECT c_custkey,
           coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER')  AS seg_masked,
           CASE WHEN c_acctbal < 0 THEN 'debt'
                WHEN c_acctbal < 5000 THEN 'low'
                ELSE 'high' END                                 AS bal_bucket,
           CASE WHEN c_acctbal > 0 THEN c_acctbal END           AS pos_bal,
           (c_acctbal IS NULL)                                  AS bal_missing,
           ifnull(NULL, c_custkey)                              AS keyed
    FROM customer
    """,
)
def q_conditional_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """coalesce / nullif / multi-branch CASE / conditional NULL /
    IS NULL / ifnull — the conditional-expression family."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.coalesce(
            F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("OTHER")
        ).alias("seg_masked"),
        F.when(F.col("c_acctbal") < 0, "debt")
        .when(F.col("c_acctbal") < 5000, "low")
        .otherwise("high")
        .alias("bal_bucket"),
        F.when(F.col("c_acctbal") > 0, F.col("c_acctbal")).alias("pos_bal"),
        F.isnull("c_acctbal").alias("bal_missing"),
        F.ifnull(F.lit(None), F.col("c_custkey")).alias("keyed"),
    )


@_q(
    "q_explode_outer",
    oracle="""
    WITH src AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN NULL
                  ELSE string_split(text, ' ')[1:3] END AS toks
      FROM documents WHERE doc_id < 40
    )
    SELECT doc_id, unnest(coalesce(toks, [NULL])) AS tok
    FROM src
    """,
)
def q_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode_outer: null/empty arrays keep their parent row (with a
    NULL element) instead of dropping it — the null-preserving UDTF
    variant plain explode silently loses rows to."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    toks = F.when(
        F.col("doc_id") % 5 == 0, F.lit(None).cast("array<string>")
    ).otherwise(F.slice(F.split("text", " "), 1, 3))
    return d.select("doc_id", F.explode_outer(toks).alias("tok"))


@_q(
    "q_map_higher_order",
    oracle="""
    WITH m AS (
      SELECT event_id,
             CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val
      FROM events WHERE event_id < 200
    )
    SELECT event_id,
           k_val * 2 AS k_doubled,
           'v_' || CAST(k_val AS VARCHAR) AS k_tagged
    FROM m
    """,
)
def q_map_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order map functions: transform_values / transform_keys
    rewrite a MapType in place (JVM lambda, no explode+regroup). Scalar
    projections of the transformed map keep the oracle engine-neutral."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 200)
    m = F.from_json("props", T.MapType(T.StringType(), T.IntegerType()))
    doubled = F.transform_values(m, lambda _, v: v * 2)
    tagged = F.transform_keys(m, lambda k, _: F.concat(F.lit("v_"), k))
    # project entries back out as scalars via element_at
    return ev.select(
        "event_id",
        F.element_at(doubled, "k").alias("k_doubled"),
        F.element_at(
            F.map_values(
                F.transform_values(tagged, lambda _, v: v.cast("string"))
            ),
            1,
        ).alias("k_tagged_val"),
    ).select(
        "event_id",
        "k_doubled",
        F.concat(F.lit("v_"), F.col("k_tagged_val")).alias("k_tagged"),
    )


@_q(
    "q_agg_bool",
    oracle="""
    SELECT event_type,
           bool_and(value >= 0) AS all_nonneg,
           bool_or(value > 99)  AS any_big,
           count(*) FILTER (WHERE value > 50) AS n_over50,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
)
def q_agg_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean/conditional aggregates: every/some (bool_and/bool_or)
    and filtered counts (count_if = COUNT(*) FILTER)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.every(F.col("value") >= 0).alias("all_nonneg"),
        F.some(F.col("value") > 99).alias("any_big"),
        F.count_if(F.col("value") > 50).alias("n_over50"),
        F.count(F.lit(1)).alias("n"),
    )


@_q(
    "q_try_funcs",
    oracle="""
    SELECT event_id,
           CASE WHEN value = 0 THEN NULL ELSE 100.0 / value END
             AS safe_ratio,
           TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
             AS k_as_int,
           TRY_CAST(event_type AS BIGINT) AS type_as_int
    FROM events
    WHERE event_id < 300
    ORDER BY event_id
    """,
)
def q_try_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe ``try_*`` family: ``try_divide`` (NULL on zero
    divisor instead of the ANSI DIVIDE_BY_ZERO error) and ``try_cast``
    (NULL on malformed input instead of CAST_INVALID_INPUT).

    Under ANSI mode (Spark 4's default) the plain operators *throw* —
    a single bad row kills a 100 TB job hours in; the try-variants
    turn poison rows into NULLs that flow to quarantine columns
    (cf. q_variant_invalid for the JSON equivalent). The oracle
    spells out the same semantics with CASE/TRY_CAST — proving the
    try-functions are sugar, not different math. ``type_as_int`` is
    NULL for every row (event types are words), pinning the
    no-silent-zero behavior.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 300)
    return ev.select(
        "event_id",
        F.try_divide(F.lit(100.0), F.col("value")).alias("safe_ratio"),
        F.get_json_object("props", "$.k")
        .try_cast("bigint")
        .alias("k_as_int"),
        F.col("event_type").try_cast("bigint").alias("type_as_int"),
    ).orderBy("event_id")


@_q(
    "q_xml_parse",
    oracle="""
    WITH xml AS (
      SELECT event_id,
             '<event><type>' || event_type || '</type><user>'
               || CAST(user_id AS VARCHAR) || '</user></event>' AS x
      FROM events WHERE event_id < 200
    )
    SELECT event_id,
           regexp_extract(x, '<type>(.*?)</type>', 1) AS xml_type,
           CAST(regexp_extract(x, '<user>(.*?)</user>', 1) AS BIGINT)
             AS xml_user
    FROM xml ORDER BY event_id
    """,
)
def q_xml_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 native XML: round-trip events through an XML string and
    recover typed fields with ``from_xml`` — the third semi-structured
    codec next to JSON (S6/S7) and VARIANT, for feeds that still speak
    XML (SAML/SOAP identity payloads are the reference's world,
    Keycloak included).

    The oracle has no XML parser; it recovers the same fields with
    regexes — proving the typed path agrees with the textual spec on
    well-formed input. Schema-on-read (``a INT, b STRING``-style DDL)
    mirrors from_json; malformed XML degrades to nulls the same way
    (PERMISSIVE mode), which is the property that matters at 100 TB.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 200)
    xml = ev.select(
        "event_id",
        F.concat(
            F.lit("<event><type>"),
            F.col("event_type"),
            F.lit("</type><user>"),
            F.col("user_id").cast("string"),
            F.lit("</user></event>"),
        ).alias("x"),
    )
    parsed = xml.select(
        "event_id",
        F.from_xml("x", "type STRING, user BIGINT").alias("p"),
    )
    return parsed.select(
        "event_id",
        F.col("p.type").alias("xml_type"),
        F.col("p.user").alias("xml_user"),
    ).orderBy("event_id")
