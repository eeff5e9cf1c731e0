"""Function-matrix breadth: hash digests, array higher-order functions,
bitwise ops, regexp_extract_all, max_by/min_by, nth_value frames.

North-star scalar-function surface (SURVEY.md §2.3 "scalar function
families") beyond the families already in ``functions/scalar.py``. The
reference emits no scalar functions at all in its generated SQL — only
literals and column references (`AthenaEventQuery.java:161-198`) — so
all of these are engine extensions a real analytics user needs.

Determinism notes (the oracle disciplines that make these bitwise):

- Hashes (md5/sha256) are bit-exact by definition — ideal oracle
  columns and the backbone of content-addressed dedup at 100 TB.
- Array HOF outputs here are order-independent reductions (sum / count
  / exists), so `collect_list`'s nondeterministic order is immaterial.
- money→integer composites go through DECIMAL(18,2), never a raw
  double→bigint cast (DuckDB rounds, Spark truncates).
- `nth_value` uses an explicit UNBOUNDED/UNBOUNDED frame and a total
  order (date, then unique key) in both engines.

Scale: per-row scalar work is embarrassingly parallel inside
whole-stage codegen; the only shuffles are the explicit group-bys
(array build, argmax) on their natural keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from keycloak_event_stream_spark.catalog import load_table
from keycloak_event_stream_spark.registry import register as _q


@_q(
    "q_hash_funcs",
    oracle="""
    SELECT c_custkey,
           md5(c_name)                       AS name_md5,
           sha256(c_name)                    AS name_sha256,
           substr(md5(c_name), 1, 1)         AS md5_bucket
    FROM customer
    """,
)
def q_hash_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cryptographic digest functions (md5, sha2-256) — the primitive
    under content-addressed exact dedup and deterministic sharding.
    Hex output is lowercase in both engines, so the columns are
    bitwise oracle-checkable with no normalization."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.md5("c_name").alias("name_md5"),
        F.sha2("c_name", 256).alias("name_sha256"),
        F.substring(F.md5("c_name"), 1, 1).alias("md5_bucket"),
    )


@_q(
    "q_array_hof",
    oracle="""
    WITH qs AS (
      SELECT l_orderkey, list(CAST(l_quantity AS INTEGER)) AS q
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT l_orderkey,
           CAST(list_sum(list_transform(q, x -> x * 2)) AS BIGINT) AS doubled_sum,
           CAST(len(list_filter(q, x -> x > 25)) AS INTEGER)       AS n_big,
           len(list_filter(q, x -> x >= 49)) > 0                   AS any_ge_49
    FROM qs
    """,
)
def q_array_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions (transform / filter / aggregate /
    exists) over per-order quantity arrays. Every output is an
    order-independent reduction, so collect_list's arbitrary element
    order cannot leak into the result — the discipline that makes
    lambda pipelines oracle-checkable."""
    li = load_table(spark, sf_dir, "lineitem")
    arr = li.groupBy("l_orderkey").agg(
        F.collect_list(F.col("l_quantity").cast("int")).alias("q")
    )
    return arr.select(
        "l_orderkey",
        F.aggregate(
            F.transform("q", lambda x: x * 2),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("doubled_sum"),
        F.size(F.filter("q", lambda x: x > 25)).alias("n_big"),
        F.exists("q", lambda x: x >= 49).alias("any_ge_49"),
    )


@_q(
    "q_bit_funcs",
    oracle="""
    SELECT event_id,
           event_id & 255                  AS lo_byte,
           event_id | 4096                 AS with_flag,
           xor(event_id, user_id)          AS keymix,
           user_id << 3                    AS shl3,
           event_id >> 4                   AS shr4,
           CAST(bit_count(event_id) AS INTEGER) AS popcount
    FROM events
    """,
)
def q_bit_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise operator family (& | ^ << >> bit_count) — flag words,
    bucket masks and bitmap indexes all reduce to these. All-integer
    in and out, so bitwise-exact across engines by construction."""
    e = load_table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.expr("event_id & 255").alias("lo_byte"),
        F.expr("event_id | 4096").alias("with_flag"),
        F.expr("event_id ^ user_id").alias("keymix"),
        F.expr("shiftleft(user_id, 3)").alias("shl3"),
        F.expr("shiftright(event_id, 4)").alias("shr4"),
        F.bit_count("event_id").alias("popcount"),
    )


@_q(
    "q_regex_extract_all",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[a-z]{7,}')) AS INTEGER)
               AS n_long,
           CASE WHEN len(regexp_extract_all(text, '[a-z]{7,}')) > 0
                THEN regexp_extract_all(text, '[a-z]{7,}')[1] END
               AS first_long
    FROM documents
    """,
)
def q_regex_extract_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_extract_all (Spark 3.1+/DuckDB): all matches, in
    left-to-right match order — deterministic, so element access is
    oracle-safe. Pattern uses explicit character classes (no \\w/\\b)
    to stay identical across Java regex and RE2."""
    d = load_table(spark, sf_dir, "documents")
    matches = F.regexp_extract_all("text", F.lit("[a-z]{7,}"), 0)
    return d.select(
        "doc_id",
        F.size(matches).alias("n_long"),
        F.when(F.size(matches) > 0, F.element_at(matches, 1)).alias("first_long"),
    )


@_q(
    "q_argmax",
    oracle="""
    SELECT c_nationkey,
           arg_max(c_name, CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
                           * 1000000 + c_custkey) AS richest,
           arg_min(c_name, CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
                           * 1000000 + c_custkey) AS poorest,
           CAST(max(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS max_bal,
           CAST(min(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS min_bal
    FROM customer GROUP BY c_nationkey
    """,
)
def q_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by / min_by (Spark) vs arg_max / arg_min (DuckDB): the
    selector key is a composite (acctbal-cents, custkey) packed into
    one bigint — unique, so the argmax is total-ordered and
    deterministic in both engines. Money goes through DECIMAL(18,2)
    before the cents cast (double→bigint rounds in DuckDB but
    truncates in Spark)."""
    c = load_table(spark, sf_dir, "customer")
    cents = (F.col("c_acctbal").cast("decimal(18,2)") * 100).cast("bigint")
    key = cents * 1000000 + F.col("c_custkey")
    return c.groupBy("c_nationkey").agg(
        F.max_by("c_name", key).alias("richest"),
        F.min_by("c_name", key).alias("poorest"),
        F.max(F.col("c_acctbal").cast("decimal(18,2)"))
        .cast("double")
        .alias("max_bal"),
        F.min(F.col("c_acctbal").cast("decimal(18,2)"))
        .cast("double")
        .alias("min_bal"),
    )


@_q(
    "q_window_nth",
    oracle="""
    SELECT o_orderkey, o_custkey,
           first_value(o_orderkey) OVER w AS first_ok,
           nth_value(o_orderkey, 2) OVER w AS second_ok,
           last_value(o_orderkey)  OVER w AS last_ok
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def q_window_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / nth_value / last_value over an explicit
    UNBOUNDED..UNBOUNDED frame (the default frame would make
    last_value degenerate). Total order (o_orderdate, o_orderkey)
    pins the answer in both engines."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.first("o_orderkey").over(w).alias("first_ok"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_ok"),
        F.last("o_orderkey").over(w).alias("last_ok"),
    )
