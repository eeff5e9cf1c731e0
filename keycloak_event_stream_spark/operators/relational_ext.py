"""Extended batch relational surface: subqueries, pivot, RANGE frames,
multiset set-ops, stats aggregates, and TPC-H composite shapes.

Continues SURVEY.md §2.3 beyond the core operators in
:mod:`.relational` — the reference implements none of these (§2.2); the
SQL-string queries it ships (``AthenaEventQuery.java:136-159``) never go
beyond single-table filter/sort/paginate. Everything here is built-in
Catalyst; subquery entries go through ``spark.sql`` deliberately to
exercise the SQL surface (decorrelation, scalar-subquery planning) on
top of the same views the DataFrame entries use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from keycloak_event_stream_spark.catalog import load_table, spread
from keycloak_event_stream_spark.operators._exact import (
    DEC,
    dbig,
    dsum,
    sql_dbig,
    sql_dsum,
)
from keycloak_event_stream_spark.registry import register as _q


def _views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)


# ---------------------------------------------------------------------------
# Window RANGE frame (peers aggregate together, unlike ROWS)
# ---------------------------------------------------------------------------

@_q(
    "q_window_range_frame",
    oracle=f"""
    SELECT o_orderkey, o_orderpriority, o_orderdate,
           CAST(sum(CAST(o_totalprice AS DECIMAL(27,6)))
                OVER (PARTITION BY o_orderpriority ORDER BY o_orderdate
                      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS running_price,
           count(*) OVER (PARTITION BY o_orderpriority ORDER BY o_orderdate
                          RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS n_upto
    FROM orders
    """,
)
def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame running totals: all o_orderdate peers enter the frame
    together (the semantic difference from the ROWS frame in
    q_window_frame, where peers accumulate one by one).

    Scale shape (round 11): BECAUSE the RANGE frame includes the whole
    tie group, the running total is a function of (priority, date)
    alone — so it is computed once per distinct date on the per-date
    aggregate (decimal day sums + counts, map-side combined), run
    through a two-phase cumsum (decimal addition reassociates
    exactly), and joined back onto the rows by (priority, date). The
    per-date table is calendar-bounded (~2.4k dates × 5 priorities),
    so the join-back broadcasts; the previous per-row window ran one
    WindowExec task per priority at any volume (7.5x at the 100x
    leg; now pure scan + broadcast join, 1.3x)."""
    from keycloak_event_stream_spark.operators._scale import (
        two_phase_window,
    )

    o = spread(load_table(spark, sf_dir, "orders"))
    by_day = o.groupBy("o_orderpriority", "o_orderdate").agg(
        F.sum(F.col("o_totalprice").cast(DEC)).alias("_day_price"),
        F.count(F.lit(1)).alias("_day_n"),
    )
    run = two_phase_window(
        by_day,
        [F.col("o_orderdate")],
        partition_by=["o_orderpriority"],
        cumsum={"_run_price": "_day_price", "n_upto": "_day_n"},
    ).select(
        "o_orderpriority",
        "o_orderdate",
        F.col("_run_price").cast("double").alias("running_price"),
        "n_upto",
    )
    return o.join(
        F.broadcast(run), ["o_orderpriority", "o_orderdate"]
    ).select(
        "o_orderkey",
        "o_orderpriority",
        "o_orderdate",
        "running_price",
        "n_upto",
    )


# ---------------------------------------------------------------------------
# Multiset set operations
# ---------------------------------------------------------------------------

@_q(
    "q_intersect_all",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT ALL
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def q_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL: bag intersection — each key survives
    min(count_left, count_right) times."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.intersectAll(s)


@_q(
    "q_except_all",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT ALL
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def q_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL: bag difference — count_left - count_right survivors."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.exceptAll(s)


# ---------------------------------------------------------------------------
# Subqueries (via spark.sql — exercises scalar-subquery planning and
# decorrelation; Catalyst rewrites EXISTS/IN to semi joins)
# ---------------------------------------------------------------------------

@_q(
    "q_subquery_scalar",
    oracle=f"""
    SELECT o_orderkey, o_totalprice,
           o_totalprice /
             (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE)
                     / count(*) FROM orders) AS price_ratio
    FROM orders
    WHERE o_totalprice >
          (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE)
                  / count(*) FROM orders)
    """,
)
def q_subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery (above-average orders + ratio).
    Catalyst plans the subquery once and broadcasts the scalar."""
    _views(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice,
               o_totalprice /
                 (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE)
                         / count(*) FROM orders) AS price_ratio
        FROM orders
        WHERE o_totalprice >
              (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE)
                      / count(*) FROM orders)
        """
    )


@_q(
    "q_subquery_in",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
    """,
)
def q_subquery_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN subquery — Catalyst rewrites to a left-semi join."""
    _views(spark, sf_dir, "orders", "customer")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
        """
    )


@_q(
    "q_subquery_exists",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
    """,
)
def q_subquery_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS — decorrelated into a semi join with the
    correlated predicate as the join key."""
    _views(spark, sf_dir, "orders", "customer")
    return spark.sql(
        """
        SELECT c_custkey, c_name
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
        """
    )


# ---------------------------------------------------------------------------
# HAVING / pivot
# ---------------------------------------------------------------------------

@_q(
    "q_having",
    oracle=f"""
    SELECT o_custkey,
           {sql_dsum("o_totalprice", "total_spent")},
           count(*) AS n_orders
    FROM orders
    GROUP BY o_custkey
    HAVING CAST(sum(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) > 2500000
    """,
)
def q_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING): big-spender customers."""
    o = spread(load_table(spark, sf_dir, "orders"))
    return (
        o.groupBy("o_custkey")
        .agg(
            dsum("o_totalprice", "total_spent"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .filter(F.col("total_spent") > 2500000)
    )


@_q(
    "q_pivot",
    oracle="""
    SELECT o_orderpriority,
           CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS "O",
           CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS "F",
           CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS "P"
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order counts per priority x status. The explicit value
    list keeps the plan a single pass (no distinct-values pre-query)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.sum(F.lit(1)))
    )


# ---------------------------------------------------------------------------
# Stats aggregates (decimal-routed: order-independent, engine-identical)
# ---------------------------------------------------------------------------

@_q(
    "q_agg_stats",
    oracle=f"""
    WITH s AS (
      SELECT o_orderstatus,
             count(*) AS n,
             {sql_dbig("sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100")}
               / 100.0 AS s1,
             {sql_dbig("sum(CAST(o_totalprice AS DECIMAL(18,2))"
                       " * CAST(o_totalprice AS DECIMAL(18,2))) * 10000")}
               / 10000.0 AS s2
      FROM orders GROUP BY o_orderstatus
    )
    SELECT o_orderstatus, n,
           s1 / n AS mean_price,
           (s2 - s1 * s1 / n) / (n - 1) AS var_price,
           sqrt((s2 - s1 * s1 / n) / (n - 1)) AS stddev_price
    FROM s
    """,
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean/variance/stddev via exact decimal moment sums (s1, s2) with
    the final arithmetic in double — order-independent and bit-identical
    across engines, unlike streaming variance (Welford) whose result
    depends on accumulation order. The moment sums cross 2^53 at sf0.1,
    so the double conversion goes through the split cast
    (:func:`_exact.dbig` — a plain CAST drifts a ulp between engines)."""
    o = spread(load_table(spark, sf_dir, "orders"))
    x = F.col("o_totalprice")
    # prices are 2-decimal money: DECIMAL(18,2) casts are exact in every
    # engine and the decimal square never rounds — bit-identical moments
    x2 = x.cast("decimal(18,2)") * x.cast("decimal(18,2)")
    agg = o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        (
            dbig(
                (F.sum(x.cast("decimal(18,2)")) * 100).cast("decimal(38,0)")
            )
            / F.lit(100.0)
        ).alias("s1"),
        (
            dbig((F.sum(x2) * 10000).cast("decimal(38,0)")) / F.lit(10000.0)
        ).alias("s2"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    return agg.select(
        "o_orderstatus",
        "n",
        (s1 / n).alias("mean_price"),
        F.try_divide(s2 - s1 * s1 / n, n - 1).alias("var_price"),
        F.sqrt(F.try_divide(s2 - s1 * s1 / n, n - 1)).alias(
            "stddev_price"
        ),
    )


@_q(
    "q_agg_percentile",
    oracle="""
    SELECT o_orderstatus,
           quantile_cont(o_totalprice, 0.5) AS p50,
           quantile_cont(o_totalprice, 0.9) AS p90,
           quantile_cont(o_totalprice, 0.99) AS p99
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (the sort-based aggregate, not the
    t-digest approximation): p50/p90/p99 per status. Both engines use
    the same lower+(upper-lower)*frac interpolation on the sorted set."""
    o = spread(load_table(spark, sf_dir, "orders"))
    return o.groupBy("o_orderstatus").agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("p50"),
        F.expr("percentile(o_totalprice, 0.9)").alias("p90"),
        F.expr("percentile(o_totalprice, 0.99)").alias("p99"),
    )


# ---------------------------------------------------------------------------
# TPC-H composite shapes (multi-join + agg + top-k end to end)
# ---------------------------------------------------------------------------

@_q(
    "q_tpch_q3",
    oracle=f"""
    SELECT l.l_orderkey,
           {sql_dsum("l.l_extendedprice * (1 - l.l_discount)", "revenue")},
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o.o_orderdate, l.l_orderkey
    LIMIT 10
    """,
)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority): 3-way join with filters pushed
    below each scan, hash agg on the join key, top-10 by revenue.
    The shape AQE optimizes end-to-end: dimension-filtered customer
    broadcasts, lineitem never shuffles before the agg."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = spread(load_table(spark, sf_dir, "orders")).filter(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp")
    )
    l = spread(load_table(spark, sf_dir, "lineitem")).filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderdate"), F.col("l_orderkey"))
        .limit(10)
    )


@_q(
    "q_tpch_q18",
    oracle=f"""
    WITH big AS (
      SELECT l_orderkey
      FROM lineitem
      GROUP BY l_orderkey
      HAVING CAST(sum(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) > 250
    )
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
           {sql_dsum("l.l_quantity", "total_qty")}
    FROM orders o
    JOIN big ON o.o_orderkey = big.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 100
    """,
)
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers): self-referential agg-filter
    (orders whose lineitems exceed a quantity threshold) feeding a
    3-way join and a re-aggregation, top-100. The `big` pre-aggregate
    is the shuffle-reducing move: it filters orders *before* the wide
    join."""
    l = spread(load_table(spark, sf_dir, "lineitem"))
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        l.groupBy("l_orderkey")
        .agg(dsum("l_quantity", "sum_qty"))
        .filter(F.col("sum_qty") > 250)
        .select("l_orderkey")
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .join(l.select(F.col("l_orderkey").alias("lk"), "l_quantity"),
              F.col("lk") == o.o_orderkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(dsum("l_quantity", "total_qty"))
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


@_q(
    "q_agg_salted_twophase",
    oracle=f"""
    SELECT event_type, count(*) AS n,
           {sql_dsum("value", "total_value")}
    FROM events GROUP BY event_type
    """,
)
def q_agg_salted_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof aggregation: phase 1 groups by (key, salt) so a hot
    key spreads over 16 reducers; phase 2 merges the 16 partials per
    key. The salt is a deterministic function of a unique column (never
    rand(): reproducibility). Decimal partials merge exactly, so the
    result is identical to the direct aggregation the oracle runs.
    At 100 TB this is the manual fallback when AQE's skew handling
    can't apply (e.g. skewed aggregation rather than join)."""
    ev = spread(load_table(spark, sf_dir, "events"))
    salt = F.pmod(F.col("event_id"), F.lit(16)).alias("salt")
    phase1 = ev.groupBy("event_type", salt).agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum(F.col("value").cast(DEC)).alias("pv"),
    )
    return phase1.groupBy("event_type").agg(
        F.sum("pn").alias("n"),
        F.sum("pv").cast("double").alias("total_value"),
    )


@_q(
    "q_topk_per_group",
    oracle="""
    SELECT c_mktsegment, c_custkey, c_acctbal, CAST(rn AS INTEGER) AS rnk
    FROM (
      SELECT c_mktsegment, c_custkey, c_acctbal,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY c_acctbal DESC, c_custkey) AS rn
      FROM customer
    ) WHERE rn <= 3
    """,
)
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K per group (richest 3 customers per segment): window
    row_number with a total order, filtered to K. One shuffle on the
    group key; at scale, pre-aggregation per partition caps the sort
    input when K << group size."""
    c = spread(load_table(spark, sf_dir, "customer"))
    w = W.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return (
        c.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("c_mktsegment", "c_custkey", "c_acctbal", "rnk")
    )


@_q(
    "q_unpivot",
    oracle="""
    SELECT p_partkey, 'retailprice' AS measure, p_retailprice AS val
    FROM part
    UNION ALL
    SELECT p_partkey, 'size' AS measure, CAST(p_size AS DOUBLE) AS val
    FROM part
    """,
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): wide measure columns -> (key, measure, value)
    rows via stack() — the inverse of q_pivot, no shuffle (a generator
    projection)."""
    p = load_table(spark, sf_dir, "part")
    return p.selectExpr(
        "p_partkey",
        "stack(2, 'retailprice', p_retailprice, "
        "'size', CAST(p_size AS DOUBLE)) AS (measure, val)",
    )


@_q(
    "q_scd2_intervals",
    oracle="""
    SELECT user_id, event_id AS version_id, ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS valid_to,
           (lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              IS NULL) AS is_current
    FROM events WHERE event_type = 'signup' OR event_type = 'purchase'
    """,
)
def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 validity intervals without a table format: each change
    event opens a version valid until the next one (lead over event
    time); the open-ended row is current. The window formulation of
    MERGE-style history tables — emulates Delta/Iceberg CDC in plain
    parquet."""
    ev = spread(load_table(spark, sf_dir, "events")).filter(
        F.col("event_type").isin("signup", "purchase")
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return ev.select(
        "user_id",
        F.col("event_id").alias("version_id"),
        F.col("ts").alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


@_q(
    "q_sessionize",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w > INTERVAL 30 MINUTES
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts,
             CAST(sum(new_session) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS session_id
      FROM gaps
    )
    SELECT user_id, session_id,
           min(ts) AS session_start, max(ts) AS session_end,
           count(*) AS n_events
    FROM sess GROUP BY user_id, session_id
    """,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (gaps-and-islands): a session break is a
    >30-min gap; session id = running count of breaks. One shuffle on
    user_id serves both windows and the final rollup — the batch twin
    of the streaming session_window operator."""
    ev = spread(load_table(spark, sf_dir, "events"))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_break = (
        F.lag("ts").over(w).isNull()
        | (F.col("ts").cast("long") - F.lag("ts").over(w).cast("long") > 1800)
    ).cast("int")
    run = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        ev.withColumn("new_session", gap_break)
        .withColumn("session_id", F.sum("new_session").over(run))
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@_q(
    "q_corr_moments",
    oracle=f"""
    WITH m AS (
      SELECT count(*) AS n,
             {sql_dbig("sum(CAST(l_quantity AS DECIMAL(18,2))) * 100")}
               / 100.0 AS sx,
             {sql_dbig("sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100")}
               / 100.0 AS sy,
             {sql_dbig("sum(CAST(l_quantity AS DECIMAL(18,2))"
                       " * CAST(l_quantity AS DECIMAL(18,2))) * 10000")}
               / 10000.0 AS sxx,
             {sql_dbig("sum(CAST(l_extendedprice AS DECIMAL(18,2))"
                       " * CAST(l_extendedprice AS DECIMAL(18,2))) * 10000")}
               / 10000.0 AS syy,
             {sql_dbig("sum(CAST(l_quantity AS DECIMAL(18,2))"
                       " * CAST(l_extendedprice AS DECIMAL(18,2))) * 10000")}
               / 10000.0 AS sxy
      FROM lineitem
    )
    SELECT n,
           (n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS corr_qty_price
    FROM m
    """,
)
def q_corr_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation from exact decimal moments (one pass, five
    sums), final arithmetic in double — order-independent and engine-
    identical, unlike corr()'s streaming covariance accumulation. The
    squared-cents sums cross 2^53 at sf0.1, so every moment converts
    through the split cast (:func:`_exact.dbig`)."""
    l = spread(load_table(spark, sf_dir, "lineitem"))
    x = F.col("l_quantity").cast("decimal(18,2)")
    y = F.col("l_extendedprice").cast("decimal(18,2)")

    def mom2(col, alias):
        return (
            dbig((F.sum(col) * 10000).cast("decimal(38,0)")) / F.lit(1e4)
        ).alias(alias)

    m = l.agg(
        F.count(F.lit(1)).alias("n"),
        (dbig((F.sum(x) * 100).cast("decimal(38,0)")) / F.lit(100.0)).alias(
            "sx"
        ),
        (dbig((F.sum(y) * 100).cast("decimal(38,0)")) / F.lit(100.0)).alias(
            "sy"
        ),
        mom2(x * x, "sxx"),
        mom2(y * y, "syy"),
        mom2(x * y, "sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    corr = F.try_divide(
        n * sxy - sx * sy,
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy),
    )
    return m.select("n", corr.alias("corr_qty_price"))


@_q(
    "q_histogram",
    oracle="""
    SELECT CAST(CASE WHEN o_totalprice < 0 THEN 0
                     WHEN o_totalprice >= 600000 THEN 13
                     ELSE floor(o_totalprice / 50000) + 1 END AS INTEGER)
             AS bucket,
           count(*) AS n,
           min(o_totalprice) AS lo,
           max(o_totalprice) AS hi
    FROM orders
    GROUP BY 1
    """,
)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram via width_bucket: a single hash agg on the
    bucket id — the profile query that replaces collecting values to
    the driver for binning."""
    o = spread(load_table(spark, sf_dir, "orders"))
    b = F.width_bucket("o_totalprice", F.lit(0), F.lit(600000), F.lit(12))
    return o.groupBy(b.cast("int").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
    )


@_q(
    "q_null_safe_join",
    oracle="""
    WITH a AS (
      SELECT event_id, CASE WHEN user_id % 7 = 0 THEN NULL
                            ELSE user_id END AS k
      FROM events WHERE event_type = 'signup'
    ),
    b AS (
      SELECT event_id, CASE WHEN user_id % 7 = 0 THEN NULL
                            ELSE user_id END AS k
      FROM events WHERE event_type = 'error'
    )
    SELECT a.event_id AS id_a, b.event_id AS id_b, a.k
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
)
def q_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi join (<=> / IS NOT DISTINCT FROM): NULL keys match
    each other instead of silently dropping — the semantics gap that
    loses rows when joining on nullable business keys. Still a hash
    join (NULL hashes to a bucket like any value)."""
    ev = spread(load_table(spark, sf_dir, "events"))
    k = F.when(F.col("user_id") % 7 == 0, F.lit(None)).otherwise(
        F.col("user_id")
    )
    a = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("id_a"), k.alias("k")
    )
    b = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("id_b"), k.alias("kb")
    )
    return a.join(b, a.k.eqNullSafe(b.kb)).select("id_a", "id_b", "k")


@_q(
    "q_merge_upsert",
    oracle="""
    WITH updates AS (
      SELECT o_custkey AS c_custkey,
             max(o_totalprice) AS new_bal
      FROM orders WHERE o_totalprice > 450000
      GROUP BY o_custkey
    )
    SELECT coalesce(c.c_custkey, u.c_custkey) AS c_custkey,
           coalesce(u.new_bal, c.c_acctbal) AS acctbal,
           (u.c_custkey IS NOT NULL AND c.c_custkey IS NOT NULL) AS updated,
           (c.c_custkey IS NULL) AS inserted
    FROM customer c
    FULL JOIN updates u ON c.c_custkey = u.c_custkey
    """,
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert emulation without a table format (Delta/Iceberg):
    full-outer join of base vs updates, fields coalesced — matched rows
    update, unmatched update-side rows insert, the rest carry over.
    This plus an overwrite of affected partitions is the plain-parquet
    CDC idiom; with a lakehouse format the same logic is MERGE INTO."""
    c = load_table(spark, sf_dir, "customer")
    updates = (
        spread(load_table(spark, sf_dir, "orders"))
        .filter(F.col("o_totalprice") > 450000)
        .groupBy(F.col("o_custkey").alias("u_custkey"))
        .agg(F.max("o_totalprice").alias("new_bal"))
    )
    merged = c.join(updates, c.c_custkey == updates.u_custkey, "full")
    return merged.select(
        F.coalesce(F.col("c_custkey"), F.col("u_custkey")).alias("c_custkey"),
        F.coalesce(F.col("new_bal"), F.col("c_acctbal")).alias("acctbal"),
        (F.col("u_custkey").isNotNull() & F.col("c_custkey").isNotNull()).alias(
            "updated"
        ),
        F.col("c_custkey").isNull().alias("inserted"),
    )


@_q(
    "q_tpch_q5",
    oracle=f"""
    SELECT n.n_name,
           {sql_dsum("l.l_extendedprice * (1 - l.l_discount)", "revenue")}
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n.n_name
    ORDER BY revenue DESC
    """,
)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume): five-way join with the
    customer-nation = supplier-nation theta component, region filter,
    one-year date range. nation/region/supplier broadcast; the
    fact-side flows map-side until the per-nation aggregate."""
    c = load_table(spark, sf_dir, "customer")
    o = spread(load_table(spark, sf_dir, "orders")).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    l = spread(load_table(spark, sf_dir, "lineitem"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .join(
            F.broadcast(s),
            (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.col("revenue").desc())
    )


_BIN_SECONDS = 900  # 15-minute range-join bins


@_q(
    "q_join_range_binned",
    oracle="""
    SELECT e.event_id AS error_id, c.event_id AS click_id,
           e.ts AS error_ts, c.ts AS click_ts
    FROM (SELECT * FROM events WHERE event_type = 'error') e
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON c.ts >= e.ts AND c.ts < e.ts + INTERVAL 15 MINUTE
    """,
)
def q_join_range_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure range join with NO equi key — all clicks within 15 minutes
    after any error — executed as an equi join on time bins.

    A naive `ON c.ts BETWEEN e.ts AND e.ts + 15min` has no equi
    component, so Spark plans a BroadcastNestedLoopJoin: O(n*m)
    predicate evaluations, the classic 100 TB cliff. Binning restores
    an equi key: with bin width = band width, a matching click is
    always in the error's bin or the next one, so each error row is
    expanded to 2 (bin, bin+1) keys, the join becomes a hash join on
    `bin`, and the exact band predicate is re-applied after. Cost drops
    from |errors|x|clicks| to sum over bins of the local product —
    linear in data size for time-distributed events, and it shuffles
    both sides by bin, which AQE can further skew-split.
    `tests/test_plans.py` pins the no-BNLJ promise.
    """
    ev = spread(load_table(spark, sf_dir, "events"))
    # cast("timestamp") tolerates TIMESTAMP_NTZ inputs (parquet without
    # timezone metadata); session tz is pinned UTC so the instant is
    # unchanged and unix_micros stays a monotone bin key either way.
    bin_of = lambda c: (
        F.unix_micros(c.cast("timestamp")) / F.lit(_BIN_SECONDS * 1_000_000)
    ).cast("bigint")
    e = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        F.col("ts").alias("error_ts"),
        F.explode(
            F.array(bin_of(F.col("ts")), bin_of(F.col("ts")) + 1)
        ).alias("bin"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
        bin_of(F.col("ts")).alias("bin"),
    )
    return (
        e.join(c, "bin")
        .filter(
            (F.col("click_ts") >= F.col("error_ts"))
            & (
                F.col("click_ts")
                < F.col("error_ts") + F.expr("INTERVAL 15 MINUTE")
            )
        )
        .select("error_id", "click_id", "error_ts", "click_ts")
    )


@_q(
    "q_window_ntile",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           CAST(ntile(4) OVER w AS INTEGER) AS quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice, o_orderkey)
    """,
)
def q_window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: ntile quartiles, percent_rank,
    cume_dist per order priority — completing the window family beyond
    rank/analytic/frame (SURVEY §2.3). Total order via the o_orderkey
    tiebreak; pct_rank/cume are exact rational arithmetic on ranks, so
    they compare bitwise.

    Scale shape (round 11): the naive window partitions by the 5
    priorities — one WindowExec task per priority at any volume
    (11.3x at the 100x leg). Above the footer-row threshold the same
    cost-based split as q_window_rank applies: a single two-phase
    row_number pass plus a |groups|-row count broadcast. The
    o_orderkey tiebreak makes the window order UNIQUE, so rank == rn
    and every peer group is a singleton — percent_rank = (rn−1)/(n−1)
    and cume_dist = rn/n, the same double divisions WindowExec
    performs (bitwise-equal; the branch test pins it), and ntile is
    reconstructed exactly from (rn, n) via exact_ntile."""
    from keycloak_event_stream_spark.operators._scale import (
        exact_ntile,
        two_phase_window,
        use_two_phase,
    )

    o = spread(load_table(spark, sf_dir, "orders"))
    if not use_two_phase(sf_dir, "orders"):
        w = W.partitionBy("o_orderpriority").orderBy(
            "o_totalprice", "o_orderkey"
        )
        return o.select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            F.ntile(4).over(w).alias("quartile"),
            F.percent_rank().over(w).alias("pct_rank"),
            F.cume_dist().over(w).alias("cume"),
        )
    ranked = two_phase_window(
        o.select(
            "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
        ),
        [F.col("o_totalprice"), F.col("o_orderkey")],
        partition_by=["o_orderpriority"],
        row_number="_rn",
    )
    nn_tab = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("_n")
    )
    j = ranked.join(F.broadcast(nn_tab), "o_orderpriority")
    nn, rn = F.col("_n"), F.col("_rn")
    pct = F.when(
        nn > 1, (rn - 1).cast("double") / (nn - 1).cast("double")
    ).otherwise(F.lit(0.0))
    return j.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        exact_ntile(rn, nn, 4).alias("quartile"),
        pct.alias("pct_rank"),
        (rn.cast("double") / nn.cast("double")).alias("cume"),
    )


@_q(
    "q_tpch_q6",
    oracle=f"""
    SELECT {sql_dsum("l_extendedprice * l_discount", "revenue")},
           count(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): the purest pushdown
    benchmark — a single scan where every predicate (date range,
    discount band, quantity cap) reaches the parquet reader as
    PushedFilters and the aggregate is one map-side-combined global
    sum. No shuffle of data rows at all: each task emits one partial,
    the final agg reduces |tasks| rows. The query TPC designed to
    measure scan efficiency, which at 100 TB is I/O + codegen, nothing
    else."""
    l = spread(load_table(spark, sf_dir, "lineitem"))
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@_q(
    "q_tpch_q10",
    oracle=f"""
    SELECT c.c_custkey, c.c_name,
           {sql_dsum("l.l_extendedprice * (1 - l.l_discount)", "revenue")},
           n.n_name
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1995-10-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting): quarter of orders joined to
    returned lineitems, revenue per customer, top 20. The canonical
    "fact-fact join then dimension decorate" shape: orders x lineitem
    shuffles on orderkey (both filtered first), customer and nation
    broadcast, and the final TakeOrderedAndProject keeps the top-k
    merge on the driver at |k| rows. Tiebreak on c_custkey makes the
    LIMIT deterministic for the oracle."""
    c = load_table(spark, sf_dir, "customer")
    o = spread(load_table(spark, sf_dir, "orders")).filter(
        (F.col("o_orderdate") >= F.lit("1995-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    l = spread(load_table(spark, sf_dir, "lineitem")).filter(
        F.col("l_returnflag") == "R"
    )
    n = load_table(spark, sf_dir, "nation")
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "revenue",
            )
        )
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@_q(
    "q_window_ignore_nulls",
    oracle="""
    SELECT event_id, user_id, ts, masked,
           last_value(masked IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled,
           first_value(masked IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_seen
    FROM (
      SELECT event_id, user_id, ts,
             CASE WHEN event_id % 7 < 3 THEN NULL ELSE value END AS masked
      FROM events
    )
    """,
)
def q_window_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IGNORE NULLS window semantics — last-observation-carried-forward
    (LOCF) gap filling per user, the workhorse of sensor/telemetry
    repair. A deterministic mask (event_id % 7) synthesizes the gaps;
    ``last(..., ignorenulls=True)`` over an explicit ROWS frame carries
    the previous non-null reading forward. The frame must be ROWS (not
    the default RANGE) because tied timestamps would otherwise pull
    peers into the frame differently across engines; (ts, event_id)
    gives a total order."""
    ev = spread(load_table(spark, sf_dir, "events"))
    masked = F.when(F.col("event_id") % 7 < 3, F.lit(None)).otherwise(
        F.col("value")
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return ev.withColumn("masked", masked).select(
        "event_id",
        "user_id",
        "ts",
        "masked",
        F.last("masked", ignorenulls=True).over(w).alias("filled"),
        F.first("masked", ignorenulls=True).over(w).alias("first_seen"),
    )


_IVL_MINUTES = 30


@_q(
    "q_join_interval_overlap",
    oracle=f"""
    SELECT e.event_id AS error_id, p.event_id AS purchase_id,
           greatest(e.ts, p.ts) AS overlap_start,
           least(e.ts + INTERVAL {_IVL_MINUTES} MINUTE,
                 p.ts + INTERVAL {_IVL_MINUTES} MINUTE) AS overlap_end
    FROM (SELECT * FROM events WHERE event_type = 'error') e
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON e.ts <= p.ts + INTERVAL {_IVL_MINUTES} MINUTE
     AND p.ts <= e.ts + INTERVAL {_IVL_MINUTES} MINUTE
    """,
)
def q_join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join with NO equi key — every (error, purchase)
    pair whose 30-minute activity intervals intersect — executed as an
    equi join on time bins instead of the BroadcastNestedLoopJoin a
    naive overlap predicate plans.

    Both sides explode to the bins their interval covers (bin width =
    interval length → ≤ 2 bins each). A pair overlapping in k shared
    bins would emit k duplicates; instead of a distinct, each pair is
    kept only in the bin containing its overlap START
    (``bin == floor(greatest(starts)/width)``) — exactly one emission,
    no dedup shuffle. This is the standard distributed interval-join
    idiom (cf. interval trees on a single node); the oracle runs the
    naive theta join."""
    ev = spread(load_table(spark, sf_dir, "events"))
    width_us = _IVL_MINUTES * 60 * 1_000_000
    # NTZ-tolerant (see q_join_range_binned): cast is value-preserving
    # under the pinned UTC session timezone.
    bin_of = lambda c: (
        F.unix_micros(c.cast("timestamp")) / F.lit(width_us)
    ).cast("bigint")
    ivl = F.expr(f"INTERVAL {_IVL_MINUTES} MINUTE")

    def side(tag: str, etype: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == etype)
            .select(
                F.col("event_id").alias(f"{tag}_id"),
                F.col("ts").alias(f"{tag}_start"),
                (F.col("ts") + ivl).alias(f"{tag}_end"),
            )
            .withColumn(
                "bin",
                F.explode(
                    F.sequence(
                        bin_of(F.col(f"{tag}_start")),
                        bin_of(F.col(f"{tag}_end")),
                    )
                ),
            )
        )

    e, p = side("error", "error"), side("purchase", "purchase")
    overlap_start = F.greatest("error_start", "purchase_start")
    return (
        e.join(p, "bin")
        .filter(
            (F.col("error_start") <= F.col("purchase_end"))
            & (F.col("purchase_start") <= F.col("error_end"))
            & (F.col("bin") == bin_of(overlap_start))
        )
        .select(
            "error_id",
            "purchase_id",
            overlap_start.alias("overlap_start"),
            F.least("error_end", "purchase_end").alias("overlap_end"),
        )
    )


@_q(
    "q_string_agg",
    oracle="""
    SELECT c_mktsegment,
           string_agg(c_name, ',' ORDER BY c_acctbal DESC, c_name) AS top_names,
           count(*) AS n
    FROM (
      SELECT c_mktsegment, c_name, c_acctbal,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY c_acctbal DESC, c_name) AS rn
      FROM customer
    )
    WHERE rn <= 5
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def q_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTAGG / string_agg with a deterministic ORDER BY: the 5
    richest customers per segment concatenated richest-first. Spark has
    no ordered string_agg, so the idiom is sort_array over collected
    (sort-key, value) structs — struct comparison is lexicographic by
    field position, which reproduces the ORDER BY exactly; acctbal
    descends via negation. The top-5 prefilter bounds the collected
    list (never collect an unbounded group at scale)."""
    c = spread(load_table(spark, sf_dir, "customer"))
    w = W.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_name")
    )
    top = c.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 5)
    return (
        top.groupBy("c_mktsegment")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.struct(
                                (-F.col("c_acctbal")).alias("k"),
                                F.col("c_name").alias("v"),
                            )
                        )
                    ),
                    lambda s: s.v,
                ),
            ).alias("top_names"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("c_mktsegment")
    )


@_q(
    "q_transition_matrix",
    oracle="""
    SELECT prev_type, event_type AS next_type, count(*) AS n_transitions
    FROM (
      SELECT event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    )
    WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
    ORDER BY prev_type, next_type
    """,
)
def q_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts between consecutive event
    types per user — the behavioral-analytics complement to the funnel
    (which fixes the sequence) and sessionization (which cuts it). One
    shuffle on user_id for the lag window, then a small aggregate on
    the |types|^2 domain; (ts, event_id) is the total order."""
    ev = spread(load_table(spark, sf_dir, "events"))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n_transitions"))
        .orderBy("prev_type", "next_type")
    )


@_q(
    "q_grouping_sets_distinct",
    oracle="""
    SELECT COALESCE(event_type, '(all)') AS event_type,
           COALESCE(CAST(CAST(ts AS DATE) AS VARCHAR), '(all)') AS day,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY GROUPING SETS ((event_type, CAST(ts AS DATE)),
                            (event_type), ())
    ORDER BY event_type, day
    """,
)
def q_grouping_sets_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) across GROUPING SETS — the BI shape where
    multi-level aggregation meets distinct counting: per (type, day),
    per type, and the grand total, each with its own exact distinct
    user count (distincts don't roll up — a user active on two days is
    one user at the type level, so every set needs its own distinct
    pass over the expanded rows; Spark plans this as Expand + a
    two-phase distinct aggregate).

    NULL grouping keys are disambiguated to '(all)' labels in both
    engines (COALESCE over the grouping columns), keeping the
    hash-compare honest where a real NULL day could collide with the
    rollup row. At 100 TB the Expand multiplies rows by |sets| before
    the shuffle — the documented cost; the mergeable-sketch
    alternative (q_sketch_hll) trades exactness for one pass.
    """
    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("_gsd_events")
    return spark.sql(
        """
        SELECT COALESCE(event_type, '(all)') AS event_type,
               COALESCE(CAST(CAST(ts AS DATE) AS STRING), '(all)') AS day,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(count(*) AS BIGINT) AS n_events
        FROM _gsd_events
        GROUP BY GROUPING SETS ((event_type, CAST(ts AS DATE)),
                                (event_type), ())
        ORDER BY event_type, day
        """
    )


@_q(
    "q_session_metrics",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR date_diff('second', lag(ts) OVER w, ts) > 1800
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS session_id,
             ts
      FROM ordered
    ),
    per_sess AS (
      SELECT user_id, session_id,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(floor(epoch(max(ts))) AS BIGINT)
               - CAST(floor(epoch(min(ts))) AS BIGINT) AS dur_s
      FROM sess GROUP BY user_id, session_id
    ),
    hist AS (
      SELECT n_events, CAST(count(*) AS BIGINT) AS c
      FROM per_sess GROUP BY n_events
    ),
    cum AS (
      SELECT n_events,
             CAST(sum(c) OVER (ORDER BY n_events
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum,
             CAST(sum(c) OVER () AS BIGINT) AS n
      FROM hist
    ),
    med AS (
      SELECT min(CASE WHEN cum * 2 >= n + 1 THEN n_events END)
               AS median_events
      FROM cum
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_sessions,
             CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_bounce,
             CAST(sum(dur_s) AS BIGINT) AS sum_dur_s,
             CAST(sum(n_events) AS BIGINT) AS sum_events
      FROM per_sess
    )
    SELECT a.n_sessions,
           CAST(a.n_bounce AS DOUBLE) / a.n_sessions AS bounce_rate,
           CAST(a.sum_events AS DOUBLE) / a.n_sessions
             AS mean_events,
           m.median_events,
           CAST(a.sum_dur_s AS DOUBLE) / a.n_sessions
             AS mean_duration_s
    FROM agg a CROSS JOIN med m
    """,
)
def q_session_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-quality rollup over the q_sessionize assignment: bounce
    rate (single-event sessions), mean/median events per session, and
    mean duration — the four numbers a web/product analyst reads
    before anything else, computed without materializing sessions
    anywhere.

    Scale: the one shuffle on user_id serves both session windows and
    the per-session rollup (same as q_sessionize); session durations
    and counts then reduce to a single row of integer sums, and the
    median comes from the bounded events-per-session histogram (a
    cumulative count over ≤ a few dozen distinct values — the q_mad
    nearest-rank discipline, never a row-level global sort)."""
    ev = spread(load_table(spark, sf_dir, "events"))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_break = (
        F.lag("ts").over(w).isNull()
        | (F.col("ts").cast("long") - F.lag("ts").over(w).cast("long") > 1800)
    ).cast("int")
    run = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    per_sess = (
        ev.withColumn("brk", gap_break)
        .withColumn("session_id", F.sum("brk").over(run))
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            (
                F.max(F.col("ts").cast("long"))
                - F.min(F.col("ts").cast("long"))
            )
            .cast("bigint")
            .alias("dur_s"),
        )
    )
    hist = per_sess.groupBy("n_events").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    cum = (
        hist.withColumn(
            "cum",
            F.sum("c")
            .over(
                W.orderBy("n_events").rowsBetween(
                    W.unboundedPreceding, W.currentRow
                )
            )
            .cast("bigint"),
        )
        .crossJoin(
            F.broadcast(
                hist.agg(F.sum("c").cast("bigint").alias("n"))
            )
        )
    )
    med = cum.agg(
        F.min(
            F.when(F.col("cum") * 2 >= F.col("n") + 1, F.col("n_events"))
        ).alias("median_events")
    )
    agg = per_sess.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_bounce"),
        F.sum("dur_s").cast("bigint").alias("sum_dur_s"),
        F.sum("n_events").cast("bigint").alias("sum_events"),
    )
    return agg.crossJoin(F.broadcast(med)).select(
        "n_sessions",
        (F.col("n_bounce").cast("double") / F.col("n_sessions")).alias(
            "bounce_rate"
        ),
        (F.col("sum_events").cast("double") / F.col("n_sessions")).alias(
            "mean_events"
        ),
        "median_events",
        (F.col("sum_dur_s").cast("double") / F.col("n_sessions")).alias(
            "mean_duration_s"
        ),
    )


@_q(
    "q_join_asof_nearest",
    oracle="""
    WITH tagged AS (
      SELECT user_id, ts, event_id, 'c' AS kind, epoch_us(ts) AS us
      FROM events WHERE event_type = 'click'
      UNION ALL
      SELECT user_id, ts, event_id, 'p' AS kind, epoch_us(ts) AS us
      FROM events WHERE event_type = 'purchase'
    ),
    marked AS (
      SELECT user_id, ts, event_id, kind, us,
             max(CASE WHEN kind = 'c'
                      THEN struct_pack(us := us, eid := event_id) END)
               OVER (PARTITION BY user_id ORDER BY us, kind, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS back,
             min(CASE WHEN kind = 'c'
                      THEN struct_pack(us := us, eid := event_id) END)
               OVER (PARTITION BY user_id ORDER BY us, kind, event_id
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS fwd
      FROM tagged
    )
    SELECT event_id AS purchase_id, user_id, ts AS purchase_ts,
           CASE WHEN back IS NULL AND fwd IS NULL THEN NULL
                WHEN fwd IS NULL THEN back.eid
                WHEN back IS NULL THEN fwd.eid
                WHEN us - back.us <= fwd.us - us THEN back.eid
                ELSE fwd.eid END AS nearest_click_id,
           CASE WHEN back IS NULL AND fwd IS NULL THEN NULL
                WHEN fwd IS NULL THEN us - back.us
                WHEN back IS NULL THEN fwd.us - us
                ELSE least(us - back.us, fwd.us - us) END AS dist_us
    FROM marked
    WHERE kind = 'p'
    ORDER BY purchase_id
    """,
)
def q_join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor as-of join: each purchase matched to its
    temporally CLOSEST click (either direction; ties to the earlier
    click) — the attribution variant backward-only ASOF can't express
    (a click 2 s after the purchase event is a better match than one
    3 days before when clocks are skewed or events land out of order).

    Spark has no native ASOF in either direction, so this is the
    union+window idiom run once in each: tag purchases and clicks into
    ONE user-keyed stream, take the running max of click (us, id)
    structs for the backward candidate and the reverse-frame min for
    the forward candidate, then pick the nearer in integer
    microseconds. One shuffle on user_id serves both directions; the
    ORACLE builds the identical windows (not a correlated LATERAL), so
    struct-ordering tie-breaks are engine-identical by construction."""
    ev = spread(load_table(spark, sf_dir, "events"))
    base = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "click", "c").otherwise("p").alias(
            "kind"
        ),
        F.unix_micros("ts").alias("us"),
    )
    wb = (
        W.partitionBy("user_id")
        .orderBy("us", "kind", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wf = (
        W.partitionBy("user_id")
        .orderBy("us", "kind", "event_id")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    click_struct = F.when(
        F.col("kind") == "c", F.struct(F.col("us"), F.col("event_id").alias("eid"))
    )
    marked = base.select(
        "user_id",
        "ts",
        "event_id",
        "kind",
        "us",
        F.max(click_struct).over(wb).alias("back"),
        F.min(click_struct).over(wf).alias("fwd"),
    )
    p = marked.filter(F.col("kind") == "p")
    back_us, fwd_us = F.col("back.us"), F.col("fwd.us")
    nearest = (
        F.when(F.col("back").isNull() & F.col("fwd").isNull(), F.lit(None))
        .when(F.col("fwd").isNull(), F.col("back.eid"))
        .when(F.col("back").isNull(), F.col("fwd.eid"))
        .when(F.col("us") - back_us <= fwd_us - F.col("us"), F.col("back.eid"))
        .otherwise(F.col("fwd.eid"))
    )
    dist = (
        F.when(F.col("back").isNull() & F.col("fwd").isNull(), F.lit(None))
        .when(F.col("fwd").isNull(), F.col("us") - back_us)
        .when(F.col("back").isNull(), fwd_us - F.col("us"))
        .otherwise(F.least(F.col("us") - back_us, fwd_us - F.col("us")))
    )
    return p.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        nearest.cast("bigint").alias("nearest_click_id"),
        dist.cast("bigint").alias("dist_us"),
    ).orderBy("purchase_id")


@_q(
    "q_rate_limit_window",
    oracle="""
    WITH base AS (
      SELECT user_id, event_id, ts, CAST(floor(epoch(ts)) AS BIGINT) AS s
      FROM events
    ),
    counted AS (
      SELECT user_id, event_id,
             CAST(count(*) OVER (
               PARTITION BY user_id ORDER BY s
               RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
               AS BIGINT) AS n_last_hour
      FROM base
    )
    SELECT user_id,
           CAST(max(n_last_hour) AS BIGINT) AS peak_hour_rate,
           CAST(sum(CASE WHEN n_last_hour > 20 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_throttled
    FROM counted
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def q_rate_limit_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-hour request rate per event via a TIME-RANGE window
    frame (RANGE 3600 PRECEDING over epoch seconds — peers enter by
    TIME distance, not row count, so bursts and sparse traffic are
    measured on the same clock), reduced to each user's peak hourly
    rate and how many events a >20/hour throttle would have rejected —
    the rate-limiter sizing query.

    The window partitions on user_id (healthy keyed shuffle) and
    orders by floored epoch seconds — both engines floor the
    microsecond timestamps identically (the q_session_metrics gap
    discipline), and the frame arithmetic is pure integers. The rollup
    reuses the same partitioning."""
    ev = spread(load_table(spark, sf_dir, "events"))
    base = ev.select(
        "user_id",
        "event_id",
        F.col("ts").cast("long").alias("s"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("s")
        .rangeBetween(-3600, W.currentRow)
    )
    counted = base.select(
        "user_id",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_last_hour"),
    )
    return (
        counted.groupBy("user_id")
        .agg(
            F.max("n_last_hour").cast("bigint").alias("peak_hour_rate"),
            F.sum(F.when(F.col("n_last_hour") > 20, 1).otherwise(0))
            .cast("bigint")
            .alias("n_throttled"),
        )
        .orderBy("user_id")
    )


@_q(
    "q_systematic_sample",
    oracle="""
    WITH ranked AS (
      SELECT event_id, user_id, event_type,
             row_number() OVER (ORDER BY ts, event_id) AS rn
      FROM events
    )
    SELECT event_id, user_id, event_type,
           CAST(rn AS BIGINT) AS rn
    FROM ranked
    WHERE rn % 97 = 1
    ORDER BY rn
    """,
)
def q_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic 1-in-97 sample along the event-time order: every
    97th row of the (ts, event_id) total order — the
    stream-representative sample (uniform over TIME, unlike a hash
    sample which is uniform over keys and can miss bursts), and the
    deterministic alternative to rand()-based sampling that no two
    runs can disagree on.

    The global order comes from the two-phase range-partition
    primitive (never a single-task sort); the modulus cut is a per-row
    predicate after it. A prime step (97) avoids beating against any
    periodic structure in the stream."""
    ev = spread(load_table(spark, sf_dir, "events"))
    from keycloak_event_stream_spark.operators._scale import (
        two_phase_window as _tpw,
    )

    ranked = _tpw(
        ev.select("event_id", "user_id", "event_type", "ts"),
        [F.col("ts"), F.col("event_id")],
        row_number="rn",
    )
    return (
        ranked.filter(F.col("rn") % 97 == 1)
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.col("rn").cast("bigint").alias("rn"),
        )
        .orderBy("rn")
    )


@_q(
    "q_window_nth_value",
    oracle="""
    WITH p AS (
      SELECT user_id, ts, event_id,
             row_number() OVER w AS rn,
             nth_value(ts, 1) OVER wf AS t1,
             nth_value(ts, 2) OVER wf AS t2,
             nth_value(ts, 3) OVER wf AS t3
      FROM events WHERE event_type = 'purchase'
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
             wf AS (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING
                    AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, t1, t2, t3,
           CAST(date_diff('second', t1, t2) AS BIGINT) AS gap12_s,
           CAST(date_diff('second', t2, t3) AS BIGINT) AS gap23_s
    FROM p WHERE rn = 1
    ORDER BY user_id
    """,
)
def q_window_nth_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/second/third purchase timestamps per user with the gaps
    between them — the repeat-purchase velocity feature (time to 2nd
    purchase is the classic early-retention predictor), expressed with
    ``nth_value`` over the FULL-partition frame (the builtin this
    registry hadn't exercised; note nth_value needs the unbounded
    frame or it silently reads only up to the current row).

    One user-keyed window; one row per purchasing user via the rn=1
    cut; gaps as floored-second integers (the session-gap
    discipline)."""
    ev = spread(load_table(spark, sf_dir, "events"))
    p = ev.filter(F.col("event_type") == "purchase")
    wo = W.partitionBy("user_id").orderBy("ts", "event_id")
    wf = wo.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    marked = p.select(
        "user_id",
        F.row_number().over(wo).alias("rn"),
        F.nth_value("ts", 1).over(wf).alias("t1"),
        F.nth_value("ts", 2).over(wf).alias("t2"),
        F.nth_value("ts", 3).over(wf).alias("t3"),
    )
    return (
        marked.filter(F.col("rn") == 1)
        .select(
            "user_id",
            "t1",
            "t2",
            "t3",
            (F.col("t2").cast("long") - F.col("t1").cast("long"))
            .cast("bigint")
            .alias("gap12_s"),
            (F.col("t3").cast("long") - F.col("t2").cast("long"))
            .cast("bigint")
            .alias("gap23_s"),
        )
        .orderBy("user_id")
    )
