"""Batch relational operators (SURVEY.md §2.3, batch table).

Generalizes the reference's single-table query surface
(``AthenaEventQuery.java:136-198``: projection F1, conjunctive equality
F2, IN-list F3, inclusive time range F4, sort F5, limit F6, offset F7)
to the full relational algebra the north star mandates: joins,
aggregations, windows, set operations.

Design rules applied throughout (the 100 TB posture):
- Everything is a lazy DataFrame plan; Catalyst does pushdown/pruning.
- Small dimensions are explicitly ``F.broadcast`` — at 100 TB the fact
  side never shuffles for a dim join.
- Sort+limit shapes compile to ``TakeOrderedAndProject`` (no global
  sort); verified in tests via the physical plan.
- Aggregates over doubles go through exact decimal arithmetic
  (:mod:`._exact`) so results are order-independent — required for
  oracle comparison and the right call for reproducibility at scale.
- Every query orders through a *total* order (unique tiebreak column)
  wherever limits/windows depend on order, so results are deterministic
  across engines and partitionings.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from keycloak_event_stream_spark.catalog import load_table, nanos_bound, spread
from keycloak_event_stream_spark.operators._exact import (
    davg,
    dsum,
    sql_davg,
    sql_dsum,
)
from keycloak_event_stream_spark.registry import register as _q


# ---------------------------------------------------------------------------
# Scan / project / filter / sort / paginate — the reference's own surface
# (S11, F1-F7) re-expressed on the `events` fixture.
# ---------------------------------------------------------------------------

@_q(
    "q_scan_project",
    oracle="SELECT event_id, event_type, ts, user_id FROM events",
)
def q_scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-column projection off a parquet scan (ref F1: fixed SELECT
    list, ``AthenaEventQuery.java:138-141``). Column pruning reaches the
    scan: ReadSchema carries only these four columns."""
    return load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts", "user_id"
    )


@_q(
    "q_filter_eq_conj",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value
    FROM events WHERE event_type = 'click' AND user_id = 7
    """,
)
def q_filter_eq_conj(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive equality filters (ref F2: ANDed `col = ?` chain,
    ``AthenaEventQuery.java:173-187``). Both predicates push down to the
    parquet reader (PushedFilters)."""
    ev = spread(load_table(spark, sf_dir, "events"))
    return ev.filter(
        (F.col("event_type") == "click") & (F.col("user_id") == 7)
    ).select("event_id", "ts", "user_id", "event_type", "value")


@_q(
    "q_filter_in",
    oracle="""
    SELECT event_id, ts, user_id, event_type
    FROM events WHERE event_type IN ('purchase', 'signup', 'error')
    """,
)
def q_filter_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-list on a low-cardinality string column (ref F3:
    `eventtype IN (...)` from a de-duplicated set,
    ``AthenaEventQuery.java:164-171``)."""
    ev = spread(load_table(spark, sf_dir, "events"))
    return ev.filter(
        F.col("event_type").isin("purchase", "signup", "error")
    ).select("event_id", "ts", "user_id", "event_type")


@_q(
    "q_filter_range_time",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
      AND ts <= TIMESTAMP '2024-01-20 23:59:59'
    """,
)
def q_filter_range_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inclusive time-range filter (ref F4: `time >= ? AND time <= ?`,
    both bounds inclusive, ``AthenaEventQuery.java:189-195``). At scale
    this predicate additionally prunes dt/hour partitions (SURVEY §4) —
    see plans.event_query for the pruning augmentation."""
    ev = spread(load_table(spark, sf_dir, "events"))
    lo = F.lit("2024-01-10 00:00:00").cast("timestamp")
    hi = F.lit("2024-01-20 23:59:59").cast("timestamp")
    cond = (F.col("ts") >= lo) & (F.col("ts") <= hi)
    if "ts_nanos" in ev.columns:
        # fixture wrote TIMESTAMP(NANOS): the decoded-ts predicate is
        # expression-wrapped and cannot push to parquet; these raw-domain
        # twins reach the reader's row-group stats (catalog._NANO_TS_COLS).
        # With native timestamp[us] fixtures the plain predicate above
        # already pushes down and no twin exists.
        lo_ns = _dt.datetime(2024, 1, 10)
        hi_ns = _dt.datetime(2024, 1, 20, 23, 59, 59)
        cond = (
            cond
            & (F.col("ts_nanos") >= F.lit(nanos_bound(lo_ns)))
            & (F.col("ts_nanos") <= F.lit(nanos_bound(hi_ns) + 999))
        )
    return ev.filter(cond).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )


@_q(
    "q_sort_limit_offset",
    oracle="""
    SELECT event_id, ts, user_id, event_type
    FROM events
    ORDER BY ts DESC, event_id DESC
    LIMIT 100 OFFSET 50
    """,
)
def q_sort_limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order by time desc + paginate (ref F5-F7; DESC default at
    ``AthenaEventQuery.java:31``, OFFSET/LIMIT at ``:150-156`` — emitted
    in the wrong grammatical order there, SURVEY §1.4 Q2; semantics here
    are skip-50-take-100). event_id breaks ts ties so the page is a
    deterministic set."""
    ev = spread(load_table(spark, sf_dir, "events"))
    return (
        ev.orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .offset(50)
        .limit(100)
        .select("event_id", "ts", "user_id", "event_type")
    )


@_q(
    "q_topk",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
)
def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k by value over a total order. Compiles to
    TakeOrderedAndProject: per-partition heaps + driver merge — no global
    sort, no shuffle of the full table; O(k) memory per partition at any
    scale."""
    orders = spread(load_table(spark, sf_dir, "orders"))
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(20)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# Joins (all NS — the reference has none, SURVEY §2.2)
# ---------------------------------------------------------------------------

@_q(
    "q_join_inner_hash",
    oracle="""
    SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_orderstatus = 'O'
    """,
)
def q_join_inner_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi inner join orders⋈customer. Left to AQE: at sf0.01 customer
    broadcasts; at 100 TB both sides shuffle-hash/SMJ on o_custkey with
    skew-splitting. The status filter is pushed below the join."""
    orders = spread(load_table(spark, sf_dir, "orders"))
    cust = load_table(spark, sf_dir, "customer")
    return (
        orders.filter(F.col("o_orderstatus") == "O")
        .join(cust, orders.o_custkey == cust.c_custkey, "inner")
        .select("o_orderkey", "o_totalprice", "c_name", "c_mktsegment")
    )


@_q(
    "q_join_broadcast",
    oracle=f"""
    SELECT n.n_name, r.r_name,
           {sql_dsum("l.l_extendedprice * (1 - l.l_discount)", "revenue")},
           count(*) AS n_items
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name, r.r_name
    """,
)
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈dim⋈dim⋈dim star join with explicit broadcast hints: at
    100 TB the lineitem side streams map-side through three broadcast
    hash joins — zero shuffles until the final partial/final agg."""
    l = spread(load_table(spark, sf_dir, "lineitem"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@_q(
    "q_join_left",
    oracle="""
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
    FROM customer c
    LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 400000) o
      ON c.c_custkey = o.o_custkey
    """,
)
def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join: every customer, big orders or NULLs."""
    cust = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return cust.join(big, cust.c_custkey == big.o_custkey, "left").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@_q(
    "q_join_right",
    oracle="""
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderstatus
    FROM (SELECT * FROM customer WHERE c_mktsegment = 'BUILDING') c
    RIGHT JOIN orders o ON c.c_custkey = o.o_custkey
    """,
)
def q_join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join: every order, BUILDING-segment customer or NULL."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = spread(load_table(spark, sf_dir, "orders"))
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "right").select(
        "c_custkey", "c_name", "o_orderkey", "o_orderstatus"
    )


@_q(
    "q_join_full",
    oracle="""
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
    FROM (SELECT * FROM customer WHERE c_acctbal > 0) c
    FULL JOIN (SELECT * FROM orders WHERE o_totalprice > 450000) o
      ON c.c_custkey = o.o_custkey
    """,
)
def q_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join with unmatched rows on both sides."""
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0)
    big = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000)
    return cust.join(big, cust.c_custkey == big.o_custkey, "full").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@_q(
    "q_join_semi",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000)
    """,
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): customers having a >450k order. The
    probe side is deduplicated by the join itself — no distinct needed,
    half the shuffle of join+dropDuplicates."""
    cust = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000)
    return cust.join(
        big, cust.c_custkey == big.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_acctbal")


@_q(
    "q_join_anti",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000)
    """,
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): customers with no >450k order."""
    cust = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000)
    return cust.join(
        big, cust.c_custkey == big.o_custkey, "left_anti"
    ).select("c_custkey", "c_name", "c_mktsegment")


@_q(
    "q_join_theta_range",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           p.user_id, p.ts AS purchase_ts, c.ts AS click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts > p.ts
     AND c.ts <= p.ts + INTERVAL 1 HOUR
    """,
)
def q_join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (theta) join: clicks within one hour after each purchase by
    the same user. The equi component (user_id) keeps it a hash join;
    the range predicate is evaluated as a post-join filter — the scalable
    shape for banded time joins (pure theta would be a quadratic BNLJ)."""
    ev = spread(load_table(spark, sf_dir, "events"))
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("click_ts"),
    )
    return (
        p.join(
            c,
            (p.user_id == c.c_user_id)
            & (c.click_ts > p.purchase_ts)
            & (c.click_ts <= p.purchase_ts + F.expr("INTERVAL 1 HOUR")),
        )
        .select("purchase_id", "click_id", "user_id", "purchase_ts", "click_ts")
    )


_ASOF_ORACLE = """
    WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
         -- max-event_id pre-reduce pins the duplicate-ts pick to the
         -- same tiebreak the Spark window order uses (round-4 ADVICE)
         c AS (SELECT max(event_id) AS event_id, user_id, ts FROM events
               WHERE event_type = 'click' GROUP BY user_id, ts)
    SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
           c.event_id AS last_click_id, c.ts AS last_click_ts
    FROM p ASOF LEFT JOIN c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """


@_q("q_join_asof", oracle=_ASOF_ORACLE)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase, the latest click at-or-before it by
    the same user. Spark has no native ASOF (SURVEY §7 risk 1); the
    scalable idiom is union-tag + window last_value: one shuffle on
    (user_id), sorted once by ts — O(n log n) per key group, no range
    explosion. DuckDB's native ASOF JOIN is the oracle.

    Determinism: click event_ids are unique per (user_id, ts) in the
    fixture; ties on ts resolve to the max event_id via the (ts,
    event_id) window order, matching DuckDB's greatest-row semantics.
    """
    ev = spread(load_table(spark, sf_dir, "events"))
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.lit(1).alias("is_probe")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", F.lit(0).alias("is_probe")
    )
    both = p.unionByName(c)
    # Order clicks before purchases at identical ts (probe flag asc) so a
    # click at exactly purchase_ts is visible to it (ts >= semantics).
    w = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("is_probe"), F.col("event_id"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    click_id = F.when(F.col("is_probe") == 0, F.col("event_id"))
    click_ts = F.when(F.col("is_probe") == 0, F.col("ts"))
    enriched = both.withColumn(
        "last_click_id", F.last(click_id, ignorenulls=True).over(w)
    ).withColumn("last_click_ts", F.last(click_ts, ignorenulls=True).over(w))
    return enriched.filter(F.col("is_probe") == 1).select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        "last_click_id",
        "last_click_ts",
    )


@_q(
    "q_join_asof_tolerance",
    oracle="""
    WITH p AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase'),
         -- pre-reduce clicks to one row per (user_id, ts): DuckDB's
         -- ASOF pick among duplicate right-side timestamps is not
         -- defined, so pin the same max-event_id tiebreak the Spark
         -- window order uses (round-4 ADVICE)
         c AS (SELECT max(event_id) AS event_id, user_id, ts FROM events
               WHERE event_type = 'click' GROUP BY user_id, ts),
         m AS (
           SELECT p.event_id AS purchase_id, p.user_id,
                  p.ts AS purchase_ts, c.event_id AS click_id,
                  c.ts AS click_ts
           FROM p ASOF LEFT JOIN c
             ON p.user_id = c.user_id AND p.ts >= c.ts
         )
    SELECT purchase_id, user_id, purchase_ts,
           CASE WHEN click_ts >= purchase_ts - INTERVAL 1 HOUR
                THEN click_id END AS click_id,
           CASE WHEN click_ts >= purchase_ts - INTERVAL 1 HOUR
                THEN epoch_us(purchase_ts) - epoch_us(click_ts) END
             AS gap_us,
           CAST(CASE WHEN click_ts >= purchase_ts - INTERVAL 1 HOUR
                     THEN 1 ELSE 0 END AS BIGINT) AS matched
    FROM m
    """,
)
def q_join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a match tolerance: each purchase takes its
    latest preceding click only if it happened within the last hour —
    the attribution-window variant every marketing pipeline actually
    runs (an unbounded ASOF credits a click from last month). Beyond
    the tolerance the match is NULL and ``matched`` = 0, so downstream
    rates don't silently count stale joins.

    Same union-tag + running-last window idiom as q_join_asof (one
    shuffle on user_id, no range explosion — the tolerance is a
    per-row CASE after the window, NOT a join predicate, so the plan
    is identical to the unbounded as-of); the oracle applies the same
    CASE over DuckDB's native ASOF."""
    ev = spread(load_table(spark, sf_dir, "events"))
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.lit(1).alias("is_probe")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", F.lit(0).alias("is_probe")
    )
    both = p.unionByName(c)
    w = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("is_probe"), F.col("event_id"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    click_id = F.when(F.col("is_probe") == 0, F.col("event_id"))
    click_ts = F.when(F.col("is_probe") == 0, F.col("ts"))
    enriched = both.withColumn(
        "raw_click_id", F.last(click_id, ignorenulls=True).over(w)
    ).withColumn("raw_click_ts", F.last(click_ts, ignorenulls=True).over(w))
    in_tol = F.col("raw_click_ts") >= F.col("ts") - F.expr(
        "INTERVAL 1 HOUR"
    )
    return enriched.filter(F.col("is_probe") == 1).select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.when(in_tol, F.col("raw_click_id")).alias("click_id"),
        F.when(
            in_tol,
            F.unix_micros(F.col("ts")) - F.unix_micros(F.col("raw_click_ts")),
        ).alias("gap_us"),
        F.when(in_tol, 1).otherwise(0).cast("bigint").alias("matched"),
    )


# ---------------------------------------------------------------------------
# Aggregations
# ---------------------------------------------------------------------------

@_q(
    "q_agg_hash",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum("l_quantity", "sum_qty")},
           {sql_dsum("l_extendedprice", "sum_base_price")},
           {sql_dsum("l_extendedprice * (1 - l_discount)", "sum_disc_price")},
           {sql_dsum("l_extendedprice * (1 - l_discount) * (1 + l_tax)", "sum_charge")},
           {sql_davg("l_quantity", "avg_qty")},
           {sql_davg("l_extendedprice", "avg_price")},
           {sql_davg("l_discount", "avg_disc")},
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_agg_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy hash aggregate with partial (map-side)
    combine — the canonical 100 TB aggregation. Only 2 group keys, so
    the shuffle carries a handful of rows per partition."""
    l = spread(load_table(spark, sf_dir, "lineitem"))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(disc_price, "sum_disc_price"),
            dsum(charge, "sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@_q(
    "q_agg_distinct",
    oracle="""
    SELECT o_orderstatus,
           count(DISTINCT o_custkey) AS n_customers,
           count(*) AS n_orders
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct count per group: Spark expands to a two-phase
    aggregate (partial distinct on (status, custkey), then final count) —
    shuffle volume bounded by distinct pairs, not input rows."""
    orders = spread(load_table(spark, sf_dir, "orders"))
    return orders.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@_q(
    "q_agg_approx_distinct",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           CAST(count(*) AS BIGINT) AS n_events,
           TRUE AS within_bound
    FROM events GROUP BY event_type
    """,
)
def q_agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ distinct users per event type. At 100 TB this replaces exact
    distinct wherever tolerance allows: constant memory per group, single
    shuffle of sketches, mergeable across partitions.

    The approximation is EVALUATED on the result surface (the q_ann_recall
    pattern): the query computes both the sketch estimate and the exact
    distinct in one pass and emits ``within_bound`` =
    |approx − exact| / exact ≤ 5·rsd (rsd = 0.02, so a 5σ gate — HLL++'s
    relative standard deviation makes a 10% excursion astronomically
    unlikely). The oracle pins exact_users, n_events, and
    ``within_bound = TRUE``, so a broken sketch hash-mismatches while the
    estimate's run-to-run jitter stays off the hashed surface."""
    ev = spread(load_table(spark, sf_dir, "events"))
    rsd = 0.02
    return (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=rsd).alias("approx_users"),
            F.countDistinct("user_id").cast("bigint").alias("exact_users"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
        )
        .select(
            "event_type",
            "exact_users",
            "n_events",
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                / F.col("exact_users")
                <= F.lit(5 * rsd)
            ).alias("within_bound"),
        )
    )


@_q(
    "q_rollup",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum("l_quantity", "sum_qty")},
           count(*) AS n_rows
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP: (flag, status), (flag), () aggregation levels in one pass
    (Spark Expand + single shuffle, not three scans)."""
    l = spread(load_table(spark, sf_dir, "lineitem"))
    return l.rollup("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity", "sum_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@_q(
    "q_cube",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum("l_extendedprice", "sum_price")},
           count(*) AS n_rows
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all four grouping-set combinations in one Expand pass."""
    l = spread(load_table(spark, sf_dir, "lineitem"))
    return l.cube("l_returnflag", "l_linestatus").agg(
        dsum("l_extendedprice", "sum_price"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@_q(
    "q_grouping_sets",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum("l_quantity", "sum_qty")}
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
    """,
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via SQL (the DataFrame API has no direct
    grouping-sets call; SQL and DataFrame compile to the same plan)."""
    spread(load_table(spark, sf_dir, "lineitem")).createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        """
    )


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------

@_q(
    "q_window_rank",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           rank()       OVER w AS rnk,
           dense_rank() OVER w AS drnk,
           row_number() OVER w AS rn
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus
                 ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank/dense_rank/row_number per partition, with a COST-BASED
    plan split (round 10). The naive window partitions by
    ``o_orderstatus``, a THREE-value key: WindowExec then runs exactly
    3 tasks however large the table is — fine at fixture scale (the
    whole table sorts in well under a second), a scale-killer on a big
    one (the 100x leg measured 11.6 s with ~5M rows per task — the one
    skewed-window plan left in the headline families). Above a row
    threshold (parquet footer metadata, no job) the query switches to
    ``two_phase_window``, whose range partitioning fans the sort
    across the session width regardless of partition-key cardinality
    (100x leg: 5.7 s, 3.9x ratio vs 14.7x naive). Both forms are
    bitwise-identical (integer ranks; equal order keys colocate under
    range partitioning so tie groups never straddle a boundary —
    pinned by tests/test_scale_windows.py::test_dense_rank_matches_naive
    and the q_window_rank oracle row at both SFs)."""
    from keycloak_event_stream_spark.operators._scale import (
        two_phase_window,
        use_two_phase,
    )

    orders = spread(load_table(spark, sf_dir, "orders"))
    if not use_two_phase(sf_dir, "orders"):
        w = W.partitionBy("o_orderstatus").orderBy(
            F.col("o_totalprice").desc(), F.col("o_orderkey")
        )
        return orders.select(
            "o_orderkey",
            "o_orderstatus",
            "o_totalprice",
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.row_number().over(w).alias("rn"),
        )
    ranked = two_phase_window(
        orders,
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        partition_by=["o_orderstatus"],
        row_number="rn",
        rank="rnk",
        dense_rank="drnk",
        dense_keys=["o_totalprice", "o_orderkey"],
    )
    return ranked.select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "rnk", "drnk", "rn"
    )


@_q(
    "q_window_analytic",
    oracle="""
    SELECT event_id, user_id, ts, value,
           lag(value)  OVER w AS prev_value,
           lead(value) OVER w AS next_value,
           first_value(event_type) OVER w AS first_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_window_analytic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead/first_value per user over event time (total order via
    event_id tiebreak)."""
    ev = spread(load_table(spark, sf_dir, "events"))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        F.first("event_type").over(w).alias("first_type"),
    )


@_q(
    "q_window_frame",
    oracle="""
    SELECT event_id, user_id, ts,
           CAST(sum(CAST(value AS DECIMAL(27,6)))
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS running_value,
           count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS n_last3
    FROM events
    """,
)
def q_window_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit ROWS frames: running sum (unbounded preceding) and a
    3-row trailing count. Decimal accumulator keeps the running sum
    order-exact (same discipline as _exact)."""
    ev = spread(load_table(spark, sf_dir, "events"))
    order = [F.col("ts"), F.col("event_id")]
    w_run = (
        W.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w3 = W.partitionBy("user_id").orderBy(*order).rowsBetween(-2, W.currentRow)
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.sum(F.col("value").cast("decimal(27,6)"))
        .over(w_run)
        .cast("double")
        .alias("running_value"),
        F.count(F.lit(1)).over(w3).alias("n_last3"),
    )


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------

@_q(
    "q_union",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
    UNION
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def q_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct): nation keys with BUILDING customers or any
    supplier. unionByName + dropDuplicates = SQL UNION."""
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_nationkey").alias("nationkey"))
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.unionByName(s).dropDuplicates()


@_q(
    "q_union_all",
    oracle="""
    SELECT event_id, event_type FROM events WHERE event_type = 'error'
    UNION ALL
    SELECT event_id, event_type FROM events WHERE event_type = 'signup'
    """,
)
def q_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL: bag union, no dedup shuffle."""
    ev = spread(load_table(spark, sf_dir, "events"))
    a = ev.filter(F.col("event_type") == "error").select("event_id", "event_type")
    b = ev.filter(F.col("event_type") == "signup").select("event_id", "event_type")
    return a.unionByName(b)


@_q(
    "q_intersect",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def q_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct): nations with both customers and suppliers."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.intersect(s)


@_q(
    "q_except",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def q_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct): nations with customers but no suppliers."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.subtract(s)


def _asof_pandas_group(pdf):
    """Per-user as-of match via pd.merge_asof (sorted backward search)."""
    import pandas as pd

    probes = (
        pdf[pdf["is_probe"] == 1][["event_id", "user_id", "ts"]]
        .rename(columns={"event_id": "purchase_id", "ts": "purchase_ts"})
        .sort_values("purchase_ts")
    )
    refs = (
        pdf[pdf["is_probe"] == 0][["event_id", "ts"]]
        .rename(columns={"event_id": "last_click_id", "ts": "last_click_ts"})
        .sort_values(["last_click_ts", "last_click_id"])
    )
    if probes.empty:
        return probes.assign(last_click_id=pd.Series(dtype="float64"),
                             last_click_ts=pd.Series(dtype="datetime64[us]"))
    merged = pd.merge_asof(
        probes,
        refs,
        left_on="purchase_ts",
        right_on="last_click_ts",
        direction="backward",  # latest ref at-or-before the probe
    )
    return merged[["purchase_id", "user_id", "purchase_ts",
                   "last_click_id", "last_click_ts"]]


@_q("q_join_asof_pandas", oracle=_ASOF_ORACLE)
def q_join_asof_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join, custom-operator formulation: one shuffle on user_id,
    then ``pd.merge_asof`` per group via applyInPandas — the pattern for
    as-of semantics Spark expressions can't reach (e.g. nearest-within-
    tolerance, non-key side conditions). Same oracle as the window-idiom
    q_join_asof, so the two implementations cross-validate.

    Tie detail: refs sort by (ts, id) so merge_asof's backward search
    lands on the max event_id among equal-ts clicks — matching the
    window idiom and DuckDB ASOF."""
    from pyspark.sql import types as T

    ev = spread(load_table(spark, sf_dir, "events"))
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.lit(1).alias("is_probe")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", F.lit(0).alias("is_probe")
    )
    both = p.unionByName(c)
    schema = T.StructType(
        [
            T.StructField("purchase_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("purchase_ts", T.TimestampType()),
            T.StructField("last_click_id", T.DoubleType()),
            T.StructField("last_click_ts", T.TimestampType()),
        ]
    )
    out = both.groupBy("user_id").applyInPandas(_asof_pandas_group, schema)
    return out.withColumn("last_click_id", F.col("last_click_id").cast("long"))


# _asof_pandas_group above is a module-level applyInPandas function —
# cloudpickle would ship it by reference and require this package on
# every executor's sys.path (the round-7 /tmp driver-sim failure
# class). Register the module for by-value pickling; see _shipping.
from keycloak_event_stream_spark._shipping import ship_module_by_value

ship_module_by_value(__name__)
