"""BI composites: cohort lifetime value, interpolated percentiles,
item-item collaborative filtering, URL decomposition.

North-star analytics the reference cannot express (it has no joins or
aggregations at all, SURVEY.md §2.2). Each is a standard
business-intelligence / recommender shape re-expressed as one or two
shuffles over the star schema.

Determinism playbook:
- Money is summed in exact integer cents (DECIMAL path), never doubles.
- The interpolated percentile is computed from the two exact order
  statistics with integer-tenths weighting — no float `(n-1)*p`
  arithmetic anywhere, so lo/hi/frac are bitwise identical across
  engines.
- Cosine similarity is a single scalar expression over exact integer
  counts (`c_ij / sqrt(c_i*c_j)`) — IEEE sqrt/divide are correctly
  rounded, so even the double column cross-matches bitwise.
- Top-k requires a total order: (count desc, part_i, part_j).

Scale: LTV reduces orders→(cohort×age) (tiny); the CF pair fan-out is
local to the orderkey shuffle and bounded by basket size squared;
percentiles use one window over per-group sorted runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from keycloak_event_stream_spark.catalog import load_table, pin, spread
from keycloak_event_stream_spark.operators._scale import (
    exact_ntile,
    two_phase_window,
)
from keycloak_event_stream_spark.registry import register as _q

_CENTS = "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"


@_q(
    "q_cohort_ltv",
    oracle=f"""
    WITH firsts AS (
      SELECT o_custkey,
             CAST(date_trunc('month', min(o_orderdate)) AS DATE) AS cohort_month
      FROM orders GROUP BY o_custkey
    ), facts AS (
      SELECT f.cohort_month,
             (year(o.o_orderdate) - year(f.cohort_month)) * 12
               + (month(o.o_orderdate) - month(f.cohort_month)) AS age_months,
             {_CENTS} AS cents
      FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
    ), agg AS (
      SELECT cohort_month, age_months,
             CAST(sum(cents) AS BIGINT) AS revenue_cents
      FROM facts GROUP BY cohort_month, age_months
    )
    SELECT cohort_month, age_months, revenue_cents,
           CAST(sum(revenue_cents) OVER (PARTITION BY cohort_month
                ORDER BY age_months) AS BIGINT) AS cum_ltv_cents
    FROM agg
    """,
)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime value: customers grouped by first-order month,
    revenue accumulated by cohort age in months. The cumulative window
    runs over the tiny (cohort × age) aggregate, never raw orders —
    the aggregate-before-window ordering that survives 100 TB."""
    o = load_table(spark, sf_dir, "orders")
    firsts = o.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).cast("date").alias("cohort_month")
    )
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
    facts = o.join(firsts, "o_custkey").select(
        "cohort_month",
        (
            (F.year("o_orderdate") - F.year("cohort_month")) * 12
            + (F.month("o_orderdate") - F.month("cohort_month"))
        ).alias("age_months"),
        cents.alias("cents"),
    )
    agg = facts.groupBy("cohort_month", "age_months").agg(
        F.sum("cents").alias("revenue_cents")
    )
    w = Window.partitionBy("cohort_month").orderBy("age_months")
    return agg.select(
        "cohort_month",
        "age_months",
        "revenue_cents",
        F.sum("revenue_cents").over(w).alias("cum_ltv_cents"),
    )


@_q(
    "q_percentile_interp",
    oracle=f"""
    WITH ranked AS (
      SELECT o_orderstatus, {_CENTS} AS cents,
             row_number() OVER (PARTITION BY o_orderstatus
                                ORDER BY {_CENTS}, o_orderkey) - 1 AS idx,
             count(*) OVER (PARTITION BY o_orderstatus) AS n
      FROM orders
    )
    SELECT o_orderstatus,
           CAST(sum(CASE
             WHEN idx = (n - 1) * 5 // 10
               THEN cents * (10 - (n - 1) * 5 % 10)
             WHEN idx = (n - 1) * 5 // 10 + 1
               THEN cents * ((n - 1) * 5 % 10)
             ELSE 0 END) AS BIGINT) AS p50_cents_x10,
           CAST(sum(CASE
             WHEN idx = (n - 1) * 9 // 10
               THEN cents * (10 - (n - 1) * 9 % 10)
             WHEN idx = (n - 1) * 9 // 10 + 1
               THEN cents * ((n - 1) * 9 % 10)
             ELSE 0 END) AS BIGINT) AS p90_cents_x10
    FROM ranked GROUP BY o_orderstatus
    """,
)
def q_percentile_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCENTILE_CONT-style linear interpolation done exactly: the
    target position (n-1)·p is kept as integer tenths (p ∈ {0.5,
    0.9}), the two bracketing order statistics are weighted by the
    integer remainder, and the result is reported in exact tenths of a
    cent (no division at all) — exact and engine-portable,
    which the engines' own percentile_cont (float position
    arithmetic) is not.

    Scale shape (round 11): the bracketing values come from
    grouped_value_counts (histogram + two-phase running count; the
    per-row rank window partitioned by the 3 order statuses ran one
    task per status — 22.1x at the 100x leg, now linear). A value v's
    rows occupy 0-based positions [cum−cnt, cum−1], so "the row at
    idx k" becomes "the bucket with cum−cnt ≤ k < cum"; both
    bracketing positions can land in ONE tie bucket, so the two
    weights ADD per bucket instead of the per-row when/when chain."""
    from keycloak_event_stream_spark.operators._scale import (
        grouped_value_counts,
    )

    o = load_table(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
    h = grouped_value_counts(
        o.select("o_orderstatus", cents.alias("cents")),
        ["o_orderstatus"],
        "cents",
    )

    def interp(tenths: int, alias: str):
        pos = (F.col("n") - 1) * tenths
        lo, rem = F.floor(pos / 10), pos % 10

        def holds(k):
            return (F.col("cum") - F.col("cnt") <= k) & (k < F.col("cum"))

        num = F.sum(
            F.when(holds(lo), F.col("cents") * (10 - rem)).otherwise(0)
            + F.when(holds(lo + 1), F.col("cents") * rem).otherwise(0)
        )
        return num.cast("bigint").alias(alias)

    return h.groupBy("o_orderstatus").agg(
        interp(5, "p50_cents_x10"), interp(9, "p90_cents_x10")
    )


@_q(
    "q_item_item_cf",
    oracle="""
    WITH baskets AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), item AS (
      SELECT l_partkey, CAST(count(*) AS BIGINT) AS c FROM baskets
      GROUP BY l_partkey
    ), pairs AS (
      SELECT a.l_partkey AS part_i, b.l_partkey AS part_j,
             CAST(count(*) AS BIGINT) AS c_ij
      FROM baskets a JOIN baskets b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
    )
    SELECT part_i, part_j, c_ij, ci.c AS c_i, cj.c AS c_j,
           c_ij / sqrt(CAST(ci.c * cj.c AS DOUBLE)) AS cosine
    FROM pairs JOIN item ci ON part_i = ci.l_partkey
               JOIN item cj ON part_j = cj.l_partkey
    ORDER BY c_ij DESC, part_i, part_j LIMIT 50
    """,
)
def q_item_item_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering over order baskets: pair
    co-occurrence counts normalized to cosine similarity
    c_ij/√(c_i·c_j). All counts are exact integers; the cosine is one
    IEEE expression over them, so even the double column is bitwise.
    The pair fan-out happens inside the orderkey shuffle (bounded by
    basket size²); per-item counts broadcast back onto the pair
    table. Top-k by (count, keys) compiles to TakeOrderedAndProject."""
    li = load_table(spark, sf_dir, "lineitem")
    baskets = li.select("l_orderkey", "l_partkey").distinct()
    item = baskets.groupBy("l_partkey").agg(F.count("*").alias("c"))
    a = baskets.alias("a")
    b = baskets.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_i"),
            F.col("b.l_partkey").alias("part_j"),
        )
        .agg(F.count("*").alias("c_ij"))
    )
    ci = item.select(F.col("l_partkey").alias("part_i"), F.col("c").alias("c_i"))
    cj = item.select(F.col("l_partkey").alias("part_j"), F.col("c").alias("c_j"))
    return (
        pairs.join(F.broadcast(ci), "part_i")
        .join(F.broadcast(cj), "part_j")
        .select(
            "part_i",
            "part_j",
            "c_ij",
            "c_i",
            "c_j",
            (
                F.col("c_ij") / F.sqrt((F.col("c_i") * F.col("c_j")).cast("double"))
            ).alias("cosine"),
        )
        .orderBy(F.desc("c_ij"), "part_i", "part_j")
        .limit(50)
    )


@_q(
    "q_url_funcs",
    oracle="""
    SELECT p_partkey,
           'shop.example.com' AS host,
           '/' || lower(replace(p_brand, '#', '-')) || '/'
               || CAST(p_partkey AS VARCHAR) AS path,
           CAST(p_size AS VARCHAR) AS size_param
    FROM part
    """,
)
def q_url_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL decomposition via parse_url (HOST / PATH / QUERY-param) on
    deterministically synthesized product URLs. DuckDB has no
    parse_url, so the oracle states the spec directly from the same
    inputs — a specification oracle, still value-checked bitwise."""
    p = load_table(spark, sf_dir, "part")
    url = F.concat(
        F.lit("https://shop.example.com/"),
        F.lower(F.replace(F.col("p_brand"), F.lit("#"), F.lit("-"))),
        F.lit("/"),
        F.col("p_partkey").cast("string"),
        F.lit("?size="),
        F.col("p_size").cast("string"),
    )
    return p.select(
        "p_partkey",
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY"), F.lit("size")).alias("size_param"),
    )


@_q(
    "q_lorenz_deciles",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey,
             CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                           AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ), tiled AS (
      SELECT cents,
             CAST(ntile(10) OVER (ORDER BY cents, o_custkey) AS INTEGER)
               AS decile
      FROM per_cust
    ), agg AS (
      SELECT decile,
             CAST(count(*) AS BIGINT) AS n_customers,
             CAST(sum(cents) AS BIGINT) AS revenue_cents
      FROM tiled GROUP BY decile
    )
    SELECT decile, n_customers, revenue_cents,
           CAST(sum(revenue_cents) OVER (ORDER BY decile
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE)
             / sum(revenue_cents) OVER () AS cum_share
    FROM agg ORDER BY decile
    """,
)
def q_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve by customer-revenue decile: the 10 cumulative-share
    points behind the q_gini coefficient — "the bottom 50% of customers
    hold X% of revenue".

    The decile assignment is an exact ntile reconstructed from a
    two-phase range-partitioned row_number over the *per-customer
    rollup* with a (cents, custkey) total order (deterministic tiling,
    the q_rfm discipline) — a parallel k-partition sort, no
    single-task window at any customer count. Cents stay exact
    integers until the one cumulative-share division over the 10-row
    aggregate (whose global window input is statically bounded at 10
    rows, so it is scale-safe as-is).
    """
    orders = load_table(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
    per = orders.groupBy("o_custkey").agg(F.sum(cents).alias("cents"))
    tiled = two_phase_window(
        per,
        [F.col("cents"), F.col("o_custkey")],
        row_number="_rn",
        # round 12: total folds out of the same k-row per-partition
        # aggregate as the offsets (no with_totals re-pass; exact)
        totals={"_n": None},
    ).select(
        "cents",
        exact_ntile(F.col("_rn"), F.col("_n"), 10).alias("decile"),
    )
    agg = tiled.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("cents").cast("bigint").alias("revenue_cents"),
    )
    wcum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    share = F.sum("revenue_cents").over(wcum).cast("double") / F.sum(
        "revenue_cents"
    ).over(Window.partitionBy())
    return agg.select(
        "decile", "n_customers", "revenue_cents", share.alias("cum_share")
    ).orderBy("decile")


@_q(
    "q_lead_time",
    oracle="""
    WITH lt AS (
      SELECT o.o_orderpriority,
             CAST(CAST(l.l_shipdate AS DATE)
                  - CAST(o.o_orderdate AS DATE) AS BIGINT) AS transit_d,
             l.l_orderkey, l.l_linenumber
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    ranked AS (
      SELECT o_orderpriority, transit_d,
             row_number() OVER (PARTITION BY o_orderpriority
               ORDER BY transit_d, l_orderkey, l_linenumber) AS rn,
             count(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM lt
    )
    SELECT o_orderpriority,
           CAST(max(n) AS BIGINT) AS n_lines,
           CAST(min(transit_d) AS BIGINT) AS min_d,
           CAST(min(CASE WHEN rn * 2 >= n + 1 THEN transit_d END)
                AS BIGINT) AS median_d,
           CAST(min(CASE WHEN rn * 20 >= n * 19 + 20
                         THEN transit_d END) AS BIGINT) AS p95_d,
           CAST(max(transit_d) AS BIGINT) AS max_d
    FROM ranked
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q_lead_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order→ship lead-time distribution per order priority (min /
    median / p95 / max days) — the operations-latency report shape
    (same math as a service-latency SLO table), with exact
    nearest-rank-above percentiles: rn·20 ≥ 19n+20 picks the p95 as
    a real data value via integer cross-multiplication, no
    interpolation, no float thresholds. The obvious question it
    answers: do URGENT orders actually ship faster?

    Day differences are exact integers (DATE subtraction). Scale shape
    (round 11): the per-row rank window partitioned by the 5
    priorities ran ONE WindowExec task per priority at any volume —
    60.4x at the 100x leg, the worst ratio the probe found. The rank
    statistics only depend on the VALUE HISTOGRAM, so the selection
    now runs on grouped_value_counts (map-side-combined histogram +
    two-phase running count; the rank predicates substitute the
    inclusive running count for row_number — provably the same value,
    see the helper's docstring). 100x leg 105.6 -> ~2.9 s (1.9x). At
    extreme scale the drop-in is per-group t-digest
    (q_sketch_quantiles) with this exact form as its audit."""
    from keycloak_event_stream_spark.operators._scale import (
        grouped_value_counts,
    )

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    lt = li.join(
        orders.select("o_orderkey", "o_orderpriority", "o_orderdate"),
        li.l_orderkey == F.col("o_orderkey"),
    ).select(
        "o_orderpriority",
        F.datediff(
            F.col("l_shipdate").cast("date"),
            F.col("o_orderdate").cast("date"),
        )
        .cast("bigint")
        .alias("transit_d"),
    )
    h = grouped_value_counts(lt, ["o_orderpriority"], "transit_d")
    return (
        h.groupBy("o_orderpriority")
        .agg(
            F.max("n").cast("bigint").alias("n_lines"),
            F.min("transit_d").cast("bigint").alias("min_d"),
            F.min(
                F.when(F.col("cum") * 2 >= F.col("n") + 1, F.col("transit_d"))
            )
            .cast("bigint")
            .alias("median_d"),
            F.min(
                F.when(
                    F.col("cum") * 20 >= F.col("n") * 19 + 20,
                    F.col("transit_d"),
                )
            )
            .cast("bigint")
            .alias("p95_d"),
            F.max("transit_d").cast("bigint").alias("max_d"),
        )
        .orderBy("o_orderpriority")
    )


@_q(
    "q_abc_xyz",
    oracle="""
    WITH li AS (
      SELECT l_partkey,
             CAST(o.o_orderdate AS DATE) AS day,
             CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100
                  AS BIGINT) AS cents,
             CAST(CAST(l.l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS qty_c
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    per_part AS (
      SELECT l_partkey,
             CAST(sum(cents) AS BIGINT) AS rev,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(qty_c) AS BIGINT) AS sq,
             CAST(sum(CAST(qty_c * qty_c AS DECIMAL(38,0))) AS DOUBLE)
               AS sq2
      FROM li GROUP BY l_partkey
    ),
    ranked AS (
      SELECT l_partkey, rev, n, sq, sq2,
             CAST(sum(rev) OVER (ORDER BY rev DESC, l_partkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_rev,
             CAST(sum(rev) OVER () AS BIGINT) AS tot_rev
      FROM per_part
    ),
    classed AS (
      SELECT l_partkey,
             CASE WHEN cum_rev * 10 <= tot_rev * 8 THEN 'A'
                  WHEN cum_rev * 100 <= tot_rev * 95 THEN 'B'
                  ELSE 'C' END AS abc,
             CASE WHEN n < 2 THEN 'Z'
                  WHEN (sq2 - CAST(sq AS DOUBLE) * sq / n) * n * 100
                       <= CAST(sq AS DOUBLE) * sq * 25 THEN 'X'
                  WHEN (sq2 - CAST(sq AS DOUBLE) * sq / n) * n * 100
                       <= CAST(sq AS DOUBLE) * sq * 100 THEN 'Y'
                  ELSE 'Z' END AS xyz
      FROM ranked
    )
    SELECT abc, xyz, CAST(count(*) AS BIGINT) AS n_parts
    FROM classed GROUP BY abc, xyz ORDER BY abc, xyz
    """,
)
def q_abc_xyz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC–XYZ classification of parts: revenue importance (A = first
    80% of cumulative revenue, B = to 95%, C = tail) crossed with
    demand variability (X: CV ≤ 0.5, Y: CV ≤ 1, Z: above or <2
    observations) — the 9-cell planning matrix behind every
    inventory/procurement policy (A-X items get tight auto-replenish,
    C-Z get make-to-order).

    The ABC split is the two-phase-eligible cumulative-share rank
    over the per-part rollup (the q_pareto_abc discipline) with
    integer cross-product class cuts; the CV classes compare
    variance·n·100 against (Σq)²·k² in pure integer-derived doubles —
    no square root, no division, so the class boundaries are exact.
    One shuffle to per-part cells, then a |parts|-row window."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    base = li.join(
        orders.select("o_orderkey"), li.l_orderkey == F.col("o_orderkey")
    ).select(
        "l_partkey",
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
        (F.col("l_quantity").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("qty_c"),
    )
    per_part = base.groupBy("l_partkey").agg(
        F.sum("cents").cast("bigint").alias("rev"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("qty_c").cast("bigint").alias("sq"),
        F.sum((F.col("qty_c") * F.col("qty_c")).cast("decimal(38,0)"))
        .cast("double")
        .alias("sq2"),
    )
    ranked = two_phase_window(
        per_part,
        [F.col("rev").desc(), F.col("l_partkey")],
        cumsum={"cum_rev": "rev"},
        # round 12: total folds out of the same k-row per-partition
        # aggregate as the offsets (no with_totals re-pass; exact)
        totals={"tot_rev": "rev"},
    ).withColumn("cum_rev", F.col("cum_rev").cast("bigint"))
    var_n = (
        F.col("sq2") - F.col("sq").cast("double") * F.col("sq") / F.col("n")
    ) * F.col("n") * 100
    sq2_scaled = F.col("sq").cast("double") * F.col("sq")
    classed = ranked.select(
        "l_partkey",
        F.when(F.col("cum_rev") * 10 <= F.col("tot_rev") * 8, "A")
        .when(F.col("cum_rev") * 100 <= F.col("tot_rev") * 95, "B")
        .otherwise("C")
        .alias("abc"),
        F.when(F.col("n") < 2, "Z")
        .when(var_n <= sq2_scaled * 25, "X")
        .when(var_n <= sq2_scaled * 100, "Y")
        .otherwise("Z")
        .alias("xyz"),
    )
    return (
        classed.groupBy("abc", "xyz")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_parts"))
        .orderBy("abc", "xyz")
    )


@_q(
    "q_hhi_concentration",
    oracle="""
    WITH rev AS (
      SELECT n.n_regionkey AS region, s.s_suppkey,
             CAST(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
                           * 100 AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      GROUP BY 1, 2
    ),
    tot AS (
      SELECT region, CAST(sum(cents) AS BIGINT) AS t
      FROM rev GROUP BY region
    )
    SELECT r.region,
           CAST(count(*) AS BIGINT) AS n_suppliers,
           CAST(sum(CAST(round(
             (CAST(r.cents AS DOUBLE) / t.t)
             * (CAST(r.cents AS DOUBLE) / t.t) * 10000, 6)
             AS DECIMAL(27,6))) AS DOUBLE) AS hhi
    FROM rev r JOIN tot t ON t.region = r.region
    GROUP BY r.region
    ORDER BY r.region
    """,
)
def q_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman supplier-concentration index per region
    (Σ(100·share)², the antitrust scale: <1500 competitive, >2500
    concentrated) — the supply-risk readout next to q_pareto_abc's
    customer view: a region whose HHI spikes is one supplier outage
    away from a stockout.

    Revenue reduces to exact integer cents per (region, supplier);
    shares are single divisions of BIGINTs; each squared-share term
    rounds at 6 dp into an order-independent DECIMAL sum. Two keyed
    aggregates, the region total joined back on the 5-row region
    key."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    rev = (
        li.join(
            F.broadcast(sup.select("s_suppkey", "s_nationkey")),
            li.l_suppkey == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(nat.select("n_nationkey", "n_regionkey")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(
            F.col("n_regionkey").alias("region"), "s_suppkey"
        )
        .agg(
            F.sum(
                (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast(
                    "bigint"
                )
            )
            .cast("bigint")
            .alias("cents")
        )
    )
    tot = rev.groupBy("region").agg(
        F.sum("cents").cast("bigint").alias("t")
    )
    share = F.col("cents").cast("double") / F.col("t")
    term = F.round(share * share * 10000, 6).cast("decimal(27,6)")
    return (
        rev.join(F.broadcast(tot), "region")
        .groupBy("region")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
            F.sum(term).cast("double").alias("hhi"),
        )
        .orderBy("region")
    )


@_q(
    "q_basket_economics",
    oracle="""
    WITH per_order AS (
      SELECT l_orderkey,
             CAST(count(*) AS BIGINT) AS n_lines,
             CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                           AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem GROUP BY l_orderkey
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(CAST(sum(n_lines) AS DECIMAL(38,0)) AS DOUBLE) AS sx,
             CAST(CAST(sum(cents) AS DECIMAL(38,0)) AS DOUBLE) AS sy,
             CAST(sum(CAST(n_lines * n_lines AS DECIMAL(38,0)))
                  AS DOUBLE) AS sxx,
             CAST(sum(CAST(cents * cents AS DECIMAL(38,0))) AS DOUBLE)
               AS syy,
             CAST(sum(CAST(n_lines * cents AS DECIMAL(38,0)))
                  AS DOUBLE) AS sxy
      FROM per_order
    )
    SELECT n AS n_orders,
           sx / n AS mean_lines,
           sy / n / 100.0 AS mean_value,
           (n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
             AS corr_lines_value,
           (n * sxy - sx * sy) / (n * sxx - sx * sx) / 100.0
             AS value_per_extra_line
    FROM m
    """,
)
def q_basket_economics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Basket economics: how order value scales with basket size —
    the correlation AND the OLS slope (currency units per extra
    line), i.e. the incremental value a cross-sell that adds one
    line actually captures. The per-order rollup is the natural
    grain q_market_basket's pair counts feed into.

    Exact integer moments over the per-order cells (counts and
    cents; every decimal→double cast integer-valued, the
    q_agg_corr discipline); r and the slope are closed-form. One
    shuffle on orderkey, then a 1-row reduction."""
    li = load_table(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum(
            (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast(
                "bigint"
            )
        )
        .cast("bigint")
        .alias("cents"),
    )

    def im(a, b):
        return (
            F.sum((F.col(a) * F.col(b)).cast("decimal(38,0)"))
            .cast("double")
        )

    m = per_order.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("n_lines").cast("decimal(38,0)").cast("double").alias("sx"),
        F.sum("cents").cast("decimal(38,0)").cast("double").alias("sy"),
        im("n_lines", "n_lines").alias("sxx"),
        im("cents", "cents").alias("syy"),
        im("n_lines", "cents").alias("sxy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return m.select(
        n.alias("n_orders"),
        (sx / n).alias("mean_lines"),
        (sy / n / F.lit(100.0)).alias("mean_value"),
        F.try_divide(
            n * sxy - sx * sy,
            F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy),
        ).alias("corr_lines_value"),
        (
            F.try_divide(n * sxy - sx * sy, n * sxx - sx * sx)
            / F.lit(100.0)
        ).alias("value_per_extra_line"),
    )


@_q(
    "q_supplier_balance_abc",
    oracle="""
    WITH base AS (
      SELECT r.r_name, s.s_suppkey,
             CAST(CAST(s.s_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents
      FROM supplier s
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
    ),
    ranked AS (
      SELECT r_name, s_suppkey, cents,
             row_number() OVER (PARTITION BY r_name
                                ORDER BY cents DESC, s_suppkey) AS rn,
             count(*) OVER (PARTITION BY r_name) AS n
      FROM base
    ),
    classed AS (
      SELECT r_name, cents,
             CASE WHEN rn * 5 <= n THEN 'A'
                  WHEN rn * 2 <= n THEN 'B'
                  ELSE 'C' END AS abc,
             n
      FROM ranked
    )
    SELECT r_name, abc,
           CAST(count(*) AS BIGINT) AS n_suppliers,
           CAST(sum(cents) AS BIGINT) AS balance_cents,
           CAST(count(*) AS DOUBLE) / max(n) AS share_of_region
    FROM classed
    GROUP BY r_name, abc
    ORDER BY r_name, abc
    """,
)
def q_supplier_balance_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier account-balance ABC segmentation within each region:
    top 20% of suppliers by balance = A, next 30% = B, rest = C — the
    procurement-risk view (who holds the money per region), with class
    balance totals in exact cents.

    The rank runs through ``two_phase_window`` partitioned by the
    5-value region key (the skewed-group discipline: a naive per-region
    window sorts |suppliers|/5 rows in one task each); class cuts are
    integer cross-products (rn·5 ≤ n), never float percents. Dims
    broadcast into the fact scan."""
    s = spread(load_table(spark, sf_dir, "supplier"))
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    cents = (F.col("s_acctbal").cast("decimal(18,2)") * 100).cast("bigint")
    base = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("r_name", "s_suppkey", cents.alias("cents"))
    )
    ranked = two_phase_window(
        base,
        [F.col("cents").desc(), F.col("s_suppkey")],
        partition_by=["r_name"],
        row_number="rn",
    )
    nper = base.groupBy("r_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    classed = ranked.join(F.broadcast(nper), "r_name").select(
        "r_name",
        "cents",
        "n",
        F.when(F.col("rn") * 5 <= F.col("n"), "A")
        .when(F.col("rn") * 2 <= F.col("n"), "B")
        .otherwise("C")
        .alias("abc"),
    )
    return (
        classed.groupBy("r_name", "abc")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
            F.sum("cents").cast("bigint").alias("balance_cents"),
            (F.count(F.lit(1)).cast("double") / F.max("n")).alias(
                "share_of_region"
            ),
        )
        .orderBy("r_name", "abc")
    )


@_q(
    "q_returns_wilson",
    oracle="""
    WITH base AS (
      SELECT n.n_name AS nation,
             CAST(count(*) AS BIGINT) AS n_items,
             CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_returned
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      GROUP BY 1
    )
    SELECT nation, n_items, n_returned,
           CAST(n_returned AS DOUBLE) / n_items AS return_rate,
           (CAST(n_returned AS DOUBLE) / n_items + 1.9208 / n_items
            - 1.96 * sqrt((CAST(n_returned AS DOUBLE) / n_items)
                * (1.0 - CAST(n_returned AS DOUBLE) / n_items) / n_items
                + 0.9604 / (CAST(n_items AS DOUBLE) * n_items)))
             / (1.0 + 3.8416 / n_items) AS wilson_lo,
           (CAST(n_returned AS DOUBLE) / n_items + 1.9208 / n_items
            + 1.96 * sqrt((CAST(n_returned AS DOUBLE) / n_items)
                * (1.0 - CAST(n_returned AS DOUBLE) / n_items) / n_items
                + 0.9604 / (CAST(n_items AS DOUBLE) * n_items)))
             / (1.0 + 3.8416 / n_items) AS wilson_hi
    FROM base
    ORDER BY nation
    """,
)
def q_returns_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return rate per supplier nation with a 95% Wilson score interval
    — the supplier-quality league table done honestly: a nation with 20
    items and 3 returns overlaps one with 20,000 items and 12% returns,
    and the Wilson interval (unlike the naive ±1.96·√(p̂q̂/n) Wald
    band) stays inside [0,1] and behaves at small n.

    Counts reduce per nation behind broadcast dims; the interval is a
    closed-form expression over (n, k) written token-for-token
    identically in both engines (one sqrt each) — no simulation, no
    approximation on the hashed surface."""
    l = spread(load_table(spark, sf_dir, "lineitem"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    base = (
        l.join(F.broadcast(s.select("s_suppkey", "s_nationkey")),
               l.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(n.select("n_nationkey", "n_name")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
            .cast("bigint")
            .alias("n_returned"),
        )
    )
    p = F.col("n_returned").cast("double") / F.col("n_items")
    ni = F.col("n_items")
    half = 1.96 * F.sqrt(
        p * (F.lit(1.0) - p) / ni
        + F.lit(0.9604) / (ni.cast("double") * ni)
    )
    denom = F.lit(1.0) + F.lit(3.8416) / ni
    return base.select(
        "nation",
        "n_items",
        "n_returned",
        p.alias("return_rate"),
        ((p + F.lit(1.9208) / ni - half) / denom).alias("wilson_lo"),
        ((p + F.lit(1.9208) / ni + half) / denom).alias("wilson_hi"),
    ).orderBy("nation")


@_q(
    "q_discount_band_elasticity",
    oracle="""
    WITH banded AS (
      SELECT CAST(round(l_discount * 100) AS BIGINT) AS disc_pct,
             CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS qty_c,
             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS price_c
      FROM lineitem
    ),
    cells AS (
      SELECT disc_pct,
             CAST(count(*) AS BIGINT) AS n_items,
             CAST(sum(qty_c) AS BIGINT) AS qty_c,
             CAST(sum(price_c) AS BIGINT) AS rev_c
      FROM banded GROUP BY disc_pct
    ),
    tot AS (SELECT CAST(sum(n_items) AS BIGINT) AS n FROM cells)
    SELECT c.disc_pct, c.n_items,
           CAST(c.qty_c AS DOUBLE) / c.n_items / 100.0 AS avg_qty,
           CAST(c.rev_c AS DOUBLE) / 100.0 AS revenue,
           CAST(c.n_items AS DOUBLE) / t.n AS item_share
    FROM cells c CROSS JOIN tot t
    ORDER BY c.disc_pct
    """,
)
def q_discount_band_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity and revenue per whole-percent discount band — the
    pricing team's elasticity table (does a deeper discount actually
    move more units, or just give margin away on orders that would
    have happened anyway — TPC-H Q6's revenue-change question turned
    into the full band curve).

    Discounts quantize to integer percent (round of a 2-dp stored
    value — exact, no tie risk); quantities/revenue sum in integer
    cents; one keyed aggregate to ≤ 11 bands, shares off a 1-row
    broadcast."""
    l = spread(load_table(spark, sf_dir, "lineitem"))
    banded = l.select(
        F.round(F.col("l_discount") * 100, 0).cast("bigint").alias("disc_pct"),
        (F.col("l_quantity").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("qty_c"),
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("price_c"),
    )
    cells = banded.groupBy("disc_pct").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum("qty_c").cast("bigint").alias("qty_c"),
        F.sum("price_c").cast("bigint").alias("rev_c"),
    )
    tot = cells.agg(F.sum("n_items").cast("bigint").alias("n"))
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "disc_pct",
            "n_items",
            (F.col("qty_c").cast("double") / F.col("n_items") / 100.0).alias(
                "avg_qty"
            ),
            (F.col("rev_c").cast("double") / 100.0).alias("revenue"),
            (F.col("n_items").cast("double") / F.col("n")).alias("item_share"),
        )
        .orderBy("disc_pct")
    )


@_q(
    "q_catalog_freshness",
    oracle="""
    WITH first_seen AS (
      SELECT l.l_partkey,
             min(CAST(date_trunc('month', o.o_orderdate) AS DATE)) AS fm
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      GROUP BY l.l_partkey
    ),
    monthly AS (
      SELECT CAST(date_trunc('month', o.o_orderdate) AS DATE) AS month,
             CAST(count(DISTINCT l.l_partkey) AS BIGINT) AS n_parts,
             CAST(count(DISTINCT CASE
               WHEN f.fm = CAST(date_trunc('month', o.o_orderdate) AS DATE)
               THEN l.l_partkey END) AS BIGINT) AS n_new_parts
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN first_seen f ON f.l_partkey = l.l_partkey
      GROUP BY 1
    )
    SELECT month, n_parts, n_new_parts,
           CAST(n_new_parts AS DOUBLE) / n_parts AS novelty_rate
    FROM monthly
    ORDER BY month
    """,
)
def q_catalog_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog novelty per month: of the parts ordered each month, how
    many were ordered for the FIRST time — the assortment-freshness
    curve (a decaying novelty rate means the catalog has been fully
    explored; merchandising reads this before launching anything).
    The item-side twin of q_new_vs_returning's user metric.

    First-seen months reduce per part in one keyed aggregate; the
    monthly rollup joins that |parts|-sized table back on the part
    key. Distinct part counts per month are exact; the rate is one
    division."""
    l = spread(load_table(spark, sf_dir, "lineitem"))
    o = load_table(spark, sf_dir, "orders")
    base = l.join(
        o.select("o_orderkey", "o_orderdate"),
        l.l_orderkey == F.col("o_orderkey"),
    ).select(
        "l_partkey",
        F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
    )
    base = pin(base)
    first_seen = base.groupBy("l_partkey").agg(F.min("month").alias("fm"))
    monthly = (
        base.join(first_seen, "l_partkey")
        .groupBy("month")
        .agg(
            F.countDistinct("l_partkey").cast("bigint").alias("n_parts"),
            F.countDistinct(
                F.when(F.col("fm") == F.col("month"), F.col("l_partkey"))
            )
            .cast("bigint")
            .alias("n_new_parts"),
        )
    )
    return monthly.select(
        "month",
        "n_parts",
        "n_new_parts",
        (F.col("n_new_parts").cast("double") / F.col("n_parts")).alias(
            "novelty_rate"
        ),
    ).orderBy("month")


# exact powers of 0.9 (p^{d-1} for d = 1..10) as decimal literals —
# injected into BOTH engines so no cross-engine pow() is ever called;
# each literal parses to the identical nearest double on both sides.
_RBO_P_POWERS = [
    "1.0",
    "0.9",
    "0.81",
    "0.729",
    "0.6561",
    "0.59049",
    "0.531441",
    "0.4782969",
    "0.43046721",
    "0.387420489",
]
_RBO_WEIGHT_CASE = "CASE d " + " ".join(
    f"WHEN {d} THEN {w}" for d, w in enumerate(_RBO_P_POWERS, start=1)
) + " END"


def _rbo_oracle() -> str:
    return f"""
    WITH h1 AS (
      SELECT o_custkey,
             CAST(sum({_CENTS}) AS BIGINT) AS cents
      FROM orders
      WHERE o_orderdate >= DATE '1995-01-01'
        AND o_orderdate < DATE '1995-07-01'
      GROUP BY o_custkey
    ), h2 AS (
      SELECT o_custkey,
             CAST(sum({_CENTS}) AS BIGINT) AS cents
      FROM orders
      WHERE o_orderdate >= DATE '1995-07-01'
        AND o_orderdate < DATE '1996-01-01'
      GROUP BY o_custkey
    ), ta AS (
      SELECT o_custkey,
             row_number() OVER (ORDER BY cents DESC, o_custkey) AS ra
      FROM h1 ORDER BY cents DESC, o_custkey LIMIT 10
    ), tb AS (
      SELECT o_custkey,
             row_number() OVER (ORDER BY cents DESC, o_custkey) AS rb
      FROM h2 ORDER BY cents DESC, o_custkey LIMIT 10
    ), merged AS (
      SELECT COALESCE(ta.o_custkey, tb.o_custkey) AS ck, ra, rb
      FROM ta FULL OUTER JOIN tb ON ta.o_custkey = tb.o_custkey
    ), depths AS (
      SELECT unnest(generate_series(1, 10)) AS d
    ), per_depth AS (
      SELECT d,
             CAST(count(*) FILTER (WHERE ra <= d AND rb <= d) AS BIGINT)
               AS overlap
      FROM depths LEFT JOIN merged ON true
      GROUP BY d
    ), terms AS (
      SELECT d, overlap,
             round(({_RBO_WEIGHT_CASE}) * overlap / d, 9) AS t,
             {_RBO_WEIGHT_CASE} AS w
      FROM per_depth
    )
    SELECT CAST(10 AS BIGINT) AS k,
           CAST((SELECT overlap FROM per_depth WHERE d = 10) AS BIGINT)
             AS overlap_at_k,
           CAST(sum(CAST(t AS DECIMAL(27,9))) AS DOUBLE)
             / CAST(sum(CAST(round(w, 9) AS DECIMAL(27,9))) AS DOUBLE)
             AS rbo
    FROM terms
    """


@_q("q_rank_biased_overlap", oracle=_rbo_oracle())
def q_rank_biased_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (p = 0.9, truncated at depth 10) between the
    top-10 customer revenue rankings of 1995-H1 vs 1995-H2 — the
    top-weighted list-similarity measure for "did the leaderboard
    actually change?" (Kendall/Spearman over full lists drown the
    head in tail noise; RBO weights depth d by p^{d-1}).

    rbo = Σ_d p^{d-1}·(|A_d ∩ B_d|/d) / Σ_d p^{d-1} — normalized so
    identical lists score 1.0. Overlap counts are integers from a
    full-outer join of the two 10-row lists against a 10-row depth
    spine; the p-powers are injected as exact decimal literals in both
    engines (no libm pow), per-depth terms rounded to 9 decimals and
    DECIMAL-summed. Everything after the two revenue aggregations is
    constant-size (≤10-row) work; the rank windows run over limit-10
    inputs (statically bounded)."""
    o = spread(load_table(spark, sf_dir, "orders"))
    cents = F.expr(_CENTS)

    def top10(lo: str, hi: str, rank_name: str) -> DataFrame:
        rev = (
            o.filter(
                (F.col("o_orderdate") >= F.lit(lo).cast("date"))
                & (F.col("o_orderdate") < F.lit(hi).cast("date"))
            )
            .groupBy("o_custkey")
            .agg(F.sum(cents).cast("bigint").alias("cents"))
            .orderBy(F.col("cents").desc(), "o_custkey")
            .limit(10)
        )
        w = Window.orderBy(F.col("cents").desc(), "o_custkey")
        return rev.select(
            "o_custkey", F.row_number().over(w).alias(rank_name)
        )

    ta = top10("1995-01-01", "1995-07-01", "ra")
    tb = top10("1995-07-01", "1996-01-01", "rb")
    merged = ta.join(tb, "o_custkey", "full_outer")
    depths = spark.range(1, 11).select(F.col("id").alias("d"))
    per_depth = (
        # LEFT join on true (not crossJoin): an empty merged set must
        # still emit one NULL-rank row per depth so each depth scores
        # overlap 0, matching the oracle's LEFT JOIN ... ON true
        # (round-4 ADVICE)
        depths.join(F.broadcast(merged), F.lit(True), "left")
        .groupBy("d")
        .agg(
            # coalesce both per-row (NULL ranks from the outer join)
            # and post-sum (a depth with zero overlap must be 0, not
            # NULL, to match the oracle's count FILTER)
            F.coalesce(
                F.sum(
                    F.coalesce(
                        (
                            (F.col("ra") <= F.col("d"))
                            & (F.col("rb") <= F.col("d"))
                        ).cast("long"),
                        F.lit(0),
                    )
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("overlap")
        )
    )
    weight = F.expr(_RBO_WEIGHT_CASE)
    terms = per_depth.select(
        "d",
        "overlap",
        F.round(weight * F.col("overlap") / F.col("d"), 9).alias("t"),
        weight.alias("w"),
    )
    overlap_k = per_depth.filter(F.col("d") == 10).select(
        F.col("overlap").alias("overlap_at_k")
    )
    return terms.crossJoin(F.broadcast(overlap_k)).agg(
        F.lit(10).cast("bigint").alias("k"),
        F.min("overlap_at_k").cast("bigint").alias("overlap_at_k"),
        (
            F.sum(F.col("t").cast("decimal(27,9)")).cast("double")
            / F.sum(F.round(F.col("w"), 9).cast("decimal(27,9)")).cast(
                "double"
            )
        ).alias("rbo"),
    )
