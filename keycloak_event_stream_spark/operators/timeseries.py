"""Time-series statistics as exact relational programs: EWMA smoothing,
lag-1 autocorrelation, CUSUM change-point detection, Mann-Kendall trend.

North-star surface (the reference computes nothing over time beyond an
``ORDER BY time`` — `AthenaEventQuery.java:148`): an event firehose at
100 TB needs drift/trend/level-shift monitors over its daily rollups.
Every operator here reduces the raw scan to a tiny daily/monthly series
first (one shuffle to ~10^3 rows), so the statistical pass is free at
any scale — the pattern that keeps these monitors viable on a
1000-executor cluster.

Determinism playbook (what makes each oracle-checkable bitwise):

- Money lives in exact integer cents (the q_agg_corr discipline) —
  DECIMAL(18,2) multiply, exact integer-valued cast to BIGINT.
- EWMA is a *sequential left fold* over a day-ordered list: Spark
  ``aggregate(transform(array_sort(collect_list(struct(...)))))`` ==
  DuckDB ``list_reduce(list_prepend(init, list(... ORDER BY day)))`` —
  identical IEEE op order, bitwise-equal smoothed value.
- CUSUM avoids the mean entirely: the deviation partial sum is the
  integer cross-product ``n * cumsum_t - t * total`` (no float at all
  until the one output division).
- Mann-Kendall's S and the tie-corrected variance numerator are pure
  integer counts; z is one closed-form double expression with identical
  shape in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from keycloak_event_stream_spark.catalog import load_table, pin
from keycloak_event_stream_spark.operators._exact import dbig, sql_dbig
from keycloak_event_stream_spark.registry import register as _q

_CENTS = "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"


def _cents_col() -> F.Column:
    return (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")


@_q(
    "q_ewma",
    oracle=f"""
    WITH daily AS (
      SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day,
             CAST(sum({_CENTS}) AS BIGINT) AS cents
      FROM orders GROUP BY 1, 2
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_days,
           list_reduce(
             list_prepend(CAST(0.0 AS DOUBLE),
               list(CAST(cents AS DOUBLE) ORDER BY day)),
             (acc, x) -> x * 0.2 + acc * 0.8) AS ewma_cents
    FROM daily GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average (alpha = 0.2) of daily
    revenue per order priority — the classic smoothed-level monitor.

    The fold runs over a *day-ordered* list, so the IEEE operation
    sequence is pinned: Spark's ``aggregate`` over
    ``array_sort(collect_list(struct(day, cents)))`` performs exactly
    the same multiply-add chain as DuckDB's ``list_reduce`` over
    ``list(... ORDER BY day)`` — bitwise-equal output with zero
    rounding slop. Scale shape: one shuffle to |priorities| x |days|
    (~12k rows at any SF), then a per-group fold over ~2.4k elements;
    the collect_list state is bounded by the calendar, not the data.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        "o_orderpriority", F.col("o_orderdate").cast("date").alias("day")
    ).agg(F.sum(_cents_col()).alias("cents"))
    return (
        daily.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.expr(
                "aggregate(transform(array_sort(collect_list(struct(day, cents))),"
                " s -> cast(s.cents as double)), cast(0.0 as double),"
                " (acc, x) -> x * 0.2 + acc * 0.8)"
            ).alias("ewma_cents"),
        )
        .orderBy("o_orderpriority")
    )


@_q(
    "q_autocorr_lag1",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(sum({_CENTS}) AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ), pairs AS (
      SELECT cents AS x,
             lead(cents) OVER (ORDER BY day) AS y
      FROM daily
    ), m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(CAST(sum(x) AS DECIMAL(38,0)) AS DOUBLE) AS sx,
             CAST(CAST(sum(y) AS DECIMAL(38,0)) AS DOUBLE) AS sy,
             CAST(sum(CAST(x * x AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(y * y AS DECIMAL(38,0))) AS DOUBLE) AS syy,
             CAST(sum(CAST(x * y AS DECIMAL(38,0))) AS DOUBLE) AS sxy
      FROM pairs WHERE y IS NOT NULL
    )
    SELECT n AS n_pairs,
           (n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
             AS autocorr_lag1
    FROM m
    """,
)
def q_autocorr_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of daily revenue: Pearson r between
    (x_t, x_{t+1}), from exact integer-cent moments.

    Same discipline as q_agg_corr: the five moments are integer sums
    (exact, order-independent), cast to double once each, and the
    closed-form r is deterministic scalar IEEE math with identical
    expression shape in both engines. The lag pairing is one window
    over the ~2.4k-row daily rollup — a single-partition window over an
    *aggregate*, never over raw rows, which is what keeps it legal at
    100 TB.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(F.sum(_cents_col()).alias("cents"))
    w = Window.orderBy("day")
    pairs = daily.select(
        F.col("cents").alias("x"), F.lead("cents").over(w).alias("y")
    ).filter(F.col("y").isNotNull())
    x, y = F.col("x"), F.col("y")
    m = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("decimal(38,0)").cast("double").alias("sx"),
        F.sum(y).cast("decimal(38,0)").cast("double").alias("sy"),
        F.sum((x * x).cast("decimal(38,0)")).cast("double").alias("sxx"),
        F.sum((y * y).cast("decimal(38,0)")).cast("double").alias("syy"),
        F.sum((x * y).cast("decimal(38,0)")).cast("double").alias("sxy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    r = (n * sxy - sx * sy) / (
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    )
    return m.select(n.alias("n_pairs"), r.alias("autocorr_lag1"))


@_q(
    "q_cusum_changepoint",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(sum({_CENTS}) AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ), cum AS (
      SELECT day,
             CAST(sum(cents) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cumsum,
             CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
             CAST(sum(cents) OVER () AS BIGINT) AS total,
             CAST(count(*) OVER () AS BIGINT) AS n
      FROM daily
    ), dev AS (
      SELECT day, n, t,
             abs(n * cumsum - t * total) AS s_abs
      FROM cum
    )
    SELECT day AS change_day, n AS n_days,
           CAST(s_abs AS BIGINT) AS s_abs,
           CAST(s_abs AS DOUBLE) / n AS cusum_cents
    FROM dev
    ORDER BY s_abs DESC, day ASC
    LIMIT 1
    """,
)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point: the day t maximizing |S_t|, where S_t is the
    cumulative deviation of daily revenue from its global mean.

    The float-free trick: S_t = cumsum_t - t*mean would need the mean
    as a fraction, so we maximize ``|n*cumsum_t - t*total|`` instead —
    the same argmax scaled by n, in exact integers end to end
    (``n*cumsum`` peaks ~1e16 at sf0.1, comfortably inside BIGINT).
    The one division (back to cents units) happens on the single output
    row. Two windows over the ~2.4k-row daily rollup, then a top-1 —
    ``TakeOrderedAndProject``, no global sort materialized.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(F.sum(_cents_col()).alias("cents"))
    wrun = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    cum = daily.select(
        "day",
        F.sum("cents").over(wrun).alias("cumsum"),
        F.row_number().over(Window.orderBy("day")).cast("bigint").alias("t"),
        F.sum("cents").over(wall).alias("total"),
        F.count(F.lit(1)).over(wall).alias("n"),
    )
    dev = cum.select(
        "day",
        F.col("n"),
        F.col("t"),
        F.abs(F.col("n") * F.col("cumsum") - F.col("t") * F.col("total")).alias(
            "s_abs"
        ),
    )
    return (
        dev.orderBy(F.col("s_abs").desc(), F.col("day").asc())
        .limit(1)
        .select(
            F.col("day").alias("change_day"),
            F.col("n").alias("n_days"),
            F.col("s_abs"),
            (F.col("s_abs").cast("double") / F.col("n")).alias("cusum_cents"),
        )
    )


@_q(
    "q_mann_kendall",
    oracle=f"""
    WITH monthly AS (
      SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
             CAST(sum({_CENTS}) AS BIGINT) AS cents,
             CAST(row_number() OVER (
               ORDER BY date_trunc('month', CAST(o_orderdate AS DATE)))
               AS BIGINT) AS i
      FROM orders GROUP BY 1
    ), s AS (
      SELECT CAST(sum(CASE WHEN b.cents > a.cents THEN 1
                           WHEN b.cents < a.cents THEN -1
                           ELSE 0 END) AS BIGINT) AS s_stat
      FROM monthly a JOIN monthly b ON b.i > a.i
    ), nn AS (
      SELECT CAST(count(*) AS BIGINT) AS n FROM monthly
    ), ties AS (
      SELECT COALESCE(CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT), 0)
               AS tie_corr
      FROM (SELECT CAST(count(*) AS BIGINT) AS t
            FROM monthly GROUP BY cents HAVING count(*) > 1)
    )
    SELECT nn.n AS n_months, s.s_stat,
           CAST(nn.n * (nn.n - 1) * (2 * nn.n + 5) - ties.tie_corr
                AS BIGINT) AS var_numer,
           CASE WHEN s.s_stat > 0 THEN (CAST(s.s_stat AS DOUBLE) - 1.0)
                  / sqrt(CAST(nn.n * (nn.n - 1) * (2 * nn.n + 5)
                              - ties.tie_corr AS DOUBLE) / 18.0)
                WHEN s.s_stat < 0 THEN (CAST(s.s_stat AS DOUBLE) + 1.0)
                  / sqrt(CAST(nn.n * (nn.n - 1) * (2 * nn.n + 5)
                              - ties.tie_corr AS DOUBLE) / 18.0)
                ELSE 0.0 END AS z_stat
    FROM s, nn, ties
    """,
)
def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test on monthly revenue: S = sum of pairwise
    signs, tie-corrected variance, continuity-corrected z.

    S and the variance numerator are pure *integer* counts (pairwise
    sign comparisons on exact cents over the ~84-month rollup — 3.5k
    pairs however big the raw data), so the only float math is the one
    closed-form z expression, identical in shape across engines. The
    self-join is on the aggregated series — O(months^2), never
    O(rows^2); the monthly rollup is the single data-sized shuffle.
    """
    orders = load_table(spark, sf_dir, "orders")
    monthly = (
        orders.groupBy(
            F.date_trunc("month", F.col("o_orderdate").cast("date")).alias(
                "month"
            )
        )
        .agg(F.sum(_cents_col()).alias("cents"))
        .select(
            "month",
            "cents",
            F.row_number()
            .over(Window.orderBy("month"))
            .cast("bigint")
            .alias("i"),
        )
    )
    a = monthly.alias("a")
    b = monthly.alias("b")
    s = (
        a.join(b, F.col("b.i") > F.col("a.i"))
        .agg(
            F.sum(
                F.when(F.col("b.cents") > F.col("a.cents"), 1)
                .when(F.col("b.cents") < F.col("a.cents"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s_stat")
        )
    )
    nn = monthly.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    t = F.col("t")
    ties = (
        monthly.groupBy("cents")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
        .filter(t > 1)
        .agg(
            F.coalesce(
                F.sum(t * (t - 1) * (2 * t + 5)).cast("bigint"), F.lit(0)
            ).alias("tie_corr")
        )
    )
    joined = s.crossJoin(nn).crossJoin(ties)
    n, s_stat, tie = F.col("n"), F.col("s_stat"), F.col("tie_corr")
    var_numer = (n * (n - 1) * (2 * n + 5) - tie).cast("bigint")
    denom = F.sqrt(var_numer.cast("double") / 18.0)
    z = (
        F.when(s_stat > 0, (s_stat.cast("double") - 1.0) / denom)
        .when(s_stat < 0, (s_stat.cast("double") + 1.0) / denom)
        .otherwise(0.0)
    )
    return joined.select(
        n.alias("n_months"),
        s_stat,
        var_numer.alias("var_numer"),
        z.alias("z_stat"),
    )


@_q(
    "q_interpolate_linear",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c
      FROM events
      WHERE user_id % 3 = 0
      GROUP BY 1
      HAVING dayofmonth(CAST(ts AS DATE)) % 4 <> 1
    ), ext AS (
      SELECT min(day) AS d0, max(day) AS d1 FROM daily
    ), spine AS (
      SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
               AS day
      FROM ext
    ), joined AS (
      SELECT s.day, d.c FROM spine s LEFT JOIN daily d ON s.day = d.day
    ), bounded AS (
      SELECT day, c,
        last_value(c IGNORE NULLS) OVER (ORDER BY day
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_c,
        first_value(c IGNORE NULLS) OVER (ORDER BY day
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_c,
        CAST(date_diff('day',
          max(CASE WHEN c IS NOT NULL THEN day END) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), day)
          AS BIGINT) AS gap_prev,
        CAST(date_diff('day', day,
          min(CASE WHEN c IS NOT NULL THEN day END) OVER (ORDER BY day
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
          AS BIGINT) AS gap_next
      FROM joined
    )
    SELECT day, c AS observed,
           CASE WHEN c IS NOT NULL THEN CAST(c AS DOUBLE)
                WHEN prev_c IS NULL THEN CAST(next_c AS DOUBLE)
                WHEN next_c IS NULL THEN CAST(prev_c AS DOUBLE)
                ELSE prev_c + (next_c - prev_c)
                     * (CAST(gap_prev AS DOUBLE) / (gap_prev + gap_next))
           END AS filled
    FROM bounded
    ORDER BY day
    """,
)
def q_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation over gaps in a sparse daily series (a
    user-cohort's event counts): build the full calendar spine, carry
    the nearest observation from each side with IGNORE NULLS windows,
    and fill each missing day at the distance-weighted blend of its
    neighbors (edges extend the nearest value). The companion to
    q_timeseries_resample's LOCF — LOCF answers "state as of", linear
    fill answers "best estimate at" (the feature-engineering default
    for sensor/metric series). The fixture series is fully dense at
    every scale factor, so days with day-of-month ≡ 1 (mod 4) are
    deterministically held out — the op reconstructs them, keeping the
    interpolation branch exercised (and oracle-checked) rather than
    vacuously passing on gap-free input.

    Exactness: observed counts are integers; the blend is one
    deterministic IEEE expression per row from integer inputs
    (prev + (next−prev)·(gap/(gap_prev+gap_next))) — bitwise equal in
    both engines, no accumulation anywhere. Two ordered windows over
    the |days| spine; the raw-event pass is one shuffle to daily
    cells.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("user_id") % 3 == 0)
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .filter(F.dayofmonth("day") % 4 != 1)
    )
    ext = daily.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = ext.select(
        F.explode(F.sequence("d0", "d1")).alias("day")
    )
    joined = spine.join(daily, "day", "left")
    w_back = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_fwd = Window.orderBy("day").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    obs_day = F.when(F.col("c").isNotNull(), F.col("day"))
    bounded = joined.select(
        "day",
        "c",
        F.last("c", ignorenulls=True).over(w_back).alias("prev_c"),
        F.first("c", ignorenulls=True).over(w_fwd).alias("next_c"),
        F.datediff(
            F.col("day"), F.max(obs_day).over(w_back)
        ).cast("bigint").alias("gap_prev"),
        F.datediff(
            F.min(obs_day).over(w_fwd), F.col("day")
        ).cast("bigint").alias("gap_next"),
    )
    filled = (
        F.when(F.col("c").isNotNull(), F.col("c").cast("double"))
        .when(F.col("prev_c").isNull(), F.col("next_c").cast("double"))
        .when(F.col("next_c").isNull(), F.col("prev_c").cast("double"))
        .otherwise(
            F.col("prev_c")
            + (F.col("next_c") - F.col("prev_c"))
            * (
                F.col("gap_prev").cast("double")
                / (F.col("gap_prev") + F.col("gap_next"))
            )
        )
    )
    return (
        bounded.select(
            "day", F.col("c").alias("observed"), filled.alias("filled")
        )
        .orderBy("day")
    )


@_q(
    "q_seasonal_decompose",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS obs
      FROM events GROUP BY 1
    ), trended AS (
      SELECT day, obs,
             CASE WHEN count(*) OVER w = 7
                  THEN CAST(sum(obs) OVER w AS DOUBLE) / 7 END AS trend
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ), detrended AS (
      SELECT day, obs, trend,
             CAST(dayofweek(day) AS BIGINT) AS dow,
             round(obs - trend, 6) AS dt
      FROM trended
    ), seasonal AS (
      SELECT dow,
             CAST(sum(CAST(dt AS DECIMAL(27,6))) AS DOUBLE)
               / count(dt) AS s
      FROM detrended WHERE dt IS NOT NULL GROUP BY dow
    )
    SELECT d.day, d.obs, d.trend, s.s AS seasonal,
           round(d.dt - s.s, 6) AS remainder
    FROM detrended d JOIN seasonal s ON d.dow = s.dow
    ORDER BY d.day
    """,
)
def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition of the daily event-count series
    (classical decomposition, the STL precursor): trend = 7-day
    centered moving average (full windows only — edges stay null
    rather than biased), seasonal = day-of-week mean of the detrended
    series, remainder = what neither explains. The pre-model sanity
    pass for any metric with weekly rhythm — anomaly thresholds
    (q_anomaly_zscore) belong on the REMAINDER, not the raw series.

    Exactness: observations are integers, the trend is a 7-integer sum
    with one division, detrended values round at 6 dp before the
    decimal-summed seasonal means, and the remainder rounds the same
    way — every float single-rounded or decimal-accumulated, bitwise
    across engines. Two ordered windows over |days| rows; the raw
    pass is one shuffle to daily cells.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("obs")
    )
    w = Window.orderBy("day").rowsBetween(-3, 3)
    trended = daily.select(
        "day",
        "obs",
        F.when(
            F.count(F.lit(1)).over(w) == 7,
            F.sum("obs").over(w).cast("double") / 7,
        ).alias("trend"),
    )
    detrended = trended.select(
        "day",
        "obs",
        "trend",
        F.dayofweek("day").cast("bigint").alias("dow"),
        F.round(F.col("obs") - F.col("trend"), 6).alias("dt"),
    )
    seasonal = (
        detrended.filter(F.col("dt").isNotNull())
        .groupBy("dow")
        .agg(
            (
                F.sum(F.col("dt").cast("decimal(27,6)")).cast("double")
                / F.count("dt")
            ).alias("s")
        )
    )
    return (
        detrended.join(F.broadcast(seasonal), "dow")
        .select(
            "day",
            "obs",
            "trend",
            F.col("s").alias("seasonal"),
            F.round(F.col("dt") - F.col("s"), 6).alias("remainder"),
        )
        .orderBy("day")
    )


_HOLT_A, _HOLT_B = 0.5, 0.3  # level / trend smoothing constants


@_q(
    "q_holt_linear",
    oracle=f"""
    WITH RECURSIVE daily AS (
      SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ), series AS (
      SELECT list(CAST(c AS DOUBLE) ORDER BY day) AS v,
             CAST(count(*) AS BIGINT) AS n_days
      FROM daily
    ), fold AS (
      SELECT 2 AS i, v[1] AS l, v[2] - v[1] AS b FROM series
      UNION ALL
      SELECT f.i + 1,
             {_HOLT_A} * s.v[f.i + 1] + {1 - _HOLT_A} * (f.l + f.b),
             {_HOLT_B} * (({_HOLT_A} * s.v[f.i + 1]
                           + {1 - _HOLT_A} * (f.l + f.b)) - f.l)
               + {1 - _HOLT_B} * f.b
      FROM fold f, series s WHERE f.i < s.n_days
    )
    SELECT n_days, l AS level, b AS trend,
           l + 1 * b AS forecast_1,
           l + 2 * b AS forecast_2,
           l + 3 * b AS forecast_3
    FROM fold, series WHERE i = n_days
    """,
)
def q_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear (double exponential) smoothing over the daily
    event-count series, fit as a *sequential left fold in SQL*: the
    (level, trend) state threads through ``aggregate`` with a struct
    accumulator — the recurrence lives entirely engine-side, and the
    3-step-ahead forecasts are closed-form from the final state. The
    capacity-planning companion to q_ewma (which smooths level only
    and cannot see drift).

    Bitwise portability for a genuinely *recursive* statistic: Spark
    folds the day-ordered array with a struct-accumulator
    ``aggregate``; the oracle iterates the identical IEEE recurrence
    as a recursive CTE (DuckDB's ``list_reduce`` mutates struct
    accumulators field-by-field — the 'b' expression would see the
    already-updated 'l' — so the row-per-step form is the faithful
    one), and level, trend, and every forecast hash-match exactly. The fold's state is 2 doubles regardless of
    series length; the raw pass is one shuffle to daily cells.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    series = daily.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(day, c))),"
            " s -> cast(s.c as double))"
        ).alias("v"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
    )
    a, b = _HOLT_A, _HOLT_B
    new_l = f"{a} * x + {1 - a} * (acc.l + acc.b)"
    fold = (
        f"aggregate(slice(v, 3, size(v) - 2),"
        f" named_struct('l', element_at(v, 1),"
        f"              'b', element_at(v, 2) - element_at(v, 1)),"
        f" (acc, x) -> named_struct("
        f"   'l', {new_l},"
        f"   'b', {b} * ({new_l} - acc.l) + {1 - b} * acc.b))"
    )
    # a sub-2-day series (e.g. a zero-match slice) has no (l0, b0)
    # seed — degrade the state to NULL instead of erroring on the
    # negative slice length / out-of-bounds seed element_at
    fold = f"CASE WHEN size(v) >= 2 THEN {fold} ELSE NULL END"
    fitted = series.select("n_days", F.expr(fold).alias("st"))
    return fitted.select(
        "n_days",
        F.col("st.l").alias("level"),
        F.col("st.b").alias("trend"),
        (F.col("st.l") + 1 * F.col("st.b")).alias("forecast_1"),
        (F.col("st.l") + 2 * F.col("st.b")).alias("forecast_2"),
        (F.col("st.l") + 3 * F.col("st.b")).alias("forecast_3"),
    )


_HW_A, _HW_B, _HW_G = 0.5, 0.3, 0.4  # level / trend / seasonal
_HW_M = 7  # weekly seasonality


def _hw_new_l(y: str, acc_l: str, acc_b: str, s1: str) -> str:
    return (
        f"{_HW_A} * ({y} - {s1})"
        f" + {1 - _HW_A} * ({acc_l} + {acc_b})"
    )


@_q(
    "q_holt_winters",
    oracle=f"""
    WITH RECURSIVE daily AS (
      SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ), series AS (
      SELECT list(CAST(c AS DOUBLE) ORDER BY day) AS v,
             CAST(count(*) AS BIGINT) AS n_days
      FROM daily
    ), init AS (
      SELECT
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_slice(v, 1, {_HW_M})), (a, x) -> a + x) / {_HW_M} AS l0,
        (list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_slice(v, {_HW_M + 1}, {2 * _HW_M})), (a, x) -> a + x)
         - list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_slice(v, 1, {_HW_M})), (a, x) -> a + x))
          / ({_HW_M} * {_HW_M}.0) AS b0
      FROM series
    ), fold AS (
      SELECT {_HW_M} AS i, init.l0 AS l, init.b0 AS b,
             list_transform(list_slice(s.v, 1, {_HW_M}),
                            x -> x - init.l0) AS ss
      FROM init, series s
      UNION ALL
      SELECT f.i + 1,
             {_hw_new_l('s.v[f.i + 1]', 'f.l', 'f.b', 'f.ss[1]')},
             {_HW_B} * (({_hw_new_l('s.v[f.i + 1]', 'f.l', 'f.b',
                                    'f.ss[1]')}) - f.l)
               + {1 - _HW_B} * f.b,
             list_append(list_slice(f.ss, 2, {_HW_M}),
               {_HW_G} * (s.v[f.i + 1]
                 - ({_hw_new_l('s.v[f.i + 1]', 'f.l', 'f.b',
                               'f.ss[1]')}))
               + {1 - _HW_G} * f.ss[1])
      FROM fold f, series s WHERE f.i < s.n_days
    )
    SELECT s.n_days, f.l AS level, f.b AS trend,
           f.l + 1 * f.b + f.ss[1] AS forecast_1,
           f.l + 2 * f.b + f.ss[2] AS forecast_2,
           f.l + 3 * f.b + f.ss[3] AS forecast_3
    FROM fold f, series s WHERE f.i = s.n_days
    """,
)
def q_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt–Winters additive seasonal smoothing (weekly period) over
    the daily event-count series — the forecasting step up from
    q_holt_linear when the series has a repeating weekly shape
    (q_seasonal_decompose proves this one does). State is (level,
    trend, 7-slot seasonal vector); the seasonal vector ROTATES each
    step so slot 1 is always the season about to recur, which keeps
    the recurrence expressible as a pure left fold.

    Same bitwise-recursive discipline as q_holt_linear: Spark folds
    the day-ordered array with a struct accumulator (a fresh struct
    per step — safe, unlike DuckDB's field-by-field ``list_reduce``
    mutation, so the oracle replays the identical IEEE recurrence as a
    row-per-step recursive CTE). Fold state is 9 doubles regardless of
    series length; the raw pass is one shuffle to daily cells."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    series = daily.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(day, c))),"
            " s -> cast(s.c as double))"
        ).alias("v"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
    )
    m, a, b, g = _HW_M, _HW_A, _HW_B, _HW_G
    ssum = (
        "aggregate(slice(v, {lo}, {n}), CAST(0.0 AS DOUBLE),"
        " (acc, x) -> acc + x)"
    )
    l0 = f"({ssum.format(lo=1, n=m)}) / {m}"
    b0 = (
        f"(({ssum.format(lo=m + 1, n=m)}) - ({ssum.format(lo=1, n=m)}))"
        f" / ({m} * {m}.0D)"
    )
    new_l = _hw_new_l("x", "acc.l", "acc.b", "element_at(acc.ss, 1)")
    fold = (
        f"aggregate(slice(v, {m + 1}, size(v) - {m}),"
        f" named_struct('l', CAST({l0} AS DOUBLE),"
        f"              'b', CAST({b0} AS DOUBLE),"
        f"              'ss', transform(slice(v, 1, {m}),"
        f"                    x -> x - ({l0}))),"
        f" (acc, x) -> named_struct("
        f"   'l', {new_l},"
        f"   'b', {b} * (({new_l}) - acc.l) + {1 - b} * acc.b,"
        f"   'ss', concat(slice(acc.ss, 2, {m - 1}),"
        f"         array({g} * (x - ({new_l}))"
        f"               + {1 - g} * element_at(acc.ss, 1)))))"
    )
    # shorter than one season (or empty): no seasonal seed exists —
    # NULL state instead of a negative fold-slice length error
    fold = f"CASE WHEN size(v) >= {m} THEN {fold} ELSE NULL END"
    fitted = series.select("n_days", F.expr(fold).alias("st"))
    out = fitted.select(
        "n_days",
        F.col("st.l").alias("level"),
        F.col("st.b").alias("trend"),
        *[
            (
                F.col("st.l")
                + h * F.col("st.b")
                + F.expr(f"element_at(st.ss, {h})")
            ).alias(f"forecast_{h}")
            for h in (1, 2, 3)
        ],
    )
    return out


@_q(
    "q_theil_sen",
    oracle=f"""
    WITH monthly AS (
      SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
             CAST(sum({_CENTS}) AS BIGINT) AS cents,
             CAST(row_number() OVER (
               ORDER BY date_trunc('month', CAST(o_orderdate AS DATE)))
               AS BIGINT) AS i
      FROM orders GROUP BY 1
    ),
    slopes AS (
      SELECT a.i AS ai, b.i AS bi,
             CAST(b.cents - a.cents AS DOUBLE) / (b.i - a.i) AS slope
      FROM monthly a JOIN monthly b ON b.i > a.i
    ),
    ranked AS (
      SELECT slope,
             CAST(row_number() OVER (ORDER BY slope, ai, bi) AS BIGINT)
               AS rn,
             CAST(count(*) OVER () AS BIGINT) AS np
      FROM slopes
    )
    SELECT any_value(np) AS n_pairs,
           CAST(sum(CAST(slope AS DECIMAL(27,6))) AS DOUBLE) / count(*)
             AS median_slope_cents
    FROM ranked
    WHERE rn IN ((np + 1) // 2, (np + 2) // 2)
    """,
)
def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend estimate of monthly revenue: the median
    of all pairwise slopes — insensitive to up to ~29% outlier months,
    the robust companion to q_mann_kendall's trend *test* (same
    monthly rollup, same O(months²) bounded pair set).

    The raw scan reduces to the ~84-month series first, so the pair
    self-join is 3.5k rows however large the input; the median picks
    the middle one-or-two slopes by a (slope, ai, bi) total order —
    identical tie semantics in both engines (engine ``median()``
    tie-breaking is not portable). Slopes are exact-integer cent
    differences divided once; the final mean-of-two sums in DECIMAL.
    Global windows here run over the bounded pair set (documented in
    BOUNDED_GLOBAL_WINDOWS)."""
    orders = load_table(spark, sf_dir, "orders")
    monthly = (
        orders.groupBy(
            F.date_trunc("month", F.col("o_orderdate").cast("date")).alias(
                "month"
            )
        )
        .agg(F.sum(_cents_col()).alias("cents"))
        .select(
            "month",
            "cents",
            F.row_number()
            .over(Window.orderBy("month"))
            .cast("bigint")
            .alias("i"),
        )
    )
    a = monthly.select(
        F.col("i").alias("ai"), F.col("cents").alias("ca")
    )
    b = monthly.select(
        F.col("i").alias("bi"), F.col("cents").alias("cb")
    )
    slopes = (
        a.join(F.broadcast(b), F.col("bi") > F.col("ai"))
        .select(
            "ai",
            "bi",
            (
                (F.col("cb") - F.col("ca")).cast("double")
                / (F.col("bi") - F.col("ai"))
            ).alias("slope"),
        )
    )
    ranked = slopes.select(
        "slope",
        F.row_number()
        .over(Window.orderBy("slope", "ai", "bi"))
        .cast("bigint")
        .alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("bigint").alias(
            "np"
        ),
    )
    mid = ranked.filter(
        (F.col("rn") == F.floor((F.col("np") + 1) / 2))
        | (F.col("rn") == F.floor((F.col("np") + 2) / 2))
    )
    return mid.agg(
        F.first("np").alias("n_pairs"),
        (
            F.sum(F.col("slope").cast("decimal(27,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("median_slope_cents"),
    )


@_q(
    "q_cross_correlation",
    oracle="""
    WITH daily AS (
      SELECT CAST(time_bucket(INTERVAL 1 DAY, ts) AS DATE) AS day,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1
                           ELSE 0 END) AS BIGINT) AS x,
             CAST(sum(CASE WHEN event_type = 'error' THEN 1
                           ELSE 0 END) AS BIGINT) AS y
      FROM events
      WHERE event_type IN ('purchase', 'error')
      GROUP BY 1
    ),
    bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM daily),
    spine AS (
      SELECT unnest(generate_series(0, (SELECT hi - lo FROM bounds)))
               AS i
    ),
    dense AS (
      SELECT s.i,
             COALESCE(d.x, 0) AS x, COALESCE(d.y, 0) AS y
      FROM spine s
      LEFT JOIN (SELECT day - b.lo AS i, x, y
                 FROM daily CROSS JOIN bounds b) d ON d.i = s.i
    ),
    lags AS (SELECT unnest(generate_series(-7, 7)) AS lag),
    stats AS (
      SELECT l.lag,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(a.x) AS BIGINT) AS sx,
             CAST(sum(b.y) AS BIGINT) AS sy,
             CAST(sum(a.x * b.y) AS BIGINT) AS sxy,
             CAST(sum(a.x * a.x) AS BIGINT) AS sxx,
             CAST(sum(b.y * b.y) AS BIGINT) AS syy
      FROM lags l
      JOIN dense a ON TRUE
      JOIN dense b ON b.i = a.i + l.lag
      GROUP BY l.lag
    )
    SELECT CAST(lag AS BIGINT) AS lag, n AS n_days,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE)) AS r
    FROM stats
    ORDER BY lag
    """,
)
def q_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead–lag cross-correlation between the daily purchase and error
    count series, lags −7..+7 days: r(l) = corr(purchases_t,
    errors_{t+l}) — the monitor that answers "do error spikes lead or
    follow demand?" (positive-lag peak ⇒ errors trail purchases).

    The raw scan reduces to ONE conditional daily rollup (a single
    pass emits both series as (day, x, y) cells); the calendar spine
    derives from that rollup's own min/max, so nothing rescans the
    events table. Days are integer indexes (date subtraction — no
    interval arithmetic to diverge between engines), the 15-lag
    shifted self-join runs over the |days|×15 bounded grid, and every
    Pearson moment (Σx, Σy, Σxy, Σx², Σy²) is an exact integer until
    the one closed-form double expression per lag. Missing days enter
    as true zero counts via the spine, not as gaps that would silently
    shrink n."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type").isin("purchase", "error"))
        .groupBy(
            F.date_trunc("day", F.col("ts")).cast("date").alias("day")
        )
        .agg(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            .cast("bigint")
            .alias("x"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            .cast("bigint")
            .alias("y"),
        )
    )
    # one materialization of the bounded daily series feeds bounds,
    # the index join and both lag sides: the raw table is scanned once
    daily = pin(daily)
    bounds = daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    spine = bounds.select(
        F.explode(
            F.sequence(F.lit(0), F.datediff(F.col("hi"), F.col("lo")))
        ).alias("i")
    )
    indexed = daily.crossJoin(F.broadcast(bounds)).select(
        F.datediff(F.col("day"), F.col("lo")).alias("i"), "x", "y"
    )
    dense = (
        spine.join(indexed, "i", "left")
        .select(
            "i",
            F.coalesce(F.col("x"), F.lit(0)).cast("bigint").alias("x"),
            F.coalesce(F.col("y"), F.lit(0)).cast("bigint").alias("y"),
        )
    )
    lags = spark.range(1).select(
        F.explode(F.sequence(F.lit(-7), F.lit(7))).alias("lag")
    )
    a = dense.select("i", "x")
    b = dense.select(F.col("i").alias("j"), "y")
    stats = (
        lags.crossJoin(a)
        .join(F.broadcast(b), F.col("j") == F.col("i") + F.col("lag"))
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("x").cast("bigint").alias("sx"),
            F.sum("y").cast("bigint").alias("sy"),
            F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
            F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
            F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        )
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    r = F.try_divide(
        (n * sxy - sx * sy).cast("double"),
        F.sqrt(
            (n * sxx - sx * sx).cast("double")
            * (n * syy - sy * sy).cast("double")
        ),
    )
    return stats.select(
        F.col("lag").cast("bigint").alias("lag"),
        F.col("n").alias("n_days"),
        r.alias("r"),
    ).orderBy("lag")


@_q(
    "q_anomaly_seasonal",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(dayofweek(CAST(o_orderdate AS DATE)) + 1 AS BIGINT)
               AS dow,  -- DuckDB Sunday=0; Spark Sunday=1
             CAST(sum({_CENTS}) AS BIGINT) AS cents
      FROM orders GROUP BY 1, 2
    ),
    ranked AS (
      SELECT day, dow, cents,
             row_number() OVER (PARTITION BY dow
                                ORDER BY cents, day) AS rn,
             count(*) OVER (PARTITION BY dow) AS n
      FROM daily
    ),
    med AS (
      SELECT dow,
             min(CASE WHEN rn * 2 >= n + 1 THEN cents END) AS med
      FROM ranked GROUP BY dow
    ),
    dev AS (
      SELECT d.day, d.dow, d.cents, m.med,
             abs(d.cents - m.med) AS ad
      FROM daily d JOIN med m ON m.dow = d.dow
    ),
    dranked AS (
      SELECT day, dow, cents, med, ad,
             row_number() OVER (PARTITION BY dow
                                ORDER BY ad, day) AS rn,
             count(*) OVER (PARTITION BY dow) AS n
      FROM dev
    ),
    mad AS (
      SELECT dow,
             min(CASE WHEN rn * 2 >= n + 1 THEN ad END) AS mad
      FROM dranked GROUP BY dow
    )
    SELECT d.day, d.dow, d.cents, d.med AS med_cents,
           mad.mad AS mad_cents,
           CAST(CASE WHEN d.ad * 10000 > 44478 * mad.mad
                     THEN 1 ELSE 0 END AS INTEGER) AS is_anomaly
    FROM dev d JOIN mad ON mad.dow = d.dow
    WHERE d.ad * 10000 > 44478 * mad.mad
    ORDER BY d.day
    """,
)
def q_anomaly_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware anomaly days: each day's revenue is compared
    to its OWN weekday's robust baseline (median ± 3·1.4826·MAD), so
    a quiet Sunday is not flagged just for being a Sunday — the
    upgrade over q_anomaly_zscore's global mean/σ, which both absorbs
    weekly seasonality into "noise" and lets outliers inflate σ.

    Everything is integer: daily cents, nearest-rank weekday medians
    and MADs (the q_mad discipline), and the 3·1.4826 threshold
    cross-multiplied as ``|dev|·10000 > 44478·MAD`` — no float enters
    at all, so the flag set is bitwise at any scale. The raw scan
    reduces to the bounded daily series first; both rank windows run
    partitioned by weekday over ~|days|/7 rows each."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day"),
        F.dayofweek(F.col("o_orderdate").cast("date"))
        .cast("bigint")
        .alias("dow"),
    ).agg(F.sum(_cents_col()).alias("cents"))
    w = Window.partitionBy("dow").orderBy("cents", "day")
    wc = Window.partitionBy("dow")
    ranked = daily.select(
        "day",
        "dow",
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    med = ranked.groupBy("dow").agg(
        F.min(
            F.when(F.col("rn") * 2 >= F.col("n") + 1, F.col("cents"))
        ).alias("med")
    )
    dev = daily.join(F.broadcast(med), "dow").select(
        "day",
        "dow",
        "cents",
        "med",
        F.abs(F.col("cents") - F.col("med")).alias("ad"),
    )
    wd = Window.partitionBy("dow").orderBy("ad", "day")
    dranked = dev.select(
        "dow",
        "ad",
        F.row_number().over(wd).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    mad = dranked.groupBy("dow").agg(
        F.min(F.when(F.col("rn") * 2 >= F.col("n") + 1, F.col("ad"))).alias(
            "mad"
        )
    )
    return (
        dev.join(F.broadcast(mad), "dow")
        .filter(F.col("ad") * 10000 > 44478 * F.col("mad"))
        .select(
            "day",
            "dow",
            "cents",
            F.col("med").alias("med_cents"),
            F.col("mad").alias("mad_cents"),
            F.lit(1).cast("int").alias("is_anomaly"),
        )
        .orderBy("day")
    )


@_q(
    "q_seasonality_strength",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(dayofweek(CAST(o_orderdate AS DATE)) + 1 AS BIGINT)
               AS dow,
             CAST(sum({_CENTS}) AS BIGINT) AS cents
      FROM orders GROUP BY 1, 2
    ),
    grp AS (
      SELECT dow,
             CAST(count(*) AS BIGINT) AS nj,
             CAST(sum(cents) AS BIGINT) AS sj,
             sum(CAST(cents AS DECIMAL(19,0))
                 * CAST(cents AS DECIMAL(19,0))) AS s2j
      FROM daily GROUP BY dow
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(nj) AS BIGINT) AS n,
             CAST(sum(sj) AS DOUBLE) AS s,
             CAST(sum(CAST(CAST(round(CAST(sj AS DOUBLE)
                                      * CAST(sj AS DOUBLE) / nj, 6)
                                AS DECIMAL(32,6)) * 1000000
                           AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0
               AS sq_over_n,
             CAST(sum(s2j) AS DOUBLE) AS s2
      FROM grp
    )
    SELECT n AS n_days, k AS k_weekdays,
           (sq_over_n - s * s / n) / (s2 - s * s / n)
             AS seasonality_strength,
           ((sq_over_n - s * s / n) / (k - 1))
             / ((s2 - sq_over_n) / (n - k)) AS f_stat
    FROM tot
    """,
)
def q_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly-seasonality strength of daily revenue: the share of
    day-to-day variance explained by the day-of-week pattern
    (SSB/SST — η², plus the one-way F) — the one number that says
    whether q_holt_winters' weekly component or q_anomaly_seasonal's
    weekday baselines are load-bearing or decorative on this corpus.

    The raw scan reduces to the bounded daily series; per-weekday
    moments are integer/decimal sums (cents² in DECIMAL(38,0), exact
    at any revenue scale); the one float reduction over the 7 weekday
    cells rounds at 6 dp into a DECIMAL sum (the q_levene_test
    discipline); η² and F are closed-form scalar expressions."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day"),
        F.dayofweek(F.col("o_orderdate").cast("date"))
        .cast("bigint")
        .alias("dow"),
    ).agg(F.sum(_cents_col()).alias("cents"))
    # every decimal->double cast below is INTEGER-valued (cents^2 sums
    # stay exact decimals; the sj^2/nj terms scale to micro-units) —
    # DuckDB's int128 fractional-decimal->double cast drifts a ulp
    # (q_agg_corr gotcha), integers convert identically
    grp = daily.groupBy("dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("nj"),
        F.sum("cents").cast("bigint").alias("sj"),
        F.sum(
            F.col("cents").cast("decimal(19,0)")
            * F.col("cents").cast("decimal(19,0)")
        ).alias("s2j"),
    )
    tot = grp.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("nj").cast("bigint").alias("n"),
        F.sum("sj").cast("double").alias("s"),
        (
            F.sum(
                (
                    F.round(
                        F.col("sj").cast("double")
                        * F.col("sj").cast("double")
                        / F.col("nj"),
                        6,
                    ).cast("decimal(32,6)")
                    * 1000000
                ).cast("decimal(38,0)")
            ).cast("double")
            / F.lit(1000000.0)
        ).alias("sq_over_n"),
        F.sum("s2j").cast("double").alias("s2"),
    )
    n, k, s = F.col("n"), F.col("k"), F.col("s")
    ssb = F.col("sq_over_n") - s * s / n
    sst = F.col("s2") - s * s / n
    ssw = F.col("s2") - F.col("sq_over_n")
    return tot.select(
        n.alias("n_days"),
        k.alias("k_weekdays"),
        F.try_divide(ssb, sst).alias("seasonality_strength"),
        F.try_divide(
            F.try_divide(ssb, k - 1), F.try_divide(ssw, n - k)
        ).alias("f_stat"),
    )


@_q(
    "q_ar2_yule_walker",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(sum({_CENTS}) AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ),
    lagged AS (
      SELECT cents AS x,
             lead(cents, 1) OVER (ORDER BY day) AS y1,
             lead(cents, 2) OVER (ORDER BY day) AS y2
      FROM daily
    ),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(CAST(sum(x) AS DECIMAL(38,0)) AS DOUBLE) AS sx,
             CAST(sum(CAST(x * x AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
             CAST(CAST(sum(y1) AS DECIMAL(38,0)) AS DOUBLE) AS sy1,
             CAST(sum(CAST(y1 * y1 AS DECIMAL(38,0))) AS DOUBLE)
               AS sy1y1,
             CAST(sum(CAST(x * y1 AS DECIMAL(38,0))) AS DOUBLE) AS sxy1,
             CAST(CAST(sum(y2) AS DECIMAL(38,0)) AS DOUBLE) AS sy2,
             CAST(sum(CAST(y2 * y2 AS DECIMAL(38,0))) AS DOUBLE)
               AS sy2y2,
             CAST(sum(CAST(x * y2 AS DECIMAL(38,0))) AS DOUBLE) AS sxy2
      FROM lagged WHERE y2 IS NOT NULL
    ),
    r AS (
      SELECT n,
             (n * sxy1 - sx * sy1)
               / (sqrt(n * sxx - sx * sx)
                  * sqrt(n * sy1y1 - sy1 * sy1)) AS r1,
             (n * sxy2 - sx * sy2)
               / (sqrt(n * sxx - sx * sx)
                  * sqrt(n * sy2y2 - sy2 * sy2)) AS r2
      FROM mom
    )
    SELECT n AS n_obs, r1, r2,
           r1 * (1.0 - r2) / (1.0 - r1 * r1) AS phi1,
           (r2 - r1 * r1) / (1.0 - r1 * r1) AS phi2
    FROM r
    """,
)
def q_ar2_yule_walker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AR(2) fit of daily revenue by Yule–Walker: lag-1/lag-2 Pearson
    autocorrelations from exact integer-cent moments, then
    φ₁ = r₁(1−r₂)/(1−r₁²), φ₂ = (r₂−r₁²)/(1−r₁²) — the closed-form
    autoregression that upgrades q_autocorr_lag1 from "is there
    memory?" to an actual one-step forecaster (x̂_{t+1} = φ₁x_t +
    φ₂x_{t−1} around the mean), still with zero iterative fitting.

    All ten moments are integer sums over the bounded daily rollup
    (single-partition window over an aggregate, never raw rows); r₁,
    r₂, φ₁, φ₂ are one closed-form double expression each with
    identical shape in both engines — bitwise, any scale."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(F.sum(_cents_col()).alias("cents"))
    w = Window.orderBy("day")
    lagged = daily.select(
        F.col("cents").alias("x"),
        F.lead("cents", 1).over(w).alias("y1"),
        F.lead("cents", 2).over(w).alias("y2"),
    ).filter(F.col("y2").isNotNull())

    def im(a, b):
        return (
            F.sum((F.col(a) * F.col(b)).cast("decimal(38,0)"))
            .cast("double")
        )

    mom = lagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("decimal(38,0)").cast("double").alias("sx"),
        im("x", "x").alias("sxx"),
        F.sum("y1").cast("decimal(38,0)").cast("double").alias("sy1"),
        im("y1", "y1").alias("sy1y1"),
        im("x", "y1").alias("sxy1"),
        F.sum("y2").cast("decimal(38,0)").cast("double").alias("sy2"),
        im("y2", "y2").alias("sy2y2"),
        im("x", "y2").alias("sxy2"),
    )
    n = F.col("n")
    r1 = (n * F.col("sxy1") - F.col("sx") * F.col("sy1")) / (
        F.sqrt(n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(n * F.col("sy1y1") - F.col("sy1") * F.col("sy1"))
    )
    r2 = (n * F.col("sxy2") - F.col("sx") * F.col("sy2")) / (
        F.sqrt(n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(n * F.col("sy2y2") - F.col("sy2") * F.col("sy2"))
    )
    r = mom.select(n.alias("n"), r1.alias("r1"), r2.alias("r2"))
    c1, c2 = F.col("r1"), F.col("r2")
    return r.select(
        F.col("n").alias("n_obs"),
        "r1",
        "r2",
        (c1 * (F.lit(1.0) - c2) / (F.lit(1.0) - c1 * c1)).alias("phi1"),
        ((c2 - c1 * c1) / (F.lit(1.0) - c1 * c1)).alias("phi2"),
    )


@_q(
    "q_burstiness",
    oracle="""
    WITH hourly AS (
      SELECT event_type, time_bucket(INTERVAL 1 HOUR, ts) AS h,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_hours,
           CAST(sum(c) AS BIGINT) AS n_events,
           (CAST(sum(c * c) AS DOUBLE)
            - CAST(sum(c) AS DOUBLE) * sum(c) / count(*))
             / CAST(sum(c) AS DOUBLE) AS fano_factor
    FROM hourly
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness of each event type as the Fano factor (index of
    dispersion) of hourly counts: variance/mean — 1 for a Poisson
    process, ≫1 for bursty traffic (thundering herds, retry storms),
    <1 for throttled/regular flows. The one-number answer to "is
    this stream Poisson enough for the capacity model?", computed
    per type next to q_anomaly_zscore's level alarms.

    The scan reduces to |types|×|hours| integer cells in one
    shuffle; counts and their squares are exact BIGINT sums
    (no rounding anywhere), and Fano = (Σc² − (Σc)²/n)/Σc is one
    closed-form expression over three integers per type."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    c = F.col("c")
    return (
        hourly.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_hours"),
            F.sum(c).cast("bigint").alias("n_events"),
            (
                (
                    F.sum(c * c).cast("double")
                    - F.sum(c).cast("double") * F.sum(c) / F.count(F.lit(1))
                )
                / F.sum(c).cast("double")
            ).alias("fano_factor"),
        )
        .orderBy("event_type")
    )


@_q(
    "q_forecast_eval",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(sum({_CENTS}) AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ),
    preds AS (
      SELECT day, cents,
             lag(cents, 1) OVER w AS p_naive,
             lag(cents, 7) OVER w AS p_snaive
      FROM daily WINDOW w AS (ORDER BY day)
    ),
    errs AS (
      SELECT m.model,
             CASE m.model WHEN 'naive' THEN p_naive
                          ELSE p_snaive END AS p,
             cents
      FROM preds, LATERAL (
        SELECT unnest(['naive', 'snaive7']) AS model) m
      WHERE CASE m.model WHEN 'naive' THEN p_naive
                         ELSE p_snaive END IS NOT NULL
    )
    SELECT model,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(abs(cents - p)) AS BIGINT) AS sum_abs_err_cents,
           CAST(sum(abs(cents - p)) AS DOUBLE) / count(*) / 100.0
             AS mae,
           CAST(sum(CAST(round(CAST(abs(cents - p) AS DOUBLE)
                               / cents, 6) AS DECIMAL(27,6)))
                AS DOUBLE) / count(*) AS mape
    FROM errs
    GROUP BY model
    ORDER BY model
    """,
)
def q_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast backtest: one-step-ahead MAE and MAPE of the naive
    (yesterday) and seasonal-naive (same weekday last week)
    predictors over the daily revenue series — the baseline table
    every forecasting effort must beat (if q_ar2_yule_walker or
    q_holt_winters can't beat snaive7, ship snaive7). Errors are
    exact integer cents; per-day MAPE terms round at 6 dp into
    DECIMAL sums. Windows run over the bounded daily rollup."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(F.sum(_cents_col()).alias("cents"))
    w = Window.orderBy("day")
    preds = daily.select(
        "cents",
        F.lag("cents", 1).over(w).alias("p_naive"),
        F.lag("cents", 7).over(w).alias("p_snaive"),
    )
    errs = preds.select(
        "cents",
        F.explode(
            F.array(
                F.struct(
                    F.lit("naive").alias("model"),
                    F.col("p_naive").alias("p"),
                ),
                F.struct(
                    F.lit("snaive7").alias("model"),
                    F.col("p_snaive").alias("p"),
                ),
            )
        ).alias("x"),
    ).select(
        F.col("x.model").alias("model"), F.col("x.p").alias("p"), "cents"
    ).filter(F.col("p").isNotNull())
    abs_err = F.abs(F.col("cents") - F.col("p"))
    return (
        errs.groupBy("model")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.sum(abs_err).cast("bigint").alias("sum_abs_err_cents"),
            (
                F.sum(abs_err).cast("double")
                / F.count(F.lit(1))
                / F.lit(100.0)
            ).alias("mae"),
            (
                F.sum(
                    F.round(
                        abs_err.cast("double") / F.col("cents"), 6
                    ).cast("decimal(27,6)")
                ).cast("double")
                / F.count(F.lit(1))
            ).alias("mape"),
        )
        .orderBy("model")
    )


@_q(
    "q_durbin_watson",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(sum({_CENTS}) AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ),
    idx AS (
      SELECT cents,
             CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t
      FROM daily
    ),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             {sql_dbig("sum(t)")} AS st,
             {sql_dbig("sum(cents)")} AS sy,
             {sql_dbig("sum(CAST(t * t AS DECIMAL(38,0)))")} AS stt,
             {sql_dbig("sum(CAST(t * cents AS DECIMAL(38,0)))")} AS sty
      FROM idx
    ),
    fit AS (
      SELECT n,
             (n * sty - st * sy) / (n * stt - st * st) AS b,
             (sy - (n * sty - st * sy) / (n * stt - st * st) * st) / n
               AS a
      FROM mom
    ),
    resid AS (
      SELECT i.t,
             i.cents - (f.a + f.b * i.t) AS e
      FROM idx i CROSS JOIN fit f
    ),
    micro AS (
      SELECT t, CAST(floor(e * 1000000) AS BIGINT) AS e6
      FROM resid
    ),
    lagged AS (
      SELECT e6, lag(e6) OVER (ORDER BY t) AS ep6 FROM micro
    )
    SELECT CAST(count(*) AS BIGINT) AS n_days,
           {sql_dbig("sum(CAST(e6 - ep6 AS DECIMAL(19,0))"
                     " * CAST(e6 - ep6 AS DECIMAL(19,0)))")}
             / {sql_dbig("sum(CAST(e6 AS DECIMAL(19,0))"
                         " * CAST(e6 AS DECIMAL(19,0)))")}
             AS durbin_watson
    FROM lagged WHERE ep6 IS NOT NULL
    """,
)
def q_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin–Watson statistic of the daily-revenue linear-trend
    residuals: DW = Σ(eₜ−eₜ₋₁)²/Σeₜ² (≈2 independent, →0 positive
    autocorrelation, →4 negative) — the regression diagnostic that
    says whether q_agg_linreg-style OLS standard errors can be
    trusted on time-ordered data, and the formal companion to
    q_autocorr_lag1 (DW ≈ 2(1−ρ₁) of the residuals).

    The trend fits in closed form from exact integer moments over
    the bounded daily rollup (split-cast to double — _exact.dbig);
    residuals quantize to integer micro-units with floor (tie-free:
    a 6-dp round() flipped one residual between engines at sf0.1),
    and both quadratic sums are exact decimal accumulations of
    integers, split-cast for the final ratio; the lag pairing is one
    bounded-series window. One double division at the end."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(F.sum(_cents_col()).alias("cents"))
    w = Window.orderBy("day")
    idx = daily.select(
        "cents", F.row_number().over(w).cast("bigint").alias("t")
    )
    mom = idx.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        dbig(F.sum("t").cast("decimal(38,0)")).alias("st"),
        dbig(F.sum("cents").cast("decimal(38,0)")).alias("sy"),
        dbig(
            F.sum((F.col("t") * F.col("t")).cast("decimal(38,0)")).cast(
                "decimal(38,0)"
            )
        ).alias("stt"),
        dbig(
            F.sum((F.col("t") * F.col("cents")).cast("decimal(38,0)")).cast(
                "decimal(38,0)"
            )
        ).alias("sty"),
    )
    n = F.col("n")
    b = F.try_divide(
        n * F.col("sty") - F.col("st") * F.col("sy"),
        n * F.col("stt") - F.col("st") * F.col("st"),
    )
    fit = mom.select(
        "n", b.alias("b"), ((F.col("sy") - b * F.col("st")) / n).alias("a")
    )
    resid = idx.crossJoin(F.broadcast(fit)).select(
        "t",
        (F.col("cents") - (F.col("a") + F.col("b") * F.col("t"))).alias("e"),
    )
    # floor-quantized micro-residuals (tie-free across engines);
    # squares multiply as DECIMAL(19,0) (exact at ~1e26). The 1e12
    # scale cancels in the ratio but the two big-integer double casts
    # do NOT: each drifts a ulp independently at sf0.1 (DuckDB's
    # int128->double is not correctly rounded), so numerator and
    # denominator go through the split cast (_exact.dbig)
    micro = resid.select(
        "t",
        F.floor(F.col("e") * 1000000).cast("bigint").alias("e6"),
    )
    wt = Window.orderBy("t")
    lagged = micro.select(
        "e6", F.lag("e6").over(wt).alias("ep6")
    ).filter(F.col("ep6").isNotNull())
    d = (F.col("e6") - F.col("ep6")).cast("decimal(19,0)")
    e6d = F.col("e6").cast("decimal(19,0)")
    num = dbig(F.sum(d * d).cast("decimal(38,0)"))
    den = dbig(F.sum(e6d * e6d).cast("decimal(38,0)"))
    return lagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        (num / den).alias("durbin_watson"),
    )


@_q(
    "q_peak_detection",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(sum({_CENTS}) AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ),
    nbr AS (
      SELECT day, cents,
             lag(cents) OVER w AS prev_c,
             lead(cents) OVER w AS next_c
      FROM daily WINDOW w AS (ORDER BY day)
    ),
    ranked AS (
      SELECT cents AS c,
             row_number() OVER (ORDER BY cents, day) AS rn,
             count(*) OVER () AS n
      FROM daily
    ),
    p90 AS (
      SELECT min(CASE WHEN rn * 10 >= n * 9 + 10 THEN c END) AS thr
      FROM ranked
    )
    SELECT nbr.day, nbr.cents, p90.thr AS p90_cents
    FROM nbr CROSS JOIN p90
    WHERE nbr.prev_c IS NOT NULL AND nbr.next_c IS NOT NULL
      AND nbr.cents > nbr.prev_c AND nbr.cents > nbr.next_c
      AND nbr.cents > p90.thr
    ORDER BY nbr.day
    """,
)
def q_peak_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Demand peaks: days that are strict local maxima of daily
    revenue AND above the exact nearest-rank p90 — the promotional-
    spike / flash-event finder whose output feeds capacity planning
    the way q_anomaly_seasonal's robust fences feed alerting (peaks
    are *wanted* outliers; the prominence threshold keeps weekday
    ripples out).

    All integer: cents, the neighbor comparisons, and the p90 via
    rank cross-multiplication over the bounded daily rollup. One
    window pass plus a 1-row threshold broadcast."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(F.sum(_cents_col()).alias("cents"))
    w = Window.orderBy("day")
    nbr = daily.select(
        "day",
        "cents",
        F.lag("cents").over(w).alias("prev_c"),
        F.lead("cents").over(w).alias("next_c"),
    )
    wr = Window.orderBy("cents", "day")
    ranked = daily.select(
        "cents",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    p90 = ranked.agg(
        F.min(
            F.when(
                F.col("rn") * 10 >= F.col("n") * 9 + 10, F.col("cents")
            )
        ).alias("thr")
    )
    return (
        nbr.crossJoin(F.broadcast(p90))
        .filter(
            F.col("prev_c").isNotNull()
            & F.col("next_c").isNotNull()
            & (F.col("cents") > F.col("prev_c"))
            & (F.col("cents") > F.col("next_c"))
            & (F.col("cents") > F.col("thr"))
        )
        .select("day", "cents", F.col("thr").alias("p90_cents"))
        .orderBy("day")
    )


@_q(
    "q_rolling_median",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                           AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ),
    wnd AS (
      SELECT day, cents,
             list_sort(list(cents) OVER (ORDER BY day
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS win
      FROM daily
    )
    SELECT day, cents,
           CAST(len(win) AS BIGINT) AS n_in_window,
           (CAST(win[(len(win) + 1) // 2] AS DOUBLE)
            + win[len(win) // 2 + 1]) / 2.0 AS med_cents
    FROM wnd
    ORDER BY day
    """,
)
def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling MEDIAN of daily revenue — the robust trend line
    (a single whale day drags a rolling mean for a week; the median
    shrugs it off). Median of each 7-value window = mean of the two
    middle order statistics of the sorted window, all integer cents
    until one final /2.0.

    The raw pass is one shuffle to daily cells; the rolling window
    then runs over the CALENDAR-BOUNDED daily spine (a few thousand
    rows for years of data — a statically bounded global window, the
    q_acf_multi class), with the 7-element sort as an in-row
    ``array_sort``, not a windowed sort."""
    o = load_table(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(cents).cast("bigint").alias("cents")
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    wnd = daily.select(
        "day",
        "cents",
        F.array_sort(F.collect_list("cents").over(w)).alias("win"),
    )
    n = F.size("win")
    lo = F.element_at("win", ((n + 1) / 2).cast("int"))
    hi = F.element_at("win", (n / 2).cast("int") + 1)
    return wnd.select(
        "day",
        "cents",
        n.cast("bigint").alias("n_in_window"),
        ((lo.cast("double") + hi) / 2.0).alias("med_cents"),
    ).orderBy("day")


_EMA_FAST, _EMA_SLOW = 0.5, 0.2


@_q(
    "q_ema_crossover",
    oracle=f"""
    WITH RECURSIVE daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                           AS BIGINT)) AS BIGINT) AS DOUBLE) AS c
      FROM orders GROUP BY 1
    ),
    series AS (
      SELECT list(c ORDER BY day) AS v, list(day ORDER BY day) AS d,
             CAST(count(*) AS BIGINT) AS n
      FROM daily
    ),
    fold AS (
      SELECT 1 AS i, v[1] AS f, v[1] AS s, 0 AS sgn,
             CAST(NULL AS VARCHAR) AS dir
      FROM series
      UNION ALL
      SELECT fo.i + 1,
             {_EMA_FAST} * se.v[fo.i + 1] + {1 - _EMA_FAST} * fo.f,
             {_EMA_SLOW} * se.v[fo.i + 1] + {1 - _EMA_SLOW} * fo.s,
             CASE WHEN {_EMA_FAST} * se.v[fo.i + 1] + {1 - _EMA_FAST} * fo.f
                       > {_EMA_SLOW} * se.v[fo.i + 1] + {1 - _EMA_SLOW} * fo.s
                  THEN 1
                  WHEN {_EMA_FAST} * se.v[fo.i + 1] + {1 - _EMA_FAST} * fo.f
                       < {_EMA_SLOW} * se.v[fo.i + 1] + {1 - _EMA_SLOW} * fo.s
                  THEN -1
                  ELSE fo.sgn END,
             CASE WHEN fo.sgn <> 0
                   AND (CASE WHEN {_EMA_FAST} * se.v[fo.i + 1]
                                  + {1 - _EMA_FAST} * fo.f
                                  > {_EMA_SLOW} * se.v[fo.i + 1]
                                  + {1 - _EMA_SLOW} * fo.s THEN 1
                             WHEN {_EMA_FAST} * se.v[fo.i + 1]
                                  + {1 - _EMA_FAST} * fo.f
                                  < {_EMA_SLOW} * se.v[fo.i + 1]
                                  + {1 - _EMA_SLOW} * fo.s THEN -1
                             ELSE fo.sgn END) <> fo.sgn
                  THEN (CASE WHEN {_EMA_FAST} * se.v[fo.i + 1]
                                  + {1 - _EMA_FAST} * fo.f
                                  > {_EMA_SLOW} * se.v[fo.i + 1]
                                  + {1 - _EMA_SLOW} * fo.s
                             THEN 'golden' ELSE 'death' END)
                  ELSE CAST(NULL AS VARCHAR) END
      FROM fold fo, series se WHERE fo.i < se.n
    )
    SELECT se.d[fo.i] AS day, fo.f AS ema_fast, fo.s AS ema_slow,
           fo.dir AS direction
    FROM fold fo, series se
    WHERE fo.dir IS NOT NULL
    ORDER BY day
    """,
)
def q_ema_crossover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMA crossover detection on daily revenue: a fast (α=0.5) and a
    slow (α=0.2) exponential moving average, emitting only the days the
    fast line crosses the slow one — 'golden' upward, 'death' downward
    (the trading-desk trend-flip alarm applied to a business KPI).
    Equal values carry the previous regime, so a flat spell can't
    oscillate.

    Genuinely sequential statistic, same discipline as q_holt_linear:
    one shuffle reduces raw orders to the calendar-bounded daily array,
    then BOTH recurrences thread through a single struct-accumulator
    ``aggregate`` fold (state = 2 EMAs + regime sign + the flip list),
    and the oracle replays the identical IEEE recurrence as a
    row-per-step recursive CTE — operand order matches term for term,
    so every emitted (day, fast, slow) hash-matches bitwise."""
    o = load_table(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(cents).cast("bigint").cast("double").alias("c")
    )
    series = daily.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(day, c))),"
            " s -> s.c)"
        ).alias("v"),
        F.expr(
            "transform(array_sort(collect_list(struct(day, c))),"
            " s -> s.day)"
        ).alias("d"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    a, b = _EMA_FAST, _EMA_SLOW
    f2 = f"{a} * element_at(v, i) + {1 - a} * acc.f"
    s2 = f"{b} * element_at(v, i) + {1 - b} * acc.s"
    sgn2 = (
        f"CASE WHEN {f2} > {s2} THEN 1"
        f" WHEN {f2} < {s2} THEN -1 ELSE acc.sgn END"
    )
    flip = (
        f"named_struct('i', i, 'f', {f2}, 's', {s2},"
        f" 'dir', IF({f2} > {s2}, 'golden', 'death'))"
    )
    fold = (
        f"aggregate(sequence(2, cast(n as int)),"
        f" named_struct("
        f"   'f', element_at(v, 1), 's', element_at(v, 1), 'sgn', 0,"
        f"   'out', cast(array() as"
        f"     array<struct<i:int,f:double,s:double,dir:string>>)),"
        f" (acc, i) -> named_struct("
        f"   'f', {f2}, 's', {s2}, 'sgn', {sgn2},"
        f"   'out', IF(acc.sgn <> 0 AND ({sgn2}) <> acc.sgn,"
        f"             concat(acc.out, array({flip})), acc.out)))"
    )
    # sub-2-day series (or a zero-match slice): no crossover can
    # exist — skip the fold (whose seed element_at / descending
    # sequence(2, n) would error) and explode an empty flip list
    out = (
        f"CASE WHEN n >= 2 THEN ({fold}).out ELSE"
        f" cast(array() as"
        f" array<struct<i:int,f:double,s:double,dir:string>>) END"
    )
    flips = series.select("d", F.explode(F.expr(out)).alias("x"))
    return flips.select(
        F.element_at("d", F.col("x.i")).alias("day"),
        F.col("x.f").alias("ema_fast"),
        F.col("x.s").alias("ema_slow"),
        F.col("x.dir").alias("direction"),
    ).orderBy("day")


@_q(
    "q_changepoint_cusum",
    oracle="""
    WITH RECURSIVE daily AS (
      SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(c) AS BIGINT) AS s1,
             CAST(sum(c * c) AS BIGINT) AS s2
      FROM daily
    ),
    params AS (
      SELECT n, CAST(s1 AS DOUBLE) / n AS mean,
             sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)) / n AS sigma
      FROM m
    ),
    series AS (
      SELECT list(CAST(c AS DOUBLE) ORDER BY day) AS v,
             list(day ORDER BY day) AS d,
             CAST(count(*) AS BIGINT) AS n_days
      FROM daily
    ),
    fold AS (
      SELECT 1 AS i,
             greatest(CAST(0.0 AS DOUBLE),
                      se.v[1] - p.mean - 0.5 * p.sigma) AS s
      FROM series se, params p
      UNION ALL
      SELECT f.i + 1,
             greatest(CAST(0.0 AS DOUBLE),
                      f.s + (se.v[f.i + 1] - p.mean - 0.5 * p.sigma))
      FROM fold f, series se, params p
      WHERE f.i < se.n_days
    )
    SELECT se.d[f.i] AS day, f.s AS cusum,
           f.s > 4.0 * p.sigma AS alarm
    FROM fold f, series se, params p
    WHERE f.s > 0.0
    ORDER BY day
    """,
)
def q_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM changepoint detection on the daily event-count
    series: S_t = max(0, S_{t−1} + (x_t − μ − ½σ)); every day with
    accumulating evidence (S_t > 0) is emitted, with an ``alarm`` flag
    at the 4σ decision boundary — the classic drift detector that
    catches a sustained small level shift long before a per-day
    z-score fence (q_anomaly_zscore) fires, and the full S-path (not
    just alarms) is what gets plotted to watch the drift build. μ/σ
    come from exact integer moments of the daily counts (one sqrt
    each engine, identical expression).

    Sequential by nature — same discipline as q_ema_crossover: raw
    events reduce to the calendar-bounded daily array in one shuffle,
    the recurrence folds through a struct accumulator engine-side, and
    the oracle replays the identical IEEE recurrence as a row-per-step
    recursive CTE; every alarm (day, S) hash-matches bitwise."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    daily = pin(daily)
    m = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("s2"),
    )
    params = m.select(
        (F.col("s1").cast("double") / F.col("n")).alias("mean"),
        (
            F.sqrt((F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")).cast("double"))
            / F.col("n")
        ).alias("sigma"),
    )
    series = daily.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(day, c))),"
            " s -> cast(s.c as double))"
        ).alias("v"),
        F.expr(
            "transform(array_sort(collect_list(struct(day, c))),"
            " s -> s.day)"
        ).alias("d"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
    )
    joined = series.crossJoin(F.broadcast(params))
    step = "greatest(cast(0.0 as double), acc.s + (element_at(v, i) - mean - 0.5 * sigma))"
    fold = (
        # IF-guard: sequence(2, 1) is DESCENDING in Spark, so a 1-day
        # series must fold over an empty step list, not [2, 1]
        f"aggregate(IF(n_days >= 2, sequence(2, cast(n_days as int)),"
        f"           cast(array() as array<int>)),"
        f" named_struct("
        f"   's', greatest(cast(0.0 as double),"
        f"        element_at(v, 1) - mean - 0.5 * sigma),"
        f"   'out', IF(greatest(cast(0.0 as double),"
        f"             element_at(v, 1) - mean - 0.5 * sigma) > 0.0,"
        f"         array(named_struct('i', 1,"
        f"           'sv', greatest(cast(0.0 as double),"
        f"                 element_at(v, 1) - mean - 0.5 * sigma))),"
        f"         cast(array() as array<struct<i:int,sv:double>>))),"
        f" (acc, i) -> named_struct("
        f"   's', {step},"
        f"   'out', IF({step} > 0.0,"
        f"             concat(acc.out, array(named_struct('i', i, 'sv', {step}))),"
        f"             acc.out)))"
    )
    # empty series: no S-path — skip the fold (its seed element_at
    # would error on the empty day array) and emit zero rows
    out = (
        f"CASE WHEN n_days >= 1 THEN ({fold}).out ELSE"
        f" cast(array() as array<struct<i:int,sv:double>>) END"
    )
    flips = joined.select(
        "d", "sigma", F.explode(F.expr(out)).alias("x")
    )
    return flips.select(
        F.element_at("d", F.col("x.i")).alias("day"),
        F.col("x.sv").alias("cusum"),
        (F.col("x.sv") > 4.0 * F.col("sigma")).alias("alarm"),
    ).orderBy("day")


@_q(
    "q_twap_daily",
    oracle="""
    WITH seq AS (
      SELECT CAST(ts AS DATE) AS day,
             epoch_us(ts) AS us,
             CAST(CAST(round(value, 6) AS DECIMAL(27,6)) * 1000000
                  AS BIGINT) AS v_micro,
             lead(epoch_us(ts)) OVER (PARTITION BY CAST(ts AS DATE)
                                      ORDER BY ts, event_id) AS next_us
      FROM events
    ),
    segs AS (
      SELECT day,
             CAST(v_micro AS DECIMAL(38,0)) * (next_us - us) AS wv,
             next_us - us AS w
      FROM seq WHERE next_us IS NOT NULL
    )
    SELECT day,
           CAST(count(*) + 1 AS BIGINT) AS n_events,
           CAST(sum(w) AS BIGINT) AS span_us,
           CAST(CAST(sum(wv) AS DECIMAL(38,0)) AS DOUBLE) / 1000000.0
             / CAST(sum(w) AS DOUBLE) AS twap
    FROM segs
    GROUP BY day
    HAVING sum(w) > 0
    ORDER BY day
    """,
)
def q_twap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of the event ``value`` per day — the
    irregular-sampling mean every monitoring/finance pipeline needs
    instead of the naive row mean (a value that held for 6 hours
    should weigh 6 hours, not 1 row). Each value is weighted by the
    microseconds until the NEXT same-day event (a right-open step
    function); days whose events all share one timestamp drop (zero
    span).

    Exactness: weights are integer microseconds from one lead() over
    the (day)-partitioned timeline; values quantize to INTEGER 6-dp
    micro-units (value·1e6 as BIGINT), so every weighted product and
    the day sums are exact INTEGER-valued decimals — the int128
    fractional-decimal→double drift class cannot occur (caught here
    at first verify: a DECIMAL(38,6) sum whose internal integer
    exceeds 2^53 converts to double differently across engines) —
    and the double appears only in the final division chain. One
    shuffle on day; state per group is two accumulators."""
    ev = load_table(spark, sf_dir, "events")
    w_day = Window.partitionBy(F.col("ts").cast("date")).orderBy(
        "ts", "event_id"
    )
    seq = ev.select(
        F.col("ts").cast("date").alias("day"),
        F.unix_micros("ts").alias("us"),
        (F.round("value", 6).cast("decimal(27,6)") * 1000000)
        .cast("bigint")
        .alias("v_micro"),
        F.lead(F.unix_micros("ts")).over(w_day).alias("next_us"),
    )
    segs = seq.filter(F.col("next_us").isNotNull()).select(
        "day",
        (
            F.col("v_micro").cast("decimal(38,0)")
            * (F.col("next_us") - F.col("us"))
        ).alias("wv"),
        (F.col("next_us") - F.col("us")).alias("w"),
    )
    return (
        segs.groupBy("day")
        .agg(
            (F.count(F.lit(1)) + 1).cast("bigint").alias("n_events"),
            F.sum("w").cast("bigint").alias("span_us"),
            (
                F.sum("wv").cast("decimal(38,0)").cast("double")
                / F.lit(1000000.0)
                / F.sum("w").cast("double")
            ).alias("twap"),
        )
        .filter(F.col("span_us") > 0)
        .orderBy("day")
    )
