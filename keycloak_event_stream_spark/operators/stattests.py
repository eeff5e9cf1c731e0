"""Distributional statistics and hypothesis tests as exact relational
programs: Kolmogorov–Smirnov, Gini, chi-square, Shannon entropy, KL
divergence.

North-star surface (the reference computes no statistics at all,
SURVEY.md §2.2): corpus drift detection (KS/KL), concentration audits
(Gini), independence checks (chi-square) and diversity profiling
(entropy) are the monitoring layer of a 100 TB training-data pipeline.

The determinism playbook (what makes these oracle-checkable bitwise):

- KS: the statistic is a *maximum of integer cross-products* —
  ``max |cum1·m − cum2·n|`` over the merged ECDF — divided once at the
  end; no floating accumulation at all.
- Gini: rank-weighted sums in exact integer cents, one final scalar
  expression in double.
- chi-square / entropy / KL: per-cell double contributions are
  deterministic scalar math, but *engine-summed doubles are
  order-dependent* — so each contribution is rounded to 6 decimals and
  summed in DECIMAL (the q_tfidf/q_bm25 discipline), which is exact
  and order-independent.

Scale: every statistic reduces by group-by/window over aggregated
cells (|distinct values| or |groups| rows, never raw-row state);
the raw-data pass is one shuffle each.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from keycloak_event_stream_spark.catalog import (
    bounded_eval_scope,
    footer_rows,
    load_table,
    pin,
    pin_scope,
    spread,
)
from keycloak_event_stream_spark.operators._exact import dbig, sql_dbig
from keycloak_event_stream_spark.operators._scale import (
    two_phase_window,
)
from keycloak_event_stream_spark.registry import register as _q


@_q(
    "q_ks_test",
    oracle="""
    WITH s AS (
      SELECT value,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS in1,
             CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS in2
      FROM events WHERE event_type IN ('click', 'view')
    ), pts AS (
      SELECT value, CAST(sum(in1) AS BIGINT) AS c1,
             CAST(sum(in2) AS BIGINT) AS c2
      FROM s GROUP BY value
    ), ecdf AS (
      SELECT CAST(sum(c1) OVER (ORDER BY value) AS BIGINT) AS cum1,
             CAST(sum(c2) OVER (ORDER BY value) AS BIGINT) AS cum2,
             CAST(sum(c1) OVER () AS BIGINT) AS n,
             CAST(sum(c2) OVER () AS BIGINT) AS m
      FROM pts
    )
    SELECT max(n) AS n_click, max(m) AS n_view,
           CAST(max(abs(cum1 * m - cum2 * n)) AS BIGINT) AS d_numer,
           CAST(max(abs(cum1 * m - cum2 * n)) AS DOUBLE)
             / (max(n) * max(m)) AS ks_d
    FROM ecdf
    """,
)
def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic between the ``value``
    distributions of click vs view events — computed *exactly*.

    D = max|F₁(x) − F₂(x)| evaluated on the merged ECDF: per distinct
    value the two cumulative counts, and the supremum of
    ``|cum1·m − cum2·n|`` — an integer, divided by n·m once at the
    end. No floating-point accumulation anywhere, so the statistic is
    identical in any engine at any parallelism (ties handled by
    grouping equal values before the cumsum). Shape: one aggregate to
    |distinct values| cells, one ordered window over the cells, one
    max — the raw scan shuffles once.
    """
    ev = load_table(spark, sf_dir, "events")
    s = ev.filter(F.col("event_type").isin("click", "view")).select(
        "value",
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("in1"),
        F.when(F.col("event_type") == "view", 1).otherwise(0).alias("in2"),
    )
    pts = s.groupBy("value").agg(
        F.sum("in1").cast("bigint").alias("c1"),
        F.sum("in2").cast("bigint").alias("c2"),
    )
    # two-phase cumsum over the distinct-value cells + broadcast
    # totals — the merged ECDF without a single-partition sort.
    # Round-12 (guide §2.3): n/m now fold out of the k per-partition
    # sums two_phase_window already aggregates (totals=) instead of a
    # with_totals() pass that re-aggregated the whole ecdf subtree —
    # one full pass over the cells and two stages gone; the integer
    # totals are identical (addition reassociated only).
    ecdf = two_phase_window(
        pts,
        [F.col("value")],
        cumsum={"cum1": "c1", "cum2": "c2"},
        totals={"n": "c1", "m": "c2"},
    ).select(
        F.col("cum1").cast("bigint").alias("cum1"),
        F.col("cum2").cast("bigint").alias("cum2"),
        F.col("n").cast("bigint").alias("n"),
        F.col("m").cast("bigint").alias("m"),
    )
    d_num = F.max(
        F.abs(F.col("cum1") * F.col("m") - F.col("cum2") * F.col("n"))
    )
    return ecdf.agg(
        F.max("n").alias("n_click"),
        F.max("m").alias("n_view"),
        d_num.cast("bigint").alias("d_numer"),
        (d_num.cast("double") / (F.max("n") * F.max("m"))).alias("ks_d"),
    )


@_q(
    "q_gini",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey,
             CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                           AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ), ranked AS (
      SELECT cents,
             row_number() OVER (ORDER BY cents, o_custkey) AS i
      FROM per_cust
    )
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS total_cents,
           2.0 * CAST(sum(CAST(i * cents AS DECIMAL(38,0))) AS DOUBLE)
             / (count(*) * CAST(sum(cents) AS DOUBLE))
             - CAST(count(*) + 1 AS DOUBLE) / count(*) AS gini
    FROM ranked
    """,
)
def q_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue concentration — the
    companion number to q_pareto_abc, computed exactly.

    G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over ascending-sorted revenues.
    Revenue is integer cents, the rank-weighted sum runs in
    DECIMAL(38,0) (exact — i·x products reach ~10¹⁶ at sf0.1), and
    the closed form touches floating point exactly once per operand.
    The rank window orders the *per-customer rollup* with a total
    order (cents, custkey) — same aggregate-before-window posture as
    the other global-rank operators.
    """
    orders = load_table(spark, sf_dir, "orders")
    cents_expr = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast(
        "bigint"
    )
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(cents_expr).alias("cents")
    )
    ranked = two_phase_window(
        per_cust, [F.col("cents"), F.col("o_custkey")], row_number="i"
    ).select("cents", "i")
    n = F.count(F.lit(1))
    total = F.sum("cents").cast("bigint")
    s_iw = F.sum(
        (F.col("i") * F.col("cents")).cast("decimal(38,0)")
    ).cast("double")
    gini = (
        F.lit(2.0) * s_iw / (n * F.sum("cents").cast("double"))
        - (n + F.lit(1)).cast("double") / n
    )
    return ranked.agg(
        n.cast("bigint").alias("n"),
        total.alias("total_cents"),
        gini.alias("gini"),
    )


@_q(
    "q_chi_square",
    oracle="""
    WITH cells AS (
      SELECT event_type, user_id % 2 AS seg, count(*) AS o
      FROM events GROUP BY 1, 2
    ), tot AS (
      SELECT event_type, seg, o,
             CAST(sum(o) OVER (PARTITION BY event_type) AS BIGINT) AS rt,
             CAST(sum(o) OVER (PARTITION BY seg) AS BIGINT) AS ct,
             CAST(sum(o) OVER () AS BIGINT) AS g
      FROM cells
    ), contrib AS (
      SELECT round(
               pow(o - CAST(rt AS DOUBLE) * ct / g, 2)
                 / (CAST(rt AS DOUBLE) * ct / g), 6) AS c
      FROM tot
    )
    SELECT CAST((SELECT count(*) FROM cells) AS BIGINT) AS n_cells,
           CAST(sum(CAST(c AS DECIMAL(27,6))) AS DOUBLE) AS chi2
    FROM contrib
    """,
)
def q_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test: event type vs user segment
    (even/odd). Expected counts come from integer marginals, each
    cell's contribution is deterministic scalar double math — and the
    cross-cell sum is the dangerous part: engine-summed doubles are
    order-dependent, so contributions are rounded to 6 decimals and
    summed in DECIMAL (exact, order-independent — the q_tfidf
    discipline). One shuffle to the contingency cells; the window
    marginals run over |cells| rows.
    """
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type", (F.col("user_id") % 2).alias("seg")
    ).agg(F.count(F.lit(1)).alias("o"))
    tot = cells.select(
        "o",
        F.sum("o")
        .over(Window.partitionBy("event_type"))
        .cast("bigint")
        .alias("rt"),
        F.sum("o").over(Window.partitionBy("seg")).cast("bigint").alias(
            "ct"
        ),
        F.sum("o").over(Window.partitionBy()).cast("bigint").alias("g"),
    )
    e = F.col("rt").cast("double") * F.col("ct") / F.col("g")
    contrib = tot.select(
        F.round(F.pow(F.col("o") - e, 2) / e, 6).alias("c")
    )
    n_cells = cells.count()
    return contrib.agg(
        F.lit(n_cells).cast("bigint").alias("n_cells"),
        F.sum(F.col("c").cast("decimal(27,6)")).cast("double").alias(
            "chi2"
        ),
    )


@_q(
    "q_entropy_sources",
    oracle="""
    WITH cells AS (
      SELECT source, lang, count(*) AS c FROM documents GROUP BY 1, 2
    ), p AS (
      SELECT source, lang, c,
             CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS t
      FROM cells
    )
    SELECT source,
           CAST(max(t) AS BIGINT) AS n_docs,
           count(*) AS n_langs,
           CAST(sum(CAST(round(-(CAST(c AS DOUBLE) / t)
                                * ln(CAST(c AS DOUBLE) / t), 6)
                         AS DECIMAL(27,6))) AS DOUBLE) AS entropy_nats
    FROM p GROUP BY source ORDER BY source
    """,
)
def q_entropy_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (nats) of each source's language mix — the
    corpus-diversity profile a multilingual training pipeline monitors
    per ingest source.

    p = c/t from integer counts (deterministic division), the −p·ln p
    terms rounded to 6 decimals before the DECIMAL sum (Spark and
    DuckDB libm ``ln`` agree except ~5% last-ulp cases — rounding
    absorbs them; the discipline pinned by q_tfidf). Aggregation
    collapses to |source × lang| cells first.
    """
    d = load_table(spark, sf_dir, "documents")
    cells = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("c"))
    p = cells.select(
        "source",
        "c",
        F.sum("c")
        .over(Window.partitionBy("source"))
        .cast("bigint")
        .alias("t"),
    )
    frac = F.col("c").cast("double") / F.col("t")
    term = F.round(-frac * F.log(frac), 6)
    return (
        p.groupBy("source")
        .agg(
            F.max("t").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).alias("n_langs"),
            F.sum(term.cast("decimal(27,6)")).cast("double").alias(
                "entropy_nats"
            ),
        )
        .orderBy("source")
    )


@_q(
    "q_kl_divergence",
    oracle="""
    WITH gdist AS (
      SELECT lang, count(*) AS gc FROM documents GROUP BY 1
    ), gtot AS (SELECT CAST(sum(gc) AS BIGINT) AS g FROM gdist),
    cells AS (
      SELECT source, lang, count(*) AS c FROM documents GROUP BY 1, 2
    ), p AS (
      SELECT s.source, s.c,
             CAST(sum(s.c) OVER (PARTITION BY s.source) AS BIGINT) AS t,
             gl.gc, gt.g
      FROM cells s JOIN gdist gl ON gl.lang = s.lang CROSS JOIN gtot gt
    )
    SELECT source,
           CAST(sum(CAST(round((CAST(c AS DOUBLE) / t)
                                * ln((CAST(c AS DOUBLE) / t)
                                     / (CAST(gc AS DOUBLE) / g)), 6)
                         AS DECIMAL(27,6))) AS DOUBLE) AS kl_nats
    FROM p GROUP BY source ORDER BY source
    """,
)
def q_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL divergence of each source's language mix from the corpus
    mix — the drift score that flags an ingest source whose
    distribution departs from the whole (the practical monitor for
    training-mix regressions).

    KL(P‖Q) = Σ p·ln(p/q); P has support ⊆ Q's by construction (every
    source cell contributes to the global marginal, so q > 0 wherever
    p > 0 — no smoothing needed). Same determinism treatment as
    entropy: integer-count ratios, 6-dp rounding before the DECIMAL
    sum. The global marginal is tiny and broadcasts into the per-cell
    join.
    """
    d = load_table(spark, sf_dir, "documents")
    glob = d.groupBy("lang").agg(F.count(F.lit(1)).alias("gc"))
    gtot = glob.agg(F.sum("gc").cast("bigint").alias("g"))
    cells = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("c"))
    p = (
        cells.join(F.broadcast(glob), "lang")
        .crossJoin(F.broadcast(gtot))
        .select(
            "source",
            "c",
            F.sum("c")
            .over(Window.partitionBy("source"))
            .cast("bigint")
            .alias("t"),
            "gc",
            "g",
        )
    )
    frac = F.col("c").cast("double") / F.col("t")
    qfrac = F.col("gc").cast("double") / F.col("g")
    term = F.round(frac * F.log(frac / qfrac), 6)
    return (
        p.groupBy("source")
        .agg(
            F.sum(term.cast("decimal(27,6)")).cast("double").alias(
                "kl_nats"
            )
        )
        .orderBy("source")
    )


@_q(
    "q_agg_linreg",
    oracle="""
    WITH cents AS (
      SELECT l_returnflag,
             CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS xi,
             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS yi
      FROM lineitem
    ), m AS (
      SELECT l_returnflag,
             count(*) AS n,
             CAST(sum(xi) AS DOUBLE) AS sx,
             CAST(sum(yi) AS DOUBLE) AS sy,
             CAST(sum(CAST(xi * xi AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(xi * yi AS DECIMAL(38,0))) AS DOUBLE) AS sxy
      FROM cents GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
           (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
             AS intercept_cents
    FROM m ORDER BY l_returnflag
    """,
)
def q_agg_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS regression (extended price on quantity) from the
    same exact integer-cent moments as q_agg_corr — slope and
    intercept as deterministic closed forms, bitwise across engines.

    Engines ship ``regr_slope``/``regr_intercept``, but like ``corr``
    they accumulate co-moments in floating point and can never
    cross-match; the moment sums here are exact integers. Note the
    intercept is in *cents* (the x/y scaling cancels in the slope but
    not the intercept — a unit honesty the docstring pins). One
    shuffle, closed-form scalar math above it.
    """
    li = load_table(spark, sf_dir, "lineitem")
    xi = (F.col("l_quantity").cast("decimal(18,2)") * 100).cast("bigint")
    yi = (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast(
        "bigint"
    )
    cents = li.select("l_returnflag", xi.alias("xi"), yi.alias("yi"))
    c_xi, c_yi = F.col("xi"), F.col("yi")
    m = cents.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(c_xi).cast("double").alias("sx"),
        F.sum(c_yi).cast("double").alias("sy"),
        F.sum((c_xi * c_xi).cast("decimal(38,0)")).cast("double").alias(
            "sxx"
        ),
        F.sum((c_xi * c_yi).cast("decimal(38,0)")).cast("double").alias(
            "sxy"
        ),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, sxy = F.col("sxx"), F.col("sxy")
    slope = F.try_divide(n * sxy - sx * sy, n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n
    return m.select(
        "l_returnflag",
        "n",
        slope.alias("slope"),
        intercept.alias("intercept_cents"),
    ).orderBy("l_returnflag")


@_q(
    "q_benford",
    oracle="""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                                   * 100 AS BIGINT) AS VARCHAR),
                         1, 1) AS INTEGER) AS d
      FROM orders WHERE o_totalprice > 0
    ), obs AS (
      SELECT d, count(*) AS c FROM digits GROUP BY d
    ), tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM obs)
    SELECT o.d AS digit, o.c AS observed,
           CAST(o.c AS DOUBLE) / t.n AS observed_p,
           ln(1.0 + 1.0 / o.d) / ln(10.0) AS benford_p,
           abs(CAST(o.c AS DOUBLE) / t.n
               - ln(1.0 + 1.0 / o.d) / ln(10.0)) AS abs_dev
    FROM obs o CROSS JOIN tot t
    ORDER BY o.d
    """,
)
def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit profile of order totals — the fraud /
    synthetic-data smell test (fabricated amounts rarely follow the
    log-uniform digit law).

    The leading digit comes from the *integer cents* string (never
    from double formatting — engine float→string rules differ);
    observed shares are integer-count ratios and the Benford
    expectation ln(1+1/d)/ln(10) is deterministic scalar math, so
    every column hash-matches bitwise. One aggregate to 9 cells.
    """
    orders = load_table(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast(
        "bigint"
    )
    digits = orders.filter(F.col("o_totalprice") > 0).select(
        F.substring(cents.cast("string"), 1, 1).cast("int").alias("d")
    )
    obs = digits.groupBy("d").agg(F.count(F.lit(1)).alias("c"))
    tot = obs.agg(F.sum("c").cast("bigint").alias("n"))
    benford_p = F.log(1.0 + 1.0 / F.col("d")) / F.log(F.lit(10.0))
    obs_p = F.col("c").cast("double") / F.col("n")
    return (
        obs.crossJoin(F.broadcast(tot))
        .select(
            F.col("d").alias("digit"),
            F.col("c").alias("observed"),
            obs_p.alias("observed_p"),
            benford_p.alias("benford_p"),
            F.abs(obs_p - benford_p).alias("abs_dev"),
        )
        .orderBy("digit")
    )


@_q(
    "q_outlier_iqr",
    oracle="""
    WITH ranked AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events
    ), quarts AS (
      SELECT event_type,
             min(CASE WHEN rn * 4 >= n + 1 THEN value END) AS q1,
             min(CASE WHEN rn * 4 >= 3 * (n + 1) THEN value END) AS q3
      FROM ranked GROUP BY event_type
    )
    SELECT r.event_type,
           CAST(count(*) AS BIGINT) AS n_outliers,
           min(r.value) AS min_outlier,
           max(r.value) AS max_outlier
    FROM ranked r JOIN quarts q ON q.event_type = r.event_type
    WHERE r.value < q.q1 - 1.5 * (q.q3 - q.q1)
       OR r.value > q.q3 + 1.5 * (q.q3 - q.q1)
    GROUP BY r.event_type ORDER BY r.event_type
    """,
)
def q_outlier_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outliers per event type: values beyond
    Q1 − 1.5·IQR / Q3 + 1.5·IQR.

    Quartiles via *nearest-rank-above* arithmetic (``rn·4 ≥ k(n+1)``,
    integer cross-multiplication — the q_winsorize discipline; engine
    percentile interpolation can never cross-match), so the quartile
    is an actual data value and the fence expression is deterministic
    scalar math on it. Complements q_anomaly_zscore with the
    rank-based (distribution-free) detector. Scale shape (round 11):
    the quartiles come from grouped_value_counts (histogram +
    two-phase running count; 19.2x -> linear at the 100x leg) instead
    of a per-row rank window that ran one task per event type;
    fences broadcast back onto the row scan as before.
    """
    from keycloak_event_stream_spark.operators._scale import (
        grouped_value_counts,
    )

    ev = load_table(spark, sf_dir, "events")
    h = grouped_value_counts(
        ev.select("event_type", "value"), ["event_type"], "value"
    )
    quarts = h.groupBy("event_type").agg(
        F.min(
            F.when(F.col("cum") * 4 >= F.col("n") + 1, F.col("value"))
        ).alias("q1"),
        F.min(
            F.when(
                F.col("cum") * 4 >= 3 * (F.col("n") + 1), F.col("value")
            )
        ).alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    joined = ev.join(F.broadcast(quarts), "event_type")
    return (
        joined.filter(
            (F.col("value") < F.col("q1") - 1.5 * iqr)
            | (F.col("value") > F.col("q3") + 1.5 * iqr)
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_outliers"),
            F.min("value").alias("min_outlier"),
            F.max("value").alias("max_outlier"),
        )
        .orderBy("event_type")
    )


@_q(
    "q_mad",
    oracle="""
    WITH ranked AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events
    ), med AS (
      SELECT event_type,
             min(CASE WHEN rn * 2 >= n + 1 THEN value END) AS median
      FROM ranked GROUP BY event_type
    ), dev AS (
      SELECT e.event_type, abs(e.value - m.median) AS d, e.event_id
      FROM events e JOIN med m ON m.event_type = e.event_type
    ), dranked AS (
      SELECT event_type, d,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY d, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM dev
    )
    SELECT dr.event_type,
           max(m.median) AS median,
           min(CASE WHEN dr.rn * 2 >= dr.n + 1 THEN dr.d END) AS mad
    FROM dranked dr JOIN med m ON m.event_type = dr.event_type
    GROUP BY dr.event_type ORDER BY dr.event_type
    """,
)
def q_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per event type — the robust scale
    estimate (50% breakdown point vs 0% for the standard deviation),
    computed as two nested *exact* medians.

    Both medians use nearest-rank-above arithmetic (``2·cum ≥ n+1``,
    integer cross-multiplication — no interpolation, so the result is
    an actual data value and bitwise portable), each selected from
    grouped_value_counts (histogram + two-phase running count; round
    11 — the per-row rank windows ran one task per event type,
    31.2x at the 100x leg, now linear). The deviation pass re-joins
    the per-type median (broadcast, |types| rows) onto the row scan;
    at 100 TB the drop-in approximation is per-type t-digest
    quantiles (cf. q_sketch_quantiles), with this exact form as its
    audit.
    """
    from keycloak_event_stream_spark.operators._scale import (
        grouped_value_counts,
    )

    ev = load_table(spark, sf_dir, "events")
    hv = grouped_value_counts(
        ev.select("event_type", "value"), ["event_type"], "value"
    )
    med = hv.groupBy("event_type").agg(
        F.min(
            F.when(F.col("cum") * 2 >= F.col("n") + 1, F.col("value"))
        ).alias("median")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        F.abs(F.col("value") - F.col("median")).alias("d"),
    )
    hd = grouped_value_counts(dev, ["event_type"], "d")
    return (
        hd.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("median").alias("median"),
            F.min(
                F.when(F.col("cum") * 2 >= F.col("n") + 1, F.col("d"))
            ).alias("mad"),
        )
        .orderBy("event_type")
    )


@_q(
    "q_spearman",
    oracle="""
    WITH cents AS (
      SELECT l_returnflag,
             CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
      FROM lineitem
    ), ranked AS (
      SELECT l_returnflag,
             2 * rank() OVER (PARTITION BY l_returnflag ORDER BY x)
               + count(*) OVER (PARTITION BY l_returnflag, x) - 1 AS rx,
             2 * rank() OVER (PARTITION BY l_returnflag ORDER BY y)
               + count(*) OVER (PARTITION BY l_returnflag, y) - 1 AS ry
      FROM cents
    ), m AS (
      SELECT l_returnflag,
             count(*) AS n,
             CAST(sum(rx) AS DOUBLE) AS sx,
             CAST(sum(ry) AS DOUBLE) AS sy,
             CAST(sum(CAST(rx * rx AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(ry * ry AS DECIMAL(38,0))) AS DOUBLE) AS syy,
             CAST(sum(CAST(rx * ry AS DECIMAL(38,0))) AS DOUBLE) AS sxy
      FROM ranked GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           (n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
             AS spearman_rho
    FROM m ORDER BY l_returnflag
    """,
)
def q_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation per return flag — Pearson over
    tie-averaged ranks, held exact end-to-end.

    The fractional average rank for a tie group is avoided by doubling:
    ``2·rank() + tie_count − 1`` IS twice the average rank, an integer
    computable per distinct VALUE: with cum the inclusive running
    count and cnt the tie count of a value, rank = cum − cnt + 1, so
    the double-rank is ``2·cum − cnt + 1``. The doubling cancels in
    the closed form, so rho is Pearson over integer "double-ranks"
    with the exact integer-moment discipline of q_agg_corr
    (DECIMAL(38,0) sums, one cast to double). Scale shape (round 11):
    the per-row rank windows partitioned by the 3 return flags ran
    one WindowExec task per flag — 64.5x (195 s) at the 100x leg, the
    probe's worst. The double-rank is value-determined, so it now
    comes from grouped_value_counts maps joined back onto the rows:
    the x map is ~150 rows (50 quantities × 3 flags, broadcast), the
    y map is value-distinct-sized (hash-parallel shuffle join) — no
    skewed sort anywhere, 100x leg ~13 s (4.4x).
    """
    from keycloak_event_stream_spark.operators._scale import (
        grouped_value_counts,
    )

    li = load_table(spark, sf_dir, "lineitem")
    x = (F.col("l_quantity").cast("decimal(18,2)") * 100).cast("bigint")
    y = (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast("bigint")
    cents = li.select("l_returnflag", x.alias("x"), y.alias("y"))
    r2 = 2 * F.col("cum") - F.col("cnt") + 1
    rx_map = grouped_value_counts(
        cents.select("l_returnflag", "x"), ["l_returnflag"], "x"
    ).select("l_returnflag", "x", r2.alias("rx"))
    ry_map = grouped_value_counts(
        cents.select("l_returnflag", "y"), ["l_returnflag"], "y"
    ).select("l_returnflag", "y", r2.alias("ry"))
    ranked = (
        cents.join(rx_map, ["l_returnflag", "x"])
        .join(ry_map, ["l_returnflag", "y"])
        .select("l_returnflag", "rx", "ry")
    )
    c_rx, c_ry = F.col("rx"), F.col("ry")
    m = ranked.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(c_rx).cast("double").alias("sx"),
        F.sum(c_ry).cast("double").alias("sy"),
        F.sum((c_rx * c_rx).cast("decimal(38,0)")).cast("double").alias("sxx"),
        F.sum((c_ry * c_ry).cast("decimal(38,0)")).cast("double").alias("syy"),
        F.sum((c_rx * c_ry).cast("decimal(38,0)")).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    rho = F.try_divide(
        n * sxy - sx * sy,
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy),
    )
    return m.select("l_returnflag", "n", rho.alias("spearman_rho")).orderBy(
        "l_returnflag"
    )


@_q(
    "q_mannwhitney",
    oracle="""
    WITH s AS (
      SELECT value, CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS in1
      FROM events WHERE event_type IN ('click', 'view')
    ), ranked AS (
      SELECT in1,
             2 * rank() OVER (ORDER BY value)
               + count(*) OVER (PARTITION BY value) - 1 AS r2,
             count(*) OVER (PARTITION BY value) AS t
      FROM s
    ), m AS (
      SELECT CAST(sum(in1) AS BIGINT) AS n1,
             CAST(sum(1 - in1) AS BIGINT) AS n2,
             CAST(sum(CASE WHEN in1 = 1 THEN r2 ELSE 0 END) AS BIGINT)
               AS r1_x2,
             CAST(sum(t * t - 1) AS BIGINT) AS tie_sum
      FROM ranked
    )
    SELECT n1, n2,
           r1_x2 - n1 * (n1 + 1) AS u1_x2,
           (CAST(r1_x2 - n1 * (n1 + 1) AS DOUBLE) - CAST(n1 * n2 AS DOUBLE))
             / (2 * sqrt((CAST(n1 * n2 AS DOUBLE) / 12.0)
                 * ((CAST(n1 + n2 AS DOUBLE) + 1.0)
                    - CAST(tie_sum AS DOUBLE)
                      / (CAST(n1 + n2 AS DOUBLE)
                         * (CAST(n1 + n2 AS DOUBLE) - 1.0)))))
             AS z
    FROM m
    """,
)
def q_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U (rank-sum) test, click vs view event values —
    the distribution-free companion to q_ks_test.

    Tie-averaged ranks are doubled into integers (2·rank+t−1); the
    rank sum, U statistic and the tie-correction term Σ(t³−t) are all
    exact integer aggregates. Aggregate-first: rows collapse to
    per-distinct-value cells (c rows, c1 in group 1), a two-phase
    range-partitioned cumsum gives cum = #rows ≤ v, and the doubled
    tie-averaged rank for every row at v is 2·cum − c + 1 — so the
    whole statistic is computed over |distinct values| cells with no
    row-level global sort anywhere (the former empty-PARTITION-BY rank
    was the known 100 TB hazard). The normal-approximation z is then a
    single fixed IEEE expression over those integers — identical shape
    in both engines, so even the double matches bitwise.
    """
    e = load_table(spark, sf_dir, "events")
    s = e.filter(F.col("event_type").isin("click", "view")).select(
        "value",
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("in1"),
    )
    per_v = s.groupBy("value").agg(
        F.count(F.lit(1)).alias("c"),
        F.sum("in1").alias("c1"),
    )
    cum = two_phase_window(per_v, [F.col("value")], cumsum={"cum": "c"})
    r2 = 2 * F.col("cum") - F.col("c") + 1  # doubled tie-averaged rank at v
    m = cum.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum(F.col("c") - F.col("c1")).cast("bigint").alias("n2"),
        F.sum(F.col("c1") * r2).cast("bigint").alias("r1_x2"),
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c"))
        .cast("bigint")
        .alias("tie_sum"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    u1_x2 = F.col("r1_x2") - n1 * (n1 + 1)
    nd = (n1 + n2).cast("double")
    z = (u1_x2.cast("double") - (n1 * n2).cast("double")) / (
        2
        * F.sqrt(
            ((n1 * n2).cast("double") / 12.0)
            * ((nd + 1.0) - F.col("tie_sum").cast("double") / (nd * (nd - 1.0)))
        )
    )
    return m.select("n1", "n2", u1_x2.alias("u1_x2"), z.alias("z"))


@_q(
    "q_collocation_pmi",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS l FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    ), pos AS (
      SELECT doc_id, unnest(l) AS w, generate_subscripts(l, 1) AS i
      FROM toks
    ), big AS (
      SELECT a.w AS w1, b.w AS w2
      FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.i = a.i + 1
    ), pair AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_xy FROM big
      GROUP BY w1, w2
    ), lm AS (
      SELECT w1, CAST(sum(c_xy) AS BIGINT) AS c_x FROM pair GROUP BY w1
    ), rm AS (
      SELECT w2, CAST(sum(c_xy) AS BIGINT) AS c_y FROM pair GROUP BY w2
    ), tot AS (
      SELECT CAST(sum(c_xy) AS BIGINT) AS n FROM pair
    )
    SELECT pair.w1, pair.w2, c_xy, c_x, c_y,
           CAST(c_xy * n AS DOUBLE) / CAST(c_x * c_y AS DOUBLE) AS lift
    FROM pair, lm, rm, tot
    WHERE pair.w1 = lm.w1 AND pair.w2 = rm.w2 AND c_xy >= 3
    ORDER BY c_xy DESC, pair.w1, pair.w2 LIMIT 100
    """,
)
def q_collocation_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: adjacent-token bigram counts with PMI-style
    lift p(xy)/(p(x)p(y)) against the bigram marginals.

    The lift is reported as the raw ratio, not ln(ratio): it is one
    correctly-rounded IEEE division over exact integer counts (bitwise
    portable), whereas ln differs between JVM and libm in the last ulp
    — and the ratio is monotone in PMI, so ranking is unchanged.
    Bigrams are generated positionally (sequence/transform in Spark,
    an ordinality self-join in DuckDB) — explicitly guarded to
    documents with ≥2 tokens because Spark's sequence(1,0) would count
    DOWN. Marginals are tiny aggregates broadcast back onto the pair
    table; top-k has a total order (c_xy desc, w1, w2).
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.split("text", " ").alias("l")).filter(F.size("l") >= 2)
    big = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(l) - 1),"
                " i -> struct(l[i - 1] AS w1, l[i] AS w2))"
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    pair = big.groupBy("w1", "w2").agg(F.count("*").alias("c_xy"))
    lm = pair.groupBy("w1").agg(F.sum("c_xy").alias("c_x"))
    rm = pair.groupBy("w2").agg(F.sum("c_xy").alias("c_y"))
    tot = pair.agg(F.sum("c_xy").alias("n"))
    return (
        pair.join(F.broadcast(lm), "w1")
        .join(F.broadcast(rm), "w2")
        .crossJoin(F.broadcast(tot))
        .filter(F.col("c_xy") >= 3)
        .select(
            "w1",
            "w2",
            "c_xy",
            "c_x",
            "c_y",
            (
                (F.col("c_xy") * F.col("n")).cast("double")
                / (F.col("c_x") * F.col("c_y")).cast("double")
            ).alias("lift"),
        )
        .orderBy(F.desc("c_xy"), "w1", "w2")
        .limit(100)
    )


@_q(
    "q_welch_ttest",
    oracle="""
    WITH cents AS (
      SELECT c_mktsegment,
             CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
      FROM customer WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
    ), m AS (
      SELECT
        CAST(sum(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END)
             AS BIGINT) AS n1,
        CAST(sum(CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 ELSE 0 END)
             AS BIGINT) AS n2,
        CAST(CAST(sum(CASE WHEN c_mktsegment = 'BUILDING' THEN x
                           ELSE 0 END) AS DECIMAL(38,0)) AS DOUBLE) AS s1,
        CAST(CAST(sum(CASE WHEN c_mktsegment = 'MACHINERY' THEN x
                           ELSE 0 END) AS DECIMAL(38,0)) AS DOUBLE) AS s2,
        CAST(sum(CASE WHEN c_mktsegment = 'BUILDING'
                      THEN CAST(x * x AS DECIMAL(38,0))
                      ELSE CAST(0 AS DECIMAL(38,0)) END) AS DOUBLE) AS q1,
        CAST(sum(CASE WHEN c_mktsegment = 'MACHINERY'
                      THEN CAST(x * x AS DECIMAL(38,0))
                      ELSE CAST(0 AS DECIMAL(38,0)) END) AS DOUBLE) AS q2
      FROM cents
    )
    SELECT n1, n2,
           (s1 / n1 - s2 / n2)
             / sqrt((n1 * q1 - s1 * s1) / (n1 * (n1 - 1.0)) / n1
                    + (n2 * q2 - s2 * s2) / (n2 * (n2 - 1.0)) / n2)
             AS t_stat,
           pow((n1 * q1 - s1 * s1) / (n1 * (n1 - 1.0)) / n1
               + (n2 * q2 - s2 * s2) / (n2 * (n2 - 1.0)) / n2, 2.0)
             / (pow((n1 * q1 - s1 * s1) / (n1 * (n1 - 1.0)) / n1, 2.0)
                  / (n1 - 1.0)
                + pow((n2 * q2 - s2 * s2) / (n2 * (n2 - 1.0)) / n2, 2.0)
                  / (n2 - 1.0)) AS welch_df
    FROM m
    """,
)
def q_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test: BUILDING vs MACHINERY customer
    account balances, with the Welch-Satterthwaite degrees of freedom.

    One conditional-aggregation scan produces both groups' exact
    integer-cent moments (n, Σx, Σx²) — no second pass, no join; t and
    df are then closed-form scalar IEEE expressions with identical
    shape in both engines (the q_agg_corr discipline), so the raw
    doubles hash-match bitwise. The classic A/B significance gate,
    computable over arbitrarily large groups in one shuffle-free
    reduction.
    """
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment").isin("BUILDING", "MACHINERY")
    )
    x = (F.col("c_acctbal").cast("decimal(18,2)") * 100).cast("bigint")
    is1 = F.col("c_mktsegment") == "BUILDING"
    zero38 = F.lit(0).cast("decimal(38,0)")
    m = cust.select(x.alias("x"), is1.alias("is1")).agg(
        F.sum(F.when(F.col("is1"), 1).otherwise(0)).cast("bigint").alias("n1"),
        F.sum(F.when(~F.col("is1"), 1).otherwise(0)).cast("bigint").alias("n2"),
        F.sum(F.when(F.col("is1"), F.col("x")).otherwise(0))
        .cast("decimal(38,0)").cast("double").alias("s1"),
        F.sum(F.when(~F.col("is1"), F.col("x")).otherwise(0))
        .cast("decimal(38,0)").cast("double").alias("s2"),
        F.sum(
            F.when(
                F.col("is1"), (F.col("x") * F.col("x")).cast("decimal(38,0)")
            ).otherwise(zero38)
        ).cast("double").alias("q1"),
        F.sum(
            F.when(
                ~F.col("is1"), (F.col("x") * F.col("x")).cast("decimal(38,0)")
            ).otherwise(zero38)
        ).cast("double").alias("q2"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    s1, s2, q1, q2 = F.col("s1"), F.col("s2"), F.col("q1"), F.col("q2")
    se1 = (n1 * q1 - s1 * s1) / (n1 * (n1 - F.lit(1.0))) / n1
    se2 = (n2 * q2 - s2 * s2) / (n2 * (n2 - F.lit(1.0))) / n2
    t = (s1 / n1 - s2 / n2) / F.sqrt(se1 + se2)
    df_w = F.pow(se1 + se2, 2.0) / (
        F.pow(se1, 2.0) / (n1 - F.lit(1.0))
        + F.pow(se2, 2.0) / (n2 - F.lit(1.0))
    )
    return m.select(n1, n2, t.alias("t_stat"), df_w.alias("welch_df"))


@_q(
    "q_kendall_tau",
    oracle="""
    WITH pernation AS (
      SELECT c_nationkey AS nk,
             CAST(sum(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100
                           AS BIGINT)) AS BIGINT) AS x,
             CAST(count(*) AS BIGINT) AS y
      FROM customer GROUP BY c_nationkey
    ), pairs AS (
      SELECT CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END
               AS cx,
             CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END
               AS cy
      FROM pernation a JOIN pernation b ON b.nk > a.nk
    ), c AS (
      SELECT
        CAST(sum(CASE WHEN cx * cy = 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS concordant,
        CAST(sum(CASE WHEN cx * cy = -1 THEN 1 ELSE 0 END) AS BIGINT)
          AS discordant,
        CAST(sum(CASE WHEN cx = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ties_x,
        CAST(sum(CASE WHEN cy = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ties_y,
        CAST(count(*) AS BIGINT) AS n0
      FROM pairs
    )
    SELECT concordant, discordant, n0,
           CAST(concordant - discordant AS DOUBLE)
             / sqrt(CAST(n0 - ties_x AS DOUBLE)
                    * CAST(n0 - ties_y AS DOUBLE)) AS tau_b
    FROM c
    """,
)
def q_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's tau-b rank correlation between per-nation total
    account balance and customer count — the tie-corrected,
    outlier-robust companion to q_spearman.

    The O(n^2) pairwise comparison runs on the *aggregated* 25-row
    nation rollup (300 pairs), never on raw rows — the aggregate-first
    pattern that makes rank statistics viable at 100 TB. Concordant /
    discordant / tie counts are pure integers off exact cents; tau-b is
    one closed-form double expression.
    """
    cust = load_table(spark, sf_dir, "customer")
    cents = (F.col("c_acctbal").cast("decimal(18,2)") * 100).cast("bigint")
    per = cust.groupBy(F.col("c_nationkey").alias("nk")).agg(
        F.sum(cents).cast("bigint").alias("x"),
        F.count(F.lit(1)).cast("bigint").alias("y"),
    )
    a, b = per.alias("a"), per.alias("b")
    sgn = lambda col_b, col_a: (  # noqa: E731
        F.when(col_b > col_a, 1).when(col_b < col_a, -1).otherwise(0)
    )
    pairs = a.join(b, F.col("b.nk") > F.col("a.nk")).select(
        sgn(F.col("b.x"), F.col("a.x")).alias("cx"),
        sgn(F.col("b.y"), F.col("a.y")).alias("cy"),
    )
    cx, cy = F.col("cx"), F.col("cy")
    c = pairs.agg(
        F.sum(F.when(cx * cy == 1, 1).otherwise(0))
        .cast("bigint").alias("concordant"),
        F.sum(F.when(cx * cy == -1, 1).otherwise(0))
        .cast("bigint").alias("discordant"),
        F.sum(F.when(cx == 0, 1).otherwise(0)).cast("bigint").alias("ties_x"),
        F.sum(F.when(cy == 0, 1).otherwise(0)).cast("bigint").alias("ties_y"),
        F.count(F.lit(1)).cast("bigint").alias("n0"),
    )
    tau = (F.col("concordant") - F.col("discordant")).cast("double") / F.sqrt(
        (F.col("n0") - F.col("ties_x")).cast("double")
        * (F.col("n0") - F.col("ties_y")).cast("double")
    )
    return c.select("concordant", "discordant", "n0", tau.alias("tau_b"))


@_q(
    "q_runs_test",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                           AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ), ranked AS (
      SELECT day, cents,
             CAST(row_number() OVER (ORDER BY cents, day) AS BIGINT) AS rk,
             CAST(count(*) OVER () AS BIGINT) AS n
      FROM daily
    ), med AS (
      SELECT max(cents) AS med FROM ranked WHERE rk * 2 <= n + 1
    ), lab AS (
      SELECT day, CASE WHEN cents > med THEN 1 ELSE 0 END AS above
      FROM ranked, med WHERE cents <> med
    ), runs AS (
      SELECT above,
             CASE WHEN lag(above) OVER (ORDER BY day) IS NULL
                    OR lag(above) OVER (ORDER BY day) <> above
                  THEN 1 ELSE 0 END AS new_run
      FROM lab
    )
    SELECT CAST(sum(CASE WHEN above = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_above,
           CAST(sum(CASE WHEN above = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_below,
           CAST(sum(new_run) AS BIGINT) AS n_runs,
           (CAST(sum(new_run) AS DOUBLE)
             - (2.0 * sum(CASE WHEN above = 1 THEN 1 ELSE 0 END)
                    * sum(CASE WHEN above = 0 THEN 1 ELSE 0 END)
                / (sum(CASE WHEN above = 1 THEN 1 ELSE 0 END)
                   + sum(CASE WHEN above = 0 THEN 1 ELSE 0 END)) + 1.0))
           / sqrt(2.0 * sum(CASE WHEN above = 1 THEN 1 ELSE 0 END)
                      * sum(CASE WHEN above = 0 THEN 1 ELSE 0 END)
                  * (2.0 * sum(CASE WHEN above = 1 THEN 1 ELSE 0 END)
                         * sum(CASE WHEN above = 0 THEN 1 ELSE 0 END)
                     - sum(CASE WHEN above = 1 THEN 1 ELSE 0 END)
                     - sum(CASE WHEN above = 0 THEN 1 ELSE 0 END))
                  / (pow(CAST(sum(CASE WHEN above = 1 THEN 1 ELSE 0 END)
                              + sum(CASE WHEN above = 0 THEN 1 ELSE 0 END)
                              AS DOUBLE), 2.0)
                     * (sum(CASE WHEN above = 1 THEN 1 ELSE 0 END)
                        + sum(CASE WHEN above = 0 THEN 1 ELSE 0 END)
                        - 1.0))) AS z_stat
    FROM runs
    """,
)
def q_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test for randomness of daily revenue around
    its median: too few runs = trending, too many = oscillating.

    The median is the nearest-rank lower median over a (cents, day)
    total order — ``rk * 2 <= n + 1`` is the integer-arithmetic form of
    rk <= (n+1)/2 (no float thresholds); median-equal days are dropped
    per the classical definition. Run boundaries come from one lag
    window over the ~2.4k-row daily rollup; n_above/n_below/n_runs are
    exact integers and z is a single closed-form expression. The only
    data-sized operation is the daily rollup shuffle.
    """
    orders = load_table(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(F.sum(cents).alias("cents"))
    ranked = daily.select(
        "day",
        "cents",
        F.row_number().over(Window.orderBy("cents", "day"))
        .cast("bigint").alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy())
        .cast("bigint").alias("n"),
    )
    med = ranked.filter(F.col("rk") * 2 <= F.col("n") + 1).agg(
        F.max("cents").alias("med")
    )
    lab = (
        ranked.crossJoin(F.broadcast(med))
        .filter(F.col("cents") != F.col("med"))
        .select(
            "day",
            F.when(F.col("cents") > F.col("med"), 1).otherwise(0)
            .alias("above"),
        )
    )
    prev = F.lag("above").over(Window.orderBy("day"))
    runs = lab.select(
        "above",
        F.when(prev.isNull() | (prev != F.col("above")), 1).otherwise(0)
        .alias("new_run"),
    )
    agg = runs.agg(
        F.sum(F.when(F.col("above") == 1, 1).otherwise(0))
        .cast("bigint").alias("n_above"),
        F.sum(F.when(F.col("above") == 0, 1).otherwise(0))
        .cast("bigint").alias("n_below"),
        F.sum("new_run").cast("bigint").alias("n_runs"),
    )
    n1, n2, r = F.col("n_above"), F.col("n_below"), F.col("n_runs")
    mu = 2.0 * n1 * n2 / (n1 + n2) + F.lit(1.0)
    var = (
        F.lit(2.0) * n1 * n2 * (F.lit(2.0) * n1 * n2 - n1 - n2)
        / (F.pow((n1 + n2).cast("double"), 2.0) * (n1 + n2 - F.lit(1.0)))
    )
    z = (r.cast("double") - mu) / F.sqrt(var)
    return agg.select("n_above", "n_below", "n_runs", z.alias("z_stat"))


@_q(
    "q_anova_oneway",
    oracle="""
    WITH cents AS (
      SELECT c_mktsegment AS seg,
             CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
      FROM customer
    ), g AS (
      SELECT seg, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS DECIMAL(38,0)) AS s,
             CAST(sum(CAST(x * x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS q
      FROM cents GROUP BY seg
    ), m AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n) AS BIGINT) AS n_tot,
             CAST(sum(s) AS DOUBLE) AS s_tot,
             CAST(sum(q) AS DOUBLE) AS q_tot,
             CAST(sum(CAST(round(
               pow(CAST(s AS DOUBLE), 2) / n, 6) AS DECIMAL(38,6)))
               AS DOUBLE) AS t1
      FROM g
    )
    SELECT k, n_tot,
           t1 - s_tot * s_tot / n_tot AS ss_between,
           q_tot - t1 AS ss_within,
           ((t1 - s_tot * s_tot / n_tot) / (k - 1.0))
             / ((q_tot - t1) / (n_tot - k)) AS f_stat
    FROM m
    """,
)
def q_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA: does mean account balance differ across market
    segments? (north-star statistics surface; the reference computes no
    statistics, SURVEY.md §2.2).

    Two-level reduction: per-group exact integer-cent moments
    (n, Σx, Σx²) in one shuffle, then a |groups|-row global fold. The
    cross-group sum of s²/n is the only order-sensitive float sum, so
    each group's term is rounded to 6 decimals and summed in DECIMAL
    (the q_chi_square discipline); Σx and Σx² stay exact end-to-end.
    F = (SSB/(k−1)) / (SSW/(N−k)) is one closed-form IEEE expression
    identical in both engines — bitwise oracle-checkable.
    """
    cust = load_table(spark, sf_dir, "customer")
    x = (F.col("c_acctbal").cast("decimal(18,2)") * 100).cast("bigint")
    g = (
        cust.select(F.col("c_mktsegment").alias("seg"), x.alias("x"))
        .groupBy("seg")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("x").cast("decimal(38,0)").alias("s"),
            F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .alias("q"),
        )
    )
    m = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("n_tot"),
        F.sum("s").cast("double").alias("s_tot"),
        F.sum("q").cast("double").alias("q_tot"),
        F.sum(
            F.round(
                F.pow(F.col("s").cast("double"), 2) / F.col("n"), 6
            ).cast("decimal(38,6)")
        )
        .cast("double")
        .alias("t1"),
    )
    k, n_tot = F.col("k"), F.col("n_tot")
    ssb = F.col("t1") - F.col("s_tot") * F.col("s_tot") / n_tot
    ssw = F.col("q_tot") - F.col("t1")
    f_stat = F.try_divide(
        F.try_divide(ssb, k - F.lit(1.0)),
        F.try_divide(ssw, n_tot - k),
    )
    return m.select(
        "k",
        "n_tot",
        ssb.alias("ss_between"),
        ssw.alias("ss_within"),
        f_stat.alias("f_stat"),
    )


@_q(
    "q_cramers_v",
    oracle="""
    WITH cells AS (
      SELECT c_mktsegment AS a, c_nationkey % 5 AS b, count(*) AS o
      FROM customer GROUP BY 1, 2
    ), tot AS (
      SELECT o,
             CAST(sum(o) OVER (PARTITION BY a) AS BIGINT) AS rt,
             CAST(sum(o) OVER (PARTITION BY b) AS BIGINT) AS ct,
             CAST(sum(o) OVER () AS BIGINT) AS g
      FROM cells
    ), chi AS (
      SELECT CAST(sum(CAST(round(
               pow(o - CAST(rt AS DOUBLE) * ct / g, 2)
                 / (CAST(rt AS DOUBLE) * ct / g), 6) AS DECIMAL(27,6)))
               AS DOUBLE) AS chi2,
             CAST(max(g) AS BIGINT) AS n
      FROM tot
    ), dims AS (
      SELECT CAST(count(DISTINCT a) AS BIGINT) AS r,
             CAST(count(DISTINCT b) AS BIGINT) AS c
      FROM cells
    )
    SELECT chi2, n, r, c,
           sqrt(chi2 / (n * CAST(least(r - 1, c - 1) AS DOUBLE)))
             AS cramers_v
    FROM chi, dims
    """,
)
def q_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V effect size for the market-segment × nation-bucket
    contingency table — chi-square alone grows with N, V ∈ [0,1] is the
    scale-free association strength (the feature-redundancy screen a
    training-data pipeline runs over categorical metadata columns).

    Same determinism discipline as q_chi_square (6-dp decimal-summed
    cell contributions, integer marginals from windows over the |cells|
    aggregate); V adds only scalar math. One shuffle to the cells.
    """
    cust = load_table(spark, sf_dir, "customer")
    cells = cust.groupBy(
        F.col("c_mktsegment").alias("a"),
        (F.col("c_nationkey") % 5).alias("b"),
    ).agg(F.count(F.lit(1)).alias("o"))
    tot = cells.select(
        "o",
        F.sum("o").over(Window.partitionBy("a")).cast("bigint").alias("rt"),
        F.sum("o").over(Window.partitionBy("b")).cast("bigint").alias("ct"),
        F.sum("o").over(Window.partitionBy()).cast("bigint").alias("g"),
    )
    e = F.col("rt").cast("double") * F.col("ct") / F.col("g")
    chi = tot.agg(
        F.sum(
            F.round(F.pow(F.col("o") - e, 2) / e, 6).cast("decimal(27,6)")
        )
        .cast("double")
        .alias("chi2"),
        F.max("g").cast("bigint").alias("n"),
    )
    dims = cells.agg(
        F.countDistinct("a").cast("bigint").alias("r"),
        F.countDistinct("b").cast("bigint").alias("c"),
    )
    v = F.sqrt(
        F.try_divide(
            F.col("chi2"),
            F.col("n")
            * F.least(F.col("r") - 1, F.col("c") - 1).cast("double"),
        )
    )
    return chi.crossJoin(dims).select(
        "chi2", "n", "r", "c", v.alias("cramers_v")
    )


@_q(
    "q_acf_multi",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ), idx AS (
      SELECT row_number() OVER (ORDER BY d) AS rn, c FROM daily
    ), lags AS (
      SELECT CAST(range AS BIGINT) AS lag FROM range(1, 8)
    ), pairs AS (
      SELECT l.lag, a.c AS x, b.c AS y
      FROM lags l
      JOIN idx a ON TRUE
      JOIN idx b ON b.rn = a.rn - l.lag
    ), m AS (
      SELECT lag, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM pairs GROUP BY lag
    )
    SELECT lag, n,
           (n * sxy - CAST(sx AS DOUBLE) * sy)
             / sqrt((n * sxx - CAST(sx AS DOUBLE) * sx)
                    * (n * syy - CAST(sy AS DOUBLE) * sy)) AS acf
    FROM m
    """,
)
def q_acf_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the daily event-count series at lags
    1–7 (generalizes q_autocorr_lag1): the weekly-seasonality probe a
    pipeline runs before choosing resampling windows.

    The raw table reduces to ~|days| rows in one shuffle; the lag
    pairing is a self-join on the row index of the *observed* series
    (robust to missing days; lag counts observations, not calendar
    days) against a 7-row lag spine — both sides tiny, broadcast. All
    moments are exact integer sums; Pearson r per lag is one scalar
    IEEE expression, so results hash-match DuckDB bitwise.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    idx = daily.select(
        F.row_number().over(Window.orderBy("d")).alias("rn"), "c"
    )
    lags = spark.range(1, 8).select(F.col("id").cast("bigint").alias("lag"))
    a = idx.alias("a")
    b = idx.alias("b")
    pairs = (
        F.broadcast(lags)
        .crossJoin(a)
        .join(
            b,
            F.col("b.rn") == F.col("a.rn") - F.col("lag"),
            "inner",
        )
        .select("lag", F.col("a.c").alias("x"), F.col("b.c").alias("y"))
    )
    m = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    n = F.col("n")
    num = n * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    den = F.sqrt(
        (n * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
        * (n * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
    )
    return m.select("lag", "n", (num / den).alias("acf"))


@_q(
    "q_corr_matrix",
    oracle=f"""
    WITH cents AS (
      SELECT CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS q,
             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS p,
             CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS d,
             CAST(CAST(l_tax AS DECIMAL(18,2)) * 100 AS BIGINT) AS t
      FROM lineitem
    ), m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
        CAST(sum(q) AS DOUBLE) AS sq, CAST(sum(p) AS DOUBLE) AS sp,
        CAST(sum(d) AS DOUBLE) AS sd, CAST(sum(t) AS DOUBLE) AS st,
        {sql_dbig("sum(CAST(q*q AS DECIMAL(38,0)))")} AS sqq,
        {sql_dbig("sum(CAST(p*p AS DECIMAL(38,0)))")} AS spp,
        {sql_dbig("sum(CAST(d*d AS DECIMAL(38,0)))")} AS sdd,
        {sql_dbig("sum(CAST(t*t AS DECIMAL(38,0)))")} AS stt,
        {sql_dbig("sum(CAST(q*p AS DECIMAL(38,0)))")} AS sqp,
        {sql_dbig("sum(CAST(q*d AS DECIMAL(38,0)))")} AS sqd,
        {sql_dbig("sum(CAST(q*t AS DECIMAL(38,0)))")} AS sqt,
        {sql_dbig("sum(CAST(p*d AS DECIMAL(38,0)))")} AS spd,
        {sql_dbig("sum(CAST(p*t AS DECIMAL(38,0)))")} AS spt,
        {sql_dbig("sum(CAST(d*t AS DECIMAL(38,0)))")} AS sdt
      FROM cents
    )
    SELECT col_x, col_y, n,
           (n * sxy - sx * sy)
             / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) AS r
    FROM (
      SELECT 'quantity' AS col_x, 'extendedprice' AS col_y, n,
             sq AS sx, sp AS sy, sqq AS sxx, spp AS syy, sqp AS sxy FROM m
      UNION ALL SELECT 'quantity', 'discount', n,
             sq, sd, sqq, sdd, sqd FROM m
      UNION ALL SELECT 'quantity', 'tax', n, sq, st, sqq, stt, sqt FROM m
      UNION ALL SELECT 'extendedprice', 'discount', n,
             sp, sd, spp, sdd, spd FROM m
      UNION ALL SELECT 'extendedprice', 'tax', n,
             sp, st, spp, stt, spt FROM m
      UNION ALL SELECT 'discount', 'tax', n, sd, st, sdd, stt, sdt FROM m
    )
    ORDER BY col_x, col_y
    """,
)
def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pairwise Pearson correlation matrix over four lineitem
    measures in ONE scan: all 14 moments (4 sums, 4 squares, 6
    cross-products) accumulate as exact integer-cent sums in a single
    aggregation, then the 6 upper-triangle pairs unfold from the
    one-row moment table — the single-pass feature-redundancy profile
    a pipeline runs before model training, at 1/6 the scans of
    pairwise ``corr`` calls.

    Exactness: the q_agg_corr discipline (integer cents, DECIMAL(38,0)
    sums, one single-rounded cast to double per moment); each r is
    closed-form IEEE math with identical shape in both engines —
    bitwise parity on all six coefficients.
    """
    li = load_table(spark, sf_dir, "lineitem")
    cent = lambda c: (F.col(c).cast("decimal(18,2)") * 100).cast("bigint")
    cents = li.select(
        cent("l_quantity").alias("q"),
        cent("l_extendedprice").alias("p"),
        cent("l_discount").alias("d"),
        cent("l_tax").alias("t"),
    )
    # split cast: these squared-cents sums cross 2^53 at sf0.1 and a
    # plain decimal->double CAST drifts a ulp between engines
    dsum = lambda e: dbig(F.sum(e.cast("decimal(38,0)")).cast("decimal(38,0)"))
    cols = {"q": "quantity", "p": "extendedprice", "d": "discount",
            "t": "tax"}
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n")]
    for c in cols:
        aggs.append(F.sum(F.col(c)).cast("double").alias(f"s_{c}"))
    pairs = [("q", "p"), ("q", "d"), ("q", "t"), ("p", "d"), ("p", "t"),
             ("d", "t")]
    for c in cols:
        aggs.append(dsum(F.col(c) * F.col(c)).alias(f"s_{c}{c}"))
    for a, b in pairs:
        aggs.append(dsum(F.col(a) * F.col(b)).alias(f"s_{a}{b}"))
    m = cents.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(cols[a]).alias("col_x"),
                F.lit(cols[b]).alias("col_y"),
                F.col("n").alias("n"),
                F.col(f"s_{a}").alias("sx"),
                F.col(f"s_{b}").alias("sy"),
                F.col(f"s_{a}{a}").alias("sxx"),
                F.col(f"s_{b}{b}").alias("syy"),
                F.col(f"s_{a}{b}").alias("sxy"),
            )
            for a, b in pairs
        ]
    )
    exp = m.select(F.explode(rows).alias("e")).select("e.*")
    n = F.col("n")
    r = F.try_divide(
        n * F.col("sxy") - F.col("sx") * F.col("sy"),
        F.sqrt(
            (n * F.col("sxx") - F.col("sx") * F.col("sx"))
            * (n * F.col("syy") - F.col("sy") * F.col("sy"))
        ),
    )
    return exp.select("col_x", "col_y", "n", r.alias("r")).orderBy(
        "col_x", "col_y"
    )


@_q(
    "q_quantile_normalize",
    oracle="""
    WITH ranked AS (
      SELECT c_custkey, c_acctbal,
             CAST(rank() OVER (ORDER BY c_acctbal) AS BIGINT) AS rk,
             CAST(count(*) OVER () AS BIGINT) AS n
      FROM customer
    )
    SELECT c_custkey, c_acctbal,
           CAST(rk AS DOUBLE) / (n + 1) AS q_uniform
    FROM ranked
    ORDER BY c_acctbal, c_custkey
    LIMIT 200
    """,
)
def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-to-uniform quantile transform (the distribution-free
    normalization feature pipelines apply before models that assume
    bounded inputs): each value maps to rank/(n+1) ∈ (0,1). Ties share
    a rank (``rank()``, not row_number), so equal inputs get equal
    outputs — the property that makes the transform a function of the
    value. Integer rank arithmetic + one exact division; the rank is
    the two-phase range-partitioned form (rank within k partitions +
    broadcast per-partition offsets), so no single-task sort exists at
    any scale.
    """
    cust = load_table(spark, sf_dir, "customer")
    # round 12: total folds out of the same k-row per-partition
    # aggregate as the offsets (no with_totals re-pass; exact)
    ranked = two_phase_window(
        cust, [F.col("c_acctbal")], rank="rk", totals={"n": None}
    ).select(
        "c_custkey",
        "c_acctbal",
        F.col("rk").cast("bigint").alias("rk"),
        "n",
    )
    return (
        ranked.select(
            "c_custkey",
            "c_acctbal",
            (F.col("rk").cast("double") / (F.col("n") + 1)).alias(
                "q_uniform"
            ),
        )
        .orderBy("c_acctbal", "c_custkey")
        .limit(200)
    )


@_q(
    "q_agg_skew_kurtosis",
    oracle="""
    WITH cents AS (
      SELECT o_orderstatus AS st,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
      FROM orders
    ), m AS (
      SELECT st, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS DOUBLE) AS s1,
             CAST(sum(CAST(x * x AS DECIMAL(38,0))) AS DOUBLE) AS s2,
             CAST(sum(CAST(x * x AS DECIMAL(38,0)) * x) AS DOUBLE) AS s3,
             CAST(sum(CAST(x * x AS DECIMAL(38,0))
                      * CAST(x * x AS DECIMAL(38,0))) AS DOUBLE) AS s4
      FROM cents GROUP BY st
    )
    SELECT st, n,
           (s3 - 3 * s1 * s2 / n + 2 * s1 * s1 * s1 / (n * CAST(n AS DOUBLE)))
             / n
             / pow((s2 - s1 * s1 / n) / n, 1.5) AS skewness,
           (s4 - 4 * s1 * s3 / n
               + 6 * s1 * s1 * s2 / (n * CAST(n AS DOUBLE))
               - 3 * s1 * s1 * s1 * s1
                 / (n * CAST(n AS DOUBLE) * n))
             / n
             / pow((s2 - s1 * s1 / n) / n, 2.0) - 3.0 AS excess_kurtosis
    FROM m
    ORDER BY st
    """,
)
def q_agg_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness and excess kurtosis per order status from
    exact integer-cent raw moments (Σx … Σx⁴) — completing the moment
    family (q_agg_stats stops at variance). Engine built-ins
    (``skewness``/``kurtosis``) accumulate central moments in floats
    and can never cross-match; raw integer moments are exact, summed
    in DECIMAL(38,0), single-rounded on one cast each, and the
    central-moment algebra is identical IEEE scalar math in both
    engines — bitwise parity on 3rd/4th-order statistics.

    Capacity note: Σx⁴ in cents reaches ~2·10³⁶ at sf1 — inside
    DECIMAL(38,0); beyond ~sf10, rescale to whole currency units (the
    moments are scale-covariant, skew/kurtosis scale-free).
    """
    o = load_table(spark, sf_dir, "orders")
    x = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
    cents = o.select(F.col("o_orderstatus").alias("st"), x.alias("x"))
    x2 = (F.col("x") * F.col("x")).cast("decimal(38,0)")
    m = cents.groupBy("st").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("double").alias("s1"),
        F.sum(x2).cast("double").alias("s2"),
        F.sum(x2 * F.col("x")).cast("double").alias("s3"),
        F.sum(x2 * x2).cast("double").alias("s4"),
    )
    n = F.col("n")
    nd = n.cast("double")
    s1, s2, s3, s4 = (F.col(c) for c in ("s1", "s2", "s3", "s4"))
    m2 = (s2 - s1 * s1 / n) / n
    m3 = (s3 - 3 * s1 * s2 / n + 2 * s1 * s1 * s1 / (n * nd)) / n
    m4 = (
        s4
        - 4 * s1 * s3 / n
        + 6 * s1 * s1 * s2 / (n * nd)
        - 3 * s1 * s1 * s1 * s1 / (n * nd * n)
    ) / n
    return m.select(
        "st",
        "n",
        F.try_divide(m3, F.pow(m2, 1.5)).alias("skewness"),
        (F.try_divide(m4, F.pow(m2, 2.0)) - 3.0).alias("excess_kurtosis"),
    ).orderBy("st")


@_q(
    "q_ab_cuped",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             CAST(user_id % 2 AS BIGINT) AS grp,
             CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                           THEN CAST(CAST(value AS DECIMAL(18,2)) * 100
                                     AS BIGINT) ELSE 0 END) AS BIGINT) AS y,
             CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                           THEN CAST(CAST(value AS DECIMAL(18,2)) * 100
                                     AS BIGINT) ELSE 0 END) AS BIGINT) AS x
      FROM events GROUP BY user_id
    ), m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(CAST(x * y AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
             CAST(sum(CAST(x * x AS DECIMAL(38,0))) AS DOUBLE) AS sxx
      FROM per_user
    ), theta AS (
      SELECT n, sx, sy,
             (n * sxy - sx * sy) / (n * sxx - sx * sx) AS th
      FROM m
    ), adj AS (
      SELECT p.grp,
             CAST(count(*) AS BIGINT) AS n_g,
             CAST(sum(CAST(round(p.y - t.th * (p.x - t.sx / t.n), 6)
                           AS DECIMAL(27,6))) AS DOUBLE) AS s_adj,
             CAST(sum(p.y) AS DOUBLE) AS s_raw
      FROM per_user p CROSS JOIN theta t
      GROUP BY p.grp
    )
    SELECT grp, n_g,
           s_raw / n_g AS mean_raw_cents,
           s_adj / n_g AS mean_cuped_cents
    FROM adj
    ORDER BY grp
    """,
)
def q_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for A/B readouts: each user's
    experiment-period metric y is adjusted by their PRE-period
    covariate x — ŷ = y − θ·(x − x̄) with θ = cov(x,y)/var(x) — which
    removes the between-user variance x explains and shrinks
    confidence intervals at identical sample size (the standard
    trick in industrial experimentation since Deng et al. 2013).
    Periods split at day 16; groups by user-id parity (the
    deterministic assignment q_ab_test_proportions uses).

    Exactness: per-user sums in integer cents; θ's moments are exact
    DECIMAL(38,0) sums single-rounded to double; each adjusted value
    rounds at 6 dp and the group sums run in decimal — so both the
    raw and CUPED group means hash-match bitwise. Two keyed
    aggregations plus a 1-row θ broadcast; nothing scales with raw
    event count but the first rollup.
    """
    ev = load_table(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("bigint")
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") >= cut, cents).otherwise(0))
        .cast("bigint")
        .alias("y"),
        F.sum(F.when(F.col("ts") < cut, cents).otherwise(0))
        .cast("bigint")
        .alias("x"),
    ).select(
        (F.col("user_id") % 2).cast("bigint").alias("grp"), "x", "y"
    )
    m = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)"))
        .cast("double")
        .alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)"))
        .cast("double")
        .alias("sxx"),
    )
    theta = m.select(
        "n",
        "sx",
        F.try_divide(
            F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"),
            F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"),
        ).alias("th"),
    )
    adj_val = F.round(
        F.col("y") - F.col("th") * (F.col("x") - F.col("sx") / F.col("n")),
        6,
    )
    adj = (
        per_user.crossJoin(F.broadcast(theta))
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_g"),
            F.sum(adj_val.cast("decimal(27,6)")).cast("double").alias(
                "s_adj"
            ),
            F.sum("y").cast("double").alias("s_raw"),
        )
    )
    return adj.select(
        "grp",
        "n_g",
        (F.col("s_raw") / F.col("n_g")).alias("mean_raw_cents"),
        (F.col("s_adj") / F.col("n_g")).alias("mean_cuped_cents"),
    ).orderBy("grp")


@_q(
    "q_psi_drift",
    oracle="""
    WITH halves AS (
      SELECT CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                  THEN 0 ELSE 1 END AS half,
             LEAST(CAST(floor(value / 10) AS BIGINT), 9) AS bin
      FROM events
    ), cells AS (
      SELECT bin,
             CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_ref,
             CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_cur
      FROM halves GROUP BY bin
    ), tot AS (
      SELECT CAST(sum(n_ref) AS BIGINT) AS tr,
             CAST(sum(n_cur) AS BIGINT) AS tc
      FROM cells
    ), terms AS (
      SELECT c.bin, c.n_ref, c.n_cur,
             round((CAST(c.n_cur AS DOUBLE) / t.tc
                    - CAST(c.n_ref AS DOUBLE) / t.tr)
                   * ln((CAST(c.n_cur AS DOUBLE) / t.tc)
                        / (CAST(c.n_ref AS DOUBLE) / t.tr)), 6)
               AS psi_term
      FROM cells c CROSS JOIN tot t
    )
    SELECT bin, n_ref, n_cur, psi_term,
           CAST(sum(CAST(psi_term AS DECIMAL(27,6))) OVER ()
                AS DOUBLE) AS psi_total
    FROM terms
    ORDER BY bin
    """,
)
def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the first and second half of
    the month's value distribution — the ML-monitoring staple for
    feature/score drift (rule of thumb: PSI < 0.1 stable, > 0.25
    retrain), symmetric where KL (q_kl_divergence) is directional:
    PSI = Σ (p_cur − p_ref)·ln(p_cur/p_ref).

    One conditional aggregation produces both halves' bin counts in a
    single scan (no self-join of time slices); shares and per-bin
    terms are deterministic scalar math rounded at 6 dp, the total
    sums those decimals over 10 cells — bitwise. Every bin here is
    populated in both halves; sparse bins take the standard +0.5
    smoothing, same closed form.
    """
    ev = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp")
    halves = ev.select(
        F.when(F.col("ts") < cut, 0).otherwise(1).alias("half"),
        F.least(
            F.floor(F.col("value") / 10).cast("bigint"), F.lit(9)
        ).alias("bin"),
    )
    cells = halves.groupBy("bin").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_ref"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_cur"),
    )
    tot = cells.agg(
        F.sum("n_ref").cast("bigint").alias("tr"),
        F.sum("n_cur").cast("bigint").alias("tc"),
    )
    p_cur = F.try_divide(F.col("n_cur").cast("double"), F.col("tc"))
    p_ref = F.try_divide(F.col("n_ref").cast("double"), F.col("tr"))
    terms = cells.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n_ref",
        "n_cur",
        F.round((p_cur - p_ref) * F.log(p_cur / p_ref), 6).alias(
            "psi_term"
        ),
    )
    total = (
        F.sum(F.col("psi_term").cast("decimal(27,6)"))
        .over(Window.partitionBy())
        .cast("double")
    )
    return terms.select(
        "bin", "n_ref", "n_cur", "psi_term", total.alias("psi_total")
    ).orderBy("bin")


@_q(
    "q_outlier_mahalanobis",
    oracle=f"""
    WITH cents AS (
      SELECT l_orderkey, l_linenumber,
             CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS y
      FROM lineitem
    ), m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
             {sql_dbig("sum(CAST(x * x AS DECIMAL(38,0)))")} AS sxx,
             {sql_dbig("sum(CAST(y * y AS DECIMAL(38,0)))")} AS syy,
             {sql_dbig("sum(CAST(x * y AS DECIMAL(38,0)))")} AS sxy
      FROM cents
    ), cov AS (
      SELECT n, sx / n AS mx, sy / n AS my,
             (sxx - sx * sx / n) / (n - 1) AS vxx,
             (syy - sy * sy / n) / (n - 1) AS vyy,
             (sxy - sx * sy / n) / (n - 1) AS vxy
      FROM m
    )
    SELECT c.l_orderkey, c.l_linenumber,
           (  (c.x - v.mx) * (v.vyy * (c.x - v.mx) - v.vxy * (c.y - v.my))
            + (c.y - v.my) * (v.vxx * (c.y - v.my) - v.vxy * (c.x - v.mx))
           ) / (v.vxx * v.vyy - v.vxy * v.vxy) AS d2
    FROM cents c CROSS JOIN cov v
    ORDER BY d2 DESC, c.l_orderkey, c.l_linenumber
    LIMIT 20
    """,
)
def q_outlier_mahalanobis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multivariate outlier detection: Mahalanobis distance of each
    (quantity, price) pair from the corpus distribution — the
    correlation-aware generalization of q_anomaly_zscore (a high price
    is not anomalous for a high quantity; the inverse-covariance form
    knows that, per-axis z-scores do not).

    The 2×2 covariance comes from one scan's exact integer-cent
    moments (the q_corr_matrix discipline) and inverts in closed form
    inside the distance expression — no matrix library, no second
    pass; d² per row is deterministic scalar IEEE from exact inputs,
    so the top-20 ranking hash-matches bitwise. Scaling to k
    dimensions keeps the same shape: k(k+1)/2 exact moments, one
    closed-form (or precomputed driver-side k×k) inverse broadcast
    into the scan.
    """
    li = load_table(spark, sf_dir, "lineitem")
    cx = (F.col("l_quantity").cast("decimal(18,2)") * 100).cast("bigint")
    cy = (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast(
        "bigint"
    )
    cents = li.select(
        "l_orderkey", "l_linenumber", cx.alias("x"), cy.alias("y")
    )
    # split cast (q_corr_matrix discipline): the squared-cents sums
    # cross 2^53 at sf0.1; a plain decimal->double CAST drifts a ulp
    dsum = lambda e: dbig(F.sum(e.cast("decimal(38,0)")).cast("decimal(38,0)"))
    m = cents.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        dsum(F.col("x") * F.col("x")).alias("sxx"),
        dsum(F.col("y") * F.col("y")).alias("syy"),
        dsum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n")
    cov = m.select(
        (F.col("sx") / n).alias("mx"),
        (F.col("sy") / n).alias("my"),
        F.try_divide(
            F.col("sxx") - F.col("sx") * F.col("sx") / n, n - 1
        ).alias("vxx"),
        F.try_divide(
            F.col("syy") - F.col("sy") * F.col("sy") / n, n - 1
        ).alias("vyy"),
        F.try_divide(
            F.col("sxy") - F.col("sx") * F.col("sy") / n, n - 1
        ).alias("vxy"),
    )
    dx = F.col("x") - F.col("mx")
    dy = F.col("y") - F.col("my")
    d2 = F.try_divide(
        dx * (F.col("vyy") * dx - F.col("vxy") * dy)
        + dy * (F.col("vxx") * dy - F.col("vxy") * dx),
        F.col("vxx") * F.col("vyy") - F.col("vxy") * F.col("vxy"),
    )
    return (
        cents.crossJoin(F.broadcast(cov))
        .select("l_orderkey", "l_linenumber", d2.alias("d2"))
        .orderBy(F.col("d2").desc(), "l_orderkey", "l_linenumber")
        .limit(20)
    )


_BOOT_B = 200  # resamples


@_q(
    "q_bootstrap_ci",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ), series AS (
      SELECT list(CAST(c AS DOUBLE) ORDER BY day) AS v,
             CAST(count(*) AS BIGINT) AS n
      FROM daily
    ), means AS (
      SELECT n,
             list_sort(list_transform(generate_series(1, {_BOOT_B}),
               r -> list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                      list_transform(generate_series(1, CAST(n AS INTEGER)),
                        i -> v[CAST(CAST(('0x' || substr(
                               md5(r || ':' || i), 1, 6)) AS BIGINT)
                               % n + 1 AS INTEGER)])),
                      (a, b) -> a + b) / n)) AS ms
      FROM series
    )
    SELECT n AS n_days, {_BOOT_B} AS n_resamples,
           ms[CAST(ceil(0.025 * {_BOOT_B}) AS INTEGER)] AS ci_lo,
           ms[CAST(ceil(0.975 * {_BOOT_B}) AS INTEGER)] AS ci_hi,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE), ms),
                       (a, b) -> a + b) / {_BOOT_B} AS boot_mean
    FROM means
    """,
)
def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap confidence interval for the mean daily event count —
    with *deterministic* resampling: resample r's i-th draw indexes
    the series by an md5-derived hash of (r, i), so the "random"
    bootstrap is a pure function of the data and replays identically
    in any engine (the q_sample_weighted no-RNG discipline applied to
    resampling; swap the hash for a seeded RNG stream and nothing
    else changes). 200 resample means, nearest-rank 2.5th/97.5th
    percentiles as the interval.

    Everything happens in one row's array expressions after the daily
    rollup: per-resample means are index-order sequential folds
    (bitwise-portable), the percentile picks are integer ranks over
    the sorted mean list. The heavy version (bootstrapping a 100 TB
    row-level statistic) distributes the same way as q_kmeans_lloyd:
    resample id becomes a key column, draws become hash-filtered
    scans, one shuffle per statistic family — this fixture-sized form
    pins the semantics.
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
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    draw = (
        "element_at(v, cast(cast(conv(substr(md5(concat(r, ':', i)),"
        " 1, 6), 16, 10) as bigint) % n + 1 as int))"
    )
    mean_r = (
        f"aggregate(transform(sequence(1, cast(n as int)), i -> {draw}),"
        f" cast(0.0 as double), (a, b) -> a + b) / n"
    )
    means = series.select(
        "n",
        # empty series: no draws exist (the hash index would take
        # % 0) — NULL mean list degrades every output stat to NULL
        F.expr(
            f"CASE WHEN n >= 1 THEN"
            f" array_sort(transform(sequence(1, {_BOOT_B}),"
            f" r -> {mean_r})) ELSE NULL END"
        ).alias("ms"),
    )
    import math

    lo_rank = math.ceil(0.025 * _BOOT_B)
    hi_rank = math.ceil(0.975 * _BOOT_B)
    return means.select(
        F.col("n").alias("n_days"),
        F.lit(_BOOT_B).alias("n_resamples"),
        F.expr(f"element_at(ms, {lo_rank})").alias("ci_lo"),
        F.expr(f"element_at(ms, {hi_rank})").alias("ci_hi"),
        F.expr(
            f"aggregate(ms, cast(0.0 as double), (a, b) -> a + b)"
            f" / {_BOOT_B}"
        ).alias("boot_mean"),
    )


_PERM_B = 200  # label permutations


@_q(
    "q_permutation_test",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             CAST(user_id % 2 AS BIGINT) AS grp,
             CAST(sum(CASE WHEN event_type = 'purchase'
                           THEN CAST(CAST(value AS DECIMAL(18,2)) * 100
                                     AS BIGINT) ELSE 0 END) AS BIGINT) AS y
      FROM events GROUP BY user_id
    ), arrs AS (
      SELECT list(CAST(y AS DOUBLE) ORDER BY user_id) AS ys,
             list(grp ORDER BY user_id) AS gs,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n1
      FROM per_user
    ), obs AS (
      SELECT n, n1, ys, gs,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(generate_series(1, CAST(n AS INTEGER)),
                 i -> CASE WHEN gs[i] = 1 THEN ys[i] ELSE 0 END)),
               (a, b) -> a + b) / n1
             - list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(generate_series(1, CAST(n AS INTEGER)),
                   i -> CASE WHEN gs[i] = 0 THEN ys[i] ELSE 0 END)),
                 (a, b) -> a + b) / (n - n1) AS d_obs,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE), ys),
               (a, b) -> a + b) AS tot
      FROM arrs
    ), perms AS (
      SELECT n, n1, d_obs,
             list_transform(generate_series(1, {_PERM_B}), p ->
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(
                   list_slice(list_sort(list_transform(
                     generate_series(1, CAST(n AS INTEGER)),
                     i -> {{'h': CAST(('0x' || substr(md5(p || ':' || i),
                                       1, 12)) AS BIGINT), 'i': i}})),
                     1, CAST(n1 AS INTEGER)),
                   s -> ys[s.i])),
                 (a, b) -> a + b)
               * (CAST(1.0 AS DOUBLE) / n1
                  + CAST(1.0 AS DOUBLE) / (n - n1))
               - tot / (n - n1)) AS d_perm
      FROM obs
    )
    SELECT n, n1, d_obs,
           CAST(len(list_filter(d_perm, d -> abs(d) >= abs(d_obs)))
                AS BIGINT) AS n_extreme,
           CAST(len(list_filter(d_perm, d -> abs(d) >= abs(d_obs)))
                AS DOUBLE) / {_PERM_B} AS p_value
    FROM perms
    """,
)
def q_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation test for the group difference in per-user purchase
    spend — the distribution-free alternative to the t-test
    (q_welch_ttest): re-randomize group labels {_PERM_B} times,
    p-value = share of permuted differences at least as extreme as
    the observed one. Permutations are md5-derived (the q_bootstrap_ci
    no-RNG discipline), so the test replays bit-identically in any
    engine — and they *preserve the group sizes*: permutation p ranks
    the user slots by a per-permutation hash (ties broken by slot) and
    assigns exactly the first n1 ranks to group 1, which is a genuine
    uniform draw from the label permutations. (A per-slot hash parity
    would draw Binomial(n, 1/2) group sizes instead — a different null
    distribution that biases the p-value.)

    Everything after the per-user rollup is one row's array math:
    index-order folds for every mean (bitwise-portable — both engines
    sort the (hash, slot) structs and fold in the same order), integer
    extreme counts, one final division. The permuted statistic uses
    the one-fold identity s1/n1 − (tot−s1)/(n−n1) =
    s1·(1/n1 + 1/(n−n1)) − tot/(n−n1).
    """
    ev = load_table(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("bigint")
    per_user = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", cents).otherwise(0)
        )
        .cast("bigint")
        .alias("y")
    ).select(
        "user_id", (F.col("user_id") % 2).cast("bigint").alias("grp"), "y"
    )
    arrs = per_user.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(user_id, y))),"
            " s -> cast(s.y as double))"
        ).alias("ys"),
        F.expr(
            "transform(array_sort(collect_list(struct(user_id, grp))),"
            " s -> s.grp)"
        ).alias("gs"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
    )
    fold = (
        "aggregate(transform(sequence(1, cast(n as int)), i -> {body}),"
        " cast(0.0 as double), (a, b) -> a + b)"
    )
    d_obs = F.try_divide(
        F.expr(
            fold.format(
                body="CASE WHEN element_at(gs, i) = 1"
                " THEN element_at(ys, i) ELSE cast(0.0 as double) END"
            )
        ),
        F.col("n1"),
    ) - F.try_divide(
        F.expr(
            fold.format(
                body="CASE WHEN element_at(gs, i) = 0"
                " THEN element_at(ys, i) ELSE cast(0.0 as double) END"
            )
        ),
        F.col("n") - F.col("n1"),
    )
    obs = arrs.select(
        "n",
        "n1",
        "ys",
        "gs",
        d_obs.alias("d_obs"),
        F.expr(
            "aggregate(ys, cast(0.0 as double), (a, b) -> a + b)"
        ).alias("tot"),
    )
    perm_stat = (
        "aggregate("
        " slice(array_sort(transform(sequence(1, cast(n as int)),"
        "   i -> struct(cast(conv(substr(md5(concat(p, ':', i)), 1, 12),"
        "                    16, 10) as bigint) as h, i as i))),"
        "   1, cast(n1 as int)),"
        " cast(0.0 as double), (a, s) -> a + element_at(ys, s.i))"
        " * (try_divide(cast(1.0 as double), n1)"
        "    + try_divide(cast(1.0 as double), n - n1))"
        " - try_divide(tot, n - n1)"
    )
    perms = obs.select(
        "n",
        "n1",
        "d_obs",
        F.expr(
            f"transform(sequence(1, {_PERM_B}), p -> {perm_stat})"
        ).alias("d_perm"),
    )
    n_extreme = F.expr(
        "size(filter(d_perm, d -> abs(d) >= abs(d_obs)))"
    ).cast("bigint")
    return perms.select(
        "n",
        "n1",
        "d_obs",
        n_extreme.alias("n_extreme"),
        (n_extreme.cast("double") / _PERM_B).alias("p_value"),
    )


@_q(
    "q_mutual_information",
    oracle="""
    WITH cells AS (
      SELECT event_type AS x,
             CAST(floor(value / 25) AS BIGINT) AS y,
             CAST(count(*) AS BIGINT) AS nxy
      FROM events GROUP BY 1, 2
    ),
    n AS (SELECT CAST(sum(nxy) AS BIGINT) AS n FROM cells),
    mx AS (SELECT x, CAST(sum(nxy) AS BIGINT) AS nx FROM cells
           GROUP BY x),
    my AS (SELECT y, CAST(sum(nxy) AS BIGINT) AS ny FROM cells
           GROUP BY y),
    terms AS (
      SELECT c.x, c.y,
             round((CAST(c.nxy AS DOUBLE) / n.n)
                   * ln((CAST(c.nxy AS DOUBLE) * n.n)
                        / (CAST(mx.nx AS DOUBLE) * my.ny)), 6) AS t
      FROM cells c
      JOIN mx ON mx.x = c.x
      JOIN my ON my.y = c.y
      CROSS JOIN n
    )
    SELECT CAST(count(*) AS BIGINT) AS n_cells,
           CAST(sum(CAST(t AS DECIMAL(27,6))) AS DOUBLE) AS mi_nats
    FROM terms
    """,
)
def q_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between the event type and the bucketed
    event value — the model-free dependence measure used for feature
    selection and leakage screening (MI≈0 means the feature carries
    nothing about the target; suspiciously high MI on a 'neutral'
    column is the classic leakage tell). Complements q_kl_divergence
    (one distribution vs another) with a two-VARIABLE statistic.

    One shuffle to the |X|×|Y| contingency cells; marginals derive
    from the cells (no second scan); each term rounds at 6 decimals
    (ln is libm — ulp-divergent raw) and sums in DECIMAL, so the
    statistic is bitwise-portable."""
    e = spread(load_table(spark, sf_dir, "events"))
    cells = e.groupBy(
        F.col("event_type").alias("x"),
        F.floor(F.col("value") / 25).cast("bigint").alias("y"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("nxy"))
    cells = pin(cells)
    n = cells.agg(F.sum("nxy").cast("bigint").alias("n"))
    mx = cells.groupBy("x").agg(F.sum("nxy").cast("bigint").alias("nx"))
    my = cells.groupBy("y").agg(F.sum("nxy").cast("bigint").alias("ny"))
    t = F.round(
        (F.col("nxy").cast("double") / F.col("n"))
        * F.log(
            (F.col("nxy").cast("double") * F.col("n"))
            / (F.col("nx").cast("double") * F.col("ny"))
        ),
        6,
    )
    return (
        cells.join(F.broadcast(mx), "x")
        .join(F.broadcast(my), "y")
        .crossJoin(F.broadcast(n))
        .select(t.alias("t"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cells"),
            F.sum(F.col("t").cast("decimal(27,6)"))
            .cast("double")
            .alias("mi_nats"),
        )
    )


@_q(
    "q_levene_test",
    oracle="""
    WITH ranked AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events
    ), med AS (
      SELECT event_type,
             min(CASE WHEN rn * 2 >= n + 1 THEN value END) AS median
      FROM ranked GROUP BY event_type
    ), z AS (
      SELECT e.event_type,
             CAST(round(abs(e.value - m.median), 6)
                  AS DECIMAL(38,12)) AS zr
      FROM events e JOIN med m ON m.event_type = e.event_type
    ), grp AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS nj,
             sum(zr) AS szj,
             sum(zr * zr) AS sz2j
      FROM z GROUP BY event_type
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(nj) AS BIGINT) AS n,
             CAST(sum(CAST(round(CAST(szj AS DOUBLE)
                                 * CAST(szj AS DOUBLE) / nj, 6)
                           AS DECIMAL(38,6))) AS DOUBLE) AS sq_over_n,
             CAST(sum(szj) AS DOUBLE) AS sz,
             CAST(sum(sz2j) AS DOUBLE) AS sz2
      FROM grp
    )
    SELECT k AS k_groups, n AS n_total,
           (CAST(n - k AS DOUBLE) / CAST(k - 1 AS DOUBLE))
             * (sq_over_n - sz * sz / n)
             / (sz2 - sq_over_n) AS bf_stat
    FROM tot
    """,
)
def q_levene_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown–Forsythe test (Levene's test with group *medians*) for
    homogeneity of variance of ``value`` across event types — the
    robust gatekeeper before trusting q_anova_oneway, whose F assumes
    equal variances. W = one-way ANOVA F computed on the absolute
    deviations z = |x − group median|.

    Determinism: medians are nearest-rank data values (the q_mad
    discipline, integer cross-multiplication); z rounds at 6 dp and
    is DECLARED the statistic's input, so Σz and Σz² accumulate
    exactly in DECIMAL(38,12) (order-independent on any partitioning)
    and W is one closed-form double expression over per-group exact
    scalars. Scale: medians from grouped_value_counts (histogram +
    two-phase running count; round 11 — the per-row rank window ran
    one task per event type, 14.6x at the 100x leg, now linear),
    broadcast of the |groups|-row median table back onto the scan,
    then a |groups|-cell reduction — nothing global, nothing
    quadratic."""
    from keycloak_event_stream_spark.operators._scale import (
        grouped_value_counts,
    )

    ev = load_table(spark, sf_dir, "events")
    hv = grouped_value_counts(
        ev.select("event_type", "value"), ["event_type"], "value"
    )
    med = hv.groupBy("event_type").agg(
        F.min(
            F.when(F.col("cum") * 2 >= F.col("n") + 1, F.col("value"))
        ).alias("median")
    )
    z = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        F.round(F.abs(F.col("value") - F.col("median")), 6)
        .cast("decimal(38,12)")
        .alias("zr"),
    )
    grp = z.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("nj"),
        F.sum("zr").alias("szj"),
        F.sum(F.col("zr") * F.col("zr")).alias("sz2j"),
    )
    tot = grp.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("nj").cast("bigint").alias("n"),
        F.sum(
            F.round(
                F.col("szj").cast("double")
                * F.col("szj").cast("double")
                / F.col("nj"),
                6,
            ).cast("decimal(38,6)")
        )
        .cast("double")
        .alias("sq_over_n"),
        F.sum("szj").cast("double").alias("sz"),
        F.sum("sz2j").cast("double").alias("sz2"),
    )
    n, k = F.col("n"), F.col("k")
    bf = F.try_divide(
        F.try_divide((n - k).cast("double"), (k - 1).cast("double"))
        * (F.col("sq_over_n") - F.col("sz") * F.col("sz") / n),
        F.col("sz2") - F.col("sq_over_n"),
    )
    return tot.select(
        k.alias("k_groups"), n.alias("n_total"), bf.alias("bf_stat")
    )


@_q(
    "q_effect_size",
    oracle="""
    WITH cents AS (
      SELECT c_mktsegment,
             CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents
      FROM customer
      WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
    ), grp AS (
      SELECT c_mktsegment,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS s1,
             CAST(sum(cents * cents) AS BIGINT) AS s2
      FROM cents GROUP BY c_mktsegment
    ), ab AS (
      SELECT max(CASE WHEN c_mktsegment = 'BUILDING' THEN n END) AS n1,
             max(CASE WHEN c_mktsegment = 'BUILDING' THEN s1 END) AS a1,
             max(CASE WHEN c_mktsegment = 'BUILDING' THEN s2 END) AS a2,
             max(CASE WHEN c_mktsegment = 'MACHINERY' THEN n END) AS n2,
             max(CASE WHEN c_mktsegment = 'MACHINERY' THEN s1 END) AS b1,
             max(CASE WHEN c_mktsegment = 'MACHINERY' THEN s2 END) AS b2
      FROM grp
    )
    SELECT n1, n2,
           (CAST(a1 AS DOUBLE) / n1 - CAST(b1 AS DOUBLE) / n2) / 100.0
             AS mean_diff,
           ((CAST(a1 AS DOUBLE) / n1 - CAST(b1 AS DOUBLE) / n2)
            / sqrt(((CAST(a2 AS DOUBLE) - CAST(a1 AS DOUBLE) * a1 / n1)
                    + (CAST(b2 AS DOUBLE) - CAST(b1 AS DOUBLE) * b1 / n2))
                   / (n1 + n2 - 2))) AS cohens_d,
           ((CAST(a1 AS DOUBLE) / n1 - CAST(b1 AS DOUBLE) / n2)
            / sqrt(((CAST(a2 AS DOUBLE) - CAST(a1 AS DOUBLE) * a1 / n1)
                    + (CAST(b2 AS DOUBLE) - CAST(b1 AS DOUBLE) * b1 / n2))
                   / (n1 + n2 - 2)))
             * (1.0 - 3.0 / (4.0 * (n1 + n2) - 9.0)) AS hedges_g
    FROM ab
    """,
)
def q_effect_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d and Hedges' g for the BUILDING-vs-MACHINERY account-
    balance difference — the effect-size readout that belongs next to
    q_welch_ttest's p-value (significance says "not noise"; d says
    "big enough to matter", the distinction every A/B report needs).
    d = (m₁−m₂)/s_pooled; g applies the small-sample correction
    J ≈ 1 − 3/(4(n₁+n₂)−9).

    Money lives in exact integer cents, so every moment (n, Σx, Σx²)
    is a pure BIGINT reduction and the statistics are single
    closed-form double expressions over six integers — bitwise
    portable, order-independent, one scan and a 2-cell shuffle at any
    scale. The mean difference is reported back in currency units."""
    cust = load_table(spark, sf_dir, "customer")
    cents = (
        cust.filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select(
            "c_mktsegment",
            (F.col("c_acctbal").cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("cents"),
        )
    )
    grp = cents.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s1"),
        F.sum(F.col("cents") * F.col("cents")).cast("bigint").alias("s2"),
    )
    def pick(seg, col):
        return F.max(
            F.when(F.col("c_mktsegment") == seg, F.col(col))
        )
    ab = grp.agg(
        pick("BUILDING", "n").alias("n1"),
        pick("BUILDING", "s1").alias("a1"),
        pick("BUILDING", "s2").alias("a2"),
        pick("MACHINERY", "n").alias("n2"),
        pick("MACHINERY", "s1").alias("b1"),
        pick("MACHINERY", "s2").alias("b2"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    a1, a2 = F.col("a1"), F.col("a2")
    b1, b2 = F.col("b1"), F.col("b2")
    mdiff = a1.cast("double") / n1 - b1.cast("double") / n2
    pooled = F.sqrt(
        (
            (a2.cast("double") - a1.cast("double") * a1 / n1)
            + (b2.cast("double") - b1.cast("double") * b1 / n2)
        )
        / (n1 + n2 - 2)
    )
    d = mdiff / pooled
    return ab.select(
        "n1",
        "n2",
        (mdiff / F.lit(100.0)).alias("mean_diff"),
        d.alias("cohens_d"),
        (d * (F.lit(1.0) - F.lit(3.0) / (4.0 * (n1 + n2) - F.lit(9.0)))).alias(
            "hedges_g"
        ),
    )


@_q(
    "q_partial_corr",
    oracle="""
    WITH cents AS (
      SELECT l_returnflag,
             CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS x,
             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                  AS BIGINT) AS y,
             CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000 AS BIGINT)
               AS z
      FROM lineitem
    ), m AS (
      SELECT l_returnflag,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS DOUBLE) AS sx,
             CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(z) AS DOUBLE) AS sz,
             CAST(sum(CAST(x * x AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(y * y AS DECIMAL(38,0))) AS DOUBLE) AS syy,
             CAST(sum(CAST(z * z AS DECIMAL(38,0))) AS DOUBLE) AS szz,
             CAST(sum(CAST(x * y AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
             CAST(sum(CAST(x * z AS DECIMAL(38,0))) AS DOUBLE) AS sxz,
             CAST(sum(CAST(y * z AS DECIMAL(38,0))) AS DOUBLE) AS syz
      FROM cents GROUP BY l_returnflag
    ), r AS (
      SELECT l_returnflag, n,
             (n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx)
                                    * sqrt(n * syy - sy * sy)) AS rxy,
             (n * sxz - sx * sz) / (sqrt(n * sxx - sx * sx)
                                    * sqrt(n * szz - sz * sz)) AS rxz,
             (n * syz - sy * sz) / (sqrt(n * syy - sy * sy)
                                    * sqrt(n * szz - sz * sz)) AS ryz
      FROM m
    )
    SELECT l_returnflag, n, rxy,
           (rxy - rxz * ryz)
             / sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz))
             AS partial_rxy_z
    FROM r ORDER BY l_returnflag
    """,
)
def q_partial_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order partial correlation of quantity vs extended price
    CONTROLLING for discount, per return flag:
    r_xy·z = (r_xy − r_xz·r_yz) / √((1−r_xz²)(1−r_yz²)) — the
    confounder-adjusted companion to q_agg_corr, answering "is the
    qty–price relationship real or carried by the discount tier?"

    Same exact-moment discipline as q_agg_corr: all three columns
    scale to exact integers (cents / basis points), the nine moments
    are integer sums in DECIMAL(38,0) (order-independent on any
    partitioning), and the three pairwise r's plus the partial form
    are one deterministic scalar expression after a single
    decimal→double cast each. One shuffle to |flags| cells."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = li.select(
        "l_returnflag",
        (F.col("l_quantity").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("x"),
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("y"),
        (F.col("l_discount").cast("decimal(18,4)") * 10000)
        .cast("bigint")
        .alias("z"),
    )

    def mom(a: str, b: str) -> F.Column:
        # split cast (q_corr_matrix discipline): sf0.1 moment sums
        # cross 2^53 and a plain decimal->double CAST drifts a ulp
        return dbig(
            F.sum((F.col(a) * F.col(b)).cast("decimal(38,0)"))
            .cast("decimal(38,0)")
        )

    m = cents.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum("z").cast("double").alias("sz"),
        mom("x", "x").alias("sxx"),
        mom("y", "y").alias("syy"),
        mom("z", "z").alias("szz"),
        mom("x", "y").alias("sxy"),
        mom("x", "z").alias("sxz"),
        mom("y", "z").alias("syz"),
    )
    n = F.col("n")
    sx, sy, sz = F.col("sx"), F.col("sy"), F.col("sz")
    sxx, syy, szz = F.col("sxx"), F.col("syy"), F.col("szz")
    sxy, sxz, syz = F.col("sxy"), F.col("sxz"), F.col("syz")
    rxy = F.try_divide(
        n * sxy - sx * sy,
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy),
    )
    rxz = F.try_divide(
        n * sxz - sx * sz,
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * szz - sz * sz),
    )
    ryz = F.try_divide(
        n * syz - sy * sz,
        F.sqrt(n * syy - sy * sy) * F.sqrt(n * szz - sz * sz),
    )
    r = m.select(
        "l_returnflag",
        "n",
        rxy.alias("rxy"),
        rxz.alias("rxz"),
        ryz.alias("ryz"),
    )
    partial = F.try_divide(
        F.col("rxy") - F.col("rxz") * F.col("ryz"),
        F.sqrt(
            (F.lit(1.0) - F.col("rxz") * F.col("rxz"))
            * (F.lit(1.0) - F.col("ryz") * F.col("ryz"))
        ),
    )
    return r.select(
        "l_returnflag", "n", "rxy", partial.alias("partial_rxy_z")
    ).orderBy("l_returnflag")


@_q(
    "q_ridge_regression",
    oracle=f"""
    WITH cents AS (
      SELECT CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS x1,
             CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000 AS BIGINT)
               AS x2,
             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                  AS BIGINT) AS y
      FROM lineitem
    ), m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x1) AS DOUBLE) AS s1,
             CAST(sum(x2) AS DOUBLE) AS s2,
             CAST(sum(y) AS DOUBLE) AS sy,
             {sql_dbig("sum(CAST(x1 * x1 AS DECIMAL(38,0)))")} AS s11,
             {sql_dbig("sum(CAST(x1 * x2 AS DECIMAL(38,0)))")} AS s12,
             {sql_dbig("sum(CAST(x2 * x2 AS DECIMAL(38,0)))")} AS s22,
             {sql_dbig("sum(CAST(x1 * y AS DECIMAL(38,0)))")} AS s1y,
             {sql_dbig("sum(CAST(x2 * y AS DECIMAL(38,0)))")} AS s2y,
             {sql_dbig("sum(CAST(y * y AS DECIMAL(38,0)))")} AS syy
      FROM cents
    ), c AS (
      SELECT n,
             s11 - s1 * s1 / n AS c11,
             s12 - s1 * s2 / n AS c12,
             s22 - s2 * s2 / n AS c22,
             s1y - s1 * sy / n AS c1y,
             s2y - s2 * sy / n AS c2y,
             syy - sy * sy / n AS cyy,
             s1 / n AS m1, s2 / n AS m2, sy / n AS my
      FROM m
    ), solved AS (
      SELECT n, m1, m2, my, c1y, c2y, cyy,
             ((c22 + 1000.0) * c1y - c12 * c2y)
               / ((c11 + 1000.0) * (c22 + 1000.0) - c12 * c12) AS b1,
             ((c11 + 1000.0) * c2y - c12 * c1y)
               / ((c11 + 1000.0) * (c22 + 1000.0) - c12 * c12) AS b2
      FROM c
    )
    SELECT n, b1 AS beta_qty, b2 AS beta_disc,
           (my - b1 * m1 - b2 * m2) / 100.0 AS intercept,
           (b1 * c1y + b2 * c2y) / cyy AS r2
    FROM solved
    """,
)
def q_ridge_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form ridge regression (λ = 1000) of extended price on
    quantity and discount via *sufficient statistics* — the pattern
    that trains linear models at 100 TB without a single gradient
    step: one scan reduces the data to ten exact moments, the 2×2
    normal equations (Xᶜ'Xᶜ + λI)β = Xᶜ'y solve by Cramer's rule on
    the driver-free single-row plan, and the fit quality reads off
    the same scalars (R² = β'Xᶜ'y / y'y centered).

    Every moment is an integer sum in DECIMAL(38,0) (cents / basis
    points — the q_agg_corr discipline), cast to double exactly once;
    the solve is one deterministic scalar expression with identical
    shape in both engines. Adding features grows the moment vector
    quadratically but the scan stays single-pass — the engine-side
    answer to "fit a trend line over the whole corpus"."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = li.select(
        (F.col("l_quantity").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("x1"),
        (F.col("l_discount").cast("decimal(18,4)") * 10000)
        .cast("bigint")
        .alias("x2"),
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("y"),
    )

    def mom(a: str, b: str) -> F.Column:
        return (
            F.sum((F.col(a) * F.col(b)).cast("decimal(38,0)"))
            .cast("double")
        )

    m = cents.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x1").cast("double").alias("s1"),
        F.sum("x2").cast("double").alias("s2"),
        F.sum("y").cast("double").alias("sy"),
        mom("x1", "x1").alias("s11"),
        mom("x1", "x2").alias("s12"),
        mom("x2", "x2").alias("s22"),
        mom("x1", "y").alias("s1y"),
        mom("x2", "y").alias("s2y"),
        mom("y", "y").alias("syy"),
    )
    n = F.col("n")
    c = m.select(
        "n",
        (F.col("s11") - F.col("s1") * F.col("s1") / n).alias("c11"),
        (F.col("s12") - F.col("s1") * F.col("s2") / n).alias("c12"),
        (F.col("s22") - F.col("s2") * F.col("s2") / n).alias("c22"),
        (F.col("s1y") - F.col("s1") * F.col("sy") / n).alias("c1y"),
        (F.col("s2y") - F.col("s2") * F.col("sy") / n).alias("c2y"),
        (F.col("syy") - F.col("sy") * F.col("sy") / n).alias("cyy"),
        (F.col("s1") / n).alias("m1"),
        (F.col("s2") / n).alias("m2"),
        (F.col("sy") / n).alias("my"),
    )
    lam = F.lit(1000.0)
    det = (F.col("c11") + lam) * (F.col("c22") + lam) - F.col(
        "c12"
    ) * F.col("c12")
    b1 = F.try_divide(
        (F.col("c22") + lam) * F.col("c1y") - F.col("c12") * F.col("c2y"), det
    )
    b2 = F.try_divide(
        (F.col("c11") + lam) * F.col("c2y") - F.col("c12") * F.col("c1y"), det
    )
    solved = c.select(
        "n", "m1", "m2", "my", "c1y", "c2y", "cyy",
        b1.alias("b1"), b2.alias("b2"),
    )
    return solved.select(
        "n",
        F.col("b1").alias("beta_qty"),
        F.col("b2").alias("beta_disc"),
        (
            (F.col("my") - F.col("b1") * F.col("m1") - F.col("b2") * F.col("m2"))
            / F.lit(100.0)
        ).alias("intercept"),
        F.try_divide(
            F.col("b1") * F.col("c1y") + F.col("b2") * F.col("c2y"),
            F.col("cyy"),
        ).alias("r2"),
    )


def _qq_probs() -> list[tuple[float, float]]:
    """(p, z_p) pairs for p = 0.05..0.95: the standard-normal quantile
    constants are query-build-time literals (stdlib NormalDist — not
    data-dependent), inlined identically into both engines."""
    from statistics import NormalDist

    nd = NormalDist()
    return [(i / 20.0, nd.inv_cdf(i / 20.0)) for i in range(1, 20)]


@_q(
    "q_qq_plot",
    oracle=f"""
    WITH probs(p, z_theo) AS (
      VALUES {", ".join(
        f"(CAST({p!r} AS DOUBLE), CAST({z!r} AS DOUBLE))"
        for p, z in _qq_probs()
      )}
    ),
    per_v AS (
      SELECT value, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY value
    ),
    cum AS (
      SELECT value,
             CAST(sum(c) OVER (ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum,
             CAST(sum(c) OVER () AS BIGINT) AS n
      FROM per_v
    ),
    emp AS (
      SELECT pr.p, pr.z_theo,
             min(CASE WHEN cum.cum * 20 >= CAST(pr.p * 20 AS BIGINT)
                           * cum.n
                      THEN cum.value END) AS q_emp,
             max(cum.n) AS n
      FROM probs pr CROSS JOIN cum
      GROUP BY pr.p, pr.z_theo
    ),
    micro AS (
      SELECT CAST(CAST(round(value, 6) AS DECIMAL(18,6)) * 1000000
                  AS BIGINT) AS v6
      FROM events
    ),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(CAST(sum(v6) AS DECIMAL(38,0)) AS DOUBLE)
               / 1000000.0 AS s1,
             CAST(sum(CAST(v6 AS DECIMAL(19,0))
                      * CAST(v6 AS DECIMAL(19,0))) AS DOUBLE)
               / 1000000000000.0 AS s2
      FROM micro
    )
    SELECT e.p, e.q_emp, e.z_theo,
           (e.q_emp - m.s1 / m.n)
             / sqrt((m.s2 - m.s1 * m.s1 / m.n) / m.n) AS z_emp
    FROM emp e CROSS JOIN mom m
    ORDER BY e.p
    """,
)
def q_qq_plot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q-Q plot of ``value`` against the normal distribution: 19
    nearest-rank empirical quantiles (p = 0.05..0.95) standardized by
    the exact-moment mean/sd, paired with the theoretical z_p — the
    one-look normality diagnostic (S-shape = heavy tails, bend =
    skew) behind every "can I use a z-test here?" decision.

    Scale shape: one shuffle to per-value counts, a two-phase
    range-partitioned cumulative count over |distinct values| (the
    q_ks_test ECDF discipline — no single-partition window), then a
    19-probe broadcast sweep reduced per probe. The quantile pick is
    pure integer arithmetic (cum·20 ≥ p·20·n — p·20 is an exact small
    integer, so no float threshold); z_p constants are build-time
    literals; the standardization uses 6-dp decimal moments. Bitwise
    end to end."""
    ev = load_table(spark, sf_dir, "events")
    per_v = ev.groupBy("value").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    # round 12: total folds out of the same k-row per-partition
    # aggregate as the offsets (no with_totals re-pass; exact)
    cum = two_phase_window(
        per_v, [F.col("value")], cumsum={"cum": "c"}, totals={"n": "c"}
    ).select("value", F.col("cum").cast("bigint").alias("cum"), "n")
    probs = spark.createDataFrame(
        _qq_probs(), schema="p double, z_theo double"
    )
    emp = (
        F.broadcast(probs)
        .crossJoin(cum)
        .groupBy("p", "z_theo")
        .agg(
            F.min(
                F.when(
                    F.col("cum") * 20
                    >= (F.col("p") * 20).cast("bigint") * F.col("n"),
                    F.col("value"),
                )
            ).alias("q_emp"),
            F.max("n").alias("n"),
        )
    )
    # micro-unit integer moments: every decimal->double cast is
    # integer-valued (DuckDB's fractional int128->double drifts a ulp)
    v6 = (
        F.round(F.col("value"), 6).cast("decimal(18,6)") * 1000000
    ).cast("bigint")
    mom = ev.select(v6.alias("v6")).agg(
        F.count(F.lit(1)).cast("bigint").alias("mn"),
        (
            F.sum("v6").cast("decimal(38,0)").cast("double")
            / F.lit(1000000.0)
        ).alias("s1"),
        (
            F.sum(
                F.col("v6").cast("decimal(19,0)")
                * F.col("v6").cast("decimal(19,0)")
            ).cast("double")
            / F.lit(1000000000000.0)
        ).alias("s2"),
    )
    z_emp = F.try_divide(
        F.col("q_emp") - F.col("s1") / F.col("mn"),
        F.sqrt(
            (F.col("s2") - F.col("s1") * F.col("s1") / F.col("mn"))
            / F.col("mn")
        ),
    )
    return (
        emp.crossJoin(F.broadcast(mom))
        .select("p", "q_emp", "z_theo", z_emp.alias("z_emp"))
        .orderBy("p")
    )


def _phi_expr(x: str) -> str:
    """Abramowitz–Stegun 7.1.26 normal CDF for x >= 0 — ONE SQL
    expression string used verbatim by both engines (Spark F.expr and
    the DuckDB oracle share exp/sqrt/ln spellings), so the arithmetic
    shape is identical by construction."""
    t = f"(1.0 / (1.0 + 0.2316419 * {x}))"
    poly = (
        f"({t} * (0.319381530 + {t} * (-0.356563782 + {t} * "
        f"(1.781477937 + {t} * (-1.821255978 + {t} * 1.330274429)))))"
    )
    return (
        f"(1.0 - exp(-({x}) * ({x}) / 2.0) / sqrt(2.0 * pi()) * {poly})"
    )


@_q(
    "q_benjamini_hochberg",
    oracle=f"""
    WITH grp AS (
      SELECT c_nationkey,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS pos
      FROM customer GROUP BY c_nationkey
    ),
    tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS tn,
             CAST(sum(pos) AS BIGINT) AS tpos,
             CAST(count(*) AS BIGINT) AS m
      FROM grp
    ),
    z AS (
      SELECT g.c_nationkey, g.n, t.m,
             abs((CAST(g.pos AS DOUBLE) / g.n
                  - CAST(t.tpos AS DOUBLE) / t.tn)
                 / sqrt((CAST(t.tpos AS DOUBLE) / t.tn)
                        * (1.0 - CAST(t.tpos AS DOUBLE) / t.tn)
                        / g.n)) AS az
      FROM grp g CROSS JOIN tot t
    ),
    pv AS (
      SELECT c_nationkey, n, m,
             round(2.0 * (1.0 - {_phi_expr("az")}), 6) AS p
      FROM z
    ),
    ranked AS (
      SELECT c_nationkey, n, m, p,
             CAST(row_number() OVER (ORDER BY p, c_nationkey)
                  AS BIGINT) AS rk
      FROM pv
    ),
    cutoff AS (
      SELECT COALESCE(max(CASE WHEN p * m <= rk * 0.10
                               THEN rk END), 0) AS max_k
      FROM ranked
    )
    SELECT r.c_nationkey, r.n, r.p, r.rk,
           round(r.rk * 0.10 / r.m, 6) AS bh_threshold,
           CAST(CASE WHEN r.rk <= c.max_k THEN 1 ELSE 0 END
                AS INTEGER) AS significant
    FROM ranked r CROSS JOIN cutoff c
    ORDER BY r.rk
    """,
)
def q_benjamini_hochberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini–Hochberg FDR correction (q = 0.10) over the family of
    25 per-nation one-sample proportion tests (positive-balance share
    vs the global share) — the multiple-testing discipline that every
    per-segment metric sweep needs: at 25 simultaneous tests, ~1-3
    raw p < 0.05 "findings" are expected under the null, and BH is
    the standard way to keep the *false-discovery rate*, not the
    per-test rate, at q.

    The test family reduces to |nations| integer count cells in one
    shuffle; z and the normal CDF (shared Abramowitz–Stegun 7.1.26
    expression — literally the same SQL string in both engines) are
    closed-form per cell, rounded at 6 dp; the BH step-up runs over
    the bounded 25-row family (rank + a 1-row max-k broadcast), with
    the cutoff comparison as p·m ≤ k·q — no division in the
    decision."""
    cust = load_table(spark, sf_dir, "customer")
    grp = cust.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("c_acctbal") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("pos"),
    )
    tot = grp.agg(
        F.sum("n").cast("bigint").alias("tn"),
        F.sum("pos").cast("bigint").alias("tpos"),
        F.count(F.lit(1)).cast("bigint").alias("m"),
    )
    p0 = F.col("tpos").cast("double") / F.col("tn")
    az = F.abs(
        F.try_divide(
            F.col("pos").cast("double") / F.col("n") - p0,
            F.sqrt(p0 * (F.lit(1.0) - p0) / F.col("n")),
        )
    )
    pv = (
        grp.crossJoin(F.broadcast(tot))
        .withColumn("az", az)
        .select(
            "c_nationkey",
            "n",
            "m",
            F.round(
                2.0 * (1.0 - F.expr(_phi_expr("az"))), 6
            ).alias("p"),
        )
    )
    ranked = pv.select(
        "c_nationkey",
        "n",
        "m",
        "p",
        F.row_number()
        .over(Window.orderBy("p", "c_nationkey"))
        .cast("bigint")
        .alias("rk"),
    )
    cutoff = ranked.agg(
        F.coalesce(
            F.max(
                F.when(F.col("p") * F.col("m") <= F.col("rk") * 0.10,
                       F.col("rk"))
            ),
            F.lit(0),
        ).alias("max_k")
    )
    return (
        ranked.crossJoin(F.broadcast(cutoff))
        .select(
            "c_nationkey",
            "n",
            "p",
            "rk",
            F.round(F.col("rk") * 0.10 / F.col("m"), 6).alias(
                "bh_threshold"
            ),
            F.when(F.col("rk") <= F.col("max_k"), 1)
            .otherwise(0)
            .cast("int")
            .alias("significant"),
        )
        .orderBy("rk")
    )


def _power_z() -> tuple[float, float]:
    """(z_{alpha/2}, z_beta) for alpha = 0.05 two-sided, power = 0.8 —
    query-build-time stdlib literals (the q_qq_plot discipline)."""
    from statistics import NormalDist

    nd = NormalDist()
    return nd.inv_cdf(0.975), nd.inv_cdf(0.8)


@_q(
    "q_power_analysis",
    oracle=f"""
    WITH users AS (
      SELECT user_id,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS converted
      FROM events GROUP BY user_id
    ),
    base AS (
      SELECT CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(converted) AS BIGINT) AS n_conv,
             CAST(sum(converted) AS DOUBLE) / count(*) AS p1
      FROM users
    ),
    lifts AS (SELECT unnest([CAST(0.01 AS DOUBLE),
                             CAST(0.02 AS DOUBLE),
                             CAST(0.05 AS DOUBLE)]) AS lift)
    SELECT l.lift, b.n_users, b.p1,
           b.p1 + l.lift AS p2,
           CAST(ceil(
             ({_power_z()[0]!r} + {_power_z()[1]!r})
             * ({_power_z()[0]!r} + {_power_z()[1]!r})
             * (b.p1 * (1.0 - b.p1)
                + (b.p1 + l.lift) * (1.0 - b.p1 - l.lift))
             / (l.lift * l.lift)) AS BIGINT) AS n_per_arm
    FROM lifts l CROSS JOIN base b
    ORDER BY l.lift
    """,
)
def q_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B sample-size calculator seeded by the OBSERVED baseline:
    user-level purchase conversion p₁ comes from the data, and for
    each candidate absolute lift (1/2/5 pp) the two-proportion formula
    n/arm = (z_{α/2}+z_β)²·(p₁q₁+p₂q₂)/Δ² says how many users each
    arm needs at α = 0.05, power = 0.8 — the pre-registration step
    that belongs NEXT TO q_ab_test_proportions (which judges the
    experiment this op sizes).

    One shuffle to per-user conversion flags, one row of integer
    counts, then a 3-row broadcast lift grid with a closed-form
    expression — z constants are build-time stdlib literals, identical
    in both engines, and the output n is a ceil of a shared-shape
    double. Cost independent of corpus size."""
    za, zb = _power_z()
    ev = load_table(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted")
    )
    base = users.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("converted").cast("bigint").alias("n_conv"),
        (F.sum("converted").cast("double") / F.count(F.lit(1))).alias("p1"),
    )
    lifts = spark.createDataFrame(
        [(0.01,), (0.02,), (0.05,)], schema="lift double"
    )
    p1, lift = F.col("p1"), F.col("lift")
    p2 = p1 + lift
    n_arm = F.ceil(
        F.lit((za + zb)) * F.lit((za + zb))
        * (p1 * (F.lit(1.0) - p1) + p2 * (F.lit(1.0) - p1 - lift))
        / (lift * lift)
    ).cast("bigint")
    return (
        F.broadcast(lifts)
        .crossJoin(base)
        .select(
            "lift",
            "n_users",
            "p1",
            p2.alias("p2"),
            n_arm.alias("n_per_arm"),
        )
        .orderBy("lift")
    )


@_q(
    "q_diff_in_diff",
    oracle="""
    WITH cells AS (
      SELECT CAST(user_id % 2 AS BIGINT) AS treated,
             CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END
               AS post,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(value, 6) AS DECIMAL(27,6)))
                  AS DOUBLE) AS sv
      FROM events
      GROUP BY 1, 2
    ),
    wide AS (
      SELECT
        max(CASE WHEN treated = 1 AND post = 1 THEN sv / n END) AS t2,
        max(CASE WHEN treated = 1 AND post = 0 THEN sv / n END) AS t1,
        max(CASE WHEN treated = 0 AND post = 1 THEN sv / n END) AS c2,
        max(CASE WHEN treated = 0 AND post = 0 THEN sv / n END) AS c1,
        CAST(sum(n) AS BIGINT) AS n_total
      FROM cells
    )
    SELECT n_total, t1, t2, c1, c2,
           (t2 - t1) - (c2 - c1) AS did_estimate
    FROM wide
    """,
)
def q_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: a deterministic even/odd user split
    (the q_ab_test_proportions cohorting) crossed with a pre/post
    boundary mid-corpus; DiD = (T̄post−T̄pre) − (C̄post−C̄pre) removes
    both the stable group gap and the common time trend — the
    workhorse causal estimate when randomization wasn't available.

    The whole table reduces to FOUR cells in one conditional
    aggregate (6-dp decimal value sums, integer counts); the estimate
    is a closed-form expression over four exact cell means. Scan
    speed at any scale — there is nothing else to shuffle."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        (F.col("user_id") % 2).cast("bigint").alias("treated"),
        F.when(
            F.col("ts") >= F.lit("2024-01-16").cast("timestamp"), 1
        )
        .otherwise(0)
        .alias("post"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.round(F.col("value"), 6).cast("decimal(27,6)"))
        .cast("double")
        .alias("sv"),
    )

    def cell(t, p):
        return F.max(
            F.when(
                (F.col("treated") == t) & (F.col("post") == p),
                F.col("sv") / F.col("n"),
            )
        )

    wide = cells.agg(
        cell(1, 1).alias("t2"),
        cell(1, 0).alias("t1"),
        cell(0, 1).alias("c2"),
        cell(0, 0).alias("c1"),
        F.sum("n").cast("bigint").alias("n_total"),
    )
    return wide.select(
        "n_total",
        "t1",
        "t2",
        "c1",
        "c2",
        (
            (F.col("t2") - F.col("t1")) - (F.col("c2") - F.col("c1"))
        ).alias("did_estimate"),
    )


@_q(
    "q_ipw_ate",
    oracle="""
    WITH base AS (
      SELECT user_id, event_type,
             CAST(user_id % 2 AS BIGINT) AS treated,
             CAST(round(value, 6) AS DECIMAL(27,6)) AS v
      FROM events
    ),
    prop AS (
      SELECT event_type,
             CAST(sum(treated) AS BIGINT) AS n_t,
             CAST(count(*) AS BIGINT) AS n_s
      FROM base GROUP BY event_type
    ),
    weighted AS (
      SELECT b.treated,
             round(CAST(b.v AS DOUBLE)
                   * CASE WHEN b.treated = 1
                          THEN CAST(p.n_s AS DOUBLE) / p.n_t
                          ELSE CAST(p.n_s AS DOUBLE)
                               / (p.n_s - p.n_t) END, 6) AS wv,
             round(CASE WHEN b.treated = 1
                        THEN CAST(p.n_s AS DOUBLE) / p.n_t
                        ELSE CAST(p.n_s AS DOUBLE)
                             / (p.n_s - p.n_t) END, 6) AS w
      FROM base b JOIN prop p ON p.event_type = b.event_type
    )
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN treated = 1
                         THEN CAST(wv AS DECIMAL(27,6)) END) AS DOUBLE)
             / CAST(sum(CASE WHEN treated = 1
                             THEN CAST(w AS DECIMAL(27,6)) END)
                    AS DOUBLE)
           - CAST(sum(CASE WHEN treated = 0
                           THEN CAST(wv AS DECIMAL(27,6)) END)
                  AS DOUBLE)
             / CAST(sum(CASE WHEN treated = 0
                             THEN CAST(w AS DECIMAL(27,6)) END)
                    AS DOUBLE) AS ate_ipw
    FROM weighted
    """,
)
def q_ipw_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-propensity-weighted average treatment effect (Hájek
    estimator), propensities stratified by event type: each stratum's
    observed treatment share is its propensity, rows are weighted
    1/p (treated) or 1/(1−p) (control), and the ATE is the weighted
    mean difference — the confounder-adjustment step between the
    naive mean gap and q_diff_in_diff's trend-adjusted estimate.

    Strata propensities are exact integer ratios from one |types|
    aggregate broadcast back onto the scan; per-row weights and
    weighted values round at 6 dp into DECIMAL sums (order-
    independent); the Hájek ratio normalizes both arms. Two shuffles
    total (stratum counts + the final 1-row reduction)."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        (F.col("user_id") % 2).cast("bigint").alias("treated"),
        F.round(F.col("value"), 6).cast("decimal(27,6)").alias("v"),
    )
    prop = base.groupBy("event_type").agg(
        F.sum("treated").cast("bigint").alias("n_t"),
        F.count(F.lit(1)).cast("bigint").alias("n_s"),
    )
    w_expr = F.when(
        F.col("treated") == 1,
        F.col("n_s").cast("double") / F.col("n_t"),
    ).otherwise(
        F.col("n_s").cast("double") / (F.col("n_s") - F.col("n_t"))
    )
    weighted = base.join(F.broadcast(prop), "event_type").select(
        "treated",
        F.round(F.col("v").cast("double") * w_expr, 6).alias("wv"),
        F.round(w_expr, 6).alias("w"),
    )

    def dsum_if(t, col):
        return F.sum(
            F.when(F.col("treated") == t, F.col(col).cast("decimal(27,6)"))
        ).cast("double")

    return weighted.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (
            dsum_if(1, "wv") / dsum_if(1, "w")
            - dsum_if(0, "wv") / dsum_if(0, "w")
        ).alias("ate_ipw"),
    )


@_q(
    "q_ab_srm_check",
    oracle=f"""
    WITH arms AS (
      SELECT CAST(user_id % 2 AS BIGINT) AS arm,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      FROM events GROUP BY 1
    ),
    wide AS (
      SELECT max(CASE WHEN arm = 0 THEN n_users END) AS n0,
             max(CASE WHEN arm = 1 THEN n_users END) AS n1
      FROM arms
    ),
    stat AS (
      SELECT n0, n1,
             CAST((n0 - n1) * (n0 - n1) AS DOUBLE) / (n0 + n1)
               AS chi2
      FROM wide
    )
    SELECT n0, n1, chi2,
           round(2.0 * (1.0 - {_phi_expr('sqrt(chi2)')}), 6) AS p_value,
           CAST(CASE WHEN round(2.0 * (1.0 - {_phi_expr('sqrt(chi2)')}), 6) < 0.001
                     THEN 1 ELSE 0 END AS INTEGER) AS srm_flag
    FROM stat
    """,
)
def q_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail for the even/odd user split:
    chi-square goodness-of-fit against the designed 50/50 allocation
    (χ² = (n₀−n₁)²/(n₀+n₁) for two arms), p-value via the shared
    Abramowitz–Stegun normal CDF (χ²₁ = z²), flagged at p < 0.001 —
    the FIRST check an experimentation platform runs, because a
    biased assignment invalidates q_ab_test_proportions and
    q_ab_cuped no matter what they report.

    One distinct-user aggregate to two integer cells; the statistic,
    p, and flag are closed-form with build-time-identical expression
    text in both engines, 6-dp rounded."""
    ev = load_table(spark, sf_dir, "events")
    arms = ev.groupBy((F.col("user_id") % 2).cast("bigint").alias("arm")).agg(
        F.countDistinct("user_id").cast("bigint").alias("n_users")
    )
    wide = arms.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n_users"))).alias("n0"),
        F.max(F.when(F.col("arm") == 1, F.col("n_users"))).alias("n1"),
    )
    stat = wide.select(
        "n0",
        "n1",
        (
            ((F.col("n0") - F.col("n1")) * (F.col("n0") - F.col("n1")))
            .cast("double")
            / (F.col("n0") + F.col("n1"))
        ).alias("chi2"),
    )
    z = "sqrt(chi2)"
    pv = F.round(
        2.0 * (1.0 - F.expr(_phi_expr(z))), 6
    )
    return stat.select(
        "n0",
        "n1",
        "chi2",
        pv.alias("p_value"),
        F.when(pv < 0.001, 1).otherwise(0).cast("int").alias("srm_flag"),
    )


@_q(
    "q_bayes_ab",
    oracle=f"""
    WITH users AS (
      SELECT user_id,
             CAST(user_id % 2 AS BIGINT) AS arm,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS conv
      FROM events GROUP BY user_id
    ),
    arms AS (
      SELECT arm,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(conv) AS BIGINT) AS k
      FROM users GROUP BY arm
    ),
    wide AS (
      SELECT max(CASE WHEN arm = 0 THEN n END) AS na,
             max(CASE WHEN arm = 0 THEN k END) AS ka,
             max(CASE WHEN arm = 1 THEN n END) AS nb,
             max(CASE WHEN arm = 1 THEN k END) AS kb
      FROM arms
    ),
    post AS (
      SELECT na, ka, nb, kb,
             (ka + 1.0) / (na + 2.0) AS ma,
             (kb + 1.0) / (nb + 2.0) AS mb,
             (ka + 1.0) * (na - ka + 1.0)
               / ((na + 2.0) * (na + 2.0) * (na + 3.0)) AS va,
             (kb + 1.0) * (nb - kb + 1.0)
               / ((nb + 2.0) * (nb + 2.0) * (nb + 3.0)) AS vb
      FROM wide
    ),
    z AS (
      SELECT na, ka, nb, kb, ma, mb,
             (mb - ma) / sqrt(va + vb) AS zs
      FROM post
    )
    SELECT na, ka, nb, kb, ma AS p_a_mean, mb AS p_b_mean,
           round(CASE WHEN zs >= 0 THEN {_phi_expr('zs')}
                      ELSE 1.0 - {_phi_expr('(-zs)')} END, 6)
             AS prob_b_beats_a
    FROM z
    """,
)
def q_bayes_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bayesian A/B readout: Beta(1,1)-posterior conversion rates per
    arm (even/odd user split, user-level purchase conversion) and
    P(B > A) under the normal approximation to the posterior
    difference — the "probability B is better" number stakeholders
    actually ask for, next to q_ab_test_proportions' frequentist p
    and q_power_analysis' sizing. Exact Beta means/variances; the
    one approximation (normal tail) uses the shared closed-form CDF.

    One shuffle to user-level conversion flags, two integer cells,
    closed-form scalars after — corpus-size-independent cost."""
    ev = load_table(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv")
    ).select(
        (F.col("user_id") % 2).cast("bigint").alias("arm"), "conv"
    )
    arms = users.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("conv").cast("bigint").alias("k"),
    )

    def pick(a, col):
        return F.max(F.when(F.col("arm") == a, F.col(col)))

    wide = arms.agg(
        pick(0, "n").alias("na"),
        pick(0, "k").alias("ka"),
        pick(1, "n").alias("nb"),
        pick(1, "k").alias("kb"),
    )
    ma = (F.col("ka") + 1.0) / (F.col("na") + 2.0)
    mb = (F.col("kb") + 1.0) / (F.col("nb") + 2.0)
    va = (
        (F.col("ka") + 1.0)
        * (F.col("na") - F.col("ka") + 1.0)
        / (
            (F.col("na") + 2.0)
            * (F.col("na") + 2.0)
            * (F.col("na") + 3.0)
        )
    )
    vb = (
        (F.col("kb") + 1.0)
        * (F.col("nb") - F.col("kb") + 1.0)
        / (
            (F.col("nb") + 2.0)
            * (F.col("nb") + 2.0)
            * (F.col("nb") + 3.0)
        )
    )
    z = wide.select(
        "na",
        "ka",
        "nb",
        "kb",
        ma.alias("ma"),
        mb.alias("mb"),
        ((mb - ma) / F.sqrt(va + vb)).alias("zs"),
    )
    prob = F.round(
        F.when(
            F.col("zs") >= 0, F.expr(_phi_expr("zs"))
        ).otherwise(F.lit(1.0) - F.expr(_phi_expr("(-zs)"))),
        6,
    )
    return z.select(
        "na",
        "ka",
        "nb",
        "kb",
        F.col("ma").alias("p_a_mean"),
        F.col("mb").alias("p_b_mean"),
        prob.alias("prob_b_beats_a"),
    )


@_q(
    "q_eb_shrinkage",
    oracle="""
    WITH users AS (
      SELECT e.user_id,
             CAST(e.user_id % 25 AS BIGINT) AS segment,
             max(CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END)
               AS conv
      FROM events e GROUP BY e.user_id
    ),
    seg AS (
      SELECT segment,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(conv) AS BIGINT) AS k
      FROM users GROUP BY segment
    ),
    gl AS (
      SELECT CAST(sum(n) AS BIGINT) AS tn,
             CAST(sum(k) AS BIGINT) AS tk
      FROM seg
    )
    SELECT s.segment, s.n, s.k,
           CAST(s.k AS DOUBLE) / s.n AS raw_rate,
           round((CAST(s.k AS DOUBLE)
                  + 20.0 * (CAST(g.tk AS DOUBLE) / g.tn))
                 / (s.n + 20.0), 6) AS shrunk_rate
    FROM seg s CROSS JOIN gl g
    ORDER BY s.segment
    """,
)
def q_eb_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes shrinkage of per-segment conversion rates
    toward the global rate with a fixed pseudo-count prior (k = 20
    equivalent observations): small segments get pulled hard toward
    the prior, big ones barely move — the standard fix for the
    "best-converting segment is the 3-user one" leaderboard lie,
    shown next to the raw rate so the shrinkage is auditable.

    One shuffle to |segments| integer cells, the global rate as a
    1-row cross join; the shrunk rate is one closed-form 6-dp-
    rounded expression per segment; swapping the fixed pseudo-count
    for a method-of-moments fit is a one-line change on the same
    cells."""
    ev = load_table(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv")
    ).select(
        (F.col("user_id") % 25).cast("bigint").alias("segment"), "conv"
    )
    seg = users.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("conv").cast("bigint").alias("k"),
    )
    glob = seg.agg(
        F.sum("n").cast("bigint").alias("tn"),
        F.sum("k").cast("bigint").alias("tk"),
    )
    return (
        seg.crossJoin(F.broadcast(glob))
        .select(
            "segment",
            "n",
            "k",
            (F.col("k").cast("double") / F.col("n")).alias("raw_rate"),
            F.round(
                (
                    F.col("k").cast("double")
                    + 20.0 * (F.col("tk").cast("double") / F.col("tn"))
                )
                / (F.col("n") + 20.0),
                6,
            ).alias("shrunk_rate"),
        )
        .orderBy("segment")
    )


@_q(
    "q_gini_by_segment",
    oracle="""
    WITH per_cust AS (
      SELECT c.c_mktsegment AS segment, o.o_custkey,
             CAST(sum(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
                           AS BIGINT)) AS BIGINT) AS cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ), ranked AS (
      SELECT segment, cents,
             row_number() OVER (PARTITION BY segment
                                ORDER BY cents, o_custkey) AS i
      FROM per_cust
    )
    SELECT segment,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(cents) AS BIGINT) AS total_cents,
           2.0 * CAST(sum(CAST(i * cents AS DECIMAL(38,0))) AS DOUBLE)
             / (count(*) * CAST(sum(cents) AS DOUBLE))
             - CAST(count(*) + 1 AS DOUBLE) / count(*) AS gini
    FROM ranked
    GROUP BY segment
    ORDER BY segment
    """,
)
def q_gini_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini revenue concentration computed PER market segment — the
    partitioned form of q_gini, and the shape that scales best: the
    rank window runs partitioned by segment (k independent sorts, no
    global total order at all, not even a two-phase one), which is
    how a 1000-executor cluster wants every concentration report
    sliced anyway. A segment whose Gini spikes relative to its peers
    has a whale problem the global number averages away.

    Same exactness: integer cents, rank-weighted sums in
    DECIMAL(38,0), one closed-form double per segment."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    cents_expr = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast(
        "bigint"
    )
    per_cust = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_mktsegment")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .groupBy(F.col("c_mktsegment").alias("segment"), "o_custkey")
        .agg(F.sum(cents_expr).alias("cents"))
    )
    w = Window.partitionBy("segment").orderBy("cents", "o_custkey")
    ranked = per_cust.select(
        "segment", "cents", F.row_number().over(w).alias("i")
    )
    n = F.count(F.lit(1))
    return (
        ranked.groupBy("segment")
        .agg(
            n.cast("bigint").alias("n_customers"),
            F.sum("cents").cast("bigint").alias("total_cents"),
            (
                2.0
                * F.sum((F.col("i") * F.col("cents")).cast("decimal(38,0)"))
                .cast("double")
                / (n * F.sum("cents").cast("double"))
                - (n + 1).cast("double") / n
            ).alias("gini"),
        )
        .orderBy("segment")
    )


@_q(
    "q_percentile_bands_exact",
    oracle="""
    WITH ranked AS (
      SELECT l_returnflag,
             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents,
             row_number() OVER (
               PARTITION BY l_returnflag
               ORDER BY CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                             AS BIGINT), l_orderkey, l_linenumber) AS rn,
             count(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem
    )
    SELECT l_returnflag,
           CAST(max(n) AS BIGINT) AS n_rows,
           CAST(min(CASE WHEN rn = (n * 10 + 99) // 100 THEN cents END)
                AS BIGINT) AS p10_cents,
           CAST(min(CASE WHEN rn = (n * 25 + 99) // 100 THEN cents END)
                AS BIGINT) AS p25_cents,
           CAST(min(CASE WHEN rn = (n * 50 + 99) // 100 THEN cents END)
                AS BIGINT) AS p50_cents,
           CAST(min(CASE WHEN rn = (n * 75 + 99) // 100 THEN cents END)
                AS BIGINT) AS p75_cents,
           CAST(min(CASE WHEN rn = (n * 90 + 99) // 100 THEN cents END)
                AS BIGINT) AS p90_cents
    FROM ranked
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q_percentile_bands_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p10/p25/p50/p75/p90 bands of line-item price per return
    flag — the five-number summary BI dashboards draw as box plots,
    computed as NEAREST-RANK order statistics in integer cents (no
    interpolation, no float percentile arithmetic).

    Round 11: the previous form ranked every ROW through
    two_phase_window — scale-safe but wasteful for a scalar band
    report (19.5x at the 100x leg: a full range shuffle + persist of
    the 60M-row projection to extract 15 numbers). Order statistics
    only depend on the VALUE HISTOGRAM, so the bands now come from
    grouped_value_counts (map-side-combined histogram + two-phase
    running count over distinct cents; rank-hit predicates substitute
    the inclusive running count for row_number — same value by the
    helper's up-set rule, equality becoming >=). 100x leg ~3.4 s
    (2.6x). Band extraction stays the integer conditional aggregate
    (ceil(n·p/100) = (n·p+99)//100)."""
    from keycloak_event_stream_spark.operators._scale import (
        grouped_value_counts,
    )

    l = spread(load_table(spark, sf_dir, "lineitem"))
    cents = (
        F.col("l_extendedprice").cast("decimal(18,2)") * 100
    ).cast("bigint")
    h = grouped_value_counts(
        l.select("l_returnflag", cents.alias("cents")),
        ["l_returnflag"],
        "cents",
    )

    def band(p, out):
        hit = (F.col("n") * p + 99) - ((F.col("n") * p + 99) % 100)
        return (
            F.min(
                F.when(F.col("cum") * 100 >= hit, F.col("cents"))
            )
            .cast("bigint")
            .alias(out)
        )

    return (
        h.groupBy("l_returnflag")
        .agg(
            F.max("n").cast("bigint").alias("n_rows"),
            band(10, "p10_cents"),
            band(25, "p25_cents"),
            band(50, "p50_cents"),
            band(75, "p75_cents"),
            band(90, "p90_cents"),
        )
        .orderBy("l_returnflag")
    )


@_q(
    "q_winsorized_mean_by",
    oracle="""
    WITH ranked AS (
      SELECT o_orderpriority,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents,
             row_number() OVER (
               PARTITION BY o_orderpriority
               ORDER BY CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT), o_orderkey) AS rn,
             count(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM orders
    ),
    bounds AS (
      SELECT o_orderpriority,
             min(CASE WHEN rn = (n * 5 + 99) // 100 THEN cents END) AS lo,
             min(CASE WHEN rn = (n * 95 + 99) // 100 THEN cents END) AS hi,
             CAST(max(n) AS BIGINT) AS n
      FROM ranked GROUP BY o_orderpriority
    )
    SELECT r.o_orderpriority,
           b.n AS n_orders,
           CAST(sum(r.cents) AS DOUBLE) / b.n / 100.0 AS raw_mean,
           CAST(sum(least(greatest(r.cents, b.lo), b.hi)) AS DOUBLE)
             / b.n / 100.0 AS winsorized_mean
    FROM ranked r JOIN bounds b ON b.o_orderpriority = r.o_orderpriority
    GROUP BY r.o_orderpriority, b.n
    ORDER BY r.o_orderpriority
    """,
)
def q_winsorized_mean_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5%-winsorized mean order value per priority class, next to the
    raw mean — the outlier-robust KPI (one whale order shifts the raw
    mean; the winsorized mean clamps the tails to the exact p5/p95
    order statistics first). The gap between the two columns IS the
    tail-sensitivity diagnostic.

    Same skew discipline as q_percentile_bands_exact (round 11): the
    tail bounds are order statistics, so they come straight from
    grouped_value_counts (histogram + two-phase running count; the
    nearest-rank hit substitutes the running count for row_number,
    equality becoming >=) — no per-row rank pass at all. The clamp
    pass is then one scan with the |groups|-row bounds broadcast
    back, integer cents end-to-end, a single double division (and a
    /100 to dollars) at the surface. 100x leg 4.7x -> ~1.6x."""
    from keycloak_event_stream_spark.operators._scale import (
        grouped_value_counts,
    )

    o = spread(load_table(spark, sf_dir, "orders"))
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
    base = o.select("o_orderpriority", cents.alias("cents"))
    h = grouped_value_counts(base, ["o_orderpriority"], "cents")

    def hit(p):
        return F.col("cum") * 100 >= (
            (F.col("n") * p + 99) - ((F.col("n") * p + 99) % 100)
        )

    bounds = h.groupBy("o_orderpriority").agg(
        F.min(F.when(hit(5), F.col("cents"))).alias("lo"),
        F.min(F.when(hit(95), F.col("cents"))).alias("hi"),
        F.max("n").cast("bigint").alias("n"),
    )
    clamped = base.join(F.broadcast(bounds), "o_orderpriority").select(
        "o_orderpriority",
        "n",
        "cents",
        F.least(F.greatest(F.col("cents"), F.col("lo")), F.col("hi")).alias(
            "w_cents"
        ),
    )
    return (
        clamped.groupBy("o_orderpriority", "n")
        .agg(
            F.sum("cents").cast("bigint").alias("s_raw"),
            F.sum("w_cents").cast("bigint").alias("s_w"),
        )
        .select(
            "o_orderpriority",
            F.col("n").alias("n_orders"),
            (F.col("s_raw").cast("double") / F.col("n") / F.lit(100.0)).alias(
                "raw_mean"
            ),
            (F.col("s_w").cast("double") / F.col("n") / F.lit(100.0)).alias(
                "winsorized_mean"
            ),
        )
        .orderBy("o_orderpriority")
    )


@_q(
    "q_spearman_corr",
    oracle="""
    WITH per_order AS (
      SELECT o.o_orderkey,
             CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS price_c,
             CAST(count(*) AS BIGINT) AS n_lines
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_totalprice
    ),
    ranked AS (
      SELECT row_number() OVER (ORDER BY price_c, o_orderkey) AS rx,
             row_number() OVER (ORDER BY n_lines, o_orderkey) AS ry
      FROM per_order
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(rx) AS BIGINT) AS sx,
             CAST(sum(ry) AS BIGINT) AS sy,
             CAST(sum(CAST(rx AS DECIMAL(38,0)) * ry) AS DECIMAL(38,0))
               AS sxy,
             CAST(sum(CAST(rx AS DECIMAL(38,0)) * rx) AS DECIMAL(38,0))
               AS sxx,
             CAST(sum(CAST(ry AS DECIMAL(38,0)) * ry) AS DECIMAL(38,0))
               AS syy
      FROM ranked
    )
    SELECT n,
           CAST(CAST(n * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)
                / sqrt(CAST(n * sxx - CAST(sx AS DECIMAL(38,0)) * sx
                            AS DOUBLE)
                       * CAST(n * syy - CAST(sy AS DECIMAL(38,0)) * sy
                              AS DOUBLE))
                AS DOUBLE) AS spearman_rho
    FROM m
    """,
)
def q_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between order value and basket size —
    the monotonic-association companion to q_agg_corr's Pearson r
    (robust to the heavy price tail: a whale order can't drag ranks
    the way it drags raw cents). Ranks break ties by o_orderkey in
    BOTH variables, stated, so ρ is fully deterministic.

    The per-order rollup is one join+aggregate; BOTH rank columns come
    from two-phase range-partitioned row_numbers (two order spreads,
    no single-task sort); the Pearson-on-ranks moments are exact
    integers in DECIMAL(38,0) with one double division at the end."""
    # Bounded-eval width (catalog.bounded_eval_scope): the join + the
    # two two-phase order spreads + the rank re-join at corpus width
    # measured 10.0 s vanilla sf0.01 for a 1-row result (r8 ABA probe,
    # BASELINE.md "measured r9 perf queue"); input-derived width reads
    # ~1.7 s. The WHOLE body runs under the scope: the per_order
    # persist and the two-phase range pins compile their physical
    # plans eagerly at call time, so pins created outside the scope
    # would keep corpus width forever. Driving count is lineitem (the
    # join's large side); the moments materialize eagerly inside via
    # localCheckpoint before the scopes release the pins and restore
    # the conf.
    with bounded_eval_scope(spark, footer_rows(sf_dir, "lineitem")), pin_scope():
        o = spread(load_table(spark, sf_dir, "orders"))
        l = load_table(spark, sf_dir, "lineitem")
        per_order = (
            o.join(l, o.o_orderkey == l.l_orderkey)
            .groupBy(o.o_orderkey, "o_totalprice")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_lines"))
            .select(
                "o_orderkey",
                (F.col("o_totalprice").cast("decimal(18,2)") * 100)
                .cast("bigint")
                .alias("price_c"),
                "n_lines",
            )
        )
        per_order = pin(per_order)
        rx = two_phase_window(
            per_order, [F.col("price_c"), F.col("o_orderkey")], row_number="rx"
        ).select("o_orderkey", "rx")
        ry = two_phase_window(
            per_order, [F.col("n_lines"), F.col("o_orderkey")], row_number="ry"
        ).select("o_orderkey", "ry")
        ranked = rx.join(ry, "o_orderkey")
        m = ranked.agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("rx").cast("bigint").alias("sx"),
            F.sum("ry").cast("bigint").alias("sy"),
            F.sum(F.col("rx").cast("decimal(38,0)") * F.col("ry"))
            .cast("decimal(38,0)")
            .alias("sxy"),
            F.sum(F.col("rx").cast("decimal(38,0)") * F.col("rx"))
            .cast("decimal(38,0)")
            .alias("sxx"),
            F.sum(F.col("ry").cast("decimal(38,0)") * F.col("ry"))
            .cast("decimal(38,0)")
            .alias("syy"),
        )
        num = (
            F.col("n") * F.col("sxy")
            - F.col("sx").cast("decimal(38,0)") * F.col("sy")
        ).cast("double")
        den = F.sqrt(
            (
                F.col("n") * F.col("sxx")
                - F.col("sx").cast("decimal(38,0)") * F.col("sx")
            ).cast("double")
            * (
                F.col("n") * F.col("syy")
                - F.col("sy").cast("decimal(38,0)") * F.col("sy")
            ).cast("double")
        )
        return m.select("n", (num / den).alias("spearman_rho")).localCheckpoint(
            eager=True
        )


@_q(
    "q_ab_sequential",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS grp,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    cum AS (
      SELECT day,
             CAST(sum(CASE WHEN grp = 'A' THEN n ELSE 0 END)
               OVER w AS BIGINT) AS na,
             CAST(sum(CASE WHEN grp = 'A' THEN x ELSE 0 END)
               OVER w AS BIGINT) AS xa,
             CAST(sum(CASE WHEN grp = 'B' THEN n ELSE 0 END)
               OVER w AS BIGINT) AS nb,
             CAST(sum(CASE WHEN grp = 'B' THEN x ELSE 0 END)
               OVER w AS BIGINT) AS xb
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    ),
    dedup AS (
      SELECT day, max(na) AS na, max(xa) AS xa,
             max(nb) AS nb, max(xb) AS xb
      FROM cum GROUP BY day
    ),
    z AS (
      SELECT day, na, xa, nb, xb,
             (CAST(xa AS DOUBLE) / na - CAST(xb AS DOUBLE) / nb)
               / sqrt((CAST(xa + xb AS DOUBLE) / (na + nb))
                      * (1.0 - CAST(xa + xb AS DOUBLE) / (na + nb))
                      * (1.0 / na + 1.0 / nb)) AS z_stat
      FROM dedup WHERE na > 0 AND nb > 0 AND xa + xb > 0
    )
    SELECT day, na, nb, z_stat,
           abs(z_stat) > 3.0 AS crossed
    FROM z
    ORDER BY day
    """,
)
def q_ab_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential A/B monitoring: the pooled two-proportion z statistic
    recomputed on CUMULATIVE counts every day, with a Haybittle–Peto
    stopping boundary (|z| > 3) — the peeking-safe companion to
    q_ab_test_proportions' single final test (looking daily at an
    unadjusted 1.96 boundary inflates false positives several-fold;
    the conservative 3.0 interim boundary is the classic fix).

    Events reduce to |days|×2 cells in one shuffle; the cumulative
    window runs over the bounded daily spine; z is a closed-form
    expression over four integers, written token-identically in both
    engines (one sqrt)."""
    ev = spread(load_table(spark, sf_dir, "events"))
    daily = ev.groupBy(
        F.col("ts").cast("date").alias("day"),
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias("grp"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = daily.select(
        "day",
        F.sum(F.when(F.col("grp") == "A", F.col("n")).otherwise(0))
        .over(w)
        .cast("bigint")
        .alias("na"),
        F.sum(F.when(F.col("grp") == "A", F.col("x")).otherwise(0))
        .over(w)
        .cast("bigint")
        .alias("xa"),
        F.sum(F.when(F.col("grp") == "B", F.col("n")).otherwise(0))
        .over(w)
        .cast("bigint")
        .alias("nb"),
        F.sum(F.when(F.col("grp") == "B", F.col("x")).otherwise(0))
        .over(w)
        .cast("bigint")
        .alias("xb"),
    )
    dedup = cum.groupBy("day").agg(
        F.max("na").alias("na"),
        F.max("xa").alias("xa"),
        F.max("nb").alias("nb"),
        F.max("xb").alias("xb"),
    )
    na, xa, nb, xb = (F.col(c) for c in ("na", "xa", "nb", "xb"))
    pooled = (xa + xb).cast("double") / (na + nb)
    z = (xa.cast("double") / na - xb.cast("double") / nb) / F.sqrt(
        pooled * (F.lit(1.0) - pooled) * (F.lit(1.0) / na + F.lit(1.0) / nb)
    )
    return (
        dedup.filter((na > 0) & (nb > 0) & (xa + xb > 0))
        .select(
            "day",
            "na",
            "nb",
            z.alias("z_stat"),
            (F.abs(z) > 3.0).alias("crossed"),
        )
        .orderBy("day")
    )


@_q(
    "q_ab_heterogeneity",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS grp,
             event_type AS segment,
             CAST(count(*) AS BIGINT) AS n_ev
      FROM events GROUP BY user_id, event_type
    ),
    seg AS (
      SELECT segment,
             CAST(sum(CASE WHEN grp = 'A' THEN 1 ELSE 0 END) AS BIGINT)
               AS na,
             CAST(sum(CASE WHEN grp = 'B' THEN 1 ELSE 0 END) AS BIGINT)
               AS nb,
             CAST(sum(CASE WHEN grp = 'A' THEN n_ev ELSE 0 END) AS BIGINT)
               AS sa,
             CAST(sum(CASE WHEN grp = 'B' THEN n_ev ELSE 0 END) AS BIGINT)
               AS sb,
             CAST(sum(CASE WHEN grp = 'A' THEN n_ev * n_ev ELSE 0 END)
                  AS BIGINT) AS qa,
             CAST(sum(CASE WHEN grp = 'B' THEN n_ev * n_ev ELSE 0 END)
                  AS BIGINT) AS qb
      FROM per_user GROUP BY segment
    )
    SELECT segment, na, nb,
           CAST(sa AS DOUBLE) / na AS mean_a,
           CAST(sb AS DOUBLE) / nb AS mean_b,
           CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb AS lift,
           (CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb)
             / sqrt(CAST(na * qa - sa * sa AS DOUBLE) / na / na / na
                    + CAST(nb * qb - sb * sb AS DOUBLE) / nb / nb / nb)
             AS z_stat
    FROM seg
    WHERE na > 1 AND nb > 1
      AND (na * qa - sa * sa > 0 OR nb * qb - sb * sb > 0)
    ORDER BY segment
    """,
)
def q_ab_heterogeneity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heterogeneous treatment effects: the A/B difference in mean
    events-per-user recomputed PER EVENT-TYPE SEGMENT with a Welch
    z statistic — a flat overall effect often hides one segment
    driving everything (the Simpson's-trap check every experiment
    readout needs next to q_ab_test_proportions' single number), and
    a continuous outcome avoids the degenerate-proportion trap (on
    this fixture nearly every user converts, so proportion lifts are
    vacuous).

    Per-(user, segment) counts reduce in one shuffle; each segment's
    z comes from six exact integer moments (n, Σx, Σx² per arm) with
    the variance combination written token-identically in both
    engines — one sqrt, one division."""
    ev = spread(load_table(spark, sf_dir, "events"))
    per_user = ev.groupBy(
        "user_id",
        F.col("event_type").alias("segment"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_ev")).select(
        "*",
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias("grp"),
    )
    a = F.col("grp") == "A"
    seg = per_user.groupBy("segment").agg(
        F.sum(F.when(a, 1).otherwise(0)).cast("bigint").alias("na"),
        F.sum(F.when(~a, 1).otherwise(0)).cast("bigint").alias("nb"),
        F.sum(F.when(a, F.col("n_ev")).otherwise(0))
        .cast("bigint")
        .alias("sa"),
        F.sum(F.when(~a, F.col("n_ev")).otherwise(0))
        .cast("bigint")
        .alias("sb"),
        F.sum(F.when(a, F.col("n_ev") * F.col("n_ev")).otherwise(0))
        .cast("bigint")
        .alias("qa"),
        F.sum(F.when(~a, F.col("n_ev") * F.col("n_ev")).otherwise(0))
        .cast("bigint")
        .alias("qb"),
    )
    na, nb, sa, sb, qa, qb = (
        F.col(c) for c in ("na", "nb", "sa", "sb", "qa", "qb")
    )
    mean_a = sa.cast("double") / na
    mean_b = sb.cast("double") / nb
    lift = mean_a - mean_b
    z = lift / F.sqrt(
        (na * qa - sa * sa).cast("double") / na / na / na
        + (nb * qb - sb * sb).cast("double") / nb / nb / nb
    )
    return (
        seg.filter(
            (na > 1)
            & (nb > 1)
            & ((na * qa - sa * sa > 0) | (nb * qb - sb * sb > 0))
        )
        .select(
            "segment",
            "na",
            "nb",
            mean_a.alias("mean_a"),
            mean_b.alias("mean_b"),
            lift.alias("lift"),
            z.alias("z_stat"),
        )
        .orderBy("segment")
    )


@_q(
    "q_poisson_fit_lines",
    oracle="""
    WITH per_order AS (
      SELECT l_orderkey, CAST(count(*) AS BIGINT) AS k
      FROM lineitem GROUP BY l_orderkey
    ),
    hist AS (
      SELECT k, CAST(count(*) AS BIGINT) AS obs
      FROM per_order GROUP BY k
    ),
    m AS (
      SELECT CAST(sum(obs) AS BIGINT) AS n,
             CAST(sum(k * obs) AS BIGINT) AS total_k
      FROM hist
    ),
    scored AS (
      SELECT h.k, h.obs,
             round(m.n * exp(-(CAST(m.total_k AS DOUBLE) / m.n))
                   * power(CAST(m.total_k AS DOUBLE) / m.n, h.k)
                   / factorial(CAST(h.k AS INTEGER)), 6) AS expected
      FROM hist h CROSS JOIN m
    )
    SELECT CAST(k AS BIGINT) AS k, obs, expected,
           round((obs - expected) * (obs - expected)
                 / greatest(expected, 0.000001), 6) AS chi2_term
    FROM scored
    ORDER BY k
    """,
)
def q_poisson_fit_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson goodness-of-fit for lines-per-order: the observed basket
    size histogram against the Poisson(λ̂ = mean) expectations with
    per-cell χ² terms — whether basket sizes are "random arrivals"
    (independent item picks) or structured (bundles, minimums); big
    terms at specific k point at WHERE the model breaks, which a
    single p-value hides.

    Lineitem reduces to the |distinct k| histogram in one shuffle; λ̂
    comes from integer moments; the Poisson pmf term
    (n·e^-λ·λ^k / k!) uses integer factorial and rounds at 6 dp (the
    libm discipline for exp/pow), as does each χ² term with a
    floor-guarded denominator — identical expressions both engines."""
    l = spread(load_table(spark, sf_dir, "lineitem"))
    per_order = l.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("k")
    )
    hist = per_order.groupBy("k").agg(
        F.count(F.lit(1)).cast("bigint").alias("obs")
    )
    m = hist.agg(
        F.sum("obs").cast("bigint").alias("n"),
        F.sum(F.col("k") * F.col("obs")).cast("bigint").alias("total_k"),
    )
    lam = F.col("total_k").cast("double") / F.col("n")
    expected = F.round(
        F.col("n")
        * F.exp(-lam)
        * F.pow(lam, F.col("k"))
        / F.expr("factorial(cast(k as int))"),
        6,
    )
    scored = hist.crossJoin(F.broadcast(m)).select(
        F.col("k").cast("bigint").alias("k"),
        "obs",
        expected.alias("expected"),
    )
    return scored.select(
        "k",
        "obs",
        "expected",
        F.round(
            (F.col("obs") - F.col("expected"))
            * (F.col("obs") - F.col("expected"))
            / F.greatest(F.col("expected"), F.lit(0.000001)),
            6,
        ).alias("chi2_term"),
    ).orderBy("k")


@_q(
    "q_g_test",
    oracle="""
    WITH cells AS (
      SELECT event_type, CAST(isodow(CAST(ts AS DATE)) AS BIGINT) AS dow,
             count(*) AS o
      FROM events GROUP BY 1, 2
    ), tot AS (
      SELECT event_type, dow, o,
             CAST(sum(o) OVER (PARTITION BY event_type) AS BIGINT) AS rt,
             CAST(sum(o) OVER (PARTITION BY dow) AS BIGINT) AS ct,
             CAST(sum(o) OVER () AS BIGINT) AS g
      FROM cells
    ), contrib AS (
      SELECT round(o * ln(CAST(o AS DOUBLE)
                          / (CAST(rt AS DOUBLE) * ct / g)), 6) AS c
      FROM tot
    )
    SELECT CAST((SELECT count(*) FROM cells) AS BIGINT) AS n_cells,
           2.0 * CAST(sum(CAST(c AS DECIMAL(27,6))) AS DOUBLE) AS g_stat
    FROM contrib
    """,
)
def q_g_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G-test (log-likelihood ratio) of independence: event type vs
    ISO day-of-week — the additive cousin of q_chi_square that modern
    references prefer for sparse cells (G decomposes over partitions
    of the table; Pearson's X² does not). G = 2·Σ O·ln(O/E) with E
    from the same integer marginals as q_chi_square.

    Observed counts never vanish (cells exist only where O ≥ 1), so
    every ln argument is positive. Per-cell terms are deterministic
    scalar doubles rounded to 6 decimals and summed in DECIMAL
    (order-independent — the q_chi_square discipline); one shuffle to
    the |types × 7| contingency cells, window marginals over cells."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type",
        F.expr("weekday(cast(ts as date)) + 1").cast("bigint").alias("dow"),
    ).agg(F.count(F.lit(1)).alias("o"))
    tot = cells.select(
        "o",
        F.sum("o")
        .over(Window.partitionBy("event_type"))
        .cast("bigint")
        .alias("rt"),
        F.sum("o").over(Window.partitionBy("dow")).cast("bigint").alias("ct"),
        F.sum("o").over(Window.partitionBy()).cast("bigint").alias("g"),
    )
    e = F.col("rt").cast("double") * F.col("ct") / F.col("g")
    contrib = tot.select(
        F.round(
            F.col("o") * F.log(F.col("o").cast("double") / e), 6
        ).alias("c")
    )
    n_cells = cells.count()
    return contrib.agg(
        F.lit(n_cells).cast("bigint").alias("n_cells"),
        (
            F.lit(2.0)
            * F.sum(F.col("c").cast("decimal(27,6)")).cast("double")
        ).alias("g_stat"),
    )


@_q(
    "q_hill_tail_index",
    oracle="""
    WITH ordered AS (
      SELECT CAST(o_totalprice AS DOUBLE) AS x
      FROM orders
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 101
    ), thr AS (
      SELECT min(x) AS xk1 FROM ordered
    ), topk AS (
      SELECT x FROM ordered ORDER BY x DESC, x LIMIT 100
    )
    SELECT CAST(100 AS BIGINT) AS k,
           (SELECT xk1 FROM thr) AS threshold,
           CAST(sum(CAST(round(ln(x / (SELECT xk1 FROM thr)), 6)
                         AS DECIMAL(27,6))) AS DOUBLE) / 100.0
             AS inv_alpha,
           100.0 / CAST(sum(CAST(round(ln(x / (SELECT xk1 FROM thr)), 6)
                                 AS DECIMAL(27,6))) AS DOUBLE)
             AS alpha_hat
    FROM topk
    """,
)
def q_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the heavy-tail exponent over the top-k order
    totals (k = 100): α̂⁻¹ = (1/k)·Σ ln(x_(i)/x_(k+1)) — the standard
    diagnostic for whether a spend/size distribution is Pareto-like
    (α ≤ 2 means infinite variance: sampling and sketch error bounds
    built on CLT assumptions quietly break). A training-data pipeline
    runs this on document lengths and dup-cluster sizes before
    trusting any mean-based budget arithmetic.

    Scale shape: the only global structure needed is the top k+1
    rows — TakeOrderedAndProject (bounded k, no full sort, no
    two-phase window needed). Ties at the boundary don't disturb the
    statistic: the tiebreak (orderkey) only chooses WHICH of the tied
    equal values enter, so the value multiset is invariant. Per-row
    ln ratios are rounded to 6 decimals and DECIMAL-summed."""
    o = spread(load_table(spark, sf_dir, "orders"))
    top = (
        o.select(F.col("o_totalprice").cast("double").alias("x"), "o_orderkey")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(101)
    )
    thr = top.agg(F.min("x").alias("xk1"))
    topk = (
        top.crossJoin(F.broadcast(thr))
        .orderBy(F.col("x").desc(), "o_orderkey")
        .limit(100)
    )
    ssum = F.sum(
        F.round(F.log(F.col("x") / F.col("xk1")), 6).cast("decimal(27,6)")
    ).cast("double")
    return topk.agg(
        F.lit(100).cast("bigint").alias("k"),
        F.min("xk1").alias("threshold"),
        (ssum / F.lit(100.0)).alias("inv_alpha"),
        F.try_divide(F.lit(100.0), ssum).alias("alpha_hat"),
    )


_BB_L = 7  # moving-block length (days): preserves week-scale dependence


def _bb_oracle() -> str:
    m = "CAST(ceil(CAST(n AS DOUBLE) / {L}) AS INTEGER)".format(L=_BB_L)
    start = (
        "CAST(CAST(('0x' || substr(md5(r || '#' || j), 1, 6)) AS BIGINT)"
        " % (n - {L} + 1) + 1 AS INTEGER)"
    ).format(L=_BB_L)
    return f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ), series AS (
      SELECT list(CAST(c AS DOUBLE) ORDER BY day) AS v,
             CAST(count(*) AS BIGINT) AS n
      FROM daily
    ), means AS (
      SELECT n,
             list_sort(list_transform(generate_series(1, {_BOOT_B}),
               r -> list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                      flatten(list_transform(generate_series(1, {m}),
                        j -> list_transform(generate_series(0, {_BB_L} - 1),
                               o -> v[{start} + o])))),
                      (a, b) -> a + b) / ({m} * {_BB_L}))) AS ms
      FROM series
    )
    SELECT n AS n_days, {_BOOT_B} AS n_resamples,
           CAST({_BB_L} AS BIGINT) AS block_len,
           ms[CAST(ceil(0.025 * {_BOOT_B}) AS INTEGER)] AS ci_lo,
           ms[CAST(ceil(0.975 * {_BOOT_B}) AS INTEGER)] AS ci_hi,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE), ms),
                       (a, b) -> a + b) / {_BOOT_B} AS boot_mean
    FROM means
    """


@_q("q_block_bootstrap_ci", oracle=_bb_oracle())
def q_block_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving-block bootstrap CI for the mean daily event count — the
    time-series-correct cousin of q_bootstrap_ci: i.i.d. resampling
    shatters autocorrelation and understates the variance of a
    dependent series, so each resample here draws ⌈n/L⌉ CONSECUTIVE
    blocks of L = 7 days (week-scale dependence survives inside every
    block). Block starts are md5-derived from (resample, block) — the
    deterministic-resampling discipline of q_bootstrap_ci, so both
    engines replay the identical "randomness".

    Same one-row array-expression shape after the daily rollup:
    per-resample means are index-order sequential folds over the
    flattened block draws, percentile picks are integer ranks on the
    sorted mean list. The distributed form at 100 TB keys draws by
    (resample, block) and hash-filters scans, exactly like the i.i.d.
    variant."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    series = daily.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(day, c))),"
            " s -> cast(s.c as double))"
        ).alias("v"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    m = f"cast(ceil(cast(n as double) / {_BB_L}) as int)"
    start = (
        f"cast(cast(conv(substr(md5(concat(r, '#', j)), 1, 6), 16, 10)"
        f" as bigint) % (n - {_BB_L} + 1) + 1 as int)"
    )
    mean_r = (
        f"aggregate(flatten(transform(sequence(1, {m}),"
        f" j -> transform(sequence(0, {_BB_L} - 1),"
        f" o -> element_at(v, {start} + o)))),"
        f" cast(0.0 as double), (a, b) -> a + b) / ({m} * {_BB_L})"
    )
    means = series.select(
        "n",
        # shorter than one block (or empty): no valid block start
        # exists (the hash start would take % of a non-positive
        # count) — NULL mean list degrades every stat to NULL
        F.expr(
            f"CASE WHEN n >= {_BB_L} THEN"
            f" array_sort(transform(sequence(1, {_BOOT_B}),"
            f" r -> {mean_r})) ELSE NULL END"
        ).alias("ms"),
    )
    import math

    lo_rank = math.ceil(0.025 * _BOOT_B)
    hi_rank = math.ceil(0.975 * _BOOT_B)
    return means.select(
        F.col("n").alias("n_days"),
        F.lit(_BOOT_B).alias("n_resamples"),
        F.lit(_BB_L).cast("bigint").alias("block_len"),
        F.expr(f"element_at(ms, {lo_rank})").alias("ci_lo"),
        F.expr(f"element_at(ms, {hi_rank})").alias("ci_hi"),
        F.expr(
            f"aggregate(ms, cast(0.0 as double), (a, b) -> a + b)"
            f" / {_BOOT_B}"
        ).alias("boot_mean"),
    )


@_q(
    "q_neyman_allocation",
    oracle="""
    WITH cents AS (
      SELECT c_mktsegment AS seg,
             CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
      FROM customer
    ),
    strata AS (
      SELECT seg,
             CAST(count(*) AS BIGINT) AS n_pop,
             CAST(sum(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
             CAST(sum(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0))
               AS sxx
      FROM cents GROUP BY seg
    ),
    scored AS (
      SELECT seg, n_pop,
             sqrt(CAST(n_pop * sxx - sx * sx AS DOUBLE)
                  / (CAST(n_pop AS DOUBLE) * (n_pop - 1))) / 100.0
               AS std_bal,
             round(n_pop * (sqrt(CAST(n_pop * sxx - sx * sx AS DOUBLE)
                    / (CAST(n_pop AS DOUBLE) * (n_pop - 1))) / 100.0), 6)
               AS nh_sh
      FROM strata
    ),
    tot AS (
      SELECT CAST(sum(CAST(nh_sh AS DECIMAL(27,6))) AS DOUBLE) AS d,
             CAST(sum(n_pop) AS BIGINT) AS big_n
      FROM scored
    )
    SELECT seg, n_pop, std_bal,
           CAST(round(1000.0 * nh_sh / d, 0) AS BIGINT) AS alloc_neyman,
           CAST(round(1000.0 * n_pop / big_n, 0) AS BIGINT)
             AS alloc_proportional
    FROM scored CROSS JOIN tot
    ORDER BY seg
    """,
)
def q_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified-sample allocation: for a budget of
    1000 draws over the market-segment strata, n_h ∝ N_h·S_h (stratum
    size × stratum std of account balance) — the design that minimizes
    the variance of the stratified mean, vs the proportional n_h ∝ N_h
    baseline emitted alongside. This is the sampling-design rung under
    q_stratified_sample: a training-data pipeline allocating an
    annotation or eval budget across sources runs exactly this
    arithmetic on quality-score variance.

    Per-stratum moments are exact integer cents in DECIMAL(38,0)
    (n·Σx² − (Σx)² stays integral, no float cancellation); S_h is one
    sqrt per stratum; the 5-term denominator Σ N_h·S_h rounds each
    term at 6 dp and sums in DECIMAL (order-independent). One shuffle
    to |segments| cells."""
    cust = load_table(spark, sf_dir, "customer")
    x = (F.col("c_acctbal").cast("decimal(18,2)") * 100).cast("bigint")
    cents = cust.select(
        F.col("c_mktsegment").alias("seg"), x.alias("x")
    )
    strata = cents.groupBy("seg").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pop"),
        F.sum(F.col("x").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("sx"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x"))
        .cast("decimal(38,0)")
        .alias("sxx"),
    )
    std_bal = (
        F.sqrt(
            F.try_divide(
                (F.col("n_pop") * F.col("sxx")
                 - F.col("sx") * F.col("sx")).cast("double"),
                F.col("n_pop").cast("double") * (F.col("n_pop") - 1),
            )
        )
        / F.lit(100.0)
    )
    scored = strata.select(
        "seg",
        "n_pop",
        std_bal.alias("std_bal"),
        F.round(F.col("n_pop") * std_bal, 6).alias("nh_sh"),
    )
    tot = scored.agg(
        F.sum(F.col("nh_sh").cast("decimal(27,6)")).cast("double").alias("d"),
        F.sum("n_pop").cast("bigint").alias("big_n"),
    )
    return (
        scored.crossJoin(F.broadcast(tot))
        .select(
            "seg",
            "n_pop",
            "std_bal",
            F.round(
                F.try_divide(F.lit(1000.0) * F.col("nh_sh"), F.col("d")), 0
            )
            .cast("bigint")
            .alias("alloc_neyman"),
            F.round(F.lit(1000.0) * F.col("n_pop") / F.col("big_n"), 0)
            .cast("bigint")
            .alias("alloc_proportional"),
        )
        .orderBy("seg")
    )
