"""Model-evaluation operators: confusion matrix with per-class
precision/recall/F1, exact ROC-AUC, and calibration (reliability)
bins.

North-star surface: a training-data pipeline is judged by the models
it feeds, so the eval loop — score a classifier's predictions at
corpus scale — is first-class engine work, not a notebook
afterthought. The reference computes nothing of the sort (SURVEY.md
§2.2).

Determinism playbook (what keeps these bitwise oracle-checkable):

- Confusion counts, TP/FP/FN, rank sums: pure integers.
- AUC: the Mann–Whitney identity computed per *distinct score* over
  the merged score distribution — ``2·AUC·n⁺·n⁻ = Σ_s neg(s)·(2·
  pos_above(s) + pos(s))`` — so the whole statistic is one integer
  until a single final division (the q_ks_test cross-product
  discipline; no average-rank floats anywhere).
- Calibration: bin indexes from one shared min/max (identical IEEE
  arithmetic both engines), per-bin mean scores summed as 6-dp
  decimals (the q_tfidf libm-ulp discipline), hit rates as exact
  integer ratios.

Scale: every statistic reduces per distinct score / class / bin —
|distinct| rows of state after one shuffle, independent of corpus
size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from keycloak_event_stream_spark.catalog import load_table, pin, spread
from keycloak_event_stream_spark.operators._scale import (
    two_phase_window,
)
from keycloak_event_stream_spark.registry import register as _q

# Shared heuristic classifier (same rule as q_lang_id) — the engine's
# running example of a cheap per-row featurizer whose quality we now
# *measure* instead of just emitting.
_PRED_SQL = """
    CASE WHEN (CAST(length(text) AS DOUBLE)
               - length(replace(text, 'e', '')))
              / CAST(length(text) AS DOUBLE) >= 0.10 THEN 'en'
         WHEN (CAST(length(text) AS DOUBLE)
               - length(replace(text, 'e', '')))
              / CAST(length(text) AS DOUBLE) >= 0.08 THEN 'fr'
         WHEN (CAST(length(text) AS DOUBLE)
               - length(replace(text, 'a', '')))
              / CAST(length(text) AS DOUBLE) >= 0.10 THEN 'es'
         WHEN (CAST(length(text) AS DOUBLE)
               - length(replace(text, 'a', '')))
              / CAST(length(text) AS DOUBLE) >= 0.08 THEN 'de'
         ELSE 'zh' END
"""


def _predicted_col() -> F.Column:
    ln = F.length("text").cast("double")
    e_ratio = (
        ln - F.length(F.replace(F.col("text"), F.lit("e"), F.lit("")))
    ) / ln
    a_ratio = (
        ln - F.length(F.replace(F.col("text"), F.lit("a"), F.lit("")))
    ) / ln
    return (
        F.when(e_ratio >= 0.10, F.lit("en"))
        .when(e_ratio >= 0.08, F.lit("fr"))
        .when(a_ratio >= 0.10, F.lit("es"))
        .when(a_ratio >= 0.08, F.lit("de"))
        .otherwise(F.lit("zh"))
    )


@_q(
    "q_confusion_matrix",
    oracle=f"""
    SELECT lang AS actual, {_PRED_SQL} AS predicted,
           CAST(count(*) AS BIGINT) AS n
    FROM documents
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the lang-id heuristic vs ground-truth
    labels: one row per (actual, predicted) cell. Featurization is
    per-row at scan speed; the matrix is one shuffle to at most
    |classes|² cells — the eval reduction whose cost is independent
    of corpus size."""
    d = spread(load_table(spark, sf_dir, "documents"))
    return (
        d.select(
            F.col("lang").alias("actual"),
            _predicted_col().alias("predicted"),
        )
        .groupBy("actual", "predicted")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy("actual", "predicted")
    )


@_q(
    "q_classifier_prf1",
    oracle=f"""
    WITH scored AS (
      SELECT lang AS actual, {_PRED_SQL} AS predicted FROM documents
    ), classes AS (
      SELECT actual AS cls FROM scored
      UNION SELECT predicted FROM scored
    ), m AS (
      SELECT c.cls,
             CAST(sum(CASE WHEN s.actual = c.cls AND s.predicted = c.cls
                           THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(sum(CASE WHEN s.actual <> c.cls AND s.predicted = c.cls
                           THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(sum(CASE WHEN s.actual = c.cls AND s.predicted <> c.cls
                           THEN 1 ELSE 0 END) AS BIGINT) AS fn
      FROM classes c CROSS JOIN scored s
      GROUP BY c.cls
    )
    SELECT cls, tp, fp, fn,
           CASE WHEN tp + fp = 0 THEN 0.0
                ELSE CAST(tp AS DOUBLE) / (tp + fp) END AS precision,
           CASE WHEN tp + fn = 0 THEN 0.0
                ELSE CAST(tp AS DOUBLE) / (tp + fn) END AS recall,
           CASE WHEN 2 * tp + fp + fn = 0 THEN 0.0
                ELSE 2.0 * tp / (2 * tp + fp + fn) END AS f1
    FROM m
    ORDER BY cls
    """,
)
def q_classifier_prf1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision / recall / F1 for the lang-id heuristic.

    TP/FP/FN come from one conditional aggregation per class over the
    scored rows (the small |classes| side broadcasts into the scan-
    sized side, so the corpus is read once); the three metrics are
    closed-form ratios of exact integers — zero-denominator classes
    pinned to 0.0 identically in both engines."""
    d = spread(load_table(spark, sf_dir, "documents"))
    scored = d.select(
        F.col("lang").alias("actual"), _predicted_col().alias("predicted")
    )
    classes = (
        scored.select(F.col("actual").alias("cls"))
        .union(scored.select("predicted"))
        .distinct()
    )
    s = scored.crossJoin(F.broadcast(classes))
    m = s.groupBy("cls").agg(
        F.sum(
            F.when(
                (F.col("actual") == F.col("cls"))
                & (F.col("predicted") == F.col("cls")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("tp"),
        F.sum(
            F.when(
                (F.col("actual") != F.col("cls"))
                & (F.col("predicted") == F.col("cls")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("fp"),
        F.sum(
            F.when(
                (F.col("actual") == F.col("cls"))
                & (F.col("predicted") != F.col("cls")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("fn"),
    )
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    precision = F.when(tp + fp == 0, F.lit(0.0)).otherwise(
        tp.cast("double") / (tp + fp)
    )
    recall = F.when(tp + fn == 0, F.lit(0.0)).otherwise(
        tp.cast("double") / (tp + fn)
    )
    f1 = F.when(2 * tp + fp + fn == 0, F.lit(0.0)).otherwise(
        F.lit(2.0) * tp / (2 * tp + fp + fn)
    )
    return m.select(
        "cls",
        "tp",
        "fp",
        "fn",
        precision.alias("precision"),
        recall.alias("recall"),
        f1.alias("f1"),
    ).orderBy("cls")


@_q(
    "q_auc_roc",
    oracle="""
    WITH scored AS (
      SELECT CAST(embedding[2] AS DOUBLE) AS score,
             CASE WHEN label < 5 THEN 1 ELSE 0 END AS pos
      FROM embeddings
    ), per_score AS (
      SELECT score,
             CAST(sum(pos) AS BIGINT) AS p,
             CAST(sum(1 - pos) AS BIGINT) AS ng
      FROM scored GROUP BY score
    ), cum AS (
      SELECT score, p, ng,
             CAST(sum(p) OVER () AS BIGINT) AS tot_p,
             CAST(sum(ng) OVER () AS BIGINT) AS tot_n,
             CAST(COALESCE(sum(p) OVER (
               ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW), 0) AS BIGINT) AS cum_p
      FROM per_score
    )
    SELECT CAST(max(tot_p) AS BIGINT) AS n_pos,
           CAST(max(tot_n) AS BIGINT) AS n_neg,
           CAST(sum(ng * (2 * tot_p - 2 * cum_p + p)) AS BIGINT)
             AS auc_num2,
           CAST(sum(ng * (2 * tot_p - 2 * cum_p + p)) AS DOUBLE)
             / (2.0 * max(tot_p) * max(tot_n)) AS auc
    FROM cum
    """,
)
def q_auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of a scalar score (embedding dim 2) against a
    binary label (label < 5), via the Mann–Whitney identity computed
    per *distinct score*:

        2·AUC·n⁺·n⁻ = Σ_s  neg(s) · (2·pos_above(s) + pos(s))

    — pairs where the positive outranks the negative count 2, ties
    count 1. The whole statistic is integer arithmetic over the
    |distinct scores| aggregate (one shuffle, then a window over the
    sorted score distribution); a single final division produces the
    double. No average-rank floats, no approximate trapezoid — this
    is the exact probability a random positive outscores a random
    negative, at any corpus size."""
    e = spread(load_table(spark, sf_dir, "embeddings"))
    scored = e.select(
        F.element_at(F.col("embedding").cast("array<double>"), 2).alias(
            "score"
        ),
        F.when(F.col("label") < 5, 1).otherwise(0).alias("pos"),
    )
    per_score = scored.groupBy("score").agg(
        F.sum("pos").cast("bigint").alias("p"),
        F.sum(1 - F.col("pos")).cast("bigint").alias("ng"),
    )
    # two-phase range-partitioned cumsum + broadcast totals: same
    # values as the former global Window.orderBy, but the sort over
    # |distinct scores| runs on k partitions instead of 1
    # round 12: totals fold out of the same k-row per-partition
    # aggregate as the offsets (no with_totals re-pass; exact)
    cum = two_phase_window(
        per_score,
        [F.col("score")],
        cumsum={"cum_p": "p"},
        totals={"tot_p": "p", "tot_n": "ng"},
    ).select(
        "p", "ng", "tot_p", "tot_n", F.col("cum_p").cast("bigint").alias("cum_p")
    )
    # pos strictly above this score = tot_p - cum_p; ties at this score = p
    num2 = F.sum(
        F.col("ng")
        * (2 * (F.col("tot_p") - F.col("cum_p")) + F.col("p"))
    ).cast("bigint")
    return cum.agg(
        F.max("tot_p").cast("bigint").alias("n_pos"),
        F.max("tot_n").cast("bigint").alias("n_neg"),
        num2.alias("auc_num2"),
        F.try_divide(
            num2.cast("double"),
            2.0 * F.max("tot_p") * F.max("tot_n"),
        ).alias("auc"),
    )


@_q(
    "q_calibration_bins",
    oracle="""
    WITH scored AS (
      SELECT CAST(embedding[1] AS DOUBLE) AS s,
             CASE WHEN label < 5 THEN 1 ELSE 0 END AS pos
      FROM embeddings
    ), ext AS (
      SELECT min(s) AS lo, max(s) AS hi FROM scored
    ), binned AS (
      SELECT LEAST(CAST(floor((s - lo) / (hi - lo) * 10) AS BIGINT), 9)
               AS bin,
             s, pos
      FROM scored CROSS JOIN ext
    )
    SELECT bin,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(pos) AS BIGINT) AS n_pos,
           CAST(sum(CAST(round(s, 6) AS DECIMAL(27,6))) AS DOUBLE)
             / count(*) AS mean_score,
           CAST(sum(pos) AS DOUBLE) / count(*) AS frac_pos
    FROM binned
    GROUP BY bin
    ORDER BY bin
    """,
)
def q_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram: scores (embedding dim 1) split into 10
    equal-width bins over the observed [min, max]; per bin, mean score
    vs empirical positive rate — a calibrated scorer tracks the
    diagonal. The min/max extent is a one-row broadcast back onto the
    scan; bin assignment is identical IEEE arithmetic in both engines;
    per-bin mean scores sum as 6-dp decimals (order-independent) and
    hit rates are exact integer ratios. One shuffle to 10 cells."""
    e = spread(load_table(spark, sf_dir, "embeddings"))
    scored = e.select(
        F.element_at(F.col("embedding").cast("array<double>"), 1).alias(
            "s"
        ),
        F.when(F.col("label") < 5, 1).otherwise(0).alias("pos"),
    )
    ext = scored.agg(
        F.min("s").alias("lo"), F.max("s").alias("hi")
    )
    binned = scored.crossJoin(F.broadcast(ext)).select(
        F.least(
            F.coalesce(
                F.floor(
                    F.try_divide(
                        F.col("s") - F.col("lo"),
                        F.col("hi") - F.col("lo"),
                    )
                    * 10
                ).cast("bigint"),
                F.lit(0).cast("bigint"),
            ),
            F.lit(9),
        ).alias("bin"),
        "s",
        "pos",
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("pos").cast("bigint").alias("n_pos"),
            (
                F.sum(F.round(F.col("s"), 6).cast("decimal(27,6)")).cast(
                    "double"
                )
                / F.count(F.lit(1))
            ).alias("mean_score"),
            (F.sum("pos").cast("double") / F.count(F.lit(1))).alias(
                "frac_pos"
            ),
        )
        .orderBy("bin")
    )


@_q(
    "q_target_encoding",
    oracle="""
    WITH cents AS (
      SELECT c_custkey, c_mktsegment AS seg,
             CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
      FROM customer
    ), g AS (
      SELECT seg, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS s
      FROM cents GROUP BY seg
    )
    SELECT c.c_custkey, c.seg, c.y,
           CAST(g.s - c.y AS DOUBLE) / (g.n - 1) AS loo_mean_cents
    FROM cents c JOIN g ON c.seg = g.seg
    ORDER BY c.c_custkey
    LIMIT 500
    """,
)
def q_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding: replace a categorical feature
    (market segment) with the mean target (balance, cents) of the
    *other* members of its category — the standard high-cardinality
    encoder, with the leave-one-out correction that prevents a row
    from leaking its own target into its feature (the classic
    target-encoding overfit).

    One aggregation to per-category (n, Σy) in exact integer cents,
    broadcast back onto the scan; each row's encoding is
    (Σy − y)/(n−1) — one exact integer subtraction and one IEEE
    division, bitwise in both engines. Per-category state is
    |categories| rows at any scale; no smoothing prior is needed here
    (all segments are large), and adding one is the same closed form
    with two more exact terms.
    """
    cust = load_table(spark, sf_dir, "customer")
    y = (F.col("c_acctbal").cast("decimal(18,2)") * 100).cast("bigint")
    cents = cust.select(
        "c_custkey", F.col("c_mktsegment").alias("seg"), y.alias("y")
    )
    g = cents.groupBy("seg").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("s"),
    )
    return (
        cents.join(F.broadcast(g), "seg")
        .select(
            "c_custkey",
            "seg",
            "y",
            F.try_divide(
                (F.col("s") - F.col("y")).cast("double"),
                F.col("n") - 1,
            ).alias("loo_mean_cents"),
        )
        .orderBy("c_custkey")
        .limit(500)
    )


@_q(
    "q_woe_binning",
    oracle="""
    WITH binned AS (
      SELECT LEAST(CAST(floor(value / 10) AS BIGINT), 9) AS bin,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
      FROM events
    ), cells AS (
      SELECT bin,
             CAST(sum(pos) AS BIGINT) AS n_pos,
             CAST(sum(1 - pos) AS BIGINT) AS n_neg
      FROM binned GROUP BY bin
    ), tot AS (
      SELECT CAST(sum(n_pos) AS BIGINT) AS tp,
             CAST(sum(n_neg) AS BIGINT) AS tn
      FROM cells
    ), woe AS (
      SELECT c.bin, c.n_pos, c.n_neg,
             round(ln((CAST(c.n_pos AS DOUBLE) / t.tp)
                      / (CAST(c.n_neg AS DOUBLE) / t.tn)), 6) AS woe,
             round((CAST(c.n_pos AS DOUBLE) / t.tp
                    - CAST(c.n_neg AS DOUBLE) / t.tn)
                   * round(ln((CAST(c.n_pos AS DOUBLE) / t.tp)
                              / (CAST(c.n_neg AS DOUBLE) / t.tn)), 6),
                   6) AS iv_term
      FROM cells c CROSS JOIN tot t
    )
    SELECT bin, n_pos, n_neg, woe,
           CAST(sum(CAST(iv_term AS DECIMAL(27,6))) OVER ()
                AS DOUBLE) AS information_value
    FROM woe
    ORDER BY bin
    """,
)
def q_woe_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence binning of the event value against purchase
    outcome — the credit-scoring / feature-screening encoder: per bin,
    WOE = ln((pos share)/(neg share)), and the information value
    (Σ (Δshare)·WOE, reported on every row) summarizes the feature's
    predictive power (rule of thumb: IV < 0.02 useless, > 0.5
    suspicious).

    Counts are exact integers reduced to 10 cells in one shuffle;
    each WOE rounds at 6 decimals (libm ln), the IV terms round the
    same way and sum in DECIMAL over the 10 cells — the whole result
    hash-matches bitwise. Every bin here is populated on both sides;
    sparse bins in production take the standard +0.5 continuity
    correction, the same closed form with two added constants.
    """
    ev = load_table(spark, sf_dir, "events")
    binned = ev.select(
        F.least(
            F.floor(F.col("value") / 10).cast("bigint"), F.lit(9)
        ).alias("bin"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("pos"),
    )
    cells = binned.groupBy("bin").agg(
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.sum(1 - F.col("pos")).cast("bigint").alias("n_neg"),
    )
    tot = cells.agg(
        F.sum("n_pos").cast("bigint").alias("tp"),
        F.sum("n_neg").cast("bigint").alias("tn"),
    )
    woe_expr = F.round(
        F.log(
            F.try_divide(
                F.try_divide(F.col("n_pos").cast("double"), F.col("tp")),
                F.try_divide(F.col("n_neg").cast("double"), F.col("tn")),
            )
        ),
        6,
    )
    with_woe = cells.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n_pos",
        "n_neg",
        woe_expr.alias("woe"),
        F.round(
            (
                F.try_divide(F.col("n_pos").cast("double"), F.col("tp"))
                - F.try_divide(F.col("n_neg").cast("double"), F.col("tn"))
            )
            * woe_expr,
            6,
        ).alias("iv_term"),
    )
    iv = (
        F.sum(F.col("iv_term").cast("decimal(27,6)"))
        .over(Window.partitionBy())
        .cast("double")
    )
    return (
        with_woe.select(
            "bin", "n_pos", "n_neg", "woe", iv.alias("information_value")
        )
        .orderBy("bin")
    )


@_q(
    "q_null_imputation",
    oracle="""
    WITH masked AS (
      SELECT event_id, event_type,
             CASE WHEN event_id % 7 = 0 THEN NULL
                  ELSE CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
             END AS v_cents,
             CASE WHEN event_id % 11 = 0 THEN NULL ELSE event_type
             END AS etype_dirty
      FROM events
    ), mean_by_type AS (
      SELECT event_type,
             CAST(sum(v_cents) AS BIGINT) AS s,
             CAST(count(v_cents) AS BIGINT) AS n
      FROM masked GROUP BY event_type
    ), mode_type AS (
      SELECT etype_dirty AS m FROM masked
      WHERE etype_dirty IS NOT NULL
      GROUP BY etype_dirty
      ORDER BY count(*) DESC, etype_dirty
      LIMIT 1
    )
    SELECT ma.event_id,
           COALESCE(CAST(ma.v_cents AS DOUBLE),
                    CAST(mb.s AS DOUBLE) / mb.n) AS v_imputed,
           ma.v_cents IS NULL AS v_was_null,
           COALESCE(ma.etype_dirty, mt.m) AS etype_imputed
    FROM masked ma
    JOIN mean_by_type mb ON ma.event_type = mb.event_type
    CROSS JOIN mode_type mt
    ORDER BY ma.event_id
    LIMIT 500
    """,
)
def q_null_imputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null imputation, the feature-prep default: numeric gaps filled
    with the *within-group* mean (per event type, exact integer-cent
    sums — so the imputed value is one single-rounded division),
    categorical gaps with the global mode under a deterministic
    (count desc, value asc) tie-break. Nulls are injected by a
    deterministic mask (the fixture has none), and an audit flag marks
    imputed rows — the downstream model can weight them.

    Group means are |types| rows broadcast back onto the scan; the
    mode is a 1-row broadcast. Both joins are map-side; one shuffle
    each for the two tiny aggregates.
    """
    ev = load_table(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("bigint")
    masked = ev.select(
        "event_id",
        "event_type",
        F.when(F.col("event_id") % 7 == 0, None)
        .otherwise(cents)
        .alias("v_cents"),
        F.when(F.col("event_id") % 11 == 0, None)
        .otherwise(F.col("event_type"))
        .alias("etype_dirty"),
    )
    mean_by_type = masked.groupBy("event_type").agg(
        F.sum("v_cents").cast("bigint").alias("s"),
        F.count("v_cents").cast("bigint").alias("n"),
    )
    mode_type = (
        masked.filter(F.col("etype_dirty").isNotNull())
        .groupBy("etype_dirty")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "etype_dirty")
        .limit(1)
        .select(F.col("etype_dirty").alias("m"))
    )
    return (
        masked.join(F.broadcast(mean_by_type), "event_type")
        .crossJoin(F.broadcast(mode_type))
        .select(
            "event_id",
            F.coalesce(
                F.col("v_cents").cast("double"),
                F.col("s").cast("double") / F.col("n"),
            ).alias("v_imputed"),
            F.col("v_cents").isNull().alias("v_was_null"),
            F.coalesce(F.col("etype_dirty"), F.col("m")).alias(
                "etype_imputed"
            ),
        )
        .orderBy("event_id")
        .limit(500)
    )


@_q(
    "q_cohen_kappa",
    oracle=f"""
    WITH scored AS (
      SELECT lang AS actual, {_PRED_SQL} AS predicted FROM documents
    ), cells AS (
      SELECT actual, predicted, CAST(count(*) AS BIGINT) AS c
      FROM scored GROUP BY 1, 2
    ), tot AS (
      SELECT CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(CASE WHEN actual = predicted THEN c ELSE 0 END)
                  AS BIGINT) AS agree
      FROM cells
    ), rowt AS (
      SELECT actual AS cls, CAST(sum(c) AS BIGINT) AS rt
      FROM cells GROUP BY 1
    ), colt AS (
      SELECT predicted AS cls, CAST(sum(c) AS BIGINT) AS ct
      FROM cells GROUP BY 1
    ), chance AS (
      SELECT CAST(sum(COALESCE(r.rt, 0) * COALESCE(co.ct, 0)) AS BIGINT)
               AS pe_num
      FROM rowt r FULL OUTER JOIN colt co ON co.cls = r.cls
    )
    SELECT t.n, t.agree, ch.pe_num,
           CAST(t.n * t.agree - ch.pe_num AS DOUBLE)
             / (t.n * t.n - ch.pe_num) AS kappa
    FROM tot t CROSS JOIN chance ch
    """,
)
def q_cohen_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa: chance-corrected agreement between the lang-id
    heuristic and the ground-truth label — the standard inter-annotator
    statistic a labeling pipeline reports next to raw accuracy
    (SURVEY.md §2.2: model-eval north star; the reference computes no
    eval statistics).

    Determinism: kappa = (n·agree − Σ_c row_c·col_c) /
    (n² − Σ_c row_c·col_c) — every term an exact integer, one final
    division. Scale: the corpus reduces to |classes|² confusion cells
    in one shuffle; all marginal arithmetic runs on that tiny table."""
    d = spread(load_table(spark, sf_dir, "documents"))
    cells = (
        d.select(
            F.col("lang").alias("actual"), _predicted_col().alias("predicted")
        )
        .groupBy("actual", "predicted")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    cells = pin(cells)
    tot = cells.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(
            F.when(F.col("actual") == F.col("predicted"), F.col("c")).otherwise(
                F.lit(0)
            )
        )
        .cast("bigint")
        .alias("agree"),
    )
    rowt = cells.groupBy(F.col("actual").alias("cls")).agg(
        F.sum("c").cast("bigint").alias("rt")
    )
    colt = cells.groupBy(F.col("predicted").alias("cls")).agg(
        F.sum("c").cast("bigint").alias("ct")
    )
    chance = (
        rowt.join(colt, "cls", "full_outer")
        .select(
            (
                F.coalesce(F.col("rt"), F.lit(0))
                * F.coalesce(F.col("ct"), F.lit(0))
            ).alias("p")
        )
        .agg(F.sum("p").cast("bigint").alias("pe_num"))
    )
    n, agree, pe = F.col("n"), F.col("agree"), F.col("pe_num")
    return tot.crossJoin(chance).select(
        "n",
        "agree",
        "pe_num",
        ((n * agree - pe).cast("double") / (n * n - pe)).alias("kappa"),
    )


@_q(
    "q_log_loss_brier",
    oracle="""
    WITH scored AS (
      SELECT CASE WHEN label < 5 THEN 1 ELSE 0 END AS y,
             least(greatest(
               1.0 / (1.0 + exp(-CAST(embedding[1] AS DOUBLE))),
               1e-15), 1.0 - 1e-15) AS p
      FROM embeddings
    ),
    terms AS (
      SELECT y,
             round(-(y * ln(p) + (1 - y) * ln(1.0 - p)), 6) AS ll,
             round((p - y) * (p - y), 6) AS sq
      FROM scored
    )
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(y) AS BIGINT) AS n_pos,
           CAST(sum(CAST(ll AS DECIMAL(27,6))) AS DOUBLE) / count(*)
             AS log_loss,
           CAST(sum(CAST(sq AS DECIMAL(27,6))) AS DOUBLE) / count(*)
             AS brier
    FROM terms
    """,
)
def q_log_loss_brier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-loss (binary cross-entropy) and Brier score of a
    sigmoid-calibrated scalar score (embedding dim 1) against the
    binary label (label < 5) — the proper-scoring-rule companions to
    q_auc_roc (rank quality) and q_calibration_bins (reliability):
    AUC can look fine while the probabilities themselves are badly
    scaled, which is exactly what these two catch.

    Per-row featurize-and-score at scan speed, then one aggregate to
    a single row — cost independent of corpus size. p is clamped to
    [1e-15, 1−1e-15] in BOTH engines: sigmoid saturates to exactly
    0.0/1.0 for |score| ≳ 37, and an unclamped ln(0) = −Inf would
    NULL out of the DECIMAL cast in Spark (silently dropping the
    term) and error in DuckDB. The per-row
    −[y·ln p + (1−y)·ln(1−p)] and (p−y)² terms round at 6 dp before
    the order-independent DECIMAL sum (the q_calibration_bins libm
    discipline), so the means are bitwise-stable on any partitioning."""
    e = spread(load_table(spark, sf_dir, "embeddings"))
    s = F.element_at(F.col("embedding").cast("array<double>"), 1)
    scored = e.select(
        F.when(F.col("label") < 5, 1).otherwise(0).alias("y"),
        F.least(
            F.greatest(
                F.lit(1.0) / (F.lit(1.0) + F.exp(-s)), F.lit(1e-15)
            ),
            F.lit(1.0 - 1e-15),
        ).alias("p"),
    )
    y, p = F.col("y"), F.col("p")
    terms = scored.select(
        "y",
        F.round(-(y * F.log(p) + (1 - y) * F.log(F.lit(1.0) - p)), 6)
        .cast("decimal(27,6)")
        .alias("ll"),
        F.round((p - y) * (p - y), 6).cast("decimal(27,6)").alias("sq"),
    )
    return terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("n_pos"),
        (F.sum("ll").cast("double") / F.count(F.lit(1))).alias("log_loss"),
        (F.sum("sq").cast("double") / F.count(F.lit(1))).alias("brier"),
    )


@_q(
    "q_gain_curve",
    oracle="""
    WITH scored AS (
      SELECT CAST(embedding[1] AS DOUBLE) AS score,
             CASE WHEN label < 5 THEN 1 ELSE 0 END AS pos,
             vec_id
      FROM embeddings
    ),
    ranked AS (
      SELECT pos,
             CAST(row_number() OVER (ORDER BY score DESC, vec_id)
                  AS BIGINT) AS rn,
             CAST(count(*) OVER () AS BIGINT) AS n,
             CAST(sum(pos) OVER () AS BIGINT) AS tot_pos
      FROM scored
    ),
    deciles AS (
      SELECT least(CAST((rn - 1) * 10 // n AS BIGINT), 9) AS decile,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(pos) AS BIGINT) AS n_pos,
             max(tot_pos) AS tot_pos
      FROM ranked GROUP BY 1
    )
    SELECT decile, n_rows, n_pos,
           CAST(sum(n_pos) OVER (ORDER BY decile
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cum_pos,
           CAST(sum(n_pos) OVER (ORDER BY decile
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS DOUBLE) / max(tot_pos) OVER () AS capture_rate
    FROM deciles
    ORDER BY decile
    """,
)
def q_gain_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gain chart: rank the population by model score
    (embedding dim 1), split into deciles, and report what fraction
    of all positives each top-k% captures — the targeting view of the
    same ranking q_auc_roc summarizes in one number ("mail the top 2
    deciles, reach 40% of converters"), and the curve every campaign
    sizing meeting actually looks at.

    The row-level rank uses the two-phase range-partitioned primitive
    (no single-partition sort over the corpus); everything after is
    the bounded 10-decile rollup, where the cumulative window is
    legal. Decile assignment is the integer cross-product
    (rn−1)·10/n — no float boundaries; counts integer throughout."""
    e = spread(load_table(spark, sf_dir, "embeddings"))
    scored = e.select(
        F.element_at(F.col("embedding").cast("array<double>"), 1).alias(
            "score"
        ),
        F.when(F.col("label") < 5, 1).otherwise(0).alias("pos"),
        "vec_id",
    )
    ranked = two_phase_window(
        scored,
        [F.col("score").desc(), F.col("vec_id")],
        row_number="rn",
        # round 12: totals fold out of the same k-row per-partition
        # aggregate as the offsets (no with_totals re-pass; exact)
        totals={"n": None, "tot_pos": "pos"},
    )
    deciles = (
        ranked.groupBy(
            F.least(
                F.floor((F.col("rn") - 1) * 10 / F.col("n")).cast("bigint"),
                F.lit(9),
            ).alias("decile")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("pos").cast("bigint").alias("n_pos"),
            F.max("tot_pos").alias("tot_pos"),
        )
    )
    wcum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    return deciles.select(
        "decile",
        "n_rows",
        "n_pos",
        F.sum("n_pos").over(wcum).cast("bigint").alias("cum_pos"),
        F.try_divide(
            F.sum("n_pos").over(wcum).cast("double"),
            F.max("tot_pos").over(wall),
        ).alias("capture_rate"),
    ).orderBy("decile")


@_q(
    "q_rare_collapse",
    oracle="""
    WITH counts AS (
      SELECT p_brand, CAST(count(*) AS BIGINT) AS n
      FROM part GROUP BY p_brand
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM counts),
    mapped AS (
      SELECT c.p_brand,
             CASE WHEN c.n * 30 >= t.t THEN c.p_brand
                  ELSE 'OTHER' END AS encoded
      FROM counts c CROSS JOIN tot t
    )
    SELECT m.encoded,
           CAST(count(*) AS BIGINT) AS n_raw_categories,
           CAST(sum(c.n) AS BIGINT) AS n_rows
    FROM mapped m JOIN counts c ON c.p_brand = m.p_brand
    GROUP BY m.encoded
    ORDER BY m.encoded
    """,
)
def q_rare_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rare-category collapsing for feature encoding: brands holding
    < 1/30 of rows fold into 'OTHER' — the cardinality-control step
    before one-hot/target encoding that stops a 10⁶-level key column
    from exploding the feature space (and leaking singletons, the
    q_k_anonymity concern wearing its ML hat). Output is the encoding
    audit: surviving levels, how many raw categories each absorbs,
    and the row mass.

    One shuffle to |categories| counts; the threshold is the integer
    cross-product n·30 ≥ total (no float share); the mapping table
    this audit describes is exactly what a broadcast join would apply
    to the raw rows at scan speed."""
    part = load_table(spark, sf_dir, "part")
    counts = part.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    tot = counts.agg(F.sum("n").cast("bigint").alias("t"))
    mapped = counts.crossJoin(F.broadcast(tot)).select(
        "p_brand",
        "n",
        F.when(F.col("n") * 30 >= F.col("t"), F.col("p_brand"))
        .otherwise(F.lit("OTHER"))
        .alias("encoded"),
    )
    return (
        mapped.groupBy("encoded")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_raw_categories"),
            F.sum("n").cast("bigint").alias("n_rows"),
        )
        .orderBy("encoded")
    )


@_q(
    "q_uncertainty_sampling",
    oracle="""
    WITH scored AS (
      SELECT vec_id, label,
             1.0 / (1.0 + exp(-CAST(embedding[1] AS DOUBLE))) AS p
      FROM embeddings
    )
    SELECT vec_id, label, p,
           abs(p - 0.5) AS margin
    FROM scored
    ORDER BY abs(p - 0.5), vec_id
    LIMIT 50
    """,
)
def q_uncertainty_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Active-learning batch selection: the 50 examples whose
    sigmoid-calibrated score sits closest to the 0.5 decision
    boundary (least-confidence / margin sampling) — the annotation-
    budget allocator that pairs with q_log_loss_brier (how good is
    the scorer) and q_hard_negatives (contrastive mining): label
    where the model is UNSURE, not where it's already right.

    Per-row score + margin at scan speed; the top-k is
    TakeOrderedAndProject (per-partition heaps, no global sort) with
    vec_id as the deterministic tiebreak. Scan-dominated at any
    corpus size."""
    e = spread(load_table(spark, sf_dir, "embeddings"))
    s = F.element_at(F.col("embedding").cast("array<double>"), 1)
    scored = e.select(
        "vec_id",
        "label",
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-s))).alias("p"),
    )
    return (
        scored.select(
            "vec_id", "label", "p", F.abs(F.col("p") - 0.5).alias("margin")
        )
        .orderBy("margin", "vec_id")
        .limit(50)
    )


@_q(
    "q_robust_scaler",
    oracle="""
    WITH scored AS (
      SELECT vec_id, label, CAST(embedding[1] AS DOUBLE) AS score
      FROM embeddings
    ),
    ranked AS (
      SELECT label, vec_id, score,
             row_number() OVER (PARTITION BY label
                                ORDER BY score, vec_id) AS rn,
             count(*) OVER (PARTITION BY label) AS n
      FROM scored
    ),
    stats AS (
      SELECT label,
             CAST(max(n) AS BIGINT) AS n,
             (min(CASE WHEN rn = (n + 1) // 2 THEN score END)
              + min(CASE WHEN rn = n // 2 + 1 THEN score END)) / 2.0
               AS median,
             min(CASE WHEN rn = (n * 25 + 99) // 100 THEN score END) AS q25,
             min(CASE WHEN rn = (n * 75 + 99) // 100 THEN score END) AS q75
      FROM ranked GROUP BY label
    )
    SELECT s.label, s.n, s.median, s.q25, s.q75,
           s.q75 - s.q25 AS iqr,
           (SELECT CAST(count(*) AS BIGINT) FROM scored x
             WHERE x.label = s.label
               AND (x.score < s.median - 3.0 * (s.q75 - s.q25)
                 OR x.score > s.median + 3.0 * (s.q75 - s.q25)))
             AS n_outliers
    FROM stats s
    ORDER BY s.label
    """,
)
def q_robust_scaler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RobustScaler fit per label: exact median and IQR of the score
    (embedding dim 1) from NEAREST-RANK order statistics — the
    outlier-immune alternative to mean/std standardization (one
    saturated score wrecks a z-scaler; quartiles don't move). The
    3·IQR fence count per label is the robust outlier census the
    scaled features feed into.

    Ranks via ``two_phase_window`` partitioned by the 10-value label
    key (skewed-group discipline); medians/quartiles are conditional
    aggregates over integer rank hits; the fence pass re-reads only
    (label, score) against the broadcast per-label stats."""
    e = spread(load_table(spark, sf_dir, "embeddings"))
    scored = e.select(
        "vec_id",
        "label",
        F.element_at(F.col("embedding").cast("array<double>"), 1).alias(
            "score"
        ),
    )
    scored = pin(scored)
    ranked = two_phase_window(
        scored,
        [F.col("score"), F.col("vec_id")],
        partition_by=["label"],
        row_number="rn",
    )
    nper = scored.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    j = ranked.join(F.broadcast(nper), "label")
    stats = j.groupBy("label").agg(
        F.max("n").cast("bigint").alias("n"),
        (
            (
                F.min(
                    F.when(
                        F.col("rn") * 2 == (F.col("n") + 1) - ((F.col("n") + 1) % 2),
                        F.col("score"),
                    )
                )
                + F.min(
                    F.when(
                        F.col("rn") == F.floor(F.col("n") / 2) + 1,
                        F.col("score"),
                    )
                )
            )
            / 2.0
        ).alias("median"),
        F.min(
            F.when(
                F.col("rn") * 100
                == (F.col("n") * 25 + 99) - ((F.col("n") * 25 + 99) % 100),
                F.col("score"),
            )
        ).alias("q25"),
        F.min(
            F.when(
                F.col("rn") * 100
                == (F.col("n") * 75 + 99) - ((F.col("n") * 75 + 99) % 100),
                F.col("score"),
            )
        ).alias("q75"),
    )
    fenced = scored.join(F.broadcast(stats), "label").filter(
        (F.col("score") < F.col("median") - 3.0 * (F.col("q75") - F.col("q25")))
        | (F.col("score") > F.col("median") + 3.0 * (F.col("q75") - F.col("q25")))
    )
    n_out = fenced.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_outliers")
    )
    return (
        stats.join(n_out, "label", "left")
        .select(
            "label",
            "n",
            "median",
            "q25",
            "q75",
            (F.col("q75") - F.col("q25")).alias("iqr"),
            F.coalesce("n_outliers", F.lit(0))
            .cast("bigint")
            .alias("n_outliers"),
        )
        .orderBy("label")
    )


@_q(
    "q_pr_curve",
    oracle="""
    WITH scored AS (
      SELECT CAST(embedding[1] AS DOUBLE) AS score,
             CASE WHEN label < 5 THEN 1 ELSE 0 END AS pos,
             vec_id
      FROM embeddings
    ),
    ranked AS (
      SELECT pos,
             CAST(row_number() OVER (ORDER BY score DESC, vec_id)
                  AS BIGINT) AS rn,
             CAST(count(*) OVER () AS BIGINT) AS n,
             CAST(sum(pos) OVER () AS BIGINT) AS tot_pos
      FROM scored
    ),
    deciles AS (
      SELECT least(CAST((rn - 1) * 10 // n AS BIGINT), 9) AS decile,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(pos) AS BIGINT) AS n_pos,
             max(tot_pos) AS tot_pos
      FROM ranked GROUP BY 1
    ),
    cum AS (
      SELECT decile, n_rows, n_pos,
             CAST(sum(n_rows) OVER w AS BIGINT) AS cum_rows,
             CAST(sum(n_pos) OVER w AS BIGINT) AS cum_pos,
             max(tot_pos) OVER () AS tot_pos
      FROM deciles
      WINDOW w AS (ORDER BY decile
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT decile, cum_rows, cum_pos,
           CAST(cum_pos AS DOUBLE) / cum_rows AS precision_at,
           CAST(cum_pos AS DOUBLE) / tot_pos AS recall_at
    FROM cum
    ORDER BY decile
    """,
)
def q_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall at top-k% cutoffs (decile thresholds of the
    model score): the operating-point table behind threshold selection
    — q_auc_roc summarizes ranking quality in one number, this shows
    what precision you BUY at each recall level.

    Same scaffold as q_gain_curve: the corpus-sized rank is the
    two-phase range-partitioned primitive, decile assignment is the
    integer cross-product (rn−1)·10/n, and the cumulative window runs
    over the bounded 10-row decile rollup. Ratios are one integer
    division each."""
    e = spread(load_table(spark, sf_dir, "embeddings"))
    scored = e.select(
        F.element_at(F.col("embedding").cast("array<double>"), 1).alias(
            "score"
        ),
        F.when(F.col("label") < 5, 1).otherwise(0).alias("pos"),
        "vec_id",
    )
    ranked = two_phase_window(
        scored,
        [F.col("score").desc(), F.col("vec_id")],
        row_number="rn",
        # round 12: totals fold out of the same k-row per-partition
        # aggregate as the offsets (no with_totals re-pass; exact)
        totals={"n": None, "tot_pos": "pos"},
    )
    deciles = (
        ranked.groupBy(
            F.least(
                F.floor((F.col("rn") - 1) * 10 / F.col("n")).cast("bigint"),
                F.lit(9),
            ).alias("decile")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("pos").cast("bigint").alias("n_pos"),
            F.max("tot_pos").alias("tot_pos"),
        )
    )
    wc = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        deciles.select(
            "decile",
            F.sum("n_rows").over(wc).cast("bigint").alias("cum_rows"),
            F.sum("n_pos").over(wc).cast("bigint").alias("cum_pos"),
            F.max("tot_pos").over(wall).alias("tp"),
        )
        .select(
            "decile",
            "cum_rows",
            "cum_pos",
            (F.col("cum_pos").cast("double") / F.col("cum_rows")).alias(
                "precision_at"
            ),
            F.try_divide(
                F.col("cum_pos").cast("double"), F.col("tp")
            ).alias("recall_at"),
        )
        .orderBy("decile")
    )


@_q(
    "q_threshold_optimizer",
    oracle="""
    WITH scored AS (
      SELECT CAST(embedding[1] AS DOUBLE) AS score,
             CASE WHEN label < 5 THEN 1 ELSE 0 END AS pos,
             vec_id
      FROM embeddings
    ),
    ranked AS (
      SELECT pos,
             CAST(row_number() OVER (ORDER BY score DESC, vec_id)
                  AS BIGINT) AS rn,
             CAST(count(*) OVER () AS BIGINT) AS n,
             CAST(sum(pos) OVER () AS BIGINT) AS tot_pos,
             score
      FROM scored
    ),
    deciles AS (
      SELECT least(CAST((rn - 1) * 10 // n AS BIGINT), 9) AS decile,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(pos) AS BIGINT) AS n_pos,
             max(tot_pos) AS tot_pos,
             min(score) AS threshold
      FROM ranked GROUP BY 1
    ),
    cum AS (
      SELECT decile, threshold,
             CAST(sum(n_rows) OVER w AS BIGINT) AS tp_fp,
             CAST(sum(n_pos) OVER w AS BIGINT) AS tp,
             max(tot_pos) OVER () AS tot_pos
      FROM deciles
      WINDOW w AS (ORDER BY decile
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    f1s AS (
      SELECT decile, threshold, tp, tp_fp, tot_pos,
             2.0 * tp / (tp_fp + tot_pos) AS f1
      FROM cum
    )
    SELECT decile AS best_decile, threshold, tp, tp_fp, tot_pos, f1
    FROM f1s
    ORDER BY f1 DESC, decile
    LIMIT 1
    """,
)
def q_threshold_optimizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operating-point selection: of the ten decile cutoffs on the model
    score, return the one maximizing F1 — the last step after
    q_pr_curve draws the curve (a deployed classifier needs ONE
    threshold, and F1 = 2·TP/(predicted_pos + actual_pos) needs no
    division until the final compare). Deterministic argmax via the
    (f1 desc, decile) total order.

    Same two-phase rank + bounded decile rollup scaffold as
    q_pr_curve; F1 across cutoffs is ten arithmetic rows; the argmax
    is a LIMIT 1 on the sorted 10-row table."""
    e = spread(load_table(spark, sf_dir, "embeddings"))
    scored = e.select(
        F.element_at(F.col("embedding").cast("array<double>"), 1).alias(
            "score"
        ),
        F.when(F.col("label") < 5, 1).otherwise(0).alias("pos"),
        "vec_id",
    )
    ranked = two_phase_window(
        scored,
        [F.col("score").desc(), F.col("vec_id")],
        row_number="rn",
        # round 12: totals fold out of the same k-row per-partition
        # aggregate as the offsets (no with_totals re-pass; exact)
        totals={"n": None, "tot_pos": "pos"},
    )
    deciles = ranked.groupBy(
        F.least(
            F.floor((F.col("rn") - 1) * 10 / F.col("n")).cast("bigint"),
            F.lit(9),
        ).alias("decile")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.max("tot_pos").alias("tot_pos"),
        F.min("score").alias("threshold"),
    )
    wc = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = deciles.select(
        "decile",
        "threshold",
        F.sum("n_rows").over(wc).cast("bigint").alias("tp_fp"),
        F.sum("n_pos").over(wc).cast("bigint").alias("tp"),
        F.max("tot_pos").over(wall).alias("tot_pos"),
    )
    f1s = cum.select(
        F.col("decile").alias("best_decile"),
        "threshold",
        "tp",
        "tp_fp",
        "tot_pos",
        (F.lit(2.0) * F.col("tp") / (F.col("tp_fp") + F.col("tot_pos"))).alias(
            "f1"
        ),
    )
    return f1s.orderBy(F.desc("f1"), "best_decile").limit(1)


@_q(
    "q_calibration_ece",
    oracle="""
    WITH scored AS (
      SELECT CAST(embedding[1] AS DOUBLE) AS s,
             CASE WHEN label < 5 THEN 1 ELSE 0 END AS pos
      FROM embeddings
    ), ext AS (
      SELECT min(s) AS lo, max(s) AS hi FROM scored
    ), binned AS (
      SELECT LEAST(CAST(floor((s - lo) / (hi - lo) * 10) AS BIGINT), 9)
               AS bin,
             s, pos
      FROM scored CROSS JOIN ext
    ), bins AS (
      SELECT bin,
             CAST(count(*) AS BIGINT) AS n,
             abs(CAST(sum(pos) AS DOUBLE) / count(*)
                 - CAST(sum(CAST(round(s, 6) AS DECIMAL(27,6))) AS DOUBLE)
                   / count(*)) AS gap
      FROM binned GROUP BY bin
    ), tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS big_n FROM bins
    )
    SELECT (SELECT big_n FROM tot) AS n,
           CAST(count(*) AS BIGINT) AS n_bins,
           CAST(sum(CAST(round(n * gap, 6) AS DECIMAL(27,6))) AS DOUBLE)
             / (SELECT big_n FROM tot) AS ece,
           max(gap) AS mce
    FROM bins
    """,
)
def q_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected / Maximum Calibration Error — the two scalars a model
    card quotes from q_calibration_bins' reliability diagram:
    ECE = Σ_b (n_b/N)·|acc_b − conf_b|, MCE = max_b |acc_b − conf_b|
    over the same 10 equal-width bins.

    Same determinism chain as q_calibration_bins (shared min/max
    broadcast, 6-dp decimal score sums, integer hit rates); the only
    new float step is the cross-bin reduction, where each bin's
    n·gap term — a double derived identically in both engines — is
    rounded to 6 decimals and DECIMAL-summed (10 bins, the q_chi_square
    discipline), and MCE is a max (order-independent by nature)."""
    e = spread(load_table(spark, sf_dir, "embeddings"))
    scored = e.select(
        F.element_at(F.col("embedding").cast("array<double>"), 1).alias("s"),
        F.when(F.col("label") < 5, 1).otherwise(0).alias("pos"),
    )
    ext = scored.agg(F.min("s").alias("lo"), F.max("s").alias("hi"))
    binned = scored.crossJoin(F.broadcast(ext)).select(
        F.least(
            F.coalesce(
                F.floor(
                    F.try_divide(
                        F.col("s") - F.col("lo"), F.col("hi") - F.col("lo")
                    )
                    * 10
                ).cast("bigint"),
                F.lit(0).cast("bigint"),
            ),
            F.lit(9),
        ).alias("bin"),
        "s",
        "pos",
    )
    bins = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.abs(
            F.sum("pos").cast("double") / F.count(F.lit(1))
            - F.sum(F.round(F.col("s"), 6).cast("decimal(27,6)")).cast(
                "double"
            )
            / F.count(F.lit(1))
        ).alias("gap"),
    )
    return bins.agg(
        F.sum("n").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
        (
            F.sum(
                F.round(F.col("n") * F.col("gap"), 6).cast("decimal(27,6)")
            ).cast("double")
            / F.sum("n").cast("double")
        ).alias("ece"),
        F.max("gap").alias("mce"),
    )


@_q(
    "q_label_noise_rate",
    oracle="""
    WITH scored AS (
      SELECT CAST(embedding[1] AS DOUBLE) AS s,
             CASE WHEN label < 5 THEN 1 ELSE 0 END AS pos
      FROM embeddings
    ), means AS (
      SELECT
        CAST(sum(CASE WHEN pos = 1
                      THEN CAST(round(s, 6) AS DECIMAL(27,6)) END)
             AS DOUBLE)
          / sum(CASE WHEN pos = 1 THEN 1 ELSE 0 END) AS m1,
        CAST(sum(CASE WHEN pos = 0
                      THEN CAST(round(s, 6) AS DECIMAL(27,6)) END)
             AS DOUBLE)
          / sum(CASE WHEN pos = 0 THEN 1 ELSE 0 END) AS m0
      FROM scored
    )
    SELECT pos AS label_class,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN (pos = 1 AND s < m0)
                           OR (pos = 0 AND s > m1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_suspect,
           CAST(sum(CASE WHEN (pos = 1 AND s < m0)
                           OR (pos = 0 AND s > m1)
                         THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
             AS suspect_rate
    FROM scored CROSS JOIN means
    GROUP BY pos
    ORDER BY pos
    """,
)
def q_label_noise_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confident-learning-style label-noise screen: per labeled class,
    the share of examples whose score lands BEYOND the other class's
    mean (a positive scoring below the negative-class mean, or a
    negative above the positive-class mean) — the cheap first-pass
    filter a labeling pipeline runs before paying for relabeling; on
    a calibrated scorer the suspect sets concentrate actual flips.

    The two class means are one 2-value broadcast (6-dp decimal sums /
    integer counts — deterministic doubles); the per-row comparisons
    and suspect counts are then pure integers. One scan + one 2-group
    aggregation."""
    e = spread(load_table(spark, sf_dir, "embeddings"))
    scored = e.select(
        F.element_at(F.col("embedding").cast("array<double>"), 1).alias("s"),
        F.when(F.col("label") < 5, 1).otherwise(0).alias("pos"),
    )
    dsum6 = lambda cond: F.sum(  # noqa: E731
        F.when(cond, F.round(F.col("s"), 6).cast("decimal(27,6)"))
    ).cast("double")
    means = scored.agg(
        (dsum6(F.col("pos") == 1) / F.sum((F.col("pos") == 1).cast("long")))
        .alias("m1"),
        (dsum6(F.col("pos") == 0) / F.sum((F.col("pos") == 0).cast("long")))
        .alias("m0"),
    )
    suspect = (
        (F.col("pos") == 1) & (F.col("s") < F.col("m0"))
    ) | ((F.col("pos") == 0) & (F.col("s") > F.col("m1")))
    return (
        scored.crossJoin(F.broadcast(means))
        .groupBy(F.col("pos").alias("label_class"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(suspect.cast("long")).cast("bigint").alias("n_suspect"),
            (F.sum(suspect.cast("long")).cast("double") / F.count(F.lit(1)))
            .alias("suspect_rate"),
        )
        .orderBy("label_class")
    )
