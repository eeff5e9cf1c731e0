"""Dataset profiling / data-quality operators.

The reference's only quality surface is the silent S3 error prefix
(terraform/main.tf:195) — malformed rows vanish into a folder nobody
queries. These operators are the queryable profiling layer a 100 TB
lakehouse actually runs before trusting a table: null/blank rates,
key-uniqueness audits, column-level drift profiles, value histograms.

Determinism playbook:
- Rates are one integer division per cell (count/count → DOUBLE).
- Histogram bins are INTEGER log2 via binary-string length
  (``length(bin(x))``) — never ``floor(ln x / ln 2)``, whose double
  quotient lands below the integer at exact powers of two.
- min/max surfaces are cast to engine-portable string forms (dates via
  explicit formats, integral doubles via BIGINT) — raw double
  formatting differs across engines.

Scale: every operator is one scan + one keyed (or global 1-row)
aggregate; profiles are O(|columns| × |groups|) regardless of rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from keycloak_event_stream_spark.catalog import load_table, pin, spread
from keycloak_event_stream_spark.registry import register as _q


@_q(
    "q_null_rate_matrix",
    oracle="""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN text IS NULL OR trim(text) = ''
                         THEN 1 ELSE 0 END) AS BIGINT) AS text_blank,
           CAST(sum(CASE WHEN text IS NULL OR trim(text) = ''
                         THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
             AS text_blank_rate,
           CAST(sum(CASE WHEN lang IS NULL OR trim(lang) = ''
                         THEN 1 ELSE 0 END) AS BIGINT) AS lang_blank,
           CAST(sum(CASE WHEN n_chars IS NULL OR n_chars <= 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_chars_bad
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
)
def q_null_rate_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source completeness matrix over the corpus: blank-or-null
    rates for each critical column, using the engine's blank≡null
    decode discipline (SURVEY.md F12: the reference treats empty
    varchar cells as null, `AthenaEventQuery.java:246-255`) — a column
    can be 100% non-null and still 40% empty strings, which is the
    failure mode ingestion monitoring actually sees.

    One scan, one keyed aggregate to |sources| rows; every rate is a
    single integer division."""
    d = load_table(spark, sf_dir, "documents")
    text_blank = (
        F.col("text").isNull() | (F.trim("text") == "")
    ).cast("int")
    lang_blank = (
        F.col("lang").isNull() | (F.trim("lang") == "")
    ).cast("int")
    chars_bad = (
        F.col("n_chars").isNull() | (F.col("n_chars") <= 0)
    ).cast("int")
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(text_blank).cast("bigint").alias("text_blank"),
            (
                F.sum(text_blank).cast("double") / F.count(F.lit(1))
            ).alias("text_blank_rate"),
            F.sum(lang_blank).cast("bigint").alias("lang_blank"),
            F.sum(chars_bad).cast("bigint").alias("n_chars_bad"),
        )
        .orderBy("source")
    )


@_q(
    "q_value_histogram_text",
    oracle="""
    SELECT lang,
           CAST(length(bin(n_chars)) AS BIGINT) AS len_bin,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM documents
    WHERE n_chars > 0
    GROUP BY lang, len_bin
    ORDER BY lang, len_bin
    """,
)
def q_value_histogram_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language log2 document-length histogram — the corpus-shape
    profile (training mixes care about the length distribution per
    language, not the mean). Bin = number of binary digits of n_chars
    (⌊log2 x⌋+1) computed from the binary-string LENGTH in both
    engines: the ``floor(ln x / ln 2)`` double quotient famously lands
    at 2.999… for exact powers of two and mis-bins them; string length
    is exact integer arithmetic.

    One scan, keyed aggregate to |langs|×~10 bins."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.filter(F.col("n_chars") > 0)
        .groupBy(
            "lang",
            F.length(F.expr("bin(n_chars)")).cast("bigint").alias("len_bin"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("n_chars").cast("bigint").alias("min_chars"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
        )
        .orderBy("lang", "len_bin")
    )


@_q(
    "q_schema_drift_audit",
    oracle="""
    SELECT 'l_orderkey' AS col, 'bigint' AS dtype,
           CAST(count(*) - count(l_orderkey) AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_distinct,
           CAST(min(l_orderkey) AS VARCHAR) AS min_str,
           CAST(max(l_orderkey) AS VARCHAR) AS max_str
    FROM lineitem
    UNION ALL
    SELECT 'l_quantity', 'double',
           CAST(count(*) - count(l_quantity) AS BIGINT),
           CAST(count(DISTINCT l_quantity) AS BIGINT),
           CAST(CAST(min(l_quantity) AS BIGINT) AS VARCHAR),
           CAST(CAST(max(l_quantity) AS BIGINT) AS VARCHAR)
    FROM lineitem
    UNION ALL
    SELECT 'l_returnflag', 'string',
           CAST(count(*) - count(l_returnflag) AS BIGINT),
           CAST(count(DISTINCT l_returnflag) AS BIGINT),
           min(l_returnflag), max(l_returnflag)
    FROM lineitem
    UNION ALL
    SELECT 'l_linestatus', 'string',
           CAST(count(*) - count(l_linestatus) AS BIGINT),
           CAST(count(DISTINCT l_linestatus) AS BIGINT),
           min(l_linestatus), max(l_linestatus)
    FROM lineitem
    UNION ALL
    SELECT 'l_shipdate', 'timestamp',
           CAST(count(*) - count(l_shipdate) AS BIGINT),
           CAST(count(DISTINCT l_shipdate) AS BIGINT),
           strftime(min(l_shipdate), '%Y-%m-%d'),
           strftime(max(l_shipdate), '%Y-%m-%d')
    FROM lineitem
    ORDER BY col
    """,
)
def q_schema_drift_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level profile of the fact table — per column: declared
    type, null count, exact distinct cardinality, and portable min/max
    — the snapshot two of which diff into a drift report (new enum
    value appeared, cardinality exploded, date range ran past the
    partition horizon). The queryable version of what schema registries
    log.

    ONE scan computes every column's profile simultaneously (a single
    wide aggregate, then an in-memory unpivot of the 1-row result —
    Spark's Expand, not five scans; count(DISTINCT x1..x5) in one agg
    plans as Expand ×5 inside the same shuffle). min/max surface in
    engine-portable string forms: dates via explicit format, integral
    doubles through BIGINT — raw double formatting is not
    cross-engine-stable."""
    l = spread(load_table(spark, sf_dir, "lineitem"))
    prof = l.agg(
        (F.count(F.lit(1)) - F.count("l_orderkey")).cast("bigint").alias("nn_ok"),
        F.countDistinct("l_orderkey").cast("bigint").alias("nd_ok"),
        F.min("l_orderkey").cast("string").alias("mn_ok"),
        F.max("l_orderkey").cast("string").alias("mx_ok"),
        (F.count(F.lit(1)) - F.count("l_quantity")).cast("bigint").alias("nn_q"),
        F.countDistinct("l_quantity").cast("bigint").alias("nd_q"),
        F.min("l_quantity").cast("bigint").cast("string").alias("mn_q"),
        F.max("l_quantity").cast("bigint").cast("string").alias("mx_q"),
        (F.count(F.lit(1)) - F.count("l_returnflag")).cast("bigint").alias("nn_rf"),
        F.countDistinct("l_returnflag").cast("bigint").alias("nd_rf"),
        F.min("l_returnflag").alias("mn_rf"),
        F.max("l_returnflag").alias("mx_rf"),
        (F.count(F.lit(1)) - F.count("l_linestatus")).cast("bigint").alias("nn_ls"),
        F.countDistinct("l_linestatus").cast("bigint").alias("nd_ls"),
        F.min("l_linestatus").alias("mn_ls"),
        F.max("l_linestatus").alias("mx_ls"),
        (F.count(F.lit(1)) - F.count("l_shipdate")).cast("bigint").alias("nn_sd"),
        F.countDistinct("l_shipdate").cast("bigint").alias("nd_sd"),
        F.date_format(F.min("l_shipdate"), "yyyy-MM-dd").alias("mn_sd"),
        F.date_format(F.max("l_shipdate"), "yyyy-MM-dd").alias("mx_sd"),
    )
    return prof.selectExpr(
        """stack(5,
           'l_orderkey',  'bigint',    nn_ok, nd_ok, mn_ok, mx_ok,
           'l_quantity',  'double',    nn_q,  nd_q,  mn_q,  mx_q,
           'l_returnflag','string',    nn_rf, nd_rf, mn_rf, mx_rf,
           'l_linestatus','string',    nn_ls, nd_ls, mn_ls, mx_ls,
           'l_shipdate',  'timestamp', nn_sd, nd_sd, mn_sd, mx_sd
        ) AS (col, dtype, n_nulls, n_distinct, min_str, max_str)"""
    ).orderBy("col")


@_q(
    "q_dup_key_audit",
    oracle="""
    SELECT 'events.event_id' AS key_col,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
           CAST(count(*) - count(DISTINCT event_id) AS BIGINT) AS n_dup_rows
    FROM events
    UNION ALL
    SELECT 'orders.o_orderkey',
           CAST(count(*) AS BIGINT),
           CAST(count(DISTINCT o_orderkey) AS BIGINT),
           CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'lineitem.(l_orderkey,l_linenumber)',
           CAST(count(*) AS BIGINT),
           CAST(count(DISTINCT l_orderkey * 100 + l_linenumber) AS BIGINT),
           CAST(count(*) - count(DISTINCT l_orderkey * 100 + l_linenumber)
                AS BIGINT)
    FROM lineitem
    ORDER BY key_col
    """,
)
def q_dup_key_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-key uniqueness audit across the schema: for each
    declared key (single and composite), row count vs distinct count —
    the precondition every join/dedup plan silently assumes and the
    first thing that breaks after a bad backfill. A non-zero
    ``n_dup_rows`` is the pager row.

    One aggregate per table (map-side partial distinct; the composite
    key packs into one BIGINT — lineitem linenumbers are < 100 — so no
    string concat on the hot path), unioned into a 3-row report."""
    ev = load_table(spark, sf_dir, "events")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")

    def audit(df, label, key_expr):
        return df.agg(
            F.lit(label).alias("key_col"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct(key_expr).cast("bigint").alias("n_distinct"),
            (F.count(F.lit(1)) - F.countDistinct(key_expr))
            .cast("bigint")
            .alias("n_dup_rows"),
        )

    return (
        audit(ev, "events.event_id", F.col("event_id"))
        .unionByName(audit(o, "orders.o_orderkey", F.col("o_orderkey")))
        .unionByName(
            audit(
                l,
                "lineitem.(l_orderkey,l_linenumber)",
                F.col("l_orderkey") * 100 + F.col("l_linenumber"),
            )
        )
        .orderBy("key_col")
    )


@_q(
    "q_join_skew_stats",
    oracle="""
    WITH fan AS (
      SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS c
      FROM lineitem GROUP BY l_orderkey
    ),
    hist AS (
      SELECT c, CAST(count(*) AS BIGINT) AS n_keys
      FROM fan GROUP BY c
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS keys,
             CAST(sum(c) AS BIGINT) AS rows_total,
             CAST(max(c) AS BIGINT) AS max_fan
      FROM fan
    )
    SELECT h.c AS fan_out, h.n_keys,
           CAST(h.c * h.n_keys AS BIGINT) AS rows_in_band,
           CAST(h.c * h.n_keys AS DOUBLE) / t.rows_total AS row_share,
           t.max_fan,
           CAST(t.rows_total AS DOUBLE) / t.keys AS mean_fan
    FROM hist h CROSS JOIN tot t
    ORDER BY fan_out
    """,
)
def q_join_skew_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profile for the orders⋈lineitem key: the fan-out
    histogram (how many keys carry how many rows) with each band's
    share of total rows, plus max/mean fan-out — the table you read
    BEFORE choosing a join strategy (a max_fan ≫ mean_fan key wants
    AQE skew splitting or salting, q_join_salted_skew; a flat profile
    means plain shuffle-hash is fine).

    Two keyed aggregates (key → fan-out, fan-out → key count); corpus
    scalars ride a 1-row broadcast. Output is |distinct fan-outs| rows
    — bounded by the fact-table's max multiplicity, not its size."""
    l = spread(load_table(spark, sf_dir, "lineitem"))
    fan = l.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    fan = pin(fan)
    hist = fan.groupBy("c").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys")
    )
    tot = fan.agg(
        F.count(F.lit(1)).cast("bigint").alias("keys"),
        F.sum("c").cast("bigint").alias("rows_total"),
        F.max("c").cast("bigint").alias("max_fan"),
    )
    return (
        hist.crossJoin(F.broadcast(tot))
        .select(
            F.col("c").alias("fan_out"),
            "n_keys",
            (F.col("c") * F.col("n_keys")).cast("bigint").alias("rows_in_band"),
            (
                (F.col("c") * F.col("n_keys")).cast("double")
                / F.col("rows_total")
            ).alias("row_share"),
            "max_fan",
            (F.col("rows_total").cast("double") / F.col("keys")).alias(
                "mean_fan"
            ),
        )
        .orderBy("fan_out")
    )


@_q(
    "q_feed_freshness",
    oracle="""
    WITH per_type AS (
      SELECT event_type,
             max(ts) AS latest,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY event_type
    ),
    corpus AS (SELECT max(ts) AS tip FROM events)
    SELECT p.event_type, p.latest, p.n_events,
           CAST(date_diff('second', p.latest, c.tip) AS BIGINT)
             AS staleness_s,
           date_diff('second', p.latest, c.tip) > 86400 AS stale_alert
    FROM per_type p CROSS JOIN corpus c
    ORDER BY p.event_type
    """,
)
def q_feed_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed freshness: each event type's latest event time against the
    corpus tip, with a >24 h staleness alert — the first thing an
    on-call checks when a dashboard flatlines (one producer silently
    stopping shows as a single stale type long before volume charts
    move; the reference's Firehose buffering makes up to 600 s of lag
    NORMAL, so the alert threshold sits far above it).

    One keyed aggregate; the corpus tip is a 1-row broadcast;
    staleness is floored-second integer arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.max("ts").alias("latest"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )
    tip = ev.agg(F.max("ts").alias("tip"))
    stale = F.col("tip").cast("long") - F.col("latest").cast("long")
    return (
        per_type.crossJoin(F.broadcast(tip))
        .select(
            "event_type",
            "latest",
            "n_events",
            stale.cast("bigint").alias("staleness_s"),
            (stale > 86400).alias("stale_alert"),
        )
        .orderBy("event_type")
    )


@_q(
    "q_sampling_bias_check",
    oracle="""
    WITH ranked AS (
      SELECT event_type,
             row_number() OVER (ORDER BY ts, event_id) AS rn
      FROM events
    ),
    sample AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS s_n
      FROM ranked WHERE rn % 97 = 1 GROUP BY event_type
    ),
    corpus AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS c_n
      FROM events GROUP BY event_type
    ),
    tot AS (
      SELECT CAST(sum(s_n) AS BIGINT) AS s_tot FROM sample
    ),
    ctot AS (
      SELECT CAST(sum(c_n) AS BIGINT) AS c_tot FROM corpus
    ),
    cells AS (
      SELECT c.event_type,
             COALESCE(s.s_n, 0) AS observed,
             CAST(c.c_n AS DOUBLE) * t.s_tot / ct.c_tot AS expected
      FROM corpus c
      LEFT JOIN sample s ON s.event_type = c.event_type
      CROSS JOIN tot t CROSS JOIN ctot ct
    )
    SELECT CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(CAST(round((observed - expected) * (observed - expected)
                               / expected, 6) AS DECIMAL(27,6)))
                AS DOUBLE) AS chi_square
    FROM cells
    """,
)
def q_sampling_bias_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goodness-of-fit audit OF the sampler: does q_systematic_sample's
    1-in-97 cut reproduce the corpus event-type mix? Pearson χ² between
    the sample's observed type counts and the corpus-share-scaled
    expectations — the meta-check that belongs next to every sampling
    operator (a systematic step that beats against periodic structure
    shows up here as a fat χ² long before a model trained on the
    sample misbehaves).

    The rank reuses the two-phase global order; both count vectors are
    |types|-sized; per-cell (O−E)²/E terms round at 6 dp into an
    order-independent DECIMAL sum (the q_chi_square discipline)."""
    ev = spread(load_table(spark, sf_dir, "events"))
    from keycloak_event_stream_spark.operators._scale import (
        two_phase_window as _tpw,
    )

    ranked = _tpw(
        ev.select("event_type", "ts", "event_id"),
        [F.col("ts"), F.col("event_id")],
        row_number="rn",
    )
    sample = (
        ranked.filter(F.col("rn") % 97 == 1)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("s_n"))
    )
    corpus = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_n")
    )
    tot = sample.agg(F.sum("s_n").cast("bigint").alias("s_tot"))
    ctot = corpus.agg(F.sum("c_n").cast("bigint").alias("c_tot"))
    cells = (
        corpus.join(sample, "event_type", "left")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ctot))
        .select(
            F.coalesce("s_n", F.lit(0)).alias("observed"),
            (
                F.col("c_n").cast("double")
                * F.col("s_tot")
                / F.col("c_tot")
            ).alias("expected"),
        )
    )
    term = F.round(
        (F.col("observed") - F.col("expected"))
        * (F.col("observed") - F.col("expected"))
        / F.col("expected"),
        6,
    ).cast("decimal(27,6)")
    return cells.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum(term).cast("double").alias("chi_square"),
    )


@_q(
    "q_invoice_reconciliation",
    oracle="""
    WITH lines AS (
      SELECT l_orderkey,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(4,2)))
                      * (1 + CAST(l_tax AS DECIMAL(4,2))))
                  AS DECIMAL(38,6)) AS gross
      FROM lineitem GROUP BY l_orderkey
    ),
    rec AS (
      SELECT o.o_orderkey,
             CAST((l.gross - CAST(o.o_totalprice AS DECIMAL(18,2)))
                  * 1000000 AS BIGINT) AS diff_micro
      FROM orders o JOIN lines l ON l.l_orderkey = o.o_orderkey
    )
    SELECT CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CASE WHEN diff_micro = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_exact,
           CAST(sum(CASE WHEN diff_micro <> 0
                          AND abs(diff_micro) <= 10000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_within_1c,
           CAST(sum(CASE WHEN abs(diff_micro) > 10000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_off,
           CAST(max(abs(diff_micro)) AS BIGINT) AS max_abs_diff_micro
    FROM rec
    """,
)
def q_invoice_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invoice reconciliation: recompute each order's gross from its
    line items (extendedprice × (1−discount) × (1+tax), all in exact
    DECIMAL — the money discipline, no doubles anywhere) and diff it
    against the order header's total — the classic finance-data close
    job, bucketed into exact matches, ≤1¢ rounding drift, and real
    discrepancies with the worst offset. On synthetic fixtures the
    headers don't derive from lines, so "n_off" is large — which is
    precisely what the audit is for: the pipeline reports it instead
    of anyone assuming the invariant.

    One keyed rollup of lines co-partitioned with the header join;
    diffs quantize to exact micro-units (decimal scale 6 → BIGINT);
    the report is one row of integer counts."""
    l = spread(load_table(spark, sf_dir, "lineitem"))
    o = load_table(spark, sf_dir, "orders")
    gross_line = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))
        * (F.lit(1) + F.col("l_tax").cast("decimal(4,2)"))
    )
    lines = l.groupBy("l_orderkey").agg(
        F.sum(gross_line).cast("decimal(38,6)").alias("gross")
    )
    rec = (
        o.select("o_orderkey", F.col("o_totalprice").cast("decimal(18,2)").alias("tp"))
        .join(lines, F.col("o_orderkey") == lines.l_orderkey)
        .select(
            ((F.col("gross") - F.col("tp")) * 1000000)
            .cast("bigint")
            .alias("diff_micro")
        )
    )
    d = F.col("diff_micro")
    return rec.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.when(d == 0, 1).otherwise(0)).cast("bigint").alias("n_exact"),
        F.sum(F.when((d != 0) & (F.abs(d) <= 10000), 1).otherwise(0))
        .cast("bigint")
        .alias("n_within_1c"),
        F.sum(F.when(F.abs(d) > 10000, 1).otherwise(0))
        .cast("bigint")
        .alias("n_off"),
        F.max(F.abs(d)).cast("bigint").alias("max_abs_diff_micro"),
    )
