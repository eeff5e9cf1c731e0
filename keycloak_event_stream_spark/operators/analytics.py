"""Event-analytics composites over the events table.

The reference's query surface stops at filter/sort/paginate of raw
events (SURVEY.md §2.1 F1-F7); the questions its users actually ask of
an event store — conversion funnels, cohort retention, outlier-robust
value distributions, activity fingerprints — are these composites.
All built-in Catalyst; determinism via total orders and integer/exact
arithmetic only.

Scale notes inline per operator; the common theme is that every
aggregate here is keyed by user/cohort/type, so the shuffles are
pre-reduced map-side and the result tables are small regardless of raw
event volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from keycloak_event_stream_spark.catalog import (
    bounded_eval_scope,
    footer_rows,
    load_table,
    pin,
    pin_scope,
    spread,
)
from keycloak_event_stream_spark.operators._scale import (
    two_phase_window,
    use_two_phase,
)
from keycloak_event_stream_spark.registry import register as _q


@_q(
    "q_funnel",
    oracle="""
    WITH s AS (
      SELECT user_id, min(ts) AS t_signup
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    c AS (
      SELECT s.user_id, min(e.ts) AS t_click
      FROM s JOIN events e
        ON e.user_id = s.user_id AND e.event_type = 'click'
       AND e.ts > s.t_signup
      GROUP BY s.user_id
    ),
    p AS (
      SELECT c.user_id, min(e.ts) AS t_purchase
      FROM c JOIN events e
        ON e.user_id = c.user_id AND e.event_type = 'purchase'
       AND e.ts > c.t_click
      GROUP BY c.user_id
    )
    SELECT s.user_id, s.t_signup, c.t_click, p.t_purchase,
           CAST(1 + (c.user_id IS NOT NULL)::INT
                  + (p.user_id IS NOT NULL)::INT AS INTEGER) AS stage
    FROM s LEFT JOIN c ON s.user_id = c.user_id
           LEFT JOIN p ON s.user_id = p.user_id
    """,
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel signup -> click -> purchase: each
    stage's timestamp is the earliest qualifying event STRICTLY AFTER
    the previous stage (the textbook funnel, not mere per-type
    existence).

    Single-scan, single-shuffle formulation: one groupBy(user_id)
    collects min(signup) plus each user's sorted click/purchase
    timestamp arrays; the stage chain is then per-row array logic
    (filter -> first element = earliest-after, sortedness makes that
    the min). The naive per-stage join version reads the events table
    once PER STAGE and shuffles three times — this plan reads it once,
    which is the difference that matters at 100 TB. Per-user array
    residency is that user's click/purchase count; a pathological hot
    user is handled by the salted two-phase pattern
    (q_agg_salted_twophase) if needed."""
    ev = spread(load_table(spark, sf_dir, "events")).filter(
        F.col("event_type").isin("signup", "click", "purchase")
    )
    agg = ev.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "signup", F.col("ts"))
        ).alias("t_signup"),
        F.array_sort(
            F.collect_list(
                F.when(F.col("event_type") == "click", F.col("ts"))
            )
        ).alias("clicks"),
        F.array_sort(
            F.collect_list(
                F.when(F.col("event_type") == "purchase", F.col("ts"))
            )
        ).alias("purchases"),
    )
    staged = agg.filter(F.col("t_signup").isNotNull()).withColumn(
        "t_click",
        F.expr("element_at(filter(clicks, c -> c > t_signup), 1)"),
    )
    return staged.select(
        "user_id",
        "t_signup",
        "t_click",
        F.expr("element_at(filter(purchases, p -> p > t_click), 1)").alias(
            "t_purchase"
        ),
    ).withColumn(
        "stage",
        F.lit(1)
        + F.col("t_click").isNotNull().cast("int")
        + F.col("t_purchase").isNotNull().cast("int"),
    )


@_q(
    "q_retention_cohort",
    oracle="""
    WITH first_day AS (
      SELECT user_id, CAST(min(ts) AS DATE) AS cohort
      FROM events GROUP BY user_id
    ),
    active AS (
      SELECT DISTINCT e.user_id, f.cohort,
             datediff('day', f.cohort, CAST(e.ts AS DATE)) AS day_offset
      FROM events e JOIN first_day f ON e.user_id = f.user_id
    )
    SELECT cohort, CAST(day_offset AS INTEGER) AS day_offset,
           count(*) AS n_users
    FROM active
    WHERE day_offset <= 7
    GROUP BY cohort, day_offset
    """,
)
def q_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen day, counted on
    each later day they return (offsets 0..7). Two keyed aggregations
    plus one join on user_id; the first-day table is |users|-sized and
    the result is |cohorts| x 8 — tiny at any event volume. The
    distinct collapses same-day repeat activity map-side."""
    ev = spread(load_table(spark, sf_dir, "events"))
    first_day = ev.groupBy("user_id").agg(
        F.min("ts").cast("date").alias("cohort")
    )
    active = (
        ev.join(first_day, "user_id")
        .select(
            "user_id",
            "cohort",
            F.datediff(F.col("ts").cast("date"), F.col("cohort")).alias(
                "day_offset"
            ),
        )
        .distinct()
    )
    return (
        active.filter(F.col("day_offset") <= 7)
        .groupBy("cohort", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@_q(
    "q_winsorize",
    oracle="""
    WITH ranked AS (
      SELECT event_id, event_type, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events
    ),
    bounds AS (
      SELECT event_type,
             min(CASE WHEN rn = (n * 1 + 99) // 100 THEN value END) AS p01,
             min(CASE WHEN rn = (n * 99 + 99) // 100 THEN value END) AS p99
      FROM ranked GROUP BY event_type
    )
    SELECT r.event_id, r.event_type, r.value, b.p01, b.p99,
           least(greatest(r.value, b.p01), b.p99) AS clipped
    FROM ranked r JOIN bounds b ON r.event_type = b.event_type
    """,
)
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization: clip each event's value to its type's exact
    [p01, p99] band, percentiles as nearest-rank order statistics
    (rank = ceil(q*n) via integer arithmetic — no interpolation, no
    float thresholds, so every engine picks the identical row; ties
    broken by event_id for a total order).

    The rank pass partitions by event_type — a handful of values — so
    the naive WindowExec runs one task per type at any volume (the
    q_window_rank skewed-window class; 14.4x at the 100x leg). Same
    cost-based split: naive under the footer-row threshold,
    two_phase_window above it (range partitioning fans the per-type
    sort across the session width; integer row_number is bitwise
    identical — 100x leg 4.9 s, 6.0x vs 14.4x). In the two-phase
    branch the per-type total comes from a map-side-combined groupBy
    broadcast back (|types| rows), not a count window. Bounds are
    |types| rows and broadcast back either way. At 100 TB the exact
    rank pass is the expensive-but-honest tier; the sketched tier is
    q_sketch_quantiles."""
    ev = spread(load_table(spark, sf_dir, "events"))
    if not use_two_phase(sf_dir, "events"):
        w = W.partitionBy("event_type").orderBy("value", "event_id")
        wn = W.partitionBy("event_type")
        ranked = ev.select(
            "event_id",
            "event_type",
            "value",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(wn).alias("n"),
        )
    else:
        ranked = two_phase_window(
            ev.select("event_id", "event_type", "value"),
            [F.col("value"), F.col("event_id")],
            partition_by=["event_type"],
            row_number="rn",
        ).join(
            F.broadcast(
                ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
            ),
            "event_type",
        )
    bounds = ranked.groupBy("event_type").agg(
        F.min(
            F.when(
                F.col("rn") == ((F.col("n") * 1 + 99) / 100).cast("bigint"),
                F.col("value"),
            )
        ).alias("p01"),
        F.min(
            F.when(
                F.col("rn") == ((F.col("n") * 99 + 99) / 100).cast("bigint"),
                F.col("value"),
            )
        ).alias("p99"),
    )
    return ranked.join(F.broadcast(bounds), "event_type").select(
        "event_id",
        "event_type",
        "value",
        "p01",
        "p99",
        F.least(F.greatest(F.col("value"), F.col("p01")), F.col("p99")).alias(
            "clipped"
        ),
    )


@_q(
    "q_activity_bitmap",
    oracle="""
    SELECT user_id,
           bit_or(CAST(1 AS BIGINT) << (date_part('day', ts) - 1))
             AS day_mask,
           CAST(count(DISTINCT date_part('day', ts)) AS INTEGER)
             AS n_active_days
    FROM events GROUP BY user_id
    """,
)
def q_activity_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity fingerprint: day-of-month presence packed into
    one int64 via bit_or (bit d-1 = active on day d). The roaring-
    bitmap idea in miniature — set membership as a fixed-width integer
    aggregate that is associative/commutative (perfect map-side
    combining) and 8 bytes per user however many events. Bitmap AND/OR
    then answers audience-overlap questions without touching raw
    events."""
    ev = spread(load_table(spark, sf_dir, "events"))
    day = F.dayofmonth("ts")
    # shiftleft's python binding takes only a literal shift — go through
    # the SQL expression for a column-valued shift
    mask_bit = F.expr("shiftleft(cast(1 as bigint), dayofmonth(ts) - 1)")
    return ev.groupBy("user_id").agg(
        F.bit_or(mask_bit).alias("day_mask"),
        F.countDistinct(day).alias("n_active_days"),
    )


@_q(
    "q_timeseries_resample",
    oracle="""
    WITH spine AS (
      SELECT unnest(generate_series(
               (SELECT time_bucket(INTERVAL 6 HOUR, min(ts)) FROM events),
               (SELECT time_bucket(INTERVAL 6 HOUR, max(ts)) FROM events),
               INTERVAL 6 HOUR)) AS bucket
    ),
    agg AS (
      SELECT time_bucket(INTERVAL 6 HOUR, ts) AS bucket,
             count(*) AS n_events,
             count(DISTINCT user_id) AS n_users
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1
    )
    SELECT s.bucket, COALESCE(a.n_events, 0) AS n_events,
           COALESCE(a.n_users, 0) AS n_users,
           a.bucket IS NULL AS gap_filled
    FROM spine s LEFT JOIN agg a ON s.bucket = a.bucket
    """,
)
def q_timeseries_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample purchases onto a dense 6-hour grid: aggregate into
    buckets, then left-join a generated calendar spine so empty buckets
    appear as explicit zero rows (gap_filled marks them). Densification
    is what makes downstream movings/averages/charts correct — a bare
    GROUP BY silently drops empty intervals.

    The spine is sequence()-generated from the min/max scalar aggregate
    — O(range/step) rows on the driver-free path, broadcast to the
    grid join; the heavy side is one keyed aggregation."""
    ev = spread(load_table(spark, sf_dir, "events"))
    bucket = F.timestamp_seconds(
        (F.unix_timestamp("ts") / (6 * 3600)).cast("bigint") * (6 * 3600)
    )
    agg = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )
    bounds = ev.agg(
        F.min("ts").alias("mn"), F.max("ts").alias("mx")
    ).select(
        F.timestamp_seconds(
            (F.unix_timestamp("mn") / (6 * 3600)).cast("bigint") * (6 * 3600)
        ).alias("lo"),
        F.timestamp_seconds(
            (F.unix_timestamp("mx") / (6 * 3600)).cast("bigint") * (6 * 3600)
        ).alias("hi"),
    )
    spine = bounds.select(
        F.explode(
            F.expr("sequence(lo, hi, interval 6 hours)")
        ).alias("bucket")
    )
    a = agg.withColumnRenamed("bucket", "abucket")
    return spine.join(a, spine.bucket == a.abucket, "left").select(
        "bucket",
        F.coalesce(F.col("n_events"), F.lit(0)).alias("n_events"),
        F.coalesce(F.col("n_users"), F.lit(0)).alias("n_users"),
        F.col("abucket").isNull().alias("gap_filled"),
    )


@_q(
    "q_diff_snapshots",
    oracle="""
    WITH a AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
               WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'),
         b AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
               WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00')
    SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
           CASE WHEN a.o_orderkey IS NULL THEN 'added'
                WHEN b.o_orderkey IS NULL THEN 'removed'
                WHEN a.o_orderstatus = b.o_orderstatus
                 AND a.o_totalprice = b.o_totalprice THEN 'unchanged'
                ELSE 'changed' END AS change
    FROM a FULL JOIN b ON a.o_orderkey = b.o_orderkey
    """,
)
def q_diff_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff — the reconciliation primitive behind CDC audits
    and backfill validation: full outer join two table versions on the
    key and classify added/removed/changed/unchanged. Snapshots here
    are two date-bounded views of orders (append-only fixture, so
    'changed' is structurally empty but the classification logic
    handles it). One shuffle on the key; at 100 TB both sides prune to
    changed partitions first when snapshots are date-partitioned."""
    o = spread(load_table(spark, sf_dir, "orders"))
    a = o.filter(
        F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")
    ).select(
        F.col("o_orderkey").alias("a_key"),
        F.col("o_orderstatus").alias("a_status"),
        F.col("o_totalprice").alias("a_price"),
    )
    b = o.filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    ).select(
        F.col("o_orderkey").alias("b_key"),
        F.col("o_orderstatus").alias("b_status"),
        F.col("o_totalprice").alias("b_price"),
    )
    j = a.join(b, a.a_key == b.b_key, "full")
    change = (
        F.when(F.col("a_key").isNull(), F.lit("added"))
        .when(F.col("b_key").isNull(), F.lit("removed"))
        .when(
            (F.col("a_status") == F.col("b_status"))
            & (F.col("a_price") == F.col("b_price")),
            F.lit("unchanged"),
        )
        .otherwise(F.lit("changed"))
    )
    return j.select(
        F.coalesce(F.col("a_key"), F.col("b_key")).alias("o_orderkey"),
        change.alias("change"),
    )


@_q(
    "q_cep_pattern",
    oracle="""
    SELECT user_id, event_id AS error_id, ts AS error_ts,
           nxt_purchase AS purchase_ts
    FROM (
      SELECT user_id, event_id, ts, event_type,
             min(CASE WHEN event_type = 'purchase' THEN ts END) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
               AS nxt_purchase,
             min(CASE WHEN event_type = 'error' THEN ts END) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
               AS nxt_error
      FROM events
    )
    WHERE event_type = 'error'
      AND nxt_purchase IS NOT NULL
      AND nxt_purchase <= ts + INTERVAL 30 MINUTE
      AND (nxt_error IS NULL OR nxt_error > nxt_purchase)
    ORDER BY user_id, error_ts, error_id
    """,
)
def q_cep_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complex-event-processing pattern match (the MATCH_RECOGNIZE /
    CEP shape, cf. HYPERSONIC SIGMOD'22): per user, an ``error``
    immediately RECOVERED by a ``purchase`` within 30 minutes with no
    other error in between. Instead of per-pattern NFA state (the CEP
    engine approach), the relational encoding is two forward-looking
    window minima — next purchase ts and next error ts — computed in
    ONE pass over the user's timeline; the pattern predicate is then a
    plain filter. One shuffle on user_id total, no self-joins, which
    is the scalable reformulation of sequence patterns whose steps are
    adjacent-in-kind. (ts, event_id) gives the total order."""
    ev = spread(load_table(spark, sf_dir, "events"))
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, W.unboundedFollowing)
    )
    nxt_purchase = F.min(
        F.when(F.col("event_type") == "purchase", F.col("ts"))
    ).over(w)
    nxt_error = F.min(
        F.when(F.col("event_type") == "error", F.col("ts"))
    ).over(w)
    return (
        ev.withColumn("nxt_purchase", nxt_purchase)
        .withColumn("nxt_error", nxt_error)
        .filter(
            (F.col("event_type") == "error")
            & F.col("nxt_purchase").isNotNull()
            & (
                F.col("nxt_purchase")
                <= F.col("ts") + F.expr("INTERVAL 30 MINUTES")
            )
            & (
                F.col("nxt_error").isNull()
                | (F.col("nxt_error") > F.col("nxt_purchase"))
            )
        )
        .select(
            "user_id",
            F.col("event_id").alias("error_id"),
            F.col("ts").alias("error_ts"),
            F.col("nxt_purchase").alias("purchase_ts"),
        )
        .orderBy("user_id", "error_ts", "error_id")
    )


@_q(
    "q_ts_similarity",
    oracle="""
    WITH daily AS (
      SELECT user_id, time_bucket(INTERVAL 1 DAY, ts) AS day,
             CAST(sum(CAST(value AS DECIMAL(27,6))) AS DECIMAL(18,2)) AS v
      FROM events GROUP BY 1, 2
    ),
    spine AS (
      SELECT unnest(generate_series(
        (SELECT time_bucket(INTERVAL 1 DAY, min(ts)) FROM events),
        (SELECT time_bucket(INTERVAL 1 DAY, max(ts)) FROM events),
        INTERVAL 1 DAY)) AS day
    ),
    users AS (
      SELECT user_id FROM (
        SELECT user_id, count(*) AS n_ev FROM events GROUP BY user_id
        ORDER BY n_ev DESC, user_id LIMIT 300
      )
    ),
    dense AS (
      SELECT u.user_id, s.day, COALESCE(d.v, CAST(0 AS DECIMAL(18,2))) AS v
      FROM users u CROSS JOIN spine s
      LEFT JOIN daily d ON d.user_id = u.user_id AND d.day = s.day
    ),
    mom AS (
      SELECT user_id, count(*) AS n,
             CAST(sum(v) AS DOUBLE) AS s1,
             CAST(sum(v * v) AS DOUBLE) AS s2
      FROM dense GROUP BY 1
    ),
    z AS (
      SELECT d.user_id,
             list((CAST(d.v AS DOUBLE) - m.s1 / m.n)
                  / sqrt((m.s2 - m.s1 * m.s1 / m.n) / m.n)
                  ORDER BY d.day) AS zs
      FROM dense d JOIN mom m USING (user_id)
      WHERE (m.s2 - m.s1 * m.s1 / m.n) > 0
      GROUP BY d.user_id, m.n, m.s1, m.s2
    )
    SELECT a.user_id AS user_a, b.user_id AS user_b,
           sqrt(list_reduce(
             list_prepend(CAST(0 AS DOUBLE),
               list_transform(range(1, len(a.zs) + 1),
                 i -> (a.zs[i] - b.zs[i]) * (a.zs[i] - b.zs[i]))),
             (acc, x) -> acc + x)) AS zdist
    FROM z a JOIN z b ON a.user_id < b.user_id
    ORDER BY zdist, user_a, user_b
    LIMIT 20
    """,
)
def q_ts_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series similarity search (cf. the streaming-similarity EDBT
    line of work): z-normalized Euclidean distance between per-user
    daily activity series, 20 closest pairs. Pipeline: daily exact-
    decimal sums -> gap-filled dense grid (users x calendar spine, so
    every series has identical length and alignment) -> per-series
    moments in exact decimal (mean/std rational until the final double)
    -> aligned z-arrays via sorted struct collect -> pairwise
    sequential-fold distance (same left-to-right order as DuckDB's
    ``list_reduce``, so doubles match bitwise). Constant series
    (variance 0) are excluded by an exact predicate. The quadratic
    pairwise stage runs only on the 300 most-active users (top-k
    candidate selection, deterministic tiebreak) — the coarse pruning
    that bounds pair count no matter how large the population grows;
    widening it is a knob, not a rewrite.

    Single-scan shape: events are read ONCE into the per-(user, day)
    cell aggregate; the calendar bounds (min/max day) and the per-user
    activity counts both derive from those cells rather than rescanning
    the raw table (count(*) per user = sum of per-cell counts;
    day-truncated min/max commute with the grouping). Everything
    downstream runs on the |users|x|days| cell matrix."""
    # Bounded-eval width (catalog.bounded_eval_scope, round 9): the
    # cell-matrix build, its persist, the dense-grid join and the
    # capped pairwise stage all paid corpus width — 7-8 s vanilla
    # sf0.01 for a 20-row result, ~2.5 s at input-derived width
    # (ABA probe; BASELINE.md "Round 9 - width scope, third wave").
    # WHOLE body under the scope, eager localCheckpoint inside.
    with bounded_eval_scope(spark, footer_rows(sf_dir, "events")), pin_scope():
        ev = spread(load_table(spark, sf_dir, "events"))
        day = F.date_trunc("day", F.col("ts"))
        daily = ev.groupBy("user_id", day.alias("day")).agg(
            F.sum(F.col("value").cast("decimal(27,6)"))
            .cast("decimal(18,2)")
            .alias("v"),
            F.count(F.lit(1)).alias("n_cell"),
        )
        # one materialization of the cell matrix feeds bounds, the user
        # top-k and the dense grid: the raw table is scanned exactly once
        daily = pin(daily)
        # Round-12 (closes the r11 verdict's posture question): the
        # round-11 pin-materializing daily.count() is REVERTED on
        # measurement. The at-scale claim was that AQE's concurrent
        # leaf stages race the unmaterialized persist and rebuild the
        # scan+aggregate chain; stage attribution at the 10x replica
        # shows the race does NOT manifest here — the same six
        # cache-consumer stages read the one filled cell matrix with
        # or without the count (no extra scan-sized build appears),
        # while the count itself costs a full extra materialization
        # pass: interleaved A/B at 10x read 3.16 s min WITH the count
        # vs 2.87 s WITHOUT (runMs 78.4k vs 66.3k). The dedup prefix
        # keeps its count — its race was observed; this one never was.
        bounds = daily.agg(
            F.min("day").alias("lo"),
            F.max("day").alias("hi"),
        )
        spine = bounds.select(
            F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("day")
        )
        # candidate selection before the quadratic stage: the 300 most
        # active users (deterministic tiebreak) — the same pruning a
        # production similarity search does with a coarse cluster/recency
        # key so the pairwise cost is bounded regardless of corpus size
        users = (
            daily.groupBy("user_id")
            .agg(F.sum("n_cell").alias("n_ev"))
            .orderBy(F.col("n_ev").desc(), "user_id")
            .limit(300)
            .select("user_id")
        )
        daily = daily.drop("n_cell")
        dense = (
            users.crossJoin(F.broadcast(spine))
            .join(daily, ["user_id", "day"], "left")
            .withColumn(
                "v", F.coalesce(F.col("v"), F.lit(0).cast("decimal(18,2)"))
            )
        )
        mom = dense.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").cast("double").alias("s1"),
            F.sum(F.col("v") * F.col("v")).cast("double").alias("s2"),
        )
        n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
        var = (s2 - s1 * s1 / n) / n
        z = (
            dense.join(mom, "user_id")
            .filter((s2 - s1 * s1 / n) > 0)
            .withColumn(
                "z", (F.col("v").cast("double") - s1 / n) / F.sqrt(var)
            )
            .groupBy("user_id")
            .agg(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct(F.col("day"), F.col("z")))
                    ),
                    lambda s: s.z,
                ).alias("zs")
            )
        )
        a = z.select(F.col("user_id").alias("user_a"), F.col("zs").alias("a_zs"))
        b = z.select(F.col("user_id").alias("user_b"), F.col("zs").alias("b_zs"))
        dist = F.expr(
            "sqrt(aggregate(zip_with(a_zs, b_zs, (x, y) -> (x - y) * (x - y)), "
            "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))"
        )
        return (
            a.join(b, F.col("user_a") < F.col("user_b"))
            .select("user_a", "user_b", dist.alias("zdist"))
            .orderBy("zdist", "user_a", "user_b")
            .limit(20)
        ).localCheckpoint(eager=True)


@_q(
    "q_geo_nearest",
    oracle="""
    WITH cust AS (
      SELECT c_custkey,
             CAST((c_custkey * 37) % 180 - 90 AS DOUBLE) + 0.5 AS lat,
             CAST((c_custkey * 91) % 360 - 180 AS DOUBLE) + 0.5 AS lon
      FROM customer
    ), supp AS (
      SELECT s_suppkey,
             CAST((s_suppkey * 37) % 180 - 90 AS DOUBLE) + 0.5 AS lat,
             CAST((s_suppkey * 91) % 360 - 180 AS DOUBLE) + 0.5 AS lon
      FROM supplier
    ), pairs AS (
      SELECT c.c_custkey, s.s_suppkey,
             round(2.0 * 6371.0 * asin(sqrt(round(
               sin(radians((s.lat - c.lat) / 2.0))
                 * sin(radians((s.lat - c.lat) / 2.0))
               + cos(radians(c.lat)) * cos(radians(s.lat))
                 * sin(radians((s.lon - c.lon) / 2.0))
                 * sin(radians((s.lon - c.lon) / 2.0)), 12))), 3)
               AS dist_km
      FROM cust c CROSS JOIN supp s
    ), best AS (
      SELECT c_custkey, s_suppkey, dist_km,
             row_number() OVER (PARTITION BY c_custkey
                                ORDER BY dist_km, s_suppkey) AS rn
      FROM pairs
    )
    SELECT c_custkey, s_suppkey AS nearest_suppkey, dist_km
    FROM best WHERE rn = 1
    """,
)
def q_geo_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-supplier spatial join: haversine distance from every
    customer to its closest supplier (coordinates derived
    deterministically from keys — the fixtures carry no geo columns;
    the *pattern* is the point).

    This is the broadcast-NN-join shape: the small side (suppliers)
    broadcasts, the big side streams through a cross product + windowed
    argmin — no shuffle of the large table at all. At 100 TB the cross
    product is bounded by geohash/S2-cell pre-bucketing (join on cell,
    compare within cell +/- neighbors), the same escalation as
    q_join_range_binned. Portability: the haversine operand is rounded
    to 12 dp before ``asin`` and the distance to 3 dp before the
    argmin (trig last-ulp behavior is libm-specific — the q_tfidf ln
    discipline); ties break on supplier key, so the winner is
    deterministic in both engines.
    """
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") * 37) % 180 - 90).cast("double").alias("clat"),
        ((F.col("c_custkey") * 91) % 360 - 180).cast("double").alias("clon"),
    ).select(
        "c_custkey",
        (F.col("clat") + 0.5).alias("clat"),
        (F.col("clon") + 0.5).alias("clon"),
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        ((F.col("s_suppkey") * 37) % 180 - 90).cast("double").alias("slat"),
        ((F.col("s_suppkey") * 91) % 360 - 180).cast("double").alias("slon"),
    ).select(
        "s_suppkey",
        (F.col("slat") + 0.5).alias("slat"),
        (F.col("slon") + 0.5).alias("slon"),
    )
    dphi = F.radians((F.col("slat") - F.col("clat")) / 2.0)
    dlam = F.radians((F.col("slon") - F.col("clon")) / 2.0)
    h = F.round(
        F.sin(dphi) * F.sin(dphi)
        + F.cos(F.radians(F.col("clat")))
        * F.cos(F.radians(F.col("slat")))
        * F.sin(dlam)
        * F.sin(dlam),
        12,
    )
    dist = F.round(2.0 * 6371.0 * F.asin(F.sqrt(h)), 3)
    pairs = cust.join(F.broadcast(supp)).select(
        "c_custkey", "s_suppkey", dist.alias("dist_km")
    )
    best = pairs.select(
        "c_custkey",
        "s_suppkey",
        "dist_km",
        F.row_number()
        .over(W.partitionBy("c_custkey").orderBy("dist_km", "s_suppkey"))
        .alias("rn"),
    ).filter(F.col("rn") == 1)
    return best.select(
        "c_custkey",
        F.col("s_suppkey").alias("nearest_suppkey"),
        "dist_km",
    )


@_q(
    "q_late_data_quantify",
    oracle="""
    WITH delivered AS (
      SELECT event_id, ts,
             ts + to_seconds((event_id * 2654435761) % 600) AS arrival_ts
      FROM events
    ), arr AS (
      SELECT event_id, ts,
             max(ts) OVER (ORDER BY arrival_ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS high_wm
      FROM delivered
    ), late AS (
      SELECT CAST(floor(date_diff('second', ts, high_wm) / 60)
                  AS BIGINT) AS late_minutes
      FROM arr
    )
    SELECT late_minutes,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(count(*)) OVER (ORDER BY late_minutes
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS n_cumulative
    FROM late
    GROUP BY late_minutes
    ORDER BY late_minutes
    LIMIT 50
    """,
)
def q_late_data_quantify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateness profile: how far behind the running event-time
    high-water mark does each event arrive? Arrival time is event time
    plus a deterministic delivery jitter of up to 10 minutes (Knuth
    multiplicative hash of the event id — the fixture's ingest order
    is perfectly sorted, so the jitter stands in for the network/buffer
    reordering a real feed has; same constant as sources/pushgen). The
    minute-bucketed histogram with cumulative counts IS the
    watermark-sizing curve — pick the delay that covers the tail
    you're willing to wait for.

    This is the *measurement* the reference never takes: it files
    events by arrival time (SURVEY §1.4 Q4), so event-time partitions
    silently leak across folders with no way to know how much. The
    running max (the same high-water mark Structured Streaming tracks)
    is the two-phase range-partitioned cummax over arrival order —
    max is associative, so per-partition maxima combine by greatest()
    exactly like the prefix-sum offsets; no single-task sort over the
    event stream. The minute histogram then reduces to |distinct
    lateness| rows and its small cumulative window is bounded by the
    50-minute LIMIT domain.
    """
    ev = load_table(spark, sf_dir, "events")
    delivered = ev.select(
        "event_id",
        "ts",
        (
            F.col("ts")
            + F.make_interval(
                secs=((F.col("event_id") * F.lit(2654435761)) % 600).cast(
                    "double"
                )
            )
        ).alias("arrival_ts"),
    )
    arr = two_phase_window(
        delivered,
        [F.col("arrival_ts"), F.col("event_id")],
        cummax={"high_wm": "ts"},
    ).select("ts", "high_wm")
    late = arr.select(
        F.floor(
            (
                F.unix_timestamp("high_wm") - F.unix_timestamp("ts")
            )
            / 60
        )
        .cast("bigint")
        .alias("late_minutes")
    )
    hist = late.groupBy("late_minutes").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events")
    )
    cum = F.sum("n_events").over(
        W.orderBy("late_minutes").rowsBetween(
            W.unboundedPreceding, W.currentRow
        )
    )
    return (
        hist.select(
            "late_minutes",
            "n_events",
            cum.cast("bigint").alias("n_cumulative"),
        )
        .orderBy("late_minutes")
        .limit(50)
    )


@_q(
    "q_user_lifecycle",
    oracle="""
    WITH monthly AS (
      SELECT DISTINCT user_id, date_trunc('week', CAST(ts AS DATE)) AS wk
      FROM events
    ), labelled AS (
      SELECT user_id, wk,
             lag(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev_wk
      FROM monthly
    ), states AS (
      SELECT wk,
             CASE WHEN prev_wk IS NULL THEN 'new'
                  WHEN date_diff('day', prev_wk, wk) = 7 THEN 'retained'
                  ELSE 'resurrected' END AS state
      FROM labelled
    )
    SELECT CAST(wk AS DATE) AS week, state,
           CAST(count(*) AS BIGINT) AS n_users
    FROM states
    GROUP BY wk, state
    ORDER BY week, state
    """,
)
def q_user_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth-accounting lifecycle states: each active (user, week) is
    labelled ``new`` (first week ever), ``retained`` (also active the
    prior week) or ``resurrected`` (returning after a gap) from one
    lag over the per-user activity timeline — the WAU decomposition
    every growth dashboard runs (churn is the complement: retained +
    resurrected vs the prior week's actives).

    Plan: distinct (user, week) first (the only data-sized shuffle),
    then the lag window runs over |user-weeks| — the aggregate, not
    the raw events; the final rollup is |weeks|×3 cells. Calendar
    arithmetic (date_trunc week, 7-day adjacency) is exact in both
    engines.
    """
    ev = load_table(spark, sf_dir, "events")
    weekly = ev.select(
        "user_id", F.date_trunc("week", F.col("ts").cast("date")).alias("wk")
    ).distinct()
    prev = F.lag("wk").over(W.partitionBy("user_id").orderBy("wk"))
    labelled = weekly.select("wk", prev.alias("prev_wk"))
    state = (
        F.when(F.col("prev_wk").isNull(), "new")
        .when(F.datediff(F.col("wk"), F.col("prev_wk")) == 7, "retained")
        .otherwise("resurrected")
    )
    return (
        labelled.select("wk", state.alias("state"))
        .groupBy("wk", "state")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .select(
            F.col("wk").cast("date").alias("week"), "state", "n_users"
        )
        .orderBy("week", "state")
    )


@_q(
    "q_dedup_proximity",
    oracle="""
    WITH lagged AS (
      SELECT event_id, user_id, event_type, ts,
             lag(ts) OVER (PARTITION BY user_id, event_type
                           ORDER BY ts, event_id) AS prev_ts
      FROM events
    )
    SELECT event_id, user_id, event_type, ts
    FROM lagged
    WHERE prev_ts IS NULL
       OR date_diff('second', prev_ts, ts) > 60
    ORDER BY user_id, event_type, ts, event_id
    LIMIT 1000
    """,
)
def q_dedup_proximity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proximity dedup: collapse bursts of the same (user, type) —
    repeats within 60 s of the previous *kept-or-not* event are
    dropped, keeping each burst's opener. This is telemetry
    double-fire suppression (retry storms, double clicks), the fuzzy
    sibling of exact-id dedup that an event store needs and the
    reference cannot express at all.

    One lag window per (user, type) partition — a single shuffle on
    the composite key, no self-join. Note the documented semantics:
    the gap tests against the immediately *previous* event (chained
    bursts collapse to their opener only if each link is ≤ 60 s);
    both engines evaluate the identical window so the row set is
    hash-checked. Streaming twin:
    dropDuplicatesWithinWatermark-with-bucketed-ts, or the
    applyInPandasWithState operator for exact burst semantics.
    """
    ev = load_table(spark, sf_dir, "events")
    prev = F.lag("ts").over(
        W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    )
    lagged = ev.select(
        "event_id", "user_id", "event_type", "ts", prev.alias("prev_ts")
    )
    gap_s = F.unix_timestamp("ts") - F.unix_timestamp("prev_ts")
    return (
        lagged.filter(F.col("prev_ts").isNull() | (gap_s > 60))
        .select("event_id", "user_id", "event_type", "ts")
        .orderBy("user_id", "event_type", "ts", "event_id")
        .limit(1000)
    )


@_q(
    "q_session_window_native",
    oracle="""
    WITH marks AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR date_diff('second', lag(ts) OVER w, ts) > 1800
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sessions AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS sess_no
      FROM marks
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           CAST(count(*) AS BIGINT) AS n_events
    FROM sessions
    GROUP BY user_id, sess_no
    ORDER BY user_id, session_start
    """,
)
def q_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-native ``session_window`` in BATCH mode: per-user
    sessions with a 30-minute inactivity gap, expressed as a single
    groupBy on the session-window generator — no lag window, no
    gaps-and-islands arithmetic (that hand-rolled formulation is
    q_sessionize; this is the one-line engine form, and the same
    expression powers s_session_windows in streaming, so batch
    backfill and live sessionization share semantics by construction).

    Spark's session_window end = last event + gap; the oracle
    reproduces exactly that from the classic new-session-flag /
    running-sum construction, so the built-in's merge semantics are
    cross-checked against first principles rather than trusted. One
    shuffle on (user, session); at 100 TB identical in shape to any
    keyed aggregation.
    """
    ev = load_table(spark, sf_dir, "events")
    sw = F.session_window(F.col("ts"), "30 minutes")
    return (
        ev.groupBy("user_id", sw.alias("sw"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


@_q(
    "q_window_tumbling_batch",
    oracle="""
    SELECT time_bucket(INTERVAL 6 HOUR, ts) AS window_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(CAST(sum(CAST(value AS DECIMAL(27,6))) AS DECIMAL(18,2))
                AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q_window_tumbling_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-native tumbling ``window()`` generator in BATCH mode:
    6-hour buckets per event type — the same expression that powers
    s_tumbling_counts in streaming, run over history (the
    batch-backfill / live-query symmetry argument as
    q_session_window_native, for the time-bucket family). The oracle
    maps window.start to DuckDB's time_bucket, cross-checking Spark's
    epoch-aligned bucket arithmetic. One keyed aggregation; exact
    decimal value sums.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "6 hours").alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("value").cast("decimal(27,6)"))
            .cast("decimal(18,2)")
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
        .orderBy("window_start", "event_type")
    )


@_q(
    "q_funnel_rates",
    oracle="""
    WITH s AS (
      SELECT user_id, min(ts) AS t_signup
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ), c AS (
      SELECT s.user_id, min(e.ts) AS t_click
      FROM s JOIN events e
        ON e.user_id = s.user_id AND e.event_type = 'click'
       AND e.ts > s.t_signup
      GROUP BY s.user_id
    ), p AS (
      SELECT c.user_id, min(e.ts) AS t_purchase
      FROM c JOIN events e
        ON e.user_id = c.user_id AND e.event_type = 'purchase'
       AND e.ts > c.t_click
      GROUP BY c.user_id
    ), m AS (
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM s) AS n1,
             (SELECT CAST(count(*) AS BIGINT) FROM c) AS n2,
             (SELECT CAST(count(*) AS BIGINT) FROM p) AS n3
    )
    SELECT stage, n_users, conv_from_prev, conv_from_top FROM (
      SELECT 'signup' AS stage, n1 AS n_users,
             1.0 AS conv_from_prev, 1.0 AS conv_from_top, 1 AS ord
      FROM m
      UNION ALL
      SELECT 'click', n2, CAST(n2 AS DOUBLE) / n1,
             CAST(n2 AS DOUBLE) / n1, 2 FROM m
      UNION ALL
      SELECT 'purchase', n3, CAST(n3 AS DOUBLE) / n2,
             CAST(n3 AS DOUBLE) / n1, 3 FROM m
    ) ORDER BY ord
    """,
)
def q_funnel_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel conversion-rate report: the per-stage user counts with
    step conversion (vs the previous stage) and overall conversion
    (vs the top) — the reporting layer over q_funnel's per-user
    stage table, reusing its single-scan formulation (one
    groupBy(user_id) with ordered stage arrays, then a 3-row
    reduction; the oracle keeps the per-stage-join spec form since
    clarity is its job). All counts exact; rates are single
    divisions of bigints.
    """
    ev = spread(load_table(spark, sf_dir, "events")).filter(
        F.col("event_type").isin("signup", "click", "purchase")
    )
    agg = ev.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "signup", F.col("ts"))
        ).alias("t_signup"),
        F.array_sort(
            F.collect_list(
                F.when(F.col("event_type") == "click", F.col("ts"))
            )
        ).alias("clicks"),
        F.array_sort(
            F.collect_list(
                F.when(F.col("event_type") == "purchase", F.col("ts"))
            )
        ).alias("purchases"),
    )
    staged = (
        agg.filter(F.col("t_signup").isNotNull())
        .withColumn(
            "t_click",
            F.expr("element_at(filter(clicks, c -> c > t_signup), 1)"),
        )
        .withColumn(
            "t_purchase",
            F.expr(
                "element_at(filter(purchases, p -> p > t_click), 1)"
            ),
        )
    )
    m = staged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n1"),
        F.count("t_click").cast("bigint").alias("n2"),
        F.count("t_purchase").cast("bigint").alias("n3"),
    )
    rows = F.array(
        F.struct(
            F.lit("signup").alias("stage"),
            F.col("n1").alias("n_users"),
            F.lit(1.0).alias("conv_from_prev"),
            F.lit(1.0).alias("conv_from_top"),
            F.lit(1).alias("ord"),
        ),
        F.struct(
            F.lit("click").alias("stage"),
            F.col("n2").alias("n_users"),
            F.try_divide(F.col("n2").cast("double"), F.col("n1")).alias(
                "conv_from_prev"
            ),
            F.try_divide(F.col("n2").cast("double"), F.col("n1")).alias(
                "conv_from_top"
            ),
            F.lit(2).alias("ord"),
        ),
        F.struct(
            F.lit("purchase").alias("stage"),
            F.col("n3").alias("n_users"),
            F.try_divide(F.col("n3").cast("double"), F.col("n2")).alias(
                "conv_from_prev"
            ),
            F.try_divide(F.col("n3").cast("double"), F.col("n1")).alias(
                "conv_from_top"
            ),
            F.lit(3).alias("ord"),
        ),
    )
    return (
        m.select(F.explode(rows).alias("r"))
        .select("r.stage", "r.n_users", "r.conv_from_prev",
                "r.conv_from_top", "r.ord")
        .orderBy("ord")
        .drop("ord")
    )


@_q(
    "q_survival_km",
    oracle="""
    WITH s AS (
      SELECT user_id, min(ts) AS t0
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ), p AS (
      SELECT s.user_id, min(e.ts) AS t1
      FROM s JOIN events e
        ON e.user_id = s.user_id AND e.event_type = 'purchase'
       AND e.ts > s.t0
      GROUP BY s.user_id
    ), horizon AS (
      SELECT max(ts) AS t_end FROM events
    ), durs AS (
      SELECT s.user_id,
             CASE WHEN p.t1 IS NOT NULL
                  THEN date_diff('day', s.t0, p.t1)
                  ELSE date_diff('day', s.t0, h.t_end) END AS d,
             (p.t1 IS NOT NULL) AS event
      FROM s LEFT JOIN p ON s.user_id = p.user_id CROSS JOIN horizon h
    ), times AS (
      SELECT d AS t,
             CAST(sum(CASE WHEN event THEN 1 ELSE 0 END) AS BIGINT)
               AS d_events
      FROM durs GROUP BY d HAVING sum(CASE WHEN event THEN 1 ELSE 0 END) > 0
    ), risk AS (
      SELECT t, d_events,
             (SELECT CAST(count(*) AS BIGINT) FROM durs WHERE d >= t)
               AS n_risk
      FROM times
    )
    SELECT t AS day, n_risk, d_events,
           CASE WHEN max(CASE WHEN d_events = n_risk THEN 1 ELSE 0 END)
                  OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) = 1
                THEN 0.0
                ELSE round(exp(CAST(sum(CAST(round(
                  ln(CASE WHEN d_events < n_risk
                     THEN 1.0 - CAST(d_events AS DOUBLE) / n_risk
                     ELSE 1.0 END), 6)
                  AS DECIMAL(27,6)))
                  OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS DOUBLE)), 6) END AS survival
    FROM risk
    ORDER BY day
    """,
)
def q_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve for signup→first-purchase: users
    who never convert are right-censored at the observation horizon —
    the estimator that uses censored users correctly (they stay in
    the risk set until their censor time) instead of dropping them
    (which biases conversion fast) or counting them as non-converters
    forever (which biases it slow). The time-to-event companion of
    q_retention_cohort / q_time_to_convert.

    S(t) = Π(1 − d/n) over event days: each factor's ln rounds at 6
    decimals, the running product is a decimal cumsum of those logs
    re-exponentiated and rounded — order-safe and bitwise across
    engines (the q_tfidf discipline applied to a cumulative product).
    Risk-set counts come from suffix arithmetic over the per-day
    duration rollup (n_risk(t) = total − users-before-t), NOT from a
    theta join of users against event days — the O(|users|·|days|)
    nested-loop the naive formulation implies. The remaining windows
    run over |distinct duration days| (calendar-bounded), never rows.
    """
    ev = load_table(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    p = (
        s.join(
            ev.filter(F.col("event_type") == "purchase").select(
                "user_id", F.col("ts").alias("tp")
            ),
            "user_id",
        )
        .filter(F.col("tp") > F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("tp").alias("t1"))
    )
    horizon = ev.agg(F.max("ts").alias("t_end"))
    durs = (
        s.join(p, "user_id", "left")
        .crossJoin(F.broadcast(horizon))
        .select(
            F.when(
                F.col("t1").isNotNull(),
                F.datediff(F.col("t1"), F.col("t0")),
            )
            .otherwise(F.datediff(F.col("t_end"), F.col("t0")))
            .alias("d"),
            F.col("t1").isNotNull().alias("event"),
        )
    )
    dur_counts = durs.groupBy(F.col("d").alias("t")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_at"),
        F.sum(F.when(F.col("event"), 1).otherwise(0))
        .cast("bigint")
        .alias("d_events"),
    )
    w_at = W.orderBy("t").rowsBetween(W.unboundedPreceding, W.currentRow)
    tot = dur_counts.agg(F.sum("n_at").alias("_total"))
    risk = (
        dur_counts.withColumn("_cum_at", F.sum("n_at").over(w_at))
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "n_risk",
            (F.col("_total") - F.col("_cum_at") + F.col("n_at")).cast(
                "bigint"
            ),
        )
        .filter(F.col("d_events") > 0)
        .select("t", "d_events", "n_risk")
    )
    wcum = W.orderBy("t").rowsBetween(W.unboundedPreceding, W.currentRow)
    # the day the last at-risk user converts contributes a zero factor
    # (ln undefined): carry a died-out flag instead and pin S(t)=0 from
    # there on; the log-sum runs over the d < n factors only
    safe_arg = F.when(
        F.col("d_events") < F.col("n_risk"),
        1.0 - F.col("d_events").cast("double") / F.col("n_risk"),
    ).otherwise(F.lit(1.0))
    ln_term = F.round(F.log(safe_arg), 6).cast("decimal(27,6)")
    died = F.max(
        F.when(F.col("d_events") == F.col("n_risk"), 1).otherwise(0)
    ).over(wcum)
    cum = F.sum(ln_term).over(wcum).cast("double")
    survival = F.when(died == 1, F.lit(0.0)).otherwise(
        F.round(F.exp(cum), 6)
    )
    return (
        risk.select(
            F.col("t").alias("day"),
            "n_risk",
            "d_events",
            survival.alias("survival"),
        )
        .orderBy("day")
    )


@_q(
    "q_peak_concurrency",
    oracle="""
    WITH sessions AS (
      SELECT user_id, min(ts) AS t_start, max(ts) AS t_end
      FROM events
      GROUP BY user_id, CAST(ts AS DATE)
    ), edges AS (
      SELECT t_start AS t, 1 AS delta FROM sessions
      UNION ALL
      SELECT t_end, -1 FROM sessions
    ), swept AS (
      SELECT t,
             CAST(sum(sum(delta)) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS concurrent
      FROM edges GROUP BY t
    )
    SELECT CAST(t AS DATE) AS day,
           CAST(max(concurrent) AS BIGINT) AS peak_concurrent
    FROM swept
    GROUP BY CAST(t AS DATE)
    ORDER BY day
    """,
)
def q_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day via the classic +1/−1 sweep:
    each per-user daily session contributes a start edge and an end
    edge; the running edge-sum at any instant IS the concurrency, and
    the per-day max is the capacity-planning number (connection pools,
    license seats, autoscaling floors). No interval self-join — the
    O(n²) overlap formulation becomes one sort of 2·|sessions| edges
    (ties resolve +1 before −1 within an instant by summing per
    timestamp first, counting touching sessions as concurrent —
    stated, so both engines agree).

    All integers end-to-end. The ordered sweep over the distinct edge
    timestamps is the two-phase range-partitioned cumsum
    (``_scale.two_phase_window``) — edge counts scale with sessions, so
    this is a row-level total order, not a bounded aggregate.
    """
    ev = load_table(spark, sf_dir, "events")
    sessions = ev.groupBy(
        "user_id", F.col("ts").cast("date").alias("d")
    ).agg(F.min("ts").alias("t_start"), F.max("ts").alias("t_end"))
    edges = sessions.select(
        F.col("t_start").alias("t"), F.lit(1).alias("delta")
    ).unionAll(
        sessions.select(F.col("t_end").alias("t"), F.lit(-1).alias("delta"))
    )
    per_t = edges.groupBy("t").agg(F.sum("delta").alias("net"))
    running = two_phase_window(
        per_t, [F.col("t")], cumsum={"concurrent": "net"}
    ).select("t", F.col("concurrent").cast("bigint").alias("concurrent"))
    return (
        running.groupBy(F.col("t").cast("date").alias("day"))
        .agg(F.max("concurrent").cast("bigint").alias("peak_concurrent"))
        .orderBy("day")
    )


@_q(
    "q_stickiness",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id,
             CAST(time_bucket(INTERVAL 1 DAY, ts) AS DATE) AS day
      FROM events
    ),
    bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM ud),
    spine AS (
      SELECT CAST(unnest(generate_series(
        (SELECT lo FROM bounds), (SELECT hi FROM bounds),
        INTERVAL 1 DAY)) AS DATE) AS day
    ),
    dau AS (
      SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY day
    ),
    mau AS (
      SELECT s.day,
             CAST(count(DISTINCT u.user_id) AS BIGINT) AS mau
      FROM spine s
      JOIN ud u ON u.day <= s.day AND u.day > s.day - 30
      GROUP BY s.day
    )
    SELECT s.day, COALESCE(d.dau, 0) AS dau, m.mau,
           CAST(COALESCE(d.dau, 0) AS DOUBLE) / m.mau AS stickiness
    FROM spine s
    JOIN mau m ON m.day = s.day
    LEFT JOIN dau d ON d.day = s.day
    ORDER BY s.day
    """,
)
def q_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per day — the engagement ratio product teams
    track daily (≥ 0.2 is the folk benchmark for habit-forming). MAU
    at day d = exact distinct users over the trailing 30 days.

    Scale: raw events first collapse to the DEDUPED (user, day)
    membership table — the only thing the trailing window ever
    touches; each membership day then EXPLODES into the ≤30 spine
    days it covers (``sequence(day, day+29)``) so the trailing
    distinct is a plain equi-join + keyed aggregate on the day key.
    The earlier pure-range-predicate formulation planned as a
    broadcast nested-loop join — O(|user-days| × |days|) comparisons,
    quadratic in calendar length; the explode form is O(30·|user-days|)
    work and shuffles on an equi-key. At 100 TB the raw events never
    join anything — the dedup is the one big shuffle, matching how
    warehouse DAU/MAU pipelines are actually built. The ratio is a
    single integer division per day."""
    # Bounded-eval width (catalog.bounded_eval_scope, round 9): the
    # (user, day) dedup, its persist, the 30-day explode join and
    # the distinct-count aggregate paid corpus width — 6-7 s vanilla
    # sf0.01 for a 30-row result, ~1.1 s at input-derived width
    # (ABA probe; BASELINE.md "Round 9 - width scope, third wave").
    # WHOLE body under the scope, eager localCheckpoint inside.
    with bounded_eval_scope(spark, footer_rows(sf_dir, "events")), pin_scope():
        ev = load_table(spark, sf_dir, "events")
        ud = ev.select(
            "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("day")
        ).distinct()
        ud = pin(ud)
        bounds = ud.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
        spine = bounds.select(
            F.explode(
                F.expr("sequence(lo, hi, interval 1 day)")
            ).alias("day")
        )
        dau = ud.groupBy("day").agg(
            F.count(F.lit(1)).cast("bigint").alias("dau")
        )
        covered = ud.select(
            "user_id",
            F.explode(
                F.expr("sequence(day, date_add(day, 29), interval 1 day)")
            ).alias("day"),
        )
        mau = (
            covered.join(spine, "day")
            .groupBy("day")
            .agg(F.countDistinct("user_id").cast("bigint").alias("mau"))
        )
        return (
            mau.join(dau, "day", "left")
            .select(
                "day",
                F.coalesce("dau", F.lit(0)).cast("bigint").alias("dau"),
                "mau",
                (
                    F.coalesce("dau", F.lit(0)).cast("double") / F.col("mau")
                ).alias("stickiness"),
            )
            .orderBy("day")
        ).localCheckpoint(eager=True)


@_q(
    "q_funnel_windowed",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id, event_type,
             min(CASE WHEN event_type = 'view' THEN ts END)
               OVER w_after AS nxt_view,
             min(CASE WHEN event_type = 'purchase' THEN ts END)
               OVER w_after AS nxt_purchase
      FROM events
      WINDOW w_after AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 1 FOLLOWING
                         AND UNBOUNDED FOLLOWING)
    ),
    first_signup AS (
      SELECT user_id, ts, nxt_view, nxt_purchase FROM (
        SELECT user_id, ts, nxt_view, nxt_purchase,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM marked WHERE event_type = 'signup')
      WHERE rn = 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_entered,
           CAST(sum(CASE WHEN nxt_view IS NOT NULL
                         AND nxt_view <= ts + INTERVAL 3 DAYS
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_view_3d,
           CAST(sum(CASE WHEN nxt_purchase IS NOT NULL
                         AND nxt_purchase <= ts + INTERVAL 7 DAYS
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS n_purchase_7d,
           CAST(sum(CASE WHEN nxt_view IS NOT NULL
                         AND nxt_view <= ts + INTERVAL 3 DAYS
                         THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
             AS cvr_view_3d,
           CAST(sum(CASE WHEN nxt_purchase IS NOT NULL
                         AND nxt_purchase <= ts + INTERVAL 7 DAYS
                         THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
             AS cvr_purchase_7d
    FROM first_signup
    """,
)
def q_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-boxed conversion funnel: from each user's FIRST signup,
    did a view follow within 3 days, and a purchase within 7? The
    deadline makes this the funnel teams actually report (an
    unbounded funnel converges to 100% given enough history — cf.
    q_funnel, which measures ordered reachability).

    Single-pass shape (the q_cep_pattern discipline): one shuffle on
    user_id serves the forward-looking min windows AND the
    first-signup rank — the raw table is never self-joined. Counts
    are integers; the two rates are single divisions. Interval
    comparisons use full microsecond timestamps identically in both
    engines."""
    ev = spread(load_table(spark, sf_dir, "events"))
    w_after = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, W.unboundedFollowing)
    )
    marked = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.min(F.when(F.col("event_type") == "view", F.col("ts")))
        .over(w_after)
        .alias("nxt_view"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
        .over(w_after)
        .alias("nxt_purchase"),
    )
    w_rank = W.partitionBy("user_id").orderBy("ts", "event_id")
    first_signup = (
        marked.filter(F.col("event_type") == "signup")
        .withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") == 1)
    )
    view_ok = F.col("nxt_view").isNotNull() & (
        F.col("nxt_view") <= F.col("ts") + F.expr("INTERVAL 3 DAYS")
    )
    buy_ok = F.col("nxt_purchase").isNotNull() & (
        F.col("nxt_purchase") <= F.col("ts") + F.expr("INTERVAL 7 DAYS")
    )
    return first_signup.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_entered"),
        F.sum(view_ok.cast("int")).cast("bigint").alias("n_view_3d"),
        F.sum(buy_ok.cast("int")).cast("bigint").alias("n_purchase_7d"),
        (
            F.sum(view_ok.cast("int")).cast("double") / F.count(F.lit(1))
        ).alias("cvr_view_3d"),
        (
            F.sum(buy_ok.cast("int")).cast("double") / F.count(F.lit(1))
        ).alias("cvr_purchase_7d"),
    )


@_q(
    "q_slo_burn",
    oracle="""
    WITH daily AS (
      SELECT CAST(time_bucket(INTERVAL 1 DAY, ts) AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_err
      FROM events GROUP BY 1
    )
    SELECT day, n, n_err,
           CAST(n_err AS DOUBLE) / n AS error_rate,
           CAST(n_err AS DOUBLE) / n / 0.25 AS burn_rate,
           CAST(CASE WHEN n_err * 100 > n * 25 THEN 1 ELSE 0 END
                AS INTEGER) AS burning
    FROM daily
    ORDER BY day
    """,
)
def q_slo_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLO error-budget burn per day: observed error rate over a 25%
    error-budget SLO (the fixture's event mix runs ~20% errors, so
    the budget is set where the alert threshold is meaningful), burn
    rate = rate/budget (>1 = eating tomorrow's budget today), and the
    page flag as the integer cross-product n_err·100 > n·25 — the SRE
    counterpart to q_anomaly_seasonal's statistical alarms, where the
    threshold is a CONTRACT, not a distribution.

    One conditional daily aggregate — integer counts, two divisions
    per bounded output row; scan-dominated at any scale."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("bigint")
        .alias("n_err"),
    )
    rate = F.col("n_err").cast("double") / F.col("n")
    return daily.select(
        "day",
        "n",
        "n_err",
        rate.alias("error_rate"),
        (rate / F.lit(0.25)).alias("burn_rate"),
        F.when(F.col("n_err") * 100 > F.col("n") * 25, 1)
        .otherwise(0)
        .cast("int")
        .alias("burning"),
    ).orderBy("day")


@_q(
    "q_followed_by_matrix",
    oracle="""
    WITH nxt AS (
      SELECT user_id, ts, event_type AS a,
             min(CASE WHEN event_type = 'click' THEN ts END)
               OVER w AS t_click,
             min(CASE WHEN event_type = 'error' THEN ts END)
               OVER w AS t_error,
             min(CASE WHEN event_type = 'purchase' THEN ts END)
               OVER w AS t_purchase,
             min(CASE WHEN event_type = 'signup' THEN ts END)
               OVER w AS t_signup,
             min(CASE WHEN event_type = 'view' THEN ts END)
               OVER w AS t_view
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
    ),
    pairs AS (
      SELECT a, b.b,
             CASE b.b
               WHEN 'click' THEN t_click
               WHEN 'error' THEN t_error
               WHEN 'purchase' THEN t_purchase
               WHEN 'signup' THEN t_signup
               WHEN 'view' THEN t_view END AS t_b,
             ts
      FROM nxt, LATERAL (SELECT unnest(['click', 'error', 'purchase',
                                        'signup', 'view']) AS b) b
    )
    SELECT a, b,
           CAST(count(*) AS BIGINT) AS n_a,
           CAST(sum(CASE WHEN t_b IS NOT NULL
                         AND t_b <= ts + INTERVAL 15 MINUTES
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_followed,
           CAST(sum(CASE WHEN t_b IS NOT NULL
                         AND t_b <= ts + INTERVAL 15 MINUTES
                         THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
             AS p_followed
    FROM pairs
    GROUP BY a, b
    ORDER BY a, b
    """,
)
def q_followed_by_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """"Eventually-followed-by" matrix: P(event of type B occurs
    within 15 minutes after an event of type A, same user, ANY events
    between) for all 25 type pairs — the relaxed-adjacency companion
    to q_transition_matrix (which only counts immediate successors)
    and the exploratory map that says which q_cep_pattern /
    q_funnel_windowed definitions are worth writing.

    Single-pass shape: one shuffle on user_id computes the next-
    occurrence time of EVERY type in one forward-window sweep (5
    conditional mins side by side); the 5× type expansion happens on
    the result rows, and the matrix is a 25-cell integer aggregate.
    No self-join of events against events — the trap a naive
    followed-by query falls into at scale."""
    ev = spread(load_table(spark, sf_dir, "events"))
    types = ["click", "error", "purchase", "signup", "view"]
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, W.unboundedFollowing)
    )
    nxt = ev.select(
        "ts",
        F.col("event_type").alias("a"),
        *[
            F.min(F.when(F.col("event_type") == t, F.col("ts")))
            .over(w)
            .alias(f"t_{t}")
            for t in types
        ],
    )
    pairs = nxt.select(
        "a",
        "ts",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("b"), F.col(f"t_{t}").alias("t_b")
                    )
                    for t in types
                ]
            )
        ).alias("x"),
    ).select("a", "ts", F.col("x.b").alias("b"), F.col("x.t_b").alias("t_b"))
    hit = F.col("t_b").isNotNull() & (
        F.col("t_b") <= F.col("ts") + F.expr("INTERVAL 15 MINUTES")
    )
    return (
        pairs.groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_a"),
            F.sum(hit.cast("int")).cast("bigint").alias("n_followed"),
            (
                F.sum(hit.cast("int")).cast("double") / F.count(F.lit(1))
            ).alias("p_followed"),
        )
        .orderBy("a", "b")
    )


@_q(
    "q_purchase_intervals",
    oracle="""
    WITH p AS (
      SELECT user_id, ts, event_id,
             lag(ts) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS prev_ts
      FROM events WHERE event_type = 'purchase'
    ),
    gaps AS (
      SELECT user_id,
             CAST(floor(epoch(ts)) AS BIGINT)
               - CAST(floor(epoch(prev_ts)) AS BIGINT) AS gap_s
      FROM p WHERE prev_ts IS NOT NULL
    ),
    ranked AS (
      SELECT gap_s,
             row_number() OVER (ORDER BY gap_s, user_id) AS rn,
             count(*) OVER () AS n
      FROM gaps
    )
    SELECT CAST(max(n) AS BIGINT) AS n_intervals,
           CAST(min(gap_s) AS BIGINT) AS min_s,
           CAST(min(CASE WHEN rn * 2 >= n + 1 THEN gap_s END)
                AS BIGINT) AS median_s,
           CAST(min(CASE WHEN rn * 10 >= n * 9 + 10 THEN gap_s END)
                AS BIGINT) AS p90_s,
           CAST(max(gap_s) AS BIGINT) AS max_s
    FROM ranked
    """,
)
def q_purchase_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-purchase interval distribution (min/median/p90/max
    seconds between a user's consecutive purchases) — the repeat-
    behavior cadence that calibrates churn windows (q_churn_labels'
    10-day silence rule should sit well beyond this median) and
    replenishment campaigns.

    One shuffle on user_id for the lag pairing; gaps are exact
    integer seconds (floored epochs, the q_session_metrics
    discipline); the global percentile rank runs over the
    purchase-pair set via integer nearest-rank cross-multiplication.
    The global window is the two-phase candidate at extreme scale —
    here the pair set is already purchase-only (a small fraction of
    events), the same reduction-first posture as the daily-series
    family."""
    ev = spread(load_table(spark, sf_dir, "events"))
    wp = W.partitionBy("user_id").orderBy("ts", "event_id")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lag("ts").over(wp).alias("prev_ts"),
    )
    gaps = p.filter(F.col("prev_ts").isNotNull()).select(
        "user_id",
        (
            F.col("ts").cast("long") - F.col("prev_ts").cast("long")
        ).alias("gap_s"),
    )
    # round 12: total folds out of the same k-row per-partition
    # aggregate as the offsets (no with_totals re-pass; exact)
    ranked = two_phase_window(
        gaps,
        [F.col("gap_s"), F.col("user_id")],
        row_number="rn",
        totals={"n": None},
    )
    return ranked.agg(
        F.max("n").cast("bigint").alias("n_intervals"),
        F.min("gap_s").cast("bigint").alias("min_s"),
        F.min(F.when(F.col("rn") * 2 >= F.col("n") + 1, F.col("gap_s")))
        .cast("bigint")
        .alias("median_s"),
        F.min(
            F.when(F.col("rn") * 10 >= F.col("n") * 9 + 10, F.col("gap_s"))
        )
        .cast("bigint")
        .alias("p90_s"),
        F.max("gap_s").cast("bigint").alias("max_s"),
    )


@_q(
    "q_new_vs_returning",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id,
             CAST(time_bucket(INTERVAL 1 DAY, ts) AS DATE) AS day
      FROM events
    ),
    first_day AS (
      SELECT user_id, min(day) AS f FROM ud GROUP BY user_id
    )
    SELECT u.day,
           CAST(sum(CASE WHEN u.day = f.f THEN 1 ELSE 0 END)
                AS BIGINT) AS new_users,
           CAST(sum(CASE WHEN u.day > f.f THEN 1 ELSE 0 END)
                AS BIGINT) AS returning_users,
           CAST(sum(CASE WHEN u.day > f.f THEN 1 ELSE 0 END)
                AS DOUBLE) / count(*) AS returning_share
    FROM ud u JOIN first_day f ON f.user_id = u.user_id
    GROUP BY u.day
    ORDER BY u.day
    """,
)
def q_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new vs returning active users — the growth-accounting
    split (is today's DAU fresh acquisition or retained habit?) that
    gives q_stickiness its composition and q_retention_cohort its
    daily pulse.

    The deduped (user, day) membership table is the only input (the
    q_stickiness discipline); first-seen days are one aggregate of
    it, joined back on the user key. Counts integer, one share
    division per day."""
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id",
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
    ).distinct()
    ud = pin(ud)
    first_day = ud.groupBy("user_id").agg(F.min("day").alias("f"))
    j = ud.join(first_day, "user_id")
    return (
        j.groupBy("day")
        .agg(
            F.sum(F.when(F.col("day") == F.col("f"), 1).otherwise(0))
            .cast("bigint")
            .alias("new_users"),
            F.sum(F.when(F.col("day") > F.col("f"), 1).otherwise(0))
            .cast("bigint")
            .alias("returning_users"),
            (
                F.sum(F.when(F.col("day") > F.col("f"), 1).otherwise(0))
                .cast("double")
                / F.count(F.lit(1))
            ).alias("returning_share"),
        )
        .orderBy("day")
    )


@_q(
    "q_user_entropy",
    oracle="""
    WITH cells AS (
      SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY user_id, event_type
    ),
    tot AS (
      SELECT user_id, CAST(sum(c) AS BIGINT) AS n
      FROM cells GROUP BY user_id
    )
    SELECT c.user_id,
           max(t.n) AS n_events,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(CAST(round(-(CAST(c.c AS DOUBLE) / t.n)
                               * ln(CAST(c.c AS DOUBLE) / t.n), 6)
                         AS DECIMAL(27,6))) AS DOUBLE)
             AS entropy_nats
    FROM cells c JOIN tot t ON t.user_id = c.user_id
    GROUP BY c.user_id
    ORDER BY c.user_id
    """,
)
def q_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral diversity per user: Shannon entropy of the user's
    event-type mix (0 = single-minded, ln 5 ≈ 1.61 = uniform across
    all five types) — the engagement-breadth feature that
    q_user_features' raw type counts can't express in one number,
    and a known churn predictor (narrowing behavior precedes
    leaving).

    Two keyed aggregates (user×type cells, then per-user totals
    joined back on the user key — co-partitioned, no extra
    exchange); each −p·ln p term rounds at 6 dp into an
    order-independent DECIMAL sum. Output is one row per user,
    join-ready against q_user_features on user_id."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    tot = cells.groupBy("user_id").agg(
        F.sum("c").cast("bigint").alias("n")
    )
    p = F.col("c").cast("double") / F.col("n")
    term = F.round(-p * F.log(p), 6).cast("decimal(27,6)")
    return (
        cells.join(tot, "user_id")
        .groupBy("user_id")
        .agg(
            F.max("n").alias("n_events"),
            F.count(F.lit(1)).cast("bigint").alias("n_types"),
            F.sum(term).cast("double").alias("entropy_nats"),
        )
        .orderBy("user_id")
    )


@_q(
    "q_growth_accounting",
    oracle="""
    WITH uw AS (
      SELECT DISTINCT user_id,
             CAST(floor(date_diff('day', DATE '2024-01-01',
                            CAST(time_bucket(INTERVAL 1 DAY, ts)
                                 AS DATE)) / 7.0) AS BIGINT) AS week
      FROM events
    ),
    firsts AS (
      SELECT user_id, min(week) AS f FROM uw GROUP BY user_id
    ),
    labelled AS (
      SELECT u.user_id, u.week, f.f,
             CASE WHEN p.user_id IS NOT NULL THEN 1 ELSE 0 END
               AS was_prev
      FROM uw u
      JOIN firsts f ON f.user_id = u.user_id
      LEFT JOIN uw p ON p.user_id = u.user_id
                    AND p.week = u.week - 1
    ),
    churn AS (
      SELECT u.week + 1 AS week, CAST(count(*) AS BIGINT) AS churned
      FROM uw u
      LEFT JOIN uw nx ON nx.user_id = u.user_id
                     AND nx.week = u.week + 1
      WHERE nx.user_id IS NULL
      GROUP BY u.week + 1
    )
    SELECT l.week,
           CAST(count(*) AS BIGINT) AS active,
           CAST(sum(CASE WHEN l.week = l.f THEN 1 ELSE 0 END)
                AS BIGINT) AS new_users,
           CAST(sum(CASE WHEN l.week > l.f AND l.was_prev = 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS retained,
           CAST(sum(CASE WHEN l.week > l.f AND l.was_prev = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS resurrected,
           COALESCE(max(c.churned), 0) AS churned_in
    FROM labelled l LEFT JOIN churn c ON c.week = l.week
    GROUP BY l.week
    ORDER BY l.week
    """,
)
def q_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly growth accounting: every active user is exactly one of
    new (first week), retained (also active last week), or
    resurrected (active before, skipped last week), with the
    week's inbound churn (active last week, gone now) alongside —
    the decomposition (Δactive = new + resurrected − churned) that
    turns a flat DAU line into a diagnosis.

    All joins are equi-joins of the deduped (user, week) membership
    against itself shifted by one week and against first-weeks —
    keyed on user_id, co-partitioned, never a cross join; weeks are
    integer day-offsets with explicit floor division on BOTH sides
    (DuckDB's ``//`` truncates toward zero, so the oracle spells
    ``floor(.../7.0)`` — the forms only coincide for days >= the
    anchor, and the anchor predates the corpus by construction).
    Counts are integers end to end."""
    ev = load_table(spark, sf_dir, "events")
    uw = ev.select(
        "user_id",
        F.floor(
            F.datediff(
                F.date_trunc("day", F.col("ts")).cast("date"),
                F.lit("2024-01-01").cast("date"),
            )
            / 7
        )
        .cast("bigint")
        .alias("week"),
    ).distinct()
    uw = pin(uw)
    firsts = uw.groupBy("user_id").agg(F.min("week").alias("f"))
    prev = uw.select(
        "user_id", (F.col("week") + 1).alias("week"), F.lit(1).alias("wp")
    )
    labelled = (
        uw.join(firsts, "user_id")
        .join(prev, ["user_id", "week"], "left")
        .select(
            "user_id",
            "week",
            "f",
            F.coalesce(F.col("wp"), F.lit(0)).alias("was_prev"),
        )
    )
    nxt = uw.select(
        "user_id", (F.col("week") - 1).alias("week"), F.lit(1).alias("wn")
    )
    churn = (
        uw.join(nxt, ["user_id", "week"], "left")
        .filter(F.col("wn").isNull())
        .groupBy((F.col("week") + 1).alias("week"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("churned"))
    )
    return (
        labelled.groupBy("week")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("active"),
            F.sum(F.when(F.col("week") == F.col("f"), 1).otherwise(0))
            .cast("bigint")
            .alias("new_users"),
            F.sum(
                F.when(
                    (F.col("week") > F.col("f"))
                    & (F.col("was_prev") == 1),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("retained"),
            F.sum(
                F.when(
                    (F.col("week") > F.col("f"))
                    & (F.col("was_prev") == 0),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("resurrected"),
        )
        .join(F.broadcast(churn), "week", "left")
        .select(
            "week",
            "active",
            "new_users",
            "retained",
            "resurrected",
            F.coalesce(F.col("churned"), F.lit(0))
            .cast("bigint")
            .alias("churned_in"),
        )
        .orderBy("week")
    )


@_q(
    "q_at_risk_users",
    oracle="""
    WITH mx AS (SELECT max(ts) AS frontier FROM events),
    win AS (
      SELECT e.user_id,
             CAST(sum(CASE WHEN e.ts > mx.frontier - INTERVAL 7 DAYS
                           THEN 1 ELSE 0 END) AS BIGINT) AS recent,
             CAST(sum(CASE WHEN e.ts <= mx.frontier - INTERVAL 7 DAYS
                            AND e.ts > mx.frontier - INTERVAL 14 DAYS
                           THEN 1 ELSE 0 END) AS BIGINT) AS prior
      FROM events e CROSS JOIN mx
      GROUP BY e.user_id
    )
    SELECT user_id, prior, recent,
           CAST(recent AS DOUBLE) / prior AS activity_ratio
    FROM win
    WHERE prior >= 4 AND recent * 2 < prior
    ORDER BY user_id
    """,
)
def q_at_risk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn early-warning list: users whose last-7-day activity fell
    below half of their prior-7-day activity (with a ≥4-events-prior
    floor so one-off visitors don't flood the list) — the actionable
    intervention queue that q_churn_labels' post-hoc label can only
    confirm after the fact.

    One conditional aggregate per user over the two trailing windows
    (frontier as a 1-row broadcast); the drop test is the integer
    cross-product recent·2 < prior — no float threshold. Scan speed,
    one shuffle on user_id."""
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("frontier"))
    f = F.col("frontier")
    win = (
        ev.crossJoin(F.broadcast(mx))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    F.col("ts") > f - F.expr("INTERVAL 7 DAYS"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("recent"),
            F.sum(
                F.when(
                    (F.col("ts") <= f - F.expr("INTERVAL 7 DAYS"))
                    & (F.col("ts") > f - F.expr("INTERVAL 14 DAYS")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("prior"),
        )
    )
    return (
        win.filter(
            (F.col("prior") >= 4)
            & (F.col("recent") * 2 < F.col("prior"))
        )
        .select(
            "user_id",
            "prior",
            "recent",
            (F.col("recent").cast("double") / F.col("prior")).alias(
                "activity_ratio"
            ),
        )
        .orderBy("user_id")
    )


@_q(
    "q_depth_to_convert",
    oracle="""
    WITH fp AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS fp_ts
      FROM events GROUP BY user_id
    ),
    depth AS (
      SELECT e.user_id,
             CAST(CASE WHEN f.fp_ts IS NOT NULL THEN 1 ELSE 0 END
                  AS BIGINT) AS converted,
             CAST(sum(CASE WHEN f.fp_ts IS NULL
                            OR e.ts < f.fp_ts THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_touches
      FROM events e JOIN fp f ON f.user_id = e.user_id
      GROUP BY e.user_id, f.fp_ts
    ),
    binned AS (
      SELECT least(n_touches // 5, 6) AS bucket, converted
      FROM depth
    )
    SELECT CAST(bucket AS BIGINT) AS touch_bucket,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(converted) AS BIGINT) AS n_converted,
           CAST(sum(converted) AS DOUBLE) / count(*) AS cvr
    FROM binned GROUP BY bucket ORDER BY touch_bucket
    """,
)
def q_depth_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion rate by engagement depth: users bucketed by how many
    events preceded their FIRST purchase (non-converters count their
    whole history), 5-event buckets capped at 30+ — the "how much
    nurturing does a conversion take" curve that prices top-of-funnel
    touches, complementing q_funnel_windowed (does the path finish in
    time) and q_attribution_time_decay (who gets credit).

    Two keyed aggregates: first-purchase timestamps per user, joined
    back on user_id (co-partitioned) for the conditional pre-purchase
    count. Bucketing is integer floor-division; the rate is one
    division of BIGINTs per bounded bucket."""
    ev = load_table(spark, sf_dir, "events")
    fp = ev.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("fp_ts")
    )
    depth = (
        ev.join(fp, "user_id")
        .groupBy("user_id", "fp_ts")
        .agg(
            F.sum(
                F.when(
                    F.col("fp_ts").isNull()
                    | (F.col("ts") < F.col("fp_ts")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_touches")
        )
        .select(
            F.when(F.col("fp_ts").isNotNull(), 1)
            .otherwise(0)
            .cast("bigint")
            .alias("converted"),
            "n_touches",
        )
    )
    binned = depth.select(
        F.least(F.floor(F.col("n_touches") / 5), F.lit(6).cast("bigint"))
        .cast("bigint")
        .alias("touch_bucket"),
        "converted",
    )
    return (
        binned.groupBy("touch_bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum("converted").cast("bigint").alias("n_converted"),
            (
                F.sum("converted").cast("double") / F.count(F.lit(1))
            ).alias("cvr"),
        )
        .orderBy("touch_bucket")
    )


@_q(
    "q_window_count_if",
    oracle="""
    WITH marked AS (
      SELECT user_id, event_id,
             CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_err,
             row_number() OVER w AS rn,
             sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS run_err
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(is_err) AS BIGINT) AS n_errors,
           CAST(min(CASE WHEN run_err = 3 AND is_err = 1 THEN rn END)
                AS BIGINT) AS third_error_at
    FROM marked
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def q_window_count_if(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed conditional counting: per user, the running error count
    over the event sequence, reduced to the "third strike" position —
    at which event index the user's 3rd error occurred (NULL if they
    never got there). The alerting/abuse-throttling shape: a rule that
    fires on the n-th occurrence needs the RUNNING conditional count,
    not the total.

    One user-partitioned window (keyed shuffle, no global order), then
    a per-user aggregate over the same partitioning — co-partitioned,
    single exchange. Integers end to end."""
    ev = spread(load_table(spark, sf_dir, "events"))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    is_err = F.when(F.col("event_type") == "error", 1).otherwise(0)
    marked = ev.select(
        "user_id",
        is_err.alias("is_err"),
        F.row_number().over(w).alias("rn"),
        F.sum(is_err).over(run).alias("run_err"),
    )
    return (
        marked.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("is_err").cast("bigint").alias("n_errors"),
            F.min(
                F.when(
                    (F.col("run_err") == 3) & (F.col("is_err") == 1),
                    F.col("rn"),
                )
            )
            .cast("bigint")
            .alias("third_error_at"),
        )
        .orderBy("user_id")
    )


@_q(
    "q_session_depth_hist",
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
                            AND CURRENT ROW) AS session_id
      FROM ordered
    ),
    depths AS (
      SELECT CAST(count(*) AS BIGINT) AS depth
      FROM sess GROUP BY user_id, session_id
    ),
    hist AS (
      SELECT depth, CAST(count(*) AS BIGINT) AS n_sessions
      FROM depths GROUP BY depth
    )
    SELECT depth, n_sessions,
           CAST(sum(n_sessions) OVER (ORDER BY depth
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS DOUBLE) / sum(n_sessions) OVER () AS cum_share
    FROM hist
    ORDER BY depth
    """,
)
def q_session_depth_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of session depths (events per session) with the
    cumulative share — the engagement-shape curve behind bounce-rate:
    how much of the corpus is 1-2 event drive-bys vs long sessions.

    Same single user-keyed shuffle as q_sessionize; the histogram is a
    keyed aggregate over per-session depths, and the cumulative share
    runs over the BOUNDED depth histogram (a few dozen distinct depths
    — a statically bounded global window, same class as
    q_session_metrics' median)."""
    ev = spread(load_table(spark, sf_dir, "events"))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    brk = (
        F.lag("ts").over(w).isNull()
        | (F.col("ts").cast("long") - F.lag("ts").over(w).cast("long") > 1800)
    ).cast("int")
    run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    depths = (
        ev.withColumn("brk", brk)
        .withColumn("session_id", F.sum("brk").over(run))
        .groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("depth"))
    )
    hist = depths.groupBy("depth").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions")
    )
    wd = W.orderBy("depth").rowsBetween(W.unboundedPreceding, W.currentRow)
    wall = W.orderBy("depth").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    return hist.select(
        "depth",
        "n_sessions",
        (
            F.sum("n_sessions").over(wd).cast("double")
            / F.sum("n_sessions").over(wall)
        ).alias("cum_share"),
    ).orderBy("depth")


@_q(
    "q_order_gap_outliers",
    oracle="""
    WITH gaps AS (
      SELECT CAST(date_diff('day', lag(o_orderdate) OVER w, o_orderdate)
                  AS BIGINT) AS g
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey)
    ),
    gg AS (SELECT g FROM gaps WHERE g IS NOT NULL),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(g) AS BIGINT) AS s1,
             CAST(sum(g * g) AS BIGINT) AS s2,
             CAST(max(g) AS BIGINT) AS max_gap_days
      FROM gg
    )
    SELECT m.n AS n_gaps,
           CAST(m.s1 AS DOUBLE) / m.n AS mean_gap_days,
           sqrt(CAST(m.n * m.s2 - m.s1 * m.s1 AS DOUBLE)) / m.n
             AS sd_gap_days,
           m.max_gap_days,
           (SELECT CAST(count(*) AS BIGINT) FROM gg, m
             WHERE CAST(m.n * g - m.s1 AS DOUBLE)
                   > 3 * sqrt(CAST(m.n * m.s2 - m.s1 * m.s1 AS DOUBLE)))
             AS n_outliers
    FROM m
    """,
)
def q_order_gap_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order inter-arrival anomalies: per-customer gaps between
    consecutive orders (days), then a 3σ fence from EXACT integer
    moments — the dormancy/reactivation monitor (a gap far above the
    corpus norm is a churn-and-return signal; a burst far below is
    fraud-shaped).

    One customer-keyed window builds the gaps; mean/σ come from three
    integer sums (n, Σg, Σg²), so the fence needs no second pass over
    raw data — the outlier count re-reads only the gap column with a
    scalar predicate (n·g − Σg > 3·√(n·Σg² − Σg²) keeps everything
    integer until the one sqrt, bitwise identical in both engines)."""
    o = spread(load_table(spark, sf_dir, "orders"))
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        o.select(
            F.datediff(
                F.col("o_orderdate"), F.lag("o_orderdate").over(w)
            )
            .cast("bigint")
            .alias("g")
        )
        .filter(F.col("g").isNotNull())
    )
    gaps = pin(gaps)
    m = gaps.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("g").cast("bigint").alias("s1"),
        F.sum(F.col("g") * F.col("g")).cast("bigint").alias("s2"),
        F.max("g").cast("bigint").alias("max_gap_days"),
    )
    flagged = gaps.crossJoin(F.broadcast(m)).filter(
        (F.col("n") * F.col("g") - F.col("s1")).cast("double")
        > 3 * F.sqrt((F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")).cast("double"))
    )
    n_out = flagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_outliers")
    )
    return m.crossJoin(F.broadcast(n_out)).select(
        F.col("n").alias("n_gaps"),
        (F.col("s1").cast("double") / F.col("n")).alias("mean_gap_days"),
        (
            F.sqrt(
                (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")).cast(
                    "double"
                )
            )
            / F.col("n")
        ).alias("sd_gap_days"),
        "max_gap_days",
        "n_outliers",
    )


@_q(
    "q_weekday_seasonality_map",
    oracle="""
    SELECT CAST(isodow(ts) AS BIGINT) AS dow,
           CAST(hour(ts) AS BIGINT) AS hod,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(*) AS DOUBLE)
             / (SELECT count(*) FROM events) AS share
    FROM events
    GROUP BY 1, 2
    ORDER BY dow, hod
    """,
)
def q_weekday_seasonality_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The weekly heat map: event volume per (ISO weekday, hour-of-day)
    cell with its share of total traffic — the capacity-planning /
    anomaly-baseline surface (q_anomaly_seasonal's weekday medians are
    fences; this is the full fingerprint they're cut from).

    One keyed aggregate to ≤ 7×24 cells; the total arrives as a 1-row
    broadcast. ISO day numbering is pinned on both sides (Spark
    weekday()+1 = DuckDB isodow: Monday=1) — the classic cross-engine
    dow trap, where Spark's dayofweek() is Sunday=1."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        (F.expr("weekday(ts)") + 1).cast("bigint").alias("dow"),
        F.hour("ts").cast("bigint").alias("hod"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    tot = ev.agg(F.count(F.lit(1)).alias("tot"))
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "dow",
            "hod",
            "n_events",
            (F.col("n_events").cast("double") / F.col("tot")).alias("share"),
        )
        .orderBy("dow", "hod")
    )


@_q(
    "q_first_last_touch_compare",
    oracle="""
    WITH fp AS (
      SELECT user_id, min(ts) AS p_ts,
             arg_min(event_id,
                     lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                       || lpad(CAST(event_id AS VARCHAR), 20, '0'))
               AS p_eid
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    prior AS (
      SELECT e.user_id, e.event_type,
             lpad(CAST(epoch_us(e.ts) AS VARCHAR), 20, '0')
               || lpad(CAST(e.event_id AS VARCHAR), 20, '0') AS ord_key
      FROM events e JOIN fp ON fp.user_id = e.user_id
      WHERE e.ts < fp.p_ts
         OR (e.ts = fp.p_ts AND e.event_id < fp.p_eid)
    ),
    credits AS (
      SELECT user_id,
             arg_min(event_type, ord_key) AS first_touch,
             arg_max(event_type, ord_key) AS last_touch
      FROM prior GROUP BY user_id
    ),
    f AS (
      SELECT first_touch AS channel, CAST(count(*) AS BIGINT) AS c
      FROM credits GROUP BY 1
    ),
    l AS (
      SELECT last_touch AS channel, CAST(count(*) AS BIGINT) AS c
      FROM credits GROUP BY 1
    )
    SELECT COALESCE(f.channel, l.channel) AS channel,
           COALESCE(f.c, 0) AS first_credits,
           COALESCE(l.c, 0) AS last_credits,
           COALESCE(f.c, 0) - COALESCE(l.c, 0) AS delta
    FROM f FULL OUTER JOIN l ON f.channel = l.channel
    ORDER BY channel
    """,
)
def q_first_last_touch_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch vs last-touch attribution, side by side: for each
    user's first purchase, credit the channel (event type) of their
    FIRST prior event and of their LAST prior event, then compare the
    two credit distributions — the disagreement IS the argument for
    multi-touch models (q_attribution_time_decay, q_shapley): channels
    that open journeys win under first-touch, closers win under
    last-touch.

    The first-purchase table is |users| rows (broadcast); prior events
    reduce per user via arg_min/arg_max: Spark orders a NUMERIC
    (epoch_us, event_id) struct; DuckDB's arg_min can't take a struct
    key, so the oracle zero-pads both fields to the FULL int64 width
    (20 chars each) — for non-negative values that string order equals
    the numeric order at any ID width (round-4 ADVICE: the previous
    10-char pad silently truncated event_ids beyond 10 digits)."""
    ev = spread(load_table(spark, sf_dir, "events"))
    p = ev.filter(F.col("event_type") == "purchase")
    fp = p.groupBy("user_id").agg(
        F.min(F.struct("ts", "event_id")).alias("fpk")
    ).select(
        "user_id",
        F.col("fpk.ts").alias("p_ts"),
        F.col("fpk.event_id").alias("p_eid"),
    )
    ord_key = F.struct(
        F.unix_micros(F.col("ts")).alias("us"),
        F.col("event_id").alias("eid"),
    )
    prior = (
        ev.join(F.broadcast(fp), "user_id")
        .filter(
            (F.col("ts") < F.col("p_ts"))
            | ((F.col("ts") == F.col("p_ts")) & (F.col("event_id") < F.col("p_eid")))
        )
        .select("user_id", "event_type", ord_key.alias("ord_key"))
    )
    credits = prior.groupBy("user_id").agg(
        F.min_by("event_type", "ord_key").alias("first_touch"),
        F.max_by("event_type", "ord_key").alias("last_touch"),
    )
    credits = pin(credits)
    f = credits.groupBy(F.col("first_touch").alias("channel")).agg(
        F.count(F.lit(1)).cast("bigint").alias("first_credits")
    )
    l = credits.groupBy(F.col("last_touch").alias("channel")).agg(
        F.count(F.lit(1)).cast("bigint").alias("last_credits")
    )
    return (
        f.join(l, "channel", "full_outer")
        .select(
            "channel",
            F.coalesce("first_credits", F.lit(0)).cast("bigint").alias("first_credits"),
            F.coalesce("last_credits", F.lit(0)).cast("bigint").alias("last_credits"),
            (
                F.coalesce("first_credits", F.lit(0))
                - F.coalesce("last_credits", F.lit(0))
            )
            .cast("bigint")
            .alias("delta"),
        )
        .orderBy("channel")
    )


@_q(
    "q_active_streak_top",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    anchored AS (
      SELECT user_id, day,
             day - CAST(row_number() OVER (PARTITION BY user_id
                        ORDER BY day) AS INTEGER) AS anchor
      FROM ud
    ),
    streaks AS (
      SELECT user_id, min(day) AS start_day,
             CAST(count(*) AS BIGINT) AS streak_days
      FROM anchored GROUP BY user_id, anchor
    )
    SELECT user_id, start_day, streak_days
    FROM streaks
    ORDER BY streak_days DESC, user_id, start_day
    LIMIT 10
    """,
)
def q_active_streak_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 longest consecutive-day activity streaks — the
    gamification/habit metric (q_gaps_islands generalized to a
    leaderboard). The day − row_number() anchor turns each run of
    consecutive days into one constant group key; streaks fall out of
    a keyed aggregate, and the leaderboard is a TakeOrderedAndProject
    top-k (never a global sort) with the full (len desc, user, start)
    total order for a deterministic cut."""
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    w = W.partitionBy("user_id").orderBy("day")
    anchored = ud.withColumn(
        "anchor", F.date_sub(F.col("day"), F.row_number().over(w))
    )
    streaks = anchored.groupBy("user_id", "anchor").agg(
        F.min("day").alias("start_day"),
        F.count(F.lit(1)).cast("bigint").alias("streak_days"),
    )
    return (
        streaks.select("user_id", "start_day", "streak_days")
        .orderBy(F.desc("streak_days"), "user_id", "start_day")
        .limit(10)
    )


@_q(
    "q_cohort_matrix_triangle",
    oracle="""
    WITH uw AS (
      SELECT DISTINCT user_id,
             CAST(floor(date_diff('day', DATE '2024-01-01',
                            CAST(ts AS DATE)) / 7.0) AS BIGINT) AS week
      FROM events
    ),
    cohorts AS (
      SELECT user_id, min(week) AS cohort_week FROM uw GROUP BY user_id
    ),
    matrix AS (
      SELECT c.cohort_week, u.week - c.cohort_week AS age_weeks,
             CAST(count(*) AS BIGINT) AS n_active
      FROM uw u JOIN cohorts c ON c.user_id = u.user_id
      GROUP BY 1, 2
    ),
    sizes AS (
      SELECT cohort_week, n_active AS cohort_size
      FROM matrix WHERE age_weeks = 0
    )
    SELECT m.cohort_week, m.age_weeks, m.n_active, s.cohort_size,
           CAST(m.n_active AS DOUBLE) / s.cohort_size AS retention
    FROM matrix m JOIN sizes s ON s.cohort_week = m.cohort_week
    ORDER BY m.cohort_week, m.age_weeks
    """,
)
def q_cohort_matrix_triangle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The weekly retention triangle: users grouped by first-active
    week (cohort), each cohort's active count at every age — the
    upper-triangular matrix every retention dashboard renders, with
    retention normalized to the cohort's week-0 size. Complements
    q_retention_cohort (day-grain, one cohort dimension) with the
    full week×age grid.

    All equi-joins on user_id / cohort_week over the DEDUPED (user,
    week) membership — the raw events reduce once; the matrix is
    |cohorts|×|ages| tiny. Week indexing uses explicit floor division
    (the q_growth_accounting discipline)."""
    ev = load_table(spark, sf_dir, "events")
    uw = ev.select(
        "user_id",
        F.floor(
            F.datediff(
                F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
            )
            / 7
        )
        .cast("bigint")
        .alias("week"),
    ).distinct()
    uw = pin(uw)
    cohorts = uw.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    matrix = (
        uw.join(cohorts, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("age_weeks"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_active"))
    )
    sizes = matrix.filter(F.col("age_weeks") == 0).select(
        "cohort_week", F.col("n_active").alias("cohort_size")
    )
    return (
        matrix.join(F.broadcast(sizes), "cohort_week")
        .select(
            "cohort_week",
            "age_weeks",
            "n_active",
            "cohort_size",
            (F.col("n_active").cast("double") / F.col("cohort_size")).alias(
                "retention"
            ),
        )
        .orderBy("cohort_week", "age_weeks")
    )


@_q(
    "q_session_handoff",
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
    spans AS (
      SELECT user_id, session_id,
             min(ts) AS t_start, max(ts) AS t_end
      FROM sess GROUP BY user_id, session_id
    ),
    gaps AS (
      SELECT CAST(date_diff('second', lag(t_end) OVER
                    (PARTITION BY user_id ORDER BY session_id), t_start)
                  AS BIGINT) AS gap_s
      FROM spans
    )
    SELECT CAST(length(bin(greatest(gap_s // 60, 1))) AS BIGINT)
             AS gap_min_log2_bin,
           CAST(count(*) AS BIGINT) AS n_returns,
           CAST(min(gap_s) AS BIGINT) AS min_gap_s,
           CAST(max(gap_s) AS BIGINT) AS max_gap_s
    FROM gaps WHERE gap_s IS NOT NULL
    GROUP BY 1
    ORDER BY gap_min_log2_bin
    """,
)
def q_session_handoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return-time distribution: the gap between one session's end and
    the user's next session's start, binned into log2 minute buckets —
    the habit-loop curve (a spike at ~24 h means a daily ritual; mass
    in the minutes bins means the 30-min session cut is too tight).
    Extends q_sessionize/q_session_metrics from WITHIN-session to
    BETWEEN-session structure.

    The one user-keyed shuffle serves sessionization, the span rollup,
    and the handoff lag; the histogram is integer log2 via
    binary-string length (the q_value_histogram_text discipline) over
    minutes clamped to ≥1."""
    ev = spread(load_table(spark, sf_dir, "events"))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    brk = (
        F.lag("ts").over(w).isNull()
        | (F.col("ts").cast("long") - F.lag("ts").over(w).cast("long") > 1800)
    ).cast("int")
    run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    spans = (
        ev.withColumn("brk", brk)
        .withColumn("session_id", F.sum("brk").over(run))
        .groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("t_start"), F.max("ts").alias("t_end"))
    )
    ws = W.partitionBy("user_id").orderBy("session_id")
    gaps = spans.select(
        (
            F.col("t_start").cast("long")
            - F.lag(F.col("t_end").cast("long")).over(ws)
        ).alias("gap_s")
    ).filter(F.col("gap_s").isNotNull())
    binned = gaps.select(
        "gap_s",
        F.length(
            F.expr("bin(greatest(gap_s div 60, 1))")
        )
        .cast("bigint")
        .alias("gap_min_log2_bin"),
    )
    return (
        binned.groupBy("gap_min_log2_bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_returns"),
            F.min("gap_s").cast("bigint").alias("min_gap_s"),
            F.max("gap_s").cast("bigint").alias("max_gap_s"),
        )
        .orderBy("gap_min_log2_bin")
    )


@_q(
    "q_market_share_shift",
    oracle="""
    WITH rev AS (
      SELECT n.n_name AS nation,
             CAST(year(o.o_orderdate) AS BIGINT) AS yr,
             CAST(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100
                           AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      GROUP BY 1, 2
    ),
    tot AS (
      SELECT yr, CAST(sum(cents) AS BIGINT) AS yr_cents
      FROM rev GROUP BY yr
    ),
    shares AS (
      SELECT r.nation, r.yr,
             CAST(r.cents AS DOUBLE) / t.yr_cents AS share
      FROM rev r JOIN tot t ON t.yr = r.yr
    )
    SELECT nation, yr, share,
           share - lag(share) OVER (PARTITION BY nation ORDER BY yr)
             AS share_delta
    FROM shares
    ORDER BY nation, yr
    """,
)
def q_market_share_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier-nation revenue share per year with the year-over-year
    share delta — the competitive-dynamics view (TPC-H Q8's market
    share question generalized to every nation at once): who is
    gaining and who is bleeding, in share points.

    The star join broadcasts supplier/nation into the lineitem scan;
    revenue reduces to |nations|×|years| cells in exact cents; yearly
    totals come back as a broadcast; share and its lag run over the
    tiny rollup. One big shuffle total."""
    l = spread(load_table(spark, sf_dir, "lineitem"))
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    cents = (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast(
        "bigint"
    )
    rev = (
        l.join(o.select("o_orderkey", "o_orderdate"),
               l.l_orderkey == F.col("o_orderkey"))
        .join(F.broadcast(s.select("s_suppkey", "s_nationkey")),
              l.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(n.select("n_nationkey", "n_name")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("yr"),
        )
        .agg(F.sum(cents).cast("bigint").alias("cents"))
    )
    rev = pin(rev)
    tot = rev.groupBy("yr").agg(F.sum("cents").cast("bigint").alias("yr_cents"))
    shares = rev.join(F.broadcast(tot), "yr").select(
        "nation",
        "yr",
        (F.col("cents").cast("double") / F.col("yr_cents")).alias("share"),
    )
    wn = W.partitionBy("nation").orderBy("yr")
    return shares.select(
        "nation",
        "yr",
        "share",
        (F.col("share") - F.lag("share").over(wn)).alias("share_delta"),
    ).orderBy("nation", "yr")


@_q(
    "q_funnel_cohort",
    oracle="""
    WITH s AS (
      SELECT user_id, min(ts) AS t_signup
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    p AS (
      SELECT s.user_id, s.t_signup, min(e.ts) AS t_purchase
      FROM s JOIN events e
        ON e.user_id = s.user_id AND e.event_type = 'purchase'
       AND e.ts > s.t_signup
      GROUP BY s.user_id, s.t_signup
    ),
    cohorts AS (
      SELECT s.user_id,
             CAST(floor(date_diff('day', DATE '2024-01-01',
                        CAST(s.t_signup AS DATE)) / 7.0) AS BIGINT)
               AS cohort_week,
             CASE WHEN p.user_id IS NOT NULL THEN 1 ELSE 0 END AS converted
      FROM s LEFT JOIN p ON p.user_id = s.user_id
    )
    SELECT cohort_week,
           CAST(count(*) AS BIGINT) AS n_signups,
           CAST(sum(converted) AS BIGINT) AS n_converted,
           CAST(sum(converted) AS DOUBLE) / count(*) AS conversion
    FROM cohorts
    GROUP BY cohort_week
    ORDER BY cohort_week
    """,
)
def q_funnel_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup→purchase conversion BY SIGNUP COHORT (week): the funnel
    (q_funnel) crossed with cohorting (q_cohort_matrix_triangle) —
    whether conversion is improving for NEWER cohorts is the growth
    question a single corpus-wide rate hides.

    First-signup and first-post-signup-purchase reduce per user (the
    q_funnel shape); cohort weeks use explicit floor division; the
    report is |weeks| rows, each rate one integer division."""
    ev = spread(load_table(spark, sf_dir, "events"))
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_signup"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(s), "user_id")
        .filter(F.col("ts") > F.col("t_signup"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    cohorts = s.join(p, "user_id", "left").select(
        F.floor(
            F.datediff(
                F.col("t_signup").cast("date"),
                F.lit("2024-01-01").cast("date"),
            )
            / 7
        )
        .cast("bigint")
        .alias("cohort_week"),
        F.when(F.col("t_purchase").isNotNull(), 1).otherwise(0).alias(
            "converted"
        ),
    )
    return (
        cohorts.groupBy("cohort_week")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_signups"),
            F.sum("converted").cast("bigint").alias("n_converted"),
            (F.sum("converted").cast("double") / F.count(F.lit(1))).alias(
                "conversion"
            ),
        )
        .orderBy("cohort_week")
    )


@_q(
    "q_error_burst_detection",
    oracle="""
    WITH buckets AS (
      SELECT CAST(ts AS DATE) AS day,
             time_bucket(INTERVAL 5 MINUTES, ts) AS bucket,
             CAST(count(*) AS BIGINT) AS n_errors
      FROM events WHERE event_type = 'error'
      GROUP BY 1, 2
    )
    SELECT day,
           CAST(max(n_errors) AS BIGINT) AS peak_5min_errors,
           CAST(sum(n_errors) AS BIGINT) AS day_errors,
           CAST(count(*) AS BIGINT) AS active_buckets,
           CAST(max(n_errors) AS DOUBLE) / sum(n_errors)
             AS peak_concentration
    FROM buckets
    GROUP BY day
    ORDER BY day
    """,
)
def q_error_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error burstiness per day: the worst 5-minute error bucket vs the
    day's total — peak_concentration near 1 means the day's errors hit
    in ONE burst (deploy/outage shape), near uniform means background
    noise (the incident-review cut of q_burstiness' hourly Fano
    factor, at pager granularity).

    Errors bucket to 5-minute cells (one keyed aggregate — tumbling
    windows in batch are just truncation arithmetic), then reduce per
    day. Integer counts; one division per day."""
    ev = load_table(spark, sf_dir, "events")
    buckets = (
        ev.filter(F.col("event_type") == "error")
        .groupBy(
            F.col("ts").cast("date").alias("day"),
            F.window("ts", "5 minutes").alias("bucket"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_errors"))
    )
    return (
        buckets.groupBy("day")
        .agg(
            F.max("n_errors").cast("bigint").alias("peak_5min_errors"),
            F.sum("n_errors").cast("bigint").alias("day_errors"),
            F.count(F.lit(1)).cast("bigint").alias("active_buckets"),
            (F.max("n_errors").cast("double") / F.sum("n_errors")).alias(
                "peak_concentration"
            ),
        )
        .orderBy("day")
    )


_MKV_TYPES = ["click", "error", "purchase", "signup", "view"]


def _mkv_oracle() -> str:
    ts_ = _MKV_TYPES
    cells = ",\n             ".join(
        f"CAST(sum(CASE WHEN prev = '{a}' AND cur = '{b}' THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS c_{a}_{b}"
        for a in ts_
        for b in ts_
    )
    rowsums = ",\n             ".join(
        f"({' + '.join(f'c_{a}_{b}' for b in ts_)}) AS r_{a}" for a in ts_
    )
    probs = ",\n             ".join(
        f"CAST(c_{a}_{b} AS DOUBLE) / r_{a} AS p_{a}_{b}"
        for a in ts_
        for b in ts_
    )
    # unrolled power iteration: v0 = uniform, 10 steps
    steps = ["i0 AS (SELECT p.*, "
             + ", ".join(f"CAST(0.2 AS DOUBLE) AS v_{t}" for t in ts_)
             + " FROM p)"]
    excl = ", ".join(f"v_{t}" for t in ts_)
    for k in range(1, 11):
        vs = ", ".join(
            f"({' + '.join(f'v_{a} * p_{a}_{b}' for a in ts_)}) AS v_{b}"
            for b in ts_
        )
        # EXCLUDE the previous iterate's v columns — `p.*, v_click AS
        # ...` would leave two v_click columns and later references
        # resolve to the FIRST (the stale one), silently freezing the
        # iteration at v0
        steps.append(
            f"i{k} AS (SELECT p.* EXCLUDE ({excl}), {vs} FROM i{k-1} AS p)"
        )
    finals = " UNION ALL ".join(
        f"SELECT '{t}' AS event_type, v_{t} AS stationary FROM i10"
        for t in ts_
    )
    return f"""
    WITH seq AS (
      SELECT lag(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS prev,
             event_type AS cur
      FROM events
    ),
    pairs AS (SELECT prev, cur FROM seq WHERE prev IS NOT NULL),
    wide AS (
      SELECT {cells}
      FROM pairs
    ),
    sums AS (
      SELECT *,
             {rowsums}
      FROM wide
    ),
    p AS (
      SELECT *,
             {probs}
      FROM sums
    ),
    {", ".join(steps)}
    {finals}
    ORDER BY event_type
    """


@_q("q_markov_stationary", oracle=_mkv_oracle())
def q_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the event-type Markov chain: where a
    user's behavior settles if the observed transition structure keeps
    running — the long-run attention share per event type, which can
    differ sharply from the raw frequency mix when some states are
    "sticky" (q_transition_matrix gives the counts; this gives their
    fixed point). Computed by 10 power-iteration steps from the uniform
    start — plenty for a 5-state ergodic chain.

    Scale split: the corpus-sized work is ONE user-keyed lag window +
    one conditional aggregate to a single 25-cell row; the iteration is
    column arithmetic on that one row (both engines unroll the
    identical 10 steps with term order fixed alphabetically, so every
    double is bitwise)."""
    ev = spread(load_table(spark, sf_dir, "events"))
    ts_ = _MKV_TYPES
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.lag("event_type").over(w).alias("prev"),
            F.col("event_type").alias("cur"),
        )
        .filter(F.col("prev").isNotNull())
    )
    wide = pairs.agg(
        *[
            F.sum(
                F.when(
                    (F.col("prev") == a) & (F.col("cur") == b), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias(f"c_{a}_{b}")
            for a in ts_
            for b in ts_
        ]
    )
    sums = wide.select(
        "*",
        *[
            sum(
                (F.col(f"c_{a}_{b}") for b in ts_[1:]),
                F.col(f"c_{a}_{ts_[0]}"),
            ).alias(f"r_{a}")
            for a in ts_
        ],
    )
    p = sums.select(
        "*",
        *[
            (F.col(f"c_{a}_{b}").cast("double") / F.col(f"r_{a}")).alias(
                f"p_{a}_{b}"
            )
            for a in ts_
            for b in ts_
        ],
    )
    cur = p.select("*", *[F.lit(0.2).cast("double").alias(f"v_{t}") for t in ts_])
    for _ in range(10):
        cur = cur.select(
            *[c for c in cur.columns if not c.startswith("v_")],
            *[
                sum(
                    (
                        F.col(f"v_{a}") * F.col(f"p_{a}_{b}")
                        for a in ts_[1:]
                    ),
                    F.col(f"v_{ts_[0]}") * F.col(f"p_{ts_[0]}_{b}"),
                ).alias(f"_nv_{b}")
                for b in ts_
            ],
        ).select(
            *[c for c in p.columns],
            *[F.col(f"_nv_{b}").alias(f"v_{b}") for b in ts_],
        )
    stacked = cur.selectExpr(
        "stack({n}, {args}) AS (event_type, stationary)".format(
            n=len(ts_),
            args=", ".join(f"'{t}', v_{t}" for t in ts_),
        )
    )
    return stacked.orderBy("event_type")


@_q(
    "q_percentile_trend_weekly",
    oracle="""
    WITH ranked AS (
      SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS week,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents,
             row_number() OVER (
               PARTITION BY CAST(date_trunc('week', o_orderdate) AS DATE)
               ORDER BY CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT), o_orderkey) AS rn,
             count(*) OVER (
               PARTITION BY CAST(date_trunc('week', o_orderdate) AS DATE))
               AS n
      FROM orders
    )
    SELECT week,
           CAST(max(n) AS BIGINT) AS n_orders,
           CAST(min(CASE WHEN rn = (n * 50 + 99) // 100 THEN cents END)
                AS BIGINT) AS p50_cents,
           CAST(min(CASE WHEN rn = (n * 90 + 99) // 100 THEN cents END)
                AS BIGINT) AS p90_cents
    FROM ranked
    GROUP BY week
    ORDER BY week
    """,
)
def q_percentile_trend_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly p50/p90 order-value trend — the distribution-aware revenue
    monitor (a flat mean can hide the p90 whale segment collapsing;
    tracking two exact quantiles per week shows which end of the
    distribution moved). Nearest-rank order statistics in integer
    cents, per ISO week.

    Round 11: weeks are CALENDAR-bounded, not data-bounded — rows per
    week grow linearly with volume, so the per-row rank window
    (hundreds of partitions, fine at fixture scale) eventually sorts
    an unbounded week in one task (4.6x at the 100x leg). The
    quantiles are order statistics, so they now come from
    grouped_value_counts (histogram + two-phase running count; the
    rank hit substitutes the running count for row_number, equality
    becoming >=) — 100x leg ~1.4x. Band extraction stays the integer
    rank-hit aggregate."""
    from keycloak_event_stream_spark.operators._scale import (
        grouped_value_counts,
    )

    o = spread(load_table(spark, sf_dir, "orders"))
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
    base = o.select(
        F.date_trunc("week", "o_orderdate").cast("date").alias("week"),
        cents.alias("cents"),
    )
    h = grouped_value_counts(base, ["week"], "cents")

    def hit(p):
        t = F.col("n") * p + 99
        return F.col("cum") * 100 >= t - (t % 100)

    return (
        h.groupBy("week")
        .agg(
            F.max("n").cast("bigint").alias("n_orders"),
            F.min(F.when(hit(50), F.col("cents")))
            .cast("bigint")
            .alias("p50_cents"),
            F.min(F.when(hit(90), F.col("cents")))
            .cast("bigint")
            .alias("p90_cents"),
        )
        .orderBy("week")
    )


@_q(
    "q_cart_abandonment",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR date_diff('second', lag(ts) OVER w, ts) > 1800
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, event_type, ts,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS session_id
      FROM ordered
    ),
    per_sess AS (
      SELECT user_id, session_id,
             CAST(min(ts) AS DATE) AS day,
             max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
               AS has_view,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS has_purchase
      FROM sess GROUP BY user_id, session_id
    )
    SELECT day,
           CAST(sum(has_view) AS BIGINT) AS sessions_with_view,
           CAST(sum(CASE WHEN has_view = 1 AND has_purchase = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS abandoned,
           CAST(sum(CASE WHEN has_view = 1 AND has_purchase = 0
                         THEN 1 ELSE 0 END) AS DOUBLE)
             / sum(has_view) AS abandonment_rate
    FROM per_sess
    WHERE has_view = 1
    GROUP BY day
    ORDER BY day
    """,
)
def q_cart_abandonment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-level abandonment per day: of sessions that contained a
    view, how many ended without a purchase — the canonical e-commerce
    leak metric, computed on the SAME session assignment as
    q_sessionize/q_session_metrics (one definition of "session" across
    the whole metric family, or the numbers silently disagree).

    One user-keyed shuffle does sessionization and the per-session
    flag rollup; the daily report is a second tiny aggregate. Flags
    are max-of-indicator integers; the rate is one division."""
    ev = spread(load_table(spark, sf_dir, "events"))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    brk = (
        F.lag("ts").over(w).isNull()
        | (F.col("ts").cast("long") - F.lag("ts").over(w).cast("long") > 1800)
    ).cast("int")
    run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    per_sess = (
        ev.withColumn("brk", brk)
        .withColumn("session_id", F.sum("brk").over(run))
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").cast("date").alias("day"),
            F.max(
                F.when(F.col("event_type") == "view", 1).otherwise(0)
            ).alias("has_view"),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("has_purchase"),
        )
        .filter(F.col("has_view") == 1)
    )
    abandoned = F.when(
        (F.col("has_view") == 1) & (F.col("has_purchase") == 0), 1
    ).otherwise(0)
    return (
        per_sess.groupBy("day")
        .agg(
            F.sum("has_view").cast("bigint").alias("sessions_with_view"),
            F.sum(abandoned).cast("bigint").alias("abandoned"),
            (F.sum(abandoned).cast("double") / F.sum("has_view")).alias(
                "abandonment_rate"
            ),
        )
        .orderBy("day")
    )


@_q(
    "q_retention_curve_fit",
    oracle="""
    WITH uw AS (
      SELECT DISTINCT user_id,
             CAST(floor(date_diff('day', DATE '2024-01-01',
                            CAST(ts AS DATE)) / 7.0) AS BIGINT) AS week
      FROM events
    ),
    cohorts AS (
      SELECT user_id, min(week) AS cw FROM uw GROUP BY user_id
    ),
    cells AS (
      SELECT u.week - c.cw AS age, CAST(count(*) AS BIGINT) AS active
      FROM uw u JOIN cohorts c ON c.user_id = u.user_id
      GROUP BY 1
    ),
    base AS (SELECT active AS a0 FROM cells WHERE age = 0),
    pts AS (
      SELECT CAST(age AS BIGINT) AS x,
             CAST(round(ln(CAST(c.active AS DOUBLE) / b.a0) * 1000000, 0)
                  AS BIGINT) AS y
      FROM cells c CROSS JOIN base b
      WHERE c.age >= 1
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM pts
    )
    SELECT n AS n_ages,
           CAST(CAST(n * sxy - sx * sy AS DOUBLE)
                / CAST(n * sxx - sx * sx AS DOUBLE) / 1000000.0
                AS DOUBLE) AS weekly_decay_rate
    FROM m
    """,
)
def q_retention_curve_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential retention-decay fit: regress ln(active(age)/active(0))
    on cohort age (weeks) — the single decay-rate number that
    summarizes q_cohort_matrix_triangle's whole grid (e^slope = the
    week-over-week survival multiplier; LTV models consume exactly
    this). Ages pool across cohorts, so the fit reads the aggregate
    curve, not one cohort's noise.

    The corpus reduces to |ages| cells; the log points quantize to
    integer micro-units (6-dp — ln is libm-territory) so the OLS
    moments are exact integers and the slope is one double division,
    scaled back by the quantization factor."""
    ev = load_table(spark, sf_dir, "events")
    uw = ev.select(
        "user_id",
        F.floor(
            F.datediff(
                F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
            )
            / 7
        )
        .cast("bigint")
        .alias("week"),
    ).distinct()
    uw = pin(uw)
    cohorts = uw.groupBy("user_id").agg(F.min("week").alias("cw"))
    cells = (
        uw.join(cohorts, "user_id")
        .groupBy((F.col("week") - F.col("cw")).alias("age"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("active"))
    )
    cells = pin(cells)
    base = cells.filter(F.col("age") == 0).select(
        F.col("active").alias("a0")
    )
    pts = (
        cells.filter(F.col("age") >= 1)
        .crossJoin(F.broadcast(base))
        .select(
            F.col("age").cast("bigint").alias("x"),
            F.round(
                F.log(F.col("active").cast("double") / F.col("a0")) * 1e6, 0
            )
            .cast("bigint")
            .alias("y"),
        )
    )
    m = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    return m.select(
        F.col("n").alias("n_ages"),
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
                "double"
            )
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                "double"
            )
            / F.lit(1e6)
        ).alias("weekly_decay_rate"),
    )


@_q(
    "q_churn_hazard_weekly",
    oracle="""
    WITH uw AS (
      SELECT DISTINCT user_id,
             CAST(floor(date_diff('day', DATE '2024-01-01',
                            CAST(ts AS DATE)) / 7.0) AS BIGINT) AS week
      FROM events
    ),
    spans AS (
      SELECT user_id, min(week) AS first_w, max(week) AS last_w
      FROM uw GROUP BY user_id
    ),
    horizon AS (SELECT max(week) AS h FROM uw),
    at_risk AS (
      SELECT w.week,
             CAST(count(*) AS BIGINT) AS n_at_risk,
             CAST(sum(CASE WHEN s.last_w = w.week THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_churned
      FROM spans s
      CROSS JOIN horizon hz
      JOIN (SELECT DISTINCT week FROM uw) w
        ON w.week >= s.first_w AND w.week <= s.last_w
      WHERE w.week < hz.h
      GROUP BY w.week
    )
    SELECT week, n_at_risk, n_churned,
           CAST(n_churned AS DOUBLE) / n_at_risk AS hazard
    FROM at_risk
    ORDER BY week
    """,
)
def q_churn_hazard_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-time churn hazard: for each week, the share of users
    still "alive" (between their first and last active week) whose
    activity ENDS that week — the conditional-risk curve behind
    q_survival_km's survival function and the per-period number a
    retention team can actually act on (a hazard spike at week 2 means
    onboarding, not product, is leaking). The horizon week is excluded:
    censored users (active at the corpus edge) are not churners.

    The membership table reduces to per-user (first, last) spans; each
    user then EXPLODES into their ≤|weeks| at-risk weeks, which are
    then semi-joined against the tiny OBSERVED-week spine — both
    engines evaluate hazards over the same week domain (weeks with
    corpus-wide activity), so a calendar week with zero events
    corpus-wide contributes no at-risk row on either side (round-4
    ADVICE: previously Spark kept every calendar week in the span
    while the oracle kept only observed weeks — coincidentally equal
    on week-dense fixtures, divergent on sparse ones)."""
    ev = load_table(spark, sf_dir, "events")
    uw = ev.select(
        "user_id",
        F.floor(
            F.datediff(
                F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
            )
            / 7
        )
        .cast("bigint")
        .alias("week"),
    ).distinct()
    uw = pin(uw)
    spans = uw.groupBy("user_id").agg(
        F.min("week").alias("first_w"), F.max("week").alias("last_w")
    )
    horizon = uw.agg(F.max("week").alias("h"))
    observed_weeks = uw.select("week").distinct()
    at_risk = (
        spans.select(
            "last_w",
            F.explode(
                F.expr("sequence(first_w, last_w)")
            ).alias("week"),
        )
        .join(F.broadcast(observed_weeks), "week", "semi")
        .crossJoin(F.broadcast(horizon))
        .filter(F.col("week") < F.col("h"))
        .groupBy("week")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_at_risk"),
            F.sum(
                F.when(F.col("last_w") == F.col("week"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_churned"),
        )
    )
    return at_risk.select(
        "week",
        "n_at_risk",
        "n_churned",
        (F.col("n_churned").cast("double") / F.col("n_at_risk")).alias(
            "hazard"
        ),
    ).orderBy("week")


@_q(
    "q_seasonal_index_dow",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(isodow(CAST(o_orderdate AS DATE)) AS BIGINT) AS dow,
             CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                           AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY 1, 2
    ),
    per_dow AS (
      SELECT dow,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(cents) AS BIGINT) AS cents
      FROM daily GROUP BY dow
    ),
    overall AS (
      SELECT CAST(sum(cents) AS BIGINT) AS tot,
             CAST(sum(n_days) AS BIGINT) AS days
      FROM per_dow
    )
    SELECT p.dow, p.n_days,
           CAST(p.cents AS DOUBLE) / p.n_days / 100.0 AS mean_revenue,
           (CAST(p.cents AS DOUBLE) / p.n_days)
             / (CAST(o.tot AS DOUBLE) / o.days) AS seasonal_index
    FROM per_dow p CROSS JOIN overall o
    ORDER BY p.dow
    """,
)
def q_seasonal_index_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal index of revenue: mean daily revenue per
    ISO weekday divided by the overall daily mean — the classical
    multiplicative seasonal factors (index 1.3 on Monday = Mondays run
    30% hot), the deseasonalization input for every forecast op here
    (q_holt_winters estimates these jointly; this is the direct-ratio
    estimate planners sanity-check it against).

    Orders reduce to daily cents, then to 7 weekday cells; the overall
    mean rides a 1-row broadcast; indexes are exact-integer ratios
    with two double divisions, and ISO numbering is pinned
    (weekday()+1 ≡ isodow)."""
    o = load_table(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("day"),
        (F.expr("weekday(cast(o_orderdate as date))") + 1)
        .cast("bigint")
        .alias("dow"),
    ).agg(F.sum(cents).cast("bigint").alias("cents"))
    per_dow = daily.groupBy("dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("cents").cast("bigint").alias("cents"),
    )
    overall = per_dow.agg(
        F.sum("cents").cast("bigint").alias("tot"),
        F.sum("n_days").cast("bigint").alias("days"),
    )
    return (
        per_dow.crossJoin(F.broadcast(overall))
        .select(
            "dow",
            "n_days",
            (F.col("cents").cast("double") / F.col("n_days") / 100.0).alias(
                "mean_revenue"
            ),
            (
                (F.col("cents").cast("double") / F.col("n_days"))
                / (F.col("tot").cast("double") / F.col("days"))
            ).alias("seasonal_index"),
        )
        .orderBy("dow")
    )


@_q(
    "q_top_movers_wow",
    oracle="""
    WITH weekly AS (
      SELECT event_type,
             CAST(floor(date_diff('day', DATE '2024-01-01',
                            CAST(ts AS DATE)) / 7.0) AS BIGINT) AS week,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    shifted AS (
      SELECT event_type, week, n,
             lag(n) OVER (PARTITION BY event_type ORDER BY week) AS prev_n
      FROM weekly
    )
    SELECT event_type, week, n, prev_n,
           CAST(n - prev_n AS BIGINT) AS delta,
           CAST(n - prev_n AS DOUBLE) / prev_n AS pct_change
    FROM shifted
    WHERE prev_n IS NOT NULL AND prev_n > 0
    ORDER BY abs(CAST(n - prev_n AS DOUBLE) / prev_n) DESC,
             event_type, week
    LIMIT 10
    """,
)
def q_top_movers_wow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 week-over-week movers: the (event type, week) cells with
    the largest relative volume swing — the "what changed" list at the
    top of every weekly ops review (an absolute-delta ranking would
    only ever show the biggest stream; relative change surfaces the
    small feed that tripled).

    Events reduce to |types|×|weeks| cells; the lag runs per type over
    the bounded weekly spine; the leaderboard is a
    TakeOrderedAndProject over the (|pct| desc, type, week) total
    order — deterministic cut, weeks via explicit floor division."""
    ev = spread(load_table(spark, sf_dir, "events"))
    weekly = ev.groupBy(
        "event_type",
        F.floor(
            F.datediff(
                F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
            )
            / 7
        )
        .cast("bigint")
        .alias("week"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    w = W.partitionBy("event_type").orderBy("week")
    shifted = weekly.select(
        "event_type",
        "week",
        "n",
        F.lag("n").over(w).alias("prev_n"),
    ).filter(F.col("prev_n").isNotNull() & (F.col("prev_n") > 0))
    pct = (F.col("n") - F.col("prev_n")).cast("double") / F.col("prev_n")
    return (
        shifted.select(
            "event_type",
            "week",
            "n",
            "prev_n",
            (F.col("n") - F.col("prev_n")).cast("bigint").alias("delta"),
            pct.alias("pct_change"),
        )
        .orderBy(F.abs(pct).desc(), "event_type", "week")
        .limit(10)
    )
