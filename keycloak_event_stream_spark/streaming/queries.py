"""Structured Streaming operators (SURVEY.md §2.3 s_*).

The reference's write path is Firehose micro-batching: buffer 64 MB /
600 s of JSON, convert to parquet, land under dt=/hour= from *arrival*
time, at-most-once (``terraform/main.tf:194-220``,
``FirehoseEventStoreProvider.java:141-150``). Rebuilt Spark-first:

- file-source ``readStream`` -> event-time dt/hour -> checkpointed
  ``writeStream.partitionBy("dt","hour")`` parquet sink = the same
  landing layout, upgraded to exactly-once and to *event-time*
  partitioning (fixes SURVEY §1.4 Q4's misfiled partitions);
- watermarked tumbling/sliding/session windows and streaming dedup are
  the event-time operators the reference lacks entirely (§2.2).

Driver-contract adaptation: each entry runs the streaming query over
the fixture parquet with ``trigger(availableNow=True)`` into a memory
(or parquet) sink, then returns the sink contents as a DataFrame.
Bounded replay of a stream is deterministic here because

- complete-mode aggregations emit every window regardless of watermark;
- append-mode entries rely on Spark's final no-data micro-batch
  (``spark.sql.streaming.noDataMicroBatches.enabled``, default on) to
  flush state closed by the terminal watermark = max(event time) -
  delay, so the emitted set is exactly the watermark-closed windows —
  which is what the DuckDB oracles reproduce with a
  ``window_end <= max(ts) - delay`` filter.

At scale: the same code with ``trigger(processingTime=...)`` against a
Kafka/file-drop source is the production ingest; state size is bounded
by the watermark, sinks are partitioned by event-time dt/hour.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from keycloak_event_stream_spark.catalog import _width, conf_scope, note, table_path
from keycloak_event_stream_spark.operators._exact import DEC, sql_dsum
from keycloak_event_stream_spark.registry import register as _q

_COUNTER = [0]


def read_stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events fixture.

    The fixture is TIMESTAMP(NANOS) parquet, which Spark's vectorized
    reader rejects; with ``nanosAsLong`` the raw column arrives as
    bigint nanos and is converted to a microsecond timestamp — same
    convention as :func:`keycloak_event_stream_spark.catalog.load_table`.
    """
    # get_spark declares it; caller-supplied sessions need it here
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = table_path(sf_dir, "events")
    raw_schema = spark.read.parquet(path).schema
    if os.path.isdir(path):
        # directory layout (Spark-written tables: the scale replicas,
        # any real ingest output) — the file source streams a directory
        # natively. The glob branch below CANNOT serve this case:
        # pathGlobFilter matches LEAF FILE names, so filtering on the
        # directory's name matches nothing and the replay silently
        # processed zero rows (caught by the round-10 100x streaming
        # leg reporting an impossible 0.3x ratio).
        stream = spark.readStream.schema(raw_schema).parquet(path)
    else:
        # single-file fixture layout: the file source wants a
        # directory; glob-filter the parent to exactly this file
        stream = (
            spark.readStream.schema(raw_schema)
            .option("pathGlobFilter", os.path.basename(path))
            .parquet(sf_dir)
        )
    if dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Session-independence: under a default Spark 4 session the declared
    # schema carries TIMESTAMP_NTZ, which withWatermark()/window()
    # reject (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE). Same boundary cast
    # as catalog.normalize_ntz; no-op under the engine session.
    if dict(stream.dtypes).get("ts") == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


# Target rows per state partition for a bounded verification replay.
# A stateful operator instantiates one state-store family instance PER
# shuffle partition, and the state partitioning is fixed at the query's
# first run from spark.sql.shuffle.partitions — so a ~60k-row replay at
# the vanilla 200-partition width pays 200 x stores x (store open +
# delta file + snapshot) of per-micro-batch store overhead for a few
# hundred rows of actual state. Measured 12x on
# s_stream_stream_semi_join (33.7 s at width 200 vs 2.7 s at width 8,
# sf0.01 — BASELINE.md "Round 8 — measured r9 head item").
_REPLAY_ROWS_PER_PART = 8192


def _events_rows(sf_dir: str) -> int:
    """Row count of the bounded replay input (parquet footer metadata
    only, memoized — catalog.footer_rows; no Spark job) — the width
    driver for :func:`_run_to_memory`'s replay scope."""
    from keycloak_event_stream_spark.catalog import footer_rows

    return footer_rows(sf_dir, "events")


# Minimum expected rows per partition DIRECTORY before the ingest
# replays keep a grain level. Production tables target ~128 MB files
# (~1M event rows); this floor is deliberately far lower so the
# fixture replays still exercise a partitioned sink — it exists to
# catch the pathological end (the sf0.01 fixture smears 10k rows over
# 720 dt/hour dirs at ~14 rows each, and the sink pays ~12 ms of
# file open/commit PER DIR: 8.7 s measured for a sub-second write's
# worth of data). Monotone in data volume: a larger corpus crosses
# the floor and restores the finer grain automatically.
_REPLAY_MIN_ROWS_PER_DIR = 256


def _replay_grain(sf_dir: str) -> tuple[str, ...]:
    """Partition grain for a BOUNDED ingest replay — the partitioned
    sink's twin of :func:`_run_to_memory`'s replay width scope: derive
    layout decisions from the bounded fixture's footer metadata (rows
    + ts min/max span; no Spark job), never from session defaults.
    Returns the finest dt/hour prefix whose expected rows-per-dir
    clears ``_REPLAY_MIN_ROWS_PER_DIR``. Production ingest never calls
    this — it writes the full dt/hour layout (terraform/main.tf:194),
    where the volume makes every hour dir file-sized."""
    from keycloak_event_stream_spark.catalog import footer_rows, footer_ts_range

    rows = footer_rows(sf_dir, "events")
    lo, hi = footer_ts_range(sf_dir, "events")
    if lo is None or hi is None:
        return ("dt", "hour")  # span unknown: keep the production grain
    span_s = max((hi - lo).total_seconds(), 1.0)
    hours = max(span_s / 3600.0, 1.0)
    days = max(span_s / 86400.0, 1.0)
    if rows / hours >= _REPLAY_MIN_ROWS_PER_DIR:
        return ("dt", "hour")
    if rows / days >= _REPLAY_MIN_ROWS_PER_DIR:
        return ("dt",)
    return ()


def _drain(spark: SparkSession, writer, rows: int | None) -> None:
    """Run a bounded replay's ``writer`` to completion with the
    availableNow trigger.

    ``rows`` — the bounded input's row count — sets
    ``spark.sql.shuffle.partitions`` for the run to
    ``catalog._width(rows, _REPLAY_ROWS_PER_PART, session width)``
    under :func:`catalog.conf_scope`, which notes the width and the
    value it restores; the row count is noted as ``replay_rows``. The
    registered s_* entries are bounded VERIFICATION replays, so their
    state width should derive from the bounded input, not from the
    session's corpus-sized default (see _REPLAY_ROWS_PER_PART for the
    measured 12x cost). The cap is the session width, unlike
    ``catalog.eval_width``'s floor of 32: a replay's state width must
    never exceed it, since state-store instances per partition are the
    cost being bounded. Production streams attach their own trigger on
    their own session and are never re-regimed: ``rows=None`` leaves
    the conf untouched. AQE needs no override here — stateful
    streaming disables it itself. The conf is session-global for the
    run's duration — the same single-threaded-driver regime as
    ``catalog.bounded_eval_scope``; that a concurrent query on the
    re-regimed session stays CORRECT (just re-widthed) is pinned by
    tests/test_dedup.py::test_lp_conf_scope_concurrent_query_correct.
    """
    overrides = {}
    if rows is not None:
        note("replay_rows", rows)
        cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
        parts = _width(rows, _REPLAY_ROWS_PER_PART, cap)
        overrides["spark.sql.shuffle.partitions"] = str(parts)
    with conf_scope(spark, overrides):
        writer.trigger(availableNow=True).start().awaitTermination()


def _run_to_memory(df: DataFrame, mode: str, rows: int | None = None) -> DataFrame:
    """Run a bounded streaming query into a memory sink, return result.

    The memory sink collects the output driver-side, which is the
    right shape for the registered VERIFICATION replays (the driver
    collects the result anyway) but NOT for scale probes whose output
    is data-linear — use :func:`run_to_parquet` there. Width regime:
    :func:`_drain`.
    """
    _COUNTER[0] += 1
    name = f"s_sink_{os.getpid()}_{_COUNTER[0]}"
    writer = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", tempfile.mkdtemp(prefix=f"ckpt_{name}_"))
    )
    _drain(df.sparkSession, writer, rows)
    return df.sparkSession.table(name)


def run_to_parquet(
    df: DataFrame, path: str, rows: int | None = None
) -> DataFrame:
    """Distributed-sink twin of :func:`_run_to_memory`: identical
    bounded replay (:func:`_drain`: availableNow trigger, same width
    regime) but the output lands in a parquet directory, never on the
    driver — the production sink shape, and the harness fix for user-linear outputs (BASELINE.md
    round-10 caveat: s_session_windows at 100x OOMed the MEMORY
    VERIFICATION SINK while the operator itself was fine; the r10
    verdict asked for a parquet sink + aggregate assertions so the
    100x point becomes measurable). Append-mode only — that is the
    only output mode Spark's file sink supports, and exactly the mode
    of the watermark-closed stateful queries whose output scales with
    data. Returns the sink read back as a LAZY batch DataFrame;
    callers assert AGGREGATES over it (counts, sums, distinct keys)
    and must not collect the row set.
    """
    writer = (
        df.writeStream.format("parquet")
        .outputMode("append")
        .option("path", path)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_pq_sink_"))
    )
    _drain(df.sparkSession, writer, rows)
    return df.sparkSession.read.parquet(path)


@_q(
    "s_ingest_flatten",
    oracle="""
    SELECT event_id, user_id, event_type,
           strftime(ts, '%Y-%m-%d') AS dt,
           CAST(extract(hour FROM ts) AS INTEGER) AS hour
    FROM events
    """,
)
def s_ingest_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's write path, Spark-first: stream -> derive
    dt/hour from EVENT time (not arrival — fixes Q4) -> checkpointed
    partitioned parquet sink (exactly-once; the reference drops failed
    puts, at-most-once). Result = the landed table read back."""
    stream = read_stream_events(spark, sf_dir)
    flat = stream.select(
        "event_id",
        "user_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("dt"),
        F.hour("ts").alias("hour"),
    )
    out = tempfile.mkdtemp(prefix="s_ingest_out_")
    # grain follows the bounded fixture's volume (_replay_grain): the
    # full dt/hour layout on a 10k-row fixture means 720 dirs of ~14
    # rows and the sink pays per-file commit cost, not data cost
    # (12.9-18 s measured; sub-second at dt grain). Columns not in the
    # grain stay DATA columns, so the result is grain-invariant.
    grain = _replay_grain(sf_dir)
    writer = (
        flat.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="s_ingest_ckpt_"))
    )
    if grain:
        writer = writer.partitionBy(*grain)
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    # schema-on-read from the writer's own schema: a zero-row replay
    # lands no files, and schema INFERENCE on an empty sink dir throws
    # — exactly the catalog-first read a production table uses anyway
    landed = spark.read.schema(flat.schema).parquet(out)
    return landed.select(
        "event_id",
        "user_id",
        "event_type",
        F.col("dt").cast("string").alias("dt"),
        F.col("hour").cast("int").alias("hour"),
    )


@_q(
    "s_tumbling_counts",
    oracle="""
    SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
           time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR AS window_end,
           event_type, count(*) AS n
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def s_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events per type per 1 h tumbling event-time window. Complete
    mode on bounded replay = every window; watermark still bounds state
    in production."""
    stream = read_stream_events(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    res = _run_to_memory(agg, "complete", rows=_events_rows(sf_dir))
    return res.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        "event_type",
        "n",
    )


@_q(
    "s_sliding_agg",
    oracle=f"""
    WITH slid AS (
      SELECT e.*,
             time_bucket(INTERVAL 15 MINUTES, ts) - k.k * INTERVAL 15 MINUTES
               AS window_start
      FROM events e
      CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) k
    )
    SELECT window_start,
           window_start + INTERVAL 1 HOUR AS window_end,
           count(*) AS n,
           {sql_dsum("value", "sum_value")}
    FROM slid
    GROUP BY window_start
    """,
)
def s_sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1 h window sliding every 15 min: each event lands in 4 windows
    (Spark expands map-side, then one shuffled agg on window start)."""
    stream = read_stream_events(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour", "15 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
        )
    )
    res = _run_to_memory(agg, "complete", rows=_events_rows(sf_dir))
    return res.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        "n",
        "sum_value",
    )


@_q(
    "s_watermark_late",
    oracle="""
    WITH agg AS (
      SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
             time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR AS window_end,
             count(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT * FROM agg
    WHERE window_end <= (SELECT max(ts) - INTERVAL 1 HOUR FROM events)
    """,
)
def s_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-mode watermarked tumbling counts: only windows the
    watermark has closed are emitted; data later than 1 h is dropped
    from closed windows. On bounded replay the terminal watermark is
    max(ts) - 1 h, so emitted = windows ending at or before it (the
    oracle's filter). This is the fix for the reference's only
    late-data behavior — silently misfiled partitions (Q4)."""
    stream = read_stream_events(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    res = _run_to_memory(agg, "append", rows=_events_rows(sf_dir))
    return res.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        "n",
    )


@_q(
    "s_session_windows",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 30 MINUTES
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sess AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM gaps
    ),
    agg AS (
      SELECT user_id,
             min(ts) AS session_start,
             max(ts) + INTERVAL 30 MINUTES AS session_end,
             count(*) AS n_events
      FROM sess GROUP BY user_id, session_id
    )
    SELECT * FROM agg
    WHERE session_end <= (SELECT max(ts) - INTERVAL 1 HOUR FROM events)
    """,
)
def s_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows (30 min inactivity gap), stateful
    streaming aggregation. Session end = last event + gap (Spark
    session_window semantics); append mode emits sessions closed by the
    terminal watermark, which the oracle reproduces as a
    gaps-and-islands rollup filtered to watermark-closed sessions."""
    agg = session_windows_agg(read_stream_events(spark, sf_dir))
    res = _run_to_memory(agg, "append", rows=_events_rows(sf_dir))
    return res.select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        "n_events",
    )


def session_windows_agg(stream: DataFrame) -> DataFrame:
    """The s_session_windows aggregation on a caller-supplied stream —
    factored out so the Nx scale probe (tools/stream_scale_probe.py)
    runs the IDENTICAL stateful plan through the distributed parquet
    sink (:func:`run_to_parquet`) instead of the driver-side memory
    sink the registered verification replay uses."""
    return (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


@_q(
    "s_stream_dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def s_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup by key with watermarked state (exactly-once by
    key): first arrival wins, duplicates within the watermark horizon
    dropped. Projected to the key for determinism (which physical row
    arrives first is an execution accident, the key set is not)."""
    stream = read_stream_events(spark, sf_dir)
    deduped = (
        stream.withWatermark("ts", "1 hour")
        .dropDuplicates(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return _run_to_memory(
        deduped, "append", rows=_events_rows(sf_dir)
    )


@_q(
    "s_stream_stream_join",
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
def s_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: purchases joined to clicks within one
    hour after, both sides watermarked so join state is evicted once the
    watermark passes the range condition — bounded state at any scale
    (without watermarks a stream-stream join buffers forever). On
    bounded replay every match emits, so the batch theta-join is the
    oracle."""
    p = read_stream_events(spark, sf_dir)
    c = read_stream_events(spark, sf_dir)
    purchases = (
        p.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    clicks = (
        c.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        (purchases.user_id == clicks.c_user_id)
        & (clicks.click_ts > purchases.purchase_ts)
        & (clicks.click_ts <= purchases.purchase_ts + F.expr("INTERVAL 1 HOUR")),
        "inner",
    ).select("purchase_id", "click_id", "user_id", "purchase_ts", "click_ts")
    return _run_to_memory(
        joined, "append", rows=_events_rows(sf_dir)
    )


def purchase_click_stream_join(p: DataFrame, c: DataFrame, how: str) -> DataFrame:
    """Shared topology of the three stream-stream joins (left_outer /
    full_outer / left_semi) over two raw event streams with columns
    (event_id, user_id, event_type, ts): 1-hour watermarks both sides,
    click-follows-purchase-within-an-hour time-range condition. The
    registered s_stream_stream_* queries AND the checkpoint-restart
    tests both build through here, so the restart tests exercise the
    exact production join state machine, not a test-local copy."""
    purchases = (
        p.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    csel = [
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("click_ts"),
    ]
    if how == "left_semi":
        csel = csel[1:]  # semi never projects the click side
    clicks = (
        c.filter(F.col("event_type") == "click")
        .select(*csel)
        .withWatermark("click_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        (purchases.user_id == clicks.c_user_id)
        & (clicks.click_ts > purchases.purchase_ts)
        & (clicks.click_ts <= purchases.purchase_ts + F.expr("INTERVAL 1 HOUR")),
        how,
    )
    if how == "left_outer":
        return joined.select(
            "purchase_id", "click_id", "user_id", "purchase_ts", "click_ts"
        )
    if how == "full_outer":
        return joined.select(
            "purchase_id",
            "click_id",
            F.coalesce("user_id", "c_user_id").alias("user_id"),
            "purchase_ts",
            "click_ts",
        )
    return joined.select("purchase_id", "user_id", "purchase_ts")



@_q(
    "s_stream_stream_left_join",
    oracle="""
    WITH p AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase'),
         c AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'click'),
         wm AS (
           SELECT least((SELECT max(ts) FROM p),
                        (SELECT max(ts) FROM c))
                  - INTERVAL 1 HOUR AS w
         )
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           p.user_id, p.ts AS purchase_ts, c.ts AS click_ts
    FROM p LEFT JOIN c
      ON p.user_id = c.user_id
     AND c.ts > p.ts
     AND c.ts <= p.ts + INTERVAL 1 HOUR
    WHERE c.event_id IS NOT NULL
       OR p.ts + INTERVAL 1 HOUR < (SELECT w FROM wm)
    """,
)
def s_stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join with watermark-TTL'd state: every
    purchase emits, matched rows immediately, unmatched ones with NULL
    click columns — but only once the watermark passes the end of the
    purchase's match window (purchase_ts + 1 h) and its state is
    evicted, which is what bounds the join state at any scale (the
    production attribution shape: "purchases with no preceding-hour
    click" must flow too, not just the happy path).

    Eviction semantics pinned by the oracle: matched rows always emit;
    an unmatched purchase emits exactly when the TERMINAL global
    watermark — min(max purchase_ts, max click_ts) − 1 h delay, the
    min-policy across both inputs — lies STRICTLY beyond
    purchase_ts + 1 h (state is held while a future click at the
    watermark could still land inside the window). Bounded replay
    flushes that state through the final no-data micro-batch, so the
    emitted set is deterministic and the batch LEFT JOIN + watermark
    CASE is the oracle. Join-state checkpoint-restart is pinned by
    tests/test_streaming.py::test_stream_stream_join_state_survives_restart."""
    p = read_stream_events(spark, sf_dir)
    c = read_stream_events(spark, sf_dir)
    return _run_to_memory(
        purchase_click_stream_join(p, c, "left_outer"),
        "append",
        rows=_events_rows(sf_dir),
    )


@_q(
    "s_stream_stream_full_join",
    oracle="""
    WITH p AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase'),
         c AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'click'),
         wm AS (
           SELECT least((SELECT max(ts) FROM p),
                        (SELECT max(ts) FROM c))
                  - INTERVAL 1 HOUR AS w
         )
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           COALESCE(p.user_id, c.user_id) AS user_id,
           p.ts AS purchase_ts, c.ts AS click_ts
    FROM p FULL OUTER JOIN c
      ON p.user_id = c.user_id
     AND c.ts > p.ts
     AND c.ts <= p.ts + INTERVAL 1 HOUR
    WHERE (p.event_id IS NOT NULL AND c.event_id IS NOT NULL)
       OR (c.event_id IS NULL
           AND p.ts + INTERVAL 1 HOUR < (SELECT w FROM wm))
       OR (p.event_id IS NULL AND c.ts < (SELECT w FROM wm))
    """,
)
def s_stream_stream_full_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER join: both the click-less purchases AND
    the purchase-less clicks flow through with NULLs on the absent
    side — the reconciliation shape (every event accounted for exactly
    once, match or not). State TTL is the same watermark mechanics as
    the left join, applied on BOTH sides.

    Eviction boundaries differ per side, and the oracle pins both
    (probed empirically, 197/207-row exact at sf0.001): an unmatched
    purchase emits when the terminal watermark lies strictly beyond
    purchase_ts + 1 h (its match window's end), while an unmatched
    click emits when the watermark passes click_ts itself — a click
    can only match a STRICTLY EARLIER purchase (c.ts > p.ts), so its
    state closes as soon as no future purchase can precede it.
    Join-state checkpoint-restart is pinned by
    tests/test_streaming.py::test_stream_stream_join_state_survives_restart."""
    p = read_stream_events(spark, sf_dir)
    c = read_stream_events(spark, sf_dir)
    return _run_to_memory(
        purchase_click_stream_join(p, c, "full_outer"),
        "append",
        rows=_events_rows(sf_dir),
    )


@_q(
    "s_stream_stream_semi_join",
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'purchase') p
    WHERE EXISTS (
      SELECT 1 FROM (SELECT user_id, ts FROM events
                     WHERE event_type = 'click') c
      WHERE c.user_id = p.user_id
        AND c.ts > p.ts AND c.ts <= p.ts + INTERVAL 1 HOUR
    )
    """,
)
def s_stream_stream_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT SEMI join: purchases that got at least one
    click within the following hour, emitted ONCE regardless of how
    many clicks arrive — the streaming EXISTS (alert on "converted
    within the window" without duplicating per click). Same watermark
    + time-range state TTL as the inner join; a left row emits on its
    first match and its state is marked done, so bounded replay emits
    exactly the EXISTS set and the batch semi join is the oracle with
    no watermark clause at all (matches always emit; only NON-matches
    depend on eviction, and a semi join never emits those).
    Join-state checkpoint-restart is pinned by
    tests/test_streaming.py::test_stream_stream_join_state_survives_restart."""
    p = read_stream_events(spark, sf_dir)
    c = read_stream_events(spark, sf_dir)
    return _run_to_memory(
        purchase_click_stream_join(p, c, "left_semi"),
        "append",
        rows=_events_rows(sf_dir),
    )


@_q(
    "s_stream_static_join",
    oracle="""
    SELECT e.event_id, e.user_id, e.event_type,
           c.c_name AS customer_name, c.c_nationkey AS nationkey
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def s_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the event stream joined to a
    static dimension (customer) on user_id. The static side needs no
    watermark and holds no state — Spark re-plans it per micro-batch
    and (dimension-sized) broadcasts it, so enrichment adds zero
    stateful operators and scales with the stream alone. This is the
    production shape for attaching realm/user metadata to the
    reference's event firehose (FirehoseEventStoreProvider.java:67-76
    emits bare events; enrichment there requires a second Keycloak
    lookup per event)."""
    stream = read_stream_events(spark, sf_dir)
    customer = spark.read.parquet(table_path(sf_dir, "customer")).select(
        F.col("c_custkey"),
        F.col("c_name").alias("customer_name"),
        F.col("c_nationkey").alias("nationkey"),
    )
    joined = stream.join(
        F.broadcast(customer), stream.user_id == customer.c_custkey
    ).select("event_id", "user_id", "event_type", "customer_name", "nationkey")
    return _run_to_memory(
        joined, "append", rows=_events_rows(sf_dir)
    )


@_q(
    "s_stream_kl_monitor",
    oracle="""
    WITH counts AS (
      SELECT event_type, count(*) AS c FROM events GROUP BY 1
    ), tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM counts)
    SELECT CAST(sum(CAST(round((CAST(c.c AS DOUBLE) / tt.t)
                                * ln((CAST(c.c AS DOUBLE) / tt.t)
                                     / 0.2), 6)
                         AS DECIMAL(27,6))) AS DOUBLE) AS kl_vs_uniform,
           CAST(max(tt.t) AS BIGINT) AS n_events
    FROM counts c CROSS JOIN tot tt
    """,
)
def s_stream_kl_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming drift monitor: the event-type mix accumulates through
    a streaming aggregation, and the landed state is scored as KL
    divergence against the uniform expectation — the alarm wire for
    "one event type is flooding the firehose".

    The distributional state (5 counters) flows through the stream in
    complete mode; the KL scoring runs batch-side on the tiny final
    state — the right split at 100 TB/day, where the monitor's
    streaming footprint must be O(|types|), not O(rows). Scoring uses
    the stattests discipline (integer-count ratios, 6-dp-rounded ln
    terms, decimal sum); the oracle replays the same recurrence on
    the full table, exact because bounded replay sees exactly the
    full table.
    """
    stream = read_stream_events(spark, sf_dir)
    counts = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    landed = _run_to_memory(
        counts, "complete", rows=_events_rows(sf_dir)
    )
    tot = landed.agg(F.sum("c").cast("bigint").alias("t"))
    frac = F.col("c").cast("double") / F.col("t")
    term = F.round(frac * F.log(frac / F.lit(0.2)), 6)
    return (
        landed.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(term.cast("decimal(27,6)"))
            .cast("double")
            .alias("kl_vs_uniform"),
            F.max("t").cast("bigint").alias("n_events"),
        )
    )


@_q(
    "s_quarantine_ingest",
    oracle="""
    SELECT CAST(event_id AS VARCHAR) AS id,
           event_type AS eventtype,
           'r1' AS realmid,
           CAST(user_id AS VARCHAR) AS userid,
           CAST(epoch_ms(ts) AS BIGINT) AS time
    FROM events
    """,
)
def s_quarantine_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full Firehose delivery story through the store, end-to-end:
    fixture events serialized to the wire format (one JSON per record,
    ``send()`` in FirehoseEventStoreProvider.java:141-150) with POISON
    lines spliced in, streamed through
    ``KeycloakEventStore.ingest_stream_json`` — bad records land under
    the errors/ prefix (terraform/main.tf:195 layout), good records
    flatten and land partitioned by event-time dt/hour.

    Result = the landed user-event table; the oracle is the original
    events fixture (every valid record must survive, no poison may
    leak through, nothing may be dropped). The quarantine contents and
    the at-most-once delivery twin are pinned by
    ``tests/test_keycloak.py``.
    """
    import tempfile

    from keycloak_event_stream_spark.catalog import load_table
    from keycloak_event_stream_spark.sources.keycloak import (
        KeycloakEventStore,
    )

    ev = load_table(spark, sf_dir, "events")
    lines = ev.select(
        F.to_json(
            F.struct(
                F.col("event_id").cast("string").alias("id"),
                F.col("event_type").alias("type"),
                F.lit("r1").alias("realmId"),
                F.col("user_id").cast("string").alias("userId"),
                F.unix_millis("ts").alias("time"),
            )
        ).alias("value")
    )
    poison = spark.createDataFrame(
        [("{broken json",), ("not json at all",)], "value string"
    )
    wire = tempfile.mkdtemp(prefix="s_quarantine_wire_")
    lines.unionAll(poison).write.mode("overwrite").text(wire)

    store = KeycloakEventStore(
        spark, tempfile.mkdtemp(prefix="s_quarantine_store_")
    )
    # replay grain from fixture footer metadata (see s_ingest_flatten's
    # note); production callers of ingest_stream_json keep the default
    # dt/hour layout.
    q = store.ingest_stream_json(
        spark.readStream.text(wire),
        checkpoint=tempfile.mkdtemp(prefix="s_quarantine_ckpt_"),
        grain=_replay_grain(sf_dir),
    )
    q.awaitTermination()
    return store.user_events().select(
        "id", "eventtype", "realmid", "userid", "time"
    )


@_q(
    "s_upsert_latest",
    oracle="""
    SELECT user_id, event_id AS last_event_id, ts AS last_ts,
           value AS last_value
    FROM (
      SELECT user_id, event_id, ts, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def s_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC-style upsert: maintain the latest row per key
    (user) as micro-batches arrive — the materialized "current state"
    table every event-sourced system derives from its append log.

    foreachBatch reduces each batch to its per-user argmax
    (``max(struct(ts, event_id, value))`` — lexicographic struct max =
    latest by (ts, event_id), no window needed) and lands it under the
    batch's own partition with dynamic overwrite — the
    ``dedup_stream`` replay-idempotency recipe, so at-least-once
    delivery still yields exactly-once state. The read side folds the
    per-batch snapshots with the same argmax; a periodic compaction
    job would fold old partitions the same way (the
    parquet-without-lakehouse upsert pattern; with Delta/Iceberg the
    fold becomes MERGE INTO, same semantics).

    Scale: per-batch state is |active keys in batch| rows; the fold is
    one keyed aggregation. The argmax never sorts anything globally.
    """
    import tempfile

    stream = read_stream_events(spark, sf_dir)
    state = tempfile.mkdtemp(prefix="s_upsert_state_")

    latest_struct = F.max(
        F.struct("ts", "event_id", "value")
    ).alias("latest")

    def upsert(batch: DataFrame, batch_id: int) -> None:
        (
            batch.groupBy("user_id")
            .agg(latest_struct)
            .select(
                "user_id",
                F.col("latest.ts").alias("ts"),
                F.col("latest.event_id").alias("event_id"),
                F.col("latest.value").alias("value"),
            )
            .withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .partitionBy("_batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(state)
        )

    q = (
        stream.writeStream.foreachBatch(upsert)
        .option(
            "checkpointLocation", tempfile.mkdtemp(prefix="s_upsert_ckpt_")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # explicit state-table schema: a zero-row replay lands no snapshot
    # files and inference on the empty dir throws; derived from the
    # source schema like a catalog-backed table would be
    from pyspark.sql.types import LongType, StructField, StructType

    st = {f.name: f for f in stream.schema.fields}
    state_schema = StructType(
        [st["user_id"], st["ts"], st["event_id"], st["value"],
         StructField("_batch_id", LongType())]
    )
    return (
        spark.read.schema(state_schema).parquet(state)
        .groupBy("user_id")
        .agg(latest_struct)
        .select(
            "user_id",
            F.col("latest.event_id").alias("last_event_id"),
            F.col("latest.ts").alias("last_ts"),
            F.col("latest.value").alias("last_value"),
        )
    )


@_q(
    "s_stateful_profile",
    oracle="""
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
           max(ts) AS last_ts
    FROM events GROUP BY user_id
    """,
)
def s_stateful_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (``applyInPandasWithState``) as a
    driver-visible entry: the per-user running profile of
    :mod:`.stateful` replayed over the bounded fixture stream; the
    final emission per user must equal the batch groupBy — which is
    exactly what the oracle checks.

    The memory-sink output carries one row per (user, micro-batch the
    user appeared in); the read side keeps each user's FINAL state via
    a lexicographic struct argmax on the monotone event count (no
    window, no sort — the s_upsert_latest fold). ``total_value`` is
    deliberately not part of the checked projection: the in-state
    float accumulation order is a batch-arrival accident, the one
    thing a cross-engine bitwise oracle must not depend on (exact
    money totals are the batch side's job via DECIMAL —
    ``operators/_exact.py``).

    Scale: state is O(|users|) in the state store (RocksDB provider in
    production), per-batch work is O(batch); the profile stream is the
    online-feature-store shape a downstream model consumes."""
    from keycloak_event_stream_spark.streaming.stateful import (
        running_user_profile,
    )

    stream = read_stream_events(spark, sf_dir)
    out = _run_to_memory(
        running_user_profile(stream),
        "append",
        rows=_events_rows(sf_dir),
    )
    final = F.max(F.struct("n_events", "last_ts")).alias("s")
    return (
        out.groupBy("user_id")
        .agg(final)
        .select(
            "user_id",
            F.col("s.n_events").alias("n_events"),
            F.col("s.last_ts").alias("last_ts"),
        )
    )


@_q(
    "s_window_topk",
    oracle="""
    WITH counts AS (
      SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
             event_type, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ), ranked AS (
      SELECT window_start, event_type, n,
             row_number() OVER (PARTITION BY window_start
                                ORDER BY n DESC, event_type) AS rk
      FROM counts
    )
    SELECT window_start, event_type, n, CAST(rk AS INTEGER) AS rk
    FROM ranked WHERE rk <= 3
    ORDER BY window_start, rk
    """,
)
def s_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 event types per 1 h tumbling window over the stream — the
    live "trending now" panel. The streaming stage is the same
    watermarked windowed count as s_tumbling_counts (state bounded by
    the watermark); the rank runs OVER THE AGGREGATE — |windows|×
    |types| rows in the complete-mode sink, so the per-trigger rank is
    a cheap batch pass over already-reduced state, never over raw
    events. That split (heavy reduction inside the stream, light rank
    on the materialized result) is how a production dashboard keeps
    per-trigger latency flat as volume grows."""
    stream = read_stream_events(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    res = _run_to_memory(agg, "complete", rows=_events_rows(sf_dir))
    from pyspark.sql.window import Window as W

    w = W.partitionBy("window_start").orderBy(
        F.col("n").desc(), "event_type"
    )
    return (
        res.select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .orderBy("window_start", "rk")
    )


@_q(
    "s_tumbling_uniques",
    oracle="""
    SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
           time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR
             AS window_end,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY 1, 2
    """,
)
def s_tumbling_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per 1 h tumbling window, streaming.
    ``count(DISTINCT …)`` is unsupported in a streaming aggregate, so
    the engine composes the two streaming primitives that ARE
    supported: watermarked ``dropDuplicates`` on (user_id, hour
    bucket) — state keyed by the pair, evicted by the watermark — into
    a plain windowed count of the survivors. Same result, bounded
    state, and the dedup shuffle is the only extra exchange.

    This is the scalable shape at 100 TB too: exact distinct state is
    O(|distinct pairs in the watermark horizon|), and the drop-in
    approximation (approx_count_distinct) shares the same query shape
    when memory matters more than exactness."""
    stream = read_stream_events(spark, sf_dir)
    deduped = (
        stream.withColumn(
            "hour_bucket", F.date_trunc("hour", F.col("ts"))
        )
        .withWatermark("ts", "1 hour")
        .dropDuplicates(["user_id", "hour_bucket"])
    )
    agg = deduped.groupBy(F.window("ts", "1 hour")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )
    res = _run_to_memory(agg, "complete", rows=_events_rows(sf_dir))
    return res.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        "n_users",
    )


@_q(
    "s_tumbling_approx_uniques",
    oracle="""
    SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
           time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR
             AS window_end,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS within_bound
    FROM events GROUP BY 1, 2
    """,
)
def s_tumbling_approx_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ distinct users per 1 h tumbling window, streaming — the
    constant-memory drop-in s_tumbling_uniques' docstring promises,
    now as a first-class query with the q_agg_approx_distinct
    evaluation discipline: the SAME stateful aggregate carries both
    the sketch estimate and (via collect_set size) the exact distinct,
    and the hashed surface is the exact count plus ``within_bound`` =
    |approx − exact|/exact ≤ 5·rsd (rsd 0.02) — so the estimate's
    jitter stays off the hash while a broken sketch fails the oracle.

    One stateful operator (no dedup pre-stage needed): per-window
    state is the HLL registers plus the exact set used only for
    verification — a production query drops the set and keeps the
    O(kB) sketch, which is the point of the operator at 100 TB."""
    stream = read_stream_events(spark, sf_dir)
    rsd = 0.02
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"))
        .agg(
            F.approx_count_distinct("user_id", rsd=rsd).alias("approx_users"),
            F.size(F.collect_set("user_id")).cast("bigint").alias(
                "exact_users"
            ),
        )
    )
    res = _run_to_memory(agg, "complete", rows=_events_rows(sf_dir))
    return res.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        "exact_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= F.lit(5 * rsd) * F.col("exact_users") + F.lit(2.0)
        ).alias("within_bound"),
    )


@_q(
    "s_rate_alert",
    oracle="""
    WITH hourly AS (
      SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    base AS (
      SELECT CAST(sum(n) AS BIGINT) AS tot,
             CAST(count(*) AS BIGINT) AS nh
      FROM hourly
    )
    SELECT h.window_start, h.n,
           CAST(b.tot AS DOUBLE) / b.nh AS baseline_mean,
           CAST(CASE WHEN h.n * b.nh * 10 > b.tot * 15
                     THEN 1 ELSE 0 END AS INTEGER) AS alert
    FROM hourly h CROSS JOIN base b
    ORDER BY h.window_start
    """,
)
def s_rate_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming rate alerting: hourly event counts with an alert
    flag when a window runs ≥1.5× the all-stream baseline — the
    pager rule behind every traffic monitor. The streaming stage is
    the watermarked windowed count (bounded state); the baseline and
    the comparison run over the MATERIALIZED aggregate — |windows|
    rows — per trigger, so alerting cost never scales with raw
    volume (in production the baseline would be a slowly-updated
    static table broadcast into the stream, cf.
    s_stream_static_join).

    The threshold is the integer cross-product n·nh·10 > tot·15
    (1.5× with no float), making the alert set bitwise at any
    scale."""
    stream = read_stream_events(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    res = _run_to_memory(
        agg, "complete", rows=_events_rows(sf_dir)
    ).select(
        F.col("window.start").alias("window_start"), "n"
    )
    base = res.agg(
        F.sum("n").cast("bigint").alias("tot"),
        F.count(F.lit(1)).cast("bigint").alias("nh"),
    )
    return (
        res.crossJoin(F.broadcast(base))
        .select(
            "window_start",
            "n",
            (F.col("tot").cast("double") / F.col("nh")).alias(
                "baseline_mean"
            ),
            F.when(
                F.col("n") * F.col("nh") * 10 > F.col("tot") * 15, 1
            )
            .otherwise(0)
            .cast("int")
            .alias("alert"),
        )
        .orderBy("window_start")
    )


@_q(
    "s_session_flags",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts, event_type,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 30 MINUTES
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sess AS (
      SELECT user_id, ts, event_type,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM gaps
    ),
    agg AS (
      SELECT user_id,
             min(ts) AS session_start,
             max(ts) + INTERVAL 30 MINUTES AS session_end,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                  AS BIGINT) AS has_view,
             CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS has_purchase
      FROM sess GROUP BY user_id, session_id
    )
    SELECT * FROM agg
    WHERE session_end <= (SELECT max(ts) - INTERVAL 1 HOUR FROM events)
    """,
)
def s_session_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session windows WITH behavioral flags: each closed
    session carries view/purchase indicators alongside its event count
    — the streaming feed q_cart_abandonment's batch rate is computed
    from, emitted per session as the watermark closes it (the realtime
    abandonment pager needs the flag at session close, not at
    end-of-day batch).

    Same stateful session_window aggregation as s_session_windows plus
    two conditional-max flags folded into the same state — no extra
    shuffle or operator; the oracle reproduces it as the
    gaps-and-islands rollup filtered to watermark-closed sessions."""
    stream = read_stream_events(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.max(
                F.when(F.col("event_type") == "view", 1).otherwise(0)
            )
            .cast("bigint")
            .alias("has_view"),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            .cast("bigint")
            .alias("has_purchase"),
        )
    )
    res = _run_to_memory(agg, "append", rows=_events_rows(sf_dir))
    return res.select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        "n_events",
        "has_view",
        "has_purchase",
    )


@_q(
    "s_join_state_audit",
    oracle="""
    WITH p AS (SELECT ts FROM events WHERE event_type = 'purchase'),
         c AS (SELECT ts FROM events WHERE event_type = 'click'),
         wm AS (
           SELECT least((SELECT max(ts) FROM p), (SELECT max(ts) FROM c))
                  - INTERVAL 1 HOUR AS w
         )
    SELECT side, bucket, CAST(count(*) AS BIGINT) AS rows_held FROM (
      SELECT 'purchase' AS side, time_bucket(INTERVAL 1 HOUR, ts) AS bucket
      FROM p WHERE ts + INTERVAL 1 HOUR >= (SELECT w FROM wm)
      UNION ALL
      SELECT 'click' AS side, time_bucket(INTERVAL 1 HOUR, ts) AS bucket
      FROM c WHERE ts >= (SELECT w FROM wm)
    ) GROUP BY side, bucket
    """,
)
def s_join_state_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-size/eviction audit for the stream-stream join family
    (r5 verdict #6: give the streaming side the same audit discipline
    as the batch family's LSH band-occupancy / zone-map evals): rows
    HELD in the purchase-click join's state store once bounded replay
    reaches the terminal watermark, bucketed by event-time hour and
    side.

    The eviction model mirrors the join oracles exactly: a purchase
    row is held while the watermark has not STRICTLY passed the end of
    its match window (``purchase_ts + 1 h >= wm``, wm = min of both
    sides' max ts − 1 h); a click row is held while ``click_ts >= wm``
    (a click only matches a strictly earlier purchase, so its state
    closes when the watermark reaches its own timestamp). This is the
    quantity that bounds a production join's memory at any scale — the
    audit makes the bound observable per watermark bucket instead of
    trusting the delay arithmetic.
    ``tests/test_streaming.py::test_join_state_audit_matches_live_state_rows``
    runs the REAL streaming left join and asserts Spark's own
    stateOperators numRowsTotal equals this audit's total, so the
    analytic model is pinned to the engine's state store, not to this
    docstring. Plan shape: two scans + a 1-row watermark scalar
    broadcast + one (side, bucket) aggregate — no state of its own."""
    from keycloak_event_stream_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select("ts")
    c = ev.filter(F.col("event_type") == "click").select("ts")
    wm = (
        p.agg(F.max("ts").alias("pmax"))
        .crossJoin(c.agg(F.max("ts").alias("cmax")))
        .select(
            (F.least("pmax", "cmax") - F.expr("INTERVAL 1 HOUR")).alias("w")
        )
    )
    held_p = (
        p.crossJoin(F.broadcast(wm))
        .filter(F.col("ts") + F.expr("INTERVAL 1 HOUR") >= F.col("w"))
        .select(
            F.lit("purchase").alias("side"),
            F.date_trunc("hour", F.col("ts")).alias("bucket"),
        )
    )
    held_c = (
        c.crossJoin(F.broadcast(wm))
        .filter(F.col("ts") >= F.col("w"))
        .select(
            F.lit("click").alias("side"),
            F.date_trunc("hour", F.col("ts")).alias("bucket"),
        )
    )
    return (
        held_p.unionByName(held_c)
        .groupBy("side", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("rows_held"))
    )


@_q(
    "s_window_state_audit",
    oracle="""
    WITH wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events),
         g AS (
           SELECT time_bucket(INTERVAL 1 HOUR, ts) AS ws, event_type,
                  count(*) AS n
           FROM events GROUP BY 1, 2
         )
    SELECT ws AS window_start, ws + INTERVAL 1 HOUR AS window_end,
           CAST(count(*) AS BIGINT) AS groups_held,
           CAST(sum(n) AS BIGINT) AS events_represented
    FROM g WHERE ws + INTERVAL 1 HOUR > (SELECT w FROM wm)
    GROUP BY 1, 2
    """,
)
def s_window_state_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-size/eviction audit for the watermarked tumbling-window
    aggregation family (same audit discipline as s_join_state_audit):
    (window, event_type) groups still HELD in the aggregation state
    store once bounded replay reaches the terminal watermark, per
    window, with the event count those group rows represent.

    Eviction model: an append-mode windowed aggregation emits and
    purges a group when the watermark reaches its window end
    (s_watermark_late's emitted set is exactly the complement), so the
    rows surviving in stateStoreSave are the groups with
    ``window_end > wm``, wm = max(ts) − 1 h. One state row per group —
    the ``events_represented`` column is the collapsed input volume,
    showing how far the partial-aggregate state is from raw buffering
    (a stream-stream join would hold every row; the agg holds one row
    per group regardless of input rate — the reason windowed
    aggregation state stays flat at 100 TB while join state needs the
    tight watermark s_join_state_audit bounds).
    ``tests/test_streaming.py::test_window_state_audit_matches_live_state_rows``
    runs the REAL append-mode aggregation and asserts the engine's
    stateOperators numRowsTotal equals this audit's groups_held total.
    Plan shape: one scan + partial/final hash aggregate + a 1-row
    watermark scalar broadcast — no state of its own, no extra
    shuffle beyond the group-by the audited query already pays."""
    from keycloak_event_stream_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    wm = ev.agg(
        (F.max("ts") - F.expr("INTERVAL 1 HOUR")).alias("w")
    )
    groups = (
        ev.select(F.window("ts", "1 hour").alias("win"), "event_type")
        .groupBy("win", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        groups.crossJoin(F.broadcast(wm))
        .filter(F.col("win.end") > F.col("w"))
        .groupBy(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("groups_held"),
            F.sum("n").cast("bigint").alias("events_represented"),
        )
    )


@_q(
    "s_session_state_audit",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 30 MINUTES
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sess AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM gaps
    ),
    agg AS (
      SELECT user_id, max(ts) AS last_ts, count(*) AS n
      FROM sess GROUP BY user_id, session_id
    )
    SELECT time_bucket(INTERVAL 1 HOUR, last_ts) AS bucket,
           CAST(count(*) AS BIGINT) AS sessions_held,
           CAST(sum(n) AS BIGINT) AS events_merged
    FROM agg
    WHERE last_ts + INTERVAL 30 MINUTES
          > (SELECT max(ts) - INTERVAL 1 HOUR FROM events)
    GROUP BY 1
    """,
)
def s_session_state_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-size/eviction audit for the session-window aggregation
    family (s_session_windows / s_session_flags): merged sessions still
    HELD in sessionWindowStateStoreSave once bounded replay reaches the
    terminal watermark, bucketed by the hour of each session's last
    activity, with the event count merged into those session rows.

    Eviction model: a session closes at ``last event + 30 min gap``
    (Spark session_window semantics, the same arithmetic
    s_session_windows' emitted-set oracle uses), and append mode purges
    a session when the watermark reaches that close — so the state
    holds exactly the sessions with ``last_ts + 30 min > wm``,
    wm = max(ts) − 1 h: one MERGED row per open session, however many
    events it absorbed (``events_merged`` shows the collapse ratio).
    This is the number a production session-window job's memory scales
    with — open sessions, not events — and the audit makes it
    observable per activity bucket so a stuck-open-session regression
    (e.g. a gap misconfigured to hours) shows up as a growing tail
    instead of an executor OOM.
    ``tests/test_streaming.py::test_session_state_audit_matches_live_state_rows``
    runs the REAL session-window aggregation and asserts the engine's
    stateOperators numRowsTotal equals this audit's sessions_held
    total. Plan shape: gaps-and-islands over a single user_id-keyed
    exchange (the shuffle any sessionization pays) + a 1-row watermark
    scalar broadcast."""
    from pyspark.sql import Window as W

    from keycloak_event_stream_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    wm = ev.agg(
        (F.max("ts") - F.expr("INTERVAL 1 HOUR")).alias("w")
    )
    w_user = W.partitionBy("user_id").orderBy("ts")
    sessions = (
        ev.select("user_id", "ts")
        .withColumn("prev_ts", F.lag("ts").over(w_user))
        .withColumn(
            "new_session",
            F.when(
                F.col("prev_ts").isNull()
                | (
                    F.col("ts").cast("double") - F.col("prev_ts").cast("double")
                    > 1800.0
                ),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "session_id",
            F.sum("new_session").over(
                w_user.rowsBetween(W.unboundedPreceding, 0)
            ),
        )
        .groupBy("user_id", "session_id")
        .agg(
            F.max("ts").alias("last_ts"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return (
        sessions.crossJoin(F.broadcast(wm))
        .filter(
            F.col("last_ts") + F.expr("INTERVAL 30 MINUTES") > F.col("w")
        )
        .groupBy(F.date_trunc("hour", F.col("last_ts")).alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("sessions_held"),
            F.sum("n").cast("bigint").alias("events_merged"),
        )
    )


@_q(
    "s_dedup_state_audit",
    oracle="""
    WITH k AS (
      SELECT user_id, event_type, min(ts) AS first_ts, count(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT time_bucket(INTERVAL 1 HOUR, first_ts) AS bucket,
           CAST(count(*) AS BIGINT) AS keys_held,
           CAST(sum(n) AS BIGINT) AS events_collapsed
    FROM k GROUP BY 1
    """,
)
def s_dedup_state_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-size audit for the streaming dedup key store
    (s_stream_dedup's ``dropDuplicates`` operator — r6 verdict #6,
    completing the audit discipline across all four stateful store
    families): distinct (user_id, event_type) keys HELD in the dedupe
    state store, bucketed by the hour of each key's first appearance,
    with the event count each immortal key row collapsed.

    Eviction model: there is NONE — and that is the point. Watermarked
    ``dropDuplicates`` evicts a key only when the event-time column is
    part of the dedup subset; s_stream_dedup dedups on
    (user_id, event_type) alone, so every key ever seen stays in the
    store forever (verified: the engine's ``dedupe`` numRowsTotal
    equals the distinct-key count exactly, zero evictions after the
    terminal watermark —
    ``tests/test_streaming.py::test_dedup_state_audit_matches_live_state_rows``
    pins it). The audit makes the unbounded-store footgun a measured
    curve instead of a surprise OOM: keys_held per first-seen hour IS
    the store's growth rate, and a production fix is either putting
    the event-time bucket in the key (the
    q_window_count_if-style hour-bucket dedup) or
    ``dropDuplicatesWithinWatermark``, whose per-key expiry
    (first-arrival event time + delay) bounds the store at the cost of
    arrival-order-dependent state —
    ``tests/test_streaming.py::test_dedup_within_watermark_store_is_bounded``
    pins THAT store's eviction against the same engine counter with
    order-controlled batches. Plan shape: one (user_id, event_type)
    aggregate then a bucket regroup — hashes and counts on the wire,
    no state of its own. Reference parity: the reference's event store
    never dedups (append-only Firehose put,
    FirehoseEventStoreProvider.java:123-150); this is north-star
    pipeline tooling."""
    from keycloak_event_stream_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    keys = ev.groupBy("user_id", "event_type").agg(
        F.min("ts").alias("first_ts"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        keys.groupBy(
            F.date_trunc("hour", F.col("first_ts")).alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("keys_held"),
            F.sum("n").cast("bigint").alias("events_collapsed"),
        )
    )
