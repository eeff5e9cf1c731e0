"""Custom Python DataSource: the reference's push source, Spark-native.

The reference ingests by callback — Keycloak pushes each event into the
provider (``FirehoseEventStoreProvider.java:67-76``). Spark inverts
that: sources are pull-based and partitioned. This module re-expresses
the push source as a Spark 4 Python DataSource (``pyspark.sql.
datasource``) — the idiomatic extension point for "rows that don't live
in files": the cluster asks each partition reader for its slice, so
ingest parallelism is declared, not hand-scheduled.

The generator is deterministic pure-integer arithmetic on the row
index (Knuth multiplicative hashing — public domain constant 2654435761
= floor(2^32/phi)), which makes a *generated* source fully
oracle-checkable: DuckDB reproduces the identical rows from
``generate_series``. No RNG, no wall clock.

Scale: ``partitions`` slices the id range evenly; each slice streams
tuples without materializing the slice (generator, O(1) memory). A
production variant points the same reader class at a queue/topic
offset range per partition — the shape is what matters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from keycloak_event_stream_spark.registry import register as _q

try:  # Spark >= 4: Python DataSource API
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    _HAVE_DATASOURCE = True
except ImportError:  # pragma: no cover - older Spark
    DataSource = object  # type: ignore[assignment,misc]
    DataSourceReader = object  # type: ignore[assignment,misc]
    InputPartition = object  # type: ignore[assignment,misc]
    _HAVE_DATASOURCE = False


_TYPES = ["LOGIN", "LOGOUT", "REGISTER", "CODE_TO_TOKEN"]
_KNUTH = 2654435761  # floor(2^32 / golden ratio), Knuth 1973


def _row(i: int) -> tuple:
    """One synthetic event from its index — shared single source of
    truth for the reader; the oracle SQL mirrors it expression by
    expression."""
    return (
        i,
        (i * _KNUTH) % 100,
        _TYPES[i % 4],
        float((i * _KNUTH) % 1_000_000) / 100.0,
    )


class _RangeSlice(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


class SyntheticEventsReader(DataSourceReader):
    def __init__(self, options):
        self.n = int(options.get("n", 1000))
        self.parts = int(options.get("partitions", 8))

    def partitions(self):
        step = max(1, -(-self.n // self.parts))  # ceil division
        return [
            _RangeSlice(lo, min(lo + step, self.n))
            for lo in range(0, self.n, step)
        ]

    def read(self, partition):
        for i in range(partition.start, partition.end):
            yield _row(i)


class SyntheticEventsDataSource(DataSource):
    """``spark.read.format("keycloak_synth").option("n", N)`` — a
    partitioned, deterministic event generator with the reference's
    flat user-event shape (S4 column naming)."""

    @classmethod
    def name(cls) -> str:
        return "keycloak_synth"

    def schema(self) -> str:
        return (
            "event_id bigint, user_id bigint, eventtype string,"
            " amount double"
        )

    def reader(self, schema) -> SyntheticEventsReader:
        return SyntheticEventsReader(self.options)


def register(spark: SparkSession) -> None:
    if _HAVE_DATASOURCE:
        spark.dataSource.register(SyntheticEventsDataSource)


@_q(
    "q_source_pushgen",
    oracle=f"""
    SELECT i AS event_id,
           (i * {_KNUTH}) % 100 AS user_id,
           ['LOGIN', 'LOGOUT', 'REGISTER', 'CODE_TO_TOKEN'][1 + (i % 4)]
             AS eventtype,
           CAST((i * {_KNUTH}) % 1000000 AS DOUBLE) / 100.0 AS amount
    FROM (SELECT unnest(generate_series(0, 4999)) AS i)
    """,
)
def q_source_pushgen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read 5000 events from the custom Python DataSource across 8
    declared partitions. The DuckDB oracle regenerates the identical
    rows from generate_series — proving the source is a real
    partition-parallel Spark scan with exact, reproducible contents."""
    register(spark)
    return (
        spark.read.format("keycloak_synth")
        .option("n", 5000)
        .option("partitions", 8)
        .load()
    )


try:  # streaming flavor of the Python DataSource API
    from pyspark.sql.datasource import SimpleDataSourceStreamReader

    _HAVE_STREAM = True
except ImportError:  # pragma: no cover
    SimpleDataSourceStreamReader = object  # type: ignore[assignment,misc]
    _HAVE_STREAM = False


class SyntheticEventsStreamReader(SimpleDataSourceStreamReader):
    """Micro-batched replay of the same deterministic generator: each
    read() advances the offset by ``batch`` ids until ``n`` — the
    push-source S1 tx-buffer (events accumulate, flush on commit)
    re-expressed as offset-ranged micro-batches with exactly-once
    bookkeeping done by the engine's offset log, not the source."""

    def __init__(self, options):
        self.n = int(options.get("n", 1000))
        self.batch = int(options.get("batch", 1000))

    def initialOffset(self):
        return {"i": 0}

    def read(self, start):
        lo = start["i"]
        hi = min(lo + self.batch, self.n)
        return iter([_row(i) for i in range(lo, hi)]), {"i": hi}

    def readBetweenOffsets(self, start, end):
        return iter([_row(i) for i in range(start["i"], end["i"])])


class SyntheticEventsStreamSource(SyntheticEventsDataSource):
    @classmethod
    def name(cls) -> str:
        return "keycloak_synth_stream"

    def simpleStreamReader(self, schema) -> SyntheticEventsStreamReader:
        return SyntheticEventsStreamReader(self.options)


def register_stream(spark: SparkSession) -> None:
    if _HAVE_DATASOURCE and _HAVE_STREAM:
        spark.dataSource.register(SyntheticEventsStreamSource)


@_q(
    "s_source_pushgen_stream",
    oracle=f"""
    SELECT i AS event_id,
           (i * {_KNUTH}) % 100 AS user_id,
           ['LOGIN', 'LOGOUT', 'REGISTER', 'CODE_TO_TOKEN'][1 + (i % 4)]
             AS eventtype,
           CAST((i * {_KNUTH}) % 1000000 AS DOUBLE) / 100.0 AS amount
    FROM (SELECT unnest(generate_series(0, 2999)) AS i)
    """,
)
def s_source_pushgen_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom source as a STREAM: 3000 events in 1000-row
    micro-batches through a memory sink. Offsets live in the checkpoint
    log, so a crash mid-batch replays exactly the missing id range —
    the exactly-once upgrade over the reference's fire-and-forget
    putRecord (at-most-once, errors swallowed)."""
    import tempfile

    register_stream(spark)
    stream = (
        spark.readStream.format("keycloak_synth_stream")
        .option("n", 3000)
        .option("batch", 1000)
        .load()
    )
    name = "s_pushgen_sink"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option(
            "checkpointLocation", tempfile.mkdtemp(prefix="ckpt_pushgen_")
        )
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.table(name)


@_q(
    "s_foreachbatch_mv",
    oracle=f"""
    SELECT (i * {_KNUTH}) % 100 AS user_id,
           count(*) AS n_events,
           CAST(sum(CAST(CAST((i * {_KNUTH}) % 1000000 AS DOUBLE) / 100.0
                         AS DECIMAL(27,6))) AS DOUBLE) AS total_amount
    FROM (SELECT unnest(generate_series(0, 2999)) AS i)
    GROUP BY 1
    ORDER BY user_id
    """,
)
def s_foreachbatch_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental materialized view: each micro-batch of the
    push-source stream is aggregated alone and MERGED into a keyed
    state table (count + exact decimal sum per user) via foreachBatch —
    the streaming twin of ``q_incremental_agg``. State versions are
    keyed by batch_id, so a crash-replay of a batch rewrites the same
    version — idempotent, which together with the source's offset log
    gives end-to-end exactly-once (the upgrade over the reference's
    at-most-once ``putRecord``, ``FirehoseEventStoreProvider.java:
    141-150``). Decimal partials make merge order irrelevant, so the
    final state is bit-identical to the one-shot aggregate the oracle
    computes over the regenerated id range. At 100 TB the per-batch
    cost is O(delta + state-partition overlap), never a recompute."""
    import tempfile

    from pyspark.sql import functions as F

    from keycloak_event_stream_spark.operators._exact import DEC

    register_stream(spark)
    stream = (
        spark.readStream.format("keycloak_synth_stream")
        .option("n", 3000)
        .option("batch", 1000)
        .load()
    )
    root = tempfile.mkdtemp(prefix="mv_state_")
    latest: list[str] = []

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        agg = batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("amount").cast(DEC)).alias("s"),
        )
        if latest:
            prev = sp.read.parquet(latest[-1])
            delta = agg.select(
                F.col("user_id").alias("d_user"),
                F.col("n").alias("dn"),
                F.col("s").alias("ds"),
            )
            merged = prev.join(
                delta, prev.user_id == delta.d_user, "full_outer"
            ).select(
                F.coalesce(prev.user_id, delta.d_user).alias("user_id"),
                (
                    F.coalesce(F.col("n"), F.lit(0))
                    + F.coalesce(F.col("dn"), F.lit(0))
                ).alias("n"),
                (
                    F.coalesce(F.col("s"), F.lit(0).cast(DEC))
                    + F.coalesce(F.col("ds"), F.lit(0).cast(DEC))
                ).alias("s"),
            )
        else:
            merged = agg
        path = f"{root}/v{batch_id}"
        merged.write.mode("overwrite").parquet(path)
        latest.append(path)

    q = (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_mv_"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    state = spark.read.parquet(latest[-1])
    return state.select(
        "user_id",
        F.col("n").alias("n_events"),
        F.col("s").cast("double").alias("total_amount"),
    ).orderBy("user_id")


# This module defines code that executes in Python workers; ship it by
# value so executors never need the package importable (see _shipping).
from keycloak_event_stream_spark._shipping import ship_module_by_value

ship_module_by_value(__name__)
