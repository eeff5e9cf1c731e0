"""Streaming semantics on controlled multi-batch input: watermark
late-data dropping (SURVEY §5.2 item 3) and the partitioned ingest
layout.

Spark pins the late-event filter one micro-batch behind eviction
(``watermarkForLateEvents`` = previous batch's eviction watermark), so a
row is dropped only when the watermark had crossed its window *before
its batch began* — hence the three-batch arrangement below.
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def three_batch_source(spark, tmp_path):
    """Three parquet files processed as three micro-batches
    (maxFilesPerTrigger=1, ordered by mtime):

    - f=1 events at 10:05, 10:20, 13:00  -> eviction wm 12:00 after b0
    - f=2 event at 12:30                 -> b1 emits the closed 10:00
      window (n=2); late-filter wm catches up to 12:00
    - f=3 late event 10:40 (DROPPED: window closed before its batch) +
      event 14:30 -> final wm 13:30 closes the 12:00 window
    """
    src = str(tmp_path / "src")
    os.makedirs(src)
    schema = "event_id long, ts string, user_id long"

    def write(n, rows):
        df = spark.createDataFrame(rows, schema).selectExpr(
            "event_id", "CAST(ts AS timestamp) ts", "user_id"
        )
        df.coalesce(1).write.parquet(f"{src}/f={n}")
        time.sleep(1.1)  # distinct mtimes order the micro-batches

    write(1, [(1, "2024-01-01 10:05:00", 1), (2, "2024-01-01 10:20:00", 1),
              (3, "2024-01-01 13:00:00", 2)])
    write(2, [(4, "2024-01-01 12:30:00", 1)])
    write(3, [(5, "2024-01-01 10:40:00", 1),   # LATE: dropped
              (6, "2024-01-01 14:30:00", 2)])
    return src, "event_id long, ts timestamp, user_id long"


def test_watermark_drops_late_rows(spark, tmp_path, three_batch_source):
    src, schema = three_batch_source
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/f=*")
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    name = "wm_test_sink"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emitted = {
        r["window"]["start"].hour: r["n"] for r in spark.table(name).collect()
    }
    # 10:00 window: events 1,2 counted; late event 5 DROPPED -> n=2,
    # and no duplicate re-emission of the closed window
    assert emitted.get(10) == 2
    # 12:00 window closed by final watermark (13:30): event 4 counted
    assert emitted.get(12) == 1
    # 13:00/14:00 windows not past watermark -> never emitted
    assert 13 not in emitted and 14 not in emitted


def test_ingest_layout_partitioned_by_event_time(spark, tmp_path):
    from keycloak_event_stream_spark.streaming.queries import s_ingest_flatten

    out = s_ingest_flatten(spark, "/root/testdata/sf0.001")
    got = out.select("dt", "hour").distinct().collect()
    assert len(got) > 1
    assert all(len(r.dt) == 10 and 0 <= r.hour <= 23 for r in got)


def test_stateful_profile_accumulates_across_batches(spark, tmp_path):
    """applyInPandasWithState: state persists between micro-batches —
    the second batch's emission includes the first batch's totals."""
    import os
    import time as _t

    from keycloak_event_stream_spark.streaming.stateful import (
        running_user_profile,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    schema = "user_id long, ts string, value double"

    def write(n, rows):
        spark.createDataFrame(rows, schema).selectExpr(
            "user_id", "CAST(ts AS timestamp) ts", "value"
        ).coalesce(1).write.parquet(f"{src}/f={n}")
        _t.sleep(1.1)

    write(1, [(1, "2024-01-01 10:00:00", 10.0), (1, "2024-01-01 10:01:00", 5.0),
              (2, "2024-01-01 10:02:00", 1.0)])
    write(2, [(1, "2024-01-01 11:00:00", 2.5)])

    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/f=*")
    )
    q = (
        running_user_profile(stream)
        .writeStream.format("memory")
        .queryName("profile_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table("profile_sink").collect()
    # user 1 emitted twice: (2, 15.0) after batch 1, (3, 17.5) after batch 2
    u1 = sorted(
        [(r.n_events, r.total_value, r.last_ts.hour) for r in rows if r.user_id == 1]
    )
    assert u1 == [(2, 15.0, 10), (3, 17.5, 11)]
    u2 = [(r.n_events, r.total_value) for r in rows if r.user_id == 2]
    assert u2 == [(1, 1.0)]


def test_foreach_batch_fan_out_idempotent(spark, tmp_path):
    """foreachBatch multi-sink: one pass per batch feeds two sinks;
    batch-id-keyed overwrite makes replays idempotent."""
    import os

    from keycloak_event_stream_spark.streaming.sinks import (
        fan_out,
        partitioned_batch_sink,
    )

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(i, float(i)) for i in range(20)], "event_id long, value double"
    ).coalesce(1).write.parquet(src)

    out_a, out_b = str(tmp_path / "a"), str(tmp_path / "b")
    counts = []

    def counting_sink(df, bid):
        counts.append((bid, df.count()))

    stream = spark.readStream.schema("event_id long, value double").parquet(src)
    q = (
        stream.writeStream.foreachBatch(
            fan_out(
                partitioned_batch_sink(out_a),
                partitioned_batch_sink(out_b),
                counting_sink,
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert spark.read.parquet(out_a).count() == 20
    assert spark.read.parquet(out_b).count() == 20
    assert counts and all(n > 0 for _, n in counts)
    # idempotence: simulate a replay of batch 0 — same location rewritten
    first = spark.read.parquet(src)
    partitioned_batch_sink(out_a)(first, 0)
    assert spark.read.parquet(out_a).count() == 20  # no duplicates
    assert os.path.isdir(out_a + "/batch_id=0")


def test_update_mode_reemits_changed_groups(spark, tmp_path):
    """Update output mode: a group re-emits each batch its aggregate
    changes; the memory sink accumulates one row per (group, change) —
    the mode for downstream upsert sinks."""
    import os
    import time as _t

    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    os.makedirs(src)
    schema = "user_id long, n long"

    def write(i, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{src}/f={i}"
        )
        _t.sleep(1.1)

    write(1, [(1, 1), (1, 1), (2, 1)])
    write(2, [(1, 1)])
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/f=*")
    )
    agg = stream.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    q = (
        agg.writeStream.format("memory")
        .queryName("upd_sink")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emits = sorted(
        (r.user_id, r.cnt) for r in spark.table("upd_sink").collect()
    )
    # user 1: emitted at cnt=2 (batch 1) and again at cnt=3 (batch 2);
    # user 2: once at cnt=1, not re-emitted (unchanged in batch 2)
    assert emits == [(1, 2), (1, 3), (2, 1)]


def test_checkpoint_restart_picks_up_only_new_files(spark, tmp_path):
    """Exactly-once incremental ingest across job restarts: a second
    availableNow run over the same checkpoint processes only files
    added since the first run — no reprocessing, no loss. This is the
    delivery upgrade over the reference's at-most-once putRecord path
    (FirehoseEventStoreProvider.java:147-149, errors dropped)."""
    import shutil

    from pyspark.sql import functions as F

    src = tmp_path / "src"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    src.mkdir()

    spark.range(0, 100).select(
        F.col("id").alias("event_id")
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "a"))
    for f in (tmp_path / "a").glob("*.parquet"):
        shutil.copy(f, src / "a.parquet")

    def run_once():
        stream = (
            spark.readStream.schema("event_id LONG")
            .parquet(str(src))
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    assert spark.read.parquet(str(out)).count() == 100

    # restart with the same checkpoint after new data lands
    spark.range(100, 150).select(
        F.col("id").alias("event_id")
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "b"))
    for f in (tmp_path / "b").glob("*.parquet"):
        shutil.copy(f, src / "b.parquet")
    run_once()

    got = spark.read.parquet(str(out))
    # 150 rows total, each id exactly once - file a was NOT reprocessed
    assert got.count() == 150
    assert got.select("event_id").distinct().count() == 150


def test_drop_duplicates_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: duplicates arriving within the
    watermark horizon collapse even when their event times differ
    slightly (dropDuplicates would treat them as distinct rows when
    any non-key column differs; the watermark variant dedups by key
    while bounding state — the production shape for at-least-once
    sources feeding exactly-once sinks)."""
    from pyspark.sql import functions as F

    src = tmp_path / "src"
    src.mkdir()
    rows = [(1, "2024-01-01 10:00:00"), (2, "2024-01-01 10:05:00")]
    dup_rows = [(1, "2024-01-01 10:00:30"), (3, "2024-01-01 10:10:00")]
    spark.createDataFrame(rows, "event_id LONG, ts_s STRING").coalesce(
        1
    ).write.mode("overwrite").parquet(str(src / "batch"))

    stream = (
        spark.readStream.schema("event_id LONG, ts_s STRING")
        .parquet(str(src / "batch"))
        .withColumn("ts", F.to_timestamp("ts_s"))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    out = tmp_path / "out"

    def run_once():
        q = (
            stream.writeStream.format("parquet")
            .option("path", str(out))
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    spark.createDataFrame(
        dup_rows, "event_id LONG, ts_s STRING"
    ).coalesce(1).write.mode("append").parquet(str(src / "batch"))
    run_once()
    got = spark.read.parquet(str(out)).select("event_id").collect()
    ids = sorted(r.event_id for r in got)
    # id 1 arrived twice (30s apart, within the 1h watermark) -> once
    assert ids == [1, 2, 3]


def test_transform_with_state_typed_variables(spark, tmp_path):
    """transformWithStateInPandas (Spark 4): ValueState + MapState
    accumulate across micro-batches — batch 2's emission reflects
    batch 1's counts, and the modal type flips when a later type
    overtakes."""
    import os
    import time as _t

    import pytest

    pytest.importorskip(
        "google.protobuf",
        reason="transformWithStateInPandas state protocol needs protobuf",
    )

    from keycloak_event_stream_spark.streaming.stateful import (
        running_user_type_profile,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    schema = "user_id long, ts string, event_type string"

    def write(n, rows):
        spark.createDataFrame(rows, schema).selectExpr(
            "user_id", "CAST(ts AS timestamp) ts", "event_type"
        ).coalesce(1).write.parquet(f"{src}/f={n}")
        _t.sleep(1.1)

    write(1, [(1, "2024-01-01 10:00:00", "click"),
              (1, "2024-01-01 10:01:00", "view"),
              (2, "2024-01-01 10:02:00", "click")])
    write(2, [(1, "2024-01-01 11:00:00", "view"),
              (1, "2024-01-01 11:01:00", "view")])

    stream = (
        spark.readStream.schema("user_id long, ts timestamp, event_type string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/f=*")
    )
    q = (
        running_user_type_profile(stream)
        .writeStream.format("memory")
        .queryName("type_profile_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table("type_profile_sink").collect()
    u1 = sorted(
        (r.n_events, r.n_distinct_types, r.top_type, r.last_ts.hour)
        for r in rows
        if r.user_id == 1
    )
    # batch1: 2 events, tie click/view -> 'click' (name asc);
    # batch2: 4 events, view=3 overtakes -> 'view'
    assert u1 == [(2, 2, "click", 10), (4, 2, "view", 11)]
    u2 = [
        (r.n_events, r.n_distinct_types, r.top_type)
        for r in rows
        if r.user_id == 2
    ]
    assert u2 == [(1, 1, "click")]


def test_transform_with_state_processor_logic():
    """The StatefulProcessor's per-key fold is plain Python — pin its
    semantics (count accumulation, modal tie-break, last-ts max) with
    stub state, independent of the protobuf-backed runtime."""
    import pandas as pd

    from keycloak_event_stream_spark.streaming.stateful import (
        UserTypeProfileProcessor,
    )

    class StubValue:
        def __init__(self):
            self.v = None

        def exists(self):
            return self.v is not None

        def get(self):
            return self.v

        def update(self, v):
            self.v = v

    class StubMap:
        def __init__(self):
            self.d = {}

        def containsKey(self, k):
            return k in self.d

        def getValue(self, k):
            return self.d.get(k)

        def updateValue(self, k, v):
            self.d[k] = v

        def iterator(self):
            return iter(self.d.items())

    p = UserTypeProfileProcessor()
    p._totals = StubValue()
    p._type_counts = StubMap()

    batch1 = pd.DataFrame(
        {
            "ts": pd.to_datetime(
                ["2024-01-01 10:00:00", "2024-01-01 10:01:00"]
            ),
            "event_type": ["click", "view"],
        }
    )
    (out1,) = list(p.handleInputRows((1,), iter([batch1]), None))
    assert out1["n_events"].iloc[0] == 2
    assert out1["top_type"].iloc[0] == "click"  # tie -> name asc

    batch2 = pd.DataFrame(
        {
            "ts": pd.to_datetime(
                ["2024-01-01 11:00:00", "2024-01-01 11:01:00"]
            ),
            "event_type": ["view", "view"],
        }
    )
    (out2,) = list(p.handleInputRows((1,), iter([batch2]), None))
    assert out2["n_events"].iloc[0] == 4
    assert out2["n_distinct_types"].iloc[0] == 2
    assert out2["top_type"].iloc[0] == "view"  # overtaken
    assert out2["last_ts"].iloc[0].hour == 11


def test_upsert_latest_takes_newest_across_batches(spark, tmp_path):
    """Multi-batch upsert: a later batch's row replaces the earlier
    state for the same key; untouched keys survive."""
    import os
    import time as _t

    import datetime as dt

    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    os.makedirs(src)
    schema = (
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props map<string,string>"
    )

    def write(n, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{src}/f={n}"
        )
        _t.sleep(1.1)

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    t1 = dt.datetime(2024, 1, 1, 11, 0, 0)
    write(1, [(1, t0, 7, "click", 1.0, None), (2, t0, 8, "view", 2.0, None)])
    write(2, [(3, t1, 7, "purchase", 9.0, None)])  # newer row for user 7

    import tempfile

    state = str(tmp_path / "state")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/f=*")
    )
    latest_struct = F.max(F.struct("ts", "event_id", "value")).alias("latest")

    def upsert(batch, batch_id):
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
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    final = {
        r.user_id: (r.event_id, r.value)
        for r in spark.read.parquet(state)
        .groupBy("user_id")
        .agg(latest_struct)
        .select(
            "user_id",
            F.col("latest.event_id").alias("event_id"),
            F.col("latest.value").alias("value"),
        )
        .collect()
    }
    assert final[7] == (3, 9.0)  # batch-2 row won
    assert final[8] == (2, 2.0)  # untouched key survives


def test_stateful_profile_rocksdb_checkpoint_restart(spark, tmp_path):
    """The production state-store path: run the applyInPandasWithState
    profile under the RocksDB state store provider (the 100 TB
    configuration — state off-heap, incrementally checkpointed), stop
    the query, append new data, and RESTART from the same checkpoint.
    The restarted query must resume from persisted RocksDB state — the
    second emission includes the first run's totals, proving state
    survives a full query (and store) lifecycle, not just consecutive
    micro-batches inside one run."""
    import os
    import time as _t

    from keycloak_event_stream_spark.streaming.stateful import (
        running_user_profile,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    schema = "user_id long, ts string, value double"

    def write(n, rows):
        spark.createDataFrame(rows, schema).selectExpr(
            "user_id", "CAST(ts AS timestamp) ts", "value"
        ).coalesce(1).write.parquet(f"{src}/f={n}")
        _t.sleep(1.1)

    prov_key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(prov_key, None)
    spark.conf.set(
        prov_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        out = str(tmp_path / "out")

        def run_once():
            # parquet sink: the checkpoint-recoverable sink (memory
            # sinks refuse restart-from-checkpoint by design)
            stream = (
                spark.readStream.schema(
                    "user_id long, ts timestamp, value double"
                )
                .option("maxFilesPerTrigger", "1")
                .parquet(src + "/f=*")
            )
            q = (
                running_user_profile(stream)
                .writeStream.format("parquet")
                .option("path", out)
                .outputMode("append")
                .option("checkpointLocation", str(tmp_path / "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        write(1, [(1, "2024-01-01 10:00:00", 10.0),
                  (1, "2024-01-01 10:01:00", 5.0)])
        run_once()
        got1 = [
            (r.n_events, r.total_value)
            for r in spark.read.parquet(out).collect()
            if r.user_id == 1
        ]
        assert got1 == [(2, 15.0)]

        # second lifecycle: new file, fresh query object, SAME checkpoint
        write(2, [(1, "2024-01-01 11:00:00", 2.5)])
        run_once()
        got2 = sorted(
            (r.n_events, r.total_value, r.last_ts.hour)
            for r in spark.read.parquet(out).collect()
            if r.user_id == 1
        )
        # totals continue from RocksDB state: 3 events, 17.5 — not 1, 2.5
        assert got2 == [(2, 15.0, 10), (3, 17.5, 11)]
    finally:
        if old is None:
            spark.conf.unset(prov_key)
        else:
            spark.conf.set(prov_key, old)


@pytest.mark.parametrize("how", ["left_outer", "full_outer", "left_semi"])
def test_stream_stream_join_state_survives_restart(spark, tmp_path, how):
    """Outer/semi stream-stream JOIN state across a full query
    lifecycle (r5 verdict #5): run the production join topology
    (streaming/queries.py::purchase_click_stream_join — the same
    builder the registered s_stream_stream_* queries use) under the
    RocksDB state store provider, stop after it drains the first file,
    land new data — including the click that matches a purchase HELD
    IN JOIN STATE from before the stop — restart from the same
    checkpoint, and assert the union of both runs' emissions equals an
    uninterrupted run over all the data. This is the production
    failure mode the bounded-replay oracles don't touch: a buffered
    left row must survive the store's save/load cycle to either match
    a post-restart right row or emit NULL-padded when the watermark
    finally passes its window."""
    import shutil

    from keycloak_event_stream_spark.streaming.queries import (
        purchase_click_stream_join,
    )

    schema = "event_id LONG, user_id LONG, event_type STRING, ts_s STRING"
    rows1 = [
        (1, 1, "purchase", "2024-01-01 10:00:00"),  # matched in run 1
        (2, 2, "purchase", "2024-01-01 10:05:00"),  # matched AFTER restart
        (3, 3, "purchase", "2024-01-01 10:10:00"),  # never matched
        (100, 1, "click", "2024-01-01 10:30:00"),
        (101, 9, "click", "2024-01-01 10:15:00"),  # click with no purchase
    ]
    rows2 = [
        (102, 2, "click", "2024-01-01 10:50:00"),  # matches held P2 state
        # watermark pushers: terminal wm = 19:00 on both sides, so every
        # pre-11:00 unmatched row evicts; the pushers themselves stay held
        (4, 7, "purchase", "2024-01-01 20:00:00"),
        (103, 8, "click", "2024-01-01 20:00:00"),
    ]

    def write_file(d, name, rows):
        spark.createDataFrame(rows, schema).selectExpr(
            "event_id", "user_id", "event_type", "CAST(ts_s AS timestamp) ts"
        ).coalesce(1).write.parquet(f"{d}/f={name}")

    def run(src, out, ckpt):
        stream = (
            spark.readStream.schema(
                "event_id LONG, user_id LONG, event_type STRING, ts TIMESTAMP"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/f=*")
        )
        joined = purchase_click_stream_join(stream, stream, how)
        q = (
            joined.writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def read_rows(out):
        cols = (
            ["purchase_id", "user_id", "purchase_ts"]
            if how == "left_semi"
            else ["purchase_id", "click_id", "user_id", "purchase_ts", "click_ts"]
        )
        rows = [
            tuple(getattr(r, c) for c in cols)
            for r in spark.read.parquet(out).select(*cols).collect()
        ]
        # NULL-padded outer rows: sort with None-first tuple keys
        return sorted(rows, key=lambda t: tuple((v is None, v) for v in t))

    prov_key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(prov_key, None)
    spark.conf.set(
        prov_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        # interrupted lifecycle: file 1 -> run -> stop -> file 2 -> restart
        src_a = str(tmp_path / "src_a")
        os.makedirs(src_a)
        write_file(src_a, "1", rows1)
        run(src_a, str(tmp_path / "out_a"), str(tmp_path / "ckpt_a"))
        time.sleep(1.1)  # distinct file mtimes -> deterministic batch order
        write_file(src_a, "2", rows2)
        run(src_a, str(tmp_path / "out_a"), str(tmp_path / "ckpt_a"))
        interrupted = read_rows(str(tmp_path / "out_a"))

        # uninterrupted twin: same files, one lifecycle, fresh checkpoint
        src_b = str(tmp_path / "src_b")
        os.makedirs(src_b)
        shutil.copytree(f"{src_a}/f=1", f"{src_b}/f=1")
        shutil.copytree(f"{src_a}/f=2", f"{src_b}/f=2")
        run(src_b, str(tmp_path / "out_b"), str(tmp_path / "ckpt_b"))
        uninterrupted = read_rows(str(tmp_path / "out_b"))
    finally:
        if old is None:
            spark.conf.unset(prov_key)
        else:
            spark.conf.set(prov_key, old)

    assert interrupted == uninterrupted
    # the cross-restart proof: purchase 2 was buffered unmatched before
    # the stop and its click (102) arrived only after the restart
    matched_p2 = [t for t in interrupted if t[0] == 2]
    if how == "left_semi":
        assert matched_p2 == [(2, 2, matched_p2[0][2])]  # emitted exactly once
    else:
        assert len(matched_p2) == 1 and matched_p2[0][1] == 102
        # purchase 3 never matched: NULL click side after eviction
        p3 = [t for t in interrupted if t[0] == 3]
        assert len(p3) == 1 and p3[0][1] is None
        if how == "full_outer":
            # click 101 has no purchase: NULL purchase side
            c101 = [t for t in interrupted if t[1] == 101]
            assert len(c101) == 1 and c101[0][0] is None


def test_join_state_audit_matches_live_state_rows(spark, tmp_path):
    """s_join_state_audit's analytic eviction model must equal the
    ENGINE's own accounting: run the real stream-stream left join to
    terminal watermark and compare Spark's stateOperators
    numRowsTotal (the symmetricHashJoin store's surviving rows) with
    the audit's rows_held total. This pins the audit to the state
    store, the same discipline as the batch family's sketch/zone-map
    evals (estimate checked against exact, not asserted)."""
    from keycloak_event_stream_spark.streaming import queries as SQ
    from tests.conftest import SF_DIR

    s1 = SQ.read_stream_events(spark, SF_DIR)
    s2 = SQ.read_stream_events(spark, SF_DIR)
    joined = SQ.purchase_click_stream_join(s1, s2, "left_outer")
    q = (
        joined.writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    ops = q.lastProgress["stateOperators"]
    assert ops and ops[0]["operatorName"] == "symmetricHashJoin"
    live_rows = ops[0]["numRowsTotal"]
    audit = SQ.s_join_state_audit(spark, SF_DIR).collect()
    assert live_rows == sum(r.rows_held for r in audit)
    assert live_rows > 0  # non-vacuous: some state survives the replay


def test_window_state_audit_matches_live_state_rows(spark, tmp_path):
    """s_window_state_audit's analytic eviction model must equal the
    engine's accounting: run the real append-mode tumbling aggregation
    to terminal watermark and compare stateOperators numRowsTotal (the
    stateStoreSave's surviving group rows) with the audit's
    groups_held total."""
    from pyspark.sql import functions as F

    from keycloak_event_stream_spark.streaming import queries as SQ
    from tests.conftest import SF_DIR

    stream = SQ.read_stream_events(spark, SF_DIR)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        agg.writeStream.format("noop")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    ops = q.lastProgress["stateOperators"]
    assert ops and ops[0]["operatorName"] == "stateStoreSave"
    live_rows = ops[0]["numRowsTotal"]
    audit = SQ.s_window_state_audit(spark, SF_DIR).collect()
    assert live_rows == sum(r.groups_held for r in audit)
    assert live_rows > 0  # non-vacuous: some state survives the replay


def test_session_state_audit_matches_live_state_rows(spark, tmp_path):
    """s_session_state_audit's analytic eviction model must equal the
    engine's accounting: run the real append-mode session-window
    aggregation to terminal watermark and compare stateOperators
    numRowsTotal (one surviving row per open merged session) with the
    audit's sessions_held total."""
    from pyspark.sql import functions as F

    from keycloak_event_stream_spark.streaming import queries as SQ
    from tests.conftest import SF_DIR

    stream = SQ.read_stream_events(spark, SF_DIR)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    q = (
        agg.writeStream.format("noop")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    ops = q.lastProgress["stateOperators"]
    assert ops and ops[0]["operatorName"] == "sessionWindowStateStoreSaveExec"
    live_rows = ops[0]["numRowsTotal"]
    audit = SQ.s_session_state_audit(spark, SF_DIR).collect()
    assert live_rows == sum(r.sessions_held for r in audit)
    assert live_rows > 0  # non-vacuous: some state survives the replay


def test_dedup_state_audit_matches_live_state_rows(spark, tmp_path):
    """s_dedup_state_audit's no-eviction model must equal the engine's
    accounting: run the real watermarked dropDuplicates (event-time
    column NOT in the dedup subset — s_stream_dedup's shape) to the
    terminal watermark and compare the dedupe operator's numRowsTotal
    with the audit's keys_held total. Equality here PROVES the store
    is unbounded: every distinct key ever seen is still resident."""
    from keycloak_event_stream_spark.streaming import queries as SQ
    from tests.conftest import SF_DIR

    stream = SQ.read_stream_events(spark, SF_DIR)
    dd = (
        stream.withWatermark("ts", "1 hour")
        .dropDuplicates(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    q = (
        dd.writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    ops = q.lastProgress["stateOperators"]
    assert ops and ops[0]["operatorName"] == "dedupe"
    live_rows = ops[0]["numRowsTotal"]
    audit = SQ.s_dedup_state_audit(spark, SF_DIR).collect()
    assert live_rows == sum(r.keys_held for r in audit)
    assert live_rows > 0  # non-vacuous: the fixture has repeated keys


def test_dedup_within_watermark_store_is_bounded(spark, tmp_path):
    """dropDuplicatesWithinWatermark's key store DOES evict — the
    bounded counterpart s_dedup_state_audit's docstring points to.
    Order-controlled batches pin the engine's expiry model: an entry
    expires at first-arrival event time + delay, purge runs at batch
    END (so an expired-but-unpurged entry STILL swallows a duplicate
    arriving in the purge batch — conservative in the dropping
    direction), and a key re-admits (and re-emits) only in a batch
    after its purge. The terminal store holds only unexpired keys."""
    import os as _os
    import time as _time

    src = str(tmp_path / "ddw_src")
    _os.makedirs(src)

    def write(n, rows):
        df = spark.createDataFrame(
            rows, "user_id long, ts string"
        ).selectExpr("user_id", "CAST(ts AS timestamp) ts")
        df.coalesce(1).write.parquet(f"{src}/f={n}")
        _time.sleep(1.1)  # distinct mtimes order the micro-batches

    # b0: u1@10:00 (expires 11:00), u2@10:30 (expires 11:30)
    write(1, [(1, "2024-01-01 10:00:00"), (2, "2024-01-01 10:30:00")])
    # b1: u3@13:00 (expires 14:00); advances wm to 12:00 for b2
    write(2, [(3, "2024-01-01 13:00:00")])
    # b2: u1@13:30 — u1's entry is EXPIRED (11:00 < wm 12:00) but the
    # purge only runs at batch end, so this row is still DROPPED as a
    # duplicate; the batch then purges u1 and u2 (numRowsRemoved=2)
    write(3, [(1, "2024-01-01 13:30:00")])
    # b3: u1@14:30 — u1 was purged at the end of b2, so this is a
    # FRESH entry (expires 15:30) and the row is re-emitted
    write(4, [(1, "2024-01-01 14:30:00")])

    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/f=*")
    )
    dd = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["user_id"]
    )
    q = (
        dd.writeStream.format("memory")
        .queryName("ddw_probe")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    ops = q.lastProgress["stateOperators"]
    assert ops and ops[0]["operatorName"] == "dedupeWithinWatermark"
    # terminal wm 13:30: u3 (expires 14:00) and the re-admitted u1
    # (expires 15:30) survive; the original u1/u2 entries were purged
    assert ops[0]["numRowsTotal"] == 2
    removed = [
        pr["stateOperators"][0]["numRowsRemoved"]
        for pr in q.recentProgress
        if pr["stateOperators"]
    ]
    assert max(removed) == 2  # the b2 purge of the expired u1 and u2
    out = spark.sql("SELECT user_id, ts FROM ddw_probe").collect()
    # u1@13:30 swallowed by the expired-unpurged entry; u1@14:30 fresh
    assert sorted((r.user_id, str(r.ts)) for r in out) == [
        (1, "2024-01-01 10:00:00"),
        (1, "2024-01-01 14:30:00"),
        (2, "2024-01-01 10:30:00"),
        (3, "2024-01-01 13:00:00"),
    ]


def test_replay_scope_derives_width_and_restores_conf(spark):
    """The bounded-replay width scope (_run_to_memory): under a
    corpus-sized session width (200), a registered replay must run its
    stateful query at the input-derived width — max(4, min(session,
    rows // 8192 + 1)) — note the row count and the override (never a
    silent re-regime), restore the session conf afterwards, and return
    exactly the batch-equivalent result (the 12x state-store overhead
    diagnosis, BASELINE.md "Round 8 — measured r9 head item")."""
    import pyarrow.parquet as pq

    from keycloak_event_stream_spark.catalog import load_table, notes, table_path
    from keycloak_event_stream_spark.streaming import queries as sq
    from tests.conftest import SF_DIR

    n_events = pq.ParquetFile(table_path(SF_DIR, "events")).metadata.num_rows
    assert sq._events_rows(SF_DIR) == n_events  # memoized footer count

    was = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    try:
        out = sq.s_stream_dedup(spark, SF_DIR)
        got = {(r.user_id, r.event_type) for r in out.collect()}
        # conf restored to the caller's width the moment the run ends
        assert spark.conf.get("spark.sql.shuffle.partitions") == "200"
        assert notes()["replay_rows"] == n_events
        [(key, parts, parts_was)] = notes()["conf"]
        assert key == "spark.sql.shuffle.partitions"
        assert parts == str(
            max(4, min(200, n_events // sq._REPLAY_ROWS_PER_PART + 1))
        )
        assert parts_was == "200"
        # re-widthed replay is result-identical to the batch DISTINCT
        exp = {
            (r.user_id, r.event_type)
            for r in load_table(spark, SF_DIR, "events")
            .select("user_id", "event_type")
            .distinct()
            .collect()
        }
        assert got == exp
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", was)


def test_replay_grain_follows_fixture_volume():
    """The ingest replays choose partition grain from footer metadata:
    expected rows-per-dir must clear _REPLAY_MIN_ROWS_PER_DIR at the
    kept level (the 720-dir small-files diagnosis — 12.9-18 s of
    per-file commit cost for a 10k-row fixture; BASELINE.md "Round 9 —
    ingest replay partition grain")."""
    from keycloak_event_stream_spark.catalog import footer_rows, footer_ts_range
    from keycloak_event_stream_spark.streaming.queries import (
        _REPLAY_MIN_ROWS_PER_DIR,
        _replay_grain,
    )
    from tests.conftest import SF_DIR

    grain = _replay_grain(SF_DIR)
    rows = footer_rows(SF_DIR, "events")
    lo, hi = footer_ts_range(SF_DIR, "events")
    days = max((hi - lo).total_seconds() / 86400.0, 1.0)
    hours = days * 24
    # the chosen grain clears the floor; the next-finer one does not
    if grain == ("dt", "hour"):
        assert rows / hours >= _REPLAY_MIN_ROWS_PER_DIR
    elif grain == ("dt",):
        assert rows / days >= _REPLAY_MIN_ROWS_PER_DIR
        assert rows / hours < _REPLAY_MIN_ROWS_PER_DIR
    else:
        assert grain == ()
        assert rows / days < _REPLAY_MIN_ROWS_PER_DIR


def test_ingest_grain_validation_and_result_invariance(spark, tmp_path):
    """grain must be a dt/hour prefix (anything else raises), the
    production default stays the full dt/hour layout, and a coarser
    grain changes ONLY the directory layout — the landed rows are
    identical because columns not in the grain remain data columns."""
    import pytest as _pytest

    from keycloak_event_stream_spark.sources.keycloak import (
        KeycloakEventStore,
    )

    with _pytest.raises(ValueError, match="dt/hour prefix"):
        KeycloakEventStore._check_grain(("hour",))
    with _pytest.raises(ValueError, match="dt/hour prefix"):
        KeycloakEventStore._check_grain(("dt", "hour", "minute"))

    lines = spark.createDataFrame(
        [
            (
                '{"id":"e%d","type":"LOGIN","realmId":"r1",'
                '"userId":"u%d","time":%d}'
                % (i, i % 3, 1704067200000 + i * 3_600_000),
            )
            for i in range(8)
        ],
        "value string",
    )
    landed = {}
    for grain in (("dt", "hour"), ("dt",), ()):
        wire = str(tmp_path / f"wire_{len(grain)}")
        lines.write.mode("overwrite").text(wire)
        store = KeycloakEventStore(
            spark, str(tmp_path / f"store_{len(grain)}")
        )
        q = store.ingest_stream_json(
            spark.readStream.text(wire),
            checkpoint=str(tmp_path / f"ckpt_{len(grain)}"),
            grain=grain,
        )
        q.awaitTermination()
        rows = sorted(
            (r.id, r.eventtype, r.userid, r.time, str(r.dt), int(r.hour))
            for r in store.user_events().collect()
        )
        landed[grain] = rows
        # dir layout really differs per grain
        import os as _os

        user_dir = f"{store.root}/user-events"
        entries = [
            e for e in _os.listdir(user_dir) if e.startswith("dt=")
        ]
        assert bool(entries) == ("dt" in grain)
    assert landed[("dt", "hour")] == landed[("dt",)] == landed[()]


def test_footer_ts_range_handles_directory_layout(spark, tmp_path):
    """footer_ts_range must aggregate min/max stats across a DIRECTORY
    of part files (the 10x replica layout), and fall back to
    (None, None) — grain conservatively stays dt/hour — when the
    column carries no stats (e.g. Spark's default INT96 timestamps,
    which parquet writes statless) or does not exist."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from keycloak_event_stream_spark.catalog import footer_ts_range

    # pyarrow-written directory (micros + stats, the fixture format)
    out = tmp_path / "events.parquet"
    out.mkdir()
    base = dt.datetime(2024, 1, 1)
    for i in range(4):
        tbl = pa.table(
            {"ts": [base + dt.timedelta(hours=25 * i + j) for j in range(25)]}
        )
        pq.write_table(tbl, str(out / f"part-{i}.parquet"))
    lo, hi = footer_ts_range(str(tmp_path), "events")
    assert (lo, hi) == (base, base + dt.timedelta(hours=99))
    # unknown column -> span unknown
    assert footer_ts_range(str(tmp_path), "events", column="nope") == (
        None,
        None,
    )
    # Spark INT96 timestamps: no stats -> (None, None) fallback
    out2 = str(tmp_path / "noss" / "events.parquet")
    spark.range(10).select(
        F.timestamp_seconds(F.lit(1704067200) + F.col("id")).alias("ts")
    ).write.parquet(out2)
    assert footer_ts_range(str(tmp_path / "noss"), "events") == (None, None)


def test_read_stream_events_directory_layout(spark, tmp_path):
    """A Spark-written events table is a DIRECTORY of part files (the
    scale replicas, any real ingest output). The original source
    glob-filtered the parent on the table's basename — pathGlobFilter
    matches leaf FILE names, so a directory matched nothing and the
    replay silently processed zero rows (caught by the round-10 100x
    streaming leg reporting an impossible 0.3x ratio). Pin: a
    directory-layout events table streams every row; the single-file
    fixture path stays covered by every other test in this file."""
    from keycloak_event_stream_spark.streaming import queries as SQ

    sf_dir = str(tmp_path)
    (
        spark.range(100)
        .selectExpr(
            "id AS event_id",
            "id % 7 AS user_id",
            "timestamp_micros(cast(1704067200000000 + id * 60000000 as long)) AS ts",
            "CASE WHEN id % 2 = 0 THEN 'view' ELSE 'click' END AS event_type",
            "cast(id as double) AS value",
        )
        .repartition(4)
        .write.parquet(os.path.join(sf_dir, "events.parquet"))
    )
    stream = SQ.read_stream_events(spark, sf_dir)
    counted = stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    out = SQ._run_to_memory(counted, "complete", rows=100)
    got = {r.event_type: r.n for r in out.collect()}
    assert got == {"view": 50, "click": 50}
