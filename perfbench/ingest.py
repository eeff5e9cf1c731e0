"""Write path: drain a generated drop through ``ingest_stream_json``.

One round ingests the whole drop into a fresh store, one file per
micro-batch, user events then admin events. The streaming engine's
per-batch numbers come from ``StreamingQueryProgress``; the store is
checked against the drop with DuckDB, outside the timed region.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import Counter
from dataclasses import dataclass, field

import duckdb

from keycloak_event_stream_spark.sources.keycloak import KeycloakEventStore
from perfbench import gen
from perfbench.eventlog import Counters, total

#: ``durationMs`` keys folded into each per-batch phase metric.
PHASES = {
    "add_batch_s": ("addBatch",),
    "planning_s": ("queryPlanning",),
    "offsets_s": ("latestOffset", "walCommit"),
    "commit_s": ("commitOffsets",),
}


@dataclass
class Round:
    """One drain of a drop into a fresh store."""

    root: str
    wall_s: float = 0.0
    run_ids: list[str] = field(default_factory=list)
    batches: list[dict] = field(default_factory=list)  # durationMs per batch


def _drain(spark, store, src: str, checkpoint: str, admin: bool, rnd: Round) -> None:
    stream = spark.readStream.option("maxFilesPerTrigger", 1).text(src)
    query = store.ingest_stream_json(stream, checkpoint=checkpoint, admin=admin)
    query.awaitTermination()
    rnd.run_ids.append(str(query.runId))
    rnd.batches += [p.durationMs for p in query.recentProgress if p.numInputRows > 0]


def ingest_round(spark, drop: gen.Drop, root: str) -> Round:
    """Drain ``drop`` into a new store at ``root``, timed end to end."""
    rnd = Round(root)
    store = KeycloakEventStore(spark, os.path.join(root, "store"))
    t0 = time.perf_counter()
    _drain(spark, store, drop.user_dir, os.path.join(root, "ckpt-user"), False, rnd)
    _drain(spark, store, drop.admin_dir, os.path.join(root, "ckpt-admin"), True, rnd)
    rnd.wall_s = time.perf_counter() - t0
    return rnd


def _landed(con, path: str, columns: tuple) -> list[tuple]:
    cols = ", ".join(columns)
    return con.execute(
        f"SELECT {cols}, dt, CAST(hour AS INTEGER) FROM read_parquet("
        f"'{path}/*/*/*.parquet', hive_partitioning = true, "
        "hive_types_autocast = false)"
    ).fetchall()


def quarantined(root: str) -> list[str]:
    raws = []
    for path in glob.glob(os.path.join(root, "store", "errors", "**", "*.json"), recursive=True):
        with open(path, encoding="utf-8") as fh:
            raws += [json.loads(line)["raw"] for line in fh if line.strip()]
    return raws


def check_round(rnd: Round, drop: gen.Drop) -> bool:
    """The store holds exactly the drop's good events, flattened, under
    their event-time ``dt``/``hour``, with no duplicate id; the
    quarantine holds exactly the malformed lines."""
    con = duckdb.connect()
    try:
        for sub, columns, rows in (
            ("user-events", gen.USER_COLUMNS, drop.user_rows),
            ("admin-events", gen.ADMIN_COLUMNS, drop.admin_rows),
        ):
            landed = _landed(con, os.path.join(rnd.root, "store", sub), columns)
            ids = [r[0] for r in landed]
            if len(set(ids)) != len(ids):
                return False
            t = columns.index("time")
            expected = [r + gen.dt_hour(r[t]) for r in rows]
            if sorted(landed) != sorted(expected):
                return False
    finally:
        con.close()
    return Counter(quarantined(rnd.root)) == Counter(drop.malformed)


def store_files(root: str) -> tuple[int, int]:
    """(count, bytes) of the Parquet files a round landed."""
    paths = glob.glob(os.path.join(root, "store", "*-events", "**", "*.parquet"), recursive=True)
    return len(paths), sum(os.path.getsize(p) for p in paths)


def layer_metrics(rounds: list[Round], drop: gen.Drop, counters: dict | None) -> dict:
    """Write-path per-layer metrics over ``rounds`` of ``drop``."""
    from perfbench.stats import median, tail

    batch_s = [b["triggerExecution"] / 1e3 for r in rounds for b in r.batches]
    pct, tail_s, n = tail(batch_s)
    files, stored = store_files(rounds[0].root)
    out = {
        "ingest.events_per_s": drop.lines / median([r.wall_s for r in rounds]),
        "ingest.batches": n,
        "ingest.batch_p50_s": median(batch_s),
        "ingest.batch_tail_s": tail_s,
        "ingest.batch_tail_pct": pct,
        "ingest.files_written": files,
        "ingest.quarantined_rows": len(quarantined(rounds[0].root)),
        "ingest.stored_bytes_per_input_byte": stored / drop.bytes,
    }
    for name, keys in PHASES.items():
        out[f"ingest.{name}"] = median(
            [sum(b.get(k, 0) for k in keys) / 1e3 for r in rounds for b in r.batches]
        )
    if counters is not None:
        per_round = Counters()
        for r in rounds:
            per_round.add(total(counters, r.run_ids))
        k = len(rounds)
        out.update({
            "ingest.jobs": per_round.jobs / k,
            "ingest.tasks": per_round.tasks / k,
            "ingest.cpu_s": per_round.cpu_s / k,
            "ingest.input_bytes": per_round.input_bytes / k,
            "ingest.shuffle_write_bytes": per_round.shuffle_write_bytes / k,
            "ingest.read_amplification": per_round.input_bytes / k / drop.bytes,
        })
    return out


#: One round's drop: user files x events over hours, then the same for
#: admin events; each file is one delivery-stream buffer of arrivals.
DROP = (2, 10000, 4, 1, 1000, 4)
ROUNDS_PER_10S = 3  # a round takes about 3.5 s on a 4-core box


def workload(run, seed: int, seconds: float, setup_t0: float):
    """``ingest_burst``: about ``seconds`` of rounds of one drop."""
    from perfbench.harness import Result, units

    spark = run.start()
    drop = gen.make_drop(seed, run.path("drop"), *DROP)
    # One untimed round warms the write path (class loading, codegen, JIT).
    ingest_round(spark, drop, run.path("warm"))
    setup_s = time.perf_counter() - setup_t0

    timed = [
        run.timed(ingest_round, spark, drop, run.path(f"round-{i}"))
        for i in range(units(seconds, ROUNDS_PER_10S))
    ]
    rounds = [r for r, _, _ in timed]
    memory = run.memory()
    failed = sum(len(r.batches) for r in rounds if not check_round(r, drop))
    return Result(
        setup_s,
        sum(len(r.batches) for r in rounds),
        failed,
        [wall for _, wall, _ in timed],
        [cpu for _, _, cpu in timed],
        memory,
        lambda counters: layer_metrics(rounds, drop, counters),
    )
