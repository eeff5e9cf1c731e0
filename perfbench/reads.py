"""Read path: admin-console queries through ``create_query()``.

Set-up ingests a generated drop with the program's own
``ingest_stream_json``, so the reads see the layout the write path
makes. The timed loop then runs rounds of the five console shapes, one
client, each query built, collected and timed on its own. Every
query's ordered ids are compared with a DuckDB twin over the same
Parquet files, outside the timed region.
"""

from __future__ import annotations

import os
import random
import time

import duckdb

from keycloak_event_stream_spark.sources.keycloak import KeycloakEventStore
from perfbench import gen
from perfbench.harness import plan_time_s
from perfbench.ingest import ingest_round, layer_metrics
from perfbench.metrics import SHAPES

DAY_MS = 24 * gen.HOUR_MS
#: The store: user files x events over hours, admin files x events over hours.
STORE_DROP = (2, 15000, 48, 1, 1000, 8)
TOP_TYPES = ("LOGIN", "CODE_TO_TOKEN", "REFRESH_TOKEN")
ROUNDS_PER_10S = 5  # a round of the five shapes takes about 2 s on a 4-core box


def _round_params(rng: random.Random, drop: gen.Drop) -> list[tuple[str, dict]]:
    """One of each shape, parameters drawn from the stored events (so
    busy users, clients and hours are asked for more often), in a
    shuffled order."""
    def ev():
        return rng.choice(drop.user_rows)

    e1, e2, e3, adm = ev(), ev(), ev(), rng.choice(drop.admin_rows)
    day = e1[9] // DAY_MS * DAY_MS
    hour = e2[9] // gen.HOUR_MS * gen.HOUR_MS
    week = max(gen.START_MS, e3[9] // DAY_MS * DAY_MS - 3 * DAY_MS)
    ops = sorted({adm[4], rng.choice([o for o, _ in gen.ADMIN_OPS])})
    out = [
        ("realm_latest", {"realm": f"realm-{rng.randrange(gen.REALMS)}"}),
        ("user_day", {"user": e1[5], "from": day, "to": day + DAY_MS}),
        ("type_hour_page", {"types": list(TOP_TYPES), "from": hour, "to": hour + gen.HOUR_MS}),
        ("client_week_deep_offset", {"client": e3[4], "from": week, "to": week + 7 * DAY_MS}),
        ("admin_resource_ops", {"realm": adm[2], "resource": adm[5], "ops": ops}),
    ]
    rng.shuffle(out)
    return out


def build(store: KeycloakEventStore, shape: str, p: dict):
    """The console query of ``shape`` through the fluent builders."""
    if shape == "realm_latest":
        return store.create_query().realm(p["realm"]).max_results(100)
    if shape == "user_day":
        return (store.create_query().user(p["user"]).from_date(p["from"])
                .to_date(p["to"]).max_results(100))
    if shape == "type_hour_page":
        return (store.create_query().type(*p["types"]).from_date(p["from"])
                .to_date(p["to"]).first_result(200).max_results(50))
    if shape == "client_week_deep_offset":
        return (store.create_query().client(p["client"]).from_date(p["from"])
                .to_date(p["to"]).first_result(1000).max_results(50))
    return (store.create_admin_query().realm(p["realm"])
            .resource_type(p["resource"]).operation(*p["ops"]).max_results(100))


def twin(con, root: str, shape: str, p: dict) -> list[str]:
    """The same query in DuckDB over the store's Parquet files."""
    table = "admin-events" if shape == "admin_resource_ops" else "user-events"
    src = (f"read_parquet('{root}/{table}/*/*/*.parquet', "
           "hive_partitioning = true, hive_types_autocast = false)")
    where, args, limit, offset = [], [], 100, 0
    if shape == "realm_latest":
        where, args = ["realmid = ?"], [p["realm"]]
    elif shape == "admin_resource_ops":
        marks = ", ".join("?" for _ in p["ops"])
        where = ["realmid = ?", "resourcetype = ?", f"operationtype IN ({marks})"]
        args = [p["realm"], p["resource"], *p["ops"]]
    else:
        key = {"user_day": ("userid", "user"),
               "client_week_deep_offset": ("clientid", "client")}.get(shape)
        if key:
            where, args = [f"{key[0]} = ?"], [p[key[1]]]
        else:
            marks = ", ".join("?" for _ in p["types"])
            where, args = [f"eventtype IN ({marks})"], list(p["types"])
        where += ["time >= ?", "time <= ?"]
        args += [p["from"], p["to"]]
        limit, offset = {"user_day": (100, 0), "type_hour_page": (50, 200),
                         "client_week_deep_offset": (50, 1000)}[shape]
    sql = (f"SELECT id FROM {src} WHERE {' AND '.join(where)} "
           f"ORDER BY time DESC, id DESC LIMIT {limit} OFFSET {offset}")
    return [r[0] for r in con.execute(sql, args).fetchall()]


def run_query(spark, store, shape: str, p: dict, group: str) -> dict:
    spark.sparkContext.setJobGroup(group, shape)
    t0 = time.perf_counter()
    df = build(store, shape, p).to_df()
    t1 = time.perf_counter()
    ids = [r["id"] for r in df.collect()]
    t2 = time.perf_counter()
    plan_s = plan_time_s(spark, df)
    return {"shape": shape, "params": p, "group": group, "ids": ids,
            "s": t2 - t0, "build_s": t1 - t0, "plan_s": plan_s,
            "execute_s": t2 - t1 - plan_s}


def workload(run, seed: int, seconds: float, setup_t0: float):
    """``console_reads``: about ``seconds`` of rounds of the five shapes."""
    from perfbench.eventlog import total
    from perfbench.harness import Result, units
    from perfbench.stats import median, tail

    spark = run.start()
    drop = gen.make_drop(seed, run.path("drop"), *STORE_DROP)
    built = ingest_round(spark, drop, run.path("build"))
    store = KeycloakEventStore(spark, os.path.join(built.root, "store"))
    rng = random.Random(f"{seed}-console")
    # One untimed round warms the read path (codegen, JIT, file listing).
    for shape, p in _round_params(random.Random(seed), drop):
        run_query(spark, store, shape, p, "warm")
    setup_s = time.perf_counter() - setup_t0

    done: list[dict] = []

    def one_round():
        for shape, p in _round_params(rng, drop):
            done.append(run_query(spark, store, shape, p, f"read:{len(done)}"))

    timed = [run.timed(one_round) for _ in range(units(seconds, ROUNDS_PER_10S))]
    spark.sparkContext.setJobGroup("", "")
    memory = run.memory()
    con = duckdb.connect()
    try:
        failed = sum(
            q["ids"] != twin(con, store.root, q["shape"], q["params"]) for q in done
        )
    finally:
        con.close()
    times = [q["s"] for q in done]

    def layers(counters):
        out = layer_metrics([built], drop, counters)
        pct, tail_s, n = tail(times)
        out.update({
            "read.queries": n,
            "read.query_p50_s": median(times),
            "read.query_tail_s": tail_s,
            "read.query_tail_pct": pct,
            "read.build_s": median([q["build_s"] for q in done]),
            "read.plan_s": median([q["plan_s"] for q in done]),
            "read.execute_s": median([q["execute_s"] for q in done]),
        })
        for shape in SHAPES:
            out[f"read.{shape}.p50_s"] = median([q["s"] for q in done if q["shape"] == shape])
        first = done[: len(SHAPES)]
        c = total(counters, [q["group"] for q in first])
        returned = sum(len(q["ids"]) for q in first)
        out.update({
            "read.files_read": c.files_read,
            "read.input_bytes": c.input_bytes,
            "read.tasks": c.tasks,
            "read.rows_examined_per_row_returned": c.scan_rows / max(returned, 1),
        })
        return out

    return Result(setup_s, len(done), failed, [t[1] for t in timed],
                  [t[2] for t in timed], memory, layers)
