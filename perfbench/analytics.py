"""Analytics registry: headline queries, each cold, one after another.

Three of the headline queries (``bench.py::HEADLINE``) run against the
sf0.001 fixture copied under ``perfbench/data``, covering ``registry``,
``catalog``, ``operators`` and ``llm``: two eager iterative loops
(pagerank, series similarity) and a text pipeline. Set-up runs them once untimed, so the
timed pass measures plans and jobs rather than JIT warm-up. Each query runs
cold (CacheManager cleared first) and is timed from the registry call
through ``collect()``; the calls before ``collect()`` are the driver
build, including any eager jobs. Every result is compared with its
DuckDB oracle twin, outside the timed region.
"""

from __future__ import annotations

import math
import os
import time

import duckdb

from keycloak_event_stream_spark.catalog import TABLE_NAMES, table_path
from keycloak_event_stream_spark.registry import collect
from perfbench.metrics import ANALYTICS_QUERIES
from perfbench.harness import plan_time_s

PASSES_PER_10S = 1  # a pass takes about 7 s on a 4-core box
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.001")


def _norm_cell(v):
    """Cell normalisation of ``tools/verify_local.py``: exact values,
    NaN equal to NaN, timestamps by ISO text."""
    if v is None:
        return ("N",)
    if isinstance(v, float):
        return ("f", "nan") if math.isnan(v) else ("f", v)
    if isinstance(v, (list, tuple)):
        return ("l", tuple(_norm_cell(x) for x in v))
    if hasattr(v, "isoformat"):
        return ("t", v.isoformat())
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    return ("s", str(v))


def normalized(rows, columns) -> list[tuple]:
    """Rows as sorted tuples of normalised cells, columns by name."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)


def matches_oracle(con, sql: str, columns, rows) -> bool:
    res = con.execute(sql)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    return sorted(columns) == sorted(ocols) and normalized(rows, columns) == normalized(orows, ocols)


def run_query(spark, fn, name: str, tag: str) -> dict:
    sc = spark.sparkContext
    spark.catalog.clearCache()
    spark._jvm.System.gc()  # no collection of the previous query's garbage while timed
    sc.setJobGroup(f"build:{tag}", name)
    t0 = time.perf_counter()
    df = fn(spark, DATA)
    t1 = time.perf_counter()
    sc.setJobGroup(f"exec:{tag}", name)
    rows = df.collect()
    t2 = time.perf_counter()
    plan_s = plan_time_s(spark, df)
    return {
        "name": name, "tag": tag, "columns": df.columns, "rows": rows,
        "s": t2 - t0, "build_s": t1 - t0, "plan_s": plan_s,
        "execute_s": t2 - t1 - plan_s,
        "leftover": sc._jsc.getPersistentRDDs().size(),
    }


def workload(run, seed: int, seconds: float, setup_t0: float):
    """``analytics_headline``: about ``seconds`` of passes over the queries."""
    from perfbench.eventlog import total
    from perfbench.harness import Result, units

    spark = run.start()
    queries, oracle = collect()
    order = list(ANALYTICS_QUERIES)
    for q in order:  # one untimed pass: codegen, JIT, table memo
        run_query(spark, queries[q], q, f"warm:{q}")
    setup_s = time.perf_counter() - setup_t0

    done: list[dict] = []

    def one_pass(p: int):
        done.extend(run_query(spark, queries[q], q, f"{p}:{q}") for q in order)

    timed = [run.timed(one_pass, p) for p in range(units(seconds, PASSES_PER_10S))]
    spark.sparkContext.setJobGroup("", "")
    memory = run.memory()

    con = duckdb.connect()
    try:
        for t in TABLE_NAMES:
            path = table_path(DATA, t)
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        failed = sum(
            not matches_oracle(con, oracle[q["name"]], q["columns"], q["rows"]) for q in done
        )
    finally:
        con.close()

    def layers(counters):
        first = done[: len(order)]
        out = {
            "analytics.total_s": sum(q["s"] for q in first),
            "analytics.build_s": sum(q["build_s"] for q in first),
            "analytics.plan_s": sum(q["plan_s"] for q in first),
            "analytics.execute_s": sum(q["execute_s"] for q in first),
            "analytics.leftover_cache_entries": sum(q["leftover"] for q in first),
            "analytics.build_jobs": total(counters, [f"build:{q['tag']}" for q in first]).jobs,
        }
        c = total(counters, [f"{k}:{q['tag']}" for q in first for k in ("build", "exec")])
        for field in ("stages", "tasks", "cpu_s", "gc_s", "input_bytes",
                      "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
            out[f"analytics.{field}"] = getattr(c, field)
        for q in first:
            qc = total(counters, [f"build:{q['tag']}", f"exec:{q['tag']}"])
            out[f"analytics.{q['name']}.s"] = q["s"]
            out[f"analytics.{q['name']}.shuffle_bytes"] = qc.shuffle_write_bytes
        return out

    return Result(setup_s, len(done), failed, [t[1] for t in timed],
                  [t[2] for t in timed], memory, layers)
