"""Local mimic of the driver's DuckDB-oracle correctness check.

Runs each registered query via Spark AND its oracle SQL via DuckDB on
the same parquet fixtures, then compares:
- row count
- column-name set
- order-insensitive value comparison (rows sorted, exact match after
  light normalization — floats compared bitwise first, then to 1e-9
  relative tolerance so we can see *how* close a mismatch is)

Usage:  python tools/verify_local.py [sf_dir] [query ...]
"""

from __future__ import annotations

import gc
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb  # noqa: E402

from keycloak_event_stream_spark.catalog import TABLE_NAMES, table_path  # noqa: E402
from keycloak_event_stream_spark.registry import collect  # noqa: E402
from keycloak_event_stream_spark.session import get_spark  # noqa: E402


def _norm_cell(v):
    if v is None:
        return ("N",)
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "nan")
        return ("f", v)
    if isinstance(v, (list, tuple)):
        return ("l", tuple(_norm_cell(x) for x in v))
    if hasattr(v, "isoformat"):  # datetime/date
        return ("t", v.isoformat())
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    return ("s", str(v))


def _rows_to_sorted(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return out


def _close(a, b):
    """Tolerant float compare for diagnostics. The ("f", value) pattern
    must be checked before generic tuple recursion or floats end up
    compared exactly."""
    if a == b:
        return True
    if (
        isinstance(a, tuple)
        and isinstance(b, tuple)
        and len(a) == len(b) == 2
        and a[0] == b[0] == "f"
        and isinstance(a[1], float)
        and isinstance(b[1], float)
    ):
        return math.isclose(a[1], b[1], rel_tol=1e-9, abs_tol=1e-12)
    if (
        isinstance(a, tuple)
        and isinstance(b, tuple)
        and len(a) == len(b)
    ):
        return all(_close(x, y) for x, y in zip(a, b))
    return False


def main() -> int:
    args = sys.argv[1:]
    # --vanilla: run the Spark side on a DEFAULT-config session (how
    # the driver evaluates) instead of the tuned engine session. The
    # round gate is green under BOTH — session-independence is the
    # property the driver actually measures (round-1 lesson: 9 queries
    # passed the engine session and threw under the driver's).
    vanilla = "--vanilla" in args
    args = [a for a in args if a != "--vanilla"]
    # --timings out.json: dump {name: spark_seconds}
    timings_path = None
    if "--timings" in args:
        i = args.index("--timings")
        timings_path = args[i + 1]
        args = args[:i] + args[i + 2 :]
    sf_dir = "/root/testdata/sf0.01"
    if args and os.path.isdir(args[0]):
        sf_dir, args = args[0], args[1:]

    queries, oracle = collect()
    # default order = registration order (priority/new queries first),
    # so a partial run or an early failure surfaces the riskiest ops
    names = args or list(queries)

    def _make_session():
        if vanilla:
            from pyspark.sql import SparkSession

            return (
                SparkSession.builder.master("local[32]")
                .appName("verify_local_vanilla")
                .getOrCreate()
            )
        return get_spark("verify_local")

    spark = _make_session()
    con = duckdb.connect()
    for t in TABLE_NAMES:
        p = table_path(sf_dir, t)
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    n_pass = n_fail = n_rowsonly = 0
    retried: set[str] = set()
    spark_times: dict[str, float] = {}
    for name in names:
        if name not in queries:
            print(f"{name}: UNKNOWN")
            continue
        t0 = time.time()
        try:
            sdf = queries[name](spark, sf_dir)
            scols = sdf.columns
            srows = sdf.collect()
        except Exception as exc:
            # a dead JVM (heap exhaustion kills the local-mode driver)
            # would fail every later query with ConnectionRefused —
            # rebuild the session and retry THIS query once on the
            # fresh JVM rather than cascading one OOM into 450 phantom
            # failures (the triggering query is usually a victim of
            # accumulated debris, not the culprit: round-5's crash
            # query passed in 10s on a fresh session). A query that
            # fails twice — once with the sweep's debris, once clean —
            # is a real failure.
            msg = f"{type(exc).__name__}: {exc}"
            dead = (
                "Connection refused" in msg
                or "Answer from Java side is empty" in msg
                or "Java heap space" in msg
            )
            if dead and name not in retried:
                retried.add(name)
                # HARD reset (round 10): an executor-thread OOM can
                # leave the local JVM half-alive — driver threads up,
                # heap wrecked. spark.stop() then fails or no-ops, the
                # JVM-side context lingers, and the rebuilt session
                # dies on assertNoOtherContextIsRunning (observed
                # aborting the sf0.1 vanilla sweep at query 302). Kill
                # the gateway process outright so _make_session()
                # launches a genuinely fresh JVM.
                try:
                    spark.stop()
                except Exception:
                    pass
                from pyspark import SparkContext
                from pyspark.sql import SparkSession

                gw = SparkContext._gateway
                if gw is not None:
                    try:
                        gw.shutdown()
                    except Exception:
                        pass
                    try:
                        gw.proc.kill()
                    except Exception:
                        pass
                SparkContext._gateway = None
                SparkContext._jvm = None
                SparkContext._active_spark_context = None
                SparkSession._instantiatedSession = None
                SparkSession._activeSession = None
                spark = _make_session()
                print(f"-- JVM died on {name}; session rebuilt, retrying --")
                try:
                    sdf = queries[name](spark, sf_dir)
                    scols = sdf.columns
                    srows = sdf.collect()
                except Exception as exc2:
                    print(f"{name}: SPARK ERROR {type(exc2).__name__}: {exc2}")
                    n_fail += 1
                    continue
            else:
                print(f"{name}: SPARK ERROR {msg}")
                n_fail += 1
                continue
        spark_times[name] = round(time.time() - t0, 3)
        # drop per-query persisted intermediates: across a 400+-query
        # sweep the accumulated caches exhaust a default-memory session
        # (the vanilla JVM died mid-sweep twice at ~200 queries before
        # this; the engine session's 8g just hides the same leak)
        try:
            spark.catalog.clearCache()
        except Exception:
            pass
        # clearCache drops persist() entries but NOT broadcast variables
        # or localCheckpoint blocks — those free only when ContextCleaner
        # sees their JVM references die, and py4j holds references until
        # Python GC runs. In the round-5 sweep the debris of 48 heavy
        # LSH/graph/streaming queries OOMed the vanilla 1g JVM at query
        # 49 even with clearCache per query; an explicit Python GC per
        # query plus a JVM System.gc() every 10 queries lets the cleaner
        # reap dead broadcast/checkpoint blocks before they pile up.
        gc.collect()
        n_done = n_pass + n_fail + n_rowsonly
        if n_done % 10 == 0:
            try:
                spark.sparkContext._jvm.System.gc()
            except Exception:
                pass
        if name not in oracle:
            print(f"{name}: rows-only ({len(srows)} rows, {time.time()-t0:.1f}s)")
            n_rowsonly += 1
            continue
        try:
            res = con.execute(oracle[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as exc:
            print(f"{name}: ORACLE ERROR {type(exc).__name__}: {exc}")
            n_fail += 1
            continue
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"columns spark={sorted(scols)} duck={sorted(dcols)}")
        if not problems:
            a = _rows_to_sorted([tuple(r) for r in srows], scols)
            b = _rows_to_sorted(drows, dcols)
            exact = a == b
            if not exact:
                n_diff = sum(1 for x, y in zip(a, b) if x != y)
                n_far = sum(1 for x, y in zip(a, b) if not _close(x, y))
                if n_far == 0:
                    problems.append(
                        f"HASH-MISMATCH (floats within 1e-9: {n_diff} rows differ bitwise)"
                    )
                else:
                    ex = next((x, y) for x, y in zip(a, b) if not _close(x, y))
                    problems.append(f"VALUE-MISMATCH {n_far} rows; e.g. {ex[0]} vs {ex[1]}")
        if problems:
            print(f"{name}: FAIL  {'; '.join(problems)}")
            n_fail += 1
        else:
            print(f"{name}: OK ({len(srows)} rows, {time.time()-t0:.1f}s)")
            n_pass += 1
    print(f"\n{n_pass} ok, {n_rowsonly} rows-only, {n_fail} fail / {len(names)} total")
    if timings_path:
        import json

        with open(timings_path, "w") as f:
            json.dump(spark_times, f, indent=1, sort_keys=True)
        print(f"spark-side timings -> {timings_path}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
