"""Registry sweep: build every batch query once and record what it did.

``sweep(spark, sf_dir)`` walks the registry in driver order and returns
one :class:`Record` per batch query: whether building it raised, its
unpartitioned windows, its plan-shape counts, the session conf it
changed, the ``persist`` calls it made and, for a query that persisted,
the CacheManager entries still there once it has executed and one more
registered call has run. The checks below turn records into offenders;
the tests (``tests/conftest.py::sweep``) assert that each is empty.

The plan-shape ledger ``plans/shape.json`` holds the counts of every
query at the scale the tests use; the tests fail a query whose count
rises above its entry. This script rewrites the ledger:

    python tools/plan_audit.py SF_DIR      # SF_DIR: the sf0.001 fixture

Counts come from ``executedPlan`` before execution, so AQE has not
re-planned anything yet. ``toString`` re-renders a cached subtree under
every InMemoryTableScan that reads it, so a query that persists an
intermediate counts that lineage once per reference.
"""

from __future__ import annotations

import json
import os
import re
import sys
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql.classic.dataframe import DataFrame

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from keycloak_event_stream_spark import catalog  # noqa: E402
from keycloak_event_stream_spark.registry import collect  # noqa: E402

LEDGER = os.path.join(REPO, "plans", "shape.json")

_SHAPE = {
    "exchange": r"\b(?:Broadcast)?Exchange\b",
    "python": r"\b(?:BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow"
    r"|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|AggregateInPandas"
    r"|WindowInPandas)",
    "generate": r"\bGenerate\b",
    "memscan": r"\bInMemoryTableScan\b",
    "scan": r"\b(?:FileScan|BatchScan)\b",
}


def audit(plan: str) -> dict[str, int]:
    """Plan-shape counts of one physical plan string: shuffle and
    broadcast exchanges, Python evaluation nodes, Generate (explode and
    friends), in-memory (persisted) scans and file or source scans."""
    return {k: len(re.findall(p, plan)) for k, p in _SHAPE.items()}


def global_window_specs(df) -> list[str]:
    """Heuristic plan scan: windowspecdefinition argument lists that
    start with an ordering expression (`col ASC/DESC`) or a bare frame
    have no PARTITION BY — i.e. a single-partition WindowExec."""
    return _global_windows(df._jdf.queryExecution().executedPlan().toString())


def _global_windows(plan: str) -> list[str]:
    specs = re.findall(r"windowspecdefinition\(([^)]*)", plan)
    return [
        s
        for s in specs
        if re.match(r"\s*\S+ (ASC|DESC)", s)
        or re.match(r"\s*specifiedwindowframe", s)
    ]


@dataclass
class Record:
    """What building (and, if it persisted, running) one query did."""

    error: str | None = None  # what building or running it raised
    windows: int = 0  # unpartitioned window specs in its plan
    shape: dict[str, int] = field(default_factory=dict)  # audit() counts
    conf: dict[str, tuple] = field(default_factory=dict)  # key: (was, now)
    persists: int = 0  # persist calls while it was built
    pending: int = 0  # its pins still unfilled when the build returned
    left: int = 0  # CacheManager entries it added and nothing released


@contextmanager
def _persist_calls():
    """Count ``DataFrame.persist`` calls (``catalog.pin`` and bare ones)."""
    calls = [0]
    original = DataFrame.persist

    def persist(self, *args, **kwargs):
        calls[0] += 1
        return original(self, *args, **kwargs)

    DataFrame.persist = persist
    try:
        yield calls
    finally:
        DataFrame.persist = original


def cache_entries(spark) -> set[int]:
    """Identities of the session's CacheManager entries."""
    seq = spark._jsparkSession.sharedState().cacheManager().cachedData()
    ident = spark._jvm.System.identityHashCode
    return {ident(seq.apply(i)) for i in range(seq.size())}


def _probe(spark):
    """A throwaway registered call: the boundary releases what the
    thread's earlier queries left."""
    with catalog.query_pins() as returned:
        return returned(spark.range(1))


def sweep(spark, sf_dir: str, queries=None) -> dict[str, Record]:
    """Build each batch query of ``queries`` (default: the registry)
    once on ``spark`` and record it. A query that persisted is then
    collected and followed by one throwaway registered call, as the
    driver runs it; its ``left`` counts the CacheManager entries that
    remain. No cache is cleared between queries."""
    if queries is None:
        queries = collect()[0]

    def conf_text() -> str:  # one py4j call; getAll makes one per key
        return spark._jsparkSession.conf().getAll().toString()

    records: dict[str, Record] = {}
    conf, text = spark.conf.getAll, conf_text()
    with _persist_calls() as calls:
        for name, fn in queries.items():
            if name.startswith("s_"):
                continue  # streaming entries execute when built
            rec = records[name] = Record()
            cached, calls[0] = cache_entries(spark), 0
            try:
                df = fn(spark, sf_dir)
                plan = df._jdf.queryExecution().executedPlan().toString()
                rec.windows = len(_global_windows(plan))
                rec.shape = audit(plan)
                rec.pending = [
                    catalog._persist_state(d) for d in catalog._pins.query
                ].count("pending")
                if calls[0]:
                    df.collect()
            except Exception as exc:
                rec.error = f"{type(exc).__name__}: {exc}"[:500]
            df = None
            rec.persists = calls[0]
            if rec.persists:
                _probe(spark)
            rec.left = len(cache_entries(spark) - cached)
            if conf_text() != text:
                now, text = spark.conf.getAll, conf_text()
                rec.conf = {
                    k: (conf.get(k), now.get(k))
                    for k in conf.keys() | now.keys()
                    if conf.get(k) != now.get(k)
                }
                conf = now
    return records


def raised(records) -> dict[str, str]:
    return {n: r.error for n, r in records.items() if r.error}


def conf_changed(records) -> dict[str, dict]:
    return {n: r.conf for n, r in records.items() if r.conf}


def pins_left(records) -> dict[str, int]:
    return {n: r.left for n, r in records.items() if r.left}


def global_windows(records, allowed, bounded) -> dict[str, int]:
    """Queries with more unpartitioned windows than ``allowed`` grants
    them (default 0); names in ``bounded`` are exempt."""
    return {
        n: r.windows
        for n, r in records.items()
        if n not in bounded and r.windows > allowed.get(n, 0)
    }


def over_ledger(records, ledger) -> dict[str, object]:
    """Queries that built but are missing from ``ledger`` or count more
    of some plan node than their entry allows."""
    out = {}
    for n, r in records.items():
        if r.error:
            continue
        if n not in ledger:
            out[n] = "not in the ledger"
            continue
        over = {
            k: (v, ledger[n].get(k, 0))
            for k, v in r.shape.items()
            if v > ledger[n].get(k, 0)
        }
        if over:
            out[n] = over
    return out


def load_ledger() -> dict[str, dict[str, int]]:
    with open(LEDGER) as f:
        return json.load(f)


def write_ledger(records) -> int:
    """One line per query, sorted, so a change diffs to its own line."""
    lines = [
        f"  {json.dumps(n)}: {json.dumps(r.shape, sort_keys=True)}"
        for n, r in sorted(records.items())
        if not r.error
    ]
    with open(LEDGER, "w") as f:
        f.write("{\n" + ",\n".join(lines) + "\n}\n")
    return len(lines)


def main() -> int:
    if len(sys.argv) != 2 or not os.path.isdir(sys.argv[1]):
        print(__doc__)
        return 2
    from keycloak_event_stream_spark.session import get_spark

    # the tests' session (tests/conftest.py), so the counts compare
    spark = get_spark(
        "plan_audit", cpus=4, extra_conf={"spark.sql.shuffle.partitions": "4"}
    )
    records = sweep(spark, sys.argv[1])
    n = write_ledger(records)
    print(f"wrote {n} queries to {os.path.relpath(LEDGER, REPO)}")
    for check in (raised, conf_changed, pins_left):
        found = check(records)
        if found:
            print(f"{check.__name__}: {found}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
