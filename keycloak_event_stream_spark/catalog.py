"""Table catalog: load the driver's parquet fixtures.

The reference declares its tables externally (Glue DDL in
``terraform/main.tf:78-178,224-343``) and never infers schemas at query
time. We keep that posture: schemas below are declared, and loads assert
conformance instead of inferring.

Scale note: ``spark.read.parquet`` on a partitioned root performs
partition discovery + pruning automatically; at 100 TB the tables would
be registered in a real catalog (Hive/Glue/Unity) with the same layout —
nothing in this module's callers would change.
"""

from __future__ import annotations

import gc
import os
import threading
import weakref
from contextlib import contextmanager as _contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Columns written as parquet TIMESTAMP(NANOS), which Spark's vectorized
# reader rejects; read them as long (legacy conf) and convert to
# microsecond timestamps (truncation — same as DuckDB's ns->us cast).
# The raw nanos column survives as `<col>_nanos`: predicates on the
# converted column are expression-wrapped and can never reach the
# parquet reader, so time-range filters add a redundant raw-domain
# twin on `<col>_nanos` — that one pushes down to row-group stats.
_NANO_TS_COLS: dict[str, list[str]] = {"events": ["ts"]}


def nanos_bound(ts: "F.datetime | object") -> int:
    """Epoch-nanos literal for raw-domain pushdown predicates."""
    import datetime as _dt

    if isinstance(ts, _dt.datetime):
        epoch = ts.replace(tzinfo=_dt.timezone.utc).timestamp()
        return int(round(epoch * 1_000_000)) * 1000
    raise TypeError(type(ts))


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


#: Analyzed-DataFrame memo: (applicationId, sf_dir, name, path_sig) ->
#: the lazy scan DataFrame. Plan-OBJECT reuse only — no data, no
#: results, no persisted partitions are held here; every action on the
#: returned frame still executes from the parquet files. Why it exists
#: (round-11 measurement): one `spread(load_table(...))` call costs
#: 160-190 ms of pure DRIVER work (spark.read.parquet re-lists the
#: path and re-reads the footer schema on every call, then the spread
#: probe plans the scan) — per-query build overhead that the bench
#: pays inside the timed region and a real application would pay once
#: per table, not once per query (guide §5: the driver should do
#: almost no work in the query path). The path signature keys
#: freshness exactly like _FOOTER_ROWS: an in-process rewrite of the
#: same path (the 10x replica rebuild) changes the signature and
#: re-analyzes instead of serving a stale plan over vanished files.
#: Keyed by applicationId so a stopped-and-recreated session (the
#: vanilla-parity tests) never reuses a dead session's plan.
#: ADVICE r12 (bounded memory): the signature lives in the VALUE, not
#: the key, so a path rewrite/append REPLACES the entry for that
#: (applicationId, sf_dir, name) instead of accumulating one stale
#: DataFrame (plus its spread repartition chain) per signature — the
#: memo is capped at one live plan per table per session. The per-call
#: stat walk stays: it IS the freshness check (same contract as
#: _FOOTER_ROWS), and memoizing it would serve stale plans over
#: rewritten files. Entries of stopped applications are dropped on the
#: next insert, so a dead session's plans do not outlive it.
_TABLE_MEMO: dict[tuple, tuple[tuple, DataFrame]] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a DataFrame (lazy parquet scan).

    Memoized per (session, path, freshness signature): repeated loads
    of the same table return the same analyzed DataFrame object —
    plan reuse, never data reuse (see _TABLE_MEMO)."""
    if name in _NANO_TS_COLS:
        # get_spark declares it; caller-supplied sessions need it here
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = table_path(sf_dir, name)
    app_id = spark.sparkContext.applicationId
    key = (app_id, sf_dir, name)
    sig = _path_sig(path)
    memo = _TABLE_MEMO.get(key)
    if memo is not None and memo[0] == sig:
        return memo[1]
    df = spark.read.parquet(path)
    for col in _NANO_TS_COLS.get(name, []):
        if col in df.columns and dict(df.dtypes)[col] == "bigint":
            df = df.withColumn(f"{col}_nanos", F.col(col)).withColumn(
                col, F.timestamp_micros(F.expr(f"{col} div 1000"))
            )
    df = normalize_ntz(df)
    for dead in [k for k in _TABLE_MEMO if k[0] != app_id]:
        del _TABLE_MEMO[dead]
    _TABLE_MEMO[key] = (sig, df)
    return df


def normalize_ntz(df: DataFrame) -> DataFrame:
    """Session-independence boundary: cast any TIMESTAMP_NTZ column to
    TIMESTAMP (LTZ).

    Spark 4 infers tz-naive parquet timestamps as TIMESTAMP_NTZ by
    default (``spark.sql.parquet.inferTimestampNTZ.enabled``), and much
    of the time-function surface (``withWatermark``/``window()``/
    ``unix_millis``/``session_window``) rejects NTZ. The engine session
    disables the inference (``session.py``), but queries must be correct
    on *any* caller-supplied session — the reference makes the same
    choice by storing UTC-instant epoch millis end-to-end
    (``EventToJSON.java``: ``event.getTime()``). Under the engine
    session this is a no-op (no NTZ columns exist), so plans and
    parquet pushdown are unchanged there.
    """
    ntz_cols = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    for c in ntz_cols:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


_FOOTER_ROWS: dict[tuple[str, str, int, int, int], int] = {}


def _path_sig(path: str) -> tuple[int, int, int]:
    """Cheap freshness signature for a table path: (max mtime_ns, total
    size, entry count) over the path itself and, for a directory
    layout, EVERY nested entry (full scandir walk). stat-only — no
    footer reads — so the memo below stays metadata-cheap while an
    in-process REWRITE of the same path (e.g. tools/scale_probe.py
    rebuilding the 10x replica after a prior count) changes the
    signature and invalidates the stale count (r8 ADVICE: a
    forever-memo silently drove the wrong shuffle width after a
    rewrite). The walk is recursive because partitioned layouts nest
    (dt=*/hour=*/part-*.parquet — exactly what the ingest replays
    write): replacing a part file two levels down changes neither the
    table root's mtime nor its immediate entries' stats, so a
    one-level signature served the stale count for precisely the
    layout class that gets rewritten (r9 ADVICE). Cost is one stat
    per entry, trivial against the footer read it guards; the entry
    count term additionally catches a same-size in-place swap."""
    st = os.stat(path)
    mt, sz, n = st.st_mtime_ns, st.st_size, 1
    if os.path.isdir(path):
        stack = [path]
        while stack:
            for entry in os.scandir(stack.pop()):
                est = entry.stat()
                mt = max(mt, est.st_mtime_ns)
                sz += est.st_size
                n += 1
                if entry.is_dir(follow_symlinks=False):
                    # follow_symlinks=False: a symlinked directory
                    # cycle inside a table path would loop this walk
                    # forever (and a symlinked subtree would be
                    # double-counted into the signature); symlinked
                    # FILES still stat normally above (r10 ADVICE).
                    stack.append(entry.path)
    return mt, sz, n


def footer_rows(sf_dir: str, name: str) -> int:
    """Parquet-footer row count of a fixture table — metadata only, no
    Spark job, memoized per (dir, table, path signature) so a rewrite
    of the same path re-counts instead of serving the stale number.
    The width driver for :func:`bounded_eval_scope` and the streaming
    replay scope (streaming/queries.py::_events_rows). pyarrow.dataset
    handles both layouts a table path can take: the driver fixtures'
    single files AND Spark-written directories of part files (the 10x
    replica that tools/scale_probe.py builds — a plain pq.ParquetFile
    here crashed on it); count_rows() reads footers only either way."""
    path = table_path(sf_dir, name)
    key = (sf_dir, name, *_path_sig(path))
    n = _FOOTER_ROWS.get(key)
    if n is None:
        import pyarrow.dataset as ds

        n = ds.dataset(path, format="parquet").count_rows()
        _FOOTER_ROWS[key] = n
    return n


_FOOTER_TS_RANGE: dict[tuple, tuple] = {}


def footer_ts_range(sf_dir: str, name: str, column: str = "ts"):
    """(min, max) of a timestamp column from parquet footer statistics
    — metadata only, no Spark job, memoized with the same
    path-signature freshness key as :func:`footer_rows`. Returns
    ``(None, None)`` when any fragment lacks min/max stats for the
    column (callers must treat that as 'span unknown' and keep their
    conservative default). Used by the streaming replay grain
    (streaming/queries.py::_replay_grain) to derive expected rows per
    partition dir without scanning data."""
    path = table_path(sf_dir, name)
    key = (sf_dir, name, column, *_path_sig(path))
    r = _FOOTER_TS_RANGE.get(key)
    if r is None:
        import pyarrow.dataset as ds

        lo = hi = None
        for frag in ds.dataset(path, format="parquet").get_fragments():
            for rg in frag.metadata.to_dict()["row_groups"]:
                for col in rg["columns"]:
                    if col["path_in_schema"] != column:
                        continue
                    st = col.get("statistics")
                    if not st or st.get("min") is None or st.get("max") is None:
                        _FOOTER_TS_RANGE[key] = (None, None)
                        return (None, None)
                    lo = st["min"] if lo is None else min(lo, st["min"])
                    hi = st["max"] if hi is None else max(hi, st["max"])
        r = (lo, hi)
        _FOOTER_TS_RANGE[key] = r
    return r


# Target rows per shuffle partition for a bounded analytic eval — the
# same constant family as streaming's _REPLAY_ROWS_PER_PART (8192,
# state-store rows); 8192 here because these evals expand their input
# (pair self-joins, shingle explosion), so the driving-table count
# understates the shuffled volume. Iteration loops pass
# _LOOP_ROWS_PER_PART instead: their state and edge rows are narrow
# (long, long|double) pairs that never expand, so one loop partition
# carries 65536 of them before another task is worth its launch.
_EVAL_ROWS_PER_PART = 8192
_LOOP_ROWS_PER_PART = 65536
_FLOOR_PARTS = 4


def _width(n_rows: int, rows_per_part: int, cap: int) -> int:
    """Shuffle width for a bounded input: one partition per
    ``rows_per_part`` rows, never below ``_FLOOR_PARTS`` nor above
    ``cap``. Callers pick the cap: an eval caps at the session width
    floored at 32 (:func:`eval_width`), a streaming replay at the
    session width itself."""
    return max(_FLOOR_PARTS, min(cap, n_rows // rows_per_part + 1))


def eval_width(
    spark: SparkSession, n_rows: int, rows_per_part: int = _EVAL_ROWS_PER_PART
) -> int:
    """The width of a bounded eval over ``n_rows`` driving rows: the
    cap is the session width floored at 32, so an eval may widen past a
    narrow test session."""
    cap = max(int(spark.conf.get("spark.sql.shuffle.partitions")), 32)
    return _width(n_rows, rows_per_part, cap)


@_contextmanager
def conf_scope(spark: SparkSession, overrides: dict[str, str]):
    """Set each ``key: value`` session conf for the block and put every
    one back on exit, on a raise too, last set first restored.

    Token semantics (the contextvars.Token pattern): a key is put back
    only if it still holds what this scope set. If another scope
    interleaved on the session and changed it, the scope warns and
    leaves that value in place rather than clobbering the other scope's
    save point; under true interleaving no restore order can be right,
    and this one never stomps a live scope. Nested scopes restore
    before their parent, so nesting never warns. A key that had no
    value before the scope is unset again. Each override is appended
    as ``(key, value, was)`` to the current call's ``conf`` note."""
    done: list[tuple[str, str, str | None]] = []
    try:
        for key, value in overrides.items():
            was = spark.conf.get(key, None)
            spark.conf.set(key, value)
            done.append((key, value, was))
            _pins.notes.setdefault("conf", []).append((key, value, was))
        yield
    finally:
        for key, value, was in reversed(done):
            cur = spark.conf.get(key, None)
            if cur != value:
                import warnings

                warnings.warn(
                    f"conf scope: {key} changed inside the scope "
                    f"({value!r} -> {cur!r}); a concurrent width scope "
                    "interleaved on this session — scoped runs must be "
                    "serialized (or use spark.newSession() per thread); "
                    "leaving the interloper's value in place",
                    RuntimeWarning,
                    stacklevel=3,
                )
            elif was is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, was)


class _Pins(threading.local):
    """One thread's pins and notes: ``query`` holds what its registered
    queries pinned lazily (released at the thread's next outermost
    registered call), ``owners`` maps each of those pins (by ``id``) to
    a weak reference to the frame its outermost registered call
    returned, ``scopes`` the open :func:`pin_scope` lists, innermost
    last, ``depth`` the registered-call nesting depth, and ``notes``
    what the thread's latest outermost call recorded (:func:`note`)."""

    def __init__(self) -> None:
        self.query: list[DataFrame] = []
        self.owners: dict[int, weakref.ref] = {}
        self.scopes: list[list[DataFrame]] = []
        self.depth = 0
        self.notes: dict = {}


_pins = _Pins()


def pin(df: DataFrame, level=None) -> DataFrame:
    """Persist ``df`` for the query that builds it and return it.

    The pin belongs to the innermost open :func:`pin_scope`, which
    releases it on exit; with no scope open it belongs to the calling
    thread's current query and is released when that thread next
    enters a registered query (``registry.register``) — after the
    lazily returned result had its chance to execute."""
    df = df.persist() if level is None else df.persist(level)
    (_pins.scopes[-1] if _pins.scopes else _pins.query).append(df)
    return df


def note(key: str, value) -> None:
    """Record a decision of the calling thread's current registered
    call (a cap audit, a replay's row count) under ``key``; nested
    calls write to their outermost call's notes."""
    _pins.notes[key] = value


def notes() -> dict:
    """The notes of the calling thread's latest outermost registered
    call; its next outermost call starts a fresh dict."""
    return _pins.notes


def _unpersist(df: DataFrame) -> None:
    try:
        df.unpersist()
    except Exception:
        pass  # the owning session may already be stopped


@_contextmanager
def pin_scope():
    """Release every pin made inside the block on exit, including pins
    made by nested registered calls. For eager queries: everything
    the pins feed must be materialized before the block ends."""
    scope: list[DataFrame] = []
    _pins.scopes.append(scope)
    try:
        yield
    finally:
        _pins.scopes.pop()
        for df in scope:
            _unpersist(df)


@_contextmanager
def query_pins():
    """Registered-call boundary (``registry.register``), used as
    ``with query_pins() as returned: return returned(fn(...))``.

    The thread's outermost call first releases the pins its earlier
    queries left, except those still 'pending' whose frame is alive: a
    lazily returned plan that has not executed yet may rely on its pin
    — a two-phase window re-sampling its range layout on recompute
    returns wrong row numbers — so an unfilled pin carries over to the
    next release. Once the frame its outermost call returned is gone,
    the pin is released, filled or not, so a caller that keeps only a
    frame derived from the returned one must execute it before the
    thread's next registered call. An outermost call that raises
    releases its pins on the way out. Nested calls release nothing;
    their pins belong to the outermost call's frame.

    The outermost call also runs a full Python collection. py4j
    handles sit in reference cycles, so a finished query's Dataset
    handles — and through their executed plans its broadcast
    relations, several MB each — stay live in the JVM until Python's
    cyclic GC runs, which may be never between queries. Collecting
    here frees the earlier queries' JVM objects, and the frames of
    dropped plans, at the next query. It also starts the call's fresh
    :func:`notes` dict."""
    outermost = _pins.depth == 0
    if outermost:
        _pins.notes = {}
        gc.collect()
        held = []
        for df in _pins.query:
            owner = _pins.owners.pop(id(df), None)
            alive = owner is None or owner() is not None
            if alive and _persist_state(df) == "pending":
                held.append(df)
                if owner is not None:
                    _pins.owners[id(df)] = owner
            else:
                _unpersist(df)
        _pins.query = held
    made = len(_pins.query)
    result: list = []

    def returned(df):
        result.append(df)
        return df

    _pins.depth += 1
    try:
        yield returned
    finally:
        _pins.depth -= 1
        if outermost:
            _own(made, result[0] if result else None)


def _own(start: int, frame) -> None:
    """Tie the outermost call's pins, ``_pins.query[start:]``, to a weak
    reference to ``frame``, the call's result; with no result (the call
    raised) nothing can fill them, so release them now."""
    pins = _pins.query
    if frame is None:
        for df in pins[start:]:
            _unpersist(df)
        del pins[start:]
        return
    ref = weakref.ref(frame)
    for i in range(start, len(pins)):
        if pins[i] is frame:  # the list must not keep the frame alive
            pins[i] = type(frame)(frame._jdf, frame.sparkSession)
        _pins.owners[id(pins[i])] = ref


_probe_failure_warned = False


def _persist_state(df: DataFrame) -> str:
    """'loaded' | 'pending' | 'gone' | 'unknown' for a pinned frame.

    Two distinct failure modes both map to 'unknown' (releasable), but
    only one is silent by design: a DEAD session means unpersist is a
    no-op and releasing cannot break a live plan — quiet is correct; a
    probe failure on a LIVE session means the py4j internals this
    function reads (cacheManager / isCachedColumnBuffersLoaded) moved
    in a newer Spark and release has degraded to ignoring whether the
    consumer executed — the unexecuted-persist hazard the probe exists
    to prevent — so that case emits a one-time RuntimeWarning instead
    of passing as dead."""
    global _probe_failure_warned
    try:
        # session-validity gate: reaching the shared state proves the
        # JVM-side session is alive and reachable
        cm = df.sparkSession._jsparkSession.sharedState().cacheManager()
    except Exception:
        return "unknown"  # dead session: unpersist is a no-op there
    try:
        cd = cm.lookupCachedData(df._jdf)
        if not cd.isDefined():
            return "gone"
        loaded = (
            cd.get().cachedRepresentation().cacheBuilder()
            .isCachedColumnBuffersLoaded()
        )
        return "loaded" if loaded else "pending"
    except Exception as exc:
        if not _probe_failure_warned:
            import warnings

            _probe_failure_warned = True
            warnings.warn(
                "pin materialization probe failed on a LIVE session "
                f"({type(exc).__name__}) — the CacheManager internals "
                "this Spark version exposes have likely moved. Pin "
                "release no longer spares unexecuted plans: a two-phase "
                "window executed after a later query may recompute "
                "under a re-sampled range layout. Update _persist_state "
                "for this Spark version.",
                RuntimeWarning,
                stacklevel=3,
            )
        return "unknown"


@_contextmanager
def bounded_eval_scope(
    spark: SparkSession, n_rows: int, rows_per_part: int = _EVAL_ROWS_PER_PART
):
    """The eager-evaluation regime: input-derived shuffle width, plus
    AQE off when that width sits at its floor, around an EAGER bounded
    computation; :func:`conf_scope` sets both and restores them on
    exit. Yields the width.

    Why the width: a multi-shuffle analytic eval over a bounded input
    pays the session's corpus width at every exchange AND inside every
    persisted intermediate — an InMemoryRelation keeps its build
    width; AQE coalesces shuffle *reads*, not cache partitioning — so
    under a vanilla 200-partition session the eval launches hundreds
    of near-empty tasks per stage. Measured 10-20x on
    q_association_rules / q_shingle_size_sensitivity /
    q_graph_assortativity / q_graph_common_neighbors (13-28 s -> ~1 s
    at sf0.01; BASELINE.md "Round 8 — bounded-eval width scope").
    Width derives from the driving row count (:func:`eval_width`: cap
    = session width floored at 32) — never a pinned constant, so a
    genuinely large input keeps corpus width and the 100 TB posture is
    unchanged. Iteration loops nest a second scope over their measured
    |V| or edge count with ``rows_per_part=_LOOP_ROWS_PER_PART``.

    Why AQE goes off at the floor, and only there: at width 4 AQE has
    nothing to coalesce and no skew to split, yet every query stage
    still costs its own job, a re-optimisation and a re-rendered plan.
    At sf0.001 a cold q_ts_similarity call ran 35 jobs and
    q_graph_pagerank 28; with AQE off they run 4 and 11
    (tests/test_bounded_eval.py bounds both). Above the floor AQE
    still earns its keep: with AQE off at sf0.1 (width 13),
    q_ts_similarity plans its capped pairwise stage (at most 300 rows
    per side) as a CartesianProduct of two 13-partition sides, 169
    tasks, where AQE's runtime broadcast makes it one nested-loop
    join. So above the floor AQE keeps the session's value.

    Callers MUST materialize inside the scope (these evals end in at
    most a few dozen rows — ``localCheckpoint(eager=True)`` them): a
    lazily returned DataFrame executes after the scope restores the
    confs and sees none of this. Conf is session-global for the
    scope's duration — the single-threaded-driver regime;
    concurrent-query correctness is pinned by
    tests/test_dedup.py::test_lp_conf_scope_concurrent_query_correct.
    """
    parts = eval_width(spark, n_rows, rows_per_part)
    overrides = {"spark.sql.shuffle.partitions": str(parts)}
    if parts == _FLOOR_PARTS:
        overrides["spark.sql.adaptive.enabled"] = "false"
    with conf_scope(spark, overrides):
        yield parts


def spread(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Widen a too-narrow scan for CPU-heavy per-row work (hashing,
    shingling, vector math): a parquet file is splittable only at
    row-group granularity, so a small file count can pin heavy compute
    to a few tasks regardless of cores.

    Adaptive: a no-op when the scan already yields >= the session's
    parallelism — on a 100 TB table (thousands of row groups) this never
    shuffles; it only round-robins genuinely narrow inputs, where the
    shuffle is tiny by construction.

    The decision probe (``df.rdd.getNumPartitions()`` plans the scan:
    ~50-60 ms of driver time) and its outcome are memoized on the
    DataFrame object itself — with :func:`load_table` returning the
    same object per table, a query that spreads the same scan the
    bench already spread pays the probe zero times, not once per call
    (round-11: the probe + re-load cost 160-190 ms per call inside
    every timed query build). Memo entries are (n, result) so an
    explicit ``partitions=`` override never reuses a mismatched width.
    """
    n = partitions or df.sparkSession.sparkContext.defaultParallelism
    memo = getattr(df, "_kes_spread", None)
    if memo is not None and memo[0] == n:
        return memo[1]
    out = df if df.rdd.getNumPartitions() >= n else df.repartition(n)
    try:
        df._kes_spread = (n, out)
    except Exception:
        pass  # exotic DataFrame subclass refusing attributes — fine
    return out
