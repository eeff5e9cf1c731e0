"""Pin lifetimes (catalog.pin / pin_scope / query_pins): a query's pins
are released by the same thread's next registered call once they are
filled, or on pin_scope exit; an unexecuted plan keeps its pins while
its frame lives."""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import functions as F

from keycloak_event_stream_spark import catalog, registry
from keycloak_event_stream_spark.catalog import pin, pin_scope
from keycloak_event_stream_spark.operators._scale import two_phase_window


def _cache_size(spark) -> int:
    return spark._jsparkSession.sharedState().cacheManager().cachedData().size()


def _ranked(spark, n: int, k: int = 5):
    df = spark.range(n).select((F.col("id") * 37 % 211).alias("v"), "id")
    return two_phase_window(df, [F.col("v"), F.col("id")], row_number="rn", k=k)


def _rns(df) -> list[int]:
    return sorted(r.rn for r in df.collect())


def test_two_phase_queries_leave_at_most_one_querys_pins(spark, register):
    """Each two-phase query pins its ranged layout; the next query on the
    thread releases it, so ten queries in a row leave one query's pin."""
    q = register("t_two_phase", _ranked)
    spark.catalog.clearCache()
    try:
        for i in range(10):
            out = q(spark, 200 + i)
            assert _rns(out) == list(range(1, 201 + i))
            assert _cache_size(spark) <= 1
    finally:
        spark.catalog.clearCache()


def test_unexecuted_pin_survives_later_queries(spark, register):
    """A lazily returned two-phase plan that has not executed keeps its
    pin through later queries (dropping it could let the offset and main
    branches read different re-sampled range layouts); once executed,
    its global row numbers are exact and the next query releases it."""
    q = register("t_two_phase", _ranked)
    spark.catalog.clearCache()
    try:
        held = q(spark, 1000, 7)
        for i in range(6):
            assert _rns(q(spark, 100 + i, 3)) == list(range(1, 101 + i))
        states = [catalog._persist_state(d) for d in catalog._pins.query]
        assert "pending" in states, states
        assert _rns(held) == list(range(1, 1001))
        q(spark, 50, 3)
        assert _cache_size(spark) == 1  # only the newest query's pin
    finally:
        spark.catalog.clearCache()


def test_dropped_frame_releases_its_pending_pin(spark, register):
    """A query that returns its own pin: the pin stays while the frame
    lives, unexecuted, and the call after the frame is dropped releases
    it."""
    q = register("t_self_pin", lambda spark, n: pin(spark.range(n).select(
        (F.col("id") % 7).alias("v"))))
    probe = register("t_probe", lambda spark, n: spark.range(n))
    spark.catalog.clearCache()
    try:
        held = q(spark, 100)
        probe(spark, 1)
        assert _cache_size(spark) == 1
        assert catalog._persist_state(held) == "pending"
        del held
        probe(spark, 1)
        assert _cache_size(spark) == 0
        assert not catalog._pins.query
    finally:
        spark.catalog.clearCache()


def test_raising_query_releases_its_pins(spark, register):
    """A call that raises returns no frame to fill its pins, so it
    releases them on the way out."""
    def fails(spark, n):
        pin(spark.range(n))
        raise ValueError("after the pin")

    q = register("t_raises", fails)
    spark.catalog.clearCache()
    try:
        with pytest.raises(ValueError):
            q(spark, 100)
        assert _cache_size(spark) == 0
        assert not catalog._pins.query
    finally:
        spark.catalog.clearCache()


def test_threads_release_only_their_own_pins(spark, register):
    """Two threads on one session: results stay exact while they run
    side by side, and one thread's queries never release the other's
    pins."""
    q = register("t_two_phase", _ranked)
    spark.catalog.clearCache()
    errors: list[BaseException] = []
    turn = threading.Barrier(2, timeout=300)
    kept: list[str] = []

    def guarded(body):
        def run():
            try:
                body()
            except BaseException as exc:  # pragma: no cover - failure path
                errors.append(exc)
                turn.abort()

        return run

    def owner():
        for i in range(4):
            assert _rns(q(spark, 120 + i)) == list(range(1, 121 + i))
        mine = list(catalog._pins.query)
        turn.wait()  # the other thread now runs its queries
        turn.wait()
        kept.extend(catalog._persist_state(d) for d in mine)

    def other():
        for i in range(4):
            assert _rns(q(spark, 130 + i)) == list(range(1, 131 + i))
        turn.wait()
        for i in range(4):
            assert _rns(q(spark, 90 + i)) == list(range(1, 91 + i))
        turn.wait()

    threads = [threading.Thread(target=guarded(f)) for f in (owner, other)]
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errors, errors
        assert kept == ["loaded"]
    finally:
        spark.catalog.clearCache()


def test_pin_scope_releases_nested_pins(spark, register):
    """pin_scope exit releases pins made inside it, including those of a
    nested registered call, and the nested call releases nothing."""
    inner = register("t_inner", _ranked)

    def eager(spark, n):
        with pin_scope():
            base = pin(spark.range(n).select((F.col("id") % 7).alias("v")))
            base.count()
            out = inner(spark, n).localCheckpoint(eager=True)
            assert catalog._persist_state(base) == "loaded"
            return out

    outer = register("t_outer", eager)
    spark.catalog.clearCache()
    try:
        assert _rns(outer(spark, 300)) == list(range(1, 301))
        assert _cache_size(spark) == 0
    finally:
        spark.catalog.clearCache()


def test_persist_state_probe_failure_warns_once_on_live_session(
    spark, monkeypatch
):
    """A probe failure on a LIVE session (CacheManager internals moved)
    must emit the one-time RuntimeWarning — silently releasing pins of
    unexecuted plans is the hazard the probe exists to prevent — while
    a dead session stays quiet by design. Both map to 'unknown'."""
    import warnings

    monkeypatch.setattr(catalog, "_probe_failure_warned", False)

    class _FakeDF:
        sparkSession = spark

        @property
        def _jdf(self):
            raise AttributeError("cachedRepresentation moved")

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        s1 = catalog._persist_state(_FakeDF())
        s2 = catalog._persist_state(_FakeDF())
    assert s1 == s2 == "unknown"
    runtime = [w for w in caught if issubclass(w.category, RuntimeWarning)]
    assert len(runtime) == 1  # one-time, not per-probe
    assert "LIVE session" in str(runtime[0].message)

    # dead-session path: no sparkSession at all -> quiet 'unknown'
    monkeypatch.setattr(catalog, "_probe_failure_warned", False)

    class _DeadDF:
        @property
        def sparkSession(self):
            raise RuntimeError("session stopped")

    with warnings.catch_warnings(record=True) as caught2:
        warnings.simplefilter("always")
        assert catalog._persist_state(_DeadDF()) == "unknown"
    assert not [w for w in caught2 if issubclass(w.category, RuntimeWarning)]


def test_registry_pins_released(sweep):
    """Driver-shaped sweep: one shared session, no clearCache. After a
    pinning query's result is collected, the next registered call (or the
    query's own pin_scope exit) leaves none of its CacheManager entries.
    The pinning queries are those that called persist while they were
    built (directly, through two_phase_window or through a nested
    registered call)."""
    from tools.plan_audit import pins_left

    assert any(r.persists for r in sweep.records.values()), "no persist seen"
    leaks = pins_left(sweep.records)  # the pinning queries, and the rest
    assert not leaks, f"{len(leaks)} queries leave entries: {leaks}"


def test_dropped_plans_leave_no_pins(spark, register, sweep):
    """A plan audit: the pinning queries that build lazily (their pins
    were still 'pending' when the sweep's build returned) built and
    dropped without running. Nothing can fill their pins any more, so
    one more registered call releases every one of them, 'pending' or
    not."""
    from conftest import SF_DIR
    from tools.plan_audit import cache_entries

    dropped = [n for n, r in sweep.records.items() if r.pending]
    queries, _ = registry.collect()
    probe = register("t_probe", lambda spark, sf_dir: spark.range(1))
    probe(spark, SF_DIR)  # release what earlier calls on this thread left
    before = cache_entries(spark)
    for name in dropped:
        queries[name](spark, SF_DIR)  # built, never executed, dropped
    made = cache_entries(spark) - before
    pending = [catalog._persist_state(d) for d in catalog._pins.query].count("pending")
    assert made and pending, (len(made), pending)

    probe(spark, SF_DIR)
    assert not made & cache_entries(spark)
    assert "pending" not in [catalog._persist_state(d) for d in catalog._pins.query]
