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


@pytest.fixture
def register(monkeypatch):
    """Register throwaway queries without touching the real registry."""
    registry.collect()  # import every module first: the copy holds them all
    monkeypatch.setattr(registry, "_QUERIES", dict(registry._QUERIES))
    monkeypatch.setattr(registry, "_ORACLE", dict(registry._ORACLE))
    return lambda name, fn: registry.register(name, oracle="SELECT 1")(fn)


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


# Every registered query that pins (directly, through two_phase_window or
# through a nested registered call) — found by building each query once
# with persist() instrumented.
PINNING_QUERIES = [
    "q_abc_xyz", "q_association_rules", "q_auc_roc", "q_bloom_probe",
    "q_bpe_encode", "q_bpe_pair_stats", "q_catalog_freshness",
    "q_changepoint_cusum", "q_churn_hazard_weekly", "q_cohen_kappa",
    "q_cohort_matrix_triangle", "q_compaction_bins", "q_cross_correlation",
    "q_curriculum_interleave", "q_dedup_components", "q_dedup_cross_source",
    "q_dedup_near_minhash", "q_dedup_threshold_sweep",
    "q_first_last_touch_compare", "q_gain_curve", "q_gini",
    "q_graph_assortativity", "q_graph_bfs_levels", "q_graph_common_neighbors",
    "q_graph_hits", "q_graph_kcore", "q_graph_pagerank",
    "q_graph_resource_alloc", "q_graph_triangles", "q_growth_accounting",
    "q_hll_merge_eval", "q_join_skew_stats", "q_js_divergence", "q_ks_test",
    "q_lang_vocab_overlap", "q_late_data_quantify", "q_lead_time",
    "q_length_batching", "q_levene_test", "q_lorenz_deciles",
    "q_lsh_cap_recall_eval", "q_lsh_intake_recall_eval", "q_mad",
    "q_mannwhitney", "q_market_share_shift", "q_minhash_eval",
    "q_mutual_information", "q_new_vs_returning", "q_order_gap_outliers",
    "q_outlier_iqr", "q_pack_sequences", "q_pareto_abc", "q_peak_concurrency",
    "q_percentile_bands_exact", "q_percentile_interp",
    "q_percentile_trend_weekly", "q_pr_curve", "q_purchase_intervals",
    "q_qq_plot", "q_quantile_normalize", "q_quantile_sketch_eval",
    "q_recursive_hierarchy", "q_retention_curve_fit", "q_rfm_segmentation",
    "q_robust_scaler", "q_sampling_bias_check", "q_shard_plan",
    "q_shingle_size_sensitivity", "q_skyline", "q_source_card",
    "q_source_corrupt_tolerant", "q_sparse_cosine_pairs", "q_spearman",
    "q_spearman_corr", "q_stickiness", "q_supplier_balance_abc",
    "q_systematic_sample", "q_threshold_optimizer", "q_time_to_convert",
    "q_top_p_nucleus", "q_ts_similarity", "q_vocab_coverage",
    "q_window_range_frame", "q_winsorized_mean_by", "q_zone_map_skip_eval",
]


def test_registry_pins_released(spark, register):
    """Driver-shaped sweep: one shared session, no clearCache. After a
    pinning query's result is collected, the next registered call (or the
    query's own pin_scope exit) leaves none of its CacheManager entries."""
    from conftest import SF_DIR

    cm = spark._jsparkSession.sharedState().cacheManager()
    ident = spark._jvm.System.identityHashCode

    def entries() -> set[int]:
        seq = cm.cachedData()
        return {ident(seq.apply(i)) for i in range(seq.size())}

    queries, _ = registry.collect()
    probe = register("t_probe", lambda spark, sf_dir: spark.range(1))
    leaks = {}
    for name in PINNING_QUERIES:
        before = entries()
        queries[name](spark, SF_DIR).collect()
        probe(spark, SF_DIR)
        left = entries() - before
        if left:
            leaks[name] = len(left)
    assert not leaks, f"{len(leaks)} queries leave entries: {leaks}"


# Pinning queries that build lazily: at sf0.001 each leaves its pins
# 'pending' until its plan executes. The others (graph loops, LSH
# evals, ...) fill or release their pins before they return.
DROPPED_PLANS = [
    "q_abc_xyz", "q_auc_roc", "q_bloom_probe", "q_bpe_encode",
    "q_bpe_pair_stats", "q_catalog_freshness", "q_changepoint_cusum",
    "q_churn_hazard_weekly", "q_cohen_kappa", "q_cohort_matrix_triangle",
    "q_compaction_bins", "q_cross_correlation", "q_curriculum_interleave",
    "q_dedup_cross_source", "q_dedup_near_minhash", "q_dedup_threshold_sweep",
    "q_first_last_touch_compare", "q_gain_curve", "q_gini",
    "q_growth_accounting", "q_hll_merge_eval", "q_join_skew_stats",
    "q_js_divergence", "q_ks_test", "q_lang_vocab_overlap",
    "q_late_data_quantify", "q_lead_time", "q_length_batching",
    "q_levene_test", "q_lorenz_deciles", "q_mad", "q_mannwhitney",
    "q_market_share_shift", "q_mutual_information", "q_new_vs_returning",
    "q_order_gap_outliers", "q_outlier_iqr", "q_pack_sequences",
    "q_pareto_abc", "q_peak_concurrency",
]


def test_dropped_plans_leave_no_pins(spark, register):
    """A plan audit: 40 pinning queries built and dropped without
    running. Nothing can fill their pins any more, so one more
    registered call releases every one of them, 'pending' or not."""
    from conftest import SF_DIR

    cm = spark._jsparkSession.sharedState().cacheManager()
    ident = spark._jvm.System.identityHashCode

    def entries() -> set[int]:
        seq = cm.cachedData()
        return {ident(seq.apply(i)) for i in range(seq.size())}

    queries, _ = registry.collect()
    probe = register("t_probe", lambda spark, sf_dir: spark.range(1))
    probe(spark, SF_DIR)  # release what earlier calls on this thread left
    before = entries()
    for name in DROPPED_PLANS:
        queries[name](spark, SF_DIR)  # built, never executed, dropped
    made = entries() - before
    pending = [catalog._persist_state(d) for d in catalog._pins.query].count("pending")
    assert made and pending, (len(made), pending)

    probe(spark, SF_DIR)
    assert not made & entries()
    assert "pending" not in [catalog._persist_state(d) for d in catalog._pins.query]
