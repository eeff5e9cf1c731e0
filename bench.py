"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE compact JSON line LAST:
``{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}``
(scalar canary/scale10x summaries only — the full detail, including the
per-query 10x table, is written to ``BENCH_LOCAL.json`` so a bounded
tail capture of stdout always contains the parseable gate numbers).

Each query is forced through full execution with the noop sink (all
partitions materialized executor-side, nothing collected to the driver)
— the honest measure of plan cost, not of driver serialization.

Noise discipline (round-3): this container is shared, and round 2
measured a 21% whole-run inflation on identical code. Three defenses:

- **best-of-3, pass-interleaved**: the headline list runs as three full
  passes (A B C … / A B C … / A B C …) and each query keeps its
  minimum — a noisy minute degrades one pass of every query instead of
  both runs of a few, so minima survive.
- **noise canary**: a fixed reference query (``q_tpch_q6``, untouched
  since round 1) is timed at the start of every pass and reported
  separately; round-over-round comparisons divide by the canary before
  calling anything a regression.
- **cold-plan timing** (round-4): ``spark.catalog.clearCache()`` runs
  before EVERY timed execution, so operators that persist a subtree
  (two-phase windows, pagerank edges, …) are re-executed, not read back
  from the pass-1 InMemoryRelation — the per-query minimum is plan
  cost, not warm-cache throughput, and entries no longer accumulate
  across the run. (Numbers re-baselined in BASELINE.md accordingly.)
- **10x scale leg**: a replicated-disjoint-key ~sf1 dataset (reused
  from ``tools/scale_probe.py``) re-times a representative subset so
  every BENCH artifact carries the scale-growth ratios, not just the
  same-scale totals. Budget-bounded; anything skipped is listed in
  ``scale10x.skipped`` (no silent caps).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from keycloak_event_stream_spark.registry import collect  # noqa: E402
from keycloak_event_stream_spark.session import get_spark  # noqa: E402
from tools.jvm_cpu import compile_ms  # noqa: E402

# The headline set: one per operator family, the shapes that dominate a
# 100 TB workload (scan-agg, star join, shuffle join, top-k, window,
# as-of, pagination, near-dup LSH, ANN, TF-IDF).
HEADLINE = [
    "q_agg_hash",
    "q_join_broadcast",
    "q_join_inner_hash",
    "q_join_asof",
    "q_topk",
    "q_sort_limit_offset",
    "q_window_rank",
    "q_rollup",
    "q_dedup_near_minhash",
    "q_sim_search",
    "q_tfidf",
    "q_eventstore_canonical",
    "q_tpch_q3",
    "q_tpch_q5",
    "q_tpch_q18",
    "q_tpch_q6",
    "q_tpch_q1",
    "q_tpch_q9",
    "q_tpch_q21",
    "q_sessionize",
    "q_dedup_components",
    "q_sim_search_lsh",
    "q_chunk_documents",
    "q_decontaminate",
    "q_embed_centroid",
    "q_funnel",
    "q_winsorize",
    "q_join_range_binned",
    "q_join_salted_skew",
    "q_incremental_agg",
    "q_graph_pagerank",
    "q_bm25",
    "q_ts_similarity",
    "q_variant_parse",
    "q_udtf_first_seen",
    "q_lateral_topk",
    "q_window_distinct_running",
    "q_skyline",
    "q_cluster_zorder",
    "q_sketch_cms",
    "q_market_basket",
    "q_anomaly_zscore",
    "q_yoy_growth",
    "q_ks_test",
    "q_gini",
    "q_interval_merge",
    "q_recursive_hierarchy",
    "q_pipe_syntax",
    "q_kmeans_lloyd",
    "q_bigram_lm",
    "q_auc_roc",
    "q_ngram_novelty",
]

PASSES = 3
CANARY = "q_tpch_q6"

# representative subset re-timed on the 10x replica (scan-agg, big-join,
# basket fan-out, running-window two-phase family, star-join rollup,
# plus the LLM-pipeline shapes: TF-IDF explode+agg, banded-LSH dedup,
# LSH ANN — documents/embeddings replicate 10x too)
SCALE10X_QUERIES = [
    "q_tpch_q1",
    "q_tpch_q18",
    "q_market_basket",
    "q_window_distinct_running",
    "q_ks_test",
    "q_gini",
    "q_attribution_last_touch",
    "q_yoy_growth",
    "q_pareto_abc",
    "q_agg_corr",
    "q_tfidf",
    "q_dedup_near_minhash",
    "q_sim_search_lsh",
]
SCALE10X_BUDGET_S = 300.0
# SPARK_GRAFT_BENCH_SCALE10X_FULL=1 re-times the ENTIRE headline list
# on the 10x replica (not just the representative subset) with a wide
# budget — the once-per-round evidence pass recorded in BASELINE.md's
# full 10x table (r3 verdict #6); too slow for the per-round driver
# bench, hence the gate.
SCALE10X_FULL_BUDGET_S = 3600.0

# Most recent FULL-headline 10x sweep (the SCALE10X_FULL=1 evidence
# pass; table in BASELINE.md). Carried in the compact line alongside
# the per-run subset max so the machine-readable artifact and the
# prose never disagree on "max ratio" (r4 verdict #4: the subset max
# 3.34 sat next to the full-table max 5.07 with one ambiguous name).
SCALE10X_FULL_RECORDED = {
    "max_ratio": 3.79,
    "max_query": "q_tpch_q3",
    "median_ratio": 1.51,
    "recorded": "round-12 final-tree re-record (closes the r11"
    " scale10x_full_stale flag; full table in BASELINE.md 'Round 12 —"
    " full-headline 10x table'). Max is q_tpch_q3 scan saturation,"
    " not skew (r11 runner-up at 3.04-3.21); q_graph_pagerank 3.49"
    " (iterative cold build, steady-state twin recorded alongside),"
    " q_market_basket 3.18, q_tpch_q18 3.17. Two same-tree sweeps were"
    " taken: an earlier leg in a window whose 10x side inflated four"
    " rows (market_basket read 5.24 there; isolated re-probes: 2.1x,"
    " pagerank 3.5x, q18 3.4x, q1 1.2x) is recorded in BASELINE.md"
    " and superseded by this one — no code changed between them",
    # Tree the sweep was recorded on (r5 ADVICE: a hardcoded figure
    # silently goes stale after perf-affecting changes). _stale_check
    # compares this commit to HEAD over the package dir and the
    # compact line carries scale10x_full_stale so the artifact is
    # self-describing; re-record with SPARK_GRAFT_BENCH_SCALE10X_FULL=1
    # and update this stamp whenever it reports stale. The r9 ADVICE
    # dual-source mismatch is closed by protocol now: the stamp is
    # updated FROM the just-written BENCH_LOCAL.json scale10x block
    # and the plain bench re-run that follows regenerates
    # BENCH_LOCAL.json from this stamp, so the two artifacts cannot
    # disagree on the committed tree.
    "commit": "a5d80d8",
}

# Canary-normalized total (r5 verdict #4): recorded headline totals for
# ONE tree spanned 55.5-79.4 s across sessions (canary warm spreads
# 4-58%), so absolute seconds need prose to interpret. The compact line
# therefore also carries value_canary_norm = total / min(warm canary
# passes) — dimensionless, container-speed-free — and value_noise_adj_sec
# = total * (_CANARY_REF_SEC / min warm canary), i.e. the total this
# session WOULD have measured at the reference container speed. The
# reference constant is the r5 DRIVER-session canary (BASELINE.md
# "Round 6 — canary normalization constant", ±15% resolution note
# there): compare rounds on value_noise_adj_sec without caveats.
_CANARY_REF_SEC = 0.400


def _stale_check() -> bool:
    """True if the package changed since the recorded full-10x sweep."""
    import subprocess

    try:
        out = subprocess.run(
            [
                "git", "-C", REPO, "diff", "--name-only",
                SCALE10X_FULL_RECORDED["commit"], "HEAD", "--",
                "keycloak_event_stream_spark",
            ],
            capture_output=True, text=True, timeout=10,
        )
        if out.returncode != 0:
            return False  # unknown commit / not a checkout — can't tell
        changed = [ln for ln in out.stdout.splitlines() if ln.strip()]
        if changed:
            print(
                f"[bench] scale10x_full_recorded is STALE: "
                f"{len(changed)} package file(s) changed since "
                f"{SCALE10X_FULL_RECORDED['commit']} "
                f"(e.g. {changed[0]}) — re-record with "
                "SPARK_GRAFT_BENCH_SCALE10X_FULL=1",
                file=sys.stderr,
            )
        return bool(changed)
    except Exception:
        return False


def _run(queries, name, spark, sf_dir) -> float:
    t0 = time.monotonic()
    queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.monotonic() - t0


def _clear_cache(spark) -> None:
    """Drop every CacheManager entry between timed passes.

    Many operators persist a subtree (the two-phase window primitive,
    pagerank's edge table, …) and Spark's CacheManager substitutes any
    semantically identical plan with the cached InMemoryRelation — so
    without this, passes 2+ of a persisting query measure a warm-cache
    read, not plan cost (round-4 ADVICE). Clearing between passes keeps
    the per-query minimum an honest cold-plan number.
    """
    spark.catalog.clearCache()


def _run_cold(queries, name, spark, sf_dir) -> float:
    _clear_cache(spark)
    return _run(queries, name, spark, sf_dir)


def _compiles(spark) -> int:
    """Janino compiles so far in this JVM (one per generated class that
    missed Spark's codegen class cache)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _scale10x(queries, spark, sf_dir) -> dict:
    """Bounded 10x leg: build/reuse the disjoint-key replica and re-time
    the representative subset, best-of-2 each, under a wall budget."""
    try:
        from tools.scale_probe import OUT, build_replica

        build_replica(spark)
    except Exception as exc:  # disk/permissions — report, don't die
        return {"error": f"{type(exc).__name__}: {exc}"}
    full = os.environ.get("SPARK_GRAFT_BENCH_SCALE10X_FULL", "0") == "1"
    names = HEADLINE if full else SCALE10X_QUERIES
    budget = SCALE10X_FULL_BUDGET_S if full else SCALE10X_BUDGET_S
    t_start = time.monotonic()
    out: dict = {"queries": {}, "skipped": []}
    for name in names:
        if name not in queries:
            out["skipped"].append(name)
            continue
        if time.monotonic() - t_start > budget:
            out["skipped"].append(name)
            continue
        t1 = min(_run_cold(queries, name, spark, sf_dir) for _ in range(2))
        t10 = min(_run_cold(queries, name, spark, OUT) for _ in range(2))
        out["queries"][name] = {
            "sf1x": round(t1, 3),
            "sf10x": round(t10, 3),
            "ratio": round(t10 / t1, 2),
        }
    if out["queries"]:
        out["max_ratio"] = max(q["ratio"] for q in out["queries"].values())
    return out


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    queries, _ = collect()
    spark = get_spark("bench")

    # JVM/codegen/shuffle warmup outside the timed region: a scan and a
    # small shuffled join+agg touch every execution subsystem once
    queries["q_scan_project"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    queries["q_agg_distinct"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    # warm the canary's own plan too: its pass-1 sample must measure the
    # container, not this query's one-time Catalyst/codegen compile
    _run(queries, CANARY, spark, sf_dir)

    canary_passes: list[float] = []
    samples: dict[str, list[float]] = {}
    # classes each pass (canary included) had to compile: pass 1 fills
    # the codegen cache, later passes should find their classes there
    compiles_per_pass: list[int] = []
    # HotSpot's compile time each pass (CompilationMXBean, driver JVM)
    jit_ms_per_pass: list[int] = []
    for _ in range(PASSES):
        compiled = _compiles(spark)
        jit_ms = compile_ms(spark)
        canary_passes.append(round(_run_cold(queries, CANARY, spark, sf_dir), 3))
        for name in HEADLINE:
            if name not in queries:
                continue
            samples.setdefault(name, []).append(
                _run_cold(queries, name, spark, sf_dir)
            )
        compiles_per_pass.append(_compiles(spark) - compiled)
        jit_ms_per_pass.append(compile_ms(spark) - jit_ms)
    times = {name: round(min(ts), 3) for name, ts in samples.items()}

    # Steady-state pagerank leg (r7 verdict #7b): the headline row
    # times the COLD protocol — edge-table build + 5 iterations every
    # run. On a cluster the edge table is built once and iterated many
    # times, so the marginal (warm-edge) cost is the honest number for
    # the iterative family: run once to build + pin the edges, then
    # time passes that reuse the cache (CacheManager substitutes the
    # semantically-equal persisted subtree on re-invocation). The r4
    # stage attribution (BASELINE.md) showed ~2.8 s of the ~8 s cold
    # row is build; this field keeps that measured, not asserted.
    pagerank_steady = None
    if "q_graph_pagerank" in queries:
        _clear_cache(spark)
        _run(queries, "q_graph_pagerank", spark, sf_dir)  # build + pin
        pagerank_steady = round(
            min(_run(queries, "q_graph_pagerank", spark, sf_dir) for _ in range(2)),
            3,
        )
        _clear_cache(spark)

    total = round(sum(times.values()), 3)
    warm = canary_passes[1:] if len(canary_passes) >= 3 else canary_passes
    canary_min_warm = min(warm)
    canary = {
        "query": CANARY,
        "passes": canary_passes,
        # all-pass spread includes pass-1's JVM/JIT/page-cache ramp —
        # real, but not container noise; the warm spread (passes 2+) is
        # the cross-round normalization signal
        "spread_pct": round(
            100.0 * (max(canary_passes) - min(canary_passes)) / min(canary_passes),
            1,
        ),
        "spread_pct_warm": round(
            100.0 * (max(warm) - min(warm)) / min(warm), 1
        ),
    }
    scale10x = (
        _scale10x(queries, spark, sf_dir)
        if os.environ.get("SPARK_GRAFT_BENCH_SCALE10X", "1") != "0"
        else {"skipped": SCALE10X_QUERIES}
    )

    # Artifact discipline (round-4, per r3 verdict #1): the driver's tail
    # capture is bounded, and round 3's single giant line (queries +
    # canary + scale10x detail) got its HEAD clipped — `BENCH_r03.json`
    # ended up `parsed: null`. Two-channel emission fixes it for good:
    #   - the FULL result (incl. per-query scale10x detail and the raw
    #     canary passes) goes to ``BENCH_LOCAL.json`` in-repo, and
    #   - stdout gets ONE compact contract line, printed LAST, holding
    #     only the gate numbers: metric/value/unit/sf/queries plus
    #     scalar canary + scale10x summaries (~2 KB, survives any
    #     bounded tail capture).
    stale = _stale_check()
    full = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "passes": PASSES,
        "canary": canary,
        "canary_ref_sec": _CANARY_REF_SEC,
        "value_canary_norm": round(total / canary_min_warm, 1),
        "value_noise_adj_sec": round(
            total * _CANARY_REF_SEC / canary_min_warm, 1
        ),
        "scale10x": scale10x,
        "scale10x_full_recorded": SCALE10X_FULL_RECORDED,
        "scale10x_full_stale": stale,
        "pagerank_steady_state_sec": pagerank_steady,
        "janino_compiles_per_pass": compiles_per_pass,
        "hotspot_compile_ms_per_pass": jit_ms_per_pass,
    }
    try:
        with open(os.path.join(REPO, "BENCH_LOCAL.json"), "w") as fh:
            json.dump(full, fh, indent=1)
            fh.write("\n")
    except OSError as exc:  # read-only checkout — stdout line still carries gates
        print(f"[bench] BENCH_LOCAL.json not written: {exc}", file=sys.stderr)
    compact = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "passes": PASSES,
        "canary_spread_pct_warm": canary["spread_pct_warm"],
        # noise-robust scalars (r5 verdict #4): dimensionless
        # canary-relative total + the noise-adjusted seconds a future
        # round can compare directly (constant in BASELINE.md)
        "canary_min_warm_sec": canary_min_warm,
        "value_canary_norm": full["value_canary_norm"],
        "value_noise_adj_sec": full["value_noise_adj_sec"],
        # subset = this run's representative leg; full = the recorded
        # whole-headline sweep (unambiguous full-coverage number)
        "scale10x_subset_max_ratio": scale10x.get("max_ratio"),
        "scale10x_n": len(scale10x.get("queries", {})),
        "scale10x_full_max_ratio": SCALE10X_FULL_RECORDED["max_ratio"],
        "scale10x_full_max_query": SCALE10X_FULL_RECORDED["max_query"],
        "scale10x_full_recorded": SCALE10X_FULL_RECORDED["recorded"],
        "scale10x_full_commit": SCALE10X_FULL_RECORDED["commit"],
        "scale10x_full_stale": stale,
        # warm-edge iterative-family marginal cost (r7 verdict #7b):
        # the headline pagerank row is COLD (build + iterate each run)
        "pagerank_steady_state_sec": pagerank_steady,
        "detail": "BENCH_LOCAL.json",
    }
    print(json.dumps(compact))
    # Last-resort gate line (r10 verdict #2): even the ~2 KB compact
    # line got head-clipped by the driver's bounded tail capture
    # (BENCH_r10.json ``parsed: null`` — the capture window started
    # mid-JSON because ``queries`` embeds 52 timings). Emit ONE more
    # line, printed LAST and guaranteed <300 bytes (no per-query map),
    # holding only the scalar gates, so any tail window that clips the
    # compact line still ends on a complete parseable JSON object.
    gate = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(times),
        "value_canary_norm": full["value_canary_norm"],
        "value_noise_adj_sec": full["value_noise_adj_sec"],
        "canary_spread_pct_warm": canary["spread_pct_warm"],
        "scale10x_full_max_ratio": SCALE10X_FULL_RECORDED["max_ratio"],
        "detail": "BENCH_LOCAL.json",
    }
    print(json.dumps(gate))
    return 0


if __name__ == "__main__":
    sys.exit(main())
