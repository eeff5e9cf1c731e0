"""Query registry — the single source for the driver contract.

Every query enters through ``register(name, oracle)``: a decorator that
records the ``(spark, sf_dir) -> DataFrame`` function and its DuckDB SQL
twin, and raises on a name registered twice. The registered function
is a ``functools.wraps`` wrapper that marks the query boundary for pin
lifetimes (``catalog.query_pins``) and hands it the returned frame.
``collect()`` imports every module in ``_MODULES`` and returns both maps
in driver order. A module that fails to import fails ``collect()``:
coverage never shrinks quietly.
"""

from __future__ import annotations

import functools
import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from keycloak_event_stream_spark.catalog import query_pins

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLE: dict[str, str] = {}


def register(name: str, oracle: str):
    """Decorator: enter ``fn`` as query ``name`` with its oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _QUERIES:
            prior = _QUERIES[name]
            raise ValueError(
                f"duplicate query name {name}: {fn.__module__}.{fn.__qualname__}"
                f" and {prior.__module__}.{prior.__qualname__}"
            )

        @functools.wraps(fn)
        def query(*args, **kwargs):
            with query_pins() as returned:
                return returned(fn(*args, **kwargs))

        _QUERIES[name] = query
        _ORACLE[name] = oracle
        return query

    return deco


_MODULES = [
    "keycloak_event_stream_spark.operators.relational",
    "keycloak_event_stream_spark.operators.relational_ext",
    "keycloak_event_stream_spark.operators.tpch",
    "keycloak_event_stream_spark.operators.scale_patterns",
    "keycloak_event_stream_spark.operators.graph",
    "keycloak_event_stream_spark.operators.advanced_sql",
    "keycloak_event_stream_spark.operators.insights",
    "keycloak_event_stream_spark.operators.stattests",
    "keycloak_event_stream_spark.operators.timeseries",
    "keycloak_event_stream_spark.operators.layout",
    "keycloak_event_stream_spark.operators.sketches",
    "keycloak_event_stream_spark.operators.analytics",
    "keycloak_event_stream_spark.operators.bi",
    "keycloak_event_stream_spark.operators.profiling",
    "keycloak_event_stream_spark.operators.mleval",
    "keycloak_event_stream_spark.functions.scalar",
    "keycloak_event_stream_spark.functions.udfs",
    "keycloak_event_stream_spark.functions.variant",
    "keycloak_event_stream_spark.functions.funcmatrix",
    "keycloak_event_stream_spark.functions.udtf",
    "keycloak_event_stream_spark.plans.event_query",
    "keycloak_event_stream_spark.streaming.queries",
    "keycloak_event_stream_spark.sources.formats",
    "keycloak_event_stream_spark.sources.pushgen",
    "keycloak_event_stream_spark.sources.pysink",
    "keycloak_event_stream_spark.sources.pygen",
    "keycloak_event_stream_spark.llm.dedup",
    "keycloak_event_stream_spark.llm.simsearch",
    "keycloak_event_stream_spark.llm.textstats",
    "keycloak_event_stream_spark.llm.multimodal",
    "keycloak_event_stream_spark.llm.sampling",
    "keycloak_event_stream_spark.llm.curation",
    "keycloak_event_stream_spark.llm.vectors",
    "keycloak_event_stream_spark.llm.tokenizer",
]


# The driver window: the driver's correctness report covers only the
# first 50 registered names. Rule for filling it: first the names whose
# code changed since their last green driver row, then the names whose
# green row is oldest. Every other name follows in _MODULES order, then
# definition order within its module.
_PRIORITY = [
    # ---- q_sql_scripting: its conf change moved to catalog.conf_scope;
    # the four array/table-function names come back for fresh rows ----
    "q_sql_scripting",
    "q_array_explode",
    "q_array_agg",
    "q_explode_outer",
    "q_sql_table_fn",
    # ---- plan changed at sf0.01: their bounded-eval scope sits at
    # the floor width, where it now turns AQE off ----
    "q_lsh_intake_recall_eval",
    "q_stickiness",
    "q_embedding_outliers",
    "q_kn_bigram_lm",
    # ---- first driver rows in round 12 ----
    "q_late_data_quantify",
    "q_peak_concurrency",
    "q_percentile_interp",
    "q_item_item_cf",
    "q_target_encoding",
    "q_woe_binning",
    "q_null_imputation",
    # ---- code changed in round 12 ----
    "q_bm25",
    "q_perplexity_unigram",
    "q_bigram_lm",
    "q_join_salted_skew",
    "q_recursive_hierarchy",
    "q_udtf_partition_agg",
    "q_ks_test",
    "q_auc_roc",
    "q_pareto_abc",
    "q_quantile_normalize",
    "q_purchase_intervals",
    "q_lorenz_deciles",
    "q_abc_xyz",
    "q_rfm_segmentation",
    "q_time_to_convert",
    "q_gain_curve",
    "q_pr_curve",
    "q_threshold_optimizer",
    "q_qq_plot",
    "q_ts_similarity",
    "q_dedup_near_minhash",
    "q_dedup_components",
    # ---- round-11 graph rewrites ----
    "q_graph_pagerank",
    "q_graph_hits",
    "q_graph_kcore",
    "q_graph_bfs_levels",
    # ---- code changed in round 11 ----
    "q_kmeans_lloyd",
    "q_market_basket",
    "q_window_distinct_running",
    "q_spearman",
    "q_lead_time",
    "q_levene_test",
    "q_percentile_bands_exact",
    # ---- oldest green row: round 7 ----
    "q_udtf_first_seen",
]


def collect() -> tuple[dict[str, QueryFn], dict[str, str]]:
    for modname in _MODULES:
        importlib.import_module(modname)
    rank = {modname: i for i, modname in enumerate(_MODULES)}
    rest = [name for name in _QUERIES if name not in _PRIORITY]
    # stable sort: definition order survives within each module, however
    # the modules happened to import each other
    rest.sort(key=lambda name: rank[_QUERIES[name].__module__])
    ordered = {name: _QUERIES[name] for name in _PRIORITY + rest}
    return ordered, {name: _ORACLE[name] for name in ordered}
