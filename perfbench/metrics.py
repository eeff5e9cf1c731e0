"""Workload and metric names: the benchmark's fixed vocabulary.

``BENCHMARK.json`` lists the same names; ``tests/test_metrics.py``
keeps the two in step. Every run reports every name of its list; a
per-layer metric of a layer the workload does not exercise reads 0.
"""

from __future__ import annotations

import importlib

#: workload -> (module that runs it, why it was chosen)
WORKLOADS = {
    "ingest_burst": (
        "perfbench.ingest",
        "drains a seeded Keycloak drop (skewed users, late events, 0.2% malformed) "
        "through ingest_stream_json: the write path alone, nothing is read",
    ),
    "console_reads": (
        "perfbench.reads",
        "five admin-console query shapes through create_query over a store the "
        "program ingested itself: the read path alone, nothing written while timed",
    ),
    "analytics_headline": (
        "perfbench.analytics",
        "three heavy headline registry queries, each cold, on a fixed fixture: "
        "registry, catalog, operators and llm, with two eager iterative loops",
    ),
}

#: (name, unit, better). Each is measured on every workload; a pass is
#: one ingest round, one round of the five console shapes, or one pass
#: over the analytics queries. A pass is gated on the CPU seconds it
#: uses; its wall time (``trace.pass_s``) moves with the machine's load.
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("retained_mb", "MB", "lower"),
    ("pass_cpu_s", "s", "lower"),
]

SHAPES = (
    "realm_latest",
    "user_day",
    "type_hour_page",
    "client_week_deep_offset",
    "admin_resource_ops",
)

#: The headline queries the analytics workload runs; each one's time
#: and shuffle bytes are also reported on their own.
ANALYTICS_QUERIES = (
    "q_graph_pagerank",
    "q_ts_similarity",
    "q_bigram_lm",
)

PER_LAYER = [
    ("session.start_s", "s", "lower"),
    ("peak_rss_mb", "MB", "lower"),
    ("trace.pass_s", "s", "lower"),
    ("trace.pass_cpu_s", "s", "lower"),
    # sources.keycloak write path + streaming engine
    ("ingest.events_per_s", "1/s", "higher"),
    ("ingest.batches", "count", "higher"),
    ("ingest.batch_p50_s", "s", "lower"),
    ("ingest.batch_tail_s", "s", "lower"),
    ("ingest.batch_tail_pct", "%", "higher"),
    ("ingest.add_batch_s", "s", "lower"),
    ("ingest.planning_s", "s", "lower"),
    ("ingest.offsets_s", "s", "lower"),
    ("ingest.commit_s", "s", "lower"),
    ("ingest.jobs", "count", "lower"),
    ("ingest.tasks", "count", "lower"),
    ("ingest.cpu_s", "s", "lower"),
    ("ingest.input_bytes", "bytes", "lower"),
    ("ingest.shuffle_write_bytes", "bytes", "lower"),
    ("ingest.read_amplification", "ratio", "lower"),
    ("ingest.files_written", "count", "lower"),
    ("ingest.quarantined_rows", "count", "lower"),
    ("ingest.stored_bytes_per_input_byte", "ratio", "lower"),
    # plans.event_query + the store's read path
    ("read.queries", "count", "higher"),
    ("read.query_p50_s", "s", "lower"),
    ("read.query_tail_s", "s", "lower"),
    ("read.query_tail_pct", "%", "higher"),
    ("read.build_s", "s", "lower"),
    ("read.plan_s", "s", "lower"),
    ("read.execute_s", "s", "lower"),
    ("read.files_read", "count", "lower"),
    ("read.input_bytes", "bytes", "lower"),
    ("read.tasks", "count", "lower"),
    ("read.rows_examined_per_row_returned", "ratio", "lower"),
    *[(f"read.{s}.p50_s", "s", "lower") for s in SHAPES],
    # registry / operators / llm / catalog
    ("analytics.total_s", "s", "lower"),
    ("analytics.build_s", "s", "lower"),
    ("analytics.build_jobs", "count", "lower"),
    ("analytics.plan_s", "s", "lower"),
    ("analytics.execute_s", "s", "lower"),
    ("analytics.stages", "count", "lower"),
    ("analytics.tasks", "count", "lower"),
    ("analytics.cpu_s", "s", "lower"),
    ("analytics.gc_s", "s", "lower"),
    ("analytics.input_bytes", "bytes", "lower"),
    ("analytics.shuffle_read_bytes", "bytes", "lower"),
    ("analytics.shuffle_write_bytes", "bytes", "lower"),
    ("analytics.spill_bytes", "bytes", "lower"),
    ("analytics.leftover_cache_entries", "count", "lower"),
    *[
        m
        for q in ANALYTICS_QUERIES
        for m in ((f"analytics.{q}.s", "s", "lower"),
                  (f"analytics.{q}.shuffle_bytes", "bytes", "lower"))
    ],
]


def workload_fn(name: str):
    """The ``workload(run, seed, seconds, setup_t0)`` function of ``name``."""
    return importlib.import_module(WORKLOADS[name][0]).workload
