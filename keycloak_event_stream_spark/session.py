"""SparkSession factory.

Mirrors the reference's provider bootstrap
(``FirehoseEventStoreProviderFactory.java:62-109``: one shared client,
typed config with defaults, feature gating) as a configured
``SparkSession`` singleton.

Scale posture (the 100 TB design, tested on local[N]):
- AQE on: runtime partition coalescing, skew-join splitting, and
  dynamic join-strategy switching replace any hand-scheduling.
- shuffle.partitions sized to cores locally; on a real cluster this is
  overridden upward (AQE coalesces back down when partitions are small).
- UTC session timezone so event-time semantics match the oracle and are
  cluster-location independent.
- Arrow enabled for the pandas_udf / toPandas boundary.
- Generated-code class cache sized to the registry's working set: one
  pass over the 52 ``bench.py`` headline queries fills 1,056 cache
  entries, ten times Spark's default of 100, so a least-recently-used
  cache that small evicts every class before a re-run of the same plan
  can reuse it (see the conf comment below).
- Driver JIT policy: HotSpot's tier-4 (C2) thresholds are raised ten-fold
  on the driver only. Catalyst, the analyzer, file listing and py4j
  dispatch are a wide, lukewarm code profile: HotSpot compilation took
  4.2 s of a 5.5 s admin-console round of five queries, which no
  compiled method ran long enough to repay. Per-row code still reaches
  C2 (see the conf comment below).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# Tier-4 (C2) thresholds ten times HotSpot's defaults (5000, 600, 15000,
# 40000); the interpreter and the C1 tiers keep theirs.
_DRIVER_JIT_POLICY = " ".join((
    "-XX:Tier4InvocationThreshold=50000",
    "-XX:Tier4MinInvocationThreshold=6000",
    "-XX:Tier4CompileThreshold=150000",
    "-XX:Tier4BackEdgeThreshold=400000",
))


def get_spark(
    app_name: str = "keycloak_event_stream_spark",
    cpus: str | int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Local mode is a test harness only; every config below is the one we
    would ship to a 1000-executor cluster (shuffle.partitions excepted,
    which AQE re-coalesces at runtime anyway).
    """
    cpus = str(cpus or DEFAULT_CPUS)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # --- planner / optimizer ------------------------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.shuffle.partitions", cpus)
        # small dims (region/nation/supplier) must broadcast; 32 MB is a
        # safe ceiling for executor memory at 100 TB scale
        .config("spark.sql.autoBroadcastJoinThreshold", 32 * 1024 * 1024)
        # --- correctness-relevant semantics -------------------------
        .config("spark.sql.session.timeZone", "UTC")
        # tz-naive parquet timestamps (timestamp[us] with no timezone
        # metadata) read as TIMESTAMP (LTZ), not TIMESTAMP_NTZ: under
        # the pinned UTC session tz the instants are identical, and the
        # full function surface (unix_millis/unix_micros, window(), ...)
        # accepts LTZ while several reject NTZ. Keeps one timestamp
        # type end-to-end regardless of how fixtures were written.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # events.parquet may store TIMESTAMP(NANOS), which Spark 4 only
        # reads as int64; catalog.load_table converts the raw column
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # --- python boundary ----------------------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # filter pushdown into Python data sources (sources/pygen.py),
        # read when a plan over such a source is built
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # --- storage ------------------------------------------------
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # --- codegen ------------------------------------------------
        # Compile each generated class once per JVM, not once per run.
        # One pass over the 52 bench.py headline queries fills 1,056
        # entries (a source is keyed once per compiling class loader:
        # driver and executor). At the default of 100 the LRU cache
        # evicted every class before its plan ran again, and a re-run
        # of three headline queries recompiled ~180 classes (Janino,
        # then HotSpot on the fresh bytecode). 2048 holds about twice
        # the measured headline set. Static conf: the JVM reads it
        # once, when CodeGenerator first runs, so it only takes effect
        # on the first session a JVM builds.
        .config("spark.sql.codegen.cache.maxEntries", "2048")
        # --- driver JIT ----------------------------------------------
        # C2 compiles only code that is hot for real. On a 4-core VM a
        # perfbench console_reads round spent 4.2 s of its 5.5 s of CPU
        # in HotSpot compilation (CompilationMXBean), against 1.0 s in
        # task threads: planning runs thousands of methods a few
        # thousand times each, enough to queue C2 work that never pays
        # off. With the tier-4 thresholds raised ten-fold, a round's
        # compile time fell to 2.2 s and its CPU by 28% (median of 10
        # runs); an analytics_headline pass compiled for 5.4 s, not
        # 12.6 s. Driver only: on a cluster Catalyst runs here, while
        # executors run the per-row code that C2 is for, so they keep
        # HotSpot's defaults. The default options come before any
        # caller's spark.driver.extraJavaOptions, so those add to the
        # policy. Read when the driver JVM launches: it applies only to
        # the first session a process starts.
        .config("spark.driver.defaultJavaOptions", _DRIVER_JIT_POLICY)
        # --- local-mode ergonomics ----------------------------------
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", "/tmp/spark-warehouse")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
