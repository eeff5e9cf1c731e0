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
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


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
        # --- python boundary ----------------------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
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
