"""Data-layout operators: Z-order clustering and small-file compaction.

The reference fixes its physical layout once in Terraform — Hive
``dt=/hour=`` partitions (``terraform/main.tf:194-195``) — which prunes
on time only; a query filtering on user or client scans every file in
range (SURVEY.md §1.4 Q4). At 100 TB, multi-dimensional *clustering*
within partitions is what makes selective non-time predicates cheap:
sort the data along a space-filling curve and each file covers a tight
rectangle of (customer, date) space, so min/max footer stats skip most
files. These operators compute the curve and audit the resulting
rectangles — the planning/audit half of a table-maintenance service,
expressed as pure DataFrame programs.

Both are bit-exact across engines: the Z-curve is integer bit
interleaving, and the compaction plan is integer running sums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from keycloak_event_stream_spark.catalog import load_table, pin
from keycloak_event_stream_spark.operators._scale import two_phase_window
from keycloak_event_stream_spark.registry import register as _q


def _spread_sql(v: str) -> str:
    """16-bit -> 32-bit Morton spread (bits to even positions), as
    portable SQL over BIGINT: the classic magic-mask doubling. Emitted
    as nested arithmetic so Spark and DuckDB evaluate identically."""
    s = v
    for shift, mask in ((8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333), (1, 0x55555555)):
        s = f"(({s} | ({s} << {shift})) & {mask})"
    return s


def _zvalue_sql(x: str, y: str) -> str:
    return f"({_spread_sql(x)} | ({_spread_sql(y)} << 1))"


# Spark's SQL parser has no infix `<<`/`|` bit operators in all dialects;
# shiftleft()/bitwise functions are the portable spelling there.
def _spread_spark(v: str) -> str:
    s = v
    for shift, mask in ((8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333), (1, 0x55555555)):
        s = f"(({s} | shiftleft({s}, {shift})) & {mask})"
    return s


def _zvalue_spark(x: str, y: str) -> str:
    return f"({_spread_spark(x)} | shiftleft({_spread_spark(y)}, 1))"


_CELL_SHIFT = 26  # 32-bit z -> 64 top-level curve cells


@_q(
    "q_cluster_zorder",
    oracle=f"""
    WITH base AS (
      SELECT o_custkey,
             date_diff('day', TIMESTAMP '1970-01-01', o_orderdate) AS eday
      FROM orders
    ),
    ext AS (
      SELECT min(o_custkey) AS c0, max(o_custkey) AS c1,
             min(eday) AS d0, max(eday) AS d1
      FROM base
    ),
    z AS (
      SELECT o_custkey, eday,
             {_zvalue_sql(
                 "((o_custkey - c0) * 65535 // greatest(c1 - c0, 1))",
                 "((eday - d0) * 65535 // greatest(d1 - d0, 1))")}
               AS zval
      FROM base, ext
    )
    SELECT (zval >> {_CELL_SHIFT}) AS cell,
           count(*) AS n_rows,
           CAST(min(o_custkey) AS BIGINT) AS min_cust,
           CAST(max(o_custkey) AS BIGINT) AS max_cust,
           CAST(min(eday) AS BIGINT) AS min_day,
           CAST(max(eday) AS BIGINT) AS max_day,
           CAST((max(o_custkey) - min(o_custkey) + 1) AS BIGINT)
             * CAST((max(eday) - min(eday) + 1) AS BIGINT) AS rect_area
    FROM z
    GROUP BY 1
    ORDER BY 1
    """,
)
def q_cluster_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering audit over orders on
    (customer, order-day): min-max normalize each dimension to 16 bits
    (one tiny extrema aggregate, broadcast), interleave with magic-mask
    spreading, bucket rows by the top z-prefix (64 curve cells), and
    report each cell's bounding rectangle.

    Normalizing before interleaving is what real cluster-by services do
    (range-binned keys): without it, a dimension whose values span
    fewer high bits contributes nothing to the cell prefix and the
    curve degenerates to stripes. The rectangle area per cell is the
    data-skipping figure of merit: a linear sort on one key gives
    full-width stripes in the other dimension, while z-cells stay
    near-square, so min/max footer stats prune on BOTH predicates. At
    100 TB the write path is ``repartitionByRange(zval)`` +
    ``sortWithinPartitions(zval)`` + ``maxRecordsPerFile`` — a range
    shuffle, no global window; this audit is the same groupBy a
    table-maintenance job runs to decide whether re-clustering is due.
    """
    orders = load_table(spark, sf_dir, "orders")
    base = orders.selectExpr(
        "o_custkey",
        "datediff(to_date(o_orderdate), date'1970-01-01') AS eday",
    )
    ext = base.agg(
        F.min("o_custkey").alias("c0"),
        F.max("o_custkey").alias("c1"),
        F.min("eday").alias("d0"),
        F.max("eday").alias("d1"),
    )
    z = base.crossJoin(F.broadcast(ext)).selectExpr(
        "o_custkey",
        "eday",
        _zvalue_spark(
            "((o_custkey - c0) * 65535 div greatest(c1 - c0, 1))",
            "((eday - d0) * 65535 div greatest(d1 - d0, 1))",
        )
        + " AS zval",
    )
    return (
        z.groupBy(
            F.expr(f"shiftright(zval, {_CELL_SHIFT})").alias("cell")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("o_custkey").alias("min_cust"),
            F.max("o_custkey").alias("max_cust"),
            F.min("eday").cast("bigint").alias("min_day"),
            F.max("eday").cast("bigint").alias("max_day"),
        )
        .withColumn(
            "rect_area",
            (F.col("max_cust") - F.col("min_cust") + 1)
            * (F.col("max_day") - F.col("min_day") + 1),
        )
        .orderBy("cell")
    )


_TARGET_BYTES = 64_000


@_q(
    "q_compaction_bins",
    oracle=f"""
    WITH manifest AS (
      SELECT doc_id, n_chars AS bytes,
             sum(n_chars) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_chars AS start_off
      FROM documents
    )
    SELECT CAST(start_off // {_TARGET_BYTES} AS BIGINT) AS bin,
           count(*) AS n_files,
           CAST(sum(bytes) AS BIGINT) AS total_bytes,
           CAST(min(doc_id) AS BIGINT) AS first_doc,
           CAST(max(doc_id) AS BIGINT) AS last_doc
    FROM manifest
    GROUP BY 1
    ORDER BY 1
    """,
)
def q_compaction_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction plan: treat documents as a file manifest
    (id, size) and assign contiguous runs to ~64 KB output bins by
    running-offset division — the coalesce plan a compactor would
    execute.

    The prefix sum is the two-phase range-partitioned cumsum
    (``_scale``): a manifest is metadata-scale (one row per file), but
    "millions of files" is exactly where a single-task running sum
    starts to hurt, and the two-phase form costs nothing extra. The
    plan keeps input order (contiguous runs), so compaction preserves
    any clustering already present (see ``q_cluster_zorder``).
    """
    docs = load_table(spark, sf_dir, "documents")
    manifest = two_phase_window(
        docs.select("doc_id", F.col("n_chars").alias("bytes")),
        [F.col("doc_id")],
        cumsum={"_cum": "bytes"},
    ).select(
        "doc_id",
        "bytes",
        (F.col("_cum") - F.col("bytes")).alias("start_off"),
    )
    return (
        manifest.groupBy(
            F.floor(F.col("start_off") / _TARGET_BYTES).alias("bin")
        )
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("bytes").alias("total_bytes"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("bin")
    )


@_q(
    "q_layout_partitioned_prune",
    oracle="""
    SELECT year(o_orderdate) AS yr,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue
    FROM orders
    WHERE year(o_orderdate) IN (1996, 1997)
    GROUP BY 1 ORDER BY yr
    """,
)
def q_layout_partitioned_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write → partition-pruned read round-trip: orders land
    partitioned by year (the engine-side analogue of the reference's
    dt/hour S3 layout, ``terraform/main.tf:194``), then a two-year
    filter reads back ONLY those directories — the scan never touches
    the other ~5 years of files.

    The pruning is asserted in-query: the plan's PartitionFilters
    carry the year predicate (pinned separately in tests/test_plans
    for the dt/hour table; this registry entry proves the landed
    numbers equal the direct computation). At 100 TB this layout is
    the difference between scanning 2/7 of the data and all of it —
    the exact fix for the reference's Q3 quirk (time predicates never
    pruned partitions, ``AthenaEventQuery.java:189-195``).
    """
    import tempfile

    orders = load_table(spark, sf_dir, "orders")
    out = tempfile.mkdtemp(prefix="layout_part_")
    with_yr = orders.withColumn("yr", F.year("o_orderdate"))
    with_yr.write.mode("overwrite").partitionBy("yr").parquet(out)
    # schema-on-read (catalog-style): a zero-row input lands no yr=
    # directories and inference on the empty layout throws
    landed = spark.read.schema(with_yr.schema).parquet(out)
    pruned = landed.filter(F.col("yr").isin(1996, 1997))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    import os

    has_parts = any(n.startswith("yr=") for n in os.listdir(out))
    assert "PartitionFilters" in plan or not has_parts, (
        "expected partition filters"
    )
    return (
        pruned.groupBy(F.col("yr").cast("int").alias("yr"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("yr")
    )


@_q(
    "q_partition_size_audit",
    oracle="""
    WITH parts AS (
      SELECT CAST(ts AS DATE) AS dt, CAST(count(*) AS BIGINT) AS n_rows
      FROM events GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(n_rows) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS n_parts,
             CAST(max(n_rows) AS BIGINT) AS max_rows
      FROM parts
    )
    SELECT p.dt, p.n_rows,
           CAST(p.n_rows AS DOUBLE) / t.total AS row_share,
           CAST(p.n_rows AS DOUBLE) * t.n_parts / t.total
             AS skew_vs_mean,
           CAST(greatest((p.n_rows * 64 + 134217727) // 134217728, 1)
                AS BIGINT) AS files_at_128mb
    FROM parts p CROSS JOIN tot t
    ORDER BY p.dt
    """,
)
def q_partition_size_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition balance audit for the dt layout the store writes
    (S10/terraform's dt=/hour= scheme): rows per day-partition, each
    partition's skew against the mean, and the file count a 128 MB
    target implies at ~64 B/row — the table a compaction/ingest
    planner reads before q_compaction_bins plans the rewrite (a
    partition at 20× mean is tomorrow's straggler task; one at 0.05×
    is small-file pollution).

    One keyed aggregate to |partitions| rows; corpus totals ride a
    1-row broadcast; the file-count ceiling is integer arithmetic
    ((n·64 + target−1) // target)."""
    ev = load_table(spark, sf_dir, "events")
    parts = ev.groupBy(F.col("ts").cast("date").alias("dt")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows")
    )
    tot = parts.agg(
        F.sum("n_rows").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.max("n_rows").cast("bigint").alias("max_rows"),
    )
    target = 134217728
    files = F.greatest(
        ((F.col("n_rows") * 64 + (target - 1)) - ((F.col("n_rows") * 64 + (target - 1)) % target)) / target,
        F.lit(1),
    ).cast("bigint")
    return (
        parts.crossJoin(F.broadcast(tot))
        .select(
            "dt",
            "n_rows",
            (F.col("n_rows").cast("double") / F.col("total")).alias(
                "row_share"
            ),
            (
                F.col("n_rows").cast("double")
                * F.col("n_parts")
                / F.col("total")
            ).alias("skew_vs_mean"),
            files.alias("files_at_128mb"),
        )
        .orderBy("dt")
    )


_N_FILES = 64  # simulated files per layout
_N_PROBES = 4  # probe rectangles (1/16 of each dimension's span)


def _skip_eval_oracle() -> str:
    probes = ", ".join(f"({i})" for i in range(_N_PROBES))
    z = _zvalue_sql(
        "((o_custkey - c0) * 65535 // greatest(c1 - c0, 1))",
        "((eday - d0) * 65535 // greatest(d1 - d0, 1))",
    )
    return f"""
    WITH base AS (
      SELECT o_custkey,
             date_diff('day', TIMESTAMP '1970-01-01', o_orderdate) AS eday
      FROM orders
    ),
    ext AS (
      SELECT min(o_custkey) AS c0, max(o_custkey) AS c1,
             min(eday) AS d0, max(eday) AS d1
      FROM base
    ),
    tagged AS (
      SELECT o_custkey, eday,
             ((o_custkey - c0) * {_N_FILES})
               // greatest(c1 - c0 + 1, 1) AS f_nat,
             ({z}) >> {_CELL_SHIFT} AS f_zo
      FROM base, ext
    ),
    nat AS (
      SELECT f_nat AS f, min(o_custkey) AS mnc, max(o_custkey) AS mxc,
             min(eday) AS mnd, max(eday) AS mxd
      FROM tagged GROUP BY f_nat
    ),
    zo AS (
      SELECT f_zo AS f, min(o_custkey) AS mnc, max(o_custkey) AS mxc,
             min(eday) AS mnd, max(eday) AS mxd
      FROM tagged GROUP BY f_zo
    ),
    pr AS (
      SELECT i,
             c0 + (c1 - c0) * (2 * i + 1) // 8 AS pc0,
             c0 + (c1 - c0) * (2 * i + 2) // 8 AS pc1,
             d0 + (d1 - d0) * (2 * i + 1) // 8 AS pd0,
             d0 + (d1 - d0) * (2 * i + 2) // 8 AS pd1
      FROM (VALUES {probes}) t(i), ext
    )
    SELECT pr.i AS probe,
           CAST((SELECT count(*) FROM nat
                 WHERE mxc >= pr.pc0 AND mnc <= pr.pc1
                   AND mxd >= pr.pd0 AND mnd <= pr.pd1) AS BIGINT)
             AS files_natural,
           CAST((SELECT count(*) FROM zo
                 WHERE mxc >= pr.pc0 AND mnc <= pr.pc1
                   AND mxd >= pr.pd0 AND mnd <= pr.pd1) AS BIGINT)
             AS files_zorder,
           CAST((SELECT count(*) FROM tagged
                 WHERE o_custkey BETWEEN pr.pc0 AND pr.pc1
                   AND eday BETWEEN pr.pd0 AND pr.pd1) AS BIGINT)
             AS matching_rows
    FROM pr
    ORDER BY probe
    """


@_q("q_zone_map_skip_eval", oracle=_skip_eval_oracle())
def q_zone_map_skip_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (min/max footer) file-skipping evaluation: simulate two
    physical layouts of orders — insertion/natural order (files =
    contiguous o_custkey ranges, the "sorted by one key" layout) and
    Z-order (files = the {64} top-level Morton cells of
    q_cluster_zorder) — compute each simulated file's (custkey, day)
    bounding box, then count how many files a two-dimensional probe
    rectangle (1/16 of each dimension's span, 4 diagonal probes)
    CANNOT skip under each layout. This is the number a table-
    maintenance service quotes to justify re-clustering: the natural
    layout prunes on custkey but every file spans the full date range,
    so a date-selective probe touches ~every matching-custkey file,
    while z-cells stay near-square and prune on BOTH predicates.

    All integer arithmetic (normalized 16-bit interleave, integer
    division file assignment, closed-interval box intersection) — one
    shuffle per layout to |files| cells, probe evaluation on the tiny
    stats tables."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.selectExpr(
        "o_custkey",
        "datediff(to_date(o_orderdate), date'1970-01-01') AS eday",
    )
    ext = base.agg(
        F.min("o_custkey").alias("c0"),
        F.max("o_custkey").alias("c1"),
        F.min("eday").alias("d0"),
        F.max("eday").alias("d1"),
    )
    tagged = base.crossJoin(F.broadcast(ext)).selectExpr(
        "o_custkey",
        "eday",
        "c0",
        "c1",
        "d0",
        "d1",
        f"((o_custkey - c0) * {_N_FILES})"
        " div greatest(c1 - c0 + 1, 1) AS f_nat",
        "shiftright("
        + _zvalue_spark(
            "((o_custkey - c0) * 65535 div greatest(c1 - c0, 1))",
            "((eday - d0) * 65535 div greatest(d1 - d0, 1))",
        )
        + f", {_CELL_SHIFT}) AS f_zo",
    )
    tagged = pin(tagged)

    def stats(key: str) -> DataFrame:
        return tagged.groupBy(F.col(key).alias("f")).agg(
            F.min("o_custkey").alias("mnc"),
            F.max("o_custkey").alias("mxc"),
            F.min("eday").alias("mnd"),
            F.max("eday").alias("mxd"),
        )

    nat, zo = stats("f_nat"), stats("f_zo")
    pr = (
        spark.range(_N_PROBES)
        .select(F.col("id").cast("int").alias("i"))
        .crossJoin(F.broadcast(ext))
        .selectExpr(
            "i",
            "c0 + (c1 - c0) * (2 * i + 1) div 8 AS pc0",
            "c0 + (c1 - c0) * (2 * i + 2) div 8 AS pc1",
            "d0 + (d1 - d0) * (2 * i + 1) div 8 AS pd0",
            "d0 + (d1 - d0) * (2 * i + 2) div 8 AS pd1",
        )
    )
    hit = (
        (F.col("mxc") >= F.col("pc0"))
        & (F.col("mnc") <= F.col("pc1"))
        & (F.col("mxd") >= F.col("pd0"))
        & (F.col("mnd") <= F.col("pd1"))
    )

    def touched(files: DataFrame, alias: str) -> DataFrame:
        return (
            pr.join(F.broadcast(files), hit)
            .groupBy("i")
            .agg(F.count(F.lit(1)).cast("bigint").alias(alias))
        )

    # probe spine broadcasts into the corpus scan (never the reverse —
    # broadcasting the data side would be the classic scale-killer)
    rows = (
        tagged.select("o_custkey", "eday")
        .join(
            F.broadcast(pr),
            (F.col("o_custkey") >= F.col("pc0"))
            & (F.col("o_custkey") <= F.col("pc1"))
            & (F.col("eday") >= F.col("pd0"))
            & (F.col("eday") <= F.col("pd1")),
        )
        .groupBy("i")
        .agg(F.count(F.lit(1)).cast("bigint").alias("matching_rows"))
    )
    # left-join from the probe spine so a probe rectangle that
    # intersects ZERO file boxes in a layout still emits its row with
    # count 0, matching the oracle's scalar subqueries (round-4 ADVICE)
    return (
        pr.select("i")
        .join(touched(nat, "files_natural"), "i", "left")
        .join(touched(zo, "files_zorder"), "i", "left")
        .join(rows, "i", "left")
        .select(
            F.col("i").alias("probe"),
            F.coalesce("files_natural", F.lit(0))
            .cast("bigint")
            .alias("files_natural"),
            F.coalesce("files_zorder", F.lit(0))
            .cast("bigint")
            .alias("files_zorder"),
            F.coalesce("matching_rows", F.lit(0))
            .cast("bigint")
            .alias("matching_rows"),
        )
        .orderBy("probe")
    )
