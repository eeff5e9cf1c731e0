"""Two-phase exact global ordered-window primitives.

A bare ``Window.orderBy(...)`` (no PARTITION BY) forces every row
through one task — the known 100 TB scale-killer flagged by Spark
itself (``WindowExec: No Partition Defined``). These helpers compute
the *same values* with a parallel plan:

1. ``repartitionByRange(k, order)`` spreads the total order across k
   partitions (equal keys colocate, so rank ties never straddle a
   boundary);
2. a per-partition window computes the local row_number / rank /
   running sum;
3. the k per-partition totals (a k-row aggregate) are turned into
   prefix offsets with a tiny triangle join and broadcast back.

For exact types (integer / decimal) the result is bitwise-identical to
the single-partition form — addition is only reassociated across
partition boundaries. Determinism note: Spark's RangePartitioner
samples with a partition-index-derived seed, so the boundaries (and
hence ``spark_partition_id``) are stable across recomputations of the
same subtree; Catalyst's ReuseExchange typically materializes the
range shuffle once anyway.

This is the "range-partition + per-partition rank + broadcast offsets"
pattern every distributed sort-based engine uses for total-order
analytics; in the reference's world the equivalent work is delegated
to Athena/Presto, which does the same thing internally.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from keycloak_event_stream_spark.catalog import footer_rows, pin

__all__ = [
    "two_phase_window",
    "use_two_phase",
    "with_totals",
    "exact_ntile",
    "grouped_value_counts",
]

_PID = "_tp_pid"

# Footer rows above which the skewed-window queries (a window partition
# key with a handful of values) leave the naive window for
# two_phase_window. Both forms give identical rows; under the threshold
# the naive plan has no two-phase overhead.
TWO_PHASE_MIN_ROWS = 2_000_000


def use_two_phase(sf_dir: str, table: str) -> bool:
    """True when ``table``'s parquet footers hold more than
    TWO_PHASE_MIN_ROWS rows (metadata only, no job)."""
    return footer_rows(sf_dir, table) > TWO_PHASE_MIN_ROWS


def _num_partitions(df: DataFrame, k: int | None) -> int:
    if k:
        return k
    spark = df.sparkSession
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        return spark.sparkContext.defaultParallelism


def two_phase_window(
    df: DataFrame,
    order_by: list[Column | str],
    *,
    partition_by: list[str] | None = None,
    row_number: str | None = None,
    rank: str | None = None,
    dense_rank: str | None = None,
    dense_keys: list[str] | None = None,
    cumsum: dict[str, str] | None = None,
    cummax: dict[str, str] | None = None,
    cummax_excl: dict[str, str] | None = None,
    totals: dict[str, str | None] | None = None,
    k: int | None = None,
) -> DataFrame:
    """Add exact global-ordered window columns without a
    single-partition sort.

    order_by     : total-order expressions (``F.desc(...)`` allowed).
                   Must be a *total* order (unique tiebreak) for
                   row_number/cumsum to be deterministic — same
                   contract as the naive window.
    partition_by : optional window partition columns. Useful when the
                   partition key is low-cardinality/skewed (e.g. 4
                   sources): the order spread still fans out to k
                   range partitions instead of one task per key.
    row_number   : output column for global ``row_number()``.
    rank         : output column for global ``rank()`` (ties share).
    dense_rank   : output column for global ``dense_rank()``. Requires
                   ``dense_keys``: the DIRECTION-FREE columns spelling
                   the same tuple as ``order_by`` (a SortOrder column
                   cannot be aggregated). Range partitioning colocates
                   equal order tuples, so each partition's distinct-key
                   set is a disjoint range interval and the global
                   dense rank is the local one plus the sum of earlier
                   partitions' distinct counts.
    cumsum       : {out_col: in_col} running ROWS-unbounded-preceding
                   sums.
    cummax       : {out_col: in_col} running ROWS-unbounded-preceding
                   maxima (max is associative, so the per-partition
                   maxima combine by greatest() just like sums by +).
    cummax_excl  : like ``cummax`` but over the EXCLUSIVE frame
                   (unbounded preceding .. 1 preceding) — NULL for the
                   globally first row, matching the naive window.
    totals       : {out_col: src_col | None} — attach GLOBAL totals as
                   broadcast scalar columns (round 12, guide §2.3): the
                   sum of ``src_col`` (or the row count for ``None``)
                   is folded from per-partition partials aggregated in
                   the SAME k-row pass as the offsets, so a caller that
                   previously ran ``with_totals`` over the window
                   output (a second full pass over the consumed
                   subtree) gets the same exact value from a k-row
                   aggregate instead. Addition is only reassociated
                   across partition boundaries — bitwise-identical for
                   integer/decimal sources, exactly the cumsum
                   contract. Global-only: rejected together with
                   ``partition_by``.
    """
    partition_by = list(partition_by or [])
    if dense_rank is not None and not dense_keys:
        raise ValueError("dense_rank requires dense_keys (see docstring)")
    cumsum = cumsum or {}
    totals = dict(totals or {})
    if totals and partition_by:
        raise ValueError("totals is global-only (no partition_by)")
    cummax = dict(cummax or {})
    cummax_excl = dict(cummax_excl or {})
    if set(cummax) & set(cummax_excl):
        raise ValueError("cummax and cummax_excl share an output column")
    all_cummax = {**cummax, **cummax_excl}
    k = _num_partitions(df, k)

    range_cols = [*[F.col(c) for c in partition_by], *order_by]
    # PIN the range-partitioned layout: the subtree below is consumed
    # TWICE (per-partition totals + the main join path). Catalyst's
    # ReuseExchange usually materializes the range shuffle once, but a
    # consumer shape that defeats reuse (e.g. a row-level filter above
    # the join) re-executes it — and the range partitioner re-SAMPLES
    # boundaries, so the offsets no longer match the main path's
    # layout (observed: duplicated/missing global row numbers in
    # q_systematic_sample). persist() makes both branches read one
    # materialization; the footprint is the same data the shuffle
    # already wrote, spill-backed. The pin lives until the calling
    # thread's next registered query finds it filled (catalog.pin).
    ranged = pin(
        df.repartitionByRange(k, *range_cols).withColumn(
            _PID, F.spark_partition_id()
        )
    )
    # Round-12 audit note: an eager ranged.count() here (the
    # dedup/ts_similarity pin-materialization pattern) was TRIED and
    # REVERTED — stage attribution shows the multi-consumer fan-out
    # (tots probe, triangle broadcast, main join) does NOT race the
    # fill the way those prefixes did: the in-bytes of the repeated
    # stages match the CACHED layout (one fill + N cache reads), and
    # the extra count pass cost +18-48% runMs on q_gini / q_skyline /
    # q_ks_test with no build removed.

    # per-(group, pid) totals: k (× groups) rows — always tiny
    need_cnt = row_number is not None or rank is not None
    aggs = []
    if need_cnt:
        aggs.append(F.count(F.lit(1)).alias("_tp_cnt"))
    if dense_rank is not None:
        # distinct order tuples per partition; struct() so null keys
        # count as a distinct value, matching dense_rank()
        aggs.append(
            F.countDistinct(
                F.struct(*[F.col(c) for c in dense_keys])
            ).alias("_tp_dcnt")
        )
    for out, src in cumsum.items():
        aggs.append(F.sum(src).alias(f"_tp_t_{out}"))
    for out, src in all_cummax.items():
        aggs.append(F.max(src).alias(f"_tp_m_{out}"))
    for out, src in totals.items():
        aggs.append(
            (F.count(F.lit(1)) if src is None else F.sum(src)).alias(
                f"_tp_g_{out}"
            )
        )
    tots = ranged.groupBy(*partition_by, _PID).agg(*aggs)

    # prefix offsets via triangle join (no window at all -> no
    # single-partition WindowExec anywhere in the plan)
    right = tots.select(
        *[F.col(c).alias(f"_tp_r_{c}") for c in partition_by],
        F.col(_PID).alias("_tp_rpid"),
        *(
            [F.col("_tp_cnt").alias("_tp_rcnt")] if need_cnt else []
        ),
        *(
            [F.col("_tp_dcnt").alias("_tp_rdcnt")]
            if dense_rank is not None
            else []
        ),
        *[F.col(f"_tp_t_{out}").alias(f"_tp_rt_{out}") for out in cumsum],
        *[
            F.col(f"_tp_m_{out}").alias(f"_tp_rm_{out}")
            for out in all_cummax
        ],
    )
    cond = F.col("_tp_rpid") < F.col(_PID)
    for c in partition_by:
        cond = cond & (F.col(f"_tp_r_{c}") == F.col(c))
    off_aggs = []
    if need_cnt:
        off_aggs.append(
            F.coalesce(F.sum("_tp_rcnt"), F.lit(0)).alias("_tp_offn")
        )
    if dense_rank is not None:
        off_aggs.append(
            F.coalesce(F.sum("_tp_rdcnt"), F.lit(0)).alias("_tp_offd")
        )
    for out in cumsum:
        off_aggs.append(
            F.coalesce(F.sum(f"_tp_rt_{out}"), F.lit(0)).alias(
                f"_tp_off_{out}"
            )
        )
    for out in all_cummax:
        # no neutral element for max of arbitrary types: keep NULL for
        # the first partition and coalesce at combine time
        off_aggs.append(F.max(f"_tp_rm_{out}").alias(f"_tp_offm_{out}"))
    offs = (
        tots.join(F.broadcast(right), cond, "left")
        .groupBy(*partition_by, _PID)
        .agg(*off_aggs)
    )

    local = Window.partitionBy(*partition_by, _PID).orderBy(*order_by)
    local_run = local.rowsBetween(Window.unboundedPreceding, Window.currentRow)

    out = ranged.join(F.broadcast(offs), [*partition_by, _PID])
    if row_number is not None:
        out = out.withColumn(
            row_number, F.row_number().over(local) + F.col("_tp_offn")
        )
    if rank is not None:
        # equal keys colocate under range partitioning, so a tie group
        # never spans partitions: local rank + preceding-row count is
        # the global rank
        out = out.withColumn(rank, F.rank().over(local) + F.col("_tp_offn"))
    if dense_rank is not None:
        # disjoint distinct-key ranges per partition (see docstring):
        # local dense rank + count of distinct keys in earlier
        # partitions is the global dense rank
        out = out.withColumn(
            dense_rank, F.dense_rank().over(local) + F.col("_tp_offd")
        )
    for outcol, src in cumsum.items():
        out = out.withColumn(
            outcol, F.sum(src).over(local_run) + F.col(f"_tp_off_{outcol}")
        )
    for outcol, src in cummax.items():
        local_max = F.max(src).over(local_run)
        out = out.withColumn(
            outcol,
            F.greatest(
                local_max, F.coalesce(F.col(f"_tp_offm_{outcol}"), local_max)
            ),
        )
    for outcol, src in cummax_excl.items():
        # exclusive frame locally; the offset (max of strictly earlier
        # partitions) is exclusive by construction. Both may be NULL
        # for the globally first row — result stays NULL there.
        local_max = F.max(src).over(
            local.rowsBetween(Window.unboundedPreceding, -1)
        )
        off = F.col(f"_tp_offm_{outcol}")
        out = out.withColumn(
            outcol,
            F.when(
                local_max.isNull() & off.isNull(), F.lit(None)
            ).otherwise(
                F.greatest(
                    F.coalesce(local_max, off), F.coalesce(off, local_max)
                )
            ),
        )
    if totals:
        glob = tots.agg(
            *[F.sum(f"_tp_g_{out}").alias(out) for out in totals]
        )
        out = out.crossJoin(F.broadcast(glob))
    drop = [_PID] + [c for c in out.columns if c.startswith("_tp_off")]
    return out.drop(*drop)


def with_totals(df: DataFrame, aggs: dict[str, Column]) -> DataFrame:
    """Attach whole-table aggregates as columns via a broadcast
    cross-join of the 1-row aggregate — the scalable replacement for
    ``F.sum(...).over(Window.partitionBy())`` (which is a
    single-partition window over the full input)."""
    tot = df.agg(*[v.alias(name) for name, v in aggs.items()])
    return df.crossJoin(F.broadcast(tot))


def exact_ntile(rn: Column, total: Column, n: int) -> Column:
    """``ntile(n)`` reconstructed from a global row_number and the
    total count: the first ``total % n`` buckets take
    ``total div n + 1`` rows, the rest ``total div n`` — Spark's (and
    DuckDB's) exact ntile contract. Integer-exact for totals < 2^52."""
    r = total % n
    q = ((total - r) / F.lit(n)).cast("bigint")
    big = q + 1
    cut = r * big
    return (
        F.when(rn <= cut, F.ceil(rn / big))
        .otherwise(r + F.ceil((rn - cut) / F.greatest(q, F.lit(1))))
        .cast("int")
    )


def grouped_value_counts(
    df: DataFrame,
    keys: list[str],
    val: str,
    *,
    cnt: str = "cnt",
    cum: str = "cum",
    n: str = "n",
) -> DataFrame:
    """Per-group value histogram with an inclusive running count and
    the group total — the scalable carrier of exact nearest-rank order
    statistics (round 11; the 100x probe found seven rank-for-
    percentile queries sharing one shape: ``row_number() +
    count() OVER (PARTITION BY low-cardinality key)`` over data-scaled
    input, i.e. one WindowExec task per key at any volume — 14-64x at
    the 100x leg).

    Returns ``DataFrame[*keys, val, cnt, cum, n]`` where ``cnt`` is
    the tie count of ``val`` in its group, ``cum`` the inclusive
    running count in ``val`` order, ``n`` the group total. The
    histogram groupBy is map-side combined (only distinct
    (group, value) partials cross the wire) and the running count is a
    :func:`two_phase_window` integer cumsum over the HISTOGRAM, so no
    task ever sorts more than its range slice of distinct values.

    Rank-predicate substitution rule: a selection of the form
    ``min(CASE WHEN <monotone predicate of rn> THEN val END)`` over
    row_number ``rn`` (any ``a*rn >= b`` / ``rn >= k`` / ``rn == k``
    with a >= 0) selects the SAME value with ``cum`` substituted for
    ``rn``: rows of value v occupy rn positions (cum-cnt, cum], the
    predicate's satisfying set is an up-set, and the first satisfying
    row's value is the first v whose LAST position satisfies — which
    is cum. Tie-averaged doubled rank (the q_spearman/q_mannwhitney
    statistic) is ``2*cum - cnt + 1``.
    """
    if not keys:
        raise ValueError("grouped_value_counts needs at least one key")
    hist = df.groupBy(*keys, val).agg(F.count(F.lit(1)).alias(cnt))
    cumd = two_phase_window(
        hist, [F.col(val)], partition_by=list(keys), cumsum={cum: cnt}
    )
    tot = hist.groupBy(*keys).agg(F.sum(cnt).cast("bigint").alias(n))
    return cumd.join(tot, list(keys)).select(
        *keys, val, F.col(cnt), F.col(cum).cast("bigint").alias(cum), n
    )
