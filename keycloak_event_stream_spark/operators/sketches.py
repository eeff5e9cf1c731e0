"""Mergeable sketch aggregates (approximate, constant-memory).

At 100 TB exact distinct/percentile either shuffles every value or
sorts; sketches shuffle kilobytes per group and merge associatively —
the only viable shape for interactive cardinality/quantile queries at
that scale. All entries are approximate by nature, but every one is
still HASH-checked: deterministic sketches (CMS) compare bitwise, and
the estimate-based ones carry their exact counterpart plus a
``within_bound`` error-envelope flag on the result surface (round-4 —
the rows-only set is now empty), with unit tests pinning the accuracy
envelopes besides.

- HLL (Apache DataSketches via hll_sketch_agg): build per-group, merge
  across groups with hll_union_agg — the two-level rollup pattern where
  the re-aggregation consumes sketches, not raw data.
- KLL-style quantiles via percentile_approx (t-digest-like bounded
  error).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from keycloak_event_stream_spark.catalog import load_table, pin, spread
from keycloak_event_stream_spark.operators._scale import two_phase_window
from keycloak_event_stream_spark.registry import register as _q


@_q(
    "q_sketch_hll",
    oracle="""
    SELECT event_type, n_events, exact_users, TRUE AS within_bound
    FROM (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
             CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
      FROM events GROUP BY event_type
      UNION ALL
      SELECT '__all__', CAST(count(*) AS BIGINT),
             CAST(count(DISTINCT user_id) AS BIGINT)
      FROM events
    ) t
    """,
)
def q_sketch_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level HLL rollup: per-(type) user sketches, then a grand
    total by *merging sketches* (hll_union_agg) — the raw data is read
    once; the second level aggregates bytes. This is how per-partition
    cardinality rolls up to corpus cardinality without a second scan.

    Round-4: hash-checked via the q_agg_approx_distinct bound-flag
    pattern (was the last rows-only pair with q_sketch_quantiles) —
    the query emits the exact distinct alongside ``within_bound`` =
    |estimate − exact| / exact ≤ 5·rsd, where rsd = 1.04/√2^lgK
    (lgK = 12 → 1.63%); the estimate's jitter stays off the hashed
    surface while a broken sketch or union fails the oracle. The
    union row's bound is checked against the GLOBAL exact distinct, so
    the merge path itself is gated, not just the leaf sketches."""
    ev = spread(load_table(spark, sf_dir, "events"))
    rsd = 1.04 / (2**12) ** 0.5
    per_type = ev.groupBy("event_type").agg(
        F.expr("hll_sketch_agg(user_id, 12)").alias("sketch"),
        F.countDistinct("user_id").cast("bigint").alias("exact_users"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )
    leveled = per_type.select(
        "event_type",
        "n_events",
        "exact_users",
        F.expr("hll_sketch_estimate(sketch)").alias("approx"),
    )
    g_exact = ev.agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_users")
    )
    total = (
        per_type.agg(
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.expr("hll_sketch_estimate(hll_union_agg(sketch, true))").alias(
                "approx"
            ),
        )
        .crossJoin(F.broadcast(g_exact))
        .select(
            F.lit("__all__").alias("event_type"),
            "n_events",
            "exact_users",
            "approx",
        )
    )
    return leveled.unionByName(total).select(
        "event_type",
        "n_events",
        "exact_users",
        (
            F.try_divide(
                F.abs(F.col("approx") - F.col("exact_users")),
                F.col("exact_users"),
            )
            <= F.lit(5 * rsd)
        ).alias("within_bound"),
    )


@_q(
    "q_sketch_quantiles",
    oracle="""
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
           TRUE AS p50_in_bound, TRUE AS p99_in_bound
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_sketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-error approximate quantiles per group
    (percentile_approx, accuracy 10000 ≈ 0.01% rank error): constant
    memory per group vs the exact sort-based percentile().

    Round-4: hash-checked via the bound-flag pattern, gated in RANK
    space — the Greenwald-Khanna guarantee itself: for returned value
    v, count(x < v)/n ≤ p + ε' and count(x ≤ v)/n ≥ p − ε', with
    ε' = 10·ε + 1.5/n (ε = 1/accuracy = 1e-4; the 1.5/n slack covers
    the sketch returning a DISCRETE data value one position off an
    interpolated rank — a value-space bound fails spuriously on small
    groups where adjacent order statistics are far apart). The rank
    counts come from a broadcast join of the 3-row sketch table back
    to orders; the oracle pins group, count, and both flags TRUE."""
    o = spread(load_table(spark, sf_dir, "orders"))
    eps = 1.0 / 10000
    sk = o.groupBy("o_orderstatus").agg(
        F.percentile_approx("o_totalprice", 0.5, 10000).alias("p50"),
        F.percentile_approx("o_totalprice", 0.99, 10000).alias("p99"),
    )

    def _rank_ok(p: float, v: str):
        n = F.col("n").cast("double")
        e = F.lit(10 * eps) + F.lit(1.5) / n
        frac_lt = F.col(f"lt_{v}").cast("double") / n
        frac_le = F.col(f"le_{v}").cast("double") / n
        return (frac_lt <= F.lit(p) + e) & (frac_le >= F.lit(p) - e)

    counted = (
        o.join(F.broadcast(sk), "o_orderstatus")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum((F.col("o_totalprice") < F.col("p50")).cast("long"))
            .cast("bigint")
            .alias("lt_p50"),
            F.sum((F.col("o_totalprice") <= F.col("p50")).cast("long"))
            .cast("bigint")
            .alias("le_p50"),
            F.sum((F.col("o_totalprice") < F.col("p99")).cast("long"))
            .cast("bigint")
            .alias("lt_p99"),
            F.sum((F.col("o_totalprice") <= F.col("p99")).cast("long"))
            .cast("bigint")
            .alias("le_p99"),
        )
    )
    return counted.select(
        "o_orderstatus",
        "n",
        _rank_ok(0.5, "p50").alias("p50_in_bound"),
        _rank_ok(0.99, "p99").alias("p99_in_bound"),
    )


# Count-min sketch: 4 deterministic universal-hash rows x 256 buckets.
# Unlike HLL above, CMS is exactly reproducible across engines (pure
# integer arithmetic), so this one IS oracle-checked bitwise.
_CMS_P = 2147483647  # Mersenne prime 2^31-1
_CMS_W = 256
_CMS_ROWS = [(131, 7), (1031, 19), (8191, 101), (524287, 907)]


def _cms_bucket(i: int, key: str) -> str:
    a, b = _CMS_ROWS[i]
    return f"((({a} * {key} + {b}) % {_CMS_P}) % {_CMS_W})"


def _cms_oracle() -> str:
    rows = ", ".join(f"({i})" for i in range(len(_CMS_ROWS)))
    def bucket(i_ref: str, key: str) -> str:
        a_case = f"CASE {i_ref} " + " ".join(
            f"WHEN {i} THEN {a}" for i, (a, _) in enumerate(_CMS_ROWS)
        ) + " END"
        b_case = f"CASE {i_ref} " + " ".join(
            f"WHEN {i} THEN {b}" for i, (_, b) in enumerate(_CMS_ROWS)
        ) + " END"
        return f"((({a_case}) * {key} + ({b_case})) % {_CMS_P}) % {_CMS_W}"

    return f"""
    WITH dims AS (SELECT i FROM (VALUES {rows}) t(i)),
    counters AS (
      SELECT dims.i AS i, {bucket("dims.i", "user_id")} AS bucket,
             count(*) AS c
      FROM events, dims GROUP BY 1, 2
    ),
    exact AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
    est AS (
      SELECT e.user_id, e.n, min(c.c) AS est
      FROM exact e
      JOIN dims ON true
      JOIN counters c
        ON c.i = dims.i AND c.bucket = {bucket("dims.i", "e.user_id")}
      GROUP BY 1, 2
    )
    SELECT count(*) AS n_users,
           CAST(sum(n) AS BIGINT) AS total_exact,
           CAST(sum(est) AS BIGINT) AS total_est,
           CAST(sum(CASE WHEN est > n THEN 1 ELSE 0 END) AS BIGINT)
             AS n_overestimated,
           CAST(max(est - n) AS BIGINT) AS max_over
    FROM est
    """


@_q("q_sketch_cms", oracle=_cms_oracle())
def q_sketch_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (d=4, w=256) for per-user event frequency,
    audited against exact counts in the same query.

    Build: each event lands in one bucket per hash row — a posexplode
    to (row, bucket) pairs whose partial aggregation collapses map-side
    to at most d*w = 1024 counters per task before the shuffle; the
    merged sketch is 1024 ints regardless of input size, the mergeable
    constant-memory shape that makes heavy-hitter estimation viable on
    an unbounded stream. Probe: min over the key's d counters; CMS
    error is one-sided (est >= exact, pinned by the audit columns and
    tests). Deterministic universal hashes ((a*k + b) mod p mod w)
    make the sketch bit-identical in any engine — the DuckDB oracle
    rebuilds it exactly.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id")
    pairs = ev.select(
        F.posexplode(
            F.array(
                *[
                    F.expr(_cms_bucket(i, "user_id"))
                    for i in range(len(_CMS_ROWS))
                ]
            )
        ).alias("i", "bucket")
    )
    counters = pairs.groupBy("i", "bucket").agg(F.count(F.lit(1)).alias("c"))
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    probes = exact.select(
        "user_id",
        "n",
        F.posexplode(
            F.array(
                *[
                    F.expr(_cms_bucket(i, "user_id"))
                    for i in range(len(_CMS_ROWS))
                ]
            )
        ).alias("i", "bucket"),
    )
    est = (
        probes.join(F.broadcast(counters), ["i", "bucket"])
        .groupBy("user_id", "n")
        .agg(F.min("c").alias("est"))
    )
    return est.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("n").alias("total_exact"),
        F.sum("est").alias("total_est"),
        F.sum(F.when(F.col("est") > F.col("n"), 1).otherwise(0)).alias(
            "n_overestimated"
        ),
        F.max(F.col("est") - F.col("n")).alias("max_over"),
    )


@_q(
    "q_sketch_bloom",
    oracle="""
    WITH toks AS (
      SELECT DISTINCT s.w
      FROM documents, LATERAL (
        SELECT unnest(string_split(text, ' ')) AS w) s
    ),
    pos AS (
      SELECT w, h.i,
             CAST(CAST(('0x' || substr(md5('b' || h.i || ':' || w),
                                       1, 8)) AS BIGINT) % 1024
                  AS BIGINT) AS p
      FROM toks, LATERAL (SELECT unnest([0, 1, 2]) AS i) h
    ),
    words AS (
      SELECT CAST(p // 32 AS BIGINT) AS word_idx,
             CAST(bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INTEGER))
                  AS BIGINT) AS bits
      FROM pos GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(bit_count(bits)) AS BIGINT) AS total_set,
             CAST((SELECT count(*) FROM toks) AS BIGINT) AS n_keys
      FROM words
    )
    SELECT w.word_idx, w.bits,
           CAST(bit_count(w.bits) AS BIGINT) AS n_set,
           t.total_set, t.n_keys,
           round(pow(CAST(t.total_set AS DOUBLE) / 1024.0, 3), 6)
             AS est_fpp
    FROM words w CROSS JOIN tot t
    ORDER BY w.word_idx
    """,
)
def q_sketch_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom filter built IN-ENGINE over the corpus vocabulary: a
    1024-bit filter as 32×32-bit words (k = 3 md5-derived hashes),
    each word an integer ``bit_or`` aggregate — the mergeable,
    constant-size membership sketch that ships to the JOIN side of a
    100 TB pipeline (cf. q_join_bloom_prefilter, which consumes the
    *semantics*; this op materializes the *bits*, so the filter can
    be persisted, unioned across shards by OR, and probed anywhere).
    est_fpp = (fill ratio)^k, the standard occupancy estimate.

    Determinism: md5 hashes (identical in both engines), 32-bit words
    so no shift touches the sign bit, integer-only build; bit_or is
    order-independent by definition — the one aggregate family where
    floats' non-associativity problem simply does not exist. Scale:
    distinct-token reduce, then 3 positions per token collapsing
    map-side into ≤32 counters per task before a 32-cell shuffle."""
    d = spread(load_table(spark, sf_dir, "documents"))
    toks = d.select(
        F.explode(F.split(F.col("text"), " ")).alias("w")
    ).distinct()
    pos = toks.select(
        "w",
        F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("i"),
    ).select(
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("b"),
                            F.col("i").cast("string"),
                            F.lit(":"),
                            F.col("w"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % 1024
        ).alias("p")
    )
    words = pos.groupBy(
        F.floor(F.col("p") / 32).cast("bigint").alias("word_idx")
    ).agg(
        F.bit_or(
            F.expr("shiftleft(cast(1 as bigint), cast(p % 32 as int))")
        )
        .cast("bigint")
        .alias("bits")
    )
    n_keys = toks.agg(F.count(F.lit(1)).cast("bigint").alias("n_keys"))
    tot = (
        words.agg(
            F.sum(F.bit_count("bits")).cast("bigint").alias("total_set")
        )
        .crossJoin(F.broadcast(n_keys))
    )
    return (
        words.crossJoin(F.broadcast(tot))
        .select(
            "word_idx",
            "bits",
            F.bit_count("bits").cast("bigint").alias("n_set"),
            "total_set",
            "n_keys",
            F.round(
                F.pow(F.col("total_set").cast("double") / 1024.0, 3), 6
            ).alias("est_fpp"),
        )
        .orderBy("word_idx")
    )


_BLOOM_PROBES = [
    "table", "hash", "spark", "window", "batch",
    "zzqx1", "zzqx2", "zzqx3", "zzqx4", "zzqx5",
]


@_q(
    "q_bloom_probe",
    oracle=f"""
    WITH toks AS (
      SELECT DISTINCT s.w
      FROM documents, LATERAL (
        SELECT unnest(string_split(text, ' ')) AS w) s
    ),
    pos AS (
      SELECT w, h.i,
             CAST(CAST(('0x' || substr(md5('b' || h.i || ':' || w),
                                       1, 8)) AS BIGINT) % 1024
                  AS BIGINT) AS p
      FROM toks, LATERAL (SELECT unnest([0, 1, 2]) AS i) h
    ),
    words AS (
      SELECT CAST(p // 32 AS BIGINT) AS word_idx,
             CAST(bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INTEGER))
                  AS BIGINT) AS bits
      FROM pos GROUP BY 1
    ),
    probes AS (SELECT unnest({_BLOOM_PROBES!r}) AS token),
    ppos AS (
      SELECT token, h.i,
             CAST(CAST(('0x' || substr(md5('b' || h.i || ':' || token),
                                       1, 8)) AS BIGINT) % 1024
                  AS BIGINT) AS p
      FROM probes, LATERAL (SELECT unnest([0, 1, 2]) AS i) h
    ),
    checks AS (
      SELECT pp.token,
             CAST(min(CASE WHEN (w.bits >> CAST(pp.p % 32 AS INTEGER))
                                & 1 = 1
                           THEN 1 ELSE 0 END) AS INTEGER) AS bloom_hit
      FROM ppos pp
      LEFT JOIN words w ON w.word_idx = pp.p // 32
      GROUP BY pp.token
    ),
    truth AS (
      SELECT p.token,
             CAST(CASE WHEN t.w IS NOT NULL THEN 1 ELSE 0 END
                  AS INTEGER) AS in_corpus
      FROM probes p LEFT JOIN toks t ON t.w = p.token
    )
    SELECT c.token, t.in_corpus, c.bloom_hit,
           CAST(CASE WHEN c.bloom_hit = 1 AND t.in_corpus = 0
                     THEN 1 ELSE 0 END AS INTEGER) AS false_positive
    FROM checks c JOIN truth t ON t.token = c.token
    ORDER BY c.token
    """,
)
def q_bloom_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Membership probes against the q_sketch_bloom filter: five
    corpus tokens and five synthetic absentees, each checked by
    testing all k = 3 hash bits against the 32-word bitset, with the
    exact ground truth and the false-positive flag alongside — the
    end-to-end demonstration that the materialized filter actually
    ANSWERS queries (the property q_join_bloom_prefilter exploits),
    and that its one-sided error behaves: no false negatives,
    bounded false positives.

    The probe set is 10 literals; each probe touches ≤3 of the 32
    filter words by key — the filter table is the only corpus-sized
    derivative, and it was one bit_or aggregate. The miss case
    (absent word index) LEFT-JOINs to a 0 bit, preserving the
    no-false-negative contract."""
    d = spread(load_table(spark, sf_dir, "documents"))
    toks = d.select(
        F.explode(F.split(F.col("text"), " ")).alias("w")
    ).distinct()
    toks = pin(toks)
    pos = toks.select(
        "w",
        F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("i"),
    ).select(
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("b"),
                            F.col("i").cast("string"),
                            F.lit(":"),
                            F.col("w"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % 1024
        ).alias("p")
    )
    words = pos.groupBy(
        F.floor(F.col("p") / 32).cast("bigint").alias("word_idx")
    ).agg(
        F.bit_or(
            F.expr("shiftleft(cast(1 as bigint), cast(p % 32 as int))")
        )
        .cast("bigint")
        .alias("bits")
    )
    probes = spark.createDataFrame(
        [(t,) for t in _BLOOM_PROBES], schema="token string"
    )
    ppos = probes.select(
        "token",
        F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("i"),
    ).select(
        "token",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("b"),
                            F.col("i").cast("string"),
                            F.lit(":"),
                            F.col("token"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % 1024
        ).alias("p"),
    )
    checks = (
        ppos.join(
            words,
            F.floor(F.col("p") / 32).cast("bigint") == F.col("word_idx"),
            "left",
        )
        .select(
            "token",
            F.when(
                F.expr(
                    "(shiftright(bits, cast(p % 32 as int)) & 1) = 1"
                ),
                1,
            )
            .otherwise(0)
            .alias("bit_ok"),
        )
        .groupBy("token")
        .agg(F.min("bit_ok").cast("int").alias("bloom_hit"))
    )
    truth = F.broadcast(probes).join(
        toks, probes.token == toks.w, "left"
    ).select(
        "token",
        F.when(F.col("w").isNotNull(), 1).otherwise(0).cast("int").alias(
            "in_corpus"
        ),
    )
    return (
        checks.join(truth, "token")
        .select(
            "token",
            "in_corpus",
            "bloom_hit",
            F.when(
                (F.col("bloom_hit") == 1) & (F.col("in_corpus") == 0), 1
            )
            .otherwise(0)
            .cast("int")
            .alias("false_positive"),
        )
        .orderBy("token")
    )


@_q(
    "q_quantile_sketch_eval",
    oracle="""
    WITH base AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents,
             o_orderkey
      FROM orders
    ),
    ranked AS (
      SELECT cents,
             row_number() OVER (ORDER BY cents, o_orderkey) AS rn,
             count(*) OVER () AS n
      FROM base
    )
    SELECT CAST(p AS BIGINT) AS p,
           CAST(max(n) AS BIGINT) AS n,
           CAST(min(CASE WHEN rn = (n * p + 99) // 100 THEN cents END)
                AS BIGINT) AS exact_cents,
           TRUE AS within_bound
    FROM ranked CROSS JOIN (SELECT unnest([50, 90, 99]) AS p)
    GROUP BY p
    ORDER BY p
    """,
)
def q_quantile_sketch_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quantile sketch EVALUATED (q_ann_recall's pattern applied to
    approx_percentile): for p50/p90/p99 of order value, compute the
    sketch estimate AND the exact nearest-rank value in one pass, then
    check the sketch's rank-error contract — approx_percentile(acc=10k)
    guarantees the returned value's rank is within n/10000 of the
    target. The hashed surface carries the exact values and the
    ``within_bound`` verdicts; the estimate's jitter stays off it —
    so q_sketch_quantiles' machinery is now semi-verified instead of
    rows-only.

    Exact ranks come from the two-phase global order; the sketch value's
    actual rank is one count-below aggregate against the broadcast
    estimates. All integer cents."""
    o = spread(load_table(spark, sf_dir, "orders"))
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
    base = o.select(cents.alias("cents"), "o_orderkey")
    base = pin(base)
    acc = 10000
    approx = base.agg(
        F.percentile_approx(
            "cents", [0.50, 0.90, 0.99], acc
        ).alias("av"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    ).select(
        F.posexplode("av").alias("i", "approx_cents"),
        "n",
    ).select(
        F.element_at(F.array(F.lit(50), F.lit(90), F.lit(99)),
                     F.col("i") + 1).alias("p"),
        "approx_cents",
        "n",
    )
    # actual rank of each sketch estimate = #values <= estimate
    rank_of = (
        base.crossJoin(F.broadcast(approx))
        .groupBy("p", "approx_cents", "n")
        .agg(
            F.sum(
                F.when(F.col("cents") <= F.col("approx_cents"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("rank_le")
        )
    )
    ranked = two_phase_window(
        base, [F.col("cents"), F.col("o_orderkey")], row_number="rn"
    )
    nrow = base.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    exact = (
        ranked.crossJoin(F.broadcast(nrow))
        .crossJoin(
            F.broadcast(
                nrow.select(
                    F.explode(
                        F.array(F.lit(50), F.lit(90), F.lit(99))
                    ).alias("p")
                )
            )
        )
        .filter(
            F.col("rn") * 100
            == (F.col("n") * F.col("p") + 99)
            - ((F.col("n") * F.col("p") + 99) % 100)
        )
        .groupBy("p")
        .agg(
            F.max("n").cast("bigint").alias("n"),
            F.min("cents").cast("bigint").alias("exact_cents"),
        )
    )
    # rank-error contract: |rank(approx) - target_rank| <= n/acc + 1
    joined = exact.join(rank_of.select("p", "rank_le"), "p")
    target = (F.col("n") * F.col("p") + 99) - (
        (F.col("n") * F.col("p") + 99) % 100
    )
    return joined.select(
        F.col("p").cast("bigint").alias("p"),
        "n",
        "exact_cents",
        (
            F.abs(F.col("rank_le") * 100 - target)
            <= (F.col("n") * 100 / acc + 100)
        ).alias("within_bound"),
    ).orderBy("p")


@_q(
    "q_hll_merge_eval",
    oracle="""
    WITH exact AS (
      SELECT event_type,
             CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
      FROM events GROUP BY event_type
      UNION ALL
      SELECT '__all__', CAST(count(DISTINCT user_id) AS BIGINT)
      FROM events
    )
    SELECT event_type, exact_users, TRUE AS within_bound
    FROM exact
    ORDER BY event_type
    """,
)
def q_hll_merge_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MERGEABLE-sketch path evaluated (q_quantile_sketch_eval's
    pattern applied to q_sketch_hll): per-type HLL sketches are built
    once, estimated at the leaf level AND union-merged to the corpus
    level, then every estimate — including the merged one, where
    mergeability errors would compound — is checked against the exact
    distinct at a 5σ bound (lgK=12 → rsd ≈ 1.04/√2¹² ≈ 1.6%, gate at
    8%). The hashed surface carries exact counts and verdicts; sketch
    jitter stays off it. Together with q_agg_approx_distinct this
    closes the loop: the datasketches rollup machinery — build,
    estimate, MERGE — is all under verification.

    One scan builds the sketches; the merge level aggregates bytes,
    exactly as a 100 TB per-partition rollup would."""
    ev = spread(load_table(spark, sf_dir, "events"))
    per_type = ev.groupBy("event_type").agg(
        F.expr("hll_sketch_agg(user_id, 12)").alias("sketch"),
        F.countDistinct("user_id").cast("bigint").alias("exact_users"),
    )
    per_type = pin(per_type)
    leveled = per_type.select(
        "event_type",
        "exact_users",
        F.expr("hll_sketch_estimate(sketch)").cast("long").alias("approx"),
    )
    total = per_type.agg(
        F.lit("__all__").alias("event_type"),
        F.lit(None).cast("bigint").alias("exact_users"),
        F.expr("hll_sketch_estimate(hll_union_agg(sketch, true))")
        .cast("long")
        .alias("approx"),
    )
    exact_all = ev.agg(
        F.countDistinct("user_id").cast("bigint").alias("ea")
    )
    total = total.crossJoin(F.broadcast(exact_all)).select(
        "event_type", F.col("ea").alias("exact_users"), "approx"
    )
    out = leveled.unionByName(total)
    return out.select(
        "event_type",
        "exact_users",
        (
            F.try_divide(
                F.abs(F.col("approx") - F.col("exact_users")),
                F.col("exact_users"),
            )
            <= F.lit(0.08)
        ).alias("within_bound"),
    ).orderBy("event_type")
