"""Vector/embedding column operators for LLM data pipelines.

Preprocessing the `embeddings` table (array<float>, 64-dim) the way a
training/serving pipeline does before indexing: L2 normalization,
per-class centroids, and int8 scalar quantization. Complements
:mod:`.simsearch` (which consumes these vectors for ANN).

Determinism discipline: float reductions are expressed as explicit
sequential left folds (``aggregate``/``list_reduce``) or folds over a
key-ordered ``collect_list`` — never engine-managed double aggregation,
whose accumulation order is a partitioning accident (see
``operators/_exact.py``). sqrt/division are IEEE correctly-rounded, so
fold-identical inputs give bitwise-identical outputs on any engine.

Scale: normalize/quantize are per-row transforms (scan speed, no
shuffle). The centroid is one shuffle keyed by (label, dim) —
64x|labels| cells regardless of corpus size, so the reduce side is tiny
even at 100 TB; the ordered-fold ``collect_list`` per (label, dim)
group holds one double per input row of that label, the same residency
as any exact mean.

Result-surface discipline (round-6): NO nested types (array/map/struct)
at any registered query's result surface. The driver's canonicalizer
sorts result rows with pandas before hashing, and a list cell raises
``TypeError: unhashable type`` there — q_kmeans_lloyd was round 5's one
red CORRECTNESS row for exactly this. Every vector-valued result is
therefore emitted TALL — one (id, pos, value) row per dimension — with
the oracle flattened the same way, and
``tests/test_oracle_types.py::test_no_nested_oracle_columns`` gates the
class out registry-wide. The tall surface is also the honest 100 TB
shape: downstream consumers (ANN index builders, trainers) re-assemble
per-partition; the engine never ships a 64-double cell as one value.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from keycloak_event_stream_spark.catalog import (
    bounded_eval_scope,
    footer_rows,
    load_table,
    spread,
)
from keycloak_event_stream_spark.registry import register as _q

_SSQ = (
    "aggregate(v, cast(0.0 as double), (acc, x) -> acc + x * x)"
)  # sequential left fold — order-pinned, engine-portable


@_q(
    "q_embed_norm",
    oracle="""
    WITH t AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
             sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                    list_transform(embedding, x ->
                      CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
                  (a, b) -> a + b)) AS l2
      FROM embeddings
    )
    SELECT vec_id, label, l2,
           CAST(s.pos AS INTEGER) AS pos,
           v[s.pos + 1] / l2 AS unit_val
    FROM t, LATERAL (
      SELECT unnest(generate_series(0, len(v) - 1)) AS pos) s
    """,
)
def q_embed_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-normalize embeddings to unit vectors (plus the norm itself) —
    the standard prep so cosine similarity reduces to a dot product in
    every downstream ANN query. Per-row higher-order functions +
    posexplode only: zero shuffles, codegen'd, scan speed at any corpus
    size. Tall (vec_id, pos, unit_val) result surface — see the module
    docstring's no-nested-surface rule."""
    e = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    unit = e.select(
        "vec_id",
        "label",
        F.expr(f"sqrt({_SSQ})").alias("l2"),
        F.expr(f"transform(v, x -> x / sqrt({_SSQ}))").alias("unit"),
    )
    return unit.select(
        "vec_id",
        "label",
        "l2",
        F.posexplode("unit").alias("pos", "unit_val"),
    ).select("vec_id", "label", "l2", "pos", "unit_val")


@_q(
    "q_embed_centroid",
    oracle="""
    WITH cell AS (
      SELECT label, s.pos,
             CAST(embedding[s.pos + 1] AS DOUBLE) AS val, vec_id
      FROM embeddings, LATERAL (
        SELECT unnest(generate_series(0, len(embedding) - 1)) AS pos) s
    )
    SELECT label, CAST(pos AS INTEGER) AS pos,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list(val ORDER BY vec_id)), (a, b) -> a + b)
             / count(*) AS mean_val
    FROM cell GROUP BY label, pos
    """,
)
def q_embed_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-label centroid: posexplode to (label, dim) cells, mean
    per cell as a vec_id-ordered sequential fold (bitwise-portable,
    unlike engine-order double sums). The result stays TALL —
    (label, pos, mean_val), one row per centroid dimension — per the
    module's no-nested-surface rule; consumers that want an array
    re-assemble with collect_list over pos.

    The shuffle key is (label, dim): the aggregate output is
    |labels| x 64 cells however large the input — the classic
    "tall-skinny reduction" that makes k-means-style steps cheap on a
    100 TB corpus."""
    e = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    cells = e.select(
        "label", "vec_id", F.posexplode("v").alias("pos", "val")
    )
    return cells.groupBy("label", "pos").agg(
        (
            F.expr(
                "aggregate(transform(array_sort(collect_list(struct(vec_id, val))),"
                " s -> s.val), cast(0.0 as double), (a, b) -> a + b)"
            )
            / F.count(F.lit(1))
        ).alias("mean_val")
    )


@_q(
    "q_embed_quantize",
    oracle="""
    WITH t AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    rng AS (
      SELECT vec_id, v,
             list_min(v) AS mn, list_max(v) AS mx
      FROM t
    )
    SELECT vec_id, mn, mx,
           CAST(s.pos AS INTEGER) AS pos,
           CAST(least(floor((v[s.pos + 1] - mn) * 255.0 / (mx - mn)),
                      255.0) AS INTEGER) - 128 AS q8_val
    FROM rng, LATERAL (
      SELECT unnest(generate_series(0, len(v) - 1)) AS pos) s
    """,
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 scalar quantization: map [min, max] to
    [-128, 127] with floor binning (floor, not round — round's tie
    behavior is engine-specific, floor is IEEE-exact everywhere). The
    4x-compression step before shipping vectors to an index; per-row,
    no shuffle. min/max/scale ride along for dequantization. Tall
    (vec_id, pos, q8_val) surface per the no-nested-surface rule."""
    e = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    rng = e.select(
        "vec_id",
        "v",
        F.array_min("v").alias("mn"),
        F.array_max("v").alias("mx"),
    )
    q8 = rng.select(
        "vec_id",
        "mn",
        "mx",
        F.expr(
            "transform(v, x -> cast(least("
            "floor((x - mn) * 255.0 / (mx - mn)), 255.0d) as int) - 128)"
        ).alias("q8"),
    )
    return q8.select(
        "vec_id", "mn", "mx", F.posexplode("q8").alias("pos", "q8_val")
    ).select("vec_id", "mn", "mx", "pos", "q8_val")


@_q(
    "q_embed_pq",
    oracle="""
    WITH vecs AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), cents AS (
      SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings WHERE vec_id < 16
    ), dists AS (
      SELECT vecs.vec_id, subs.s, cents.cid,
             list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(generate_series(1, 8),
                   i -> (v[subs.s * 8 + i] - cv[subs.s * 8 + i])
                        * (v[subs.s * 8 + i] - cv[subs.s * 8 + i]))),
               (a, b) -> a + b) AS dist
      FROM vecs
      CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS s) subs
      CROSS JOIN cents
    ), best AS (
      SELECT vec_id, s, cid,
             row_number() OVER (PARTITION BY vec_id, s
                                ORDER BY dist, cid) AS rn
      FROM dists
    )
    SELECT vec_id, CAST(s AS INTEGER) AS subspace,
           CAST(cid AS INTEGER) AS code
    FROM best WHERE rn = 1
    """,
)
def q_embed_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codes: each 64-dim embedding compressed to
    8 one-byte centroid ids (8 subspaces x 16-centroid codebook) — the
    memory layout behind IVF-PQ ANN indexes (8 bytes/vector instead of
    256, a 32x shrink that lets a 100 TB corpus' index fit in RAM).

    The codebook is deterministic (the first 16 vectors — a stand-in
    for trained k-means centroids, which would come from
    q_embed_centroid iterations). Per (vector, subspace, centroid) the
    squared L2 distance is a *fixed-order sequential fold* over the 8
    dims (1-based ``element_at`` mirrors DuckDB list indexing), so the
    doubles are bitwise-identical across engines and the argmin —
    tie-broken by centroid id — picks the same code. Assignment is a
    broadcast of the 16-row codebook against the vector scan; the only
    shuffle is the per-(vector, subspace) argmin window. Tall
    (vec_id, subspace, code) surface — one row per byte of the code —
    per the no-nested-surface rule.
    """
    e = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cents = (
        e.filter(F.col("vec_id") < 16)
        .select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))
    )
    subs = F.explode(F.sequence(F.lit(0), F.lit(7))).alias("s")
    dists = (
        e.select("vec_id", "v", subs)
        .join(F.broadcast(cents))
        .select(
            "vec_id",
            "s",
            "cid",
            F.expr(
                "aggregate(transform(sequence(1, 8),"
                " i -> (element_at(v, s * 8 + i) - element_at(cv, s * 8 + i))"
                "      * (element_at(v, s * 8 + i) - element_at(cv, s * 8 + i))),"
                " cast(0.0 as double), (a, b) -> a + b)"
            ).alias("dist"),
        )
    )
    from pyspark.sql.window import Window as W

    best = dists.select(
        "vec_id",
        "s",
        "cid",
        F.row_number()
        .over(W.partitionBy("vec_id", "s").orderBy("dist", "cid"))
        .alias("rn"),
    ).filter(F.col("rn") == 1)
    return best.select(
        "vec_id",
        F.col("s").cast("int").alias("subspace"),
        F.col("cid").cast("int").alias("code"),
    )


@_q(
    "q_kmeans_lloyd",
    oracle="""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), c0 AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS c
      FROM v ORDER BY vec_id LIMIT 4
    ), d1 AS (
      SELECT v.vec_id, c0.cid,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(generate_series(1, len(v.v)),
                 i -> (v.v[i] - c0.c[i]) * (v.v[i] - c0.c[i]))),
               (a, b) -> a + b) AS dist
      FROM v, c0
    ), a1 AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cid) AS rn
        FROM d1) WHERE rn = 1
    ), cell1 AS (
      SELECT a1.cid, s.pos, v.v[s.pos + 1] AS val, v.vec_id
      FROM v JOIN a1 USING (vec_id), LATERAL (
        SELECT unnest(generate_series(0, len(v.v) - 1)) AS pos) s
    ), c1 AS (
      SELECT cid, list(mean_val ORDER BY pos) AS c FROM (
        SELECT cid, pos,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                 list(val ORDER BY vec_id)), (a, b) -> a + b)
                 / count(*) AS mean_val
        FROM cell1 GROUP BY cid, pos) GROUP BY cid
    ), d2 AS (
      SELECT v.vec_id, c1.cid,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(generate_series(1, len(v.v)),
                 i -> (v.v[i] - c1.c[i]) * (v.v[i] - c1.c[i]))),
               (a, b) -> a + b) AS dist
      FROM v, c1
    ), a2 AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cid) AS rn
        FROM d2) WHERE rn = 1
    ), cell2 AS (
      SELECT a2.cid, s.pos, v.v[s.pos + 1] AS val, v.vec_id
      FROM v JOIN a2 USING (vec_id), LATERAL (
        SELECT unnest(generate_series(0, len(v.v) - 1)) AS pos) s
    )
    SELECT cid AS cluster_id,
           CAST(pos AS INTEGER) AS pos,
           CAST(count(*) AS BIGINT) AS n_members,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list(val ORDER BY vec_id)), (a, b) -> a + b)
             / count(*) AS centroid_val
    FROM cell2 GROUP BY cid, pos
    """,
)
def q_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means (Lloyd's algorithm), k=4, two iterations, deterministic
    init (the 4 lowest vec_ids) — the canonical iterative-refinement
    algorithm a training-data pipeline runs for corpus clustering /
    SemDeDup bucketing (north-star: the reference has no iterative
    surface at all).

    Spark-first shape per iteration — this is the part that matters at
    100 TB:
    - **assignment** broadcasts ONE row carrying the cid-sorted
      centroid struct array; each vector computes all k distances
      in-row (index-order sequential folds — bitwise engine-portable,
      no engine-managed float sums) and takes array_position of the
      min, i.e. the (dist, cid)-lexicographic argmin, so ties break
      identically everywhere with no per-iteration exchange or window;
    - **update** is the q_embed_centroid tall-skinny reduction: shuffle
      keyed by (cluster, dim) → k × 64 cells regardless of corpus size,
      per-cell mean as a vec_id-ordered fold.

    Two iterations are unrolled in the DuckDB oracle, so every float of
    the final centroids and every membership count is bitwise-checked —
    an *iterative* algorithm held to the same exactness bar as the
    relational operators. The result is emitted TALL —
    (cluster_id, pos, n_members, centroid_val), one row per centroid
    dimension — per the module's no-nested-surface rule (round 5's one
    driver-red row was this query's former array<double> column). A production run loops until movement < eps
    with the identical per-iteration plan (centroids re-broadcast each
    pass; lineage stays flat because each iteration materializes only
    the k×64 centroid table driver-side, never the corpus).
    """
    v = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )

    # Deterministic init: the 4 lowest vec_ids become cid 0..3. Rank
    # within the 4-row seed set via a 1-row sorted-id broadcast +
    # array_position instead of an unpartitioned row_number window —
    # same values, but the plan carries no global WindowExec at all
    # (the single-partition sort warning this emitted was the last one
    # left in the bench stderr).
    first4 = v.orderBy("vec_id").limit(4)
    seed_ids = first4.agg(F.array_sort(F.collect_list("vec_id")).alias("_ids"))
    centroids = (
        first4.crossJoin(F.broadcast(seed_ids))
        .select(
            (F.expr("array_position(_ids, vec_id)") - 1)
            .cast("int")
            .alias("cid"),
            F.col("v").alias("c"),
        )
    )

    def assign(cents: DataFrame) -> DataFrame:
        # In-row argmin (round-11 optimization): the k centroid rows
        # collapse to ONE broadcast row carrying a cid-sorted
        # struct array, and each vector computes all k distances and
        # picks its winner inside the row — the former shape cross-
        # joined the corpus k ways and shuffled the k×|corpus| result
        # by vec_id into a row_number window (an Exchange + two sorts
        # per iteration that exist only to express "argmin").
        # Equivalence is exact: the per-element fold is the same
        # sequential squared-L2 arithmetic the oracle unrolls
        # (bitwise-identical doubles), carr is sorted by
        # cid ascending (struct array_sort, first field), and
        # array_position finds the FIRST index holding the min
        # distance — min over (dist, cid) lexicographic, the very
        # tiebreak the (dist, cid)-ordered row_number implemented.
        carr = cents.agg(
            F.expr(
                "array_sort(collect_list(struct(cid, c)))"
            ).alias("carr")
        )
        ds = (
            "transform(carr, p -> aggregate(transform(sequence(1, size(v)),"
            " i -> (element_at(v, i) - element_at(p.c, i))"
            "      * (element_at(v, i) - element_at(p.c, i))),"
            " cast(0.0 as double), (a, b) -> a + b))"
        )
        return (
            v.crossJoin(F.broadcast(carr))
            .withColumn("ds", F.expr(ds))
            .select(
                "vec_id",
                F.expr(
                    "element_at(carr, cast(array_position(ds, array_min(ds))"
                    " as int)).cid"
                ).alias("cid"),
            )
        )

    def update(assigned: DataFrame) -> DataFrame:
        cells = (
            v.join(assigned, "vec_id")
            .select("cid", "vec_id", F.posexplode("v").alias("pos", "val"))
        )
        dim = cells.groupBy("cid", "pos").agg(
            (
                F.expr(
                    "aggregate(transform(array_sort(collect_list("
                    "struct(vec_id, val))), s -> s.val),"
                    " cast(0.0 as double), (a, b) -> a + b)"
                )
                / F.count(F.lit(1))
            ).alias("mean_val"),
            F.count(F.lit(1)).alias("n_cell"),
        )
        return dim

    a1 = assign(centroids)
    c1 = update(a1).groupBy("cid").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(pos, mean_val))),"
            " s -> s.mean_val)"
        ).alias("c")
    )
    a2 = assign(c1)
    dim2 = update(a2)
    # Tall result surface — one (cluster, dim) row, no array column
    # (the no-nested-surface rule; the centroid ARRAY stays an internal
    # broadcast shape between iterations, never a result cell).
    return dim2.select(
        F.col("cid").alias("cluster_id"),
        F.col("pos").alias("pos"),
        F.col("n_cell").cast("bigint").alias("n_members"),
        F.col("mean_val").alias("centroid_val"),
    )


@_q(
    "q_embed_covariance",
    oracle="""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), cells AS (
      SELECT p.i, q.j, v.v[p.i] AS xi, v.v[q.j] AS xj
      FROM v,
           LATERAL (SELECT unnest(generate_series(1, 8)) AS i) p,
           LATERAL (SELECT unnest(generate_series(1, 8)) AS j) q
      WHERE p.i <= q.j
    ), m AS (
      SELECT i, j, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(xi, 6) AS DECIMAL(27,6))) AS DOUBLE)
               AS sx,
             CAST(sum(CAST(round(xj, 6) AS DECIMAL(27,6))) AS DOUBLE)
               AS sy,
             CAST(sum(CAST(round(xi * xj, 6) AS DECIMAL(27,6)))
                  AS DOUBLE) AS sxy
      FROM cells GROUP BY i, j
    )
    SELECT i, j, n,
           (sxy - sx * sy / n) / (n - 1) AS cov
    FROM m
    ORDER BY i, j
    """,
)
def q_embed_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample covariance matrix of the first 8 embedding dimensions,
    computed as a *relational* tall-skinny reduction: each vector
    explodes to its upper-triangle (i, j) cell products, one shuffle
    keyed by (i, j) reduces to dim²/2 cells regardless of corpus size
    — the whitening/PCA front half expressed so it scales like any
    aggregate (the full 64-dim matrix is the same plan with 2080
    cells; 8 dims keep the oracle result compact).

    Determinism: per-cell contributions (xi, xj, xi·xj) round at 6
    decimals and sum in DECIMAL — float products summed in engine
    order can never cross-match — and the covariance is one closed-
    form IEEE expression from the exact decimal moments.
    """
    e = spread(load_table(spark, sf_dir, "embeddings"))
    v = e.select(F.col("embedding").cast("array<double>").alias("v"))
    cells = v.select(
        F.explode(
            F.expr(
                "flatten(transform(sequence(1, 8), i ->"
                " transform(sequence(i, 8), j ->"
                " struct(i AS i, j AS j,"
                " element_at(v, i) AS xi, element_at(v, j) AS xj))))"
            )
        ).alias("c")
    ).select("c.i", "c.j", "c.xi", "c.xj")
    d6 = lambda col: F.sum(
        F.round(col, 6).cast("decimal(27,6)")
    ).cast("double")
    m = cells.groupBy("i", "j").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        d6(F.col("xi")).alias("sx"),
        d6(F.col("xj")).alias("sy"),
        d6(F.col("xi") * F.col("xj")).alias("sxy"),
    )
    cov = F.try_divide(
        F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n"),
        F.col("n") - 1,
    )
    return m.select("i", "j", "n", cov.alias("cov")).orderBy("i", "j")


# --- Johnson–Lindenstrauss sign random projection ---------------------

_RP_K = 8  # projected dimensionality
_RP_DIM = 64


def _rp_signs(j: int) -> list[float]:
    """Deterministic ±1 projection row j: sign of dim d derived from
    md5(f"rp:{j}:{d}") — the no-RNG discipline of simsearch's
    hyperplanes, distinct seed prefix so the two fixtures differ."""
    import hashlib

    return [
        1.0
        if hashlib.md5(f"rp:{j}:{d}".encode()).hexdigest()[0] >= "8"
        else -1.0
        for d in range(_RP_DIM)
    ]


def _spark_project(vcol: str) -> str:
    rows = []
    for j in range(_RP_K):
        arr = ", ".join(f"CAST({s} AS DOUBLE)" for s in _rp_signs(j))
        dot = (
            f"aggregate(zip_with({vcol}, array({arr}), (x, y) -> x * y), "
            f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
        rows.append(f"{dot} / sqrt(CAST({_RP_K} AS DOUBLE))")
    return "array(" + ", ".join(rows) + ")"


def _duck_project(vcol: str) -> str:
    rows = []
    for j in range(_RP_K):
        arr = ", ".join(str(s) for s in _rp_signs(j))
        rows.append(
            f"list_dot_product({vcol}, [{arr}])"
            f" / sqrt(CAST({_RP_K} AS DOUBLE))"
        )
    return "[" + ", ".join(rows) + "]"


def _duck_d2(a: str, b: str, dim: int) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
        f" list_transform(range(1, {dim + 1}),"
        f" i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))),"
        f" (acc, x) -> acc + x)"
    )


_SPARK_D2 = (
    "aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
    "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)


@_q(
    "q_random_projection",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      WHERE vec_id <= 40
    ),
    p AS (
      SELECT vec_id, v, {_duck_project('v')} AS pv FROM e
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           {_duck_d2('a.v', 'b.v', _RP_DIM)} AS d2_orig,
           {_duck_d2('a.pv', 'b.pv', _RP_K)} AS d2_proj,
           {_duck_d2('a.pv', 'b.pv', _RP_K)}
             / {_duck_d2('a.v', 'b.v', _RP_DIM)} AS ratio
    FROM p a JOIN p b ON b.vec_id = a.vec_id + 1
    WHERE a.vec_id < 40
    ORDER BY a.vec_id
    """,
)
def q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss sign random projection: 64-dim embeddings
    down to 8 dims via a fixed ±1/√k matrix (md5-derived, no
    RNG), with the distortion audit a pipeline runs before trusting the
    reduced space — squared distances of 40 consecutive-id probe pairs
    in the original vs projected space and their ratio (JL: ratios
    concentrate near 1 as k grows).

    The projection itself is the 100 TB point: a per-row JVM expression
    (8 sequential dot-product folds) at scan speed, zero shuffle —
    dimensionality reduction *before* ANN indexing cuts every
    downstream distance computation 8×. The probe-pair audit joins two
    41-row filtered scans (broadcast). All folds are order-pinned
    sequential (`aggregate`/`list_reduce`), so both engines agree
    bitwise; √ and ÷ are IEEE correctly-rounded."""
    e = (
        spread(load_table(spark, sf_dir, "embeddings"))
        .filter(F.col("vec_id") <= 40)
        .select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
    )
    p = e.withColumn("pv", F.expr(_spark_project("v")))
    a = p.select(
        F.col("vec_id").alias("vec_a"),
        F.col("v").alias("va"),
        F.col("pv").alias("pa"),
    ).filter(F.col("vec_a") < 40)
    b = p.select(
        F.col("vec_id").alias("vec_b"),
        F.col("v").alias("vb"),
        F.col("pv").alias("pb"),
    )
    d2o = F.expr(_SPARK_D2.format(a="va", b="vb"))
    d2p = F.expr(_SPARK_D2.format(a="pa", b="pb"))
    return (
        a.join(F.broadcast(b), F.col("vec_b") == F.col("vec_a") + 1)
        .select(
            "vec_a",
            "vec_b",
            d2o.alias("d2_orig"),
            d2p.alias("d2_proj"),
            (d2p / d2o).alias("ratio"),
        )
        .orderBy("vec_a")
    )


# --- PCA: top principal component by power iteration ------------------

_PCA_D = 8  # dims (same compact slice as q_embed_covariance)
_PCA_ITERS = 24


@_q(
    "q_embed_pca_power",
    oracle=f"""
    WITH RECURSIVE v AS (
      SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), cells AS (
      SELECT p.i, q.j, v.v[p.i] AS xi, v.v[q.j] AS xj
      FROM v,
           LATERAL (SELECT unnest(generate_series(1, {_PCA_D})) AS i) p,
           LATERAL (SELECT unnest(generate_series(1, {_PCA_D})) AS j) q
    ), m AS (
      SELECT i, j, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(xi, 6) AS DECIMAL(27,6))) AS DOUBLE)
               AS sx,
             CAST(sum(CAST(round(xj, 6) AS DECIMAL(27,6))) AS DOUBLE)
               AS sy,
             CAST(sum(CAST(round(xi * xj, 6) AS DECIMAL(27,6)))
                  AS DOUBLE) AS sxy
      FROM cells GROUP BY i, j
    ), covfull AS (
      SELECT i, j, (sxy - sx * sy / n) / (n - 1) AS cov FROM m
    ), mat AS (
      SELECT list(arr ORDER BY i) AS mm FROM (
        SELECT i, list(cov ORDER BY j) AS arr
        FROM covfull GROUP BY i)
    ),
    it AS (
      SELECT 0 AS k,
             list_transform(range(1, {_PCA_D} + 1),
               ii -> 1.0 / sqrt(CAST({_PCA_D} AS DOUBLE))) AS vv
      UNION ALL
      SELECT it.k + 1,
             list_transform(mat.mm, r -> list_dot_product(r, it.vv))
      FROM it, mat WHERE it.k < {_PCA_ITERS}
    ), unit AS (
      SELECT list_transform(vv,
               x -> x / sqrt(list_dot_product(vv, vv))) AS vv
      FROM it WHERE k = {_PCA_ITERS}
    ), fin AS (
      SELECT CASE WHEN vv[1] < 0
                  THEN list_transform(vv, x -> -x) ELSE vv END AS vv
      FROM unit
    ), ray AS (
      SELECT fin.vv,
             list_dot_product(fin.vv,
               list_transform(mat.mm,
                 r2 -> list_dot_product(r2, fin.vv))) AS lam
      FROM fin, mat
    )
    SELECT CAST(d.i AS INTEGER) AS dim, ray.vv[d.i] AS loading,
           ray.lam AS eigenvalue
    FROM ray, LATERAL (
      SELECT unnest(generate_series(1, {_PCA_D})) AS i) d
    ORDER BY dim
    """,
)
def q_embed_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding covariance by power
    iteration, entirely in-engine: the PCA step a pipeline runs before
    whitening / dimensionality triage, expressed so the only
    corpus-sized work is the covariance reduction (one shuffle to dim²
    cells — q_embed_covariance's tall-skinny shape); the 24 power
    iterations then run as pure column expressions over a single
    8x8-matrix row — no loop over the data, no driver-side linear
    algebra.

    Normalization is deferred to the END (one unit-scaling after the
    last mat-vec product): mathematically the same direction, and it
    keeps each iteration's expression tree linear in the iteration
    count — per-iteration norms would add a second in-lambda
    reference per round. The iterate's norm decays like lam^k
    (~1e-43 at k=24), far inside double range.

    Determinism: covariance cells come from 6-dp DECIMAL sums; every
    iteration is a sequential dot-product fold; sqrt/divide are IEEE
    correctly-rounded — so Spark and DuckDB's recursive CTE produce
    the same vector bitwise. Sign is fixed by convention (first
    loading >= 0); the eigenvalue is the Rayleigh quotient of the
    final unit vector."""
    e = spread(load_table(spark, sf_dir, "embeddings"))
    v = e.select(F.col("embedding").cast("array<double>").alias("v"))
    cells = v.select(
        F.explode(
            F.expr(
                f"flatten(transform(sequence(1, {_PCA_D}), i ->"
                f" transform(sequence(1, {_PCA_D}), j ->"
                " struct(i AS i, j AS j,"
                " element_at(v, i) AS xi, element_at(v, j) AS xj))))"
            )
        ).alias("c")
    ).select("c.i", "c.j", "c.xi", "c.xj")
    d6 = lambda col: F.sum(
        F.round(col, 6).cast("decimal(27,6)")
    ).cast("double")
    m = cells.groupBy("i", "j").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        d6(F.col("xi")).alias("sx"),
        d6(F.col("xj")).alias("sy"),
        d6(F.col("xi") * F.col("xj")).alias("sxy"),
    )
    cov = F.try_divide(
        F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n"),
        F.col("n") - 1,
    )
    rows = m.select("i", "j", cov.alias("cov"))
    # 8x8 matrix as ONE row: array of row arrays, both levels
    # index-sorted (statically bounded collects — dim², not data)
    mat = (
        rows.groupBy("i")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(j, cov))),"
                " s -> s.cov)"
            ).alias("arr")
        )
        .groupBy()
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(i, arr))),"
                " s -> s.arr)"
            ).alias("mm")
        )
    )
    dot = (
        "aggregate(zip_with({a}, {b}, (x, y) -> x * y),"
        " CAST(0.0 AS DOUBLE), (acc, t) -> acc + t)"
    )
    it = mat.withColumn(
        "vv",
        F.expr(
            f"transform(sequence(1, {_PCA_D}),"
            f" ii -> 1.0 / sqrt(CAST({_PCA_D} AS DOUBLE)))"
        ),
    )
    for _ in range(_PCA_ITERS):
        it = it.withColumn(
            "vv", F.expr(f"transform(mm, r -> {dot.format(a='r', b='vv')})")
        )
        # materialization barrier: a column referenced inside a
        # higher-order-function lambda is re-evaluated per array
        # element (Spark does no CSE into lambdas), so chaining
        # iterations symbolically costs 8^k evaluations. The
        # checkpointed plan is ONE row; the corpus-sized covariance
        # job still runs exactly once, before the first barrier.
        it = it.localCheckpoint(eager=False)
    fin = (
        it.withColumn(
            "vv",
            F.expr(
                f"transform(vv, x -> x / sqrt({dot.format(a='vv', b='vv')}))"
            ),
        )
        .withColumn(
            "vv",
            # try_element_at: on a zero-row corpus the collected
            # matrix (and thus vv) is an empty array — NULL < 0 falls
            # to ELSE and posexplode of [] yields the empty result
            F.expr(
                "CASE WHEN try_element_at(vv, 1) < 0"
                " THEN transform(vv, x -> -x) ELSE vv END"
            ),
        )
        .withColumn(
            "lam",
            F.expr(
                "aggregate(zip_with(vv,"
                f" transform(mm, r2 -> {dot.format(a='r2', b='vv')}),"
                " (x, y) -> x * y), CAST(0.0 AS DOUBLE),"
                " (acc, t) -> acc + t)"
            ),
        )
    )
    return (
        fin.select(F.posexplode("vv").alias("p", "loading"), "lam")
        .select(
            (F.col("p") + 1).cast("int").alias("dim"),
            "loading",
            F.col("lam").alias("eigenvalue"),
        )
        .orderBy("dim")
    )


# --- DBSCAN-style density census --------------------------------------

_DB_EPS_COS = 0.25  # neighbor iff cosine >= eps (same scale as dedup)
_DB_MINPTS = 3


@_q(
    "q_dbscan_core",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings
    ), nbr AS (
      SELECT a.vec_id, a.label, CAST(count(b.vec_id) AS BIGINT) AS n_nbrs
      FROM e a LEFT JOIN e b
        ON b.label = a.label AND b.vec_id <> a.vec_id
       AND list_dot_product(a.v, b.v)
           / (sqrt(list_dot_product(a.v, a.v))
              * sqrt(list_dot_product(b.v, b.v))) >= {_DB_EPS_COS}
      GROUP BY a.vec_id, a.label
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_points,
           CAST(sum(CASE WHEN n_nbrs >= {_DB_MINPTS} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_core,
           CAST(sum(CASE WHEN n_nbrs = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_noise,
           CAST(max(n_nbrs) AS BIGINT) AS max_nbrs
    FROM nbr GROUP BY label ORDER BY label
    """,
)
def q_dbscan_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN-style density census per coarse cluster: a vector is a
    CORE point when at least minPts same-label neighbors sit within
    the cosine eps-ball, NOISE when it has none — the density
    screening that separates dense duplicate clumps (dedup targets)
    from isolated outliers (drop candidates) before any clustering
    decision.

    Scale: the neighbor join is blocked by the IVF label exactly like
    q_dedup_embed_cosine — n² only within a block, never across the
    corpus; the rollup is |labels| rows. Cosines are sequential
    double folds (bitwise-portable); counts exact."""
    from keycloak_event_stream_spark.llm.dedup import spark_cosine

    e = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    a = e.select(
        F.col("vec_id").alias("a_id"),
        F.col("label").alias("label"),
        F.col("v").alias("av"),
    )
    b = e.select(
        F.col("vec_id").alias("b_id"),
        F.col("label").alias("b_label"),
        F.col("v").alias("bv"),
    )
    nbr = (
        a.join(
            b,
            (F.col("b_label") == F.col("label"))
            & (F.col("b_id") != F.col("a_id"))
            & (spark_cosine("av", "bv") >= _DB_EPS_COS),
            "left",
        )
        .groupBy("a_id", "label")
        .agg(F.count("b_id").cast("bigint").alias("n_nbrs"))
    )
    core = F.when(F.col("n_nbrs") >= _DB_MINPTS, 1).otherwise(0)
    noise = F.when(F.col("n_nbrs") == 0, 1).otherwise(0)
    return (
        nbr.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_points"),
            F.sum(core).cast("bigint").alias("n_core"),
            F.sum(noise).cast("bigint").alias("n_noise"),
            F.max("n_nbrs").cast("bigint").alias("max_nbrs"),
        )
        .orderBy("label")
    )


# --- k-center coreset selection ---------------------------------------

_KC_STEPS = 5


def _duck_kcenter() -> str:
    d2 = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
        " list_transform(range(1, 65),"
        " i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))),"
        " (acc, x) -> acc + x)"
    )
    head = """
    WITH e AS MATERIALIZED (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    sel0 AS MATERIALIZED (
      SELECT 0 AS step, vec_id, v, 0.0 AS radius FROM e WHERE vec_id = 0
    )"""
    steps = []
    for i in range(1, _KC_STEPS + 1):
        dist = d2.format(a="e.v", b="s.v")
        steps.append(f""",
    d{i} AS MATERIALIZED (
      SELECT e.vec_id, e.v, min({dist}) AS md
      FROM e CROSS JOIN sel{i - 1} s
      WHERE e.vec_id NOT IN (SELECT vec_id FROM sel{i - 1})
      GROUP BY e.vec_id, e.v
    ),
    sel{i} AS MATERIALIZED (
      SELECT step, vec_id, v, radius FROM sel{i - 1}
      UNION ALL
      SELECT {i}, vec_id, v, md FROM (
        SELECT vec_id, v, md FROM d{i}
        ORDER BY md DESC, vec_id LIMIT 1)
    )""")
    return (
        head
        + "".join(steps)
        + f"""
    SELECT CAST(step AS INTEGER) AS step, vec_id, radius
    FROM sel{_KC_STEPS} ORDER BY step
    """
    )


@_q("q_coreset_kcenter", oracle=_duck_kcenter())
def q_coreset_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez's 2-approximation):
    starting from vec 0, repeatedly pick the vector FARTHEST from the
    current selection — the diversity-maximizing subset used to seed
    clustering, pick annotation batches, or curate a spread-out
    training sample (the opposite bias of density-based sampling).
    Emits (step, chosen vector, its min-distance radius); the last
    radius is the coverage guarantee (every vector is within it of
    some center).

    Scale: each step is one scan — min-distance against the ≤k-row
    broadcast selection folds per-row, and the argmax is a top-1
    TakeOrdered, never a global sort; the selection state rides
    between steps via localCheckpoint. Distances are sequential
    folds; min/argmax over identical doubles — bitwise across
    engines."""
    e = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    d2 = (
        "aggregate(zip_with(v, sv, (x, y) -> (x - y) * (x - y)),"
        " CAST(0.0 AS DOUBLE), (acc, t) -> acc + t)"
    )
    sel = (
        e.filter(F.col("vec_id") == 0)
        .select(
            F.lit(0).alias("step"),
            "vec_id",
            "v",
            F.lit(0.0).alias("radius"),
        )
        .localCheckpoint()
    )
    for i in range(1, _KC_STEPS + 1):
        s = sel.select(
            F.col("vec_id").alias("s_id"), F.col("v").alias("sv")
        )
        far = (
            e.join(F.broadcast(s.select("s_id")), e.vec_id == F.col("s_id"), "left_anti")
            .crossJoin(F.broadcast(s.select("sv")))
            .withColumn("d2", F.expr(d2))
            .groupBy("vec_id", "v")
            .agg(F.min("d2").alias("md"))
            .orderBy(F.col("md").desc(), "vec_id")
            .limit(1)
            .select(
                F.lit(i).alias("step"),
                "vec_id",
                "v",
                F.col("md").alias("radius"),
            )
        )
        sel = sel.unionByName(far).localCheckpoint()
    return sel.select(
        F.col("step").cast("int").alias("step"), "vec_id", "radius"
    ).orderBy("step")


@_q(
    "q_embed_mmd",
    oracle="""
    WITH cell AS (
      SELECT label, s.pos, CAST(embedding[s.pos + 1] AS DOUBLE) AS val
      FROM embeddings, LATERAL (
        SELECT unnest(generate_series(0, len(embedding) - 1)) AS pos) s
    ),
    bylab AS (
      SELECT label, pos, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(val, 6) AS DECIMAL(27,6))) AS DOUBLE)
               AS s
      FROM cell GROUP BY label, pos
    ),
    tot AS (
      SELECT pos, CAST(sum(n) AS BIGINT) AS nt,
             CAST(sum(CAST(s AS DECIMAL(27,6))) AS DOUBLE) AS st
      FROM bylab GROUP BY pos
    ),
    diffs AS (
      SELECT b.label, b.pos,
             (b.s / b.n - (t.st - b.s) / (t.nt - b.n))
             * (b.s / b.n - (t.st - b.s) / (t.nt - b.n)) AS d2,
             b.n
      FROM bylab b JOIN tot t ON t.pos = b.pos
    )
    SELECT label, CAST(any_value(n) AS BIGINT) AS n_vecs,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list(d2 ORDER BY pos)), (a, x) -> a + x) AS mmd2
    FROM diffs GROUP BY label
    ORDER BY label
    """,
)
def q_embed_mmd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-kernel maximum mean discrepancy between each label's
    embeddings and the rest of the corpus: MMD² = ‖μ_label − μ_rest‖²
    — the two-sample drift statistic for embedding spaces (did this
    source/cluster shift away from the corpus?), closed-form under the
    linear kernel so it needs only per-(label, dim) moments.

    One shuffle to |labels|×64 cells (the q_embed_centroid tall-skinny
    shape); the rest-mean comes from the per-dim totals, so no second
    pass over the data. Determinism: per-cell sums round at 6 decimals
    into DECIMAL; the final 64-term sum folds in dim order; means and
    squares are IEEE closed-form — bitwise across engines."""
    e = spread(load_table(spark, sf_dir, "embeddings")).select(
        "label", F.col("embedding").cast("array<double>").alias("v")
    )
    cells = e.select("label", F.posexplode("v").alias("pos", "val"))
    bylab = cells.groupBy("label", "pos").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.round(F.col("val"), 6).cast("decimal(27,6)"))
        .cast("double")
        .alias("s"),
    )
    tot = bylab.groupBy("pos").agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.sum(F.col("s").cast("decimal(27,6)")).cast("double").alias("st"),
    )
    mu_l = F.col("s") / F.col("n")
    mu_r = F.try_divide(
        F.col("st") - F.col("s"), F.col("nt") - F.col("n")
    )
    diffs = bylab.join(F.broadcast(tot), "pos").select(
        "label",
        "pos",
        ((mu_l - mu_r) * (mu_l - mu_r)).alias("d2"),
        "n",
    )
    return (
        diffs.groupBy("label")
        .agg(
            F.first("n").cast("bigint").alias("n_vecs"),
            F.expr(
                "aggregate(transform(array_sort(collect_list("
                " struct(pos, d2))), s -> s.d2),"
                " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
            ).alias("mmd2"),
        )
        .orderBy("label")
    )


_SIL_CENT_CTE = """
    cell AS (
      SELECT label, s.pos,
             CAST(embedding[s.pos + 1] AS DOUBLE) AS val, vec_id
      FROM embeddings, LATERAL (
        SELECT unnest(generate_series(0, len(embedding) - 1)) AS pos) s
    ),
    dim AS (
      SELECT label, pos,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list(val ORDER BY vec_id)), (a, b) -> a + b)
               / count(*) AS mean_val
      FROM cell GROUP BY label, pos
    ),
    cent AS (
      SELECT label AS clabel, list(mean_val ORDER BY pos) AS c
      FROM dim GROUP BY label
    )
"""


@_q(
    "q_silhouette",
    oracle=f"""
    WITH {_SIL_CENT_CTE},
    e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings
    ),
    dists AS (
      SELECT e.vec_id, e.label, cent.clabel,
             sqrt({_duck_d2('e.v', 'cent.c', 64)}) AS d
      FROM e CROSS JOIN cent
    ),
    ab AS (
      SELECT vec_id, label,
             min(CASE WHEN clabel = label THEN d END) AS a,
             min(CASE WHEN clabel <> label THEN d END) AS b
      FROM dists GROUP BY vec_id, label
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(CAST(round((b - a) / greatest(a, b), 6)
                         AS DECIMAL(27,6))) AS DOUBLE) / count(*)
             AS mean_silhouette
    FROM ab GROUP BY label ORDER BY label
    """,
)
def q_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid-based) silhouette score per cluster — the
    clustering-quality readout after q_kmeans_lloyd / before trusting
    cluster labels for SemDeDup or curriculum grouping. Per point:
    a = distance to own centroid, b = nearest other centroid;
    s = (b−a)/max(a,b); report the per-cluster mean.

    The full silhouette is O(n²); the centroid form is the standard
    linear-time surrogate and the only one that survives 100 TB: the
    |labels|×64 centroid table broadcasts, each point scores against k
    centroids at scan speed, and the result is one tall-skinny
    aggregate. Centroid means use the vec_id-ordered sequential fold
    (bitwise-portable), distances are order-pinned folds, and the
    per-point s rounds at 6 dp before the DECIMAL mean."""
    e = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    cells = e.select("label", "vec_id", F.posexplode("v").alias("pos", "val"))
    cent = (
        cells.groupBy("label", "pos")
        .agg(
            (
                F.expr(
                    "aggregate(transform(array_sort(collect_list("
                    "struct(vec_id, val))), s -> s.val),"
                    " cast(0.0 as double), (a, b) -> a + b)"
                )
                / F.count(F.lit(1))
            ).alias("mean_val")
        )
        .groupBy("label")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, mean_val))),"
                " s -> s.mean_val)"
            ).alias("c")
        )
        .withColumnRenamed("label", "clabel")
    )
    d = F.sqrt(F.expr(_SPARK_D2.format(a="v", b="c")))
    ab = (
        e.crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "label",
            F.col("clabel"),
            d.alias("d"),
        )
        .groupBy("vec_id", "label")
        .agg(
            F.min(F.when(F.col("clabel") == F.col("label"), F.col("d"))).alias(
                "a"
            ),
            F.min(F.when(F.col("clabel") != F.col("label"), F.col("d"))).alias(
                "b"
            ),
        )
    )
    s = F.round(
        (F.col("b") - F.col("a")) / F.greatest("a", "b"), 6
    ).cast("decimal(27,6)")
    return (
        ab.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            (F.sum(s).cast("double") / F.count(F.lit(1))).alias(
                "mean_silhouette"
            ),
        )
        .orderBy("label")
    )


@_q(
    "q_cronbach_alpha",
    oracle="""
    WITH cell AS (
      SELECT vec_id, s.pos,
             CAST(round(CAST(embedding[s.pos + 1] AS DOUBLE), 6)
                  AS DECIMAL(27,6)) AS r
      FROM embeddings, LATERAL (
        SELECT unnest(generate_series(0, 7)) AS pos) s
    ),
    dim AS (
      SELECT pos, sum(r) AS sv,
             sum(CAST(r AS DECIMAL(18,6)) * CAST(r AS DECIMAL(18,6)))
               AS sv2
      FROM cell GROUP BY pos
    ),
    rowtot AS (
      SELECT vec_id, sum(r) AS t FROM cell GROUP BY vec_id
    ),
    tt AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(t) AS DOUBLE) AS st,
             CAST(sum(CAST(t AS DECIMAL(18,6)) * CAST(t AS DECIMAL(18,6)))
                  AS DOUBLE) AS st2
      FROM rowtot
    ),
    dims AS (
      SELECT CAST(sum(sv2) AS DOUBLE) AS ssv2,
             list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                 list(CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)
                      ORDER BY pos)),
               (a, b) -> a + b) AS ssvsq
      FROM dim
    )
    SELECT tt.n, CAST(8 AS BIGINT) AS k_items,
           (8.0 / 7.0)
             * (1.0 - ((dims.ssv2 - dims.ssvsq / tt.n) / tt.n)
                      / ((tt.st2 - tt.st * tt.st / tt.n) / tt.n))
             AS cronbach_alpha
    FROM tt CROSS JOIN dims
    """,
)
def q_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha over the first 8 embedding dimensions treated
    as scale items — the internal-consistency readout a feature-store
    owner runs before averaging correlated signals into one score:
    α = k/(k−1) · (1 − Σᵢ var(itemᵢ) / var(total)).

    Determinism: dim values round at 6 dp and become THE item scores,
    so every per-dim and per-row sum is exact decimal arithmetic
    (order-independent); the per-row total is a decimal sum of the 8
    items (exact — no float re-association); the one float reduction
    left (Σᵢ svᵢ²) folds over the pos-ordered 8-element list with the
    same seed and order in both engines (the q_ewma discipline).
    Scale: the cell table is 8 rows per vector, reduced in one
    shuffle each to 8 dim cells and |vectors| row totals — linear,
    no global sort, no driver loop."""
    e = spread(load_table(spark, sf_dir, "embeddings"))
    cell = e.select(
        "vec_id",
        F.posexplode(
            F.slice(F.col("embedding").cast("array<double>"), 1, 8)
        ).alias("pos0", "val"),
    ).select(
        "vec_id",
        (F.col("pos0")).alias("pos"),
        F.round(F.col("val"), 6).cast("decimal(27,6)").alias("r"),
    )
    dim = cell.groupBy("pos").agg(
        F.sum("r").alias("sv"),
        F.sum(
            F.col("r").cast("decimal(18,6)")
            * F.col("r").cast("decimal(18,6)")
        ).alias("sv2"),
    )
    rowtot = cell.groupBy("vec_id").agg(F.sum("r").alias("t"))
    tt = rowtot.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("t").cast("double").alias("st"),
        F.sum(
            F.col("t").cast("decimal(18,6)")
            * F.col("t").cast("decimal(18,6)")
        )
        .cast("double")
        .alias("st2"),
    )
    dims = dim.agg(
        F.sum("sv2").cast("double").alias("ssv2"),
        F.expr(
            "aggregate(transform(array_sort(collect_list("
            "struct(pos, cast(sv as double) as sv))), s -> s.sv),"
            " cast(0.0 as double), (a, b) -> a + b * b)"
        ).alias("ssvsq"),
    )
    n = F.col("n")
    sum_item_var = (F.col("ssv2") - F.col("ssvsq") / n) / n
    tot_var = (F.col("st2") - F.col("st") * F.col("st") / n) / n
    return tt.crossJoin(F.broadcast(dims)).select(
        n.alias("n"),
        F.lit(8).cast("bigint").alias("k_items"),
        (
            F.lit(8.0)
            / F.lit(7.0)
            * (F.lit(1.0) - F.try_divide(sum_item_var, tot_var))
        ).alias("cronbach_alpha"),
    )


_OUT_CENT_CTE = """
    cell AS (
      SELECT label, s.pos,
             CAST(embedding[s.pos + 1] AS DOUBLE) AS val, vec_id
      FROM embeddings, LATERAL (
        SELECT unnest(generate_series(0, len(embedding) - 1)) AS pos) s
    ),
    dim AS (
      SELECT label, pos,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list(val ORDER BY vec_id)), (a, b) -> a + b)
               / count(*) AS mean_val
      FROM cell GROUP BY label, pos
    ),
    cent AS (
      SELECT label AS clabel, list(mean_val ORDER BY pos) AS c
      FROM dim GROUP BY label
    )
"""


@_q(
    "q_embedding_outliers",
    oracle=f"""
    WITH {_OUT_CENT_CTE},
    e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings
    ),
    dist AS (
      SELECT e.vec_id, e.label,
             round(sqrt({_duck_d2('e.v', 'cent.c', 64)}), 6) AS d
      FROM e JOIN cent ON cent.clabel = e.label
    ),
    ranked AS (
      SELECT vec_id, label, d,
             row_number() OVER (PARTITION BY label
                                ORDER BY d, vec_id) AS rn,
             count(*) OVER (PARTITION BY label) AS n
      FROM dist
    ),
    med AS (
      SELECT label,
             min(CASE WHEN rn * 2 >= n + 1 THEN d END) AS med
      FROM ranked GROUP BY label
    ),
    dev AS (
      SELECT r.vec_id, r.label, r.d, m.med,
             round(abs(r.d - m.med), 6) AS ad
      FROM ranked r JOIN med m ON m.label = r.label
    ),
    dr AS (
      SELECT label, ad,
             row_number() OVER (PARTITION BY label
                                ORDER BY ad, vec_id) AS rn,
             count(*) OVER (PARTITION BY label) AS n
      FROM dev
    ),
    mad AS (
      SELECT label,
             min(CASE WHEN rn * 2 >= n + 1 THEN ad END) AS mad
      FROM dr GROUP BY label
    )
    SELECT d.vec_id, d.label, d.d AS dist, d.med, mad.mad
    FROM dev d JOIN mad ON mad.label = d.label
    WHERE CAST(d.ad AS DECIMAL(18,6))
          > 3 * CAST(mad.mad AS DECIMAL(18,6))
    ORDER BY d.label, d.vec_id
    """,
)
def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding QA: vectors whose distance to their OWN label
    centroid exceeds median + 3·MAD of that label's distances —
    the mislabeled/corrupt-vector screen run before trusting labels
    for SemDeDup, hard-negative mining, or curriculum grouping
    (a wrong label poisons all three). Robust fences (q_mad
    discipline) because the outliers being hunted would inflate a
    σ-based fence.

    Distances round at 6 dp and ARE the statistic; medians and MADs
    are nearest-rank data values per label; the 3·MAD fence compares
    exact DECIMAL(18,6) values (6-dp rounding makes the cast
    lossless — no float threshold). Scale: centroids are the (label, dim) tall-skinny
    reduction broadcast back; rank windows run partitioned by label."""
    # Bounded-eval width (catalog.bounded_eval_scope, round 9): the
    # per-dim explode, centroid reduction, the two label-partitioned
    # rank windows and the fence join compiled at corpus width —
    # ~3.5 s warm vanilla sf0.01 for a 23-row result, ~1.7 s at
    # width 8. Width drives off cell rows (vectors x the fixture's
    # 64-dim embedding; a dim-count heuristic, same class as
    # textstats._EST_WORDS_PER_DOC — the scope caps at session
    # width, so larger real embeddings merely keep session width).
    # WHOLE body under the scope, eager checkpoint inside.
    n_drive = footer_rows(sf_dir, "embeddings") * 64
    with bounded_eval_scope(spark, n_drive):
        e = spread(load_table(spark, sf_dir, "embeddings")).select(
            "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
        )
        cells = e.select("label", "vec_id", F.posexplode("v").alias("pos", "val"))
        cent = (
            cells.groupBy("label", "pos")
            .agg(
                (
                    F.expr(
                        "aggregate(transform(array_sort(collect_list("
                        "struct(vec_id, val))), s -> s.val),"
                        " cast(0.0 as double), (a, b) -> a + b)"
                    )
                    / F.count(F.lit(1))
                ).alias("mean_val")
            )
            .groupBy("label")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(pos, mean_val))),"
                    " s -> s.mean_val)"
                ).alias("c")
            )
        )
        dist = e.join(F.broadcast(cent), "label").select(
            "vec_id",
            "label",
            F.round(
                F.sqrt(F.expr(_SPARK_D2.format(a="v", b="c"))), 6
            ).alias("d"),
        )
        w = Window.partitionBy("label").orderBy("d", "vec_id")
        wc = Window.partitionBy("label")
        ranked = dist.select(
            "vec_id",
            "label",
            "d",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(wc).alias("n"),
        )
        med = ranked.groupBy("label").agg(
            F.min(F.when(F.col("rn") * 2 >= F.col("n") + 1, F.col("d"))).alias(
                "med"
            )
        )
        dev = ranked.join(F.broadcast(med), "label").select(
            "vec_id",
            "label",
            "d",
            "med",
            F.round(F.abs(F.col("d") - F.col("med")), 6).alias("ad"),
        )
        wd = Window.partitionBy("label").orderBy("ad", "vec_id")
        dr = dev.select(
            "label",
            "ad",
            F.row_number().over(wd).alias("rn"),
            F.count(F.lit(1)).over(wc).alias("n"),
        )
        mad = dr.groupBy("label").agg(
            F.min(F.when(F.col("rn") * 2 >= F.col("n") + 1, F.col("ad"))).alias(
                "mad"
            )
        )
        return (
            dev.join(F.broadcast(mad), "label")
            .filter(
                F.col("ad").cast("decimal(18,6)")
                > F.lit(3) * F.col("mad").cast("decimal(18,6)")
            )
            .select("vec_id", "label", F.col("d").alias("dist"), "med", "mad")
            .orderBy("label", "vec_id")
        ).localCheckpoint(eager=True)


@_q(
    "q_embed_dim_variance",
    oracle="""
    WITH cells AS (
      SELECT i.i AS dim,
             CAST(floor(CAST(e.embedding[i.i] AS DOUBLE) * 1000000)
                  AS BIGINT) AS vi
      FROM embeddings e
      CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) i
    ),
    m AS (
      SELECT dim,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(vi) AS BIGINT) AS s1,
             CAST(sum(CAST(vi AS DECIMAL(38,0)) * vi) AS DECIMAL(38,0))
               AS s2
      FROM cells GROUP BY dim
    )
    SELECT CAST(dim AS INTEGER) AS dim, n,
           CAST(s1 AS DOUBLE) / n / 1e6 AS mean,
           CAST(n * s2 - CAST(s1 AS DECIMAL(38,0)) * s1 AS DOUBLE)
             / n / n / 1e12 AS variance
    FROM m
    ORDER BY dim
    """,
)
def q_embed_dim_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean/variance of the embedding matrix — the
    collapsed-dimension detector (a dim with ~zero variance carries no
    information: dead units, truncated exports, or whitening bugs all
    show up here first; feeds q_embed_pca_power's sanity check).

    The corpus explodes to (dim, value) cells — a tall-skinny shuffle
    keyed on 64 dims — and reduces to exact micro-unit integer moments.
    Quantization is ``floor(v·1e6)`` — floor is tie-free, unlike a
    double→DECIMAL cast whose half-way policy differs across engines
    (HALF_UP vs HALF_EVEN bit us here at one boundary value); squares
    accumulate in DECIMAL(38,0), and the single integer-valued
    decimal→double cast is correctly rounded in both engines."""
    e = spread(load_table(spark, sf_dir, "embeddings"))
    cells = e.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "pos", "v"
        )
    ).select(
        (F.col("pos") + 1).alias("dim"),
        F.floor(F.col("v") * 1000000).cast("bigint").alias("vi"),
    )
    m = cells.groupBy("dim").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("vi").cast("bigint").alias("s1"),
        F.sum(F.col("vi").cast("decimal(38,0)") * F.col("vi"))
        .cast("decimal(38,0)")
        .alias("s2"),
    )
    return m.select(
        F.col("dim").cast("int").alias("dim"),
        "n",
        (F.col("s1").cast("double") / F.col("n") / F.lit(1e6)).alias("mean"),
        (
            (
                F.col("n") * F.col("s2")
                - F.col("s1").cast("decimal(38,0)") * F.col("s1")
            ).cast("double")
            / F.col("n")
            / F.col("n")
            / F.lit(1e12)
        ).alias("variance"),
    ).orderBy("dim")
