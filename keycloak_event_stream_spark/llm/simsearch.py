"""Approximate-nearest-neighbor similarity search over embeddings
(north-star mandate).

Three tiers over ``embeddings.embedding`` (array<float>, 64-dim):

- ``q_sim_search``       brute-force cosine top-k — the exactness baseline.
- ``q_sim_search_ivf``   IVF-style probe: candidates restricted to the
                         query's coarse cluster (``label``) — the
                         scale path (scan 1/n_clusters of the corpus).
- ``q_sim_search_lsh``   random-hyperplane (sign) LSH: 4-bit bucket key,
                         candidates = same-bucket vectors only.

Scale design: the query set is tiny and explicitly ``broadcast`` — the
corpus never shuffles; scoring is a map-side scan. Cosine is evaluated
JVM-side as a sequential double fold (``aggregate(zip_with(...)))`` —
the same left-to-right accumulation DuckDB performs, so the oracle
comparison is exact, no tolerance games. Hyperplanes are deterministic
(md5-derived signs), not RNG, so plans are reproducible across runs and
engines.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from keycloak_event_stream_spark.catalog import load_table, spread
from keycloak_event_stream_spark.llm.dedup import duck_cosine, spark_cosine
from keycloak_event_stream_spark.registry import register as _q

_N_QUERIES = 5  # query set = vec_id < 5
_TOP_K = 10
_DIM = 64


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )


_SIM_SEARCH_ORACLE = f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < {_N_QUERIES}),
    scored AS (
      SELECT q.q_id, e.vec_id, {duck_cosine('q.qv', 'e.v')} AS cosine
      FROM q CROSS JOIN e
      WHERE e.vec_id <> q.q_id
    )
    SELECT q_id, vec_id, cosine, CAST(rn AS INTEGER) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                                       ORDER BY cosine DESC, vec_id) AS rn
          FROM scored)
    WHERE rn <= {_TOP_K}
    """


@_q("q_sim_search", oracle=_SIM_SEARCH_ORACLE)
def q_sim_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k for each query vector. The query set is
    broadcast; the corpus is scanned map-side exactly once — at 100 TB
    this is one pass, no shuffle of the big side (only the tiny scored
    top-k per partition reaches the window)."""
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .withColumn("cosine", spark_cosine("qv", "v"))
    )
    w = W.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("q_id", "vec_id", "cosine", "rank")
    )


@_q(
    "q_sim_search_ivf",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    q AS (SELECT vec_id AS q_id, label AS q_label, v AS qv
          FROM e WHERE vec_id < {_N_QUERIES}),
    scored AS (
      SELECT q.q_id, e.vec_id, {duck_cosine('q.qv', 'e.v')} AS cosine
      FROM q JOIN e ON e.label = q.q_label
      WHERE e.vec_id <> q.q_id
    )
    SELECT q_id, vec_id, cosine, CAST(rn AS INTEGER) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                                       ORDER BY cosine DESC, vec_id) AS rn
          FROM scored)
    WHERE rn <= {_TOP_K}
    """,
)
def q_sim_search_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe=1 ANN: candidates = vectors sharing the query's coarse
    cluster id (``label`` stands in for the quantizer assignment). The
    equi-join on cluster id replaces the cross join — with C clusters
    the scored set shrinks ~C×, and on a cluster-partitioned 100 TB
    corpus it prunes at the partition level."""
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("v").alias("qv"),
    )
    scored = (
        e.join(F.broadcast(q), e.label == q.q_label)
        .filter(F.col("vec_id") != F.col("q_id"))
        .withColumn("cosine", spark_cosine("qv", "v"))
    )
    w = W.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("q_id", "vec_id", "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# Random-hyperplane LSH
# ---------------------------------------------------------------------------

_LSH_BITS = 4


def _hyperplane(bit: int) -> list[float]:
    """Deterministic pseudo-random ±1 hyperplane: sign d of plane j is
    derived from md5(f"{j}:{d}") — reproducible everywhere, no RNG."""
    return [
        1.0 if hashlib.md5(f"{bit}:{d}".encode()).hexdigest()[0] >= "8" else -1.0
        for d in range(_DIM)
    ]


def _spark_bucket(vcol: str) -> str:
    parts = []
    for j in range(_LSH_BITS):
        arr = ", ".join(
            f"CAST({s} AS DOUBLE)" for s in _hyperplane(j)
        )
        dot = (
            f"aggregate(zip_with({vcol}, array({arr}), (x, y) -> x * y), "
            f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
        parts.append(f"CASE WHEN {dot} > 0 THEN '1' ELSE '0' END")
    return "concat(" + ", ".join(parts) + ")"


def _duck_bucket(vcol: str) -> str:
    parts = []
    for j in range(_LSH_BITS):
        arr = ", ".join(str(s) for s in _hyperplane(j))
        dot = f"list_dot_product({vcol}, [{arr}])"
        parts.append(f"CASE WHEN {dot} > 0 THEN '1' ELSE '0' END")
    return " || ".join(parts)


@_q(
    "q_sim_search_lsh",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    b AS (SELECT vec_id, v, {_duck_bucket('v')} AS bucket FROM e),
    q AS (SELECT vec_id AS q_id, v AS qv, bucket AS q_bucket
          FROM b WHERE vec_id < {_N_QUERIES}),
    scored AS (
      SELECT q.q_id, b.vec_id, b.bucket,
             {duck_cosine('q.qv', 'b.v')} AS cosine
      FROM q JOIN b ON b.bucket = q.q_bucket
      WHERE b.vec_id <> q.q_id
    )
    SELECT q_id, vec_id, bucket, cosine, CAST(rn AS INTEGER) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                                       ORDER BY cosine DESC, vec_id) AS rn
          FROM scored)
    WHERE rn <= {_TOP_K}
    """,
)
def q_sim_search_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-random-projection LSH ANN: a {4}-bit bucket key (sign of the
    dot product with 4 fixed hyperplanes) partitions the corpus into 16
    buckets; candidates are same-bucket vectors only. Bucketing is a
    per-row expression (scan speed); the candidate join is an equi-join
    on the bucket key — the 100 TB shape, where the bucket also serves
    as the physical partition key so probes touch one partition."""
    e = _emb(spark, sf_dir)
    b = e.withColumn("bucket", F.expr(_spark_bucket("v")))
    q = b.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("bucket").alias("q_bucket"),
    )
    scored = (
        b.join(F.broadcast(q), b.bucket == q.q_bucket)
        .filter(F.col("vec_id") != F.col("q_id"))
        .withColumn("cosine", spark_cosine("qv", "v"))
    )
    w = W.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("q_id", "vec_id", "bucket", "cosine", "rank")
    )


def _pandas_scorer(queries_bc):
    """Build a mapInPandas scorer over a broadcast query set. Broadcast
    variable, not closure capture: the query matrix ships to each
    executor once instead of re-pickling per task (the guide's closure
    pitfall). Accumulation is dim-sequential so cosines match the JVM
    fold and DuckDB bitwise."""

    def score(batches):
        import numpy as np
        import pandas as pd

        qs = queries_bc.value  # list of (q_id, vector)
        qmat = np.array([v for _, v in qs])  # (nq, dim)
        qnorm = np.zeros(len(qs))
        for d in range(qmat.shape[1]):
            qnorm += qmat[:, d] * qmat[:, d]
        qnorm = np.sqrt(qnorm)
        for pdf in batches:
            mat = np.stack(pdf["v"].to_numpy())  # (batch, dim)
            vnorm = np.zeros(mat.shape[0])
            for d in range(mat.shape[1]):
                vnorm += mat[:, d] * mat[:, d]
            vnorm = np.sqrt(vnorm)
            out = {"q_id": [], "vec_id": [], "cosine": []}
            for qi, (q_id, _) in enumerate(qs):
                dot = np.zeros(mat.shape[0])
                for d in range(mat.shape[1]):
                    dot += qmat[qi, d] * mat[:, d]
                cos = dot / (qnorm[qi] * vnorm)
                keep = pdf["vec_id"].to_numpy() != q_id
                out["q_id"].extend([q_id] * int(keep.sum()))
                out["vec_id"].extend(pdf["vec_id"].to_numpy()[keep])
                out["cosine"].extend(cos[keep])
            yield pd.DataFrame(out)

    return score


@_q("q_sim_search_pandas", oracle=_SIM_SEARCH_ORACLE)
def q_sim_search_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force ANN with Arrow-batch numpy scoring: the query set is
    a broadcast variable; each corpus batch is scored against all
    queries in vectorized numpy, then the JVM window takes top-k. Same
    oracle as the JVM-fold q_sim_search — the two scorers cross-
    validate bitwise. The Python path wins once dim x n_queries makes
    per-row JVM folds expression-heavy."""
    from pyspark.sql import types as T

    e = _emb(spark, sf_dir)
    q_rows = [
        (r.vec_id, list(r.v))
        for r in e.filter(F.col("vec_id") < _N_QUERIES).collect()
    ]
    queries_bc = spark.sparkContext.broadcast(q_rows)
    schema = T.StructType(
        [
            T.StructField("q_id", T.LongType()),
            T.StructField("vec_id", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )
    scored = e.select("vec_id", "v").mapInPandas(
        _pandas_scorer(queries_bc), schema
    )
    w = W.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("q_id", "vec_id", "cosine", "rank")
    )


@_q(
    "q_ann_recall",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    q AS (SELECT vec_id AS q_id, v AS qv FROM e
          WHERE vec_id < {_N_QUERIES}),
    exact AS (
      SELECT q_id, vec_id FROM (
        SELECT q.q_id, e.vec_id,
               row_number() OVER (PARTITION BY q.q_id
                 ORDER BY {duck_cosine('q.qv', 'e.v')} DESC, e.vec_id)
                 AS rn
        FROM q CROSS JOIN e WHERE e.vec_id <> q.q_id)
      WHERE rn <= {_TOP_K}
    ),
    b AS (SELECT vec_id, {_duck_bucket('v')} AS bucket FROM e),
    qb AS (SELECT q.q_id, b.bucket AS q_bucket FROM q
           JOIN b ON b.vec_id = q.q_id),
    cand AS (
      SELECT qb.q_id, b.vec_id
      FROM qb JOIN b ON b.bucket = qb.q_bucket
      WHERE b.vec_id <> qb.q_id
    ),
    stats AS (
      SELECT e2.q_id,
             CAST(count(*) AS BIGINT) AS k,
             CAST(sum(CASE WHEN c.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS hits
      FROM exact e2
      LEFT JOIN cand c ON c.q_id = e2.q_id AND c.vec_id = e2.vec_id
      GROUP BY e2.q_id
    ), nc AS (
      SELECT q_id, CAST(count(*) AS BIGINT) AS n_candidates
      FROM cand GROUP BY q_id
    )
    SELECT s.q_id, COALESCE(nc.n_candidates, 0) AS n_candidates,
           s.hits, CAST(s.hits AS DOUBLE) / s.k AS recall_at_k
    FROM stats s LEFT JOIN nc ON nc.q_id = s.q_id
    ORDER BY s.q_id
    """,
)
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the sign-LSH index against exact brute force — the
    accept/reject gate for any ANN deployment, computed entirely
    in-engine: exact top-{_TOP_K} per query (one broadcast scan) LEFT
    JOINs the LSH candidate set (bucket equi-join); recall is the hit
    fraction. Everything is deterministic (md5-derived hyperplanes,
    full tiebreaks), so even this *evaluation of an approximation* is
    bitwise oracle-checkable. The same pattern tunes bits/bands
    against recall targets before committing an index layout at
    corpus scale — candidate-set size (the cost) rides along per
    query.
    """
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .withColumn("cosine", spark_cosine("qv", "v"))
    )
    w = W.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    exact = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TOP_K)
        .select("q_id", "vec_id")
    )
    b = e.withColumn("bucket", F.expr(_spark_bucket("v"))).select(
        "vec_id", "bucket"
    )
    qb = q.join(
        b.select(F.col("vec_id").alias("q_id"), "bucket"), "q_id"
    ).select("q_id", F.col("bucket").alias("q_bucket"))
    cand = (
        b.join(F.broadcast(qb), b.bucket == F.col("q_bucket"))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id")
    )
    hit = cand.withColumn("hit", F.lit(1))
    stats = (
        exact.join(hit, ["q_id", "vec_id"], "left")
        .groupBy("q_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("k"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("bigint")
            .alias("hits"),
        )
    )
    nc = cand.groupBy("q_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidates")
    )
    return (
        stats.join(nc, "q_id", "left")
        .select(
            "q_id",
            F.coalesce("n_candidates", F.lit(0)).alias("n_candidates"),
            "hits",
            (F.col("hits").cast("double") / F.col("k")).alias(
                "recall_at_k"
            ),
        )
        .orderBy("q_id")
    )


@_q(
    "q_ndcg_eval",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    b AS (SELECT vec_id, v, {_duck_bucket('v')} AS bucket FROM e),
    q AS (SELECT vec_id AS q_id, v AS qv, bucket AS q_bucket
          FROM b WHERE vec_id < {_N_QUERIES}),
    exact AS (
      SELECT q_id, vec_id, rn FROM (
        SELECT q.q_id, e.vec_id,
               row_number() OVER (PARTITION BY q.q_id
                 ORDER BY {duck_cosine('q.qv', 'e.v')} DESC, e.vec_id)
                 AS rn
        FROM q CROSS JOIN e WHERE e.vec_id <> q.q_id)
      WHERE rn <= {_TOP_K}
    ),
    retrieved AS (
      SELECT q_id, vec_id, rn FROM (
        SELECT q.q_id, b.vec_id,
               row_number() OVER (PARTITION BY q.q_id
                 ORDER BY {duck_cosine('q.qv', 'b.v')} DESC, b.vec_id)
                 AS rn
        FROM q JOIN b ON b.bucket = q.q_bucket
        WHERE b.vec_id <> q.q_id)
      WHERE rn <= {_TOP_K}
    ),
    gain AS (
      SELECT r.q_id,
             round(CAST(COALESCE({_TOP_K} - x.rn + 1, 0) AS DOUBLE)
                   / log2(CAST(r.rn + 1 AS DOUBLE)), 6) AS g
      FROM retrieved r
      LEFT JOIN exact x ON x.q_id = r.q_id AND x.vec_id = r.vec_id
    ),
    dcg AS (
      SELECT q_id, CAST(count(*) AS BIGINT) AS n_retrieved,
             CAST(sum(CAST(g AS DECIMAL(27,6))) AS DOUBLE) AS dcg
      FROM gain GROUP BY q_id
    ),
    ideal AS (
      SELECT CAST(sum(CAST(round(
               CAST({_TOP_K} - i + 1 AS DOUBLE)
               / log2(CAST(i + 1 AS DOUBLE)), 6) AS DECIMAL(27,6)))
             AS DOUBLE) AS idcg
      FROM (SELECT unnest(generate_series(1, {_TOP_K})) AS i)
    )
    SELECT d.q_id, d.n_retrieved, d.dcg, ideal.idcg,
           d.dcg / ideal.idcg AS ndcg
    FROM dcg d CROSS JOIN ideal
    ORDER BY d.q_id
    """,
)
def q_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@k of the LSH retriever against the exact cosine ranking —
    the graded-relevance companion to q_ann_recall (which only counts
    hits): an exact neighbor found at retrieved rank 1 is worth more
    than the same neighbor surfaced at rank 10. Relevance of a
    retrieved item = (k − exact_rank + 1) if it is in the exact top-k,
    else 0; DCG discounts by log2(rank + 1); IDCG is the perfect-
    ranking constant, computed *inside each engine* with the same 6-dp
    rounding so the division is bitwise-portable.

    Determinism: integer relevance grades; each DCG term rounded to
    6 dp then summed as DECIMAL(27,6) (order-independent), one final
    double division. Scale: exact ranking is the broadcast-query
    map-side scan of q_sim_search; the retrieved side touches only the
    query's bucket; everything downstream is |queries|·k rows."""
    e = _emb(spark, sf_dir)
    b = e.withColumn("bucket", F.expr(_spark_bucket("v")))
    q = b.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("bucket").alias("q_bucket"),
    )
    w = W.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    exact = (
        e.crossJoin(F.broadcast(q.select("q_id", "qv")))
        .filter(F.col("vec_id") != F.col("q_id"))
        .withColumn("cosine", spark_cosine("qv", "v"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TOP_K)
        .select("q_id", F.col("vec_id").alias("x_vec"), F.col("rn").alias("x_rn"))
    )
    retrieved = (
        b.join(F.broadcast(q), b.bucket == q.q_bucket)
        .filter(F.col("vec_id") != F.col("q_id"))
        .withColumn("cosine", spark_cosine("qv", "v"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TOP_K)
        .select("q_id", "vec_id", "rn")
    )
    gain = retrieved.join(
        exact,
        (retrieved.q_id == exact.q_id) & (retrieved.vec_id == exact.x_vec),
        "left",
    ).select(
        retrieved.q_id.alias("q_id"),
        F.round(
            F.coalesce(F.lit(_TOP_K) - F.col("x_rn") + 1, F.lit(0)).cast(
                "double"
            )
            / F.log2(F.col("rn").cast("double") + F.lit(1.0)),
            6,
        ).alias("g"),
    )
    dcg = gain.groupBy("q_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_retrieved"),
        F.sum(F.col("g").cast("decimal(27,6)")).cast("double").alias("dcg"),
    )
    ideal = (
        spark.range(1, _TOP_K + 1)
        .select(
            F.round(
                (F.lit(_TOP_K) - F.col("id") + 1).cast("double")
                / F.log2(F.col("id").cast("double") + F.lit(1.0)),
                6,
            )
            .cast("decimal(27,6)")
            .alias("t")
        )
        .agg(F.sum("t").cast("double").alias("idcg"))
    )
    return (
        dcg.crossJoin(F.broadcast(ideal))
        .select(
            "q_id",
            "n_retrieved",
            "dcg",
            "idcg",
            (F.col("dcg") / F.col("idcg")).alias("ndcg"),
        )
        .orderBy("q_id")
    )


_N_HARD = 5


@_q(
    "q_hard_negatives",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings
    ),
    q AS (SELECT vec_id AS q_id, label AS q_label, v AS qv
          FROM e WHERE vec_id < {_N_QUERIES}),
    scored AS (
      SELECT q.q_id, e.vec_id, e.label,
             {duck_cosine('q.qv', 'e.v')} AS cosine
      FROM q CROSS JOIN e
      WHERE e.label <> q.q_label
    )
    SELECT q_id, vec_id, label, cosine, CAST(rn AS INTEGER) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                                       ORDER BY cosine DESC, vec_id) AS rn
          FROM scored)
    WHERE rn <= {_N_HARD}
    ORDER BY q_id, rank
    """,
)
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor
    vector, the {5} most cosine-similar vectors with a DIFFERENT
    label — the near-miss examples that make a contrastive objective
    informative (random negatives are trivially separable; hard ones
    define the decision boundary).

    Same 100 TB shape as q_sim_search: the anchor set broadcasts, the
    corpus is scored in one map-side scan (the label filter is a
    per-row predicate, no shuffle), and only per-partition top-k rows
    reach the tiny per-anchor window."""
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("v").alias("qv"),
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("label") != F.col("q_label"))
        .withColumn("cosine", spark_cosine("qv", "v"))
    )
    w = W.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _N_HARD)
        .select("q_id", "vec_id", "label", "cosine", "rank")
        .orderBy("q_id", "rank")
    )


@_q(
    "q_mrr_eval",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    b AS (SELECT vec_id, v, {_duck_bucket('v')} AS bucket FROM e),
    q AS (SELECT vec_id AS q_id, v AS qv, bucket AS q_bucket
          FROM b WHERE vec_id < {_N_QUERIES}),
    exact AS (
      SELECT q_id, vec_id FROM (
        SELECT q.q_id, e.vec_id,
               row_number() OVER (PARTITION BY q.q_id
                 ORDER BY {duck_cosine('q.qv', 'e.v')} DESC, e.vec_id) AS rn
        FROM q CROSS JOIN e WHERE e.vec_id <> q.q_id)
      WHERE rn <= {_TOP_K}
    ),
    retrieved AS (
      SELECT q_id, vec_id, rn FROM (
        SELECT q.q_id, b.vec_id,
               row_number() OVER (PARTITION BY q.q_id
                 ORDER BY {duck_cosine('q.qv', 'b.v')} DESC, b.vec_id) AS rn
        FROM q JOIN b ON b.bucket = q.q_bucket
        WHERE b.vec_id <> q.q_id)
      WHERE rn <= {_TOP_K}
    )
    SELECT r.q_id,
           CAST(count(*) AS BIGINT) AS n_retrieved,
           CAST(min(CASE WHEN x.vec_id IS NOT NULL THEN r.rn END)
                AS BIGINT) AS first_hit_rank,
           COALESCE(1.0 / min(CASE WHEN x.vec_id IS NOT NULL
                                   THEN r.rn END), 0.0)
             AS reciprocal_rank
    FROM retrieved r
    LEFT JOIN exact x ON x.q_id = r.q_id AND x.vec_id = r.vec_id
    GROUP BY r.q_id
    ORDER BY r.q_id
    """,
)
def q_mrr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal rank of the LSH retriever vs the exact cosine top-k:
    per query, the rank of the FIRST retrieved item that belongs to
    the exact top-k (the metric that matters when a downstream
    consumer only reads the best hit — RAG context stuffing, nearest-
    duplicate lookup). Complements q_ann_recall (how many hits) and
    q_ndcg_eval (graded order quality).

    Same bounded shape as its siblings: exact ranking is the
    broadcast-query map-side scan, the retrieved side touches only
    the query's LSH bucket, and the metric reduces |queries|·k rows.
    1/rank is a single IEEE division of small integers — bitwise
    identical in both engines, no rounding needed."""
    e = _emb(spark, sf_dir)
    b = e.withColumn("bucket", F.expr(_spark_bucket("v")))
    q = b.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("bucket").alias("q_bucket"),
    )
    w = W.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    exact = (
        e.crossJoin(F.broadcast(q.select("q_id", "qv")))
        .filter(F.col("vec_id") != F.col("q_id"))
        .withColumn("cosine", spark_cosine("qv", "v"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TOP_K)
        .select("q_id", F.col("vec_id").alias("x_vec"))
    )
    retrieved = (
        b.join(F.broadcast(q), b.bucket == q.q_bucket)
        .filter(F.col("vec_id") != F.col("q_id"))
        .withColumn("cosine", spark_cosine("qv", "v"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TOP_K)
        .select("q_id", "vec_id", "rn")
    )
    hit_rank = F.min(
        F.when(F.col("x_vec").isNotNull(), F.col("rn"))
    )
    return (
        retrieved.join(
            exact,
            (retrieved.q_id == exact.q_id)
            & (retrieved.vec_id == exact.x_vec),
            "left",
        )
        .select(retrieved.q_id.alias("q_id"), "rn", "x_vec")
        .groupBy("q_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_retrieved"),
            hit_rank.cast("bigint").alias("first_hit_rank"),
            F.coalesce(
                F.lit(1.0) / hit_rank, F.lit(0.0)
            ).alias("reciprocal_rank"),
        )
        .orderBy("q_id")
    )


@_q(
    "q_embedding_bucket_stats",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings
    ),
    b AS (SELECT vec_id, label, {_duck_bucket('v')} AS bucket FROM e),
    cells AS (
      SELECT bucket, label, CAST(count(*) AS BIGINT) AS c
      FROM b GROUP BY bucket, label
    ),
    per_bucket AS (
      SELECT bucket,
             CAST(sum(c) AS BIGINT) AS n_vecs,
             CAST(count(*) AS BIGINT) AS n_labels,
             arg_min(label, concat(lpad(CAST(100000000 - c AS VARCHAR),
                                        9, '0'),
                                   lpad(CAST(label AS VARCHAR), 4, '0')))
               AS top_label,
             CAST(max(c) AS BIGINT) AS top_label_n
      FROM cells GROUP BY bucket
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM b)
    SELECT pb.bucket, pb.n_vecs, pb.n_labels,
           CAST(pb.top_label AS BIGINT) AS top_label, pb.top_label_n,
           CAST(pb.n_vecs AS DOUBLE) / tot.n AS share,
           CAST(pb.top_label_n AS DOUBLE) / pb.n_vecs AS purity
    FROM per_bucket pb CROSS JOIN tot
    ORDER BY bucket
    """,
)
def q_embedding_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH bucket diagnostics for the sign-projection index behind
    q_sim_search_lsh: per bucket, the occupancy, its share of the
    corpus, label diversity, and purity (dominant ground-truth label's
    share) — the index-health report that decides whether 4 bits is
    enough (one bucket holding 40% of vectors means probes degrade to
    brute force; purity ≈ 1 means the buckets track semantics).

    Bucketing is the same per-row md5-hyperplane expression (scan
    speed, no shuffle); stats are one keyed aggregate over (bucket,
    label) cells. Dominant label picks deterministically by
    (count desc, label asc) via a zero-padded composite sort key —
    both engines' arg_min/min_by resolve ties identically."""
    e = _emb(spark, sf_dir)
    b = e.withColumn("bucket", F.expr(_spark_bucket("v")))
    cells = b.groupBy("bucket", "label").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    tie_key = F.concat(
        F.lpad((F.lit(100000000) - F.col("c")).cast("string"), 9, "0"),
        F.lpad(F.col("label").cast("string"), 4, "0"),
    )
    per_bucket = cells.groupBy("bucket").agg(
        F.sum("c").cast("bigint").alias("n_vecs"),
        F.count(F.lit(1)).cast("bigint").alias("n_labels"),
        F.min_by("label", tie_key).cast("bigint").alias("top_label"),
        F.max("c").cast("bigint").alias("top_label_n"),
    )
    tot = b.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return (
        per_bucket.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            "n_vecs",
            "n_labels",
            "top_label",
            "top_label_n",
            (F.col("n_vecs").cast("double") / F.col("n")).alias("share"),
            (F.col("top_label_n").cast("double") / F.col("n_vecs")).alias(
                "purity"
            ),
        )
        .orderBy("bucket")
    )


_NPROBES = [1, 2, 4]


def _ivf_sweep_oracle() -> str:
    nps = ", ".join(f"({np})" for np in _NPROBES)
    return f"""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings
    ),
    q AS (SELECT vec_id AS q_id, v AS qv FROM e
          WHERE vec_id < {_N_QUERIES}),
    cell AS (
      SELECT label, s.pos, CAST(v[s.pos + 1] AS DOUBLE) AS val, vec_id
      FROM e, LATERAL (
        SELECT unnest(generate_series(0, len(v) - 1)) AS pos) s
    ),
    dim AS (
      SELECT label, pos,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list(val ORDER BY vec_id)), (a, b) -> a + b)
               / count(*) AS mean_val
      FROM cell GROUP BY label, pos
    ),
    cent AS (
      SELECT label, list(mean_val ORDER BY pos) AS c
      FROM dim GROUP BY label
    ),
    qcr AS (
      SELECT q_id, label,
             row_number() OVER (PARTITION BY q_id
               ORDER BY {duck_cosine('q.qv', 'cent.c')} DESC, label)
               AS crank
      FROM q CROSS JOIN cent
    ),
    exact AS (
      SELECT q_id, vec_id FROM (
        SELECT q.q_id, e.vec_id,
               row_number() OVER (PARTITION BY q.q_id
                 ORDER BY {duck_cosine('q.qv', 'e.v')} DESC, e.vec_id)
                 AS rn
        FROM q CROSS JOIN e WHERE e.vec_id <> q.q_id)
      WHERE rn <= {_TOP_K}
    ),
    probes AS (
      SELECT t.np, qcr.q_id, qcr.label
      FROM (VALUES {nps}) t(np)
      JOIN qcr ON qcr.crank <= t.np
    ),
    scored AS (
      SELECT p.np, p.q_id, e.vec_id,
             {duck_cosine('q.qv', 'e.v')} AS cosine
      FROM probes p
      JOIN q ON q.q_id = p.q_id
      JOIN e ON e.label = p.label
      WHERE e.vec_id <> p.q_id
    ),
    cands AS (
      SELECT np, q_id, CAST(count(*) AS BIGINT) AS n_cand
      FROM scored GROUP BY np, q_id
    ),
    approx AS (
      SELECT np, q_id, vec_id FROM (
        SELECT *, row_number() OVER (PARTITION BY np, q_id
                 ORDER BY cosine DESC, vec_id) AS rn
        FROM scored)
      WHERE rn <= {_TOP_K}
    ),
    hits AS (
      SELECT a.np, CAST(count(*) AS BIGINT) AS n_hit
      FROM approx a JOIN exact x
        ON a.q_id = x.q_id AND a.vec_id = x.vec_id
      GROUP BY a.np
    )
    SELECT c.np AS nprobe,
           CAST(sum(c.n_cand) AS BIGINT) AS total_candidates,
           COALESCE(any_value(h.n_hit), 0) AS n_hits,
           CAST(COALESCE(any_value(h.n_hit), 0) AS DOUBLE)
             / ({_N_QUERIES} * {_TOP_K}) AS recall_at_k
    FROM cands c LEFT JOIN hits h ON c.np = h.np
    GROUP BY c.np
    ORDER BY c.np
    """


@_q("q_ann_ivf_nprobe_sweep", oracle=_ivf_sweep_oracle())
def q_ann_ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF multi-probe tuning table: recall@{10} and candidate volume
    at nprobe ∈ {1, 2, 4} — THE curve an ANN deployment reads to pick
    its recall/cost point (probe 1 cluster and miss boundary
    neighbors, or probe 4 and scan 4× the candidates). Extends
    q_sim_search_ivf (fixed probe=1, assigned cluster) to probing the
    np NEAREST centroids by query-centroid cosine, and q_ann_recall's
    evaluation discipline to a whole sweep.

    Centroids are the exact per-label means (vec_id-ordered sequential
    folds per (label, dim) cell — bitwise-portable, the
    q_embed_centroid shape); cluster ranking, candidate scoring, and
    the exact baseline all order by (cosine DESC, id) total orders.
    Scale: centroids are a |labels|×dim reduction; the query-centroid
    ranking is |q|×|labels| rows; candidate scoring joins probed
    clusters only (np/|labels| of the corpus, map-side vs the
    broadcast query set) — the brute-force exact pass exists here
    only because the operator's OUTPUT is the quality evaluation."""
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    cells = e.select("label", "vec_id", F.posexplode("v").alias("pos", "val"))
    dim = cells.groupBy("label", "pos").agg(
        (
            F.expr(
                "aggregate(transform(array_sort(collect_list(struct(vec_id, val))),"
                " s -> s.val), cast(0.0 as double), (a, b) -> a + b)"
            )
            / F.count(F.lit(1))
        ).alias("mean_val")
    )
    cent = dim.groupBy("label").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(pos, mean_val))),"
            " s -> s.mean_val)"
        ).alias("c")
    )
    w_cl = W.partitionBy("q_id").orderBy(
        spark_cosine("qv", "c").desc(), F.col("label")
    )
    qcr = (
        q.crossJoin(F.broadcast(cent))
        .select("q_id", "label", F.row_number().over(w_cl).alias("crank"))
    )
    w_ex = W.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    exact = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .withColumn("cosine", spark_cosine("qv", "v"))
        .withColumn("rn", F.row_number().over(w_ex))
        .filter(F.col("rn") <= _TOP_K)
        .select("q_id", "vec_id")
    )
    nps = spark.createDataFrame([(np,) for np in _NPROBES], "np int")
    probes = nps.join(
        F.broadcast(qcr), qcr.crank <= nps.np
    ).select("np", "q_id", "label")
    scored = (
        e.join(F.broadcast(probes), "label")
        .join(F.broadcast(q), "q_id")
        .filter(F.col("vec_id") != F.col("q_id"))
        .withColumn("cosine", spark_cosine("qv", "v"))
        .select("np", "q_id", "vec_id", "cosine")
    )
    cands = scored.groupBy("np", "q_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cand")
    )
    w_ap = W.partitionBy("np", "q_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    approx = (
        scored.withColumn("rn", F.row_number().over(w_ap))
        .filter(F.col("rn") <= _TOP_K)
        .select("np", "q_id", "vec_id")
    )
    hits = approx.join(exact, ["q_id", "vec_id"]).groupBy("np").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hit")
    )
    return (
        cands.groupBy("np")
        .agg(F.sum("n_cand").cast("bigint").alias("total_candidates"))
        .join(hits, "np", "left")
        .select(
            F.col("np").alias("nprobe"),
            "total_candidates",
            F.coalesce("n_hit", F.lit(0)).cast("bigint").alias("n_hits"),
            (
                F.coalesce("n_hit", F.lit(0)).cast("double")
                / F.lit(_N_QUERIES * _TOP_K)
            ).alias("recall_at_k"),
        )
        .orderBy("nprobe")
    )


# The mapInPandas scorers here are closures (already by-value), but the
# module matches the worker-API scan in _shipping.discover_worker_modules
# — register it so the shipping invariant stays uniform: any module
# whose source hands callables to Python workers ships by value.
from keycloak_event_stream_spark._shipping import ship_module_by_value

ship_module_by_value(__name__)
