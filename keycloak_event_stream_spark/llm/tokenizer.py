"""Tokenizer-training statistics: BPE merge discovery in-engine.

Training a byte-pair-encoding tokenizer over a 100 TB corpus is a
counting problem — exactly what the engine is for. The expensive part
of every BPE iteration is "count adjacent symbol pairs over the
corpus"; the merge choice itself is a 1-row argmax. This module runs
the first three merge iterations end-to-end, Spark-first:

- The corpus reduces ONCE to the word vocabulary (distinct word,
  count) — the standard BPE preprocessing (Sennrich et al. 2016,
  public algorithm); every iteration thereafter touches |vocab| rows,
  not the corpus, so iteration cost is independent of corpus size.
- Pair counting is explode + sum keyed by (left, right): one shuffle
  of at most |vocab|·len rows per iteration, partial-aggregated
  map-side.
- Applying a chosen merge is a per-row ``replace`` of the pair's
  concatenation with a private-use sentinel character, making the
  merged symbol atomic for the next iteration's single-character
  pair scan. ``replace`` is left-to-right non-overlapping in both
  engines — the same greedy semantics BPE specifies ("aaa" under
  merge (a,a) yields [aa, a]).
- The winning pair flows to the next iteration as a broadcast 1-row
  scalar (cross join), NOT a driver collect — the whole 3-iteration
  plan is one lazy DAG.

Determinism: counts are exact integers; the argmax tiebreak is
(count DESC, left ASC, right ASC) in both engines.

Reference parity: the reference has no text operators at all
(SURVEY.md §2.2); this is north-star surface for the LLM-pipeline
mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from keycloak_event_stream_spark.catalog import load_table, pin, spread
from keycloak_event_stream_spark.registry import register as _q

# Private-use sentinels standing in for the merged symbol of each
# iteration; surfaced back as the readable pair string on output.
_S1, _S2 = "", ""


def _duck_pairs(words: str) -> str:
    """DuckDB: explode (left, right) adjacent character pairs of the
    word column ``w`` (weighted later by the vocab count)."""
    return f"""
      SELECT n,
             unnest(list_transform(range(1, length(w)),
                                   i -> w[i])) AS l,
             unnest(list_transform(range(1, length(w)),
                                   i -> w[i + 1])) AS r
      FROM {words} WHERE length(w) >= 2
    """


def _duck_top(pairs: str) -> str:
    return f"""
      SELECT l, r, CAST(sum(n) AS BIGINT) AS cnt
      FROM {pairs} GROUP BY l, r
      ORDER BY cnt DESC, l, r LIMIT 1
    """


def _spark_pairs(words: DataFrame) -> DataFrame:
    w = words.filter(F.length("w") >= 2)
    idx = F.explode(F.sequence(F.lit(1), F.length("w") - 1)).alias("i")
    ex = w.select("n", F.col("w"), idx)
    return ex.select(
        "n",
        F.expr("substring(w, i, 1)").alias("l"),
        F.expr("substring(w, i + 1, 1)").alias("r"),
    )


def _spark_top(pairs: DataFrame) -> DataFrame:
    return (
        pairs.groupBy("l", "r")
        .agg(F.sum("n").cast("bigint").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "l", "r")
        .limit(1)
    )


@_q(
    "q_bpe_pair_stats",
    oracle=f"""
    WITH vocab AS (
      SELECT w, CAST(count(*) AS BIGINT) AS n FROM (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
      ) WHERE length(w) >= 1
      GROUP BY w
    ),
    p1 AS ({_duck_pairs('vocab')}),
    t1 AS ({_duck_top('p1')}),
    v2 AS (
      SELECT replace(w, (SELECT l || r FROM t1), '{_S1}') AS w, n
      FROM vocab
    ),
    p2 AS ({_duck_pairs('v2')}),
    t2 AS ({_duck_top('p2')}),
    v3 AS (
      SELECT replace(w, (SELECT l || r FROM t2), '{_S2}') AS w, n
      FROM v2
    ),
    p3 AS ({_duck_pairs('v3')}),
    t3 AS ({_duck_top('p3')}),
    merged AS (
      SELECT 1 AS iter, l, r, cnt FROM t1
      UNION ALL SELECT 2, l, r, cnt FROM t2
      UNION ALL SELECT 3, l, r, cnt FROM t3
    )
    SELECT iter,
           replace(replace(l, '{_S2}',
                   (SELECT l || r FROM t2)), '{_S1}',
                   (SELECT l || r FROM t1)) AS left_sym,
           replace(replace(r, '{_S2}',
                   (SELECT l || r FROM t2)), '{_S1}',
                   (SELECT l || r FROM t1)) AS right_sym,
           cnt
    FROM merged ORDER BY iter
    """,
)
def q_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First three BPE merges over the document corpus: per iteration,
    the most frequent adjacent symbol pair (weighted by word frequency)
    and its count, with earlier merges applied atomically before later
    ones are counted. See the module docstring for the scale argument
    (corpus reduces once to |vocab|; iterations never rescan it).

    Note the t2 sentinel expansion needs only one level: a '\\ue001'
    symbol expands to t2's (l ‖ r), whose halves may themselves contain
    '\\ue000' — handled by the inner replace — but '\\ue002' never
    appears in its own discovery row."""
    d = spread(load_table(spark, sf_dir, "documents"))
    vocab = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") >= 1)
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    vocab = pin(vocab)

    t1 = _spark_top(_spark_pairs(vocab))
    # broadcast the 1-row winner; merge it atomically for iteration 2
    v2 = vocab.crossJoin(
        F.broadcast(t1.select(F.concat("l", "r").alias("m1")))
    ).select(F.replace(F.col("w"), F.col("m1"), F.lit(_S1)).alias("w"), "n")
    t2 = _spark_top(_spark_pairs(v2))
    v3 = v2.crossJoin(
        F.broadcast(t2.select(F.concat("l", "r").alias("m2")))
    ).select(F.replace(F.col("w"), F.col("m2"), F.lit(_S2)).alias("w"), "n")
    t3 = _spark_top(_spark_pairs(v3))

    rows = (
        t1.select(F.lit(1).alias("iter"), "l", "r", "cnt")
        .unionAll(t2.select(F.lit(2).alias("iter"), "l", "r", "cnt"))
        .unionAll(t3.select(F.lit(3).alias("iter"), "l", "r", "cnt"))
    )
    m1 = t1.select(F.concat("l", "r").alias("p1"))
    m2 = t2.select(F.concat("l", "r").alias("p2"))
    expanded = (
        rows.crossJoin(F.broadcast(m1))
        .crossJoin(F.broadcast(m2))
        .select(
            "iter",
            F.replace(
                F.replace(F.col("l"), F.lit(_S2), F.col("p2")),
                F.lit(_S1),
                F.col("p1"),
            ).alias("left_sym"),
            F.replace(
                F.replace(F.col("r"), F.lit(_S2), F.col("p2")),
                F.lit(_S1),
                F.col("p1"),
            ).alias("right_sym"),
            "cnt",
        )
    )
    return expanded.orderBy("iter")


@_q(
    "q_bpe_encode",
    oracle=f"""
    WITH vocab AS (
      SELECT w, CAST(count(*) AS BIGINT) AS n FROM (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
      ) WHERE length(w) >= 1
      GROUP BY w
    ),
    p1 AS ({_duck_pairs('vocab')}),
    t1 AS ({_duck_top('p1')}),
    v2 AS (
      SELECT replace(w, (SELECT l || r FROM t1), '{_S1}') AS w, n
      FROM vocab
    ),
    p2 AS ({_duck_pairs('v2')}),
    t2 AS ({_duck_top('p2')}),
    enc AS (
      SELECT w AS w0,
             replace(replace(w, (SELECT l || r FROM t1), '{_S1}'),
                     (SELECT l || r FROM t2), '{_S2}') AS w2
      FROM (SELECT DISTINCT w FROM vocab)
    ),
    doc_words AS (
      SELECT source, doc_id, w FROM (
        SELECT source, doc_id,
               unnest(string_split(text, ' ')) AS w
        FROM documents
      ) WHERE length(w) >= 1
    )
    SELECT dw.source,
           CAST(count(DISTINCT dw.doc_id) AS BIGINT) AS n_docs,
           CAST(sum(length(e.w0)) AS BIGINT) AS tokens_char,
           CAST(sum(length(e.w2)) AS BIGINT) AS tokens_bpe,
           CAST(sum(length(e.w0)) AS DOUBLE)
             / sum(length(e.w2)) AS compression
    FROM doc_words dw JOIN enc e ON e.w0 = dw.w
    GROUP BY dw.source
    ORDER BY dw.source
    """,
)
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the first two discovered BPE merges corpus-wide and report
    per-source token compression — the fertility audit run after every
    tokenizer-training round (chars-per-token before vs after merges,
    by source, so a mix rebalance can see which sources tokenize
    poorly).

    Scale shape: the encode map is computed ONCE on the |vocab|
    distinct words and broadcast-joined back to the exploded corpus —
    per-document work is a dictionary hit, not a re-encode; the merge
    scalars flow in as 1-row broadcasts exactly as in
    q_bpe_pair_stats. Token counts are exact integers; the compression
    ratio is one final double division."""
    d = spread(load_table(spark, sf_dir, "documents"))
    doc_words = d.select(
        "source", "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.length("w") >= 1)
    vocab = doc_words.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    vocab = pin(vocab)
    t1 = _spark_top(_spark_pairs(vocab))
    v2 = vocab.crossJoin(
        F.broadcast(t1.select(F.concat("l", "r").alias("m1")))
    ).select(F.replace(F.col("w"), F.col("m1"), F.lit(_S1)).alias("w"), "n")
    t2 = _spark_top(_spark_pairs(v2))
    enc = (
        vocab.select("w")
        .crossJoin(F.broadcast(t1.select(F.concat("l", "r").alias("m1"))))
        .crossJoin(F.broadcast(t2.select(F.concat("l", "r").alias("m2"))))
        .select(
            F.col("w").alias("w0"),
            F.replace(
                F.replace(F.col("w"), F.col("m1"), F.lit(_S1)),
                F.col("m2"),
                F.lit(_S2),
            ).alias("w2"),
        )
    )
    joined = doc_words.join(enc, doc_words.w == enc.w0)
    return (
        joined.groupBy("source")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.sum(F.length("w0")).cast("bigint").alias("tokens_char"),
            F.sum(F.length("w2")).cast("bigint").alias("tokens_bpe"),
            (
                F.sum(F.length("w0")).cast("double")
                / F.sum(F.length("w2"))
            ).alias("compression"),
        )
        .orderBy("source")
    )
