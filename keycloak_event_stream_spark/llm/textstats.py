"""Text analysis for LLM data pipelines (north-star mandate).

Language-ID, quality scoring, token counting, TF-IDF, and document
fingerprinting over the ``documents`` table — all JVM-side built-ins
(split / regexp / md5 / window aggregates); no Python in the hot path.
At 100 TB these are embarrassingly parallel scans with at most one
shuffle (the TF-IDF document-frequency aggregation), which is why each
stays a single narrow pipeline over the scan.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from keycloak_event_stream_spark.catalog import (
    bounded_eval_scope,
    footer_rows,
    load_table,
    pin,
    pin_scope,
    spread,
)
from keycloak_event_stream_spark.operators._exact import davg, sql_davg
from keycloak_event_stream_spark.operators._scale import two_phase_window
from keycloak_event_stream_spark.registry import register as _q


@_q(
    "q_text_stats",
    oracle=f"""
    SELECT lang,
           count(*) AS n_docs,
           {sql_davg("n_chars", "avg_chars")},
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM documents GROUP BY lang
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus statistics per language: doc counts, char/token totals."""
    d = spread(load_table(spark, sf_dir, "documents"))
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        davg("n_chars", "avg_chars"),
        F.sum(F.size(F.split("text", " "))).alias("total_tokens"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@_q(
    "q_token_count",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INTEGER)              AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z0-9]+'))
                AS INTEGER)                                           AS n_re_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]{1,4}'))
                AS INTEGER)                                           AS n_bpeish_tokens
    FROM documents
    """,
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace split, word-regex, and a
    BPE-ish greedy chunker (max-4-char pieces — the standard cheap proxy
    for subword token counts when no tokenizer model ships with the
    cluster)."""
    d = spread(load_table(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[a-z0-9]+"), 0)).alias(
            "n_re_tokens"
        ),
        F.size(F.regexp_extract_all("text", F.lit("[a-z]{1,4}"), 0)).alias(
            "n_bpeish_tokens"
        ),
    )


# Stopword list used by the quality heuristic (shared Spark/oracle).
_STOPWORDS = ["the", "a", "of", "and", "to", "in"]

# Words-per-document assumption for the bounded-eval width drivers
# whose shuffled volume is token/shingle rows, not document rows (r8
# ADVICE: the factor was an unnamed literal). 64 matches the driver
# fixture's synthetic documents and is deliberately a WIDTH heuristic,
# not a correctness input: bounded_eval_scope caps the derived width
# at the session width, so a corpus of much longer documents merely
# runs the eval at the (correct-anyway) session width instead of the
# tighter derived one. Callers multiply footer_rows(documents) by this
# and any per-word expansion factor (e.g. x3 for the 3 shingle sizes).
_EST_WORDS_PER_DOC = 64


@_q(
    "q_quality_score",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang, n_chars,
             CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words,
             CAST(len(list_filter(string_split(text, ' '),
                 w -> list_contains({_STOPWORDS}, w))) AS INTEGER) AS n_stop
      FROM documents
    )
    SELECT doc_id, lang, n_words, n_stop AS n_stopwords,
           CAST(n_stop AS DOUBLE) / n_words AS stop_ratio,
           (CAST(n_chars AS DOUBLE) - (n_words - 1)) / n_words AS mean_word_len,
           0.5 * least(CAST(n_words AS DOUBLE) / 100.0, 1.0)
         + 0.3 * (1.0 - CAST(n_stop AS DOUBLE) / n_words)
         + 0.2 * least(((CAST(n_chars AS DOUBLE) - (n_words - 1)) / n_words)
                       / 8.0, 1.0) AS quality
    FROM tok
    """,
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality heuristics: length, mean word length, stopword
    ratio, combined into a [0,1] score. Pure double arithmetic on
    integer counts — IEEE-identical across engines."""
    d = spread(load_table(spark, sf_dir, "documents"))
    words = F.split("text", " ")
    n_words = F.size(words)
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(stop_arr, w)))
    mean_word_len = (
        F.col("n_chars").cast("double") - (n_words - F.lit(1))
    ) / n_words
    stop_ratio = n_stop.cast("double") / n_words
    len_score = F.least(n_words.cast("double") / F.lit(100.0), F.lit(1.0))
    quality = (
        F.lit(0.5) * len_score
        + F.lit(0.3) * (F.lit(1.0) - stop_ratio)
        + F.lit(0.2) * F.least(mean_word_len / F.lit(8.0), F.lit(1.0))
    )
    return d.select(
        "doc_id",
        "lang",
        n_words.alias("n_words"),
        n_stop.alias("n_stopwords"),
        stop_ratio.alias("stop_ratio"),
        mean_word_len.alias("mean_word_len"),
        quality.alias("quality"),
    )


@_q(
    "q_lang_id",
    oracle="""
    WITH feat AS (
      SELECT doc_id, lang,
             (CAST(length(text) AS DOUBLE)
              - length(replace(text, 'e', ''))) / CAST(length(text) AS DOUBLE)
               AS e_ratio,
             (CAST(length(text) AS DOUBLE)
              - length(replace(text, 'a', ''))) / CAST(length(text) AS DOUBLE)
               AS a_ratio
      FROM documents
    )
    SELECT doc_id, lang, e_ratio, a_ratio,
           CASE WHEN e_ratio >= 0.10 THEN 'en'
                WHEN e_ratio >= 0.08 THEN 'fr'
                WHEN a_ratio >= 0.10 THEN 'es'
                WHEN a_ratio >= 0.08 THEN 'de'
                ELSE 'zh' END AS predicted_lang,
           (CASE WHEN e_ratio >= 0.10 THEN 'en'
                 WHEN e_ratio >= 0.08 THEN 'fr'
                 WHEN a_ratio >= 0.10 THEN 'es'
                 WHEN a_ratio >= 0.08 THEN 'de'
                 ELSE 'zh' END) = lang AS hit
    FROM feat
    """,
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-n-gram-frequency language-ID heuristic. On this
    synthetic corpus (shared vocabulary across langs) the rule is a
    deterministic placeholder — the value is the *shape*: cheap per-row
    featurization + threshold classifier, zero shuffles, runs at scan
    speed on 100 TB."""
    d = spread(load_table(spark, sf_dir, "documents"))
    ln = F.length("text").cast("double")
    e_ratio = (ln - F.length(F.replace(F.col("text"), F.lit("e"), F.lit("")))) / ln
    a_ratio = (ln - F.length(F.replace(F.col("text"), F.lit("a"), F.lit("")))) / ln
    predicted = (
        F.when(e_ratio >= 0.10, F.lit("en"))
        .when(e_ratio >= 0.08, F.lit("fr"))
        .when(a_ratio >= 0.10, F.lit("es"))
        .when(a_ratio >= 0.08, F.lit("de"))
        .otherwise(F.lit("zh"))
    )
    return d.select(
        "doc_id",
        "lang",
        e_ratio.alias("e_ratio"),
        a_ratio.alias("a_ratio"),
        predicted.alias("predicted_lang"),
        (predicted == F.col("lang")).alias("hit"),
    )


@_q(
    "q_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(lower(trim(regexp_replace(text, ' +', ' ', 'g')))) AS fingerprint,
           substr(md5(lower(trim(regexp_replace(text, ' +', ' ', 'g')))), 1, 8)
             AS fp_short
    FROM documents
    """,
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical document fingerprint: md5 over whitespace-normalized,
    lowercased text. The grouping key for exact dedup at scale — 16
    bytes shuffled instead of whole documents."""
    d = spread(load_table(spark, sf_dir, "documents"))
    norm = F.lower(F.trim(F.regexp_replace("text", " +", " ")))
    fp = F.md5(norm)
    return d.select(
        "doc_id", fp.alias("fingerprint"), F.substring(fp, 1, 8).alias("fp_short")
    )


@_q(
    "q_tfidf",
    oracle="""
    WITH tokens AS (
      SELECT source, unnest(string_split(text, ' ')) AS term
      FROM documents
    ),
    tf AS (
      SELECT source, term, count(*) AS tf
      FROM tokens GROUP BY source, term
    ),
    df AS (
      SELECT term, count(DISTINCT source) AS df
      FROM tokens GROUP BY term
    ),
    n AS (SELECT count(DISTINCT source) AS n_sources FROM documents),
    scored AS (
      SELECT tf.source, tf.term, tf.tf, df.df,
             round(tf.tf * ln(CAST(n.n_sources AS DOUBLE) / df.df), 6)
               AS tfidf
      FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
    )
    SELECT source, term, tf, df, tfidf
    FROM (
      SELECT *, row_number() OVER (PARTITION BY source
                                   ORDER BY tfidf DESC, term) AS rn
      FROM scored
    ) WHERE rn <= 5
    """,
)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 characteristic terms per source by TF-IDF, pure SQL ops:
    explode -> two aggregations (tf by (source,term), df by term) -> join
    -> windowed top-k. The df side is tiny (vocabulary-sized) and
    broadcast; ln is rounded to 6 decimals at the boundary since libm
    last-ulp behavior is engine-specific."""
    d = spread(load_table(spark, sf_dir, "documents"))
    tokens = d.select("source", F.explode(F.split("text", " ")).alias("term"))
    tf = tokens.groupBy("source", "term").agg(F.count(F.lit(1)).alias("tf"))
    # df derives from tf (distinct (source, term) pairs already) — one
    # explode+agg over the corpus instead of two; the df agg input is
    # vocabulary-sized
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_sources = d.select(F.countDistinct("source").alias("n_sources"))
    scored = (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(n_sources))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * F.log(F.col("n_sources").cast("double") / F.col("df")),
                6,
            ),
        )
    )
    w = W.partitionBy("source").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("source", "term", "tf", "df", "tfidf")
    )


@_q(
    "q_fingerprint_rolling",
    oracle="""
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(text, ' '),
                 w -> CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT))),
             (acc, h) -> (acc * 31 + h) % 1000000007) AS rolling_fp,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words
    FROM documents
    """,
)
def q_fingerprint_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling-hash fingerprint (Rabin-Karp style) over the
    token stream: fp = fold(acc*31 + h(w) mod p). Order-sensitive —
    unlike the md5-of-normalized-text fingerprint, permuted documents
    get different fingerprints; the primitive behind content-defined
    chunking and shift-resistant dedup. Per-row fold, scan speed."""
    d = spread(load_table(spark, sf_dir, "documents"))
    expr = (
        "aggregate(transform(split(text, ' '), "
        "w -> CAST(conv(substring(md5(w), 1, 8), 16, 10) AS BIGINT)), "
        "CAST(0 AS BIGINT), (acc, h) -> (acc * 31 + h) % 1000000007)"
    )
    return d.select(
        "doc_id",
        F.expr(expr).alias("rolling_fp"),
        F.size(F.split("text", " ")).alias("n_words"),
    )


@_q(
    "q_heavy_hitters",
    oracle="""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS term FROM documents
    ),
    cnt AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term),
    tot AS (SELECT sum(cnt) AS total FROM cnt)
    SELECT term, cnt, CAST(cnt AS DOUBLE) / total AS share
    FROM cnt CROSS JOIN tot
    WHERE cnt * 200 > total
    """,
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters: terms holding > 0.5% of all token
    occurrences — the vocabulary-pruning / stopword-discovery primitive
    (the exact ground truth a Count-Min or SpaceSaving sketch
    approximates; see operators/sketches.py for the sketched tier).

    Shape: explode -> count by term (partial agg absorbs the fan-out
    map-side) -> broadcast the single total -> integer-arithmetic
    filter (cnt * 200 > total avoids float thresholds). The term-count
    table is vocabulary-sized, orders smaller than the corpus."""
    d = spread(load_table(spark, sf_dir, "documents"))
    cnt = (
        d.select(F.explode(F.split("text", " ")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tot = cnt.agg(F.sum("cnt").alias("total"))
    return (
        cnt.crossJoin(F.broadcast(tot))
        .filter(F.col("cnt") * 200 > F.col("total"))
        .select(
            "term",
            "cnt",
            (F.col("cnt").cast("double") / F.col("total")).alias("share"),
        )
    )


@_q(
    "q_char_ngram_profile",
    oracle="""
    WITH grams AS (
      SELECT lang,
             unnest(list_transform(
               generate_series(1, CAST(length(text) AS INTEGER) - 2),
               i -> substr(text, i, 3))) AS gram
      FROM documents
    ),
    cnt AS (SELECT lang, gram, count(*) AS cnt FROM grams GROUP BY lang, gram)
    SELECT lang, gram, cnt, rk FROM (
      SELECT lang, gram, cnt,
             CAST(row_number() OVER (PARTITION BY lang
                                     ORDER BY cnt DESC, gram) AS INTEGER) AS rk
      FROM cnt
    ) WHERE rk <= 10
    """,
)
def q_char_ngram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 character trigrams per language — the feature table real
    language-ID models (textcat, CLD) are built from; q_lang_id's
    thresholds are the degenerate 1-gram case of this profile.

    Trigram fan-out is per-row (sequence -> transform -> explode, no
    shuffle); the count shuffle is keyed (lang, gram) and the windowed
    top-k runs on the already-aggregated (small) profile table."""
    d = spread(load_table(spark, sf_dir, "documents"))
    grams = d.select(
        "lang",
        F.explode(
            # short-text guard: length < 3 would make sequence run
            # DESCENDING through 0/negative indices and emit junk grams
            F.expr(
                "CASE WHEN length(text) >= 3 THEN"
                " transform(sequence(1, length(text) - 2),"
                " i -> substring(text, i, 3))"
                " ELSE array() END"
            )
        ).alias("gram"),
    )
    cnt = grams.groupBy("lang", "gram").agg(F.count(F.lit(1)).alias("cnt"))
    w = W.partitionBy("lang").orderBy(F.col("cnt").desc(), F.col("gram"))
    return (
        cnt.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select("lang", "gram", "cnt", "rk")
    )


@_q(
    "q_vocab_coverage",
    oracle="""
    WITH cnt AS (
      SELECT unnest(string_split(text, ' ')) AS term FROM documents
    ),
    vocab AS (SELECT term, count(*) AS cnt FROM cnt GROUP BY term),
    tot AS (SELECT sum(cnt) AS total FROM vocab),
    ranked AS (
      SELECT term, cnt,
             CAST(row_number() OVER (ORDER BY cnt DESC, term) AS INTEGER)
               AS rk,
             sum(cnt) OVER (ORDER BY cnt DESC, term
                            ROWS UNBOUNDED PRECEDING) AS cum_cnt
      FROM vocab
    )
    SELECT rk, term, cnt,
           CAST(cum_cnt AS DOUBLE) / total AS cum_share
    FROM ranked CROSS JOIN tot
    WHERE cum_cnt * 10 <= total * 9 OR (cum_cnt - cnt) * 10 < total * 9
    """,
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: terms by descending frequency with the
    running share of corpus tokens covered, truncated to the smallest
    prefix reaching 90% coverage — the sizing tool for tokenizer
    vocabularies and stopword cutoffs. The threshold test is integer
    cross-multiplication (cum*10 vs total*9), not a float compare, so
    the emitted prefix is engine-exact.

    The ORDER BY runs over the aggregated vocabulary (orders smaller
    than the corpus) but a web-scale vocabulary is still billions of
    distinct terms, so the rank + running sum use the two-phase
    range-partitioned form (``_scale.two_phase_window``) — no
    single-task sort at any vocabulary size."""
    d = spread(load_table(spark, sf_dir, "documents"))
    vocab = (
        d.select(F.explode(F.split("text", " ")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tot = vocab.agg(F.sum("cnt").alias("total"))
    ranked = two_phase_window(
        vocab,
        [F.desc("cnt"), F.col("term")],
        row_number="_rk",
        cumsum={"cum_cnt": "cnt"},
    ).select(
        "term", "cnt", F.col("_rk").cast("int").alias("rk"), "cum_cnt"
    )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .filter(
            (F.col("cum_cnt") * 10 <= F.col("total") * 9)
            | ((F.col("cum_cnt") - F.col("cnt")) * 10 < F.col("total") * 9)
        )
        .select(
            "rk",
            "term",
            "cnt",
            (F.col("cum_cnt").cast("double") / F.col("total")).alias(
                "cum_share"
            ),
        )
    )


_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_QUERY = ["vector", "hash", "stream"]


@_q(
    "q_bm25",
    oracle=f"""
    WITH tokens AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents
    ),
    dl AS (
      SELECT doc_id, count(*) AS dl FROM tokens GROUP BY doc_id
    ),
    stats AS (
      SELECT CAST((SELECT count(*) FROM documents) AS DOUBLE) AS n_docs,
             CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
      FROM dl
    ),
    tf AS (
      SELECT doc_id, term, count(*) AS tf
      FROM tokens
      WHERE term IN ('vector', 'hash', 'stream')
      GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, count(*) AS df FROM tf GROUP BY term
    ),
    contrib AS (
      SELECT tf.doc_id,
             round(
               ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
               * (tf.tf * ({_BM25_K1} + 1.0))
               / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                  + {_BM25_B} * dl.dl / stats.avgdl)),
               6) AS c
      FROM tf
      JOIN df ON tf.term = df.term
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats
    )
    SELECT doc_id,
           CAST(sum(CAST(c AS DECIMAL(27,6))) AS DOUBLE) AS bm25
    FROM contrib
    GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id
    LIMIT 20
    """,
)
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 retrieval scoring (k1=1.2, b=0.75) for a fixed
    three-term query, top-20 documents. The full-text-search ranking
    function as pure DataFrame ops: token explode -> per-doc length ->
    per-(doc, term) tf restricted to the query terms (the explode is
    filtered BEFORE the aggregation, so the shuffle carries only
    query-term hits) -> df and corpus stats as one-row broadcasts ->
    per-term contribution -> exact decimal sum per doc.

    Float discipline (same as q_tfidf): every per-term contribution is
    rounded to 6 decimals — libm ``ln`` differs from the JVM's in the
    last ulp — and the cross-term SUM runs in decimal, so accumulation
    order cannot move the result; top-20 tiebreaks on doc_id."""
    d = spread(load_table(spark, sf_dir, "documents"))
    # Round-11 (guide §2.4/§7.2, duplicated subtrees): dl feeds stats
    # and the contrib join, tf feeds df_ and contrib — and the joins
    # push isnotnull(doc_id)/isnotnull(term) into only SOME instances,
    # so the canonicalized subtrees differed and the corpus was
    # tokenized four times per run (four twin 32-task stages carrying
    # ~52 of the query's 56 run-seconds). doc_id is a key (never null)
    # and split() never yields null tokens, so filtering explicitly up
    # front is a data no-op that makes every instance identical: dl and
    # tf each build once and their exchanges are reused. Interleaved
    # A/B at sf0.1: faster in 5/5 pairs (best 2.27 -> 1.98 s), rows
    # identical.
    d = d.filter(F.col("doc_id").isNotNull())
    tokens = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tokens = tokens.filter(F.col("term").isNotNull())
    # Round-12 (guide §2.3/§2.4): the document length never needs the
    # explode at all — dl == size(split(text)) computed per row at the
    # scan (split of a non-null string never returns null elements, and
    # explode of the non-empty array yields exactly size() rows; the
    # text-IS-NOT-NULL filter reproduces explode's drop of null arrays).
    # This deletes both remaining full-corpus tokenize+groupBy(doc_id)
    # stages (one per dl consumer) from the plan: no Generate, no
    # hash-aggregate over the token stream, no exchange — dl is a
    # narrow map over the one shared scan.
    dl = (
        d.filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.size(F.split("text", " ")).cast("bigint").alias("dl"),
        )
    )
    stats = dl.crossJoin(
        F.broadcast(d.select(F.count(F.lit(1)).cast("double").alias("n_docs")))
    ).agg(
        F.first("n_docs").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = (
        tokens.filter(F.col("term").isin(*_BM25_QUERY))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # Round-12 (guide §2.4, the residual twin from the r11 verdict):
    # df == count of tf rows per term, but spelling it count(*) lets
    # the optimizer prune tf's count function out of this branch's
    # aggregate — the two subtrees then canonicalize differently
    # (partial_count vs distinct) and the corpus is tokenized twice.
    # count("tf") is the same number (tf is a count, never null) and
    # forces the tf column through, so both consumers share ONE
    # exchange (AQE ReusedExchange) and the corpus tokenizes once.
    df_ = tf.groupBy("term").agg(F.count("tf").alias("df"))
    contrib = (
        tf.join(F.broadcast(df_), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "c",
            F.round(
                F.log(
                    1.0
                    + (F.col("n_docs") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                )
                * (F.col("tf") * (_BM25_K1 + 1.0))
                / (
                    F.col("tf")
                    + _BM25_K1
                    * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
                ),
                6,
            ),
        )
    )
    return (
        contrib.groupBy("doc_id")
        .agg(F.sum(F.col("c").cast("decimal(27,6)")).cast("double").alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(20)
    )


@_q(
    "q_perplexity_unigram",
    oracle="""
    WITH tokens AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, count(*) AS tf FROM tokens GROUP BY doc_id, term
    ),
    corpus AS (
      SELECT term, count(*) AS ctf FROM tokens GROUP BY term
    ),
    total AS (SELECT CAST(count(*) AS DOUBLE) AS n_tokens FROM tokens),
    contrib AS (
      SELECT tf.doc_id, tf.tf,
             round(tf.tf * ln(corpus.ctf / total.n_tokens), 6) AS c
      FROM tf JOIN corpus ON tf.term = corpus.term CROSS JOIN total
    )
    SELECT doc_id,
           CAST(sum(tf) AS BIGINT) AS dl,
           CAST(sum(CAST(c AS DECIMAL(27,6))) AS DOUBLE)
             / CAST(sum(tf) AS DOUBLE) AS avg_logprob
    FROM contrib
    GROUP BY doc_id
    ORDER BY avg_logprob, doc_id
    LIMIT 100
    """,
)
def q_perplexity_unigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model scoring: per-document mean log-probability
    under the corpus unigram distribution (the monotone core of
    perplexity — exp is omitted so the value stays oracle-exact). The
    100 lowest-scoring documents are the classic "surprising/junk" tail
    a curation pipeline inspects or drops. Plan: one token explode
    feeds both the per-doc tf and the corpus term frequencies; the
    vocabulary side broadcasts back onto the doc-term table. Per-term
    ``tf * ln(p)`` is rounded at 6 decimals (libm ulp differences),
    summed in decimal, and normalized by document length in one exact
    double division."""
    d = spread(load_table(spark, sf_dir, "documents"))
    tokens = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = tokens.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # Round-12 (guide §2.3/§2.4): ctf and n_tokens are exact integer
    # rollups OF tf (sum of per-doc term counts == corpus term count;
    # their grand total == token count), so both derive from the one
    # (doc_id, term) aggregate instead of re-exploding the corpus — the
    # before-plan tokenized the full corpus three times (tf, corpus,
    # total subtrees), the after-plan once, with the tf exchange shared
    # by every consumer.
    corpus = tf.groupBy("term").agg(F.sum("tf").alias("ctf"))
    total = corpus.agg(F.sum("ctf").cast("double").alias("n_tokens"))
    contrib = (
        tf.join(F.broadcast(corpus), "term")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "c",
            F.round(
                F.col("tf") * F.log(F.col("ctf") / F.col("n_tokens")), 6
            ),
        )
    )
    return (
        contrib.groupBy("doc_id")
        .agg(
            F.sum("tf").alias("dl"),
            (
                F.sum(F.col("c").cast("decimal(27,6)")).cast("double")
                / F.sum("tf").cast("double")
            ).alias("avg_logprob"),
        )
        .orderBy("avg_logprob", "doc_id")
        .limit(100)
    )


@_q(
    "q_dataset_card",
    oracle="""
    WITH lang_counts AS (
      SELECT lang, count(*) AS c FROM documents GROUP BY lang
    ), top_lang AS (
      SELECT lang FROM lang_counts ORDER BY c DESC, lang LIMIT 1
    )
    SELECT (SELECT count(*) FROM documents) AS n_docs,
           (SELECT count(DISTINCT text) FROM documents) AS n_unique_texts,
           (SELECT count(*) FROM lang_counts) AS n_langs,
           (SELECT count(DISTINCT source) FROM documents) AS n_sources,
           (SELECT CAST(sum(n_chars) AS BIGINT) FROM documents)
             AS total_chars,
           (SELECT lang FROM top_lang) AS top_lang
    """,
)
def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row dataset card: the header block of a corpus datasheet
    (sizes, language/source breadth, exact-duplicate rate inputs,
    dominant language with a deterministic tie-break).

    All facts come from two scans' worth of aggregates (Spark fuses
    the count-distinct pair into one pass per grouping); at 100 TB
    this is the cheap always-on summary every ingest publishes next
    to the data — the datasheet practice the reference has no
    equivalent for. Counts are integers; ``top_lang`` ties break
    (count DESC, lang ASC) so the card is reproducible.
    """
    d = load_table(spark, sf_dir, "documents")
    lang_counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("c"))
    top_lang = (
        lang_counts.orderBy(F.desc("c"), "lang").limit(1).select("lang")
    )
    card = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("text").alias("n_unique_texts"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )
    return card.crossJoin(F.broadcast(top_lang)).select(
        "n_docs",
        "n_unique_texts",
        "n_langs",
        "n_sources",
        "total_chars",
        F.col("lang").alias("top_lang"),
    )


@_q(
    "q_doc_repetition",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source, string_split(text, ' ') AS l
      FROM documents
    ), base AS (
      SELECT doc_id, source,
             CAST(len(l) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(l)) AS BIGINT) AS n_distinct,
             list_transform(generate_series(1, len(l) - 1),
                            i -> l[i] || ' ' || l[i + 1]) AS bigrams
      FROM toks
    ), bg AS (
      SELECT doc_id, unnest(bigrams) AS bigram FROM base
    ), bgtop AS (
      SELECT doc_id, CAST(max(cnt) AS BIGINT) AS top_bigram_cnt
      FROM (SELECT doc_id, bigram, count(*) AS cnt
            FROM bg GROUP BY doc_id, bigram)
      GROUP BY doc_id
    )
    SELECT b.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(b.n_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(b.n_distinct) AS BIGINT) AS total_distinct,
           1.0 - CAST(sum(b.n_distinct) AS DOUBLE) / sum(b.n_tokens)
             AS dup_token_frac,
           CAST(sum(CASE WHEN t.top_bigram_cnt * 5 > b.n_tokens - 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive
    FROM base b JOIN bgtop t ON b.doc_id = t.doc_id
    GROUP BY b.source
    ORDER BY b.source
    """,
)
def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per source: duplicate-token
    fraction and the count of docs whose single most frequent bigram
    covers >20% of the doc (``top_cnt * 5 > n_bigrams`` — integer
    cross-multiplication, never a float threshold).

    This is the repetition-removal gate of an LLM data pipeline
    (Gopher/MassiveText rules 4-8): excessive n-gram repetition is the
    strongest single predictor of low-quality machine-generated text.
    Shape: the bigram fan-out (per-doc explode -> count -> max) keys
    every shuffle by doc_id, so partial aggregation absorbs it
    map-side; the final rollup is |sources| rows. The duplicate-token
    fraction aggregates exact integer token counts — the one division
    happens per source row.
    """
    d = spread(load_table(spark, sf_dir, "documents"))
    base = d.select(
        "doc_id",
        "source",
        F.split("text", " ").alias("l"),
    ).select(
        "doc_id",
        "source",
        F.size("l").cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct("l")).cast("bigint").alias("n_distinct"),
        F.expr(
            "transform(slice(l, 1, size(l) - 1),"
            " (x, i) -> concat(x, ' ', l[i + 1]))"
        ).alias("bigrams"),
    )
    bg = base.select("doc_id", F.explode("bigrams").alias("bigram"))
    bgtop = (
        bg.groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(F.max("cnt").cast("bigint").alias("top_bigram_cnt"))
    )
    joined = base.join(bgtop, "doc_id")
    return (
        joined.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.sum("n_distinct").cast("bigint").alias("total_distinct"),
            (
                F.lit(1.0)
                - F.sum("n_distinct").cast("double") / F.sum("n_tokens")
            ).alias("dup_token_frac"),
            F.sum(
                F.when(
                    F.col("top_bigram_cnt") * 5 > F.col("n_tokens") - 1, 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_repetitive"),
        )
        .orderBy("source")
    )


@_q(
    "q_zipf_fit",
    oracle="""
    WITH cnt AS (
      SELECT term, CAST(count(*) AS BIGINT) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS term
            FROM documents)
      GROUP BY term
    ), top AS (
      SELECT cnt,
             CAST(row_number() OVER (ORDER BY cnt DESC, term) AS BIGINT)
               AS rank
      FROM cnt ORDER BY cnt DESC, term LIMIT 100
    ), pts AS (
      SELECT round(ln(CAST(rank AS DOUBLE)), 6) AS x,
             round(ln(CAST(cnt AS DOUBLE)), 6) AS y
      FROM top
    ), m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(x AS DECIMAL(27,6))) AS DOUBLE) AS sx,
             CAST(sum(CAST(y AS DECIMAL(27,6))) AS DOUBLE) AS sy,
             CAST(sum(CAST(round(x * x, 6) AS DECIMAL(27,6))) AS DOUBLE)
               AS sxx,
             CAST(sum(CAST(round(x * y, 6) AS DECIMAL(27,6))) AS DOUBLE)
               AS sxy
      FROM pts
    )
    SELECT n AS n_terms,
           (n * sxy - sx * sy) / (n * sxx - sx * sx) AS zipf_slope,
           (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
             AS zipf_intercept
    FROM m
    """,
)
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the top-100 vocabulary: OLS slope of
    ln(freq) ~ ln(rank). A natural corpus has slope near -1; synthetic
    or templated text drifts far from it — a one-number corpus-health
    gauge.

    Portability discipline: each ln (and each product of lns) is
    rounded to 6 decimals before the DECIMAL sum — libm vs JVM ``ln``
    differ in the last ulp, and engine-managed double sums are
    order-dependent (the q_tfidf/q_bm25 rule). The vocabulary rollup is
    the only data-sized shuffle; the regression runs on 100 rows with a
    (cnt DESC, term) total order for a deterministic top-k.
    """
    d = spread(load_table(spark, sf_dir, "documents"))
    cnt = (
        d.select(F.explode(F.split("text", " ")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    top = (
        cnt.orderBy(F.desc("cnt"), "term")
        .limit(100)
        .select(
            "cnt",
            F.row_number()
            .over(W.orderBy(F.desc("cnt"), "term"))
            .cast("bigint")
            .alias("rank"),
        )
    )
    pts = top.select(
        F.round(F.log(F.col("rank").cast("double")), 6).alias("x"),
        F.round(F.log(F.col("cnt").cast("double")), 6).alias("y"),
    )
    x, y = F.col("x"), F.col("y")
    m = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(x.cast("decimal(27,6)")).cast("double").alias("sx"),
        F.sum(y.cast("decimal(27,6)")).cast("double").alias("sy"),
        F.sum(F.round(x * x, 6).cast("decimal(27,6)"))
        .cast("double")
        .alias("sxx"),
        F.sum(F.round(x * y, 6).cast("decimal(27,6)"))
        .cast("double")
        .alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, sxy = F.col("sxx"), F.col("sxy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return m.select(
        n.alias("n_terms"),
        slope.alias("zipf_slope"),
        ((sy - slope * sx) / n).alias("zipf_intercept"),
    )


@_q(
    "q_bigram_lm",
    oracle="""
    WITH tok AS (
      SELECT doc_id, s.i, s.t
      FROM documents, LATERAL (
        SELECT unnest(string_split(text, ' ')) AS t,
               generate_subscripts(string_split(text, ' '), 1) AS i) s
    ), big AS (
      SELECT doc_id, t AS w1,
             lead(t) OVER (PARTITION BY doc_id ORDER BY i) AS w2
      FROM tok
    ), bg AS (
      SELECT doc_id, w1, w2, count(*) AS tf
      FROM big WHERE w2 IS NOT NULL GROUP BY 1, 2, 3
    ), cbig AS (
      SELECT w1, w2, CAST(sum(tf) AS BIGINT) AS cb
      FROM bg GROUP BY 1, 2
    ), cuni AS (
      SELECT w1, CAST(sum(tf) AS BIGINT) AS cu
      FROM bg GROUP BY 1
    ), vocab AS (
      SELECT CAST(count(DISTINCT t) AS BIGINT) AS v FROM tok
    ), contrib AS (
      SELECT bg.doc_id, bg.tf,
             round(bg.tf * ln((cb + 1.0) / (cu + v)), 6) AS c
      FROM bg JOIN cbig ON bg.w1 = cbig.w1 AND bg.w2 = cbig.w2
              JOIN cuni ON bg.w1 = cuni.w1
              CROSS JOIN vocab
    )
    SELECT doc_id,
           CAST(sum(tf) AS BIGINT) AS n_bigrams,
           CAST(sum(CAST(c AS DECIMAL(27,6))) AS DOUBLE)
             / CAST(sum(tf) AS DOUBLE) AS avg_logprob
    FROM contrib
    GROUP BY doc_id
    ORDER BY avg_logprob, doc_id
    LIMIT 100
    """,
)
def q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language model with add-one smoothing, scoring each
    document's mean bigram log-probability against the corpus model —
    the step up from q_perplexity_unigram that actually sees word
    *order* (catches shuffled/templated spam that unigram stats pass).

    Bigrams are built in-row from the split array (no window over the
    exploded token table on the Spark side — the pair never leaves its
    document), then one explode feeds per-doc tf, corpus bigram counts
    and left-context counts; the two count tables join back by bigram /
    context key. p(w2|w1) = (C(w1,w2)+1)/(C(w1)+V). Per-occurrence
    ``tf·ln p`` rounds at 6 decimals and sums in decimal (libm-ulp
    discipline); the 100 most surprising docs come out with full
    (score, doc_id) tiebreak.
    """
    d = spread(load_table(spark, sf_dir, "documents"))
    toks = d.select("doc_id", F.split("text", " ").alias("w"))
    bigrams = toks.select(
        "doc_id",
        F.explode(
            # short-doc guard: a 1-token doc would make sequence(1, 0)
            # run DESCENDING and element_at(w, 0) throw
            F.expr(
                "CASE WHEN size(w) >= 2 THEN"
                " transform(sequence(1, size(w) - 1),"
                " i -> struct(element_at(w, i) AS w1,"
                "             element_at(w, i + 1) AS w2))"
                " ELSE array() END"
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    # Round-11 (guide §2.4/§7.2, duplicated subtrees): bg feeds three
    # consumers (cbig, cuni, contrib's left side); the joins push
    # different isnotnull() sets into each instance — cbig/contrib get
    # isnotnull(w1) AND isnotnull(w2), cuni only isnotnull(w1) — so the
    # canonicalized subtrees differ and the expensive bigram-explode
    # exchange was BUILT TWICE (twin 32-task stages, ~26 of the query's
    # 37 run-seconds). w1/w2 are non-null by construction (split tokens
    # via element_at within bounds), so filtering explicitly before the
    # aggregate is a no-op on the data but makes every consumer's
    # subtree identical -> one exchange build, reused. Interleaved A/B
    # at sf0.1: 1.52 -> 1.11 s best-of-5, rows identical.
    bigrams = bigrams.filter(
        F.col("w1").isNotNull() & F.col("w2").isNotNull()
    )
    bg = bigrams.groupBy("doc_id", "w1", "w2").agg(
        F.count(F.lit(1)).alias("tf")
    )
    cbig = bg.groupBy("w1", "w2").agg(F.sum("tf").cast("bigint").alias("cb"))
    cuni = bg.groupBy("w1").agg(F.sum("tf").cast("bigint").alias("cu"))
    vocab = (
        d.select(F.explode(F.split("text", " ")).alias("t"))
        .agg(F.countDistinct("t").cast("bigint").alias("v"))
    )
    contrib = (
        bg.join(cbig, ["w1", "w2"])
        .join(F.broadcast(cuni), "w1")
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "c",
            F.round(
                F.col("tf")
                * F.log((F.col("cb") + 1.0) / (F.col("cu") + F.col("v"))),
                6,
            ),
        )
    )
    return (
        contrib.groupBy("doc_id")
        .agg(
            F.sum("tf").cast("bigint").alias("n_bigrams"),
            (
                F.sum(F.col("c").cast("decimal(27,6)")).cast("double")
                / F.sum("tf").cast("double")
            ).alias("avg_logprob"),
        )
        .orderBy("avg_logprob", "doc_id")
        .limit(100)
    )


@_q(
    "q_logsumexp_sources",
    oracle="""
    WITH scored AS (
      SELECT source,
             CAST(n_chars AS DOUBLE) / 1000 AS s
      FROM documents
    ), mx AS (
      SELECT source, max(s) AS m FROM scored GROUP BY source
    ), terms AS (
      SELECT scored.source, mx.m,
             round(exp(scored.s - mx.m), 6) AS t
      FROM scored JOIN mx ON scored.source = mx.source
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n,
           round(m + ln(CAST(sum(CAST(t AS DECIMAL(27,6))) AS DOUBLE)), 6)
             AS logsumexp
    FROM terms
    GROUP BY source, m
    ORDER BY source
    """,
)
def q_logsumexp_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numerically stable log-sum-exp per source over per-document
    scores (length/1000 as the stand-in logit) — the normalization
    constant behind softmax source-mixing weights and importance
    sampling, computed the way it must be at scale: subtract the
    per-group max BEFORE exponentiating, so no term overflows however
    large the logits.

    Two aggregations (max, then sum of shifted exponentials — the max
    side is a tiny broadcast back onto the scan) instead of one
    unstable pass. Each exp term rounds at 6 decimals and sums in
    decimal (the libm-ulp discipline), leaving ``m + ln(S)`` as one
    deterministic scalar expression — bitwise parity on a float
    reduction that naive engine ``sum(exp(x))`` could never
    cross-match.
    """
    d = spread(load_table(spark, sf_dir, "documents"))
    scored = d.select(
        "source", (F.col("n_chars").cast("double") / 1000).alias("s")
    )
    mx = scored.groupBy("source").agg(F.max("s").alias("m"))
    terms = scored.join(F.broadcast(mx), "source").select(
        "source",
        "m",
        F.round(F.exp(F.col("s") - F.col("m")), 6).alias("t"),
    )
    return (
        terms.groupBy("source", "m")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(
                F.col("m")
                + F.log(
                    F.sum(F.col("t").cast("decimal(27,6)")).cast("double")
                ),
                6,
            ).alias("logsumexp"),
        )
        .select("source", "n", "logsumexp")
        .orderBy("source")
    )


@_q(
    "q_token_histogram_log2",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ), binned AS (
      SELECT CAST(floor(ln(n_tokens) / ln(2)) AS BIGINT) AS bucket,
             n_tokens
      FROM t WHERE n_tokens > 0
    )
    SELECT bucket,
           CAST(pow(2, bucket) AS BIGINT) AS bucket_lo,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(sum(n_tokens)) OVER (ORDER BY bucket
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_tokens
    FROM binned
    GROUP BY bucket
    ORDER BY bucket
    """,
)
def q_token_histogram_log2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-count distribution in powers-of-two buckets with
    cumulative token mass — the dataset-card length profile that
    drives context-length and packing decisions (how much of the
    corpus' token budget lives in short docs?). The log2 bucket index
    is floor(ln n / ln 2): identical IEEE arithmetic in both engines,
    and exact integer counts everywhere else. One shuffle to
    |buckets| ≈ 30 cells at any corpus size.
    """
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens")
    ).filter(F.col("n_tokens") > 0)
    binned = t.select(
        F.floor(F.log(F.col("n_tokens").cast("double")) / F.log(F.lit(2.0)))
        .cast("bigint")
        .alias("bucket"),
        "n_tokens",
    )
    hist = binned.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
    )
    cum = F.sum("total_tokens").over(
        W.orderBy("bucket").rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        hist.select(
            "bucket",
            F.pow(F.lit(2.0), F.col("bucket")).cast("bigint").alias(
                "bucket_lo"
            ),
            "n_docs",
            "total_tokens",
            cum.cast("bigint").alias("cum_tokens"),
        )
        .orderBy("bucket")
    )


@_q(
    "q_source_card",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ), ranked AS (
      SELECT source, n_tokens,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_tokens, doc_id) AS rn,
             CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
      FROM toks
    ), core AS (
      SELECT source,
             CAST(max(n) AS BIGINT) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
             CAST(min(CASE WHEN rn = (n * 50 + 99) // 100
                           THEN n_tokens END) AS BIGINT) AS p50_tokens,
             CAST(min(CASE WHEN rn = (n * 90 + 99) // 100
                           THEN n_tokens END) AS BIGINT) AS p90_tokens
      FROM ranked GROUP BY source
    ), langs AS (
      SELECT source, lang, CAST(count(*) AS BIGINT) AS cnt
      FROM toks GROUP BY source, lang
    ), lang_sum AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_langs
      FROM langs GROUP BY source
    ), top_lang AS (
      SELECT source, lang AS top_lang, cnt AS top_cnt
      FROM langs
      QUALIFY row_number() OVER (PARTITION BY source
                                 ORDER BY cnt DESC, lang DESC) = 1
    )
    SELECT c.source, c.n_docs, c.total_tokens,
           CAST(c.total_tokens AS DOUBLE) / c.n_docs AS mean_tokens,
           c.p50_tokens, c.p90_tokens,
           l.n_langs, t.top_lang,
           CAST(t.top_cnt AS DOUBLE) / c.n_docs AS top_lang_share
    FROM core c
    JOIN lang_sum l ON l.source = c.source
    JOIN top_lang t ON t.source = c.source
    ORDER BY c.source
    """,
)
def q_source_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset card: the datasheet rollup a curation
    pipeline publishes with each corpus drop — document and token
    counts, exact nearest-rank p50/p90 lengths, language diversity and
    the dominant language's share.

    The within-source length rank is the two-phase range-partitioned
    row_number with ``partition_by`` (a handful of skewed sources would
    otherwise pin the corpus to |sources| tasks); percentiles are
    nearest-rank order statistics via integer arithmetic (the
    q_winsorize discipline — no interpolation, engine-exact). Language
    dominance is a (source x lang) cell aggregate with a deterministic
    (count DESC, lang DESC) tiebreak. Everything reduces to |sources|
    rows; the two ratio columns are single exact divisions.
    """
    d = spread(load_table(spark, sf_dir, "documents"))
    toks = d.select(
        "doc_id",
        "source",
        "lang",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    )
    ranked = two_phase_window(
        toks.select("doc_id", "source", "n_tokens"),
        [F.col("n_tokens"), F.col("doc_id")],
        partition_by=["source"],
        row_number="rn",
    )
    counts = toks.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    ranked = ranked.join(F.broadcast(counts), "source")
    p50_rank = ((F.col("n") * 50 + 99) / 100).cast("bigint")
    p90_rank = ((F.col("n") * 90 + 99) / 100).cast("bigint")
    core = ranked.groupBy("source").agg(
        F.max("n").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.min(F.when(F.col("rn") == p50_rank, F.col("n_tokens")))
        .cast("bigint")
        .alias("p50_tokens"),
        F.min(F.when(F.col("rn") == p90_rank, F.col("n_tokens")))
        .cast("bigint")
        .alias("p90_tokens"),
    )
    langs = toks.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    lang_sum = langs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_langs")
    )
    top_lang = (
        langs.withColumn(
            "_r",
            F.row_number().over(
                W.partitionBy("source").orderBy(
                    F.desc("cnt"), F.desc("lang")
                )
            ),
        )
        .filter(F.col("_r") == 1)
        .select(
            "source",
            F.col("lang").alias("top_lang"),
            F.col("cnt").alias("top_cnt"),
        )
    )
    return (
        core.join(F.broadcast(lang_sum), "source")
        .join(F.broadcast(top_lang), "source")
        .select(
            "source",
            "n_docs",
            "total_tokens",
            (
                F.col("total_tokens").cast("double") / F.col("n_docs")
            ).alias("mean_tokens"),
            "p50_tokens",
            "p90_tokens",
            "n_langs",
            "top_lang",
            (F.col("top_cnt").cast("double") / F.col("n_docs")).alias(
                "top_lang_share"
            ),
        )
        .orderBy("source")
    )


@_q(
    "q_skipgram_cooc",
    oracle="""
    WITH toks AS (
      SELECT doc_id, s.t AS w, s.i
      FROM documents, LATERAL (
        SELECT unnest(string_split(text, ' ')) AS t,
               generate_subscripts(string_split(text, ' '), 1) AS i) s
    ),
    pairs AS (
      SELECT least(a.w, b.w) AS wa, greatest(a.w, b.w) AS wb,
             1.0 / (b.i - a.i) AS wt
      FROM toks a JOIN toks b
        ON b.doc_id = a.doc_id AND b.i - a.i BETWEEN 1 AND 2
    )
    SELECT wa, wb, CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(wt) AS DOUBLE) AS weight
    FROM pairs GROUP BY wa, wb
    ORDER BY weight DESC, wa, wb
    LIMIT 50
    """,
)
def q_skipgram_cooc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed skip-gram co-occurrence counts with 1/distance
    weighting (window ±2) — the input matrix of word2vec/GloVe-style
    embedding training, built as one explode + one aggregate. Pairs
    are canonicalized (least, greatest) so the matrix is symmetric;
    top-50 cells with a full (weight, wa, wb) tiebreak.

    Pair generation is IN-ROW (nested transform over the token array,
    no positional self-join on the Spark side — the token table never
    shuffles twice); the aggregate is keyed by the word pair, partial-
    aggregated map-side, output bounded by |vocab pairs within the
    window|. Distance weights are exact binary fractions (1, 0.5), so
    float sums are EXACT in any accumulation order — no decimal
    routing needed, and both engines agree bitwise."""
    d = spread(load_table(spark, sf_dir, "documents"))
    toks = d.select(F.split("text", " ").alias("l")).filter(
        F.size("l") >= 2
    )
    pairs = toks.select(
        F.explode(
            F.expr(
                "flatten(transform(sequence(1, size(l) - 1),"
                " i -> transform(sequence(i + 1, least(i + 2, size(l))),"
                " j -> struct(least(l[i - 1], l[j - 1]) AS wa,"
                "             greatest(l[i - 1], l[j - 1]) AS wb,"
                "             1.0D / (j - i) AS wt))))"
            )
        ).alias("p")
    ).select("p.wa", "p.wb", "p.wt")
    return (
        pairs.groupBy("wa", "wb")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum("wt").cast("double").alias("weight"),
        )
        .orderBy(F.col("weight").desc(), "wa", "wb")
        .limit(50)
    )


@_q(
    "q_char_entropy",
    oracle="""
    WITH chars AS (
      SELECT doc_id, s.ch, CAST(count(*) AS BIGINT) AS c
      FROM documents, LATERAL (
        SELECT unnest(list_transform(range(1, length(text) + 1),
                                     i -> text[i])) AS ch) s
      GROUP BY doc_id, s.ch
    ),
    tot AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS n_distinct
      FROM chars GROUP BY doc_id
    ),
    ent AS (
      SELECT c.doc_id, t.n, t.n_distinct,
             CAST(sum(CAST(round(
               -(CAST(c.c AS DOUBLE) / t.n)
                 * ln(CAST(c.c AS DOUBLE) / t.n), 6)
               AS DECIMAL(27,6))) AS DOUBLE) AS entropy_nats
      FROM chars c JOIN tot t ON t.doc_id = c.doc_id
      GROUP BY c.doc_id, t.n, t.n_distinct
    )
    SELECT doc_id, n AS n_chars_counted, n_distinct, entropy_nats
    FROM ent
    ORDER BY entropy_nats, doc_id
    LIMIT 100
    """,
)
def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-level Shannon entropy — the cheap
    junk-text detector: near-zero entropy is a run of one repeated
    character, abnormally high entropy is base64/binary noise; both
    are drop candidates a word-level quality gate (q_quality_gopher)
    can miss. Reports the 100 lowest-entropy documents.

    Shape: explode to (doc, char) counts — the shuffle key is
    (doc_id, char), at most |alphabet| cells per doc; entropy terms
    round at 6 decimals (ln is libm) and sum in DECIMAL; the top-100
    is a TakeOrderedAndProject with a (entropy, doc_id) total order."""
    d = spread(load_table(spark, sf_dir, "documents"))
    chars = (
        d.select(
            "doc_id",
            F.explode(F.split("text", "(?!^)")).alias("ch"),
        )
        .filter(F.col("ch") != "")
        .groupBy("doc_id", "ch")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    tot = chars.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
    )
    p = F.col("c").cast("double") / F.col("n")
    term = F.round(-p * F.log(p), 6).cast("decimal(27,6)")
    return (
        chars.join(tot, "doc_id")
        .groupBy("doc_id", "n", "n_distinct")
        .agg(F.sum(term).cast("double").alias("entropy_nats"))
        .select(
            "doc_id",
            F.col("n").alias("n_chars_counted"),
            "n_distinct",
            "entropy_nats",
        )
        .orderBy("entropy_nats", "doc_id")
        .limit(100)
    )


@_q(
    "q_js_divergence",
    oracle="""
    WITH words AS (
      SELECT source, s.w
      FROM documents, LATERAL (
        SELECT unnest(string_split(text, ' ')) AS w) s
    ),
    cells AS (
      SELECT source, w, CAST(count(*) AS BIGINT) AS c
      FROM words GROUP BY source, w
    ),
    stot AS (
      SELECT source, CAST(sum(c) AS BIGINT) AS t
      FROM cells GROUP BY source
    ),
    gw AS (
      SELECT w, CAST(sum(c) AS BIGINT) AS gc FROM cells GROUP BY w
    ),
    gtot AS (SELECT CAST(sum(gc) AS BIGINT) AS g FROM gw),
    terms AS (
      SELECT c.source,
             round(0.5 * ((CAST(c.c AS DOUBLE) / st.t)
                     * ln((CAST(c.c AS DOUBLE) / st.t)
                          / (((CAST(c.c AS DOUBLE) / st.t)
                              + (CAST(gw.gc AS DOUBLE) / gt.g)) / 2))
                   + (CAST(gw.gc AS DOUBLE) / gt.g)
                     * ln((CAST(gw.gc AS DOUBLE) / gt.g)
                          / (((CAST(c.c AS DOUBLE) / st.t)
                              + (CAST(gw.gc AS DOUBLE) / gt.g)) / 2))),
                   6) AS term,
             gw.gc AS gc_present, gt.g AS g
      FROM cells c
      JOIN stot st ON st.source = c.source
      JOIN gw ON gw.w = c.w
      CROSS JOIN gtot gt
    )
    SELECT source,
           CAST(sum(CAST(term AS DECIMAL(27,6))) AS DOUBLE)
             + 0.5 * ln(2)
               * (1 - CAST(sum(gc_present) AS DOUBLE) / any_value(g))
             AS js_nats
    FROM terms GROUP BY source ORDER BY js_nats DESC, source
    """,
)
def q_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence of each source's *word* distribution
    from the corpus distribution — the symmetric, always-finite drift
    score for training-mix monitoring (complements q_kl_divergence,
    which compares the bounded language mix and needs Q-support).

    Absent-word terms never materialize: for words the source lacks,
    p=0 and m=q/2, so their contribution is exactly
    0.5·ln2·(1 − Σ_present q) — computed from the present cells and
    one global scalar instead of a source×vocab grid. The shuffle
    carries (source, word) counts only; the global word marginal is a
    second aggregate of those same cells (no second scan), and the
    per-source totals broadcast."""
    d = spread(load_table(spark, sf_dir, "documents"))
    cells = (
        d.select("source", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    cells = pin(cells)
    stot = cells.groupBy("source").agg(F.sum("c").cast("bigint").alias("t"))
    gw = cells.groupBy("w").agg(F.sum("c").cast("bigint").alias("gc"))
    gtot = gw.agg(F.sum("gc").cast("bigint").alias("g"))
    p = F.col("c").cast("double") / F.col("t")
    q = F.col("gc").cast("double") / F.col("g")
    m = (p + q) / 2
    term = F.round(0.5 * (p * F.log(p / m) + q * F.log(q / m)), 6)
    return (
        cells.join(F.broadcast(stot), "source")
        .join(gw, "w")
        .crossJoin(F.broadcast(gtot))
        .groupBy("source")
        .agg(
            (
                F.sum(term.cast("decimal(27,6)")).cast("double")
                + 0.5
                * math.log(2)
                * (
                    1
                    - F.sum("gc").cast("double") / F.first("g")
                )
            ).alias("js_nats")
        )
        .orderBy(F.col("js_nats").desc(), "source")
    )


@_q(
    "q_lexical_diversity",
    oracle="""
    WITH words AS (
      SELECT doc_id, s.w
      FROM documents, LATERAL (
        SELECT unnest(string_split(text, ' ')) AS w) s
    ),
    wc AS (
      SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c
      FROM words GROUP BY doc_id, w
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hapax,
           CAST(count(*) AS DOUBLE) / sum(c) AS ttr,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) AS hapax_ratio
    FROM wc GROUP BY doc_id
    ORDER BY ttr, doc_id LIMIT 100
    """,
)
def q_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document lexical diversity: type-token ratio and hapax
    (once-only word) ratio. Low TTR means loops/boilerplate/keyword
    stuffing — the repetition signal that survives exact dedup; the
    100 least-diverse documents are the review set.

    Shape: one explode to (doc, word) counts (shuffle key bounded by
    per-doc vocabulary), one per-doc aggregate; integer ratios divide
    once per group, so both engines agree bitwise. TakeOrdered top-100
    with a (ttr, doc_id) total order."""
    d = spread(load_table(spark, sf_dir, "documents"))
    wc = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    hapax = F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("bigint")
    return (
        wc.groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_types"),
            hapax.alias("n_hapax"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_types",
            "n_hapax",
            (F.col("n_types").cast("double") / F.col("n_tokens")).alias(
                "ttr"
            ),
            (F.col("n_hapax").cast("double") / F.col("n_types")).alias(
                "hapax_ratio"
            ),
        )
        .orderBy("ttr", "doc_id")
        .limit(100)
    )


@_q(
    "q_dsir_importance",
    oracle="""
    WITH tw AS (
      SELECT s.w, CAST(count(*) AS BIGINT) AS tc
      FROM documents, LATERAL (
        SELECT unnest(string_split(text, ' ')) AS w) s
      WHERE lang = 'en' GROUP BY s.w
    ),
    gwx AS (
      SELECT s.w, CAST(count(*) AS BIGINT) AS gc
      FROM documents, LATERAL (
        SELECT unnest(string_split(text, ' ')) AS w) s
      GROUP BY s.w
    ),
    consts AS (
      SELECT CAST(count(*) AS BIGINT) AS v,
             CAST(sum(gc) AS BIGINT) AS g,
             CAST((SELECT sum(tc) FROM tw) AS BIGINT) AS t
      FROM gwx
    ),
    toks AS (
      SELECT doc_id, s.w
      FROM documents, LATERAL (
        SELECT unnest(string_split(text, ' ')) AS w) s
      WHERE lang <> 'en'
    ),
    scored AS (
      SELECT tk.doc_id,
             round(ln((CAST(coalesce(tw.tc, 0) + 1 AS DOUBLE)
                       / (c.t + c.v))
                      / (CAST(g.gc + 1 AS DOUBLE) / (c.g + c.v))), 6)
               AS lr
      FROM toks tk
      JOIN gwx g ON g.w = tk.w
      LEFT JOIN tw ON tw.w = tk.w
      CROSS JOIN consts c
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CAST(lr AS DECIMAL(27,6))) AS DOUBLE) / count(*)
             AS importance
    FROM scored GROUP BY doc_id
    ORDER BY importance DESC, doc_id LIMIT 100
    """,
)
def q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection with importance resampling (Xie et
    al. 2023, public): score each out-of-domain document by the mean
    unigram log-likelihood ratio between a target-domain LM (here the
    English subset) and the raw-corpus LM, add-1 smoothed over the
    joint vocabulary. The top-scoring documents are the ones to
    up-sample when the training mix should lean toward the target
    domain.

    Scale shape: both LMs are word-count aggregates (tall-skinny,
    bounded by vocabulary); the per-token scoring join is
    hash-partitioned on the word, so the doc-token stream never
    collects anywhere; per-doc means are one final aggregate. Log
    terms round at 6 dp and sum in DECIMAL for bitwise parity."""
    d = spread(load_table(spark, sf_dir, "documents"))
    toks_all = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("w")
    )
    gwx = toks_all.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("gc")
    )
    tw = (
        toks_all.filter(F.col("lang") == "en")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tc"))
    )
    consts = gwx.agg(
        F.count(F.lit(1)).cast("bigint").alias("v"),
        F.sum("gc").cast("bigint").alias("g"),
    ).crossJoin(tw.agg(F.sum("tc").cast("bigint").alias("t")))
    pt = (F.coalesce(F.col("tc"), F.lit(0)) + 1).cast("double") / (
        F.col("t") + F.col("v")
    )
    pg = (F.col("gc") + 1).cast("double") / (F.col("g") + F.col("v"))
    lr = F.round(F.log(pt / pg), 6)
    return (
        toks_all.filter(F.col("lang") != "en")
        .select("doc_id", "w")
        .join(gwx, "w")
        .join(tw, "w", "left")
        .crossJoin(F.broadcast(consts))
        .select("doc_id", lr.alias("lr"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            (
                F.sum(F.col("lr").cast("decimal(27,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("importance"),
        )
        .orderBy(F.col("importance").desc(), "doc_id")
        .limit(100)
    )


@_q(
    "q_tokenizer_fertility",
    oracle="""
    WITH tok AS (
      SELECT lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
             CAST(len(regexp_extract_all(text, '[a-z]{1,4}'))
                  AS BIGINT) AS n_sub,
             CAST(n_chars AS BIGINT) AS n_chars
      FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS words,
           CAST(sum(n_sub) AS BIGINT) AS subwords,
           CAST(sum(n_sub) AS DOUBLE) / sum(n_words) AS fertility,
           CAST(sum(n_chars) AS DOUBLE) / sum(n_sub)
             AS chars_per_token
    FROM tok GROUP BY lang ORDER BY lang
    """,
)
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: subword tokens per whitespace
    word and characters per token, under the engine's BPE-ish regex
    tokenizer (the q_token_count segmentation). Fertility is THE
    cross-lingual tokenizer-quality metric — a language whose fertility
    runs 2× the corpus average pays twice the sequence length for the
    same content, which skews both training cost and effective mixture
    weights (and is exactly what q_mixture_weights should be fed).

    All counts are integers summed per language (exact,
    order-independent); the two ratios are single divisions of BIGINT
    sums. One scan, one shuffle to |langs| cells — scan-dominated at
    any corpus size."""
    d = spread(load_table(spark, sf_dir, "documents"))
    tok = d.select(
        "lang",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_words"),
        F.size(F.regexp_extract_all("text", F.lit("[a-z]{1,4}"), 0))
        .cast("bigint")
        .alias("n_sub"),
        F.col("n_chars").cast("bigint").alias("n_chars"),
    )
    return (
        tok.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_words").cast("bigint").alias("words"),
            F.sum("n_sub").cast("bigint").alias("subwords"),
            (F.sum("n_sub").cast("double") / F.sum("n_words")).alias(
                "fertility"
            ),
            (F.sum("n_chars").cast("double") / F.sum("n_sub")).alias(
                "chars_per_token"
            ),
        )
        .orderBy("lang")
    )


@_q(
    "q_readability",
    oracle="""
    WITH feats AS (
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
             CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                  AS BIGINT) AS n_sents,
             CAST(len(regexp_extract_all(text, '[aeiouy]+'))
                  AS BIGINT) AS n_syll
      FROM documents
    )
    SELECT doc_id, lang, n_words, n_sents, n_syll,
           round(206.835
                 - 1.015 * (CAST(n_words AS DOUBLE) / n_sents)
                 - 84.6 * (CAST(n_syll AS DOUBLE) / n_words), 6)
             AS flesch
    FROM feats
    ORDER BY doc_id
    """,
)
def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document from three regex-countable
    features (words, sentence-ending punctuation runs, vowel-group
    syllable proxy) — the classic complexity score a curation
    pipeline bins on when "too simple" (boilerplate, lists) and "too
    dense" (minified text, OCR soup) both hurt training mix quality;
    pairs with q_quality_score's surface heuristics and
    q_quality_gopher's rule gates.

    Per-row regexp counting at scan speed, zero shuffles except the
    output order; integer counts, a greatest(…, 1) sentence floor so
    punctuation-free fixtures don't divide by zero, and one 6-dp
    rounded closed-form double — bitwise at any corpus size."""
    d = spread(load_table(spark, sf_dir, "documents"))
    feats = d.select(
        "doc_id",
        "lang",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_words"),
        F.greatest(
            F.size(F.regexp_extract_all("text", F.lit("[.!?]+"), 0)),
            F.lit(1),
        )
        .cast("bigint")
        .alias("n_sents"),
        F.size(F.regexp_extract_all("text", F.lit("[aeiouy]+"), 0))
        .cast("bigint")
        .alias("n_syll"),
    )
    flesch = F.round(
        F.lit(206.835)
        - 1.015 * (F.col("n_words").cast("double") / F.col("n_sents"))
        - 84.6 * (F.col("n_syll").cast("double") / F.col("n_words")),
        6,
    )
    return feats.select(
        "doc_id", "lang", "n_words", "n_sents", "n_syll",
        flesch.alias("flesch"),
    ).orderBy("doc_id")


@_q(
    "q_vocab_growth_heaps",
    oracle="""
    WITH toks AS (
      SELECT doc_id, s.w
      FROM documents, LATERAL (
        SELECT unnest(string_split(text, ' ')) AS w) s
    ),
    firsts AS (
      SELECT w, min(doc_id) AS first_doc FROM toks GROUP BY w
    ),
    doc_tok AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok
      FROM toks GROUP BY doc_id
    ),
    buckets AS (
      SELECT CAST(doc_id // 25 AS BIGINT) AS b,
             CAST(sum(n_tok) AS BIGINT) AS tok_in_b
      FROM doc_tok GROUP BY 1
    ),
    new_types AS (
      SELECT CAST(first_doc // 25 AS BIGINT) AS b,
             CAST(count(*) AS BIGINT) AS new_v
      FROM firsts GROUP BY 1
    ),
    curve AS (
      SELECT bk.b,
             CAST(sum(bk.tok_in_b) OVER (ORDER BY bk.b
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_tok,
             CAST(sum(COALESCE(nt.new_v, 0)) OVER (ORDER BY bk.b
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_vocab
      FROM buckets bk LEFT JOIN new_types nt ON nt.b = bk.b
    ),
    pts AS (
      SELECT b, cum_tok, cum_vocab,
             round(ln(CAST(cum_tok AS DOUBLE)), 6) AS lx,
             round(ln(CAST(cum_vocab AS DOUBLE)), 6) AS ly
      FROM curve
    ),
    fit AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(lx AS DECIMAL(27,6))) AS DOUBLE) AS sx,
             CAST(sum(CAST(ly AS DECIMAL(27,6))) AS DOUBLE) AS sy,
             CAST(sum(CAST(lx AS DECIMAL(18,6))
                      * CAST(lx AS DECIMAL(18,6))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(lx AS DECIMAL(18,6))
                      * CAST(ly AS DECIMAL(18,6))) AS DOUBLE) AS sxy
      FROM pts
    )
    SELECT p.b, p.cum_tok, p.cum_vocab,
           (f.n * f.sxy - f.sx * f.sy)
             / (f.n * f.sxx - f.sx * f.sx) AS heaps_beta,
           exp((f.sy - (f.n * f.sxy - f.sx * f.sy)
                       / (f.n * f.sxx - f.sx * f.sx) * f.sx) / f.n)
             AS heaps_k
    FROM pts p CROSS JOIN fit f
    ORDER BY p.b
    """,
)
def q_vocab_growth_heaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit of vocabulary growth: V(N) ≈ K·N^β estimated by
    log-log OLS over the cumulative (tokens seen, distinct types)
    curve in 25-document buckets — with q_zipf_fit and
    q_graph_degree_dist this completes the engine's scaling-law kit;
    β (typically 0.4–0.6) predicts how much NEW vocabulary another
    10× of corpus will bring, which is exactly the question a
    tokenizer-budget owner asks before re-training BPE.

    Scale: each type reduces to its first-appearance doc (one shuffle
    keyed by token — the q_ngram_novelty discipline); the cumulative
    curve and the OLS run over the bounded bucket set. Logs round at
    6 dp and ARE the regression inputs (exact decimal moments
    after); slope/intercept are closed-form."""
    d = spread(load_table(spark, sf_dir, "documents"))
    toks = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("w")
    )
    firsts = toks.groupBy("w").agg(F.min("doc_id").alias("first_doc"))
    doc_tok = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tok")
    )
    buckets = doc_tok.groupBy(
        F.floor(F.col("doc_id") / 25).cast("bigint").alias("b")
    ).agg(F.sum("n_tok").cast("bigint").alias("tok_in_b"))
    new_types = firsts.groupBy(
        F.floor(F.col("first_doc") / 25).cast("bigint").alias("b")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("new_v"))
    wcum = W.orderBy("b").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    curve = (
        buckets.join(new_types, "b", "left")
        .select(
            "b",
            F.sum("tok_in_b").over(wcum).cast("bigint").alias("cum_tok"),
            F.sum(F.coalesce(F.col("new_v"), F.lit(0)))
            .over(wcum)
            .cast("bigint")
            .alias("cum_vocab"),
        )
    )
    pts = curve.select(
        "b",
        "cum_tok",
        "cum_vocab",
        F.round(F.log(F.col("cum_tok").cast("double")), 6).alias("lx"),
        F.round(F.log(F.col("cum_vocab").cast("double")), 6).alias("ly"),
    )
    fit = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("lx").cast("decimal(27,6)")).cast("double").alias("sx"),
        F.sum(F.col("ly").cast("decimal(27,6)")).cast("double").alias("sy"),
        F.sum(
            F.col("lx").cast("decimal(18,6)") * F.col("lx").cast("decimal(18,6)")
        )
        .cast("double")
        .alias("sxx"),
        F.sum(
            F.col("lx").cast("decimal(18,6)") * F.col("ly").cast("decimal(18,6)")
        )
        .cast("double")
        .alias("sxy"),
    )
    n = F.col("n")
    beta = F.try_divide(
        n * F.col("sxy") - F.col("sx") * F.col("sy"),
        n * F.col("sxx") - F.col("sx") * F.col("sx"),
    )
    k = F.exp((F.col("sy") - beta * F.col("sx")) / n)
    return (
        pts.crossJoin(F.broadcast(fit))
        .select(
            "b",
            "cum_tok",
            "cum_vocab",
            beta.alias("heaps_beta"),
            k.alias("heaps_k"),
        )
        .orderBy("b")
    )


@_q(
    "q_mix_shift",
    oracle="""
    WITH half AS (
      SELECT source,
             CASE WHEN doc_id * 2 < (SELECT max(doc_id) + min(doc_id)
                                     FROM documents)
                  THEN 'first' ELSE 'second' END AS half,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents
    ),
    cells AS (
      SELECT source, half, CAST(sum(n_tok) AS BIGINT) AS toks
      FROM half GROUP BY source, half
    ),
    tot AS (
      SELECT half, CAST(sum(toks) AS BIGINT) AS t
      FROM cells GROUP BY half
    ),
    shares AS (
      SELECT c.source,
             max(CASE WHEN c.half = 'first'
                      THEN CAST(c.toks AS DOUBLE) / t.t END)
               AS share_first,
             max(CASE WHEN c.half = 'second'
                      THEN CAST(c.toks AS DOUBLE) / t.t END)
               AS share_second
      FROM cells c JOIN tot t ON t.half = c.half
      GROUP BY c.source
    )
    SELECT source,
           COALESCE(share_first, 0.0) AS share_first,
           COALESCE(share_second, 0.0) AS share_second,
           COALESCE(share_second, 0.0) - COALESCE(share_first, 0.0)
             AS shift
    FROM shares
    ORDER BY source
    """,
)
def q_mix_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mix shift: each source's token share in the first vs
    second half of the corpus (by doc_id midpoint) and the delta —
    the composition-drift check run before q_js_divergence's
    vocabulary-level drift, because a mix that silently tilts toward
    one crawl breaks every downstream mixture weight
    (q_mixture_weights assumes the measured mix IS the mix).

    One conditional aggregate to |sources|×2 cells (the midpoint is
    a 1-row subquery both engines fold to a literal); shares are
    single divisions of BIGINT token sums."""
    d = spread(load_table(spark, sf_dir, "documents"))
    mid = d.agg(
        ((F.max("doc_id") + F.min("doc_id"))).alias("m")
    )
    half = d.crossJoin(F.broadcast(mid)).select(
        "source",
        F.when(F.col("doc_id") * 2 < F.col("m"), "first")
        .otherwise("second")
        .alias("half"),
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tok"),
    )
    cells = half.groupBy("source", "half").agg(
        F.sum("n_tok").cast("bigint").alias("toks")
    )
    tot = cells.groupBy("half").agg(F.sum("toks").cast("bigint").alias("t"))
    shares = (
        cells.join(tot, "half")
        .groupBy("source")
        .agg(
            F.max(
                F.when(
                    F.col("half") == "first",
                    F.col("toks").cast("double") / F.col("t"),
                )
            ).alias("share_first"),
            F.max(
                F.when(
                    F.col("half") == "second",
                    F.col("toks").cast("double") / F.col("t"),
                )
            ).alias("share_second"),
        )
    )
    sf_, ss = F.coalesce(F.col("share_first"), F.lit(0.0)), F.coalesce(
        F.col("share_second"), F.lit(0.0)
    )
    return shares.select(
        "source",
        sf_.alias("share_first"),
        ss.alias("share_second"),
        (ss - sf_).alias("shift"),
    ).orderBy("source")


@_q(
    "q_sparse_cosine_pairs",
    oracle="""
    WITH toks AS (
      SELECT doc_id, s.w
      FROM documents, LATERAL (
        SELECT unnest(string_split(text, ' ')) AS w) s
      WHERE doc_id < 100
    ),
    tf AS (
      SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
      FROM toks GROUP BY doc_id, w
    ),
    df AS (
      SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY w
    ),
    nd AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n
           FROM tf),
    wts AS (
      SELECT t.doc_id, t.w,
             round(t.tf * ln(CAST(nd.n AS DOUBLE) / d.df), 6) AS wt
      FROM tf t
      JOIN df d ON d.w = t.w
      CROSS JOIN nd
      WHERE d.df * 5 <= nd.n
    ),
    norms AS (
      SELECT doc_id,
             sqrt(CAST(sum(CAST(round(wt * wt, 6) AS DECIMAL(27,6)))
                       AS DOUBLE)) AS nrm
      FROM wts GROUP BY doc_id
    ),
    dots AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(sum(CAST(round(a.wt * b.wt, 6) AS DECIMAL(27,6)))
                  AS DOUBLE) AS dot
      FROM wts a JOIN wts b ON a.w = b.w AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT d.doc_a, d.doc_b,
           d.dot / (na.nrm * nb.nrm) AS cosine
    FROM dots d
    JOIN norms na ON na.doc_id = d.doc_a
    JOIN norms nb ON nb.doc_id = d.doc_b
    ORDER BY cosine DESC, doc_a, doc_b
    LIMIT 20
    """,
)
def q_sparse_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine similarity between documents via the
    inverted-index (posting-list) join — the SPARSE twin of
    q_sim_search's dense-embedding cosine, and the join shape every
    search engine's more-like-this runs: pairs only materialize where
    documents SHARE a term, and common terms (df > n/5) are cut
    before the join, which is what bounds posting-list fan-out at
    corpus scale (the df-cut is the textbook quadratic-blowup
    control; the 100-doc slice keeps the oracle's pair set
    reviewable). Top-20 most similar pairs.

    TF-IDF weights and their products round at 6 dp into DECIMAL
    sums (order-independent); norms and the final cosine are
    closed-form per pair. Shuffles carry (term, doc, weight)
    postings — never raw text."""
    d = spread(load_table(spark, sf_dir, "documents"))
    toks = d.filter(F.col("doc_id") < 100).select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("w")
    )
    tf = toks.groupBy("doc_id", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    tf = pin(tf)
    df = tf.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    nd = tf.agg(F.countDistinct("doc_id").cast("bigint").alias("n"))
    wts = (
        tf.join(df, "w")
        .crossJoin(F.broadcast(nd))
        .filter(F.col("df") * 5 <= F.col("n"))
        .select(
            "doc_id",
            "w",
            F.round(
                F.col("tf")
                * F.log(F.col("n").cast("double") / F.col("df")),
                6,
            ).alias("wt"),
        )
    )
    wts = pin(wts)
    norms = wts.groupBy("doc_id").agg(
        F.sqrt(
            F.sum(
                F.round(F.col("wt") * F.col("wt"), 6).cast("decimal(27,6)")
            ).cast("double")
        ).alias("nrm")
    )
    a = wts.select(
        F.col("doc_id").alias("doc_a"), "w", F.col("wt").alias("wa")
    )
    b = wts.select(
        F.col("doc_id").alias("doc_b"), "w", F.col("wt").alias("wb")
    )
    dots = (
        a.join(b, "w")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum(
                F.round(F.col("wa") * F.col("wb"), 6).cast("decimal(27,6)")
            )
            .cast("double")
            .alias("dot")
        )
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("nrm").alias("nb"))
    return (
        dots.join(F.broadcast(na), "doc_a")
        .join(F.broadcast(nb), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (F.col("dot") / (F.col("na") * F.col("nb"))).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "doc_a", "doc_b")
        .limit(20)
    )


@_q(
    "q_lang_vocab_overlap",
    oracle="""
    WITH lt AS (
      SELECT DISTINCT lang, s.w
      FROM documents, LATERAL (
        SELECT unnest(string_split(text, ' ')) AS w) s
    ),
    sizes AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS v FROM lt GROUP BY lang
    ),
    inter AS (
      SELECT a.lang AS lang_a, b.lang AS lang_b,
             CAST(count(*) AS BIGINT) AS n_common
      FROM lt a JOIN lt b ON a.w = b.w AND a.lang < b.lang
      GROUP BY 1, 2
    )
    SELECT i.lang_a, i.lang_b, i.n_common,
           sa.v AS v_a, sb.v AS v_b,
           CAST(i.n_common AS DOUBLE)
             / (sa.v + sb.v - i.n_common) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.lang = i.lang_a
    JOIN sizes sb ON sb.lang = i.lang_b
    ORDER BY i.lang_a, i.lang_b
    """,
)
def q_lang_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between languages — the diagnostic
    that validates (or indicts) the whole lang-id + per-lang-metric
    stack: if two "languages" share most of their vocabulary, their
    labels are noisy (or the corpus is code-switched) and every
    per-lang number downstream (fertility, confusion matrix, mixture
    weights) inherits that blur. The language twin of
    q_source_overlap.

    Each (lang, token) membership is deduped once; the intersection
    is an equi-join ON THE TOKEN (posting-list style — pairs only
    materialize for shared tokens, the q_sparse_cosine_pairs
    discipline); sizes join back on the 5-row lang key. All counts
    integer, one Jaccard division per bounded pair."""
    d = spread(load_table(spark, sf_dir, "documents"))
    lt = d.select(
        "lang", F.explode(F.split(F.col("text"), " ")).alias("w")
    ).distinct()
    lt = pin(lt)
    sizes = lt.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("v")
    )
    a = lt.select(F.col("lang").alias("lang_a"), "w")
    b = lt.select(F.col("lang").alias("lang_b"), "w")
    inter = (
        a.join(b, "w")
        .filter(F.col("lang_a") < F.col("lang_b"))
        .groupBy("lang_a", "lang_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    sa = sizes.select(F.col("lang").alias("lang_a"), F.col("v").alias("v_a"))
    sb = sizes.select(F.col("lang").alias("lang_b"), F.col("v").alias("v_b"))
    return (
        inter.join(F.broadcast(sa), "lang_a")
        .join(F.broadcast(sb), "lang_b")
        .select(
            "lang_a",
            "lang_b",
            "n_common",
            "v_a",
            "v_b",
            (
                F.col("n_common").cast("double")
                / (F.col("v_a") + F.col("v_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .orderBy("lang_a", "lang_b")
    )


@_q(
    "q_keyword_extraction",
    oracle="""
    WITH tokens AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM tokens GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df
      FROM tf GROUP BY term
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
             round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6)
               AS score
      FROM tf JOIN df ON df.term = tf.term CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, score,
           CAST(rn AS INTEGER) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                       ORDER BY score DESC, term) AS rn
          FROM scored)
    WHERE rn <= 3
    ORDER BY doc_id, rank
    """,
)
def q_keyword_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 keywords per DOCUMENT by TF-IDF — q_tfidf zoomed from
    source-level to document-level: the per-doc tags a search index or
    a dataset card's sample annotations are built from. IDF over
    documents (not sources), ln rounded at 6 dp (libm discipline),
    (score desc, term) total order for a deterministic cut.

    explode → (doc, term) counts → vocabulary-sized df table broadcast
    back → per-doc windowed top-k. The window partitions on doc_id
    (millions of small partitions — the healthy case); only the tiny
    keyword rows survive."""
    d = spread(load_table(spark, sf_dir, "documents"))
    tokens = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = tokens.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    n = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            ),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "doc_id", "term", "tf", "df", "score",
            F.col("rn").cast("int").alias("rank"),
        )
        .orderBy("doc_id", "rank")
    )


@_q(
    "q_token_cooccurrence_pmi",
    oracle="""
    WITH dt AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents
    ),
    df AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df
      FROM dt GROUP BY term
    ),
    vocab AS (SELECT term, df FROM df WHERE df >= 10),
    vt AS (
      SELECT dt.doc_id, dt.term, v.df
      FROM dt JOIN vocab v ON v.term = dt.term
    ),
    pairs AS (
      SELECT a.term AS term_a, b.term AS term_b,
             max(a.df) AS df_a, max(b.df) AS df_b,
             CAST(count(*) AS BIGINT) AS c_ab
      FROM vt a JOIN vt b
        ON a.doc_id = b.doc_id AND a.term < b.term
      GROUP BY a.term, b.term
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
    SELECT term_a, term_b, c_ab,
           CAST(df_a AS BIGINT) AS df_a, CAST(df_b AS BIGINT) AS df_b,
           round(ln(CAST(n.n_docs AS DOUBLE) * c_ab / (df_a * df_b)), 6)
             AS pmi
    FROM pairs CROSS JOIN n
    WHERE c_ab >= 5
    ORDER BY pmi DESC, term_a, term_b
    LIMIT 20
    """,
)
def q_token_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information of within-document token pairs —
    the collocation detector (PMI ≫ 0 means the pair co-occurs far
    beyond chance: named entities, idioms, template fragments worth a
    tokenizer merge or a dedup feature).

    Scale discipline: the pair fan-out is the danger, so terms pass a
    document-frequency cut FIRST (df ≥ 10 — vocabulary-sized broadcast)
    and pairs are generated by a self-equi-join on doc_id over the
    filtered (doc, term) table — fan-out bounded by per-doc FREQUENT
    vocab squared, not raw text length squared (the q_sparse_cosine
    posting-list discipline). PMI's ln rounds at 6 dp; top-20 by the
    (pmi, a, b) total order is a TakeOrderedAndProject."""
    d = spread(load_table(spark, sf_dir, "documents"))
    dt = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).distinct()
    df_ = dt.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    vocab = df_.filter(F.col("df") >= 10)
    vt = dt.join(F.broadcast(vocab), "term")
    a = vt.select(
        F.col("doc_id"),
        F.col("term").alias("term_a"),
        F.col("df").alias("dfa"),
    )
    b = vt.select(
        F.col("doc_id"),
        F.col("term").alias("term_b"),
        F.col("df").alias("dfb"),
    )
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("term_a") < F.col("term_b"))
        .groupBy("term_a", "term_b")
        .agg(
            F.max("dfa").alias("df_a"),
            F.max("dfb").alias("df_b"),
            F.count(F.lit(1)).cast("bigint").alias("c_ab"),
        )
        .filter(F.col("c_ab") >= 5)
    )
    n = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    return (
        pairs.crossJoin(F.broadcast(n))
        .select(
            "term_a",
            "term_b",
            "c_ab",
            F.col("df_a").cast("bigint").alias("df_a"),
            F.col("df_b").cast("bigint").alias("df_b"),
            F.round(
                F.log(
                    F.col("n_docs").cast("double")
                    * F.col("c_ab")
                    / (F.col("df_a") * F.col("df_b"))
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "term_a", "term_b")
        .limit(20)
    )


@_q(
    "q_shingle_size_sensitivity",
    oracle="""
    WITH ks AS (SELECT unnest([3, 5, 8]) AS k),
    words AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    shingles AS (
      SELECT DISTINCT k, doc_id, sh FROM (
        SELECT ks.k, words.doc_id,
               unnest(CASE WHEN len(w) >= ks.k THEN
                 list_transform(generate_series(1, len(w) - ks.k + 1),
                   i -> md5(array_to_string(
                          list_slice(w, i, i + ks.k - 1), ' ')))
                 ELSE [] END) AS sh
        FROM words CROSS JOIN ks
      )
    ),
    cand AS (
      SELECT DISTINCT a.k, a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM shingles a JOIN shingles b
        ON a.k = b.k AND a.sh = b.sh AND a.doc_id < b.doc_id
    ),
    sh_stats AS (
      SELECT k, CAST(count(DISTINCT sh) AS BIGINT) AS n_shingles
      FROM shingles GROUP BY k
    ),
    pair_stats AS (
      SELECT k, CAST(count(*) AS BIGINT) AS n_candidate_pairs
      FROM cand GROUP BY k
    ),
    docs_in AS (
      SELECT k, CAST(count(*) AS BIGINT) AS n_docs_in_pairs FROM (
        SELECT DISTINCT k, doc_a AS d FROM cand
        UNION
        SELECT DISTINCT k, doc_b FROM cand
      ) GROUP BY k
    )
    SELECT s.k, s.n_shingles,
           COALESCE(p.n_candidate_pairs, 0) AS n_candidate_pairs,
           COALESCE(d.n_docs_in_pairs, 0) AS n_docs_in_pairs
    FROM sh_stats s
    LEFT JOIN pair_stats p ON p.k = s.k
    LEFT JOIN docs_in d ON d.k = s.k
    ORDER BY s.k
    """,
)
def q_shingle_size_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup blocking sensitivity to shingle size: for k ∈ {3,5,8},
    how many distinct word-k-shingles the corpus has and how many
    candidate pairs share at least one — the tuning table behind every
    MinHash pipeline (small k = high recall / candidate explosion,
    large k = cheap / misses paraphrase). Shingle expansion guards
    short docs (len < k → empty, the sequence-descending trap) and is
    map-side; candidates come from the shingle equi-self-join, never
    all-pairs."""
    # Bounded-eval width (catalog.bounded_eval_scope): the 3-way
    # shingle explosion, its two persisted pins and the candidate
    # self-join at corpus width measured 18-28 s vanilla for a 3-row
    # result; input-derived width reads ~2 s. The shingle table is
    # ~3 x words-per-doc x docs rows, so the driving count is scaled
    # by the expansion factor before the rows-per-part division
    # (x3 shingle sizes x _EST_WORDS_PER_DOC — see that constant's
    # rationale for why a heuristic is safe here). The WHOLE body runs
    # under the scope: persist() compiles the cached subtree's
    # physical plan eagerly at call time, so pins created outside the
    # scope would keep corpus width forever.
    n_drive = footer_rows(sf_dir, "documents") * 3 * _EST_WORDS_PER_DOC
    with bounded_eval_scope(spark, n_drive), pin_scope():
        d = spread(load_table(spark, sf_dir, "documents"))
        words = d.select("doc_id", F.split("text", " ").alias("w"))
        frames = []
        for k in (3, 5, 8):
            sh = words.select(
                F.lit(k).alias("k"),
                "doc_id",
                F.explode(
                    F.when(
                        F.size("w") >= k,
                        F.expr(
                            f"transform(sequence(1, size(w) - {k} + 1),"
                            f" i -> md5(array_join(slice(w, i, {k}), ' ')))"
                        ),
                    ).otherwise(F.expr("array()"))
                ).alias("sh"),
            ).distinct()
            frames.append(sh)
        shingles = frames[0].unionByName(frames[1]).unionByName(frames[2])
        shingles = pin(shingles)
        a = shingles.select("k", F.col("doc_id").alias("doc_a"), "sh")
        b = shingles.select("k", F.col("doc_id").alias("doc_b"), "sh")
        cand = (
            a.join(b, ["k", "sh"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("k", "doc_a", "doc_b")
            .distinct()
        )
        cand = pin(cand)
        pair_stats = cand.groupBy("k").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_candidate_pairs")
        )
        docs_in = (
            cand.select("k", F.col("doc_a").alias("d"))
            .unionByName(cand.select("k", F.col("doc_b").alias("d")))
            .distinct()
            .groupBy("k")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs_in_pairs"))
        )
        sh_stats = shingles.groupBy("k").agg(
            F.countDistinct("sh").cast("bigint").alias("n_shingles")
        )
        table = (
            sh_stats.join(pair_stats, "k", "left")
            .join(docs_in, "k", "left")
            .select(
                "k",
                "n_shingles",
                F.coalesce("n_candidate_pairs", F.lit(0))
                .cast("bigint")
                .alias("n_candidate_pairs"),
                F.coalesce("n_docs_in_pairs", F.lit(0))
                .cast("bigint")
                .alias("n_docs_in_pairs"),
            )
            .orderBy("k")
        )
        return table.localCheckpoint(eager=True)


@_q(
    "q_mixture_temperature_sweep",
    oracle="""
    WITH src AS (
      SELECT source,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
      FROM documents GROUP BY source
    ),
    tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS n FROM src),
    terms AS (
      SELECT s.source, s.tokens,
             CAST(s.tokens AS DOUBLE) / t.n AS p,
             CAST(round(power(CAST(s.tokens AS DOUBLE) / t.n, 0.3), 6)
                  AS DECIMAL(18,6)) AS t03,
             CAST(round(power(CAST(s.tokens AS DOUBLE) / t.n, 0.7), 6)
                  AS DECIMAL(18,6)) AS t07
      FROM src s CROSS JOIN tot t
    ),
    z AS (
      SELECT CAST(sum(t03) AS DECIMAL(27,6)) AS z03,
             CAST(sum(t07) AS DECIMAL(27,6)) AS z07
      FROM terms
    )
    SELECT tr.source, tr.tokens, tr.p AS w_t10,
           CAST(tr.t03 AS DOUBLE) / CAST(z.z03 AS DOUBLE) AS w_t03,
           CAST(tr.t07 AS DOUBLE) / CAST(z.z07 AS DOUBLE) AS w_t07
    FROM terms tr CROSS JOIN z
    ORDER BY tr.source
    """,
)
def q_mixture_temperature_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampling-temperature sweep for the training mix: per source, the
    natural token share (T=1) next to temperature-flattened weights
    w ∝ p^T for T=0.3 and T=0.7 — the table a data-mix meeting actually
    compares (low T upsamples rare sources; q_mixture_weights fixes one
    T, this shows the trade-off curve).

    Token counts reduce per source (integer); p^T goes through the
    6-dp-round libm discipline (pow's last ulp is engine-specific)
    before DECIMAL normalization sums, so the normalized weights are
    bitwise stable. Corpus scalars travel as 1-row broadcasts."""
    d = spread(load_table(spark, sf_dir, "documents"))
    src = d.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("tokens")
    )
    tot = src.agg(F.sum("tokens").cast("bigint").alias("n"))
    p = F.col("tokens").cast("double") / F.col("n")
    terms = src.crossJoin(F.broadcast(tot)).select(
        "source",
        "tokens",
        p.alias("p"),
        F.round(F.pow(p, 0.3), 6).cast("decimal(18,6)").alias("t03"),
        F.round(F.pow(p, 0.7), 6).cast("decimal(18,6)").alias("t07"),
    )
    z = terms.agg(
        F.sum("t03").cast("decimal(27,6)").alias("z03"),
        F.sum("t07").cast("decimal(27,6)").alias("z07"),
    )
    return (
        terms.crossJoin(F.broadcast(z))
        .select(
            "source",
            "tokens",
            F.col("p").alias("w_t10"),
            (F.col("t03").cast("double") / F.col("z03").cast("double")).alias(
                "w_t03"
            ),
            (F.col("t07").cast("double") / F.col("z07").cast("double")).alias(
                "w_t07"
            ),
        )
        .orderBy("source")
    )


@_q(
    "q_doc_language_mismatch",
    oracle="""
    WITH scored AS (
      SELECT source, lang AS declared,
             CASE WHEN (CAST(length(text) AS DOUBLE)
                        - length(replace(text, 'e', '')))
                       / CAST(length(text) AS DOUBLE) >= 0.10 THEN 'en'
                  WHEN (CAST(length(text) AS DOUBLE)
                        - length(replace(text, 'e', '')))
                       / CAST(length(text) AS DOUBLE) >= 0.08 THEN 'fr'
                  WHEN (CAST(length(text) AS DOUBLE)
                        - length(replace(text, 'a', '')))
                       / CAST(length(text) AS DOUBLE) >= 0.10 THEN 'es'
                  WHEN (CAST(length(text) AS DOUBLE)
                        - length(replace(text, 'a', '')))
                       / CAST(length(text) AS DOUBLE) >= 0.08 THEN 'de'
                  ELSE 'zh' END AS detected
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN declared <> detected THEN 1 ELSE 0 END)
                AS BIGINT) AS n_mismatch,
           CAST(sum(CASE WHEN declared <> detected THEN 1 ELSE 0 END)
                AS DOUBLE) / count(*) AS mismatch_rate
    FROM scored
    GROUP BY source
    ORDER BY source
    """,
)
def q_doc_language_mismatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared-vs-detected language disagreement per SOURCE — the
    metadata-trust audit: q_confusion_matrix grades the detector
    corpus-wide, but what a curation pipeline acts on is WHICH FEED
    ships mislabeled languages (a crawler writing 'en' on everything
    shows up as one source with a high mismatch rate, not as detector
    noise). Same per-row heuristic as q_lang_id at scan speed; one
    keyed aggregate to |sources| rows; rate is one integer division."""
    from keycloak_event_stream_spark.operators.mleval import _predicted_col

    d = spread(load_table(spark, sf_dir, "documents"))
    m = (F.col("lang") != _predicted_col()).cast("int")
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(m).cast("bigint").alias("n_mismatch"),
            (F.sum(m).cast("double") / F.count(F.lit(1))).alias(
                "mismatch_rate"
            ),
        )
        .orderBy("source")
    )



@_q(
    "q_text_ascii_ratio",
    oracle="""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS n_chars,
           CAST(sum(length(text)
                    - length(regexp_replace(text, '[ -~]', '', 'g')))
                AS BIGINT) AS n_ascii_printable,
           CAST(sum(length(text)
                    - length(regexp_replace(text, '[ -~]', '', 'g')))
                AS DOUBLE) / sum(length(text)) AS ascii_ratio
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
)
def q_text_ascii_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Printable-ASCII character share per source — the
    encoding-cleanliness probe (mojibake, binary spill-through, and
    wrong-charset crawls all crater this ratio long before a language
    model chokes on them; for CJK sources a LOW ratio is the expected
    baseline, which is why it's reported per source, not corpus-wide).

    Counted by deleting the printable-ASCII class and diffing lengths —
    a per-row regexp at scan speed, identical character-class semantics
    in both engines; one keyed aggregate; one division."""
    d = spread(load_table(spark, sf_dir, "documents"))
    ascii_n = F.length("text") - F.length(
        F.regexp_replace(F.col("text"), "[ -~]", "")
    )
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.length("text")).cast("bigint").alias("n_chars"),
            F.sum(ascii_n).cast("bigint").alias("n_ascii_printable"),
            (
                F.sum(ascii_n).cast("double") / F.sum(F.length("text"))
            ).alias("ascii_ratio"),
        )
        .orderBy("source")
    )


@_q(
    "q_kn_bigram_lm",
    oracle="""
    WITH tok AS (
      SELECT doc_id, s.i, s.t
      FROM documents, LATERAL (
        SELECT unnest(string_split(text, ' ')) AS t,
               generate_subscripts(string_split(text, ' '), 1) AS i) s
    ), big AS (
      SELECT t AS w1,
             lead(t) OVER (PARTITION BY doc_id ORDER BY i) AS w2
      FROM tok
    ), cb AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS c
      FROM big WHERE w2 IS NOT NULL GROUP BY 1, 2
    ), cu AS (
      SELECT w1, CAST(sum(c) AS BIGINT) AS cw1,
             CAST(count(*) AS BIGINT) AS n1p_fwd
      FROM cb GROUP BY w1
    ), bwd AS (
      SELECT w2, CAST(count(*) AS BIGINT) AS n1p_bwd
      FROM cb GROUP BY w2
    ), btypes AS (
      SELECT CAST(count(*) AS BIGINT) AS b FROM cb
    )
    SELECT cb.w1, cb.w2, cb.c AS c_bigram,
           cu.cw1 AS c_context,
           (CAST(cb.c AS DOUBLE) - 0.75) / cu.cw1
             + (0.75 * cu.n1p_fwd / cu.cw1)
               * (CAST(bwd.n1p_bwd AS DOUBLE) / btypes.b) AS p_kn
    FROM cb
    JOIN cu ON cb.w1 = cu.w1
    JOIN bwd ON cb.w2 = bwd.w2
    CROSS JOIN btypes
    ORDER BY cb.c DESC, cb.w1, cb.w2
    LIMIT 50
    """,
)
def q_kn_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser-Ney smoothed bigram probabilities for the corpus's top-50
    bigrams — THE n-gram smoothing that modern LM evaluation still
    baselines against (unlike q_bigram_lm's add-one, KN backs off to
    CONTINUATION counts: "Francisco" is frequent but follows almost
    nothing except "San", so its unigram backoff weight is tiny):

        P_KN(w2|w1) = max(c(w1w2) − D, 0)/c(w1)
                      + D·N1+(w1·)/c(w1) · N1+(·w2)/|bigram types|

    with absolute discount D = 0.75. Every input is an integer count
    (bigram counts, context totals, forward/backward continuation
    type counts, total bigram types); only the final probability is
    double math, identically associated in both engines — and since
    every observed bigram has c ≥ 1 > D, the max() never binds and is
    omitted. Bigrams build in-row from the split array (pairs never
    leave their document), then one explode feeds three count
    aggregations; the two count tables and the 1-row type total join
    back by key (broadcast-sized). Top-50 by (count, w1, w2) total
    order."""
    # Bounded-eval width (catalog.bounded_eval_scope): the bigram
    # explosion feeds THREE count aggregations plus the two key
    # re-joins and the top-50 order spread; at corpus width the chain
    # measured 4.8 s vanilla sf0.01 for a 50-row result (r8 ABA probe,
    # BASELINE.md "measured r9 perf queue"), ~1.4 s at input-derived
    # width. The shuffled volume is bigram rows (~words-per-doc x
    # docs), so the driving count scales by _EST_WORDS_PER_DOC. No
    # persists here and the result is 50 rows, but the WHOLE body
    # still runs under the scope with an eager materialization so the
    # lazily returned frame can't execute after the conf restore.
    n_drive = footer_rows(sf_dir, "documents") * _EST_WORDS_PER_DOC
    with bounded_eval_scope(spark, n_drive):
        d = spread(load_table(spark, sf_dir, "documents"))
        toks = d.select(F.split("text", " ").alias("w"))
        pairs = toks.select(
            F.expr(
                "CASE WHEN size(w) >= 2 THEN "
                "transform(sequence(1, size(w) - 1), "
                "i -> struct(w[i-1] AS w1, w[i] AS w2)) "
                "ELSE array() END"
            ).alias("bigrams")
        ).select(F.explode("bigrams").alias("bg"))
        cb = pairs.groupBy(
            F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2")
        ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        cu = cb.groupBy("w1").agg(
            F.sum("c").cast("bigint").alias("cw1"),
            F.count(F.lit(1)).cast("bigint").alias("n1p_fwd"),
        )
        bwd = cb.groupBy("w2").agg(
            F.count(F.lit(1)).cast("bigint").alias("n1p_bwd")
        )
        btypes = cb.agg(F.count(F.lit(1)).cast("bigint").alias("b"))
        p_kn = (F.col("c").cast("double") - F.lit(0.75)) / F.col("cw1") + (
            F.lit(0.75) * F.col("n1p_fwd") / F.col("cw1")
        ) * (F.col("n1p_bwd").cast("double") / F.col("b"))
        out = (
            cb.join(cu, "w1")
            .join(bwd, "w2")
            .crossJoin(F.broadcast(btypes))
            .select(
                "w1",
                "w2",
                F.col("c").alias("c_bigram"),
                F.col("cw1").alias("c_context"),
                p_kn.alias("p_kn"),
            )
            .orderBy(F.col("c_bigram").desc(), "w1", "w2")
            .limit(50)
            .localCheckpoint(eager=True)
        )
    return out
