"""Corpus-curation operators for LLM training-data pipelines.

The north-star mandate (BASELINE.json) asks for the operations a
large-scale training-data pipeline needs beyond the reference's event
query surface (reference has none of these — SURVEY.md §2.2):
chunking long documents into model-window pieces, decontaminating the
training set against an eval set, scrubbing PII, Gopher-style quality
filtering, and deterministic per-group sampling.

Scale posture: every operator here is a narrow per-row pipeline
(chunk/scrub/quality/sample) or a single well-keyed shuffle
(decontaminate joins on the n-gram hash). Nothing collects to the
driver; all string work is JVM-side built-ins so it stays inside
whole-stage codegen on a 100 TB corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from keycloak_event_stream_spark.catalog import load_table, spread
from keycloak_event_stream_spark.operators._scale import two_phase_window
from keycloak_event_stream_spark.registry import register as _q


# ---------------------------------------------------------------------------
# Chunking: split documents into overlapping token windows
# ---------------------------------------------------------------------------

_CHUNK_WORDS = 40  # window size in whitespace tokens
_CHUNK_STRIDE = 30  # stride (overlap = window - stride)


@_q(
    "q_chunk_documents",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS words,
             len(string_split(text, ' ')) AS n_words
      FROM documents
    )
    SELECT doc_id,
           CAST(s.start / {_CHUNK_STRIDE} AS INTEGER) AS chunk_id,
           array_to_string(
             list_slice(words, s.start + 1, s.start + {_CHUNK_WORDS}),
             ' ') AS chunk_text,
           CAST(len(list_slice(words, s.start + 1, s.start + {_CHUNK_WORDS}))
                AS INTEGER) AS n_chunk_words
    FROM toks, LATERAL (
      SELECT unnest(generate_series(0, CAST(n_words AS INTEGER) - 1,
                                    {_CHUNK_STRIDE})) AS start
    ) s
    """,
)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split each document into overlapping {window}-token chunks with
    stride {stride} — the standard pre-tokenization step that turns
    variable-length documents into model-window training rows.

    Pure generate-and-slice on the token array (sequence -> transform ->
    explode): per-row fan-out with no shuffle, so a 100 TB corpus chunks
    at scan speed and the output inherits the input partitioning.
    """
    d = spread(load_table(spark, sf_dir, "documents"))
    words = F.split("text", " ")
    starts = F.sequence(
        F.lit(0), F.size(words) - F.lit(1), F.lit(_CHUNK_STRIDE)
    )
    exploded = d.select(
        "doc_id",
        words.alias("words"),
        F.explode(starts).alias("start"),
    )
    chunk = F.slice(F.col("words"), F.col("start") + 1, _CHUNK_WORDS)
    return exploded.select(
        "doc_id",
        (F.col("start") / _CHUNK_STRIDE).cast("int").alias("chunk_id"),
        F.array_join(chunk, " ").alias("chunk_text"),
        F.size(chunk).alias("n_chunk_words"),
    )


# ---------------------------------------------------------------------------
# Decontamination: n-gram overlap between the training and eval splits
# ---------------------------------------------------------------------------

_DECON_N = 8  # n-gram width for contamination matching


@_q(
    "q_decontaminate",
    oracle=f"""
    WITH grams AS (
      SELECT doc_id, source,
             unnest(list_transform(
               generate_series(0, CAST(len(string_split(text, ' '))
                                       AS INTEGER) - {_DECON_N}),
               i -> array_to_string(
                 list_slice(string_split(text, ' '), i + 1, i + {_DECON_N}),
                 ' '))) AS gram
      FROM documents
    ),
    eval_grams AS (
      SELECT DISTINCT gram FROM grams WHERE source = 'src0'
    ),
    train_grams AS (
      SELECT DISTINCT doc_id, gram FROM grams WHERE source <> 'src0'
    ),
    hits AS (
      SELECT t.doc_id, count(*) AS n_shared
      FROM train_grams t JOIN eval_grams e ON t.gram = e.gram
      GROUP BY t.doc_id
    )
    SELECT d.doc_id,
           COALESCE(h.n_shared, 0) AS n_shared,
           COALESCE(h.n_shared, 0) > 0 AS contaminated
    FROM (SELECT doc_id FROM documents WHERE source <> 'src0') d
    LEFT JOIN hits h ON d.doc_id = h.doc_id
    """,
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word {n}-gram with the held-out eval split (source = 'src0' stands
    in for the eval set on the fixture corpus).

    Shape: per-row shingling + per-row ``array_distinct`` (the
    (doc_id, gram) dedup the join semantics need is WITHIN a document,
    so it runs in-row before the explode — no shuffle of the training
    grams at all; a groupBy-distinct here was the train table's one
    wide exchange and the dominant term of the 10x ratio) -> equi-join
    on the n-gram -> count per doc. The eval side is the distinct
    n-gram set of the *eval corpus* — tiny relative to training data
    (benchmark suites are MBs against a 100 TB train set), so Catalyst
    broadcasts it and the training side flows scan -> broadcast-probe
    -> doc-keyed count without ever exchanging gram text.
    """
    d = spread(load_table(spark, sf_dir, "documents"))
    words = F.split("text", " ")
    # short-doc guard: sequence(0, n - N) runs DESCENDING for n < N in
    # Spark (slice start 0 then throws), while DuckDB's generate_series
    # yields [] — a sub-N-token doc must contribute zero grams
    starts = F.when(
        F.size(words) >= _DECON_N,
        F.sequence(F.lit(0), F.size(words) - F.lit(_DECON_N)),
    ).otherwise(F.expr("array()").cast("array<int>"))
    grams = d.select(
        "doc_id",
        "source",
        F.explode(
            F.array_distinct(
                F.transform(
                    starts,
                    lambda i: F.array_join(
                        F.slice(words, i + 1, _DECON_N), " "
                    ),
                )
            )
        ).alias("gram"),
    )
    eval_grams = (
        grams.filter(F.col("source") == "src0").select("gram").distinct()
    )
    # per-doc uniqueness already guaranteed in-row by array_distinct
    train_grams = grams.filter(F.col("source") != "src0").select(
        "doc_id", "gram"
    )
    hits = (
        train_grams.join(F.broadcast(eval_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    train_docs = d.filter(F.col("source") != "src0").select("doc_id")
    return train_docs.join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_shared"), F.lit(0)).alias("n_shared"),
        (F.coalesce(F.col("n_shared"), F.lit(0)) > 0).alias("contaminated"),
    )


# ---------------------------------------------------------------------------
# PII scrubbing: regex redaction with audit counts
# ---------------------------------------------------------------------------

# Patterns restricted to syntax with identical semantics in Java regex
# (Spark) and RE2 (DuckDB): no backrefs, no lookaround.
_PII_EMAIL = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
_PII_PHONE = r"\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b"
_PII_SSN = r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b"


@_q(
    "q_pii_scrub",
    oracle=f"""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
               '{_PII_SSN}', '<SSN>', 'g'),
             '{_PII_PHONE}', '<PHONE>', 'g') AS clean_text,
           CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS INTEGER)
             AS n_emails,
           CAST(len(regexp_extract_all(text, '{_PII_SSN}')) AS INTEGER)
             AS n_ssns,
           CAST(len(regexp_extract_all(
             regexp_replace(text, '{_PII_SSN}', '<SSN>', 'g'),
             '{_PII_PHONE}')) AS INTEGER) AS n_phones
    FROM documents
    """,
)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: replace emails, SSNs, then phone numbers with
    typed placeholders and count each redaction class for the audit
    log. SSN runs before phone because the two digit shapes overlap —
    order is part of the contract (and the phone count is taken after
    SSN redaction for the same reason).

    Pure regexp_replace chain: per-row, codegen'd, no shuffle — scrubbing
    is scan-speed at any corpus size. The fixture corpus contains no PII
    (the chain is a verified no-op there); `tests/test_curation.py`
    proves actual redaction on adversarial literals.
    """
    d = spread(load_table(spark, sf_dir, "documents"))
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("text", _PII_EMAIL, "<EMAIL>"),
            _PII_SSN,
            "<SSN>",
        ),
        _PII_PHONE,
        "<PHONE>",
    )
    return d.select(
        "doc_id",
        clean.alias("clean_text"),
        F.size(F.regexp_extract_all("text", F.lit(_PII_EMAIL), 0)).alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all("text", F.lit(_PII_SSN), 0)).alias(
            "n_ssns"
        ),
        F.size(
            F.regexp_extract_all(
                F.regexp_replace("text", _PII_SSN, "<SSN>"),
                F.lit(_PII_PHONE),
                0,
            )
        ).alias("n_phones"),
    )


# ---------------------------------------------------------------------------
# Gopher-style quality gate
# ---------------------------------------------------------------------------

_GOPHER_STOPWORDS = ["the", "a", "of", "and", "to", "in"]
_MIN_WORDS, _MAX_WORDS = 15, 100000
_MIN_MWL, _MAX_MWL = 3.0, 10.0


@_q(
    "q_quality_gopher",
    oracle=f"""
    WITH feat AS (
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words,
             (CAST(n_chars AS DOUBLE) - (len(string_split(text, ' ')) - 1))
               / len(string_split(text, ' ')) AS mean_word_len,
             CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
               / n_chars AS symbol_ratio,
             CAST(len(list_intersect(string_split(text, ' '),
                                     {_GOPHER_STOPWORDS})) AS INTEGER)
               AS n_distinct_stop
      FROM documents
    )
    SELECT doc_id, lang, n_words, mean_word_len, symbol_ratio,
           n_distinct_stop,
           n_words BETWEEN {_MIN_WORDS} AND {_MAX_WORDS} AS ok_length,
           mean_word_len BETWEEN {_MIN_MWL} AND {_MAX_MWL} AS ok_word_len,
           symbol_ratio <= 0.1 AS ok_symbols,
           n_distinct_stop >= 2 AS ok_stopwords,
           (n_words BETWEEN {_MIN_WORDS} AND {_MAX_WORDS})
             AND (mean_word_len BETWEEN {_MIN_MWL} AND {_MAX_MWL})
             AND symbol_ratio <= 0.1
             AND n_distinct_stop >= 2 AS keep
    FROM feat
    """,
)
def q_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality gate (Rae et al. 2021, public heuristics):
    word-count bounds, mean word length bounds, symbol-to-char ratio,
    and distinct-stopword floor, each surfaced as its own flag plus a
    combined ``keep``. Surfacing per-rule flags (not just the verdict)
    is what lets a pipeline audit WHY documents were dropped.

    All flags are per-row built-ins — the gate filters a 100 TB corpus
    at scan speed with zero shuffles.
    """
    d = spread(load_table(spark, sf_dir, "documents"))
    words = F.split("text", " ")
    n_words = F.size(words)
    mwl = (F.col("n_chars").cast("double") - (n_words - F.lit(1))) / n_words
    symbol_ratio = (
        F.length(F.regexp_replace("text", "[a-z0-9 ]", "")).cast("double")
        / F.col("n_chars")
    )
    stop_arr = F.array(*[F.lit(s) for s in _GOPHER_STOPWORDS])
    n_stop = F.size(F.array_intersect(words, stop_arr))
    ok_length = (n_words >= _MIN_WORDS) & (n_words <= _MAX_WORDS)
    ok_word_len = (mwl >= _MIN_MWL) & (mwl <= _MAX_MWL)
    ok_symbols = symbol_ratio <= 0.1
    ok_stopwords = n_stop >= 2
    return d.select(
        "doc_id",
        "lang",
        n_words.alias("n_words"),
        mwl.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        n_stop.alias("n_distinct_stop"),
        ok_length.alias("ok_length"),
        ok_word_len.alias("ok_word_len"),
        ok_symbols.alias("ok_symbols"),
        ok_stopwords.alias("ok_stopwords"),
        (ok_length & ok_word_len & ok_symbols & ok_stopwords).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Deterministic per-group sampling
# ---------------------------------------------------------------------------

_SAMPLE_K = 5


@_q(
    "q_sample_per_group",
    oracle=f"""
    SELECT doc_id, source, rk
    FROM (
      SELECT doc_id, source,
             CAST(row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INTEGER) AS rk
      FROM documents
    ) WHERE rk <= {_SAMPLE_K}
    """,
)
def q_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size uniform sample per source: order each group by a
    cryptographic hash of the key and keep the first k — the
    deterministic, engine-portable equivalent of per-group reservoir
    sampling (any md5 prefix is uniform, and the sample is reproducible
    run-to-run, which `TABLESAMPLE`/`rand()` are not).

    One shuffle on the group key; the window never materializes more
    than a partition. At 100 TB, groups are processed independently —
    skewed groups can be pre-aggregated with the salted two-phase
    pattern (q_agg_salted_twophase) if a single source dominates.
    """
    d = spread(load_table(spark, sf_dir, "documents"))
    w = W.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.select("doc_id", "source")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _SAMPLE_K)
    )


@_q(
    "q_pit_training_set",
    oracle="""
    WITH feats AS (
      SELECT user_id,
             count(*) AS n_events_before,
             count(CASE WHEN event_type = 'click' THEN 1 END)
               AS n_clicks_before,
             count(CASE WHEN event_type = 'error' THEN 1 END)
               AS n_errors_before,
             CAST(CAST(sum(CAST(value AS DECIMAL(27,6)))
                        AS DECIMAL(27,6)) AS DOUBLE)
               AS value_before,
             max(ts) AS last_seen
      FROM events
      WHERE ts < TIMESTAMP '2024-01-15 00:00:00'
      GROUP BY user_id
    ), labels AS (
      SELECT user_id, 1 AS label
      FROM events
      WHERE event_type = 'purchase'
        AND ts >= TIMESTAMP '2024-01-15 00:00:00'
        AND ts < TIMESTAMP '2024-01-22 00:00:00'
      GROUP BY user_id
    )
    SELECT f.user_id, f.n_events_before, f.n_clicks_before,
           f.n_errors_before, f.value_before, f.last_seen,
           COALESCE(l.label, 0) AS label
    FROM feats f LEFT JOIN labels l ON l.user_id = f.user_id
    ORDER BY f.user_id
    """,
)
def q_pit_training_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct training set: features computed ONLY from
    events strictly before the cutoff (2024-01-15), label = any
    purchase in the following 7-day window — the no-data-leakage
    constructor every supervised pipeline over event data needs, and
    the query shape feature stores exist to get right.

    The discipline is in the predicates, not the operators: the
    feature scan's ``ts < T`` and the label scan's ``[T, T+7d)`` are
    disjoint by construction, so no future information reaches a
    feature (leakage = the silent model-killer at any scale). Both
    scans prune on the time predicate; the label side reduces to a
    tiny per-user flag broadcast into the feature rollup. Value
    features stay DECIMAL; counts are integers.
    """
    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-15 00:00:00").cast("timestamp")
    horizon = F.lit("2024-01-22 00:00:00").cast("timestamp")
    feats = (
        ev.filter(F.col("ts") < cutoff)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events_before"),
            F.count(
                F.when(F.col("event_type") == "click", F.lit(1))
            ).alias("n_clicks_before"),
            F.count(
                F.when(F.col("event_type") == "error", F.lit(1))
            ).alias("n_errors_before"),
            F.sum(F.col("value").cast("decimal(27,6)"))
            .cast("decimal(27,6)")
            .cast("double")
            .alias("value_before"),
            F.max("ts").alias("last_seen"),
        )
    )
    labels = (
        ev.filter(
            (F.col("event_type") == "purchase")
            & (F.col("ts") >= cutoff)
            & (F.col("ts") < horizon)
        )
        .groupBy("user_id")
        .agg(F.lit(1).alias("label"))
    )
    return (
        feats.join(F.broadcast(labels), "user_id", "left")
        .select(
            "user_id",
            "n_events_before",
            "n_clicks_before",
            "n_errors_before",
            "value_before",
            "last_seen",
            F.coalesce(F.col("label"), F.lit(0)).alias("label"),
        )
        .orderBy("user_id")
    )


@_q(
    "q_ngram_novelty",
    oracle="""
    WITH grams AS (
      SELECT DISTINCT doc_id,
             s.t || ' ' || lead(s.t, 1) OVER w || ' '
                 || lead(s.t, 2) OVER w AS g
      FROM documents, LATERAL (
        SELECT unnest(string_split(text, ' ')) AS t,
               generate_subscripts(string_split(text, ' '), 1) AS i) s
      WINDOW w AS (PARTITION BY doc_id ORDER BY s.i)
      QUALIFY lead(s.t, 2) OVER w IS NOT NULL
    ), first_seen AS (
      SELECT g, CAST(min(doc_id) AS BIGINT) AS first_doc FROM grams
      GROUP BY g
    )
    SELECT gr.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN fs.first_doc = gr.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           CAST(sum(CASE WHEN fs.first_doc = gr.doc_id THEN 1 ELSE 0 END)
                AS DOUBLE) / count(*) AS novelty
    FROM grams gr JOIN first_seen fs ON gr.g = fs.g
    GROUP BY gr.doc_id
    ORDER BY novelty, gr.doc_id
    LIMIT 100
    """,
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus novelty curve: for each document, the fraction of its
    distinct 3-grams whose *first* corpus appearance (min doc_id, i.e.
    ingestion order) is this document. Low-novelty docs are recombined
    boilerplate — the saturation signal used to decide when more data
    from a source stops adding information (and the 100 stalest docs
    are the first drop candidates).

    3-grams assemble in-row from the split array and are deduped
    IN-ROW with ``array_distinct`` (per-doc uniqueness is a
    within-document property — same observation that fixed
    q_decontaminate's 10x ratio). The gram-keyed JOIN of the old
    formulation is gone entirely: every gram's first appearance
    belongs to exactly one document, so per-doc novel counts are the
    first-seen aggregate REGROUPED by first_doc — a bigint-only
    exchange — and per-doc totals come from a doc-keyed count that
    aggregates IN-PLACE (the explode preserves the doc_id hash
    partitioning, so that branch adds no exchange at all). A single
    hash exchange on doc_id sits above the gram projection so both
    consumers ReuseExchange ONE tokenize pass; tokenization itself
    runs wide (``spread``) below it. No filter anywhere: zero-gram
    docs carry an empty array the explode drops, matching the
    oracle's absent rows — an earlier draft's ``n_grams > 0`` filter
    was pushed below the exchange and its propagated constraint made
    Catalyst evaluate the full gram expression four times on the
    narrow scan (measured 8 s vs 1.4 s at sf0.1). At 100 TB the plan
    is: scan+tokenize once, one gram-array exchange, one
    map-side-combined first-seen aggregate (the dedup-scale object,
    |distinct grams| — the same cardinality MinHash pipelines already
    shuffle), then bigint-only traffic and a doc-cardinality
    broadcast-able left join.
    """
    d = spread(load_table(spark, sf_dir, "documents"))
    gsets = (
        # split ONCE into a materialized column: repeating split(...)
        # inside the transform lambda re-tokenizes the document per
        # gram index (O(len²) per row — measured 7× on the bench)
        d.select("doc_id", F.split("text", " ").alias("w"))
        .select(
            "doc_id",
            F.array_distinct(
                # short-doc guard: sequence(1, 0) is a DESCENDING
                # [1, 0] in Spark and element_at(w, 0) throws — a doc
                # with < 3 tokens must yield zero grams, not an error
                F.expr(
                    "CASE WHEN size(w) >= 3 THEN"
                    " transform(sequence(1, size(w) - 2),"
                    " i -> concat_ws(' ',"
                    "   element_at(w, i),"
                    "   element_at(w, i + 1),"
                    "   element_at(w, i + 2)))"
                    " ELSE array() END"
                )
            ).alias("gs"),
        )
        .repartition("doc_id")
    )
    # explode_OUTER, then drop the null rows it emits for empty-gram
    # docs: a plain explode makes InferFiltersFromGenerate add a
    # `size(<gram expr>) > 0 AND isnotnull(<gram expr>)` predicate
    # whose pushdown substitutes the alias all the way down to the
    # SCAN — the full tokenize+transform expression then runs twice
    # per row on the narrow pre-spread partitions (measured 6.9 s vs
    # 1.2 s at sf0.1). The not-null filter on the Generate's OUTPUT
    # attribute cannot be pushed below the Generate, so the gram
    # expression is evaluated exactly once, wide, below the reused
    # exchange.
    exploded = gsets.select(
        "doc_id", F.explode_outer("gs").alias("g")
    ).filter(F.col("g").isNotNull())
    per_doc = exploded.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_grams")
    )
    first_seen = exploded.groupBy("g").agg(
        F.min("doc_id").cast("bigint").alias("first_doc")
    )
    novel_counts = first_seen.groupBy("first_doc").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_novel")
    )
    return (
        per_doc.join(
            novel_counts,
            per_doc["doc_id"] == novel_counts["first_doc"],
            "left",
        )
        .select(
            "doc_id",
            "n_grams",
            F.coalesce(F.col("n_novel"), F.lit(0))
            .cast("bigint")
            .alias("n_novel"),
            (
                F.coalesce(F.col("n_novel"), F.lit(0)).cast("double")
                / F.col("n_grams")
            ).alias("novelty"),
        )
        .orderBy("novelty", "doc_id")
        .limit(100)
    )


@_q(
    "q_curriculum_interleave",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, source, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id) AS rk
      FROM documents
    )
    SELECT row_number() OVER (ORDER BY rk, source, doc_id) AS position,
           doc_id, source, rk AS rank_in_source
    FROM ranked
    ORDER BY position
    LIMIT 100
    """,
)
def q_curriculum_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic data-mixing schedule: rank documents inside each
    source by a quality proxy (length desc), then interleave sources
    round-robin by that rank — every source's best documents surface
    first and no source starves, which is the mixing discipline a
    multi-source training run uses instead of naive concatenation
    (source-ordered batches destabilize training).

    Both ranks are two-phase range-partitioned (``_scale``): the
    within-source rank would otherwise pin the corpus to |sources|
    skewed tasks, and the global interleave order (rank, source,
    doc_id) is first cut down by the LIMIT-derived predicate rk <= 100
    — a row with rank_in_source > 100 has at least 100 rows of its own
    source ahead of it, so it can never reach the first 100 positions.
    After the cut the position numbering runs over <= 100·|sources|
    rows. Deterministic total orders end-to-end, so the schedule is
    reproducible run-to-run and engine-to-engine (the property that
    makes a training run restartable mid-epoch).
    """
    d = load_table(spark, sf_dir, "documents")
    ranked = two_phase_window(
        d.select("doc_id", "source", "n_chars"),
        [F.desc("n_chars"), F.col("doc_id")],
        partition_by=["source"],
        row_number="rk",
    ).filter(F.col("rk") <= 100)
    pos_d = two_phase_window(
        ranked,
        [F.col("rk"), F.col("source"), F.col("doc_id")],
        row_number="position",
    )
    return (
        pos_d.select(
            "position",
            "doc_id",
            "source",
            F.col("rk").alias("rank_in_source"),
        )
        .orderBy("position")
        .limit(100)
    )


@_q(
    "q_k_anonymity",
    oracle="""
    WITH classes AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
             CAST(count(*) AS BIGINT) AS class_size
      FROM customer
      GROUP BY 1, 2, 3
    )
    SELECT class_size,
           CAST(count(*) AS BIGINT) AS n_classes,
           CAST(sum(class_size) AS BIGINT) AS n_individuals,
           class_size < 5 AS violates_k5
    FROM classes
    GROUP BY class_size
    ORDER BY class_size
    """,
)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier tuple (nation,
    market segment, account-balance band): the release-gating check a
    training-data pipeline runs before shipping user-adjacent records
    — every equivalence class smaller than k is a re-identification
    risk (its members are distinguishable by the quasi-identifiers
    alone).

    Two cheap aggregations: rows → equivalence classes (one shuffle on
    the QI tuple), classes → a class-size histogram labelled with the
    k=5 verdict (|distinct sizes| rows). All counts exact integers; at
    100 TB the first aggregate is the only data-sized pass, and the
    violating classes themselves are one extra filter away for the
    suppression/generalization step (the q_pii_scrub companion).
    """
    cust = load_table(spark, sf_dir, "customer")
    classes = cust.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias(
            "bal_band"
        ),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("class_size"))
    return (
        classes.groupBy("class_size")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_classes"),
            F.sum("class_size").cast("bigint").alias("n_individuals"),
        )
        .select(
            "class_size",
            "n_classes",
            "n_individuals",
            (F.col("class_size") < 5).alias("violates_k5"),
        )
        .orderBy("class_size")
    )


@_q(
    "q_pseudonymize",
    oracle="""
    WITH mapped AS (
      SELECT event_id, user_id,
             substr(sha256('kes-salt-2026:' || CAST(user_id AS VARCHAR)),
                    1, 16) AS pseudo_id
      FROM events
    )
    SELECT pseudo_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_real_ids
    FROM mapped
    GROUP BY pseudo_id
    ORDER BY pseudo_id
    LIMIT 100
    """,
)
def q_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed pseudonymization of user identifiers: replace ``user_id``
    with a truncated salted SHA-256 — referential integrity preserved
    (same user → same pseudonym, so joins/sessionization still work on
    the pseudonymized table) while the raw id never leaves the trusted
    boundary. The per-pseudonym ``n_real_ids`` column is the built-in
    collision audit: any value > 1 means the truncation is too short
    for the id space and the mapping silently merged two users.

    Per-row hash at scan speed plus one aggregate for the audit; the
    salt would come from a secret store in production (a literal here
    keeps both engines bit-identical). The q_pii_scrub companion for
    structured identifiers — scrub redacts free text, this keeps
    referential utility.
    """
    ev = load_table(spark, sf_dir, "events")
    mapped = ev.select(
        "event_id",
        "user_id",
        F.substring(
            F.sha2(
                F.concat(
                    F.lit("kes-salt-2026:"),
                    F.col("user_id").cast("string"),
                ),
                256,
            ),
            1,
            16,
        ).alias("pseudo_id"),
    )
    return (
        mapped.groupBy("pseudo_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_real_ids"),
        )
        .orderBy("pseudo_id")
        .limit(100)
    )


@_q(
    "q_mixture_weights",
    oracle="""
    WITH per_source AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CAST(len(string_split(text, ' ')) AS BIGINT))
                  AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ), powered AS (
      SELECT source, n_docs, n_tokens,
             round(pow(n_tokens, 0.7), 6) AS w_raw
      FROM per_source
    ), tot AS (
      SELECT CAST(sum(CAST(w_raw AS DECIMAL(27,6))) AS DOUBLE) AS z
      FROM powered
    )
    SELECT p.source, p.n_docs, p.n_tokens, p.w_raw,
           p.w_raw / t.z AS weight
    FROM powered p CROSS JOIN tot t
    ORDER BY p.source
    """,
)
def q_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture weights per source under the standard
    size-tempered power law w ∝ tokens^0.7 — the sampling temperature
    between proportional (α=1, big sources dominate) and uniform
    (α=0, small sources overfit) that multi-source pretraining runs
    use instead of naive concatenation.

    Token totals are exact integers from one rollup; each source's
    tempered weight rounds at 6 decimals (pow is libm — ulp-divergent
    raw) and the normalizer sums those decimals exactly, so the final
    shares are bitwise engine-portable. |sources| rows of state; the
    weights feed q_curriculum_interleave / q_sample_weighted directly.
    """
    d = load_table(spark, sf_dir, "documents")
    per_source = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.size(F.split("text", " ")).cast("bigint"))
        .cast("bigint")
        .alias("n_tokens"),
    )
    powered = per_source.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.pow(F.col("n_tokens").cast("double"), 0.7), 6).alias(
            "w_raw"
        ),
    )
    tot = powered.agg(
        F.sum(F.col("w_raw").cast("decimal(27,6)")).cast("double").alias(
            "z"
        )
    )
    return (
        powered.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "w_raw",
            (F.col("w_raw") / F.col("z")).alias("weight"),
        )
        .orderBy("source")
    )


@_q(
    "q_curation_pipeline",
    oracle="""
    WITH scored AS (
      SELECT doc_id, lang, source, n_chars, text,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
             md5(text) AS fp
      FROM documents
    ), gated AS (
      SELECT * FROM scored
      WHERE n_words BETWEEN 20 AND 5000 AND lang IN ('en', 'fr')
    ), deduped AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY fp
                                     ORDER BY doc_id) AS rn
        FROM gated) WHERE rn = 1
    )
    SELECT doc_id, lang, source, n_words,
           round(0.6 * least(CAST(n_words AS DOUBLE) / 100, 1.0)
                 + 0.4 * least(CAST(n_chars AS DOUBLE) / 500, 1.0), 6)
             AS quality
    FROM deduped
    ORDER BY quality DESC, doc_id
    LIMIT 100
    """,
)
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation composite — the chain a corpus actually
    runs, as ONE lazy plan: quality gate (length band + language
    allowlist) → exact dedup (md5 fingerprint, keep lowest doc_id) →
    quality scoring → top-100 selection. Catalyst fuses the gate into
    the scan (pushdown), the dedup is the only data-sized shuffle
    (fingerprint key), and the final top-k is a heap, not a sort —
    composing operators does not stack their costs.

    This is the "user could run their whole pipeline" proof: every
    stage exists standalone (q_quality_gopher, q_dedup_exact,
    q_quality_score, q_topk) and the composition stays one
    oracle-checked query.
    """
    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.size(F.split("text", " ")).cast("bigint").alias("n_words"),
        F.md5("text").alias("fp"),
    )
    gated = scored.filter(
        F.col("n_words").between(20, 5000)
        & F.col("lang").isin("en", "fr")
    )
    keep = F.row_number().over(
        W.partitionBy("fp").orderBy("doc_id")
    )
    deduped = gated.withColumn("rn", keep).filter(F.col("rn") == 1)
    quality = F.round(
        0.6 * F.least(F.col("n_words").cast("double") / 100, F.lit(1.0))
        + 0.4
        * F.least(F.col("n_chars").cast("double") / 500, F.lit(1.0)),
        6,
    )
    return (
        deduped.select(
            "doc_id", "lang", "source", "n_words", quality.alias("quality")
        )
        .orderBy(F.col("quality").desc(), "doc_id")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Span corruption (T5/UL2 denoising objective preparation)
# ---------------------------------------------------------------------------


@_q(
    "q_span_corruption",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS w,
             CAST(doc_id % 10 AS BIGINT) AS o
      FROM documents
    )
    SELECT doc_id,
           array_to_string(list_filter(list_transform(
             generate_series(1, len(w)),
             i -> CASE
                WHEN ((i - 1 + o) % 10) < 3
                     AND (i = 1 OR ((i - 2 + o) % 10) >= 3)
                  THEN '<extra_id_' || ((i - 1 + o) // 10) || '>'
                WHEN ((i - 1 + o) % 10) < 3 THEN ''
                ELSE w[i] END),
             s -> s <> ''), ' ') AS input_text,
           array_to_string(list_filter(list_transform(
             generate_series(1, len(w)),
             i -> CASE
                WHEN ((i - 1 + o) % 10) < 3
                     AND (i = 1 OR ((i - 2 + o) % 10) >= 3)
                  THEN '<extra_id_' || ((i - 1 + o) // 10) || '>'
                       || ' ' || w[i]
                WHEN ((i - 1 + o) % 10) < 3 THEN w[i]
                ELSE '' END),
             s -> s <> ''), ' ') AS target_text,
           CAST(len(list_filter(generate_series(1, len(w)),
             i -> ((i - 1 + o) % 10) < 3)) AS BIGINT) AS n_masked
    FROM toks
    """,
)
def q_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5/UL2-style span corruption: replace token spans with sentinel
    tokens in the input and emit the masked spans (prefixed by their
    sentinels) as the target — the (input_text, target_text) pair a
    denoising-objective trainer consumes.

    Spans are DETERMINISTIC, not RNG: a 3-token span opens every 10
    positions, phase-shifted per document by doc_id % 10 (so the mask
    pattern varies across documents but replays bit-identically on any
    engine/partitioning — the q_train_test_split no-RNG discipline;
    ~30% corruption rate, T5's default neighborhood). Sentinels are
    numbered by period index, so input and target sentinels align by
    construction.

    Pure per-row array math (sequence -> transform -> filter -> join):
    no shuffle at all — a 100 TB corpus corrupts at scan speed and the
    output inherits the input partitioning. The whole op stays in
    whole-stage codegen; the oracle runs the identical expressions, so
    even the string assembly is bitwise-checked.
    """
    d = spread(load_table(spark, sf_dir, "documents"))
    base = d.select(
        "doc_id",
        F.split("text", " ").alias("w"),
        (F.col("doc_id") % 10).cast("bigint").alias("o"),
    )
    mk = (
        "array_join(filter(transform(sequence(1, size(w)),"
        " i -> CASE"
        "   WHEN ((i - 1 + o) % 10) < 3"
        "        AND (i = 1 OR ((i - 2 + o) % 10) >= 3)"
        "     THEN concat('<extra_id_', cast((i - 1 + o) div 10 as string),"
        "                 '>'{target_head})"
        "   WHEN ((i - 1 + o) % 10) < 3 THEN {masked}"
        "   ELSE {unmasked} END),"
        " s -> s != ''), ' ')"
    )
    input_expr = mk.format(
        target_head="", masked="''", unmasked="element_at(w, i)"
    )
    target_expr = mk.format(
        target_head=", ' ', element_at(w, i)",
        masked="element_at(w, i)",
        unmasked="''",
    )
    n_masked = (
        "size(filter(sequence(1, size(w)), i -> ((i - 1 + o) % 10) < 3))"
    )
    return base.select(
        "doc_id",
        F.expr(input_expr).alias("input_text"),
        F.expr(target_expr).alias("target_text"),
        F.expr(n_masked).cast("bigint").alias("n_masked"),
    )


@_q(
    "q_fim_transform",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS w,
             len(string_split(text, ' ')) AS n
      FROM documents
    ), cuts AS (
      SELECT doc_id, w, n,
             1 + CAST(('0x' || substr(md5(doc_id || ':a'), 1, 6)) AS BIGINT)
                 % greatest(n - 1, 1) AS c1span,
             1 + CAST(('0x' || substr(md5(doc_id || ':b'), 1, 6)) AS BIGINT)
                 % greatest(n - 1, 1) AS c2span
      FROM toks
    ), bounds AS (
      SELECT doc_id, w, n,
             least(c1span, c2span) AS lo,
             greatest(c1span, c2span) AS hi
      FROM cuts
    )
    SELECT doc_id,
           COALESCE(array_to_string(list_slice(w, 1, lo), ' '), '')
             AS prefix,
           COALESCE(array_to_string(list_slice(w, lo + 1, hi), ' '), '')
             AS middle,
           COALESCE(array_to_string(list_slice(w, hi + 1, n), ' '), '')
             AS suffix,
           '<PRE> '
             || COALESCE(array_to_string(list_slice(w, 1, lo), ' '), '')
             || ' <SUF> '
             || COALESCE(array_to_string(list_slice(w, hi + 1, n), ' '), '')
             || ' <MID> '
             || COALESCE(array_to_string(list_slice(w, lo + 1, hi), ' '), '')
             AS psm_text
    FROM bounds
    """,
)
def q_fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle transform (PSM order): each document splits
    at two deterministic cut points into prefix/middle/suffix, emitted
    both as columns and as the sentinel-delimited
    ``<PRE> prefix <SUF> suffix <MID> middle`` training string — the
    infilling objective code models train on alongside left-to-right.

    Cut points are md5-derived from doc_id (the no-RNG discipline):
    uniform over token boundaries, bit-identical on any engine and any
    partitioning, and distinct salts (':a'/':b') decorrelate the two
    cuts. Pure per-row array slicing — no shuffle, scan-speed, stays
    in whole-stage codegen; both engines assemble the identical string
    so the transform is oracle-checked bitwise.
    """
    d = spread(load_table(spark, sf_dir, "documents"))
    base = d.select(
        "doc_id",
        F.split("text", " ").alias("w"),
        F.size(F.split("text", " ")).alias("n"),
    )
    cut = (
        "1 + cast(conv(substr(md5(concat(doc_id, ':{salt}')), 1, 6),"
        " 16, 10) as bigint) % greatest(n - 1, 1)"
    )
    bounds = base.select(
        "doc_id",
        "w",
        "n",
        F.least(
            F.expr(cut.format(salt="a")), F.expr(cut.format(salt="b"))
        ).alias("lo"),
        F.greatest(
            F.expr(cut.format(salt="a")), F.expr(cut.format(salt="b"))
        ).alias("hi"),
    )
    part = "array_join(slice(w, {start}, {length}), ' ')"
    prefix = part.format(start="1", length="lo")
    middle = part.format(start="lo + 1", length="hi - lo")
    suffix = part.format(start="hi + 1", length="n - hi")
    return bounds.select(
        "doc_id",
        F.expr(prefix).alias("prefix"),
        F.expr(middle).alias("middle"),
        F.expr(suffix).alias("suffix"),
        F.expr(
            f"concat('<PRE> ', {prefix}, ' <SUF> ', {suffix},"
            f" ' <MID> ', {middle})"
        ).alias("psm_text"),
    )


@_q(
    "q_source_overlap",
    oracle=f"""
    WITH grams AS (
      SELECT DISTINCT source,
             unnest(list_transform(
               generate_series(0, CAST(len(string_split(text, ' '))
                                       AS INTEGER) - {_DECON_N}),
               i -> array_to_string(
                 list_slice(string_split(text, ' '), i + 1, i + {_DECON_N}),
                 ' '))) AS gram
      FROM documents
    ), sizes AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_grams
      FROM grams GROUP BY source
    ), pairs AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(count(*) AS BIGINT) AS shared_grams
      FROM grams a JOIN grams b
        ON a.gram = b.gram AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT p.src_a, p.src_b, p.shared_grams,
           sa.n_grams AS n_grams_a, sb.n_grams AS n_grams_b,
           CAST(p.shared_grams AS DOUBLE)
             / (sa.n_grams + sb.n_grams - p.shared_grams) AS jaccard
    FROM pairs p
    JOIN sizes sa ON sa.source = p.src_a
    JOIN sizes sb ON sb.source = p.src_b
    ORDER BY p.src_a, p.src_b
    """,
)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: pairwise 8-gram overlap and
    Jaccard between every source pair — the generalization of
    q_decontaminate from "train vs one eval set" to the full
    source-by-source audit a corpus report publishes (which crawls
    duplicate each other, whether a vendor drop is a re-crawl).

    Shape: per-row shingling (short-doc-guarded) -> per-source
    distinct gram sets -> self-equi-join keyed on the gram -> pair
    counts. The join is gram-keyed, so a gram shared by s sources
    contributes s·(s-1)/2 pair rows — bounded by |sources|² per gram,
    and the output is |sources|² rows. At 100 TB you'd pre-hash grams
    to 16 bytes (the dedup discipline) — the shuffle then carries
    hashes, not text.
    """
    d = spread(load_table(spark, sf_dir, "documents"))
    words = F.split("text", " ")
    starts = F.when(
        F.size(words) >= _DECON_N,
        F.sequence(F.lit(0), F.size(words) - F.lit(_DECON_N)),
    ).otherwise(F.expr("array()").cast("array<int>"))
    grams = d.select(
        "source",
        F.explode(
            F.transform(
                starts,
                lambda i: F.array_join(
                    F.slice(words, i + 1, _DECON_N), " "
                ),
            )
        ).alias("gram"),
    ).distinct()
    sizes = grams.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_grams")
    )
    a = grams.select(F.col("source").alias("src_a"), "gram")
    b = grams.select(F.col("source").alias("src_b"), "gram")
    pairs = (
        a.join(b, "gram")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_grams"))
    )
    sa = sizes.select(
        F.col("source").alias("src_a"), F.col("n_grams").alias("n_grams_a")
    )
    sb = sizes.select(
        F.col("source").alias("src_b"), F.col("n_grams").alias("n_grams_b")
    )
    return (
        pairs.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            "shared_grams",
            "n_grams_a",
            "n_grams_b",
            (
                F.col("shared_grams").cast("double")
                / (
                    F.col("n_grams_a")
                    + F.col("n_grams_b")
                    - F.col("shared_grams")
                )
            ).alias("jaccard"),
        )
        .orderBy("src_a", "src_b")
    )


@_q(
    "q_l_diversity",
    oracle="""
    WITH classes AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
             CAST(count(*) AS BIGINT) AS class_size,
             CAST(count(DISTINCT c_custkey % 7) AS BIGINT) AS l_sensitive
      FROM customer
      GROUP BY 1, 2, 3
    )
    SELECT l_sensitive,
           CAST(count(*) AS BIGINT) AS n_classes,
           CAST(sum(class_size) AS BIGINT) AS n_individuals,
           l_sensitive < 3 AS violates_l3
    FROM classes
    GROUP BY l_sensitive
    ORDER BY l_sensitive
    """,
)
def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the strictly stronger companion to
    q_k_anonymity: a quasi-identifier class can be large (k-anonymous)
    yet still leak if all its members share one sensitive value, so
    the gate counts DISTINCT sensitive values per class (here a
    synthetic 7-valued sensitive attribute derived from the key) and
    histograms classes by that diversity, flagging l < 3.

    Same two-aggregation shape as k-anonymity: one shuffle on the QI
    tuple with a distinct-count (partial-aggregated map-side), then a
    |distinct l| histogram. Exact integers throughout."""
    cust = load_table(spark, sf_dir, "customer")
    classes = cust.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("bal_band"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("class_size"),
        F.countDistinct(F.col("c_custkey") % 7)
        .cast("bigint")
        .alias("l_sensitive"),
    )
    return (
        classes.groupBy("l_sensitive")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_classes"),
            F.sum("class_size").cast("bigint").alias("n_individuals"),
        )
        .select(
            "l_sensitive",
            "n_classes",
            "n_individuals",
            (F.col("l_sensitive") < 3).alias("violates_l3"),
        )
        .orderBy("l_sensitive")
    )


@_q(
    "q_t_closeness",
    oracle="""
    WITH base AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_band
      FROM customer
    ),
    buckets AS (SELECT DISTINCT bal_band FROM base),
    nb AS (SELECT CAST(count(*) AS BIGINT) AS n_buckets FROM buckets),
    classes AS (
      SELECT DISTINCT c_nationkey, c_mktsegment FROM base
    ),
    cells AS (
      SELECT c_nationkey, c_mktsegment, bal_band,
             CAST(count(*) AS BIGINT) AS c
      FROM base GROUP BY 1, 2, 3
    ),
    grid AS (
      SELECT cl.c_nationkey, cl.c_mktsegment, b.bal_band,
             COALESCE(ce.c, 0) AS c
      FROM classes cl CROSS JOIN buckets b
      LEFT JOIN cells ce
        ON ce.c_nationkey = cl.c_nationkey
       AND ce.c_mktsegment = cl.c_mktsegment
       AND ce.bal_band = b.bal_band
    ),
    gd AS (
      SELECT bal_band, CAST(count(*) AS BIGINT) AS gc FROM base
      GROUP BY 1
    ),
    gtot AS (SELECT CAST(count(*) AS BIGINT) AS g FROM base),
    cum AS (
      SELECT gr.c_nationkey, gr.c_mktsegment,
             CAST(sum(gr.c) OVER w AS BIGINT) AS cumc,
             CAST(sum(gr.c) OVER (
               PARTITION BY gr.c_nationkey, gr.c_mktsegment)
               AS BIGINT) AS n,
             CAST(sum(gd.gc) OVER w AS BIGINT) AS cumg,
             gt.g, nb.n_buckets, gr.bal_band
      FROM grid gr
      JOIN gd ON gd.bal_band = gr.bal_band
      CROSS JOIN gtot gt CROSS JOIN nb
      WINDOW w AS (PARTITION BY gr.c_nationkey, gr.c_mktsegment
                   ORDER BY gr.bal_band)
    )
    SELECT c_nationkey, c_mktsegment,
           any_value(n) AS class_size,
           CAST(sum(CAST(round(abs(CAST(cumc AS DOUBLE) / n
                                   - CAST(cumg AS DOUBLE) / g), 6)
                         AS DECIMAL(27,6))) AS DOUBLE)
             / (any_value(n_buckets) - 1) AS t_emd
    FROM cum
    GROUP BY c_nationkey, c_mktsegment
    ORDER BY t_emd DESC, c_nationkey, c_mktsegment
    LIMIT 50
    """,
)
def q_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit — the third rung of the privacy ladder after
    q_k_anonymity (class size) and q_l_diversity (sensitive-value
    variety): a class can be large AND diverse yet still leak because
    its sensitive-value *distribution* differs from the table's (e.g.
    one segment skews rich). t = Earth Mover's Distance between the
    class's balance-band distribution and the global one; for ordered
    bands with unit ground distance, EMD = Σ|cumP − cumQ| / (B−1).

    Scale shape: one shuffle to (QI, band) cells; the QI-class ×
    bucket grid is |classes|×|bands| (bounded, here ~125×~7), so the
    cumulative window runs partitioned by class over a statically
    bounded band domain — never a row-level sort. Integer cumulative
    counts divide once per cell; |Δ| rounds at 6 dp into a DECIMAL
    sum."""
    cust = load_table(spark, sf_dir, "customer")
    base = cust.select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 2000).cast("bigint").alias("bal_band"),
    )
    buckets = base.select("bal_band").distinct()
    nb = buckets.agg(F.count(F.lit(1)).cast("bigint").alias("n_buckets"))
    classes = base.select("c_nationkey", "c_mktsegment").distinct()
    cells = base.groupBy("c_nationkey", "c_mktsegment", "bal_band").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    grid = (
        classes.crossJoin(F.broadcast(buckets))
        .join(cells, ["c_nationkey", "c_mktsegment", "bal_band"], "left")
        .withColumn("c", F.coalesce(F.col("c"), F.lit(0)))
    )
    gd = base.groupBy("bal_band").agg(
        F.count(F.lit(1)).cast("bigint").alias("gc")
    )
    gtot = base.agg(F.count(F.lit(1)).cast("bigint").alias("g"))
    w = (
        W.partitionBy("c_nationkey", "c_mktsegment")
        .orderBy("bal_band")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wn = W.partitionBy("c_nationkey", "c_mktsegment")
    cum = (
        grid.join(F.broadcast(gd), "bal_band")
        .crossJoin(F.broadcast(gtot))
        .crossJoin(F.broadcast(nb))
        .select(
            "c_nationkey",
            "c_mktsegment",
            "bal_band",
            F.sum("c").over(w).cast("bigint").alias("cumc"),
            F.sum("c").over(wn).cast("bigint").alias("n"),
            F.sum("gc").over(w).cast("bigint").alias("cumg"),
            "g",
            "n_buckets",
        )
    )
    term = F.round(
        F.abs(
            F.col("cumc").cast("double") / F.col("n")
            - F.col("cumg").cast("double") / F.col("g")
        ),
        6,
    ).cast("decimal(27,6)")
    return (
        cum.groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.first("n").alias("class_size"),
            F.try_divide(
                F.sum(term).cast("double"),
                F.first("n_buckets") - 1,
            ).alias("t_emd"),
        )
        .orderBy(F.col("t_emd").desc(), "c_nationkey", "c_mktsegment")
        .limit(50)
    )


@_q(
    "q_dp_count_laplace",
    oracle="""
    WITH counts AS (
      SELECT c_nationkey, CAST(count(*) AS BIGINT) AS true_n
      FROM customer GROUP BY c_nationkey
    ),
    seeded AS (
      SELECT c_nationkey, true_n,
             (CAST(('0x' || substr(md5('dp-seed:'
                      || CAST(c_nationkey AS VARCHAR)), 1, 8))
                   AS BIGINT) + 0.5) / 4294967296.0 AS u
      FROM counts
    )
    SELECT c_nationkey, true_n,
           round(CAST(true_n AS DOUBLE)
                 + CASE WHEN u < 0.5 THEN ln(2.0 * u)
                        ELSE -ln(2.0 * (1.0 - u)) END, 6)
             AS noisy_n,
           CAST(1.0 AS DOUBLE) AS epsilon
    FROM seeded
    ORDER BY c_nationkey
    """,
)
def q_dp_count_laplace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private group counts via the Laplace mechanism
    (epsilon = 1, sensitivity 1 for a count query): the release step
    after the k-anonymity / l-diversity / t-closeness audits, when
    aggregate statistics leave the trust boundary. Noise is drawn by
    inverse-CDF from a *seeded* md5 uniform per group key — the
    deterministic-noise discipline every other approximate operator
    here uses, so the mechanism itself is bitwise oracle-checkable
    (a production run would swap the seed per release epoch; the
    plumbing, scale shape, and calibration b = Δ/ε = 1 are the real
    thing). true_n is emitted alongside for audit; a release view
    would project it away.

    Scale: one shuffle to |groups| cells, then a per-row closed-form
    expression — no RNG state, no driver coordination, identical
    noise on any partitioning. The per-group noisy value rounds at
    6 dp so libm ln ulp differences cannot surface."""
    cust = load_table(spark, sf_dir, "customer")
    counts = cust.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("true_n")
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("dp-seed:"),
                        F.col("c_nationkey").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        + 0.5
    ) / F.lit(4294967296.0)
    noise = F.when(u < 0.5, F.log(2.0 * u)).otherwise(
        -F.log(2.0 * (F.lit(1.0) - u))
    )
    return counts.select(
        "c_nationkey",
        "true_n",
        F.round(F.col("true_n").cast("double") + noise, 6).alias("noisy_n"),
        F.lit(1.0).cast("double").alias("epsilon"),
    ).orderBy("c_nationkey")


@_q(
    "q_instruction_format",
    oracle="""
    WITH tok AS (
      SELECT doc_id, source, string_split(text, ' ') AS w
      FROM documents
    ),
    parts AS (
      SELECT doc_id, source,
             CAST(len(w) AS BIGINT) AS n_tok,
             COALESCE(array_to_string(list_slice(w, 1, 30), ' '), '')
               AS user_part,
             COALESCE(array_to_string(
               list_slice(w, 31, len(w)), ' '), '') AS asst_part
      FROM tok
    )
    SELECT doc_id, source, n_tok,
           '<|im_start|>user\n' || user_part
             || '<|im_end|>\n<|im_start|>assistant\n' AS prompt,
           asst_part || '<|im_end|>' AS completion,
           CAST(least(n_tok, 30) AS BIGINT) AS loss_mask_prefix_tokens
    FROM parts
    ORDER BY doc_id
    """,
)
def q_instruction_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chat-template transform: each document becomes a prompt/
    completion training example (first 30 tokens as the user turn,
    the rest as the assistant turn, ChatML-style delimiters), plus
    the loss-mask boundary — the token count whose loss the trainer
    zeroes so the model learns to ANSWER, not to parrot prompts. The
    last formatting mile every instruction-tuning pipeline runs
    between curation and the tokenizer.

    Pure per-row string/array expressions — zero shuffles, codegen'd,
    scan speed at any corpus size. Empty assistant slices COALESCE to
    '' (DuckDB's list_slice yields NULL on an empty range where
    Spark's slice yields an empty array — the engine-portability trap
    documented in the verify playbook)."""
    d = spread(load_table(spark, sf_dir, "documents"))
    w = F.split(F.col("text"), " ")
    parts = d.select(
        "doc_id",
        "source",
        F.size(w).cast("bigint").alias("n_tok"),
        F.array_join(F.slice(w, 1, 30), " ").alias("user_part"),
        F.when(
            F.size(w) > 30,
            F.array_join(
                F.expr("slice(split(text, ' '), 31, size(split(text, ' ')))"),
                " ",
            ),
        )
        .otherwise(F.lit(""))
        .alias("asst_part"),
    )
    return parts.select(
        "doc_id",
        "source",
        "n_tok",
        F.concat(
            F.lit("<|im_start|>user\n"),
            F.col("user_part"),
            F.lit("<|im_end|>\n<|im_start|>assistant\n"),
        ).alias("prompt"),
        F.concat(F.col("asst_part"), F.lit("<|im_end|>")).alias(
            "completion"
        ),
        F.least(F.col("n_tok"), F.lit(30)).cast("bigint").alias(
            "loss_mask_prefix_tokens"
        ),
    ).orderBy("doc_id")


_BLOCKLIST = ["slow", "corrupt", "poison", "junk"]


@_q(
    "q_safety_lexicon",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, source, string_split(text, ' ') AS w
      FROM documents
    ),
    hits AS (
      SELECT doc_id, source,
             CAST(len(w) AS BIGINT) AS n_tok,
             CAST(len(list_filter(w, x -> list_contains(
               {_BLOCKLIST!r}, x))) AS BIGINT) AS n_hits
      FROM tok
    )
    SELECT doc_id, source, n_tok, n_hits,
           CAST(n_hits AS DOUBLE) / n_tok AS hit_rate,
           CAST(CASE WHEN n_hits * 100 > n_tok THEN 1 ELSE 0 END
                AS INTEGER) AS blocked
    FROM hits
    WHERE n_hits > 0
    ORDER BY doc_id
    """,
)
def q_safety_lexicon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-based safety screen: per-document blocklist-token hits
    and rate, with a block flag when hits exceed 1% of tokens — the
    first (cheapest) rung of a content-safety ladder, run before any
    model-based classifier because it filters at scan speed and its
    false-positive behavior is fully auditable. The blocklist stands
    in for a real deny-lexicon; the plumbing (token match, rate
    threshold, audit rows) is the production shape.

    Per-row array intersection against a literal list — zero
    shuffles, codegen'd; the block decision is the integer
    cross-product n_hits·100 > n_tok (no float threshold). Only hit
    documents are emitted, so the audit output is proportional to
    the problem, not the corpus."""
    d = spread(load_table(spark, sf_dir, "documents"))
    w = F.split(F.col("text"), " ")
    lex = F.array(*[F.lit(t) for t in _BLOCKLIST])
    hits = d.select(
        "doc_id",
        "source",
        F.size(w).cast("bigint").alias("n_tok"),
        F.size(F.filter(w, lambda x: F.array_contains(lex, x)))
        .cast("bigint")
        .alias("n_hits"),
    )
    return (
        hits.filter(F.col("n_hits") > 0)
        .select(
            "doc_id",
            "source",
            "n_tok",
            "n_hits",
            (F.col("n_hits").cast("double") / F.col("n_tok")).alias(
                "hit_rate"
            ),
            F.when(F.col("n_hits") * 100 > F.col("n_tok"), 1)
            .otherwise(0)
            .cast("int")
            .alias("blocked"),
        )
        .orderBy("doc_id")
    )


@_q(
    "q_repetition_profile",
    oracle="""
    WITH grams AS (
      SELECT doc_id, sh FROM (
        SELECT doc_id,
               unnest(CASE WHEN len(w) >= 8 THEN
                 list_transform(generate_series(1, len(w) - 7),
                   i -> array_to_string(list_slice(w, i, i + 7), ' '))
                 ELSE [] END) AS sh
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      )
    ),
    per_doc AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_grams,
             CAST(count(DISTINCT sh) AS BIGINT) AS n_distinct,
             CAST(max(c) AS BIGINT) AS top_gram_n
      FROM (SELECT doc_id, sh, count(*) AS c
            FROM grams GROUP BY doc_id, sh)
      GROUP BY doc_id
    )
    SELECT doc_id, n_grams, n_distinct, top_gram_n,
           1.0 - CAST(n_distinct AS DOUBLE) / n_grams AS rep_ratio
    FROM per_doc
    ORDER BY doc_id
    """,
)
def q_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition profile over word 8-grams: total vs
    distinct gram counts, the most-repeated gram's frequency, and the
    repetition ratio — the Gopher/RefinedWeb "repetitive document"
    signal (boilerplate, keyword stuffing, and decoding loops all show
    as rep_ratio ≫ 0) that complements q_quality_gopher's length/symbol
    rules and q_dedup_segments' CROSS-document span removal.

    Gram expansion is map-side with the short-doc guard (len < 8 →
    empty, never a descending sequence); the reduce is keyed by
    (doc_id, gram) then doc_id — shuffle volume is gram counts, not
    text. Ratios are one integer division."""
    d = spread(load_table(spark, sf_dir, "documents"))
    # materialize the token array ONCE — inlining split() into the gram
    # lambda re-tokenizes per gram index (the q_ngram_novelty 3x
    # regression class)
    words = d.select("doc_id", F.split("text", " ").alias("w"))
    grams = words.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("w") >= 8,
                F.expr(
                    "transform(sequence(1, size(w) - 7),"
                    " i -> array_join(slice(w, i, 8), ' '))"
                ),
            ).otherwise(F.expr("array()"))
        ).alias("sh"),
    )
    per_gram = grams.groupBy("doc_id", "sh").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    per_doc = per_gram.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_grams"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        F.max("c").cast("bigint").alias("top_gram_n"),
    )
    return per_doc.select(
        "doc_id",
        "n_grams",
        "n_distinct",
        "top_gram_n",
        (
            F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n_grams")
        ).alias("rep_ratio"),
    ).orderBy("doc_id")


@_q(
    "q_dp_mean_laplace",
    oracle="""
    WITH clamped AS (
      SELECT c_nationkey,
             CAST(CAST(least(greatest(CAST(c_acctbal AS DECIMAL(18,2)),
                                      0.00), 10000.00) * 100 AS BIGINT)
                  AS BIGINT) AS cents
      FROM customer
    ),
    stats AS (
      SELECT c_nationkey,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS sum_cents
      FROM clamped GROUP BY c_nationkey
    ),
    seeded AS (
      SELECT c_nationkey, n,
             CAST(sum_cents AS DOUBLE) / n / 100.0 AS true_mean,
             (CAST(('0x' || substr(md5('dp-mean-seed:'
                      || CAST(c_nationkey AS VARCHAR)), 1, 8))
                   AS BIGINT) + 0.5) / 4294967296.0 AS u
      FROM stats
    )
    SELECT c_nationkey, n, true_mean,
           round(true_mean
                 + (10000.0 / n)
                   * CASE WHEN u < 0.5 THEN ln(2.0 * u)
                          ELSE -ln(2.0 * (1.0 - u)) END, 6) AS noisy_mean,
           CAST(1.0 AS DOUBLE) AS epsilon
    FROM seeded
    ORDER BY c_nationkey
    """,
)
def q_dp_mean_laplace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private per-nation mean account balance — the
    bounded-mean rung of the privacy ladder above q_dp_count_laplace:
    values are CLAMPED to [0, 10000] first (bounding each user's
    contribution is what gives the mean its sensitivity Δ = C/n), then
    the Laplace mechanism adds noise with scale b = Δ/ε = C/(n·ε),
    ε = 1. The same seeded-md5 inverse-CDF draw as the DP count keeps
    the mechanism bitwise oracle-checkable; a production release swaps
    the seed per epoch.

    Determinism: clamping and the mean run in exact integer cents
    (money discipline); only the final noise expression is double,
    rounded at 6 dp so libm ln ulps cannot surface. Scale: one shuffle
    to |nations| cells, then closed-form per-row math."""
    cust = load_table(spark, sf_dir, "customer")
    cents = (
        F.least(
            F.greatest(
                F.col("c_acctbal").cast("decimal(18,2)"),
                F.lit("0.00").cast("decimal(18,2)"),
            ),
            F.lit("10000.00").cast("decimal(18,2)"),
        )
        * 100
    ).cast("bigint")
    stats = cust.select("c_nationkey", cents.alias("cents")).groupBy(
        "c_nationkey"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("dp-mean-seed:"),
                        F.col("c_nationkey").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        + 0.5
    ) / F.lit(4294967296.0)
    true_mean = F.col("sum_cents").cast("double") / F.col("n") / F.lit(100.0)
    lap = F.when(
        F.col("u") < 0.5, F.log(F.lit(2.0) * F.col("u"))
    ).otherwise(-F.log(F.lit(2.0) * (F.lit(1.0) - F.col("u"))))
    return (
        stats.select(
            "c_nationkey",
            "n",
            true_mean.alias("true_mean"),
            u.alias("u"),
        )
        .select(
            "c_nationkey",
            "n",
            "true_mean",
            F.round(
                F.col("true_mean") + (F.lit(10000.0) / F.col("n")) * lap, 6
            ).alias("noisy_mean"),
            F.lit(1.0).alias("epsilon"),
        )
        .orderBy("c_nationkey")
    )
