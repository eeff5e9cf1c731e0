"""Dataset assembly operators for training pipelines: deterministic
splits, stratified sampling, dedup survivor selection, sequence packing.

All sampling here is *hash-based*, never RNG-based: membership is a pure
function of the row key, so splits are reproducible across runs,
engines, partitionings, and cluster sizes — the property that matters
when a 100 TB corpus is re-materialized and the eval set must not move.
(`df.sample()`/`sampleBy()` are partition-order-dependent; they have no
place in a reproducible pipeline.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from keycloak_event_stream_spark.catalog import load_table, spread
from keycloak_event_stream_spark.operators._scale import two_phase_window
from keycloak_event_stream_spark.registry import register as _q

# hash-bucket: first 4 hex chars of md5(key) -> 0..65535, identical in
# both engines; bucket < threshold*65536 selects a deterministic slice
def _spark_bucket(key: str) -> F.Column:
    return F.conv(F.substring(F.md5(key), 1, 4), 16, 10).cast("int")


def _duck_bucket(key: str) -> str:
    return f"CAST(('0x' || substr(md5({key}), 1, 4))::INTEGER AS INTEGER)"


@_q(
    "q_train_test_split",
    oracle=f"""
    SELECT doc_id, lang,
           CASE WHEN {_duck_bucket("CAST(doc_id AS VARCHAR)")} < 58982
                THEN 'train' ELSE 'test' END AS split
    FROM documents
    """,
)
def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/10 train/test split by key hash (58982 =
    0.9 * 65536). A document's split never changes when the corpus
    grows, shrinks, or repartitions — unlike df.randomSplit."""
    d = load_table(spark, sf_dir, "documents")
    bucket = _spark_bucket(F.col("doc_id").cast("string"))
    return d.select(
        "doc_id",
        "lang",
        F.when(bucket < 58982, "train").otherwise("test").alias("split"),
    )


@_q(
    "q_stratified_sample",
    oracle=f"""
    SELECT doc_id, lang, source
    FROM documents
    WHERE {_duck_bucket("CAST(doc_id AS VARCHAR)")} <
          CASE WHEN lang = 'en' THEN 6554 ELSE 32768 END
    """,
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-stratum rates (10% of the
    dominant 'en', 50% elsewhere) via the same key hash — the standard
    rebalance move for over-represented languages/sources, reproducible
    by construction."""
    d = load_table(spark, sf_dir, "documents")
    bucket = _spark_bucket(F.col("doc_id").cast("string"))
    rate = F.when(F.col("lang") == "en", 6554).otherwise(32768)
    return d.filter(bucket < rate).select("doc_id", "lang", "source")


@_q(
    "q_dedup_keep_best",
    oracle="""
    WITH scored AS (
      SELECT doc_id, lang, source, n_chars,
             md5(lower(trim(text))) AS fp,
             row_number() OVER (PARTITION BY md5(lower(trim(text)))
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM documents
    )
    SELECT doc_id, lang, source, n_chars, fp
    FROM scored WHERE rn = 1
    """,
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup survivor selection: within each content-fingerprint group
    keep the best row by an explicit policy (longest, then lowest id) —
    the window-rank idiom that replaces dropDuplicates' arbitrary
    "whichever row the execution happened to see first"."""
    d = spread(load_table(spark, sf_dir, "documents"))
    fp = F.md5(F.lower(F.trim("text")))
    w = W.partitionBy(fp).orderBy(F.col("n_chars").desc(), F.col("doc_id"))
    return (
        d.withColumn("fp", fp)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "source", "n_chars", "fp")
    )


@_q(
    "q_pack_sequences",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    run AS (
      SELECT doc_id, source, n_tokens,
             sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum_tokens
      FROM toks
    )
    SELECT doc_id, source, n_tokens,
           CAST(floor((cum_tokens - n_tokens) / 2048) AS BIGINT) AS pack_id,
           CAST(cum_tokens - n_tokens
             - 2048 * CAST(floor((cum_tokens - n_tokens) / 2048) AS BIGINT)
             AS BIGINT) AS pack_offset
    FROM run
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for a 2048-token context budget: documents are
    laid end-to-end per source in doc_id order (running token sum),
    and each lands in pack floor(start/budget) at offset start%budget.
    The per-source running sum uses the two-phase range-partitioned
    cumsum (``_scale.two_phase_window``): a handful of skewed source
    keys would otherwise pin the whole corpus to |sources| tasks —
    here the order spread fans out to k range partitions regardless of
    source cardinality. Deterministic because the order is a total
    key, not arrival order."""
    d = spread(load_table(spark, sf_dir, "documents"))
    toks = d.select(
        "doc_id", "source", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    toks = two_phase_window(
        toks,
        [F.col("doc_id")],
        partition_by=["source"],
        cumsum={"_cum": "n_tokens"},
    )
    start = F.col("_cum") - F.col("n_tokens")
    pack = F.floor(start / 2048)
    return toks.select(
        "doc_id",
        "source",
        "n_tokens",
        pack.alias("pack_id"),
        (start - 2048 * pack).alias("pack_offset"),
    )


@_q(
    "q_sample_weighted",
    oracle="""
    WITH scored AS (
      SELECT doc_id, n_chars,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) AS h
      FROM documents
    )
    SELECT doc_id, n_chars
    FROM scored
    WHERE CAST(h AS DOUBLE) / 4294967296.0
          < CAST(n_chars AS DOUBLE) / 2000.0
    ORDER BY doc_id
    """,
)
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional deterministic sampling: each document is
    kept with probability ∝ its length (capped at 1) by comparing an
    md5-derived uniform hash fraction against the weight — no RNG, no
    seed coordination, reproducible on any engine and any partitioning.

    This is how a 100 TB curation pipeline takes a length-weighted
    subsample without a shuffle or a global pass: the decision is a
    per-row pure function of the stable key (the same md5-fraction
    trick as the train/test split). The first 8 hex chars give a
    32-bit uniform in [0, 2³²); both engines parse hex identically.
    """
    d = load_table(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    keep = (h.cast("double") / F.lit(4294967296.0)) < (
        F.col("n_chars").cast("double") / F.lit(2000.0)
    )
    return (
        d.select("doc_id", "n_chars", keep.alias("keep"))
        .filter("keep")
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    )


@_q(
    "q_shard_plan",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, n_chars,
             row_number() OVER (ORDER BY n_chars DESC, doc_id) - 1 AS rk
      FROM documents
    ), assigned AS (
      SELECT doc_id, n_chars,
             CASE WHEN (rk // 8) % 2 = 0
                  THEN rk % 8
                  ELSE 7 - (rk % 8) END AS shard
      FROM ranked
    )
    SELECT shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM assigned
    GROUP BY shard
    ORDER BY shard
    """,
)
def q_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced shard plan for corpus export (the WebDataset/TFRecord
    packing step): documents ranked by size descending are dealt onto
    8 shards in boustrophedon ("snake") order — shard 0..7 then 7..0 —
    so every pass hands each shard one document and alternating
    direction cancels the within-pass size skew. Deterministic (rank
    tiebreak on doc_id), one window pass + one 8-cell aggregate; the
    per-shard byte totals this emits are the manifest a downstream
    writer consumes. The size rank is the two-phase range-partitioned
    form (``_scale``): it runs on the metadata-only (doc_id, size)
    projection, but that projection still has one row per DOCUMENT —
    corpus scale, not manifest scale — so a single-task sort would
    gate the whole export.
    """
    d = load_table(spark, sf_dir, "documents")
    ranked = two_phase_window(
        d.select("doc_id", "n_chars"),
        [F.desc("n_chars"), F.col("doc_id")],
        row_number="_rn",
    ).withColumn("rk", F.col("_rn") - 1)
    pass_no = (F.col("rk") / 8).cast("bigint")
    pos = F.col("rk") % 8
    shard = F.when(pass_no % 2 == 0, pos).otherwise(7 - pos)
    assigned = ranked.select("doc_id", "n_chars", shard.alias("shard"))
    return (
        assigned.groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.min("n_chars").cast("bigint").alias("min_chars"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
        )
        .orderBy("shard")
    )


@_q(
    "q_length_batching",
    oracle="""
    WITH toks AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ), ranked AS (
      SELECT doc_id, n_tokens,
             row_number() OVER (ORDER BY n_tokens, doc_id) - 1 AS rk
      FROM toks
    )
    SELECT CAST(rk // 16 AS BIGINT) AS batch_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(max(n_tokens) AS BIGINT) AS max_tokens,
           CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
           1.0 - CAST(sum(n_tokens) AS DOUBLE)
               / (count(*) * max(n_tokens)) AS padding_frac
    FROM ranked
    GROUP BY 1
    ORDER BY 1
    """,
)
def q_length_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batch assignment: documents sorted by token
    count are dealt into fixed-size batches of 16, so each batch holds
    similar-length sequences and the per-batch padding waste
    (1 − Σlen / (B·maxlen)) collapses — the dynamic-batching step a
    training dataloader applies to cut padding FLOPs, planned here as
    a deterministic table instead of at iteration time.

    The total order (n_tokens, doc_id) is the two-phase
    range-partitioned row_number (``_scale``) — corpus-scale input,
    no single-task sort; batch membership is then pure integer
    arithmetic and the report is one keyed aggregation. The padding
    fraction is a single exact division per batch.
    """
    d = spread(load_table(spark, sf_dir, "documents"))
    toks = d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    )
    ranked = two_phase_window(
        toks, [F.col("n_tokens"), F.col("doc_id")], row_number="_rn"
    ).withColumn("rk", F.col("_rn") - 1)
    return (
        ranked.groupBy(F.floor(F.col("rk") / 16).alias("batch_id"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.max("n_tokens").cast("bigint").alias("max_tokens"),
            F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
        )
        .select(
            "batch_id",
            "n_docs",
            "max_tokens",
            "sum_tokens",
            (
                F.lit(1.0)
                - F.col("sum_tokens").cast("double")
                / (F.col("n_docs") * F.col("max_tokens"))
            ).alias("padding_frac"),
        )
        .orderBy("batch_id")
    )


_KFOLD = 5


@_q(
    "q_group_kfold",
    oracle=f"""
    WITH assigned AS (
      SELECT event_id, user_id,
             {_duck_bucket("CAST(user_id AS VARCHAR)")} % {_KFOLD} AS fold
      FROM events
    )
    SELECT fold, CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(min(event_id) AS BIGINT) AS min_event_id
    FROM assigned GROUP BY fold ORDER BY fold
    """,
)
def q_group_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP k-fold assignment: every event of a user lands in the same
    fold (fold = md5-bucket(user) mod k), so cross-validation never
    leaks a user's behavior across train/validation — the grouped-CV
    discipline a per-event hash split silently violates.

    The assignment is a per-row expression (scan speed, no shuffle,
    reproducible on any cluster layout); the fold summary is one
    aggregation to k rows. Spec: the same hash-slice determinism as
    q_train_test_split (a user's fold never changes when the corpus
    grows or repartitions)."""
    e = spread(load_table(spark, sf_dir, "events"))
    fold = (
        _spark_bucket(F.col("user_id").cast("string")) % _KFOLD
    ).alias("fold")
    return (
        e.select("event_id", "user_id", fold)
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.min("event_id").cast("bigint").alias("min_event_id"),
        )
        .orderBy("fold")
    )


@_q(
    "q_temporal_split_embargo",
    oracle="""
    WITH bounds AS (
      SELECT CAST(epoch_us(min(ts)) AS BIGINT) AS lo,
             CAST(epoch_us(max(ts)) AS BIGINT) AS hi
      FROM events
    ), marked AS (
      SELECT e.event_id, e.user_id, e.ts,
             CASE
               WHEN epoch_us(e.ts) < b.lo + (b.hi - b.lo) * 7 // 10
                 THEN 'train'
               WHEN epoch_us(e.ts) >= b.lo + (b.hi - b.lo) * 8 // 10
                 THEN 'test'
               ELSE 'embargo'
             END AS split
      FROM events e CROSS JOIN bounds b
    )
    SELECT split, CAST(count(*) AS BIGINT) AS n_events,
           min(ts) AS first_ts, max(ts) AS last_ts
    FROM marked GROUP BY split ORDER BY split
    """,
)
def q_temporal_split_embargo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-ordered train/test split with an embargo gap: train on the
    first 70% of the time range, test on the last 20%, and DISCARD the
    10% between — the purged-split discipline that stops look-ahead
    leakage when features carry temporal autocorrelation (a plain
    random or time-cut split lets train events sit adjacent to test
    events). Returns the per-split census with the realized time
    boundaries.

    The cut points derive from the global min/max — a 1-row broadcast
    into the scan, the same shape as every bounds-dependent operator
    here; per-row classification at scan speed; one aggregation to 3
    rows. Cuts are computed in INTEGER epoch-micros (`lo + (hi-lo)*7
    div 10`) — interval-times-double arithmetic rounds differently
    across engines, integer division never does."""
    e = spread(load_table(spark, sf_dir, "events"))
    bounds = e.agg(
        F.unix_micros(F.min("ts")).alias("lo"),
        F.unix_micros(F.max("ts")).alias("hi"),
    )
    marked = e.crossJoin(F.broadcast(bounds)).select(
        "event_id",
        "user_id",
        "ts",
        F.expr(
            "CASE"
            " WHEN unix_micros(ts) < lo + (hi - lo) * 7 div 10"
            " THEN 'train'"
            " WHEN unix_micros(ts) >= lo + (hi - lo) * 8 div 10"
            " THEN 'test'"
            " ELSE 'embargo' END"
        ).alias("split"),
    )
    return (
        marked.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .orderBy("split")
    )


@_q(
    "q_context_length_plan",
    oracle="""
    WITH lens AS (
      SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents
    ),
    windows AS (SELECT unnest([512, 1024, 2048, 4096]) AS w)
    SELECT CAST(w.w AS BIGINT) AS context_len,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN l.n_tok > w.w THEN 1 ELSE 0 END)
                AS BIGINT) AS n_truncated,
           CAST(sum(CASE WHEN l.n_tok > w.w THEN l.n_tok - w.w
                         ELSE 0 END) AS BIGINT) AS tokens_lost,
           CAST(sum(least(l.n_tok, w.w)) AS BIGINT) AS tokens_kept,
           CAST((sum(least(l.n_tok, w.w)) + w.w - 1) // w.w AS BIGINT)
             AS packed_bins,
           CAST(sum(CASE WHEN l.n_tok > w.w THEN l.n_tok - w.w
                         ELSE 0 END) AS DOUBLE)
             / sum(l.n_tok) AS frac_lost
    FROM lens l CROSS JOIN windows w
    GROUP BY w.w
    ORDER BY context_len
    """,
)
def q_context_length_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window capacity plan: for each candidate training
    context length (512/1k/2k/4k whitespace tokens), how many
    documents truncate, how many tokens fall off the end, and how
    many perfectly-packed bins the surviving tokens fill — the
    numbers that decide "train at 2k or pay for 4k?" before any GPU
    is booked (the lower bound ⌈Σ min(len, W)/W⌉ is what
    q_pack_sequences' first-fit plan is measured against).

    One scan reduces documents to integer token lengths; the 4-window
    probe is a broadcast cross join expanded map-side, and every
    output is integer arithmetic (ceil division via (s + w − 1) div w
    — no float rounding) except the one lost-token ratio. Cost is
    |windows| × one shuffle-free scan aggregate at any corpus size."""
    d = spread(load_table(spark, sf_dir, "documents"))
    lens = d.select(
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tok")
    )
    windows = spark.createDataFrame(
        [(512,), (1024,), (2048,), (4096,)], schema="w long"
    )
    lost = F.when(
        F.col("n_tok") > F.col("w"), F.col("n_tok") - F.col("w")
    ).otherwise(0)
    kept = F.least(F.col("n_tok"), F.col("w"))
    return (
        lens.crossJoin(F.broadcast(windows))
        .groupBy("w")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("n_tok") > F.col("w"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_truncated"),
            F.sum(lost).cast("bigint").alias("tokens_lost"),
            F.sum(kept).cast("bigint").alias("tokens_kept"),
            F.floor(
                (F.sum(kept) + F.first("w") - 1) / F.first("w")
            )
            .cast("bigint")
            .alias("packed_bins"),
            (F.sum(lost).cast("double") / F.sum("n_tok")).alias(
                "frac_lost"
            ),
        )
        .select(
            F.col("w").cast("bigint").alias("context_len"),
            "n_docs",
            "n_truncated",
            "tokens_lost",
            "tokens_kept",
            "packed_bins",
            "frac_lost",
        )
        .orderBy("context_len")
    )


@_q(
    "q_split_leakage",
    oracle="""
    WITH split AS (
      SELECT doc_id, text,
             CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                            1, 4))
                       AS INTEGER) < 58982
                  THEN 'train' ELSE 'test' END AS split
      FROM documents
    ),
    grams AS (
      SELECT DISTINCT split,
             array_to_string(list_slice(w, i.i, i.i + 7), ' ') AS g
      FROM (SELECT split, string_split(text, ' ') AS w FROM split) t,
           LATERAL (SELECT unnest(generate_series(1, len(w) - 7)) AS i) i
      WHERE len(w) >= 8
    ),
    tr AS (SELECT g FROM grams WHERE split = 'train'),
    te AS (SELECT g FROM grams WHERE split = 'test'),
    hits AS (SELECT CAST(count(*) AS BIGINT) AS n_shared
             FROM te JOIN tr ON tr.g = te.g)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM tr) AS n_train_grams,
           (SELECT CAST(count(*) AS BIGINT) FROM te) AS n_test_grams,
           h.n_shared,
           CAST(h.n_shared AS DOUBLE)
             / (SELECT count(*) FROM te) AS leakage_rate
    FROM hits h
    """,
)
def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-hygiene audit: 8-gram overlap between the train and test
    sides of the hash split — the q_decontaminate check pointed at
    OUR OWN split instead of an external eval set. A clean random
    split still leaks through duplicated/boilerplate text (the
    benchmark-contamination mechanism in miniature), which is why
    this runs after dedup and before any eval number is trusted.

    Scale: shingling is per-row; each side reduces to DISTINCT gram
    sets (shuffle carries grams once); the overlap is one equi-join
    on the gram key. Counts integer, one ratio."""
    d = spread(load_table(spark, sf_dir, "documents"))
    split = d.select(
        "doc_id",
        "text",
        F.when(
            _spark_bucket(F.col("doc_id").cast("string")) < 58982, "train"
        )
        .otherwise("test")
        .alias("split"),
    )
    w = F.split(F.col("text"), " ")
    grams = (
        split.filter(F.size(w) >= 8)
        .select(
            "split",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(split(text, ' ')) - 7),"
                    " i -> array_join(slice(split(text, ' '), i, 8), ' '))"
                )
            ).alias("g"),
        )
        .distinct()
    )
    tr = grams.filter(F.col("split") == "train").select("g")
    te = grams.filter(F.col("split") == "test").select("g")
    n_tr = tr.agg(F.count(F.lit(1)).cast("bigint").alias("n_train_grams"))
    n_te = te.agg(F.count(F.lit(1)).cast("bigint").alias("n_test_grams"))
    hits = te.join(tr, "g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shared")
    )
    return (
        hits.crossJoin(F.broadcast(n_tr))
        .crossJoin(F.broadcast(n_te))
        .select(
            "n_train_grams",
            "n_test_grams",
            "n_shared",
            F.try_divide(
                F.col("n_shared").cast("double"), F.col("n_test_grams")
            ).alias("leakage_rate"),
        )
    )


@_q(
    "q_sample_dedup_weighted",
    oracle="""
    WITH fp AS (
      SELECT doc_id, n_chars, md5(lower(trim(text))) AS f
      FROM documents
    ),
    cl AS (
      SELECT f, CAST(count(*) AS BIGINT) AS sz FROM fp GROUP BY f
    ),
    keyed AS (
      SELECT d.doc_id, d.n_chars, c.sz,
             CAST(('0x' || substr(md5('dw:' ||
                CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
      FROM fp d JOIN cl c ON c.f = d.f
    )
    SELECT doc_id, n_chars, sz AS cluster_size
    FROM keyed
    WHERE CAST(h AS DOUBLE) / 4294967296.0 * sz < 1.0
    ORDER BY doc_id
    """,
)
def q_sample_dedup_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication-aware sampling: each document is kept with
    probability 1/cluster_size of its exact-duplicate cluster, so a
    passage copied 40 times contributes ~once in expectation — the
    sampling-time alternative to hard dedup that preserves corpus
    statistics while killing the duplicate over-weighting that
    memorization studies trace verbatim regurgitation to.

    The cluster size joins back by 16-byte fingerprint (the only
    shuffle); the keep decision is the md5-fraction test u·sz < 1 —
    per-row, deterministic, no RNG coordination, same discipline as
    q_sample_weighted. Every kept row carries its cluster size for
    downstream reweighting."""
    d = spread(load_table(spark, sf_dir, "documents"))
    fp = d.select(
        "doc_id", "n_chars", F.md5(F.lower(F.trim("text"))).alias("f")
    )
    cl = fp.groupBy("f").agg(F.count(F.lit(1)).cast("bigint").alias("sz"))
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("dw:"), F.col("doc_id").cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    return (
        fp.join(cl, "f")
        .select("doc_id", "n_chars", F.col("sz").alias("cluster_size"), h.alias("h"))
        .filter(
            F.col("h").cast("double")
            / F.lit(4294967296.0)
            * F.col("cluster_size")
            < 1.0
        )
        .select("doc_id", "n_chars", "cluster_size")
        .orderBy("doc_id")
    )


@_q(
    "q_split_balance",
    oracle="""
    WITH split AS (
      SELECT lang,
             CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                            1, 4))
                       AS INTEGER) < 58982
                  THEN 'train' ELSE 'test' END AS split
      FROM documents
    ),
    cells AS (
      SELECT lang, split, CAST(count(*) AS BIGINT) AS c
      FROM split GROUP BY lang, split
    ),
    marg AS (
      SELECT lang,
             CAST(sum(c) AS BIGINT) AS row_n
      FROM cells GROUP BY lang
    ),
    cols AS (
      SELECT split, CAST(sum(c) AS BIGINT) AS col_n
      FROM cells GROUP BY split
    ),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells),
    terms AS (
      SELECT c.lang, c.split, c.c,
             CAST(m.row_n AS DOUBLE) * co.col_n / t.n AS expected,
             round((c.c - CAST(m.row_n AS DOUBLE) * co.col_n / t.n)
                   * (c.c - CAST(m.row_n AS DOUBLE) * co.col_n / t.n)
                   / (CAST(m.row_n AS DOUBLE) * co.col_n / t.n), 6)
               AS term
      FROM cells c
      JOIN marg m ON m.lang = c.lang
      JOIN cols co ON co.split = c.split
      CROSS JOIN tot t
    )
    SELECT CAST(count(*) AS BIGINT) AS n_cells,
           CAST(sum(CAST(term AS DECIMAL(27,6))) AS DOUBLE) AS chi2
    FROM terms
    """,
)
def q_split_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-stratification check: chi-square of independence between
    language and the train/test hash split — the label-balance
    companion to q_ab_srm_check (sizes right?) and q_split_leakage
    (content disjoint?): a hash split SHOULD be independent of every
    covariate, and a large χ² here means per-language eval numbers
    will be biased before any model runs.

    One shuffle to |langs|×2 integer cells; expected counts and the
    χ² terms are closed-form over broadcast marginals, 6-dp rounded
    into a DECIMAL sum (the q_chi_square discipline)."""
    d = spread(load_table(spark, sf_dir, "documents"))
    split = d.select(
        "lang",
        F.when(
            _spark_bucket(F.col("doc_id").cast("string")) < 58982, "train"
        )
        .otherwise("test")
        .alias("split"),
    )
    cells = split.groupBy("lang", "split").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    marg = cells.groupBy("lang").agg(
        F.sum("c").cast("bigint").alias("row_n")
    )
    cols = cells.groupBy("split").agg(
        F.sum("c").cast("bigint").alias("col_n")
    )
    tot = cells.agg(F.sum("c").cast("bigint").alias("n"))
    exp = F.col("row_n").cast("double") * F.col("col_n") / F.col("n")
    term = F.round(
        (F.col("c") - exp) * (F.col("c") - exp) / exp, 6
    ).cast("decimal(27,6)")
    return (
        cells.join(F.broadcast(marg), "lang")
        .join(F.broadcast(cols), "split")
        .crossJoin(F.broadcast(tot))
        .select(term.alias("term"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cells"),
            F.sum("term").cast("double").alias("chi2"),
        )
    )


@_q(
    "q_reservoir_aes",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, n_chars,
             round(power(
               CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))
                         AS BIGINT) AS DOUBLE) / 4503599627370496.0,
               1.0 / n_chars), 9) AS es_key
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, es_key
    FROM keyed
    ORDER BY es_key DESC, doc_id
    LIMIT 50
    """,
)
def q_reservoir_aes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k weighted sampling via Efraimidis–Spirakis: each doc
    draws a deterministic uniform u from md5(doc_id) and competes with
    key u^(1/weight); the top-k keys ARE a weighted random sample
    WITHOUT replacement of exactly k items — the guarantee
    q_sample_weighted's independent coin-flips can't give (its sample
    SIZE is random; a training-batch builder usually needs exactly k).
    Weight = n_chars, so longer documents proportionally likelier.

    Fully deterministic: u is the first 52 bits of md5 (an exact
    double in both engines), the pow rounds at 9 dp (libm last-ulp
    discipline) and ties break on doc_id; selection is a
    TakeOrderedAndProject top-k, never a global sort. One scan, no
    shuffle before the k-row cut."""
    d = spread(load_table(spark, sf_dir, "documents"))
    u = (
        F.expr(
            "conv(substring(md5(cast(doc_id as string)), 1, 13), 16, 10)"
        ).cast("bigint")
        .cast("double")
        / F.lit(4503599627370496.0)
    )
    keyed = d.filter(F.col("n_chars") > 0).select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.round(F.pow(u, F.lit(1.0) / F.col("n_chars")), 9).alias("es_key"),
    )
    return keyed.orderBy(F.desc("es_key"), "doc_id").limit(50)
