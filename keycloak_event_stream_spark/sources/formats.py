"""Source/sink format support beyond parquet: newline-delimited JSON
and CSV, with lossless round-trips.

NDJSON is the reference's wire format — one JSON object per line pushed
to Firehose (``FirehoseEventStoreProvider.java:144`` appends ``"\\n"``)
and deserialized by the Hive JSON SerDe (``terraform/main.tf:203-207``).
Here the same format is a first-class batch/streaming source and sink
with a declared schema (nothing inferred, matching the reference's
fixed-schema posture).

Round-trip discipline: timestamps serialize at microsecond precision
(the default format truncates to millis); doubles rely on shortest
round-trip rendering; compression is gzip per split. Each registry
entry writes the fixture out in the format and reads it back — the
oracle compares against the original parquet, so the round-trip must be
bit-lossless to pass.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession

from keycloak_event_stream_spark.catalog import load_table, pin
from keycloak_event_stream_spark.registry import register as _q

_TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"


def write_ndjson(df: DataFrame, path: str, compress: bool = True) -> None:
    w = df.write.mode("overwrite").option("timestampFormat", _TS_FMT)
    if compress:
        w = w.option("compression", "gzip")
    w.json(path)


def read_ndjson(spark: SparkSession, path: str, schema) -> DataFrame:
    return (
        spark.read.schema(schema).option("timestampFormat", _TS_FMT).json(path)
    )


def write_csv(df: DataFrame, path: str) -> None:
    (
        df.write.mode("overwrite")
        .option("header", "true")
        .option("timestampFormat", _TS_FMT)
        .option("compression", "gzip")
        .csv(path)
    )


def read_csv(spark: SparkSession, path: str, schema) -> DataFrame:
    return (
        spark.read.schema(schema)
        .option("header", "true")
        .option("timestampFormat", _TS_FMT)
        .csv(path)
    )


_EVENTS_ORACLE = """
    SELECT event_id, ts, user_id, event_type, value, props FROM events
"""


@_q("q_source_json_roundtrip", oracle=_EVENTS_ORACLE)
def q_source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events -> gzip NDJSON -> read with declared schema. Lossless:
    the oracle is the original parquet, so any truncation (timestamp
    millis, double formatting, quote mangling in props) fails the
    bitwise compare."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    out = tempfile.mkdtemp(prefix="ndjson_rt_")
    write_ndjson(ev, out)
    return read_ndjson(spark, out, ev.schema)


@_q("q_source_csv_roundtrip", oracle=_EVENTS_ORACLE)
def q_source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events -> gzip CSV (header, quoted) -> read with declared
    schema; same losslessness bar as the JSON round-trip."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    out = tempfile.mkdtemp(prefix="csv_rt_")
    write_csv(ev, out)
    return read_csv(spark, out, ev.schema)


@_q("q_source_orc_roundtrip", oracle=_EVENTS_ORACLE)
def q_source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events -> ORC (zlib) -> read back. ORC is the other columnar
    format a Spark lakehouse meets in the wild (Hive heritage); Spark's
    native vectorized ORC reader gives the same pushdown/pruning story
    as parquet, and the bitwise oracle proves type fidelity (timestamps,
    doubles, strings) through the format."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    out = tempfile.mkdtemp(prefix="orc_rt_")
    ev.write.mode("overwrite").option("compression", "zlib").orc(out)
    return spark.read.schema(ev.schema).orc(out)


@_q(
    "q_source_binaryfile",
    oracle="""
    SELECT doc_id,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           sha256(text) AS sha
    FROM documents
    WHERE doc_id < 50
    ORDER BY doc_id
    """,
)
def q_source_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``binaryFile`` source: the multimodal ingest path. Fifty
    documents are materialized as standalone ``<doc_id>.bin`` files
    (standing in for images/audio), read back through Spark's
    binary-file data source (one row per file: path, length, raw
    ``content`` bytes), keyed by parsing the id out of the path, and
    fingerprinted with sha2 over the bytes.

    The oracle recomputes byte length + sha256 from the source table,
    so the round-trip proves the binary column arrives bit-exact —
    the property every downstream decode UDF (q_multimodal_media)
    silently assumes. At scale the same reader ingests million-file
    image trees with partition-parallel listing; ``pathGlobFilter``
    and ``modifiedAfter`` give it incremental-load semantics without
    a manifest.
    """
    import os

    from pyspark.sql import functions as F

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 50)
        .select("doc_id", "text")
        .collect()
    )
    out = tempfile.mkdtemp(prefix="binfiles_")
    for row in docs:
        with open(os.path.join(out, f"{row.doc_id}.bin"), "wb") as fh:
            fh.write(row.text.encode("utf-8"))
    bf = spark.read.format("binaryFile").load(out)
    return (
        bf.select(
            F.regexp_extract(F.col("path"), r"(\d+)\.bin$", 1)
            .cast("bigint")
            .alias("doc_id"),
            F.col("length").alias("n_bytes"),
            F.sha2(F.col("content"), 256).alias("sha"),
        )
        .orderBy("doc_id")
    )


@_q(
    "q_source_schema_evolution",
    oracle="""
    SELECT doc_id, lang, n_chars,
           CASE WHEN doc_id % 2 = 0 THEN NULL ELSE source END AS source
    FROM documents
    ORDER BY doc_id
    """,
)
def q_source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: the corpus lands in two generations —
    an old batch written *before* the ``source`` column existed (even
    doc_ids) and a new batch carrying it (odd doc_ids). Reading the
    directory with ``mergeSchema`` unions the file schemas; rows from
    the older generation surface NULL for the added column instead of
    failing the scan.

    This is the lakehouse contract for additive schema change (the
    reference's posture too: its Glue DDL is fixed, but Firehose would
    simply land nulls for absent JSON keys). The oracle reconstructs
    the same null pattern from the source table, so the merge
    semantics — column union, by-name matching, null backfill — are
    hash-checked, not assumed. Footer merging is a one-time planning
    cost; per-file pruning still applies (each generation's scan reads
    only its own columns).
    """
    from pyspark.sql import functions as F

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars", "source"
    )
    out = tempfile.mkdtemp(prefix="schema_evo_")
    d.filter(F.col("doc_id") % 2 == 0).drop("source").write.mode(
        "overwrite"
    ).parquet(out + "/gen=0")
    d.filter(F.col("doc_id") % 2 == 1).write.mode("overwrite").parquet(
        out + "/gen=1"
    )
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(out + "/gen=0", out + "/gen=1")
        .select("doc_id", "lang", "n_chars", "source")
        .orderBy("doc_id")
    )


@_q(
    "q_source_corrupt_tolerant",
    oracle="""
    SELECT 'good' AS kind, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END
                         AS BIGINT)) AS BIGINT) AS n_clicks
    FROM events WHERE event_id < 200
    UNION ALL
    SELECT 'corrupt', 3, 0
    ORDER BY kind
    """,
)
def q_source_corrupt_tolerant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poison-tolerant ingestion: an NDJSON batch with three malformed
    lines spliced in is read in PERMISSIVE mode with a
    ``_corrupt_record`` column — bad lines become quarantine rows
    instead of failing the job (the engine-side version of Firehose's
    S3 error prefix, ``terraform/main.tf:195``, but queryable in the
    same pass). The output is the ingestion audit: good-row count +
    a payload aggregate, corrupt-row count.

    The oracle reconstructs both from the source of truth (the
    malformed-line count is a constant of the test harness), so the
    tolerance semantics — parse what parses, null out and quarantine
    what doesn't, never drop silently — are hash-checked. FAILFAST
    and DROPMALFORMED remain one option away; production routes the
    quarantine rows to a dead-letter sink with the same filter.
    """
    import os

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 200)
        .select("event_id", "event_type")
    )
    out = tempfile.mkdtemp(prefix="corrupt_rt_")
    ev.coalesce(1).write.mode("overwrite").json(out)
    part = [f for f in os.listdir(out) if f.startswith("part-")][0]
    with open(os.path.join(out, part), "a") as fh:
        fh.write('{"event_id": "not-a-number", "event_type": 7\n')
        fh.write("garbage line\n")
        fh.write('{"event_id": }\n')
    for f in os.listdir(out):  # appended bytes invalidate the Hadoop
        if f.endswith(".crc"):  # .crc sidecars — drop them
            os.remove(os.path.join(out, f))
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    raw = pin(
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(out)
    )
    good = raw.filter(F.col("_corrupt_record").isNull()).agg(
        F.lit("good").alias("kind"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_clicks"),
    )
    bad = raw.filter(F.col("_corrupt_record").isNotNull()).agg(
        F.lit("corrupt").alias("kind"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.lit(0).cast("bigint").alias("n_clicks"),
    )
    return good.unionByName(bad).orderBy("kind")
