"""Corpus-curation operator semantics (llm/curation.py).

The oracle harness proves fixture-level bitwise parity; these tests pin
the behaviors the fixtures cannot exercise — actual PII redaction
(fixture corpus contains none), chunk-coverage invariants, and the
no-BNLJ plan promise of the binned range join.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from keycloak_event_stream_spark.llm.curation import (
    _CHUNK_STRIDE,
    _CHUNK_WORDS,
    _SAMPLE_K,
    q_chunk_documents,
    q_decontaminate,
    q_pii_scrub,
    q_quality_gopher,
    q_sample_per_group,
)
from keycloak_event_stream_spark.operators.relational_ext import (
    q_join_range_binned,
)
from tests.conftest import SF_DIR


def test_pii_scrub_redacts_adversarial_literals(spark, tmp_path):
    """The fixture corpus has no PII, so redaction is proven on a
    purpose-built parquet table run through the SAME query function."""
    rows = [
        (1, "contact alice.smith+spam@example.co.uk for details"),
        (2, "call 555-867-5309 or 555-123-4567 now"),
        (3, "ssn 123-45-6789 leaked"),
        (4, "mixed bob@x.io and 999-88-7777 and 111-222-3333"),
        (5, "clean text with no identifiers at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df = df.withColumn("n_chars", F.length("text")).withColumn(
        "lang", F.lit("en")
    ).withColumn("source", F.lit("srcX"))
    d = str(tmp_path / "docs")
    df.write.parquet(d + "/documents.parquet")
    out = {
        r["doc_id"]: r.asDict()
        for r in q_pii_scrub(spark, d).collect()
    }
    assert out[1]["n_emails"] == 1 and "<EMAIL>" in out[1]["clean_text"]
    assert "alice" not in out[1]["clean_text"]
    assert out[2]["n_phones"] == 2 and out[2]["clean_text"].count("<PHONE>") == 2
    assert out[3]["n_ssns"] == 1 and "<SSN>" in out[3]["clean_text"]
    # SSN-before-phone ordering: 999-88-7777 is an SSN, not a phone
    assert out[4]["n_ssns"] == 1 and out[4]["n_phones"] == 1
    assert out[4]["n_emails"] == 1
    assert out[5]["clean_text"] == "clean text with no identifiers at all"
    assert out[5]["n_emails"] == out[5]["n_phones"] == out[5]["n_ssns"] == 0


def test_chunk_documents_invariants(spark):
    chunks = q_chunk_documents(spark, SF_DIR)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", F.size(F.split("text", " ")).alias("n_words")
    )
    stats = (
        chunks.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.max("n_chunk_words").alias("max_w"),
            F.min("n_chunk_words").alias("min_w"),
            F.max("chunk_id").alias("max_id"),
        )
        .join(docs, "doc_id")
        .collect()
    )
    assert stats
    for r in stats:
        # every chunk within the window bound, none empty
        assert 1 <= r["min_w"] and r["max_w"] <= _CHUNK_WORDS
        # chunk count = number of stride starts < n_words
        expected = (r["n_words"] + _CHUNK_STRIDE - 1) // _CHUNK_STRIDE
        assert r["n_chunks"] == expected
        assert r["max_id"] == expected - 1
    # overlap: consecutive chunks share window-stride words -> total
    # chunked words >= original words (full coverage)
    cover = (
        chunks.groupBy("doc_id")
        .agg(F.sum("n_chunk_words").alias("tot"))
        .join(docs, "doc_id")
        .filter(F.col("tot") < F.col("n_words"))
        .count()
    )
    assert cover == 0


def test_decontaminate_flags_planted_duplicate(spark, tmp_path):
    """A train doc that embeds an 8-gram from the eval split must be
    flagged; a disjoint doc must not."""
    eval_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, eval_text, "en", len(eval_text), "src0"),
        (2, "x " + eval_text + " y", "en", 5, "src9"),  # contains the 8-gram
        (3, "one two three four five six seven eight nine ten", "en", 5, "src9"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, n_chars long, source string"
    )
    d = str(tmp_path / "docs2")
    df.write.parquet(d + "/documents.parquet")
    out = {r["doc_id"]: r for r in q_decontaminate(spark, d).collect()}
    assert set(out) == {2, 3}  # only train docs emitted
    assert out[2]["contaminated"] and out[2]["n_shared"] >= 1
    assert not out[3]["contaminated"] and out[3]["n_shared"] == 0


def test_quality_gopher_flags(spark):
    rows = q_quality_gopher(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["keep"] == (
            r["ok_length"]
            and r["ok_word_len"]
            and r["ok_symbols"]
            and r["ok_stopwords"]
        )
        # fixture corpus is [a-z0-9 ] text: symbol ratio exactly 0
        assert r["symbol_ratio"] == 0.0


def test_sample_per_group_deterministic(spark):
    a = sorted(map(tuple, q_sample_per_group(spark, SF_DIR).collect()))
    b = sorted(map(tuple, q_sample_per_group(spark, SF_DIR).collect()))
    assert a == b  # reproducible, unlike rand()/TABLESAMPLE
    per_group: dict = {}
    for doc_id, source, rk in a:
        per_group.setdefault(source, []).append(rk)
    for source, rks in per_group.items():
        assert sorted(rks) == list(range(1, min(_SAMPLE_K, len(rks)) + 1))


def test_range_binned_join_avoids_bnlj(spark):
    """The whole point of binning: the physical plan must be a hash or
    sort-merge join on the bin key, never BroadcastNestedLoopJoin."""
    plan = (
        q_join_range_binned(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_weighted_sample_is_deterministic_and_length_biased(spark):
    from keycloak_event_stream_spark.llm.sampling import q_sample_weighted

    from conftest import SF_DIR

    a = {r.doc_id for r in q_sample_weighted(spark, SF_DIR).collect()}
    b = {r.doc_id for r in q_sample_weighted(spark, SF_DIR).collect()}
    assert a == b and a  # pure function of the key
    from pyspark.sql import functions as F

    from keycloak_event_stream_spark.catalog import load_table

    d = load_table(spark, SF_DIR, "documents")
    mean_all = d.agg(F.avg("n_chars")).collect()[0][0]
    mean_kept = (
        d.filter(F.col("doc_id").isin(list(a)))
        .agg(F.avg("n_chars"))
        .collect()[0][0]
    )
    # longer docs are kept proportionally more often
    assert mean_kept > mean_all


def test_ngram_ops_survive_short_documents(spark, tmp_path):
    """Docs with < 3 (resp. < 2) tokens must contribute zero grams, not
    blow up the whole query: Spark's sequence(1, 0) is DESCENDING and
    element_at(w, 0) throws. The driver fixture's 10-token minimum
    masked this; a real corpus has one-word documents."""
    import os

    from keycloak_event_stream_spark.llm.curation import q_ngram_novelty
    from keycloak_event_stream_spark.llm.textstats import (
        q_bigram_lm,
        q_char_ngram_profile,
    )

    rows = [
        (1, "one", "en", "web", 3),
        (2, "two words", "en", "web", 9),
        (3, "", "en", "web", 0),
        (4, "a proper document with enough tokens to form grams", "en", "web", 50),
    ]
    sf = str(tmp_path / "shortsf")
    os.makedirs(sf)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(os.path.join(sf, "documents.parquet"))

    from keycloak_event_stream_spark.llm.curation import q_decontaminate

    for q in (
        q_ngram_novelty,
        q_bigram_lm,
        q_char_ngram_profile,
        q_decontaminate,
    ):
        q(spark, sf).collect()  # must not raise


def test_span_corruption_roundtrip(spark):
    """Substituting each target span back at its sentinel in the input
    reconstructs the original document — the invariant that makes the
    (input, target) pair a valid denoising example."""
    import re

    from keycloak_event_stream_spark.llm.curation import q_span_corruption
    from keycloak_event_stream_spark.catalog import load_table

    rows = q_span_corruption(spark, SF_DIR).collect()
    orig = {
        r.doc_id: r.text
        for r in load_table(spark, SF_DIR, "documents").collect()
    }
    assert rows
    for r in rows[:50]:
        # parse target into {sentinel: span tokens}
        spans = {}
        cur = None
        for tok in r.target_text.split(" "):
            if re.fullmatch(r"<extra_id_\d+>", tok):
                cur = tok
                spans[cur] = []
            else:
                spans[cur].append(tok)
        rebuilt = []
        for tok in r.input_text.split(" "):
            if re.fullmatch(r"<extra_id_\d+>", tok):
                rebuilt.extend(spans[tok])
            else:
                rebuilt.append(tok)
        assert " ".join(rebuilt) == orig[r.doc_id], r.doc_id
        assert r.n_masked == sum(len(v) for v in spans.values())


def test_fim_reconstructs_document(spark):
    """prefix + middle + suffix must be a partition of the original
    token sequence."""
    from keycloak_event_stream_spark.catalog import load_table
    from keycloak_event_stream_spark.llm.curation import q_fim_transform

    rows = q_fim_transform(spark, SF_DIR).collect()
    orig = {
        r.doc_id: r.text
        for r in load_table(spark, SF_DIR, "documents").collect()
    }
    assert rows
    for r in rows[:50]:
        parts = [p for p in (r.prefix, r.middle, r.suffix) if p]
        assert " ".join(parts) == orig[r.doc_id]
        assert r.psm_text == f"<PRE> {r.prefix} <SUF> {r.suffix} <MID> {r.middle}"
