"""Dedup operators on controlled corpora: known dup/near-dup structure."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from keycloak_event_stream_spark.catalog import notes
from keycloak_event_stream_spark.llm import dedup


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    """4 docs: 0 and 1 near-identical, 2 an exact copy of 0, 3 unrelated."""
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    near = "the quick brown fox jumps over the lazy cat near the river bank today"
    other = "completely different content about spark query engines and shuffles"
    rows = [
        (0, base, "en", "src0", len(base)),
        (1, near, "en", "src0", len(near)),
        (2, base, "en", "src0", len(base)),
        (3, other, "en", "src0", len(other)),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = tmp_path_factory.mktemp("corpus")
    df.coalesce(1).write.parquet(str(d / "documents.parquet"))
    return str(d)


def _sf_dir(corpus):
    # dedup queries load f"{sf_dir}/documents.parquet"
    return corpus


def test_exact_dedup_groups(spark, corpus):
    out = dedup.q_dedup_exact(spark, _sf_dir(corpus)).collect()
    by_fp = {r.fp: r for r in out}
    assert len(by_fp) == 3  # base (x2), near, other
    dup_group = [r for r in out if r.n_copies == 2]
    assert len(dup_group) == 1 and dup_group[0].keep_doc_id == 0


def test_minhash_lsh_finds_near_dups(spark, corpus):
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.q_dedup_near_minhash(spark, _sf_dir(corpus)).collect()
    }
    assert (0, 2) in pairs and pairs[(0, 2)] == 1.0  # exact copy
    assert (0, 1) in pairs and 0.5 < pairs[(0, 1)] < 1.0  # one-word edit
    # cross-group fan-out: doc 1 pairs with EVERY member of 0's clone
    # group at the same jaccard, not just the representative
    assert pairs[(1, 2)] == pairs[(0, 1)]
    assert not any(3 in p for p in pairs)  # unrelated doc never pairs


def test_minhash_clone_collapse_emits_all_pairs(spark, tmp_path):
    """Clone-heavy corpus (the r3 verdict's 10×-replica hazard): a text
    cloned 5×, a near-dup of it cloned 3×, one unrelated doc. The
    exact-clone collapse must still emit every intra-group pair at
    jaccard exactly 1.0 (C(5,2)+C(3,2) = 13) and the full 5×3
    cross-group fan-out at the representative jaccard."""
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    near = "the quick brown fox jumps over the lazy cat near the river bank today"
    other = "completely different content about spark query engines and shuffles"
    rows = (
        [(i, base, "en", "s", len(base)) for i in range(5)]
        + [(10 + i, near, "en", "s", len(near)) for i in range(3)]
        + [(99, other, "en", "s", len(other))]
    )
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    out = dedup.q_dedup_near_minhash(spark, str(tmp_path)).collect()
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in out}
    assert len(pairs) == len(out)  # no duplicate pairs from the fan-out
    ones = {p for p, j in pairs.items() if j == 1.0}
    base_ids, near_ids = list(range(5)), [10, 11, 12]
    want_intra = {
        (a, b)
        for grp in (base_ids, near_ids)
        for a in grp
        for b in grp
        if a < b
    }
    assert ones == want_intra
    cross = {p: j for p, j in pairs.items() if j < 1.0}
    assert set(cross) == {(a, b) for a in base_ids for b in near_ids}
    assert len(set(cross.values())) == 1  # all inherit the rep jaccard
    assert not any(99 in p for p in pairs)


def test_simhash_exact_copies_collide(spark, corpus):
    sigs = {r.doc_id: r for r in dedup.q_dedup_simhash(spark, _sf_dir(corpus)).collect()}
    assert sigs[0].simhash == sigs[2].simhash
    assert sigs[0].n_same >= 2
    assert len(sigs[0].simhash) == 16 and set(sigs[0].simhash) <= {"0", "1"}
    # near-dup differs in few bits (hamming distance small but nonzero-ok)
    ham = sum(a != b for a, b in zip(sigs[0].simhash, sigs[3].simhash))
    assert ham > 0  # unrelated doc gets a different signature


def test_ngram_jaccard_blocked(spark, corpus):
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.q_dedup_ngram_jaccard(spark, _sf_dir(corpus)).collect()
    }
    assert pairs[(0, 2)] == 1.0
    assert (0, 1) in pairs


def test_embed_cosine_blocked_pairs(spark, tmp_path):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.9, 0.1, 0.0, 0.0], 0),  # close to 0, same block
        (2, [0.0, 1.0, 0.0, 0.0], 0),  # orthogonal, same block
        (3, [1.0, 0.0, 0.0, 0.0], 1),  # identical to 0 but other block
    ]
    df = tmp_path  # build fixture dir
    import os

    spark.createDataFrame(
        [(i, [float(x) for x in v], l) for i, v, l in rows],
        "vec_id long, embedding array<float>, label int",
    ).coalesce(1).write.parquet(os.path.join(str(df), "embeddings.parquet"))
    out = dedup.q_dedup_embed_cosine(spark, str(df)).collect()
    pairs = {(r.vec_a, r.vec_b): r.cosine for r in out}
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.99
    assert (0, 2) not in pairs  # orthogonal below threshold
    assert (0, 3) not in pairs  # blocked: different label never compared


def test_streaming_near_dup_filter(spark, tmp_path):
    """foreachBatch MinHash intake filter: batch 2's near-copy of a
    batch-1 doc is rejected by the signature store, its novel doc is
    admitted; intra-batch near-copies keep the lowest doc_id."""
    import os
    import time as _t

    from keycloak_event_stream_spark.streaming.dedup_stream import (
        streaming_near_dup_filter,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "sleeps near the warm fire and the owl watches from the tree"
    )
    novel = (
        "completely different content about spark partitions shuffles "
        "and broadcast joins at terabyte scale with adaptive execution"
    )
    near_copy = base.replace("warm fire", "warm stove")  # high overlap
    intra_a = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    intra_b = intra_a.replace("upsilon", "phi")  # near-dup in same batch

    src = str(tmp_path / "src")
    os.makedirs(src)
    schema = "doc_id long, text string"

    def write(n, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{src}/f={n}"
        )
        _t.sleep(1.1)

    write(1, [(1, base), (2, novel)])
    write(2, [(3, near_copy), (4, intra_a), (5, intra_b)])

    store = str(tmp_path / "store")
    sink = str(tmp_path / "sink")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/f=*")
    )
    q = (
        streaming_near_dup_filter(stream, store, sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    admitted = sorted(
        r.doc_id for r in spark.read.parquet(sink).collect()
    )
    # doc 3 (near-copy of 1) rejected by store; doc 5 (near-copy of 4
    # within the batch) loses to the lower id
    assert admitted == [1, 2, 4]
    # store holds signatures only for admitted docs
    store_docs = {
        r.doc_id for r in spark.read.parquet(store).collect()
    }
    assert store_docs == {1, 2, 4}


def test_streaming_near_dup_replay_idempotent(spark, tmp_path):
    """A replayed micro-batch (foreachBatch at-least-once delivery)
    must neither duplicate its docs in the sink nor lose them: the
    per-batch dynamic partition overwrite makes admit_batch(batch_id)
    a fixpoint."""
    from keycloak_event_stream_spark.streaming.dedup_stream import (
        admit_batch,
    )

    store = str(tmp_path / "store")
    sink = str(tmp_path / "sink")
    schema = "doc_id long, text string"
    b1 = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        schema,
    )
    b2 = spark.createDataFrame(
        [(2, "totally novel content about broadcast joins and shuffles ok")],
        schema,
    )
    admit_batch(spark, b1, store, sink, batch_id=0)
    admit_batch(spark, b2, store, sink, batch_id=1)
    # replay batch 1 (e.g. failure after sink write, before checkpoint)
    admit_batch(spark, b2, store, sink, batch_id=1)
    admitted = [r.doc_id for r in spark.read.parquet(sink).collect()]
    assert sorted(admitted) == [1, 2]  # no duplicate, no loss
    store_rows = spark.read.parquet(store).select("doc_id", "band", "bkey")
    assert store_rows.count() == store_rows.distinct().count()


def test_store_read_error_is_not_swallowed(spark, tmp_path):
    """A corrupt/unreadable store must raise, not silently admit
    everything as novel."""
    import pytest as _pytest

    from keycloak_event_stream_spark.streaming.dedup_stream import (
        _read_store,
    )

    missing = str(tmp_path / "never_written")
    assert _read_store(spark, missing) is None
    corrupt = tmp_path / "corrupt"
    corrupt.mkdir()
    (corrupt / "part-00000.parquet").write_text("this is not parquet")
    with _pytest.raises(Exception):
        df = _read_store(spark, str(corrupt))
        assert df is not None
        df.collect()


def test_lsh_bucket_cap_bounds_boilerplate(spark, tmp_path, monkeypatch):
    """Date-stamped boilerplate (the r4 verdict's near-identical
    hazard): 40 copies of one template differing only by a trailing
    date token. Not byte-identical, so the exact-clone collapse can't
    absorb them — they flood the band buckets instead. With the bucket
    cap forced to 6, flooded (band, bkey) buckets drop WHOLE: the
    near-quadratic candidate set collapses to what survives in
    non-flooded buckets, and the dropped bucket/row counts surface
    through the call's lsh_cap_audit note (no silent cap). With the default cap
    (512) the same corpus emits the full pair set — the cap only
    engages when configured into range."""
    tpl = (
        "terms of service agreement for the example site all rights "
        "reserved contact support for questions updated on"
    )
    rows = [
        (i, f"{tpl} 2024-01-{i + 1:02d}", "en", "s", 0) for i in range(40)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))

    # default cap: never engages, full quadratic pair set comes out
    out_full = dedup.q_dedup_near_minhash(spark, str(tmp_path))
    n_full = out_full.count()
    assert n_full == 40 * 39 // 2
    assert notes()["lsh_cap_audit"].count() == 0

    # forced-low cap: candidates bounded, overflow observable
    with monkeypatch.context() as m:
        m.setattr(dedup, "_LSH_BUCKET_CAP", 6)
        out = dedup.q_dedup_near_minhash(spark, str(tmp_path))
        pairs = {(r.doc_a, r.doc_b) for r in out.collect()}
    # flooded buckets (the template-dominated ones holding most of the
    # 40 docs) are gone; only pairs meeting in a small (≤6-member)
    # bucket survive, far below the quadratic full set
    assert len(pairs) < n_full // 2
    audit = notes()["lsh_cap_audit"].collect()
    assert len(audit) > 0  # at least one bucket tripped the cap
    assert all(r.n > 6 for r in audit)
    # determinism: same rows on a re-run
    with monkeypatch.context() as m:
        m.setattr(dedup, "_LSH_BUCKET_CAP", 6)
        again = {
            (r.doc_a, r.doc_b)
            for r in dedup.q_dedup_near_minhash(spark, str(tmp_path)).collect()
        }
    assert again == pairs


def test_components_batched_rounds_few_driver_actions(spark, corpus):
    """The LP loop must stay BATCHED: rounds compose lazily and only a
    bounded number of driver actions (materializations) run per call —
    the round-4 verdict item (one action per round = ~20 sequential
    scheduling round-trips that dominate at scale). Also pins that the
    loop-local AQE toggle is restored on exit."""
    from pyspark.sql.classic.dataframe import DataFrame as CDF

    aqe_before = spark.conf.get("spark.sql.adaptive.enabled", "true")
    calls = {"n": 0}
    originals = {}
    for m in ("count", "collect", "localCheckpoint", "toLocalIterator"):
        originals[m] = getattr(CDF, m)

        def wrapped(self, *a, _orig=originals[m], **k):
            calls["n"] += 1
            return _orig(self, *a, **k)

        setattr(CDF, m, wrapped)
    try:
        out = dedup.q_dedup_components(spark, _sf_dir(corpus))
        inner_actions = calls["n"]
    finally:
        for m, fn in originals.items():
            setattr(CDF, m, fn)
    # pair pin + edge pin + one combined convergence scalar per super;
    # shallow clusters converge in one super -> 3 actions (the r6
    # in-super fixed-point check removed the confirmation super, so
    # the pin tightens from 8)
    assert inner_actions <= 6, f"LP loop ran {inner_actions} driver actions"
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe_before
    rows = {(r.doc_id, r.component) for r in out.collect()}
    # docs 0,1,2 are one near-dup cluster labelled by its min id; doc 3
    # never pairs and so never enters the pair graph
    assert rows == {(0, 0), (1, 0), (2, 0)}


def test_components_broadcast_and_shuffle_plans_identical(
    spark, corpus, monkeypatch
):
    """The size-guarded edge-broadcast fast path (small measured edge
    count) and the pre-partitioned shuffle path (big graphs) must be
    row-identical — the same two-plan-shapes contract the graph family
    pins in tests/test_graph.py. The corpus's 3-doc clique takes the
    broadcast path by default; forcing the guard to 0 exercises the
    repartition+persist loop on the same input."""
    sf = _sf_dir(corpus)
    out_bcast = {
        (r.doc_id, r.component)
        for r in dedup.q_dedup_components(spark, sf).collect()
    }
    monkeypatch.setattr(dedup, "_LP_BROADCAST_EDGE_ROWS", 0)
    out_shuffle = {
        (r.doc_id, r.component)
        for r in dedup.q_dedup_components(spark, sf).collect()
    }
    assert out_bcast == out_shuffle == {(0, 0), (1, 0), (2, 0)}


def test_intake_recall_eval_matches_real_intake_single_batch(
    spark, corpus, tmp_path
):
    """q_lsh_intake_recall_eval's closed-form drop rule must equal what
    the REAL intake (admit_batch, empty store, one batch) admits — the
    eval is only honest if it scores the code path that runs in
    production. On the corpus: docs 1 and 2 collide with doc 0's band
    keys and are dropped (both justified true dups), doc 3 is novel;
    zero true pairs survive with both ends admitted."""
    from keycloak_event_stream_spark.streaming.dedup_stream import (
        admit_batch,
    )

    sf = _sf_dir(corpus)
    docs = dedup.spread(
        dedup.load_table(spark, sf, "documents")
    ).select("doc_id", "text")
    store = str(tmp_path / "store")
    sink = str(tmp_path / "sink")
    admit_batch(spark, docs, store, sink, batch_id=0)
    admitted_real = {
        r.doc_id for r in spark.read.parquet(sink).select("doc_id").collect()
    }

    row = dedup.q_lsh_intake_recall_eval(spark, sf).collect()[0]
    assert admitted_real == {0, 3}
    assert (row.n_docs, row.n_admitted, row.n_dropped) == (4, 2, 2)
    assert row.contaminated_true_pairs == 0  # the recall guarantee
    assert row.unjustified_drops == 0  # 1 and 2 are genuine near-dups


def test_intake_recall_eval_releases_all_caches(spark, corpus):
    """The eval materializes in-function and must unpin EVERYTHING it
    (and its nested minhash prefix) persisted — the long-sweep
    heap-debris class (round-8 ADVICE): a 1-row diagnostic must not
    leave corpus-sized cache entries behind."""
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    out = dedup.q_lsh_intake_recall_eval(spark, _sf_dir(corpus))
    assert out.count() == 1  # local frame, no recompute
    after = jsc.getPersistentRDDs().size()
    assert after <= before, (
        f"eval left {after - before} persisted RDDs pinned"
    )


def test_lp_conf_scope_concurrent_query_correct(spark, corpus):
    """The LP loop's session-global conf scope (AQE off + pinned
    shuffle width, restored in a finally) must not affect the
    CORRECTNESS of a concurrent query on the same session — only its
    wall-clock regime (the recorded round-8 decision; r7 verdict #6).
    A probe query runs in a loop on the same SparkSession while
    q_dedup_components holds the confs; every probe result must equal
    the quiet-session baseline, and the components output must equal
    its own single-threaded run."""
    import threading

    sf = _sf_dir(corpus)
    probe_df = lambda: (  # noqa: E731 - tiny plan built per iteration
        spark.range(0, 1000)
        .groupBy((F.col("id") % 7).alias("k"))
        .count()
        .orderBy("k")
    )
    expected_probe = probe_df().collect()
    expected_comp = sorted(
        (r.doc_id, r.component)
        for r in dedup.q_dedup_components(spark, sf).collect()
    )

    comp_out, errors, mismatches = [], [], []
    done = threading.Event()

    def run_components():
        try:
            comp_out.extend(dedup.q_dedup_components(spark, sf).collect())
        except Exception as exc:  # pragma: no cover - failure path
            errors.append(exc)
        finally:
            done.set()

    def run_probes():
        while not done.is_set():
            try:
                got = probe_df().collect()
            except Exception as exc:  # pragma: no cover - failure path
                errors.append(exc)
                return
            if got != expected_probe:
                mismatches.append(got)

    ta = threading.Thread(target=run_components)
    tb = threading.Thread(target=run_probes)
    ta.start()
    tb.start()
    ta.join(timeout=300)
    done.set()
    tb.join(timeout=60)
    assert not errors, errors
    assert not mismatches, f"{len(mismatches)} probe results diverged"
    assert sorted((r.doc_id, r.component) for r in comp_out) == expected_comp
    # the finally restored the session confs for whoever runs next
    assert spark.conf.get("spark.sql.adaptive.enabled") in ("true", "True")
