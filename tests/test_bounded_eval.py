"""The bounded-eval scope (catalog.bounded_eval_scope): width
derivation, AQE off at the floor width, conf restore, job counts of
floor-width evals, and result identity of a rewritten eval under a
corpus-sized session width — the mechanism behind the round-8
q_association_rules / q_shingle_size_sensitivity /
q_graph_assortativity / q_graph_common_neighbors rewrites
(BASELINE.md "Round 8 — bounded-eval width scope")."""

from __future__ import annotations

import pytest

from keycloak_event_stream_spark.catalog import (
    _EVAL_ROWS_PER_PART,
    _LOOP_ROWS_PER_PART,
    bounded_eval_scope,
    footer_rows,
    table_path,
)
from tests.conftest import SF_DIR


def test_footer_rows_matches_parquet_metadata():
    import pyarrow.parquet as pq

    for t in ("lineitem", "documents", "events"):
        n = pq.ParquetFile(table_path(SF_DIR, t)).metadata.num_rows
        assert footer_rows(SF_DIR, t) == n
        # memoized: second call returns the same value
        assert footer_rows(SF_DIR, t) == n


def test_footer_rows_handles_directory_layout(spark, tmp_path):
    """A table path may be a Spark-written DIRECTORY of part files (the
    10x replica tools/scale_probe.py builds), not just the fixtures'
    single files — footer_rows must count both (it crashed on
    directories when it used pq.ParquetFile directly)."""
    out = str(tmp_path / "events.parquet")
    spark.range(1000).selectExpr("id AS event_id").repartition(4).write.parquet(out)
    assert footer_rows(str(tmp_path), "events") == 1000


AQE = "spark.sql.adaptive.enabled"


@pytest.mark.parametrize(
    "session_width,n_rows,rows_per_part,expected",
    [
        # tiny input under a corpus session -> floor 4
        pytest.param("200", 10, _EVAL_ROWS_PER_PART, 4, id="200-10-4"),
        # the measured sf0.01 regime: ~60k rows -> 8
        pytest.param("200", 60_000, _EVAL_ROWS_PER_PART, 8, id="200-60000-8"),
        # large input keeps the session's corpus width (cap)
        pytest.param(
            "200", 100_000_000, _EVAL_ROWS_PER_PART, 200,
            id="200-100000000-200",
        ),
        # a narrow session is floored at 32 for the cap, so a large
        # input may widen past the session width
        pytest.param(
            "4", 100_000_000, _EVAL_ROWS_PER_PART, 32, id="4-100000000-32",
        ),
        # the iteration loops' rows-per-part (graph |V|, dedup LP
        # edges): every fixture graph sits at the floor ...
        pytest.param(
            "200", 196_607, _LOOP_ROWS_PER_PART, 4, id="200-196607-65536-4",
        ),
        # ... one more row per 65536 widens by one
        pytest.param(
            "200", 262_144, _LOOP_ROWS_PER_PART, 5, id="200-262144-65536-5",
        ),
        pytest.param(
            "4", 1_000_000, _LOOP_ROWS_PER_PART, 16, id="4-1000000-65536-16",
        ),
        pytest.param(
            "4", 100_000_000, _LOOP_ROWS_PER_PART, 32,
            id="4-100000000-65536-32",
        ),
    ],
)
def test_scope_width_formula_and_restore(
    spark, session_width, n_rows, rows_per_part, expected
):
    was = spark.conf.get("spark.sql.shuffle.partitions")
    aqe_was = spark.conf.get(AQE)
    spark.conf.set("spark.sql.shuffle.partitions", session_width)
    try:
        with bounded_eval_scope(spark, n_rows, rows_per_part) as parts:
            assert parts == expected
            assert spark.conf.get("spark.sql.shuffle.partitions") == str(
                expected
            )
            # AQE off at the floor width, the session's value above it
            assert spark.conf.get(AQE) == (
                "false" if expected == 4 else aqe_was
            )
        # restored verbatim
        assert spark.conf.get("spark.sql.shuffle.partitions") == session_width
        assert spark.conf.get(AQE) == aqe_was
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", was)
        spark.conf.set(AQE, aqe_was)


def test_scope_restores_on_error(spark):
    was = spark.conf.get("spark.sql.shuffle.partitions")
    aqe_was = spark.conf.get(AQE)
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    try:
        with pytest.raises(RuntimeError, match="boom"):
            with bounded_eval_scope(spark, 10):
                raise RuntimeError("boom")
        assert spark.conf.get("spark.sql.shuffle.partitions") == "200"
        assert spark.conf.get(AQE) == aqe_was
        # a session that never set AQE has it unset again afterwards
        spark.conf.unset(AQE)
        assert spark.conf.get(AQE, None) is None
        with pytest.raises(RuntimeError, match="boom"):
            with bounded_eval_scope(spark, 10):
                assert spark.conf.get(AQE) == "false"
                raise RuntimeError("boom")
        assert spark.conf.get(AQE, None) is None
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", was)
        spark.conf.set(AQE, aqe_was)


def test_rewritten_eval_is_width_invariant(spark):
    """q_graph_assortativity under a forced 200-partition session must
    return exactly the session-width result — the scope re-regimes the
    plan, never the values (its 1-row Pearson moment arithmetic is
    exact DECIMAL, so bitwise equality is the right bar)."""
    from keycloak_event_stream_spark.operators.graph import (
        q_graph_assortativity,
    )

    was = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        ref = q_graph_assortativity(spark, SF_DIR).collect()
        spark.conf.set("spark.sql.shuffle.partitions", "200")
        wide = q_graph_assortativity(spark, SF_DIR).collect()
        assert spark.conf.get("spark.sql.shuffle.partitions") == "200"
        assert ref == wide
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", was)


def test_footer_rows_memo_invalidates_on_rewrite(spark, tmp_path):
    """Rewriting a table at the SAME path must re-count (r8 ADVICE:
    the memo keyed on (dir, name) alone served the stale count after
    tools/scale_probe.py rebuilt the 10x replica in-process, silently
    driving the wrong shuffle width)."""
    out = str(tmp_path / "events.parquet")
    spark.range(100).selectExpr("id AS event_id").write.parquet(out)
    assert footer_rows(str(tmp_path), "events") == 100
    spark.range(5000).selectExpr("id AS event_id").write.mode(
        "overwrite"
    ).parquet(out)
    assert footer_rows(str(tmp_path), "events") == 5000


def test_footer_rows_memo_invalidates_on_nested_rewrite(spark, tmp_path):
    """A rewrite that only touches files INSIDE nested partition dirs
    (dt=*/hour=*/part-*) must re-count too (r9 ADVICE: the one-level
    signature missed it — replacing a part file two levels down
    changes neither the table root's mtime nor its immediate entries'
    stats, and the ingest replays write exactly this layout)."""
    out = str(tmp_path / "events.parquet")
    spark.range(100).selectExpr(
        "id AS event_id", "'2024-01-01' AS dt", "id % 2 AS hour"
    ).write.partitionBy("dt", "hour").parquet(out)
    assert footer_rows(str(tmp_path), "events") == 100
    # grow ONE nested leaf by adding a part file two levels down with
    # pyarrow directly — a Spark overwrite would recreate the leaf dir
    # and bump the dt= parent's mtime, which even the one-level
    # signature saw; a file added INSIDE the leaf changes only the
    # leaf dir's stats, the exact blind spot
    import pyarrow as pa
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({"event_id": pa.array(range(600), "int64")}),
        out + "/dt=2024-01-01/hour=0/part-extra.parquet",
    )
    true_n = ds.dataset(out, format="parquet").count_rows()
    assert true_n == 700  # the leaf really grew
    assert footer_rows(str(tmp_path), "events") == true_n


@pytest.mark.parametrize(
    "name",
    [
        # the r9 width-scope adoptions (BASELINE.md "Round 9 —
        # bounded-eval width scope, second wave"): each probed as
        # width-class in the r8 ABA queue, rewritten under
        # bounded_eval_scope, and — like the r8 four — required to be
        # bitwise regime-invariant (exact integer/DECIMAL internals;
        # only terminal double divisions).
        "q_graph_resource_alloc",
        "q_spearman_corr",
        "q_kn_bigram_lm",
        "q_lsh_intake_recall_eval",
        # third wave: the graph loops' BUILD phase (previously only the
        # iteration loop was scoped) and the three analytics names the
        # post-rotation sweep surfaced
        "q_graph_kcore",
        "q_graph_hits",
        "q_graph_bfs_levels",
        "q_ts_similarity",
        "q_stickiness",
        "q_rfm_segmentation",
        "q_lsh_cap_recall_eval",
        "q_minhash_eval",
        "q_embedding_outliers",
        # pagerank: eager and scoped since its loop joined the family
        "q_graph_pagerank",
    ],
)
def test_r9_scoped_eval_is_width_invariant(spark, name):
    from keycloak_event_stream_spark.registry import collect

    queries, _ = collect()
    was = spark.conf.get("spark.sql.shuffle.partitions")
    aqe_was = spark.conf.get(AQE)
    try:
        ref = sorted(map(tuple, queries[name](spark, SF_DIR).collect()))
        assert spark.conf.get(AQE) == aqe_was
        spark.conf.set("spark.sql.shuffle.partitions", "200")
        wide = sorted(map(tuple, queries[name](spark, SF_DIR).collect()))
        assert spark.conf.get("spark.sql.shuffle.partitions") == "200"
        assert spark.conf.get(AQE) == aqe_was
        assert ref == wide
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", was)


def test_eval_rows_per_part_constant_documented():
    # the constant the width derivation divides by; a silent change
    # here re-regimes every scoped eval, so pin it
    assert _EVAL_ROWS_PER_PART == 8192


def test_scope_warns_on_interleaved_mutation(spark):
    """A concurrent scope interleaving on the same session is the one
    documented hazard of the session-global conf scope (r8 ADVICE).
    The scope cannot prevent it, but it must be LOUD and
    NON-DESTRUCTIVE (r9 ADVICE, token semantics —
    catalog.conf_scope): a conf value at restore time that is not
    the scope's own setting raises a RuntimeWarning naming the hazard
    and LEAVES the interloper's value in place — restoring this
    scope's stale save point would clobber the live scope's save
    chain. Nesting must NOT trip it."""
    import warnings

    was = spark.conf.get("spark.sql.shuffle.partitions")
    aqe_was = spark.conf.get(AQE)
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "200")
        # nesting: clean, no warning — an outer floor scope around an
        # inner one, and a wide outer scope around a floor inner one
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            with bounded_eval_scope(spark, 10):
                with bounded_eval_scope(spark, 10):
                    assert spark.conf.get(AQE) == "false"
                assert spark.conf.get(AQE) == "false"
            assert spark.conf.get(AQE) == aqe_was
            with bounded_eval_scope(spark, 60_000):
                assert spark.conf.get(AQE) == aqe_was
                with bounded_eval_scope(spark, 10, _LOOP_ROWS_PER_PART):
                    assert spark.conf.get(AQE) == "false"
                assert spark.conf.get(AQE) == aqe_was
                assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
        assert spark.conf.get("spark.sql.shuffle.partitions") == "200"
        assert spark.conf.get(AQE) == aqe_was
        # a session that never set AQE has it unset again after nesting
        spark.conf.unset(AQE)
        with bounded_eval_scope(spark, 10):
            with bounded_eval_scope(spark, 10):
                pass
        assert spark.conf.get(AQE, None) is None
        # simulated interleave: a foreign mutation inside the scope —
        # warn, and do NOT stomp the interloper's live value
        spark.conf.set(AQE, aqe_was)
        with pytest.warns(RuntimeWarning, match="concurrent width scope"):
            with bounded_eval_scope(spark, 10):
                spark.conf.set("spark.sql.shuffle.partitions", "77")
        assert spark.conf.get("spark.sql.shuffle.partitions") == "77"
        assert spark.conf.get(AQE) == aqe_was
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", was)
        spark.conf.set(AQE, aqe_was)


def test_conf_scope_restores_unsets_and_notes(spark):
    """conf_scope round-trips a set conf, unsets one that had no prior
    value (so a scope on a pristine session leaves no residue), does
    both when the block raises, and notes each override as (key,
    value, was) on the current call."""
    from keycloak_event_stream_spark.catalog import conf_scope, notes

    was = spark.conf.get("spark.sql.shuffle.partitions")
    key = "spark.kes.test.tokenScratch"
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "123")
        n_noted = len(notes().get("conf", []))
        with conf_scope(spark, {"spark.sql.shuffle.partitions": "9", key: "x"}):
            assert spark.conf.get("spark.sql.shuffle.partitions") == "9"
            assert spark.conf.get(key) == "x"
        assert spark.conf.get("spark.sql.shuffle.partitions") == "123"
        # a key with no prior value is unset on restore
        assert spark.conf.get(key, None) is None
        assert notes()["conf"][n_noted:] == [
            ("spark.sql.shuffle.partitions", "9", "123"),
            (key, "x", None),
        ]
        # a raise inside the block restores both, too
        with pytest.raises(RuntimeError, match="boom"):
            with conf_scope(
                spark, {"spark.sql.shuffle.partitions": "9", key: "x"}
            ):
                raise RuntimeError("boom")
        assert spark.conf.get("spark.sql.shuffle.partitions") == "123"
        assert spark.conf.get(key, None) is None
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", was)
        spark.conf.unset(key)


class _CountingConf:
    """A session's RuntimeConfig that counts the calls made through it."""

    def __init__(self, conf):
        self.conf, self.calls = conf, 0

    def __getattr__(self, name):
        def call(*args):
            self.calls += 1
            return getattr(self.conf, name)(*args)

        return call


@pytest.mark.parametrize("n_rows,max_calls", [(10, 9), (60_000, 5)])
def test_scope_conf_call_count(spark, n_rows, max_calls):
    """bounded_eval_scope makes at most 9 spark.conf calls at the floor
    width (two keys: one width read, then a save, set, check and
    restore per key) and at most 5 above it (the width key only)."""
    from types import SimpleNamespace

    was = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    try:
        counting = SimpleNamespace(conf=_CountingConf(spark.conf))
        with bounded_eval_scope(counting, n_rows):
            pass
        assert counting.conf.calls <= max_calls
        assert spark.conf.get("spark.sql.shuffle.partitions") == "200"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", was)


@pytest.mark.parametrize(
    "name,max_jobs",
    [
        # one eager checkpoint of a capped pairwise search: 35 jobs
        # with AQE on at the floor width (a job per query stage)
        ("q_ts_similarity", 6),
        # the build's pins and counts, then one plan over five rounds:
        # 28 jobs with AQE on
        ("q_graph_pagerank", 14),
    ],
)
def test_floor_width_eval_job_count(spark, name, max_jobs):
    """A floor-width eval runs its stages inside a handful of jobs:
    exact counters (no wall clock) for one cold call, build plus
    collect, at sf0.001 where every scope of both queries sits at the
    floor. Guards against AQE coming back on inside the scope."""
    from keycloak_event_stream_spark.registry import collect

    queries, _ = collect()
    sc = spark.sparkContext
    group = f"job-count-{name}"
    spark.catalog.clearCache()
    sc.setJobGroup(group, name)
    try:
        queries[name](spark, SF_DIR).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= max_jobs, (name, len(jobs))
