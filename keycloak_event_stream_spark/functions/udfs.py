"""UDF surface demonstrations (SURVEY.md §2.3: Python UDF, vectorized
pandas_udf, applyInPandas UDAF-shape; the mapInPandas UDTF-shape lives
in :mod:`keycloak_event_stream_spark.llm.multimodal`).

The engine's rule is UDFs-as-last-resort — every hot path elsewhere is
JVM-side. These entries exist to pin the API surface and its Arrow
plumbing with oracle-checked results:

- plain ``@udf`` is the row-at-a-time slow path (one Python call per
  row, pickled rows) — demonstrated on purpose with a trivial function
  and documented as the thing to avoid;
- ``pandas_udf`` processes Arrow record batches with numpy — the
  acceptable Python path (~10-100x the plain UDF);
- ``applyInPandas`` is the custom-aggregation (UDAF) shape: one pandas
  DataFrame per group, one shuffle on the group key.

Determinism notes: the pandas_udf norm reduces 64-element float64 rows
with numpy's sequential (sub-pairwise-threshold) summation — the same
left-to-right fold DuckDB's list_dot_product uses, so values match
bitwise. The UDAF medians run on int64 event ids, where the midpoint
average is exact in float64 in both engines.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from keycloak_event_stream_spark.catalog import load_table, spread
from keycloak_event_stream_spark.registry import register as _q


# ---------------------------------------------------------------------------
# Plain Python UDF (row-at-a-time — the documented slow path)
# ---------------------------------------------------------------------------

@F.udf(returnType=T.StringType())
def _reverse_udf(s):
    return s[::-1] if s is not None else None


@_q(
    "q_udf_python",
    oracle="""
    SELECT p_partkey, reverse(p_name) AS name_rev
    FROM part WHERE p_size <= 10
    """,
)
def q_udf_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python UDF (string reverse). Each row crosses the
    JVM<->Python boundary individually — never acceptable on a hot path
    (use F.reverse / a pandas_udf); kept to pin the API."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 10)
    return p.select("p_partkey", _reverse_udf("p_name").alias("name_rev"))


# ---------------------------------------------------------------------------
# Vectorized pandas_udf (Arrow batches + numpy)
# ---------------------------------------------------------------------------

@F.pandas_udf(T.DoubleType())
def _l2_norm_udf(vecs: pd.Series) -> pd.Series:
    import numpy as np

    mat = np.stack(vecs.to_numpy())  # (batch, dim) float64
    # accumulate dim-by-dim (vectorized across the batch): a strict
    # left-to-right fold per row, bit-identical to a sequential dot
    # product — numpy's axis-sum may reorder (SIMD/pairwise) and drift
    # in the last ulp
    acc = np.zeros(mat.shape[0])
    for d in range(mat.shape[1]):
        acc += mat[:, d] * mat[:, d]
    return pd.Series(np.sqrt(acc))


@_q(
    "q_udf_pandas_norm",
    oracle="""
    SELECT vec_id, label,
           sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                 CAST(embedding AS DOUBLE[]))) AS l2
    FROM embeddings
    """,
)
def q_udf_pandas_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized L2 norm over the embedding column: whole Arrow batches
    into numpy, one matmul-shaped reduction per batch. This is the Python
    path worth taking when JVM expressions run out."""
    e = spread(load_table(spark, sf_dir, "embeddings"))
    return e.select(
        "vec_id",
        "label",
        _l2_norm_udf(F.col("embedding").cast("array<double>")).alias("l2"),
    )


# ---------------------------------------------------------------------------
# applyInPandas (UDAF shape: one pandas frame per group)
# ---------------------------------------------------------------------------

_UDAF_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("median_event_id", T.DoubleType()),
        T.StructField("min_event_id", T.LongType()),
        T.StructField("max_event_id", T.LongType()),
    ]
)


def _user_stats(pdf: pd.DataFrame) -> pd.DataFrame:
    ids = pdf["event_id"]
    return pd.DataFrame(
        {
            "user_id": [pdf["user_id"].iloc[0]],
            "n_events": [len(ids)],
            "median_event_id": [float(ids.median())],
            "min_event_id": [ids.min()],
            "max_event_id": [ids.max()],
        }
    )


@_q(
    "q_udaf_apply_in_pandas",
    oracle="""
    SELECT user_id,
           count(*) AS n_events,
           median(event_id) AS median_event_id,
           min(event_id) AS min_event_id,
           max(event_id) AS max_event_id
    FROM events GROUP BY user_id
    """,
)
def q_udaf_apply_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom aggregation via applyInPandas: per-user order statistics
    computed in pandas. One shuffle on the group key, Arrow both ways.
    At 100 TB, group count (not size) must fit the executor — a group's
    whole frame materializes in pandas, so skewed keys need salting or a
    built-in-aggregate rewrite."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select("user_id", "event_id").groupBy("user_id").applyInPandas(
        _user_stats, _UDAF_SCHEMA
    )


# ---------------------------------------------------------------------------
# Spark 4 Arrow UDF (pyarrow arrays in/out — no pandas conversion)
# ---------------------------------------------------------------------------

try:  # Spark >= 4.0
    from pyspark.sql.functions import arrow_udf

    @arrow_udf(T.LongType())
    def _codepoints_udf(texts):
        import pyarrow.compute as pc

        return pc.cast(pc.utf8_length(texts), "int64")

    @arrow_udf(T.LongType())
    def _space_tokens_udf(texts):
        import pyarrow.compute as pc

        return pc.cast(
            pc.add(pc.count_substring(texts, " "), 1), "int64"
        )

    _HAVE_ARROW_UDF = True
except ImportError:  # pragma: no cover - older Spark
    _HAVE_ARROW_UDF = False


if _HAVE_ARROW_UDF:

    @_q(
        "q_udf_arrow",
        oracle="""
        SELECT doc_id,
               length(text) AS n_codepoints,
               length(text) - length(replace(text, ' ', '')) + 1
                 AS n_space_tokens
        FROM documents
        """,
    )
    def q_udf_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Spark 4 ``arrow_udf``: the UDF receives/returns *pyarrow
        arrays* directly — zero pandas materialization, so string
        columns stay in Arrow's contiguous UTF-8 buffers end-to-end and
        the kernel (``pyarrow.compute``) runs vectorized C++ over them.
        This sits between ``pandas_udf`` (extra Arrow→pandas copy, with
        object-dtype blowup for strings) and JVM expressions in the
        cost hierarchy; for string-heavy 100 TB document scans the
        avoided copy is the difference between CPU- and
        allocation-bound.

        Codepoint length and space-token counts are integer outputs of
        deterministic kernels — bitwise oracle parity for free.
        """
        d = spread(load_table(spark, sf_dir, "documents"))
        return d.select(
            "doc_id",
            _codepoints_udf(F.col("text")).alias("n_codepoints"),
            _space_tokens_udf(F.col("text")).alias("n_space_tokens"),
        )


@_q(
    "q_sql_udf",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(27,6))) AS DOUBLE) AS sum_disc_price,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                         AS DECIMAL(27,6))) AS DOUBLE) AS sum_charge,
           count(*) AS n
    FROM lineitem
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL-defined scalar UDFs (``CREATE FUNCTION ... RETURN
    expr``): the TPC-H Q1 pricing expressions packaged as reusable,
    *optimizer-transparent* functions.

    Unlike Python UDFs, SQL UDFs inline into the Catalyst plan at
    resolution time — the plan is identical to writing the expression
    by hand (whole-stage codegen, pushdown, partial aggregation all
    intact), so this is the zero-cost tier of the UDF hierarchy
    (SQL UDF > arrow_udf > pandas_udf > row Python UDF). The reference
    has no function surface at all (SURVEY.md §2.2); this is how an
    engine user packages shared business logic without leaving the JVM
    fast path.
    """
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION kes_disc_price"
        "(p DOUBLE, d DOUBLE) RETURNS DOUBLE RETURN p * (1 - d)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION kes_charge"
        "(p DOUBLE, d DOUBLE, t DOUBLE) RETURNS DOUBLE"
        " RETURN p * (1 - d) * (1 + t)"
    )
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "li_sqludf"
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(sum(CAST(kes_disc_price(l_extendedprice, l_discount)
                             AS DECIMAL(27,6))) AS DOUBLE) AS sum_disc_price,
               CAST(sum(CAST(kes_charge(l_extendedprice, l_discount, l_tax)
                             AS DECIMAL(27,6))) AS DOUBLE) AS sum_charge,
               count(*) AS n
        FROM li_sqludf
        GROUP BY l_returnflag ORDER BY l_returnflag
        """
    )


@_q(
    "q_cogroup_enrich",
    oracle="""
    WITH last AS (
      SELECT user_id, event_type FROM (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) WHERE rn = 1
    ), ev AS (
      SELECT e.user_id,
             CAST(count(*) AS BIGINT) AS n_events,
             any_value(l.event_type) AS last_event_type
      FROM events e JOIN last l ON e.user_id = l.user_id
      GROUP BY e.user_id
    ), od AS (
      SELECT o_custkey % 15 AS user_id,
             CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                           AS BIGINT)) AS BIGINT) AS spend_cents
      FROM orders GROUP BY 1
    )
    SELECT COALESCE(ev.user_id, od.user_id) AS user_id,
           COALESCE(ev.n_events, 0) AS n_events,
           COALESCE(od.n_orders, 0) AS n_orders,
           COALESCE(od.spend_cents, 0) AS spend_cents,
           ev.last_event_type
    FROM ev FULL OUTER JOIN od ON ev.user_id = od.user_id
    """,
)
def q_cogroup_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped ``applyInPandas``: events and orders grouped on the
    same key meet *pairwise* in one Python function — the
    UDF-matrix entry for ``cogroup`` (two-table UDAF shape), completing
    python-row / pandas / applyInPandas / mapInPandas / arrow / UDTF /
    SQL-UDF coverage.

    Each side arrives as its own pandas frame per key (no pre-join
    blowup, no null-padding); the function reduces both to one summary
    row. Spark shuffles each input by the key exactly once — the same
    exchange a join would need, minus the join materialization. The
    oracle is the equivalent FULL OUTER join of two rollups; tiebreak
    for last_event_type is the (ts, event_id) total order on both
    sides.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    od = load_table(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 15).alias("user_id"),
        "o_totalprice",
    )

    def merge(key, ev_pdf: pd.DataFrame, od_pdf: pd.DataFrame) -> pd.DataFrame:
        (uid,) = key
        if len(ev_pdf):
            last = ev_pdf.sort_values(["ts", "event_id"]).iloc[-1]
            last_type = last["event_type"]
        else:
            last_type = None
        spend = (
            int(od_pdf["o_totalprice"].map(lambda x: round(x * 100)).sum())
            if len(od_pdf)
            else 0
        )
        return pd.DataFrame(
            {
                "user_id": [uid],
                "n_events": [len(ev_pdf)],
                "n_orders": [len(od_pdf)],
                "spend_cents": [spend],
                "last_event_type": [last_type],
            }
        )

    return (
        ev.groupBy("user_id")
        .cogroup(od.groupBy("user_id"))
        .applyInPandas(
            merge,
            schema=(
                "user_id bigint, n_events bigint, n_orders bigint,"
                " spend_cents bigint, last_event_type string"
            ),
        )
    )


@_q(
    "q_sql_table_fn",
    oracle="""
    WITH ranked AS (
      SELECT lang, doc_id, n_chars,
             row_number() OVER (PARTITION BY lang
                                ORDER BY n_chars DESC, doc_id) AS rk
      FROM documents
    )
    SELECT lang, doc_id, n_chars
    FROM ranked WHERE rk <= 3
    ORDER BY lang, n_chars DESC, doc_id
    """,
)
def q_sql_table_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL **table** functions (``CREATE FUNCTION ... RETURNS
    TABLE``): a parameterized relational view — "top-k longest docs for
    a language" — invoked per language via LATERAL-style table
    reference, with the parameter flowing into the body's WHERE.

    Like scalar SQL UDFs, table functions inline into the Catalyst
    plan at resolution time: each invocation below is just the
    underlying windowed query with the literal substituted — pushdown,
    codegen, and the TakeOrderedAndProject specialization all intact,
    zero interpretation overhead. This is the engine-native form of
    the reference's parameterized query builder (a Java method gluing
    a WHERE string, ``AthenaEventQuery.java:161-198``) — typed,
    composable, optimizer-visible.
    """
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "docs_tblfn"
    )
    # body uses ORDER BY + LIMIT, not a row_number window: the inlined
    # plan per invocation is a TakeOrderedAndProject (per-partition
    # heaps + merge of 3-row candidates) — scale-safe where an
    # unpartitioned rank window would single-task the language's rows
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION kes_top_docs(lg STRING)
        RETURNS TABLE(lang STRING, doc_id BIGINT, n_chars BIGINT)
        RETURN
          SELECT lang, doc_id, n_chars
          FROM docs_tblfn WHERE lang = lg
          ORDER BY n_chars DESC, doc_id
          LIMIT 3
        """
    )
    return spark.sql(
        """
        SELECT * FROM kes_top_docs('de')
        UNION ALL SELECT * FROM kes_top_docs('en')
        UNION ALL SELECT * FROM kes_top_docs('es')
        UNION ALL SELECT * FROM kes_top_docs('fr')
        UNION ALL SELECT * FROM kes_top_docs('zh')
        ORDER BY lang, n_chars DESC, doc_id
        """
    )


# This module defines code that executes in Python workers; ship it by
# value so executors never need the package importable (see _shipping).
from keycloak_event_stream_spark._shipping import ship_module_by_value

ship_module_by_value(__name__)
