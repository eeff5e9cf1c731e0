"""Advanced SQL shapes: correlated LATERAL, positional explode,
windowed distinct counting, and a single-pass skyline (Pareto frontier).

The reference's query builder emits only flat SELECT/WHERE/ORDER/LIMIT
(``AthenaEventQuery.java:136-158``); these are north-star surface, each
chosen because the *naive* formulation degrades badly at 100 TB and the
Spark-first formulation does not:

- lateral top-k: per-group LIMIT without a full global sort;
- windowed distinct: running ``COUNT(DISTINCT)`` — Spark lacks the SQL
  form, ``size(collect_set() OVER ...)`` is the idiom (state is one set
  per open partition, not a shuffle per row);
- skyline: the textbook NOT EXISTS dominance test is O(n²) — the
  sort + running-max formulation is one shuffle + one window pass, and
  the oracle *is* the O(n²) spec, proving the fast plan equivalent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from keycloak_event_stream_spark.catalog import conf_scope, load_table
from keycloak_event_stream_spark.registry import register as _q


@_q(
    "q_lateral_topk",
    oracle="""
    SELECT n.n_name, t.c_name, t.c_acctbal
    FROM nation n, LATERAL (
      SELECT c_name, c_acctbal
      FROM customer c
      WHERE c.c_nationkey = n.n_nationkey
      ORDER BY c_acctbal DESC, c_custkey
      LIMIT 3
    ) t
    ORDER BY n.n_name, t.c_acctbal DESC, t.c_name
    """,
)
def q_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with ORDER BY + LIMIT: top-3
    customers by balance per nation.

    Catalyst decorrelates this into a window ``row_number`` under the
    hood — the same plan as the hand-written idiom — so the declarative
    SQL costs nothing. At scale: one hash shuffle on ``c_nationkey``,
    no global sort, dims never materialize the full customer list.
    """
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("_lat_nation")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "_lat_customer"
    )
    return spark.sql(
        """
        SELECT n.n_name, t.c_name, t.c_acctbal
        FROM _lat_nation n, LATERAL (
          SELECT c_name, c_acctbal
          FROM _lat_customer c
          WHERE c.c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_custkey
          LIMIT 3
        ) t
        ORDER BY n.n_name, t.c_acctbal DESC, t.c_name
        """
    )


@_q(
    "q_posexplode_tokens",
    oracle="""
    WITH toks AS (
      SELECT generate_subscripts(string_split(text, ' '), 1) - 1 AS pos,
             unnest(string_split(text, ' ')) AS word
      FROM documents
    )
    SELECT pos,
           count(*) AS n_tokens,
           count(DISTINCT word) AS n_distinct,
           min(word) AS first_word
    FROM toks
    WHERE pos < 8
    GROUP BY pos
    ORDER BY pos
    """,
)
def q_posexplode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional explode: ``posexplode(split(text))`` keeps each
    token's 0-based offset; profile the first 8 token positions across
    the corpus (count / distinct / lexicographic min).

    The position column comes free from the generator — no window or
    zip-with-index pass — and the ``pos < 8`` filter lands directly on
    generator output, so later positions never reach the aggregate.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.posexplode(F.split("text", " ")).alias("pos", "word")
    )
    return (
        toks.filter(F.col("pos") < 8)
        .groupBy("pos")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.countDistinct("word").alias("n_distinct"),
            F.min("word").alias("first_word"),
        )
        .orderBy("pos")
    )


@_q(
    "q_window_distinct_running",
    oracle="""
    WITH r AS (
      SELECT event_type,
             count(DISTINCT user_id) OVER (
               PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS run_distinct
      FROM events
    )
    SELECT event_type,
           CAST(max(run_distinct) AS BIGINT) AS total_distinct,
           CAST(sum(run_distinct) AS BIGINT) AS area_under_curve
    FROM r
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_window_distinct_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT) per event type ordered by time — the
    "cumulative unique users" curve. Spark SQL rejects DISTINCT
    aggregates over windows; the textbook idiom is ``size(collect_set()
    OVER frame)``, but that materializes the accumulated set for every
    row — O(rows × set) churn, measured 6.0s at sf0.1. The scalable
    equivalence: a row raises the distinct count iff it is its user's
    *first* occurrence within the type, so running-distinct = running
    SUM of a first-occurrence flag (``row_number() == 1`` over
    (type, user)). Two cheap window passes (integer state only),
    1.3s at sf0.1 — and at 100 TB the flag pass shuffles by
    (type, user) which also spreads hot types across executors.
    The curve is fingerprinted (max = final distinct count, sum = area
    under the curve) so the oracle compares the entire series without
    shipping every row; the total order (ts, event_id) makes the
    prefix sums engine-independent.
    """
    ev = load_table(spark, sf_dir, "events")
    w_first = Window.partitionBy("event_type", "user_id").orderBy(
        "ts", "event_id"
    )
    flagged = ev.select(
        "event_type",
        "ts",
        "event_id",
        F.when(F.row_number().over(w_first) == 1, 1)
        .otherwise(0)
        .alias("is_first"),
    )
    # The running sum partitions by event_type — a handful of values —
    # so the naive WindowExec runs one task per type however large the
    # table is (the q_window_rank skewed-window class; the 100x leg
    # measured 18.7 s with ~2M rows per task). Same cost-based split:
    # naive under the footer-row threshold (no small-input overhead),
    # two_phase_window above it — the range partitioning fans the sort
    # across the session width regardless of type cardinality, and the
    # integer cumsum is bitwise-identical (addition reassociated only
    # across partition boundaries; 100x leg 3.5 s, 3.3x vs 19.9x).
    # The first-occurrence flag window above stays naive at any scale:
    # it partitions by (type, user) — data-scaled cardinality.
    from keycloak_event_stream_spark.operators._scale import (
        two_phase_window,
        use_two_phase,
    )

    if not use_two_phase(sf_dir, "events"):
        w_run = (
            Window.partitionBy("event_type")
            .orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        r = flagged.select(
            "event_type",
            F.sum("is_first")
            .over(w_run)
            .cast("bigint")
            .alias("run_distinct"),
        )
    else:
        r = two_phase_window(
            flagged,
            [F.col("ts"), F.col("event_id")],
            partition_by=["event_type"],
            cumsum={"run_distinct": "is_first"},
        ).select(
            "event_type",
            F.col("run_distinct").cast("bigint").alias("run_distinct"),
        )
    return (
        r.groupBy("event_type")
        .agg(
            F.max("run_distinct").alias("total_distinct"),
            F.sum("run_distinct").alias("area_under_curve"),
        )
        .orderBy("event_type")
    )


@_q(
    "q_skyline",
    oracle="""
    WITH pts AS (
      SELECT p_retailprice AS price, p_size AS sz, count(*) AS n_parts
      FROM part GROUP BY 1, 2
    )
    SELECT a.price, a.sz, a.n_parts
    FROM pts a
    WHERE NOT EXISTS (
      SELECT 1 FROM pts b
      WHERE b.price <= a.price AND b.sz >= a.sz
        AND (b.price < a.price OR b.sz > a.sz)
    )
    ORDER BY a.price, a.sz
    """,
)
def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier): parts where no other part is both
    cheaper-or-equal and larger-or-equal (strictly better in one).

    Implementation is the O(n log n) sweep, not the O(n²) spec: dedupe
    to distinct (price, size) points, sort by (price ASC, size DESC),
    keep a point iff its size strictly exceeds the running max over all
    preceding points. On sorted distinct points, any preceding point
    has price <= current — so a preceding size >= current's size is
    exactly dominance. The DuckDB oracle runs the quadratic NOT EXISTS
    definition, proving the sweep equivalent. The running max is the
    two-phase range-partitioned exclusive cummax (``_scale``) over the
    distinct pairs — |distinct (price, size)| grows with the catalog,
    so the sweep parallelizes instead of funneling one task; the
    quadratic form would be a self-cross-join of the base table.
    """
    from keycloak_event_stream_spark.operators._scale import (
        two_phase_window,
    )

    part = load_table(spark, sf_dir, "part")
    pts = part.groupBy(
        F.col("p_retailprice").alias("price"), F.col("p_size").alias("sz")
    ).agg(F.count(F.lit(1)).alias("n_parts"))
    flagged = two_phase_window(
        pts,
        [F.asc("price"), F.desc("sz")],
        cummax_excl={"prev_max_sz": "sz"},
    )
    return (
        flagged.filter(
            F.col("prev_max_sz").isNull()
            | (F.col("sz") > F.col("prev_max_sz"))
        )
        .select("price", "sz", "n_parts")
        .orderBy("price", "sz")
    )


@_q(
    "q_pipe_syntax",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           count(*) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    WHERE l_discount >= 0.05
    GROUP BY 1, 2
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL pipe syntax (``|>``): the linear dataflow form of
    filter → aggregate → order, with the discount threshold supplied
    as a *parameter marker* (``spark.sql(..., args=...)``) instead of
    an inlined literal — the typed answer to the reference's manual
    quote-doubling escape hatch (``AthenaEventQuery.java:200-205``).

    Pipe stages compile to the identical Catalyst plan as the nested
    SQL (the oracle is the classic form — same hash, same plan), so
    the readability is free: no optimization fence, pushdown and
    partial aggregation unchanged. New-engine surface worth pinning
    because the reference's whole query layer was string assembly.
    """
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "_pipe_lineitem"
    )
    return spark.sql(
        """
        FROM _pipe_lineitem
        |> WHERE l_discount >= :min_disc
        |> AGGREGATE count(*) AS n,
                     CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))
                          AS DOUBLE) AS sum_qty
           GROUP BY l_returnflag, l_linestatus
        |> SELECT l_returnflag, l_linestatus, n, sum_qty
        |> ORDER BY l_returnflag, l_linestatus
        """,
        args={"min_disc": 0.05},
    )


@_q(
    "q_sql_scripting",
    oracle="""
    WITH powers AS (
      SELECT CAST(pow(2, range) AS BIGINT) AS thr FROM range(0, 31)
    ), counted AS (
      SELECT p.thr,
             (SELECT CAST(count(*) AS BIGINT) FROM orders o
              WHERE o.o_totalprice > p.thr) AS n_above
      FROM powers p
    )
    SELECT thr AS threshold, n_above
    FROM counted
    WHERE n_above < 100
    ORDER BY thr
    LIMIT 1
    """,
)
def q_sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL scripting (``BEGIN … WHILE … END``): procedural
    control flow executed entirely engine-side — find the smallest
    power-of-two price threshold with fewer than 100 orders above it.

    The reference's only "procedure" is a Java poll loop around Athena
    (``AbstractAthenaQuery.java:108-142``); SQL scripting moves that
    class of driver-side orchestration into the engine, where each
    iteration is a planned query (pushdown intact) and no result rows
    cross the driver boundary between steps. The loop here scans a
    pre-aggregated per-power rollup shape (O(log max_price)
    iterations); the oracle is the declarative closed form over the
    same power spine — the scripted and set-based programs must agree
    exactly. At 100 TB each iteration's count would run over the same
    pre-aggregated extract, not the raw fact table.

    The script runs eagerly inside ``spark.sql`` and returns a local
    relation, so scripting is enabled only for that call and the
    session conf is restored before the query returns.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "_script_orders"
    )
    with conf_scope(spark, {"spark.sql.scripting.enabled": "true"}):
        return spark.sql(
            """
            BEGIN
              DECLARE thr BIGINT DEFAULT 1;
              DECLARE n_above BIGINT DEFAULT 0;
              SET n_above = (SELECT count(*) FROM _script_orders
                             WHERE o_totalprice > thr);
              WHILE n_above >= 100 DO
                SET thr = thr * 2;
                SET n_above = (SELECT count(*) FROM _script_orders
                               WHERE o_totalprice > thr);
              END WHILE;
              SELECT thr AS threshold, n_above;
            END
            """
        )


@_q(
    "q_collation_group",
    oracle="""
    SELECT lower(CASE WHEN c_custkey % 2 = 0
                      THEN upper(substr(c_mktsegment, 1, 1))
                             || lower(substr(c_mktsegment, 2))
                      ELSE c_mktsegment END) AS seg_lc,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100
                         AS BIGINT)) AS BIGINT) AS sum_cents
    FROM customer
    GROUP BY 1
    ORDER BY 1
    """,
)
def q_collation_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 string collations: case-insensitive grouping via
    ``COLLATE UTF8_LCASE`` over a deliberately mixed-case segment
    column (half the rows are title-cased) — the engine-native answer
    to dirty categorical metadata, where the classic workaround
    (``lower()`` everywhere) loses the original values and has to be
    remembered at every predicate.

    The group-by key carries the collation, so 'BUILDING' and
    'Building' hash and compare equal inside the aggregate itself —
    no normalization pass over 100 TB, and comparisons stay inside
    whole-stage codegen. The oracle is the lower()-normalized classic
    form; output keys are lowercased explicitly so both engines emit
    identical strings.
    """
    cust = load_table(spark, sf_dir, "customer")
    mixed = F.when(
        F.col("c_custkey") % 2 == 0, F.initcap(F.lower("c_mktsegment"))
    ).otherwise(F.col("c_mktsegment"))
    cents = (F.col("c_acctbal").cast("decimal(18,2)") * 100).cast("bigint")
    return (
        cust.select(
            F.expr(
                "CAST(CASE WHEN c_custkey % 2 = 0 "
                "THEN initcap(lower(c_mktsegment)) "
                "ELSE c_mktsegment END AS STRING COLLATE UTF8_LCASE)"
            ).alias("seg"),
            cents.alias("cents"),
        )
        .groupBy("seg")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
        .select(
            F.lower(F.col("seg").cast("string")).alias("seg_lc"),
            "n",
            "sum_cents",
        )
        .orderBy("seg_lc")
    )


@_q(
    "q_approx_topk",
    oracle="""
    SELECT event_type AS item, CAST(count(*) AS BIGINT) AS cnt
    FROM events
    GROUP BY 1
    """,
)
def q_approx_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 ``approx_top_k``: heavy-hitter sketch as a single
    aggregate — here sized (k=32, maxItemsTracked default) above the
    event-type cardinality, where the sketch is *provably exact*, so
    the full distribution hash-matches the plain GROUP BY oracle.

    This is the honest framing of sketch correctness: below capacity
    the answer is exact and checkable; past capacity (true 100 TB
    heavy-hitter use) the same one-pass mergeable sketch degrades to
    approximate counts with bounded error instead of a giant shuffle —
    the q_sketch_cms/q_sketch_hll posture with an engine-native
    operator.
    """
    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("_atk_events")
    return spark.sql(
        """
        SELECT t.item AS item, CAST(t.count AS BIGINT) AS cnt
        FROM (
          SELECT explode(approx_top_k(event_type, 32)) AS t
          FROM _atk_events
        )
        """
    )


@_q(
    "q_execute_immediate",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS cents
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
      AND ts <= TIMESTAMP '2024-01-20 23:59:59'
      AND event_type IN ('click', 'purchase')
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_execute_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 ``EXECUTE IMMEDIATE``: dynamic SQL with *parameter
    markers* — the SQL text is assembled at runtime (here: a rollup
    whose filters arrive as named parameters) but the VALUES never
    are, which is the engine-native answer to the reference's
    quote-doubling string escape (``AthenaEventQuery.java:200-205``,
    its only injection defense). Same plan as the static query —
    parameters bind before analysis, pushdown intact.

    Paired with q_pipe_syntax (parameter markers in static SQL) and
    q_sql_scripting (procedural blocks), this completes the dynamic-
    SQL triangle: generated text, safe values, zero string-splicing
    of user input anywhere.
    """
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "_ei_events"
    )
    return spark.sql(
        """
        EXECUTE IMMEDIATE
          'SELECT event_type,
                  CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100
                                AS BIGINT)) AS BIGINT) AS cents
           FROM _ei_events
           WHERE ts >= CAST(:lo AS TIMESTAMP)
             AND ts <= CAST(:hi AS TIMESTAMP)
             AND event_type IN (:t1, :t2)
           GROUP BY event_type
           ORDER BY event_type'
          USING ('2024-01-10 00:00:00' AS lo,
                 '2024-01-20 23:59:59' AS hi,
                 'click' AS t1, 'purchase' AS t2)
        """
    )
