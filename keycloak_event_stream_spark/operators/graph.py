"""Iterative graph algorithms as driver-loop DataFrame programs.

Complements the connected-components label propagation in
:mod:`..llm.dedup` with PageRank — the canonical fixed-point iteration.
The reference computes nothing iterative (SURVEY.md §2.2); this is
north-star engine surface demonstrating the Spark idiom for iterative
algorithms: a driver ``for`` loop over joins with edges/degrees
persisted once. Every loop runs eagerly inside
``catalog.bounded_eval_scope`` (the exchange-regime comment below) and
returns a ``localCheckpoint(eager=True)`` result. HITS, k-core and BFS
materialize every round; PageRank checkpoints its seed and composes
its five rounds into the one plan that its result checkpoint executes.

Exactness across engines (the whole point of the oracle check): each
iteration's per-edge contribution ``r/deg`` is rounded to 6 decimals,
the per-node sum runs in decimal (order-independent), and the damping
update is plain double arithmetic on identical inputs — so five
iterations stay bit-identical between Spark and DuckDB's unrolled-CTE
replay of the same recurrence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from keycloak_event_stream_spark.catalog import (
    _LOOP_ROWS_PER_PART,
    bounded_eval_scope,
    footer_rows,
    load_table,
    pin,
    pin_scope,
    spread,
)
from keycloak_event_stream_spark.operators._exact import DEC
from keycloak_event_stream_spark.registry import register as _q

_DAMP = 0.85
_ITERS = 5

# --- size-guarded broadcast for |V|-sized iteration state -----------------
#
# Every iterative algorithm here re-joins a node-sized state vector
# (rank / hub score / surviving-node set / BFS frontier) against a
# persisted edge table each round. Broadcasting that vector keeps the
# edge table from ever re-shuffling — the right plan while |V| fits in
# executor memory — but an unconditional F.broadcast() hint overrides
# Spark's size threshold, so at a 100 TB graph (|V| in the billions) it
# OOMs instead of degrading. The guard: broadcast only while the node
# count is at or under _BCAST_MAX_NODES (10M
# nodes ≈ low hundreds of MB of (id, double) state — comfortably inside
# a production executor's broadcast budget); above it, drop the hint so
# the planner falls back to a shuffle join whose state side is |V| rows
# (cheap to exchange) while the edge table stays in its cached layout,
# hash-partitioned on the per-iteration join key, and never crosses the
# wire (EnsureRequirements sees the cached HashPartitioning and only
# adds the |V|-sized exchange + per-partition sorts). A limit of 0
# forces the shuffle path — how tests/test_plans.py pins both plan
# shapes on the same fixture.

_BCAST_MAX_NODES = 10_000_000


def _use_broadcast(n_nodes: int | None) -> bool:
    """True when a |V|-sized state vector should carry a broadcast
    hint. ``n_nodes=None`` means the caller has no count handy (and no
    action is worth spending to get one) — then only a limit of 0
    withholds the hint."""
    if _BCAST_MAX_NODES <= 0:
        return False
    return n_nodes is None or n_nodes <= _BCAST_MAX_NODES


def _state(df: DataFrame, bcast: bool) -> DataFrame:
    return F.broadcast(df) if bcast else df


# Exchange regime for EAGER iteration loops (round 8; the dedup-LP
# lesson generalized) — catalog.bounded_eval_scope owns it. Each loop
# query's whole body runs under a width derived from lineitem footer
# rows (the |E| edge build), and its rounds nest a second scope over
# the MEASURED node count the broadcast guard already paid for, with
# rows_per_part=_LOOP_ROWS_PER_PART: floor 4, where AQE goes off too
# (|V| keeps every loop there at fixture sizes), cap = the session's
# own width so a cluster session keeps its parallelism when |V| is
# huge. Measured 37->8 s (BFS), 64->14 s (k-core), 8.3->5.7 s (HITS,
# sf0.1) under the driver's vanilla 200-partition session, and still
# faster under a tuned 32-width session (BASELINE.md "Round 8"). Only
# works for loops that EXECUTE inside the scopes (a localCheckpoint or
# count per round, and an eager result) — a lazy plan executes at the
# caller's action, after restore.


def _duck_pagerank() -> str:
    head = """
    WITH pairs AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    edges AS (
      SELECT 'c' || c AS src, 's' || s AS dst FROM pairs
      UNION ALL
      SELECT 's' || s AS src, 'c' || c AS dst FROM pairs
    ),
    deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
    nn AS (SELECT CAST(count(DISTINCT src) AS DOUBLE) AS n FROM edges),
    r0 AS (
      SELECT DISTINCT src AS node, (SELECT 1.0 / n FROM nn) AS r FROM edges
    )"""
    steps = []
    for i in range(1, _ITERS + 1):
        steps.append(f""",
    r{i} AS (
      SELECT e.dst AS node,
             (SELECT 0.15 / n FROM nn)
             + {_DAMP} * CAST(sum(CAST(round(p.r / d.deg, 6)
                                       AS DECIMAL(27,6))) AS DOUBLE) AS r
      FROM r{i - 1} p
      JOIN edges e ON p.node = e.src
      JOIN deg d ON d.src = e.src
      GROUP BY e.dst
    )""")
    return (
        head
        + "".join(steps)
        + f"""
    SELECT node, r AS pagerank FROM r{_ITERS}
    ORDER BY pagerank DESC, node
    LIMIT 50
    """
    )


@_q("q_graph_pagerank", oracle=_duck_pagerank())
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 5 fixed iterations) over the symmetric
    customer<->supplier trade graph derived from orders x lineitem;
    top-50 nodes. The Spark iterative idiom: edges+degrees computed
    once and persisted, the driver loop re-joins only the rank vector
    (|nodes| rows — the small, shrinking state). Symmetric edges mean
    no dangling-mass correction is needed and every node receives
    inbound mass each step. The rank
    vector broadcasts into the edge join while |nodes| is at or under
    _BCAST_MAX_NODES (size-guarded — see _use_broadcast);
    above the limit the hint drops away and the per-iteration join
    zippers the |V|-row rank exchange against the src-pre-partitioned
    cached edge table instead of OOMing the executors.

    Eager and scoped like HITS, k-core and BFS (the exchange-regime
    comment above _duck_pagerank): the build runs at the
    lineitem-derived width, the five rounds and the top-50
    ``localCheckpoint(eager=True)`` under the node-derived loop width.
    Each round reads the previous rank vector once (HITS's
    normalization reads its sums twice and cannot), so the rounds
    still compose into one plan; it executes inside the scopes, with
    AQE off at the floor width, not at the caller's action."""
    with bounded_eval_scope(
        spark, footer_rows(sf_dir, "lineitem")
    ) as width, pin_scope():
        o = spread(load_table(spark, sf_dir, "orders"))
        l = spread(load_table(spark, sf_dir, "lineitem"))
        pairs = (
            o.join(l, o.o_orderkey == l.l_orderkey)
            .select("o_custkey", "l_suppkey")
            .distinct()
        )
        pairs = pin(pairs)
        c_node = F.concat(F.lit("c"), F.col("o_custkey"))
        s_node = F.concat(F.lit("s"), F.col("l_suppkey"))
        edges = (
            pairs.select(c_node.alias("src"), s_node.alias("dst"))
            .unionByName(pairs.select(s_node.alias("src"), c_node.alias("dst")))
        )
        # out-degree as a map-side-combined groupBy over the PERSISTED pair
        # table: only |V| partial rows cross the wire, where the previous
        # count-window shape exchanged the full |E| edge list by src before
        # the dst repartition exchanged it again — two |E| shuffles in the
        # cold build. The deg groupBy also replaces the old nodes-distinct
        # shuffle (deg IS the distinct src set), saving a third exchange,
        # and the edge table no longer carries a deg column at all: the
        # per-src contribution is computed on the |V|-row side each round
        # (see the loop), so the cached edge list is exactly (src, dst).
        deg = pin(edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg")))
        n_nodes = deg.count()
        if n_nodes == 0:
            # Empty graph (a zero-match input slice is routine at scale —
            # a pruned partition, a new tenant): degrade to an empty
            # result with the output schema instead of dividing the 1/|V|
            # seed by zero on the driver.
            return spark.createDataFrame([], "node string, pagerank double")
        bcast = _use_broadcast(n_nodes)
        # hash-partition the cached edge table ONCE on the loop's hot key:
        # dst under broadcast (every iteration's groupBy(dst) is satisfied
        # by the cached layout — 5 shuffles of |edges| become 0), src in
        # shuffle mode (the per-iteration contrib join clusters on src;
        # each iteration then exchanges only the |V|-row contrib vector).
        loop_edges = pin(edges.repartition(width, "dst" if bcast else "src"))
        with bounded_eval_scope(spark, n_nodes, _LOOP_ROWS_PER_PART):
            ranks = deg.select(
                F.col("src").alias("node"), F.lit(1.0 / n_nodes).alias("r")
            ).localCheckpoint()
            for _ in range(_ITERS):
                # Per-round work is split so the |E|-row side does
                # NOTHING but a hash probe and a long sum (r10 verdict
                # #7 — the iterations, not the build, dominated the 10x
                # cold row at 3.5 s/round):
                # 1) contribs: r/deg rounded to 6 dp on the |V|-row
                #    side — the divisions and roundings run |V| times,
                #    not |E| times as the previous deg-column-on-edges
                #    shape did;
                # 2) the 6-dp contribution is carried as LONG
                #    micro-units (round(x,6)*1e6 re-rounded to kill the
                #    float ulp), so the per-dst reduction is a codegen
                #    long sum instead of a DECIMAL(27,6) sum.
                #    sum_micro/1e6 is bitwise the oracle's CAST(sum(
                #    DECIMAL) AS DOUBLE): both are the correctly-rounded
                #    double of the exact integer-scaled sum. Overflow is
                #    impossible at any scale — the GLOBAL rank mass is
                #    1, so all micro-contributions ever summed total
                #    ~1e6.
                # Measured at the 10x replica: 5 rounds 17.7 -> 10.0 s,
                # cold 10x row 14.96 -> 7.35 s (ratio 6.2x -> 3.2x),
                # 100x leg 159 -> 63 s (49.5x -> 22.8x); sf0.1
                # steady-state 1.86 s, inside the prior 1.60 s row's
                # noise band.
                contribs = (
                    ranks.join(deg, ranks.node == deg.src)
                    .select(
                        "node",
                        F.round(F.round(F.col("r") / F.col("deg"), 6) * 1e6)
                        .cast("long")
                        .alias("cm"),
                    )
                )
                # size-guarded broadcast, same guard as before: |V|
                # contrib rows broadcast while they fit, degrading to the
                # shuffle join against the src-partitioned cached edge
                # layout above it.
                ranks = (
                    loop_edges.join(
                        _state(contribs, bcast),
                        loop_edges.src == contribs.node,
                    )
                    .groupBy("dst")
                    .agg(
                        (
                            F.lit(0.15 / n_nodes)
                            + _DAMP * (F.sum("cm") / F.lit(1e6))
                        ).alias("r")
                    )
                    .select(F.col("dst").alias("node"), "r")
                )
            return (
                ranks.select("node", F.col("r").alias("pagerank"))
                .orderBy(F.col("pagerank").desc(), "node")
                .limit(50)
                .localCheckpoint(eager=True)
            )


@_q(
    "q_graph_triangles",
    oracle="""
    WITH pairs AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
      JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= 2
    )
    SELECT CAST((SELECT count(*) FROM pairs) AS BIGINT) AS n_edges,
           CAST(count(*) AS BIGINT) AS n_triangles
    FROM pairs e1
    JOIN pairs e2 ON e2.u = e1.v
    JOIN pairs e3 ON e3.u = e1.u AND e3.v = e2.v
    """,
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count in the co-purchase graph (parts linked when
    ≥2 orders contain both) — the clustering-cohesion census.

    The node-ordering discipline (every edge stored once as u < v,
    triangles enumerated as u < v < w via two equi-joins) counts each
    triangle exactly once with no post-hoc dedup — the standard trick
    that turns an O(n³) enumeration into two hash joins on an
    oriented edge list. Edge construction reuses the market-basket
    pair pass (shuffle on l_orderkey, pair fan-out local); the
    triangle joins shuffle on single node keys. At 100 TB the edge
    list gets a degree-ordered orientation instead (high-degree nodes
    last) to bound the join fan-out — noted here as the scale
    escalation path.
    """
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    pairs = pin(
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("u"),
            F.col("b.l_partkey").alias("v"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
        .select("u", "v")
    )
    n_edges = pairs.count()
    e1, e2, e3 = pairs.alias("e1"), pairs.alias("e2"), pairs.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.u") == F.col("e1.v"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u"))
            & (F.col("e3.v") == F.col("e2.v")),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )
    return tri.select(
        F.lit(n_edges).cast("bigint").alias("n_edges"), "n_triangles"
    )


_HITS_ITERS = 4


def _duck_hits() -> str:
    d6 = lambda e: (
        f"CAST(sum(CAST(round({e}, 6) AS DECIMAL(27,6))) AS DOUBLE)"
    )
    head = f"""
    WITH pairs AS MATERIALIZED (
      SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    edges AS MATERIALIZED (
      SELECT 'c' || c AS src, 's' || s AS dst FROM pairs),
    h0 AS MATERIALIZED (
      SELECT DISTINCT src AS node,
             1.0 / (SELECT CAST(count(DISTINCT src) AS DOUBLE)
                    FROM edges) AS r
      FROM edges
    )"""
    steps = []
    for i in range(1, _HITS_ITERS + 1):
        steps.append(f""",
    ar{i} AS MATERIALIZED (
      SELECT e.dst AS node, {d6('h.r')} AS r
      FROM h{i - 1} h JOIN edges e ON h.node = e.src
      GROUP BY e.dst
    ),
    a{i} AS MATERIALIZED (
      SELECT node, r / (SELECT {d6('r')} FROM ar{i}) AS r FROM ar{i}
    ),
    hr{i} AS MATERIALIZED (
      SELECT e.src AS node, {d6('a.r')} AS r
      FROM a{i} a JOIN edges e ON a.node = e.dst
      GROUP BY e.src
    ),
    h{i} AS MATERIALIZED (
      SELECT node, r / (SELECT {d6('r')} FROM hr{i}) AS r FROM hr{i}
    )""")
    return (
        head
        + "".join(steps)
        + f"""
    SELECT kind, node, score FROM (
      SELECT 'authority' AS kind, node, r AS score,
             row_number() OVER (ORDER BY r DESC, node) AS rn
      FROM a{_HITS_ITERS}
      UNION ALL
      SELECT 'hub', node, r,
             row_number() OVER (ORDER BY r DESC, node)
      FROM h{_HITS_ITERS}
    ) WHERE rn <= 25
    ORDER BY kind, score DESC, node
    """
    )


@_q("q_graph_hits", oracle=_duck_hits())
def q_graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg) hubs-and-authorities over the DIRECTED
    customer->supplier trade graph: customers that buy from many
    well-connected suppliers are strong hubs, suppliers bought by
    strong hubs are strong authorities — the mutually-recursive
    companion to q_graph_pagerank's single random-walk score. 4 fixed
    iterations, sum-normalized each half-step, top-25 of each side.

    Spark idiom mirrors pagerank: the edge table is computed ONCE and
    persisted; the driver loop re-joins only the score vectors
    (|nodes| rows, size-guarded broadcast into the edge join so edges
    never re-shuffle while |V| fits — above
    _BCAST_MAX_NODES the hint drops and the scores
    exchange against per-key cached edge layouts instead);
    localCheckpoint truncates lineage each half-step.
    Map-side partial aggregation bounds each half-step's shuffle at
    |nodes| x partitions rows regardless of |edges|.

    Unlike pagerank, the per-half-step sum-normalization references its
    own aggregate twice (raw + total), so the half-steps cannot compose
    into one lazy plan: without the eager localCheckpoint the logical
    plan doubles per half-step (2^8 copies — measured OOM), and a
    segmented variant re-executed every uncached broadcast subtree
    (measured pathological). The eager per-half-step action is
    therefore load-bearing — which makes the LOOP's exchange regime the
    cost lever, exactly as in the dedup LP loop (llm/dedup.py): the
    8 checkpoint actions shuffle only |V|-row score tables, so the
    session's corpus-scale AQE re-planning and shuffle width are pure
    scheduling overhead there. Round 8 scopes the loop to AQE-off +
    a width derived from the measured node count (floor 4, cap = the
    session's own width so a cluster session keeps its parallelism
    when |V| is huge), restored in a finally — measured 8.3 -> 5.7 s
    at sf0.1 and 5.9 -> 3.9 s at sf0.01 (interleaved same-session
    cold-plan best-of-3, rows identical; BASELINE.md "Round 8 —
    q_graph_hits"). Round 9 moved the |E|-sized edge build under an
    input-derived width too (the build-phase comment below).

    Determinism: per-edge contributions round at 6 decimals and sum in
    DECIMAL (order-independent); normalization divides two identically
    derived doubles — the q_graph_pagerank discipline, so 4 iterations
    stay bitwise-equal to DuckDB's unrolled-CTE replay."""
    # Exchange regime (module comment above _duck_pagerank): the build
    # runs at the lineitem-derived width, the rounds at the node-derived
    # one, and the result materializes inside both (BASELINE.md
    # "Round 9 - graph build phase").
    with bounded_eval_scope(
        spark, footer_rows(sf_dir, "lineitem")
    ) as width, pin_scope():
        o = spread(load_table(spark, sf_dir, "orders"))
        l = spread(load_table(spark, sf_dir, "lineitem"))
        # LONG node keys (round 11): the graph is directed c->s, so a
        # score table never mixes sides — the 'c'/'s' string prefixes
        # are purely cosmetic and now attach only to the top-25 output
        # (BEFORE its orderBy, so the string tiebreak is unchanged).
        # Raw integer keys shrink the persisted edge list ~3x and make
        # every half-step join/groupBy hash longs instead of strings.
        edges = pin(
            o.join(l, o.o_orderkey == l.l_orderkey)
            .select(
                F.col("o_custkey").cast("long").alias("src"),
                F.col("l_suppkey").cast("long").alias("dst"),
            )
            .distinct()
        )
        n_hubs = edges.select("src").distinct().count()
        if n_hubs == 0:
            # empty graph: no 1/|V| seed to build — return the empty
            # output shape instead of a driver-side ZeroDivisionError
            return spark.createDataFrame(
                [], "kind string, node string, score double"
            )
        bcast = _use_broadcast(n_hubs)
        if bcast:
            edges_by = {"src": edges, "dst": edges}
        else:
            # shuffle mode: the half-steps alternate join keys, so cache
            # the edge table in BOTH layouts once (two |E| shuffles at
            # mode-switch time) — each of the 8 half-step joins then
            # exchanges only the |V|-row score vector against the matching
            # cached layout.
            edges_by = {
                "src": pin(edges.repartition(width, "src")),
                "dst": pin(edges.repartition(width, "dst")),
            }
        # loop conf scope (see docstring): the 8 eager
        # half-step actions move only |V|-row score tables. Every score
        # the output reads is localCheckpoint'ed, so the edge pins are
        # dead weight after the eager materialization; pin_scope drops
        # them, on failure too.
        with bounded_eval_scope(spark, n_hubs, _LOOP_ROWS_PER_PART):
            h = (
                edges.select("src")
                .distinct()
                .select(F.col("src").alias("node"), F.lit(1.0 / n_hubs).alias("r"))
                .localCheckpoint()
            )

            def _half(score: DataFrame, out_key: str, in_key: str) -> DataFrame:
                # Round 11 (the 100x probe read 28.4x): two fixes
                # with bitwise-identical results —
                # 1) the 6-dp contribution converts to LONG
                #    micro-units on the |V|-row score side (the
                #    q_graph_pagerank discipline: round(x,6)*1e6
                #    re-rounded to kill the float ulp), so the
                #    |E|-row reduction is a codegen long sum, not a
                #    DECIMAL(27,6) sum, and the rounding runs |V|
                #    times, not |E| times;
                # 2) the per-node sums CHECKPOINT BEFORE the
                #    normalization total is taken: `tot` previously
                #    re-executed the whole |E| join as the
                #    broadcast subplan, doubling every half-step's
                #    edge pass (16 |E| scans for 4 iterations; now
                #    8). sum_k/1e6 is the correctly-rounded double
                #    of the exact integer-scaled sum — exactly the
                #    oracle's CAST(sum(DECIMAL) AS DOUBLE) — and
                #    the total over per-node 6-dp values is the
                #    integer sum of the same micro-units, so the
                #    normalization divides the identical doubles.
                sm = score.select(
                    "node",
                    F.round(F.round(F.col("r"), 6) * 1e6)
                    .cast("long")
                    .alias("k"),
                )
                raw = (
                    edges_by[in_key].join(
                        _state(sm, bcast), F.col(in_key) == F.col("node")
                    )
                    .groupBy(out_key)
                    .agg(F.sum("k").alias("k"))
                    .withColumnRenamed(out_key, "node")
                    .localCheckpoint()
                )
                tot = raw.agg(F.sum("k").alias("tk"))
                return raw.crossJoin(F.broadcast(tot)).select(
                    "node",
                    (
                        (F.col("k") / F.lit(1e6))
                        / (F.col("tk") / F.lit(1e6))
                    ).alias("r"),
                )

            a = None
            for _ in range(_HITS_ITERS):
                a = _half(h, "dst", "src")
                h = _half(a, "src", "dst")
        top = lambda df, kind, prefix: (
            df.select(
                F.lit(kind).alias("kind"),
                F.concat(F.lit(prefix), F.col("node")).alias("node"),
                F.col("r").alias("score"),
            )
            .orderBy(F.col("score").desc(), "node")
            .limit(25)
        )
        return (
            top(a, "authority", "s")
            .unionAll(top(h, "hub", "c"))
            .orderBy("kind", F.col("score").desc(), "node")
        ).localCheckpoint(eager=True)


_LP_HUB_CAP = 50  # drop hub customers above this degree before pairing


@_q(
    "q_graph_common_neighbors",
    oracle=f"""
    WITH pairs AS MATERIALIZED (
      SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    cdeg AS (SELECT c, count(*) AS cd FROM pairs GROUP BY c),
    kept AS MATERIALIZED (
      SELECT p.c, p.s FROM pairs p JOIN cdeg ON cdeg.c = p.c
      WHERE cdeg.cd <= {_LP_HUB_CAP}
    ),
    sdeg AS (SELECT s, CAST(count(*) AS BIGINT) AS sd
             FROM kept GROUP BY s),
    common AS (
      SELECT a.s AS s1, b.s AS s2, CAST(count(*) AS BIGINT) AS cn
      FROM kept a JOIN kept b ON a.c = b.c AND a.s < b.s
      GROUP BY a.s, b.s
    )
    SELECT s1, s2, cn, d1.sd AS deg1, d2.sd AS deg2,
           CAST(cn AS DOUBLE) / (d1.sd + d2.sd - cn) AS jaccard
    FROM common
    JOIN sdeg d1 ON d1.s = s1
    JOIN sdeg d2 ON d2.s = s2
    ORDER BY jaccard DESC, cn DESC, s1, s2
    LIMIT 25
    """,
)
def q_graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by common-neighbor counting: supplier pairs
    ranked by Jaccard overlap of their customer sets (the classic
    common-neighbors/Jaccard score — candidates for 'these two nodes
    should be linked'). Computed by the hub-explosion pattern: self-
    join the bipartite edge list on the shared customer, count per
    (s1, s2).

    The 100 TB hazard of this shape is the hub node: one customer
    connected to k suppliers emits k² pairs. The operator therefore
    CAPS hub degree first (drop customers with more than {50}
    suppliers — a hub shared by everyone carries no signal for
    similarity anyway, exactly why production link-prediction and
    similarity joins prune stop-nodes). With the cap, the pair
    explosion is bounded by cap x |edges| — linear in data, and the
    cap is the knob. Counts exact; one double division; deterministic
    (jaccard, cn, s1, s2) tiebreak; top-25 via TakeOrderedAndProject."""
    # Bounded-eval width (catalog.bounded_eval_scope): the capped pair
    # explosion + its persisted `kept` prefix at corpus width measured
    # 12-13 s vanilla for a 25-row result; input-derived width reads
    # ~1 s. The WHOLE body runs under the scope: persist() compiles
    # the cached subtree's physical plan eagerly at call time, so a
    # pin created outside the scope would keep corpus width forever.
    with bounded_eval_scope(spark, footer_rows(sf_dir, "lineitem")), pin_scope():
        o = spread(load_table(spark, sf_dir, "orders"))
        l = spread(load_table(spark, sf_dir, "lineitem"))
        pairs = (
            o.join(l, o.o_orderkey == l.l_orderkey)
            .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
            .distinct()
        )
        cdeg = pairs.groupBy("c").agg(F.count(F.lit(1)).alias("cd"))
        kept = pin(
            pairs.join(cdeg.filter(F.col("cd") <= _LP_HUB_CAP), "c")
            .select("c", "s")
        )
        sdeg = kept.groupBy("s").agg(F.count(F.lit(1)).cast("bigint").alias("sd"))
        a, b = kept.alias("a"), kept.alias("b")
        common = (
            a.join(
                b,
                (F.col("a.c") == F.col("b.c")) & (F.col("a.s") < F.col("b.s")),
            )
            .groupBy(F.col("a.s").alias("s1"), F.col("b.s").alias("s2"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("cn"))
        )
        d1 = sdeg.select(F.col("s").alias("s1"), F.col("sd").alias("deg1"))
        d2 = sdeg.select(F.col("s").alias("s2"), F.col("sd").alias("deg2"))
        # degree tables are |V|-sized: same guard as the iterative state
        # vectors, via the conf-only path (no count action worth spending)
        bcast = _use_broadcast(None)
        ranked = (
            common.join(_state(d1, bcast), "s1")
            .join(_state(d2, bcast), "s2")
            .select(
                "s1",
                "s2",
                "cn",
                "deg1",
                "deg2",
                (
                    F.col("cn").cast("double")
                    / (F.col("deg1") + F.col("deg2") - F.col("cn"))
                ).alias("jaccard"),
            )
            .orderBy(
                F.col("jaccard").desc(), F.col("cn").desc(), "s1", "s2"
            )
            .limit(25)
        )
        return ranked.localCheckpoint(eager=True)


@_q(
    "q_graph_degree_dist",
    oracle="""
    WITH pairs AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    edges AS (
      SELECT 'c' || c AS src FROM pairs
      UNION ALL
      SELECT 's' || s AS src FROM pairs
    ),
    deg AS (
      SELECT src, CAST(count(*) AS BIGINT) AS d
      FROM edges GROUP BY src
    ),
    hist AS (
      SELECT d, CAST(count(*) AS BIGINT) AS n_nodes
      FROM deg GROUP BY d
    ),
    fit AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(ln(CAST(d AS DOUBLE) / 1.5), 6)
                           AS DECIMAL(27,6))) AS DOUBLE) AS slog
      FROM deg WHERE d >= 2
    )
    SELECT h.d AS degree, h.n_nodes,
           1.0 + CAST(f.n AS DOUBLE) / f.slog AS alpha_mle
    FROM hist h CROSS JOIN fit f
    ORDER BY h.d
    """,
)
def q_graph_degree_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the customer–supplier co-order graph,
    with the continuous power-law MLE exponent
    α = 1 + n / Σ ln(dᵢ/(d_min − ½)) over d ≥ d_min = 2 (Clauset-
    Shirer-Newman form) attached — the first question about any graph
    an iterative algorithm will touch: a heavy tail means hub salting
    / degree-capping (cf. q_graph_common_neighbors) is mandatory
    before the self-joins, and α quantifies how heavy.

    Scale: the degree table is one shuffle over the distinct edge
    list; the histogram is |distinct degrees| cells; per-node ln
    terms round at 6 dp into an order-independent DECIMAL sum (the
    q_chi_square discipline), so α is bitwise. The 1-row fit
    broadcast-joins onto the bounded histogram."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    pairs = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    edges = pairs.select(
        F.concat(F.lit("c"), F.col("c")).alias("src")
    ).unionAll(pairs.select(F.concat(F.lit("s"), F.col("s")).alias("src")))
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    hist = deg.groupBy("d").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    )
    fit = deg.filter(F.col("d") >= 2).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            F.round(F.log(F.col("d").cast("double") / 1.5), 6).cast(
                "decimal(27,6)"
            )
        )
        .cast("double")
        .alias("slog"),
    )
    return (
        hist.crossJoin(F.broadcast(fit))
        .select(
            F.col("d").alias("degree"),
            "n_nodes",
            (F.lit(1.0) + F.col("n").cast("double") / F.col("slog")).alias(
                "alpha_mle"
            ),
        )
        .orderBy("degree")
    )


@_q(
    "q_graph_kcore",
    oracle="""
    WITH pairs AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    e0 AS (
      SELECT 'c' || c AS src, 's' || s AS dst FROM pairs
      UNION ALL
      SELECT 's' || s AS src, 'c' || c AS dst FROM pairs
    ),
    k1 AS (
      SELECT src FROM e0 GROUP BY src HAVING count(*) >= 3
    ),
    e1 AS (
      SELECT e.src, e.dst FROM e0 e
      JOIN k1 a ON a.src = e.src JOIN k1 b ON b.src = e.dst
    ),
    k2 AS (
      SELECT src FROM e1 GROUP BY src HAVING count(*) >= 3
    ),
    e2 AS (
      SELECT e.src, e.dst FROM e1 e
      JOIN k2 a ON a.src = e.src JOIN k2 b ON b.src = e.dst
    ),
    k3 AS (
      SELECT src, CAST(count(*) AS BIGINT) AS deg
      FROM e2 GROUP BY src HAVING count(*) >= 3
    ),
    e3 AS (
      SELECT e.src, e.dst FROM e2 e
      JOIN k3 a ON a.src = e.src JOIN k3 b ON b.src = e.dst
    ),
    survivors AS (
      SELECT src, CAST(count(*) AS BIGINT) AS deg
      FROM e3 GROUP BY src
    )
    SELECT CAST((SELECT count(*) FROM survivors) AS BIGINT) AS n_nodes,
           CAST((SELECT count(*) FROM e3) AS BIGINT) AS n_half_edges,
           CAST((SELECT max(deg) FROM survivors) AS BIGINT) AS max_deg,
           CAST((SELECT min(deg) FROM survivors) AS BIGINT) AS min_deg
    """,
)
def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core extraction (3 peeling rounds) of the customer–supplier
    bipartite graph: repeatedly drop nodes with degree < 3 and the
    edges touching them — the standard dense-subgraph/community seed
    (and the spam-farm detector: low-degree fringes peel away, tightly
    coupled cores remain). Emits the surviving core's node/edge counts
    and degree envelope.

    Each peel is (degree count → semi-join filter on BOTH endpoints) —
    two keyed aggregates + two equi-joins per round on the persisted
    edge table, the same per-iteration shape as q_graph_pagerank;
    rounds are unrolled (3 is enough to converge on this graph and the
    oracle mirrors the exact same 3 rounds, so the comparison is
    well-defined even where full convergence would take more). At
    100 TB the survivor node lists shrink monotonically — later
    iterations broadcast.

    Round 8: the peels run EAGERLY (a counted pin per round) inside
    the loop-width scope — the lazy one-action compose left every peel
    exchange at the session's corpus-scale width with AQE re-planning
    each boundary, which under the driver's vanilla 200-partition
    session cost 64.4 s at sf0.01 vs **14.3 s** scoped (and 4.1 vs
    2.2 s under a tuned 32-width session — no regression; interleaved
    cold best-of-2, rows identical; BASELINE.md "Round 8"). The
    checkpoint materializes the same |E|-per-peel volume the persists
    already did — the trade is 3 extra driver round-trips for
    right-sized exchanges; round 9 moved the |E|-sized edge build
    under an input-derived width as well (the build-phase comment
    below)."""
    # Exchange regime (module comment above _duck_pagerank): the build
    # runs at the lineitem-derived width, the rounds at the node-derived
    # one, and the result materializes inside both (BASELINE.md
    # "Round 9 - graph build phase").
    # Memory shape (round 11): the previous form peeled the DOUBLED
    # string-keyed edge list ("c123"/"s45" x both directions), so four
    # generations of 2|pairs| string rows sat checkpointed at once —
    # a heap OOM at the 100x replica (118M half-edges in an 8g local
    # JVM; on a cluster the same bytes are executor-cache pressure).
    # The graph is bipartite, so a doubled-graph peel is EXACTLY a
    # one-sided peel of the pair list with both endpoint degree tables
    # (degree(src='c…') over doubled edges == |pairs with that c|, and
    # filtering doubled edges on both endpoints == filtering pairs on
    # (c-keep, s-keep)) — the peels now run on the single-direction
    # (c, s) LONG-keyed pair list: half the rows, ~3x smaller rows,
    # and bitwise-identical stats (the output is scalar counts; node
    # ids never surface). 100x: OOM -> completes (see BASELINE.md).
    with bounded_eval_scope(spark, footer_rows(sf_dir, "lineitem")), pin_scope():
        o = load_table(spark, sf_dir, "orders")
        l = load_table(spark, sf_dir, "lineitem")
        pairs = pin(
            o.join(l, o.o_orderkey == l.l_orderkey)
            .select(
                F.col("o_custkey").cast("long").alias("c"),
                F.col("l_suppkey").cast("long").alias("s"),
            )
            .distinct()
        )
        # |V| is bounded by the first round's degree-table sizes; count
        # once so the keep-set joins are size-guarded like the other
        # iterative state vectors (keep ⊆ nodes, shrinking every round)
        n_nodes = (
            pairs.select("c").distinct().count()
            + pairs.select("s").distinct().count()
        )
        bcast = _use_broadcast(n_nodes)
        gen_pins: list[DataFrame] = []
        with bounded_eval_scope(spark, n_nodes, _LOOP_ROWS_PER_PART):
            for _ in range(3):
                # the surviving-node lists are |nodes|-sized (and
                # shrink every round) — broadcast both endpoint
                # filters while they fit so each peel is two
                # broadcast-hash semi joins over the previous
                # round's materialized pairs; above the guard the
                # hints drop and the |V|-row keep sets exchange
                # instead (never the reverse)
                ckeep = (
                    pairs.groupBy("c")
                    .agg(F.count(F.lit(1)).alias("deg"))
                    .filter(F.col("deg") >= 3)
                    .select("c")
                )
                skeep = (
                    pairs.groupBy("s")
                    .agg(F.count(F.lit(1)).alias("deg"))
                    .filter(F.col("deg") >= 3)
                    .select("s")
                )
                # generation storage: columnar persist + eager
                # count, NOT localCheckpoint — checkpoint blocks
                # are raw row storage and effectively unevictable
                # (they ARE the lineage), so three |E|-sized
                # generations pinned at once still OOM'd the 100x
                # leg after the long-key slimming; the columnar
                # cache compresses (long, long) pairs ~10x and the
                # PREVIOUS generation is released as soon as the
                # next one is materialized, so at most two
                # generations are ever live (a recompute after
                # release just re-derives from the build cache —
                # correctness unaffected)
                pairs = pin(
                    pairs.join(_state(ckeep, bcast), "c")
                    .join(_state(skeep, bcast), "s")
                    .select("c", "s")
                )
                pairs.count()
                if gen_pins:
                    gen_pins.pop().unpersist()
                gen_pins.append(pairs)
        # survivor degree envelope over BOTH sides (the doubled
        # graph's per-node degrees are exactly the two one-sided
        # degree tables)
        survivors = (
            pairs.groupBy("c")
            .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
            .select("deg")
            .unionByName(
                pairs.groupBy("s")
                .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
                .select("deg")
            )
        )
        stats = survivors.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.max("deg").cast("bigint").alias("max_deg"),
            F.min("deg").cast("bigint").alias("min_deg"),
        )
        ec = pairs.agg(
            (F.count(F.lit(1)) * 2).cast("bigint").alias("n_half_edges")
        )
        return stats.crossJoin(F.broadcast(ec)).select(
            "n_nodes", "n_half_edges", "max_deg", "min_deg"
        ).localCheckpoint(eager=True)


@_q(
    "q_graph_bfs_levels",
    oracle="""
    WITH pairs AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    edges AS (
      SELECT 'c' || c AS src, 's' || s AS dst FROM pairs
      UNION ALL
      SELECT 's' || s AS src, 'c' || c AS dst FROM pairs
    ),
    seed AS (
      SELECT src AS node FROM edges
      GROUP BY src ORDER BY count(*) DESC, src LIMIT 1
    ),
    l0 AS (SELECT node, 0 AS lvl FROM seed),
    l1 AS (
      SELECT DISTINCT e.dst AS node, 1 AS lvl
      FROM edges e JOIN l0 ON l0.node = e.src
      WHERE e.dst NOT IN (SELECT node FROM l0)
    ),
    l2 AS (
      SELECT DISTINCT e.dst AS node, 2 AS lvl
      FROM edges e JOIN l1 ON l1.node = e.src
      WHERE e.dst NOT IN (SELECT node FROM l0)
        AND e.dst NOT IN (SELECT node FROM l1)
    ),
    l3 AS (
      SELECT DISTINCT e.dst AS node, 3 AS lvl
      FROM edges e JOIN l2 ON l2.node = e.src
      WHERE e.dst NOT IN (SELECT node FROM l0)
        AND e.dst NOT IN (SELECT node FROM l1)
        AND e.dst NOT IN (SELECT node FROM l2)
    ),
    allv AS (
      SELECT * FROM l0 UNION ALL SELECT * FROM l1
      UNION ALL SELECT * FROM l2 UNION ALL SELECT * FROM l3
    )
    SELECT CAST(lvl AS INTEGER) AS level,
           CAST(count(*) AS BIGINT) AS n_nodes
    FROM allv GROUP BY lvl ORDER BY level
    """,
)
def q_graph_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first reachability frontier sizes from the highest-degree
    node of the customer–supplier graph, 3 hops deep — the blast-radius
    query (how much of the graph a hub touches in k hops; bipartite
    structure shows as alternating customer/supplier frontiers).

    Classic distributed BFS: each hop is one equi-join of the CURRENT
    frontier against the persisted edge table plus an anti-join against
    the visited set — frontiers broadcast while small, and the hop
    count is a static bound (3), not a convergence loop. The oracle
    unrolls the identical 3 hops.

    Round 8: hops run EAGERLY (localCheckpoint per frontier) inside
    the loop-width scope — the lazy compose left every hop's distinct
    and anti-join at the session's corpus-scale width with AQE
    re-planning per boundary: 37.4 s at sf0.01 under the driver's
    vanilla 200-partition session vs **7.8 s** scoped (4.2 vs 3.5 s
    under a tuned 32-width session — no regression; interleaved cold
    best-of-2, rows identical; BASELINE.md "Round 8"). Frontiers are
    |V|-bounded and checkpointed, so the visited union needs no
    persists; round 9 moved the |E|-sized edge build under an
    input-derived width as well (the build-phase comment below)."""
    # Exchange regime (module comment above _duck_pagerank): the build
    # runs at the lineitem-derived width, the rounds at the node-derived
    # one, and the result materializes inside both (BASELINE.md
    # "Round 9 - graph build phase").
    # Memory/key shape (round 11, same probe finding as q_graph_kcore):
    # the doubled string-keyed edge list read 22.5x at the 100x leg.
    # The graph is bipartite and BFS frontiers ALTERNATE sides, so the
    # hops now run on the single-direction LONG-keyed (c, s) pair list,
    # joining on whichever side the current frontier lives on — half
    # the rows, ~3x smaller rows, long hashes, and the level counts
    # are identical by construction (every neighbor of a c-node is an
    # s-node). Only the SEED selection ever compares node ids across
    # sides: its tiebreak decorates the ids back to the 'c…'/'s…'
    # strings so the max-degree tie resolves exactly as before.
    with bounded_eval_scope(spark, footer_rows(sf_dir, "lineitem")), pin_scope():
        o = load_table(spark, sf_dir, "orders")
        l = load_table(spark, sf_dir, "lineitem")
        pairs = pin(
            o.join(l, o.o_orderkey == l.l_orderkey)
            .select(
                F.col("o_custkey").cast("long").alias("c"),
                F.col("l_suppkey").cast("long").alias("s"),
            )
            .distinct()
        )
        cdeg = pairs.groupBy("c").agg(F.count(F.lit(1)).alias("deg"))
        sdeg = pairs.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
        # frontier and visited are both bounded by |V| — size-guard their
        # broadcast hints off one node count, like the other state vectors
        n_nodes = cdeg.count() + sdeg.count()
        bcast = _use_broadcast(n_nodes)
        with bounded_eval_scope(spark, n_nodes, _LOOP_ROWS_PER_PART):
            cand = cdeg.select(
                F.col("c").alias("id"), F.lit("c").alias("side"), "deg"
            ).unionByName(
                sdeg.select(
                    F.col("s").alias("id"), F.lit("s").alias("side"), "deg"
                )
            )
            seed_rows = (
                cand.orderBy(
                    F.desc("deg"),
                    F.concat(F.col("side"), F.col("id")),
                )
                .limit(1)
                .collect()
            )
            if not seed_rows:
                # empty graph: no seed node exists — empty output
                # shape instead of IndexError on the collected seed
                return spark.createDataFrame(
                    [], "level int, n_nodes long"
                )
            seed_row = seed_rows[0]
            side = seed_row["side"]
            frontier = spark.createDataFrame(
                [(int(seed_row["id"]),)], "node long"
            ).localCheckpoint()
            # per-side visited sets (ids are side-local)
            visited = {"c": None, "s": None}
            visited[side] = frontier
            counts = [(0, 1)]
            for lvl in (1, 2, 3):
                other = "s" if side == "c" else "c"
                nxt = (
                    pairs.join(
                        _state(frontier, bcast),
                        F.col(side) == F.col("node"),
                    )
                    .select(F.col(other).alias("node"))
                    .distinct()
                )
                if visited[other] is not None:
                    # visited is |nodes|-sized — broadcast the anti
                    # join too while it fits; above the guard both
                    # hints drop and the |V|-row sets exchange
                    nxt = nxt.join(
                        _state(visited[other], bcast), "node", "left_anti"
                    )
                nxt = nxt.localCheckpoint()
                counts.append((lvl, nxt.count()))
                visited[other] = (
                    nxt
                    if visited[other] is None
                    else visited[other].unionByName(nxt).localCheckpoint()
                )
                frontier = nxt
                side = other
        return (
            spark.createDataFrame(counts, "level int, n_nodes long")
            .orderBy("level")
        ).localCheckpoint(eager=True)


@_q(
    "q_graph_assortativity",
    oracle="""
    WITH pairs AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    edges AS (
      SELECT 'c' || c AS src, 's' || s AS dst FROM pairs
      UNION ALL
      SELECT 's' || s AS src, 'c' || c AS dst FROM pairs
    ),
    deg AS (
      SELECT src AS node, CAST(count(*) AS BIGINT) AS d
      FROM edges GROUP BY src
    ),
    ed AS (
      SELECT a.d AS dx, b.d AS dy
      FROM edges e
      JOIN deg a ON a.node = e.src
      JOIN deg b ON b.node = e.dst
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(dx) AS BIGINT) AS sx,
             CAST(sum(dy) AS BIGINT) AS sy,
             CAST(sum(CAST(dx AS DECIMAL(38,0)) * dy) AS DECIMAL(38,0))
               AS sxy,
             CAST(sum(CAST(dx AS DECIMAL(38,0)) * dx) AS DECIMAL(38,0))
               AS sxx,
             CAST(sum(CAST(dy AS DECIMAL(38,0)) * dy) AS DECIMAL(38,0))
               AS syy
      FROM ed
    )
    SELECT n AS n_half_edges,
           CAST(CAST(n * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)
                / sqrt(CAST(n * sxx - CAST(sx AS DECIMAL(38,0)) * sx
                            AS DOUBLE)
                       * CAST(n * syy - CAST(sy AS DECIMAL(38,0)) * sy
                              AS DOUBLE))
                AS DOUBLE) AS assortativity
    FROM m
    """,
)
def q_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the customer–supplier graph: the Pearson
    correlation of endpoint degrees over all (directed) edges —
    negative means hubs attach to leaves (the typical
    bipartite-commerce shape: big suppliers serve many small
    customers), positive means a rich-club core. One number that says
    which mixing regime the graph is in before anyone runs community
    detection on it.

    Degrees come from one keyed aggregate; attaching them to both
    endpoints is two equi-joins against the node-sized degree table
    (broadcast); the correlation uses exact DECIMAL(38,0) moments
    with one sqrt+division (the q_spearman_corr discipline)."""
    # Bounded-eval width (catalog.bounded_eval_scope): the edge build,
    # its persist and the two degree joins at corpus width measured
    # 13-15 s vanilla for a 1-row result; input-derived width reads
    # ~1 s. The WHOLE body runs under the scope: persist() compiles
    # the cached subtree's physical plan eagerly at call time, so a
    # pin created outside the scope would keep corpus width forever.
    with bounded_eval_scope(spark, footer_rows(sf_dir, "lineitem")), pin_scope():
        o = load_table(spark, sf_dir, "orders")
        l = load_table(spark, sf_dir, "lineitem")
        pairs = (
            o.join(l, o.o_orderkey == l.l_orderkey)
            .select("o_custkey", "l_suppkey")
            .distinct()
        )
        c_node = F.concat(F.lit("c"), F.col("o_custkey"))
        s_node = F.concat(F.lit("s"), F.col("l_suppkey"))
        edges = pairs.select(c_node.alias("src"), s_node.alias("dst")).unionByName(
            pairs.select(s_node.alias("src"), c_node.alias("dst"))
        )
        edges = pin(edges)
        deg = edges.groupBy(F.col("src").alias("node")).agg(
            F.count(F.lit(1)).cast("bigint").alias("d")
        )
        # |V|-sized degree table: size-guarded hint (conf-only path)
        bcast = _use_broadcast(None)
        ed = (
            edges.join(
                _state(
                    deg.select(
                        F.col("node").alias("src"), F.col("d").alias("dx")
                    ),
                    bcast,
                ),
                "src",
            )
            .join(
                _state(
                    deg.select(
                        F.col("node").alias("dst"), F.col("d").alias("dy")
                    ),
                    bcast,
                ),
                "dst",
            )
            .select("dx", "dy")
        )
        m = ed.agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("dx").cast("bigint").alias("sx"),
            F.sum("dy").cast("bigint").alias("sy"),
            F.sum(F.col("dx").cast("decimal(38,0)") * F.col("dy"))
            .cast("decimal(38,0)")
            .alias("sxy"),
            F.sum(F.col("dx").cast("decimal(38,0)") * F.col("dx"))
            .cast("decimal(38,0)")
            .alias("sxx"),
            F.sum(F.col("dy").cast("decimal(38,0)") * F.col("dy"))
            .cast("decimal(38,0)")
            .alias("syy"),
        )
        num = (
            F.col("n") * F.col("sxy")
            - F.col("sx").cast("decimal(38,0)") * F.col("sy")
        ).cast("double")
        den = F.sqrt(
            (
                F.col("n") * F.col("sxx")
                - F.col("sx").cast("decimal(38,0)") * F.col("sx")
            ).cast("double")
            * (
                F.col("n") * F.col("syy")
                - F.col("sy").cast("decimal(38,0)") * F.col("sy")
            ).cast("double")
        )
        return m.select(
            F.col("n").alias("n_half_edges"),
            (num / den).alias("assortativity"),
        ).localCheckpoint(eager=True)


@_q(
    "q_graph_resource_alloc",
    oracle=f"""
    WITH pairs AS MATERIALIZED (
      SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    cdeg AS (SELECT c, count(*) AS cd FROM pairs GROUP BY c),
    kept AS MATERIALIZED (
      SELECT p.c, p.s, cdeg.cd FROM pairs p JOIN cdeg ON cdeg.c = p.c
      WHERE cdeg.cd <= {_LP_HUB_CAP}
    ),
    scored AS (
      SELECT a.s AS s1, b.s AS s2,
             CAST(count(*) AS BIGINT) AS cn,
             CAST(sum(1000000000 // a.cd) AS BIGINT) AS ra_micro
      FROM kept a JOIN kept b ON a.c = b.c AND a.s < b.s
      GROUP BY a.s, b.s
    )
    SELECT s1, s2, cn, ra_micro,
           CAST(ra_micro AS DOUBLE) / 1e9 AS ra
    FROM scored
    ORDER BY ra_micro DESC, cn DESC, s1, s2
    LIMIT 25
    """,
)
def q_graph_resource_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resource-Allocation link-prediction index (Zhou/Lu/Zhang 2009 —
    the Adamic-Adar family score with 1/deg weights instead of
    1/ln(deg)): supplier pairs ranked by how much 'resource' their
    shared customers forward, a shared LOW-degree customer being far
    stronger evidence of a real relationship than a shared hub. Same
    bipartite customer<->supplier graph and hub-cap discipline as
    q_graph_common_neighbors (customers above {_LP_HUB_CAP} suppliers
    are dropped whole: a hub shared by everyone carries no pairwise
    signal and is exactly the k^2 blowup the cap exists to bound).

    Chosen over Adamic-Adar's 1/ln(deg) deliberately: the weight
    1e9 div deg is pure INTEGER arithmetic, so the pair scores are
    bitwise-reproducible across engines (a transcendental ln in the
    weight would expose the sum to last-ulp libm differences between
    the JVM and the oracle — the one cross-engine hazard this repo's
    value-hash gate cannot tolerate). The quantization floor (div vs
    true division) is at most 1 part in 1e7 of the smallest weight.
    The per-pair aggregate shuffles (s1, s2, weight) only; top-25 via
    TakeOrderedAndProject on the (ra_micro, cn, s1, s2) total order."""
    # Bounded-eval width (catalog.bounded_eval_scope): same capped
    # pair explosion + persisted `kept` prefix as
    # q_graph_common_neighbors; at corpus width it measured 13.9 s
    # vanilla sf0.01 for a 25-row result (r8 ABA probe, BASELINE.md
    # "measured r9 perf queue"), ~1.4 s at input-derived width. WHOLE
    # body under the scope (the persist compiles its physical plan
    # eagerly at call time).
    with bounded_eval_scope(spark, footer_rows(sf_dir, "lineitem")), pin_scope():
        o = spread(load_table(spark, sf_dir, "orders"))
        l = spread(load_table(spark, sf_dir, "lineitem"))
        pairs = (
            o.join(l, o.o_orderkey == l.l_orderkey)
            .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
            .distinct()
        )
        cdeg = pairs.groupBy("c").agg(F.count(F.lit(1)).alias("cd"))
        kept = pin(
            pairs.join(cdeg.filter(F.col("cd") <= _LP_HUB_CAP), "c")
            .select("c", "s", "cd")
        )
        a, b = kept.alias("a"), kept.alias("b")
        scored = (
            a.join(
                b,
                (F.col("a.c") == F.col("b.c")) & (F.col("a.s") < F.col("b.s")),
            )
            .groupBy(F.col("a.s").alias("s1"), F.col("b.s").alias("s2"))
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("cn"),
                F.sum(F.expr("1000000000 div a.cd"))
                .cast("bigint")
                .alias("ra_micro"),
            )
        )
        ranked = (
            scored.select(
                "s1",
                "s2",
                "cn",
                "ra_micro",
                (F.col("ra_micro").cast("double") / F.lit(1e9)).alias("ra"),
            )
            .orderBy(F.col("ra_micro").desc(), F.col("cn").desc(), "s1", "s2")
            .limit(25)
        )
        return ranked.localCheckpoint(eager=True)
