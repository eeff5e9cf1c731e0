"""Semantics tests for recursive CTE / attribution / basket /
histogram / anomaly operators (operators/insights.py)."""

from __future__ import annotations

from conftest import SF_DIR
from pyspark.sql import functions as F

from keycloak_event_stream_spark.catalog import load_table, notes
from keycloak_event_stream_spark.operators.insights import (
    q_anomaly_zscore,
    q_attribution_last_touch,
    q_histogram_equiwidth,
    q_market_basket,
    q_recursive_date_spine,
    q_recursive_hierarchy,
)


def test_date_spine_gap_free_and_totals(spark):
    rows = q_recursive_date_spine(spark, SF_DIR).collect()
    # consecutive months, no gaps
    months = [r.month for r in rows]
    assert len(months) == len(set(months))
    for prev, cur in zip(months, months[1:]):
        nxt = (prev.year * 12 + prev.month - 1) + 1
        assert (cur.year * 12 + cur.month - 1) == nxt
    # spine totals reconcile with the base table
    orders = load_table(spark, SF_DIR, "orders")
    assert sum(r.n_orders for r in rows) == orders.count()
    # gap months (if any) carry explicit zeros, not nulls
    assert all(r.n_orders >= 0 and r.revenue is not None for r in rows)


def test_hierarchy_partitions_all_customers(spark):
    rows = q_recursive_hierarchy(spark, SF_DIR).collect()
    customer = load_table(spark, SF_DIR, "customer")
    # every customer appears at exactly one depth
    assert sum(r.n_members for r in rows) == customer.count()
    # checksum over all levels = checksum over the table (no dup/loss)
    total = customer.agg(F.sum("c_custkey")).collect()[0][0]
    assert sum(r.key_checksum for r in rows) == total
    # depth 0 is exactly the anchor set (c_custkey < 10)
    d0 = next(r for r in rows if r.depth == 0)
    assert d0.n_members == customer.filter("c_custkey < 10").count()
    # roots never exceed the anchor count
    assert all(r.n_roots <= d0.n_members for r in rows)


def test_attribution_conversions_reconcile(spark):
    rows = q_attribution_last_touch(spark, SF_DIR).collect()
    ev = load_table(spark, SF_DIR, "events")
    purchases = ev.filter("event_type = 'purchase'").count()
    # purchases with no prior non-purchase touch are unattributed;
    # attributed count can never exceed total purchases
    attributed = sum(r.n_conversions for r in rows)
    assert 0 < attributed <= purchases
    # purchase can never be its own touch
    assert all(r.touch != "purchase" for r in rows)


def test_market_basket_pairs_canonical(spark):
    rows = q_market_basket(spark, SF_DIR).collect()
    assert len(rows) == 50
    # canonical ordering (a < b) and descending counts
    assert all(r.part_a < r.part_b for r in rows)
    counts = [r.n_orders for r in rows]
    assert counts == sorted(counts, reverse=True)
    # spot-check the top pair against a direct recount
    li = (
        load_table(spark, SF_DIR, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    top = rows[0]
    n = (
        li.filter(F.col("l_partkey") == top.part_a)
        .join(
            li.filter(F.col("l_partkey") == top.part_b).select(
                "l_orderkey"
            ),
            "l_orderkey",
        )
        .count()
    )
    assert n == top.n_orders


def test_histogram_covers_all_rows_in_20_bins(spark):
    rows = q_histogram_equiwidth(spark, SF_DIR).collect()
    orders = load_table(spark, SF_DIR, "orders")
    assert sum(r.n for r in rows) == orders.count()
    assert all(0 <= r.bin <= 19 for r in rows)
    # bins are disjoint ranges: each bin's max <= next bin's min
    rows = sorted(rows, key=lambda r: r.bin)
    for a, b in zip(rows, rows[1:]):
        assert a.bin_max <= b.bin_min


def test_anomaly_zscore_threshold(spark):
    rows = q_anomaly_zscore(spark, SF_DIR).collect()
    assert all(abs(r.zscore) > 2.0 for r in rows)
    # recompute one flagged day's z-score from first principles
    if rows:
        r0 = rows[0]
        daily = (
            load_table(spark, SF_DIR, "events")
            .filter(F.col("event_type") == r0.event_type)
            .groupBy(F.col("ts").cast("date").alias("day"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        )
        cnts = [r.cnt for r in daily]
        n = len(cnts)
        mean = sum(cnts) / n
        var = (n * sum(c * c for c in cnts) - sum(cnts) ** 2) / (n * n)
        z = (r0.cnt - mean) / var**0.5
        assert abs(z - r0.zscore) < 1e-9


def test_agg_corr_in_valid_range_and_matches_builtin(spark):
    from keycloak_event_stream_spark.operators.insights import q_agg_corr

    rows = q_agg_corr(spark, SF_DIR).collect()
    assert rows and all(-1.0 <= r.corr_qty_price <= 1.0 for r in rows)
    # the exact-moment formula must agree with Spark's builtin corr to
    # float tolerance (the builtin is order-dependent, hence the 1e-9)
    li = load_table(spark, SF_DIR, "lineitem")
    builtin = {
        r.l_returnflag: r.c
        for r in li.groupBy("l_returnflag")
        .agg(F.corr("l_quantity", "l_extendedprice").alias("c"))
        .collect()
    }
    for r in rows:
        assert abs(r.corr_qty_price - builtin[r.l_returnflag]) < 1e-9


def test_dq_audit_clean_fixture(spark):
    from keycloak_event_stream_spark.operators.insights import q_dq_audit

    rows = {r.check_name: r.violations for r in q_dq_audit(spark, SF_DIR).collect()}
    assert len(rows) == 5
    # driver fixtures are referentially clean — all checks green
    assert all(v == 0 for v in rows.values()), rows


def test_udf_arrow_matches_jvm_expressions(spark):
    from keycloak_event_stream_spark.functions import udfs

    if not hasattr(udfs, "q_udf_arrow"):  # older Spark without arrow_udf
        import pytest

        pytest.skip("arrow_udf unavailable")
    got = udfs.q_udf_arrow(spark, SF_DIR)
    d = load_table(spark, SF_DIR, "documents")
    want = d.select(
        "doc_id",
        F.length("text").alias("n_codepoints"),
        (F.size(F.split(F.col("text"), " ")) + 0).alias("n_space_tokens"),
    )
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_yoy_growth_ratio_consistency(spark):
    from keycloak_event_stream_spark.operators.insights import q_yoy_growth

    rows = q_yoy_growth(spark, SF_DIR).collect()
    assert rows
    by_nation = {}
    for r in rows:
        by_nation.setdefault(r.n_name, []).append(r)
    for seq in by_nation.values():
        # first year has no prior
        assert seq[0].prev_revenue is None and seq[0].yoy is None
        for prev, cur in zip(seq, seq[1:]):
            assert cur.prev_revenue == prev.revenue
            want = float(cur.revenue) / float(cur.prev_revenue) - 1.0
            assert abs(cur.yoy - want) < 1e-12


def test_rfm_segments_partition_customers(spark):
    from keycloak_event_stream_spark.operators.insights import (
        q_rfm_segmentation,
    )

    rows = q_rfm_segmentation(spark, SF_DIR).collect()
    orders = load_table(spark, SF_DIR, "orders")
    n_cust = orders.select("o_custkey").distinct().count()
    assert sum(r.n_customers for r in rows) == n_cust
    assert all(
        1 <= r.r_score <= 4 and 1 <= r.f_score <= 4 and 1 <= r.m_score <= 4
        for r in rows
    )
    # total segment value reconciles with the table total (the segment
    # sums are exact decimals internally, DOUBLE at the query surface —
    # so the reconciliation is float-tolerant)
    import math

    total = sum(r.segment_value for r in rows)
    want = float(
        orders.agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        ).collect()[0][0]
    )
    assert math.isclose(total, want, rel_tol=1e-9)


def test_agg_mode_is_true_maximum(spark):
    from keycloak_event_stream_spark.operators.insights import q_agg_mode

    rows = q_agg_mode(spark, SF_DIR).collect()
    li = load_table(spark, SF_DIR, "lineitem")
    for r in rows:
        counts = {
            x.l_quantity: x.c
            for x in li.filter(F.col("l_returnflag") == r.l_returnflag)
            .groupBy("l_quantity")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        }
        best = max(counts.values())
        assert r.mode_count == best
        # portable tie-break: smallest value among maxima
        assert r.mode_quantity == min(
            q for q, c in counts.items() if c == best
        )


def test_gaps_islands_reconcile(spark):
    from keycloak_event_stream_spark.operators.insights import q_gaps_islands

    rows = q_gaps_islands(spark, SF_DIR).collect()
    ev = load_table(spark, SF_DIR, "events")
    daily = ev.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    per_user = {
        r.user_id: r.c
        for r in daily.groupBy("user_id").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    assert {r.user_id for r in rows} == set(per_user)
    for r in rows:
        assert r.active_days == per_user[r.user_id]
        assert 1 <= r.longest_streak <= r.active_days
        assert 1 <= r.n_islands <= r.active_days
    # brute-force one user's islands
    r0 = rows[0]
    days = sorted(
        d.day for d in daily.filter(F.col("user_id") == r0.user_id).collect()
    )
    islands, cur = [], 1
    for a, b in zip(days, days[1:]):
        if (b - a).days == 1:
            cur += 1
        else:
            islands.append(cur)
            cur = 1
    islands.append(cur)
    assert r0.n_islands == len(islands)
    assert r0.longest_streak == max(islands)


def test_pareto_abc_shares(spark):
    from keycloak_event_stream_spark.operators.insights import q_pareto_abc

    rows = {r.abc_class: r for r in q_pareto_abc(spark, SF_DIR).collect()}
    assert set(rows) == {"A", "B", "C"}
    total = sum(r.revenue_cents for r in rows.values())
    # every A member's running share is <= 0.5, so the class total is
    # bounded by half the revenue; A+B stay within 80%
    assert 0 < rows["A"].revenue_cents <= total * 0.5
    assert rows["A"].revenue_cents + rows["B"].revenue_cents <= total * 0.8
    orders = load_table(spark, SF_DIR, "orders")
    n_cust = orders.select("o_custkey").distinct().count()
    assert sum(r.n_customers for r in rows.values()) == n_cust


def test_ab_test_zstat_first_principles(spark):
    from keycloak_event_stream_spark.operators.insights import (
        q_ab_test_proportions,
    )

    r = q_ab_test_proportions(spark, SF_DIR).collect()[0]
    assert r.na + r.nb > 0 and 0 <= r.xa <= r.na and 0 <= r.xb <= r.nb
    import math

    pooled = (r.xa + r.xb) / (r.na + r.nb)
    assert 0 < pooled < 1  # non-degenerate conversion definition
    z = (r.xa / r.na - r.xb / r.nb) / math.sqrt(
        pooled * (1 - pooled) * (1 / r.na + 1 / r.nb)
    )
    assert abs(z - r.zstat) < 1e-12
    assert abs(r.rate_a - r.xa / r.na) < 1e-15


def test_time_to_convert_median_brackets(spark):
    from keycloak_event_stream_spark.operators.insights import (
        q_time_to_convert,
    )

    r = q_time_to_convert(spark, SF_DIR).collect()[0]
    assert r.n_converted > 0
    assert 0 <= r.median_lo_ms <= r.median_hi_ms
    # recompute the middle order statistics directly
    ev = load_table(spark, SF_DIR, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("s"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "p"
        ),
    )
    lat = sorted(
        (
            int((row.p - row.s).total_seconds() * 1000)
            for row in firsts.collect()
            if row.s is not None and row.p is not None and row.p >= row.s
        )
    )
    n = len(lat)
    assert n == r.n_converted
    mids = [lat[(n - 1) // 2], lat[n // 2]]
    assert r.median_lo_ms == min(mids) and r.median_hi_ms == max(mids)


def test_interval_merge_bruteforce_one_user(spark):
    from keycloak_event_stream_spark.operators.insights import (
        q_interval_merge,
    )

    rows = q_interval_merge(spark, SF_DIR).collect()
    assert rows
    ev = load_table(spark, SF_DIR, "events")
    r0 = rows[0]
    iv = sorted(
        (int(x.ts.timestamp() * 1000), int(x.ts.timestamp() * 1000) + 1800000)
        for x in ev.filter(F.col("user_id") == r0.user_id).collect()
    )
    merged = []
    for s, e in iv:
        if merged and s <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], e)
        else:
            merged.append([s, e])
    assert r0.n_intervals == len(merged)
    assert r0.coverage_ms == sum(e - s for s, e in merged)
    assert r0.longest_ms == max(e - s for s, e in merged)
    # coverage can never exceed (events * 30min) nor be smaller than one
    for r in rows:
        assert r.longest_ms >= 1800000
        assert r.coverage_ms >= r.longest_ms


def test_percent_of_total_sums_to_one(spark):
    from keycloak_event_stream_spark.operators.insights import (
        q_percent_of_total,
    )

    rows = q_percent_of_total(spark, SF_DIR).collect()
    assert abs(sum(r.share_of_total for r in rows) - 1.0) < 1e-9
    by_region = {}
    for r in rows:
        by_region.setdefault(r.region, []).append(r.share_of_region)
    for shares in by_region.values():
        assert abs(sum(shares) - 1.0) < 1e-9


def test_dataset_card_facts(spark):
    from keycloak_event_stream_spark.llm.textstats import q_dataset_card

    r = q_dataset_card(spark, SF_DIR).collect()[0]
    d = load_table(spark, SF_DIR, "documents")
    assert r.n_docs == d.count()
    assert 0 < r.n_unique_texts <= r.n_docs
    assert r.n_langs == 5 and r.n_sources == 20
    assert r.top_lang in {"de", "en", "es", "fr", "zh"}
    assert r.total_chars == d.agg(F.sum("n_chars")).collect()[0][0]


def test_asof_forward_is_earliest_at_or_after(spark):
    from keycloak_event_stream_spark.operators.insights import (
        q_join_asof_forward,
    )

    rows = q_join_asof_forward(spark, SF_DIR).collect()
    assert rows
    ev = load_table(spark, SF_DIR, "events")
    clicks = {}
    for c in ev.filter("event_type = 'click'").collect():
        clicks.setdefault(c.user_id, []).append((c.ts, c.event_id))
    for u in clicks:
        clicks[u].sort()
    for r in rows[:50]:
        cand = [
            (ts, eid)
            for ts, eid in clicks.get(r.user_id, [])
            if ts >= r.purchase_ts
        ]
        if not cand:
            assert r.next_click_id is None
        else:
            assert (r.next_click_ts, r.next_click_id) == min(cand)


def test_rollup_rank_levels(spark):
    from keycloak_event_stream_spark.operators.insights import q_rollup_rank

    rows = q_rollup_rank(spark, SF_DIR).collect()
    by_gid = {}
    for r in rows:
        by_gid.setdefault(r.gid, []).append(r)
    # gid 0 = (region, nation) leaves; 2 = region subtotals; 3 = grand
    assert set(by_gid) == {0, 2, 3}
    assert len(by_gid[3]) == 1 and by_gid[3][0].rnk == 1
    assert len(by_gid[2]) == 5  # five regions
    # grand total equals the sum of region subtotals
    assert by_gid[3][0].revenue == sum(r.revenue for r in by_gid[2])
    # ranks within each level are 1..n with desc revenue
    for gid, rs in by_gid.items():
        revs = [r.revenue for r in sorted(rs, key=lambda x: x.rnk)]
        assert revs == sorted(revs, reverse=True)


def test_funnel_paths_shape(spark):
    from keycloak_event_stream_spark.operators.insights import q_funnel_paths

    rows = q_funnel_paths(spark, SF_DIR).collect()
    assert 0 < len(rows) <= 10
    counts = [r.n_users for r in rows]
    assert counts == sorted(counts, reverse=True)
    types = {"click", "error", "purchase", "signup", "view"}
    for r in rows:
        steps = r.path.split(">")
        assert 1 <= len(steps) <= 5
        assert set(steps) <= types
    # brute-force one user's opening path
    ev = load_table(spark, SF_DIR, "events")
    u0 = ev.select("user_id").distinct().orderBy("user_id").first().user_id
    first5 = [
        r.event_type
        for r in ev.filter(F.col("user_id") == u0)
        .orderBy("ts", "event_id")
        .limit(5)
        .collect()
    ]
    path0 = ">".join(first5)
    # that path's count includes this user if it made the top 10
    for r in rows:
        if r.path == path0:
            assert r.n_users >= 1


def test_audience_overlap_jaccard_identity(spark):
    from keycloak_event_stream_spark.operators.insights import (
        q_audience_overlap,
    )

    rows = q_audience_overlap(spark, SF_DIR).collect()
    assert len(rows) == 10  # C(5,2) pairs
    for r in rows:
        assert r.type_a < r.type_b
        assert 0 < r.n_both <= min(r.n_a, r.n_b)
        want = r.n_both / (r.n_a + r.n_b - r.n_both)
        assert abs(r.jaccard - want) < 1e-15
        assert 0 < r.jaccard <= 1


def test_geo_nearest_is_true_argmin(spark):
    import math

    from keycloak_event_stream_spark.operators.analytics import q_geo_nearest

    rows = {r.c_custkey: r for r in q_geo_nearest(spark, SF_DIR).collect()}
    cust = load_table(spark, SF_DIR, "customer")
    supp = load_table(spark, SF_DIR, "supplier").collect()
    assert len(rows) == cust.count()

    def coords(key):
        return (key * 37) % 180 - 90 + 0.5, (key * 91) % 360 - 180 + 0.5

    def hav(c, s):
        clat, clon = coords(c)
        slat, slon = coords(s)
        dphi = math.radians((slat - clat) / 2.0)
        dlam = math.radians((slon - clon) / 2.0)
        h = round(
            math.sin(dphi) ** 2
            + math.cos(math.radians(clat))
            * math.cos(math.radians(slat))
            * math.sin(dlam) ** 2,
            12,
        )
        return round(2.0 * 6371.0 * math.asin(math.sqrt(h)), 3)

    # spot-check 5 customers: reported supplier is the true argmin
    for ck in list(rows)[:5]:
        got = rows[ck]
        best = min(
            ((hav(ck, s.s_suppkey), s.s_suppkey) for s in supp),
        )
        assert (got.dist_km, got.nearest_suppkey) == best


def test_market_basket_cap_drops_mega_baskets_with_audit(
    spark, tmp_path, monkeypatch
):
    """Baskets beyond insights._BASKET_CAP items are dropped WHOLE and
    surface in the call's basket_cap_audit note — the r6-verdict bound on the one
    quadratic term in the pair fan-out. Small baskets still pair."""
    from keycloak_event_stream_spark.operators import insights

    rows = [(1, p) for p in range(10)]  # mega-basket: 10 items
    rows += [(2, 100), (2, 101), (3, 100), (3, 101)]  # two small baskets
    df = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    d = tmp_path / "capfix"
    d.mkdir()
    df.coalesce(1).write.parquet(str(d / "lineitem.parquet"))

    with monkeypatch.context() as m:
        m.setattr(insights, "_BASKET_CAP", 5)
        out = {
            (r.part_a, r.part_b, r.n_orders)
            for r in q_market_basket(spark, str(d)).collect()
        }
        audit = notes()["basket_cap_audit"].collect()
    # only the small baskets' pair survives; counted across both orders
    assert out == {(100, 101, 2)}
    assert [(r.l_orderkey, r.n_items) for r in audit] == [(1, 10)]
    # default cap: fixture baskets are far smaller, cap must not engage
    full = q_market_basket(spark, str(d)).collect()
    assert {(r.part_a, r.part_b) for r in full} >= {(100, 101)}
    assert notes()["basket_cap_audit"].count() == 0
