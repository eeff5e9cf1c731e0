"""Registry-wide checks over the one sweep (``conftest.sweep``): every
batch query builds once, none raises, none changes session conf, and
none counts more plan nodes than ``plans/shape.json`` allows. Below
them, throwaway queries show that each check of the sweep reports the
fault it names."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from conftest import SF_DIR
from keycloak_event_stream_spark.registry import collect
from tools import plan_audit


def test_registry_builds_each_query_once(sweep):
    batch = {n for n in collect()[0] if not n.startswith("s_")}
    assert set(sweep.records) == batch
    assert dict(sweep.builds) == dict.fromkeys(batch, 1)


def test_registry_queries_build(sweep):
    """A broken query fails here instead of shrinking coverage."""
    broken = plan_audit.raised(sweep.records)
    assert not broken, f"{len(broken)} queries raise: {broken}"


def test_registry_leaves_conf_unchanged(sweep):
    changed = plan_audit.conf_changed(sweep.records)
    assert not changed, f"queries change session conf: {changed}"


def test_registry_plan_shapes_within_ledger(sweep):
    over = plan_audit.over_ledger(sweep.records, plan_audit.load_ledger())
    assert not over, (
        f"plan shapes above plans/shape.json: {over} — cut the plan back "
        "or, for a deliberate change, rerun tools/plan_audit.py"
    )


def _record(spark, register, name, fn):
    return plan_audit.sweep(spark, SF_DIR, {name: register(name, fn)})


def test_sweep_reports_unpartitioned_window(spark, register):
    def ranks(spark, sf):
        return spark.range(50).select(
            F.row_number().over(Window.orderBy("id")).alias("rn")
        )

    rec = _record(spark, register, "t_window", ranks)
    assert plan_audit.global_windows(rec, {}, {}) == {"t_window": 1}
    assert plan_audit.global_windows(rec, {"t_window": 1}, {}) == {}


def test_sweep_reports_leaked_persist(spark, register):
    def leaks(spark, sf):
        df = spark.range(20).select((F.col("id") % 3).alias("v"))
        df.persist()  # not a pin: no boundary releases it
        return df.groupBy("v").count()

    try:
        rec = _record(spark, register, "t_leak", leaks)
        assert rec["t_leak"].persists == 1
        assert plan_audit.pins_left(rec) == {"t_leak": 1}
    finally:
        spark.catalog.clearCache()


def test_sweep_reports_conf_change(spark, register):
    key = "spark.test.sweep.leak"

    def sets(spark, sf):
        spark.conf.set(key, "1")
        return spark.range(1)

    try:
        rec = _record(spark, register, "t_conf", sets)
        assert plan_audit.conf_changed(rec) == {"t_conf": {key: (None, "1")}}
    finally:
        spark.conf.unset(key)


def test_sweep_reports_raise(spark, register):
    def fails(spark, sf):
        raise ValueError("broken at build")

    rec = _record(spark, register, "t_raise", fails)
    assert plan_audit.raised(rec) == {"t_raise": "ValueError: broken at build"}


@pytest.mark.parametrize("count", sorted(plan_audit._SHAPE))
def test_sweep_reports_count_over_ledger(spark, register, count):
    def shaped(spark, sf):
        return spark.range(100).groupBy((F.col("id") % 7).alias("k")).count()

    rec = _record(spark, register, "t_shape", shaped)
    shape = rec["t_shape"].shape
    ledger = {"t_shape": dict(shape)}
    assert plan_audit.over_ledger(rec, ledger) == {}
    ledger["t_shape"][count] -= 1
    assert plan_audit.over_ledger(rec, ledger) == {
        "t_shape": {count: (shape[count], shape[count] - 1)}
    }
    assert plan_audit.over_ledger(rec, {}) == {"t_shape": "not in the ledger"}
