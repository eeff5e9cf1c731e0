"""Session factory: the driver JVM carries the JIT policy."""

from __future__ import annotations

TIER4_FLAGS = [
    "-XX:Tier4InvocationThreshold=50000",
    "-XX:Tier4MinInvocationThreshold=6000",
    "-XX:Tier4CompileThreshold=150000",
    "-XX:Tier4BackEdgeThreshold=400000",
]


def test_driver_jvm_runs_the_c2_policy(spark):
    """The driver JVM was launched with the ten-fold tier-4 thresholds,
    and they come from spark.driver.defaultJavaOptions alone, so a
    caller's spark.driver.extraJavaOptions adds to the policy instead
    of replacing it."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    args = list(mf.getRuntimeMXBean().getInputArguments())
    assert [a for a in args if a.startswith("-XX:Tier4")] == TIER4_FLAGS

    conf = spark.sparkContext.getConf()
    assert conf.get("spark.driver.defaultJavaOptions").split() == TIER4_FLAGS
    assert "Tier4" not in (conf.get("spark.driver.extraJavaOptions") or "")
