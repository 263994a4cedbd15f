"""The driver-JVM compile policy that ``get_spark`` launches with: C2's
(tier-4) thresholds at 5x the JDK defaults, added to, not replaced by,
a caller's ``spark.driver.extraJavaOptions``."""

from __future__ import annotations

import os
import subprocess
import sys

TIER4 = [
    "-XX:Tier4InvocationThreshold=25000",
    "-XX:Tier4MinInvocationThreshold=3000",
    "-XX:Tier4CompileThreshold=75000",
    "-XX:Tier4BackEdgeThreshold=200000",
]

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_session_jvm_carries_tier4_thresholds(spark):
    bean = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    args = list(bean.getInputArguments())
    assert [a for a in args if a.startswith("-XX:Tier4")] == TIER4


def test_caller_java_options_add_to_the_policy():
    src = (
        "import sys; sys.path.insert(0, sys.argv[1])\n"
        "from iceberg_rs_spark.session import get_spark\n"
        "s = get_spark(cpus=1, extra_conf="
        "{'spark.driver.extraJavaOptions': '-XX:-UsePerfData'})\n"
        "bean = s.sparkContext._jvm.java.lang.management.ManagementFactory"
        ".getRuntimeMXBean()\n"
        "print('ARGS', *bean.getInputArguments())\n"
        "s.stop()\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", src, REPO],
        capture_output=True, text=True, timeout=60,
    )
    assert out.returncode == 0, out.stderr
    args = next(ln for ln in out.stdout.splitlines() if ln.startswith("ARGS")).split()
    assert [a for a in args if a.startswith("-XX:Tier4")] == TIER4
    assert "-XX:-UsePerfData" in args
