"""SparkSession factory (SURVEY.md §7 M0).

Single place that pins the session configuration the whole engine
assumes:

- UTC session timezone (oracle canonicalization rule, FIXTURES.md).
- AQE on: runtime partition coalescing, skew-join handling, dynamic
  join-strategy switching — the 100 TB posture is "declare the plan,
  let AQE re-plan at runtime".
- Arrow enabled for any pandas-UDF / toPandas path.
- shuffle partitions default to the core count (``cpus`` or
  ``$SPARK_GRAFT_CPUS``; 32 when neither is set); on a real cluster
  AQE coalescing makes the initial number far less critical.
- a driver-JVM compile policy that holds back HotSpot's optimizing
  (C2, tier-4) compiler until code is truly hot; see ``_DRIVER_JIT``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: C2's (tier-4) compile thresholds at 5x the JDK 17 defaults (5000,
#: 600, 15000, 40000). An engine op is a short burst of Catalyst,
#: Janino and Scala code that differs from op to op; with the defaults
#: about half of each small op's CPU went to the C2 compiler threads
#: warming that code up (per-thread CPU split of the benchmark loops
#: on 4 vCPUs: C2 850-940 of 1 850-2 240 ms per scan op, 700-800 of
#: 1 430-1 560 ms per ingest op; executor tasks 210-430 ms). The
#: interpreter -> C1 thresholds stay at their defaults, so code leaves
#: the interpreter as early as before; only the optimizing compile
#: waits.
#: The saving is largest in a young session and narrows as it ages.
#: Over a 60 s benchmark loop, CPU per op fell by about 30% in the
#: first rounds and by about 10% in the last ones, at the same wall
#: time per op; a 20M-row aggregate repeated in one session reaches C2
#: a few queries later, then runs at the same CPU cost.
_DRIVER_JIT = (
    "-XX:Tier4InvocationThreshold=25000 -XX:Tier4MinInvocationThreshold=3000 "
    "-XX:Tier4CompileThreshold=75000 -XX:Tier4BackEdgeThreshold=200000"
)


def get_spark(
    app_name: str = "iceberg_rs_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (falling back to all
    local cores). The returned session is safe to share across tests.

    The driver JVM starts with the ``_DRIVER_JIT`` compile policy. It
    goes in ``spark.driver.defaultJavaOptions``, so a caller's
    ``spark.driver.extraJavaOptions`` adds to it rather than replacing
    it. It applies only to sessions this function launches: a session
    the caller built (or one already running) keeps its own JVM flags.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", 0)) or None
    master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus or 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.defaultJavaOptions", _DRIVER_JIT)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
