"""SparkSession factory.

Defaults chosen for parity with the reference's observable semantics and for
scale-out readiness:

- ``spark.sql.ansi.enabled=true``: the reference's standardize stage strict-casts
  and *raises* on bad values (reference ``multi_source_ad_etl.py:196``); ANSI mode
  is the Spark-native equivalent of that data-quality gate.
- AQE on: runtime partition coalescing + skew-join handling — the knobs that make
  the same plan survive a 100x scale-up without retuning.
- UTC session timezone: deterministic timestamp semantics (and parity with the
  DuckDB oracle harness, which is UTC-naive).
- Arrow enabled: fast toPandas / pandas_udf batch transfer.
- Driver JIT policy: the driver JVM starts with HotSpot's four tier-4 (C2)
  compile thresholds at 10x their JDK 17 defaults (``_DRIVER_JIT_OPTIONS``).
  A driver is typically short-lived, like the reference's one-shot daily
  scripts: in the 12 s timed window of a 10-30 s old JVM, the C2 compiler
  threads used 51-62 % of the JVM's CPU and the C1 threads another 7-16 %,
  against 8-13 % in executor tasks (per-thread ``/proc`` reads, 4-core
  host). That C2 work is ~1300 compiles spread thin over Catalyst, task
  serialization, Janino and the readers, so no code change removes it.
  With the higher thresholds only really hot methods reach C2 (later, with
  the same peak code); the rest stays in C1. C1-only
  (``-XX:TieredStopAtLevel=1``) was rejected: it saved more CPU but ran the
  execution loops in C1 code, +31 % median op latency on the registry
  workload. The flags go on the driver only: executor JVMs on a cluster
  are long-lived and data-heavy, so their C2 cost pays back. They are
  passed as ``spark.driver.defaultJavaOptions``, which Spark puts before a
  caller's ``spark.driver.extraJavaOptions`` (kept, and a repeated flag
  there wins). They apply only when ``get_spark`` launches the JVM: a
  driver JVM that ``spark-submit`` launched takes its flags from
  ``spark-defaults.conf``, and a session that already exists keeps the
  JVM it has.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "polars-ad-etl-spark"

# HotSpot's tier-4 (C2) compile thresholds at 10x their JDK 17 defaults
# (5000 / 600 / 15000 / 40000); the module docstring says why. Bracket on a
# 4-core host, perfbench medians of 3 seeds (41-43) against the defaults:
#   registry_headline cpu_s 5x -28 %, 10x -34 %, 20x -39 %; wall_s +1/+4/+7 %
#   events_stream     cpu_s 5x -22 %, 10x -31 %, 20x -30 %; wall_s -1/-1/+15 %
# 20x saves no more on events_stream and slows its ops; 4x saved 13-21 %.
_DRIVER_JIT_OPTIONS = (
    "-XX:Tier4InvocationThreshold=50000 -XX:Tier4MinInvocationThreshold=6000"
    " -XX:Tier4CompileThreshold=150000 -XX:Tier4BackEdgeThreshold=400000"
)


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    ansi: bool = True,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    In local mode the shuffle-partition count defaults to the core count —
    Spark's default of 200 over-parallelizes small local runs and
    under-parallelizes big clusters; on a real cluster this is expected to be
    overridden (or left to AQE coalescing, which is enabled).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.ansi.enabled", "true" if ansi else "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
        .config("spark.driver.defaultJavaOptions", _DRIVER_JIT_OPTIONS)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
