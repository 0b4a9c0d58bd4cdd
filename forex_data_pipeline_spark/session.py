"""SparkSession construction and runtime tuning.

Design notes (100 TB readiness): every config here is chosen so the same
code runs on local[32] for tests and on a 1000-executor cluster unchanged.
AQE handles runtime partition coalescing and skew joins; the session
timezone is pinned to UTC so timestamp semantics never depend on cluster
locale (reference gotcha: BigQuery DATETIME is tz-less — see
/root/reference/models/staging/stg_eurusd.sql:27).
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import SparkSession

#: Runtime-settable confs, safe to apply to a SparkSession we did not build
#: (the verify driver hands us its own session — static confs like
#: spark.sql.shuffle.partitions defaults are applied there too since it is
#: runtime-settable in Spark SQL).
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any toPandas / pandas-UDF exchange: vectorized, not pickled.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # 32 matches local[32]; on a real cluster AQE coalesces upward/downward
    # from whatever this is, so it is a starting point, not a straitjacket.
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    # Window group limit pushdown (Spark 3.5+) accelerates top-k patterns.
    "spark.sql.window.group.limit.threshold": "1000",
    # events.parquet has been written as TIMESTAMP(NANOS), which the
    # reader rejects unless read as long (tables.load converts to µs).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}

#: Sessions that already carry ``RUNTIME_CONFS``: ``get_spark``'s, and
#: each session ``tune`` has seen once.
_TUNED: weakref.WeakSet[SparkSession] = weakref.WeakSet()


def tune(spark: SparkSession) -> SparkSession:
    """Apply ``RUNTIME_CONFS`` to a session we did not build, once: the
    first call on a session sets them (a caller may hand over an untuned
    session, and the determinism contract needs UTC); later calls leave
    the session's conf as its owner set it."""
    if spark in _TUNED:
        return spark
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - static conf on odd builds
            pass
    _TUNED.add(spark)
    return spark


def shuffle_width(spark: SparkSession) -> int:
    """The session's ``spark.sql.shuffle.partitions``, or the context's
    default parallelism when that does not read as an integer."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism


def child_session(
    spark: SparkSession, overrides: dict[str, str]
) -> SparkSession:
    """``spark.newSession()`` with every runtime-modifiable setting of
    ``spark`` copied in, then ``overrides`` applied on top.

    A bare new session starts from the static defaults and would lose
    e.g. ``adaptive.enabled=false``. The child shares the SparkContext
    but owns its SQL conf and temp views, so settings scoped to one
    query or stream stay on the child: work running beside it on
    ``spark`` never sees them, and ``spark``'s conf is never written."""
    child = spark.newSession()
    for key, value in spark.conf.getAll.items():
        if spark.conf.isModifiable(key):
            child.conf.set(key, value)
    for key, value in overrides.items():
        child.conf.set(key, value)
    return child


def get_spark(app_name: str = "forex-data-pipeline-spark") -> SparkSession:
    """Build (or reuse) a local session with the engine's tuning applied."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.ui.enabled", "false")
    )
    # Rehearsal-scale escape hatch (local mode: the driver IS the one
    # JVM). First use: Java 17's GCLocker can fail a large array
    # allocation after a bounded retry count even with free heap when
    # Arrow-native sections pin regions — triangle's sf10 plan audit
    # died this way at 24g; "-XX:+UnlockDiagnosticVMOptions
    # -XX:GCLockerRetryAllocationCount=100" (unlock flag FIRST — the
    # retry count is a diagnostic option) resolves it without more
    # memory.
    jopts = os.environ.get("SPARK_DRIVER_JAVA_OPTS")
    if jopts:
        builder = builder.config("spark.driver.extraJavaOptions", jopts)
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _TUNED.add(spark)
    return spark
