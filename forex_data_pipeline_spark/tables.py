"""Loaders for the synthetic test tables (see /root/repo/TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file each under a scale-factor dir.

At 100 TB these would be partitioned/bucketed tables behind a metastore;
``spark.read.parquet`` on a directory glob is the same code path (Spark's
FileSourceScanExec does partition discovery + pruning either way).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one test table. Column pruning / predicate pushdown happen at
    the parquet scan automatically once the caller selects/filters.

    ``events.ts`` is TIMESTAMP(NANOS) parquet, which Spark's reader
    rejects by default (the reference hit the mirror problem: BigQuery
    rejects TIMESTAMP_NANOS, so it downcasts ns→µs before writing —
    /root/reference/scripts/extract_forex.py:173-179). We read nanos as
    long (``session.RUNTIME_CONFS``, set by ``get_spark`` and by a
    registered query's first call on a session) and truncate to µs
    exactly like DuckDB's TIMESTAMP_NS→TIMESTAMP cast, keeping the
    oracle bit-identical.
    """
    if name == "events":
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if isinstance(df.schema["ts"].dataType, T.LongType):
            df = df.withColumn(
                "ts",
                F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
            )
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register each table as a temp view so spark.sql() queries work."""
    for name in TABLE_NAMES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
