"""Structured Streaming candles (SURVEY §2.10).

The reference's "stream" is a daily cron micro-batch
(/root/reference/.github/workflows/daily_run.yml:4-6) with a manual
high-watermark (stg_eurusd.sql:18-21) — i.e. hand-rolled streaming
semantics. Spark-native mapping:

- ingestion trigger  → file-source stream + ``Trigger.AvailableNow``
  (process everything present, then stop — the cron-batch equivalent,
  with exactly-once file tracking via the checkpoint instead of the
  hand-rolled watermark);
- tumbling candles   → ``F.window(ts, dur)`` groupBy aggregation;
- late data          → ``withWatermark`` bounds state; late rows beyond
  the delay are dropped (the reference's watermark filter drops ALL
  out-of-order rows — ours is strictly more tolerant);
- running indicators → deliberately NOT in the stream: an unbounded
  SMA-50 over all history is not a watermark-boundable streaming agg,
  so indicators stay a batch post-pass over the merged gold table —
  exactly the reference's recompute-the-tail design (fct:25-29), see
  ``pipeline.medallion.gold_run``.

Scale: streaming state is keyed by (series, window); with watermarking,
state size ∝ active windows × series, independent of history length.
"""

from __future__ import annotations

import os
from collections.abc import Sequence
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..operators.candles import _ohlc_aggs

#: Target bytes of staged input per state-store partition. A stateful
#: streaming operator creates one state store (files, maintenance
#: thread, per-batch commit) per shuffle partition per micro-batch, so
#: partitioning far wider than the data pays pure fixed cost.
_STATE_PARTITION_BYTES = 32 << 20


def state_partitions_for(spark: SparkSession, *paths: str) -> int:
    """State-store partition count for a bounded availableNow drain,
    derived from the STAGED INPUT SIZE: one partition per ~32 MB of
    source bytes (floor 1), capped at the session's configured shuffle
    parallelism. AQE coalesces ordinary post-shuffle partitions at
    runtime but cannot coalesce state-store partitions — their count is
    frozen into the checkpoint at query start — so this derivation is
    the streaming equivalent of AQE partition coalescing. It is keyed
    to DATA, not cores: the count grows linearly with input and returns
    to the session default once the staged source reaches
    default × 32 MB, so a cluster-scale ingest keeps the operator's
    configured width (nothing here is tuned to local[32]). Input it
    cannot size — a remote path ``os.path`` cannot see reads as 0
    bytes — gets the cap, never a single frozen state store."""
    total = 0
    for p in paths:
        if os.path.isdir(p):
            for root, _dirs, files in os.walk(p, followlinks=True):
                total += sum(
                    os.path.getsize(os.path.join(root, f)) for f in files
                )
        elif os.path.exists(p):
            total += os.path.getsize(p)
    try:
        cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        cap = spark.sparkContext.defaultParallelism
    if total == 0:
        return cap
    return max(1, min(cap, -(-total // _STATE_PARTITION_BYTES)))


@contextmanager
def stream_shuffle_partitions(spark: SparkSession, n: int | None):
    """Set spark.sql.shuffle.partitions around a streaming start/drain
    (the value a stateful query freezes into its checkpoint), restoring
    the session default afterwards so batch queries are untouched.

    Restriction: the conf is session-global, not per thread. A batch
    model running concurrently in the same session (``pipeline.runner``
    runs independent models on a thread pool) would plan its shuffles
    with ``n`` partitions while the block is open, and two overlapping
    blocks can restore each other's value. So no batch model may run
    concurrently with a stream start or drain in the same session."""
    if n is None:
        yield
        return
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def read_tick_stream(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    *,
    ts_is_nanos_long: bool = False,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a directory of tick parquet files."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(source_dir)
    if ts_is_nanos_long:
        # Watermarks require TimestampType (not NTZ); identical wall
        # clock under the pinned UTC session.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif "ts" in df.columns and df.schema["ts"].dataType.typeName() == "timestamp_ntz":
        # Parquet µs timestamps with isAdjustedToUTC=false arrive as
        # TIMESTAMP_NTZ; watermarks need TIMESTAMP. Under the pinned
        # UTC session the cast is wall-clock preserving.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def streaming_candles(
    ticks: DataFrame,
    ts_col: str,
    value_col: str,
    series_cols: Sequence[str] = (),
    *,
    duration: str = "5 minutes",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Tumbling-window OHLC aggregation on a stream. In append mode a
    window emits once the watermark passes its end — exactly-once candle
    emission; ``watermark_delay`` is the late-data tolerance."""
    w = F.window(F.col(ts_col), duration).alias("w")
    out = (
        ticks.withWatermark(ts_col, watermark_delay)
        .groupBy(*series_cols, w)
        .agg(*_ohlc_aggs(ts_col, value_col))
    )
    return out.select(
        *series_cols,
        F.col("w.start").cast("timestamp_ntz").alias("candle_start"),
        "open_value", "high_value", "low_value", "close_value", "n_ticks",
    )


def run_available_now_to_table(
    result: DataFrame, table_name: str, checkpoint_dir: str,
    output_mode: str = "complete",
    shuffle_partitions: int | None = None,
) -> StreamingQuery:
    """Drain everything currently in the source (the daily-cron
    equivalent) into an in-memory table, then stop. ``complete`` mode
    emits every window including still-open ones, matching a batch
    recompute; production continuous mode would use append+watermark
    into a parquet/Delta sink instead. ``shuffle_partitions`` (from
    ``state_partitions_for``) sizes the state-store partition count to
    the staged input — AQE cannot coalesce state-store partitions."""
    spark = result.sparkSession
    with stream_shuffle_partitions(spark, shuffle_partitions):
        q = (
            result.writeStream.format("memory")
            .queryName(table_name)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return q


def streaming_dedup(
    ticks: DataFrame, keys: Sequence[str], ts_col: str, delay: str = "10 minutes"
) -> DataFrame:
    """Exactly-once keyed dedup in-stream: state bounded by the
    watermark (the streaming form of D1/D2)."""
    return ticks.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(
        list(keys)
    )


def run_stream_merge_versioned(
    stream_df: DataFrame,
    table_dir: str,
    keys: "Sequence[str]",
    checkpoint_dir: str,
) -> StreamingQuery:
    """Stream → VERSIONED MERGE sink: every micro-batch commits through
    ``merge_versioned`` (copy-on-write ``v=<n>`` directories + atomic
    manifest flip), so the table carries its full history and restart
    recovery is time-travel-AUDITABLE, not just idempotent: a replayed
    batch (fresh checkpoint, or a crash between the data write and the
    sink commit) produces a NEW version whose content equals the old
    one — the audit query sees the replay instead of it silently
    overwriting. This is the streaming twin of the reference's
    idempotent daily re-run (daily_run.yml:55-59 re-creates the
    external table; stg_eurusd.sql:3-10 MERGEs on the unique key, so
    re-running a day is harmless); the version ledger adds the audit
    trail BigQuery gives the reference for free via job history.

    Scale: each version rewrites the current snapshot (copy-on-write
    without a transaction log), so this sink fits dimension/gold-sized
    tables, not a raw-fact stream whose history grows without bound."""
    from ..sources.writers import merge_versioned

    def _commit(batch_df: DataFrame, _batch_id: int) -> None:
        # AvailableNow can hand foreachBatch an empty batch (e.g. on a
        # no-new-files restart) — committing it would mint a new
        # identical version and pollute the audit ledger
        if batch_df.isEmpty():
            return
        merge_versioned(batch_df.sparkSession, table_dir, batch_df, keys)

    return (
        stream_df.writeStream.foreachBatch(_commit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
