"""Structured Streaming candles (SURVEY §2.10).

The reference's "stream" is a daily cron micro-batch
(/root/reference/.github/workflows/daily_run.yml:4-6) with a manual
high-watermark (stg_eurusd.sql:18-21) — i.e. hand-rolled streaming
semantics. Spark-native mapping:

- ingestion trigger  → file-source stream + ``Trigger.AvailableNow``
  (process everything present, then stop — the cron-batch equivalent,
  with exactly-once file tracking via the checkpoint instead of the
  hand-rolled watermark): ``run_available_now_to_table``;
- tumbling candles   → ``operators.candles.ohlc_window`` over
  ``ticks.withWatermark(...)``, the batch operator unchanged;
- late data          → ``withWatermark`` bounds state; late rows beyond
  the delay are dropped (the reference's watermark filter drops ALL
  out-of-order rows — ours is strictly more tolerant);
- running indicators → deliberately NOT in the stream: an unbounded
  SMA-50 over all history is not a watermark-boundable streaming agg,
  so indicators stay a batch post-pass over the merged gold table —
  exactly the reference's recompute-the-tail design (fct:25-29), see
  ``pipeline.medallion.gold_run``.

Every bounded tick stream of the catalog is staged by
``stage_tick_stream`` and read on a child session of the caller's: the
stream's state-store width and its result view live on that child, so
nothing here sets a conf on the caller's session and batch models may
run beside a drain (``pipeline.runner``). ``run_stream_fold`` drains a
staged batch frame through a stateless ``foreachBatch`` fold, which
needs no state-store width.

Scale: streaming state is keyed by (series, window); with watermarking,
state size ∝ active windows × series, independent of history length.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..scratch import scratch_dir, stage_hash_chunks
from ..session import child_session, shuffle_width

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
    cap = shuffle_width(spark)
    if total == 0:
        return cap
    return max(1, min(cap, -(-total // _STATE_PARTITION_BYTES)))


def stage_tick_stream(
    spark: SparkSession, sf_dir: str, copies: int = 1
) -> DataFrame:
    """Stage ``sf_dir``'s ``events.parquet`` ``copies`` times (symlinks)
    into a fresh stream source directory and return the tick stream over
    it, read on a ``session.child_session`` of ``spark``.

    The state-store width set there (``state_partitions_for`` the staged
    input) and the memory sink's result view stay on the stream's
    session: batch work running beside the drain on ``spark`` keeps its
    own ``spark.sql.shuffle.partitions``. Reach the child, to read the
    drained result or load what the stream joins, as
    ``ticks.sparkSession``."""
    src = scratch_dir("fx_stream_src_")
    for i in range(copies):
        os.symlink(f"{sf_dir}/events.parquet", f"{src}/events_{i}.parquet")
    child = child_session(spark, {
        "spark.sql.shuffle.partitions": str(state_partitions_for(spark, src)),
    })
    schema = child.read.parquet(f"{sf_dir}/events.parquet").schema
    return read_tick_stream(child, src, schema)


def read_tick_stream(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    *,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a directory of tick parquet files. A
    ``long`` ``ts`` in ``schema`` is TIMESTAMP(NANOS) read with
    ``nanosAsLong``, which ``spark`` must then have set."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(source_dir)
    ts_type = schema["ts"].dataType.typeName()
    if ts_type == "long":
        # Watermarks require TimestampType (not NTZ); identical wall
        # clock under the pinned UTC session.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # Parquet µs timestamps with isAdjustedToUTC=false arrive as
        # TIMESTAMP_NTZ; watermarks need TIMESTAMP. Under the pinned
        # UTC session the cast is wall-clock preserving.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def run_available_now_to_table(
    result: DataFrame, table_name: str, checkpoint_dir: str,
    output_mode: str = "complete",
) -> StreamingQuery:
    """Drain everything currently in the source (the daily-cron
    equivalent) into an in-memory table of ``result``'s session, then
    stop. ``complete`` mode emits every window including still-open
    ones, matching a batch recompute; production continuous mode would
    use append+watermark into a parquet/Delta sink instead. A stateful
    query freezes its session's ``spark.sql.shuffle.partitions`` into
    the checkpoint as its state-store width, which
    ``stage_tick_stream`` sizes to the staged input."""
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


def run_stream_merge_versioned(
    stream_df: DataFrame,
    table_dir: str,
    keys: Sequence[str],
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


def run_stream_fold(
    df: DataFrame,
    key: str,
    state: Callable[[DataFrame], DataFrame],
    merge: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """Maintain a mergeable state over ``df`` as a real bounded stream
    and return the final state table. ``df`` is staged as three
    hash-chunks of ``key`` (``stage_hash_chunks``, one pass) and drained
    one chunk per micro-batch (``maxFilesPerTrigger=1``, availableNow);
    each batch's ``state(batch)`` folds into the persisted state as
    ``merge(previous ∪ state(batch))``, written through
    ``replace_table``. When ``state`` is a commutative monoid under
    ``merge``, batch arrival order cannot change the result, so the
    stream is strict-oracle-checkable against a one-shot aggregate."""
    from ..sources.writers import replace_table

    spark = df.sparkSession
    src = scratch_dir("fx_fold_src_")
    stage_hash_chunks(df, key, src)
    table = scratch_dir("fx_fold_state_") + "/state"

    def _fold(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        cells = state(batch_df)
        # explicit first-batch check: a bare except here would turn a
        # corrupt/partially-written state read into a silent state
        # reset (wrong totals); genuine read errors must propagate
        if os.path.isdir(table):
            prev = batch_df.sparkSession.read.parquet(table)
            cells = merge(prev.unionByName(cells))
        replace_table(cells.coalesce(1), table)

    ckpt = scratch_dir("fx_fold_ck_")
    (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(_fold)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    # the returned DataFrame only needs the state dir; drop the staged
    # copy + checkpoint eagerly (atexit sweeps the rest)
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    return spark.read.parquet(table)
