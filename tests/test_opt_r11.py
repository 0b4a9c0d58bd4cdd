"""Focused tests for the round-11 optimization pass.

Pin the r11 streaming state-store partition override to its contract:
data-derived (grows with input size), capped at the session default,
never tuned to a core count, restored after the drain, and actually
honored by a drained stateful query's checkpoint. The r11 window-form
rewrites of the shingle-pair family need no focused test here — their
DuckDB oracles ARE the join formulation, so the strict tri-scale
oracle runs compare the two forms directly.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest


def test_state_partitions_grow_with_input_and_cap_at_default(
    spark, tmp_path
):
    """One state partition per ~32 MB of staged input, floor 1, cap at
    the session's configured shuffle parallelism — the override must be
    keyed to DATA SIZE, not cores."""
    from forex_data_pipeline_spark.streaming.candles_stream import (
        _STATE_PARTITION_BYTES,
        state_partitions_for,
    )

    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))

    def staged(n_bytes: int, name: str) -> str:
        d = tmp_path / name
        d.mkdir()
        f = d / "part.parquet"
        with open(f, "wb") as fh:
            fh.truncate(n_bytes)
        return str(d)

    small = state_partitions_for(spark, staged(1 << 20, "small"))
    mid = state_partitions_for(
        spark, staged(3 * _STATE_PARTITION_BYTES, "mid")
    )
    huge = state_partitions_for(
        spark, staged((cap + 50) * _STATE_PARTITION_BYTES, "huge")
    )
    assert small == 1
    assert mid == 3
    assert small <= mid <= huge  # monotone in input size
    assert huge == cap  # capped at the session default, cores untouched


def test_state_partitions_unresolvable_path_gets_the_cap(spark):
    """A path os.path cannot see (a remote URI) sizes to 0 bytes; it must
    get the session's width, not one state store frozen into the
    checkpoint."""
    from forex_data_pipeline_spark.streaming.candles_stream import (
        state_partitions_for,
    )

    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert state_partitions_for(spark, "s3a://bucket/ticks/") == cap


def test_stream_shuffle_partitions_restores_session_conf(spark):
    from forex_data_pipeline_spark.streaming.candles_stream import (
        stream_shuffle_partitions,
    )

    before = spark.conf.get("spark.sql.shuffle.partitions")
    with stream_shuffle_partitions(spark, 2):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "2"
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    # None = no-op
    with stream_shuffle_partitions(spark, None):
        assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_streaming_candles_state_store_width_matches_override(
    spark, sf_dir
):
    """End-to-end: a drained stateful stream must create exactly the
    derived number of state-store partitions (visible as state/0/<p>
    dirs in the checkpoint), not the session default."""
    import uuid

    from forex_data_pipeline_spark.scratch import scratch_dir
    from forex_data_pipeline_spark.streaming.candles_stream import (
        read_tick_stream,
        run_available_now_to_table,
        state_partitions_for,
        streaming_candles,
    )

    src = scratch_dir("fx_test_sswidth_")
    os.symlink(f"{sf_dir}/events.parquet", f"{src}/events.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    ts_is_long = raw_schema["ts"].dataType.typeName() == "long"
    ticks = read_tick_stream(
        spark, src, raw_schema, ts_is_nanos_long=ts_is_long
    )
    candles = streaming_candles(
        ticks, "ts", "value", ["event_type"], duration="5 minutes"
    )
    n = state_partitions_for(spark, src)
    assert n < int(spark.conf.get("spark.sql.shuffle.partitions"))
    ckpt = scratch_dir("fx_test_sswidth_ck_")
    run_available_now_to_table(
        candles, f"t_{uuid.uuid4().hex[:8]}", ckpt, shuffle_partitions=n
    )
    state_root = os.path.join(ckpt, "state", "0")
    parts = [d for d in os.listdir(state_root) if d.isdigit()]
    assert len(parts) == n
