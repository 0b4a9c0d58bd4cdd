"""Focused tests for the round-11 optimization pass.

Pin the r11 streaming state-store partition override to its contract:
data-derived (grows with input size), capped at the session default,
never tuned to a core count, honored by a drained stateful query's
checkpoint, and set on the stream's own child session, never on the
caller's. The r11 window-form rewrites of the shingle-pair family need
no focused test here — their DuckDB oracles ARE the join formulation,
so the strict tri-scale oracle runs compare the two forms directly.
"""

from __future__ import annotations

import os
import uuid
from concurrent.futures import ThreadPoolExecutor

from forex_data_pipeline_spark.operators.candles import ohlc_window
from forex_data_pipeline_spark.scratch import scratch_dir
from forex_data_pipeline_spark.streaming.candles_stream import (
    _STATE_PARTITION_BYTES,
    run_available_now_to_table,
    stage_tick_stream,
    state_partitions_for,
)


def test_state_partitions_grow_with_input_and_cap_at_default(
    spark, tmp_path
):
    """One state partition per ~32 MB of staged input, floor 1, cap at
    the session's configured shuffle parallelism — the override must be
    keyed to DATA SIZE, not cores."""
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
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert state_partitions_for(spark, "s3a://bucket/ticks/") == cap


def test_streaming_candles_state_store_width_matches_override(
    spark, sf_dir
):
    """End-to-end: a drained stateful stream must create exactly the
    derived number of state-store partitions (visible as state/0/<p>
    dirs in the checkpoint), not the session default."""
    n = state_partitions_for(spark, f"{sf_dir}/events.parquet")
    assert n < int(spark.conf.get("spark.sql.shuffle.partitions"))
    ticks = stage_tick_stream(spark, sf_dir)
    candles = ohlc_window(
        ticks.withWatermark("ts", "10 minutes"), "ts", "value", ["event_type"]
    )
    ckpt = scratch_dir("fx_test_sswidth_ck_")
    run_available_now_to_table(candles, f"t_{uuid.uuid4().hex[:8]}", ckpt)
    state_root = os.path.join(ckpt, "state", "0")
    parts = [d for d in os.listdir(state_root) if d.isdigit()]
    assert len(parts) == n


def test_stream_drain_leaves_caller_shuffle_partitions_alone(spark, sf_dir):
    """While a stream with a derived width of 1-3 state partitions
    drains in one thread, another thread reading the caller's
    spark.sql.shuffle.partitions always sees the caller's own value, so
    a batch model may plan its shuffles beside the drain."""
    from forex_data_pipeline_spark.queries.streaming_q import (
        streaming_candles_5m,
    )

    own = spark.conf.get("spark.sql.shuffle.partitions")
    assert 1 <= state_partitions_for(spark, f"{sf_dir}/events.parquet") <= 3
    seen = set()
    with ThreadPoolExecutor(1) as pool:
        drain = pool.submit(streaming_candles_5m, spark, sf_dir)
        while not drain.done():
            seen.add(spark.conf.get("spark.sql.shuffle.partitions"))
        assert drain.result().count() > 0
    assert seen == {own}


def test_parquet_stats_pushdown_never_writes_caller_conf(
    spark, sf_dir, monkeypatch
):
    """parquet_stats_pushdown reads through the V2 reader on a child
    session: the caller's conf is never set or unset, so a batch model
    sharing the caller's session keeps reading through V1. The
    registry's ``tune`` does not write either: ``get_spark``'s session
    already carries the engine's settings."""
    from forex_data_pipeline_spark.queries.sources_q import (
        parquet_stats_pushdown,
    )

    calls = []
    for name in ("set", "unset"):
        monkeypatch.setattr(
            spark.conf, name, lambda *a, _n=name: calls.append((_n, a))
        )
    assert parquet_stats_pushdown(spark, sf_dir).count() == 1
    assert calls == []


def test_query_tunes_a_session_once(spark, sf_dir):
    """A session the engine did not build gets ``RUNTIME_CONFS`` on its
    first query call (UTC above all, which the determinism contract
    needs); a setting its owner makes afterwards survives later query
    calls."""
    from forex_data_pipeline_spark import catalog
    from forex_data_pipeline_spark.session import RUNTIME_CONFS

    catalog._ensure_loaded()
    query = catalog.REGISTRY["null_semantics"].fn
    fresh = spark.newSession()
    fresh.conf.set("spark.sql.session.timeZone", "America/New_York")
    query(fresh, sf_dir)
    assert {k: fresh.conf.get(k) for k in RUNTIME_CONFS} == RUNTIME_CONFS
    fresh.conf.set("spark.sql.shuffle.partitions", "3")
    query(fresh, sf_dir)
    assert fresh.conf.get("spark.sql.shuffle.partitions") == "3"
    assert fresh.conf.get("spark.sql.session.timeZone") == "UTC"


def test_stream_session_inherits_caller_runtime_conf(spark, sf_dir):
    """The stream's session is a child of the caller's that carries the
    caller's runtime-only settings plus its own state-store width."""
    before = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        child = stage_tick_stream(spark, sf_dir).sparkSession
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", before)
    assert child is not spark
    assert child.conf.get("spark.sql.adaptive.enabled") == "false"
    assert child.conf.get("spark.sql.shuffle.partitions") == str(
        state_partitions_for(spark, f"{sf_dir}/events.parquet")
    )


def test_streaming_queries_leave_no_temp_view_in_caller(spark, sf_dir):
    """A drained query's memory-sink view belongs to the stream's own
    session; the caller's session gains no temp view."""
    from forex_data_pipeline_spark.queries import streaming_q

    def views() -> set[str]:
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    before = views()
    for query in (
        streaming_q.streaming_candles_5m,
        streaming_q.streaming_sliding_counts,
        streaming_q.streaming_stream_join,
        streaming_q.streaming_dedup_counts,
        streaming_q.streaming_dim_enrich,
    ):
        assert query(spark, sf_dir).count() > 0
    assert views() == before
