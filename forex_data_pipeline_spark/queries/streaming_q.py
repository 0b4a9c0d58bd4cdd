"""Driver-visible streaming + session-window queries.

``streaming_candles_5m`` runs a REAL Structured Streaming job
(file source → watermark → windowed OHLC → availableNow drain) and must
hash-match the same oracle as the batch flagship — proving
batch/streaming semantic parity on identical input.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import register
from ..operators.candles import ohlc_window
from ..scratch import scratch_dir
from ..streaming.candles_stream import (
    run_available_now_to_table,
    run_stream_merge_versioned,
    stage_tick_stream,
)
from ..tables import load
from .timeseries import _OHLC_AGG_SQL, _bucket_sql


@register(
    "streaming_candles_5m",
    oracle=f"""
    SELECT {_bucket_sql('ts', 300, 0)} AS candle_start,
           event_type,
           {_OHLC_AGG_SQL}
    FROM events
    GROUP BY 1, 2
    """,
    doc="Structured Streaming flagship parity: file-source stream + "
    "watermark + tumbling-window OHLC, drained with Trigger.AvailableNow "
    "(the reference's daily-cron equivalent, SURVEY §2.10) — must equal "
    "the batch candles_5m oracle bit-for-bit.",
    tags=("streaming", "timeseries"),
)
def streaming_candles_5m(spark: SparkSession, sf_dir: str) -> DataFrame:
    ticks = stage_tick_stream(spark, sf_dir)
    candles = ohlc_window(
        ticks.withWatermark("ts", "10 minutes"), "ts", "value", ["event_type"]
    )
    table = f"stream_candles_{uuid.uuid4().hex[:8]}"
    run_available_now_to_table(candles, table, scratch_dir("fx_stream_ckpt_"))
    return ticks.sparkSession.table(table).select(
        "candle_start", "event_type", "open_value", "high_value",
        "low_value", "close_value", "n_ticks",
    )


@register(
    "session_windows",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL 30 MINUTE
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    sessions AS (
        SELECT user_id, ts, value,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS session_id
        FROM flagged
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) AS session_end,
           count(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_id
    """,
    doc="Session windows (30-min inactivity gap) via F.session_window — "
    "the streaming-native sessionization operator, checked against a "
    "gaps-and-islands SQL formulation. Extends the reference's tumbling "
    "candles (SURVEY §2.10) with the session window family.",
    tags=("streaming", "window", "timeseries"),
)
def session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select("user_id", "session_start", "session_end", "n_events")
    )


@register(
    "streaming_sliding_counts",
    oracle="""
    SELECT make_timestamp(CAST(floor(floor(epoch(ts)) / 300) * 300 - off
               AS BIGINT) * 1000000) AS window_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           max(value) AS max_value
    FROM events
    CROSS JOIN (SELECT unnest([0, 300, 600]) AS off)
    GROUP BY 1, 2
    """,
    doc="Sliding windows under readStream (15 min / 5 min hop, "
    "watermarked, availableNow drain): each event feeds 3 overlapping "
    "windows in streaming state — must match the batch hopping-window "
    "oracle exactly, proving batch/stream parity for the second "
    "window shape.",
    tags=("streaming", "timeseries"),
)
def streaming_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ticks = stage_tick_stream(spark, sf_dir)
    win = F.window("ts", "15 minutes", "5 minutes").alias("w")
    agg = (
        ticks.withWatermark("ts", "10 minutes")
        .groupBy(win, "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("value").alias("max_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type", "n_events", "max_value",
        )
    )
    table = f"stream_slide_{uuid.uuid4().hex[:8]}"
    run_available_now_to_table(agg, table, scratch_dir("fx_slide_ckpt_"))
    return ticks.sparkSession.table(table)


@register(
    "streaming_stream_join",
    oracle="""
    SELECT v.user_id, v.ts AS view_ts, p.ts AS purchase_ts
    FROM events v JOIN events p
      ON v.user_id = p.user_id
     AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
    WHERE v.event_type = 'view' AND p.event_type = 'purchase'
    """,
    doc="STREAM-STREAM inner join (view→purchase attribution within 30 "
    "minutes): two watermarked streams joined on user_id + a time-range "
    "predicate, drained with AvailableNow and hash-checked against the "
    "batch join oracle. The time bound + watermarks let Spark expire "
    "buffered state (state ∝ users active in the last 30 min + "
    "watermark delay, NOT history) — the property that makes "
    "stream-stream joins runnable forever; an unbounded-condition "
    "join would accumulate state without limit.",
    tags=("streaming", "join"),
)
def streaming_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ticks = stage_tick_stream(spark, sf_dir)

    def side(event_type: str, ts_alias: str) -> DataFrame:
        return (
            ticks.filter(F.col("event_type") == event_type)
            .withWatermark("ts", "10 minutes")
            .select(
                F.col("user_id").alias(f"{ts_alias[0]}_user_id"),
                F.col("ts").alias(ts_alias),
            )
        )

    views, purchases = side("view", "view_ts"), side("purchase", "purchase_ts")
    joined = views.join(
        purchases,
        F.expr(
            "v_user_id = p_user_id AND purchase_ts > view_ts "
            "AND purchase_ts <= view_ts + INTERVAL 30 MINUTES"
        ),
    ).select(F.col("v_user_id").alias("user_id"), "view_ts", "purchase_ts")

    # stream-stream join state stores are the heaviest per-partition
    # fixture (4 stores per partition: left/right keyToNumValues +
    # keyWithIndexToValue) — the staged session sizes their count to
    # the input, not the session default
    table = f"stream_join_{uuid.uuid4().hex[:8]}"
    run_available_now_to_table(
        joined, table, scratch_dir("fx_ssj_ckpt_"), output_mode="append"
    )
    return ticks.sparkSession.table(table)


@register(
    "streaming_dedup_counts",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_events
    FROM events GROUP BY event_type
    """,
    doc="Streaming keyed dedup (dropDuplicatesWithinWatermark, the "
    "streaming form of D1/D2): the source directory stages the events "
    "file TWICE, so every row arrives duplicated in-stream; the "
    "watermark-bounded dedup state must collapse them back to the "
    "exact original per-series counts. State is bounded by the "
    "watermark delay — at 100 TB/day the dedup table never grows past "
    "delay x arrival rate.",
    tags=("streaming", "dedup"),
)
def streaming_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ticks = stage_tick_stream(spark, sf_dir, copies=2)
    # delay wider than the dataset's span: every duplicate (same
    # event_id) must be caught regardless of arrival batch
    deduped = (
        ticks.withWatermark("ts", "90 days")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    counted = deduped.groupBy("event_type").count().withColumnRenamed(
        "count", "n_events"
    )
    table = f"stream_dedup_{uuid.uuid4().hex[:8]}"
    run_available_now_to_table(counted, table, scratch_dir("fx_dedup_ckpt_"))
    return ticks.sparkSession.table(table).select(
        "event_type", F.col("n_events").cast("bigint").alias("n_events")
    )


@register(
    "streaming_dim_enrich",
    oracle="""
    SELECT c.c_mktsegment, e.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(CAST(sum(CAST(round(e.value * 1000000) AS BIGINT))
                AS BIGINT) AS BIGINT) AS value_micro
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
    doc="Stream-static enrichment join (the streaming lookup/dimension "
    "pattern): the event stream joins the STATIC customer dimension — "
    "no stream-stream state, the dim is broadcast to every micro-batch "
    "task and re-resolvable per trigger (slowly-changing dims pick up "
    "updates between batches) — then aggregates per (segment, type). "
    "Exact integer micro-unit sums; drained with Trigger.AvailableNow "
    "in complete mode and hash-matched against the batch join+agg "
    "oracle, proving batch/stream parity for the enrich-then-aggregate "
    "shape. State is bounded by the group-key cardinality "
    "(segments × types), independent of stream length.",
    tags=("streaming", "join", "aggregation"),
)
def streaming_dim_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    ticks = stage_tick_stream(spark, sf_dir)
    dim = load(ticks.sparkSession, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = ticks.join(F.broadcast(dim), "user_id").groupBy(
        "c_mktsegment", "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 1000000).cast("long"))
        .cast("bigint")
        .alias("value_micro"),
    )
    table = f"stream_enrich_{uuid.uuid4().hex[:8]}"
    run_available_now_to_table(
        enriched, table, scratch_dir("fx_stream_dim_ckpt_")
    )
    return ticks.sparkSession.table(table).select(
        "c_mktsegment", "event_type", "n_events", "value_micro"
    )


@register(
    "stream_merge_version_audit",
    oracle="""
    WITH base AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(CAST(sum(CAST(round(value * 1000000) AS BIGINT))
                    AS BIGINT) AS BIGINT) AS s,
               CAST(CAST(sum(CASE WHEN event_type = 'purchase'
                    THEN CAST(round(value * 1000000) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS BIGINT) AS sp
        FROM events
    )
    SELECT v.version, base.n AS n_rows,
           CASE WHEN v.version = 2 THEN base.s - base.sp
                ELSE base.s END AS value_micro
    FROM base CROSS JOIN (SELECT unnest([0, 1, 2]) AS version) v
    """,
    doc="Time-travel audit of the VERSIONED streaming MERGE sink "
    "(run_stream_merge_versioned -> merge_versioned copy-on-write "
    "commits): v0 = a real file-source stream drained into the "
    "versioned sink; v1 = the SAME source replayed with a fresh "
    "checkpoint (the reference's idempotent daily re-run, "
    "daily_run.yml:55-59 + stg_eurusd.sql:3-10) - the ledger must "
    "show a new version with BIT-IDENTICAL content, proving replay "
    "lands as an auditable no-op; v2 = a batch MERGE through the same "
    "ledger zeroing every purchase row's value (the late-correction "
    "seam), visible as an unchanged row count with a shifted exact "
    "micro-unit sum. The audit output is per-version (n_rows, "
    "value_micro) - row deltas prove key-merge semantics, sum deltas "
    "prove update content, and every figure is derivable from the "
    "events table alone, which is what makes the ledger "
    "oracle-checkable.",
    tags=("streaming", "pipeline", "merge"),
)
def stream_merge_version_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce

    from ..sources.writers import (
        merge_versioned,
        read_version,
        table_versions,
    )

    table_dir = scratch_dir("fx_vmerge_tbl_") + "/t"

    # v0: drain the stream into the versioned sink
    ticks = stage_tick_stream(spark, sf_dir)
    run_stream_merge_versioned(
        ticks, table_dir, ["event_id"],
        scratch_dir("fx_vmerge_ck1_"),
    ).awaitTermination()

    # v1: replay the whole source with a FRESH checkpoint — the
    # idempotent re-run; merge on event_id must reproduce v0's content
    run_stream_merge_versioned(
        ticks, table_dir, ["event_id"],
        scratch_dir("fx_vmerge_ck2_"),
    ).awaitTermination()

    # v2: batch correction through the same ledger — zero out purchase
    # values (delta derived FROM the committed table so schemas match
    # the stream-written snapshot exactly)
    delta = (
        read_version(spark, table_dir)
        .filter(F.col("event_type") == "purchase")
        .withColumn("value", F.lit(0.0))
    )
    merge_versioned(spark, table_dir, delta, ["event_id"])

    audits = [
        read_version(spark, table_dir, v).agg(
            F.lit(v).cast("bigint").alias("version"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.round(F.col("value") * 1000000).cast("long"))
            .cast("bigint")
            .alias("value_micro"),
        )
        for v in table_versions(table_dir)
    ]
    return reduce(lambda a, b: a.unionByName(b), audits)
