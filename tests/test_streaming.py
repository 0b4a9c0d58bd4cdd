"""Streaming-specific tests beyond the oracle parity check (which lives
in test_correctness via the registered streaming_candles_5m query)."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F


@pytest.mark.parametrize(
    "k,ts,v",
    [
        pytest.param(
            [1, 1, 2, 2, 3],
            [
                "2024-01-01 00:00:00",
                "2024-01-01 00:00:30",  # dup of k=1, 30s later
                "2024-01-01 00:01:00",
                "2024-01-01 00:01:20",  # dup of k=2
                "2024-01-01 00:02:00",
            ],
            [10, 11, 20, 21, 30],
            id="later_dups",
        ),
        pytest.param(
            [1, 1, 2, 3, 3, 3],
            ["2024-01-01 00:00:00"] * 2
            + ["2024-01-01 00:01:00"]
            + ["2024-01-01 00:02:00"] * 3,
            [10, 10, 20, 30, 30, 30],
            id="same_ts_dups",
        ),
    ],
)
def test_drop_duplicates_within_watermark(spark, tmp_path, k, ts, v):
    """dropDuplicatesWithinWatermark (Spark 3.5+): duplicate keys
    arriving within the watermark delay are dropped, whether they come
    later or at the same timestamp, and the dedup state is EXPIRABLE
    (bounded by the watermark) — unlike plain streaming dropDuplicates
    whose state grows forever."""
    src = tmp_path / "ddw_src"
    src.mkdir()
    ticks = pd.DataFrame({"k": k, "ts": pd.to_datetime(ts), "v": v})
    sdf = spark.createDataFrame(ticks).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    sdf.coalesce(1).write.parquet(str(src / "f1"))

    stream = (
        spark.readStream.schema(sdf.schema)
        .parquet(str(src / "*"))
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["k"])
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("ddw_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ddw_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = (
        spark.table("ddw_t").toPandas().sort_values("k").reset_index(
            drop=True
        )
    )
    assert got.k.tolist() == [1, 2, 3]
    # first arrival per key wins (v=10, 20, 30)
    assert got.v.tolist() == [10, 20, 30]


def test_streaming_session_windows_merge_and_split(spark, tmp_path):
    """F.session_window through the STREAMING path (the batch
    `session_windows` query is its driver-verified twin): events within
    the 30 s inactivity gap must merge into one growing session, a
    larger silence must split, per key. Complete output mode surfaces
    the session state without waiting on watermark finalization."""
    src = tmp_path / "sw_src"
    src.mkdir()
    ticks = pd.DataFrame(
        {
            "user_id": [1, 1, 1, 1, 2],
            "ts": pd.to_datetime(
                [
                    "2024-01-01 00:00:00",
                    "2024-01-01 00:00:20",  # +20s → merges
                    "2024-01-01 00:00:45",  # +25s → merges
                    "2024-01-01 00:02:00",  # +75s silence → new session
                    "2024-01-01 00:00:10",
                ]
            ),
        }
    )
    sdf = spark.createDataFrame(ticks).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    sdf.coalesce(1).write.parquet(str(src / "f1"))

    stream = (
        spark.readStream.schema(sdf.schema)
        .parquet(str(src / "*"))
        .groupBy("user_id", F.session_window("ts", "30 seconds"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("sw_t")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "sw_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = (
        spark.table("sw_t")
        .select(
            "user_id",
            F.col("session_window.start").cast("string").alias("s"),
            F.col("session_window.end").cast("string").alias("e"),
            "n",
        )
        .toPandas()
        .sort_values(["user_id", "s"])
        .reset_index(drop=True)
    )
    assert got.values.tolist() == [
        [1, "2024-01-01 00:00:00", "2024-01-01 00:01:15", 3],
        [1, "2024-01-01 00:02:00", "2024-01-01 00:02:30", 1],
        [2, "2024-01-01 00:00:10", "2024-01-01 00:00:40", 1],
    ]


def test_versioned_stream_merge_restart_is_time_travel_auditable(
    spark, tmp_path
):
    """run_stream_merge_versioned: every micro-batch commit is a NEW
    copy-on-write version, so restart recovery leaves an auditable
    ledger — v0 holds the pre-restart snapshot, v1 the post-restart
    merge, and a no-new-data restart mints NO version (the empty-batch
    guard), keeping the ledger one-commit-per-real-batch."""
    from forex_data_pipeline_spark.sources.writers import (
        read_version,
        table_versions,
    )
    from forex_data_pipeline_spark.streaming.candles_stream import (
        run_stream_merge_versioned,
    )

    src = tmp_path / "vrestart_src"
    src.mkdir()
    tbl = str(tmp_path / "vrestart_tbl")
    ckpt = str(tmp_path / "vrestart_ckpt")

    b1 = pd.DataFrame(
        {"k": [1, 2], "ts": pd.to_datetime(["2024-01-01"] * 2),
         "v": [10, 20]}
    )
    sdf1 = spark.createDataFrame(b1).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    sdf1.coalesce(1).write.parquet(str(src / "f1"))

    stream = spark.readStream.schema(sdf1.schema).parquet(str(src / "*"))
    run_stream_merge_versioned(stream, tbl, ["k"], ckpt).awaitTermination()
    assert table_versions(tbl) == [0]

    # land an update file (k=2 -> 22, k=3 new), RESTART on the same
    # checkpoint: only the new file is processed, committed as v1
    b2 = pd.DataFrame(
        {"k": [2, 3], "ts": pd.to_datetime(["2024-01-02"] * 2),
         "v": [22, 30]}
    )
    spark.createDataFrame(b2).withColumn(
        "ts", F.col("ts").cast("timestamp")
    ).coalesce(1).write.parquet(str(src / "f2"))
    stream2 = spark.readStream.schema(sdf1.schema).parquet(str(src / "*"))
    run_stream_merge_versioned(stream2, tbl, ["k"], ckpt).awaitTermination()
    assert table_versions(tbl) == [0, 1]

    # time travel: the pre-restart snapshot is still readable as v0
    v0 = read_version(spark, tbl, 0).orderBy("k").select("k", "v").toPandas()
    assert v0.k.tolist() == [1, 2] and v0.v.tolist() == [10, 20]
    v1 = read_version(spark, tbl, 1).orderBy("k").select("k", "v").toPandas()
    assert v1.k.tolist() == [1, 2, 3] and v1.v.tolist() == [10, 22, 30]

    # a restart with NOTHING new must not mint a version
    stream3 = spark.readStream.schema(sdf1.schema).parquet(str(src / "*"))
    run_stream_merge_versioned(stream3, tbl, ["k"], ckpt).awaitTermination()
    assert table_versions(tbl) == [0, 1]


def test_stage_hash_chunks_one_file_per_chunk_and_empty_chunk_fails(
    spark, tmp_path
):
    """Staging writes every row once, one file per chunk; a chunk no key
    hashes to fails with a message naming it instead of a bare
    StopIteration or FileNotFoundError."""
    from forex_data_pipeline_spark.scratch import stage_hash_chunks

    dest = tmp_path / "src"
    dest.mkdir()
    df = spark.range(30).withColumnRenamed("id", "doc_id")
    stage_hash_chunks(df, "doc_id", str(dest))
    assert sorted(os.listdir(dest)) == [f"chunk_{k}.parquet" for k in range(3)]
    assert sorted(
        r.doc_id for r in spark.read.parquet(str(dest)).collect()
    ) == list(range(30))

    lone = tmp_path / "lone"
    lone.mkdir()
    with pytest.raises(ValueError, match=r"chunk [12] of 3 is empty"):
        stage_hash_chunks(spark.range(1).withColumnRenamed("id", "doc_id"),
                          "doc_id", str(lone))
