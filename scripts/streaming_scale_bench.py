#!/usr/bin/env python
"""Structured-Streaming throughput rehearsal (SCALING.md companion):
drains the events table through the real file-source -> watermarked
tumbling-OHLC -> sink pipeline (streaming/candles_stream.py) in K
micro-batches and reports end-to-end events/sec at a given SF.

The staging split matters: one parquet file = one AvailableNow batch =
no steady-state measurement. K files with maxFilesPerTrigger=1 gives K
micro-batches — state-store checkpointing, watermark advancement and
incremental aggregation all on the hot path, like production.

Usage: python scripts/streaming_scale_bench.py [sf_dir] [n_files] [key_mult]

``key_mult`` rehearses STATE CARDINALITY (round-7 item 8): the grouping
key becomes event_type x pmod(xxhash64(user_id), key_mult), multiplying
streaming-state rows by key_mult while event volume stays fixed. The
claimed state bound is rows = time-grid x keys; sweeping key_mult
1/10/100 measures where (if anywhere) the state store knees. The
default HDFS-backed state store keeps every key's state on heap;
RocksDB (the spill-to-disk option a 100 TB deployment would pick for
billion-key state) is not installable in this container — that is a
container limit, not a design one, and the key-partitioned state model
is identical under both providers.

Prints one JSON line. Foreground only (background shells are throttled).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from forex_data_pipeline_spark.operators.candles import ohlc_window  # noqa: E402
from forex_data_pipeline_spark.session import get_spark  # noqa: E402
from forex_data_pipeline_spark.streaming.candles_stream import (  # noqa: E402
    read_tick_stream,
    run_available_now_to_table,
)
from forex_data_pipeline_spark.tables import load  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_files = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    key_mult = int(sys.argv[3]) if len(sys.argv) > 3 else 1
    spark = get_spark("streaming-scale-bench")

    scratch = tempfile.mkdtemp(prefix="stream_bench_")
    src = os.path.join(scratch, "events")
    ckpt = os.path.join(scratch, "ckpt")
    try:
        events = load(spark, sf_dir, "events")
        if key_mult > 1:
            # state-cardinality rehearsal: key_mult x more grouping keys,
            # same event volume — state rows scale with keys
            events = events.withColumn(
                "event_type",
                F.concat_ws(
                    "#",
                    "event_type",
                    F.pmod(F.xxhash64("user_id"), F.lit(key_mult)).cast(
                        "string"
                    ),
                ),
            )
        n_events = events.count()
        # K files -> K AvailableNow micro-batches (ordered by file mtime;
        # equal-size split keeps batch sizes comparable)
        events.repartition(n_files).write.parquet(src)
        schema = spark.read.parquet(src).schema

        t0 = time.perf_counter()
        ticks = read_tick_stream(
            spark, src, schema, max_files_per_trigger=1
        )
        candles = ohlc_window(
            ticks.withWatermark("ts", "10 minutes"), "ts", "value",
            ["event_type"],
        )
        q = run_available_now_to_table(candles, "bench_candles", ckpt)
        wall = time.perf_counter() - t0
        batches = len(q.recentProgress)
        out_rows = spark.table("bench_candles").count()
        print(
            json.dumps(
                {
                    "metric": "streaming events/sec (AvailableNow, "
                    f"{n_files} micro-batches)",
                    "sf_dir": sf_dir,
                    "events": n_events,
                    "key_mult": key_mult,
                    "micro_batches": batches,
                    "wall_sec": round(wall, 2),
                    "events_per_sec": round(n_events / wall),
                    "candles_out": out_rows,
                }
            )
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()
