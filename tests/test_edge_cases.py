"""Empty-input robustness: every core operator must return an EMPTY
result with the CORRECT schema when fed zero rows — the behavior that
matters when a daily batch lands nothing (holiday, upstream outage) and
the pipeline must still run to completion, write nothing, and keep its
schema contracts (the reference exits early on empty fetches,
extract_forex.py:245-247; a distributed engine must instead flow the
empty relation through every stage)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from forex_data_pipeline_spark.operators.candles import (
    multi_timeframe_ohlc,
    ohlc_window,
)
from forex_data_pipeline_spark.operators.dedup import keyed_latest
from forex_data_pipeline_spark.operators.indicators import with_indicators
from forex_data_pipeline_spark.operators.quality import (
    accepted_values_violations,
    not_null_violations,
    unique_violations,
)

_TICKS_SCHEMA = T.StructType(
    [
        T.StructField("symbol", T.StringType()),
        T.StructField("observed_at", T.TimestampType()),
        T.StructField("close_price", T.DoubleType()),
    ]
)


def _empty_ticks(spark):
    return spark.createDataFrame([], _TICKS_SCHEMA)


def test_candles_and_indicators_on_empty_input(spark):
    candles = multi_timeframe_ohlc(
        _empty_ticks(spark), "observed_at", "close_price", ["symbol"]
    )
    assert candles.count() == 0
    assert {"timeframe", "candle_start", "open_value", "close_value"} <= set(
        candles.columns
    )
    ind = with_indicators(candles, ["symbol", "timeframe"])
    assert ind.count() == 0
    assert {"price_diff", "sma_20", "sma_50"} <= set(ind.columns)


def test_ohlc_window_on_empty_input(spark):
    out = ohlc_window(
        _empty_ticks(spark), "observed_at", "close_price", ["symbol"]
    )
    assert out.count() == 0


def test_dedup_on_empty_input(spark):
    df = _empty_ticks(spark)
    assert df.dropDuplicates().count() == 0
    assert (
        keyed_latest(
            df, ["symbol", "observed_at"],
            [F.col("observed_at").desc()],
        ).count()
        == 0
    )


def test_quality_checks_on_empty_input(spark):
    df = _empty_ticks(spark)
    assert unique_violations(df, ["symbol", "observed_at"]).count() == 0
    assert not_null_violations(df, "symbol").count() == 0
    assert accepted_values_violations(df, "symbol", ["a", "b"]).count() == 0


def test_merge_upsert_with_empty_new_batch(spark, tmp_path):
    """An empty incremental batch must leave the existing table intact
    (the no-new-data day) — not truncate it, not fail."""
    from forex_data_pipeline_spark.sources.writers import merge_upsert

    path = str(tmp_path / "merged")
    base = spark.createDataFrame(
        pd.DataFrame({"k": [1, 2], "v": [10.0, 20.0]})
    )
    merge_upsert(spark, path, base, ["k"])
    empty = spark.createDataFrame([], base.schema)
    merge_upsert(spark, path, empty, ["k"])
    got = spark.read.parquet(path).orderBy("k").toPandas()
    assert got.k.tolist() == [1, 2]
    assert got.v.tolist() == [10.0, 20.0]


def test_multi_timeframe_strategies_agree(spark, sf_dir):
    """The hierarchical-rollup and exploded-single-pass forms of
    multi_timeframe_ohlc must produce identical candles on the
    reference frame set ("auto" takes the rollup there, because its
    exactness condition holds: every coarse boundary lies on a 5m
    boundary)."""
    from forex_data_pipeline_spark.operators.candles import (
        multi_timeframe_ohlc,
    )
    from forex_data_pipeline_spark.tables import load

    ev = load(spark, sf_dir, "events").select(
        F.col("event_type").alias("symbol"),
        F.col("ts").alias("observed_at"),
        F.col("value").alias("close_price"),
    )
    a = multi_timeframe_ohlc(
        ev, "observed_at", "close_price", ["symbol"], strategy="auto"
    )
    b = multi_timeframe_ohlc(
        ev, "observed_at", "close_price", ["symbol"], strategy="explode"
    )
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_global_rank_empty_input(spark):
    from forex_data_pipeline_spark.operators.ranking import global_rank

    empty = spark.createDataFrame([], "cents long, o_orderkey long")
    ranked, n = global_rank(empty, ["cents", "o_orderkey"], rank_col="rn")
    assert n == 0
    assert ranked.count() == 0
    assert "rn" in ranked.columns
