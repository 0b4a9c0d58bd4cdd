"""Time-bucketing + OHLC candle aggregation.

Re-expresses the reference mart's multi-timeframe candle computation
(/root/reference/models/marts/fct_eurusd_timeframes.sql:32-71) Spark-first:

- The reference stamps out 7 near-identical SQL branches (one per
  timeframe) and UNION ALLs them (fct:40-57) — 7 scans of the input.
  Here a single parameterized bucket expression is exploded over a
  timeframe array → ONE scan, one shuffle, branch-free (SURVEY §2.5 U1).
- The reference's "NY close" alignment shifts intraday frames by +2 h,
  truncates, then shifts back (fct:36,42-52). That is exactly
  ``floor((epoch + shift)/dur)*dur - shift`` — one codegen'd expression.
- Candle open/close use ordered ``array_agg(... limit 1)[offset(0)]``
  in the reference (fct:63,66); Spark's ``min_by``/``max_by`` compute the
  same thing hash-aggregated, no sort, no array materialization.

Scale notes: the aggregate is a plain hash aggregation keyed on
(timeframe, candle_start[, series keys]) — partial aggregation map-side,
one shuffle on the group keys. The explode multiplies rows ×|timeframes|
*before* the partial agg, but partial agg collapses them within each input
partition, so shuffled bytes stay ~|buckets| not |rows|×|timeframes|.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Timeframe:
    name: str
    seconds: int
    shift_seconds: int = 0  # "NY close" style clock shift (fct:36)


#: The reference's 7 timeframes (fct_eurusd_timeframes.sql:40-57):
#: intraday frames use the +2 h shifted clock; 24 h is pure UTC (fct:54-56).
#: For dur ≤ 1 h a 2 h shift is ≡ 0 (mod dur), so it only changes 4 h/12 h.
REFERENCE_TIMEFRAMES: tuple[Timeframe, ...] = (
    Timeframe("5m", 300, 7200),
    Timeframe("15m", 900, 7200),
    Timeframe("30m", 1800, 7200),
    Timeframe("1h", 3600, 7200),
    Timeframe("4h", 14400, 7200),
    Timeframe("12h", 43200, 7200),
    Timeframe("24h", 86400, 0),
)


def epoch_seconds(ts: Column) -> Column:
    """Whole epoch seconds of a timestamp(-ntz) column (UTC session)."""
    return F.unix_timestamp(ts.cast("timestamp"))


def bucket_epoch(
    ts: Column, seconds: int | Column, shift_seconds: int | Column = 0
) -> Column:
    """Tumbling-bucket start (epoch seconds, LongType) for ``ts``:
    shift → truncate → unshift. Kept in integer space so callers can do
    exact boundary arithmetic (merge edges, context windows)."""
    e = epoch_seconds(ts)
    return (
        F.floor((e + shift_seconds) / seconds) * seconds - shift_seconds
    ).cast("long")


def bucket(ts: Column, seconds: int | Column) -> Column:
    """Unshifted tumbling-bucket start for ``ts`` as a timestamp.

    Equivalent to ``F.window(ts, dur).start``; written as epoch
    arithmetic so the bucket width can be a *column*. A shifted clock
    (the reference's datetime_add/datetime_trunc/div dance, fct:42-52)
    goes through :func:`bucket_epoch`.
    """
    return F.timestamp_seconds(bucket_epoch(ts, seconds)).cast("timestamp_ntz")


def multi_timeframe_ohlc(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    series_cols: Sequence[str] = (),
    timeframes: Sequence[Timeframe] = REFERENCE_TIMEFRAMES,
    *,
    min_candle_start=None,
    keep_spec: bool = False,
) -> DataFrame:
    """All timeframes in ONE scan via explode (vs the reference's 7-way
    UNION ALL, fct:40-57). Output grain: (series..., timeframe,
    candle_start).

    ``min_candle_start``: incremental-recompute edge. Only candles whose
    start is >= that timeframe's OWN bucket containing the edge are
    produced — a per-timeframe boundary snap. (A single scalar cutoff
    cannot be correct: with mixed clock shifts there is NO instant that
    is a boundary of every timeframe, so a scalar cut always slices some
    candle in half and a partial aggregate would then overwrite a
    complete one at merge time.)

    ``keep_spec``: also emit ``dur_s``/``shift_s`` so callers can do
    boundary arithmetic downstream without re-joining the spec.

    Execution strategy — HIERARCHICAL ROLLUP when the frame set allows
    it (the reference set does): aggregate the ticks ONCE at the finest
    frame, then re-bucket the resulting candle table (|buckets| rows,
    ~2-3 orders smaller than the tick stream) into every coarser frame
    — candle opens/closes/highs/lows/counts compose exactly
    (min_by(open, base_start) / max_by(close, base_start) / max / min /
    sum). The tick-side shuffle shrinks ×|timeframes| vs the exploded
    single-pass form. Validity condition per frame: the finest frame's
    duration divides the frame's duration AND the shift difference —
    i.e. every coarse boundary lies on a base boundary; otherwise the
    exploded one-scan form runs instead (both proven equal to the
    reference's 7-way UNION oracle, and to each other in
    tests/test_edge_cases.py). An edge also selects the exploded form:
    an incremental recompute reads only the rows since its edge plus one
    coarsest bucket, where the extra rollup stage costs more than the
    shuffle bytes it saves.
    """
    base = min(timeframes, key=lambda t: t.seconds)
    rollup = min_candle_start is None and all(
        t.seconds % base.seconds == 0
        and (t.shift_seconds - base.shift_seconds) % base.seconds == 0
        for t in timeframes
    )
    tf_array = F.array(
        *[
            F.struct(
                F.lit(tf.name).alias("timeframe"),
                F.lit(tf.seconds).alias("dur"),
                F.lit(tf.shift_seconds).alias("shift"),
            )
            for tf in timeframes
        ]
    )
    dur, shift = F.col("_tf.dur"), F.col("_tf.shift")

    def _grouped(exploded: DataFrame, be: Column, aggs: list[Column]):
        if min_candle_start is not None:
            edge = bucket_epoch(F.lit(min_candle_start), dur, shift)
            exploded = exploded.filter(be >= edge)
        return exploded.groupBy(
            *series_cols,
            F.col("_tf.timeframe").alias("timeframe"),
            *(
                [dur.alias("dur_s"), shift.alias("shift_s")]
                if keep_spec
                else []
            ),
            F.timestamp_seconds(be).cast("timestamp_ntz").alias(
                "candle_start"
            ),
        ).agg(*aggs)

    if not rollup:
        exploded = df.withColumn("_tf", F.explode(tf_array))
        return _grouped(
            exploded,
            bucket_epoch(F.col(ts_col), dur, shift),
            _ohlc_aggs(ts_col, value_col),
        )

    base_candles = df.groupBy(
        *series_cols,
        bucket_epoch(
            F.col(ts_col), base.seconds, base.shift_seconds
        ).alias("_bs"),
    ).agg(*_ohlc_aggs(ts_col, value_col))
    bs = F.col("_bs")
    exploded = base_candles.withColumn("_tf", F.explode(tf_array))
    rollup_aggs = [
        F.min_by(F.col("open_value"), bs).alias("open_value"),
        F.max("high_value").alias("high_value"),
        F.min("low_value").alias("low_value"),
        F.max_by(F.col("close_value"), bs).alias("close_value"),
        F.sum("n_ticks").alias("n_ticks"),
    ]
    return _grouped(
        exploded,
        (F.floor((bs + shift) / dur) * dur - shift).cast("long"),
        rollup_aggs,
    )


def ohlc_window(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    series_cols: Sequence[str],
    *,
    duration: str = "5 minutes",
) -> DataFrame:
    """Single-timeframe OHLC candles (SURVEY §2.6 A1-A6) via the
    idiomatic ``F.window`` tumbling window — used by the flagship
    ``candles_5m`` and the indicator queries, whose DuckDB oracles
    bucket by epoch arithmetic instead. Output: series_cols...,
    candle_start, open/high/low/close, n_ticks."""
    w = F.window(F.col(ts_col), duration).alias("w")
    out = df.groupBy(*series_cols, w).agg(*_ohlc_aggs(ts_col, value_col))
    return out.select(
        *series_cols,
        F.col("w.start").cast("timestamp_ntz").alias("candle_start"),
        "open_value",
        "high_value",
        "low_value",
        "close_value",
        "n_ticks",
    )


def _ohlc_aggs(ts_col: str, value_col: str) -> list[Column]:
    v, t = F.col(value_col), F.col(ts_col)
    return [
        F.min_by(v, t).alias("open_value"),   # fct:63 ordered-first
        F.max(v).alias("high_value"),          # fct:64
        F.min(v).alias("low_value"),           # fct:65
        F.max_by(v, t).alias("close_value"),  # fct:66 ordered-last
        F.count(F.lit(1)).alias("n_ticks"),    # fct:68
    ]
