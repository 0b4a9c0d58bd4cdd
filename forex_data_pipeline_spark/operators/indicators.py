"""Window-function technical indicators (SURVEY §2.7 W2-W4).

Re-expresses the reference's ``indicators`` CTE
(/root/reference/models/marts/fct_eurusd_timeframes.sql:73-80):
``price_diff = close - lag(close)``, SMA-20, SMA-50 — all partitioned by
timeframe, ordered by candle_start, with ROWS frames.

The reference's SMA deliberately has no min-row guard (it averages fewer
rows at series start); a ``ROWS BETWEEN n-1 PRECEDING AND CURRENT ROW``
frame reproduces that exactly.

Cross-engine determinism: a float moving average is order-dependent in
the last ulp (Spark sums the frame sequentially, DuckDB uses a segment
tree), which breaks value-hash oracles at rounding boundaries. The SMA is
therefore computed over ``floor(value·1e6)`` integer micro-units — the
long sum is exact and order-independent, and the single final double
division is bit-identical on any IEEE-754 engine. ``price_diff`` is one
subtraction of identical doubles → already exact.

Scale: all indicators share a single Window spec, so Catalyst plans ONE
Window operator — one shuffle on the partition keys, one sort within
partitions, no per-indicator extra passes.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

MICRO = 1_000_000.0  # 6-decimal fixed-point grid for exact moving sums


def with_indicators(
    candles: DataFrame,
    partition_cols: Sequence[str],
    sma_windows: Sequence[int] = (20, 50),
) -> DataFrame:
    """Add ``price_diff`` and ``sma_<n>`` over ``candles``, which carry
    the candle operators' ``candle_start`` and ``close_value``."""
    base = Window.partitionBy(*partition_cols).orderBy("candle_start")
    close = "close_value"
    iv = F.floor(F.col(close) * F.lit(MICRO))  # exact long both engines
    out = candles.withColumn("_iv", iv).withColumn(
        "price_diff",  # fct:76
        F.col(close) - F.lag(close, 1).over(base),
    )
    for n in sma_windows:  # fct:77-78
        frame = base.rowsBetween(-(n - 1), 0)
        out = out.withColumn(
            f"sma_{n}",
            F.sum("_iv").over(frame).cast("double")
            / (F.lit(MICRO) * F.count(F.lit(1)).over(frame)),
        )
    return out.drop("_iv")


def sma_sql(expr: str, n: int, window_name: str) -> str:
    """DuckDB mirror of the micro-unit SMA (for oracle construction)."""
    iv = f"CAST(floor({expr} * 1000000.0) AS BIGINT)"
    frame = f"{window_name} ROWS BETWEEN {n - 1} PRECEDING AND CURRENT ROW"
    return (
        f"CAST(sum({iv}) OVER ({frame}) AS DOUBLE)"
        f" / (1000000.0 * count(*) OVER ({frame}))"
    )
