"""Classic forex technical indicators beyond the reference's SMA/lag pair.

The reference mart computes exactly two indicators — ``price_diff``
(lag) and SMA-20/50 (frame-bounded avg), /root/reference/models/marts/
fct_eurusd_timeframes.sql:76-78. A user of a forex pipeline expects the
rest of the standard toolbox; each is expressed as declarative window
arithmetic over the hourly candle relation (one shuffle for the candle
agg, one for the per-series window sort — Catalyst reuses the sort
across same-partitioning window frames).

Determinism discipline (see catalog.py): every rolling statistic is
computed from EXACT integer micro-unit sums inside the window frame and
divided/rounded once at the end — order-independent, bit-identical
across engines and at any parallelism. Indicators whose textbook form
is an EMA recursion (Wilder RSI, MACD) use their SMA variants (Cutler
RSI, SMA-ATR) — the recursive forms are sequential-by-construction and
do not belong in a distributed window plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import register
from ..operators.candles import ohlc_window
from ..tables import load
from .timeseries import _bucket_sql, _hourly_click_view

# ------------------------------------------------------------ shared base

#: DuckDB mirror of the hourly-candle base relation in integer micro-units.
_HOURLY_MICRO_SQL = f"""
    candles AS (
        SELECT {_bucket_sql('ts', 3600, 0)} AS candle_start,
               event_type,
               arg_min(value, ts) AS open_value,
               max(value) AS high_value,
               min(value) AS low_value,
               arg_max(value, ts) AS close_value,
               count(*) AS n_ticks
        FROM events
        GROUP BY 1, 2
    ),
    iv AS (
        SELECT event_type, candle_start, n_ticks,
               CAST(floor(open_value * 1000000.0) AS BIGINT) AS o,
               CAST(floor(high_value * 1000000.0) AS BIGINT) AS h,
               CAST(floor(low_value * 1000000.0) AS BIGINT) AS l,
               CAST(floor(close_value * 1000000.0) AS BIGINT) AS c
        FROM candles
    )
"""


def _hourly_close(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, candle_start, v): the hourly close per event_type,
    input of the sequential-recurrence kernels."""
    ev = load(spark, sf_dir, "events")
    return ohlc_window(
        ev, "ts", "value", ["event_type"], duration="1 hour"
    ).select("event_type", "candle_start", F.col("close_value").alias("v"))


def _hourly_micro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC candles per event_type with integer micro-unit columns."""
    ev = load(spark, sf_dir, "events")
    candles = ohlc_window(ev, "ts", "value", ["event_type"], duration="1 hour")
    micro = lambda col: F.floor(F.col(col) * 1000000.0).cast("long")  # noqa: E731
    return candles.select(
        "event_type", "candle_start", "n_ticks",
        micro("open_value").alias("o"), micro("high_value").alias("h"),
        micro("low_value").alias("l"), micro("close_value").alias("c"),
    )


def _series_window() -> Window:
    return Window.partitionBy("event_type").orderBy("candle_start")


def _gain_loss_14(base: DataFrame) -> DataFrame:
    """(event_type, candle_start, g, lo): the 14-row sums of the up and
    the down close-to-close moves, exact bigint micro-units."""
    w14 = _series_window().rowsBetween(-13, 0)
    d = base.select(
        "event_type", "candle_start",
        (F.col("c") - F.lag("c").over(_series_window())).alias("diff"),
    )
    return d.select(
        "event_type", "candle_start",
        F.sum(F.when(F.col("diff") > 0, F.col("diff")).otherwise(0))
        .over(w14)
        .alias("g"),
        F.sum(F.when(F.col("diff") < 0, -F.col("diff")).otherwise(0))
        .over(w14)
        .alias("lo"),
    )


def _true_range(base: DataFrame) -> DataFrame:
    """(event_type, candle_start, h, l, t): true range max(H−L, |H−prevC|,
    |L−prevC|) in exact integer micro-units, pinned to H−L where there
    is no previous close (greatest() NULL handling differs across
    engines)."""
    pc = base.select(
        "event_type", "candle_start", "h", "l",
        F.lag("c").over(_series_window()).alias("pc"),
    )
    t = F.when(F.col("pc").isNull(), F.col("h") - F.col("l")).otherwise(
        F.greatest(
            F.col("h") - F.col("l"),
            F.abs(F.col("h") - F.col("pc")),
            F.abs(F.col("l") - F.col("pc")),
        )
    )
    return pc.select("event_type", "candle_start", "h", "l", t.alias("t"))


# ---------------------------------------------------------------- queries

@register(
    "rsi_cutler",
    oracle=f"""
    WITH {_HOURLY_MICRO_SQL},
    d AS (
        SELECT event_type, candle_start, c,
               c - lag(c) OVER (PARTITION BY event_type ORDER BY candle_start)
                   AS diff
        FROM iv
    ),
    gl AS (
        SELECT event_type, candle_start,
               sum(CASE WHEN diff > 0 THEN diff ELSE 0 END) OVER w AS g,
               sum(CASE WHEN diff < 0 THEN -diff ELSE 0 END) OVER w AS lo
        FROM d
        WINDOW w AS (PARTITION BY event_type ORDER BY candle_start
                     ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, candle_start,
           CASE WHEN g + lo > 0
                THEN CAST((200000000 * g + (g + lo)) // (2 * (g + lo))
                          AS DOUBLE) / 1000000.0 END AS rsi_14
    FROM gl
    """,
    doc="Cutler's RSI-14 over hourly closes: up/down moves are exact "
    "integer micro-unit diffs, the 14-row gain/loss sums are bigint, "
    "and RSI = 100·G/(G+L) is one final division — order-independent "
    "(Wilder's EMA recursion is deliberately avoided: it is sequential "
    "by construction and unreproducible across partitionings).",
    tags=("timeseries", "window", "indicator"),
)
def rsi_cutler(spark: SparkSession, sf_dir: str) -> DataFrame:
    gl = _gain_loss_14(_hourly_micro(spark, sf_dir))
    return gl.select(
        "event_type", "candle_start",
        F.when(
            F.col("g") + F.col("lo") > 0,
            F.expr(
                "CAST((200000000 * g + (g + lo)) div (2 * (g + lo))"
                " AS DOUBLE) / 1000000.0"
            ),
        ).alias("rsi_14"),
    )


@register(
    "atr_14",
    oracle=f"""
    WITH {_HOURLY_MICRO_SQL},
    tr AS (
        SELECT event_type, candle_start,
               CASE WHEN pc IS NULL THEN h - l
                    ELSE greatest(h - l, abs(h - pc), abs(l - pc)) END AS t
        FROM (
            SELECT event_type, candle_start, h, l,
                   lag(c) OVER (PARTITION BY event_type
                                ORDER BY candle_start) AS pc
            FROM iv
        )
    )
    SELECT event_type, candle_start,
           CAST((2 * sum(t) OVER w + count(*) OVER w)
                // (2 * count(*) OVER w) AS DOUBLE) / 1000000.0 AS atr_14
    FROM tr
    WINDOW w AS (PARTITION BY event_type ORDER BY candle_start
                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    """,
    doc="Average True Range (SMA-14 of true range): TR = "
    "max(H−L, |H−prevC|, |L−prevC|) in exact integer micro-units; the "
    "prev-close NULL case is pinned to H−L explicitly so both engines "
    "agree (greatest() NULL handling differs across engines).",
    tags=("timeseries", "window", "indicator"),
)
def atr_14(spark: SparkSession, sf_dir: str) -> DataFrame:
    w14 = _series_window().rowsBetween(-13, 0)
    tr = _true_range(_hourly_micro(spark, sf_dir))
    sums = tr.select(
        "event_type", "candle_start",
        F.sum("t").over(w14).alias("s"),
        F.count(F.lit(1)).over(w14).alias("n"),
    )
    # exact half-up rounding to 6 dp in the integer domain: (2S+n) div 2n
    return sums.select(
        "event_type", "candle_start",
        F.expr(
            "CAST((2 * s + n) div (2 * n) AS DOUBLE) / 1000000.0"
        ).alias("atr_14"),
    )


@register(
    "stochastic_oscillator",
    oracle=f"""
    WITH {_HOURLY_MICRO_SQL},
    hl AS (
        SELECT event_type, candle_start, c,
               max(h) OVER w AS hh, min(l) OVER w AS ll
        FROM iv
        WINDOW w AS (PARTITION BY event_type ORDER BY candle_start
                     ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    ),
    k AS (
        SELECT event_type, candle_start,
               CASE WHEN hh > ll
                    THEN (100000000 * (c - ll)) // (hh - ll) END AS ks
        FROM hl
    )
    SELECT event_type, candle_start,
           CAST(ks AS DOUBLE) / 1000000.0 AS pct_k,
           CASE WHEN count(ks) OVER w3 > 0
                THEN CAST((2 * sum(ks) OVER w3 + count(ks) OVER w3)
                          // (2 * count(ks) OVER w3) AS DOUBLE) / 1000000.0
                END AS pct_d
    FROM k
    WINDOW w3 AS (PARTITION BY event_type ORDER BY candle_start
                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
    doc="Stochastic oscillator %K/%D (14,3): %K is scaled to an exact "
    "bigint via integer floor-division (numerator ≤2e16 would lose bits "
    "as a double — stays integral end-to-end), %D is the 3-row average "
    "of those integers. Rolling extrema + two window sums over ONE "
    "series sort.",
    tags=("timeseries", "window", "indicator"),
)
def stochastic_oscillator(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _hourly_micro(spark, sf_dir)
    w14 = _series_window().rowsBetween(-13, 0)
    w3 = _series_window().rowsBetween(-2, 0)
    hl = base.select(
        "event_type", "candle_start", "c",
        F.max("h").over(w14).alias("hh"),
        F.min("l").over(w14).alias("ll"),
    )
    k = hl.select(
        "event_type", "candle_start",
        F.when(
            F.col("hh") > F.col("ll"),
            F.expr("(100000000 * (c - ll)) div (hh - ll)"),
        ).alias("ks"),
    )
    sums = k.select(
        "event_type", "candle_start", "ks",
        F.sum("ks").over(w3).alias("s3"),
        F.count("ks").over(w3).alias("n3"),
    )
    return sums.select(
        "event_type", "candle_start",
        F.expr("CAST(ks AS DOUBLE) / 1000000.0").alias("pct_k"),
        F.expr(
            "CASE WHEN n3 > 0 THEN"
            " CAST((2 * s3 + n3) div (2 * n3) AS DOUBLE) / 1000000.0 END"
        ).alias("pct_d"),
    )


@register(
    "obv_cumulative",
    oracle=f"""
    WITH {_HOURLY_MICRO_SQL},
    d AS (
        SELECT event_type, candle_start, n_ticks,
               c - lag(c) OVER (PARTITION BY event_type ORDER BY candle_start)
                   AS diff
        FROM iv
    )
    SELECT event_type, candle_start,
           CAST(sum((CASE WHEN diff > 0 THEN 1
                          WHEN diff < 0 THEN -1 ELSE 0 END) * n_ticks)
               OVER (PARTITION BY event_type ORDER BY candle_start
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS obv
    FROM d
    """,
    doc="On-balance volume (tick count as volume): signed cumulative "
    "bigint sum — the running-total frame is UNBOUNDED PRECEDING, "
    "integer-exact at any parallelism. Direction comes from exact "
    "micro-unit close diffs.",
    tags=("timeseries", "window", "indicator"),
)
def obv_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _hourly_micro(spark, sf_dir)
    w1 = _series_window()
    wrun = _series_window().rowsBetween(Window.unboundedPreceding, 0)
    d = base.select(
        "event_type", "candle_start", "n_ticks",
        (F.col("c") - F.lag("c").over(w1)).alias("diff"),
    )
    direction = (
        F.when(F.col("diff") > 0, 1).when(F.col("diff") < 0, -1).otherwise(0)
    )
    return d.select(
        "event_type", "candle_start",
        F.sum(direction * F.col("n_ticks")).over(wrun).alias("obv"),
    )


@register(
    "donchian_channels",
    oracle=f"""
    WITH {_HOURLY_MICRO_SQL}
    SELECT event_type, candle_start,
           CAST(max(h) OVER w AS DOUBLE) / 1000000.0 AS dc_upper,
           CAST(min(l) OVER w AS DOUBLE) / 1000000.0 AS dc_lower,
           CAST((max(h) OVER w + min(l) OVER w + 1) // 2
                AS DOUBLE) / 1000000.0 AS dc_mid
    FROM iv
    WINDOW w AS (PARTITION BY event_type ORDER BY candle_start
                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    """,
    doc="Donchian channels (20-bar rolling high/low envelope + "
    "midline): rolling extrema over integer micro-units; the midline "
    "is an exact integer sum halved once.",
    tags=("timeseries", "window", "indicator"),
)
def donchian_channels(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _hourly_micro(spark, sf_dir)
    w20 = _series_window().rowsBetween(-19, 0)
    hh, ll = F.max("h").over(w20), F.min("l").over(w20)
    return base.select(
        "event_type", "candle_start",
        (hh.cast("double") / 1000000.0).alias("dc_upper"),
        (ll.cast("double") / 1000000.0).alias("dc_lower"),
        # half-up midpoint in the integer domain: (hh+ll+1) div 2
        (F.floor((hh + ll + 1) / 2).cast("double") / 1000000.0).alias("dc_mid"),
    )


@register(
    "roc_momentum",
    oracle=f"""
    WITH {_HOURLY_MICRO_SQL},
    lagged AS (
        SELECT event_type, candle_start, c,
               lag(c, 12) OVER (PARTITION BY event_type
                                ORDER BY candle_start) AS c12
        FROM iv
    )
    SELECT event_type, candle_start,
           CASE WHEN c12 IS NOT NULL AND c12 > 0 THEN
                CASE WHEN c >= c12
                     THEN CAST((200000000 * (c - c12) + c12) // (2 * c12)
                               AS DOUBLE) / 1000000.0
                     ELSE -(CAST((200000000 * (c12 - c) + c12) // (2 * c12)
                                 AS DOUBLE) / 1000000.0)
                END END AS roc_12,
           CAST(c - c12 AS DOUBLE) / 1000000.0 AS momentum_12
    FROM lagged
    """,
    doc="Rate-of-change + momentum over a 12-bar offset: lag(12) then "
    "exact integer differences; ROC's single double division is "
    "performed identically on both engines.",
    tags=("timeseries", "window", "indicator"),
)
def roc_momentum(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _hourly_micro(spark, sf_dir)
    w1 = _series_window()
    lagged = base.select(
        "event_type", "candle_start", "c",
        F.lag("c", 12).over(w1).alias("c12"),
    )
    return lagged.select(
        "event_type", "candle_start",
        F.expr(
            "CASE WHEN c12 IS NOT NULL AND c12 > 0 THEN"
            " CASE WHEN c >= c12"
            " THEN CAST((200000000 * (c - c12) + c12) div (2 * c12)"
            "      AS DOUBLE) / 1000000.0"
            " ELSE -(CAST((200000000 * (c12 - c) + c12) div (2 * c12)"
            "        AS DOUBLE) / 1000000.0)"
            " END END"
        ).alias("roc_12"),
        ((F.col("c") - F.col("c12")).cast("double") / 1000000.0).alias(
            "momentum_12"
        ),
    )


@register(
    "pivot_points_daily",
    oracle=f"""
    WITH candles AS (
        SELECT {_bucket_sql('ts', 86400, 0)} AS day_start,
               event_type,
               max(value) AS high_value,
               min(value) AS low_value,
               arg_max(value, ts) AS close_value
        FROM events
        GROUP BY 1, 2
    ),
    iv AS (
        SELECT event_type, day_start,
               CAST(floor(high_value * 1000000.0) AS BIGINT) AS h,
               CAST(floor(low_value * 1000000.0) AS BIGINT) AS l,
               CAST(floor(close_value * 1000000.0) AS BIGINT) AS c
        FROM candles
    ),
    prev AS (
        SELECT event_type, day_start,
               lag(h) OVER w AS ph, lag(l) OVER w AS pl,
               lag(h + l + c) OVER w AS p3
        FROM iv
        WINDOW w AS (PARTITION BY event_type ORDER BY day_start)
    )
    SELECT event_type, day_start,
           CAST(p3 AS DOUBLE) / 3000000.0 AS pivot,
           CAST(2 * p3 - 3 * pl AS DOUBLE) / 3000000.0 AS r1,
           CAST(2 * p3 - 3 * ph AS DOUBLE) / 3000000.0 AS s1,
           CAST(p3 + 3 * (ph - pl) AS DOUBLE) / 3000000.0 AS r2,
           CAST(p3 - 3 * (ph - pl) AS DOUBLE) / 3000000.0 AS s2
    FROM prev
    """,
    doc="Classic floor-trader pivot points from the PREVIOUS day's "
    "H/L/C (P, R1/S1, R2/S2): every level is an exact integer-linear "
    "combination of prior-day micro-units over a common denominator 3 — "
    "emitted as the single correctly-rounded IEEE quotient num/3e6 "
    "(identical on both engines; no round() on an exact rational, per "
    "the determinism contract — s2 can be negative so the integer "
    "half-up recipe would need sign branching).",
    tags=("timeseries", "window", "indicator"),
)
def pivot_points_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    candles = (
        ohlc_window(ev, "ts", "value", ["event_type"], duration="1 day")
        .withColumnRenamed("candle_start", "day_start")
    )
    micro = lambda col: F.floor(F.col(col) * 1000000.0).cast("long")  # noqa: E731
    iv = candles.select(
        "event_type", "day_start",
        micro("high_value").alias("h"), micro("low_value").alias("l"),
        micro("close_value").alias("c"),
    )
    w = Window.partitionBy("event_type").orderBy("day_start")
    prev = iv.select(
        "event_type", "day_start",
        F.lag("h").over(w).alias("ph"),
        F.lag("l").over(w).alias("pl"),
        F.lag(F.col("h") + F.col("l") + F.col("c")).over(w).alias("p3"),
    )
    lvl = lambda num: num.cast("double") / 3000000.0  # noqa: E731
    p3, ph, pl = F.col("p3"), F.col("ph"), F.col("pl")
    return prev.select(
        "event_type", "day_start",
        lvl(p3).alias("pivot"),
        lvl(2 * p3 - 3 * pl).alias("r1"),
        lvl(2 * p3 - 3 * ph).alias("s1"),
        lvl(p3 + 3 * (ph - pl)).alias("r2"),
        lvl(p3 - 3 * (ph - pl)).alias("s2"),
    )


@register(
    "ewma_macd",
    oracle=f"""
    WITH RECURSIVE candles AS (
        SELECT {_bucket_sql('ts', 3600, 0)} AS candle_start,
               event_type,
               arg_max(value, ts) AS v
        FROM events
        GROUP BY 1, 2
    ),
    base AS (
        SELECT event_type, candle_start, v,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY candle_start) AS rn
        FROM candles
    ),
    r AS (
        SELECT event_type, candle_start, rn, v,
               v AS e12, v AS e26, CAST(0.0 AS DOUBLE) AS sig
        FROM base WHERE rn = 1
        UNION ALL
        SELECT b.event_type, b.candle_start, b.rn, b.v,
               (2.0/13.0) * b.v + (1.0 - (2.0/13.0)) * r.e12,
               (2.0/27.0) * b.v + (1.0 - (2.0/27.0)) * r.e26,
               (2.0/10.0) * (((2.0/13.0) * b.v + (1.0 - (2.0/13.0)) * r.e12)
                             - ((2.0/27.0) * b.v + (1.0 - (2.0/27.0)) * r.e26))
                   + (1.0 - (2.0/10.0)) * r.sig
        FROM base b JOIN r
          ON b.event_type = r.event_type AND b.rn = r.rn + 1
    )
    SELECT event_type, candle_start,
           e12 AS ema_12, e26 AS ema_26,
           e12 - e26 AS macd, sig AS macd_signal,
           (e12 - e26) - sig AS macd_hist
    FROM r
    """,
    doc="EWMA + MACD(12,26,9): the one classic indicator family that is "
    "NOT a frame-bounded window function — the EMA recursion s' = "
    "alpha*x + (1-alpha)*s is inherently sequential per series. "
    "Implemented as an Arrow-batched applyInPandas kernel (state stays "
    "inside one partition per series; parallelism across series — the "
    "right distribution axis at scale, since series count is the wide "
    "dimension). The oracle is a DuckDB RECURSIVE CTE executing the "
    "bit-identical IEEE-754 op sequence, so the strict hash matches "
    "with NO rounding slack.",
    tags=("timeseries", "window", "indicator", "udf"),
)
def ewma_macd(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from pyspark.sql import types as T

    candles = _hourly_close(spark, sf_dir)

    schema = T.StructType([
        T.StructField("event_type", T.StringType()),
        T.StructField("candle_start", T.TimestampNTZType()),
        T.StructField("ema_12", T.DoubleType()),
        T.StructField("ema_26", T.DoubleType()),
        T.StructField("macd", T.DoubleType()),
        T.StructField("macd_signal", T.DoubleType()),
        T.StructField("macd_hist", T.DoubleType()),
    ])

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("candle_start").reset_index(drop=True)
        a12, a26, a9 = 2.0 / 13.0, 2.0 / 27.0, 2.0 / 10.0
        e12 = e26 = sig = 0.0
        out_e12, out_e26, out_sig = [], [], []
        for i, v in enumerate(pdf["v"].tolist()):
            if i == 0:
                e12, e26, sig = v, v, 0.0
            else:
                e12 = a12 * v + (1.0 - a12) * e12
                e26 = a26 * v + (1.0 - a26) * e26
                macd = e12 - e26
                sig = a9 * macd + (1.0 - a9) * sig
            out_e12.append(e12)
            out_e26.append(e26)
            out_sig.append(sig)
        return pd.DataFrame({
            "event_type": pdf["event_type"],
            "candle_start": pdf["candle_start"],
            "ema_12": out_e12,
            "ema_26": out_e26,
            "macd": [a - b for a, b in zip(out_e12, out_e26)],
            "macd_signal": out_sig,
            "macd_hist": [
                (a - b) - s for a, b, s in zip(out_e12, out_e26, out_sig)
            ],
        })

    return candles.groupBy("event_type").applyInPandas(kernel, schema)


def _heikin_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw hourly OHLC input of the heikin_ashi sequential kernel."""
    ev = load(spark, sf_dir, "events")
    return ohlc_window(
        ev, "ts", "value", ["event_type"], duration="1 hour"
    ).select(
        "event_type", "candle_start",
        F.col("open_value").alias("o"), F.col("high_value").alias("h"),
        F.col("low_value").alias("l"), F.col("close_value").alias("c"),
    )


@register(
    "heikin_ashi",
    oracle=f"""
    WITH RECURSIVE candles AS (
        SELECT {_bucket_sql('ts', 3600, 0)} AS candle_start,
               event_type,
               arg_min(value, ts) AS o, max(value) AS h,
               min(value) AS l, arg_max(value, ts) AS c
        FROM events
        GROUP BY 1, 2
    ),
    base AS (
        SELECT event_type, candle_start, o, h, l, c,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY candle_start) AS rn
        FROM candles
    ),
    r AS (
        SELECT event_type, candle_start, rn, o, h, l, c,
               (o + c) / 2.0 AS ha_open,
               (o + h + l + c) / 4.0 AS ha_close
        FROM base WHERE rn = 1
        UNION ALL
        SELECT b.event_type, b.candle_start, b.rn, b.o, b.h, b.l, b.c,
               (r.ha_open + r.ha_close) / 2.0,
               (b.o + b.h + b.l + b.c) / 4.0
        FROM base b JOIN r
          ON b.event_type = r.event_type AND b.rn = r.rn + 1
    )
    SELECT event_type, candle_start, ha_open, ha_close,
           greatest(h, ha_open, ha_close) AS ha_high,
           least(l, ha_open, ha_close) AS ha_low
    FROM r
    """,
    doc="Heikin-Ashi smoothed candles: HA-open is a per-series "
    "recursion (avg of previous HA open/close), so like ewma_macd it "
    "runs as an applyInPandas kernel with a RECURSIVE-CTE oracle. All "
    "arithmetic is adds plus divisions by powers of two (exact in "
    "binary floating point) in an identical op order — strict hash "
    "equality with no rounding.",
    tags=("timeseries", "indicator", "udf"),
)


def heikin_ashi(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from pyspark.sql import types as T

    candles = _heikin_base(spark, sf_dir)

    schema = T.StructType([
        T.StructField("event_type", T.StringType()),
        T.StructField("candle_start", T.TimestampNTZType()),
        T.StructField("ha_open", T.DoubleType()),
        T.StructField("ha_close", T.DoubleType()),
        T.StructField("ha_high", T.DoubleType()),
        T.StructField("ha_low", T.DoubleType()),
    ])

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("candle_start").reset_index(drop=True)
        ha_open_prev = ha_close_prev = 0.0
        rows_open, rows_close, rows_high, rows_low = [], [], [], []
        for i, (o, h, l, c) in enumerate(
            zip(pdf["o"], pdf["h"], pdf["l"], pdf["c"])
        ):
            ha_close = (o + h + l + c) / 4.0
            ha_open = (o + c) / 2.0 if i == 0 else (
                (ha_open_prev + ha_close_prev) / 2.0
            )
            rows_open.append(ha_open)
            rows_close.append(ha_close)
            rows_high.append(max(h, ha_open, ha_close))
            rows_low.append(min(l, ha_open, ha_close))
            ha_open_prev, ha_close_prev = ha_open, ha_close
        return pd.DataFrame({
            "event_type": pdf["event_type"],
            "candle_start": pdf["candle_start"],
            "ha_open": rows_open,
            "ha_close": rows_close,
            "ha_high": rows_high,
            "ha_low": rows_low,
        })

    return candles.groupBy("event_type").applyInPandas(kernel, schema)


@register(
    "twap_daily",
    oracle=f"""
    WITH ticks AS (
        SELECT event_type,
               {_bucket_sql('ts', 86400, 0)} AS day,
               epoch_ms(ts) AS ts_ms,
               CAST(floor(value * 1000000.0) AS BIGINT) AS v,
               event_id
        FROM events
    ),
    weighted AS (
        SELECT event_type, day, v,
               coalesce(lead(ts_ms) OVER (PARTITION BY event_type, day
                                          ORDER BY ts_ms, event_id),
                        epoch_ms(day) + 86400000) - ts_ms AS w
        FROM ticks
    ),
    agg AS (
        SELECT event_type, day,
               CAST(sum(v * w) AS BIGINT) AS svw,
               CAST(sum(w) AS BIGINT) AS sw
        FROM weighted GROUP BY event_type, day
    )
    SELECT event_type, day,
           CAST((2 * svw + sw) // (2 * sw) AS DOUBLE) / 1000000.0 AS twap,
           sw AS total_ms
    FROM agg
    """,
    doc="Time-weighted average price per series-day: each tick is "
    "weighted by its holding interval in integer milliseconds (lead() "
    "to the next tick, last tick runs to day end), prices in integer "
    "micro-units — the irregular-interval complement of the "
    "count-weighted VWAP. Exact bigint Σv·w / Σw with integer half-up "
    "rounding; reaggregable across days.",
    tags=("timeseries", "window", "aggregation", "indicator"),
)
def twap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    day_sec = 86400
    day = F.timestamp_micros(
        (F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / 1000000 / day_sec)
         * day_sec * 1000000).cast("long")
    ).cast("timestamp_ntz")
    ticks = ev.select(
        "event_type",
        day.alias("day"),
        (F.unix_micros(F.col("ts").cast("timestamp")) / 1000).cast("long").alias("ts_ms"),
        F.floor(F.col("value") * 1000000.0).cast("long").alias("v"),
        "event_id",
    )
    w = Window.partitionBy("event_type", "day").orderBy("ts_ms", "event_id")
    day_end_ms = (
        (F.unix_micros(F.col("day").cast("timestamp")) / 1000).cast("long")
        + 86400000
    )
    weighted = ticks.select(
        "event_type", "day", "v",
        (F.coalesce(F.lead("ts_ms").over(w), day_end_ms) - F.col("ts_ms")).alias("w"),
    )
    agg = weighted.groupBy("event_type", "day").agg(
        F.sum(F.col("v") * F.col("w")).alias("svw"),
        F.sum("w").alias("sw"),
    )
    return agg.select(
        "event_type", "day",
        F.expr("CAST((2 * svw + sw) div (2 * sw) AS DOUBLE) / 1000000.0").alias("twap"),
        F.col("sw").alias("total_ms"),
    )


@register(
    "rolling_correlation_30",
    oracle=f"""
    WITH candles AS (
        SELECT {_bucket_sql('ts', 3600, 0)} AS candle_start, event_type,
               CAST(round(arg_max(value, ts) * 1000000) AS BIGINT) AS cm
        FROM events WHERE event_type IN ('click', 'view')
        GROUP BY 1, 2
    ),
    paired AS (
        SELECT a.candle_start, a.cm AS x, b.cm AS y
        FROM candles a JOIN candles b ON a.candle_start = b.candle_start
        WHERE a.event_type = 'click' AND b.event_type = 'view'
    ),
    m AS (
        SELECT candle_start,
               count(*) OVER w AS n,
               sum(x) OVER w AS sx, sum(y) OVER w AS sy,
               sum(x * x // 1000000) OVER w AS sxx,
               sum(y * y // 1000000) OVER w AS syy,
               sum(x * y // 1000000) OVER w AS sxy
        FROM paired
        WINDOW w AS (ORDER BY candle_start
                     ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)
    )
    SELECT candle_start, CAST(n AS BIGINT) AS n,
           CASE WHEN n * sxx - sx // 1000 * (sx // 1000) > 0
                 AND n * syy - sy // 1000 * (sy // 1000) > 0
                THEN CAST(n * sxy - sx // 1000 * (sy // 1000) AS DOUBLE)
                     / (sqrt(CAST(n * sxx - sx // 1000 * (sx // 1000)
                                  AS DOUBLE))
                        * sqrt(CAST(n * syy - sy // 1000 * (sy // 1000)
                                    AS DOUBLE)))
                END AS rolling_corr
    FROM m
    """,
    doc="30-bar rolling Pearson correlation between two aligned series "
    "(windowed pair-trading signal). NOTE: this is a deterministic "
    "scaled-integer APPROXIMATION of Pearson r, not the exact "
    "statistic — each product is truncated (x*x div 1e6, and sx div "
    "1e3 before squaring) to keep the 30-bar moment sums inside int64 "
    "at micro-unit magnitudes (~5.6e8); the truncation loses at most "
    "~1e-6 relative error per moment, far below the float display "
    "precision, and is applied identically on both engines. Six "
    "bigint accumulators over ONE sort, a single deterministic "
    "double expression per row, zero-variance guarded. The global "
    "(unpartitioned) window is fine here because the paired relation "
    "is one row per hour — at 100 TB the partition axis is the pair "
    "universe, not time.",
    tags=("timeseries", "window", "stats"),
)
def rolling_correlation_30(spark: SparkSession, sf_dir: str) -> DataFrame:
    paired = _hourly_click_view(spark, sf_dir)
    w = Window.orderBy("candle_start").rowsBetween(-29, 0)
    m = paired.select(
        "candle_start",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.expr("x * x div 1000000")).over(w).alias("sxx"),
        F.sum(F.expr("y * y div 1000000")).over(w).alias("syy"),
        F.sum(F.expr("x * y div 1000000")).over(w).alias("sxy"),
    )
    return m.select(
        "candle_start",
        F.col("n").cast("bigint").alias("n"),
        F.expr(
            "CASE WHEN n * sxx - sx div 1000 * (sx div 1000) > 0"
            " AND n * syy - sy div 1000 * (sy div 1000) > 0"
            " THEN CAST(n * sxy - sx div 1000 * (sy div 1000) AS DOUBLE)"
            " / (sqrt(CAST(n * sxx - sx div 1000 * (sx div 1000) AS DOUBLE))"
            " * sqrt(CAST(n * syy - sy div 1000 * (sy div 1000) AS DOUBLE)))"
            " END"
        ).alias("rolling_corr"),
    )


def _balance_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed micro-unit flow input of clamped_running_balance's
    window-function form."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "error")
    )
    micro = F.floor(F.col("value") * 1000000.0).cast("long")
    return ev.select(
        "user_id", "ts", "event_id",
        F.when(F.col("event_type") == "purchase", micro)
        .otherwise(-micro)
        .alias("d"),
    )


@register(
    "clamped_running_balance",
    oracle=f"""
    WITH RECURSIVE flows AS (
        SELECT user_id, ts, event_id,
               CASE WHEN event_type = 'purchase'
                    THEN CAST(floor(value * 1000000.0) AS BIGINT)
                    ELSE -CAST(floor(value * 1000000.0) AS BIGINT) END AS d
        FROM events
        WHERE event_type IN ('purchase', 'error')
    ),
    base AS (
        SELECT user_id, ts, event_id, d,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM flows
    ),
    r AS (
        SELECT user_id, ts, event_id, rn,
               greatest(CAST(0 AS BIGINT), d) AS bal
        FROM base WHERE rn = 1
        UNION ALL
        SELECT b.user_id, b.ts, b.event_id, b.rn,
               greatest(CAST(0 AS BIGINT), r.bal + b.d)
        FROM base b JOIN r
          ON b.user_id = r.user_id AND b.rn = r.rn + 1
    )
    SELECT user_id, ts, event_id,
           CAST(bal AS DOUBLE) / 1000000.0 AS balance
    FROM r
    """,
    doc="Clamped (floor-at-zero) running balance per user — the "
    "classic inventory/credit semantics s' = max(0, s + delta). The "
    "clamp recurrence is non-associative but it IS the Lindley/"
    "Skorokhod reflection, with the closed form s_i = cs_i - min(0, "
    "min_{j<=i} cs_j) over the plain cumulative sum — so the r10 "
    "optimization pass replaced the applyInPandas sequential kernel "
    "with two stacked window functions (running sum + running min of "
    "it, one user-keyed shuffle, zero Python boundary; measured 6.1 s "
    "-> 2.3 s at sf0.1 with a row-for-row identical result, 0 of "
    "39894 balances differing — all arithmetic stays in exact bigint "
    "micro-units, the only float op is the final /1e6, unchanged). "
    "RECURSIVE-CTE oracle, exact bigint arithmetic end-to-end so the "
    "hash matches with no tolerance. Partitioned by user — millions "
    "of independent series is exactly the axis a 100 TB cluster "
    "parallelizes. (The sequential-kernel pattern this query used to "
    "showcase remains covered by ewma_macd / heikin_ashi / supertrend, "
    "whose recurrences have no such closed form.)",
    tags=("timeseries", "window", "indicator"),
)


def clamped_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    flows = _balance_flows(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cs = F.sum("d").over(w)
    # Lindley reflection: max(0, s + d) running == cs - min(0, running
    # min of cs). Integer micro-units throughout; bit-identical to the
    # sequential recurrence (and to the recursive-CTE oracle).
    bal_micro = cs - F.least(F.lit(0).cast("long"), F.min(cs).over(w))
    return flows.select(
        "user_id",
        "ts",
        "event_id",
        (bal_micro.cast("double") / F.lit(1000000.0)).alias("balance"),
    )


@register(
    "linear_trend_per_series",
    oracle=f"""
    WITH candles AS (
        SELECT {_bucket_sql('ts', 3600, 0)} AS candle_start, event_type,
               CAST(round(arg_max(value, ts) * 1000000) AS BIGINT) AS y
        FROM events GROUP BY 1, 2
    ),
    xy AS (
        SELECT event_type, y,
               2 * (row_number() OVER (PARTITION BY event_type
                                       ORDER BY candle_start) - 1)
                 - (count(*) OVER (PARTITION BY event_type) - 1) AS d
        FROM candles
    ),
    m AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(d * d) AS BIGINT) AS sdd,
               CAST(sum(d * y) AS BIGINT) AS sdy
        FROM xy GROUP BY event_type
    )
    SELECT event_type, n,
           CAST(2 * sdy AS DOUBLE) / CAST(sdd AS DOUBLE) / 1000000.0
               AS slope_per_hour,
           (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
            - (CAST(2 * sdy AS DOUBLE) / CAST(sdd AS DOUBLE))
              * (CAST(n - 1 AS DOUBLE) / 2.0))
               / 1000000.0 AS intercept
    FROM m WHERE n >= 2
    """,
    doc="Per-series OLS linear trend (price drift): slope/intercept "
    "assembled from exact bigint CENTERED moment sums. x is the dense "
    "hour index; d = 2x-(n-1) is the doubled deviation from the mean "
    "index (integer, sums to zero), so slope = 2*sum(d*y)/sum(d*d) — "
    "centering shrinks the moment magnitudes by ~n versus the raw "
    "n*sxy - sx*sy form, keeping everything exact int64 out to ~90k "
    "bars per series (|2*sdy| <= 2*n^2*y_max). Identical final double "
    "expression on both engines. The moments are one map-side-"
    "combinable aggregation — the distributed-OLS pattern that "
    "replaces sequential regression at 100 TB; regr_* built-ins would "
    "be float-summation-order-dependent across partitionings.",
    tags=("timeseries", "stats", "aggregation"),
)
def linear_trend_per_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.candles import bucket

    ev = load(spark, sf_dir, "events")
    candles = ev.groupBy(
        bucket(F.col("ts"), 3600).alias("candle_start"), "event_type"
    ).agg(F.round(F.max_by("value", "ts") * 1000000).cast("bigint").alias("y"))
    w = Window.partitionBy("event_type").orderBy("candle_start")
    wall = Window.partitionBy("event_type")
    xy = candles.select(
        "event_type", "y",
        (
            2 * (F.row_number().over(w) - 1)
            - (F.count(F.lit(1)).over(wall) - 1)
        ).alias("d"),
    )
    m = xy.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("sy"),
        F.sum(F.col("d") * F.col("d")).alias("sdd"),
        F.sum(F.col("d") * F.col("y")).alias("sdy"),
    )
    return m.filter(F.col("n") >= 2).select(
        "event_type", "n",
        F.expr(
            "CAST(2 * sdy AS DOUBLE) / CAST(sdd AS DOUBLE) / 1000000.0"
        ).alias("slope_per_hour"),
        F.expr(
            "(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)"
            " - (CAST(2 * sdy AS DOUBLE) / CAST(sdd AS DOUBLE))"
            "   * (CAST(n - 1 AS DOUBLE) / 2.0))"
            " / 1000000.0"
        ).alias("intercept"),
    )


@register(
    "rolling_median_filter",
    oracle=f"""
    WITH candles AS (
        SELECT {_bucket_sql('ts', 3600, 0)} AS candle_start, event_type,
               CAST(round(arg_max(value, ts) * 1000000) AS BIGINT) AS cm
        FROM events GROUP BY 1, 2
    )
    SELECT event_type, candle_start,
           quantile_cont(cm, 0.5) OVER w / 1000000.0 AS median_15,
           CAST(cm AS DOUBLE) / 1000000.0 AS close_value
    FROM candles
    WINDOW w AS (PARTITION BY event_type ORDER BY candle_start
                 ROWS BETWEEN 14 PRECEDING AND CURRENT ROW)
    """,
    doc="Rolling exact median (15-bar robust mid-price filter — the "
    "outlier-resistant alternative to SMA for spiky feeds): Spark's "
    "exact percentile() and DuckDB's quantile_cont agree bit-for-bit "
    "on integer micro-unit inputs because even-count interpolation is "
    "(a+b)/2 of integers — exact in binary — and the final /1e6 is one "
    "correctly-rounded division. No rounding anywhere. Exact "
    "percentile holds the frame in memory — fine for bounded frames; "
    "unbounded/global medians use approx_percentile "
    "(q:approx_percentile_prices) as the scale path.",
    tags=("timeseries", "window", "indicator", "stats"),
)
def rolling_median_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.candles import bucket

    ev = load(spark, sf_dir, "events")
    candles = ev.groupBy(
        bucket(F.col("ts"), 3600).alias("candle_start"), "event_type"
    ).agg(
        F.round(F.max_by("value", "ts") * 1000000).cast("bigint").alias("cm")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("candle_start")
        .rowsBetween(-14, 0)
    )
    return candles.select(
        "event_type", "candle_start",
        (F.expr("percentile(cm, 0.5)").over(w) / 1000000.0).alias("median_15"),
        (F.col("cm").cast("double") / 1000000.0).alias("close_value"),
    )


@register(
    "winsorized_mean_per_series",
    oracle="""
    WITH b AS (
        SELECT event_type,
               CAST(round(value * 1000000) AS BIGINT) AS vm
        FROM events
    ),
    q AS (
        SELECT event_type,
               CAST(quantile_disc(vm, 0.05) AS BIGINT) AS lo,
               CAST(quantile_disc(vm, 0.95) AS BIGINT) AS hi
        FROM b GROUP BY event_type
    )
    SELECT b.event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(lo AS DOUBLE) / 1000000.0 AS lo_fence,
           CAST(hi AS DOUBLE) / 1000000.0 AS hi_fence,
           CAST(sum(greatest(lo, least(hi, vm))) AS DOUBLE)
               / (1000000.0 * count(*)) AS winsorized_mean
    FROM b JOIN q ON b.event_type = q.event_type
    GROUP BY b.event_type, lo, hi
    """,
    doc="Winsorized mean per series (5%/95% fences): the robust "
    "average that survives fat-tailed tick noise. Fences are DISCRETE "
    "percentiles (actual data points, exact integers on both engines "
    "via percentile_disc / quantile_disc), broadcast back onto the "
    "ticks (5-row join), values clamped in integer micro-units, and "
    "the mean is one unrounded correctly-rounded division of exact "
    "bigints. Two aggregations over one scan lineage, no sort of the "
    "full data.",
    tags=("timeseries", "stats", "aggregation"),
)
def winsorized_mean_per_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    b = ev.select(
        "event_type",
        F.round(F.col("value") * 1000000).cast("bigint").alias("vm"),
    )
    q = b.groupBy("event_type").agg(
        F.expr("CAST(percentile_disc(0.05) WITHIN GROUP (ORDER BY vm) AS BIGINT)").alias("lo"),
        F.expr("CAST(percentile_disc(0.95) WITHIN GROUP (ORDER BY vm) AS BIGINT)").alias("hi"),
    )
    j = b.join(F.broadcast(q), "event_type")
    clamped = F.greatest(F.col("lo"), F.least(F.col("hi"), F.col("vm")))
    return j.groupBy("event_type", "lo", "hi").agg(
        F.count(F.lit(1)).alias("n"),
        (F.first("lo").cast("double") / 1000000.0).alias("lo_fence"),
        (F.first("hi").cast("double") / 1000000.0).alias("hi_fence"),
        (
            F.sum(clamped).cast("double")
            / (F.lit(1000000.0) * F.count(F.lit(1)))
        ).alias("winsorized_mean"),
    ).select("event_type", "n", "lo_fence", "hi_fence", "winsorized_mean")


def _supertrend_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, candle_start, c, bu, bl) band input of the
    supertrend sequential kernel."""
    base_iv = _hourly_micro(spark, sf_dir)
    w1 = _series_window()
    w14 = _series_window().rowsBetween(-13, 0)
    pc = base_iv.select(
        "event_type", "candle_start", "h", "l", "c",
        F.lag("c").over(w1).alias("pc"),
    )
    t = F.when(F.col("pc").isNull(), F.col("h") - F.col("l")).otherwise(
        F.greatest(
            F.col("h") - F.col("l"),
            F.abs(F.col("h") - F.col("pc")),
            F.abs(F.col("l") - F.col("pc")),
        )
    )
    tr = pc.select("event_type", "candle_start", "h", "l", "c", t.alias("t"))
    atr = F.sum("t").over(w14).cast("double") / F.count(F.lit(1)).over(w14)
    mid = (F.col("h") + F.col("l")).cast("double") / F.lit(2.0)
    return tr.select(
        "event_type", "candle_start", "c",
        (mid + F.lit(3.0) * atr).alias("bu"),
        (mid - F.lit(3.0) * atr).alias("bl"),
    )


@register(
    "supertrend",
    oracle=f"""
    WITH RECURSIVE {_HOURLY_MICRO_SQL},
    tr AS (
        SELECT event_type, candle_start, h, l, c,
               CASE WHEN pc IS NULL THEN h - l
                    ELSE greatest(h - l, abs(h - pc), abs(l - pc)) END AS t
        FROM (
            SELECT event_type, candle_start, h, l, c,
                   lag(c) OVER (PARTITION BY event_type
                                ORDER BY candle_start) AS pc
            FROM iv
        )
    ),
    base AS (
        SELECT event_type, candle_start, c,
               CAST(h + l AS DOUBLE) / 2.0
                   + 3.0 * (CAST(sum(t) OVER w AS DOUBLE)
                            / count(*) OVER w) AS bu,
               CAST(h + l AS DOUBLE) / 2.0
                   - 3.0 * (CAST(sum(t) OVER w AS DOUBLE)
                            / count(*) OVER w) AS bl,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY candle_start) AS rn
        FROM tr
        WINDOW w AS (PARTITION BY event_type ORDER BY candle_start
                     ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    ),
    r AS (
        SELECT event_type, candle_start, c, rn, bu AS fu, bl AS fl,
               CAST(1 AS BIGINT) AS trend
        FROM base WHERE rn = 1
        UNION ALL
        SELECT b.event_type, b.candle_start, b.c, b.rn,
               CASE WHEN b.bu < r.fu OR r.c > r.fu THEN b.bu ELSE r.fu END,
               CASE WHEN b.bl > r.fl OR r.c < r.fl THEN b.bl ELSE r.fl END,
               CASE WHEN CAST(b.c AS DOUBLE) >
                         (CASE WHEN b.bu < r.fu OR r.c > r.fu
                               THEN b.bu ELSE r.fu END) THEN 1
                    WHEN CAST(b.c AS DOUBLE) <
                         (CASE WHEN b.bl > r.fl OR r.c < r.fl
                               THEN b.bl ELSE r.fl END) THEN -1
                    ELSE r.trend END
        FROM base b JOIN r
          ON b.event_type = r.event_type AND b.rn = r.rn + 1
    )
    SELECT event_type, candle_start,
           fu / 1000000.0 AS upper_band,
           fl / 1000000.0 AS lower_band,
           trend
    FROM r
    """,
    doc="Supertrend(14, 3): the conditional band recursion — the final "
    "upper band only ratchets down while price stays below it (and "
    "mirror for the lower band), with the trend flag flipping on band "
    "crosses — is state-dependent in a way no window frame expresses. "
    "Fourth sequential-kernel use: the band inputs (midpoint ± "
    "3·SMA-ATR) are identical IEEE expressions over exact integer "
    "window sums on both engines, and the kernel replays the exact "
    "comparison/assignment sequence of the RECURSIVE-CTE oracle — "
    "strict hash equality, zero rounding.",
    tags=("timeseries", "indicator", "udf"),
)


def supertrend(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from pyspark.sql import types as T

    base = _supertrend_base(spark, sf_dir)

    schema = T.StructType([
        T.StructField("event_type", T.StringType()),
        T.StructField("candle_start", T.TimestampNTZType()),
        T.StructField("upper_band", T.DoubleType()),
        T.StructField("lower_band", T.DoubleType()),
        T.StructField("trend", T.LongType()),
    ])

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("candle_start").reset_index(drop=True)
        fu = fl = 0.0
        prev_c = 0
        trend = 1
        ub, lb, trends = [], [], []
        for i, (c, bu, bl) in enumerate(zip(pdf["c"], pdf["bu"], pdf["bl"])):
            if i == 0:
                fu, fl, trend = bu, bl, 1
            else:
                fu = bu if (bu < fu or prev_c > fu) else fu
                fl = bl if (bl > fl or prev_c < fl) else fl
                if float(c) > fu:
                    trend = 1
                elif float(c) < fl:
                    trend = -1
            ub.append(fu / 1000000.0)
            lb.append(fl / 1000000.0)
            trends.append(trend)
            prev_c = c
        return pd.DataFrame({
            "event_type": pdf["event_type"],
            "candle_start": pdf["candle_start"],
            "upper_band": ub,
            "lower_band": lb,
            "trend": trends,
        })

    return base.groupBy("event_type").applyInPandas(kernel, schema)


@register(
    "ichimoku_cloud",
    oracle=f"""
    WITH {_HOURLY_MICRO_SQL},
    lines AS (
        SELECT event_type, candle_start, c,
               CAST(max(h) OVER w9 + min(l) OVER w9 AS DOUBLE)
                   / 2000000.0 AS tenkan,
               CAST(max(h) OVER w26 + min(l) OVER w26 AS DOUBLE)
                   / 2000000.0 AS kijun,
               CAST(max(h) OVER w52 + min(l) OVER w52 AS DOUBLE)
                   / 2000000.0 AS senkou_b_raw
        FROM iv
        WINDOW w9 AS (PARTITION BY event_type ORDER BY candle_start
                      ROWS BETWEEN 8 PRECEDING AND CURRENT ROW),
               w26 AS (PARTITION BY event_type ORDER BY candle_start
                       ROWS BETWEEN 25 PRECEDING AND CURRENT ROW),
               w52 AS (PARTITION BY event_type ORDER BY candle_start
                       ROWS BETWEEN 51 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, candle_start, tenkan, kijun,
           lag((tenkan + kijun) / 2.0, 26) OVER w AS senkou_a,
           lag(senkou_b_raw, 26) OVER w AS senkou_b,
           CAST(lead(c, 26) OVER w AS DOUBLE) / 1000000.0 AS chikou
    FROM lines
    WINDOW w AS (PARTITION BY event_type ORDER BY candle_start)
    """,
    doc="Ichimoku cloud (9/26/52): conversion/base lines are rolling "
    "high-low midpoints, the two Senkou spans are projected 26 bars "
    "forward (lag) and the Chikou line 26 back (lead). Every value is "
    "an integer sum halved — division by powers of two is exact in "
    "binary — so all five lines are bit-identical with no rounding. "
    "Five window frames over ONE per-series sort (same partitioning, "
    "Catalyst reuses the exchange+sort).",
    tags=("timeseries", "window", "indicator"),
)
def ichimoku_cloud(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _hourly_micro(spark, sf_dir)
    w1 = _series_window()

    def midline(n: int):
        wn = _series_window().rowsBetween(-(n - 1), 0)
        return (F.max("h").over(wn) + F.min("l").over(wn)).cast(
            "double"
        ) / 2000000.0

    lines = base.select(
        "event_type", "candle_start", "c",
        midline(9).alias("tenkan"),
        midline(26).alias("kijun"),
        midline(52).alias("senkou_b_raw"),
    )
    return lines.select(
        "event_type", "candle_start", "tenkan", "kijun",
        F.lag((F.col("tenkan") + F.col("kijun")) / 2.0, 26).over(w1).alias("senkou_a"),
        F.lag("senkou_b_raw", 26).over(w1).alias("senkou_b"),
        (F.lead("c", 26).over(w1).cast("double") / 1000000.0).alias("chikou"),
    )


@register(
    "aroon_indicator",
    oracle=f"""
    WITH {_HOURLY_MICRO_SQL},
    rn_t AS (
        SELECT event_type, candle_start, h, l,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY candle_start) AS rn
        FROM iv
    ),
    enc AS (
        SELECT event_type, candle_start, rn,
               max(h * 100000 + rn) OVER w AS hi_enc,
               max((1000000000000 - l) * 100000 + rn) OVER w AS lo_enc,
               count(*) OVER w AS n
        FROM rn_t
        WINDOW w AS (PARTITION BY event_type ORDER BY candle_start
                     ROWS BETWEEN 24 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, candle_start,
           CASE WHEN n = 25
                THEN CAST((25 - (rn - hi_enc % 100000)) * 4 AS BIGINT)
                END AS aroon_up,
           CASE WHEN n = 25
                THEN CAST((25 - (rn - lo_enc % 100000)) * 4 AS BIGINT)
                END AS aroon_down
    FROM enc
    """,
    doc="Aroon(25): bars-since-rolling-extreme, the trend-age "
    "indicator. The position of the window max/min comes from an "
    "integer ENCODING — value*100000 + row_number packs (value, "
    "recency) into one bigint so a plain max() recovers the latest "
    "extreme's position (ties break to the most recent, the Aroon "
    "convention); the low side is complement-encoded against base "
    "10^12 micro-units (price < 10^6 units), keeping lo_enc positive "
    "for any plausible price — (10^12)*10^5 = 10^17 < int64 max. "
    "Assumes row_number per series < 100000 (~11 years of hourly "
    "bars); the encoding breaks beyond that. (25 - age) * 4 keeps "
    "the 0-100 scale integer-exact — no division at all. NULL during "
    "the warmup window.",
    tags=("timeseries", "window", "indicator"),
)
def aroon_indicator(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _hourly_micro(spark, sf_dir)
    w1 = _series_window()
    w25 = _series_window().rowsBetween(-24, 0)
    rn_t = base.select(
        "event_type", "candle_start", "h", "l",
        F.row_number().over(w1).alias("rn"),
    )
    enc = rn_t.select(
        "event_type", "candle_start", "rn",
        F.max(F.col("h") * 100000 + F.col("rn")).over(w25).alias("hi_enc"),
        F.max((F.lit(1000000000000) - F.col("l")) * 100000 + F.col("rn"))
        .over(w25)
        .alias("lo_enc"),
        F.count(F.lit(1)).over(w25).alias("n"),
    )
    full = F.col("n") == 25
    return enc.select(
        "event_type", "candle_start",
        F.when(
            full,
            ((25 - (F.col("rn") - F.col("hi_enc") % 100000)) * 4).cast("bigint"),
        ).alias("aroon_up"),
        F.when(
            full,
            ((25 - (F.col("rn") - F.col("lo_enc") % 100000)) * 4).cast("bigint"),
        ).alias("aroon_down"),
    )


@register(
    "candlestick_patterns",
    oracle=f"""
    WITH {_HOURLY_MICRO_SQL},
    x AS (
        SELECT event_type, candle_start, o, h, l, c,
               lag(o) OVER w AS po, lag(c) OVER w AS pc,
               abs(c - o) AS body,
               h - greatest(o, c) AS wick_up,
               least(o, c) - l AS wick_dn
        FROM iv
        WINDOW w AS (PARTITION BY event_type ORDER BY candle_start)
    )
    SELECT event_type, candle_start,
           CAST(10 * body <= h - l AS BOOLEAN) AS is_doji,
           CAST(wick_dn >= 2 * body AND 2 * wick_up <= body
                AS BOOLEAN) AS is_hammer,
           CAST(pc IS NOT NULL AND c > o AND pc < po
                AND c >= po AND o <= pc AS BOOLEAN) AS is_bull_engulfing,
           CAST(pc IS NOT NULL AND c < o AND pc > po
                AND o >= pc AND c <= po AS BOOLEAN) AS is_bear_engulfing
    FROM x
    """,
    doc="Candlestick pattern flags (doji / hammer / bullish+bearish "
    "engulfing): every rule is rewritten multiplication-side "
    "(10*body <= range, wick >= 2*body) so detection is pure integer "
    "micro-unit comparison — no ratios, no floats, no thresholds that "
    "could straddle an engine rounding difference. One lag window for "
    "the engulfing prior-candle context.",
    tags=("timeseries", "window", "indicator"),
)
def candlestick_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _hourly_micro(spark, sf_dir)
    w1 = _series_window()
    o, h, l, c = F.col("o"), F.col("h"), F.col("l"), F.col("c")
    x = base.select(
        "event_type", "candle_start", "o", "h", "l", "c",
        F.lag("o").over(w1).alias("po"),
        F.lag("c").over(w1).alias("pc"),
        F.abs(c - o).alias("body"),
        (h - F.greatest(o, c)).alias("wick_up"),
        (F.least(o, c) - l).alias("wick_dn"),
    )
    po, pc = F.col("po"), F.col("pc")
    body, wu, wd = F.col("body"), F.col("wick_up"), F.col("wick_dn")
    return x.select(
        "event_type", "candle_start",
        (10 * body <= F.col("h") - F.col("l")).alias("is_doji"),
        ((wd >= 2 * body) & (2 * wu <= body)).alias("is_hammer"),
        (
            pc.isNotNull() & (F.col("c") > F.col("o")) & (pc < po)
            & (F.col("c") >= po) & (F.col("o") <= pc)
        ).alias("is_bull_engulfing"),
        (
            pc.isNotNull() & (F.col("c") < F.col("o")) & (pc > po)
            & (F.col("o") >= pc) & (F.col("c") <= po)
        ).alias("is_bear_engulfing"),
    )


# Parabolic SAR recursion — SQL fragments shared verbatim between the
# up/down branches of the oracle so the kernel mirrors ONE definition.
_SAR_PRED = "(r.sar + r.af * (r.ep - r.sar))"
_SAR_UP = (
    f"least({_SAR_PRED}, CAST(b.pl AS DOUBLE), CAST(b.ppl AS DOUBLE))"
)
_SAR_DN = (
    f"greatest({_SAR_PRED}, CAST(b.ph AS DOUBLE), CAST(b.pph AS DOUBLE))"
)
_FLIP_UP = f"CAST(b.l AS DOUBLE) < {_SAR_UP}"    # uptrend pierced
_FLIP_DN = f"CAST(b.h AS DOUBLE) > {_SAR_DN}"    # downtrend pierced


@register(
    "parabolic_sar",
    oracle=f"""
    WITH RECURSIVE {_HOURLY_MICRO_SQL},
    base AS (
        SELECT event_type, candle_start, h, l, c,
               lag(h) OVER w AS ph, lag(l) OVER w AS pl,
               lag(c) OVER w AS pc,
               lag(h, 2) OVER w AS pph, lag(l, 2) OVER w AS ppl,
               row_number() OVER w AS rn
        FROM iv
        WINDOW w AS (PARTITION BY event_type ORDER BY candle_start)
    ),
    r AS (
        SELECT event_type, candle_start, rn,
               CASE WHEN c > pc THEN 1 ELSE -1 END AS trend,
               CASE WHEN c > pc THEN CAST(pl AS DOUBLE)
                    ELSE CAST(ph AS DOUBLE) END AS sar,
               CASE WHEN c > pc THEN CAST(h AS DOUBLE)
                    ELSE CAST(l AS DOUBLE) END AS ep,
               CAST(0.02 AS DOUBLE) AS af
        FROM base WHERE rn = 2
        UNION ALL
        SELECT b.event_type, b.candle_start, b.rn,
               CASE WHEN r.trend = 1
                    THEN CASE WHEN {_FLIP_UP} THEN -1 ELSE 1 END
                    ELSE CASE WHEN {_FLIP_DN} THEN 1 ELSE -1 END END,
               CASE WHEN r.trend = 1
                    THEN CASE WHEN {_FLIP_UP} THEN r.ep ELSE {_SAR_UP} END
                    ELSE CASE WHEN {_FLIP_DN} THEN r.ep ELSE {_SAR_DN} END
                    END,
               CASE WHEN r.trend = 1
                    THEN CASE WHEN {_FLIP_UP} THEN CAST(b.l AS DOUBLE)
                         ELSE greatest(r.ep, CAST(b.h AS DOUBLE)) END
                    ELSE CASE WHEN {_FLIP_DN} THEN CAST(b.h AS DOUBLE)
                         ELSE least(r.ep, CAST(b.l AS DOUBLE)) END END,
               CASE WHEN r.trend = 1
                    THEN CASE WHEN {_FLIP_UP} THEN CAST(0.02 AS DOUBLE)
                         WHEN CAST(b.h AS DOUBLE) > r.ep
                         THEN least(r.af + 0.02, 0.2) ELSE r.af END
                    ELSE CASE WHEN {_FLIP_DN} THEN CAST(0.02 AS DOUBLE)
                         WHEN CAST(b.l AS DOUBLE) < r.ep
                         THEN least(r.af + 0.02, 0.2) ELSE r.af END END
        FROM base b JOIN r
          ON b.event_type = r.event_type AND b.rn = r.rn + 1
    )
    SELECT event_type, candle_start, sar / 1000000.0 AS psar, trend
    FROM r
    """,
    doc="Parabolic SAR (0.02/0.02/0.2): four interacting state "
    "variables — SAR, extreme point, acceleration factor, trend — "
    "with flip resets and a two-bar clamp; the heaviest conditional "
    "recursion in the indicator family and the fifth sequential-"
    "kernel use. The kernel replays the exact branch/op order of the "
    "RECURSIVE-CTE oracle over micro-int inputs (all float steps are "
    "identical IEEE add/mul/min/max), so the strict hash matches "
    "unrounded. Distribution axis = series, like all kernels.",
    tags=("timeseries", "indicator", "udf"),
)
def parabolic_sar(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from pyspark.sql import types as T

    base = _hourly_micro(spark, sf_dir)

    schema = T.StructType([
        T.StructField("event_type", T.StringType()),
        T.StructField("candle_start", T.TimestampNTZType()),
        T.StructField("psar", T.DoubleType()),
        T.StructField("trend", T.LongType()),
    ])

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("candle_start").reset_index(drop=True)
        hs, ls, cs = pdf["h"].tolist(), pdf["l"].tolist(), pdf["c"].tolist()
        rows = []
        if len(pdf) >= 2:
            up = cs[1] > cs[0]
            trend = 1 if up else -1
            sar = float(ls[0]) if up else float(hs[0])
            ep = float(hs[1]) if up else float(ls[1])
            af = 0.02
            rows.append((pdf["candle_start"][1], sar, trend))
            for i in range(2, len(pdf)):
                sar_pred = sar + af * (ep - sar)
                if trend == 1:
                    sar_c = min(sar_pred, float(ls[i - 1]), float(ls[i - 2]))
                    if float(ls[i]) < sar_c:          # flip to downtrend
                        trend, sar = -1, ep
                        ep, af = float(ls[i]), 0.02
                    else:
                        sar = sar_c
                        if float(hs[i]) > ep:
                            af = min(af + 0.02, 0.2)
                        ep = max(ep, float(hs[i]))
                else:
                    sar_c = max(sar_pred, float(hs[i - 1]), float(hs[i - 2]))
                    if float(hs[i]) > sar_c:          # flip to uptrend
                        trend, sar = 1, ep
                        ep, af = float(hs[i]), 0.02
                    else:
                        sar = sar_c
                        if float(ls[i]) < ep:
                            af = min(af + 0.02, 0.2)
                        ep = min(ep, float(ls[i]))
                rows.append((pdf["candle_start"][i], sar, trend))
        return pd.DataFrame({
            "event_type": pdf["event_type"].iloc[0] if len(rows) else pd.Series([], dtype=object),
            "candle_start": [r[0] for r in rows],
            "psar": [r[1] / 1000000.0 for r in rows],
            "trend": [r[2] for r in rows],
        }) if rows else pd.DataFrame(
            {"event_type": pd.Series([], dtype=object),
             "candle_start": pd.Series([], dtype="datetime64[us]"),
             "psar": pd.Series([], dtype=float),
             "trend": pd.Series([], dtype="int64")}
        )

    return base.groupBy("event_type").applyInPandas(kernel, schema)


@register(
    "breakout_backtest_pnl",
    oracle=f"""
    WITH {_HOURLY_MICRO_SQL},
    sig AS (
        SELECT event_type, candle_start, c,
               CASE WHEN max(h) OVER (PARTITION BY event_type
                        ORDER BY candle_start
                        ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
                        < c THEN 1 ELSE 0 END AS long_signal,
               lead(c) OVER (PARTITION BY event_type
                             ORDER BY candle_start) - c AS next_ret
        FROM iv
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_bars,
           CAST(sum(long_signal) AS BIGINT) AS n_signals,
           CAST(sum(CASE WHEN long_signal = 1 AND next_ret IS NOT NULL
                         THEN next_ret ELSE 0 END) AS DOUBLE)
               / 1000000.0 AS total_pnl,
           CAST(sum(CASE WHEN long_signal = 1 AND next_ret > 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_wins
    FROM sig GROUP BY event_type
    """,
    doc="Vectorized breakout backtest: the signal (close above the "
    "prior 20-bar high — note the 1 PRECEDING frame end, excluding "
    "the current bar to avoid lookahead) and next-bar PnL (lead) are "
    "both window expressions, so an entire strategy evaluation is one "
    "scan + one per-series sort — no event loop. PnL sums exact "
    "integer micro-units; win counts are integers. The shape every "
    "signal-research pipeline runs at scale: N strategies x M series "
    "as one grouped aggregation.",
    tags=("timeseries", "window", "indicator", "backtest"),
)
def breakout_backtest_pnl(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _hourly_micro(spark, sf_dir)
    w_prior = _series_window().rowsBetween(-20, -1)
    w1 = _series_window()
    sig = base.select(
        "event_type", "candle_start", "c",
        F.when(F.max("h").over(w_prior) < F.col("c"), 1)
        .otherwise(0)
        .alias("long_signal"),
        (F.lead("c").over(w1) - F.col("c")).alias("next_ret"),
    )
    return sig.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_bars"),
        F.sum("long_signal").alias("n_signals"),
        (
            F.sum(
                F.when(
                    (F.col("long_signal") == 1)
                    & F.col("next_ret").isNotNull(),
                    F.col("next_ret"),
                ).otherwise(0)
            ).cast("double")
            / 1000000.0
        ).alias("total_pnl"),
        F.sum(
            F.when(
                (F.col("long_signal") == 1) & (F.col("next_ret") > 0), 1
            ).otherwise(0)
        ).alias("n_wins"),
    )


@register(
    "volume_profile_poc",
    oracle=f"""
    WITH ticks AS (
        SELECT event_type,
               {_bucket_sql('ts', 86400, 0)} AS day,
               CAST(round(value * 1000000) AS BIGINT) AS vm
        FROM events
    ),
    rng AS (
        SELECT event_type, day, vm,
               min(vm) OVER (PARTITION BY event_type, day) AS lo,
               max(vm) OVER (PARTITION BY event_type, day) AS hi
        FROM ticks
    ),
    binned AS (
        SELECT event_type, day,
               CAST((vm - lo) * 20 // (hi - lo + 1) AS BIGINT) AS bin,
               lo, hi
        FROM rng
    ),
    counts AS (
        SELECT event_type, day, lo, hi, bin,
               count(*) AS n
        FROM binned GROUP BY event_type, day, lo, hi, bin
    )
    SELECT event_type, day,
           CAST(max(n * 1000 + (999 - bin)) // 1000 AS BIGINT) AS poc_ticks,
           CAST(999 - max(n * 1000 + (999 - bin)) % 1000 AS BIGINT) AS poc_bin,
           CAST(count(*) AS BIGINT) AS n_bins_active,
           CAST(lo AS DOUBLE) / 1000000.0 AS day_low,
           CAST(hi AS DOUBLE) / 1000000.0 AS day_high
    FROM counts GROUP BY event_type, day, lo, hi
    """,
    doc="Volume profile point of control per series-day: prices bin "
    "into 20 integer buckets of the day's range (integer floor-div — "
    "no float bucketing drift), and the POC (busiest bucket) comes "
    "from ONE max() over a count*1000+(999-bin) encoding, ties "
    "breaking to the LOWEST bucket deterministically — the "
    "market-structure summary that needs no sort and reaggregates "
    "by simple max. Two shuffles total (day-range window, bin "
    "counts).",
    tags=("timeseries", "aggregation", "indicator"),
)
def volume_profile_poc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.candles import bucket

    ev = load(spark, sf_dir, "events")
    ticks = ev.select(
        "event_type",
        bucket(F.col("ts"), 86400).alias("day"),
        F.round(F.col("value") * 1000000).cast("bigint").alias("vm"),
    )
    wd = Window.partitionBy("event_type", "day")
    rng = ticks.select(
        "event_type", "day", "vm",
        F.min("vm").over(wd).alias("lo"),
        F.max("vm").over(wd).alias("hi"),
    )
    binned = rng.select(
        "event_type", "day", "lo", "hi",
        F.expr("CAST((vm - lo) * 20 div (hi - lo + 1) AS BIGINT)").alias("bin"),
    )
    counts = binned.groupBy("event_type", "day", "lo", "hi", "bin").agg(
        F.count(F.lit(1)).alias("n")
    )
    return counts.groupBy("event_type", "day", "lo", "hi").agg(
        F.expr("CAST(max(n * 1000 + (999 - bin)) div 1000 AS BIGINT)").alias("poc_ticks"),
        F.expr("CAST(999 - max(n * 1000 + (999 - bin)) % 1000 AS BIGINT)").alias("poc_bin"),
        F.count(F.lit(1)).alias("n_bins_active"),
    ).select(
        "event_type", "day", "poc_ticks", "poc_bin", "n_bins_active",
        (F.col("lo").cast("double") / 1000000.0).alias("day_low"),
        (F.col("hi").cast("double") / 1000000.0).alias("day_high"),
    )


@register(
    "cross_sectional_momentum_rank",
    oracle=f"""
    WITH {_HOURLY_MICRO_SQL},
    rets AS (
        SELECT event_type, candle_start,
               c - lag(c, 24) OVER (PARTITION BY event_type
                                    ORDER BY candle_start) AS r24
        FROM iv
    ),
    ranked AS (
        SELECT event_type, candle_start,
               rank() OVER (PARTITION BY candle_start
                            ORDER BY r24 DESC, event_type) AS mom_rank,
               count(*) OVER (PARTITION BY candle_start) AS n_series
        FROM rets WHERE r24 IS NOT NULL
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_obs,
           CAST(sum(mom_rank) AS DOUBLE) / count(*) AS avg_rank,
           CAST(sum(CASE WHEN mom_rank = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_times_leader
    FROM ranked GROUP BY event_type
    """,
    doc="Cross-sectional momentum ranking: at every candle the "
    "universe of series is ranked by trailing 24-bar return — the "
    "window partitions by TIME and orders across SERIES, the "
    "transposed axis from every other window here (relative-strength "
    "/ currency-strength construction). Returns are exact integer "
    "diffs, ranks are integers with an event_type tie-break, and the "
    "average rank is one unrounded division. At scale the per-time "
    "partitions are tiny (universe-sized) and uniformly distributed — "
    "the opposite skew profile of per-series windows.",
    tags=("timeseries", "window", "stats", "indicator"),
)
def cross_sectional_momentum_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _hourly_micro(spark, sf_dir)
    w_series = _series_window()
    rets = base.select(
        "event_type", "candle_start",
        (F.col("c") - F.lag("c", 24).over(w_series)).alias("r24"),
    ).filter(F.col("r24").isNotNull())
    w_time = Window.partitionBy("candle_start").orderBy(
        F.col("r24").desc(), "event_type"
    )
    ranked = rets.select(
        "event_type", "candle_start",
        F.rank().over(w_time).alias("mom_rank"),
    )
    return ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_obs"),
        (F.sum("mom_rank").cast("double") / F.count(F.lit(1))).alias("avg_rank"),
        F.sum(F.when(F.col("mom_rank") == 1, 1).otherwise(0)).alias(
            "n_times_leader"
        ),
    )


@register(
    "stochastic_rsi",
    oracle=f"""
    WITH {_HOURLY_MICRO_SQL},
    d AS (
        SELECT event_type, candle_start, c,
               c - lag(c) OVER (PARTITION BY event_type ORDER BY candle_start)
                   AS diff
        FROM iv
    ),
    gl AS (
        SELECT event_type, candle_start,
               sum(CASE WHEN diff > 0 THEN diff ELSE 0 END) OVER w AS g,
               sum(CASE WHEN diff < 0 THEN -diff ELSE 0 END) OVER w AS lo
        FROM d
        WINDOW w AS (PARTITION BY event_type ORDER BY candle_start
                     ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    ),
    rsi AS (
        SELECT event_type, candle_start,
               CASE WHEN g + lo > 0
                    THEN (200000000 * g + (g + lo)) // (2 * (g + lo))
                    END AS r6
        FROM gl
    ),
    ext AS (
        SELECT event_type, candle_start, r6,
               max(r6) OVER w AS rhi, min(r6) OVER w AS rlo
        FROM rsi
        WINDOW w AS (PARTITION BY event_type ORDER BY candle_start
                     ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, candle_start,
           CAST(r6 AS DOUBLE) / 1000000.0 AS rsi_14,
           CASE WHEN rhi > rlo
                THEN CAST((100000000 * (r6 - rlo)) // (rhi - rlo)
                          AS DOUBLE) / 1000000.0
                END AS stoch_rsi
    FROM ext
    """,
    doc="Stochastic RSI: the stochastic oscillator applied to the RSI "
    "series itself — a two-stage window composition (gain/loss sums → "
    "integer RSI → rolling RSI extrema → scaled position). Because "
    "the inner RSI is already an exact scaled integer (the Cutler "
    "floor-div form), the outer %K is one more integer floor-division "
    "— the whole two-level indicator never touches inexact "
    "arithmetic. Three window frames, one per-series sort.",
    tags=("timeseries", "window", "indicator"),
)
def stochastic_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    w14 = _series_window().rowsBetween(-13, 0)
    gl = _gain_loss_14(_hourly_micro(spark, sf_dir))
    rsi = gl.select(
        "event_type", "candle_start",
        F.expr(
            "CASE WHEN g + lo > 0 THEN"
            " (200000000 * g + (g + lo)) div (2 * (g + lo)) END"
        ).alias("r6"),
    )
    ext = rsi.select(
        "event_type", "candle_start", "r6",
        F.max("r6").over(w14).alias("rhi"),
        F.min("r6").over(w14).alias("rlo"),
    )
    return ext.select(
        "event_type", "candle_start",
        (F.col("r6").cast("double") / 1000000.0).alias("rsi_14"),
        F.expr(
            "CASE WHEN rhi > rlo THEN"
            " CAST((100000000 * (r6 - rlo)) div (rhi - rlo)"
            " AS DOUBLE) / 1000000.0 END"
        ).alias("stoch_rsi"),
    )


@register(
    "chandelier_exit",
    oracle=f"""
    WITH {_HOURLY_MICRO_SQL},
    tr AS (
        SELECT event_type, candle_start, h, l,
               CASE WHEN pc IS NULL THEN h - l
                    ELSE greatest(h - l, abs(h - pc), abs(l - pc)) END AS t
        FROM (
            SELECT event_type, candle_start, h, l,
                   lag(c) OVER (PARTITION BY event_type
                                ORDER BY candle_start) AS pc
            FROM iv
        )
    )
    SELECT event_type, candle_start,
           CAST(max(h) OVER w AS DOUBLE) / 1000000.0
               - 3.0 * (CAST(sum(t) OVER w AS DOUBLE)
                        / (1000000.0 * count(*) OVER w)) AS chandelier_long,
           CAST(min(l) OVER w AS DOUBLE) / 1000000.0
               + 3.0 * (CAST(sum(t) OVER w AS DOUBLE)
                        / (1000000.0 * count(*) OVER w)) AS chandelier_short
    FROM tr
    WINDOW w AS (PARTITION BY event_type ORDER BY candle_start
                 ROWS BETWEEN 21 PRECEDING AND CURRENT ROW)
    """,
    doc="Chandelier Exit (22-bar, 3x ATR): trailing-stop levels hung "
    "from the rolling extreme minus/plus an ATR multiple. Every term "
    "is an identical IEEE expression over exact integer window sums "
    "(extrema, TR sums, counts) — unrounded, bit-equal on both "
    "engines. One frame feeds all four window aggregates over a "
    "single per-series sort.",
    tags=("timeseries", "window", "indicator"),
)
def chandelier_exit(spark: SparkSession, sf_dir: str) -> DataFrame:
    w22 = _series_window().rowsBetween(-21, 0)
    tr = _true_range(_hourly_micro(spark, sf_dir))
    atr = F.sum("t").over(w22).cast("double") / (
        F.lit(1000000.0) * F.count(F.lit(1)).over(w22)
    )
    return tr.select(
        "event_type", "candle_start",
        (F.max("h").over(w22).cast("double") / 1000000.0 - F.lit(3.0) * atr).alias(
            "chandelier_long"
        ),
        (F.min("l").over(w22).cast("double") / 1000000.0 + F.lit(3.0) * atr).alias(
            "chandelier_short"
        ),
    )


@register(
    "williams_percent_r",
    oracle=f"""
    WITH {_HOURLY_MICRO_SQL},
    hl AS (
        SELECT event_type, candle_start, c,
               max(h) OVER w AS hh, min(l) OVER w AS ll
        FROM iv
        WINDOW w AS (PARTITION BY event_type ORDER BY candle_start
                     ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, candle_start,
           CASE WHEN hh > ll
                THEN -(CAST((100000000 * (hh - c)) // (hh - ll)
                            AS DOUBLE) / 1000000.0)
                END AS willr_14
    FROM hl
    """,
    doc="Williams %R (14): the inverted stochastic — position of the "
    "close inside the rolling high-low range on the -100..0 scale. "
    "Numerator and denominator are non-negative exact integers, the "
    "floor-division happens before the sign flip so both engines "
    "truncate identically, and the final negate+divide is exact. "
    "Completes the classic oscillator set alongside stochastic %K/%D, "
    "RSI, and StochRSI.",
    tags=("timeseries", "window", "indicator"),
)
def williams_percent_r(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _hourly_micro(spark, sf_dir)
    w14 = _series_window().rowsBetween(-13, 0)
    hl = base.select(
        "event_type", "candle_start", "c",
        F.max("h").over(w14).alias("hh"),
        F.min("l").over(w14).alias("ll"),
    )
    return hl.select(
        "event_type", "candle_start",
        F.expr(
            "CASE WHEN hh > ll THEN"
            " -(CAST((100000000 * (hh - c)) div (hh - ll)"
            " AS DOUBLE) / 1000000.0) END"
        ).alias("willr_14"),
    )



@register(
    "holt_winters_des",
    oracle=f"""
    WITH RECURSIVE candles AS (
        SELECT {_bucket_sql('ts', 3600, 0)} AS candle_start,
               event_type,
               arg_max(value, ts) AS v
        FROM events
        GROUP BY 1, 2
    ),
    base AS (
        SELECT event_type, candle_start, v,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY candle_start) AS rn
        FROM candles
    ),
    r AS (
        SELECT event_type, candle_start, rn, v,
               v AS lvl, CAST(0.0 AS DOUBLE) AS tr,
               CAST(0.0 AS DOUBLE) AS err
        FROM base WHERE rn = 1
        UNION ALL
        SELECT b.event_type, b.candle_start, b.rn, b.v,
               0.5 * b.v + 0.5 * (r.lvl + r.tr),
               0.3 * ((0.5 * b.v + 0.5 * (r.lvl + r.tr)) - r.lvl)
                   + 0.7 * r.tr,
               b.v - (r.lvl + r.tr)
        FROM base b JOIN r
          ON b.event_type = r.event_type AND b.rn = r.rn + 1
    )
    SELECT event_type, candle_start,
           lvl AS hw_level, tr AS hw_trend, err AS forecast_err
    FROM r
    """,
    doc="Holt double exponential smoothing (level + trend) per series "
    "over hourly closes, with the one-step-ahead forecast error — the "
    "classic trend-following smoother (and the residual a forecasting "
    "mart monitors). Like ewma_macd the recursion l' = a*v+(1-a)(l+b), "
    "b' = g*(l'-l)+(1-g)*b is inherently sequential per series, so it "
    "runs as an Arrow-batched applyInPandas kernel (state inside one "
    "partition per series; parallelism across series — the wide "
    "dimension at scale). Oracle: DuckDB RECURSIVE CTE executing the "
    "bit-identical IEEE-754 op sequence (identical literals 0.5/0.3/"
    "0.7 on both engines — NOT 1-a, whose double differs from the "
    "0.7 literal), so the strict hash matches with no rounding slack.",
    tags=("timeseries", "window", "indicator", "udf"),
)
def holt_winters_des(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from pyspark.sql import types as T

    candles = _hourly_close(spark, sf_dir)

    schema = T.StructType([
        T.StructField("event_type", T.StringType()),
        T.StructField("candle_start", T.TimestampNTZType()),
        T.StructField("hw_level", T.DoubleType()),
        T.StructField("hw_trend", T.DoubleType()),
        T.StructField("forecast_err", T.DoubleType()),
    ])

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("candle_start").reset_index(drop=True)
        lvl = tr = 0.0
        out_l, out_t, out_e = [], [], []
        for i, v in enumerate(pdf["v"].tolist()):
            if i == 0:
                lvl, tr, err = v, 0.0, 0.0
            else:
                f = lvl + tr
                new_l = 0.5 * v + 0.5 * f
                tr = 0.3 * (new_l - lvl) + 0.7 * tr
                err = v - f
                lvl = new_l
            out_l.append(lvl)
            out_t.append(tr)
            out_e.append(err)
        return pd.DataFrame({
            "event_type": pdf["event_type"],
            "candle_start": pdf["candle_start"],
            "hw_level": out_l,
            "hw_trend": out_t,
            "forecast_err": out_e,
        })

    return candles.groupBy("event_type").applyInPandas(kernel, schema)
