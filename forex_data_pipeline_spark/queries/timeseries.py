"""Time-series queries: the reference pipeline's semantics re-expressed
on the synthetic ``events`` table (event_type plays the role of symbol,
value the role of price).

Each query has a DuckDB oracle. Determinism notes:
- bucket starts are pure integer epoch arithmetic → exact on both engines;
- OHLC aggs are min/max/arg_min/arg_max of untouched doubles → exact;
- window indicators (avg) are rounded to 6 dp on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import register
from ..operators import dedup
from ..operators.candles import (
    REFERENCE_TIMEFRAMES,
    multi_timeframe_ohlc,
    ohlc_window,
)
from ..operators.indicators import sma_sql, with_indicators
from ..operators.quality import (
    accepted_values_violations,
    not_null_violations,
    unique_violations,
)
from ..tables import load

# ---------------------------------------------------------------- helpers

def _bucket_sql(ts: str, dur: int, shift: int) -> str:
    """DuckDB SQL mirror of operators.candles.bucket (exact int math)."""
    return (
        f"make_timestamp(CAST(floor((floor(epoch({ts})) + {shift}) / {dur})"
        f" * {dur} - {shift} AS BIGINT) * 1000000)"
    )


_OHLC_AGG_SQL = """
        arg_min(value, ts) AS open_value,
        max(value) AS high_value,
        min(value) AS low_value,
        arg_max(value, ts) AS close_value,
        count(*) AS n_ticks
"""


# ---------------------------------------------------------------- queries

@register(
    "candles_5m",
    oracle=f"""
    SELECT {_bucket_sql('ts', 300, 0)} AS candle_start,
           event_type,
           {_OHLC_AGG_SQL}
    FROM events
    GROUP BY 1, 2
    """,
    doc="Flagship: 5-minute OHLC candles per event_type via F.window "
    "(reference mart's core semantic, fct_eurusd_timeframes.sql:40-71).",
    tags=("timeseries", "aggregation", "flagship"),
)
def candles_5m(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    out = ohlc_window(ev, "ts", "value", ["event_type"], duration="5 minutes")
    return out.select(
        "candle_start", "event_type", "open_value", "high_value",
        "low_value", "close_value", "n_ticks",
    )


def _multi_tf_oracle() -> str:
    """Generate the reference-shaped 7-branch UNION ALL oracle
    (fct_eurusd_timeframes.sql:40-57) from the same timeframe spec the
    Spark side uses — one source of truth for bucket math."""
    branches = []
    for tf in REFERENCE_TIMEFRAMES:
        branches.append(
            f"""
    SELECT '{tf.name}' AS timeframe,
           {_bucket_sql('ts', tf.seconds, tf.shift_seconds)} AS candle_start,
           event_type,
           {_OHLC_AGG_SQL}
    FROM events
    GROUP BY 1, 2, 3"""
        )
    return "\nUNION ALL\n".join(branches)


@register(
    "candles_multi_tf",
    oracle=_multi_tf_oracle(),
    doc="All 7 reference timeframes (5m..24h, +2h NY-close shift on "
    "intraday) in ONE scan via explode — vs the reference's 7-way UNION "
    "ALL (fct:40-57). Oracle deliberately uses the 7-branch shape.",
    tags=("timeseries", "aggregation", "set-ops"),
)
def candles_multi_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    out = multi_timeframe_ohlc(ev, "ts", "value", ["event_type"])
    return out.select(
        "timeframe", "candle_start", "event_type", "open_value",
        "high_value", "low_value", "close_value", "n_ticks",
    )


@register(
    "candle_indicators",
    oracle=f"""
    WITH candles AS (
        SELECT {_bucket_sql('ts', 3600, 7200)} AS candle_start,
               event_type,
               {_OHLC_AGG_SQL}
        FROM events
        GROUP BY 1, 2
    )
    SELECT candle_start, event_type, open_value, high_value, low_value,
           close_value, n_ticks,
           close_value - lag(close_value) OVER w AS price_diff,
           {sma_sql("close_value", 20, "w")} AS sma_20,
           {sma_sql("close_value", 50, "w")} AS sma_50
    FROM candles
    WINDOW w AS (PARTITION BY event_type ORDER BY candle_start)
    """,
    doc="1h candles + lag price_diff + SMA-20/50 over one shared Window "
    "spec (reference indicators CTE, fct:73-80). One shuffle for all "
    "three indicators.",
    tags=("timeseries", "window"),
)
def candle_indicators(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    candles = multi_timeframe_ohlc(
        ev, "ts", "value", ["event_type"],
        timeframes=[tf for tf in REFERENCE_TIMEFRAMES if tf.name == "1h"],
    ).drop("timeframe")
    return with_indicators(candles, ["event_type"]).select(
        "candle_start", "event_type", "open_value", "high_value",
        "low_value", "close_value", "n_ticks", "price_diff", "sma_20",
        "sma_50",
    )


@register(
    "dedup_exact",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    doc="D1 exact dedup (reference: pandas drop_duplicates, "
    "extract_forex.py:127-131) as dropDuplicates on a projection.",
    tags=("dedup",),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return dedup.exact(ev.select("user_id", "event_type"))


@register(
    "dedup_keyed_latest",
    oracle="""
    SELECT event_id, user_id, event_type, ts, value
    FROM events
    QUALIFY row_number() OVER (
        PARTITION BY user_id, event_type
        ORDER BY ts DESC, event_id DESC) = 1
    """,
    doc="D2 QUALIFY-style keyed dedup (stg_eurusd.sql:36-39): latest "
    "event per (user_id, event_type), deterministic tie-break on "
    "event_id.",
    tags=("dedup", "window"),
)
def dedup_keyed_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    out = dedup.keyed_latest(
        ev,
        ["user_id", "event_type"],
        [F.col("ts").desc(), F.col("event_id").desc()],
    )
    return out.select("event_id", "user_id", "event_type", "ts", "value")


@register(
    "watermark_incremental_filter",
    oracle="""
    SELECT event_id, ts, event_type, value
    FROM events
    WHERE ts > (SELECT max(ts) - INTERVAL 7 DAY FROM events)
    """,
    doc="P3/P4 incremental high-watermark + lookback filter "
    "(stg_eurusd.sql:18-21, fct:25-29): scalar max() collected on the "
    "driver, then a partition-prunable predicate.",
    tags=("filter", "incremental"),
)
def watermark_incremental_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    # Reference pattern: the scalar subquery runs first, its result is a
    # literal in the main scan's predicate → parquet min/max + partition
    # pruning both apply (SURVEY §2.2 P3).
    wm = ev.agg(F.max("ts")).first()[0]
    return ev.filter(
        F.col("ts") > F.lit(wm) - F.expr("INTERVAL 7 DAYS")
    ).select("event_id", "ts", "event_type", "value")


@register(
    "quality_checks",
    oracle="""
    WITH candles AS (
        SELECT 'g' AS tf_tag, event_type,
               {b} AS candle_start, count(*) AS n_ticks
        FROM events GROUP BY 1, 2, 3
    )
    SELECT 'unique_key' AS check_name,
           (SELECT count(*) FROM (
               SELECT event_type, candle_start FROM candles
               GROUP BY 1, 2 HAVING count(*) > 1)) AS n_violations
    UNION ALL
    SELECT 'not_null_candle_start',
           (SELECT count(*) FROM candles WHERE candle_start IS NULL)
    UNION ALL
    SELECT 'accepted_values_event_type',
           (SELECT count(*) FROM candles WHERE event_type NOT IN
               ('signup','click','error','view','purchase')
               OR event_type IS NULL)
    """.format(b=_bucket_sql("ts", 3600, 0)),
    doc="Q1-Q3 dbt-test equivalents (marts_eurusd.yml:1-21) evaluated "
    "over hourly candles; each row is one check with its violation "
    "count (0 = contract holds).",
    tags=("quality",),
)
def quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    candles = ohlc_window(ev, "ts", "value", ["event_type"], duration="1 hour")
    uniq = unique_violations(candles, ["event_type", "candle_start"])
    nn = not_null_violations(candles, "candle_start")
    acc = accepted_values_violations(
        candles, "event_type", ["signup", "click", "error", "view", "purchase"]
    )

    def _one(name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(name).alias("check_name"),
            F.count(F.lit(1)).alias("n_violations"),
        )

    return (
        _one("unique_key", uniq)
        .unionByName(_one("not_null_candle_start", nn))
        .unionByName(_one("accepted_values_event_type", acc))
    )


@register(
    "sliding_window_counts",
    oracle=f"""
    SELECT make_timestamp(CAST(floor(floor(epoch(ts)) / 300) * 300 - off
               AS BIGINT) * 1000000) AS window_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           min(value) AS min_value,
           max(value) AS max_value
    FROM events
    CROSS JOIN (SELECT unnest([0, 300, 600]) AS off)
    GROUP BY 1, 2
    """,
    doc="Hopping windows (15 min length, 5 min slide): each event lands "
    "in 3 overlapping windows — batch twin of the Structured "
    "Streaming sliding window (same F.window call works under "
    "readStream). Spark expands the window list map-side then "
    "hash-aggregates: one shuffle, fan-out ×(len/slide), the "
    "standard alerting/rate-monitoring shape.",
    tags=("timeseries", "aggregation", "streaming"),
)
def sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    win = F.window("ts", "15 minutes", "5 minutes")
    return (
        ev.groupBy(win.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type", "n_events", "min_value", "max_value",
        )
    )


@register(
    "candles_gap_fill",
    oracle=f"""
    WITH candles AS (
        SELECT {_bucket_sql('ts', 3600, 0)} AS candle_start, event_type,
               arg_max(value, ts) AS close_value, count(*) AS n_ticks
        FROM events GROUP BY 1, 2
    ),
    bounds AS (
        SELECT event_type, min(candle_start) AS lo, max(candle_start) AS hi
        FROM candles GROUP BY event_type
    ),
    grid AS (
        SELECT event_type,
               unnest(generate_series(lo, hi, INTERVAL 1 HOUR))
                   AS candle_start
        FROM bounds
    )
    SELECT g.event_type, g.candle_start,
           CAST(c.candle_start IS NULL AS BOOLEAN) AS is_gap,
           coalesce(c.n_ticks, 0) AS n_ticks,
           last_value(c.close_value IGNORE NULLS) OVER (
               PARTITION BY g.event_type ORDER BY g.candle_start
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS close_ffill
    FROM grid g LEFT JOIN candles c
      ON c.event_type = g.event_type AND c.candle_start = g.candle_start
    """,
    doc="Gap filling + forward fill: build the dense per-series hour "
    "grid with sequence()+explode (no driver loop), left-join real "
    "candles, carry close_value forward with last(ignorenulls) — the "
    "resample→ffill of time-series libraries, expressed as one "
    "partition-parallel plan. Grid size is bounded by span/step per "
    "series, independent of tick count.",
    tags=("timeseries", "window"),
)
def candles_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load(spark, sf_dir, "events")
    candles = ohlc_window(ev, "ts", "value", ["event_type"], duration="1 hour")
    candles = candles.select("event_type", "candle_start", "close_value", "n_ticks")
    grid = (
        candles.groupBy("event_type")
        .agg(
            F.min("candle_start").alias("lo"),
            F.max("candle_start").alias("hi"),
        )
        .select(
            "event_type",
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
            ).alias("candle_start"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("candle_start")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    joined = grid.join(candles, ["event_type", "candle_start"], "left")
    return joined.select(
        "event_type",
        "candle_start",
        F.col("n_ticks").isNull().alias("is_gap"),
        F.coalesce("n_ticks", F.lit(0)).alias("n_ticks"),
        F.last("close_value", ignorenulls=True).over(w).alias("close_ffill"),
    )


@register(
    "batch_sessionization",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_type,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                    THEN 1 ELSE 0 END AS is_new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_type)
    ),
    sessions AS (
        SELECT user_id, ts, event_type,
               sum(is_new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_type
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_seq
        FROM flagged
    )
    SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           min(ts) AS session_start, max(ts) AS session_end,
           CAST(count(*) AS BIGINT) AS n_events
    FROM sessions
    GROUP BY user_id, session_seq
    """,
    doc="Batch sessionization (gap > 30 min starts a session): "
    "lag-gap flag → running sum = session sequence → per-session "
    "rollup. The batch twin of the streaming session_window query — "
    "one shuffle on user_id drives all three steps (window, window, "
    "groupBy share the partitioning). Pure integer epoch math.",
    tags=("timeseries", "window", "aggregation"),
)
def batch_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    from ..operators.candles import epoch_seconds

    w = Window.partitionBy("user_id").orderBy("ts", "event_type")
    e = epoch_seconds(F.col("ts"))
    gap = e - F.lag(e).over(w)
    flagged = ev.withColumn(
        "is_new_session",
        F.when(gap.isNull() | (gap > 1800), 1).otherwise(0),
    )
    run = Window.partitionBy("user_id").orderBy("ts", "event_type").rowsBetween(
        Window.unboundedPreceding, 0
    )
    sess = flagged.withColumn(
        "session_seq", F.sum("is_new_session").over(run).cast("bigint")
    )
    return sess.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    )


def _minmax_norm_pdf(pdf):
    lo, hi = pdf["value"].min(), pdf["value"].max()
    span = hi - lo
    out = pdf[["event_id", "event_type"]].copy()
    # no .round(6): numpy rounds half-even while SQL round() rounds
    # half-away — on an exact tie they diverge. The unrounded quotient
    # is the identical IEEE expression the oracle computes.
    out["value_norm"] = (
        ((pdf["value"] - lo) / span) if span > 0 else 0.0
    )
    return out


@register(
    "grouped_minmax_norm",
    oracle="""
    SELECT event_id, event_type,
           (value - min(value) OVER (PARTITION BY event_type))
                 / (max(value) OVER (PARTITION BY event_type)
                    - min(value) OVER (PARTITION BY event_type))
               AS value_norm
    FROM events
    """,
    doc="Grouped-map Pandas UDF (applyInPandas): per-series min-max "
    "normalization computed vectorized per group — the per-group "
    "feature-engineering shape (fit a scaler per key). min/max are "
    "order-independent, so the normalized value is the identical IEEE "
    "expression in both engines. At 100 TB each group must fit one "
    "executor's memory — the documented applyInPandas contract; for "
    "unbounded groups use the window formulation the oracle shows.",
    tags=("llm", "udf", "window"),
)
def grouped_minmax_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    return ev.groupBy("event_type").applyInPandas(
        _minmax_norm_pdf,
        "event_id bigint, event_type string, value_norm double",
    )


@register(
    "bollinger_bands",
    oracle=f"""
    WITH candles AS (
        SELECT {_bucket_sql('ts', 3600, 0)} AS candle_start, event_type,
               arg_max(value, ts) AS close_value
        FROM events GROUP BY 1, 2
    ),
    iv AS (
        SELECT *, CAST(floor(close_value * 1000000.0) AS BIGINT) AS v
        FROM candles
    ),
    sums AS (
        SELECT event_type, candle_start, close_value,
               sum(v) OVER w AS s1, sum(v * v) OVER w AS s2,
               count(*) OVER w AS n
        FROM iv
        WINDOW w AS (PARTITION BY event_type ORDER BY candle_start
                     ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, candle_start, close_value,
           CAST(s1 AS DOUBLE) / (1000000.0 * n) AS bb_mid,
           CAST(s1 AS DOUBLE) / (1000000.0 * n)
                 + 2 * sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE))
                   / (1000000.0 * n) AS bb_upper,
           CAST(s1 AS DOUBLE) / (1000000.0 * n)
                 - 2 * sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE))
                   / (1000000.0 * n) AS bb_lower
    FROM sums
    """,
    doc="Bollinger bands (SMA-20 ± 2σ): the windowed variance comes "
    "from EXACT integer sums (Σv, Σv² in micro-units — population "
    "form n·Σv²−(Σv)² stays within int64), so mid/σ are "
    "order-independent and bit-identical at any parallelism — a "
    "naive stddev() over doubles would be summation-order-dependent "
    "and unreproducible on a cluster. One shuffle for both moments.",
    tags=("timeseries", "window"),
)
def bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load(spark, sf_dir, "events")
    candles = ohlc_window(
        ev, "ts", "value", ["event_type"], duration="1 hour"
    ).select("event_type", "candle_start", "close_value")
    v = F.floor(F.col("close_value") * 1000000.0).cast("long")
    w = (
        Window.partitionBy("event_type")
        .orderBy("candle_start")
        .rowsBetween(-19, 0)
    )
    with_sums = candles.select(
        "event_type", "candle_start", "close_value",
        F.sum(v).over(w).alias("s1"),
        F.sum(v * v).over(w).alias("s2"),
        F.count(F.lit(1)).over(w).alias("n"),
    )
    mid = F.col("s1").cast("double") / (1000000.0 * F.col("n"))
    sigma = F.sqrt(
        (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")).cast("double")
    ) / (1000000.0 * F.col("n"))
    # no round(): every term is an identical IEEE expression over exact
    # integers on both engines (division and sqrt are correctly rounded
    # per IEEE-754), so the doubles are bit-equal — whereas round()'s
    # tie-break differs across engines (BigDecimal HALF_UP vs
    # std::round) and WOULD diverge on exact 6-dp ties like odd/2.
    return with_sums.select(
        "event_type", "candle_start", "close_value",
        mid.alias("bb_mid"),
        (mid + 2 * sigma).alias("bb_upper"),
        (mid - 2 * sigma).alias("bb_lower"),
    )


@register(
    "vwap_daily",
    oracle=f"""
    WITH candles AS (
        SELECT {_bucket_sql('ts', 3600, 0)} AS candle_start, event_type,
               arg_max(value, ts) AS close_value, count(*) AS n_ticks
        FROM events GROUP BY 1, 2
    )
    SELECT CAST(date_trunc('day', candle_start) AS TIMESTAMP) AS day,
           event_type,
           CAST(sum(CAST(floor(close_value * 1000000.0) AS BIGINT)
                    * n_ticks) AS DOUBLE)
               / (1000000.0 * sum(n_ticks)) AS vwap,
           CAST(sum(n_ticks) AS BIGINT) AS total_ticks
    FROM candles
    GROUP BY 1, 2
    """,
    doc="Daily VWAP (tick-count-weighted close) per series: weighted "
    "sums in exact integer micro-units — Σ(v·w) and Σw are bigint, "
    "one final division — order-independent, reaggregable (daily "
    "VWAPs roll up to weekly exactly). Two cascading aggs, both with "
    "map-side partials.",
    tags=("timeseries", "aggregation"),
)
def vwap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    candles = ohlc_window(
        ev, "ts", "value", ["event_type"], duration="1 hour"
    ).select("event_type", "candle_start", "close_value", "n_ticks")
    v = F.floor(F.col("close_value") * 1000000.0).cast("long")
    return (
        candles.groupBy(
            F.date_trunc("day", "candle_start").cast("timestamp_ntz").alias("day"),
            "event_type",
        )
        .agg(
            (
                F.sum(v * F.col("n_ticks")).cast("double")
                / (1000000.0 * F.sum("n_ticks"))
            ).alias("vwap"),
            F.sum("n_ticks").alias("total_ticks"),
        )
    )


# ------------------------------------------------------ product analytics

@register(
    "cohort_retention",
    oracle="""
    WITH firsts AS (
        SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
        FROM events GROUP BY user_id
    )
    SELECT CAST(cohort_day AS VARCHAR) AS cohort_day,
           CAST(datediff('day', cohort_day, CAST(e.ts AS DATE)) AS BIGINT)
               AS day_offset,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_active
    FROM events e JOIN firsts f ON e.user_id = f.user_id
    GROUP BY cohort_day, day_offset
    """,
    doc="Cohort retention: users grouped by first-seen day, activity "
    "counted per (cohort, day-offset) — the training-data freshness / "
    "engagement matrix. The firsts table is user-cardinality (tiny "
    "next to the event log), so it BROADCASTS and the 100-TB event "
    "scan never reshuffles on user_id for the join; the one wide "
    "shuffle is the final distinct-count keyed by (cohort, offset).",
    tags=("timeseries", "join", "aggregation"),
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("cohort_day")
    )
    return (
        ev.join(F.broadcast(firsts), "user_id")
        .groupBy(
            F.col("cohort_day").cast("string").alias("cohort_day"),
            F.datediff(F.col("ts").cast("date"), F.col("cohort_day"))
            .cast("bigint")
            .alias("day_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_active"))
    )


@register(
    "funnel_conversion",
    oracle="""
    WITH u AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
               min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
               min(CASE WHEN event_type = 'purchase' THEN ts END)
                   AS t_purchase
        FROM events GROUP BY user_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(count(*) FILTER (WHERE t_view IS NOT NULL) AS BIGINT)
               AS n_view,
           CAST(count(*) FILTER (WHERE t_view IS NOT NULL
                                   AND t_click > t_view) AS BIGINT)
               AS n_view_then_click,
           CAST(count(*) FILTER (WHERE t_view IS NOT NULL
                                   AND t_click > t_view
                                   AND t_purchase > t_click) AS BIGINT)
               AS n_full_funnel
    FROM u
    """,
    doc="Ordered funnel (view → click → purchase): per-user first-touch "
    "timestamps via conditional MIN — ONE pass over the event log, "
    "one user-keyed shuffle — then ordered-stage predicates and a "
    "single-row conversion summary. The classic alternative "
    "(N self-joins of the event log) is N scans and N shuffles; "
    "conditional aggregation makes funnel depth free.",
    tags=("timeseries", "aggregation"),
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")

    def first_ts(t: str):
        return F.min(
            F.when(F.col("event_type") == t, F.col("ts"))
        ).alias(f"t_{t}")

    u = ev.groupBy("user_id").agg(
        first_ts("view"), first_ts("click"), first_ts("purchase")
    )
    t_v, t_c, t_p = F.col("t_view"), F.col("t_click"), F.col("t_purchase")
    return u.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count_if(t_v.isNotNull()).alias("n_view"),
        F.count_if(t_v.isNotNull() & (t_c > t_v)).alias("n_view_then_click"),
        F.count_if(
            t_v.isNotNull() & (t_c > t_v) & (t_p > t_c)
        ).alias("n_full_funnel"),
    )


@register(
    "ts_similarity_pairs",
    oracle="""
    WITH sparse AS (
        SELECT event_type,
               CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
               extract(hour FROM ts) AS hr,
               sum(CAST(round(value * 1000000) AS BIGINT)) AS v_micro
        FROM events
        GROUP BY 1, 2, 3
    ),
    hourly AS (
        SELECT sd.event_type, sd.day, h.hr,
               coalesce(s.v_micro, 0) AS v_micro
        FROM (SELECT DISTINCT event_type, day FROM sparse) sd
        CROSS JOIN (SELECT unnest(generate_series(0, 23)) AS hr) h
        LEFT JOIN sparse s
          ON s.event_type = sd.event_type AND s.day = sd.day
         AND s.hr = h.hr
    ),
    dist AS (
        SELECT a.event_type AS a_type, a.day AS a_day,
               b.event_type AS b_type, b.day AS b_day,
               sum((a.v_micro - b.v_micro) * (a.v_micro - b.v_micro))
                   AS dist2,
               count(*) AS n_hours
        FROM hourly a JOIN hourly b
          ON a.hr = b.hr
         AND (a.event_type < b.event_type
              OR (a.event_type = b.event_type AND a.day < b.day))
        GROUP BY 1, 2, 3, 4
    )
    SELECT a_type, a_day, b_type, b_day,
           CAST(dist2 AS DOUBLE) AS dist2_micro,
           CAST(n_hours AS BIGINT) AS n_hours
    FROM (SELECT *, row_number() OVER (
              ORDER BY dist2, a_type, a_day, b_type, b_day) AS rn
          FROM dist WHERE n_hours = 24)
    WHERE rn <= 5
    """,
    doc="Time-series similarity search (EDBT'19/SIGMOD'20 family): each "
    "(series, day) becomes a DENSE 24-point hourly profile (hours with "
    "no events densified to 0 via a constant 24-row hour spine — an "
    "earlier revision required 24 OBSERVED hours per profile, which no "
    "sf0.001 profile satisfies, leaving the oracle vacuously green); "
    "pairwise Euclidean distance is an hour-keyed equi-join + grouped "
    "sum of squared diffs in EXACT integer micro-units folded as "
    "DECIMAL(38,0) (squared hourly sums overflow int64 at sf0.1; "
    "DuckDB's BIGINT sum promotes to HUGEINT identically — "
    "order-independent, no float summation drift); top-5 closest "
    "pairs with a total tie-break. Profiles are day-aggregated first "
    "(the event scan collapses ~3 orders of magnitude before any "
    "pairing). At large series counts the all-pairs stage swaps for "
    "the LSH/IVF blocking of ann_lsh_topk/ann_ivf_topk — same "
    "distance kernel.",
    tags=("timeseries", "similarity", "join", "topk"),
)
def ts_similarity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    sparse = ev.groupBy(
        "event_type",
        F.col("ts").cast("date").cast("string").alias("day"),
        F.hour("ts").alias("hr"),
    ).agg(
        F.sum(F.round(F.col("value") * 1000000).cast("bigint")).alias(
            "v_micro"
        )
    )
    # densify: every (series, day) profile gets all 24 hour slots,
    # absent hours as 0 — the spine crossJoin is a constant 24-row
    # broadcast, so the profile table stays series-day x 24 sized
    spine = spark.range(24).select(F.col("id").cast("int").alias("hr"))
    hourly = (
        sparse.select("event_type", "day")
        .distinct()
        .crossJoin(F.broadcast(spine))
        .join(sparse, ["event_type", "day", "hr"], "left")
        .select(
            "event_type", "day", "hr",
            F.coalesce(F.col("v_micro"), F.lit(0)).alias("v_micro"),
        )
    )
    a = hourly.select(
        F.col("event_type").alias("a_type"), F.col("day").alias("a_day"),
        "hr", F.col("v_micro").alias("a_v"),
    )
    b = hourly.select(
        F.col("event_type").alias("b_type"), F.col("day").alias("b_day"),
        "hr", F.col("v_micro").alias("b_v"),
    )
    # squared micro-unit diffs overflow int64 at sf0.1 (hourly sums
    # reach ~1e12 micro; (1e12)^2 >> 2^63) — fold in DECIMAL(38,0)
    # (exact, order-independent; DuckDB's BIGINT sum promotes to
    # HUGEINT the same way) and emit as double
    d = (F.col("a_v") - F.col("b_v")).cast("decimal(38,0)")
    dist = (
        a.join(b, "hr")
        .filter(
            (F.col("a_type") < F.col("b_type"))
            | (
                (F.col("a_type") == F.col("b_type"))
                & (F.col("a_day") < F.col("b_day"))
            )
        )
        .groupBy("a_type", "a_day", "b_type", "b_day")
        .agg(
            F.sum(d * d).alias("_dist2"),
            F.count(F.lit(1)).alias("n_hours"),
        )
        .filter(F.col("n_hours") == 24)
    )
    w = Window.orderBy(
        "_dist2", "a_type", "a_day", "b_type", "b_day"
    )
    return (
        dist.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select(
            "a_type", "a_day", "b_type", "b_day",
            F.col("_dist2").cast("double").alias("dist2_micro"),
            "n_hours",
        )
    )


@register(
    "zscore_anomaly_days",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
               sum(CAST(round(value * 1000) AS BIGINT)) AS v_milli
        FROM events GROUP BY 1, 2
    ),
    stats AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               sum(v_milli) AS s,
               sum(v_milli * v_milli) AS ss
        FROM daily GROUP BY event_type
    )
    SELECT d.event_type, d.day,
           CAST(d.v_milli AS BIGINT) AS v_milli,
           (d.v_milli - CAST(s AS DOUBLE) / n)
               / sqrt(CAST(n * ss - s * s AS DOUBLE) / (n * n)) AS z
    FROM daily d JOIN stats USING (event_type)
    WHERE abs((d.v_milli - CAST(s AS DOUBLE) / n)
              / sqrt(CAST(n * ss - s * s AS DOUBLE) / (n * n))) > 1.5
    """,
    doc="Z-score anomaly detection on daily per-series volume: "
    "population mean/stddev assembled from EXACT long sums (milli "
    "units; n, Σx, Σx² — the re-aggregable moment triple), then one "
    "deterministic double expression per day, flagging |z| > 1.5. "
    "The per-series stats table is series-cardinality → broadcast "
    "back onto the daily table; one event-scan shuffle total. The "
    "monitoring primitive for feed outages and volume spikes "
    "(the reference has no alerting at all — daily_run.yml only "
    "fails the workflow).",
    tags=("timeseries", "stats", "aggregation"),
)
def zscore_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.col("ts").cast("date").cast("string").alias("day"),
    ).agg(
        F.sum(F.round(F.col("value") * 1000).cast("bigint")).alias(
            "v_milli"
        )
    )
    v = F.col("v_milli")
    # Σx² and the n·Σx² − (Σx)² determinant overflow BIGINT once daily
    # volumes carry 10× the rows (first seen at the sf1 rehearsal:
    # Σv² ≈ 1.3e19 > 2^63). DECIMAL(38,0) keeps the moments exact —
    # the same headroom DuckDB gets for free from HUGEINT sums — and
    # both engines cast the identical integer to double at the end.
    vd = v.cast("decimal(38,0)")
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v).alias("s"),
        F.sum(vd * vd).alias("ss"),
    )
    n, s, ss = F.col("n"), F.col("s"), F.col("ss")
    sd = s.cast("decimal(38,0)")
    z = (v - s.cast("double") / n) / F.sqrt(
        (n.cast("decimal(38,0)") * ss - sd * sd).cast("double") / (n * n)
    )
    return (
        daily.join(F.broadcast(stats), "event_type")
        .select("event_type", "day", "v_milli", z.alias("z"))
        .filter(F.abs(F.col("z")) > 1.5)
    )


@register(
    "interval_completeness_audit",
    oracle="""
    WITH per_day AS (
        SELECT event_type,
               CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
               CAST(count(DISTINCT CAST(floor(epoch(ts) / 300) AS BIGINT))
                    AS BIGINT) AS n_buckets_with_data
        FROM events GROUP BY 1, 2
    )
    SELECT event_type, day, n_buckets_with_data,
           CAST(288 - n_buckets_with_data AS BIGINT) AS n_missing,
           CAST(n_buckets_with_data AS DOUBLE) / 288 AS coverage
    FROM per_day
    WHERE n_buckets_with_data < 288
    """,
    doc="Feed-completeness audit: per (series, day), how many of the "
    "288 five-minute buckets actually contain ticks — the "
    "data-SLA check a market-data pipeline runs before trusting a "
    "day's candles (the reference can only fail the whole workflow; "
    "this localizes WHICH series-days are short). Bucket identity is "
    "integer epoch floor; the distinct-count is keyed by (series, "
    "day) so partial aggregation collapses ticks map-side. Companion "
    "to candles_gap_fill, which repairs what this detects.",
    tags=("timeseries", "quality", "aggregation"),
)
def interval_completeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    bucket_id = F.floor(
        F.unix_timestamp(F.col("ts").cast("timestamp")) / 300
    ).cast("bigint")
    per_day = ev.groupBy(
        "event_type",
        F.col("ts").cast("date").cast("string").alias("day"),
    ).agg(F.count_distinct(bucket_id).alias("n_buckets_with_data"))
    n = F.col("n_buckets_with_data")
    return per_day.select(
        "event_type",
        "day",
        "n_buckets_with_data",
        (F.lit(288) - n).cast("bigint").alias("n_missing"),
        (n.cast("double") / 288).alias("coverage"),
    ).filter(n < 288)


@register(
    "dow_hour_seasonality",
    oracle="""
    WITH cell AS (
        SELECT event_type,
               CAST(isodow(ts) AS BIGINT) AS dow,
               CAST(extract(hour FROM ts) AS BIGINT) AS hr,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1, 2, 3
    ),
    tot AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_total
            FROM events GROUP BY 1)
    SELECT cell.event_type, dow, hr, n_events,
           CAST(n_events AS DOUBLE) / n_total AS share
    FROM cell JOIN tot ON cell.event_type = tot.event_type
    """,
    doc="Day-of-week × hour seasonality heatmap per series (ISO day "
    "numbering, shares as exact integer ratios): the traffic-shape "
    "profile behind capacity planning and anomaly baselines. Two "
    "aggregations over one scan; the per-series totals are "
    "series-cardinality and broadcast back onto the cells.",
    tags=("timeseries", "aggregation", "analytics"),
)
def dow_hour_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    cell = ev.groupBy(
        "event_type",
        F.dayofweek("ts").alias("_dow_sun1"),
        F.hour("ts").cast("bigint").alias("hr"),
    ).agg(F.count(F.lit(1)).alias("n_events"))
    # Spark dayofweek is 1=Sunday; ISO wants 1=Monday..7=Sunday
    cell = cell.select(
        "event_type",
        ((F.col("_dow_sun1") + 5) % 7 + 1).cast("bigint").alias("dow"),
        "hr",
        "n_events",
    )
    tot = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_total"))
    return cell.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "dow",
        "hr",
        "n_events",
        (F.col("n_events").cast("double") / F.col("n_total")).alias(
            "share"
        ),
    )


@register(
    "growth_accounting_daily",
    oracle="""
    WITH ud AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    seq AS (
        SELECT user_id, day,
               lag(day) OVER (PARTITION BY user_id ORDER BY day)
                   AS prev_day,
               row_number() OVER (PARTITION BY user_id ORDER BY day)
                   AS rn
        FROM ud
    )
    SELECT CAST(day AS VARCHAR) AS day,
           CAST(count(*) AS BIGINT) AS n_active,
           CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_new,
           CAST(count(*) FILTER (
               WHERE rn > 1 AND prev_day = day - INTERVAL 1 DAY)
               AS BIGINT) AS n_retained,
           CAST(count(*) FILTER (
               WHERE rn > 1 AND prev_day < day - INTERVAL 1 DAY)
               AS BIGINT) AS n_resurrected
    FROM seq GROUP BY day
    """,
    doc="Growth accounting: every active (user, day) classified as "
    "new / retained / resurrected from each user's OWN previous "
    "active day (one lag window keyed by user — no day×day self-join "
    "of the activity matrix, which is the quadratic way). Daily "
    "rollup is a second, smaller aggregation; counts are exact "
    "longs. n_active = new + retained + resurrected by construction "
    "— the identity auditors check.",
    tags=("timeseries", "window", "analytics"),
)
def growth_accounting_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    seq = ud.select(
        "user_id",
        "day",
        F.lag("day").over(w).alias("prev_day"),
        F.row_number().over(w).alias("rn"),
    )
    prev, day, rn = F.col("prev_day"), F.col("day"), F.col("rn")
    return seq.groupBy(day.cast("string").alias("day")).agg(
        F.count(F.lit(1)).alias("n_active"),
        F.count_if(rn == 1).alias("n_new"),
        F.count_if((rn > 1) & (prev == F.date_sub(day, 1))).alias(
            "n_retained"
        ),
        F.count_if((rn > 1) & (prev < F.date_sub(day, 1))).alias(
            "n_resurrected"
        ),
    )


@register(
    "scd2_user_versions",
    oracle="""
    WITH ud AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        FROM events WHERE user_id < 30
    )
    SELECT user_id,
           CAST(day AS VARCHAR) AS valid_from,
           CAST(lead(day) OVER (
               PARTITION BY user_id ORDER BY day) AS VARCHAR)
               AS valid_to,
           lead(day) OVER (PARTITION BY user_id ORDER BY day) IS NULL
               AS is_current,
           CAST(row_number() OVER (
               PARTITION BY user_id ORDER BY day) AS BIGINT)
               AS version
    FROM ud
    """,
    doc="SCD Type-2 dimension build: each user's activity days become "
    "versioned validity intervals — valid_from = the day, valid_to = "
    "the NEXT version's start (lead; NULL ⇒ open/current), plus a "
    "version ordinal. One user-keyed window pass builds the whole "
    "history table — the warehouse pattern for point-in-time joins "
    "(which the as-of join then serves). valid_to strings are NULL "
    "for current rows on both engines.",
    tags=("timeseries", "window", "analytics"),
)
def scd2_user_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    ud = ev.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    nxt = F.lead("day").over(w)
    return ud.select(
        "user_id",
        F.col("day").cast("string").alias("valid_from"),
        nxt.cast("string").alias("valid_to"),
        nxt.isNull().alias("is_current"),
        F.row_number().over(w).cast("bigint").alias("version"),
    )


@register(
    "activity_streaks",
    oracle="""
    WITH ud AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    g AS (
        SELECT user_id, day,
               day - CAST(row_number() OVER (
                   PARTITION BY user_id ORDER BY day) AS INTEGER) AS grp
        FROM ud
    ),
    streaks AS (
        SELECT user_id, grp, CAST(count(*) AS BIGINT) AS len,
               min(day) AS start_day
        FROM g GROUP BY user_id, grp
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_streaks,
           CAST(max(len) AS BIGINT) AS longest_streak,
           CAST(min(start_day) AS VARCHAR) AS first_active_day
    FROM streaks GROUP BY user_id
    """,
    doc="Gaps-and-islands: consecutive-day activity streaks per user "
    "via the classic day − row_number() group key (consecutive days "
    "share a constant difference), then two rollups — streak lengths, "
    "then per-user summary. No self-join, no recursive CTE: one "
    "user-keyed window plus co-partitioned aggregations, the "
    "linear-cost form of the pattern. Longest streak + streak count "
    "are the engagement metrics; the same shape finds sensor-uptime "
    "islands and contiguous gap runs.",
    tags=("timeseries", "window", "analytics"),
)
def activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    g = ud.select(
        "user_id",
        "day",
        F.date_sub(F.col("day"), F.row_number().over(w)).alias("grp"),
    )
    streaks = g.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).alias("len"),
        F.min("day").alias("start_day"),
    )
    return streaks.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_streaks"),
        F.max("len").alias("longest_streak"),
        F.min("start_day").cast("string").alias("first_active_day"),
    )


@register(
    "point_in_time_join",
    oracle="""
    WITH ud AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        FROM events WHERE user_id < 30
    ),
    dim AS (
        SELECT user_id, day AS valid_from,
               lead(day) OVER (PARTITION BY user_id ORDER BY day)
                   AS valid_to,
               CAST(row_number() OVER (
                   PARTITION BY user_id ORDER BY day) AS BIGINT)
                   AS version
        FROM ud
    )
    SELECT e.event_id, e.user_id, CAST(e.ts AS DATE) AS event_day,
           d.version AS dim_version_at_event
    FROM events e
    JOIN dim d
      ON e.user_id = d.user_id
     AND CAST(e.ts AS DATE) >= d.valid_from
     AND (d.valid_to IS NULL OR CAST(e.ts AS DATE) < d.valid_to)
    WHERE e.user_id < 30
    """,
    doc="Point-in-time (temporal) join: each event matched to the SCD2 "
    "dimension version VALID AT ITS TIMESTAMP — [valid_from, "
    "valid_to) interval containment with an open current row. The "
    "warehouse consumer of scd2_user_versions: training-data "
    "pipelines use exactly this to avoid feature leakage (features "
    "as-of the label time, never later). The join is user-keyed "
    "first, so interval probing is per-user local; at scale the "
    "as-of-join union+window form computes it with one shuffle.",
    tags=("timeseries", "join", "analytics"),
)
def point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    ud = ev.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    dim = ud.select(
        F.col("user_id").alias("d_user"),
        F.col("day").alias("valid_from"),
        F.lead("day").over(w).alias("valid_to"),
        F.row_number().over(w).cast("bigint").alias("version"),
    )
    eday = F.col("ts").cast("date")
    return (
        ev.join(
            F.broadcast(dim),
            (F.col("user_id") == F.col("d_user"))
            & (eday >= F.col("valid_from"))
            & (F.col("valid_to").isNull() | (eday < F.col("valid_to"))),
        )
        .select(
            "event_id",
            "user_id",
            eday.alias("event_day"),
            F.col("version").alias("dim_version_at_event"),
        )
    )


@register(
    "cross_rate_series",
    oracle=f"""
    WITH candles AS (
        SELECT {_bucket_sql('ts', 3600, 0)} AS candle_start, event_type,
               arg_max(value, ts) AS close_value
        FROM events WHERE event_type IN ('click', 'view')
        GROUP BY 1, 2
    )
    SELECT a.candle_start,
           a.close_value AS close_a,
           b.close_value AS close_b,
           a.close_value / b.close_value AS cross_rate
    FROM candles a JOIN candles b
      ON a.candle_start = b.candle_start
    WHERE a.event_type = 'click' AND b.event_type = 'view'
    """,
    doc="Cross-rate triangulation — the forex operation the reference's "
    "single-pair pipeline cannot do: two per-series hourly close "
    "series aligned on candle_start (self-join of the aggregated "
    "candle table, candle-cardinality — NOT the tick stream) and "
    "divided into a synthetic cross rate (EUR/USD ÷ GBP/USD = "
    "EUR/GBP). Closes are exact arg_max picks; the per-row division "
    "is one deterministic IEEE op, rounded on both engines.",
    tags=("timeseries", "join", "analytics"),
)
def cross_rate_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.candles import bucket

    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    candles = ev.groupBy(
        bucket(F.col("ts"), 3600).alias("candle_start"),
        "event_type",
    ).agg(F.max_by("value", "ts").alias("close_value"))
    a = candles.filter(F.col("event_type") == "click").select(
        "candle_start", F.col("close_value").alias("close_a")
    )
    b = candles.filter(F.col("event_type") == "view").select(
        "candle_start", F.col("close_value").alias("close_b")
    )
    return a.join(b, "candle_start").select(
        "candle_start",
        "close_a",
        "close_b",
        # unrounded: one correctly-rounded IEEE division, identical on
        # both engines; round()'s tie-break would diverge on exact ties
        (F.col("close_a") / F.col("close_b")).alias("cross_rate"),
    )


@register(
    "garman_klass_volatility",
    oracle=f"""
    WITH candles AS (
        SELECT {_bucket_sql('ts', 3600, 0)} AS candle_start, event_type,
               {_OHLC_AGG_SQL}
        FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(CAST(candle_start AS DATE) AS VARCHAR) AS day,
           CAST(count(*) AS BIGINT) AS n_candles,
           round(sum(0.5 * ln(high_value / low_value)
                         * ln(high_value / low_value)
                     - (2 * ln(2) - 1)
                         * ln(close_value / open_value)
                         * ln(close_value / open_value)), 6)
               AS gk_variance
    FROM candles
    WHERE low_value > 0 AND open_value > 0
    GROUP BY 1, 2
    """,
    doc="Garman-Klass daily volatility from hourly OHLC — the "
    "range-based estimator (uses high/low information plain "
    "close-to-close variance throws away), the indicator family the "
    "reference's SMA mart would grow into. Per-candle terms are "
    "deterministic double expressions on exact arg_min/arg_max "
    "picks; the daily sum is rounded to 6 dp on both engines to "
    "absorb last-ulp ln() and summation-order differences (the "
    "magnitudes here are far from rounding boundaries).",
    tags=("timeseries", "stats", "analytics"),
)
def garman_klass_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.candles import bucket

    ev = load(spark, sf_dir, "events")
    candles = ev.groupBy(
        bucket(F.col("ts"), 3600).alias("candle_start"),
        "event_type",
    ).agg(
        F.min_by("value", "ts").alias("open_value"),
        F.max("value").alias("high_value"),
        F.min("value").alias("low_value"),
        F.max_by("value", "ts").alias("close_value"),
        F.count(F.lit(1)).alias("n_ticks"),
    )
    hl = F.log(F.col("high_value") / F.col("low_value"))
    co = F.log(F.col("close_value") / F.col("open_value"))
    term = 0.5 * hl * hl - (2 * float(__import__("math").log(2)) - 1) * co * co
    return (
        candles.filter(
            (F.col("low_value") > 0) & (F.col("open_value") > 0)
        )
        .groupBy(
            "event_type",
            F.col("candle_start").cast("date").cast("string").alias("day"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_candles"),
            F.round(F.sum(term), 6).alias("gk_variance"),
        )
    )


@register(
    "max_drawdown",
    oracle=f"""
    WITH candles AS (
        SELECT {_bucket_sql('ts', 3600, 0)} AS candle_start, event_type,
               arg_max(value, ts) AS close_value
        FROM events GROUP BY 1, 2
    ),
    dd AS (
        SELECT event_type, candle_start, close_value,
               max(close_value) OVER (
                   PARTITION BY event_type ORDER BY candle_start
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS running_peak
        FROM candles
    )
    SELECT event_type,
           min(close_value / running_peak - 1) AS max_drawdown,
           max(running_peak) AS all_time_peak,
           CAST(count(*) AS BIGINT) AS n_candles
    FROM dd GROUP BY event_type
    """,
    doc="Maximum drawdown per series: running peak (unbounded-preceding "
    "MAX window) then the worst peak-to-trough ratio — the risk "
    "metric every trading pipeline reports. Every step is "
    "order-independent or totally ordered: max/min are associative "
    "over doubles, the running window is keyed and time-ordered, and "
    "the per-row division is one IEEE op — so the result is exact "
    "with NO rounding, at any partitioning.",
    tags=("timeseries", "window", "stats", "analytics"),
)
def max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.candles import bucket

    ev = load(spark, sf_dir, "events")
    candles = ev.groupBy(
        bucket(F.col("ts"), 3600).alias("candle_start"),
        "event_type",
    ).agg(F.max_by("value", "ts").alias("close_value"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("candle_start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dd = candles.withColumn(
        "running_peak", F.max("close_value").over(w)
    )
    return dd.groupBy("event_type").agg(
        F.min(
            F.col("close_value") / F.col("running_peak") - 1
        ).alias("max_drawdown"),
        F.max("running_peak").alias("all_time_peak"),
        F.count(F.lit(1)).alias("n_candles"),
    )


@register(
    "log_returns_distribution",
    oracle=f"""
    WITH candles AS (
        SELECT {_bucket_sql('ts', 3600, 0)} AS candle_start, event_type,
               arg_max(value, ts) AS close_value
        FROM events GROUP BY 1, 2
    ),
    rets AS (
        SELECT event_type,
               ln(close_value / lag(close_value) OVER (
                   PARTITION BY event_type ORDER BY candle_start))
                   AS log_ret
        FROM candles
    )
    SELECT event_type,
           CAST(CASE WHEN floor(log_ret * 10) < -5 THEN -5
                     WHEN floor(log_ret * 10) > 4 THEN 4
                     ELSE floor(log_ret * 10) END AS BIGINT) AS ret_bin,
           CAST(count(*) AS BIGINT) AS n
    FROM rets WHERE log_ret IS NOT NULL
    GROUP BY 1, 2
    """,
    doc="Hourly log-return distribution per series, binned into "
    "0.1-wide clamped buckets — the fat-tail profile behind risk "
    "models. lag over the candle series gives consecutive-close "
    "ratios; the coarse bin width (0.1 in log space vs ~1e-16 ln "
    "ulp) makes integer bucketing engine-stable without rounding "
    "games. Candle table is series×hours — three orders smaller than "
    "ticks before any window runs.",
    tags=("timeseries", "window", "stats"),
)
def log_returns_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.candles import bucket

    ev = load(spark, sf_dir, "events")
    candles = ev.groupBy(
        bucket(F.col("ts"), 3600).alias("candle_start"),
        "event_type",
    ).agg(F.max_by("value", "ts").alias("close_value"))
    w = Window.partitionBy("event_type").orderBy("candle_start")
    log_ret = F.log(
        F.col("close_value") / F.lag("close_value").over(w)
    )
    b = F.floor(log_ret * 10)
    ret_bin = (
        F.when(b < -5, F.lit(-5)).when(b > 4, F.lit(4)).otherwise(b)
    ).cast("bigint")
    return (
        candles.select("event_type", log_ret.alias("log_ret"))
        .filter(F.col("log_ret").isNotNull())
        .groupBy(
            "event_type",
            F.when(F.floor(F.col("log_ret") * 10) < -5, F.lit(-5))
            .when(F.floor(F.col("log_ret") * 10) > 4, F.lit(4))
            .otherwise(F.floor(F.col("log_ret") * 10))
            .cast("bigint")
            .alias("ret_bin"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _hourly_click_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(candle_start, x, y): the hourly closes of the click (x) and view
    (y) series in integer micro-units, paired on candle_start — hours
    where only one series ticked drop out."""
    from ..operators.candles import bucket

    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    candles = ev.groupBy(
        bucket(F.col("ts"), 3600).alias("candle_start"),
        "event_type",
    ).agg(
        F.round(F.max_by("value", "ts") * 1000000)
        .cast("bigint")
        .alias("close_micro")
    )
    a = candles.filter(F.col("event_type") == "click").select(
        "candle_start", F.col("close_micro").alias("x")
    )
    b = candles.filter(F.col("event_type") == "view").select(
        "candle_start", F.col("close_micro").alias("y")
    )
    return a.join(b, "candle_start")


@register(
    "series_correlation",
    oracle=f"""
    WITH candles AS (
        SELECT {_bucket_sql('ts', 3600, 0)} AS candle_start, event_type,
               CAST(round(arg_max(value, ts) * 1000000) AS BIGINT)
                   AS close_micro
        FROM events WHERE event_type IN ('click', 'view')
        GROUP BY 1, 2
    ),
    paired AS (
        SELECT a.close_micro AS x, b.close_micro AS y
        FROM candles a JOIN candles b
          ON a.candle_start = b.candle_start
        WHERE a.event_type = 'click' AND b.event_type = 'view'
    ),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               sum(x) AS sx, sum(y) AS sy,
               sum(x * x // 1000000) AS sxx,
               sum(y * y // 1000000) AS syy,
               sum(x * y // 1000000) AS sxy
        FROM paired
    )
    SELECT n,
           CAST(n * sxy - sx // 1000 * (sy // 1000) AS DOUBLE)
               / (sqrt(CAST(n * sxx - sx // 1000 * (sx // 1000)
                            AS DOUBLE))
                  * sqrt(CAST(n * syy - sy // 1000 * (sy // 1000)
                              AS DOUBLE))) AS correlation
    FROM s
    """,
    doc="Inter-series correlation (the co-movement input to pair "
    "trading and portfolio risk): two series' hourly closes aligned "
    "on candle_start, Pearson correlation assembled from exact "
    "integer moment sums — micro-unit closes, with the squared terms "
    "pre-scaled by integer division /1e6 (exact: micro² values are "
    "multiples of 1e6... kept in BIGINT range at any row count) so "
    "nothing overflows; one deterministic double expression at the "
    "end. Same mergeable-moments algebra as stat_moments_corr, "
    "composed across a self-join.",
    tags=("timeseries", "join", "stats"),
)
def series_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    x, y = F.col("x"), F.col("y")
    s = _hourly_click_view(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(F.expr("x * x div 1000000")).alias("sxx"),
        F.sum(F.expr("y * y div 1000000")).alias("syy"),
        F.sum(F.expr("x * y div 1000000")).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    sx_k, sy_k = F.expr("sx div 1000"), F.expr("sy div 1000")
    return s.select(
        "n",
        (
            (n * sxy - sx_k * sy_k).cast("double")
            / (
                F.sqrt((n * sxx - sx_k * sx_k).cast("double"))
                * F.sqrt((n * syy - sy_k * sy_k).cast("double"))
            )
        ).alias("correlation"),
    )


@register(
    "salted_distinct_users",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events GROUP BY event_type
    """,
    doc="Skew-safe exact distinct count via SALTED two-stage "
    "aggregation: count(DISTINCT user) over a handful of heavy keys "
    "normally funnels every distinct value of a hot key through ONE "
    "reducer (plain count-distinct has no map-side partial). Stage 1 "
    "deduplicates (event_type, salt, user_id) where salt = "
    "pmod(hash(user_id), 16) — the hot key's distinct set is spread "
    "over 16 reducers, each bounded; stage 2 sums the 16 per-salt "
    "counts (tiny). n_events rides stage 1 as a plain partial-agg sum. "
    "Exact integers — identical to the oracle's count(DISTINCT) — and "
    "the salt width is the knob that bounds per-task state at 100 TB "
    "(16 here; a cluster run sizes it to executor count / key "
    "hotness). The same discipline as AQE's skew-join splitting, "
    "applied to aggregation state.",
    tags=("timeseries", "aggregation", "skew"),
)
def salted_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    salted = ev.select(
        "event_type",
        F.pmod(F.hash("user_id"), F.lit(16)).alias("salt"),
        "user_id",
    )
    stage1 = salted.groupBy("event_type", "salt").agg(
        F.count_distinct("user_id").alias("part_users"),
        F.count(F.lit(1)).alias("part_events"),
    )
    return stage1.groupBy("event_type").agg(
        F.sum("part_users").alias("n_users"),
        F.sum("part_events").alias("n_events"),
    )


@register(
    "distribution_drift_tv",
    oracle="""
    WITH ev AS (
        SELECT epoch_us(ts) AS us,
               least(19, greatest(0,
                   CAST(round(value * 1000000) AS BIGINT) // 25000000))
                   AS bin
        FROM events),
    mid AS (SELECT (min(us) + max(us)) // 2 AS mid_us FROM ev),
    binned AS (
        SELECT bin,
               CAST(sum(CASE WHEN us <= mid_us THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_first,
               CAST(sum(CASE WHEN us > mid_us THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_second
        FROM ev, mid GROUP BY bin)
    SELECT bin, n_first, n_second,
           CAST(abs(n_first * CAST(sum(n_second) OVER () AS BIGINT)
                    - n_second * CAST(sum(n_first) OVER () AS BIGINT))
                AS BIGINT) AS abs_diff_num,
           CAST(abs(n_first * CAST(sum(n_second) OVER () AS BIGINT)
                    - n_second * CAST(sum(n_first) OVER () AS BIGINT))
                AS DOUBLE)
           / (CAST(sum(n_first) OVER () AS BIGINT)
              * CAST(sum(n_second) OVER () AS BIGINT)) AS abs_prob_diff
    FROM binned
    """,
    doc="Distribution-drift audit between the first and second half of "
    "the event stream (feed-change / data-drift detection, the "
    "monitoring sibling of zscore_anomaly_days): event values are "
    "binned into 20 clamped integer buckets, each half's per-bin "
    "counts are compared, and the per-bin probability gap "
    "|p_first − p_second| is emitted — total-variation distance is "
    "half the column sum. Everything is exact integers until ONE "
    "final division: the gap is cross-multiplied "
    "(|n_a·N_B − n_b·N_A|, bigint — at cluster scale these become "
    "DECIMAL(38)) so no per-bin float ratios accumulate, and the "
    "midpoint split is integer epoch-µs arithmetic (identical in "
    "both engines — no transcendental, unlike PSI's log term, which "
    "is why TV distance is the determinism-safe drift metric). One "
    "scan, one 20-group aggregate, window totals over the 20-row "
    "result.",
    tags=("timeseries", "aggregation", "monitoring"),
)
def distribution_drift_tv(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        F.least(
            F.lit(19),
            F.greatest(
                F.lit(0),
                F.expr(
                    "CAST(round(value * 1000000) AS BIGINT) div 25000000"
                ),
            ),
        ).alias("bin"),
    )
    mid = ev.agg(
        F.min("us").alias("_mn"), F.max("us").alias("_mx")
    ).select(F.expr("(_mn + _mx) div 2").alias("mid_us"))
    binned = (
        ev.crossJoin(F.broadcast(mid))
        .groupBy("bin")
        .agg(
            F.sum(
                F.when(F.col("us") <= F.col("mid_us"), 1).otherwise(0)
            ).alias("n_first"),
            F.sum(
                F.when(F.col("us") > F.col("mid_us"), 1).otherwise(0)
            ).alias("n_second"),
        )
    )
    w = Window.partitionBy()
    tot_a = F.sum("n_first").over(w)
    tot_b = F.sum("n_second").over(w)
    diff = F.abs(
        F.col("n_first") * tot_b - F.col("n_second") * tot_a
    )
    return binned.select(
        "bin",
        "n_first",
        "n_second",
        diff.cast("bigint").alias("abs_diff_num"),
        (diff.cast("double") / (tot_a * tot_b)).alias("abs_prob_diff"),
    )


@register(
    "interval_overlap_join",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                    THEN 1 ELSE 0 END AS is_new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id,
               sum(is_new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_seq, ts
        FROM flagged
    ),
    sessions AS (
        SELECT user_id, session_seq,
               min(ts) AS s_start, max(ts) AS s_end
        FROM sess GROUP BY user_id, session_seq
    ),
    wins AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               min(ts) AS w_start, max(ts) AS w_end
        FROM events GROUP BY 1, 2
    ),
    sess_days AS (
        SELECT user_id, session_seq, s_start, s_end,
               unnest(generate_series(CAST(s_start AS DATE),
                                      CAST(s_end AS DATE),
                                      INTERVAL 1 DAY)) AS day
        FROM sessions
    )
    SELECT w.event_type, w.day,
           CAST(count(*) AS BIGINT) AS n_overlapping_sessions,
           CAST(CAST(sum(epoch_us(least(s.s_end, w.w_end))
                         - epoch_us(greatest(s.s_start, w.w_start)))
                     AS BIGINT) AS BIGINT) AS total_overlap_micros
    FROM sess_days s
    JOIN wins w
      ON w.day = CAST(s.day AS DATE)
     AND s.s_start <= w.w_end AND w.w_start <= s.s_end
    GROUP BY 1, 2
    """,
    doc="Interval-×-interval OVERLAP join — the missing sibling of the "
    "point-in-band range joins: user activity sessions (30-min-gap "
    "sessionization) against per-(type, day) activity windows, paired "
    "whenever the intervals intersect. A naive formulation is a cross "
    "join with an inequality predicate (O(n²), nested-loop); instead "
    "each session EXPLODES to the days it covers (bounded by span — "
    "the interval-bucketing discipline of range_join_bucketed) and "
    "the join becomes a day-keyed equi-join with a residual overlap "
    "predicate — shuffle-partitionable at any scale. Overlap duration "
    "is exact integer µs (least/greatest of epoch micros); output is "
    "the per-(type, day) audit: overlapping-session count + total "
    "overlap time.",
    tags=("timeseries", "join", "window"),
)
def interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_micros(F.col("ts").cast("timestamp"))
                - F.unix_micros(F.lag("ts").over(w).cast("timestamp"))
                > 1800 * 1_000_000
            ),
            1,
        ).otherwise(0).alias("is_new_session"),
    )
    sess_seq = flagged.select(
        "user_id",
        "ts",
        F.sum("is_new_session")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("session_seq"),
    )
    sessions = sess_seq.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("s_start"), F.max("ts").alias("s_end")
    )
    wins = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.min("ts").alias("w_start"), F.max("ts").alias("w_end"))
    sess_days = sessions.select(
        "user_id",
        "session_seq",
        "s_start",
        "s_end",
        F.explode(
            F.sequence(F.to_date("s_start"), F.to_date("s_end"))
        ).alias("day"),
    )
    joined = sess_days.join(
        wins,
        (sess_days.day == wins.day)
        & (F.col("s_start") <= F.col("w_end"))
        & (F.col("w_start") <= F.col("s_end")),
    )
    overlap_us = F.unix_micros(
        F.least("s_end", "w_end").cast("timestamp")
    ) - F.unix_micros(F.greatest("s_start", "w_start").cast("timestamp"))
    return joined.groupBy("event_type", wins.day).agg(
        F.count(F.lit(1)).alias("n_overlapping_sessions"),
        F.sum(overlap_us).cast("bigint").alias("total_overlap_micros"),
    )


@register(
    "variant_shredded_extract",
    oracle="""
    SELECT event_type,
           CAST(CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS BIGINT)
               AS k_bucket,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT))
                AS BIGINT) AS BIGINT) AS k_sum
    FROM events
    GROUP BY 1, 2
    """,
    doc="Spark 4 VARIANT ingestion (the open-lakehouse semi-structured "
    "type): props parses ONCE to the binary variant encoding "
    "(parse_json) and typed fields shred out via variant_get with a "
    "declared target type — the replacement for per-access "
    "get_json_object string re-parsing (each of which re-reads the "
    "raw JSON text; variant decodes the field path directly). "
    "Aggregation over the shredded integers is exact; the oracle "
    "mirrors with DuckDB's JSON extraction. try_variant_get-style "
    "safety lives in q:`try_cast_safe_parsing`'s family.",
    tags=("timeseries", "scalar", "json"),
)
def variant_shredded_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'bigint')")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy(
            "event_type", (F.col("k") % 10).cast("bigint").alias("k_bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").cast("bigint").alias("k_sum"),
        )
    )


@register(
    "approx_top_k_events",
    oracle="""
    SELECT event_type AS item,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events GROUP BY event_type
    """,
    doc="approx_top_k sketch aggregation (Spark 4): single-pass "
    "frequent-items summary, mergeable across partitions like HLL/CMS. "
    "With distinct keys ≤ the sketch's tracked-item budget the "
    "result is EXACT (the sketch degrades gracefully only beyond it), "
    "so the hash oracle is the plain GROUP BY — the same "
    "exact-below-threshold discipline as approx_count_distinct's "
    "property test, but hash-checkable. The sketch output "
    "(array<struct<item,count>>) is exploded back to rows.",
    tags=("timeseries", "aggregation", "sketch"),
)
def approx_top_k_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    sk = ev.agg(
        F.expr("approx_top_k(event_type, 100)").alias("sk")
    )
    return sk.select(F.explode("sk").alias("s")).select(
        F.col("s.item").alias("item"),
        F.col("s.count").cast("bigint").alias("n_events"),
    )


@register(
    "sql_udf_revenue_bands",
    oracle="""
    SELECT CAST(round(o_totalprice * 100) AS BIGINT) // 5000000
               AS price_band,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                AS BIGINT) AS BIGINT) AS band_cents
    FROM orders
    GROUP BY 1
    """,
    doc="SQL-defined scalar functions (Spark 4 CREATE FUNCTION … "
    "RETURN expr — the dbt-macro / catalog-UDF surface): cents() and "
    "band() are declared ONCE in SQL and reused; because the body is "
    "a SQL expression, Catalyst inlines it into the plan (no Python "
    "boundary, unlike classic UDFs — the whole query stays "
    "whole-stage-codegen). The oracle inlines the same expressions "
    "by hand.",
    tags=("sql", "scalar", "aggregation"),
)
def sql_udf_revenue_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..tables import register_views

    register_views(spark, sf_dir)
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION to_cents(x DOUBLE) "
        "RETURNS BIGINT RETURN CAST(round(x * 100) AS BIGINT)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION price_band(x DOUBLE) "
        "RETURNS BIGINT RETURN to_cents(x) div 5000000"
    )
    return spark.sql(
        """
        SELECT price_band(o_totalprice) AS price_band,
               count(*) AS n_orders,
               sum(to_cents(o_totalprice)) AS band_cents
        FROM orders GROUP BY 1
        """
    )


@register(
    "seasonal_naive_mape",
    oracle="""
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
        FROM events GROUP BY 1, 2
    ),
    j AS (
        SELECT c.event_type, c.v AS cv, p.v AS pv
        FROM hourly c
        JOIN hourly p
          ON p.event_type = c.event_type
         AND p.h = c.h - INTERVAL 168 HOURS
        WHERE c.v > 0
    )
    SELECT event_type,
           count(*) AS n_hours,
           CAST(CAST(sum((abs(cv - pv) * 1000000) // cv) AS BIGINT) AS DOUBLE)
               / count(*) AS mape_ppm
    FROM j GROUP BY event_type
    """,
    doc="Seasonal-naive forecast backtest: predict each hour's total "
    "from the same hour LAST WEEK (the standard baseline every real "
    "forecaster must beat), score week-over-week MAPE per series. "
    "The 168-hour shift is an equi-JOIN on (series, h−7d), not "
    "lag(168) over a window — gap-robust (a missing hour misaligns "
    "every lag-based shift) and shuffle-partitioned by series+hour "
    "rather than one window sort per series. Exact integer "
    "discipline end-to-end: hourly sums in cents, each absolute "
    "percentage error truncated to ppm in the INTEGER domain "
    "((|a−p|·1e6) div a — engine-identical, no float tie-breaks), "
    "summed as int64, one final division. Headroom: |a−p|·1e6 needs "
    "hourly cents < ~9e12, i.e. ~9×10^10 per hour per series in "
    "money units — re-scale the ppm factor before that at extreme "
    "densities.",
    tags=("timeseries", "aggregation", "join", "forecast"),
)
def seasonal_naive_mape(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
        )
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("v"))
    )
    cur = hourly.select(
        "event_type", "h", F.col("v").alias("cv")
    ).filter(F.col("v") > 0)
    prev = hourly.select(
        F.col("event_type").alias("p_et"),
        (F.col("h") + F.expr("INTERVAL 168 HOURS")).alias("p_h"),
        F.col("v").alias("pv"),
    )
    j = cur.join(
        prev,
        (F.col("event_type") == F.col("p_et")) & (F.col("h") == F.col("p_h")),
    )
    ape_ppm = F.expr("(abs(cv - pv) * 1000000) div cv")
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        (
            F.sum(ape_ppm).cast("double") / F.count(F.lit(1))
        ).alias("mape_ppm"),
    )


@register(
    "purged_walkforward_splits",
    oracle="""
    WITH folds AS (
        SELECT * FROM (VALUES
            (1, TIMESTAMP '2024-01-08 00:00:00'),
            (2, TIMESTAMP '2024-01-15 00:00:00'),
            (3, TIMESTAMP '2024-01-22 00:00:00')
        ) AS t(fold, cut)
    )
    SELECT fold, event_type,
           CAST(sum(CASE WHEN ts < cut - INTERVAL 24 HOURS
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
           CAST(sum(CASE WHEN ts >= cut AND ts < cut + INTERVAL 7 DAYS
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_test
    FROM events CROSS JOIN folds
    GROUP BY fold, event_type
    """,
    doc="Purged walk-forward cross-validation splits — the "
    "leakage-safe temporal CV a market/training pipeline must use "
    "instead of random K-fold: per fold, train = everything before "
    "the cut MINUS a 24 h embargo (rows whose look-ahead labels "
    "would straddle the boundary), test = the following 7 days. "
    "Implemented as ONE scan: the 3-row fold table rides a "
    "broadcast cross join (map-side row ×3, no shuffle) into a "
    "single conditional aggregation — never one pass per fold, so "
    "adding folds at 100 TB adds map work, not scans. Exact integer "
    "counts.",
    tags=("timeseries", "aggregation", "sampling"),
)
def purged_walkforward_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    ts_type = ev.schema["ts"].dataType
    folds = spark.createDataFrame(
        [(1, "2024-01-08 00:00:00"), (2, "2024-01-15 00:00:00"),
         (3, "2024-01-22 00:00:00")],
        "fold INT, cut_s STRING",
    ).select("fold", F.col("cut_s").cast(ts_type).alias("cut"))
    j = ev.crossJoin(F.broadcast(folds))
    in_train = F.col("ts") < F.col("cut") - F.expr("INTERVAL 24 HOURS")
    in_test = (F.col("ts") >= F.col("cut")) & (
        F.col("ts") < F.col("cut") + F.expr("INTERVAL 7 DAYS")
    )
    return j.groupBy("fold", "event_type").agg(
        F.sum(F.when(in_train, 1).otherwise(0)).cast("bigint").alias("n_train"),
        F.sum(F.when(in_test, 1).otherwise(0)).cast("bigint").alias("n_test"),
    )


@register(
    "timed_funnel_conversion",
    oracle="""
    WITH v AS (
        SELECT user_id, min(ts) AS t_view FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, min(e.ts) AS t_click
        FROM events e JOIN v ON v.user_id = e.user_id
        WHERE e.event_type = 'click' AND e.ts > v.t_view
          AND e.ts <= v.t_view + INTERVAL 1 HOUR
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, min(e.ts) AS t_purchase
        FROM events e JOIN c ON c.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t_click
          AND e.ts <= c.t_click + INTERVAL 24 HOURS
        GROUP BY e.user_id
    )
    SELECT CAST((SELECT count(*) FROM v) AS BIGINT) AS n_view,
           CAST((SELECT count(*) FROM c) AS BIGINT) AS n_timed_click,
           CAST((SELECT count(*) FROM p) AS BIGINT) AS n_timed_purchase,
           CAST((SELECT count(*) FROM p) * 1000000
                // NULLIF((SELECT count(*) FROM v), 0) AS BIGINT) AS conv_ppm
    """,
    doc="TIME-CONSTRAINED funnel (first view → click within 1 h → "
    "purchase within 24 h of that click) — the attribution-window "
    "semantics product analytics actually bills on, vs the ordered "
    "any-time funnel of `funnel_conversion`. Each stage is one "
    "user-keyed conditional-min aggregation joined back to the "
    "event log on the SAME user key — three shuffles total on one "
    "key (co-partitioned all the way; at 100 TB the event log would "
    "be bucketed by user_id and none of the three would move data). "
    "Conversion emitted as exact integer ppm.",
    tags=("timeseries", "analytics", "join", "aggregation"),
)
def timed_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(
            (F.col("ts") > F.col("t_view"))
            & (F.col("ts") <= F.col("t_view") + F.expr("INTERVAL 1 HOUR"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("ts") > F.col("t_click"))
            & (F.col("ts") <= F.col("t_click") + F.expr("INTERVAL 24 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    nv = v.agg(F.count(F.lit(1)).alias("n_view"))
    nc = c.agg(F.count(F.lit(1)).alias("n_timed_click"))
    np_ = p.agg(F.count(F.lit(1)).alias("n_timed_purchase"))
    return (
        nv.crossJoin(nc)
        .crossJoin(np_)
        .select(
            F.col("n_view").cast("bigint").alias("n_view"),
            F.col("n_timed_click").cast("bigint").alias("n_timed_click"),
            F.col("n_timed_purchase").cast("bigint").alias("n_timed_purchase"),
            F.expr("n_timed_purchase * 1000000 div nullif(n_view, 0)")
            .cast("bigint")
            .alias("conv_ppm"),
        )
    )


# --- CUSUM changepoint detection -------------------------------------------


@register(
    "cusum_changepoint",
    oracle="""
    WITH d AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY 1, 2),
    t AS (SELECT event_type, CAST(sum(cents) AS BIGINT) AS total,
                 CAST(count(*) AS BIGINT) AS n_days
          FROM d GROUP BY 1),
    s AS (SELECT d.event_type, day, n_days,
                 CAST(sum(cents) OVER (PARTITION BY d.event_type
                     ORDER BY day) AS BIGINT) AS pfx,
                 CAST(row_number() OVER (PARTITION BY d.event_type
                     ORDER BY day) AS BIGINT) AS k,
                 total
          FROM d JOIN t USING (event_type)),
    c AS (SELECT event_type, day, n_days,
                 abs(n_days * pfx - k * total) AS abs_s
          FROM s)
    SELECT event_type, n_days, day AS change_day,
           CAST(abs_s AS BIGINT) AS max_abs_s
    FROM (SELECT *, row_number() OVER (PARTITION BY event_type
              ORDER BY abs_s DESC, day) AS rn FROM c)
    WHERE rn = 1
    """,
    doc="CUSUM changepoint detection per event-type series: the "
    "max-|cumulative-deviation| statistic locates the day where the "
    "daily value level most plausibly shifted — the level-shift "
    "screen a monitoring pipeline runs before trusting week-over-week "
    "comparisons. Determinism: the textbook CUSUM subtracts the mean "
    "per step (a rational); scaling by n keeps it INTEGER: "
    "S_k = n·prefix_k − k·total is exactly n·Σ(x_i − x̄), so the "
    "argmax day and statistic are exact integers end-to-end — no "
    "floats at all. Plan: daily pre-aggregation first (cents), so "
    "the windows run over DAYS per series, not raw events; both the "
    "cumsum and the argmax are windows PARTITIONED by event_type — "
    "parallel across series at any scale, and the per-series state "
    "is day-count-sized.",
    tags=("timeseries", "anomaly", "window"),
)
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    t = d.groupBy("event_type").agg(
        F.sum("cents").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
    )
    w = Window.partitionBy("event_type").orderBy("day")
    s = d.join(F.broadcast(t), "event_type").select(
        "event_type",
        "day",
        "n_days",
        F.sum("cents").over(w).cast("bigint").alias("pfx"),
        F.row_number().over(w).cast("bigint").alias("k"),
        "total",
    )
    c = s.select(
        "event_type",
        "day",
        "n_days",
        F.abs(
            F.col("n_days") * F.col("pfx") - F.col("k") * F.col("total")
        ).alias("abs_s"),
    )
    w_max = Window.partitionBy("event_type").orderBy(
        F.col("abs_s").desc(), "day"
    )
    return (
        c.withColumn("rn", F.row_number().over(w_max))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            "n_days",
            F.col("day").alias("change_day"),
            F.col("abs_s").cast("bigint").alias("max_abs_s"),
        )
    )


# --- last-touch attribution ------------------------------------------------


@register(
    "last_touch_attribution",
    oracle="""
    WITH seq AS (
        SELECT user_id, ts, event_id, event_type, value,
               last_value(CASE WHEN event_type IN ('click', 'view')
                               THEN event_type END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING) AS raw_touch,
               last_value(CASE WHEN event_type IN ('click', 'view')
                               THEN ts END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING) AS touch_ts
        FROM events)
    SELECT COALESCE(CASE WHEN touch_ts >= ts - INTERVAL 7 DAY
                         THEN raw_touch END, 'unattributed') AS touch_type,
           count(*) AS n_purchases,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS attributed_cents
    FROM seq WHERE event_type = 'purchase'
    GROUP BY 1
    """,
    doc="Last-touch marketing attribution: each purchase is credited to "
    "the most recent preceding click/view by the same user within a "
    "7-day lookback, else 'unattributed' — the standard conversion-"
    "credit model a product-analytics mart derives from the raw event "
    "stream (reference analogue: the event-log marts its dbt layer "
    "builds, scripts/extract_forex.py:169-201 event semantics). "
    "Implemented as last(ignorenulls) over a rows-frame ENDING 1 "
    "PRECEDING (a purchase never self-attributes), keyed by "
    "(ts, event_id) for a total order. Determinism: credit value is "
    "exact integer cents; the carried touch is a deterministic "
    "function of the unique ordering. Plan: one window per user "
    "partition (parallel across users; no shuffle beyond the keyed "
    "sort) then a 3-row hash agg — user count is the wide dimension "
    "at 100 TB, so the window axis is the right one.",
    tags=("timeseries", "window", "product-analytics"),
)
def last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(
        F.col("event_type").isin("click", "view"), F.col("event_type")
    )
    touch_ts = F.when(
        F.col("event_type").isin("click", "view"), F.col("ts")
    )
    seq = ev.select(
        "user_id", "ts", "event_id", "event_type", "value",
        F.last(touch, ignorenulls=True).over(w).alias("raw_touch"),
        F.last(touch_ts, ignorenulls=True).over(w).alias("touch_ts"),
    )
    fresh = F.col("touch_ts") >= F.col("ts") - F.expr("INTERVAL 7 DAY")
    return (
        seq.filter(F.col("event_type") == "purchase")
        .select(
            F.coalesce(
                F.when(fresh, F.col("raw_touch")), F.lit("unattributed")
            ).alias("touch_type"),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("touch_type")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum("cents").cast("bigint").alias("attributed_cents"),
        )
    )


# --- Amihud illiquidity ----------------------------------------------------


@register(
    "amihud_illiquidity",
    oracle="""
    WITH r AS (
        SELECT event_type, CAST(ts AS DATE) AS day, value,
               lag(value) OVER (PARTITION BY event_type, CAST(ts AS DATE)
                                ORDER BY ts, event_id) AS prev
        FROM events WHERE value > 0)
    SELECT event_type, day,
           CAST(sum(CAST(round(abs(ln(value / prev)) * 1000000) AS BIGINT))
                AS BIGINT) AS abs_logret_micros,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS volume_cents,
           CAST(CAST(sum(CAST(round(abs(ln(value / prev)) * 1000000)
                              AS BIGINT)) AS BIGINT) AS DOUBLE)
               / CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS illiq
    FROM r WHERE prev IS NOT NULL
    GROUP BY 1, 2
    """,
    doc="Amihud (2002) daily illiquidity per series: mean |log return| "
    "(zero-valued ticks are dropped up front — a log return needs "
    "strictly positive prices on both sides, and sf0.1 contains "
    "value=0 events that would otherwise divide by zero) "
    "per unit of traded value — the standard price-impact proxy a "
    "market-microstructure mart computes from tick data (reference "
    "analogue: the per-symbol daily marts of "
    "fct_eurusd_timeframes.sql). Determinism: each |log return| is "
    "rounded to integer MICRO-units at the tick (round() on a "
    "transcendental output — the one place rounding is allowed), the "
    "volume to integer cents, so both sums are exact integers in any "
    "order and the final ratio is a single correctly-rounded division "
    "of exact integers. Plan: the lag window partitions by "
    "(series, day) — state never crosses a day boundary, so "
    "partitioning is free to split the stream by day at 100 TB; one "
    "hash agg after, no second shuffle (agg key == window key).",
    tags=("timeseries", "window", "finance"),
)
def amihud_illiquidity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").filter(F.col("value") > 0)
    day = F.to_date("ts").alias("day")
    w = Window.partitionBy("event_type", F.to_date("ts")).orderBy(
        "ts", "event_id"
    )
    r = ev.select(
        "event_type", day, "value",
        F.lag("value").over(w).alias("prev"),
    ).filter(F.col("prev").isNotNull())
    micros = (
        F.round(F.abs(F.log(F.col("value") / F.col("prev"))) * 1000000)
        .cast("bigint")
    )
    cents = F.round(F.col("value") * 100).cast("bigint")
    return r.groupBy("event_type", "day").agg(
        F.sum(micros).cast("bigint").alias("abs_logret_micros"),
        F.sum(cents).cast("bigint").alias("volume_cents"),
        (
            F.sum(micros).cast("bigint").cast("double")
            / F.sum(cents).cast("bigint")
        ).alias("illiq"),
    )


# ------------------------------------------------ KMV / Theta sketches

_KMV_K = 32
# hashes live in [0, 2^52): 13 hex chars of md5 — exactly representable
# as a double, so the estimate arithmetic below is bit-identical on
# both engines (integer->double casts exact, one exact multiply, one
# correctly-rounded divide).
_TWO52 = 4503599627370496


def _kmv_hash(col):
    """Portable 52-bit hash: identical md5-prefix on Spark and DuckDB.

    Spark: conv(substr(md5(x),1,13),16,10); DuckDB: ('0x'||substr)::BIGINT.
    Both parse the same 13 hex chars of the same digest, so the two
    engines agree bit-for-bit (collisions included).
    """
    return F.conv(
        F.substring(F.md5(col.cast("string")), 1, 13), 16, 10
    ).cast("long")


def _kmv_day_sets(spark: SparkSession, sf_dir: str):
    """(hashed, kmv): distinct per-day hash sets and their KMV sketches.

    The sketch is built HIERARCHICALLY — k smallest distinct hashes per
    (day, hour) first, then the per-day merge over the ≤ 24·k
    survivors — because KMV is a monoid: every one of the k smallest
    hashes of a day is among the k smallest of its own hour, so the
    two-level rollup provably equals the direct per-day top-k. At
    100 TB the corpus-sized shuffle is the fine-grained (day, hour)
    one; the day-level merge touches ≤ 24·k rows per day.
    """
    ev = load(spark, sf_dir, "events")
    day = F.to_date(F.date_trunc("day", "ts")).alias("day")
    hashed = ev.select(
        day, F.hour("ts").alias("hr"), _kmv_hash(F.col("user_id")).alias("h")
    ).distinct()
    w_hr = Window.partitionBy("day", "hr").orderBy("h")
    pre = (
        hashed.withColumn("rn", F.row_number().over(w_hr))
        .filter(F.col("rn") <= _KMV_K)
        .select("day", "h")
        .distinct()  # the same hash can survive from several hours
    )
    w_day = Window.partitionBy("day").orderBy("h")
    kmv = (
        pre.withColumn("rn", F.row_number().over(w_day))
        .filter(F.col("rn") <= _KMV_K)
        .select("day", "h")
    )
    return hashed.select("day", "h").distinct(), kmv


@register(
    "kmv_distinct_sketch",
    oracle=f"""
    WITH hashed AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))::BIGINT
                 AS h
      FROM events
    ), ranked AS (
      SELECT day, h, row_number() OVER (PARTITION BY day ORDER BY h) AS rn
      FROM hashed
    ), kmv AS (
      SELECT day, CAST(count(*) AS BIGINT) AS n_hashes, max(h) AS hk
      FROM ranked WHERE rn <= {_KMV_K} GROUP BY day
    ), exact AS (
      SELECT day, CAST(count(*) AS BIGINT) AS exact_distinct
      FROM hashed GROUP BY day
    )
    SELECT k.day, {_KMV_K} AS kmv_k, k.n_hashes,
           CASE WHEN k.n_hashes < {_KMV_K}
                THEN CAST(k.n_hashes AS DOUBLE)
                ELSE CAST({_KMV_K - 1} AS DOUBLE) * {_TWO52}.0
                     / CAST(k.hk AS DOUBLE)
           END AS est_distinct,
           e.exact_distinct
    FROM kmv k JOIN exact e USING (day)
    """,
    doc="K-minimum-values distinct-count sketch (Beyer et al. 2007), "
    "the strict-oracle counterpart to q:`hll_sketch_rollup`: daily "
    "distinct-user estimates from the k smallest 52-bit md5 hashes. "
    "Unlike HLL (engine-private register layout) the KMV state is "
    "plain rows, so DuckDB replays the identical sketch and the "
    "driver value-hashes the ESTIMATES themselves — an approx sketch "
    "under the exact-match gate. Built hierarchically (hour -> day) "
    "to prove the monoid merge; the estimate (k-1)*2^52/h_k uses only "
    "exact casts, one exact multiply and one correctly-rounded "
    "divide, so no rounding is needed. sf0.001 exercises the "
    "exhaustive branch (n<k: sketch IS the set), sf0.01+ the "
    "estimation branch. Ref analogue: BigQuery APPROX_COUNT_DISTINCT "
    "in the reference's daily rollups (fct_eurusd_timeframes.sql).",
    tags=("timeseries", "sketch", "aggregation", "approx"),
)
def kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    hashed, kmv = _kmv_day_sets(spark, sf_dir)
    sk = kmv.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hashes"),
        F.max("h").alias("hk"),
    )
    exact = hashed.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_distinct")
    )
    est = F.when(
        F.col("n_hashes") < _KMV_K, F.col("n_hashes").cast("double")
    ).otherwise(
        F.lit(float(_KMV_K - 1)) * F.lit(float(_TWO52))
        / F.col("hk").cast("double")
    )
    return (
        sk.join(exact, "day")
        .select(
            "day",
            F.lit(_KMV_K).alias("kmv_k"),
            "n_hashes",
            est.alias("est_distinct"),
            "exact_distinct",
        )
    )


@register(
    "kmv_theta_intersection",
    oracle=f"""
    WITH hashed AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))::BIGINT
                 AS h
      FROM events
    ), ranked AS (
      SELECT day, h, row_number() OVER (PARTITION BY day ORDER BY h) AS rn
      FROM hashed
    ), kmv AS (
      SELECT day, h FROM ranked WHERE rn <= {_KMV_K}
    ), thetas AS (
      SELECT day,
             CASE WHEN count(*) >= {_KMV_K} THEN max(h)
                  ELSE {_TWO52} END AS theta
      FROM kmv GROUP BY day
    ), pairs AS (
      SELECT a.day AS day_a, b.day AS day_b, a.h
      FROM kmv a JOIN kmv b ON b.day = a.day + 1 AND a.h = b.h
    ), scored AS (
      SELECT p.day_a, p.day_b, least(ta.theta, tb.theta) AS theta,
             CAST(count(*) FILTER
                  (WHERE p.h < least(ta.theta, tb.theta)) AS BIGINT)
                 AS n_sample
      FROM pairs p
      JOIN thetas ta ON ta.day = p.day_a
      JOIN thetas tb ON tb.day = p.day_b
      GROUP BY 1, 2, 3
    ), exact AS (
      SELECT a.day AS day_a, CAST(count(*) AS BIGINT) AS exact_common
      FROM hashed a JOIN hashed b ON b.day = a.day + 1 AND a.h = b.h
      GROUP BY 1
    )
    SELECT s.day_a, s.day_b, s.n_sample,
           CAST(s.n_sample AS DOUBLE) * {_TWO52}.0 / CAST(s.theta AS DOUBLE)
               AS est_common,
           e.exact_common
    FROM scored s JOIN exact e ON e.day_a = s.day_a
    """,
    doc="Theta-sketch set intersection (Dasgupta et al., the "
    "Datasketches theta family) over the daily KMV sketches: estimate "
    "day-over-day returning users as |{h in A∩B : h < θ}| · 2^52/θ "
    "with θ = min(θ_A, θ_B) — the standard retention estimator, "
    "value-hash-checked against DuckDB replaying the identical sketch "
    "AND against the exact per-pair overlap. Scale story: sketches "
    "are ≤ k rows/day, so the pair join and θ lookup are "
    "broadcast-sized; only the exact-overlap audit (dropped in "
    "production at 100 TB) touches corpus-sized data, as an equi-join "
    "on the hash. sf0.001 exercises θ = 2^52 (exhaustive sets, "
    "estimate == exact); sf0.01+ the sampled branch.",
    tags=("timeseries", "sketch", "set-ops", "approx"),
)
def kmv_theta_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    hashed, kmv = _kmv_day_sets(spark, sf_dir)
    # kmv feeds four consumers (two theta broadcast builds + both join
    # sides); materialize the ≤ k-rows/day sketch once instead of
    # re-running the corpus distinct + two-level top-k per consumer
    # (r11, same fix as kmv_theta_set_algebra)
    kmv = kmv.localCheckpoint(eager=True)
    thetas = kmv.groupBy("day").agg(
        F.when(F.count(F.lit(1)) >= _KMV_K, F.max("h"))
        .otherwise(F.lit(_TWO52))
        .alias("theta")
    )
    a = kmv.select(
        F.col("day").alias("day_a"),
        F.date_add("day", 1).alias("day_b"),
        "h",
    )
    b = kmv.select(F.col("day").alias("day_b"), "h")
    pairs = a.join(b, ["day_b", "h"])
    scored = (
        pairs.join(
            F.broadcast(thetas.select(F.col("day").alias("day_a"),
                                      F.col("theta").alias("theta_a"))),
            "day_a",
        )
        .join(
            F.broadcast(thetas.select(F.col("day").alias("day_b"),
                                      F.col("theta").alias("theta_b"))),
            "day_b",
        )
        .withColumn("theta", F.least("theta_a", "theta_b"))
        .groupBy("day_a", "day_b", "theta")
        .agg(
            F.count(F.when(F.col("h") < F.col("theta"), 1))
            .cast("bigint")
            .alias("n_sample")
        )
    )
    # exact |H_day ∩ H_day+1| in ONE pass over the corpus-distinct
    # set: a hash contributes to day_a iff its NEXT distinct day is
    # day_a + 1 — a lead() window keyed by hash, replacing the
    # two-branch self-join that executed the distinct subtree twice
    # and shuffled both sides (r11)
    w_h = Window.partitionBy("h").orderBy("day")
    exact = (
        hashed.withColumn("nxt", F.lead("day").over(w_h))
        .filter(F.col("nxt") == F.date_add("day", 1))
        .groupBy(F.col("day").alias("day_a"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_common"))
    )
    est = (
        F.col("n_sample").cast("double") * F.lit(float(_TWO52))
        / F.col("theta").cast("double")
    )
    return scored.join(exact, "day_a").select(
        "day_a", "day_b", "n_sample",
        est.alias("est_common"), "exact_common",
    )


# ------------------------------------------- distribution-drift tests

_DRIFT_CUT = "2024-01-16 00:00:00"


def _drift_sides(spark: SparkSession, sf_dir: str):
    """(event_type, side, cents): first-half vs second-half samples."""
    ev = load(spark, sf_dir, "events")
    cut = F.lit(_DRIFT_CUT).cast(ev.schema["ts"].dataType)
    return ev.select(
        "event_type",
        F.when(F.col("ts") < cut, 0).otherwise(1).alias("side"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )


@register(
    "ks_drift_exact",
    oracle=f"""
    WITH vals AS (
      SELECT event_type,
             CASE WHEN ts < TIMESTAMP '{_DRIFT_CUT}' THEN 0 ELSE 1 END
                 AS side,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ), counts AS (
      SELECT event_type, cents,
             CAST(count(*) FILTER (WHERE side = 0) AS BIGINT) AS na_at,
             CAST(count(*) FILTER (WHERE side = 1) AS BIGINT) AS nb_at
      FROM vals GROUP BY 1, 2
    ), tot AS (
      SELECT event_type,
             CAST(sum(na_at) AS BIGINT) AS n_a,
             CAST(sum(nb_at) AS BIGINT) AS n_b
      FROM counts GROUP BY 1
    ), cum AS (
      SELECT event_type, cents,
             CAST(sum(na_at) OVER w AS BIGINT) AS cum_a,
             CAST(sum(nb_at) OVER w AS BIGINT) AS cum_b
      FROM counts
      WINDOW w AS (PARTITION BY event_type ORDER BY cents)
    )
    SELECT c.event_type, t.n_a, t.n_b,
           CAST(max(abs(c.cum_a * t.n_b - c.cum_b * t.n_a)) AS BIGINT)
               AS d_num,
           CAST(t.n_a * t.n_b AS BIGINT) AS d_den,
           CAST(max(abs(c.cum_a * t.n_b - c.cum_b * t.n_a)) AS DOUBLE)
               / CAST(t.n_a * t.n_b AS DOUBLE) AS ks_d
    FROM cum c JOIN tot t USING (event_type)
    GROUP BY 1, 2, 3
    """,
    doc="Two-sample Kolmogorov-Smirnov drift test per series, EXACT in "
    "the integer domain: D = max|F_a - F_b| computed as "
    "max|cum_a*n_b - cum_b*n_a| over the pooled distinct values, one "
    "correctly-rounded divide at the end — no ECDF floats, no "
    "tolerance, value-hash-matched (cf. q:`distribution_drift_tv`, "
    "the binned TV analogue). The cumulative counts come from ONE "
    "window pass over per-(series,value) partial counts, so the "
    "shuffle is distinct-value-sized, not row-sized; totals broadcast "
    "back. The cross-multiplied numerator stays < 2^63 up to ~3e9 "
    "rows per side per series; beyond that, switch the final compare "
    "to the double ratio. The monitoring story for training-data "
    "refresh drift (features this week vs last week).",
    tags=("timeseries", "stats", "quality", "window"),
)
def ks_drift_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    vals = _drift_sides(spark, sf_dir)
    counts = vals.groupBy("event_type", "cents").agg(
        F.count(F.when(F.col("side") == 0, 1)).cast("bigint").alias("na_at"),
        F.count(F.when(F.col("side") == 1, 1)).cast("bigint").alias("nb_at"),
    )
    tot = counts.groupBy("event_type").agg(
        F.sum("na_at").cast("bigint").alias("n_a"),
        F.sum("nb_at").cast("bigint").alias("n_b"),
    )
    w = Window.partitionBy("event_type").orderBy("cents")
    cum = counts.select(
        "event_type",
        F.sum("na_at").over(w).cast("bigint").alias("cum_a"),
        F.sum("nb_at").over(w).cast("bigint").alias("cum_b"),
    )
    d_num = F.max(
        F.abs(F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a"))
    ).cast("bigint")
    return (
        cum.join(F.broadcast(tot), "event_type")
        .groupBy("event_type", "n_a", "n_b")
        .agg(
            d_num.alias("d_num"),
            (F.col("n_a") * F.col("n_b")).cast("bigint").alias("d_den"),
            (
                d_num.cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double")
            ).alias("ks_d"),
        )
    )


@register(
    "psi_drift_bins",
    oracle=f"""
    WITH vals AS (
      SELECT event_type,
             CASE WHEN ts < TIMESTAMP '{_DRIFT_CUT}' THEN 0 ELSE 1 END
                 AS side,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ), rng AS (
      SELECT event_type, min(cents) AS mn, max(cents) AS mx
      FROM vals GROUP BY 1
    ), binned AS (
      SELECT v.event_type, v.side,
             CAST(least((v.cents - r.mn) * 10 // (r.mx - r.mn + 1), 9)
                  AS BIGINT) AS bin
      FROM vals v JOIN rng r USING (event_type)
    ), cells AS (
      SELECT event_type, bin,
             CAST(count(*) FILTER (WHERE side = 0) AS BIGINT) AS ca,
             CAST(count(*) FILTER (WHERE side = 1) AS BIGINT) AS cb
      FROM binned GROUP BY 1, 2
    ), tot AS (
      SELECT event_type,
             CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b
      FROM cells GROUP BY 1
    ), terms AS (
      SELECT c.event_type, t.n_a, t.n_b,
             (CAST(c.ca + 1 AS DOUBLE) / CAST(t.n_a + 10 AS DOUBLE)
              - CAST(c.cb + 1 AS DOUBLE) / CAST(t.n_b + 10 AS DOUBLE))
             * ln((CAST(c.ca + 1 AS DOUBLE) / CAST(t.n_a + 10 AS DOUBLE))
                  / (CAST(c.cb + 1 AS DOUBLE) / CAST(t.n_b + 10 AS DOUBLE)))
                 AS term
      FROM cells c JOIN tot t USING (event_type)
    )
    SELECT event_type, n_a, n_b,
           CAST(sum(CAST(round(term * 1000000000) AS BIGINT)) AS BIGINT)
               AS psi_nano
    FROM terms GROUP BY 1, 2, 3
    """,
    doc="Population Stability Index per series — the standard "
    "ML-monitoring drift score: 10 equal-width bins over the series' "
    "integer-cents range (floor-div binning, exact on both engines), "
    "add-1 smoothing so empty bins stay defined, and "
    "PSI = Σ (p_i - q_i)·ln(p_i/q_i). Per the determinism contract, "
    "the transcendental per-bin term is rounded to integer NANO-units "
    "before the sum (the q:`amihud_illiquidity` pattern), so the "
    "cross-engine hash never sees summation-order ulp drift. Scale: "
    "one row-sized pass to bin (range broadcast back), then "
    "10-cells-per-series aggregation — map-side combinable "
    "throughout.",
    tags=("timeseries", "stats", "quality", "aggregation"),
)
def psi_drift_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    vals = _drift_sides(spark, sf_dir)
    rng = vals.groupBy("event_type").agg(
        F.min("cents").alias("mn"), F.max("cents").alias("mx")
    )
    # floor-div binning (Spark `div` == DuckDB `//` on BIGINT)
    binned = vals.join(F.broadcast(rng), "event_type").select(
        "event_type",
        "side",
        F.least(
            F.expr("(cents - mn) * 10 div (mx - mn + 1)"), F.lit(9)
        ).cast("bigint").alias("bin"),
    )
    cells = binned.groupBy("event_type", "bin").agg(
        F.count(F.when(F.col("side") == 0, 1)).cast("bigint").alias("ca"),
        F.count(F.when(F.col("side") == 1, 1)).cast("bigint").alias("cb"),
    )
    tot = cells.groupBy("event_type").agg(
        F.sum("ca").cast("bigint").alias("n_a"),
        F.sum("cb").cast("bigint").alias("n_b"),
    )
    p = (F.col("ca") + 1).cast("double") / (F.col("n_a") + 10).cast("double")
    q = (F.col("cb") + 1).cast("double") / (F.col("n_b") + 10).cast("double")
    term_nano = F.round((p - q) * F.log(p / q) * 1000000000).cast("bigint")
    return (
        cells.join(F.broadcast(tot), "event_type")
        .groupBy("event_type", "n_a", "n_b")
        .agg(F.sum(term_nano).cast("bigint").alias("psi_nano"))
    )


@register(
    "kmv_theta_set_algebra",
    oracle=f"""
    WITH hashed AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))::BIGINT
                 AS h
      FROM events
    ), ranked AS (
      SELECT day, h, row_number() OVER (PARTITION BY day ORDER BY h) AS rn
      FROM hashed
    ), kmv AS (SELECT day, h FROM ranked WHERE rn <= {_KMV_K}),
    bounds AS (SELECT min(day) AS mn, max(day) AS mx FROM kmv),
    thetas AS (
      SELECT day,
             CASE WHEN count(*) >= {_KMV_K} THEN max(h)
                  ELSE {_TWO52} END AS theta
      FROM kmv GROUP BY day
    ), tagged AS (
      SELECT k.day AS day_a, k.h, 1 AS ia, 0 AS ib
      FROM kmv k, bounds WHERE k.day < bounds.mx
      UNION ALL
      SELECT k.day - 1 AS day_a, k.h, 0 AS ia, 1 AS ib
      FROM kmv k, bounds WHERE k.day > bounds.mn
    ), grouped AS (
      SELECT day_a, h, max(ia) AS ia, max(ib) AS ib
      FROM tagged GROUP BY 1, 2
    ), scored AS (
      SELECT g.day_a, least(ta.theta, tb.theta) AS theta,
             CAST(count(*) FILTER (WHERE g.h < least(ta.theta, tb.theta))
                  AS BIGINT) AS n_union,
             CAST(count(*) FILTER (WHERE g.h < least(ta.theta, tb.theta)
                  AND g.ia = 1 AND g.ib = 0) AS BIGINT) AS n_aonly,
             CAST(count(*) FILTER (WHERE g.h < least(ta.theta, tb.theta)
                  AND g.ia = 0 AND g.ib = 1) AS BIGINT) AS n_bonly
      FROM grouped g
      JOIN thetas ta ON ta.day = g.day_a
      JOIN thetas tb ON tb.day = g.day_a + 1
      GROUP BY 1, 2
    ), exact AS (
      SELECT day_a, CAST(count(*) AS BIGINT) AS exact_union FROM (
        SELECT h1.day AS day_a, h1.h
        FROM hashed h1, bounds WHERE h1.day < bounds.mx
        UNION
        SELECT h2.day - 1 AS day_a, h2.h
        FROM hashed h2, bounds WHERE h2.day > bounds.mn
      ) GROUP BY 1
    )
    SELECT s.day_a, s.n_union,
           CAST(s.n_union AS DOUBLE) * {_TWO52}.0 / CAST(s.theta AS DOUBLE)
               AS est_union,
           CAST(s.n_aonly AS DOUBLE) * {_TWO52}.0 / CAST(s.theta AS DOUBLE)
               AS est_a_only,
           CAST(s.n_bonly AS DOUBLE) * {_TWO52}.0 / CAST(s.theta AS DOUBLE)
               AS est_b_only,
           e.exact_union
    FROM scored s JOIN exact e USING (day_a)
    """,
    doc="Theta-sketch SET ALGEBRA over the daily KMV sketches — union, "
    "A-only and B-only (difference) estimates per consecutive-day "
    "pair, all against the shared θ = min(θ_A, θ_B). Because the "
    "three samples partition {h < θ}, the estimates are "
    "inclusion-exclusion consistent BY CONSTRUCTION "
    "(est_union = est_a_only + est_b_only + est_∩) — the property "
    "that makes theta sketches composable dashboards state "
    "(new/churned/retained users from the same two sketches, cf. "
    "q:`kmv_theta_intersection`). Sketch inputs are ≤ k rows/day; "
    "the flag-union groupBy and θ lookups are sketch-sized, and only "
    "the exact-union audit touches corpus-scale rows. Strict "
    "value-hash oracle on the ESTIMATES (single multiply + divide on "
    "identical doubles).",
    tags=("timeseries", "sketch", "set-ops", "approx"),
)
def kmv_theta_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    hashed, kmv = _kmv_day_sets(spark, sf_dir)
    # kmv feeds FOUR consumers (bounds, thetas, both tagged branches)
    # and each re-executed the whole corpus distinct + two-level top-k
    # chain (~6 corpus passes total in the old plan, r11). The sketch
    # table is ≤ k rows/day — materialize it; `hashed` (the corpus-
    # distinct audit side) deliberately stays lazy: it is corpus-sized
    # at 100 TB, and its one remaining consumer below executes it once.
    kmv = kmv.localCheckpoint(eager=True)
    bounds = kmv.agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
    thetas = kmv.groupBy("day").agg(
        F.when(F.count(F.lit(1)) >= _KMV_K, F.max("h"))
        .otherwise(F.lit(_TWO52))
        .alias("theta")
    )
    kb = kmv.crossJoin(F.broadcast(bounds))
    tagged = kb.filter(F.col("day") < F.col("mx")).select(
        F.col("day").alias("day_a"), "h",
        F.lit(1).alias("ia"), F.lit(0).alias("ib"),
    ).unionAll(
        kb.filter(F.col("day") > F.col("mn")).select(
            F.date_sub("day", 1).alias("day_a"), "h",
            F.lit(0).alias("ia"), F.lit(1).alias("ib"),
        )
    )
    grouped = tagged.groupBy("day_a", "h").agg(
        F.max("ia").alias("ia"), F.max("ib").alias("ib")
    )
    scored = (
        grouped.join(
            F.broadcast(thetas.select(F.col("day").alias("day_a"),
                                      F.col("theta").alias("theta_a"))),
            "day_a",
        )
        .join(
            F.broadcast(
                thetas.select(F.date_sub("day", 1).alias("day_a"),
                              F.col("theta").alias("theta_b"))
            ),
            "day_a",
        )
        .withColumn("theta", F.least("theta_a", "theta_b"))
        .groupBy("day_a", "theta")
        .agg(
            F.count(F.when(F.col("h") < F.col("theta"), 1))
            .cast("bigint").alias("n_union"),
            F.count(
                F.when(
                    (F.col("h") < F.col("theta"))
                    & (F.col("ia") == 1) & (F.col("ib") == 0), 1)
            ).cast("bigint").alias("n_aonly"),
            F.count(
                F.when(
                    (F.col("h") < F.col("theta"))
                    & (F.col("ia") == 0) & (F.col("ib") == 1), 1)
            ).cast("bigint").alias("n_bonly"),
        )
    )
    # ONE pass over the corpus-distinct hash set instead of two: each
    # (day, h) row fans out map-side to its ≤ 2 pair slots (day_a =
    # day and day − 1, bounds-gated) — the explode of the two WHEN
    # slots emits exactly the rows the old two-branch union produced,
    # and the distinct collapses them identically (r11).
    hb = hashed.crossJoin(F.broadcast(bounds))
    pair_days = F.array(
        F.when(F.col("day") < F.col("mx"), F.col("day")),
        F.when(F.col("day") > F.col("mn"), F.date_sub("day", 1)),
    )
    exact = (
        hb.select(F.explode(pair_days).alias("day_a"), "h")
        .filter(F.col("day_a").isNotNull())
        .distinct()
        .groupBy("day_a")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_union"))
    )
    return scored.join(exact, "day_a").select(
        "day_a",
        "n_union",
        (F.col("n_union").cast("double") * F.lit(float(_TWO52))
         / F.col("theta").cast("double")).alias("est_union"),
        (F.col("n_aonly").cast("double") * F.lit(float(_TWO52))
         / F.col("theta").cast("double")).alias("est_a_only"),
        (F.col("n_bonly").cast("double") * F.lit(float(_TWO52))
         / F.col("theta").cast("double")).alias("est_b_only"),
        "exact_union",
    )


# ------------------------------------- series-shape statistics

_ACF_LAGS = (1, 2, 3, 4, 5)


@register(
    "acf_per_series",
    oracle=f"""
    WITH v AS (
      SELECT event_type, ts, event_id,
             CAST(round(value * 100) AS BIGINT) AS c
      FROM events
    ), lagged AS (
      SELECT event_type, l.lag AS lag, c AS x,
             lag(c, l.lag) OVER (PARTITION BY event_type, l.lag
                                 ORDER BY ts, event_id) AS y
      FROM v CROSS JOIN
           (SELECT unnest([{", ".join(map(str, _ACF_LAGS))}]) AS lag) l
    ), pairs AS (
      SELECT event_type, lag,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x*x) AS BIGINT) AS sxx,
             CAST(sum(y*y) AS BIGINT) AS syy,
             CAST(sum(x*y) AS BIGINT) AS sxy
      FROM lagged WHERE y IS NOT NULL GROUP BY 1, 2
    )
    SELECT event_type, CAST(lag AS BIGINT) AS lag, n,
           (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS acf
    FROM pairs
    """,
    doc="Autocorrelation function per series at lags 1-5 (Pearson over "
    "lagged pairs): ALL five lags come from ONE window pass — a single "
    "per-series sort carries five lag() expressions, stack()ed to "
    "(lag, x, y) rows, then a map-side-combinable moment aggregation. "
    "Determinism: moments are exact integer cents sums; the closing "
    "expression (sub/mul/sqrt/div over identically-rounded "
    "int->double casts) is the same IEEE op sequence on both engines, "
    "so acf is emitted UNROUNDED. Complements "
    "q:`rolling_correlation_30` (cross-series) with the "
    "within-series memory structure a forecasting pipeline inspects "
    "before model choice. Scale: one shuffle on event_type; the "
    "oracle's per-(series,lag) windows are provably the same pairs.",
    tags=("timeseries", "stats", "window", "aggregation"),
)
def acf_per_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    c = F.round(F.col("value") * 100).cast("bigint")
    base = ev.select("event_type", "ts", "event_id", c.alias("x")).select(
        "event_type",
        "x",
        *[F.lag("x", k).over(w).alias(f"y{k}") for k in _ACF_LAGS],
    )
    stack_args = ", ".join(f"{k}, y{k}" for k in _ACF_LAGS)
    stacked = base.select(
        "event_type",
        "x",
        F.expr(f"stack({len(_ACF_LAGS)}, {stack_args}) AS (lag, y)"),
    ).filter(F.col("y").isNotNull())
    pairs = stacked.groupBy("event_type", F.col("lag").cast("bigint").alias("lag")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    n, sx, sy = (F.col(a).cast("double") for a in ("n", "sx", "sy"))
    sxx, syy, sxy = (F.col(a).cast("double") for a in ("sxx", "syy", "sxy"))
    acf = (n * sxy - sx * sy) / F.sqrt(
        (n * sxx - sx * sx) * (n * syy - sy * sy)
    )
    return pairs.select("event_type", "lag", "n", acf.alias("acf"))


_HILL_K = 100


@register(
    "hill_tail_index",
    oracle=f"""
    WITH v AS (
      SELECT event_type, event_id, CAST(round(value * 100) AS BIGINT) AS c
      FROM events WHERE value > 0
    ), ranked AS (
      SELECT event_type, c,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY c DESC, event_id) AS rn
      FROM v
    ), ref AS (
      SELECT event_type, c AS cref FROM ranked WHERE rn = {_HILL_K + 1}
    ), terms AS (
      SELECT r.event_type,
             CAST(round(ln(CAST(r.c AS DOUBLE) / CAST(f.cref AS DOUBLE))
                  * 1000000000) AS BIGINT) AS t
      FROM ranked r JOIN ref f USING (event_type) WHERE r.rn <= {_HILL_K}
    )
    SELECT event_type, {_HILL_K} AS k,
           CAST(sum(t) AS BIGINT) AS sum_log_nano,
           {_HILL_K}.0 * 1000000000.0
               / CAST(CAST(sum(t) AS BIGINT) AS DOUBLE) AS alpha_hat
    FROM terms GROUP BY 1
    HAVING CAST(sum(t) AS BIGINT) > 0
    """,
    doc="Hill estimator of the heavy-tail index per series: "
    f"alpha = k / mean(ln(x_(i)/x_(k+1))) over the top k={_HILL_K} "
    "order statistics (unique event_id tie-break). The tail-weight "
    "screen a risk/monitoring pipeline runs before trusting "
    "moment-based stats (a small alpha means variance-driven metrics "
    "like q:`zscore_anomaly_days` are unstable). Determinism: each "
    "ln term is rounded to integer nano-units before the sum "
    "(transcendental contract); alpha is one correctly-rounded "
    "divide. Scale: the top-k+1 per series comes from a row_number "
    "window (per-series parallel); terms are k-per-series rows, the "
    "reference quantile rides a broadcast join.",
    tags=("timeseries", "stats", "topk", "aggregation"),
)
def hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").filter(F.col("value") > 0)
    c = F.round(F.col("value") * 100).cast("bigint")
    w = Window.partitionBy("event_type").orderBy(
        F.desc("c"), F.asc("event_id")
    )
    ranked = ev.select("event_type", "event_id", c.alias("c")).withColumn(
        "rn", F.row_number().over(w)
    )
    ref = ranked.filter(F.col("rn") == _HILL_K + 1).select(
        "event_type", F.col("c").alias("cref")
    )
    t = F.round(
        F.log(F.col("c").cast("double") / F.col("cref").cast("double"))
        * F.lit(1000000000)
    ).cast("bigint")
    terms = (
        ranked.filter(F.col("rn") <= _HILL_K)
        .join(F.broadcast(ref), "event_type")
        .select("event_type", t.alias("t"))
    )
    return (
        terms.groupBy("event_type")
        .agg(F.sum("t").cast("bigint").alias("sum_log_nano"))
        .filter(F.col("sum_log_nano") > 0)
        .select(
            "event_type",
            F.lit(_HILL_K).alias("k"),
            "sum_log_nano",
            (
                F.lit(float(_HILL_K) * 1000000000.0)
                / F.col("sum_log_nano").cast("double")
            ).alias("alpha_hat"),
        )
    )


# --------------------------------------- hypothesis-testing family


@register(
    "did_event_value",
    oracle=f"""
    WITH base AS (
      SELECT event_type,
             CASE WHEN ts < TIMESTAMP '{_DRIFT_CUT}' THEN 0 ELSE 1 END
                 AS post,
             CAST(round(value * 100) AS BIGINT) AS c
      FROM events
    ), cells AS (
      SELECT event_type, post,
             CAST(sum(c) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
      FROM base GROUP BY 1, 2
    ), t AS (
      SELECT event_type AS treatment,
             CAST(max(CASE WHEN post = 0 THEN s END) AS DOUBLE)
             / CAST(max(CASE WHEN post = 0 THEN n END) AS DOUBLE) AS m_pre,
             CAST(max(CASE WHEN post = 1 THEN s END) AS DOUBLE)
             / CAST(max(CASE WHEN post = 1 THEN n END) AS DOUBLE) AS m_post
      FROM cells WHERE event_type <> 'view' GROUP BY 1
    ), c AS (
      SELECT CAST(max(CASE WHEN post = 0 THEN s END) AS DOUBLE)
             / CAST(max(CASE WHEN post = 0 THEN n END) AS DOUBLE) AS m_pre,
             CAST(max(CASE WHEN post = 1 THEN s END) AS DOUBLE)
             / CAST(max(CASE WHEN post = 1 THEN n END) AS DOUBLE) AS m_post
      FROM cells WHERE event_type = 'view'
    )
    SELECT t.treatment,
           t.m_pre AS m_t_pre, t.m_post AS m_t_post,
           c.m_pre AS m_c_pre, c.m_post AS m_c_post,
           (t.m_post - t.m_pre) - (c.m_post - c.m_pre) AS did_cents
    FROM t, c
    """,
    doc="Difference-in-differences estimate of the value shift around "
    "the mid-window cut, each series as treatment against 'view' as "
    "the control arm: DiD = (m_t_post - m_t_pre) - (m_c_post - "
    "m_c_pre). The causal-inference shape behind launch analyses "
    "(parallel-trends assumption documented, not tested). "
    "Determinism: group means are exact-integer-cent sums with ONE "
    "correctly-rounded divide each, and the closing subtraction chain "
    "is the identical IEEE sequence on both engines — emitted "
    "unrounded. Scale: one map-side-combinable groupBy to 10 cells; "
    "the control row is a 1-row broadcast cross join.",
    tags=("timeseries", "stats", "analytics", "aggregation"),
)
def did_event_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    cut = F.lit(_DRIFT_CUT).cast(ev.schema["ts"].dataType)
    base = ev.select(
        "event_type",
        F.when(F.col("ts") < cut, 0).otherwise(1).alias("post"),
        F.round(F.col("value") * 100).cast("bigint").alias("c"),
    )
    cells = base.groupBy("event_type", "post").agg(
        F.sum("c").cast("bigint").alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )

    def _m(post: int):
        s = F.max(F.when(F.col("post") == post, F.col("s")))
        n = F.max(F.when(F.col("post") == post, F.col("n")))
        return s.cast("double") / n.cast("double")

    t = cells.filter(F.col("event_type") != "view").groupBy(
        F.col("event_type").alias("treatment")
    ).agg(_m(0).alias("m_t_pre"), _m(1).alias("m_t_post"))
    c = cells.filter(F.col("event_type") == "view").agg(
        _m(0).alias("m_c_pre"), _m(1).alias("m_c_post")
    )
    return t.crossJoin(F.broadcast(c)).select(
        "treatment", "m_t_pre", "m_t_post", "m_c_pre", "m_c_post",
        (
            (F.col("m_t_post") - F.col("m_t_pre"))
            - (F.col("m_c_post") - F.col("m_c_pre"))
        ).alias("did_cents"),
    )


@register(
    "welch_ab_ttest",
    oracle="""
    WITH base AS (
      SELECT user_id % 2 AS variant, CAST(round(value * 100) AS BIGINT) AS c
      FROM events WHERE event_type = 'purchase'
    ), mom AS (
      SELECT variant, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(c) AS BIGINT) AS s, CAST(sum(c*c) AS BIGINT) AS ss
      FROM base GROUP BY 1
    ), sides AS (
      SELECT a.n AS n_a, b.n AS n_b,
             CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE) AS m_a,
             CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE) AS m_b,
             CAST(a.n * a.ss - a.s * a.s AS DOUBLE)
             / CAST(a.n * (a.n - 1) AS DOUBLE) / CAST(a.n AS DOUBLE) AS va,
             CAST(b.n * b.ss - b.s * b.s AS DOUBLE)
             / CAST(b.n * (b.n - 1) AS DOUBLE) / CAST(b.n AS DOUBLE) AS vb
      FROM mom a, mom b WHERE a.variant = 0 AND b.variant = 1
    )
    SELECT n_a, n_b,
           (m_a - m_b) / sqrt(va + vb) AS t_stat,
           (va + vb) * (va + vb)
           / (va * va / CAST(n_a - 1 AS DOUBLE)
              + vb * vb / CAST(n_b - 1 AS DOUBLE)) AS df
    FROM sides
    """,
    doc="Welch unequal-variance two-sample t-test on purchase value, "
    "variants assigned by user-id parity (the deterministic stand-in "
    "for an A/B bucketing hash): t = (m_a - m_b)/sqrt(s_a^2/n_a + "
    "s_b^2/n_b) with the Welch-Satterthwaite df. Completes the "
    "hypothesis-testing family (KS/PSI distributional, AUC ranking, "
    "DiD causal) with the experiment-readout primitive. Determinism: "
    "variances come from exact bigint moment numerators (n*ss - s*s "
    "stays under 2^63 through sf0.1; at larger corpora switch the "
    "moments to per-partition doubles) cast once to double, then an "
    "identical IEEE divide/sqrt chain on both engines — t and df "
    "emitted unrounded. Scale: one conditional-aggregation pass to "
    "two moment rows.",
    tags=("timeseries", "stats", "eval", "aggregation"),
)
def welch_ab_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    base = ev.select(
        (F.col("user_id") % 2).alias("variant"),
        F.round(F.col("value") * 100).cast("bigint").alias("c"),
    )
    mom = base.groupBy("variant").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("ss"),
    )
    a = mom.filter(F.col("variant") == 0).select(
        F.col("n").alias("an"), F.col("s").alias("as_"), F.col("ss").alias("ass")
    )
    b = mom.filter(F.col("variant") == 1).select(
        F.col("n").alias("bn"), F.col("s").alias("bs"), F.col("ss").alias("bss")
    )
    j = a.crossJoin(F.broadcast(b))

    def _var_over_n(n, s, ss):
        return (
            (F.col(n) * F.col(ss) - F.col(s) * F.col(s)).cast("double")
            / (F.col(n) * (F.col(n) - 1)).cast("double")
            / F.col(n).cast("double")
        )

    sides = j.select(
        F.col("an").alias("n_a"),
        F.col("bn").alias("n_b"),
        (F.col("as_").cast("double") / F.col("an").cast("double")).alias("m_a"),
        (F.col("bs").cast("double") / F.col("bn").cast("double")).alias("m_b"),
        _var_over_n("an", "as_", "ass").alias("va"),
        _var_over_n("bn", "bs", "bss").alias("vb"),
    )
    return sides.select(
        "n_a",
        "n_b",
        ((F.col("m_a") - F.col("m_b")) / F.sqrt(F.col("va") + F.col("vb")))
        .alias("t_stat"),
        (
            (F.col("va") + F.col("vb")) * (F.col("va") + F.col("vb"))
            / (
                F.col("va") * F.col("va")
                / (F.col("n_a") - 1).cast("double")
                + F.col("vb") * F.col("vb")
                / (F.col("n_b") - 1).cast("double")
            )
        ).alias("df"),
    )


# ----------------------------------- nonparametric tests (GoF, runs)


@register(
    "chi2_dow_uniformity",
    oracle="""
    WITH d AS (
      SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT) // 86400 % 7 AS dow
      FROM events
    ), cells AS (
      SELECT event_type, dow, CAST(count(*) AS BIGINT) AS o
      FROM d GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(sum(o) AS BIGINT) AS n,
           CAST(7 * sum(o*o) - sum(o) * sum(o) AS BIGINT) AS chi2_num,
           CAST(CAST(7 * sum(o*o) - sum(o) * sum(o) AS BIGINT) AS DOUBLE)
               / CAST(CAST(sum(o) AS BIGINT) AS DOUBLE) AS chi2,
           6 AS df
    FROM cells GROUP BY 1
    """,
    doc="Chi-squared goodness-of-fit test of day-of-week uniformity "
    "per series: against E = n/7 the statistic collapses to the "
    "EXACT rational chi2 = (7*sum(O^2) - n^2)/n — integer numerator, "
    "one correctly-rounded divide, no per-cell float expectation at "
    "all (zero-count buckets contribute 0 to sum(O^2), so the closed "
    "form is correct even with missing cells). The day bucket is "
    "epoch-day mod 7 — pure integer arithmetic, immune to the "
    "engines' dayofweek labeling mismatch (Spark 1=Sunday vs DuckDB "
    "0=Sunday vs isodow). Companion to q:`dow_hour_seasonality` "
    "(which reports the profile; this tests it). One "
    "map-side-combinable pass to <= 7 cells per series.",
    tags=("timeseries", "stats", "quality", "aggregation"),
)
def chi2_dow_uniformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.candles import epoch_seconds

    ev = load(spark, sf_dir, "events")
    cells = ev.select(
        "event_type", (F.floor(epoch_seconds(F.col("ts"))).cast("bigint")
                       .alias("es"))
    ).select(
        "event_type", (F.expr("es div 86400") % 7).alias("dow")
    ).groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("o")
    )
    chi2_num = (
        F.lit(7) * F.sum(F.col("o") * F.col("o"))
        - F.sum("o") * F.sum("o")
    ).cast("bigint")
    return cells.groupBy("event_type").agg(
        F.sum("o").cast("bigint").alias("n"),
        chi2_num.alias("chi2_num"),
        (chi2_num.cast("double") / F.sum("o").cast("bigint").cast("double"))
        .alias("chi2"),
        F.lit(6).alias("df"),
    )


@register(
    "runs_test_randomness",
    oracle="""
    WITH v AS (
      SELECT event_type, ts, event_id, CAST(round(value*100) AS BIGINT) AS c
      FROM events
    ), med AS (
      SELECT event_type, quantile_cont(c, 0.5) AS m FROM v GROUP BY 1
    ), s AS (
      SELECT v.event_type, v.ts, v.event_id,
             CASE WHEN CAST(v.c AS DOUBLE) > med.m THEN 1 ELSE 0 END AS side
      FROM v JOIN med USING (event_type)
      WHERE CAST(v.c AS DOUBLE) <> med.m
    ), flagged AS (
      SELECT event_type, side,
             CASE WHEN lag(side) OVER (PARTITION BY event_type
                                       ORDER BY ts, event_id)
                       IS DISTINCT FROM side
                  THEN 1 ELSE 0 END AS new_run
      FROM s
    ), counts AS (
      SELECT event_type,
             CAST(sum(new_run) AS BIGINT) AS r,
             CAST(count(*) FILTER (WHERE side = 1) AS BIGINT) AS n1,
             CAST(count(*) FILTER (WHERE side = 0) AS BIGINT) AS n2
      FROM flagged GROUP BY 1
    )
    SELECT event_type, r, n1, n2,
           (CAST(r AS DOUBLE)
            - (CAST(2 * CAST(n1 AS HUGEINT) * n2 AS DOUBLE)
               / CAST(n1 + n2 AS DOUBLE) + 1.0))
           / sqrt(CAST((2 * CAST(n1 AS HUGEINT) * n2)
                       * (2 * CAST(n1 AS HUGEINT) * n2 - n1 - n2) AS DOUBLE)
                  / (CAST((n1 + n2) * (n1 + n2) AS DOUBLE)
                     * CAST(n1 + n2 - 1 AS DOUBLE))) AS z
    FROM counts
    """,
    doc="Wald-Wolfowitz runs test for randomness per series: runs of "
    "above/below-median values (ties with the median excluded, the "
    "textbook convention), z = (R - mu)/sigma with mu = 2*n1*n2/n + 1 "
    "and the exact variance formula. A serial-dependence screen "
    "complementing q:`acf_per_series` (linear memory) with a "
    "sign-pattern test. Determinism: the median threshold is the "
    "established percentile()/quantile_cont pair (bit-identical on "
    "integer inputs); run boundaries are integer flags from one "
    "per-series ordered window (unique event_id tie-break); mu/sigma "
    "are the identical IEEE chain over exact WIDE-integer products: "
    "t=2*n1*n2 makes t*(t-n) ~ n^4/4, past 2^63 from ~80k rows/series "
    "(hit at the sf1 scale rehearsal), so Spark computes it in "
    "DECIMAL(38,0) and the oracle in HUGEINT — identical exact "
    "integers, identical doubles — z emitted unrounded. Scale: one "
    "window shuffle on event_type, then 4-int cells.",
    tags=("timeseries", "stats", "window", "quality"),
)
def runs_test_randomness(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    c = F.round(F.col("value") * 100).cast("bigint")
    v = ev.select("event_type", "ts", "event_id", c.alias("c"))
    med = v.groupBy("event_type").agg(
        F.expr("percentile(c, 0.5)").alias("m")
    )
    s = (
        v.join(F.broadcast(med), "event_type")
        .filter(F.col("c").cast("double") != F.col("m"))
        .select(
            "event_type", "ts", "event_id",
            F.when(F.col("c").cast("double") > F.col("m"), 1)
            .otherwise(0).alias("side"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    flagged = s.select(
        "event_type", "side",
        F.when(
            ~F.lag("side").over(w).eqNullSafe(F.col("side")), 1
        ).otherwise(0).alias("new_run"),
    )
    counts = flagged.groupBy("event_type").agg(
        F.sum("new_run").cast("bigint").alias("r"),
        F.count(F.when(F.col("side") == 1, 1)).cast("bigint").alias("n1"),
        F.count(F.when(F.col("side") == 0, 1)).cast("bigint").alias("n2"),
    )
    n1, n2, r = F.col("n1"), F.col("n2"), F.col("r")
    # t = 2·n1·n2 ≈ n²/2, so t·(t−n) ≈ n⁴/4 — past 2^63 from ~80k
    # rows/series (hit at the sf1 rehearsal: 200k rows/series → 4e20).
    # DECIMAL(38,0) on the Spark side mirrors the HUGEINT casts the
    # oracle uses; identical exact integers → identical doubles.
    t = (F.lit(2).cast("decimal(38,0)") * n1 * n2)
    mu = t.cast("double") / (n1 + n2).cast("double") + F.lit(1.0)
    var = (t * (t - n1 - n2)).cast("double") / (
        ((n1 + n2) * (n1 + n2)).cast("double")
        * (n1 + n2 - 1).cast("double")
    )
    return counts.select(
        "event_type", "r", "n1", "n2",
        ((r.cast("double") - mu) / F.sqrt(var)).alias("z"),
    )


@register(
    "conformal_interval_calibration",
    oracle=f"""
    WITH v AS (
      SELECT event_type, ts, event_id,
             CASE WHEN ts < TIMESTAMP '{_DRIFT_CUT}' THEN 0 ELSE 1 END
                 AS half,
             CAST(round(value*100) AS BIGINT) AS c
      FROM events
    ), r AS (
      SELECT event_type, half,
             abs(c - lag(c) OVER (PARTITION BY event_type
                                  ORDER BY ts, event_id)) AS resid
      FROM v
    ), res AS (SELECT * FROM r WHERE resid IS NOT NULL),
    cal AS (
      SELECT event_type, resid,
             row_number() OVER (PARTITION BY event_type ORDER BY resid)
                 AS rn,
             count(*) OVER (PARTITION BY event_type) AS n_cal
      FROM res WHERE half = 0
    ), qhat AS (
      SELECT event_type, CAST(n_cal AS BIGINT) AS n_cal,
             CAST(resid AS BIGINT) AS q_hat
      FROM cal
      WHERE rn = CAST(ceil((n_cal + 1) * 0.9) AS BIGINT)
    ), ev AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_eval,
             CAST(count(*) FILTER (WHERE resid <= q.q_hat) AS BIGINT)
                 AS n_cov
      FROM res JOIN qhat q USING (event_type) WHERE half = 1
      GROUP BY 1
    )
    SELECT q.event_type, q.n_cal, q.q_hat, e.n_eval, e.n_cov,
           CAST(e.n_cov AS DOUBLE) / CAST(e.n_eval AS DOUBLE) AS coverage
    FROM qhat q JOIN ev e USING (event_type)
    """,
    doc="Split-conformal prediction-interval calibration (alpha=0.1) "
    "for the naive one-step forecast: the first window half is the "
    "calibration set, q_hat is the ceil((n+1)*0.9)-th smallest "
    "absolute residual — a pure integer ORDER STATISTIC, no quantile "
    "interpolation to diverge on — and the second half measures "
    "empirical coverage of [y_hat ± q_hat] (~0.9 by the conformal "
    "guarantee; 'view' under-covers because its residual "
    "distribution drifts — exactly what the monitor is for, cf. "
    "q:`ks_drift_exact`). Determinism: residuals are exact integer "
    "cents off one per-series lag window; coverage is one "
    "correctly-rounded divide. Scale: two window passes sharing the "
    "event_type shuffle, a per-series rank to pick the order "
    "statistic, and a broadcast of the 1-row-per-series q_hat table.",
    tags=("timeseries", "stats", "eval", "window"),
)
def conformal_interval_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev_t = load(spark, sf_dir, "events")
    cut = F.lit(_DRIFT_CUT).cast(ev_t.schema["ts"].dataType)
    c = F.round(F.col("value") * 100).cast("bigint")
    v = ev_t.select(
        "event_type", "ts", "event_id",
        F.when(F.col("ts") < cut, 0).otherwise(1).alias("half"),
        c.alias("c"),
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    res = v.select(
        "event_type", "half",
        F.abs(F.col("c") - F.lag("c").over(w)).alias("resid"),
    ).filter(F.col("resid").isNotNull())
    w_rank = Window.partitionBy("event_type").orderBy("resid")
    w_all = Window.partitionBy("event_type")
    cal = res.filter(F.col("half") == 0).select(
        "event_type", "resid",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("n_cal"),
    )
    qhat = cal.filter(
        F.col("rn")
        == F.ceil((F.col("n_cal") + 1) * F.lit(0.9)).cast("bigint")
    ).select(
        "event_type",
        F.col("n_cal").cast("bigint").alias("n_cal"),
        F.col("resid").cast("bigint").alias("q_hat"),
    )
    evl = (
        res.filter(F.col("half") == 1)
        .join(F.broadcast(qhat), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_eval"),
            F.count(F.when(F.col("resid") <= F.col("q_hat"), 1))
            .cast("bigint").alias("n_cov"),
        )
    )
    return qhat.join(evl, "event_type").select(
        "event_type", "n_cal", "q_hat", "n_eval", "n_cov",
        (F.col("n_cov").cast("double") / F.col("n_eval").cast("double"))
        .alias("coverage"),
    )


@register(
    "mann_kendall_trend",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ), idx AS (
      SELECT event_type, y,
             row_number() OVER (PARTITION BY event_type ORDER BY day) AS i
      FROM daily
    ), pairs AS (
      SELECT a.event_type,
             CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1
                  ELSE 0 END AS sgn,
             CAST(b.y - a.y AS DOUBLE) / CAST(b.i - a.i AS DOUBLE) AS slope
      FROM idx a JOIN idx b
        ON a.event_type = b.event_type AND b.i > a.i
    ), agg AS (
      SELECT event_type,
             CAST(sum(sgn) AS BIGINT) AS s,
             CAST(count(*) AS BIGINT) AS n_pairs,
             quantile_cont(slope, 0.5) AS sen_slope
      FROM pairs GROUP BY 1
    ), nn AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM daily GROUP BY 1
    )
    SELECT a.event_type, a.s, a.n_pairs, n.n, a.sen_slope,
           (CAST(a.s AS DOUBLE)
            - CASE WHEN a.s > 0 THEN 1.0 WHEN a.s < 0 THEN -1.0
                   ELSE 0.0 END)
           / sqrt(CAST(n.n * (n.n - 1) * (2 * n.n + 5) AS DOUBLE) / 18.0)
               AS z
    FROM agg a JOIN nn n USING (event_type)
    """,
    doc="Mann-Kendall nonparametric trend test + Sen's slope per "
    "series over the DAILY aggregate: S = sum of pairwise signs, "
    "continuity-corrected z against Var(S) = n(n-1)(2n+5)/18 (no-ties "
    "form — daily cent sums are effectively tie-free), and Sen's "
    "slope as the median pairwise slope. The nonparametric companion "
    "to q:`linear_trend_per_series` (OLS assumes normal errors; MK "
    "only monotonicity). Scale: the corpus collapses map-side to "
    "<= |days| points per series FIRST, so the O(n^2) pair join is "
    "over the BOUNDED daily table (435 pairs/series), never raw "
    "rows — the same horizon-bounded trick as kaplan_meier_shipping. "
    "Determinism: signs/counts exact integers; pair slopes are "
    "identical exact-int divisions; with n=30 days the 435-pair "
    "median is an ODD-count middle element, so "
    "percentile()/quantile_cont pick the same exact double with no "
    "interpolation; z is an identical IEEE chain.",
    tags=("timeseries", "stats", "aggregation", "join"),
)
def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint").alias("y")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    idx = daily.select(
        "event_type", "y", F.row_number().over(w).alias("i")
    )
    a = idx.select(
        "event_type", F.col("y").alias("ya"), F.col("i").alias("ia")
    )
    b = idx.select(
        "event_type", F.col("y").alias("yb"), F.col("i").alias("ib")
    )
    pairs = a.join(b, "event_type").filter(F.col("ib") > F.col("ia")).select(
        "event_type",
        F.when(F.col("yb") > F.col("ya"), 1)
        .when(F.col("yb") < F.col("ya"), -1)
        .otherwise(0).alias("sgn"),
        (
            (F.col("yb") - F.col("ya")).cast("double")
            / (F.col("ib") - F.col("ia")).cast("double")
        ).alias("slope"),
    )
    agg = pairs.groupBy("event_type").agg(
        F.sum("sgn").cast("bigint").alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.expr("percentile(slope, 0.5)").alias("sen_slope"),
    )
    nn = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    s = F.col("s")
    corr = (
        F.when(s > 0, F.lit(1.0)).when(s < 0, F.lit(-1.0)).otherwise(F.lit(0.0))
    )
    n = F.col("n")
    var = (n * (n - 1) * (2 * n + 5)).cast("double") / F.lit(18.0)
    return agg.join(F.broadcast(nn), "event_type").select(
        "event_type", "s", "n_pairs", "n", "sen_slope",
        ((s.cast("double") - corr) / F.sqrt(var)).alias("z"),
    )


@register(
    "mcnemar_paired_test",
    oracle=f"""
    WITH halves AS (
      SELECT event_type, user_id,
             CAST(count(*) FILTER (WHERE ts < TIMESTAMP '{_DRIFT_CUT}')
                  AS BIGINT) AS n1,
             CAST(count(*) FILTER (WHERE ts >= TIMESTAMP '{_DRIFT_CUT}')
                  AS BIGINT) AS n2
      FROM events GROUP BY 1, 2
    ), paired AS (
      SELECT event_type,
             CASE WHEN n1 >= 4 THEN 1 ELSE 0 END AS o1,
             CASE WHEN n2 >= 4 THEN 1 ELSE 0 END AS o2
      FROM halves
    )
    SELECT event_type,
           CAST(count(*) FILTER (WHERE o1 = 1 AND o2 = 0) AS BIGINT) AS b,
           CAST(count(*) FILTER (WHERE o1 = 0 AND o2 = 1) AS BIGINT) AS c,
           CAST(count(*) AS BIGINT) AS n_users,
           CASE WHEN count(*) FILTER (WHERE o1 <> o2) = 0 THEN 0.0
                ELSE CAST((count(*) FILTER (WHERE o1 = 1 AND o2 = 0)
                           - count(*) FILTER (WHERE o1 = 0 AND o2 = 1))
                          * (count(*) FILTER (WHERE o1 = 1 AND o2 = 0)
                             - count(*) FILTER (WHERE o1 = 0 AND o2 = 1))
                          AS DOUBLE)
                     / CAST(count(*) FILTER (WHERE o1 <> o2) AS DOUBLE)
           END AS chi2
    FROM paired GROUP BY 1
    """,
    doc="McNemar paired test per series: each user is their own "
    "control — the binary outcome 'active (>= 4 events) in the half' "
    "is paired across the two window halves, and only the DISCORDANT "
    "pairs b (active->inactive) and c (inactive->active) carry "
    "signal: chi2 = (b-c)^2/(b+c), df=1. The within-subject "
    "complement to the independent-samples q:`welch_ab_ttest` (paired "
    "designs kill between-user variance). Determinism: all counts "
    "exact integers, one correctly-rounded divide, 0/0 guarded to 0.0 "
    "identically on both engines. Scale: one (series, user) groupBy "
    "with conditional counts, then a per-series rollup of 0/1 flags — "
    "two map-side-combinable aggregations, no joins.",
    tags=("timeseries", "stats", "eval", "aggregation"),
)
def mcnemar_paired_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    cut = F.lit(_DRIFT_CUT).cast(ev.schema["ts"].dataType)
    halves = ev.groupBy("event_type", "user_id").agg(
        F.count(F.when(F.col("ts") < cut, 1)).cast("bigint").alias("n1"),
        F.count(F.when(F.col("ts") >= cut, 1)).cast("bigint").alias("n2"),
    )
    paired = halves.select(
        "event_type",
        F.when(F.col("n1") >= 4, 1).otherwise(0).alias("o1"),
        F.when(F.col("n2") >= 4, 1).otherwise(0).alias("o2"),
    )
    b = F.count(
        F.when((F.col("o1") == 1) & (F.col("o2") == 0), 1)
    ).cast("bigint")
    c = F.count(
        F.when((F.col("o1") == 0) & (F.col("o2") == 1), 1)
    ).cast("bigint")
    disc = F.count(F.when(F.col("o1") != F.col("o2"), 1)).cast("bigint")
    return paired.groupBy("event_type").agg(
        b.alias("b"),
        c.alias("c"),
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.when(disc == 0, F.lit(0.0))
        .otherwise(((b - c) * (b - c)).cast("double") / disc.cast("double"))
        .alias("chi2"),
    )


@register(
    "haar_energy_spectrum",
    oracle="""
    WITH v AS (
      SELECT event_type, CAST(round(value*100) AS BIGINT) AS c,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY ts, event_id) - 1 AS rn
      FROM events
    ), l1 AS (
      SELECT event_type, rn // 2 AS k,
             CAST(sum(CASE WHEN rn % 2 = 0 THEN c ELSE -c END) AS BIGINT)
                 AS d,
             CAST(sum(c) AS BIGINT) AS s, count(*) AS m
      FROM v GROUP BY 1, 2
    ), e1 AS (
      SELECT event_type, 1 AS level, CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(d*d) AS BIGINT) AS energy
      FROM l1 WHERE m = 2 GROUP BY 1
    ), l2 AS (
      SELECT event_type, k // 2 AS k,
             CAST(sum(CASE WHEN k % 2 = 0 THEN s ELSE -s END) AS BIGINT)
                 AS d,
             CAST(sum(s) AS BIGINT) AS s2, count(*) AS m
      FROM l1 WHERE m = 2 GROUP BY 1, 2
    ), e2 AS (
      SELECT event_type, 2 AS level, CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(d*d) AS BIGINT) AS energy
      FROM l2 WHERE m = 2 GROUP BY 1
    ), l3 AS (
      SELECT event_type, k // 2 AS k,
             CAST(sum(CASE WHEN k % 2 = 0 THEN s2 ELSE -s2 END) AS BIGINT)
                 AS d,
             count(*) AS m
      FROM l2 WHERE m = 2 GROUP BY 1, 2
    ), e3 AS (
      SELECT event_type, 3 AS level, CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(d*d) AS BIGINT) AS energy
      FROM l3 WHERE m = 2 GROUP BY 1
    )
    SELECT * FROM e1 UNION ALL SELECT * FROM e2 UNION ALL SELECT * FROM e3
    """,
    doc="Haar wavelet detail-energy spectrum per series (levels 1-3): "
    "unnormalized Haar details d = pair difference of level-(j-1) "
    "sums, energy = sum(d^2) per level — the multi-resolution burst "
    "detector (level-1 energy = tick-to-tick noise, level-3 = "
    "8-sample swings; a flat spectrum means white noise, cf. "
    "q:`acf_per_series`/q:`runs_test_randomness`). EXACT integer "
    "arithmetic end to end — differences, sums and squared energies "
    "never leave BIGINT, so there is NO rounding contract to manage "
    "at all. Pairing is rn div 2 on the per-series row_number; "
    "incomplete tail pairs are dropped identically (m = 2 filter) "
    "before the next level, keeping alignment. Scale: one per-series "
    "window pass, then each level is a map-side-combinable groupBy "
    "HALF the previous level's size — the classic log-depth pyramid.",
    tags=("timeseries", "stats", "window", "aggregation"),
)
def haar_energy_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    v = ev.select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("c"),
        (F.row_number().over(w) - 1).alias("rn"),
    )
    l1 = v.groupBy("event_type", F.expr("rn div 2").alias("k")).agg(
        F.sum(
            F.when(F.col("rn") % 2 == 0, F.col("c")).otherwise(-F.col("c"))
        ).cast("bigint").alias("d"),
        F.sum("c").cast("bigint").alias("s"),
        F.count(F.lit(1)).alias("m"),
    )

    def _energy(df, level: int):
        return df.filter(F.col("m") == 2).groupBy("event_type").agg(
            F.lit(level).alias("level"),
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum(F.col("d") * F.col("d")).cast("bigint").alias("energy"),
        ).select("event_type", "level", "n_pairs", "energy")

    def _next(df, sum_col: str, next_sum: str):
        return df.filter(F.col("m") == 2).groupBy(
            "event_type", F.expr("k div 2").alias("k")
        ).agg(
            F.sum(
                F.when(F.col("k") % 2 == 0, F.col(sum_col))
                .otherwise(-F.col(sum_col))
            ).cast("bigint").alias("d"),
            F.sum(sum_col).cast("bigint").alias(next_sum),
            F.count(F.lit(1)).alias("m"),
        )

    l2 = _next(l1, "s", "s2")
    l3 = _next(l2, "s2", "s3")
    return _energy(l1, 1).unionAll(_energy(l2, 2)).unionAll(_energy(l3, 3))


@register(
    "interarrival_burstiness",
    oracle="""
    WITH v AS (
      SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS es,
             ts, event_id
      FROM events
    ), g AS (
      SELECT event_type,
             es - lag(es) OVER (PARTITION BY event_type
                                ORDER BY ts, event_id) AS gap
      FROM v
    ), gg AS (SELECT event_type, gap FROM g WHERE gap IS NOT NULL),
    mom AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(gap) AS BIGINT) AS sg,
             CAST(sum(gap*gap) AS BIGINT) AS sgg
      FROM gg GROUP BY 1
    )
    SELECT event_type, n AS n_gaps, sg AS sum_gap_s,
           sqrt(CAST(n * sgg - sg * sg AS DOUBLE)) / CAST(sg AS DOUBLE)
               AS cv,
           (sqrt(CAST(n * sgg - sg * sg AS DOUBLE)) / CAST(sg AS DOUBLE)
            - 1.0)
           / (sqrt(CAST(n * sgg - sg * sg AS DOUBLE)) / CAST(sg AS DOUBLE)
              + 1.0) AS burstiness
    FROM mom
    """,
    doc="Point-process burstiness per series: coefficient of variation "
    "of inter-arrival seconds, CV = sqrt(n*S2 - S1^2)/S1 (population "
    "form, all-integer radicand), and the Goh-Barabasi burstiness "
    "B = (CV-1)/(CV+1) — B=0 for a Poisson process, B>0 bursty, B<0 "
    "regular. The arrival-process diagnostic completing the series "
    "family (values: q:`acf_per_series`; signs: "
    "q:`runs_test_randomness`; scales: q:`haar_energy_spectrum`; "
    "TIMING: this). Determinism: integer-second gaps from one "
    "per-series lag window, exact bigint moments (gap^2 sums stay "
    "far under 2^63 for month-scale windows), then an identical "
    "IEEE sqrt/divide chain — emitted unrounded. One window shuffle, "
    "map-side-combinable moments.",
    tags=("timeseries", "stats", "window", "aggregation"),
)
def interarrival_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.candles import epoch_seconds

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    es = F.floor(epoch_seconds(F.col("ts"))).cast("bigint")
    g = ev.select(
        "event_type", (es - F.lag(es).over(w)).alias("gap")
    ).filter(F.col("gap").isNotNull())
    mom = g.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("gap").cast("bigint").alias("sg"),
        F.sum(F.col("gap") * F.col("gap")).cast("bigint").alias("sgg"),
    )
    cv = (
        F.sqrt((F.col("n") * F.col("sgg") - F.col("sg") * F.col("sg"))
               .cast("double"))
        / F.col("sg").cast("double")
    )
    return mom.select(
        "event_type",
        F.col("n").alias("n_gaps"),
        F.col("sg").alias("sum_gap_s"),
        cv.alias("cv"),
        ((cv - F.lit(1.0)) / (cv + F.lit(1.0))).alias("burstiness"),
    )


@register(
    "journey_entropy_rate",
    oracle="""
    WITH v AS (
      SELECT user_id, event_type, ts, event_id,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events
    ), big AS (
      SELECT event_type AS a, nxt AS b, CAST(count(*) AS BIGINT) AS c
      FROM v WHERE nxt IS NOT NULL GROUP BY 1, 2
    ), ca AS (SELECT a, CAST(sum(c) AS BIGINT) AS na FROM big GROUP BY 1)
    SELECT b.a AS event_type, ca.na AS n_transitions,
           CAST(CAST(sum(CAST(round(
               -1.0 * (CAST(b.c AS DOUBLE) / CAST(ca.na AS DOUBLE))
               * ln(CAST(b.c AS DOUBLE) / CAST(ca.na AS DOUBLE))
               * 1000000000) AS BIGINT)) AS BIGINT) AS DOUBLE)
               / 1000000000.0 AS entropy_nats
    FROM big b JOIN ca USING (a)
    GROUP BY 1, 2
    """,
    doc="First-order Markov entropy per journey state: for each "
    "current event type a, H(next | a) = -sum_b p(b|a) ln p(b|a) over "
    "the per-user event streams — the predictability measure of user "
    "journeys (ln(5)≈1.609 = memoryless uniform; lower = "
    "deterministic funnels). The information-theoretic companion to "
    "q:`priority_transition_matrix` (which reports the probabilities; "
    "this compresses each row to its entropy) and "
    "q:`column_mutual_information`. Determinism: transition counts "
    "are exact integers off ONE per-user lead() window; each "
    "transcendental cell term rounds to nano-units before the "
    "per-state integer sum. Scale: the window shuffle is keyed by "
    "user (fine-grained); everything after is |states|^2 cells.",
    tags=("timeseries", "stats", "window", "product-analytics"),
)
def journey_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    v = ev.select(
        "event_type",
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    big = v.groupBy(
        F.col("event_type").alias("a"), F.col("nxt").alias("b")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    ca = big.groupBy("a").agg(F.sum("c").cast("bigint").alias("na"))
    p = F.col("c").cast("double") / F.col("na").cast("double")
    t_nano = F.round(F.lit(-1.0) * p * F.log(p) * F.lit(1000000000)).cast(
        "bigint"
    )
    return (
        big.join(F.broadcast(ca), "a")
        .select(F.col("a").alias("event_type"),
                F.col("na").alias("n_transitions"), t_nano.alias("t_nano"))
        .groupBy("event_type", "n_transitions")
        .agg(
            (F.sum("t_nano").cast("bigint").cast("double")
             / F.lit(1000000000.0)).alias("entropy_nats")
        )
    )
