"""The medallion pipeline: bronze → silver → gold → quality checks.

Reference parity, generalized (SURVEY §3, §7 Phase 2):

- **bronze**: raw tick batch + literal metadata columns (P5: ``symbol``,
  ``extraction_date`` — extract_forex.py:137-139), written as
  hive-partitioned parquet ``year=/month=`` (S4, extract_forex.py:168).
- **silver** (stg_eurusd.sql:14-42): typed projection (P1), incremental
  high-watermark filter (P3), QUALIFY-style dedup on the event key (D2),
  audit timestamp (P6); appended, since the watermark makes the MERGE on
  the key (S9) a no-op.
- **gold** (fct_eurusd_timeframes.sql:15-86): N-day lookback reprocess
  (P4), multi-timeframe candles (T1-T4/U1/A1-A6), window indicators
  (W2-W4), md5 surrogate key (F1-F3); the MERGE on unique_id is a
  replace of the recomputed range.
- **checks**: Q1-Q3 dbt-test equivalents over gold.

Parameterized by (symbol, timeframes, lookback) instead of the
reference's hard-coded EUR/USD — one code path serves any series.

Incremental-correctness contract (SURVEY §7 hard-part 2): the gold
lookback must cover ``max(sma window) × max(timeframe)`` so window
indicators are recomputed with full history at the merge seam; the
reference's 60-day lookback encodes exactly that for SMA-50 × 24 h.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass, field
from datetime import timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.candles import (
    REFERENCE_TIMEFRAMES,
    Timeframe,
    multi_timeframe_ohlc,
)
from ..operators.dedup import keyed_latest
from ..operators.indicators import with_indicators
from ..operators.quality import (
    accepted_values_violations,
    not_null_violations,
    run_checks,
    unique_violations,
)
from ..sources.writers import (
    column_max,
    high_watermark,
    merge_upsert,
    read_table,
    replace_table,
    write_partitioned,
)


@dataclass
class PipelineConfig:
    base_dir: str
    symbol: str = "EUR/USD"
    timeframes: Sequence[Timeframe] = field(default=REFERENCE_TIMEFRAMES)
    lookback_days: int = 60  # fct:28
    sma_windows: Sequence[int] = (20, 50)

    @property
    def bronze_path(self) -> str:
        sym = self.symbol.replace("/", "_").lower()  # extract_forex.py:165
        return f"{self.base_dir}/bronze/{sym}"

    @property
    def silver_path(self) -> str:
        return f"{self.base_dir}/silver"

    @property
    def gold_path(self) -> str:
        return f"{self.base_dir}/gold"


def bronze_ingest(cfg: PipelineConfig, raw: DataFrame) -> None:
    """Raw batch (string OHLC columns + ``datetime``, like the Twelve
    Data payload) → metadata columns → partitioned parquet append."""
    enriched = (
        raw.withColumn("symbol", F.lit(cfg.symbol))            # P5
        .withColumn("extraction_date", F.current_timestamp())  # P5
        .withColumn("year", F.year("datetime"))
        .withColumn("month", F.month("datetime"))
    )
    write_partitioned(
        enriched, cfg.bronze_path, ("year", "month"), mode="append",
        coalesce_small=True,
    )


def silver_transform(bronze: DataFrame, watermark=None) -> DataFrame:
    """stg_eurusd.sql:14-42 semantics on a bronze DataFrame."""
    typed = bronze.select(                                     # P1
        F.col("datetime").cast("timestamp_ntz").alias("observed_at"),
        F.col("open").cast("double").alias("open_price"),
        F.col("high").cast("double").alias("high_price"),
        F.col("low").cast("double").alias("low_price"),
        F.col("close").cast("double").alias("close_price"),
        F.col("symbol"),
    )
    if watermark is not None:                                  # P3
        typed = typed.filter(F.col("observed_at") > F.lit(watermark))
    deduped = keyed_latest(                                    # D2
        typed,
        ["symbol", "observed_at"],
        [F.col("observed_at").desc()],
    )
    return deduped.withColumn("dbt_updated_at", F.current_timestamp())  # P6


def silver_run(spark: SparkSession, cfg: PipelineConfig) -> None:
    """Incremental silver, append-only.

    ``silver_transform`` keeps only rows above the table's high
    watermark, so silver grows only at its tail: no batch key can
    collide with a stored one, and the MERGE's anti-join would remove
    nothing. That holds on the first run too: with no watermark the
    table is missing, empty or all-NULL keyed, and NULL keys never
    match. Every run appends its batch as new part files and leaves the
    stored ones untouched. A day therefore costs its batch, not the
    table, at the price of one more small file per run —
    ``sources.writers.compact`` folds those back together."""
    bronze = spark.read.parquet(cfg.bronze_path)
    wm = high_watermark(spark, cfg.silver_path, "observed_at")
    write_partitioned(silver_transform(bronze, wm), cfg.silver_path, mode="append")


def _finalize_gold(candles_with_indicators: DataFrame) -> DataFrame:
    return candles_with_indicators.withColumn(
        "unique_id",                                           # F1-F3, fct:83
        F.md5(
            F.concat_ws(
                "|", "symbol", "timeframe",
                F.col("candle_start").cast("string"),
            )
        ),
    ).withColumn("dbt_updated_at", F.current_timestamp())


def gold_transform(cfg: PipelineConfig, silver: DataFrame) -> DataFrame:
    """fct_eurusd_timeframes.sql:15-86 semantics, full recompute.

    Uses close_price as the candle value stream (the reference carries
    all four OHLC inputs through; the candle's own open/high/low/close
    are recomputed from the 5-min closes per timeframe, which is the
    same computation shape with one value column)."""
    candles = multi_timeframe_ohlc(
        silver, "observed_at", "close_price", ["symbol"],
        timeframes=cfg.timeframes,
    )
    indicated = with_indicators(
        candles, ["symbol", "timeframe"], "candle_start",
        "close_value", cfg.sma_windows,
    )
    return _finalize_gold(indicated)


def gold_run(spark: SparkSession, cfg: PipelineConfig) -> None:
    """Incremental gold (P4 + S9) — seam-exact, unlike the reference.

    The reference re-aggregates a 60-day tail of silver and MERGEs it
    (fct:25-29). That design has two seam defects: (a) the lookback edge
    slices candles mid-bucket, so the edge candle is re-aggregated from
    partial ticks and overwrites a complete one; (b) SMA windows at the
    head of the recomputed tail are truncated, overwriting correct old
    values. Both are fixed here:

    1. Recompute candles only from each timeframe's OWN boundary at/below
       the cutoff (per-tf snap — no partial aggregates; with mixed clock
       shifts no single instant is a boundary for every timeframe).
    2. Take indicator *context* (the max(sma)−1 candles before each
       timeframe's edge) from the EXISTING gold table — those candles
       are final, so re-reading them is both exact and far cheaper than
       re-aggregating weeks of silver: the silver scan shrinks to
       ~lookback + one coarsest bucket, and window history costs one
       pruned read of an already-materialized table. At 100 TB this is
       the difference between scanning days and scanning months.
    3. Indicators are computed over context ∪ recomputed, then only
       rows at/after the merge edge are written.

    Range-replace contract: silver below its watermark never changes
    (``silver_run`` only appends), so every stored candle at or after
    its timeframe's edge is recomputed and none before it is. The MERGE
    on unique_id thus reduces to ``existing below the edge ∪
    recomputed``, written through one atomic swap — no key anti-join,
    and the recompute runs once. The one gold read serves the
    watermark, the indicator context and the kept rows.
    """
    silver = spark.read.parquet(cfg.silver_path)
    gold = read_table(spark, cfg.gold_path)
    wm = None if gold is None else column_max(gold, "candle_start")
    if wm is None:
        merge_upsert(
            spark, cfg.gold_path, gold_transform(cfg, silver), ["unique_id"],
            sort_within=("timeframe", "candle_start"),  # cluster_by, fct:11
        )
        return

    cutoff = wm - timedelta(days=cfg.lookback_days)            # P4, fct:28
    sma_max = max(cfg.sma_windows)
    max_dur = max(tf.seconds for tf in cfg.timeframes)
    max_shift = max(tf.shift_seconds for tf in cfg.timeframes)

    # Coarse driver-side prefilter → parquet row-group/partition pruning;
    # the per-tf exploded filter inside multi_timeframe_ohlc is exact.
    scan_lo = cutoff - timedelta(seconds=max_dur + max_shift)
    recomputed = multi_timeframe_ohlc(
        silver.filter(F.col("observed_at") >= F.lit(scan_lo)),
        "observed_at", "close_price", ["symbol"],
        timeframes=cfg.timeframes,
        min_candle_start=cutoff,
        keep_spec=True,
    )

    existing = _with_tf_spec(gold, cfg)
    edge = _edge_epoch(cutoff)
    cs_epoch = F.unix_timestamp(F.col("candle_start").cast("timestamp"))
    context = existing.filter(
        (cs_epoch < edge) & (cs_epoch >= edge - sma_max * F.col("dur_s"))
    ).select(
        "symbol", "timeframe", "dur_s", "shift_s", "candle_start",
        "open_value", "high_value", "low_value", "close_value", "n_ticks",
    )

    unioned = context.unionByName(recomputed.select(*context.columns))
    indicated = with_indicators(
        unioned, ["symbol", "timeframe"], "candle_start",
        "close_value", cfg.sma_windows,
    )
    to_merge = _finalize_gold(indicated.filter(cs_epoch >= edge))
    kept = existing.filter(F.coalesce(cs_epoch < edge, F.lit(True))).select(
        *gold.columns
    )
    replace_table(
        kept.unionByName(to_merge.select(*gold.columns)), cfg.gold_path,
        sort_within=("timeframe", "candle_start"),      # cluster_by, fct:11
    )


def _with_tf_spec(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Attach each row's ``dur_s``/``shift_s`` from literal maps — no
    join, so no broadcast job. A timeframe no longer configured gets
    NULLs, which keep its stored rows out of the recompute."""
    def spec(attr: str):
        pairs = [F.lit(v) for tf in cfg.timeframes for v in (tf.name, getattr(tf, attr))]
        return F.create_map(*pairs)[F.col("timeframe")]

    return df.withColumn("dur_s", spec("seconds")).withColumn(
        "shift_s", spec("shift_seconds")
    )


def _edge_epoch(cutoff):
    """Per-timeframe merge edge as a Column expression factory: the
    bucket of ``cutoff`` in each row's own (dur_s, shift_s)."""
    cut = F.unix_timestamp(F.lit(cutoff).cast("timestamp"))
    return (
        F.floor((cut + F.col("shift_s")) / F.col("dur_s")) * F.col("dur_s")
        - F.col("shift_s")
    ).cast("long")


def gold_checks(spark: SparkSession, cfg: PipelineConfig) -> dict[str, int]:
    """Q1-Q3 (marts_eurusd.yml:1-21) over the materialized gold table."""
    gold = spark.read.parquet(cfg.gold_path)
    tf_names = [tf.name for tf in cfg.timeframes]
    return run_checks(
        {
            "unique__unique_id": unique_violations(gold, ["unique_id"]),
            "not_null__unique_id": not_null_violations(gold, "unique_id"),
            "not_null__candle_start": not_null_violations(gold, "candle_start"),
            "accepted_values__timeframe": accepted_values_violations(
                gold, "timeframe", tf_names
            ),
        }
    )


def run_batch(
    spark: SparkSession, cfg: PipelineConfig, raw: DataFrame
) -> dict[str, int]:
    """EP3 equivalent (daily_run.yml DAG as plain control flow):
    extract→bronze→silver→gold→checks for one raw batch."""
    bronze_ingest(cfg, raw)
    silver_run(spark, cfg)
    gold_run(spark, cfg)
    return gold_checks(spark, cfg)


def run_daily(
    spark: SparkSession,
    cfg: PipelineConfig,
    source,
    date_str: str,
) -> dict[str, int] | None:
    """EP1 + EP3 end-to-end for one UTC day: REST fetch through the
    retry wrapper (S1/S2, sources/rest.py), then the medallion DAG.
    Returns the quality-check result, or None when the vendor returned
    an empty day (the reference aborts that run with a non-zero exit,
    extract_forex.py:245-247)."""
    raw = source.to_spark(spark, date_str)
    if raw is None:
        return None
    return run_batch(spark, cfg, raw)
