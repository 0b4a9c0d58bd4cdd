"""The medallion pipeline: bronze → silver → gold → quality checks.

Reference parity, generalized (SURVEY §3, §7 Phase 2):

- **bronze**: raw tick batch + literal metadata columns (P5: ``symbol``,
  ``extraction_date`` — extract_forex.py:137-139), written as
  hive-partitioned parquet ``year=/month=`` (S4, extract_forex.py:168).
- **silver** (stg_eurusd.sql:14-42): typed projection (P1), incremental
  high-watermark filter (P3), QUALIFY-style dedup on the event key (D2),
  audit timestamp (P6); appended, since the watermark makes the MERGE on
  the key (S9) a no-op.
- **gold** (fct_eurusd_timeframes.sql:15-86): reprocess from gold's own
  watermark (P4), multi-timeframe candles (T1-T4/U1/A1-A6), window
  indicators (W2-W4), md5 surrogate key (F1-F3); the MERGE on
  unique_id is a replace of the recomputed range.
- **checks**: Q1-Q3 dbt-test equivalents over gold.

Parameterized by (symbol, timeframes, SMA windows) instead of the
reference's hard-coded EUR/USD — one code path serves any series.

Incremental-correctness contract (SURVEY §7 hard-part 2): every row
``silver_run`` adds has ``observed_at`` above the silver watermark, and
gold's watermark ``wm`` (its max ``candle_start``) is at or below that
watermark, because a candle starts at or before its ticks. So a new row
lands in a candle starting at or after ``bucket_tf(wm)`` for every
timeframe ``tf``, and no candle before that edge can change — also when
gold lags silver by several runs. Gold recomputes candles from that
edge only and takes the window indicators' history (the last
max(sma)-1 candles before it, counted in rows) from stored gold. The
reference instead re-derives a fixed 60-day tail from silver
(fct:25-29), which only re-produces candles that cannot change. The
contract rests on silver changing only above its watermark: restating
silver below it (a backfill of old ticks, a corrected bar) requires a
gold rebuild — delete the gold table and the next ``gold_run`` rebuilds
it on its first-run path. The same holds for a change of
``timeframes`` or ``sma_windows``.

Silver and gold are read with their known schemas (``silver_schema``,
and ``gold_schema``, derived from ``gold_transform``), which spares the
schema-inference job per read; bronze keeps inference, as its columns
follow the vendor payload.
"""

from __future__ import annotations

import os
from collections.abc import Sequence
from dataclasses import dataclass, field
from datetime import timedelta

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

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


silver_schema = T.StructType(
    [T.StructField("observed_at", T.TimestampNTZType())]
    + [T.StructField(c, T.DoubleType())
       for c in ("open_price", "high_price", "low_price", "close_price")]
    + [T.StructField("symbol", T.StringType()),
       T.StructField("dbt_updated_at", T.TimestampType())]
)
"""The columns ``silver_transform`` writes, in order."""


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
    table, at the price of more small files: each run adds its part
    files, and no pipeline path compacts them.

    Bronze is read only from the watermark's ``year=/month=`` partition
    on: an older partition holds no row above the watermark, so it is
    neither listed nor read."""
    wm = high_watermark(spark, cfg.silver_path, "observed_at", silver_schema)
    bronze = spark.read.option("basePath", cfg.bronze_path).parquet(
        *_bronze_partitions_from(cfg.bronze_path, wm)
    )
    write_partitioned(silver_transform(bronze, wm), cfg.silver_path, mode="append")


def _bronze_partitions_from(path: str, wm) -> list[str]:
    """The ``year=Y/month=M`` directories of the bronze table at ``path``
    whose month is at or after ``wm``'s, or the whole table when there is
    no watermark. A NULL partition (``__HIVE_DEFAULT_PARTITION__``) is
    skipped: its rows have no ``observed_at`` to pass the watermark."""
    if wm is None:
        return [path]

    def value(d: str) -> int:
        v = d.split("=", 1)[1]
        return int(v) if v.isdigit() else -1

    return [
        os.path.join(path, y, m)
        for y in os.listdir(path) if y.startswith("year=")
        for m in os.listdir(os.path.join(path, y)) if m.startswith("month=")
        if (value(y), value(m)) >= (wm.year, wm.month)
    ]


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


_GOLD_SCHEMAS: dict[tuple[int, ...], T.StructType] = {}


def gold_schema(spark: SparkSession, cfg: PipelineConfig) -> T.StructType:
    """The columns ``gold_transform`` writes for ``cfg``, taken from its
    plan over an empty silver frame: no Spark job, but a few hundred ms
    of analysis, so each is kept by ``sma_windows``, the only setting
    the columns follow."""
    key = tuple(cfg.sma_windows)
    if key not in _GOLD_SCHEMAS:
        empty = spark.createDataFrame([], silver_schema)
        _GOLD_SCHEMAS[key] = gold_transform(cfg, empty).schema
    return _GOLD_SCHEMAS[key]


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
        candles, ["symbol", "timeframe"], cfg.sma_windows
    )
    return _finalize_gold(indicated)


def gold_run(spark: SparkSession, cfg: PipelineConfig) -> None:
    """Incremental gold (P4 + S9) — recomputed from gold's own watermark,
    seam-exact, unlike the reference.

    The reference re-aggregates a 60-day tail of silver and MERGEs it
    (fct:25-29). That design has two seam defects: (a) the tail's edge
    slices candles mid-bucket, so the edge candle is re-aggregated from
    partial ticks and overwrites a complete one; (b) SMA windows at the
    head of the recomputed tail are truncated, overwriting correct old
    values. And most of what it recomputes cannot have changed.

    Watermark-edge argument: every row silver gained since the last run
    has ``observed_at`` above the silver watermark, and gold's watermark
    ``wm`` (its max ``candle_start``) is at or below it. So every new row
    falls in a candle starting at or after ``bucket_tf(wm)``, each
    timeframe's own bucket of ``wm``, and no candle before that edge can
    change — however many silver runs gold missed. Hence:

    1. Recompute candles only from each timeframe's edge (a per-tf snap —
       no partial aggregates; with mixed clock shifts no single instant
       is a boundary for every timeframe). The silver scan is the rows
       since ``wm`` plus one coarsest bucket, and is small enough that
       one exploded aggregation beats the two-stage rollup.
    2. Take indicator *context* (the last max(sma)-1 candles before
       each timeframe's edge, by row count, as the SMA frames count
       rows: a time range would come up short after a weekend gap)
       from the EXISTING gold table — those candles are final, so
       re-reading them is exact and far cheaper than re-aggregating
       silver.
    3. Indicators are computed over context ∪ recomputed, then only
       rows at/after the edge are written.

    The MERGE on unique_id thus reduces to ``existing below the edge ∪
    recomputed``, written through one atomic swap — no key anti-join,
    and the recompute runs once. The one gold read serves the
    watermark, the indicator context and the kept rows. The kept rows
    are coalesced into one file, so after a run gold holds one file
    plus one per partition of the recompute, however many runs it has
    seen; its whole table is rewritten each run anyway.

    Restating silver below its watermark breaks the argument; it needs
    a gold rebuild: delete the gold table, and this function rebuilds
    it on its first-run path (a full ``gold_transform``).
    """
    silver = spark.read.schema(silver_schema).parquet(cfg.silver_path)
    gold = read_table(spark, cfg.gold_path, gold_schema(spark, cfg))
    wm = None if gold is None else column_max(gold, "candle_start")
    if wm is None:
        merge_upsert(
            spark, cfg.gold_path, gold_transform(cfg, silver), ["unique_id"],
            sort_within=("timeframe", "candle_start"),  # cluster_by, fct:11
        )
        return

    max_dur = max(tf.seconds for tf in cfg.timeframes)
    max_shift = max(tf.shift_seconds for tf in cfg.timeframes)

    # Coarse driver-side prefilter → parquet row-group/partition pruning;
    # the per-tf exploded filter inside multi_timeframe_ohlc is exact.
    scan_lo = wm - timedelta(seconds=max_dur + max_shift)
    recomputed = multi_timeframe_ohlc(
        silver.filter(F.col("observed_at") >= F.lit(scan_lo)),
        "observed_at", "close_price", ["symbol"],
        timeframes=cfg.timeframes,
        min_candle_start=wm,
        keep_spec=True,
        strategy="explode",
    )

    existing = _with_tf_spec(gold, cfg)
    edge = _edge_epoch(wm)
    cs_epoch = F.unix_timestamp(F.col("candle_start").cast("timestamp"))
    # The SMA frames count rows, and price_diff lags one: the context is
    # the last max(sma)-1 candles (at least 1) before each edge, however
    # far back a gap such as a weekend puts them. Ranked newest first
    # with the recomputed candles tied at rank 1, they are ranks
    # 2..max(sma); the rank filter runs as a per-partition limit before
    # the one shuffle, which the indicators' window reuses.
    context = existing.filter(cs_epoch < edge).select(
        "symbol", "timeframe", "dur_s", "shift_s", "candle_start",
        "open_value", "high_value", "low_value", "close_value", "n_ticks",
    )
    newest_first = Window.partitionBy("symbol", "timeframe").orderBy(
        F.least(cs_epoch, edge).desc()
    )
    unioned = (
        context.unionByName(recomputed.select(*context.columns))
        .withColumn("_rank", F.dense_rank().over(newest_first))
        .filter(F.col("_rank") <= max((*cfg.sma_windows, 2)))
        .drop("_rank")
    )
    indicated = with_indicators(
        unioned, ["symbol", "timeframe"], cfg.sma_windows
    )
    to_merge = _finalize_gold(indicated.filter(cs_epoch >= edge))
    kept = existing.filter(F.coalesce(cs_epoch < edge, F.lit(True))).select(
        *gold.columns
    ).coalesce(1)
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


def _edge_epoch(wm):
    """Per-timeframe merge edge as a Column expression factory: the
    bucket of ``wm`` in each row's own (dur_s, shift_s)."""
    cut = F.unix_timestamp(F.lit(wm).cast("timestamp"))
    return (
        F.floor((cut + F.col("shift_s")) / F.col("dur_s")) * F.col("dur_s")
        - F.col("shift_s")
    ).cast("long")


def gold_checks(spark: SparkSession, cfg: PipelineConfig) -> dict[str, int]:
    """Q1-Q3 (marts_eurusd.yml:1-21) over the materialized gold table."""
    gold = spark.read.schema(gold_schema(spark, cfg)).parquet(cfg.gold_path)
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
