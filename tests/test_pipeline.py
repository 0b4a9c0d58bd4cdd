"""Pipeline-level tests (SURVEY §5 plan): golden full-run, incremental ≡
full recompute across merge seams, idempotent re-runs — the behaviors
stg_eurusd.sql:18-21 / fct:25-29 exist to guarantee."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from forex_data_pipeline_spark.pipeline.medallion import (
    PipelineConfig,
    run_batch,
)
from forex_data_pipeline_spark.operators.candles import Timeframe

TFS = (Timeframe("5m", 300, 7200), Timeframe("1h", 3600, 7200),
       Timeframe("24h", 86400, 0))

SILVER_COLS = ["symbol", "observed_at", "open_price", "high_price",
               "low_price", "close_price"]
GOLD_COLS = ["unique_id", "symbol", "timeframe", "candle_start",
             "open_value", "high_value", "low_value", "close_value",
             "n_ticks", "price_diff", "sma_20", "sma_50"]


def make_ticks(start: str, periods: int, dup_every: int = 50) -> pd.DataFrame:
    """Deterministic 5-min tick batch shaped like the reference's raw
    payload: STRING OHLC columns (stg casts them, stg_eurusd.sql:27-31),
    with exact-duplicate rows injected every ``dup_every`` rows."""
    ts = pd.date_range(start=start, periods=periods, freq="5min")
    base = 1.08 + (pd.Series(range(periods)) * 7919 % 1000) / 10000.0
    df = pd.DataFrame(
        {
            "datetime": ts,
            "open": base.map("{:.6f}".format),
            "high": (base + 0.0005).map("{:.6f}".format),
            "low": (base - 0.0005).map("{:.6f}".format),
            "close": (base + 0.0001).map("{:.6f}".format),
        }
    )
    dups = df.iloc[::dup_every]
    return (
        pd.concat([df, dups])
        .sample(frac=1.0, random_state=7)  # out-of-order arrival
        .reset_index(drop=True)
    )


def _cfg(tmp_path, name: str, sma_windows=(20, 50)) -> PipelineConfig:
    return PipelineConfig(
        base_dir=f"{tmp_path}/{name}",
        timeframes=TFS,
        sma_windows=sma_windows,
    )


def _collect(spark, path, cols):
    return (
        spark.read.parquet(path)
        .select(*cols)
        .toPandas()
        .sort_values(cols[:4])
        .reset_index(drop=True)
    )


def test_full_pipeline_green(spark, tmp_path):
    cfg = _cfg(tmp_path, "full")
    raw = spark.createDataFrame(make_ticks("2024-03-01", 288 * 8))
    checks = run_batch(spark, cfg, raw)
    assert all(v == 0 for v in checks.values()), checks
    gold = spark.read.parquet(cfg.gold_path)
    assert {r["timeframe"] for r in gold.select("timeframe").distinct().collect()} == {
        "5m", "1h", "24h"
    }
    # 8 days of 24h candles; intraday counts follow the grid
    assert gold.filter("timeframe = '24h'").count() == 8
    day1_5m = gold.filter(
        "timeframe = '5m' AND candle_start >= '2024-03-02' "
        "AND candle_start < '2024-03-03'"
    )
    assert day1_5m.count() == 288
    assert day1_5m.filter("n_ticks != 1").count() == 0  # dedup held


@pytest.mark.parametrize("sma_windows", [(20, 50), ()], ids=["sma20_50", "no_sma"])
def test_incremental_equals_full_recompute(spark, tmp_path, sma_windows):
    """Three daily batches with overlapping re-fetches (late duplicates)
    must converge to byte-identical silver+gold vs one full run, also
    when no SMA is configured (the context then is price_diff's lag)."""
    # gold's watermark edge lands mid-candle for the coarser timeframes
    # and the SMA-50 window reaches far past it — both the per-tf
    # boundary snap and the existing-gold context path must engage for
    # equality to hold.
    inc = _cfg(tmp_path, "inc", sma_windows)
    full = _cfg(tmp_path, "fullr", sma_windows)
    gold_cols = [c for c in GOLD_COLS if not c.startswith("sma_")] + [
        f"sma_{w}" for w in sma_windows
    ]

    # batches overlap by half a day — the high-watermark filter (P3)
    # must drop the re-fetched tail, the merge (S9) must never dup.
    b1 = make_ticks("2024-03-01", 288 * 3)
    b2 = make_ticks("2024-03-03 12:00", 288 * 3)   # overlaps day 3
    b3 = make_ticks("2024-03-06", 288 * 2)         # overlaps b2's tail
    for b in (b1, b2, b3):
        run_batch(spark, inc, spark.createDataFrame(b))

    run_batch(
        spark, full,
        spark.createDataFrame(pd.concat([b1, b2, b3], ignore_index=True)),
    )

    for path_attr, cols in (("silver_path", SILVER_COLS), ("gold_path", gold_cols)):
        got = _collect(spark, getattr(inc, path_attr), cols)
        exp = _collect(spark, getattr(full, path_attr), cols)
        pd.testing.assert_frame_equal(got, exp, check_like=True)


def test_incremental_across_weekend_gap_equals_full_recompute(spark, tmp_path):
    """FX has no weekend ticks. The SMA windows count candles, not time,
    so the candles before a gap still feed the first SMAs after it: an
    incremental day must take its indicator history by row count."""
    inc = _cfg(tmp_path, "gap")
    full = _cfg(tmp_path, "gapfull")
    b1 = pd.concat(  # Thu-Fri, no Sat/Sun, Mon
        [make_ticks("2024-03-07", 288 * 2), make_ticks("2024-03-11", 288)],
        ignore_index=True,
    )
    b2 = make_ticks("2024-03-12", 288)  # Tue
    for b in (b1, b2):
        run_batch(spark, inc, spark.createDataFrame(b))

    run_batch(
        spark, full, spark.createDataFrame(pd.concat([b1, b2], ignore_index=True))
    )
    pd.testing.assert_frame_equal(
        _collect(spark, inc.gold_path, GOLD_COLS),
        _collect(spark, full.gold_path, GOLD_COLS),
        check_like=True,
    )


def test_idempotent_rerun(spark, tmp_path):
    """Re-running the same batch must be a no-op (exactly-once semantics
    the reference gets from MERGE + watermark, SURVEY §2.10)."""
    cfg = _cfg(tmp_path, "idem")
    raw = make_ticks("2024-03-01", 288 * 2)
    run_batch(spark, cfg, spark.createDataFrame(raw))
    before_s = _collect(spark, cfg.silver_path, SILVER_COLS)
    before_g = _collect(spark, cfg.gold_path, GOLD_COLS)

    run_batch(spark, cfg, spark.createDataFrame(raw))  # same batch again
    after_s = _collect(spark, cfg.silver_path, SILVER_COLS)
    after_g = _collect(spark, cfg.gold_path, GOLD_COLS)

    pd.testing.assert_frame_equal(before_s, after_s)
    pd.testing.assert_frame_equal(before_g, after_g)


def _part_files(path: str) -> dict[str, int]:
    return {
        f: os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if not f.startswith((".", "_"))
    }


def test_incremental_silver_appends_and_leaves_stored_files(spark, tmp_path):
    """Silver only grows at its tail (the watermark filter), so an
    incremental day appends its batch as new part files: every stored
    part file keeps its name and size."""
    cfg = _cfg(tmp_path, "append")
    run_batch(spark, cfg, spark.createDataFrame(make_ticks("2024-03-01", 288 * 2)))
    before = _part_files(cfg.silver_path)
    n_before = spark.read.parquet(cfg.silver_path).count()

    # half of this batch re-delivers stored rows; 144 bars are new
    run_batch(
        spark, cfg, spark.createDataFrame(make_ticks("2024-03-02 12:00", 288))
    )
    after = _part_files(cfg.silver_path)
    assert {f: after.get(f) for f in before} == before
    assert len(after) > len(before)
    assert spark.read.parquet(cfg.silver_path).count() == n_before + 144


def test_gold_rows_before_edge_keep_dbt_updated_at(spark, tmp_path):
    """Gold replaces only the recomputed range: candles before each
    timeframe's merge edge are carried over as stored (same
    dbt_updated_at); every candle at or after it is rewritten."""
    cfg = _cfg(tmp_path, "edge")
    run_batch(spark, cfg, spark.createDataFrame(make_ticks("2024-03-01", 288 * 4)))
    cols = ["unique_id", "timeframe", "candle_start", "dbt_updated_at"]
    before = spark.read.parquet(cfg.gold_path).select(*cols).toPandas()
    run_batch(spark, cfg, spark.createDataFrame(make_ticks("2024-03-05", 288)))
    after = spark.read.parquet(cfg.gold_path).select("unique_id", "dbt_updated_at")
    both = before.merge(after.toPandas(), on="unique_id", suffixes=("", "_new"))
    assert len(both) == len(before)  # nothing stored was dropped

    def epoch(ts):
        return (ts - pd.Timestamp("1970-01-01")) // pd.Timedelta("1s")

    cut = epoch(before.candle_start.max())
    tf = {t.name: t for t in TFS}
    edge = both.timeframe.map(
        lambda n: (cut + tf[n].shift_seconds) // tf[n].seconds * tf[n].seconds
        - tf[n].shift_seconds
    )
    below = epoch(both.candle_start) < edge
    assert below.any() and (~below).any()
    kept = both[below]
    assert (kept.dbt_updated_at_new == kept.dbt_updated_at).all()
    redone = both[~below]
    assert (redone.dbt_updated_at_new > redone.dbt_updated_at).all()


def test_gold_file_count_does_not_grow_with_runs(spark, tmp_path):
    """Gold is rewritten whole on every run, its kept rows into one file,
    so its file count stays flat however many days it has seen."""
    cfg = _cfg(tmp_path, "files")
    counts = []
    for day in range(1, 6):
        run_batch(
            spark, cfg, spark.createDataFrame(make_ticks(f"2024-03-0{day}", 288))
        )
        counts.append(len(_part_files(cfg.gold_path)))
    assert counts[-1] <= counts[1], counts


def test_gold_keeps_rows_of_a_dropped_timeframe(spark, tmp_path):
    """A timeframe removed from the config is no longer recomputed, and
    the range replace must still carry its stored candles over, as the
    MERGE on unique_id did."""
    from dataclasses import replace

    cfg = _cfg(tmp_path, "dropped")
    run_batch(spark, cfg, spark.createDataFrame(make_ticks("2024-03-01", 288 * 4)))
    stored = _collect(spark, cfg.gold_path, GOLD_COLS)
    run_batch(
        spark, replace(cfg, timeframes=TFS[:2]),
        spark.createDataFrame(make_ticks("2024-03-05", 288)),
    )
    got = _collect(spark, cfg.gold_path, GOLD_COLS)
    pd.testing.assert_frame_equal(
        got[got.timeframe == "24h"].reset_index(drop=True),
        stored[stored.timeframe == "24h"].reset_index(drop=True),
    )


def test_incremental_symbol_day_job_budget(spark, tmp_path):
    """Spark jobs of one incremental symbol-day, per model, counted by
    job group. The budgets equal today's counts, so a change that adds
    a job (a second read of a table, a count() per check, a key
    anti-join) fails here. Today: silver infers bronze's schema and
    takes its watermark in one job each, then one shuffle and one
    append; gold takes its watermark in one job, then two shuffles (the
    candles, the indicators) and one write; checks count every check in
    one action of two jobs. Silver and gold are read with their known
    schemas, so reading them costs no job."""
    from forex_data_pipeline_spark.pipeline.medallion import (
        bronze_ingest,
        gold_checks,
        gold_run,
        silver_run,
    )

    budget = {"bronze": 1, "silver": 4, "gold": 4, "checks": 2}
    cfg = _cfg(tmp_path, "budget")
    run_batch(spark, cfg, spark.createDataFrame(make_ticks("2024-03-01", 288 * 4)))
    run_batch(spark, cfg, spark.createDataFrame(make_ticks("2024-03-05", 288)))
    raw = spark.createDataFrame(make_ticks("2024-03-05 12:00", 288))
    sc = spark.sparkContext
    jobs = {}
    for layer, run in (
        ("bronze", lambda: bronze_ingest(cfg, raw)),
        ("silver", lambda: silver_run(spark, cfg)),
        ("gold", lambda: gold_run(spark, cfg)),
        ("checks", lambda: gold_checks(spark, cfg)),
    ):
        group = f"budget:{tmp_path.name}:{layer}"
        sc.setJobGroup(group, layer)
        try:
            run()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs[layer] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert all(jobs[k] <= budget[k] for k in budget), (jobs, budget)


def test_gold_lagging_silver_equals_full_recompute(spark, tmp_path):
    """Gold recomputes from its own watermark, not silver's: silver may
    take several batches while gold does not run, and the next gold run
    still equals a full recompute."""
    from forex_data_pipeline_spark.pipeline.medallion import (
        bronze_ingest,
        gold_run,
        silver_run,
    )

    inc = _cfg(tmp_path, "lag")
    full = _cfg(tmp_path, "lagfull")
    b1 = make_ticks("2024-03-01", 288 * 3)
    b2 = make_ticks("2024-03-03 12:00", 288 * 2)
    b3 = make_ticks("2024-03-05", 288 * 2)
    run_batch(spark, inc, spark.createDataFrame(b1))
    for b in (b2, b3):  # two silver runs that gold does not see
        bronze_ingest(inc, spark.createDataFrame(b))
        silver_run(spark, inc)
    gold_run(spark, inc)

    run_batch(
        spark, full,
        spark.createDataFrame(pd.concat([b1, b2, b3], ignore_index=True)),
    )
    pd.testing.assert_frame_equal(
        _collect(spark, inc.gold_path, GOLD_COLS),
        _collect(spark, full.gold_path, GOLD_COLS),
        check_like=True,
    )


def test_silver_schema_matches_transform_output(spark):
    """The schema silver is read with is the one silver_transform writes,
    by names and types. (Gold's is derived from gold_transform.)"""
    from forex_data_pipeline_spark.pipeline.medallion import (
        silver_schema,
        silver_transform,
    )

    raw = spark.createDataFrame(make_ticks("2024-03-01", 12)).withColumn(
        "symbol", F.lit("EUR/USD")
    )

    def fields(schema):
        return [(f.name, f.dataType) for f in schema.fields]

    assert fields(silver_transform(raw).schema) == fields(silver_schema)


def test_silver_skips_bronze_months_below_watermark(spark, tmp_path):
    """silver_run reads bronze only from the silver watermark's month
    on: a bronze partition of an older month is neither listed nor read,
    so even an unreadable file there leaves the run unaffected."""
    cfg = _cfg(tmp_path, "prune")
    run_batch(spark, cfg, spark.createDataFrame(make_ticks("2024-02-27", 288 * 4)))
    old_month = os.path.join(cfg.bronze_path, "year=2024", "month=2")
    assert os.path.isdir(old_month)
    for f in os.listdir(old_month):
        if f.endswith(".parquet"):
            with open(os.path.join(old_month, f), "wb") as fh:
                fh.write(b"not parquet")
    n_before = spark.read.parquet(cfg.silver_path).count()

    # half of this batch re-delivers stored bars; 144 are new, in March
    run_batch(
        spark, cfg, spark.createDataFrame(make_ticks("2024-03-01 12:00", 288))
    )
    assert spark.read.parquet(cfg.silver_path).count() == n_before + 144


def test_run_checks_counts_every_check(spark):
    from forex_data_pipeline_spark.operators.quality import (
        accepted_values_violations,
        not_null_violations,
        run_checks,
        unique_violations,
    )

    bad = spark.createDataFrame(
        [("a", "5m"), ("a", "5m"), ("b", "99x"), (None, "5m")],
        "unique_id string, timeframe string",
    )
    assert run_checks(
        {
            "unique": unique_violations(bad, ["unique_id", "timeframe"]),
            "not_null": not_null_violations(bad, "unique_id"),
            "not_null_tf": not_null_violations(bad, "timeframe"),
            "accepted": accepted_values_violations(bad, "timeframe", ["5m"]),
        }
    ) == {"unique": 1, "not_null": 1, "not_null_tf": 0, "accepted": 1}
    assert run_checks({}) == {}


def test_quality_checks_catch_violations(spark, tmp_path):
    """The Q1-Q3 machinery must actually fire on bad data."""
    from forex_data_pipeline_spark.operators.quality import (
        accepted_values_violations,
        unique_violations,
    )

    bad = spark.createDataFrame(
        [("a", "5m"), ("a", "5m"), ("b", "99x")], "unique_id string, timeframe string"
    )
    assert unique_violations(bad, ["unique_id", "timeframe"]).count() == 1
    assert accepted_values_violations(bad, "timeframe", ["5m"]).count() == 1


def test_run_daily_from_rest_source(spark, tmp_path):
    """EP1+EP3: vendor payload (via fake transport) → bronze → silver →
    gold, quality-green, with the S2 retry wrapper in the path."""
    from datetime import datetime

    from forex_data_pipeline_spark.pipeline.medallion import run_daily
    from forex_data_pipeline_spark.sources.rest import (
        RetryPolicy,
        TimeSeriesRestSource,
    )

    calls = {"n": 0}

    def transport(symbol, interval, start, end, outputsize):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("rate limit")  # exercise the retry path
        pdf = make_ticks(start, 288).set_index("datetime")
        pdf.index.name = "datetime"
        return pdf

    src = TimeSeriesRestSource(
        transport=transport,
        retry=RetryPolicy(sleep=lambda _s: None),
        now=lambda: datetime(2026, 1, 3, 1, 0, 0),
    )
    cfg = _cfg(tmp_path, "daily")
    checks = run_daily(spark, cfg, src, "2026-01-02")
    assert checks is not None
    assert all(v == 0 for v in checks.values()), checks
    gold = spark.read.parquet(cfg.gold_path)
    assert gold.count() > 0
    assert calls["n"] == 2  # one throttle + one success


# ---------------------------------------------------------------------------
# Round 6: concurrent model runner (dbt `threads: 4` parity)
# ---------------------------------------------------------------------------


def test_runner_validates_dag():
    from forex_data_pipeline_spark.pipeline.runner import Model, validate

    with pytest.raises(ValueError, match="duplicate"):
        validate([Model("a", lambda s: None), Model("a", lambda s: None)])
    with pytest.raises(ValueError, match="unknown"):
        validate([Model("a", lambda s: None, ("ghost",))])
    with pytest.raises(ValueError, match="cycle"):
        validate(
            [
                Model("a", lambda s: None, ("b",)),
                Model("b", lambda s: None, ("a",)),
            ]
        )


def test_runner_failure_skips_downstream_only(spark):
    from forex_data_pipeline_spark.pipeline.runner import Model, run_models

    def boom(sp):
        raise RuntimeError("boom")

    res = run_models(
        spark,
        [
            Model("ok_root", lambda sp: 1),
            Model("bad", boom),
            Model("child_of_bad", lambda sp: 2, ("bad",)),
            Model("grandchild", lambda sp: 3, ("child_of_bad",)),
            Model("independent", lambda sp: 4, ("ok_root",)),
        ],
        threads=2,
    )
    assert res["ok_root"].status == "success"
    assert res["bad"].status == "error"
    assert res["child_of_bad"].status == "skipped"
    assert res["grandchild"].status == "skipped"
    assert res["independent"].status == "success"


def test_concurrent_two_symbols_overlap_and_match_sequential(
    spark, tmp_path
):
    """Two independent symbol pipelines through the threaded runner:
    (a) silver and gold tables are IDENTICAL to running each pipeline
    sequentially; (b) the monotonic start/finish stamps prove at least
    one pair of models from different symbols actually overlapped —
    the dbt `threads: 4` behavior, not a serialized DAG walk."""
    from forex_data_pipeline_spark.pipeline.runner import (
        run_batch_concurrent,
    )

    ticks = make_ticks("2024-01-01", 4000)

    def mk(prefix, symbol):
        cfg = PipelineConfig(
            base_dir=f"{tmp_path}/{prefix}/{symbol.replace('/', '_')}",
            symbol=symbol,
            timeframes=TFS,
            sma_windows=(20, 50),
        )
        return cfg

    # sequential reference run
    seq_tables = {}
    for sym in ("EUR/USD", "GBP/USD"):
        cfg = mk("seq", sym)
        raw = spark.createDataFrame(ticks)
        run_batch(spark, cfg, raw)
        seq_tables[sym] = _collect(spark, cfg.gold_path, GOLD_COLS)

    # concurrent run
    cfgs = [(mk("conc", sym), spark.createDataFrame(ticks))
            for sym in ("EUR/USD", "GBP/USD")]
    res = run_batch_concurrent(spark, cfgs, threads=4)
    assert all(r.status == "success" for r in res.values()), {
        n: (r.status, r.error) for n, r in res.items()
    }

    for cfg, _ in cfgs:
        got = _collect(spark, cfg.gold_path, GOLD_COLS)
        ref = seq_tables[cfg.symbol]
        pd.testing.assert_frame_equal(
            got.drop(columns=["unique_id"]).reset_index(drop=True),
            ref.drop(columns=["unique_id"]).reset_index(drop=True),
        )

    # overlap proof: some model of symbol A ran inside the span of a
    # model of symbol B
    def spans(sym_key):
        return [
            (r.started, r.finished)
            for n, r in res.items()
            if n.endswith(sym_key)
        ]

    overlapped = any(
        a_start < b_end and b_start < a_end
        for a_start, a_end in spans("eur_usd")
        for b_start, b_end in spans("gbp_usd")
    )
    assert overlapped, res
