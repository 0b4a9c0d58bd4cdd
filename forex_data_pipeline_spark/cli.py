"""EP1-parity command line: the reference's daily-extraction entry
point (`scripts/extract_forex.py --symbol --interval --date
--lookback-days`, extract_forex.py:270-290) re-expressed over the
Spark medallion pipeline.

    python -m forex_data_pipeline_spark.cli \
        --symbol EUR/USD --interval 5min --date 2026-01-02 \
        --lookback-days 1 --warehouse /tmp/fx_wh \
        --transport synthetic

Transports (the network boundary is injected, like the test suite):
- ``synthetic``      — deterministic hash-derived OHLC bars: runs the
                       full pipeline end-to-end with no network (this
                       container has none).
- ``replay:<path>``  — serve the requested day from a tick parquet
                       (e.g. the events testdata), the
                       record-and-replay pattern for backfills.

Exit codes mirror the reference (extract_forex.py:245-247, :290):
0 = success, 1 = a requested day returned no data or the run failed.
"""

from __future__ import annotations

import argparse
import hashlib
import sys
from datetime import datetime, timedelta, timezone

import pandas as pd

from .pipeline.medallion import PipelineConfig
from .pipeline.runner import run_batch_concurrent
from .session import get_spark
from .sources.rest import TimeSeriesRestSource


def synthetic_transport(symbol, interval, start, end, outputsize):
    """Deterministic fake vendor: 5-minute bars for the requested day,
    values derived from md5(symbol, bar start) — reproducible across
    runs/machines, no randomness."""
    day = start.split(" ")[0]
    idx = pd.date_range(
        f"{day} 00:00:00", f"{day} 23:55:00", freq="5min"
    )[:outputsize]
    def px(ts, leg):
        h = hashlib.md5(f"{symbol}|{ts}|{leg}".encode()).hexdigest()
        return 1.0 + int(h[:6], 16) / 16777215 * 0.1
    frame = pd.DataFrame(
        {
            "open": [px(t, "o") for t in idx],
            "high": [px(t, "h") for t in idx],
            "low": [px(t, "l") for t in idx],
            "close": [px(t, "c") for t in idx],
        },
        index=idx,
    )
    frame["high"] = frame[["open", "high", "low", "close"]].max(axis=1)
    frame["low"] = frame[["open", "high", "low", "close"]].min(axis=1)
    frame.index.name = "datetime"  # vendor index name, to_spark contract
    return frame


def replay_transport(path: str):
    """Serve (ts, value)-shaped parquet ticks as OHLC bars for the
    requested window — deterministic backfill replay."""

    def transport(symbol, interval, start, end, outputsize):
        pdf = pd.read_parquet(path)
        ts_col = "ts" if "ts" in pdf.columns else pdf.columns[0]
        val_col = "value" if "value" in pdf.columns else pdf.columns[1]
        ts = pd.to_datetime(pdf[ts_col])
        m = (ts >= pd.Timestamp(start)) & (ts <= pd.Timestamp(end))
        sel = pdf[m].copy()
        if sel.empty:
            return pd.DataFrame()
        # first()/last() are row-order semantics: sort by tick time or
        # open/close silently follow parquet file order
        sel = sel.sort_values(ts_col, kind="stable")
        sel["bar"] = pd.to_datetime(sel[ts_col]).dt.floor("5min")
        g = sel.groupby("bar")[val_col]
        out = pd.DataFrame(
            {
                "open": g.first(),
                "high": g.max(),
                "low": g.min(),
                "close": g.last(),
            }
        )
        out.index.name = "datetime"
        return out.iloc[:outputsize]

    return transport


def make_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="forex_data_pipeline_spark",
        description="Daily extraction + medallion pipeline (EP1/EP3).",
    )
    p.add_argument(
        "--symbol",
        default="EUR/USD",
        help="one symbol, or comma-separated symbols (e.g. "
        "'EUR/USD,GBP/USD'); every symbol's medallion DAG runs through "
        "the dbt-style threaded model runner, several CONCURRENTLY, "
        "each under <warehouse>/<symbol>/",
    )
    p.add_argument(
        "--threads",
        type=int,
        default=4,  # profiles.yml threads: 4 (reference README:147)
        help="max concurrent models",
    )
    p.add_argument("--interval", default="5min")
    p.add_argument(
        "--date",
        default=None,
        help="UTC day YYYY-MM-DD; defaults to yesterday (reference "
        "behavior, extract_forex.py:221-226)",
    )
    p.add_argument("--lookback-days", type=int, default=1)
    p.add_argument("--warehouse", required=True)
    p.add_argument(
        "--transport",
        default="synthetic",
        help="'synthetic' or 'replay:<parquet path>'",
    )
    return p


def main(argv: list[str] | None = None) -> int:
    args = make_parser().parse_args(argv)
    end_day = (
        datetime.strptime(args.date, "%Y-%m-%d").date()
        if args.date
        else (datetime.now(timezone.utc) - timedelta(days=1)).date()
    )
    if args.transport == "synthetic":
        transport = synthetic_transport
    elif args.transport.startswith("replay:"):
        transport = replay_transport(args.transport.split(":", 1)[1])
    else:
        print(f"unknown transport: {args.transport}", file=sys.stderr)
        return 1

    spark = get_spark("forex-cli")
    symbols = [s.strip() for s in args.symbol.split(",") if s.strip()]
    # one symbol owns the warehouse root; several get one root each, as
    # concurrent symbols must not share a base_dir
    cfgs = {
        sym: PipelineConfig(
            base_dir=args.warehouse if len(symbols) == 1
            else f"{args.warehouse}/{sym.replace('/', '_').lower()}",
            symbol=sym,
        )
        for sym in symbols
    }
    sources = {
        sym: TimeSeriesRestSource(
            transport=transport, symbol=sym, interval=args.interval
        )
        for sym in symbols
    }
    # per day: extract every symbol, then run the independent medallion
    # chains concurrently (dbt threads parity)
    for back in range(args.lookback_days - 1, -1, -1):
        day = (end_day - timedelta(days=back)).isoformat()
        batch = []
        for sym in symbols:
            raw = sources[sym].to_spark(spark, day)
            if raw is None:
                print(f"{day} {sym}: no data returned — aborting (exit 1)")
                return 1
            batch.append((cfgs[sym], raw))
        res = run_batch_concurrent(spark, batch, threads=args.threads)
        failed = {n: r for n, r in res.items() if r.status != "success"}
        if failed:
            for n, r in failed.items():
                print(f"{day} {n}: {r.status} {r.error}", file=sys.stderr)
            return 1
        timings = {
            n: round(r.elapsed, 2) for n, r in res.items() if r.elapsed
        }
        quality = {
            n: r.value for n, r in res.items() if n.startswith("checks_")
        }
        print(f"{day}: ok quality={quality} models={timings}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
