"""S1/S2 REST source: retry classification, backoff schedule, batch
validation, and the lift into a Spark DataFrame — all offline via
injected transport/sleep/now."""

from __future__ import annotations

from datetime import datetime

import pandas as pd
import pytest

from forex_data_pipeline_spark.sources.rest import (
    RetryPolicy,
    TimeSeriesRestSource,
    is_rate_limit_error,
)


def _bars(n: int = 4) -> pd.DataFrame:
    idx = pd.date_range("2026-01-02 00:00", periods=n, freq="5min", name="datetime")
    return pd.DataFrame(
        {
            "open": [1.1, 1.2, 1.3, 1.4][:n],
            "high": [1.2, 1.3, 1.4, 1.5][:n],
            "low": [1.0, 1.1, 1.2, 1.3][:n],
            "close": [1.15, 1.25, 1.35, 1.45][:n],
        },
        index=idx,
    )


def test_rate_limit_classification():
    assert is_rate_limit_error(RuntimeError("API rate limit exceeded"))
    assert is_rate_limit_error(RuntimeError("out of credits"))
    assert not is_rate_limit_error(RuntimeError("invalid symbol"))


def test_retry_backoff_schedule_10s_x2_max5():
    sleeps: list[float] = []
    calls = {"n": 0}

    def always_throttled():
        calls["n"] += 1
        raise RuntimeError("rate limit")

    policy = RetryPolicy(sleep=sleeps.append)
    with pytest.raises(RuntimeError):
        policy.run(always_throttled)
    # extract_forex.py:70-109: 5 retries => 6 calls, delays 10,20,40,80,160
    assert calls["n"] == 6
    assert sleeps == [10.0, 20.0, 40.0, 80.0, 160.0]


def test_retry_succeeds_after_transient_throttle():
    sleeps: list[float] = []
    attempts = {"n": 0}

    def flaky():
        attempts["n"] += 1
        if attempts["n"] < 3:
            raise RuntimeError("credits exhausted")
        return _bars()

    out = RetryPolicy(sleep=sleeps.append).run(flaky)
    assert len(out) == 4
    assert sleeps == [10.0, 20.0]


def test_non_rate_limit_error_not_retried():
    sleeps: list[float] = []

    def broken():
        raise ValueError("bad request")

    with pytest.raises(ValueError):
        RetryPolicy(sleep=sleeps.append).run(broken)
    assert sleeps == []


def _source(transport) -> TimeSeriesRestSource:
    return TimeSeriesRestSource(
        transport=transport,
        retry=RetryPolicy(sleep=lambda _s: None),
        now=lambda: datetime(2026, 1, 3, 1, 0, 0),
    )


def test_fetch_day_window_and_caps():
    seen = {}

    def transport(symbol, interval, start, end, outputsize):
        seen.update(
            symbol=symbol, interval=interval, start=start, end=end, cap=outputsize
        )
        return _bars()

    _source(transport).fetch_day("2026-01-02")
    assert seen == {
        "symbol": "EUR/USD",
        "interval": "5min",
        "start": "2026-01-02 00:00:00",
        "end": "2026-01-02 23:59:59",
        "cap": 800,
    }


def test_validate_dedups_sorts_and_stamps():
    raw = pd.concat([_bars(), _bars().iloc[[0]]]).iloc[::-1]  # dup + reversed
    src = _source(lambda *a: raw)
    out = src.validate(raw)
    assert len(out) == 4  # exact-row dup removed (D1)
    assert list(out.index) == sorted(out.index)  # time-sorted (T6)
    assert set(out["symbol"]) == {"EUR/USD"}  # P5 metadata
    assert out["extraction_date"].iloc[0] == pd.Timestamp("2026-01-03 01:00:00")


def test_to_spark_schema_and_rows(spark):
    src = _source(lambda *a: _bars())
    df = src.to_spark(spark, "2026-01-02")
    assert df.count() == 4
    names = [f.name for f in df.schema.fields]
    assert names[0] == "datetime"
    assert {"open", "high", "low", "close", "symbol", "extraction_date"} <= set(names)


def test_to_spark_empty_day_returns_none(spark):
    src = _source(lambda *a: _bars(0))
    assert src.to_spark(spark, "2026-01-02") is None
