"""Driver-side REST time-series source (SURVEY §2.1 S1/S2).

The reference extracts OHLC bars from a REST market-data API with an
exponential-backoff retry wrapper, validates the batch, and hands it to
the storage layer (/root/reference/scripts/extract_forex.py:34-141).
That stage is orchestration, not a distributed computation: a daily
fetch is ≤800 rows, so it belongs on the driver, and the Spark plan
starts where the data does — ``spark.createDataFrame`` over the
validated batch (SURVEY §2.1: "keep outside Spark plan").

Everything network-shaped is injected (``transport``, ``sleep``,
``now``) so the source is fully testable offline and swappable for any
vendor SDK. Semantics preserved from the reference:

- fetch window is one UTC day ``[00:00:00, 23:59:59]`` with a row cap
  (extract_forex.py:85-95, cap at :34);
- retry ONLY on rate-limit-shaped errors (message contains rate /
  credits / limit), max 5 retries, 10 s initial delay, ×2 backoff
  (extract_forex.py:70-109);
- validation: exact-row dedup (D1), time sort, add ``symbol`` +
  ``extraction_date`` metadata columns (P5)
  (extract_forex.py:112-141).

At 100 TB this source is the tiny head of the funnel: many (symbol,
day) fetches fan out as independent driver tasks (or an external
ingestion service); the heavy lifting starts at Bronze, where Spark
reads whatever the fetchers landed.
"""

from __future__ import annotations

import time as _time
from collections.abc import Callable
from dataclasses import dataclass, field
from datetime import datetime, timezone

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

#: The reference's fetch cap (extract_forex.py:34): rows per day window.
MAX_ROWS_PER_FETCH = 800

#: The reference's backoff schedule (extract_forex.py:70-109): the first
#: retry waits 10 s, each later one twice as long, at most 5 retries.
MAX_RETRIES = 5
INITIAL_DELAY_S = 10.0
BACKOFF_FACTOR = 2.0

#: transport(symbol, interval, start, end, outputsize) -> pd.DataFrame
Transport = Callable[[str, str, str, str, int], pd.DataFrame]


def is_rate_limit_error(exc: BaseException) -> bool:
    """The reference's error taxonomy (extract_forex.py:98-100): retry
    only when the message looks throttle-shaped; anything else is a
    real failure and must surface immediately."""
    message = str(exc).lower()
    return "rate" in message or "credits" in message or "limit" in message


@dataclass
class RetryPolicy:
    """Exponential backoff on the reference's schedule (``MAX_RETRIES``,
    ``INITIAL_DELAY_S``, ``BACKOFF_FACTOR``), sleeping through ``sleep``."""

    sleep: Callable[[float], None] = _time.sleep

    def run(self, fn: Callable[[], pd.DataFrame]) -> pd.DataFrame:
        attempt, delay = 0, INITIAL_DELAY_S
        while True:
            try:
                return fn()
            except Exception as exc:  # noqa: BLE001 - classified below
                if not is_rate_limit_error(exc) or attempt >= MAX_RETRIES:
                    raise
                attempt += 1
                self.sleep(delay)
                delay *= BACKOFF_FACTOR


@dataclass
class TimeSeriesRestSource:
    """S1: pull one (symbol, interval, day) batch through an injected
    transport, validate it, and materialize a Spark DataFrame."""

    transport: Transport
    symbol: str = "EUR/USD"
    interval: str = "5min"
    retry: RetryPolicy = field(default_factory=RetryPolicy)
    now: Callable[[], datetime] = lambda: datetime.now(timezone.utc)

    def fetch_day(self, date_str: str) -> pd.DataFrame:
        """S2-wrapped fetch of one UTC day (extract_forex.py:85-95)."""
        return self.retry.run(
            lambda: self.transport(
                self.symbol,
                self.interval,
                f"{date_str} 00:00:00",
                f"{date_str} 23:59:59",
                MAX_ROWS_PER_FETCH,
            )
        )

    def validate(self, pdf: pd.DataFrame) -> pd.DataFrame:
        """extract_forex.py:112-141: dedup exact rows, sort by the
        datetime index, stamp metadata columns."""
        if pdf is None or pdf.empty:
            return pdf
        pdf = pdf.drop_duplicates().sort_index().copy()
        pdf["symbol"] = self.symbol
        pdf["extraction_date"] = pd.Timestamp(self.now()).tz_localize(None)
        return pdf

    def to_spark(self, spark: SparkSession, date_str: str) -> DataFrame | None:
        """Fetch + validate + lift onto the cluster. Returns None for an
        empty day (the reference aborts the run, extract_forex.py:245)."""
        pdf = self.validate(self.fetch_day(date_str))
        if pdf is None or pdf.empty:
            return None
        out = pdf.reset_index()
        # vendor indexes on 'datetime'; normalize ns→µs like the
        # reference's BigQuery guard (extract_forex.py:173-179) — Spark
        # is µs-native so this is exact.
        for col in out.columns:
            if pd.api.types.is_datetime64_any_dtype(out[col]):
                out[col] = out[col].astype("datetime64[us]")
        return spark.createDataFrame(out)
