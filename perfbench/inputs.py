"""Seeded input generators for the workloads.

Everything is drawn from ``numpy.random.default_rng`` seeded with
``SeedSequence([seed, stream_id])`` in this one process, so the same seed
writes byte-identical parquet files. Inputs are written once per seed
(a ``_DONE`` marker guards the directory) and never inside a timed
section. Timestamps are written as microseconds: Spark's parquet reader
rejects pandas' default ``TIMESTAMP(NANOS)``.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

_STREAMS = {
    "region": 1, "nation": 2, "customer": 3, "supplier": 4, "part": 5,
    "orders": 6, "lineitem": 7, "events": 8, "documents": 9,
    "bars": 10, "order": 12,
}

_WORDS = (
    "the a data spark query row column table join merge filter sort "
    "group key value window stream batch scan hash part line order "
    "customer agg small big fast slow vector index token corpus dedup "
    "shard sketch price candle tick bar"
).split()
_LANGS = ("en", "de", "fr", "es", "zh")
_EVENT_TYPES = ("click", "view", "purchase", "signup", "error")

#: query_mix table sizes (about sf0.01 of the engine's test-table shape).
QUERY_ROWS = {"customer": 1_600, "supplier": 160, "part": 1_600,
              "orders": 16_000, "events": 12_000, "documents": 1_000}
#: the span of the events table; the ewma_macd oracle recurses once per
#: hourly candle, so its cost follows this span
EVENT_DAYS = 10

#: daily_incremental shape: symbols, bar grid, history and daily batches.
SYMBOLS = ("EUR/USD", "GBP/USD")
BAR_SECONDS = 60
HISTORY_DAYS = 30
DAYS = 8
REDELIVER_SHARE = 0.10


def rng(seed: int, stream: str) -> np.random.Generator:
    return np.random.default_rng(np.random.SeedSequence([seed, _STREAMS[stream]]))


def _write(df: pd.DataFrame, path: str, schema: pa.Schema) -> None:
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    pq.write_table(table.replace_schema_metadata(None), path)


def _prepared(out_dir: str, make) -> str:
    """Run ``make(tmp_dir)`` once; a finished directory is reused as is."""
    if os.path.exists(os.path.join(out_dir, "_DONE")):
        return out_dir
    tmp = out_dir + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(tmp)
    make(tmp)
    open(os.path.join(tmp, "_DONE"), "w").close()
    os.rename(tmp, out_dir)
    return out_dir


# ----------------------------------------------------------------- query_mix

def _money(r: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(r.uniform(lo, hi, n), 2)


def _text(r: np.random.Generator, n_docs: int) -> list[str]:
    texts = []
    for _ in range(n_docs):
        words = r.choice(_WORDS, size=int(r.integers(12, 90)))
        texts.append(" ".join(words)[: int(r.integers(100, 540))])
    # a seeded share of exact duplicates, the corpus' dedup targets
    for i in r.choice(n_docs, size=n_docs // 20, replace=False):
        texts[i] = texts[int(r.integers(0, n_docs))]
    return texts


def _epoch_us(start: str, offset_us: np.ndarray) -> np.ndarray:
    base = pd.Timestamp(start).value // 1000
    return (base + offset_us).astype("datetime64[us]")


def query_tables(out_dir: str, seed: int) -> str:
    """The tables the ``query_mix`` queries read, schema-identical to the
    engine's test tables (``tables.TABLE_NAMES``)."""

    def make(d: str) -> None:
        n = QUERY_ROWS
        _write(
            pd.DataFrame({
                "r_regionkey": np.arange(5, dtype="int32"),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }),
            f"{d}/region.parquet",
            pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]),
        )
        _write(
            pd.DataFrame({
                "n_nationkey": np.arange(25, dtype="int32"),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype("int32"),
            }),
            f"{d}/nation.parquet",
            pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                       ("n_regionkey", pa.int32())]),
        )
        r = rng(seed, "customer")
        _write(
            pd.DataFrame({
                "c_custkey": np.arange(n["customer"], dtype="int64"),
                "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
                "c_nationkey": r.integers(0, 25, n["customer"]).astype("int32"),
                "c_acctbal": _money(r, -999, 9999, n["customer"]),
                "c_mktsegment": r.choice(
                    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"], n["customer"]),
            }),
            f"{d}/customer.parquet",
            pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                       ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                       ("c_mktsegment", pa.string())]),
        )
        r = rng(seed, "supplier")
        _write(
            pd.DataFrame({
                "s_suppkey": np.arange(n["supplier"], dtype="int64"),
                "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
                "s_nationkey": r.integers(0, 25, n["supplier"]).astype("int32"),
                "s_acctbal": _money(r, -999, 9999, n["supplier"]),
            }),
            f"{d}/supplier.parquet",
            pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()),
                       ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]),
        )
        r = rng(seed, "part")
        _write(
            pd.DataFrame({
                "p_partkey": np.arange(n["part"], dtype="int64"),
                "p_name": [
                    f"{a} {b}" for a, b in zip(
                        r.choice(["small", "red", "blue", "large"], n["part"]),
                        r.choice(["ring", "widget", "bolt", "gear"], n["part"]))
                ],
                "p_brand": [f"Brand#{k}" for k in r.integers(1, 26, n["part"])],
                "p_type": r.choice(["ECONOMY", "SMALL", "STANDARD", "PROMO"],
                                   n["part"]),
                "p_size": r.integers(1, 51, n["part"]).astype("int32"),
                "p_retailprice": np.round(900 + np.arange(n["part"]) * 0.1, 2),
            }),
            f"{d}/part.parquet",
            pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()),
                       ("p_brand", pa.string()), ("p_type", pa.string()),
                       ("p_size", pa.int32()), ("p_retailprice", pa.float64())]),
        )
        r = rng(seed, "orders")
        n_o = n["orders"]
        order_days = r.integers(0, 2400, n_o)
        _write(
            pd.DataFrame({
                "o_orderkey": np.arange(n_o, dtype="int64"),
                "o_custkey": r.integers(0, n["customer"], n_o).astype("int64"),
                "o_orderstatus": r.choice(["F", "O", "P"], n_o),
                "o_totalprice": _money(r, 1000, 500000, n_o),
                "o_orderdate": _epoch_us("1995-01-01", order_days * 86_400_000_000),
                "o_orderpriority": r.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                    n_o),
            }),
            f"{d}/orders.parquet",
            pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                       ("o_orderstatus", pa.string()),
                       ("o_totalprice", pa.float64()),
                       ("o_orderdate", pa.timestamp("us")),
                       ("o_orderpriority", pa.string())]),
        )
        r = rng(seed, "lineitem")
        lines = r.integers(1, 8, n_o)
        okey = np.repeat(np.arange(n_o, dtype="int64"), lines)
        lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype("int32")
        n_l = len(okey)
        ship = np.repeat(order_days, lines) + r.integers(1, 122, n_l)
        _write(
            pd.DataFrame({
                "l_orderkey": okey,
                "l_partkey": r.integers(0, n["part"], n_l).astype("int64"),
                "l_suppkey": r.integers(0, n["supplier"], n_l).astype("int64"),
                "l_linenumber": lnum,
                "l_quantity": r.integers(1, 51, n_l).astype("float64"),
                "l_extendedprice": _money(r, 900, 100000, n_l),
                "l_discount": r.integers(0, 11, n_l) / 100.0,
                "l_tax": r.integers(0, 9, n_l) / 100.0,
                "l_returnflag": r.choice(["A", "N", "R"], n_l),
                "l_linestatus": r.choice(["F", "O"], n_l),
                "l_shipdate": _epoch_us("1995-01-01", ship * 86_400_000_000),
            }),
            f"{d}/lineitem.parquet",
            pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                       ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                       ("l_quantity", pa.float64()),
                       ("l_extendedprice", pa.float64()),
                       ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                       ("l_returnflag", pa.string()),
                       ("l_linestatus", pa.string()),
                       ("l_shipdate", pa.timestamp("us"))]),
        )
        _write(_events(seed, n["events"]), f"{d}/events.parquet", EVENTS_SCHEMA)
        r = rng(seed, "documents")
        texts = _text(r, n["documents"])
        _write(
            pd.DataFrame({
                "doc_id": np.arange(n["documents"], dtype="int64"),
                "text": texts,
                "lang": r.choice(_LANGS, n["documents"]),
                "source": [f"src{k}" for k in r.integers(0, 20, n["documents"])],
                "n_chars": np.array([len(t) for t in texts], dtype="int64"),
            }),
            f"{d}/documents.parquet",
            pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                       ("lang", pa.string()), ("source", pa.string()),
                       ("n_chars", pa.int64())]),
        )

    return _prepared(out_dir, make)


EVENTS_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()), ("event_type", pa.string()),
    ("value", pa.float64()), ("props", pa.string()),
])


def _events(seed: int, n: int) -> pd.DataFrame:
    """EVENT_DAYS of user events with unique, increasing µs timestamps."""
    r = rng(seed, "events")
    span_us = EVENT_DAYS * 86_400_000_000
    offsets = np.sort(r.choice(span_us, size=n, replace=False))
    return pd.DataFrame({
        "event_id": np.arange(n, dtype="int64"),
        "ts": _epoch_us("2024-01-01", offsets),
        "user_id": r.integers(0, 40, n).astype("int64"),
        "event_type": r.choice(_EVENT_TYPES, n),
        "value": np.round(r.uniform(0.01, 400.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)],
    })


def query_order(names: list[str], seed: int, passes: int) -> list[str]:
    """``passes`` back-to-back passes over ``names``, each in its own
    seeded order."""
    r = rng(seed, "order")
    out: list[str] = []
    for _ in range(passes):
        out += [names[i] for i in r.permutation(len(names))]
    return out


# --------------------------------------------------------- daily_incremental

BARS_SCHEMA = pa.schema([
    ("datetime", pa.timestamp("us")), ("open", pa.string()),
    ("high", pa.string()), ("low", pa.string()), ("close", pa.string()),
])


def _bar_frame(ts: np.ndarray, close: np.ndarray, r) -> pd.DataFrame:
    spread = np.round(r.uniform(0.0001, 0.0008, len(ts)), 5)
    opn = np.round(close + r.normal(0, 0.0002, len(ts)), 5)
    return pd.DataFrame({
        "datetime": ts,
        "open": [f"{x:.5f}" for x in opn],
        "high": [f"{x:.5f}" for x in np.maximum(opn, close) + spread],
        "low": [f"{x:.5f}" for x in np.minimum(opn, close) - spread],
        "close": [f"{x:.5f}" for x in close],
    })


def bar_batches(out_dir: str, seed: int) -> str:
    """Per symbol: ``history.parquet`` (HISTORY_DAYS of bars) and
    ``day_01..day_NN.parquet``. Each day batch holds the new day plus a
    seeded REDELIVER_SHARE of the previous day's bars delivered again
    (exact copies, as a vendor re-fetch returns them), in shuffled
    arrival order. String OHLC plus ``datetime``, like the reference
    payload."""

    def make(d: str) -> None:
        r = rng(seed, "bars")
        per_day = 86_400 // BAR_SECONDS
        n = (HISTORY_DAYS + DAYS) * per_day
        for k, sym in enumerate(SYMBOLS):
            sdir = f"{d}/{sym.replace('/', '_').lower()}"
            os.makedirs(sdir)
            ts = _epoch_us("2024-03-01", np.arange(n) * BAR_SECONDS * 1_000_000)
            close = np.round(1.05 + 0.1 * k + np.cumsum(r.normal(0, 0.0003, n)), 5)
            bars = _bar_frame(ts, close, r)
            hist = bars.iloc[: HISTORY_DAYS * per_day]
            _write(hist.sample(frac=1.0, random_state=r.integers(1 << 31)),
                   f"{sdir}/history.parquet", BARS_SCHEMA)
            for day in range(1, DAYS + 1):
                lo = (HISTORY_DAYS + day - 1) * per_day
                prev = bars.iloc[lo - per_day: lo]
                again = prev.iloc[np.sort(r.choice(
                    per_day, int(per_day * REDELIVER_SHARE), replace=False))]
                batch = pd.concat([bars.iloc[lo: lo + per_day], again])
                _write(batch.sample(frac=1.0, random_state=r.integers(1 << 31)),
                       f"{sdir}/day_{day:02d}.parquet", BARS_SCHEMA)

    return _prepared(out_dir, make)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total
