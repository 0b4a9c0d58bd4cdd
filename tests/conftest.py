"""Shared fixtures: one SparkSession per test session, a DuckDB oracle
connection with the synthetic tables registered, and the comparison
helper mirroring the driver's row-count + schema + order-insensitive
value check."""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from forex_data_pipeline_spark.session import get_spark  # noqa: E402
from forex_data_pipeline_spark.tables import TABLE_NAMES  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("forex-spark-tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def oracle_con():
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{name}.parquet')"
        )
    yield con
    con.close()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name and rows by all values — order-insensitive."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            ts = pd.to_datetime(df[c])
            if getattr(ts.dt, "tz", None) is not None:
                ts = ts.dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = ts.astype("datetime64[us]")
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(
            drop=True
        )
    return df


def assert_df_matches_oracle(spark_df, oracle_con, oracle: str, rtol=1e-9):
    got = _normalize(spark_df.toPandas())
    exp = _normalize(oracle_con.execute(oracle).df())
    # a 0-row oracle is vacuously "green" — the value-hash check proves
    # nothing about the operator — so treat it as a harness failure
    assert len(exp) > 0, (
        "oracle returned 0 rows — vacuous check; retune the query predicates"
    )
    assert list(got.columns) == list(exp.columns), (
        f"column mismatch: {list(got.columns)} vs {list(exp.columns)}"
    )
    assert len(got) == len(exp), f"row count {len(got)} vs {len(exp)}"
    for c in got.columns:
        g, e = got[c], exp[c]
        # the driver hash-compares repr() values, so an int64 column on
        # one side and float64 on the other ("99111" vs "99111.0") fails
        # there even when numerically equal — catch it here too
        assert pd.api.types.is_float_dtype(g) == pd.api.types.is_float_dtype(
            e
        ), f"col {c}: dtype kind mismatch {g.dtype} vs {e.dtype}"
        if pd.api.types.is_float_dtype(g) or pd.api.types.is_float_dtype(e):
            ga = pd.to_numeric(g, errors="coerce")
            ea = pd.to_numeric(e, errors="coerce")
            both_nan = ga.isna() & ea.isna()
            close = both_nan | (
                (ga - ea).abs()
                <= (rtol * ea.abs().clip(lower=1.0) + 1e-12)
            )
            bad = (~close).to_numpy().nonzero()[0]
            assert len(bad) == 0, (
                f"col {c}: {len(bad)} mismatches, first at row {bad[0]}: "
                f"{ga.iloc[bad[0]]} vs {ea.iloc[bad[0]]}"
            )
        else:
            same = (g == e) | (g.isna() & e.isna())
            bad = (~same).to_numpy().nonzero()[0]
            assert len(bad) == 0, (
                f"col {c}: {len(bad)} mismatches, first at row {bad[0]}: "
                f"{g.iloc[bad[0]]!r} vs {e.iloc[bad[0]]!r}"
            )


def exact_float_check(got: pd.Series, exp: pd.Series) -> bool:
    return all(
        (math.isnan(a) and math.isnan(b)) or a == b
        for a, b in zip(got, exp)
    )
