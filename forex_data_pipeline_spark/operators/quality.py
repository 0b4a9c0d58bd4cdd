"""Data-quality assertions — dbt-test equivalents (SURVEY §2.12 Q1-Q3).

The reference declares `unique` / `not_null` / `accepted_values` tests in
/root/reference/models/marts/marts_eurusd.yml:1-21; dbt compiles each to
"SELECT violating rows; pass iff empty". These helpers produce the same
violation DataFrames; ``run_checks`` evaluates them.

Scale: `unique` is one hash-agg shuffle on the key; `not_null` and
`accepted_values` are scan-local filters (pushed to parquet).
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def unique_violations(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Q1: keys appearing more than once (marts_eurusd.yml:6-9)."""
    return (
        df.groupBy(*cols)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .filter(F.col("n_rows") > 1)
    )


def not_null_violations(df: DataFrame, col: str) -> DataFrame:
    """Q2: rows with NULL in ``col`` (marts_eurusd.yml:9,18)."""
    return df.filter(F.col(col).isNull())


def accepted_values_violations(
    df: DataFrame, col: str, values: Sequence[str]
) -> DataFrame:
    """Q3: rows whose ``col`` is outside the accepted set
    (marts_eurusd.yml:11-14)."""
    return df.filter(~F.col(col).isin(list(values)) | F.col(col).isNull())


def run_checks(checks: dict[str, DataFrame]) -> dict[str, int]:
    """Evaluate violation DataFrames → {check_name: violation_count}.
    All-zero means the contract holds.

    One action for every check: each frame's rows are tagged with the
    check's name and one groupBy over the union counts them. The union
    is narrow, so the checks' scans share a stage instead of each
    ``count()`` paying its own chain of jobs."""
    if not checks:
        return {}
    tagged = [df.select(F.lit(name).alias("check")) for name, df in checks.items()]
    counts = dict(reduce(DataFrame.union, tagged).groupBy("check").count().collect())
    return {name: counts.get(name, 0) for name in checks}
