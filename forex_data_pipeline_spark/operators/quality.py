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


def observed_quality(
    df: DataFrame,
    not_null_cols: Sequence[str] = (),
    accepted: dict[str, Sequence[str]] | None = None,
):
    """Attach Q1-Q3-style metrics to ``df`` via ``Dataset.observe`` —
    computed DURING whatever action next runs the plan, with no second
    scan (the violation-DataFrame helpers above each re-read the table;
    at 100 TB this free-rider form is how a pipeline self-audits every
    batch). Returns ``(df, observation)``; read ``observation.get``
    after an action.
    """
    from pyspark.sql import Observation

    metrics = [F.count(F.lit(1)).alias("n_rows")]
    for c in not_null_cols:
        metrics.append(
            F.count_if(F.col(c).isNull()).alias(f"nulls_{c}")
        )
    for c, values in (accepted or {}).items():
        metrics.append(
            F.count_if(
                ~F.col(c).isin(list(values)) | F.col(c).isNull()
            ).alias(f"rejected_{c}")
        )
    obs = Observation()
    return df.observe(obs, *metrics), obs
