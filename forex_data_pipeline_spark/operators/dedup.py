"""Keyed deduplication (SURVEY §2.3 D2 + north-star variants).

- ``keyed_latest`` — QUALIFY-style keep-one-per-key
                   (/root/reference/models/staging/stg_eurusd.sql:36-39);
                   Spark has no QUALIFY, so row_number + filter. A
                   deterministic tie-break order is REQUIRED for
                   oracle-matching (the reference orders by the partition
                   key itself, an arbitrary tie-break — we do better).

Full-row dedup (D1, the reference's pandas drop_duplicates,
/root/reference/scripts/extract_forex.py:127-131) is Spark's own
``dropDuplicates()``; ``queries/timeseries.py`` ``dedup_exact`` calls it.

Scale: both are single-shuffle hash operations on the key columns. For
skewed keys AQE skew-join handling does not apply to aggregates, so the
content-hash variants in ``queries/llm_ops.py`` pre-hash wide payloads to
a fixed-width key first (shuffle bytes ∝ key width, not payload width).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def keyed_latest(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column],
) -> DataFrame:
    """D2: keep exactly one row per key, first under ``order_by``.

    Equivalent to BigQuery ``QUALIFY row_number() OVER (PARTITION BY keys
    ORDER BY ...) = 1`` (stg_eurusd.sql:36-39). Pass a total order
    (include a unique column) for deterministic results.
    """
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
