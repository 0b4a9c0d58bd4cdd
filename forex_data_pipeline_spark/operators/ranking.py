"""Distributed exact global ranking — the scale-safe replacement for
an ORDER-BY-only window.

A `row_number() OVER (ORDER BY ...)` with no PARTITION BY collapses the
whole relation into ONE task (Spark warns "No Partition Defined for
Window operation"); at 100 TB that is a guaranteed OOM/straggler. The
classic distributed algorithm (TeraSort-style) keeps everything
partition-parallel:

1. range-repartition on the sort key (sampled boundaries — the same
   machinery `orderBy` uses), materialized once so every downstream
   job sees identical partition assignment;
2. one tiny job counts rows per range partition (≤ shuffle-width rows
   collected — a bounded driver scalar, same class as a high-watermark
   `first()`);
3. global rank = (sum of counts of lower partitions) + local
   `row_number` within the partition — a window PARTITIONED by the
   range-partition id, so no task ever sees more than one partition's
   rows.

The result is independent of where the sampled boundaries land
**provided the sort key is a total order** (unique across rows) — ties
straddling a boundary would otherwise be ranked partition-locally.
Callers must pass a tie-broken key list (the repo-wide top-k rule).

The reference has no ranking operator at all (its mart sorts ~288
rows/day in BigQuery, fct_eurusd_timeframes.sql:40-71); this exists so
rank-derived operators (equi-depth histograms, exact percentile splits,
pagination audits) stay distributed at cluster scale.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..session import shuffle_width

_PID = "__range_pid"
_LOCAL = "__local_rn"


def global_rank(
    df: DataFrame,
    order_cols: Sequence[str | Column],
    rank_col: str,
) -> tuple[DataFrame, int]:
    """Add an exact 1-based global row number over ``order_cols``
    (which MUST be a total order — include a unique tie-break) without
    ever forming a single-task window. Returns ``(ranked_df, n_rows)``;
    the row count falls out of the per-partition count pass for free.
    The range partitioning is the session's shuffle width wide.

    Two jobs by construction (count pass + downstream use); the ranked
    frame is backed by a materialized range partitioning so both see
    the same assignment.
    """
    p = shuffle_width(df.sparkSession)
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    ranged = (
        df.repartitionByRange(p, *cols)
        .withColumn(_PID, F.spark_partition_id())
    )
    # Pin the sampled range assignment: the count job and every
    # downstream job must agree on which partition each row landed in.
    ranged = ranged.localCheckpoint(eager=True)

    counts = ranged.groupBy(_PID).count().collect()
    offsets: dict[int, int] = {}
    acc = 0
    for row in sorted(counts, key=lambda r: r[_PID]):
        offsets[row[_PID]] = acc
        acc += row["count"]

    if offsets:
        offset_map = F.create_map(
            *[F.lit(x) for pid, off in offsets.items() for x in (pid, off)]
        )[F.col(_PID)]
    else:  # empty input: no partitions counted, rank base is 0
        offset_map = F.lit(None).cast("long")
    w = Window.partitionBy(_PID).orderBy(*cols)
    ranked = (
        ranged.withColumn(_LOCAL, F.row_number().over(w))
        .withColumn(
            rank_col,
            (
                F.coalesce(offset_map, F.lit(0))
                + F.col(_LOCAL)
            ).cast("bigint"),
        )
        .drop(_PID, _LOCAL)
    )
    return ranked, acc
