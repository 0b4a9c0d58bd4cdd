"""Join operators beyond the built-in equi family (SURVEY §2.3).

The reference executes zero explicit joins (single-table pipeline), but
the engine needs the full family for general query capability. Broadcast
/ shuffle-hash / sort-merge / semi / anti are built-in ``df.join``
variants; this module adds the two time-series joins Spark lacks:

- ``asof_join`` — "most recent right row at or before each left row".
  Implemented as union + tagged window (one shuffle on the key, one
  sort) instead of an inequality join: an inequality theta-join would be
  a broadcast-nested-loop (O(n·m) — dead at 100 TB), while the union
  trick is O((n+m) log) with perfect key-partition parallelism. This is
  the standard scalable formulation (same shape Flink/Kafka-Streams use
  for temporal joins).
- ``range_join`` — band/interval join against a small dimension:
  broadcast the bands so the range predicate is evaluated map-side
  (BroadcastNestedLoopJoin over a tiny build side — no shuffle at all).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    value_cols: Sequence[str],
    *,
    suffix: str = "_asof",
    direction: str = "backward",
) -> DataFrame:
    """For each left row, attach the latest right ``value_cols`` with
    ``right_ts <= left_ts``, matching on ``on`` keys — or, with
    ``direction="forward"``, the EARLIEST right row with
    ``right_ts >= left_ts``: the next-event lookup (e.g. view → next
    purchase). Right value columns come back as ``<col><suffix>``, NULL
    when no prior (resp. later) right row exists. Either direction is
    the same single union + key-partitioned window — one shuffle, no
    row explosion.
    """
    on = list(on)
    forward = direction == "forward"
    # Tag order decides ties at equal timestamps, so both directions are
    # inclusive. Backward: right first (0) makes the join <=. Forward
    # (frame looks ahead): right AFTER left (1) makes it >=.
    right_tag, left_tag = (1, 0) if forward else (0, 1)

    lcols = [c for c in left.columns]
    l = left.select(
        *on,
        F.col(left_ts).alias("_ts"),
        F.lit(left_tag).alias("_src"),
        *[F.col(c) for c in lcols if c not in on and c != left_ts],
        F.col(left_ts),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"{c}{suffix}") for c in value_cols],
    )
    r = right.select(
        *on,
        F.col(right_ts).alias("_ts"),
        F.lit(right_tag).alias("_src"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols if c not in on and c != left_ts],
        F.lit(None).cast(left.schema[left_ts].dataType).alias(left_ts),
        *[F.col(c).alias(f"{c}{suffix}") for c in value_cols],
    )
    unioned = l.unionByName(r)
    if forward:
        w = (
            Window.partitionBy(*on)
            .orderBy("_ts", "_src")
            .rowsBetween(0, Window.unboundedFollowing)
        )
        fill = [
            F.first(f"{c}{suffix}", ignorenulls=True).over(w).alias(
                f"_f_{c}"
            )
            for c in value_cols
        ]
    else:
        w = (
            Window.partitionBy(*on)
            .orderBy("_ts", "_src")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        fill = [
            F.last(f"{c}{suffix}", ignorenulls=True).over(w).alias(
                f"_f_{c}"
            )
            for c in value_cols
        ]
    filled = unioned.select(*unioned.columns, *fill)
    out = filled.filter(F.col("_src") == left_tag)
    for c in value_cols:
        out = out.drop(f"{c}{suffix}").withColumnRenamed(f"_f_{c}", f"{c}{suffix}")
    return out.drop("_ts", "_src")


def asof_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    value_cols: Sequence[str],
    *,
    suffix: str,
    time_bucket: str = "1 day",
) -> DataFrame:
    """SKEW-AWARE backward as-of join: same semantics as
    :func:`asof_join` (per value column, the latest NON-NULL right
    value at-or-before each left row), but the window partitions on
    ``(keys, time_bucket)`` instead of keys alone, the same time-axis
    blocking ``range_join_bucketed`` applies to the value axis.

    Why: ``asof_join`` sorts each key's ENTIRE history in one task —
    correct, but a hot key (one symbol carrying 10% of a 100 TB feed)
    becomes a single straggler task sorting billions of rows. Here a
    key's rows spread across its time buckets (hot keys are hot because
    they span/densely fill time), so no task ever sorts more than one
    bucket of one key.

    Cross-bucket lookback is restored by a CARRY-IN pass: per
    ``(key, bucket)`` the latest non-null value of each column is
    summarized (hash-agg, mergeable map-side), a bucket-ordered window
    over those SUMMARY rows (keys x buckets — tiny) computes what each
    bucket inherits from its past, and the carry rides into the
    in-bucket window as a synthetic oldest row. Two shuffles
    (bucket-keyed rows + summary window) instead of one, in exchange
    for bounded task size; the per-column independence of the
    ignorenulls fill is preserved exactly, so results are
    row-identical to ``asof_join`` (property-tested).
    """
    on = list(on)
    value_cols = list(value_cols)
    # tags follow asof_join's backward convention: right first (0) for
    # inclusive <=
    right_tag, left_tag = 0, 1
    carry_tag = -1  # sorts before every real row in the bucket

    bucket = lambda ts: F.window(F.col(ts), time_bucket)["start"]  # noqa: E731

    rb = right.withColumn("_bucket", bucket(right_ts))
    # per (key, bucket): latest non-null value of EACH column
    # independently (max_by skips rows whose ordering expr is NULL, so
    # a trailing NULL value does not mask an older non-null one)
    # tie-break: when a (key, bucket) has two right rows at the SAME
    # timestamp with different non-null values, bare max_by(c, ts) is
    # nondeterministic. Ordering by struct(ts, c) picks the largest
    # value among equal-ts rows — deterministic across runs. NOTE:
    # plain asof_join's window-last pick is partition-order-dependent
    # in that case, so duplicate right timestamps per key are out of
    # the asof_join-equivalence contract (only self-determinism is
    # guaranteed here); unique (key, ts) right sides are fully covered.
    summary = rb.groupBy(*on, "_bucket").agg(
        *[
            F.max_by(
                c,
                F.when(
                    F.col(c).isNotNull(),
                    F.struct(F.col(right_ts), F.col(c)),
                ),
            ).alias(f"_s_{c}")
            for c in value_cols
        ]
    )
    # the carry spine must cover every bucket a LEFT row lands in, not
    # just buckets where the right side has rows — a left-only bucket
    # still inherits from its past (it just contributes no summary)
    l_buckets = left.select(
        *on, bucket(left_ts).alias("_bucket")
    ).distinct()
    spine = l_buckets.unionByName(
        summary.select(*on, "_bucket")
    ).distinct()
    summary = spine.join(summary, [*on, "_bucket"], "left")
    # what each bucket inherits from strictly-earlier buckets: per
    # column, the most recent bucket's non-null summary
    wc = (
        Window.partitionBy(*on)
        .orderBy("_bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = summary.select(
        *on,
        "_bucket",
        *[
            F.last(f"_s_{c}", ignorenulls=True).over(wc).alias(f"{c}{suffix}")
            for c in value_cols
        ],
    )

    lcols = [c for c in left.columns]
    l = left.select(
        *on,
        F.col(left_ts).alias("_ts"),
        F.lit(left_tag).alias("_src"),
        *[F.col(c) for c in lcols if c not in on and c != left_ts],
        F.col(left_ts),
        *[
            F.lit(None).cast(right.schema[c].dataType).alias(f"{c}{suffix}")
            for c in value_cols
        ],
    ).withColumn("_bucket", bucket(left_ts))
    r = rb.select(
        *on,
        "_bucket",
        F.col(right_ts).alias("_ts"),
        F.lit(right_tag).alias("_src"),
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in lcols
            if c not in on and c != left_ts
        ],
        F.lit(None).cast(left.schema[left_ts].dataType).alias(left_ts),
        *[F.col(c).alias(f"{c}{suffix}") for c in value_cols],
    )
    c_rows = carry.select(
        *on,
        "_bucket",
        F.lit(None).cast(l.schema["_ts"].dataType).alias("_ts"),
        F.lit(carry_tag).alias("_src"),
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in lcols
            if c not in on and c != left_ts
        ],
        F.lit(None).cast(left.schema[left_ts].dataType).alias(left_ts),
        *[F.col(f"{c}{suffix}") for c in value_cols],
    )
    unioned = l.select(r.columns).unionByName(r).unionByName(c_rows)

    # NULL _ts sorts first under asc_nulls_first: the carry row is the
    # oldest thing in its bucket by construction
    w = (
        Window.partitionBy(*on, "_bucket")
        .orderBy(F.col("_ts").asc_nulls_first(), "_src")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    fill = [
        F.last(f"{c}{suffix}", ignorenulls=True).over(w).alias(f"_f_{c}")
        for c in value_cols
    ]
    filled = unioned.select(*unioned.columns, *fill)
    out = filled.filter(F.col("_src") == left_tag)
    for c in value_cols:
        out = out.drop(f"{c}{suffix}").withColumnRenamed(
            f"_f_{c}", f"{c}{suffix}"
        )
    # same column order as asof_join: keys, non-ts left cols, left ts,
    # suffixed values
    return out.drop("_ts", "_src", "_bucket").select(
        *on,
        *[c for c in lcols if c not in on and c != left_ts],
        left_ts,
        *[f"{c}{suffix}" for c in value_cols],
    )


def range_join(
    facts: DataFrame,
    bands: DataFrame,
    value: Column,
    lo: Column,
    hi: Column,
) -> DataFrame:
    """Band join: fact rows matched to [lo, hi) intervals of a small
    broadcast dimension — evaluated map-side, zero shuffle."""
    return facts.join(F.broadcast(bands), (value >= lo) & (value < hi))


def range_join_bucketed(
    facts: DataFrame,
    bands: DataFrame,
    value: Column,
    lo_col: str,
    hi_col: str,
    *,
    bucket_width: float,
) -> DataFrame:
    """Interval-bucketed range join — the SHUFFLE-SCALABLE form of
    ``range_join`` for when the band table is too big to broadcast.

    Every interval [lo, hi) is exploded into the fixed-width buckets it
    overlaps; every fact row computes its single bucket; the join
    becomes an EQUI-join on bucket (hash-shuffleable, AQE-skew-splittable)
    plus a residual range predicate. Cost ∝ facts + Σ interval_width /
    bucket_width — never facts × bands. The same trick handles temporal
    interval joins (IP-range lookup, time-validity joins); pick
    ``bucket_width`` ≈ median interval width so most intervals explode
    into O(1) buckets.
    """
    bucket = F.floor(value / bucket_width).cast("long")
    lo, hi = F.col(lo_col), F.col(hi_col)
    band_buckets = bands.withColumn(
        "_bucket",
        F.explode(
            F.sequence(
                F.floor(lo / bucket_width).cast("long"),
                # hi is exclusive: a hi exactly on a bucket edge does not
                # reach into that bucket
                F.floor(
                    (hi - F.lit(1e-9)) / bucket_width
                ).cast("long"),
            )
        ),
    )
    return (
        facts.withColumn("_bucket", bucket)
        .join(band_buckets, "_bucket")
        .filter((value >= lo) & (value < hi))
        .drop("_bucket")
    )
