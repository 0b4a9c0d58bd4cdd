"""Skew mitigation: salting for hot keys (SURVEY §4 / brief: "skewed
keys hurt … salting for skew").

AQE's skew-join splitting (`spark.sql.adaptive.skewJoin.enabled`, on in
`session.RUNTIME_CONFS`) splits skewed join partitions at runtime; this
explicit operator covers the case AQE cannot:

- **salted_aggregate** — a groupBy where one key holds a huge share of
  rows. The partial/final aggregate pair already combines map-side, but
  a single reducer still owns the hot key's final partition state; with
  high-cardinality-per-key aggregation state (e.g. collect-like or many
  distinct sub-keys) that reducer is the straggler. Salting splits each
  key into ``salts`` sub-groups (two shuffles of much smaller groups).

Salt derivation is ``pmod(xxhash64(uniform_cols), salts)`` — stable
across retries (no rand(): a failed task must re-derive the same salt
or the shuffle silently drops/dups rows on recompute).

The algebra: SUM/COUNT/MIN/MAX are commutative monoids, so
``final(agg(partial per salt))`` ≡ ``agg(everything)`` — the re-agg
merge below is exact, and results are salt-assignment-independent
(which is why a plain GROUP BY oracle can hash-check the salted plan).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: merge function per supported aggregate: how partial results combine.
_MERGES = {
    "sum": F.sum,
    "count": F.sum,  # counts add
    "min": F.min,
    "max": F.max,
}


def salt_column(uniform_cols: Sequence[str], salts: int) -> Column:
    """Deterministic salt in [0, salts) from columns that vary within a
    hot key (e.g. the row's unique id) — never rand()."""
    return F.pmod(F.xxhash64(*uniform_cols), F.lit(salts)).alias("_salt")


def salted_aggregate(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, tuple[str, str]],
    *,
    salts: int = 16,
    uniform_cols: Sequence[str],
) -> DataFrame:
    """Two-stage skew-safe aggregation.

    ``aggs`` maps output column -> (fn, input column) with fn in
    sum/count/min/max. Stage 1 groups by (keys, salt) — the hot key
    spreads over ``salts`` reducers; stage 2 merges the per-salt
    partials by key.
    """
    for fn, _ in aggs.values():
        if fn not in _MERGES:
            raise ValueError(f"unsupported salted aggregate: {fn}")
    keys = list(keys)

    stage1 = (
        df.withColumn("_salt", salt_column(uniform_cols, salts))
        .groupBy(*keys, "_salt")
        .agg(
            *[
                getattr(F, fn)(col).alias(out)
                for out, (fn, col) in aggs.items()
            ]
        )
    )
    return stage1.groupBy(*keys).agg(
        *[
            _MERGES[fn](out).alias(out)
            for out, (fn, _col) in aggs.items()
        ]
    )
