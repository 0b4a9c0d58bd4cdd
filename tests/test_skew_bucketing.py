"""Skew salting and table layout: the salted aggregate must equal the
plain groupBy, compaction must keep every row, and the blocked and
bucketed joins must answer like their exhaustive forms."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from forex_data_pipeline_spark.operators.skew import salted_aggregate
from forex_data_pipeline_spark.tables import load


def _sorted_rows(df, cols):
    return [tuple(r) for r in df.select(*cols).orderBy(*cols).collect()]


def test_salted_aggregate_equals_plain_groupby(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem").withColumn(
        "cents", F.round(F.col("l_extendedprice") * 100).cast("long")
    )
    salted = salted_aggregate(
        li,
        ["l_returnflag"],
        {
            "n_items": ("count", "l_orderkey"),
            "revenue_cents": ("sum", "cents"),
            "max_qty": ("max", "l_quantity"),
            "min_ship": ("min", "l_shipdate"),
        },
        salts=16,
        uniform_cols=["l_orderkey", "l_linenumber"],
    )
    plain = li.groupBy("l_returnflag").agg(
        F.count("l_orderkey").alias("n_items"),
        F.sum("cents").alias("revenue_cents"),
        F.max("l_quantity").alias("max_qty"),
        F.min("l_shipdate").alias("min_ship"),
    )
    cols = ["l_returnflag", "n_items", "revenue_cents", "max_qty", "min_ship"]
    assert _sorted_rows(salted, cols) == _sorted_rows(plain, cols)


def test_salted_aggregate_rejects_non_mergeable():
    with pytest.raises(ValueError):
        salted_aggregate(None, ["k"], {"a": ("avg", "x")}, uniform_cols=["x"])


def test_compaction_preserves_rows_and_reduces_files(spark, sf_dir, tmp_path):
    import glob

    from forex_data_pipeline_spark.sources.writers import compact

    path = str(tmp_path / "many_small")
    ev = load(spark, sf_dir, "events")
    ev.repartition(24).write.parquet(path)
    before_files = len(glob.glob(f"{path}/*.parquet"))
    n_before = spark.read.parquet(path).count()

    n = compact(spark, path, partition_cols=())

    after_files = len(glob.glob(f"{path}/*.parquet"))
    assert n == n_before == spark.read.parquet(path).count()
    assert before_files >= 24 and after_files == 1


def test_fuzzy_blocking_is_lossless_on_current_names(spark, sf_dir):
    """The scale-stable (length, prefix) block keys must not change the
    answer on this corpus: recompute with business-key-only blocking
    (the exhaustive-within-block form) and compare."""
    from forex_data_pipeline_spark import catalog

    catalog._ensure_loaded()
    got = {
        (r.c_nationkey, r.c_mktsegment, r.n_close_pairs, r.min_dist)
        for r in catalog.REGISTRY["fuzzy_name_pairs"]
        .fn(spark, sf_dir).collect()
    }
    cust = load(spark, sf_dir, "customer").select(
        "c_nationkey", "c_mktsegment", "c_custkey", "c_name"
    )
    a, b = cust.alias("a"), cust.alias("b")
    exhaustive = (
        a.join(
            b,
            (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
            & (F.col("a.c_mktsegment") == F.col("b.c_mktsegment"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        )
        .filter(
            F.levenshtein(F.col("a.c_name"), F.col("b.c_name")) <= 2
        )
        .groupBy(
            F.col("a.c_nationkey").alias("c_nationkey"),
            F.col("a.c_mktsegment").alias("c_mktsegment"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_close_pairs"),
            F.min(
                F.levenshtein(F.col("a.c_name"), F.col("b.c_name"))
            ).cast("bigint").alias("min_dist"),
        )
    )
    expected = {
        (r.c_nationkey, r.c_mktsegment, r.n_close_pairs, r.min_dist)
        for r in exhaustive.collect()
    }
    assert got == expected


def test_fuzzy_fanout_branch_equals_single_block(
    spark, sf_dir, monkeypatch
):
    """The chunk-pair fan-out (C>1) must emit the IDENTICAL final
    aggregate as the degenerate C=1 single-task-per-block plan: force
    a tiny per-chunk target so test scale fans out to the C=16 cap,
    and compare row-for-row (the simhash branch-equality pattern)."""
    from forex_data_pipeline_spark import catalog
    from forex_data_pipeline_spark.queries import relational

    catalog._ensure_loaded()
    fn = catalog.REGISTRY["fuzzy_name_pairs"].fn
    single = {tuple(r) for r in fn(spark, sf_dir).collect()}
    monkeypatch.setattr(relational, "_FZ_CHUNK_ROWS", 10)
    fanned = {tuple(r) for r in fn(spark, sf_dir).collect()}
    assert single, "test corpus should produce close name pairs"
    assert fanned == single


def test_fuzzy_fanout_branch_matches_oracle_directly(
    spark, sf_dir, oracle_con, monkeypatch
):
    """Strict DuckDB value-hash of the forced-fan-out path itself (at
    bench SFs C=1, so the regular oracle sweep never exercises C>1
    grouping/cross-chunk dedup directly)."""
    from tests.conftest import assert_df_matches_oracle

    from forex_data_pipeline_spark import catalog
    from forex_data_pipeline_spark.queries import relational

    catalog._ensure_loaded()
    spec = catalog.REGISTRY["fuzzy_name_pairs"]
    monkeypatch.setattr(relational, "_FZ_CHUNK_ROWS", 10)
    assert_df_matches_oracle(spec.fn(spark, sf_dir), oracle_con, spec.oracle)


def test_asof_bucketed_duplicate_right_ts_is_deterministic(spark):
    """Two right rows at the SAME (key, timestamp) with different
    values: the bucketed carry summary must pick deterministically
    (largest value among equal-ts rows via the struct(ts, value)
    max_by ordering), regardless of input partitioning. Plain
    asof_join is partition-order-dependent here, so dup right ts is
    out of the equivalence contract — but the bucketed form must at
    least be stable across runs/layouts."""
    import pandas as pd

    from forex_data_pipeline_spark.operators.joins import asof_join_bucketed

    lpdf = pd.DataFrame(
        {"k": ["a", "a"], "lts": pd.to_datetime([100, 4000], unit="s")}
    )
    rpdf = pd.DataFrame(
        {
            "k": ["a", "a", "a"],
            "rts": pd.to_datetime([50, 50, 50], unit="s"),
            "val": [3.0, 9.0, 1.0],
        }
    )
    kwargs = dict(
        on=["k"], left_ts="lts", right_ts="rts", value_cols=["val"],
        suffix="_asof",
    )
    results = []
    for nparts in (1, 3):
        l = spark.createDataFrame(lpdf).repartition(nparts)
        r = spark.createDataFrame(rpdf).repartition(nparts)
        out = (
            asof_join_bucketed(l, r, time_bucket="1 minute", **kwargs)
            .orderBy("lts")
            .collect()
        )
        results.append([row.val_asof for row in out])
    # both left rows (in-bucket pick and cross-bucket carry) resolve
    # to the max value among the tied timestamps, on every layout
    assert results[0] == results[1] == [9.0, 9.0]


def test_equal_length_lev2_identity():
    """fuzzy_name_pairs' kernel rests on this identity for EQUAL-LENGTH
    strings (the block keys guarantee equal length): lev(a,b) <= 2
    iff hamming(a,b) <= 2 (and then lev == hamming) OR a and b share
    a 1-deletion variant (and then lev == 2 when hamming > 2).
    Brute-force checked against a reference levenshtein over random
    edit neighborhoods, including the adversarial low-entropy
    run-of-repeats strings where indel shifts preserve lev."""
    import random

    def lev(a: str, b: str) -> int:
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    def dels(s: str) -> set:
        return {s[:i] + s[i + 1:] for i in range(len(s))}

    rng = random.Random(11)
    checked = 0
    for _ in range(4000):
        L = rng.randint(2, 20)
        alpha = rng.choice(["01", "0123456789", "Customer#0123456789"])
        a = "".join(rng.choice(alpha) for _ in range(L))
        b = list(a)
        for _ in range(rng.randint(0, 3)):
            op = rng.choice("ss d i")  # bias toward substitutions
            if op == "s":
                b[rng.randrange(len(b))] = rng.choice(alpha)
            elif op == "d" and len(b) > 1:
                b.pop(rng.randrange(len(b)))
            elif op == "i":
                b.insert(rng.randrange(len(b) + 1), rng.choice(alpha))
        b = "".join(b)
        if len(b) != len(a):
            continue  # the kernel only ever sees equal lengths
        checked += 1
        d = lev(a, b)
        ham = sum(x != y for x, y in zip(a, b))
        shares = bool(dels(a) & dels(b))
        kernel = ham if ham <= 2 else (2 if shares else 99)
        if d <= 2:
            assert kernel == d, (a, b, d, ham, shares)
        else:
            assert kernel > 2, (a, b, d, ham, shares)
    assert checked > 1000
