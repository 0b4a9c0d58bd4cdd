"""Property-based tests (hypothesis): the invariants behind the
operators, checked over randomized inputs rather than fixtures.

Kept deliberately small per example (driver-side data, ≤60 rows) — the
properties are about semantics, not volume; volume is bench's job.
"""

from __future__ import annotations

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from forex_data_pipeline_spark.operators.candles import bucket_epoch
from forex_data_pipeline_spark.operators.skew import salted_aggregate
from forex_data_pipeline_spark.operators.joins import asof_join

_SETTINGS = dict(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(
    epochs=st.lists(
        st.integers(min_value=0, max_value=2_000_000_000), min_size=1, max_size=40
    ),
    dur=st.sampled_from([60, 300, 900, 3600, 14400, 86400]),
    shift=st.sampled_from([0, 3600, 7200]),
)
@settings(**_SETTINGS)
def test_bucket_matches_integer_floor_semantics(spark, epochs, dur, shift):
    """bucket_epoch(ts, dur, shift) must equal the pure-integer definition
    floor((epoch+shift)/dur)*dur - shift for any timestamp, duration,
    and clock shift — the invariant the reference hand-stamps per
    timeframe (fct_eurusd_timeframes.sql:42-56)."""
    pdf = pd.DataFrame({"ts": pd.to_datetime(epochs, unit="s")})
    df = spark.createDataFrame(pdf).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    got = [
        r.b
        for r in df.select(
            bucket_epoch(F.col("ts"), dur, shift).alias("b")
        ).collect()
    ]
    expected = [((e + shift) // dur) * dur - shift for e in epochs]
    assert got == expected


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "hot"]),  # skewed key domain
            st.integers(min_value=-10_000, max_value=10_000),
        ),
        min_size=1,
        max_size=60,
    ),
    salts=st.sampled_from([1, 2, 7, 16]),
)
@settings(**_SETTINGS)
def test_salted_aggregate_salt_invariance(spark, rows, salts):
    """The salted two-stage plan must equal the plain groupBy for ANY
    salt count — sum/count/min/max are commutative monoids, so the
    result cannot depend on how rows were split."""
    pdf = pd.DataFrame(rows, columns=["k", "v"])
    pdf["rid"] = range(len(pdf))
    df = spark.createDataFrame(pdf)
    salted = salted_aggregate(
        df,
        ["k"],
        {"s": ("sum", "v"), "n": ("count", "v"),
         "lo": ("min", "v"), "hi": ("max", "v")},
        salts=salts,
        uniform_cols=["rid"],
    )
    got = {
        r.k: (r.s, r.n, r.lo, r.hi) for r in salted.collect()
    }
    grp = pdf.groupby("k")["v"]
    expected = {
        k: (int(g.sum()), int(g.count()), int(g.min()), int(g.max()))
        for k, g in grp
    }
    assert got == expected


@given(
    left_ts=st.lists(
        st.integers(min_value=0, max_value=500), min_size=1, max_size=25
    ),
    right=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=500),
            st.integers(min_value=-100, max_value=100),
        ),
        min_size=1,
        max_size=25,
    ),
)
@settings(**_SETTINGS)
def test_asof_join_matches_pandas_merge_asof(spark, left_ts, right):
    """asof_join (union+window formulation) must agree with pandas
    merge_asof ('backward', inclusive) on arbitrary timestamp sets —
    including duplicates and left rows before any right row (NULL)."""
    lpdf = pd.DataFrame(
        {"k": "x", "lts": pd.to_datetime(sorted(set(left_ts)), unit="s")}
    )
    rpdf = (
        pd.DataFrame(right, columns=["rts", "val"])
        .drop_duplicates("rts")
        .sort_values("rts")
    )
    rpdf["k"] = "x"
    rpdf["rts"] = pd.to_datetime(rpdf["rts"], unit="s")

    got = (
        asof_join(
            spark.createDataFrame(lpdf),
            spark.createDataFrame(rpdf[["k", "rts", "val"]]),
            on=["k"],
            left_ts="lts",
            right_ts="rts",
            value_cols=["val"],
        )
        .orderBy("lts")
        .toPandas()
    )
    expected = pd.merge_asof(
        lpdf.sort_values("lts"),
        rpdf.sort_values("rts"),
        left_on="lts",
        right_on="rts",
        by="k",
        direction="backward",
    )
    got_vals = [None if pd.isna(v) else int(v) for v in got["val_asof"]]
    exp_vals = [None if pd.isna(v) else int(v) for v in expected["val"]]
    assert got_vals == exp_vals


@given(
    values=st.lists(
        st.integers(min_value=0, max_value=1000), min_size=1, max_size=40
    ),
    bands=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=900),
            st.integers(min_value=1, max_value=300),
        ),
        min_size=1,
        max_size=6,
    ),
    width=st.sampled_from([10.0, 50.0, 128.0]),
)
@settings(**_SETTINGS)
def test_bucketed_range_join_equals_broadcast_form(spark, values, bands, width):
    """The interval-bucketed (equi-join) range join must return exactly
    the broadcast nested-loop result for ANY intervals, values, and
    bucket width — including intervals ending on bucket edges."""
    from forex_data_pipeline_spark.operators.joins import (
        range_join,
        range_join_bucketed,
    )

    facts = spark.createDataFrame(
        pd.DataFrame({"rid": range(len(values)), "v": [float(x) for x in values]})
    )
    bpdf = pd.DataFrame(
        [(f"b{i}", float(lo), float(lo + w)) for i, (lo, w) in enumerate(bands)],
        columns=["band", "lo", "hi"],
    )
    bdf = spark.createDataFrame(bpdf)

    broadcast_rows = {
        (r.rid, r.band)
        for r in range_join(
            facts, bdf, F.col("v"), F.col("lo"), F.col("hi")
        ).collect()
    }
    bucketed_rows = {
        (r.rid, r.band)
        for r in range_join_bucketed(
            facts, bdf, F.col("v"), "lo", "hi", bucket_width=width
        ).collect()
    }
    assert bucketed_rows == broadcast_rows


def test_hll_sketch_rollup_merges_and_bounds_error(spark, sf_dir):
    """The day-sketch union must equal the single whole-series sketch
    (merge associativity) and sit within 5% of the exact distinct
    count — the contract that makes stored sketches safe rollup state."""
    from pyspark.sql import functions as F

    from forex_data_pipeline_spark import catalog
    from forex_data_pipeline_spark.tables import load

    catalog._ensure_loaded()
    rolled = {
        r["event_type"]: r["est_distinct_users"]
        for r in catalog.REGISTRY["hll_sketch_rollup"].fn(spark, sf_dir).collect()
    }
    ev = load(spark, sf_dir, "events")
    direct = {
        r["event_type"]: r["est"]
        for r in ev.groupBy("event_type")
        .agg(
            F.expr(
                "hll_sketch_estimate(hll_sketch_agg(CAST(user_id AS STRING)))"
            ).cast("bigint").alias("est")
        )
        .collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert rolled == direct  # union of partial sketches == one-shot sketch
    for et, n in exact.items():
        assert abs(rolled[et] - n) <= max(1, 0.05 * n)


@given(
    vecs=st.lists(
        st.tuples(
            st.lists(st.floats(-10, 10, allow_nan=False, width=32),
                     min_size=4, max_size=4),
            st.lists(st.floats(-10, 10, allow_nan=False, width=32),
                     min_size=4, max_size=4),
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_l2sq_unrolled_is_bit_identical_to_fold(spark, vecs):
    """The codegen-unrolled distance must equal the higher-order fold
    EXACTLY (same left-to-right summation order) — PQ's correctness
    claims rest on interchangeability."""
    from forex_data_pipeline_spark.functions.vector import l2sq, l2sq_unrolled

    df = spark.createDataFrame(
        [(a, b) for a, b in vecs], "a array<float>, b array<float>"
    )
    rows = df.select(
        l2sq(F.col("a"), F.col("b")).alias("fold"),
        l2sq_unrolled(F.col("a"), F.col("b"), 4).alias("unrolled"),
    ).collect()
    for r in rows:
        assert r.fold == r.unrolled  # bitwise, no tolerance


@given(
    left_rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.integers(min_value=0, max_value=400000),
        ),
        min_size=1,
        max_size=20,
    ),
    right_rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.integers(min_value=0, max_value=400000),
            st.one_of(
                st.none(), st.integers(min_value=-100, max_value=100)
            ),
        ),
        min_size=1,
        max_size=20,
        unique_by=lambda t: (t[0], t[1]),
    ),
)
@settings(**_SETTINGS)
def test_asof_join_bucketed_matches_plain(spark, left_rows, right_rows):
    """The skew-aware (key, time-bucket)-partitioned as-of join must be
    row-identical to the plain keys-only form on arbitrary inputs —
    equal timestamps, NULL right values (the per-column ignorenulls
    carry), left rows before any right row, keys missing from one side,
    and bucket boundaries crossing between a left row and its match (a
    1-minute bucket over a ~4.6-day spread forces real carry-ins)."""
    from forex_data_pipeline_spark.operators.joins import asof_join_bucketed

    lpdf = pd.DataFrame(left_rows, columns=["k", "ts"])
    lpdf["lts"] = pd.to_datetime(lpdf.pop("ts"), unit="s")
    lpdf["lid"] = range(len(lpdf))
    rpdf = pd.DataFrame(right_rows, columns=["k", "ts", "val"])
    rpdf["rts"] = pd.to_datetime(rpdf.pop("ts"), unit="s")
    rpdf["val"] = rpdf["val"].astype("float64")
    l, r = spark.createDataFrame(lpdf), spark.createDataFrame(
        rpdf[["k", "rts", "val"]]
    )

    kwargs = dict(
        on=["k"], left_ts="lts", right_ts="rts",
        value_cols=["val"], suffix="_asof",
    )
    base = asof_join(l, r, **kwargs).orderBy("lid").toPandas()
    bucketed = (
        asof_join_bucketed(l, r, time_bucket="1 minute", **kwargs)
        .orderBy("lid")
        .toPandas()
    )
    assert list(bucketed.columns) == list(base.columns)
    b_vals = [None if pd.isna(v) else v for v in base["val_asof"]]
    k_vals = [None if pd.isna(v) else v for v in bucketed["val_asof"]]
    assert b_vals == k_vals


def test_kmv_hierarchical_merge_equals_direct_topk(spark, sf_dir):
    """The hour→day KMV rollup must equal the direct per-day k-smallest
    distinct hashes — the monoid-merge property that makes stored KMV
    sketches safe partial-aggregation state (and the premise the
    strict oracle relies on: DuckDB computes the DIRECT form)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from forex_data_pipeline_spark.queries.timeseries import (
        _KMV_K,
        _kmv_day_sets,
    )

    hashed, kmv = _kmv_day_sets(spark, sf_dir)
    w = Window.partitionBy("day").orderBy("h")
    direct = (
        hashed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KMV_K)
        .select("day", "h")
    )
    merged_rows = {(r["day"], r["h"]) for r in kmv.collect()}
    direct_rows = {(r["day"], r["h"]) for r in direct.collect()}
    assert merged_rows == direct_rows
    assert len(merged_rows) > 0


def test_theta_set_algebra_inclusion_exclusion(spark, sf_dir):
    """Union/A-only/B-only and the separately-registered intersection
    estimate must be inclusion-exclusion consistent per pair: the four
    samples are carved out of the same {h < θ} window, so
    n_union = n_aonly + n_bonly + n_inter EXACTLY, and the estimates
    share the scale factor 2^52/θ."""
    from forex_data_pipeline_spark import catalog

    catalog._ensure_loaded()
    alg = {
        r["day_a"]: r
        for r in catalog.REGISTRY["kmv_theta_set_algebra"]
        .fn(spark, sf_dir)
        .collect()
    }
    inter = {
        r["day_a"]: r
        for r in catalog.REGISTRY["kmv_theta_intersection"]
        .fn(spark, sf_dir)
        .collect()
    }
    assert set(alg) == set(inter) and alg
    for day, a in alg.items():
        i = inter[day]
        est_sum = a["est_a_only"] + a["est_b_only"] + i["est_common"]
        # identical θ ⇒ the counts partition exactly; the double sums
        # may differ by float addition order only
        assert abs(a["est_union"] - est_sum) < 1e-6 * max(1.0, est_sum)


def test_kaplan_meier_risk_table_is_horizon_bounded(spark, sf_dir):
    """The KM single-partition windows run over per-day cells, so their
    input cardinality must be bounded by the censor horizon (+1 for
    the censoring day), NOT by corpus size — the property that keeps
    the plan constant-cost at 100 TB. Also: survival must be a
    monotonically non-increasing curve ending above 0 (censoring
    guarantees survivors)."""
    from forex_data_pipeline_spark import catalog
    from forex_data_pipeline_spark.queries.relational import _KM_CENSOR_DAYS

    catalog._ensure_loaded()
    rows = (
        catalog.REGISTRY["kaplan_meier_shipping"]
        .fn(spark, sf_dir)
        .orderBy("t")
        .collect()
    )
    assert 0 < len(rows) <= _KM_CENSOR_DAYS + 1
    surv = [r["survival_ppm"] for r in rows]
    assert all(a >= b for a, b in zip(surv, surv[1:]))
    assert surv[-1] > 0


def test_dp_laplace_noise_is_laplace_scaled(spark, sf_dir):
    """The hash oracle proves cross-engine EQUALITY of the noise, not
    that it is Laplace — check the mechanism itself: for Laplace(b=1),
    E|x| = b, so the mean absolute noise over the 150 release cells
    must sit near 1 (loose CLT band), and signs must not be
    one-sided."""
    from forex_data_pipeline_spark import catalog

    catalog._ensure_loaded()
    rows = (
        catalog.REGISTRY["dp_laplace_release"].fn(spark, sf_dir).collect()
    )
    noises = [r["noise_nano"] / 1e9 for r in rows]
    assert len(noises) >= 100
    mean_abs = sum(abs(x) for x in noises) / len(noises)
    assert 0.6 < mean_abs < 1.5, mean_abs
    n_pos = sum(1 for x in noises if x > 0)
    assert 0.3 < n_pos / len(noises) < 0.7


def test_gumbel_sample_prefers_heavy_documents(spark, sf_dir):
    """Inclusion must actually be weight-biased: the mean weight of
    the Gumbel top-k sample has to exceed the corpus mean weight —
    otherwise the keys degenerated to unweighted noise."""
    from pyspark.sql import functions as F

    from forex_data_pipeline_spark import catalog
    from forex_data_pipeline_spark.tables import load

    catalog._ensure_loaded()
    sample = (
        catalog.REGISTRY["gumbel_topk_weighted_sample"]
        .fn(spark, sf_dir)
        .agg(F.avg("w"))
        .collect()[0][0]
    )
    corpus = (
        load(spark, sf_dir, "documents")
        .filter(F.col("n_chars") > 0)
        .agg(F.avg("n_chars"))
        .collect()[0][0]
    )
    assert sample > corpus, (sample, corpus)
