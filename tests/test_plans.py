"""Physical-plan audits: lock in the plan shapes that make the engine
scale (SURVEY §4). Correctness tests prove the numbers; these prove the
plan would survive 100×: small dims broadcast (no shuffle of the big
side), filters reach the parquet scan, projections prune columns at the
reader, hot expressions stay inside whole-stage codegen, and no
accidental cartesian products.
"""

from __future__ import annotations

from contextlib import contextmanager

from forex_data_pipeline_spark import catalog
from forex_data_pipeline_spark.session import child_session
from forex_data_pipeline_spark.tables import load

catalog._ensure_loaded()


def plan_of(df) -> str:
    """Formatted physical plan (what .explain('formatted') prints)."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def run(name: str, spark, sf_dir):
    return catalog.REGISTRY[name].fn(spark, sf_dir)


@contextmanager
def _no_auto_broadcast(spark):
    """Disable statistics-based broadcast selection so the only way a
    BroadcastHashJoin can appear in the plan is an explicit hint."""
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)


def test_small_dim_joins_are_broadcast(spark, sf_dir):
    """nation/region/supplier are KBs — shuffling lineitem to join them
    would be the classic 100 TB mistake. Catalyst must pick
    BroadcastHashJoin for every join in the revenue rollup."""
    plan = plan_of(run("join_revenue_by_nation", spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_semi_anti_joins_are_broadcast(spark, sf_dir):
    for q in ("semi_join_customers", "anti_join_customers"):
        plan = plan_of(run(q, spark, sf_dir))
        assert "BroadcastHashJoin" in plan, q
        assert "CartesianProduct" not in plan, q


def test_filter_pushdown_reaches_parquet_scan(spark, sf_dir):
    """A typed filter on a scan column must appear as PushedFilters on
    the parquet reader, not as a post-scan Filter only."""
    li = load(spark, sf_dir, "lineitem").filter("l_quantity > 40").select(
        "l_orderkey", "l_quantity"
    )
    plan = plan_of(li)
    assert "PushedFilters" in plan
    assert "GreaterThan(l_quantity,40.0)" in plan.replace(" ", "")


def test_column_pruning_reaches_parquet_scan(spark, sf_dir):
    """pricing_summary touches 7 of lineitem's 11 columns; the scan's
    ReadSchema must not include the untouched ones."""
    plan = plan_of(run("pricing_summary", spark, sf_dir))
    read_schema = [
        ln for ln in plan.splitlines() if "ReadSchema" in ln
    ]
    assert read_schema, "no ReadSchema in plan"
    schema_line = read_schema[0]
    for unused in ("l_partkey", "l_suppkey", "l_comment"):
        assert unused not in schema_line


def test_partial_aggregation_before_shuffle(spark, sf_dir):
    """The candle groupBy must do a map-side partial aggregate (two
    HashAggregate nodes around one Exchange) — at 100 TB the partial
    collapses each 5-min bucket per partition before shuffling."""
    plan = plan_of(run("candles_5m", spark, sf_dir))
    exchanges = plan.count("Exchange")
    aggregates = plan.count("HashAggregate") + plan.count(
        "SortAggregate"
    ) + plan.count("ObjectHashAggregate")
    assert aggregates >= 2, plan
    assert exchanges <= aggregates


def test_whole_stage_codegen_on_hot_path(spark, sf_dir):
    """Scalar expression pipelines must run inside generated JVM code,
    not interpreted row-at-a-time evaluation. AQE only materializes the
    final plan after execution, so run the query first."""
    df = run("pricing_summary", spark, sf_dir)
    df.collect()
    plan = plan_of(df)
    # formatted mode tags codegen'd operators with "[codegen id : N]"
    assert "codegen id" in plan
    assert "isFinalPlan=true" in plan


def test_no_cartesian_products_anywhere(spark, sf_dir):
    """No registered query may fall back to CartesianProduct; bounded
    nested-loop joins must at least broadcast one side."""
    offenders = []
    for name, spec in sorted(catalog.REGISTRY.items()):
        if "stream" in spec.tags or name in (
            "streaming_candles_5m",
            "session_windows",
        ):
            continue  # streaming plans are only resolved at run time
        try:
            plan = plan_of(spec.fn(spark, sf_dir))
        except Exception:  # noqa: BLE001 - e.g. writes in query setup
            continue
        if "CartesianProduct" in plan:
            offenders.append(name)
    assert not offenders, offenders


def test_minhash_single_shingle_pass(spark, sf_dir):
    """The wide MinHash signature must aggregate all K hashes in one
    pass over the shingles — exactly one Exchange feeding the final
    aggregate (no K-fold explosion join)."""
    plan = plan_of(run("minhash_signatures", spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_partition_pruning_on_partitioned_table(spark, sf_dir, tmp_path):
    """Hive-layout writes (S4) must yield partition-pruned scans: a
    filter on the partition column shows up as PartitionFilters and
    never as a data filter — at 100 TB this is the difference between
    reading one day and reading the lake."""
    from pyspark.sql import functions as F

    ev = load(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    day = ev.select(F.min("day").alias("d")).first()["d"]
    path = str(tmp_path / "ev_partitioned")
    ev.write.partitionBy("day").parquet(path)

    pruned = spark.read.parquet(path).filter(F.col("day") == F.lit(day))
    plan = plan_of(pruned)
    scan_part = plan[plan.index("PartitionFilters"):]
    assert "day" in scan_part.splitlines()[0]
    # and the partition predicate must NOT degrade into a row-level
    # Filter operator — pruning consumes it entirely at planning time
    assert "Filter (" not in plan


def test_topk_uses_window_group_limit_pushdown(spark, sf_dir):
    """Per-group top-k must plan as WindowGroupLimit (rank filter pushed
    below the full window sort) — at scale this keeps k rows per group
    per partition instead of ranking every row."""
    plan = plan_of(run("topk_orders_per_customer", spark, sf_dir))
    assert "WindowGroupLimit" in plan


def test_star_join_broadcasts_all_dims(spark, sf_dir):
    """TPC-H Q5 shape: only the fact-to-fact join may shuffle; the
    three dimension hops must all be broadcast."""
    plan = plan_of(run("star_join_revenue", spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_correlated_subquery_is_decorrelated(spark, sf_dir):
    """The correlated scalar subquery must plan as aggregate + join —
    no per-row subquery execution (no InSubquery/ScalarSubquery left
    in the physical plan)."""
    plan = plan_of(run("correlated_subquery_orders", spark, sf_dir))
    assert "HashAggregate" in plan or "SortAggregate" in plan
    assert "Join" in plan


def test_dynamic_partition_pruning_on_fact_join(spark, sf_dir, tmp_path):
    """Joining a date-partitioned fact to a filtered dim must prune fact
    partitions at RUNTIME via the dim's join keys (DPP): the fact scan
    carries a dynamicpruning subquery in its partition filters, so at
    100 TB only the partitions matching the dim filter are read — the
    static-pruning test above covers literal predicates; this covers
    predicates only known after the dim scan."""
    from pyspark.sql import functions as F

    ev = load(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts").cast("string")
    )
    fact_path = str(tmp_path / "fact_by_day")
    ev.write.partitionBy("day").parquet(fact_path)
    fact = spark.read.parquet(fact_path)
    dim = (
        fact.select("day").distinct().limit(2)
        .withColumn("tag", F.lit("keep"))
    )
    dim_path = str(tmp_path / "dim_days")
    dim.write.parquet(dim_path)
    dim = spark.read.parquet(dim_path)

    joined = fact.join(dim.filter(F.col("tag") == "keep"), "day").groupBy(
        "day"
    ).count()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_join_strategy_hints_are_honored(spark, sf_dir):
    """Join-strategy hints must reach the planner: SHUFFLE_HASH forces
    ShuffledHashJoin and MERGE forces SortMergeJoin even where the
    default would broadcast — the manual override used when a
    'small' side is known to blow past the broadcast threshold at
    production scale."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")

    shj = li.join(o.hint("shuffle_hash"), li.l_orderkey == o.o_orderkey)
    assert "ShuffledHashJoin" in shj._jdf.queryExecution().executedPlan().toString()

    smj = li.join(o.hint("merge"), li.l_orderkey == o.o_orderkey)
    assert "SortMergeJoin" in smj._jdf.queryExecution().executedPlan().toString()


def test_bloom_prune_uses_broadcast_semi_joins(spark, sf_dir):
    """The bit-packed word table is m-bounded (≤ m/32 rows) — the
    candidate prune must be broadcast word-lookup joins, never a
    shuffle of the eval shingle stream against it. (Round-7 form:
    inner joins on the word index + mask filters replaced the
    one-row-per-occupied-bit LeftSemi pair, which saturated and
    stopped pruning at the sf10 rehearsal.)

    The word table is localCheckpoint'ed inside the query (round 8:
    two differently-projected consumers re-ran the explode+bit_or
    subtree otherwise), which truncates its lineage in the main plan
    to a Scan ExistingRDD — so the bit_or packing aggregation is
    asserted on the PRE-checkpoint word-table plan via _bloom_build,
    not on the main plan."""
    from forex_data_pipeline_spark.queries import llm_ops

    _, _, _, words_raw = llm_ops._bloom_build(spark, sf_dir)
    words_plan = plan_of(words_raw)
    assert "bit_or" in words_plan  # bit-packed aggregation, pre-checkpoint
    assert "shiftright" in words_plan  # bit>>5 word index

    plan = plan_of(run("bloom_pruned_contamination", spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_pq_codebook_joins_are_broadcast(spark, sf_dir):
    """PQ codebooks (m·k rows) and ADC distance tables are
    data-independent constants — every join against them must
    broadcast; a sort-merge join would shuffle the corpus-sized code
    stream for no reason."""
    plan = plan_of(run("ann_pq_topk", spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_discount_band_pushdown_reaches_scan(spark, sf_dir):
    """TPC-H Q6 shape: both range predicates must be pushed to the
    parquet reader and only the three needed columns read."""
    plan = plan_of(run("discount_band_revenue", spark, sf_dir))
    assert "PushedFilters:" in plan
    assert "l_discount" in plan.split("PushedFilters:")[1].split("\n")[0]
    read_schema = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "l_extendedprice" in read_schema
    assert "l_orderkey" not in read_schema


def test_skipgram_has_no_positional_self_join(spark, sf_dir):
    """Pairs generate map-side from the token array — the corpus must
    not self-join on (doc, pos)."""
    plan = plan_of(run("skipgram_pairs", spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" not in plan
    assert "CartesianProduct" not in plan


def test_parquet_aggregate_pushdown_reaches_footer(spark, sf_dir):
    """COUNT/MIN/MAX must be answered by the reader (PushedAggregation
    in the scan node), not by scanning data pages."""
    import pyspark.sql.functions as F

    v2 = child_session(spark, {
        "spark.sql.sources.useV1SourceList": "",
        "spark.sql.parquet.aggregatePushdown": "true",
    })
    agg = v2.read.parquet(f"{sf_dir}/lineitem.parquet").agg(
        F.count(F.lit(1)), F.min("l_orderkey"), F.max("l_partkey")
    )
    assert "PushedAggregation: [COUNT(*)" in plan_of(agg)


def test_incremental_dedup_band_join_is_shuffle(spark, sf_dir):
    """incremental_minhash_dedup's delta is a fixed FRACTION of the
    corpus (top decile of doc_id) — data-proportional, so it must NOT
    carry a broadcast hint (a hinted broadcast of an unbounded relation
    dies at plan time at scale; r2 verdict finding #1). The (band, hash)
    join must be a shuffle join; the only nested-loop allowed is the
    1-row cutoff scalar. AQE may still pick a runtime broadcast from
    ACTUAL sizes — that is the correct mechanism, the hint was not.
    autoBroadcastJoinThreshold is disabled inside the test so a
    statistics-chosen small-table broadcast (legitimate at test SF)
    cannot mask a re-added hint: with the threshold off, only a HINT
    can produce a BroadcastHashJoin."""
    with _no_auto_broadcast(spark):
        plan = plan_of(run("incremental_minhash_dedup", spark, sf_dir))
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan
    assert "CartesianProduct" not in plan


def test_fuzzy_name_pairs_plan_is_kernel_shaped(spark, sf_dir):
    """fuzzy_name_pairs (round-7 form) must run its verify inside the
    per-block Arrow kernel — NO pair-producing join of customer against
    itself may exist anywhere in the plan (the superseded designs'
    failure modes: a data-proportional broadcast of the full relation,
    r2 finding #2; a single-task probe stage under AQE runtime
    broadcast, r3's 7.1x regression; Theta(n^2) rows materialized
    between operators). The only stages allowed are the block-keyed
    shuffle into FlatMapGroupsInPandas and the 125-row aggregate above
    it.

    The ONE join-like node permitted (round 8) is the chunk-pair
    fan-out: a BroadcastNestedLoopJoin whose build side is the literal
    C*(C+1)/2-row (ca, cb) table (C <= 16, so <= 136 rows — a constant
    multiplier, NOT a pair-producing self-join). The lock pins that
    shape exactly: at most one BNLJ, its build side the sole Scan
    ExistingRDD emitting exactly [ca, cb], its condition the chunk
    routing disjunction, and exactly ONE parquet scan in the whole
    plan (customer is never joined against customer)."""
    import re

    df = run("fuzzy_name_pairs", spark, sf_dir)
    plan = plan_of(df)
    assert "FlatMapGroupsInPandas" in plan
    for joinlike in (
        "SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
        "CartesianProduct",
    ):
        assert joinlike not in plan, joinlike
    # the formatted plan names each node twice (tree + detail block);
    # count nodes in the tree section only
    tree = plan.split("\n\n(1)")[0]
    assert tree.count("Scan parquet") == 1, tree  # customer scanned ONCE
    n_bnlj = tree.count("BroadcastNestedLoopJoin")
    assert n_bnlj <= 1, tree
    if n_bnlj:
        # build side is the literal chunk-pair table: the only
        # ExistingRDD scan, emitting exactly the two chunk columns
        assert tree.count("Scan ExistingRDD") == 1, tree
        assert re.search(
            r"Scan ExistingRDD\s*\nOutput \[2\]: \[ca#\d+, cb#\d+\]", plan
        ), plan
        # condition is chunk ROUTING (each row kept for the <= C+1
        # chunk-pairs naming its chunk), not a pair predicate
        assert re.search(
            r"Join condition: \(\(ca#\d+ = c#\d+\) OR \(cb#\d+ = c#\d+\)\)",
            plan,
        ), plan
    # the kernel input is shuffled by the FULL block key (nation,
    # segment, length, prefix) so block growth in a diverse corpus
    # spreads across the cluster instead of landing on 25 nations
    assert "name_pfx" in plan and "name_len" in plan
    # nothing pair-sized crosses stages: the kernel's OUTPUT schema is
    # the per-block aggregate, not candidate pairs
    assert "n_close_pairs" in plan


def test_fuzzy_kernel_rows_never_leave_executors(spark, sf_dir):
    """The executed plan's kernel stage must emit per-block AGGREGATE
    rows (one per non-empty block), so the post-kernel exchange carries
    ~125 rows at any scale — the property that makes the quadratic
    in-block verify safe at 100 TB."""
    df = run("fuzzy_name_pairs", spark, sf_dir)
    out = df.collect()
    # output is the (nation, segment) rollup of per-block rows
    assert 0 < len(out) <= 125
    executed = df._jdf.queryExecution().executedPlan().toString()
    final = executed.split("== Initial Plan ==")[0]
    assert "FlatMapGroupsInPandas" in final


def test_triangle_orientation_broadcast_is_size_gated(
    spark, sf_dir, monkeypatch
):
    """The node->pi orientation table is NODE-sized (data-proportional),
    so its broadcast must be size-gated (r2 verdict item 5): broadcast
    below _TRI_BCAST_MAX_NODES, shuffle join above — and both
    strategies must produce the identical triangle set."""
    from forex_data_pipeline_spark.queries import relational

    # the orientation is localCheckpoint-ed inside the query, so the
    # join strategy is only visible on the pre-checkpoint helper
    assert "BroadcastHashJoin" in plan_of(
        relational._oriented_part_edges(spark, sf_dir)
    )
    rows_bcast = sorted(
        map(tuple, run("triangle_count_part_graph", spark, sf_dir).collect())
    )

    monkeypatch.setattr(relational, "_TRI_BCAST_MAX_NODES", 0)
    with _no_auto_broadcast(spark):
        plan = plan_of(relational._oriented_part_edges(spark, sf_dir))
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "BroadcastHashJoin" not in plan
        rows_shuffle = sorted(
            map(
                tuple,
                run("triangle_count_part_graph", spark, sf_dir).collect(),
            )
        )
    assert rows_bcast == rows_shuffle


def test_triangle_wedge_join_has_no_cartesian(spark, sf_dir):
    """Degree-oriented triangle enumeration must stay equi-join shaped
    (wedge build + closing-edge probe); a cartesian means the
    orientation/blocking logic regressed."""
    plan = plan_of(run("triangle_count_part_graph", spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_asof_bucketed_window_partitions_on_time_bucket(spark, sf_dir):
    """The skew-aware as-of join's FILL window (the one sorting real
    row history) must partition on (key, _bucket), not key alone —
    key-only partitioning is exactly the hot-key straggler the variant
    exists to remove. The key-only exchange that remains belongs to the
    tiny per-bucket summary window (keys x buckets rows), which is the
    intended shape."""
    import re

    df = run("asof_join_skew_bucketed", spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    fill_windows = [
        line for line in plan.splitlines()
        if "windowspecdefinition" in line and "_ts" in line
    ]
    assert fill_windows, "fill window not found in plan"
    for line in fill_windows:
        assert re.search(r"windowspecdefinition\(user_id#\d+L?, _bucket#", line), line


def test_covariance_moments_shuffles_cells_not_vectors(spark, sf_dir):
    """embedding_covariance_moments must keep the outer-product
    expansion map-side: no join before the cell aggregation (the cells
    come from a per-row array expansion, not an explode x explode
    self-join), partial aggregation before the one data shuffle, and
    every post-agg join (per-dim sums, corpus count) broadcast — the
    plan whose shuffle carries dim(dim+1)/2 cells, not the corpus."""
    plan = plan_of(run("embedding_covariance_moments", spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan        # dim sums + n ride broadcasts
    assert plan.count("HashAggregate") >= 2   # partial + final on cells


def test_exact_substring_flag_join_is_semi(spark, sf_dir):
    """exact_substring_spans flags duplicated windows with a LEFT SEMI
    join on the shingle key — an inner join would duplicate a window
    row per matching dup-shingle row, and any cartesian/NLJ means the
    blocking regressed to pairwise. The dup-shingle side must stay an
    aggregate (count-distinct), never a corpus self-join."""
    plan = plan_of(run("exact_substring_spans", spark, sf_dir))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dsir_feature_table_is_broadcast(spark, sf_dir):
    """dsir_importance_weights joins every token against the B-row
    scored feature table; that side is constant-size and must ride a
    broadcast — a shuffle join here would reshuffle the whole token
    stream at corpus scale."""
    plan = plan_of(run("dsir_importance_weights", spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bm25_corpus_stats_ride_a_scalar_broadcast(spark, sf_dir):
    """bm25_topk joins every doc against the ONE-row corpus-stats
    aggregate. That must be a broadcast (BNLJ over a single row), the
    global top-k must be TakeOrderedAndProject (per-partition heaps),
    and nothing may sort-merge or cartesian the corpus."""
    plan = plan_of(run("bm25_topk", spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ols_is_one_scan_one_aggregate(spark, sf_dir):
    """ols_normal_equations must be a single lineitem scan feeding one
    partial+final aggregate — no join anywhere, and only the one
    aggregate exchange. Any extra exchange/join means the moment
    matrix stopped being a map-side combine."""
    plan = plan_of(run("ols_normal_equations", spark, sf_dir))
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2  # partial->final single-row agg
    assert "HashAggregate" in plan


def test_knn_query_set_is_broadcast_against_corpus(spark, sf_dir):
    """knn_label_eval scores corpus x query-subset via a non-equi
    broadcast join: the 100-row query side must broadcast; the corpus
    must never be the build side of anything, and no cartesian."""
    plan = plan_of(run("knn_label_eval", spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_mmr_greedy_runs_in_single_pandas_group(spark, sf_dir):
    """mmr_diversified_rerank's sequential greedy must reach Spark as
    exactly one FlatMapGroupsInPandas over the checkpointed shortlist;
    the C x C similarity self-join is shortlist-sized and must not
    regress to a cartesian over anything larger."""
    plan = plan_of(run("mmr_diversified_rerank", spark, sf_dir))
    # formatted plans print each node twice (tree line + detail block)
    assert plan.count("FlatMapGroupsInPandas (") == 1
    assert "CartesianProduct" not in plan


def test_ks_drift_window_partitions_by_series(spark, sf_dir):
    """The KS cumulative-count window must partition by event_type —
    a global (single-partition) window over per-value counts would
    serialize the whole distinct-value table through one task at
    scale. Totals ride broadcasts, never a sort-merge."""
    plan = plan_of(run("ks_drift_exact", spark, sf_dir))
    assert "windowspecdefinition(event_type" in plan
    assert "SortMergeJoin" not in plan


def test_dp_release_is_one_aggregation_no_joins(spark, sf_dir):
    """The seeded-Laplace release is a scalar expression over the
    released cells: exactly the base groupBy's shuffle(s), zero joins
    of any kind — noise must not cost a second pass."""
    plan = plan_of(run("dp_laplace_release", spark, sf_dir))
    assert plan.count("Exchange") <= 2
    for node in ("SortMergeJoin", "BroadcastHashJoin", "Cartesian"):
        assert node not in plan


def test_theta_sketch_joins_are_sketch_sized(spark, sf_dir):
    """Theta intersection/set-algebra joins operate on <= k rows/day
    sketch tables: every join must be hash/broadcast (no sort-merge of
    corpus-scale inputs, no cartesian)."""
    for q in ("kmv_theta_intersection", "kmv_theta_set_algebra"):
        plan = plan_of(run(q, spark, sf_dir))
        assert "Cartesian" not in plan, q
        assert "SortMergeJoin" not in plan, q
        assert "BroadcastHashJoin" in plan, q


def test_acf_all_lags_share_one_window_pass(spark, sf_dir):
    """All five ACF lags must ride a single Window node (one per-series
    sort) — five separate window passes would 5x the sort cost at
    scale. The stack() fan-out happens after the window."""
    plan = plan_of(run("acf_per_series", spark, sf_dir))
    window_nodes = [
        line for line in plan.splitlines()
        if line.strip().startswith("(") and ") Window" in line
    ]
    assert len(window_nodes) == 1, window_nodes


def test_gumbel_sample_is_mapside_takeordered(spark, sf_dir):
    """Gumbel-top-k keys compute map-side per row; the ONLY wire
    traffic is the TakeOrderedAndProject(k) — zero shuffles, zero
    joins. That's the property making the sampler 100 TB-shaped."""
    plan = plan_of(run("gumbel_topk_weighted_sample", spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan
    for node in ("SortMergeJoin", "BroadcastHashJoin", "Cartesian"):
        assert node not in plan


def test_mann_kendall_pair_join_is_not_cartesian(spark, sf_dir):
    """The O(n^2) pairwise stage must be a hash join keyed on
    event_type over the BOUNDED daily table — never a cartesian or a
    corpus-scale sort-merge."""
    plan = plan_of(run("mann_kendall_trend", spark, sf_dir))
    assert "Cartesian" not in plan
    assert "SortMergeJoin" not in plan


def test_haar_pyramid_has_no_joins(spark, sf_dir):
    """The wavelet pyramid is pure window + halving groupBys — any
    join in the plan means the levels stopped being map-side folds."""
    plan = plan_of(run("haar_energy_spectrum", spark, sf_dir))
    for node in ("SortMergeJoin", "BroadcastHashJoin", "Cartesian"):
        assert node not in plan


AGG_FAMILY_NO_HEAVY_JOIN = (
    "welch_ab_ttest",
    "did_event_value",
    "chi2_dow_uniformity",
    "mcnemar_paired_test",
    "psi_drift_bins",
    "interarrival_burstiness",
    "journey_entropy_rate",
    "hill_tail_index",
    "conformal_interval_calibration",
    "theil_index_decomposition",
)


def test_statistics_family_avoids_corpus_joins(spark, sf_dir):
    """Every round-5 statistics query is designed as map-side
    aggregation plus broadcast-sized lookups: a SortMergeJoin or
    cartesian in any of their plans means a corpus-scale shuffle
    crept in."""
    for q in AGG_FAMILY_NO_HEAVY_JOIN:
        plan = plan_of(run(q, spark, sf_dir))
        assert "SortMergeJoin" not in plan, q
        assert "Cartesian" not in plan, q
