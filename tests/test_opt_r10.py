"""Focused equivalence tests for the round-10 optimization pass.

Each test pins an internals change to the semantics it must preserve:
the optimizations replaced HOW something is computed (fewer folds,
fewer joins, no Python boundary) and these assert the WHAT is
bit-identical. The full-output guarantees stay with the DuckDB oracles
in test_correctness.py; these run on small frames so a regression is
localized to the rewritten kernel, not the composed query.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from forex_data_pipeline_spark.functions.vector import cosine, dot, norm


def test_precomputed_norm_cosine_is_bit_identical(spark, sf_dir):
    """dot(a,b)/(nrm_a*nrm_b) with per-row norms must equal cosine(a,b)
    EXACTLY (repr equality, no tolerance): the r10 rewrites of
    semdedup_prune / knn_label_eval / embedding_cosine_topk /
    _ivf_assign rely on the hoisted norm being the same IEEE
    expression, not an approximation."""
    from forex_data_pipeline_spark.tables import load

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("q_emb")
    )
    pairs = (
        emb.withColumn("nrm", norm(F.col("embedding")))
        .crossJoin(
            F.broadcast(q.withColumn("q_nrm", norm(F.col("q_emb"))))
        )
        .select(
            "vec_id",
            "qid",
            cosine(F.col("q_emb"), F.col("embedding")).alias("ref"),
            (
                dot(F.col("q_emb"), F.col("embedding"))
                / (F.col("q_nrm") * F.col("nrm"))
            ).alias("opt"),
        )
        .collect()
    )
    assert pairs
    for r in pairs:
        assert repr(r.ref) == repr(r.opt), (r.vec_id, r.qid)


def test_lsh_sig_table_matches_reference_signature(spark, sf_dir):
    """_lsh_sig_table (hoisted integerized vector shared by the 16
    projection folds) must produce the exact signature of the inline
    reference expression for every vector."""
    from forex_data_pipeline_spark.queries.llm_ops import (
        _lsh_sig_table,
        _lsh_signature_col,
    )
    from forex_data_pipeline_spark.tables import load

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    ref = emb.select("vec_id", _lsh_signature_col().alias("ref_sig"))
    opt = _lsh_sig_table(emb, with_embedding=False)
    diff = (
        ref.join(opt, "vec_id")
        .filter(F.col("ref_sig") != F.col("sig"))
        .count()
    )
    assert diff == 0


def test_clamped_balance_window_form_is_lindley_exact(spark):
    """The two-window Lindley form must replay max(0, s + d) exactly on
    a synthetic frame covering the clamp edge cases: leading negative,
    clamp mid-series, exact-zero touch, all-positive tail."""
    rows = [
        (1, 1, -3),
        (1, 2, 5),
        (1, 3, -10),
        (1, 4, 2),
        (2, 1, 4),
        (2, 2, -4),
        (2, 3, -1),
        (2, 4, 7),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts long, d long")
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cs = F.sum("d").over(w)
    got = {
        (r.user_id, r.ts): r.bal
        for r in df.select(
            "user_id",
            "ts",
            (cs - F.least(F.lit(0).cast("long"), F.min(cs).over(w))).alias(
                "bal"
            ),
        ).collect()
    }
    # sequential reference
    exp = {}
    for uid in (1, 2):
        bal = 0
        for ts, d in [(t, d) for u, t, d in rows if u == uid]:
            bal = max(0, bal + d)
            exp[(uid, ts)] = bal
    assert got == exp


def test_dedup_clusters_label_sum_convergence_is_fixpoint(spark, sf_dir):
    """The r10 sum-based convergence check may only stop at a true
    fixpoint: one more min-label propagation round over the returned
    labels must change nothing."""
    from forex_data_pipeline_spark.queries.llm_ops import (
        dedup_clusters,
        minhash_lsh_pairs,
    )

    labels = dedup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    pairs = minhash_lsh_pairs(spark, sf_dir).select("a_id", "b_id")
    edges = pairs.selectExpr("a_id AS src", "b_id AS dst").unionByName(
        pairs.selectExpr("b_id AS src", "a_id AS dst")
    )
    neighbor = edges.join(
        labels, edges.src == labels.doc_id
    ).select(F.col("dst").alias("doc_id"), "cluster_id")
    next_labels = (
        labels.unionByName(neighbor)
        .groupBy("doc_id")
        .agg(F.min("cluster_id").alias("cluster_id"))
    )
    changed = (
        next_labels.withColumnRenamed("cluster_id", "next_cid")
        .join(labels, "doc_id")
        .filter(F.col("next_cid") != F.col("cluster_id"))
        .count()
    )
    assert changed == 0


def test_fk_integrity_single_pass_matches_per_edge_anti_joins(
    spark, sf_dir
):
    """The single-lineitem-pass FK audit must emit exactly the rows the
    old per-edge anti-join formulation produced."""
    from forex_data_pipeline_spark import catalog
    from forex_data_pipeline_spark.tables import load

    catalog._ensure_loaded()
    got = {
        r.relationship: r.n_orphans
        for r in catalog.REGISTRY["fk_integrity_check"]
        .fn(spark, sf_dir)
        .collect()
    }
    edges = [
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("customer", "c_nationkey", "nation", "n_nationkey"),
    ]
    assert set(got) == {
        f"{c}.{fk} -> {p}.{pk}" for c, fk, p, pk in edges
    }
    for child, fk, parent, pk in edges:
        ch = load(spark, sf_dir, child).filter(F.col(fk).isNotNull())
        pa = load(spark, sf_dir, parent).select(pk)
        expected = ch.join(pa, ch[fk] == pa[pk], "left_anti").count()
        assert got[f"{child}.{fk} -> {parent}.{pk}"] == expected


def test_fk_single_pass_counts_survive_duplicate_parent_keys(spark):
    """r11 hardening: the single-pass probe dedups parent-key
    projections, so a duplicated parent key must neither fan out fact
    rows (corrupting the OTHER edges' counts) nor change its own
    edge's orphan count. Synthetic frame: orders key 10 duplicated,
    one lineitem orphan per edge."""
    li = spark.createDataFrame(
        [(10, 1, 1), (10, 2, 2), (99, 1, 1), (10, 98, 1), (10, 1, 97)],
        "l_orderkey long, l_partkey long, l_suppkey long",
    )
    ordk = spark.createDataFrame(
        [(10,), (10,), (11,)], "o_orderkey long"
    ).dropDuplicates()
    partk = spark.createDataFrame(
        [(1,), (2,)], "p_partkey long"
    ).dropDuplicates()
    suppk = spark.createDataFrame(
        [(1,), (2,)], "s_suppkey long"
    ).dropDuplicates()
    import pyspark.sql.functions as F2

    probed = (
        li.join(F2.broadcast(partk), li.l_partkey == partk.p_partkey, "left")
        .join(F2.broadcast(suppk), li.l_suppkey == suppk.s_suppkey, "left")
        .join(ordk, li.l_orderkey == ordk.o_orderkey, "left")
    )

    def orphans(fk, pk):
        return F2.coalesce(
            F2.sum(
                F2.when(F2.col(fk).isNotNull() & F2.col(pk).isNull(), 1)
                .otherwise(0)
            ),
            F2.lit(0),
        ).cast("bigint")

    row = probed.agg(
        orphans("l_orderkey", "o_orderkey").alias("ord_o"),
        orphans("l_partkey", "p_partkey").alias("part_o"),
        orphans("l_suppkey", "s_suppkey").alias("supp_o"),
    ).collect()[0]
    # per-edge anti-join ground truth on the same frames
    assert row.ord_o == 1   # l_orderkey=99
    assert row.part_o == 1  # l_partkey=98
    assert row.supp_o == 1  # l_suppkey=97
