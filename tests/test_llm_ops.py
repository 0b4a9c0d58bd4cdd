"""Semantic tests for the approximate operators (beyond hash oracles):
IVF recall vs brute force, MinHash-vs-exact-Jaccard agreement."""

from __future__ import annotations

from forex_data_pipeline_spark import catalog
from forex_data_pipeline_spark.tables import load

catalog._ensure_loaded()


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    brute = {
        (r.query_id, r.neighbor_id)
        for r in catalog.REGISTRY["embedding_cosine_topk"].fn(spark, sf_dir).collect()
    }
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in catalog.REGISTRY["ann_ivf_topk"].fn(spark, sf_dir).collect()
    }
    recall = len(brute & ivf) / len(brute)
    # Uniform random embeddings are the worst case for IVF (no cluster
    # structure); probing 2/5 cells still must recover a solid fraction.
    assert recall >= 0.3, f"IVF recall {recall:.2f} vs brute force"


def test_minhash_agrees_with_exact_jaccard(spark, sf_dir):
    exact = {
        (r.a_id, r.b_id)
        for r in catalog.REGISTRY["ngram_jaccard_pairs"].fn(spark, sf_dir).collect()
    }
    lsh = {
        (r.a_id, r.b_id)
        for r in catalog.REGISTRY["minhash_lsh_pairs"].fn(spark, sf_dir).collect()
    }
    assert exact, "test corpus should contain planted near-dups"
    # LSH is an estimator: demand high recall of true near-dups and no
    # wild overreach (allow estimator noise around the 0.5 threshold).
    recall = len(exact & lsh) / len(exact)
    assert recall >= 0.8, f"LSH recall {recall:.2f}"
    assert len(lsh - exact) <= max(5, len(exact)), "LSH overreach"


def test_lsh_ann_recall_vs_brute_force(spark, sf_dir):
    brute = {
        (r.query_id, r.neighbor_id)
        for r in catalog.REGISTRY["embedding_cosine_topk"].fn(spark, sf_dir).collect()
    }
    lsh = {
        (r.query_id, r.neighbor_id)
        for r in catalog.REGISTRY["ann_lsh_topk"].fn(spark, sf_dir).collect()
    }
    recall = len(brute & lsh) / len(brute)
    # 4 OR-ed 4-bit bands on uniform random vectors pass ~1/4 of the
    # corpus as candidates — recall of the true top-5 must clear this.
    assert recall >= 0.3, f"LSH ANN recall {recall:.2f} vs brute force"


def test_bloom_pruning_is_lossless_and_prunes(spark, sf_dir):
    exact = {
        (r.doc_id, r.n_contaminated)
        for r in catalog.REGISTRY["cross_corpus_contamination"]
        .fn(spark, sf_dir).collect()
    }
    bloomed = catalog.REGISTRY["bloom_pruned_contamination"].fn(
        spark, sf_dir
    ).collect()
    # No false negatives: exact contamination counts are preserved.
    assert {(r.doc_id, r.n_contaminated) for r in bloomed} == exact
    # The filter is sound: candidates ⊇ hits, and FP accounting adds up.
    for r in bloomed:
        assert r.n_bloom_candidates >= r.n_contaminated
        assert r.n_bloom_fp == r.n_bloom_candidates - r.n_contaminated


def test_cms_estimate_dominates_exact_count(spark, sf_dir):
    rows = catalog.REGISTRY["cms_heavy_hitters"].fn(spark, sf_dir).collect()
    assert len(rows) == 20
    for r in rows:
        # One-sided error: CMS never undercounts.
        assert r.cms_estimate >= r.exact_count
        assert r.overestimate == r.cms_estimate - r.exact_count


def test_pq_ann_recall_vs_exact_l2(spark, sf_dir):
    import numpy as np

    rows = (
        catalog.REGISTRY["ann_pq_topk"].fn(spark, sf_dir).collect()
    )
    pq = {(r.query_id, r.neighbor_id) for r in rows}
    for r in rows:
        assert 1 <= r.rank <= 5
        assert r.exact_dist2 >= 0.0

    emb = load(spark, sf_dir, "embeddings").orderBy("vec_id").collect()
    ids = np.array([r.vec_id for r in emb])
    X = np.array([list(r.embedding) for r in emb])
    exact = set()
    for q in range(10):
        d = ((X - X[ids == q][0]) ** 2).sum(axis=1)
        d[ids == q] = np.inf
        for n in np.lexsort((ids, d))[:5]:
            exact.add((q, int(ids[n])))
    recall = len(exact & pq) / len(exact)
    # ADC shortlist (50) + exact re-rank: well above the raw-ADC ~0.3.
    assert recall >= 0.6, f"PQ recall {recall:.2f} vs exact L2"


def test_ivfpq_recall_and_rank_contract(spark, sf_dir):
    import numpy as np

    rows = catalog.REGISTRY["ann_ivfpq_topk"].fn(spark, sf_dir).collect()
    got = {(r.query_id, r.neighbor_id) for r in rows}
    for r in rows:
        assert 1 <= r.rank <= 5
        assert r.exact_dist2 >= 0.0

    emb = load(spark, sf_dir, "embeddings").orderBy("vec_id").collect()
    ids = np.array([r.vec_id for r in emb])
    X = np.array([list(r.embedding) for r in emb])
    exact = set()
    for q in range(10):
        d = ((X - X[ids == q][0]) ** 2).sum(axis=1)
        d[ids == q] = np.inf
        for n in np.lexsort((ids, d))[:5]:
            exact.add((q, int(ids[n])))
    recall = len(exact & got) / len(exact)
    # 2 of 16 coarse cells probed (~1/8 of the corpus scored): on
    # uniform vectors the coarse quantizer is weakly informative, so
    # the bar reflects the probe budget, not the PQ stage (which alone
    # reaches ~0.8 with full-corpus ADC — see test_pq_ann_recall).
    assert recall >= 0.2, f"IVF-PQ recall {recall:.2f}"


#: Spark jobs per call + collect, across every thread. The budgets equal
#: today's counts at sf0.001; re-pin only downward.
POOL_QUERY_JOB_BUDGET = {
    "ann_ivf_topk": 16,
    "ann_pq_topk": 17,
    "ann_ivfpq_topk": 33,
    "collocation_pmi_top20": 13,
}


def test_query_jobs_stay_in_caller_job_group(spark, sf_dir):
    """Every job a query starts, including those its 2-thread training
    pool submits, carries the caller's job group, so per-query
    attribution by group counts all of them. Jobs are counted between
    two marker jobs, whatever their group."""
    sc = spark.sparkContext

    def in_group(group, action):
        sc.setJobGroup(group, group)
        try:
            return action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def marker(tag):
        in_group(tag, lambda: sc.parallelize([1], 1).count())
        return sc.statusTracker().getJobIdsForGroup(tag)[0]

    jobs = {}
    for name in POOL_QUERY_JOB_BUDGET:
        tag = f"{name}:{sf_dir}"
        first = marker(f"before:{tag}")
        in_group(
            f"q:{tag}",
            lambda: catalog.REGISTRY[name].fn(spark, sf_dir).collect(),
        )
        total = marker(f"after:{tag}") - first - 1
        grouped = len(sc.statusTracker().getJobIdsForGroup(f"q:{tag}"))
        jobs[name] = (grouped, total)
    escaped = {n: t - g for n, (g, t) in jobs.items() if g != t}
    assert escaped == {}, f"jobs outside the caller's group: {escaped}"
    over = {
        n: t for n, (_, t) in jobs.items() if t > POOL_QUERY_JOB_BUDGET[n]
    }
    assert over == {}, f"over budget {POOL_QUERY_JOB_BUDGET}: {over}"


def test_near_dup_tau_sits_in_continuous_mass(spark, sf_dir):
    """Empirical basis for embedding_near_dup_pairs being EXACT all-pairs
    (r2 verdict finding #3 resolution): on this corpus the pairwise
    cosine distribution is continuous straight through τ=0.45 — there
    is no margin an LSH banding could exploit to be simultaneously
    lossless and selective (per-hyperplane collision prob at sim 0.45
    is ~0.648 vs ~0.625 at 0.35; separating those needs thousands of
    bits, at which point every pair is a candidate). The approximate
    path is embedding_near_dup_lsh with measured recall."""
    import numpy as np

    emb = load(spark, sf_dir, "embeddings").orderBy("vec_id").limit(500)
    X = np.array([list(r.embedding) for r in emb.collect()], dtype=np.float64)
    U = X / np.linalg.norm(X, axis=1, keepdims=True)
    sims = (U @ U.T)[np.triu_indices(len(U), 1)]
    above = int((sims >= 0.45).sum())
    shoulder = int(((sims >= 0.30) & (sims < 0.45)).sum())
    assert above > 0, "corpus should contain pairs above τ"
    assert sims.max() < 0.60, "no high-sim cluster: τ is in the tail"
    # the shoulder dominates the above-τ set — no separating margin
    assert shoulder > 10 * above, (above, shoulder)


def test_near_dup_lsh_precision_and_recall(spark, sf_dir):
    """embedding_near_dup_lsh must be a strict SUBSET of the exact op
    (precision 1.0 — candidates are exact-verified) with identical
    cos_sim values, and must find a nontrivial share of the true pairs
    even in this adversarial no-margin regime (analytically ~0.54
    per-pair at sim exactly 0.45 with 4 OR-ed 4-bit bands; higher for
    higher sims)."""
    exact = {
        (r.a_id, r.b_id): r.cos_sim
        for r in catalog.REGISTRY["embedding_near_dup_pairs"]
        .fn(spark, sf_dir)
        .collect()
    }
    lsh = {
        (r.a_id, r.b_id): r.cos_sim
        for r in catalog.REGISTRY["embedding_near_dup_lsh"]
        .fn(spark, sf_dir)
        .collect()
    }
    assert exact, "corpus should contain near-dup pairs"
    assert set(lsh) <= set(exact), "LSH emitted a non-pair (precision < 1)"
    # 1 ulp at 6 dp, not ==: the exact op's numpy BLAS kernel (half-even
    # round, blocked summation) and the LSH op's Catalyst fold (HALF_UP,
    # sequential) may land a cosine within an ulp of a rounding boundary
    for k, v in lsh.items():
        assert abs(v - exact[k]) <= 1e-6, (k, v, exact[k])
    recall = len(lsh) / len(exact)
    assert recall >= 0.3, f"near-dup LSH recall {recall:.2f}"


def test_pca_projection_matches_numpy(spark, sf_dir):
    """embedding_pca_project must agree with a straight numpy PCA on
    the same milli-quantized corpus: identical covariance (exact
    moments), same top-2 subspace, and per-vector coordinates equal to
    tight tolerance (the Spark fold and numpy dot differ only in float
    summation order)."""
    import numpy as np
    import pyarrow.parquet as pq

    emb = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pandas()
    X = np.round(
        np.stack(emb.sort_values("vec_id").embedding.to_numpy()).astype(
            np.float64
        ) * 1000
    )
    Xc = X - X.mean(axis=0)
    cov = (Xc.T @ Xc) / len(X)  # population covariance, milli^2
    _, vecs = np.linalg.eigh(cov)
    top = vecs[:, ::-1][:, :2].copy()
    for k in range(2):
        m = int(np.argmax(np.abs(top[:, k])))
        if top[m, k] < 0:
            top[:, k] = -top[:, k]
    expected = Xc @ top

    got = (
        catalog.REGISTRY["embedding_pca_project"]
        .fn(spark, sf_dir)
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    assert len(got) == len(X)
    np.testing.assert_allclose(
        got[["pc1", "pc2"]].to_numpy(), expected, rtol=1e-9, atol=1e-6
    )


def test_simhash_kernel_branch_equals_join_branch(
    spark, sf_dir, monkeypatch
):
    """simhash_hamming_pairs is size-gated (JVM banded join below
    _SH_KERNEL_MIN_DOCS, chunk-pair Arrow GEMM kernel above — the sf10
    rehearsal's measured crossover). Both branches must emit the
    IDENTICAL pair set: force the kernel at test scale and compare to
    the join branch row-for-row. (At sf1 both match the DuckDB oracle's
    agg-checksum 101118335183977372638837 — SCALING.md.)"""
    from forex_data_pipeline_spark.queries import llm_ops

    fn = catalog.REGISTRY["simhash_hamming_pairs"].fn
    join_rows = {tuple(r) for r in fn(spark, sf_dir).collect()}
    monkeypatch.setattr(llm_ops, "_SH_KERNEL_MIN_DOCS", 0)
    kernel_rows = {tuple(r) for r in fn(spark, sf_dir).collect()}
    assert join_rows, "test corpus should produce simhash pairs"
    assert kernel_rows == join_rows


def test_simhash_kernel_branch_matches_oracle_directly(
    spark, sf_dir, oracle_con, monkeypatch
):
    """Strict DuckDB value-hash check of the KERNEL branch itself (the
    120k-doc gate means the regular oracle sweep only ever exercises
    the join branch at CI scales, leaving the kernel verified only
    transitively kernel==join==oracle). Forcing the gate to 0 runs the
    Arrow GEMM path against the same oracle directly."""
    from tests.conftest import assert_df_matches_oracle

    from forex_data_pipeline_spark.queries import llm_ops

    spec = catalog.REGISTRY["simhash_hamming_pairs"]
    monkeypatch.setattr(llm_ops, "_SH_KERNEL_MIN_DOCS", 0)
    assert_df_matches_oracle(spec.fn(spark, sf_dir), oracle_con, spec.oracle)
