"""Learned-model / retrieval analytics over the corpus tables.

Retrieval: BM25 (Okapi), Dirichlet query-likelihood, reciprocal-rank
fusion of rankers, MMR diversified rerank, Rocchio/RM3 pseudo-relevance
feedback, and incremental + streaming maintenance of the collection
statistics (a mergeable monoid — no corpus rescan per ingest batch).

Model evaluation: exact Mann–Whitney ROC-AUC (global and per-source),
calibration/reliability bins, leave-one-out kNN label accuracy, exact
Spearman agreement between rankers, and categorical mutual information.

Fitting: distributed two-feature OLS via exact normal equations
(DECIMAL(38,0)/HUGEINT moments, centered Cramer solve).

These are the "model-adjacent" operators a training-data pipeline runs
beside dedup/filtering. The common plan shape: the model state (term
stats, fused rank lists, score histogram, moment matrix) is tiny and
broadcast/driver-sized while the corpus side streams map-side through
one (or for PRF, two) scans.

Determinism follows the catalog contract: integer-domain moments
(BIGINT / DECIMAL(38,0) vs DuckDB HUGEINT), fixed-association float
chains over bit-identical inputs, round(6) only on transcendental
(ln/pow) outputs, unique tie-breaks on every top-k.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import register
from ..functions.text import stopword_hits_sql, tokens, tokens_sql
from ..functions.vector import cosine, cosine_sql, dot, norm
from ..streaming.candles_stream import run_stream_fold
from ..tables import load
from .llm_ops import (
    _QC_BIAS,
    _QC_W_DR,
    _QC_W_LEN,
    _QC_W_MTL,
    _QC_W_SW,
    _qc_features,
    _qc_logit,
)

# ---------------------------------------------------------------------------
# BM25 retrieval
# ---------------------------------------------------------------------------

#: fixed query — terms drawn from the synthetic corpus vocabulary so df
#: varies; the engine treats it as one parameterized retrieval request
_BM25_TERMS = ("hash", "merge", "vector", "slow")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 25


def _bm25_contrib_sql(i: int) -> str:
    """One query term's BM25 contribution — the SQL mirror of the Spark
    expression below, same parenthesization so float ops associate
    identically."""
    k1, b = _BM25_K1, _BM25_B
    idf = (
        f"ln(1.0 + ((CAST(n - df{i} AS DOUBLE) + 0.5)"
        f" / (CAST(df{i} AS DOUBLE) + 0.5)))"
    )
    return (
        f"({idf} * ((CAST(tf{i} AS DOUBLE) * {k1 + 1.0})"
        f" / (CAST(tf{i} AS DOUBLE)"
        f" + ({k1} * ((1.0 - {b}) + ({b} * (CAST(dl AS DOUBLE) / avgdl)))))))"
    )


def _bm25_contrib(i: int):
    """Spark twin of :func:`_bm25_contrib_sql` — identical op order."""
    k1, b = _BM25_K1, _BM25_B
    tf = F.col(f"tf{i}").cast("double")
    idf = F.log(
        F.lit(1.0)
        + (
            ((F.col("n") - F.col(f"df{i}")).cast("double") + F.lit(0.5))
            / (F.col(f"df{i}").cast("double") + F.lit(0.5))
        )
    )
    denom = tf + (
        F.lit(k1)
        * (
            (F.lit(1.0) - F.lit(b))
            + (F.lit(b) * (F.col("dl").cast("double") / F.col("avgdl")))
        )
    )
    return idf * ((tf * F.lit(k1 + 1.0)) / denom)


_BM25_TF_SQL = ",\n           ".join(
    f"len(list_filter(toks, x -> x = '{t}')) AS tf{i}"
    for i, t in enumerate(_BM25_TERMS)
)
_BM25_DF_SQL = ",\n           ".join(
    f"CAST(sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df{i}"
    for i in range(len(_BM25_TERMS))
)
_BM25_SCORE_SQL = "(((c0 + c1) + c2) + c3)"



def _per_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, dl, tf0..tf3) per document, MATERIALIZED via eager
    localCheckpoint: every retrieval query has at least two consumers
    of this projection (the 1-row stats aggregate and the scoring
    probe), and without the checkpoint each consumer re-parses the
    corpus text (the regex tokenize dominates). The materialized form
    is ~6 ints/doc — the per-document "index statistics" a production
    engine persists next to the corpus, so the same design holds at
    100 TB (parse once per ingest, reuse per query)."""
    docs = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(toks).alias("dl"),
        *[
            # NB: a `lambda x, t=t:` default-arg closure would be seen
            # by F.filter as the 2-arg (element, index) lambda form —
            # build the 1-arg predicate through a factory instead
            F.size(
                F.filter(toks, (lambda term: lambda x: x == F.lit(term))(t))
            ).alias(f"tf{i}")
            for i, t in enumerate(_BM25_TERMS)
        ],
    ).localCheckpoint(eager=True)


def _bm25_scored(
    per_doc: DataFrame, *extra_stats: Column
) -> tuple[DataFrame, Column]:
    """The BM25-scorable documents of ``per_doc`` (any query term
    present), each carrying the 1-row collection statistics — N, Σdl,
    df0..df3, then ``extra_stats`` — as a scalar broadcast plus avgdl;
    and the rounded BM25 score over those columns."""
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dl").alias("sdl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("int")).cast("bigint").alias(
                f"df{i}"
            )
            for i in range(len(_BM25_TERMS))
        ],
        *extra_stats,
    )
    j = per_doc.crossJoin(F.broadcast(stats)).withColumn(
        "avgdl", F.col("sdl").cast("double") / F.col("n").cast("double")
    )
    score = F.round(
        (
            ((_bm25_contrib(0) + _bm25_contrib(1)) + _bm25_contrib(2))
            + _bm25_contrib(3)
        ),
        6,
    )
    tf_any = sum(F.col(f"tf{i}") for i in range(len(_BM25_TERMS)))
    return j.filter(tf_any > 0), score


def _ranked_topk(scored: DataFrame, score: str) -> DataFrame:
    """The ``_BM25_TOPK`` highest-``score`` documents of (doc_id,
    ``score``) rows, doc_id as the unique tie-break, with their rank:
    a TakeOrderedAndProject, then a row_number over its k rows."""
    top = scored.orderBy(F.col(score).desc(), "doc_id").limit(_BM25_TOPK)
    w = Window.orderBy(F.col(score).desc(), "doc_id")
    return top.withColumn(
        "rank", F.row_number().over(w).cast("bigint")
    ).select("doc_id", score, "rank")


@register(
    "bm25_topk",
    oracle=f"""
    WITH t AS (SELECT doc_id, {tokens_sql('text')} AS toks FROM documents),
    f AS (SELECT doc_id, len(toks) AS dl,
           {_BM25_TF_SQL}
          FROM t),
    s AS (SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(dl) AS BIGINT) AS sdl,
           {_BM25_DF_SQL}
          FROM f),
    j AS (SELECT f.*, s.*, CAST(sdl AS DOUBLE) / CAST(n AS DOUBLE) AS avgdl
          FROM f CROSS JOIN s),
    scored AS (
        SELECT doc_id,
               {_bm25_contrib_sql(0)} AS c0, {_bm25_contrib_sql(1)} AS c1,
               {_bm25_contrib_sql(2)} AS c2, {_bm25_contrib_sql(3)} AS c3,
               tf0 + tf1 + tf2 + tf3 AS tf_any
        FROM j),
    ranked AS (
        SELECT doc_id, round({_BM25_SCORE_SQL}, 6) AS bm25,
               row_number() OVER (ORDER BY round({_BM25_SCORE_SQL}, 6) DESC,
                                  doc_id) AS rn
        FROM scored WHERE tf_any > 0)
    SELECT doc_id, bm25, CAST(rn AS BIGINT) AS rank
    FROM ranked WHERE rn <= {_BM25_TOPK}
    """,
    doc="BM25 lexical retrieval (Okapi, k1=1.2, b=0.75) for a fixed "
    "4-term query over the documents corpus — the retrieval-scoring "
    "half of retrieval-based data selection. Plan: per-doc tf/dl are "
    "pure map-side array ops; the corpus statistics (N, Σdl, per-term "
    "df) collapse to ONE row that cross-joins back as a scalar "
    "broadcast, so the only shuffle is the 1-row aggregate and the "
    "final TakeOrderedAndProject(k=25) — no per-term explode, no "
    "posting-list shuffle; at 100 TB the plan is a single corpus scan. "
    "Determinism: df/tf/dl/N are exact integers on both engines; "
    "avgdl and every tf-normalization is a fixed-association chain of "
    "correctly-rounded double ops over identical integers, so only "
    "ln() can differ by an ulp — hence round(score, 6), with doc_id "
    "as the unique tie-break.",
    tags=("llm", "text", "retrieval", "topk"),
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    hits, score = _bm25_scored(_per_doc_stats(spark, sf_dir))
    return _ranked_topk(hits.select("doc_id", score.alias("bm25")), "bm25")


# ---------------------------------------------------------------------------
# Reciprocal-rank fusion of two cosine rankers (multi-query retrieval)
# ---------------------------------------------------------------------------

_RRF_K = 60  # standard RRF damping constant
_RRF_PER_RANKER = 100  # fuse the top-C list of each ranker, not the corpus
_RRF_TOPK = 20


@register(
    "rrf_hybrid_retrieval",
    oracle=f"""
    WITH q AS (SELECT vec_id AS ranker, embedding AS q_emb
               FROM embeddings WHERE vec_id < 2),
    cand AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 2),
    scored AS (
        SELECT q.ranker, c.vec_id,
               {cosine_sql('q.q_emb', 'c.embedding')} AS cos
        FROM cand c CROSS JOIN q),
    ranked AS (
        SELECT ranker, vec_id,
               row_number() OVER (PARTITION BY ranker
                                  ORDER BY cos DESC, vec_id) AS rn
        FROM scored),
    top AS (SELECT * FROM ranked WHERE rn <= {_RRF_PER_RANKER}),
    fused AS (
        SELECT vec_id,
               max(CASE WHEN ranker = 0 THEN rn END) AS r0,
               max(CASE WHEN ranker = 1 THEN rn END) AS r1
        FROM top GROUP BY vec_id),
    rrf AS (
        SELECT vec_id,
               coalesce(1.0 / CAST({_RRF_K} + r0 AS DOUBLE), 0.0)
             + coalesce(1.0 / CAST({_RRF_K} + r1 AS DOUBLE), 0.0)
                 AS rrf_score,
               CAST(r0 IS NOT NULL AND r1 IS NOT NULL AS BOOLEAN) AS in_both
        FROM fused)
    SELECT vec_id, rrf_score, in_both, CAST(rn AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (ORDER BY rrf_score DESC, vec_id)
              AS rn FROM rrf)
    WHERE rn <= {_RRF_TOPK}
    """,
    doc="Reciprocal-rank fusion (k=60) of two retrieval rankers — the "
    "multi-query RAG pattern: two query vectors (vec_id 0 and 1) each "
    "rank the candidate corpus by cosine, the top-100 lists fuse via "
    "Σ 1/(60+rank), top-20 fused results win. Plan: the 2-row query "
    "set broadcasts, cosine scoring is map-side Catalyst fold, each "
    "ranker's list is a window group-limit keyed by ranker (at 100 TB "
    "you'd swap the window for a per-ranker TakeOrdered heap — the "
    "fused stage only ever sees rankers×100 rows either way), and the "
    "fusion group-by is over ≤200 rows. Determinism: cosine is "
    "bit-identical across engines (sequential fold + correctly-rounded "
    "sqrt/div), so ranks match exactly; the RRF score is a "
    "fixed-order sum of two exact-input divisions — emitted UNROUNDED. "
    "vec_id is the unique tie-break at both ranking stages.",
    tags=("llm", "similarity", "retrieval", "topk"),
)
def rrf_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("ranker"), F.col("embedding").alias("q_emb")
    )
    cand = emb.filter(F.col("vec_id") >= 2).select("vec_id", "embedding")
    scored = cand.crossJoin(F.broadcast(q)).select(
        "ranker",
        "vec_id",
        cosine(F.col("q_emb"), F.col("embedding")).alias("cos"),
    )
    w_rank = Window.partitionBy("ranker").orderBy(
        F.col("cos").desc(), "vec_id"
    )
    top = (
        scored.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") <= _RRF_PER_RANKER)
    )
    fused = top.groupBy("vec_id").agg(
        F.max(F.when(F.col("ranker") == 0, F.col("rn"))).alias("r0"),
        F.max(F.when(F.col("ranker") == 1, F.col("rn"))).alias("r1"),
    )
    rrf_score = F.coalesce(
        F.lit(1.0) / (F.lit(_RRF_K) + F.col("r0")).cast("double"), F.lit(0.0)
    ) + F.coalesce(
        F.lit(1.0) / (F.lit(_RRF_K) + F.col("r1")).cast("double"), F.lit(0.0)
    )
    in_both = (F.col("r0").isNotNull() & F.col("r1").isNotNull()).alias(
        "in_both"
    )
    w_final = Window.orderBy(F.col("rrf_score").desc(), "vec_id")
    return (
        fused.select("vec_id", rrf_score.alias("rrf_score"), in_both)
        .withColumn("rank", F.row_number().over(w_final).cast("bigint"))
        .filter(F.col("rank") <= _RRF_TOPK)
        .select("vec_id", "rrf_score", "in_both", "rank")
    )


# ---------------------------------------------------------------------------
# Exact AUC of the quality classifier via the Mann–Whitney rank statistic
# ---------------------------------------------------------------------------

@register(
    "classifier_auc_exact",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, text, {tokens_sql('text')} AS toks
               FROM documents),
    f AS (SELECT CAST(lang = 'en' AS INT) AS pos,
            CAST({stopword_hits_sql('toks')} AS DOUBLE) / len(toks)
                AS sw_ratio,
            CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(toks)
                AS mean_tok_len,
            CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
                AS distinct_ratio,
            CAST(least(len(toks), 400) AS DOUBLE) / 400.0 AS len_norm
          FROM t),
    scored AS (SELECT pos,
           (((({_QC_BIAS} + {_QC_W_SW}*sw_ratio)
               + {_QC_W_MTL}*mean_tok_len)
               + {_QC_W_DR}*distinct_ratio)
               + {_QC_W_LEN}*len_norm) AS score
          FROM f),
    hist AS (SELECT score,
           CAST(sum(pos) AS BIGINT) AS n_pos,
           CAST(sum(1 - pos) AS BIGINT) AS n_neg
          FROM scored GROUP BY score),
    cum AS (SELECT n_pos, n_neg,
           CAST(coalesce(sum(n_neg) OVER (ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_neg
          FROM hist),
    u AS (SELECT
           CAST(sum(n_pos * (2 * cum_neg + n_neg)) AS BIGINT) AS u2,
           CAST(sum(n_pos) AS BIGINT) AS pos_total,
           CAST(sum(n_neg) AS BIGINT) AS neg_total,
           CAST(count(*) AS BIGINT) AS n_distinct_scores
          FROM cum)
    SELECT CAST(u2 AS DOUBLE) / CAST(2 * pos_total * neg_total AS DOUBLE)
               AS auc,
           (2.0 * (CAST(u2 AS DOUBLE)
               / CAST(2 * pos_total * neg_total AS DOUBLE))) - 1.0 AS gini,
           pos_total, neg_total, n_distinct_scores
    FROM u
    """,
    doc="Exact ROC-AUC of the linearized quality classifier "
    "(label: lang='en') via the Mann–Whitney U rank statistic — the "
    "filter-model evaluation step of a data pipeline, computed "
    "distributed WITHOUT materializing per-pair comparisons: group "
    "docs by exact score into a (score → pos/neg count) histogram, "
    "one ordered cumulative pass over DISTINCT scores, then "
    "2U = Σ n_pos·(2·cum_neg_below + n_neg) handles ties as ½ credit "
    "entirely in INTEGER arithmetic; AUC = 2U / (2·P·N) is a single "
    "exact-integer division → bit-identical across engines, no "
    "rounding anywhere. Plan: one corpus scan + partial agg to the "
    "score histogram (≤ distinct feature vectors, tiny after text "
    "dedup); the ordered scan runs over the histogram, not the "
    "corpus — at 100 TB you'd quantize scores into fixed bins to "
    "bound the histogram, same plan shape. Scores are bit-identical "
    "across engines (fixed-association chain over exact int/int "
    "divisions) so grouping keys and tie-groups match exactly.",
    tags=("llm", "quality", "eval"),
)
def classifier_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    hist = (
        _qc_scored(spark, sf_dir)
        .groupBy("score")
        .agg(
            F.sum("pos").alias("n_pos"),
            F.sum(F.lit(1) - F.col("pos")).alias("n_neg"),
        )
    )
    w = Window.orderBy("score").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = hist.select(
        "n_pos",
        "n_neg",
        F.coalesce(F.sum("n_neg").over(w), F.lit(0)).alias("cum_neg"),
    )
    u = cum.agg(
        F.sum(
            F.col("n_pos") * (2 * F.col("cum_neg") + F.col("n_neg"))
        ).alias("u2"),
        F.sum("n_pos").alias("pos_total"),
        F.sum("n_neg").alias("neg_total"),
        F.count(F.lit(1)).alias("n_distinct_scores"),
    )
    auc = F.col("u2").cast("double") / (
        2 * F.col("pos_total") * F.col("neg_total")
    ).cast("double")
    return u.select(
        auc.alias("auc"),
        ((F.lit(2.0) * auc) - F.lit(1.0)).alias("gini"),
        "pos_total",
        "neg_total",
        "n_distinct_scores",
    )


# ---------------------------------------------------------------------------
# Distributed OLS: two-feature regression via exact normal equations
# ---------------------------------------------------------------------------

_DEC = "decimal(38,0)"


@register(
    "ols_normal_equations",
    oracle="""
    WITH base AS (
        SELECT CAST(round(l_quantity) AS BIGINT) AS x1,
               CAST(round(l_discount * 100) AS BIGINT) AS x2,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS y
        FROM lineitem),
    m AS (SELECT
           CAST(count(*) AS HUGEINT) AS n,
           CAST(sum(x1) AS HUGEINT) AS s1,
           CAST(sum(x2) AS HUGEINT) AS s2,
           CAST(sum(y)  AS HUGEINT) AS sy,
           CAST(sum(x1 * x1) AS HUGEINT) AS s11,
           CAST(sum(x2 * x2) AS HUGEINT) AS s22,
           CAST(sum(x1 * x2) AS HUGEINT) AS s12,
           CAST(sum(x1 * y) AS HUGEINT) AS s1y,
           CAST(sum(x2 * y) AS HUGEINT) AS s2y,
           CAST(sum(y * y) AS HUGEINT) AS syy
          FROM base),
    c AS (SELECT n,
           n * s11 - s1 * s1 AS c11,
           n * s22 - s2 * s2 AS c22,
           n * s12 - s1 * s2 AS c12,
           n * s1y - s1 * sy AS c1y,
           n * s2y - s2 * sy AS c2y,
           n * syy - sy * sy AS cyy,
           s1, s2, sy FROM m),
    d AS (SELECT *,
           c11 * c22 - c12 * c12 AS det,
           c22 * c1y - c12 * c2y AS b1_num,
           c11 * c2y - c12 * c1y AS b2_num
          FROM c),
    b AS (SELECT *,
           CAST(b1_num AS DOUBLE) / CAST(det AS DOUBLE) AS beta_qty,
           CAST(b2_num AS DOUBLE) / CAST(det AS DOUBLE) AS beta_disc
          FROM d)
    SELECT CAST(n AS BIGINT) AS n_rows,
           ((CAST(sy AS DOUBLE) - (beta_qty * CAST(s1 AS DOUBLE)))
             - (beta_disc * CAST(s2 AS DOUBLE))) / CAST(n AS DOUBLE)
               AS beta0_cents,
           beta_qty, beta_disc,
           ((beta_qty * CAST(c1y AS DOUBLE))
             + (beta_disc * CAST(c2y AS DOUBLE))) / CAST(cyy AS DOUBLE)
               AS r2
    FROM b
    """,
    doc="Distributed two-feature OLS (extendedprice-cents on quantity "
    "and discount-hundredths) via exact normal equations — the "
    "classic one-pass distributed linear regression: a single "
    "map-side partial aggregation produces the 10 sufficient moments "
    "(n, Σx, Σx², Σxy, …), the centered 2×2 system solves in closed "
    "form by Cramer's rule, and the corpus is never touched again. "
    "At 100 TB this is ONE scan with a 10-cell combine — the moment "
    "matrix is O(features²) regardless of row count, the textbook "
    "scale shape. Determinism: inputs are exact integers (cents / "
    "hundredths); every moment, centered cross-moment, determinant, "
    "and Cramer numerator stays in EXACT integer arithmetic "
    "(Spark DECIMAL(38,0) vs DuckDB HUGEINT — BIGINT would overflow: "
    "n·Σx1y ≈ 5e19 at sf0.1), and only the final Cramer divisions "
    "leave the integer domain: decimal→double casts are correctly "
    "rounded on both engines and the division/β₀/R² chains are "
    "fixed-association over those identical doubles → bit-identical, "
    "no rounding anywhere.",
    tags=("relational", "ml", "aggregate"),
)
def ols_normal_equations(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    base = li.select(
        F.round(F.col("l_quantity")).cast("bigint").alias("x1"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("x2"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("y"),
    )
    d = lambda c: F.col(c).cast(_DEC)  # noqa: E731 — exact-domain lift
    m = base.select(
        d("x1").alias("x1"), d("x2").alias("x2"), d("y").alias("y")
    ).agg(
        F.count(F.lit(1)).cast(_DEC).alias("n"),
        F.sum("x1").cast(_DEC).alias("s1"),
        F.sum("x2").cast(_DEC).alias("s2"),
        F.sum("y").cast(_DEC).alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).cast(_DEC).alias("s11"),
        F.sum(F.col("x2") * F.col("x2")).cast(_DEC).alias("s22"),
        F.sum(F.col("x1") * F.col("x2")).cast(_DEC).alias("s12"),
        F.sum(F.col("x1") * F.col("y")).cast(_DEC).alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).cast(_DEC).alias("s2y"),
        F.sum(F.col("y") * F.col("y")).cast(_DEC).alias("syy"),
    )
    c = m.select(
        "n",
        "s1",
        "s2",
        "sy",
        (F.col("n") * F.col("s11") - F.col("s1") * F.col("s1")).alias("c11"),
        (F.col("n") * F.col("s22") - F.col("s2") * F.col("s2")).alias("c22"),
        (F.col("n") * F.col("s12") - F.col("s1") * F.col("s2")).alias("c12"),
        (F.col("n") * F.col("s1y") - F.col("s1") * F.col("sy")).alias("c1y"),
        (F.col("n") * F.col("s2y") - F.col("s2") * F.col("sy")).alias("c2y"),
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).alias("cyy"),
    )
    dd = c.select(
        "*",
        (F.col("c11") * F.col("c22") - F.col("c12") * F.col("c12")).alias(
            "det"
        ),
        (F.col("c22") * F.col("c1y") - F.col("c12") * F.col("c2y")).alias(
            "b1_num"
        ),
        (F.col("c11") * F.col("c2y") - F.col("c12") * F.col("c1y")).alias(
            "b2_num"
        ),
    )
    b = dd.select(
        "*",
        (F.col("b1_num").cast("double") / F.col("det").cast("double")).alias(
            "beta_qty"
        ),
        (F.col("b2_num").cast("double") / F.col("det").cast("double")).alias(
            "beta_disc"
        ),
    )
    return b.select(
        F.col("n").cast("bigint").alias("n_rows"),
        (
            (
                (
                    F.col("sy").cast("double")
                    - (F.col("beta_qty") * F.col("s1").cast("double"))
                )
                - (F.col("beta_disc") * F.col("s2").cast("double"))
            )
            / F.col("n").cast("double")
        ).alias("beta0_cents"),
        "beta_qty",
        "beta_disc",
        (
            (
                (F.col("beta_qty") * F.col("c1y").cast("double"))
                + (F.col("beta_disc") * F.col("c2y").cast("double"))
            )
            / F.col("cyy").cast("double")
        ).alias("r2"),
    )


# ---------------------------------------------------------------------------
# kNN classifier evaluation over the embeddings table
# ---------------------------------------------------------------------------

_KNN_QUERIES = 100  # leave-one-out eval subset: vec_id < 100
_KNN_K = 5


@register(
    "knn_label_eval",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb, label AS true_label
               FROM embeddings WHERE vec_id < {_KNN_QUERIES}),
    scored AS (
        SELECT q.query_id, q.true_label, e.label,
               row_number() OVER (PARTITION BY q.query_id
                   ORDER BY {cosine_sql('q.q_emb', 'e.embedding')} DESC,
                            e.vec_id) AS rn
        FROM q JOIN embeddings e ON e.vec_id != q.query_id),
    votes AS (
        SELECT query_id, true_label, label,
               CAST(count(*) AS BIGINT) AS n_votes
        FROM scored WHERE rn <= {_KNN_K}
        GROUP BY query_id, true_label, label),
    pred AS (
        SELECT query_id, true_label, label AS pred_label
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY n_votes DESC, label) AS pr FROM votes)
        WHERE pr = 1)
    SELECT true_label,
           CAST(count(*) AS BIGINT) AS n_queries,
           CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
               AS BIGINT) AS n_correct,
           CAST((CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0
               END) AS BIGINT) * 1000000) // count(*) AS BIGINT) AS acc_ppm
    FROM pred GROUP BY true_label
    """,
    doc="Leave-one-out kNN (k=5, cosine) classification accuracy per "
    "true label over the embeddings table — the embedding-quality "
    "eval a curation pipeline runs before trusting vectors for "
    "semantic dedup or search (on this synthetic corpus labels are "
    "chance-level w.r.t. the geometry ≈ 100000 ppm — the operator "
    "measures exactly that, like lang_id_confusion does for the "
    "lang-ID heuristic). Plan: the query subset broadcasts, scoring "
    "is one map-side cosine fold over the corpus, per-query top-k is "
    "a window group-limit keyed by query_id (parallel across "
    "queries), and voting/accuracy aggregate k·|Q| → |labels| rows. "
    "Determinism: cosine ranks are bit-identical (sequential fold), "
    "votes are integers, argmax vote breaks ties by smallest label, "
    "accuracy is floor-division integer ppm.",
    tags=("llm", "similarity", "eval"),
)
def knn_label_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Norms precomputed once per vector (n + |Q| norm folds) instead of
    # inside every pairwise cosine (3 interpreted folds/pair -> 1);
    # dot/(q_nrm*nrm) is the bit-identical IEEE expression cosine()
    # builds, so ranks are unchanged (same pattern as semdedup_prune).
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", "label", norm(F.col("embedding")).alias("nrm")
    )
    q = emb.filter(F.col("vec_id") < _KNN_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("label").alias("true_label"),
        F.col("nrm").alias("q_nrm"),
    )
    scored = emb.join(
        F.broadcast(q), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        "true_label",
        "label",
        "vec_id",
        (
            dot(F.col("q_emb"), F.col("embedding"))
            / (F.col("q_nrm") * F.col("nrm"))
        ).alias("cos"),
    )
    w_nn = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), "vec_id"
    )
    votes = (
        scored.withColumn("rn", F.row_number().over(w_nn))
        .filter(F.col("rn") <= _KNN_K)
        .groupBy("query_id", "true_label", "label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    w_vote = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), "label"
    )
    pred = (
        votes.withColumn("pr", F.row_number().over(w_vote))
        .filter(F.col("pr") == 1)
        .select("query_id", "true_label", F.col("label").alias("pred_label"))
    )
    correct = F.sum(
        (F.col("pred_label") == F.col("true_label")).cast("int")
    ).cast("bigint")
    return pred.groupBy("true_label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_queries"),
        correct.alias("n_correct"),
        F.expr(
            "CAST((CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0"
            " END) AS BIGINT) * 1000000) div count(*) AS BIGINT)"
        ).alias("acc_ppm"),
    )


# ---------------------------------------------------------------------------
# Classifier calibration (reliability table) over logit bins
# ---------------------------------------------------------------------------


@register(
    "classifier_calibration_bins",
    oracle=f"""
    WITH t AS (SELECT lang, text, {tokens_sql('text')} AS toks
               FROM documents),
    f AS (SELECT CAST(lang = 'en' AS INT) AS pos,
            CAST({stopword_hits_sql('toks')} AS DOUBLE) / len(toks)
                AS sw_ratio,
            CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(toks)
                AS mean_tok_len,
            CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
                AS distinct_ratio,
            CAST(least(len(toks), 400) AS DOUBLE) / 400.0 AS len_norm
          FROM t),
    scored AS (SELECT pos,
           (((({_QC_BIAS} + {_QC_W_SW}*sw_ratio)
               + {_QC_W_MTL}*mean_tok_len)
               + {_QC_W_DR}*distinct_ratio)
               + {_QC_W_LEN}*len_norm) AS score
          FROM f)
    SELECT CAST(floor(score * 2.0) AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(pos) AS BIGINT) AS n_pos,
           CAST((CAST(sum(pos) AS BIGINT) * 1000000) // count(*)
               AS BIGINT) AS pos_rate_ppm,
           min(score) AS min_logit,
           max(score) AS max_logit
    FROM scored GROUP BY 1
    """,
    doc="Reliability table for the linearized quality classifier: dock "
    "each doc's logit into a half-unit bin (floor(logit·2) — floor of "
    "a bit-identical double is bit-identical) and emit per-bin count, "
    "positive count (label: lang='en'), integer-ppm positive rate, "
    "and min/max logit. This is the calibration-curve input "
    "(predicted-score bin vs empirical rate) that decides whether the "
    "filter's threshold is trustworthy — pair it with "
    "classifier_auc_exact for the full filter-model eval. Plan: one "
    "corpus scan, partial agg into a handful of bins — map-side "
    "combine does all the work at any scale. No mean-of-doubles "
    "anywhere (order-dependent): rates are integer ppm, the bin "
    "bounds are min/max which are order-independent.",
    tags=("llm", "quality", "eval"),
)
def classifier_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _qc_scored(spark, sf_dir)
        .groupBy(
            F.floor(F.col("score") * F.lit(2.0)).cast("bigint").alias("bin")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("pos").cast("bigint").alias("n_pos"),
            F.expr(
                "CAST((CAST(sum(pos) AS BIGINT) * 1000000) div count(*)"
                " AS BIGINT)"
            ).alias("pos_rate_ppm"),
            F.min("score").alias("min_logit"),
            F.max("score").alias("max_logit"),
        )
    )


# ---------------------------------------------------------------------------
# MMR diversified rerank (greedy maximal-marginal-relevance over a shortlist)
# ---------------------------------------------------------------------------

_MMR_C = 50  # shortlist size (from the relevance ranker)
_MMR_K = 10  # diversified picks
_MMR_LAMBDA = 0.7


def _mmr_kernel(pdf):
    """Greedy MMR over ONE shortlist group. Rows are (ai, bi, val):
    bi = -1 carries ai's relevance-to-query; bi >= 0 carries the
    pairwise shortlist similarity sim(ai, bi). The float ops per step
    are exactly the oracle's `(λ·rel) − ((1−λ)·max_sim)` — two
    multiplies and a subtract over bit-identical doubles — and `max`
    over identical values, so the pick sequence and scores match the
    DuckDB RECURSIVE CTE bit-for-bit."""
    import pandas as pd

    rel = {
        int(r.ai): float(r.val)
        for r in pdf[pdf["bi"] < 0].itertuples()
    }
    sim = {
        (int(r.ai), int(r.bi)): float(r.val)
        for r in pdf[pdf["bi"] >= 0].itertuples()
    }
    if not rel:  # degenerate shortlist → empty, schema-correct result
        return pd.DataFrame(columns=["step", "vec_id", "mmr_score"])
    first = min(rel, key=lambda v: (-rel[v], v))
    picked, out = [first], [(1, first, rel[first])]
    # stop at k picks OR when the shortlist runs dry (matches the
    # recursive oracle, whose LATERAL argmax yields no row then)
    for step in range(2, min(_MMR_K, len(rel)) + 1):
        best = None
        for c in rel:
            if c in picked:
                continue
            score = (_MMR_LAMBDA * rel[c]) - (
                (1.0 - _MMR_LAMBDA) * max(sim[(c, p)] for p in picked)
            )
            if best is None or (-score, c) < best[0]:
                best = ((-score, c), score)
        (_, c), score = best
        picked.append(c)
        out.append((step, c, score))
    return pd.DataFrame(out, columns=["step", "vec_id", "mmr_score"])


@register(
    "mmr_diversified_rerank",
    oracle=f"""
    WITH RECURSIVE
    q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
    cand AS (
        SELECT vec_id, embedding,
               {cosine_sql('q.q_emb', 'e.embedding')} AS rel
        FROM embeddings e CROSS JOIN q WHERE e.vec_id >= 1
        ORDER BY rel DESC, vec_id LIMIT {_MMR_C}),
    sim AS (
        SELECT a.vec_id AS ai, b.vec_id AS bi,
               {cosine_sql('a.embedding', 'b.embedding')} AS s
        FROM cand a JOIN cand b ON a.vec_id != b.vec_id),
    first AS (SELECT vec_id, rel FROM cand
              ORDER BY rel DESC, vec_id LIMIT 1),
    mmr AS (
        SELECT 1 AS step, CAST(vec_id AS BIGINT) AS vec_id,
               [CAST(vec_id AS BIGINT)] AS picked, rel AS mmr_score
        FROM first
        UNION ALL
        SELECT m.step + 1, p.vec_id, list_append(m.picked, p.vec_id),
               p.score
        FROM mmr m, LATERAL (
            SELECT CAST(c.vec_id AS BIGINT) AS vec_id,
                   ({_MMR_LAMBDA} * c.rel) - ({1.0 - _MMR_LAMBDA} * (
                       SELECT max(s) FROM sim
                       WHERE sim.ai = c.vec_id
                         AND list_contains(m.picked, sim.bi))) AS score
            FROM cand c
            WHERE NOT list_contains(m.picked, CAST(c.vec_id AS BIGINT))
            ORDER BY score DESC, c.vec_id LIMIT 1) p
        WHERE m.step < {_MMR_K})
    SELECT CAST(step AS BIGINT) AS step, vec_id, mmr_score FROM mmr
    """,
    doc="Maximal-marginal-relevance diversified rerank (λ=0.7, k=10 "
    "over a C=50 shortlist): the retrieval-diversity operator used to "
    "de-redundify RAG contexts and curation batches — greedily pick "
    "argmax λ·rel(d) − (1−λ)·max_{{s∈picked}} sim(d, s). Plan: the "
    "corpus is touched ONCE (map-side cosine fold → TakeOrdered "
    "shortlist, localCheckpointed so the C×C similarity self-join "
    "reuses it); the inherently sequential greedy loop runs in a "
    "single applyInPandas task over C + C·(C−1) precomputed rows — "
    "constant-size work independent of corpus scale (at 100 TB the "
    "shortlist comes from the ANN index instead; rerank cost is "
    "unchanged). Oracle: a DuckDB RECURSIVE CTE with a LATERAL "
    "argmax replays the same greedy sequence; every float is either "
    "the shared sequential-fold cosine or the same 2-multiply-1-"
    "subtract chain, so scores match bit-for-bit with no rounding.",
    tags=("llm", "similarity", "retrieval"),
)
def mmr_diversified_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb")
    )
    cand = (
        emb.filter(F.col("vec_id") >= 1)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "embedding",
            cosine(F.col("q_emb"), F.col("embedding")).alias("rel"),
        )
        .orderBy(F.col("rel").desc(), "vec_id")
        .limit(_MMR_C)
        .localCheckpoint()  # 50 rows; both self-join branches reuse it
    )
    a = cand.select(
        F.col("vec_id").alias("ai"),
        F.col("embedding").alias("a_emb"),
    )
    b = cand.select(
        F.col("vec_id").alias("bi"),
        F.col("embedding").alias("b_emb"),
    )
    sim_rows = (
        a.join(b, F.col("ai") != F.col("bi"))
        .select(
            "ai",
            "bi",
            cosine(F.col("a_emb"), F.col("b_emb")).alias("val"),
        )
    )
    rel_rows = cand.select(
        F.col("vec_id").alias("ai"),
        F.lit(-1).cast("bigint").alias("bi"),
        F.col("rel").alias("val"),
    )
    return (
        rel_rows.unionByName(sim_rows.select("ai", "bi", "val"))
        .withColumn("g", F.lit(1))
        .groupBy("g")
        .applyInPandas(
            _mmr_kernel, "step bigint, vec_id bigint, mmr_score double"
        )
    )


def _qc_scored(spark: SparkSession, sf_dir: str, *keys: str) -> DataFrame:
    """(keys..., pos, score) for the linearized quality classifier —
    the shared Spark-side scoring pass behind classifier_auc_exact /
    classifier_auc_by_source / classifier_calibration_bins (each
    oracle repeats the same CTE chain textually)."""
    feats = _qc_features(
        load(spark, sf_dir, "documents"),
        *keys,
        (F.col("lang") == "en").cast("int").alias("pos"),
    )
    return feats.select(*keys, "pos", _qc_logit().alias("score"))


@register(
    "classifier_auc_by_source",
    oracle=f"""
    WITH t AS (SELECT source, lang, text, {tokens_sql('text')} AS toks
               FROM documents),
    f AS (SELECT source, CAST(lang = 'en' AS INT) AS pos,
            CAST({stopword_hits_sql('toks')} AS DOUBLE) / len(toks)
                AS sw_ratio,
            CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(toks)
                AS mean_tok_len,
            CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
                AS distinct_ratio,
            CAST(least(len(toks), 400) AS DOUBLE) / 400.0 AS len_norm
          FROM t),
    scored AS (SELECT source, pos,
           (((({_QC_BIAS} + {_QC_W_SW}*sw_ratio)
               + {_QC_W_MTL}*mean_tok_len)
               + {_QC_W_DR}*distinct_ratio)
               + {_QC_W_LEN}*len_norm) AS score
          FROM f),
    hist AS (SELECT source, score,
           CAST(sum(pos) AS BIGINT) AS n_pos,
           CAST(sum(1 - pos) AS BIGINT) AS n_neg
          FROM scored GROUP BY source, score),
    cum AS (SELECT source, n_pos, n_neg,
           CAST(coalesce(sum(n_neg) OVER (PARTITION BY source
               ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_neg
          FROM hist),
    u AS (SELECT source,
           CAST(sum(n_pos * (2 * cum_neg + n_neg)) AS BIGINT) AS u2,
           CAST(sum(n_pos) AS BIGINT) AS pos_total,
           CAST(sum(n_neg) AS BIGINT) AS neg_total
          FROM cum GROUP BY source
          HAVING sum(n_pos) > 0 AND sum(n_neg) > 0)
    SELECT source,
           CAST(u2 AS DOUBLE) / CAST(2 * pos_total * neg_total AS DOUBLE)
               AS auc,
           pos_total, neg_total
    FROM u
    """,
    doc="Per-source ROC-AUC of the quality classifier — the subgroup "
    "(fairness/bias) eval: does the filter score one source's "
    "documents systematically differently? Same all-integer "
    "Mann–Whitney 2U machinery as classifier_auc_exact, but the "
    "(score → pos/neg) histogram is keyed by source and the ordered "
    "cumulative scan runs INSIDE each source partition — so unlike "
    "the global AUC this parallelizes across sources at any scale "
    "(the window is PARTITION BY source). Sources with a single "
    "class are excluded (AUC undefined) by an exact HAVING guard.",
    tags=("llm", "quality", "eval"),
)
def classifier_auc_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = _qc_scored(spark, sf_dir, "source")
    hist = scored.groupBy("source", "score").agg(
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.sum(F.lit(1) - F.col("pos")).cast("bigint").alias("n_neg"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = hist.select(
        "source",
        "n_pos",
        "n_neg",
        F.coalesce(F.sum("n_neg").over(w), F.lit(0))
        .cast("bigint")
        .alias("cum_neg"),
    )
    u = (
        cum.groupBy("source")
        .agg(
            F.sum(
                F.col("n_pos") * (2 * F.col("cum_neg") + F.col("n_neg"))
            )
            .cast("bigint")
            .alias("u2"),
            F.sum("n_pos").cast("bigint").alias("pos_total"),
            F.sum("n_neg").cast("bigint").alias("neg_total"),
        )
        .filter((F.col("pos_total") > 0) & (F.col("neg_total") > 0))
    )
    return u.select(
        "source",
        (
            F.col("u2").cast("double")
            / (2 * F.col("pos_total") * F.col("neg_total")).cast("double")
        ).alias("auc"),
        "pos_total",
        "neg_total",
    )


# ---------------------------------------------------------------------------
# Dirichlet-smoothed query-likelihood retrieval (the LM scorer next to BM25)
# ---------------------------------------------------------------------------

_QL_MU = 100.0  # Dirichlet prior mass (~1 typical doc length here)


def _ql_contrib_sql(i: int) -> str:
    """ln((tf + μ·cf/|C|) / (dl + μ)) — same parenthesization as the
    Spark expression."""
    mu = _QL_MU
    p = f"(CAST(cf{i} AS DOUBLE) / CAST(total_tokens AS DOUBLE))"
    return (
        f"ln((CAST(tf{i} AS DOUBLE) + ({mu} * {p}))"
        f" / (CAST(dl AS DOUBLE) + {mu}))"
    )


def _ql_contrib(i: int):
    mu = _QL_MU
    p = F.col(f"cf{i}").cast("double") / F.col("total_tokens").cast("double")
    return F.log(
        (F.col(f"tf{i}").cast("double") + (F.lit(mu) * p))
        / (F.col("dl").cast("double") + F.lit(mu))
    )


_QL_CF_SQL = ",\n           ".join(
    f"CAST(sum(tf{i}) AS BIGINT) AS cf{i}"
    for i in range(len(_BM25_TERMS))
)
_QL_SCORE_SQL = "(((q0 + q1) + q2) + q3)"


@register(
    "query_likelihood_topk",
    oracle=f"""
    WITH t AS (SELECT doc_id, {tokens_sql('text')} AS toks FROM documents),
    f AS (SELECT doc_id, len(toks) AS dl,
           {_BM25_TF_SQL}
          FROM t),
    s AS (SELECT CAST(sum(dl) AS BIGINT) AS total_tokens,
           {_QL_CF_SQL}
          FROM f),
    j AS (SELECT f.*, s.* FROM f CROSS JOIN s),
    scored AS (
        SELECT doc_id,
               {_ql_contrib_sql(0)} AS q0, {_ql_contrib_sql(1)} AS q1,
               {_ql_contrib_sql(2)} AS q2, {_ql_contrib_sql(3)} AS q3
        FROM j),
    ranked AS (
        SELECT doc_id, round({_QL_SCORE_SQL}, 6) AS ql_logprob,
               row_number() OVER (
                   ORDER BY round({_QL_SCORE_SQL}, 6) DESC, doc_id) AS rn
        FROM scored)
    SELECT doc_id, ql_logprob, CAST(rn AS BIGINT) AS rank
    FROM ranked WHERE rn <= {_BM25_TOPK}
    """,
    doc="Dirichlet-smoothed query-likelihood retrieval (μ=100) for the "
    "same fixed 4-term query as bm25_topk — the language-modeling "
    "scorer of classic IR: score(d) = Σ_t ln((tf + μ·P(t|C)) / "
    "(dl + μ)). Unlike BM25, EVERY document scores (smoothing gives "
    "non-matching docs background mass), which is what makes the two "
    "rankers disagree informatively. Plan: identical shape to "
    "bm25_topk — map-side tf/dl, ONE-row collection-stats aggregate "
    "(total tokens + per-term collection frequency) broadcast back, "
    "TakeOrdered top-25; single corpus scan at any scale. "
    "Determinism: all inputs exact integers, fixed-association "
    "chains, ln is the only ulp risk → round(score, 6), doc_id "
    "tie-break.",
    tags=("llm", "text", "retrieval", "topk"),
)
def query_likelihood_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_doc = _per_doc_stats(spark, sf_dir)
    stats = per_doc.agg(
        F.sum("dl").cast("bigint").alias("total_tokens"),
        *[
            F.sum(f"tf{i}").cast("bigint").alias(f"cf{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    j = per_doc.crossJoin(F.broadcast(stats))
    score = F.round(
        (((_ql_contrib(0) + _ql_contrib(1)) + _ql_contrib(2))
         + _ql_contrib(3)),
        6,
    )
    return _ranked_topk(
        j.select("doc_id", score.alias("ql_logprob")), "ql_logprob"
    )


# ---------------------------------------------------------------------------
# Pseudo-relevance-feedback query expansion (Rocchio / RM3 term selection)
# ---------------------------------------------------------------------------

_PRF_FEEDBACK_DOCS = 10
_PRF_TOPK_TERMS = 10


@register(
    "prf_expansion_terms",
    oracle=f"""
    WITH t AS (SELECT doc_id, {tokens_sql('text')} AS toks FROM documents),
    f AS (SELECT doc_id, len(toks) AS dl,
           {_BM25_TF_SQL}
          FROM t),
    s AS (SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(dl) AS BIGINT) AS sdl,
           {_BM25_DF_SQL}
          FROM f),
    j AS (SELECT f.*, s.*, CAST(sdl AS DOUBLE) / CAST(n AS DOUBLE) AS avgdl
          FROM f CROSS JOIN s),
    scored AS (
        SELECT doc_id,
               {_bm25_contrib_sql(0)} AS c0, {_bm25_contrib_sql(1)} AS c1,
               {_bm25_contrib_sql(2)} AS c2, {_bm25_contrib_sql(3)} AS c3,
               tf0 + tf1 + tf2 + tf3 AS tf_any
        FROM j),
    ranked AS (
        SELECT doc_id, round({_BM25_SCORE_SQL}, 6) AS bm25,
               row_number() OVER (ORDER BY round({_BM25_SCORE_SQL}, 6) DESC,
                                  doc_id) AS rn
        FROM scored WHERE tf_any > 0),
    fb AS (SELECT doc_id FROM ranked WHERE rn <= {_PRF_FEEDBACK_DOCS}),
    fbtok AS (
        SELECT unnest(t.toks) AS term FROM t JOIN fb USING (doc_id)),
    fbtf AS (
        SELECT term, CAST(count(*) AS BIGINT) AS fb_tf
        FROM fbtok
        WHERE term != ''
          AND term NOT IN ({", ".join(f"'{t}'" for t in _BM25_TERMS)})
        GROUP BY term),
    dfs AS (
        SELECT term, CAST(count(*) AS BIGINT) AS df
        FROM (SELECT doc_id, unnest(list_distinct(toks)) AS term FROM t)
        WHERE term IN (SELECT term FROM fbtf)
        GROUP BY term),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM t),
    weighted AS (
        SELECT fbtf.term, fb_tf, df,
               round(CAST(fb_tf AS DOUBLE)
                     * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 6)
                   AS rocchio_weight
        FROM fbtf JOIN dfs USING (term) CROSS JOIN n)
    SELECT term, fb_tf, df, rocchio_weight, CAST(rn AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (
              ORDER BY rocchio_weight DESC, term) AS rn FROM weighted)
    WHERE rn <= {_PRF_TOPK_TERMS}
    """,
    doc="Pseudo-relevance-feedback query expansion (Rocchio/RM3 term "
    "selection): run the BM25 ranker, take its top-10 feedback docs, "
    "and score every non-query term by feedback-tf × ln(N/df) — the "
    "terms you would OR into the query on the second retrieval round. "
    "Plan: the feedback doc-id set is 10 rows (broadcast semi-join "
    "back to the corpus), the expansion-term stats table is "
    "vocabulary-of-10-docs-sized, and the corpus df side is a "
    "per-doc-distinct explode + count whose output is "
    "vocabulary-sized — every post-scan stage is bounded; the corpus "
    "is scanned twice (rank pass + df pass), same as any PRF "
    "implementation. Determinism: tf/df/N exact integers, ln is the "
    "only ulp risk → round(weight, 6), term as unique tie-break.",
    tags=("llm", "text", "retrieval"),
)
def prf_expansion_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    fb = (
        bm25_topk(spark, sf_dir)
        .filter(F.col("rank") <= _PRF_FEEDBACK_DOCS)
        .select("doc_id")
    )
    docs = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    fbtf = (
        docs.join(F.broadcast(fb), "doc_id")
        .select(F.explode(toks).alias("term"))
        .filter(
            (F.col("term") != "") & ~F.col("term").isin(*_BM25_TERMS)
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("fb_tf"))
        # two consumers (the dfs broadcast probe + the weighted join) —
        # without materializing, each re-scans the corpus to rebuild
        # the feedback vocabulary (r11); the table is feedback-doc-
        # vocab-sized, constant at any corpus scale
        .localCheckpoint(eager=True)
    )
    dfs = (
        docs.select(
            F.explode(F.array_distinct(toks)).alias("term")
        )
        .join(F.broadcast(fbtf.select("term")), "term")
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    )
    n = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    weighted = (
        fbtf.join(dfs, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "term",
            "fb_tf",
            "df",
            F.round(
                F.col("fb_tf").cast("double")
                * F.log(
                    F.col("n_docs").cast("double")
                    / F.col("df").cast("double")
                ),
                6,
            ).alias("rocchio_weight"),
        )
    )
    w = Window.orderBy(F.col("rocchio_weight").desc(), "term")
    return (
        weighted.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= _PRF_TOPK_TERMS)
        .select("term", "fb_tf", "df", "rocchio_weight", "rank")
    )


# ---------------------------------------------------------------------------
# Rank agreement between the two lexical rankers (exact Spearman's rho)
# ---------------------------------------------------------------------------


@register(
    "ranker_rank_correlation",
    oracle=f"""
    WITH t AS (SELECT doc_id, {tokens_sql('text')} AS toks FROM documents),
    f AS (SELECT doc_id, len(toks) AS dl,
           {_BM25_TF_SQL}
          FROM t),
    s AS (SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(dl) AS BIGINT) AS sdl,
           CAST(sum(dl) AS BIGINT) AS total_tokens,
           {_BM25_DF_SQL},
           {_QL_CF_SQL}
          FROM f),
    j AS (SELECT f.*, s.*, CAST(sdl AS DOUBLE) / CAST(n AS DOUBLE) AS avgdl
          FROM f CROSS JOIN s),
    scored AS (
        SELECT doc_id,
               {_bm25_contrib_sql(0)} AS c0, {_bm25_contrib_sql(1)} AS c1,
               {_bm25_contrib_sql(2)} AS c2, {_bm25_contrib_sql(3)} AS c3,
               {_ql_contrib_sql(0)} AS q0, {_ql_contrib_sql(1)} AS q1,
               {_ql_contrib_sql(2)} AS q2, {_ql_contrib_sql(3)} AS q3,
               tf0 + tf1 + tf2 + tf3 AS tf_any
        FROM j),
    ranked AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY round({_BM25_SCORE_SQL}, 6) DESC,
                                  doc_id) AS r_bm25,
               row_number() OVER (ORDER BY round({_QL_SCORE_SQL}, 6) DESC,
                                  doc_id) AS r_ql
        FROM scored WHERE tf_any > 0)
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum((r_bm25 - r_ql) * (r_bm25 - r_ql)) AS BIGINT) AS sum_d2,
           CASE WHEN count(*) < 2 THEN NULL
                ELSE 1.0 - (CAST(6 * CAST(sum((r_bm25 - r_ql)
                         * (r_bm25 - r_ql)) AS BIGINT) AS DOUBLE)
                     / CAST(CAST(count(*) AS BIGINT)
                         * (CAST(count(*) AS BIGINT)
                            * CAST(count(*) AS BIGINT) - 1) AS DOUBLE))
           END AS spearman_rho
    FROM ranked
    """,
    doc="Exact Spearman rank correlation between the BM25 and "
    "query-likelihood rankers over the BM25-scorable docs (tf_any>0) "
    "— the ranker-agreement diagnostic that tells you whether hybrid "
    "fusion (rrf_hybrid_retrieval) can add anything: ρ=1 means the "
    "rankers are redundant. Both scores come from ONE shared scan "
    "(per-doc tf/dl + a single 1-row stats broadcast carrying N, Σdl, "
    "df AND cf), ranks are permutations (doc_id tie-break — no "
    "average-rank fractions), so Σd² and the classic "
    "1 − 6Σd²/(n(n²−1)) are EXACT integers until the one final "
    "division → bit-identical, no rounding. The two global "
    "row_number windows are the scale caveat (rank = global sort); "
    "at 100 TB you'd rank via zip-with-index over a range-partitioned "
    "sort — same Σd² arithmetic. n³ stays double-exact below 2⁵³ "
    "(~10⁸ docs); beyond that the quantized-rank variant applies.",
    tags=("llm", "retrieval", "eval"),
)
def ranker_rank_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    hits, bm25 = _bm25_scored(
        _per_doc_stats(spark, sf_dir),
        F.sum("dl").cast("bigint").alias("total_tokens"),
        *[
            F.sum(f"tf{i}").cast("bigint").alias(f"cf{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    ql = F.round(
        (((_ql_contrib(0) + _ql_contrib(1)) + _ql_contrib(2))
         + _ql_contrib(3)),
        6,
    )
    scored = hits.select("doc_id", bm25.alias("bm25"), ql.alias("ql"))
    ranked = scored.select(
        F.row_number()
        .over(Window.orderBy(F.col("bm25").desc(), "doc_id"))
        .alias("r_bm25"),
        F.row_number()
        .over(Window.orderBy(F.col("ql").desc(), "doc_id"))
        .alias("r_ql"),
    )
    d2 = F.sum(
        (F.col("r_bm25") - F.col("r_ql"))
        * (F.col("r_bm25") - F.col("r_ql"))
    ).cast("bigint")
    n_docs = F.count(F.lit(1)).cast("bigint")
    agg = ranked.agg(d2.alias("sum_d2"), n_docs.alias("n_docs"))
    rho = F.when(F.col("n_docs") < 2, F.lit(None).cast("double")).otherwise(
        F.lit(1.0)
        - (
            (F.lit(6) * F.col("sum_d2")).cast("double")
            / (
                F.col("n_docs")
                * (F.col("n_docs") * F.col("n_docs") - 1)
            ).cast("double")
        )
    )
    return agg.select("n_docs", "sum_d2", rho.alias("spearman_rho"))


# ---------------------------------------------------------------------------
# Incremental maintenance of the retrieval collection statistics
# ---------------------------------------------------------------------------

@register(
    "incremental_retrieval_stats",
    oracle=f"""
    WITH t AS (SELECT doc_id, {tokens_sql('text')} AS toks FROM documents),
    cut AS (SELECT CAST((max(doc_id) * 8) // 10 AS BIGINT) AS cutoff FROM t),
    f AS (SELECT doc_id, len(toks) AS dl,
           {_BM25_TF_SQL}
          FROM t),
    base AS (SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(dl) AS BIGINT) AS sdl,
           {_BM25_DF_SQL}
          FROM f CROSS JOIN cut WHERE doc_id <= cutoff),
    delta AS (SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(dl) AS BIGINT) AS sdl,
           {_BM25_DF_SQL}
          FROM f CROSS JOIN cut WHERE doc_id > cutoff),
    full_ AS (SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(dl) AS BIGINT) AS sdl,
           {_BM25_DF_SQL}
          FROM f),
    merged AS (
        SELECT base.n + delta.n AS n, base.sdl + delta.sdl AS sdl,
               {", ".join(f"base.df{i} + delta.df{i} AS df{i}"
                          for i in range(len(_BM25_TERMS)))}
        FROM base CROSS JOIN delta)
    SELECT m.n AS n_docs, m.sdl AS total_tokens,
           {", ".join(f"m.df{i} AS df{i}"
                      for i in range(len(_BM25_TERMS)))},
           CAST(m.n = f.n AND m.sdl = f.sdl AND
                {" AND ".join(f"m.df{i} = f.df{i}"
                              for i in range(len(_BM25_TERMS)))}
               AS BOOLEAN) AS merge_consistent,
           CAST(m.sdl AS DOUBLE) / CAST(m.n AS DOUBLE) AS avgdl
    FROM merged m CROSS JOIN full_ f
    """,
    doc="Incremental maintenance of the BM25/QL collection statistics "
    "(N, Σdl, per-term df) as a MERGEABLE MONOID: the stats of "
    "base ⊎ delta are the cell-wise SUM of the two stats rows, so a "
    "new document batch updates the ranker WITHOUT rescanning the "
    "corpus — the retrieval analogue of incremental_covariance_update "
    "and incremental_minhash_dedup's corpus-never-reshuffled design. "
    "The query splits docs 80/20 by id, folds each side to one stats "
    "row, merges by addition, and emits merge_consistent proving the "
    "merge equals the full recompute (computed here for the audit; in "
    "production the full pass never runs — that's the point). All "
    "integers; avgdl is the single exact int/int division.",
    tags=("llm", "retrieval", "incremental"),
)
def incremental_retrieval_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_doc = _per_doc_stats(spark, sf_dir)
    cut = per_doc.agg(
        F.expr("CAST((max(doc_id) * 8) div 10 AS BIGINT)").alias("cutoff")
    )
    pd_cut = per_doc.crossJoin(F.broadcast(cut))

    def fold(df: DataFrame) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("dl").cast("bigint").alias("sdl"),
            *[
                F.sum((F.col(f"tf{i}") > 0).cast("int"))
                .cast("bigint")
                .alias(f"df{i}")
                for i in range(len(_BM25_TERMS))
            ],
        )

    base = fold(pd_cut.filter(F.col("doc_id") <= F.col("cutoff")))
    delta = fold(pd_cut.filter(F.col("doc_id") > F.col("cutoff")))
    full = fold(per_doc)
    b, d = base.alias("b"), delta.alias("d")
    merged = b.crossJoin(d).select(
        (F.col("b.n") + F.col("d.n")).alias("n"),
        (F.col("b.sdl") + F.col("d.sdl")).alias("sdl"),
        *[
            (F.col(f"b.df{i}") + F.col(f"d.df{i}")).alias(f"df{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    m, f_ = merged.alias("m"), full.alias("f")
    consistent = (F.col("m.n") == F.col("f.n")) & (
        F.col("m.sdl") == F.col("f.sdl")
    )
    for i in range(len(_BM25_TERMS)):
        consistent = consistent & (F.col(f"m.df{i}") == F.col(f"f.df{i}"))
    return m.crossJoin(f_).select(
        F.col("m.n").alias("n_docs"),
        F.col("m.sdl").alias("total_tokens"),
        *[
            F.col(f"m.df{i}").alias(f"df{i}")
            for i in range(len(_BM25_TERMS))
        ],
        consistent.alias("merge_consistent"),
        (
            F.col("m.sdl").cast("double") / F.col("m.n").cast("double")
        ).alias("avgdl"),
    )


# ---------------------------------------------------------------------------
# STREAMING maintenance of the retrieval collection statistics
# ---------------------------------------------------------------------------


def _retrieval_stats_state(batch: DataFrame) -> DataFrame:
    """One-row (n, sdl, df0..df3) collection-stats state for a raw
    documents batch — the mergeable monoid cell behind both the
    incremental and streaming maintenance queries."""
    toks = tokens(F.col("text"))
    per_doc = batch.select(
        F.size(toks).alias("dl"),
        *[
            F.size(
                F.filter(toks, (lambda term: lambda x: x == F.lit(term))(t))
            ).alias(f"tf{i}")
            for i, t in enumerate(_BM25_TERMS)
        ],
    )
    return per_doc.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("dl").cast("bigint").alias("sdl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("int"))
            .cast("bigint")
            .alias(f"df{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )


@register(
    "streaming_retrieval_stats",
    oracle=f"""
    WITH t AS (SELECT doc_id, {tokens_sql('text')} AS toks FROM documents),
    f AS (SELECT doc_id, len(toks) AS dl,
           {_BM25_TF_SQL}
          FROM t)
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(dl) AS BIGINT) AS total_tokens,
           {_BM25_DF_SQL},
           CAST(CAST(sum(dl) AS BIGINT) AS DOUBLE)
               / CAST(CAST(count(*) AS BIGINT) AS DOUBLE) AS avgdl
    FROM f
    """,
    doc="STREAMING maintenance of the BM25/QL collection statistics: "
    "the documents corpus is staged as three hash-chunks consumed as "
    "a real file-source stream (maxFilesPerTrigger=1, AvailableNow); "
    "each micro-batch folds its one-row (N, Σdl, df…) state into the "
    "persisted state by cell-wise ADDITION via foreachBatch "
    "(read + union + re-aggregate + atomic temp-swap of a ONE-row "
    "table). The state is a commutative monoid, so micro-batch "
    "arrival order cannot change the final table — which is what "
    "makes this streaming job strict-oracle-checkable against the "
    "one-shot whole-corpus aggregation. The streaming twin of "
    "incremental_retrieval_stats: a live ranker's stats stay fresh "
    "per ingest batch with no corpus rescan, at any scale.",
    tags=("streaming", "llm", "retrieval", "incremental"),
)
def streaming_retrieval_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    state = run_stream_fold(
        load(spark, sf_dir, "documents"),
        "doc_id",
        _retrieval_stats_state,
        lambda cells: cells.agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum("sdl").cast("bigint").alias("sdl"),
            *[
                F.sum(f"df{i}").cast("bigint").alias(f"df{i}")
                for i in range(len(_BM25_TERMS))
            ],
        ),
    )
    return state.select(
        F.col("n").alias("n_docs"),
        F.col("sdl").alias("total_tokens"),
        *[f"df{i}" for i in range(len(_BM25_TERMS))],
        (F.col("sdl").cast("double") / F.col("n").cast("double")).alias(
            "avgdl"
        ),
    )


# ---------------------------------------------------------------------------
# Mutual information between two categorical columns (profiling)
# ---------------------------------------------------------------------------


@register(
    "column_mutual_information",
    oracle="""
    WITH c AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n_xy
               FROM documents GROUP BY 1, 2),
    mx AS (SELECT lang, CAST(sum(n_xy) AS BIGINT) AS n_x
           FROM c GROUP BY 1),
    my AS (SELECT source, CAST(sum(n_xy) AS BIGINT) AS n_y
           FROM c GROUP BY 1),
    tot AS (SELECT CAST(sum(n_xy) AS BIGINT) AS n FROM c),
    cell AS (
        SELECT CAST(round(CAST(n_xy AS DOUBLE)
                   * ln((CAST(n_xy AS DOUBLE) * CAST(n AS DOUBLE))
                        / (CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE)))
                   * 1000000) AS BIGINT) AS mn
        FROM c JOIN mx USING (lang) JOIN my USING (source)
        CROSS JOIN tot)
    SELECT CAST(count(*) AS BIGINT) AS n_cells,
           t.n AS n_docs,
           CAST(sum(mn) AS BIGINT) AS mi_micronats_weighted,
           CAST(CAST(sum(mn) AS BIGINT) AS DOUBLE)
               / (CAST(t.n AS DOUBLE) * 1000000.0) AS mi_nats
    FROM cell CROSS JOIN tot t GROUP BY t.n
    """,
    doc="Mutual information between two categorical columns "
    "(lang × source over documents) — the dependence screen a "
    "profiler runs before stratifying or deduplicating on column "
    "combinations: MI ≈ 0 means the mixture is a product "
    "distribution (stratify on either alone), high MI means the "
    "columns confound. Plan: one (x, y) count aggregate (cells), "
    "margins re-aggregated FROM the cells (never a second corpus "
    "scan), broadcast-joined back — all post-scan work is "
    "cell-cardinality. Determinism: counts are exact; each cell's "
    "n_xy·ln(n_xy·N/(n_x·n_y)) is rounded ONCE to integer "
    "micro-nats (ln is transcendental — exact ties impossible) and "
    "the total is an ORDER-INDEPENDENT integer sum, the zipf_fit "
    "discipline; mi_nats is a final exact-integer division.",
    tags=("llm", "profile", "eval"),
)
def column_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    c = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_xy")
    )
    mx = c.groupBy("lang").agg(F.sum("n_xy").cast("bigint").alias("n_x"))
    my = c.groupBy("source").agg(F.sum("n_xy").cast("bigint").alias("n_y"))
    tot = c.agg(F.sum("n_xy").cast("bigint").alias("n"))
    cell = (
        c.join(F.broadcast(mx), "lang")
        .join(F.broadcast(my), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            F.round(
                F.col("n_xy").cast("double")
                * F.log(
                    (F.col("n_xy").cast("double") * F.col("n").cast("double"))
                    / (
                        F.col("n_x").cast("double")
                        * F.col("n_y").cast("double")
                    )
                )
                * 1000000
            )
            .cast("bigint")
            .alias("mn"),
            "n",
        )
    )
    return cell.groupBy("n").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.sum("mn").cast("bigint").alias("mi_micronats_weighted"),
    ).select(
        "n_cells",
        F.col("n").alias("n_docs"),
        "mi_micronats_weighted",
        (
            F.col("mi_micronats_weighted").cast("double")
            / (F.col("n").cast("double") * F.lit(1000000.0))
        ).alias("mi_nats"),
    )


# ---------------------------------------------------------------------------
# Ranking-quality evaluation: nDCG@k / Recall@k / MRR of the BM25 ranking
# ---------------------------------------------------------------------------

_EVAL_K = 10
_REL_SQL = (
    "((CASE WHEN tf0 > 0 THEN 1 ELSE 0 END)"
    " + (CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)"
    " + (CASE WHEN tf2 > 0 THEN 1 ELSE 0 END)"
    " + (CASE WHEN tf3 > 0 THEN 1 ELSE 0 END))"
)


@register(
    "ndcg_mrr_eval",
    oracle=f"""
    WITH t AS (SELECT doc_id, {tokens_sql('text')} AS toks FROM documents),
    f AS (SELECT doc_id, len(toks) AS dl,
           {_BM25_TF_SQL}
          FROM t),
    s AS (SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(dl) AS BIGINT) AS sdl,
           {_BM25_DF_SQL}
          FROM f),
    j AS (SELECT f.*, s.*, CAST(sdl AS DOUBLE) / CAST(n AS DOUBLE) AS avgdl
          FROM f CROSS JOIN s),
    scored AS (
        SELECT doc_id, {_REL_SQL} AS rel,
               {_bm25_contrib_sql(0)} AS c0, {_bm25_contrib_sql(1)} AS c1,
               {_bm25_contrib_sql(2)} AS c2, {_bm25_contrib_sql(3)} AS c3,
               tf0 + tf1 + tf2 + tf3 AS tf_any
        FROM j),
    ranked AS (
        SELECT doc_id, rel,
               row_number() OVER (ORDER BY round({_BM25_SCORE_SQL}, 6) DESC,
                                  doc_id) AS rn
        FROM scored WHERE tf_any > 0),
    rels AS (SELECT doc_id, {_REL_SQL} AS rel FROM f),
    dcg AS (
        SELECT CAST(sum(CAST(round(
                   (CAST(((1 << rel) - 1) AS DOUBLE) / log2(rn + 1))
                   * 1000000000) AS BIGINT)) AS BIGINT) AS dcg_nano
        FROM ranked WHERE rn <= {_EVAL_K}),
    ideal AS (
        SELECT rel, row_number() OVER (ORDER BY rel DESC, doc_id) AS rn
        FROM rels),
    idcg AS (
        SELECT CAST(sum(CAST(round(
                   (CAST(((1 << rel) - 1) AS DOUBLE) / log2(rn + 1))
                   * 1000000000) AS BIGINT)) AS BIGINT) AS idcg_nano
        FROM ideal WHERE rn <= {_EVAL_K}),
    rec AS (
        SELECT CAST(count(*) FILTER (WHERE rn <= {_EVAL_K} AND rel = 4)
                    AS BIGINT) AS n_rel_topk,
               CAST(coalesce(min(rn) FILTER (WHERE rel = 4), 0) AS BIGINT)
                   AS first_rel_rank
        FROM ranked),
    tot AS (
        SELECT CAST(count(*) FILTER (WHERE rel = 4) AS BIGINT) AS n_rel_total
        FROM rels)
    SELECT {_EVAL_K} AS k, d.dcg_nano, i.idcg_nano,
           CAST(d.dcg_nano AS DOUBLE) / CAST(i.idcg_nano AS DOUBLE) AS ndcg,
           r.n_rel_topk, t2.n_rel_total,
           CAST(r.n_rel_topk AS DOUBLE) / CAST(t2.n_rel_total AS DOUBLE)
               AS recall_at_k,
           r.first_rel_rank,
           CASE WHEN r.first_rel_rank = 0 THEN 0.0
                ELSE 1.0 / CAST(r.first_rel_rank AS DOUBLE) END AS mrr
    FROM dcg d, idcg i, rec r, tot t2
    """,
    doc="Ranking-quality readout of the BM25 retrieval run — nDCG@10 "
    "(graded gain (2^rel - 1)/log2(pos+1) against the corpus-ideal "
    "ordering), Recall@10 and MRR of the first perfectly-relevant hit "
    "— with graded relevance defined as the number of distinct query "
    "terms a document contains (a deterministic ground truth both "
    "engines derive identically). Completes the retrieval-eval "
    "family (AUC = classification, Spearman = rank agreement, this = "
    "ranked-list utility). Determinism: gains are exact integers; "
    "each transcendental log2 term is rounded to nano-units before "
    "the sum; the nDCG/recall/MRR closes are single correctly-rounded "
    "divides of exact integers. Scale: per-doc tf/rel is the same "
    "materialized parse as bm25_topk (one corpus scan); DCG/IDCG/MRR "
    "aggregate k-row or 1-row tables; the ideal ordering is a "
    "TakeOrdered top-k, not a full sort.",
    tags=("llm", "retrieval", "eval", "topk"),
)
def ndcg_mrr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_doc = _per_doc_stats(spark, sf_dir)
    rel = sum(
        (F.col(f"tf{i}") > 0).cast("int")
        for i in range(len(_BM25_TERMS))
    )
    rels = per_doc.select("doc_id", rel.alias("rel"))
    hits, score = _bm25_scored(per_doc)
    w = Window.orderBy(F.col("score").desc(), "doc_id")
    ranked = (
        hits.select("doc_id", rel.alias("rel"), score.alias("score"))
        .withColumn("rn", F.row_number().over(w))
        .select("doc_id", "rel", "rn")
    )

    def _gain_nano(rel_col, rn_col):
        gain = F.expr("shiftleft(1, rel) - 1").cast("double")
        return F.round(
            gain / F.log2(rn_col + 1) * F.lit(1000000000)
        ).cast("bigint")

    dcg = ranked.filter(F.col("rn") <= _EVAL_K).agg(
        F.sum(_gain_nano(F.col("rel"), F.col("rn"))).cast("bigint")
        .alias("dcg_nano")
    )
    w_ideal = Window.orderBy(F.desc("rel"), "doc_id")
    ideal = rels.withColumn("rn", F.row_number().over(w_ideal)).filter(
        F.col("rn") <= _EVAL_K
    )
    idcg = ideal.agg(
        F.sum(_gain_nano(F.col("rel"), F.col("rn"))).cast("bigint")
        .alias("idcg_nano")
    )
    rec = ranked.agg(
        F.count(
            F.when((F.col("rn") <= _EVAL_K) & (F.col("rel") == 4), 1)
        ).cast("bigint").alias("n_rel_topk"),
        F.coalesce(
            F.min(F.when(F.col("rel") == 4, F.col("rn"))), F.lit(0)
        ).cast("bigint").alias("first_rel_rank"),
    )
    tot = rels.agg(
        F.count(F.when(F.col("rel") == 4, 1)).cast("bigint")
        .alias("n_rel_total")
    )
    out = (
        dcg.crossJoin(F.broadcast(idcg))
        .crossJoin(F.broadcast(rec))
        .crossJoin(F.broadcast(tot))
    )
    return out.select(
        F.lit(_EVAL_K).alias("k"),
        "dcg_nano",
        "idcg_nano",
        (F.col("dcg_nano").cast("double") / F.col("idcg_nano").cast("double"))
        .alias("ndcg"),
        "n_rel_topk",
        "n_rel_total",
        (
            F.col("n_rel_topk").cast("double")
            / F.col("n_rel_total").cast("double")
        ).alias("recall_at_k"),
        "first_rel_rank",
        F.when(F.col("first_rel_rank") == 0, F.lit(0.0))
        .otherwise(F.lit(1.0) / F.col("first_rel_rank").cast("double"))
        .alias("mrr"),
    )
