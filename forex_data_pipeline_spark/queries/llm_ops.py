"""Training-data pipeline operators (BASELINE.json north star): dedup
(exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding-cosine),
similarity search (brute-force + IVF), text analysis (stats, lang-ID,
fingerprinting), multimodal column plumbing.

Scale design notes are on each query; the common theme: never O(n²) on
the full corpus — blocking (shared shingle, LSH band, IVF cell) turns
pairwise problems into equi-join problems, which Spark shuffles by key
and solves at any n.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator
from concurrent.futures import ThreadPoolExecutor

import pandas as pd
from pyspark import inheritable_thread_target
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import register
from ..functions.text import (
    BPE_RE,
    LANG_MARKERS,
    minhash_value,
    minhash_value_sql,
    shingles,
    shingles_sql,
    simhash_bit_sums,
    simhash_from_sums,
    simhash_sql,
    stopword_hits,
    stopword_hits_sql,
    tokens,
    tokens_sql,
)
from ..functions.vector import (
    cosine, cosine_sql, dot, dot_sql, l2sq_unrolled, norm,
)
from ..session import shuffle_width
from ..streaming.candles_stream import run_stream_fold
from ..tables import load

MINHASH_K = 8          # signature length
LSH_BANDS = 2          # bands × rows: 2 × 4 — candidates at est-J ≥ ~0.5
LSH_ROWS = MINHASH_K // LSH_BANDS

def _tok_cte(src: str = "documents") -> str:
    """Tokenize CTE over an arbitrary documents-shaped source — the
    ``src`` knob exists for source-pushed sharded oracles, where the
    per-bucket doc filter must apply BEFORE tokenization."""
    return f"SELECT doc_id, {tokens_sql('text')} AS toks FROM {src}"


def _sh_cte(src: str = "documents") -> str:
    return (
        f"SELECT DISTINCT doc_id, unnest({shingles_sql('toks', 5)}) AS sh "
        f"FROM ({_tok_cte(src)})"
    )


_TOK_CTE = _tok_cte()
_SH_CTE = _sh_cte()


def _spread(df: DataFrame) -> DataFrame:
    """Spread documents across the session's full parallelism, keyed by
    doc_id. The test corpus is one parquet file → one input partition,
    so the downstream tokenize/explode would otherwise run on one core.
    Width derives from the session (spark.sql.shuffle.partitions, the
    same knob every other shuffle here uses) — no literal tuned to
    local[32]; on a real cluster with many input splits this stage is
    effectively a no-op, and it is keyed, not round-robin, to stay
    deterministic."""
    return df.repartition(shuffle_width(df.sparkSession), "doc_id")


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return (
        _spread(docs)
        .select(
            "doc_id", F.explode(shingles(tokens(F.col("text")), 5)).alias("sh")
        )
        .distinct()
    )


# ---------------------------------------------------------- text analysis

@register(
    "text_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
           CAST(len(regexp_extract_all(text, '{BPE_RE}')) AS BIGINT)
               AS n_bpe_tokens,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           CAST(strlen(text) AS DOUBLE) / len(toks) AS avg_token_len,
           CAST({stopword_hits_sql('toks')} AS DOUBLE) / len(toks)
               AS stopword_ratio
    FROM (SELECT doc_id, text, {tokens_sql('text')} AS toks FROM documents)
    """,
    doc="Per-document quality stats: token counts (whitespace + BPE-ish "
    "regex), byte length, avg token length, stopword ratio — the "
    "filter-features of a corpus-quality pass; all ratios are "
    "int/int divisions (exact).",
    tags=("llm", "text"),
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n = F.size(toks).cast("bigint")
    return docs.select(
        "doc_id",
        n.alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(BPE_RE), 0))
        .cast("bigint")
        .alias("n_bpe_tokens"),
        F.octet_length("text").cast("bigint").alias("n_bytes"),
        (F.octet_length("text").cast("double") / n).alias("avg_token_len"),
        (stopword_hits(toks).cast("double") / n).alias("stopword_ratio"),
    )


def _lang_scores_sql() -> tuple[str, str]:
    score_cols = ", ".join(
        f"{stopword_hits_sql('toks', ws)} AS s_{lang}"
        for lang, ws in LANG_MARKERS.items()
    )
    langs = list(LANG_MARKERS)
    case = "CASE "
    for lang in langs[:-1]:
        others = " AND ".join(
            f"s_{lang} >= s_{o}" for o in langs if o != lang
        )
        case += f"WHEN {others} THEN '{lang}' "
    case += f"ELSE '{langs[-1]}' END"
    return score_cols, case


_SCORES, _PRED_CASE = _lang_scores_sql()


@register(
    "lang_id",
    oracle=f"""
    SELECT doc_id, lang, {_PRED_CASE} AS predicted_lang,
           CAST(s_en AS BIGINT) AS score_en
    FROM (SELECT doc_id, lang, {_SCORES}
          FROM (SELECT doc_id, lang, {tokens_sql('text')} AS toks
                FROM documents))
    """,
    doc="Language-ID heuristic: per-language marker-lexicon hit counts, "
    "deterministic argmax (fixed priority order on ties). A real "
    "deployment swaps the lexicons for char-n-gram profiles — the "
    "plan shape (map-side scoring, no shuffle) is identical.",
    tags=("llm", "text"),
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    scored = docs.select(
        "doc_id",
        "lang",
        *[
            stopword_hits(toks, ws).alias(f"s_{lang}")
            for lang, ws in LANG_MARKERS.items()
        ],
    )
    langs = list(LANG_MARKERS)
    pred = F.lit(langs[-1])
    for lang in reversed(langs[:-1]):
        cond = None
        for o in langs:
            if o != lang:
                c = F.col(f"s_{lang}") >= F.col(f"s_{o}")
                cond = c if cond is None else (cond & c)
        pred = F.when(cond, lang).otherwise(pred)
    return scored.select(
        "doc_id", "lang", pred.alias("predicted_lang"),
        F.col("s_en").cast("bigint").alias("score_en"),
    )


def _top20_by_occurrences(items: DataFrame, key: str) -> DataFrame:
    """The 20 most frequent ``key`` values of (doc_id, ``key``) rows,
    ties broken by ``key``, with their document and occurrence
    counts."""
    agg = items.groupBy(key).agg(
        F.count_distinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_occurrences"),
    )
    w = Window.orderBy(F.col("n_occurrences").desc(), key)
    return (
        agg.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select(key, "n_docs", "n_occurrences")
    )


@register(
    "vocab_top20",
    oracle=f"""
    SELECT token, n_docs, n_occurrences
    FROM (
        SELECT token, count(DISTINCT doc_id) AS n_docs,
               count(*) AS n_occurrences,
               row_number() OVER (ORDER BY count(*) DESC, token) AS rn
        FROM (SELECT doc_id, unnest(toks) AS token FROM ({_TOK_CTE}))
        GROUP BY token)
    WHERE rn <= 20
    """,
    doc="Corpus vocabulary top-k (the explode→agg word-count classic): "
    "partial aggregation collapses the exploded rows map-side, so "
    "shuffle bytes ∝ vocabulary, not corpus size.",
    tags=("llm", "text", "topk"),
)
def vocab_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
    return _top20_by_occurrences(tok, "token")


# ------------------------------------------------------------------ dedup

@register(
    "doc_fingerprint_dedup",
    oracle="""
    SELECT doc_id, md5(lower(trim(text))) AS fingerprint,
           CAST(row_number() OVER (
               PARTITION BY md5(lower(trim(text))) ORDER BY doc_id)
               AS BIGINT) AS copy_rank
    FROM documents
    """,
    doc="Exact content dedup via normalized-text fingerprint: "
    "copy_rank=1 rows form the deduplicated corpus, rank>1 are exact "
    "dups. Hashing first means the shuffle key is 32 bytes regardless "
    "of document size — dedup cost is independent of payload width.",
    tags=("llm", "dedup"),
)
def doc_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    fp = F.md5(F.lower(F.trim(F.col("text"))))
    w = Window.partitionBy(fp).orderBy("doc_id")
    return docs.select(
        "doc_id",
        fp.alias("fingerprint"),
        F.row_number().over(w).cast("bigint").alias("copy_rank"),
    )


def _sig_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide MinHash signatures (doc_id, m0..m7) in ONE pass: all K keyed
    hashes are aggregated as K min() columns over a single shingle scan
    — no K× row explosion, shuffle bytes ∝ docs, not docs×K.

    min() is idempotent, so duplicate shingles cannot change it — we
    skip ``_doc_shingles``'s distinct() (one whole shuffle of the
    exploded shingle set). The pre-explode repartition on doc_id also
    satisfies the groupBy's distribution, so the aggregate runs with NO
    exchange after the explode: shuffle bytes ∝ raw docs, not shingles."""
    from ..functions.text import _MINHASH_A, _MINHASH_B, MINHASH_P

    docs = load(spark, sf_dir, "documents")
    # The md5+conv+mod base hash is hoisted to a column so the K affine
    # mixes provably share ONE digest per shingle (codegen subexpression
    # elimination catches most of this already — measured ~10% at
    # sf0.1 — but the hoist makes it structural, not best-effort).
    # Same math as minhash_value(sh, i), so signatures are identical.
    base = F.conv(
        F.substring(F.md5(F.col("sh")), 1, 15), 16, 10
    ).cast("bigint") % MINHASH_P
    sh = _spread(docs).select(
        "doc_id", F.explode(shingles(tokens(F.col("text")), 5)).alias("sh")
    ).select("doc_id", base.alias("_b"))
    return sh.groupBy("doc_id").agg(
        *[
            F.min(
                (F.col("_b") * F.lit(_MINHASH_A[i]) + F.lit(_MINHASH_B[i]))
                % MINHASH_P
            ).alias(f"m{i}")
            for i in range(MINHASH_K)
        ]
    )


_SIG_WIDE_CTE = (
    "SELECT doc_id, "
    + ", ".join(
        f"min({minhash_value_sql('sh', i)}) AS m{i}"
        for i in range(MINHASH_K)
    )
    + f" FROM ({_SH_CTE}) GROUP BY doc_id"
)


@register(
    "minhash_signatures",
    oracle=f"""
    SELECT doc_id, hash_idx, minhash FROM (
        SELECT doc_id,
               unnest(generate_series(0, {MINHASH_K - 1})) AS hash_idx,
               unnest([{", ".join(f"m{i}" for i in range(MINHASH_K))}])
                   AS minhash
        FROM ({_SIG_WIDE_CTE}))
    """,
    doc=f"MinHash signatures ({MINHASH_K} universal-hash mixes of ONE md5 "
    "per shingle — 8x fewer digests than md5-per-(shingle,index)), "
    "computed as K parallel min() aggregates in ONE shingle pass (no "
    "K-fold row explosion), then unpivoted. The affine field mixes are "
    "exact 64-bit integer math, identical in every engine.",
    tags=("llm", "dedup"),
)
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    wide = _sig_wide(spark, sf_dir)
    stack = ", ".join(f"{i}, m{i}" for i in range(MINHASH_K))
    return wide.selectExpr(
        "doc_id",
        f"stack({MINHASH_K}, {stack}) AS (hash_idx, minhash)",
    ).select(
        "doc_id", F.col("hash_idx").cast("bigint").alias("hash_idx"), "minhash"
    )


def _band_hash_cols() -> list[tuple[str, list[str]]]:
    return [
        (f"bh{b}", [f"m{b * LSH_ROWS + r}" for r in range(LSH_ROWS)])
        for b in range(LSH_BANDS)
    ]


def _lsh_candidates(
    sig: DataFrame,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
    cut: DataFrame | None = None,
) -> tuple[DataFrame, Column]:
    """Candidate pairs ``a_id < b_id`` of the wide signature table
    ``sig`` under a ``bands`` × ``rows`` banding, and their signature
    agreement (matching ``m{i}`` count, 0..K). One equi-join on
    (band, band hash) with both signatures riding through it — no
    per-band join + union + distinct, no join back onto ``sig``; a pair
    colliding in several bands is kept only from its FIRST shared band
    (map-side array compare), so it appears exactly once. ``cut``, a
    1-row frame, limits the b side to ``b_id >= cutoff`` (broadcast)."""
    bhs = F.array(
        *[
            F.md5(
                F.concat_ws("|", *[f"m{i * rows + j}" for j in range(rows)])
            )
            for i in range(bands)
        ]
    )
    e = sig.select(
        "doc_id",
        *[f"m{i}" for i in range(MINHASH_K)],
        bhs.alias("bhs"),
        F.posexplode(bhs).alias("bk", "h"),
    )

    def side(p: str) -> DataFrame:
        return e.select(
            F.col("doc_id").alias(f"{p}_id"),
            *[F.col(f"m{i}").alias(f"{p}_m{i}") for i in range(MINHASH_K)],
            F.col("bhs").alias(f"{p}_bhs"),
            "bk",
            "h",
        )

    b = side("b")
    if cut is not None:
        b = (
            b.join(F.broadcast(cut), F.col("b_id") >= F.col("cutoff"))
            .drop("cutoff")
        )
    first_band = F.lit(True)
    for j in range(bands - 1):
        earlier_hit = (F.col("bk") > j) & (
            F.col("a_bhs")[j] == F.col("b_bhs")[j]
        )
        first_band = first_band & ~earlier_hit
    agreement = sum(
        F.when(F.col(f"a_m{i}") == F.col(f"b_m{i}"), 1).otherwise(0)
        for i in range(MINHASH_K)
    )
    pairs = (
        side("a").join(b, ["bk", "h"])
        .filter((F.col("a_id") < F.col("b_id")) & first_band)
    )
    return pairs, agreement


_LSH_PAIRS_ORACLE = f"""
    WITH sig AS ({_SIG_WIDE_CTE}),
    bands AS (
        SELECT doc_id,
               {", ".join(f"md5(concat_ws('|', {', '.join(ms)})) AS {bh}"
                          for bh, ms in _band_hash_cols())}
        FROM sig
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM bands a JOIN bands b ON a.doc_id < b.doc_id
         AND ({" OR ".join(f"a.{bh} = b.{bh}" for bh, _ in _band_hash_cols())})
    )
    SELECT c.a_id, c.b_id,
           CAST({" + ".join(f"(CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END)"
                            for i in range(MINHASH_K))}
                AS DOUBLE) / {MINHASH_K} AS est_jaccard
    FROM cand c
    JOIN sig sa ON sa.doc_id = c.a_id
    JOIN sig sb ON sb.doc_id = c.b_id
    WHERE CAST({" + ".join(f"(CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END)"
                           for i in range(MINHASH_K))}
               AS DOUBLE) / {MINHASH_K} >= 0.5
    """


@register(
    "minhash_lsh_pairs",
    oracle=_LSH_PAIRS_ORACLE,
    doc="MinHash + LSH near-dup pairs: band-hash blocking turns O(n²) "
    "pair search into an equi-join on band hashes — candidates ≈ true "
    "near-dups + vanishing noise; estimated Jaccard from signature "
    "agreement (wide row-to-row, no per-hash self-join), thresholded "
    "at 0.5. THE scalable near-dup dedup for 100 TB corpora.",
    tags=("llm", "dedup", "join"),
    shard_key="a_id",
)
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One materialization of the signature table (docs × K longs),
    # then exactly ONE join in the whole plan (_lsh_candidates).
    sig = _sig_wide(spark, sf_dir).localCheckpoint(eager=True)
    pairs, agreement = _lsh_candidates(sig)
    est = agreement.cast("double") / MINHASH_K
    return (
        pairs.select("a_id", "b_id", est.alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= 0.5)
    )


def _shingle_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(a_id, b_id, n_common, na, nb) for every document pair a < b
    sharing at least one distinct 5-gram shingle: the shared-shingle
    blocking self-join, then the pair's common-shingle count and each
    side's shingle-set size. The size rides WITH each shingle row (a
    window count over the doc_id partitioning ``_spread`` already
    established — no extra exchange) instead of living in a separate
    counts aggregate, which would be a third execution of the
    tokenize+distinct subtree plus two broadcast joins to re-attach
    sizes after the pair aggregation (r11: scans 4 → 2 in the plan
    audit). min(na)/min(nb) recover the group-constant sizes exactly —
    integer min, order-independent."""
    sh = _doc_shingles(spark, sf_dir)
    shn = sh.withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
    )
    return (
        shn.alias("a")
        .join(
            shn.alias("b"),
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.min(F.col("a.n")).alias("na"),
            F.min(F.col("b.n")).alias("nb"),
        )
    )


@register(
    "ngram_jaccard_pairs",
    oracle=f"""
    WITH sh AS ({_SH_CTE}),
    cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_common
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT a_id, b_id,
           CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common) AS jaccard
    FROM common
    JOIN cnt ca ON ca.doc_id = a_id
    JOIN cnt cb ON cb.doc_id = b_id
    WHERE CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common) >= 0.5
    """,
    doc="EXACT n-gram Jaccard near-dup pairs via shingle inverted-index "
    "self-join: only docs sharing ≥1 shingle are ever compared "
    "(blocking), the rest is count arithmetic — int/int division, "
    "exact. Ground truth for the MinHash estimate.",
    tags=("llm", "dedup", "join"),
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    common = _shingle_pair_counts(spark, sf_dir)
    j = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )
    return (
        common.select("a_id", "b_id", j.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.5)
    )


_SIMHASH_SUMS, _SIMHASH_FP = simhash_sql("token", "cnt")


@register(
    "simhash_fingerprints",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(toks) AS token FROM ({_TOK_CTE})
    ),
    tc AS (SELECT doc_id, token, count(*) AS cnt FROM tok GROUP BY 1, 2),
    sums AS (SELECT doc_id, {_SIMHASH_SUMS} FROM tc GROUP BY doc_id)
    SELECT doc_id, {_SIMHASH_FP} AS simhash
    FROM sums
    """,
    doc="SimHash document fingerprints (16-bit): each token votes its "
    "md5 bits ± its frequency; near-dup docs land at small Hamming "
    "distance. One explode + two hash-aggs — no pairwise work at all.",
    tags=("llm", "dedup"),
)
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
    tc = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("cnt"))
    sums = tc.groupBy("doc_id").agg(
        *simhash_bit_sums(F.col("token"), F.col("cnt"))
    )
    return sums.select("doc_id", simhash_from_sums().alias("simhash"))


# ------------------------------------------------------ similarity search

def _top5_by_cosine(scored: DataFrame) -> DataFrame:
    """Each query's 5 nearest neighbors of (query_id, neighbor_id,
    cos_sim) rows, ranked by similarity with neighbor_id as the
    tie-break."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), "neighbor_id"
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


@register(
    "embedding_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
    scored AS (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
               round({cosine_sql('q.embedding', 'e.embedding')}, 6) AS cos_sim
        FROM q JOIN embeddings e ON e.vec_id != q.vec_id
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rn AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY cos_sim DESC, neighbor_id) AS rn
          FROM scored)
    WHERE rn <= 5
    """,
    doc="Brute-force cosine top-k ANN baseline: broadcast the query set, "
    "score map-side with a pure Catalyst fold (no UDF), per-query "
    "top-k via window group-limit. Exact; cost O(n·q) — the recall "
    "yardstick for ann_ivf_topk.",
    tags=("llm", "similarity", "topk"),
)
def embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Norms precomputed once per vector/query instead of inside every
    # pairwise cosine (3 interpreted folds/pair -> 1); dot/(q_nrm*nrm)
    # is the bit-identical IEEE expression cosine() builds.
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", norm(F.col("embedding")).alias("nrm")
    )
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    scored = (
        emb.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                dot(F.col("q_emb"), F.col("embedding"))
                / (F.col("q_nrm") * F.col("nrm")),
                6,
            ).alias("cos_sim"),
        )
    )
    return _top5_by_cosine(scored)


_NEAR_DUP_TAU = 0.45


_NEAR_DUP_BLOCK = 512  # vectors per block; pair-group size <= 2*this


def _near_dup_pair_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
    """BLAS kernel for ONE block pair: rows tagged side=0 (left block)
    and side=1 (right block). S = Â·B̂ᵀ in one float64 matrix multiply —
    ~100× an interpreted per-pair fold, and the values agree with the
    sequential-fold oracle to well past 6 dp. Same-block groups (no
    side-1 rows) take the strict upper triangle; cross-block pairs are
    emitted as (min_id, max_id), so every unordered pair appears
    exactly once across all groups."""
    import numpy as np

    a = pdf[pdf["side"] == 0]
    b = pdf[pdf["side"] == 1]
    a_ids = a["vec_id"].to_numpy()
    a_mat = np.array(list(a["embedding"]), dtype=np.float64)
    a_unit = a_mat / np.linalg.norm(a_mat, axis=1, keepdims=True)
    if len(b):
        b_ids = b["vec_id"].to_numpy()
        b_mat = np.array(list(b["embedding"]), dtype=np.float64)
        b_unit = b_mat / np.linalg.norm(b_mat, axis=1, keepdims=True)
    else:  # same-block pair: B is A, strict upper triangle below
        b_ids, b_unit = a_ids, a_unit
    sims = np.round(a_unit @ b_unit.T, 6)
    ai, bi = np.nonzero(
        (sims >= _NEAR_DUP_TAU) & (a_ids[:, None] < b_ids[None, :])
    )
    return pd.DataFrame(
        {
            "a_id": np.minimum(a_ids[ai], b_ids[bi]),
            "b_id": np.maximum(a_ids[ai], b_ids[bi]),
            "cos_sim": sims[ai, bi],
        }
    )


@register(
    "embedding_near_dup_pairs",
    oracle=f"""
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           round({cosine_sql('a.embedding', 'b.embedding')}, 6) AS cos_sim
    FROM embeddings a
    JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE round({cosine_sql('a.embedding', 'b.embedding')}, 6)
          >= {_NEAR_DUP_TAU}
    """,
    doc="EXACT embedding-cosine near-dup pairs via a fully DISTRIBUTED "
    "2-D block decomposition — no driver collect, no row cap: vectors "
    "are range-blocked (vec_id div B), the tiny blocks×blocks pair "
    "relation is broadcast, each vector is map-side replicated into "
    "its block's pairs (replication factor n/B — the textbook "
    "distributed all-pairs layout), and ONE applyInPandas group per "
    "(left, right) block runs the BLAS kernel (Â·B̂ᵀ, a single "
    "float64 matrix multiply, ~100× an interpreted per-pair fold). "
    "The O(n²) here is INHERENT, not an accident: on this corpus the "
    "cosine distribution is continuous straight through τ=0.45 "
    "(measured: max pair sim ≈0.51, ~60× more pairs in [0.30,0.45) "
    "than above it; per-hyperplane collision prob is 0.648 at sim "
    "0.45 vs 0.625 at 0.35), so NO LSH banding is simultaneously "
    "lossless and selective at this τ — asserted empirically by "
    "tests/test_llm_ops.py::test_near_dup_tau_sits_in_continuous_mass. "
    "The approximate scale path is embedding_near_dup_lsh (same "
    "verify, LSH-candidate generation, measured recall) and the "
    "MinHash/SimHash/ANN family; this op is their exact yardstick.",
    tags=("llm", "dedup", "similarity"),
    shard_key="a_id",
)
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = (
        load(spark, sf_dir, "embeddings")
        .select(
            F.expr(f"vec_id div {_NEAR_DUP_BLOCK}").alias("blk"),
            "vec_id", "embedding",
        )
    )
    blocks = emb.select("blk").distinct()
    bp = (
        blocks.select(F.col("blk").alias("lb"))
        .join(
            blocks.select(F.col("blk").alias("rb")),
            F.col("lb") <= F.col("rb"),
        )
    )
    left = emb.join(F.broadcast(bp), F.col("blk") == F.col("lb")).select(
        "lb", "rb", "vec_id", "embedding", F.lit(0).alias("side")
    )
    right = (
        emb.join(
            F.broadcast(bp.filter(F.col("lb") != F.col("rb"))),
            F.col("blk") == F.col("rb"),
        ).select("lb", "rb", "vec_id", "embedding", F.lit(1).alias("side"))
    )
    return (
        left.unionAll(right)
        .groupBy("lb", "rb")
        .applyInPandas(
            lambda pdf: _near_dup_pair_kernel(pdf),
            "a_id bigint, b_id bigint, cos_sim double",
        )
    )


_IVF_K = 16  # FIXED centroid count — assignment cost is O(n*k), k constant


def _ivf_assign(emb: DataFrame, cent: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: broadcast scoring is map-side; the
    argmax is a partial-aggregating max_by over skinny (vec_id, cell_id,
    c_sim) rows — embeddings never ride the shuffle. Ties break to the
    lowest cell_id. Norms are precomputed once per vector/centroid
    (n + k folds) instead of inside each of the n·k cosines (3
    interpreted folds/pair -> 1); dot/(nrm*cnrm) is the bit-identical
    IEEE expression cosine() builds, so assignments are unchanged."""
    embn = emb.select(
        "vec_id", "embedding", norm(F.col("embedding")).alias("_nrm")
    )
    centn = cent.select(
        "cell_id", "c_emb", norm(F.col("c_emb")).alias("_cnrm")
    )
    return (
        embn.crossJoin(F.broadcast(centn))
        .select(
            "vec_id", "cell_id",
            (
                dot(F.col("embedding"), F.col("c_emb"))
                / (F.col("_nrm") * F.col("_cnrm"))
            ).alias("c_sim"),
        )
        .groupBy("vec_id")
        .agg(
            F.max_by(
                "cell_id",
                F.struct(F.col("c_sim"), (-F.col("cell_id")).alias("nid")),
            ).alias("cell_id")
        )
    )


def _centroid_means(
    assigned: DataFrame, keys: list[str], vec: str, out: str
) -> DataFrame:
    """One Lloyd step: each centroid (one per ``keys`` value) becomes the
    mean of the ``vec`` arrays assigned to it, as float array ``out``.
    (keys, dim)-keyed partial agg via posexplode; the output is bounded
    at centroids·dim rows, and it is checkpointed eagerly because
    assignment and search both reuse it."""
    return (
        assigned.select(*keys, F.posexplode(vec).alias("pos", "v"))
        .groupBy(*keys, "pos")
        .agg(F.avg("v").alias("m"))
        .groupBy(*keys)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("s"))
        .select(
            *keys, F.transform("s", lambda x: x.m.cast("float")).alias(out)
        )
        .localCheckpoint(eager=True)
    )


def _ivf_centroids(emb: DataFrame) -> DataFrame:
    """(cell_id, c_emb): _IVF_K coarse centroids. Seeds are the k
    vectors with the smallest xxhash64(vec_id) — deterministic, one
    TakeOrderedAndProject (per-partition k-heap + one reduce), O(n) —
    refined by one Lloyd step."""
    seeds = (
        emb.select(
            F.col("vec_id").alias("cell_id"),
            F.col("embedding").alias("c_emb"),
        )
        .orderBy(F.xxhash64(F.col("cell_id")), "cell_id")
        .limit(_IVF_K)
    )
    return _centroid_means(
        emb.join(_ivf_assign(emb, seeds), "vec_id"),
        ["cell_id"], "embedding", "c_emb",
    )


def _query_vecs(emb: DataFrame) -> DataFrame:
    """(query_id, q_emb): the 10 vectors (vec_id < 10) the ANN queries
    search neighbours for."""
    return emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )


@register(
    "ann_ivf_topk",
    # No oracle: multi-stage approximate algorithm; recall vs the exact
    # brute-force result is asserted in tests/test_llm_ops.py instead.
    doc="IVF-style approximate nearest neighbor: a FIXED number of "
    f"coarse centroids ({_IVF_K}, hash-picked seeds refined by ONE "
    "Lloyd/k-means pass — the count does NOT grow with data, so the "
    "broadcast stays bounded and assignment is O(n*k)), every vector "
    "assigned to its nearest centroid via a skinny map-side-combinable "
    "max_by agg (no window sort, no embedding duplicated through the "
    "shuffle), queries probe the 2 best cells only — search cost drops "
    "by ~|cells|/probes. The scale path when brute force stops "
    "fitting; recall measured against embedding_cosine_topk in tests. "
    "The refinement pass is the k-means|| shape: per-(cell,dim) mean "
    "via posexplode + partial agg, output bounded at k*dim rows.",
    tags=("llm", "similarity", "topk"),
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    cent = _ivf_centroids(emb)
    assign = _ivf_assign(emb, cent)
    assigned = (
        emb.join(assign, "vec_id")
        .select("vec_id", "embedding", "cell_id")
        .localCheckpoint(eager=True)  # reused by queries + cell search
    )
    # queries probe their 2 best cells
    queries = assigned.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    q_cells = (
        queries.crossJoin(F.broadcast(cent))
        .select(
            "query_id", "q_emb", "cell_id",
            cosine(F.col("q_emb"), F.col("c_emb")).alias("c_sim"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("c_sim").desc(), "cell_id"
                )
            ),
        )
        .filter(F.col("rn") <= 2)
        .select("query_id", "q_emb", "cell_id")
    )
    # search only within probed cells (equi-join on cell_id!)
    cand = q_cells.join(assigned, "cell_id").filter(
        F.col("vec_id") != F.col("query_id")
    )
    sim = F.round(cosine(F.col("q_emb"), F.col("embedding")), 6)
    return _top5_by_cosine(
        cand.select(
            "query_id", F.col("vec_id").alias("neighbor_id"),
            sim.alias("cos_sim"),
        )
    )


# ------------------------------------------------------------- multimodal

_MEDIA_SCHEMA = (
    "doc_id bigint, n_bytes bigint, width bigint, height bigint, "
    "checksum string"
)


def _decode_media(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """'Decode' a binary media column batch-wise.

    STUB: a real deployment calls PIL/ffmpeg here (not in this
    container); the deterministic stand-in derives features from the
    bytes so the full Spark plumbing — binary column, Arrow batch
    transfer, schema contract, partition parallelism — is real and
    oracle-checkable.
    """
    for pdf in batches:
        payloads = [bytes(b) for b in pdf["media"]]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": [len(b) for b in payloads],
                "width": [len(b) % 640 for b in payloads],
                "height": [len(b) % 480 for b in payloads],
                "checksum": [hashlib.md5(b).hexdigest() for b in payloads],
            }
        )


@register(
    "multimodal_decode",
    oracle="""
    SELECT doc_id,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           CAST(strlen(text) % 640 AS BIGINT) AS width,
           CAST(strlen(text) % 480 AS BIGINT) AS height,
           md5(text) AS checksum
    FROM documents
    """,
    doc="Multimodal column plumbing: text bytes stand in for image "
    "payloads (binary column + typed metadata), decoded via a "
    "mapInPandas Arrow-batched UDF — the real 100 TB pattern for "
    "image/audio feature extraction; the decode itself is a "
    "deterministic stub (no media libs in this container).",
    tags=("llm", "multimodal"),
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("media")
    )
    return docs.mapInPandas(_decode_media, _MEDIA_SCHEMA)


_FRAME_COUNT = 4
_FRAME_SCHEMA = (
    "doc_id bigint, frame_idx bigint, frame_offset bigint, "
    "frame_bytes bigint, frame_checksum string"
)


def _sample_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Uniform-stride frame sampling over an opaque media payload.

    STUB decode (no ffmpeg in this container): the payload is treated
    as N equal 'frames' of bytes; a real deployment swaps the slicing
    loop for keyframe extraction. The Spark contract — binary in, one
    row PER FRAME out (1→many via mapInPandas), deterministic offsets,
    Arrow batching — is the real 100 TB video-pipeline shape.
    """
    rows: dict[str, list] = {
        "doc_id": [], "frame_idx": [], "frame_offset": [],
        "frame_bytes": [], "frame_checksum": [],
    }
    for pdf in batches:
        for doc_id, buf in zip(pdf["doc_id"], pdf["media"]):
            data = bytes(buf)
            chunk = len(data) // _FRAME_COUNT
            if chunk == 0:
                continue
            for k in range(_FRAME_COUNT):
                piece = data[k * chunk : (k + 1) * chunk]
                rows["doc_id"].append(doc_id)
                rows["frame_idx"].append(k)
                rows["frame_offset"].append(k * chunk)
                rows["frame_bytes"].append(chunk)
                rows["frame_checksum"].append(hashlib.md5(piece).hexdigest())
        yield pd.DataFrame(rows)
        rows = {k: [] for k in rows}


@register(
    "multimodal_frame_sample",
    oracle=f"""
    SELECT doc_id,
           CAST(k AS BIGINT) AS frame_idx,
           CAST(k * chunk AS BIGINT) AS frame_offset,
           CAST(chunk AS BIGINT) AS frame_bytes,
           md5(substr(text, k * chunk + 1, chunk)) AS frame_checksum
    FROM (SELECT doc_id, text, strlen(text) // {_FRAME_COUNT} AS chunk
          FROM documents)
    CROSS JOIN generate_series(0, {_FRAME_COUNT - 1}) g(k)
    WHERE chunk > 0
    """,
    doc=f"Video-style frame sampling: each media payload explodes into "
    f"{_FRAME_COUNT} uniformly-strided frames (one row per frame) via "
    "mapInPandas — the 1→many decode shape for video/audio corpora; "
    "deterministic byte-slice stub in place of ffmpeg, real schema / "
    "offsets / Arrow batching.",
    tags=("llm", "multimodal"),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("media")
    )
    return _spread(docs).mapInPandas(
        _sample_frames, _FRAME_SCHEMA
    )


@register(
    "quality_filter",
    oracle=f"""
    SELECT doc_id,
           CAST(len(toks) >= 50 AND strlen(text) < 8000
                AND ({stopword_hits_sql('toks')} * 1.0 / len(toks)) >= 0.05
                AS BOOLEAN) AS keep,
           CAST(len(toks) < 50 AS BOOLEAN) AS too_short,
           CAST(strlen(text) >= 8000 AS BOOLEAN) AS too_long,
           CAST(({stopword_hits_sql('toks')} * 1.0 / len(toks)) < 0.05
                AS BOOLEAN) AS low_stopword
    FROM ({_TOK_CTE})
    JOIN documents USING (doc_id)
    """,
    doc="C4-style corpus quality gate: keep/drop verdict plus the "
    "per-rule flags that explain it (min tokens, max bytes, stopword "
    "floor) — the audit-friendly shape for training-data filtering "
    "(flags let you measure each rule's kill rate in one pass). Pure "
    "map-side: no shuffle at any scale.",
    tags=("llm", "text"),
)
def quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n = F.size(toks)
    sw_ratio = stopword_hits(toks) * F.lit(1.0) / n
    too_short = n < 50
    too_long = F.octet_length("text") >= 8000
    low_sw = sw_ratio < 0.05
    return docs.select(
        "doc_id",
        (~too_short & ~too_long & ~low_sw).alias("keep"),
        too_short.alias("too_short"),
        too_long.alias("too_long"),
        low_sw.alias("low_stopword"),
    )


@register(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_LSH_PAIRS_ORACLE}),
    edges AS (
        SELECT a_id AS src, b_id AS dst FROM pairs
        UNION ALL
        SELECT b_id, a_id FROM pairs
    ),
    nodes AS (SELECT doc_id FROM documents),
    reach AS (
        SELECT doc_id AS src, doc_id AS dst FROM nodes
        UNION
        SELECT r.src, e.dst
        FROM reach r JOIN edges e ON e.src = r.dst
    )
    SELECT src AS doc_id,
           min(dst) AS cluster_id,
           CAST(src = min(dst) AS BOOLEAN) AS is_canonical
    FROM reach
    GROUP BY src
    """,
    doc="Near-dup CLUSTERING (the step after pair generation): connected "
    "components over the LSH pair graph via iterative min-label "
    "propagation — each round, every node takes the min label among "
    "itself and its neighbors; converges in ≤ component-diameter "
    "rounds (near-dup clusters are shallow, so 2-4 in practice; a "
    "100 TB corpus with adversarial chains would swap in the "
    "alternating small-star/large-star algorithm, same join shape, "
    "O(log n) rounds). cluster_id = min doc_id in the component; "
    "is_canonical marks the row to KEEP — the actual dedup decision. "
    "The oracle is a recursive-CTE transitive closure.",
    tags=("llm", "dedup", "iterative"),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = minhash_lsh_pairs(spark, sf_dir).select("a_id", "b_id")
    edges = (
        pairs.selectExpr("a_id AS src", "b_id AS dst")
        .unionByName(pairs.selectExpr("b_id AS src", "a_id AS dst"))
        .localCheckpoint(eager=True)  # reused every round
    )
    docs = load(spark, sf_dir, "documents").select(
        F.col("doc_id"), F.col("doc_id").alias("cluster_id")
    )

    # Each propagation round carries the node's incoming label ("old")
    # through the union: exactly one union row per doc_id has old
    # non-null (its own label row — one per node by construction), so
    # max(old) recovers it and the convergence check becomes a
    # short-circuit filter over the checkpointed output. That replaces
    # the r10 full DECIMAL(38,0) scalar aggregate per round (plus one
    # upfront), whose cost showed as a +25% extended-record regression:
    # take(1) scans partitions incrementally, so every NON-final round
    # ends after the first non-empty partition, and only the final
    # (converged) round pays one full scan of the doc-count-sized
    # table. min/max over exact integers — order-independent, output
    # identical. An empty corpus yields an empty label table and
    # _changed() == False — no None-vs-None sentinel comparison
    # (the r10 form's silent-break shape on zero docs).
    def _propagate(base: DataFrame, neighbor: DataFrame) -> DataFrame:
        return (
            base.select(
                "doc_id", "cluster_id", F.col("cluster_id").alias("old")
            )
            .unionByName(
                neighbor.select(
                    "doc_id",
                    "cluster_id",
                    F.lit(None).cast("long").alias("old"),
                )
            )
            .groupBy("doc_id")
            .agg(
                F.min("cluster_id").alias("cluster_id"),
                F.max("old").alias("old"),
            )
            .localCheckpoint(eager=True)  # truncate plan lineage per round
        )

    def _changed(lab: DataFrame) -> bool:
        # monotone non-increasing labels: changed ⇔ some label strictly
        # decreased this round
        return bool(lab.filter(F.col("cluster_id") < F.col("old")).take(1))

    # Round 1 unrolled: against identity labels the neighbor table IS
    # the reversed edge table — no join and no label broadcast build.
    first_neighbor = edges.select(
        F.col("dst").alias("doc_id"), F.col("src").alias("cluster_id")
    )
    labels = _propagate(docs, first_neighbor)
    if _changed(labels):
        for _round in range(19):
            neighbor = (
                edges.join(labels, edges.src == labels.doc_id)
                .select(F.col("dst").alias("doc_id"), "cluster_id")
            )
            labels = _propagate(
                labels.select("doc_id", "cluster_id"), neighbor
            )
            if not _changed(labels):
                break
    return labels.select(
        "doc_id",
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
    )


@register(
    "embedding_quantize_int8",
    oracle="""
    SELECT vec_id, amax,
           array_to_string(list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 127.0
                          / CAST(amax AS DOUBLE)) AS BIGINT)), ',') AS codes
    FROM (SELECT vec_id, embedding,
                 list_max(list_transform(embedding, x -> abs(x))) AS amax
          FROM embeddings)
    WHERE amax > 0
    """,
    doc="Scalar int8 quantization (symmetric, per-vector max-abs "
    "scale): 4× smaller vectors for the ANN candidate stage — at "
    "100 TB the index reads int8 codes and only re-scores survivors "
    "against float32. Pure map-side higher-order functions (no "
    "shuffle, no UDF). Both engines CAST the float32 element AND the "
    "float32 amax to DOUBLE before x·127/amax — without it DuckDB "
    "evaluates the product in float32 while Spark promotes to double, "
    "and a code straddles the rounding boundary (±1 divergences on 5 "
    "of 20k vectors, first surfaced by the sf1 scale rehearsal; the "
    "same float32 gotcha as the round(x*k) rule in CLAUDE.md).",
    tags=("llm", "similarity"),
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    amax = F.array_max(F.transform("embedding", lambda x: F.abs(x)))
    with_amax = emb.select("vec_id", "embedding", amax.alias("amax")).filter(
        F.col("amax") > 0
    )
    codes = F.transform(
        "embedding",
        lambda x: F.round(
            x.cast("double") * 127.0 / F.col("amax").cast("double")
        ).cast("bigint"),
    )
    return with_amax.select(
        "vec_id",
        "amax",
        F.concat_ws(",", codes.cast("array<string>")).alias("codes"),
    )


_SH_BANDS = 4          # 4 bands × 8 bits over a 32-bit pair fingerprint
#: measured JVM-join/Arrow-kernel crossover for the banded pair verify
#: (sf10 rehearsal): below, the runtime-broadcast codegen join wins;
#: above, Sigma(bucket^2) candidates drown any JVM per-candidate path
_SH_KERNEL_MIN_DOCS = 120_000
_SH_BAND_MOD = 256     # 8-bit bands
_SH_PAIR_BITS = 32     # wider than the 16-bit fingerprint query: pair
#                        search needs discrimination (at 16 bits ~14% of
#                        RANDOM pairs pass Hamming ≤ 3 on this corpus —
#                        quadratic output; at 32 bits random pass rate
#                        is ~1e-6 and only true near-dups survive)
_HAMMING_MAX = 3       # bands > threshold ⇒ guaranteed recall (pigeonhole)


def _simhash_fp_cte() -> str:
    from ..functions.text import simhash_sql

    sums, fp = simhash_sql("token", "cnt", _SH_PAIR_BITS)
    return f"""
        SELECT doc_id, {fp} AS simhash
        FROM (SELECT doc_id, {sums}
              FROM (SELECT doc_id, token, count(*) AS cnt
                    FROM (SELECT doc_id, unnest(toks) AS token
                          FROM ({_TOK_CTE}))
                    GROUP BY 1, 2)
              GROUP BY doc_id)
    """


_SH_CAND_SQL = " UNION ".join(
    f"""SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               a.simhash AS ha, b.simhash AS hb
        FROM fp a JOIN fp b
          ON (a.simhash // {_SH_BAND_MOD ** k}) % {_SH_BAND_MOD}
             = (b.simhash // {_SH_BAND_MOD ** k}) % {_SH_BAND_MOD}
         AND a.doc_id < b.doc_id"""
    for k in range(_SH_BANDS)
)


@register(
    "simhash_hamming_pairs",
    oracle=f"""
    WITH fp AS ({_simhash_fp_cte()}),
    cand AS ({_SH_CAND_SQL})
    SELECT a_id, b_id, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(ha, hb)) <= {_HAMMING_MAX}
    """,
    doc=f"SimHash near-dup PAIRS: band a {_SH_PAIR_BITS}-bit fingerprint "
    f"into {_SH_BANDS} 8-bit chunks, collide per band (pigeonhole: any pair "
    f"at Hamming ≤ {_HAMMING_MAX} shares ≥1 of {_SH_BANDS} bands — exact "
    "recall, no all-pairs scan), then filter candidates by popcount of "
    "the XOR — pure integer ops, identical in every engine. The "
    "constant-size cousin of MinHash-LSH: one machine word per doc "
    "instead of K hashes. The candidate verify runs as a chunk-pair "
    "Arrow kernel (the embedding_near_dup_lsh architecture): this "
    "corpus' fingerprints concentrate (word salad from one unigram "
    "distribution), so band buckets are huge — at sf10, 66% of all "
    "docs share ONE band value and Sigma(bucket^2) is 1.54e11 "
    "candidates for 4.5e9 emitted pairs. A join-condition verify "
    "pays ~0.1-10 us per candidate in the JVM (measured 1524 s); "
    "vectorized uint8-LUT popcount over XOR slabs pays ~1 ns, and "
    "the chunk-pair fan-out spreads the hot bucket's quadratic work "
    "over C(C+1)/2 tasks instead of one straggler.",
    tags=("llm", "dedup", "join"),
    shard_key="a_id",
)
def simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import simhash_bit_sums, simhash_from_sums

    docs = load(spark, sf_dir, "documents")
    tok = _spread(docs).select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("token")
    )
    tc = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("cnt"))
    fp = (
        tc.groupBy("doc_id")
        .agg(*simhash_bit_sums(F.col("token"), F.col("cnt"), _SH_PAIR_BITS))
        .select("doc_id", simhash_from_sums(_SH_PAIR_BITS).alias("simhash"))
        .localCheckpoint(eager=True)
    )

    def band(col, k: int):
        return (col / (_SH_BAND_MOD ** k)).cast("long") % _SH_BAND_MOD

    # ONE band-bucket shuffle of the posexploded (band_idx, band_value)
    # key, with the whole candidate verify inside an Arrow kernel. The
    # corpus' fingerprints concentrate (same unigram source), so band
    # buckets are HUGE and candidates ~ Sigma(bucket^2): at sf10, 907
    # buckets hold 500k docs, the hottest holds 330k (66% of the
    # corpus), and candidates are 1.54e11 for 4.5e9 emitted pairs.
    # Every JVM-side join formulation pays 0.1-10 us per CANDIDATE
    # (codegen'd broadcast probe ... interpreted join condition) —
    # measured 1524 s at sf10. The +/-1-bit sgemm pays ~2-10 ns; the
    # first-shared-band dedup (emit each pair only where no earlier
    # band also collides — byte_j(xor) == 0 iff band j collides) runs
    # on the output-sized survivors.
    bands = F.array(
        *[band(F.col("simhash"), k) for k in range(_SH_BANDS)]
    )
    # Strategy gate, measured at the sf10 rehearsal (see PROGRESS):
    # below the gate the band table runtime-broadcasts and the codegen
    # JVM join wins outright (sf0.1: join 1.75 s vs kernel 4.0 s; sf1/
    # 50k docs: 5.7 vs 8.6); above it candidates ~ Sigma(bucket^2)
    # explode past what any JVM per-candidate evaluation sustains
    # (sf10/500k docs: join 1524 s vs kernel 181 s). Same size-gating
    # discipline as _TRI_BCAST_MAX_NODES; both branches are
    # value-hash-identical to the oracle.
    n_docs = fp.count()
    if n_docs < _SH_KERNEL_MIN_DOCS:
        e0 = fp.select(
            "doc_id", "simhash", F.posexplode(bands).alias("bk", "bv")
        )
        width = shuffle_width(spark)
        # probe side pre-widened: the fingerprint aggregate's output is
        # tiny, so AQE would coalesce the probe of the runtime-broadcast
        # join down to 1-3 tasks that must then produce the quadratic
        # pair output (round-robin is not AQE-coalescable)
        a = e0.repartition(width).select(
            F.col("doc_id").alias("a_id"), F.col("simhash").alias("ha"),
            F.col("bk").alias("abk"), F.col("bv").alias("abv"),
        )
        b = e0.select(
            F.col("doc_id").alias("b_id"), F.col("simhash").alias("hb"),
            F.col("bk").alias("bbk"), F.col("bv").alias("bbv"),
        )
        # whole verify chain in the join condition, cheapest kill first;
        # band_j(ha) == band_j(hb) iff byte_j(ha XOR hb) == 0, so the
        # first-shared-band dedup is integer shift/mask tests (share-
        # free: Catalyst does no CSE inside join conditions)
        xr = F.col("ha").bitwiseXOR(F.col("hb"))
        no_earlier = F.lit(True)
        for j in range(_SH_BANDS - 1):
            byte_j = F.shiftright(xr, 8 * j).bitwiseAND(F.lit(255))
            no_earlier = no_earlier & (
                (F.col("abk") <= j) | (byte_j != 0)
            )
        cond = (
            (F.col("a_id") < F.col("b_id"))
            & (F.bit_count(xr) <= _HAMMING_MAX)
            & no_earlier
        )
        hamming = F.bit_count(F.expr("ha ^ hb")).cast("bigint")
        return (
            a.join(
                b,
                (F.col("abk") == F.col("bbk"))
                & (F.col("abv") == F.col("bbv"))
                & cond,
            )
            .select("a_id", "b_id", hamming.alias("hamming"))
        )

    # chunk-pair fan-out (the embedding_near_dup_lsh pattern): rows
    # hash into C chunks; each (bk, bv) bucket becomes C(C+1)/2 chunk-
    # pair groups so the hot bucket's quadratic work spreads over many
    # tasks instead of one straggler, and per-task pair emission stays
    # bounded.
    n_chunks = int(min(16, max(1, n_docs // 12_000)))
    chunk_pairs = spark.createDataFrame(
        [(a, b) for a in range(n_chunks) for b in range(a, n_chunks)],
        "ca int, cb int",
    )
    e = (
        fp.select(
            "doc_id", "simhash", F.posexplode(bands).alias("bk", "bv")
        )
        .withColumn(
            "c", F.pmod(F.xxhash64("doc_id"), F.lit(n_chunks)).cast("int")
        )
        .crossJoin(F.broadcast(chunk_pairs))
        .filter((F.col("ca") == F.col("c")) | (F.col("cb") == F.col("c")))
    )

    hamming_max = _HAMMING_MAX

    def ham_block(tbl):
        import numpy as np
        import pyarrow as pa

        empty = pa.table(
            {
                "a_id": pa.array([], type=pa.int64()),
                "b_id": pa.array([], type=pa.int64()),
                "hamming": pa.array([], type=pa.int64()),
            }
        )
        if tbl.num_rows < 2:
            return empty
        bk = int(tbl.column("bk")[0].as_py())
        ca = int(tbl.column("ca")[0].as_py())
        cb = int(tbl.column("cb")[0].as_py())
        chunks = tbl.column("c").to_numpy().astype(np.int64)
        ids = tbl.column("doc_id").to_numpy().astype(np.int64)
        hs = tbl.column("simhash").to_numpy().astype(np.int64)  # < 2^32
        ia = np.nonzero(chunks == ca)[0]
        ib = ia if cb == ca else np.nonzero(chunks == cb)[0]
        if len(ia) == 0 or len(ib) == 0:
            return empty
        # +/-1 bit matrix: dot(u, v) = 32 - 2*hamming, so the whole
        # Hamming test is one float32 sgemm (the fuzzy_name_pairs
        # thermometer-GEMM lesson; a uint8-LUT popcount over XOR slabs
        # measured 118 ns/candidate — gather+tiny-axis reduction is
        # cache-hostile — vs ~11 ns for the sgemm). Values are small
        # integers, exact in float32, so the threshold is exact too.
        bits = (
            (hs[:, None] >> np.arange(32, dtype=np.int64)[None, :]) & 1
        ).astype(np.float32)
        x_pm = bits * 2.0 - 1.0
        thresh = float(32 - 2 * hamming_max)
        hb, idb = hs[ib], ids[ib]
        xb = x_pm[ib]
        out_a, out_b, out_h = [], [], []
        # slab the GEMM so scratch stays ~32 MB (slabs are step x |B|,
        # never |A| x |B| — the chunk x n rule from CLAUDE.md)
        step = max(1, (1 << 23) // max(1, len(ib)))
        for s0 in range(0, len(ia), step):
            sl = ia[s0:s0 + step]
            dot = x_pm[sl] @ xb.T
            keep = dot >= thresh
            if ca == cb:
                # diagonal group: strict id order dedups (u,v)/(v,u)
                keep &= ids[sl][:, None] < idb[None, :]
            rr, cc = np.nonzero(keep)
            if rr.size:
                # survivors are output-sized — the exact integer XOR
                # runs on vectors, never on slabs
                xa = hs[sl][rr] ^ hb[cc]
                m = np.ones(len(rr), dtype=bool)
                for j in range(bk):
                    # an earlier shared band owns the canonical pair
                    m &= (xa & (0xFF << (8 * j))) != 0
                if not m.any():
                    continue
                rr, cc, xa = rr[m], cc[m], xa[m]
                ra, rb = ids[sl][rr], idb[cc]
                # cross-chunk groups see each unordered pair once, in
                # arbitrary id order — canonicalize
                out_a.append(np.minimum(ra, rb))
                out_b.append(np.maximum(ra, rb))
                out_h.append(
                    ((32.0 - dot[rr, cc]) / 2.0).astype(np.int64)
                )
        if not out_a:
            return empty
        # per-slab chunks, aligned across columns: the serializer ships
        # them as slab-sized record batches — no 10k-row re-slicing
        return pa.table(
            {
                "a_id": pa.chunked_array(out_a),
                "b_id": pa.chunked_array(out_b),
                "hamming": pa.chunked_array(out_h),
            }
        )

    # applyInArrow, not applyInPandas: the output is pair-SCALE (4.5e9
    # rows at sf10), and the pandas path re-slices every group's
    # emission into maxRecordsPerBatch-row batches with per-batch
    # conversion overhead — measured 5+ us/row end to end. Arrow-native
    # output ships the kernel's numpy arrays zero-copy in slab-sized
    # batches.
    return e.groupBy("bk", "bv", "ca", "cb").applyInArrow(
        ham_block, "a_id long, b_id long, hamming long"
    )


@register(
    "stratified_sample",
    oracle="""
    SELECT lang, CAST(count(*) AS BIGINT) AS n_sampled,
           CAST(min(doc_id) AS BIGINT) AS min_id
    FROM documents
    WHERE (doc_id * 2654435761) % 100 < 10
    GROUP BY lang
    """,
    doc="Deterministic hash sampling (Knuth multiplicative): keep ~10% "
    "per stratum via (id·φ⁻¹-prime) mod 100 — reproducible across "
    "runs, engines, and retries, unlike rand()-based sample(); the "
    "training-data curation primitive (fixed eval slices, ablation "
    "subsets). Pure integer math, no shuffle before the rollup.",
    tags=("llm", "sampling"),
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    keep = (F.col("doc_id") * F.lit(2654435761)) % 100 < 10
    return (
        docs.filter(keep)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.min("doc_id").alias("min_id"),
        )
    )


_CHUNK_LEN = 64


@register(
    "sequence_chunking",
    oracle=f"""
    SELECT doc_id,
           CAST(c - 1 AS BIGINT) AS chunk_idx,
           CAST(least(len(toks) - (c - 1) * {_CHUNK_LEN}, {_CHUNK_LEN})
                AS BIGINT) AS n_tokens,
           md5(array_to_string(
               toks[(c - 1) * {_CHUNK_LEN} + 1 : c * {_CHUNK_LEN}], ' '))
               AS chunk_hash
    FROM (SELECT doc_id, toks,
                 unnest(generate_series(
                     1, CAST(ceil(len(toks) / {_CHUNK_LEN}.0) AS BIGINT)))
                     AS c
          FROM ({_TOK_CTE})
          WHERE len(toks) > 0)
    """,
    doc=f"Context-window chunking: each doc's token stream splits into "
    f"{_CHUNK_LEN}-token training sequences (last chunk ragged) — the "
    "doc→sample explosion every pretraining/RAG pipeline runs. Pure "
    "higher-order array ops (sequence→transform→slice), map-side "
    "only; chunk content is hash-fingerprinted so the oracle compares "
    "payloads without shipping them.",
    tags=("llm", "text"),
)
def sequence_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n = F.size(toks)
    with_toks = docs.select("doc_id", toks.alias("toks")).filter(n > 0)
    n_chunks = F.ceil(F.size("toks") / F.lit(float(_CHUNK_LEN))).cast("int")
    chunks = with_toks.select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(1), n_chunks)).alias("c"),
    )
    start = (F.col("c") - 1) * _CHUNK_LEN
    piece = F.slice(F.col("toks"), start + 1, _CHUNK_LEN)
    return chunks.select(
        "doc_id",
        (F.col("c") - 1).cast("bigint").alias("chunk_idx"),
        F.size(piece).cast("bigint").alias("n_tokens"),
        F.md5(F.concat_ws(" ", piece)).alias("chunk_hash"),
    )


_PACK_CAP = 128  # tokens per packed training sequence


@register(
    "sequence_packing",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang, len({tokens_sql('text')}) AS n
        FROM documents WHERE len({tokens_sql('text')}) > 0
    ),
    c AS (
        SELECT doc_id, lang, n,
               CAST(sum(n) OVER (PARTITION BY lang ORDER BY doc_id)
                    AS BIGINT) AS e
        FROM t
    ),
    s AS (SELECT doc_id, lang, n, e - n AS st, e FROM c)
    SELECT lang, CAST(b AS BIGINT) AS bin_id, doc_id,
           CAST(least(e, (b + 1) * {_PACK_CAP})
                - greatest(st, b * {_PACK_CAP}) AS BIGINT) AS n_tokens,
           (st // {_PACK_CAP}) <> ((e - 1) // {_PACK_CAP}) AS is_split
    FROM (SELECT *, unnest(generate_series(
              st // {_PACK_CAP}, (e - 1) // {_PACK_CAP})) AS b
          FROM s)
    """,
    doc=f"Training-sequence PACKING (concat-and-chunk, the GPT-style "
    f"pretraining default): per language stream, docs concatenate in "
    f"doc_id order and the token stream is cut every {_PACK_CAP} "
    "tokens; emits one row per (bin, contributing doc) with the token "
    "count it contributes and whether the doc straddles a bin "
    "boundary. All integer window arithmetic: running token cumsum -> "
    "[start, end) span -> generate_series over the covered bins. "
    "Partitioned by lang so the window parallelizes across streams; "
    "at 100 TB the packing stream key becomes (lang, shard) so no "
    "single stream's sort exceeds a task — bin ids then offset by a "
    "per-shard base, identical arithmetic. Complements "
    "sequence_chunking (per-doc split, no cross-doc packing).",
    tags=("llm", "text", "window"),
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(load(spark, sf_dir, "documents"))
    n = F.size(tokens(F.col("text")))
    t = docs.select("doc_id", "lang", n.alias("n")).filter(F.col("n") > 0)
    w = Window.partitionBy("lang").orderBy("doc_id")
    s = t.select(
        "doc_id", "lang", "n",
        (F.sum("n").over(w)).alias("e"),
    ).withColumn("st", F.col("e") - F.col("n"))
    exploded = s.select(
        "lang", "doc_id", "st", "e",
        F.explode(
            F.sequence(
                F.expr(f"st div {_PACK_CAP}"),
                F.expr(f"(e - 1) div {_PACK_CAP}"),
            )
        ).alias("b"),
    )
    return exploded.select(
        "lang",
        F.col("b").cast("bigint").alias("bin_id"),
        "doc_id",
        (
            F.least(F.col("e"), (F.col("b") + 1) * _PACK_CAP)
            - F.greatest(F.col("st"), F.col("b") * _PACK_CAP)
        ).cast("bigint").alias("n_tokens"),
        (
            F.expr(f"st div {_PACK_CAP}") != F.expr(f"(e - 1) div {_PACK_CAP}")
        ).alias("is_split"),
    )


@register(
    "token_rarity_score",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest({tokens_sql('text')}) AS token
        FROM documents WHERE len(trim(text)) > 0
    ),
    vocab AS (
        SELECT token, CAST(count(*) AS BIGINT) AS freq
        FROM tok GROUP BY token
    )
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(CAST(sum(v.freq) AS BIGINT) AS BIGINT) AS sum_freq,
           CAST(CAST(sum(v.freq) AS BIGINT) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS mean_token_freq
    FROM tok t JOIN vocab v ON t.token = v.token
    GROUP BY t.doc_id
    """,
    doc="Doc-level token-familiarity quality score: corpus-wide token "
    "frequencies (one explode + hash agg) joined back onto each "
    "token occurrence; per doc emits exact integer (n_tokens, "
    "sum_freq) and their single-division mean — docs full of corpus-"
    "rare tokens (low mean frequency) are OCR noise / gibberish "
    "candidates, the cheap familiarity signal pretraining filters "
    "run before perplexity models. Integer sums keep it order-"
    "independent (a log-prob sum would be float-order-dependent "
    "across partitionings); the division is one correctly-rounded "
    "IEEE op, identical on both engines. At scale the vocab side is "
    "heavy-hitter skewed — the token join broadcasts the (bounded) "
    "vocab when it fits, else rides a shuffle join.",
    tags=("llm", "text", "quality"),
)
def token_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(load(spark, sf_dir, "documents"))
    tok = docs.filter(F.length(F.trim("text")) > 0).select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("token")
    ).localCheckpoint(eager=True)  # consumed by vocab AND the join back
    vocab = tok.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
    return (
        tok.join(vocab, "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("freq").alias("sum_freq"),
            (
                F.sum("freq").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("mean_token_freq"),
        )
    )


# --------------------------------------------- LSH-bucketed ANN (scale path)

_LSH_BITS = 16         # 16 sign-projection bits per vector
_LSH_BANDS = 4         # 4 bands x 4 bits: candidates share >=1 band
_LSH_BAND_BITS = 4


def _lsh_weight_sql(i_expr: str, k: int) -> str:
    """+-1 hyperplane weight from pure integer hashing of (dim, plane) —
    identical arithmetic in DuckDB and Spark, no RNG state to ship."""
    return (
        f"(CASE WHEN (({i_expr}) * 2654435761 + {(k + 1) * 40503}) "
        f"% 1000003 % 2 = 0 THEN 1 ELSE -1 END)"
    )


def _lsh_sig_sql() -> str:
    """Signature = 16 sign bits of exact-integer projections.

    Components are round(x*1e6) bigints, weights are +-1, so each
    projection sum is exact integer arithmetic — the sign (hence the
    signature, hence the buckets) is order-independent and identical
    across engines, where a float dot product could flip sign in the
    last ulp depending on summation order.
    """
    vint = (
        "list_transform(CAST(embedding AS DOUBLE[]), "
        "x -> CAST(round(x * 1000000) AS BIGINT))"
    )
    bits = " + ".join(
        f"(CASE WHEN list_sum(list_transform({vint}, "
        f"(v, i) -> v * {_lsh_weight_sql('i - 1', k)})) > 0 "
        f"THEN {1 << k} ELSE 0 END)"
        for k in range(_LSH_BITS)
    )
    return bits


def _lsh_signature_col() -> "F.Column":
    """16-bit signature as one composite expression over raw
    ``embedding`` — reference form; prefer :func:`_lsh_sig_table`,
    which hoists the shared integerized vector out of the 16 folds."""
    vint = F.transform(
        "embedding",
        lambda x: F.round(x.cast("double") * 1000000).cast("long"),
    )
    dims = F.sequence(F.lit(0), F.size("embedding") - 1)
    return _lsh_sig_from(vint, dims)


def _lsh_sig_from(vint, dims) -> "F.Column":
    sig = F.lit(0)
    for k in range(_LSH_BITS):

        def w(i, k=k):
            h = (i.cast("long") * 2654435761 + (k + 1) * 40503) % 1000003
            return F.when(h % 2 == 0, F.lit(1)).otherwise(F.lit(-1))

        proj = F.aggregate(
            F.zip_with(vint, dims, lambda v, i: v * w(i)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        sig = sig + F.when(proj > 0, F.lit(1 << k)).otherwise(F.lit(0))
    return sig


def _lsh_sig_table(emb: DataFrame, *, with_embedding: bool) -> DataFrame:
    """(vec_id[, embedding], sig): the integerized vector and the dim
    index sequence are materialized ONCE per row and shared by the 16
    per-bit projection folds — Catalyst does no CSE across the fold
    expressions, so the inline form re-rounds and re-sequences all 64
    elements 16 times (measured 1.07 s -> 0.54 s for the 2000-vector
    signature pass at sf0.1; exact integer sums, so signatures are
    identical). Stays pure map-side: zero shuffle at any scale."""
    cols = ["vec_id", "embedding"] if with_embedding else ["vec_id"]
    vint = F.transform(
        "embedding",
        lambda x: F.round(x.cast("double") * 1000000).cast("long"),
    )
    base = emb.select(
        *cols,
        vint.alias("_vint"),
        F.sequence(F.lit(0), F.size("embedding") - 1).alias("_dims"),
    )
    return base.select(
        *cols, _lsh_sig_from(F.col("_vint"), F.col("_dims")).alias("sig")
    )


@register(
    "ann_lsh_topk",
    oracle=f"""
    WITH sig AS (
        SELECT vec_id, embedding, ({_lsh_sig_sql()}) AS sig
        FROM embeddings
    ),
    bands AS (
        SELECT vec_id, (sig >> ({_LSH_BAND_BITS} * j)) & {
            (1 << _LSH_BAND_BITS) - 1} AS bv, j
        FROM sig, (SELECT unnest(range({_LSH_BANDS})) AS j)
    ),
    cand AS (
        SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
        FROM bands q JOIN bands c ON q.j = c.j AND q.bv = c.bv
        WHERE q.vec_id < 10 AND c.vec_id != q.vec_id
    ),
    scored AS (
        SELECT cand.query_id, cand.neighbor_id,
               round({cosine_sql('qe.embedding', 'ce.embedding')}, 6)
                   AS cos_sim
        FROM cand
        JOIN embeddings qe ON qe.vec_id = cand.query_id
        JOIN embeddings ce ON ce.vec_id = cand.neighbor_id
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rn AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY cos_sim DESC, neighbor_id) AS rn
          FROM scored)
    WHERE rn <= 5
    """,
    doc="Random-hyperplane LSH ANN: 16 sign-projection bits per vector "
    "(exact integer arithmetic — hyperplanes are +-1 weights derived "
    "by hashing (dim, plane), so signatures are reproducible with no "
    "RNG to coordinate), banded 4x4; a candidate is any vector "
    "sharing >=1 band with the query, scored exactly, top-5. The "
    "complement of IVF: no training/centroid pass, pure hashing — "
    "signature+bands are one map-side pass, candidates one equi-join "
    "on (band, value). Fully SQL-expressible, so unlike ann_ivf_topk "
    "this approximate index is hash-checked end-to-end.",
    tags=("llm", "similarity", "topk"),
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    sig = _lsh_sig_table(emb, with_embedding=False)
    j = F.explode(F.sequence(F.lit(0), F.lit(_LSH_BANDS - 1))).alias("j")
    bands = sig.select("vec_id", "sig", j).select(
        "vec_id",
        "j",
        F.expr(
            f"shiftright(sig, {_LSH_BAND_BITS} * j) "
            f"& {(1 << _LSH_BAND_BITS) - 1}"
        ).alias("bv"),
    )
    qbands = bands.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "j", "bv"
    )
    cand = (
        bands.join(F.broadcast(qbands), ["j", "bv"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    qe = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    scored = (
        cand.join(F.broadcast(qe), "query_id")
        .join(emb.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("q_emb"), F.col("embedding")), 6).alias(
                "cos_sim"
            ),
        )
    )
    return _top5_by_cosine(scored)


@register(
    "embedding_near_dup_lsh",
    oracle=f"""
    WITH sig AS (
        SELECT vec_id, embedding, ({_lsh_sig_sql()}) AS sig FROM embeddings
    ),
    bands AS (
        SELECT vec_id, embedding,
               (sig >> ({_LSH_BAND_BITS} * j)) & {
            (1 << _LSH_BAND_BITS) - 1} AS bv, j
        FROM sig, (SELECT unnest(range({_LSH_BANDS})) AS j)
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
        FROM bands a JOIN bands b
          ON a.j = b.j AND a.bv = b.bv AND a.vec_id < b.vec_id
    )
    SELECT a_id, b_id,
           round({cosine_sql('ea.embedding', 'eb.embedding')}, 6) AS cos_sim
    FROM cand
    JOIN embeddings ea ON ea.vec_id = cand.a_id
    JOIN embeddings eb ON eb.vec_id = cand.b_id
    WHERE round({cosine_sql('ea.embedding', 'eb.embedding')}, 6)
          >= {_NEAR_DUP_TAU}
    """,
    doc="APPROXIMATE embedding near-dup pairs — the LSH-candidate scale "
    "path to embedding_near_dup_pairs' exact yardstick: candidate "
    "pairs come from a single (band, value) equi-join over "
    f"{_LSH_BANDS} hyperplane sign-bands (the ann_lsh_topk signature: "
    "exact-integer ±1 projections, reproducible with no RNG), the "
    "embedding rides the band rows so the EXACT cosine verify runs "
    "in the same join — one shuffle, work proportional to candidate "
    "blocks. Candidate volume depends on the threshold regime: at "
    "sim>=0.9 (where real near-dup corpora live) the per-bit "
    "collision probability ~0.9 makes banding selective and "
    "candidates are a vanishing pair fraction; at this corpus's "
    "adversarial tau=0.45 the measured ~0.65/bit collision rate "
    "means roughly half of ALL pairs share a band, so the candidate "
    "set is Theta(n^2) here and the op's scale story is the "
    "threshold, not the banding — state of affairs measured, not "
    "assumed. First-shared-band discipline (as in "
    "minhash_lsh_pairs) emits each pair once with no candidate×band "
    "DISTINCT. Precision is 1.0 by construction (exact verify); "
    "recall is the LSH trade and is MEASURED against the exact op in "
    "tests/test_llm_ops.py::test_near_dup_lsh_precision_and_recall — "
    "on this corpus τ=0.45 sits in the continuous bulk of the cosine "
    "distribution (collision prob 0.648/bit at sim 0.45), the "
    "adversarial regime for LSH; at the sim≥0.9 regime real near-dup "
    "corpora occupy, per-pair recall of this banding is ≥0.93. The "
    "op itself is deterministic, so it hash-checks against the "
    "identical DuckDB banding end-to-end.",
    tags=("llm", "dedup", "similarity"),
    shard_key="a_id",
)
def embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    emb = load(spark, sf_dir, "embeddings")
    sig = _lsh_sig_table(emb, with_embedding=True)
    bands = sig.select(
        "vec_id",
        "embedding",
        "sig",
        F.explode(F.sequence(F.lit(0), F.lit(_LSH_BANDS - 1))).alias("j"),
    ).withColumn(
        "bv",
        F.expr(
            f"shiftright(sig, {_LSH_BAND_BITS} * j) "
            f"& {(1 << _LSH_BAND_BITS) - 1}"
        ),
    )

    # At this corpus's adversarial tau=0.45 the candidate set is
    # Theta(n^2) (documented above), so the verify is a dense
    # n_block^2 x 64 problem — exactly what BLAS is for. Catalyst
    # expression verifies were measured to their floor (round 7,
    # PROGRESS.jsonl): interpreted aggregate-fold 1.2us/pair, unrolled
    # element_at chains 4us/pair WITH whole-stage codegen (and any
    # >=64-term expression inside a join CONDITION knocks the join
    # stage out of codegen entirely). numpy dgemm does the same
    # multiply-adds at >10 GFLOP/s — three orders of magnitude more
    # per-pair throughput — so the band-block verify runs as an
    # Arrow-batched applyInPandas GEMM PREFILTER (margin 2e-6 covers
    # the pairwise-vs-sequential float64 summation difference, bounded
    # by d*eps ~ 1.4e-14), and the survivors (output-sized, not
    # candidate-sized) get the EXACT sequential-fold cosine in Spark
    # expressions — bit-identical to the DuckDB oracle, so precision
    # stays 1.0 and the value hash is unchanged. Data through Arrow is
    # n x BANDS band rows (linear), never candidates. The first-shared-
    # band discipline (emit each pair in its lowest shared band only)
    # runs vectorized inside the kernel on the signature ints. The
    # groupBy(j, bv) shuffle spreads blocks across the cluster; the
    # largest single block is the residual straggler bound (~18% of n
    # at 0.65/bit collision), chunked internally to cap memory at
    # ~32 MB per GEMM slab.
    # margin over the float32 sgemm prefilter: |cos32 - cos64| is
    # bounded by ~d*eps32 ~= 4e-6 for 64-dim unit vectors (plus the
    # 6-decimal oracle rounding granularity of 5e-7); 1e-4 is 25x
    # that bound and still admits only ~0.5% extra candidates at the
    # corpus's cosine density around tau
    tau_margin = float(_NEAR_DUP_TAU) - 1e-4
    band_bits, n_bands = _LSH_BAND_BITS, _LSH_BANDS
    bmask = (1 << band_bits) - 1

    # Chunk-pair parallelism: the largest band block holds ~18% of all
    # vectors (0.65/bit collision at tau=0.45), and a one-group-per-
    # block shuffle would run that block's entire GEMM as ONE task —
    # the single-straggler pattern this repo keeps re-finding (fuzzy
    # round 3, this query round 6). Rows are hashed into _GEMM_CHUNKS
    # chunks and every (j, bv) block fans out into chunk-PAIR groups
    # (ca <= cb); a row joins every pair group containing its chunk,
    # so each unordered candidate pair meets in exactly one group and
    # the big block's n^2 work spreads over C(C+1)/2 tasks. Arrow
    # volume grows by (C+1)/2 x — linear in n, still never candidates.
    # size-gated: below ~50k vectors the largest block's GEMM is
    # sub-second and the (C+1)/2x Arrow replication is pure overhead
    # (measured 2x at sf1), so chunking engages only at the scale
    # where the straggler actually binds (C=1 degenerates to
    # one (0,0) pair group per block — the unchunked plan).
    _GEMM_CHUNKS = 4 if emb.count() >= 50_000 else 1
    chunk_pairs = spark.createDataFrame(
        [(a, b) for a in range(_GEMM_CHUNKS)
         for b in range(a, _GEMM_CHUNKS)],
        "ca int, cb int",
    )
    bands = bands.withColumn(
        "c", F.pmod(F.xxhash64("vec_id"), F.lit(_GEMM_CHUNKS)).cast("int")
    ).crossJoin(F.broadcast(chunk_pairs)).filter(
        (F.col("ca") == F.col("c")) | (F.col("cb") == F.col("c"))
    )

    def gemm_block(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        empty = pd.DataFrame(
            {
                "a_id": np.array([], dtype=np.int64),
                "b_id": np.array([], dtype=np.int64),
            }
        )
        if len(pdf) < 2:
            return empty
        j = int(pdf["j"].iloc[0])
        ca, cb = int(pdf["ca"].iloc[0]), int(pdf["cb"].iloc[0])
        chunks = pdf["c"].to_numpy(dtype=np.int64)
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        sigs = pdf["sig"].to_numpy(dtype=np.int64)
        # float32 sgemm: 2x the float64 throughput; the widened margin
        # below covers the float32 rounding (|cos32 - cos64| < ~1e-5
        # for 64-dim unit vectors), and membership is decided by the
        # EXACT float64 re-verify downstream either way.
        x = np.stack(pdf["embedding"].to_numpy()).astype(np.float32)
        nrm = np.sqrt((x * x).sum(axis=1))
        ia = np.nonzero(chunks == ca)[0]
        ib = np.nonzero(chunks == cb)[0] if cb != ca else ia
        if len(ia) == 0 or len(ib) == 0:
            return empty
        xb, nb, idb = x[ib], nrm[ib], ids[ib]
        bvs_a = [(sigs[ia] >> (band_bits * jj)) & bmask
                 for jj in range(j)]
        bvs_b = [(sigs[ib] >> (band_bits * jj)) & bmask
                 for jj in range(j)]
        out_a: "list[np.ndarray]" = []
        out_b: "list[np.ndarray]" = []
        # slab the GEMM so scratch stays ~32 MB (masks are slab x |B|,
        # never |A| x |B|)
        step = max(1, (1 << 23) // max(1, len(ib)))
        for s0 in range(0, len(ia), step):
            sl = ia[s0:s0 + step]
            cosm = (x[sl] @ xb.T) / np.outer(nrm[sl], nb)
            keep = cosm >= tau_margin
            if ca == cb:
                # diagonal group: strict id order dedups (u,v)/(v,u)
                keep &= ids[sl][:, None] < idb[None, :]
            for bva, bvb in zip(bvs_a, bvs_b):
                keep &= bva[s0:s0 + step][:, None] != bvb[None, :]
            rr, cc = np.nonzero(keep)
            ra, rb = ids[sl][rr], idb[cc]
            # cross-chunk groups see each unordered pair once (its
            # chunks differ), in arbitrary id order — canonicalize
            out_a.append(np.minimum(ra, rb))
            out_b.append(np.maximum(ra, rb))
        if not out_a:
            return empty
        return pd.DataFrame(
            {
                "a_id": np.concatenate(out_a),
                "b_id": np.concatenate(out_b),
            }
        )

    cand = bands.groupBy("j", "bv", "ca", "cb").applyInPandas(
        gemm_block, "a_id long, b_id long"
    )
    ea = emb.select(F.col("vec_id").alias("a_id"),
                    F.col("embedding").alias("_ea"))
    eb = emb.select(F.col("vec_id").alias("b_id"),
                    F.col("embedding").alias("_eb"))
    return (
        cand.join(ea, "a_id")
        .join(eb, "b_id")
        .select(
            "a_id",
            "b_id",
            F.round(cosine(F.col("_ea"), F.col("_eb")), 6).alias(
                "cos_sim"
            ),
        )
        .filter(F.col("cos_sim") >= _NEAR_DUP_TAU)
    )


# ------------------------------------------------------- TF-IDF / positions

@register(
    "tfidf_top_terms",
    oracle=f"""
    WITH tf AS (
        SELECT doc_id, term, count(*) AS tf
        FROM (SELECT doc_id, unnest(toks) AS term FROM ({_TOK_CTE}))
        WHERE term != ''
        GROUP BY doc_id, term
    ),
    idf AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
           tfidf, CAST(rn AS BIGINT) AS rank
    FROM (SELECT tf.doc_id, tf.term, tf.tf, idf.df,
                 round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / idf.df), 6)
                     AS tfidf,
                 row_number() OVER (
                     PARTITION BY tf.doc_id
                     ORDER BY round(tf.tf * ln(CAST(n.n_docs AS DOUBLE)
                                               / idf.df), 6) DESC, tf.term
                 ) AS rn
          FROM tf, idf, n WHERE tf.term = idf.term)
    WHERE rn <= 3
    """,
    doc="TF-IDF: term frequency per (doc, term), document frequency per "
    "term, idf = ln(N/df), top-3 terms per doc. Two aggregations, one "
    "join — and the document-frequency side is a VOCABULARY-sized "
    "table, so it is broadcast: the big tf table never reshuffles on "
    "the skewed term key (stopwords hit every doc — a term-keyed "
    "shuffle would put 'the' on one reducer). Ranking is on the "
    "ROUNDED score with a term tie-break, so the order is identical "
    "across engines even if ln() differs in the last ulp.",
    tags=("llm", "text", "topk"),
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    n_docs = docs.count()  # tiny scalar, same pattern as high_watermark
    tok = (
        _spread(docs)
        .select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
        .filter(F.col("term") != "")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    idf = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(F.broadcast(idf), "term").select(
        "doc_id",
        "term",
        "tf",
        "df",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "tf", "df", "tfidf", "rank")
    )


@register(
    "token_positions",
    oracle=f"""
    SELECT doc_id, s.term AS term,
           CAST(min(s.pos) AS BIGINT) AS first_pos,
           CAST(count(*) AS BIGINT) AS n_occurrences
    FROM (SELECT doc_id,
                 unnest(list_transform(toks,
                     (t, i) -> struct_pack(term := t, pos := i))) AS s
          FROM ({_TOK_CTE}) WHERE doc_id < 50)
    WHERE s.term != ''
    GROUP BY doc_id, s.term
    """,
    doc="Ordinal explode (posexplode / UNNEST WITH ORDINALITY): token → "
    "(position, term) pairs, then first-occurrence position and count "
    "per (doc, term) — the span-indexing primitive for training-data "
    "extraction (where in the doc a term first appears). posexplode "
    "is map-side (no shuffle until the group-by on doc-local keys); "
    "positions are 1-based to match SQL ordinality.",
    tags=("llm", "text"),
)
def token_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    tok = docs.select(
        "doc_id",
        F.posexplode(tokens(F.col("text"))).alias("pos", "term"),
    ).filter(F.col("term") != "")
    return tok.groupBy("doc_id", "term").agg(
        F.min(F.col("pos") + 1).cast("bigint").alias("first_pos"),
        F.count(F.lit(1)).alias("n_occurrences"),
    )


# -------------------------------------------------- repetition / n-gram LM

@register(
    "repetition_stats",
    oracle=f"""
    WITH tc AS (
        SELECT doc_id, term, count(*) AS c
        FROM (SELECT doc_id, unnest(toks) AS term FROM ({_TOK_CTE}))
        WHERE term != ''
        GROUP BY doc_id, term
    ),
    uni AS (
        SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n_tokens,
               CAST(max(c) AS DOUBLE) / sum(c) AS top_token_frac,
               CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS DOUBLE)
                   / sum(c) AS dup_token_frac,
               CAST(count(*) AS DOUBLE) / sum(c) AS distinct_ratio
        FROM tc GROUP BY doc_id
    ),
    bc AS (
        SELECT doc_id, bg, count(*) AS c
        FROM (SELECT doc_id, unnest({shingles_sql('toks', 2)}) AS bg
              FROM ({_TOK_CTE}))
        GROUP BY doc_id, bg
    ),
    bi AS (
        SELECT doc_id, CAST(max(c) AS DOUBLE) / sum(c) AS top_bigram_frac
        FROM bc GROUP BY doc_id
    )
    SELECT uni.doc_id, n_tokens, top_token_frac, dup_token_frac,
           distinct_ratio, coalesce(bi.top_bigram_frac, 0.0)
               AS top_bigram_frac
    FROM uni LEFT JOIN bi ON uni.doc_id = bi.doc_id
    """,
    doc="Gopher/C4-style repetition quality signals per document: "
    "most-frequent-token fraction, duplicated-token fraction (mass of "
    "terms occurring ≥2×), distinct-token ratio, and top-bigram "
    "fraction — the filters that drop boilerplate/spam from training "
    "corpora. Every fraction is an integer/integer division (exact "
    "long counts → one double divide), so the floats are bit-identical "
    "across engines. Both aggregations are keyed by doc_id, so the "
    "unigram→bigram join is co-partitioned — one shuffle key end to "
    "end, no corpus-sized wide rows.",
    tags=("llm", "text", "quality"),
)
def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(load(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    tc = (
        toks.select("doc_id", F.explode("toks").alias("term"))
        .filter(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    uni = tc.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        (F.max("c").cast("double") / F.sum("c")).alias("top_token_frac"),
        (
            F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(F.lit(0)))
            .cast("double") / F.sum("c")
        ).alias("dup_token_frac"),
        (F.count(F.lit(1)).cast("double") / F.sum("c")).alias(
            "distinct_ratio"
        ),
    )
    bc = (
        toks.select("doc_id", F.explode(shingles(F.col("toks"), 2)).alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bi = bc.groupBy("doc_id").agg(
        (F.max("c").cast("double") / F.sum("c")).alias("top_bigram_frac")
    )
    return uni.join(bi, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        "top_token_frac",
        "dup_token_frac",
        "distinct_ratio",
        F.coalesce("top_bigram_frac", F.lit(0.0)).alias("top_bigram_frac"),
    )


@register(
    "ngram_lm_top20",
    oracle=f"""
    SELECT gram, n_docs, n_occurrences
    FROM (
        SELECT gram, count(DISTINCT doc_id) AS n_docs,
               count(*) AS n_occurrences,
               row_number() OVER (ORDER BY count(*) DESC, gram) AS rn
        FROM (SELECT doc_id, unnest({shingles_sql('toks', 3)}) AS gram
              FROM ({_TOK_CTE}))
        GROUP BY gram)
    WHERE rn <= 20
    """,
    doc="Corpus trigram language-model counts, top-20 — the n-gram "
    "table behind contamination checks and perplexity-ish scoring. "
    "Shingling is map-side (transform over the token array, no "
    "shuffle); partial aggregation collapses repeats before the "
    "gram-keyed shuffle, so shuffle bytes ∝ distinct trigrams. The "
    "final rank is a top-k over the aggregated (small) table with a "
    "total tie-break (count DESC, gram) — deterministic across "
    "engines and partitionings.",
    tags=("llm", "text", "topk"),
)
def ngram_lm_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(load(spark, sf_dir, "documents"))
    grams = docs.select(
        "doc_id",
        F.explode(shingles(tokens(F.col("text")), 3)).alias("gram"),
    )
    return _top20_by_occurrences(grams, "gram")


@register(
    "array_higher_order_stats",
    oracle="""
    SELECT vec_id,
           CAST(len(embedding) AS BIGINT) AS dim,
           CAST(len(list_filter(embedding, e -> e > 0)) AS BIGINT)
               AS n_positive,
           CAST(list_aggregate(list_transform(embedding,
               e -> abs(CAST(round(CAST(e AS DOUBLE) * 1000) AS BIGINT))),
               'sum') AS BIGINT) AS l1_milli,
           list_aggregate(list_transform(embedding,
               e -> CAST(round(CAST(e AS DOUBLE) * 1000) AS BIGINT)),
               'max') AS max_milli,
           len(list_filter(embedding, e -> abs(e) > 0.15)) > 0
               AS has_large_component
    FROM embeddings
    """,
    doc="Higher-order array-function family over the embedding column — "
    "transform / filter / aggregate(fold) / exists — the per-vector "
    "feature path that needs NO explode: one row in, one row out, all "
    "inside whole-stage codegen (no shuffle, no Python). Magnitudes "
    "are integer milli-units (round(e·1000)) so the fold is an exact "
    "long sum, deterministic in any engine; the float lambda "
    "comparisons are per-element IEEE ops on identical inputs.",
    tags=("llm", "vector", "scalar"),
)
def array_higher_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    em = load(spark, sf_dir, "embeddings")
    milli = _milli_vec()
    return em.select(
        "vec_id",
        F.size("embedding").cast("bigint").alias("dim"),
        F.size(F.filter(F.col("embedding"), lambda e: e > 0))
        .cast("bigint")
        .alias("n_positive"),
        F.aggregate(
            milli, F.lit(0).cast("bigint"), lambda acc, x: acc + F.abs(x)
        ).alias("l1_milli"),
        F.array_max(milli).alias("max_milli"),
        F.exists(F.col("embedding"), lambda e: F.abs(e) > 0.15).alias(
            "has_large_component"
        ),
    )


@register(
    "cross_corpus_contamination",
    oracle=f"""
    WITH sh AS ({_SH_CTE}),
    side AS (SELECT doc_id, strlen(source) = 4 AS is_train
             FROM documents),
    tagged AS (SELECT sh.doc_id, sh.sh, side.is_train
               FROM sh JOIN side ON sh.doc_id = side.doc_id),
    train_sh AS (SELECT DISTINCT sh FROM tagged WHERE is_train),
    eval_sh AS (SELECT doc_id, sh FROM tagged WHERE NOT is_train),
    tot AS (SELECT doc_id, count(*) AS n_shingles
            FROM eval_sh GROUP BY doc_id),
    hit AS (SELECT e.doc_id, count(*) AS n_hits
            FROM eval_sh e JOIN train_sh t ON e.sh = t.sh
            GROUP BY e.doc_id)
    SELECT tot.doc_id,
           CAST(tot.n_shingles AS BIGINT) AS n_shingles,
           CAST(coalesce(hit.n_hits, 0) AS BIGINT) AS n_contaminated,
           CAST(coalesce(hit.n_hits, 0) AS DOUBLE) / tot.n_shingles
               AS contamination_rate,
           coalesce(hit.n_hits, 0) * 20 >= tot.n_shingles
               AS flagged_5pct
    FROM tot LEFT JOIN hit ON tot.doc_id = hit.doc_id
    """,
    doc="Train/eval decontamination (the GPT-3/PaLM n-gram overlap "
    "check): corpus split by source, eval docs scored by the fraction "
    "of their distinct 5-gram shingles that appear ANYWHERE in the "
    "train split. The shingle is the blocking key — ONE shuffle of "
    "the tagged shingle table by shingle hash, where a window "
    "bool_or(is_train) marks contaminated shingles in place (no "
    "distinct train set, no equi-join, no broadcast — scales to any "
    "corpus). Per-doc distinctness of shingles keeps hit multiplicity "
    "1, so the hit count is exact; the rate is an integer/integer "
    "divide and the 5% flag an integer compare — no float drift.",
    tags=("llm", "text", "dedup", "join"),
    shard_key="doc_id",
)
def cross_corpus_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _doc_shingles(spark, sf_dir)
    side = load(spark, sf_dir, "documents").select(
        "doc_id", (F.length("source") == 4).alias("is_train")
    )
    # "Does this eval shingle appear anywhere in train?" is a WINDOW
    # max over the shingle partition of the tagged table, not a
    # distinct train set + equi-join + left join back: the tokenize+
    # tag subtree executes ONCE and the whole query is three exchanges
    # (doc spread, shingle window, doc aggregate) with no join after
    # the doc tag attach (r11: plan audit scans 6 → 2, shuffles 6 → 3).
    # bool_or(is_train) over the sh partition is exact — a shingle is
    # contaminated iff ANY row of its partition is a train row — so
    # n_hits keeps multiplicity 1 per distinct eval shingle, exactly
    # what the old DISTINCT train side guaranteed.
    tagged = sh.join(side, "doc_id")
    flagged = tagged.withColumn(
        "in_train",
        F.max(F.col("is_train").cast("int")).over(Window.partitionBy("sh")),
    )
    per_doc = (
        flagged.filter(~F.col("is_train"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum("in_train").alias("n_hits"),
        )
    )
    n_hits = F.col("n_hits")
    return per_doc.select(
        "doc_id",
        "n_shingles",
        n_hits.cast("bigint").alias("n_contaminated"),
        (n_hits.cast("double") / F.col("n_shingles")).alias(
            "contamination_rate"
        ),
        (n_hits * 20 >= F.col("n_shingles")).alias("flagged_5pct"),
    )


@register(
    "vocab_top5_per_lang",
    oracle=f"""
    SELECT lang, token, n_occurrences
    FROM (
        SELECT d.lang, t.token, CAST(count(*) AS BIGINT) AS n_occurrences,
               row_number() OVER (
                   PARTITION BY d.lang
                   ORDER BY count(*) DESC, t.token) AS rn
        FROM (SELECT doc_id, unnest(toks) AS token FROM ({_TOK_CTE})) t
        JOIN documents d ON d.doc_id = t.doc_id
        WHERE t.token != ''
        GROUP BY d.lang, t.token)
    WHERE rn <= 5
    """,
    doc="Per-language vocabulary top-k: token counts keyed by "
    "(lang, token) — partial aggregation collapses the exploded "
    "stream map-side, the per-lang ranking is a windowed group-limit "
    "(pushed down, each language keeps only its running top-5) with a "
    "total tie-break. The per-stratum profile that drives "
    "language-balanced corpus sampling; one shuffle keyed by "
    "(lang, token), one by lang.",
    tags=("llm", "text", "topk"),
)
def vocab_top5_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(load(spark, sf_dir, "documents"))
    tok = (
        docs.select(
            "lang", F.explode(tokens(F.col("text"))).alias("token")
        )
        .filter(F.col("token") != "")
    )
    agg = tok.groupBy("lang", "token").agg(
        F.count(F.lit(1)).alias("n_occurrences")
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("n_occurrences").desc(), "token"
    )
    return (
        agg.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("lang", "token", "n_occurrences")
    )


@register(
    "lsh_precision_recall",
    oracle=f"""
    WITH est AS ({{est}}),
    tru AS ({{tru}})
    SELECT CAST((SELECT count(*) FROM est) AS BIGINT) AS n_estimated,
           CAST((SELECT count(*) FROM tru) AS BIGINT) AS n_true,
           CAST((SELECT count(*) FROM est JOIN tru
                 ON est.a_id = tru.a_id AND est.b_id = tru.b_id)
                AS BIGINT) AS n_both,
           CAST((SELECT count(*) FROM est JOIN tru
                 ON est.a_id = tru.a_id AND est.b_id = tru.b_id)
                AS DOUBLE)
               / (SELECT count(*) FROM est) AS precision,
           CAST((SELECT count(*) FROM est JOIN tru
                 ON est.a_id = tru.a_id AND est.b_id = tru.b_id)
                AS DOUBLE)
               / (SELECT count(*) FROM tru) AS recall
    """,
    doc="Self-evaluation of the approximate dedup stack: the "
    "MinHash-LSH candidate pairs (estimated Jaccard ≥ 0.5) scored "
    "against the exact n-gram Jaccard pairs (true J ≥ 0.5) — "
    "precision and recall as integer-ratio doubles. This is the "
    "query a pipeline owner runs on a sample BEFORE trusting LSH on "
    "the full 100 TB corpus; both operand pipelines are the already-"
    "verified registered queries, composed unchanged (engine "
    "queries compose like relations — the point of a relational "
    "API).",
    tags=("llm", "dedup", "stats"),
)
def lsh_precision_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Each operand is consumed twice (its scalar count + the overlap
    # join); without a checkpoint the WHOLE operand pipeline re-executes
    # per consumer (the no-ReusedExchange gotcha). The materialized
    # tables are pair-count-sized — tiny at any scale.
    est = (
        minhash_lsh_pairs(spark, sf_dir)
        .select("a_id", "b_id")
        .localCheckpoint(eager=True)
    )
    tru = (
        ngram_jaccard_pairs(spark, sf_dir)
        .select("a_id", "b_id")
        .localCheckpoint(eager=True)
    )
    both = est.join(tru, ["a_id", "b_id"])
    n_est = est.agg(F.count(F.lit(1)).alias("n_estimated"))
    n_tru = tru.agg(F.count(F.lit(1)).alias("n_true"))
    n_both = both.agg(F.count(F.lit(1)).alias("n_both"))
    return (
        n_est.crossJoin(n_tru)
        .crossJoin(n_both)
        .select(
            "n_estimated",
            "n_true",
            "n_both",
            (F.col("n_both").cast("double") / F.col("n_estimated")).alias(
                "precision"
            ),
            (F.col("n_both").cast("double") / F.col("n_true")).alias(
                "recall"
            ),
        )
    )


# splice the operand oracles in (they are registered above in this module)
from ..catalog import REGISTRY as _REG  # noqa: E402

_REG["lsh_precision_recall"].oracle = _REG["lsh_precision_recall"].oracle.format(
    est=f"SELECT a_id, b_id FROM ({_LSH_PAIRS_ORACLE})",
    tru=f"SELECT a_id, b_id FROM ({_REG['ngram_jaccard_pairs'].oracle})",
)


@register(
    "dedup_survivorship",
    oracle="""
    __SPLICED_AT_IMPORT__
    """,
    doc="Survivorship after clustering: within each near-dup cluster "
    "keep the HIGHEST-QUALITY member (longest text, doc_id "
    "tie-break) rather than the arbitrary min-id canonical — the "
    "keep-best policy real corpus dedup ships. Composes the verified "
    "dedup_clusters labels with the documents table: one "
    "doc-cardinality join + per-cluster window; survivors are "
    "rank 1.",
    tags=("llm", "dedup", "window"),
)
def dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels = dedup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), "doc_id"
    )
    return (
        labels.join(docs, "doc_id")
        .withColumn("rank_in_cluster", F.row_number().over(w).cast("bigint"))
        .select(
            "doc_id",
            "cluster_id",
            "n_chars",
            "rank_in_cluster",
            (F.col("rank_in_cluster") == 1).alias("is_survivor"),
        )
    )


_REG["dedup_survivorship"].oracle = f"""
    WITH labeled AS ({_REG['dedup_clusters'].oracle})
    SELECT l.doc_id, l.cluster_id, d.n_chars,
           CAST(row_number() OVER (
               PARTITION BY l.cluster_id
               ORDER BY d.n_chars DESC, l.doc_id) AS BIGINT)
               AS rank_in_cluster,
           row_number() OVER (
               PARTITION BY l.cluster_id
               ORDER BY d.n_chars DESC, l.doc_id) = 1 AS is_survivor
    FROM labeled l JOIN documents d ON l.doc_id = d.doc_id
    """


@register(
    "token_entropy",
    oracle=f"""
    WITH tc AS (
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT doc_id, unnest(toks) AS term FROM ({_TOK_CTE}))
        WHERE term != ''
        GROUP BY doc_id, term
    ),
    tot AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM tc
            GROUP BY doc_id)
    SELECT tc.doc_id, tot.n AS n_tokens,
           round(-sum((CAST(c AS DOUBLE) / n)
                      * ln(CAST(c AS DOUBLE) / n)), 6) AS entropy_nats,
           round(-sum((CAST(c AS DOUBLE) / n)
                      * ln(CAST(c AS DOUBLE) / n))
                 / ln(CAST(n AS DOUBLE)), 6) AS normalized_entropy
    FROM tc JOIN tot ON tc.doc_id = tot.doc_id
    GROUP BY tc.doc_id, tot.n
    HAVING tot.n > 1
    """,
    doc="Shannon entropy of each document's token distribution (nats, "
    "plus the max-entropy-normalized form) — the information-density "
    "quality signal: near-zero entropy flags degenerate/repetitive "
    "docs that repetition_stats' discrete fractions can miss. "
    "Probabilities are exact integer ratios; the −Σ p·ln p sum runs "
    "over per-(doc,term) rows keyed by doc_id (co-partitioned with "
    "the count aggregation) and is rounded to 6 dp on both engines "
    "to absorb last-ulp ln() differences.",
    tags=("llm", "text", "stats"),
)
def token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(load(spark, sf_dir, "documents"))
    tc = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = tc.groupBy("doc_id").agg(F.sum("c").alias("n"))
    p = F.col("c").cast("double") / F.col("n")
    ent = -F.sum(p * F.log(p))
    return (
        tc.join(tot, "doc_id")
        .groupBy("doc_id", F.col("n").alias("n_tokens"))
        .agg(
            F.round(ent, 6).alias("entropy_nats"),
            F.round(ent / F.log(F.col("n_tokens").cast("double")), 6).alias(
                "normalized_entropy"
            ),
        )
        .filter(F.col("n_tokens") > 1)
        .select("doc_id", "n_tokens", "entropy_nats", "normalized_entropy")
    )


@register(
    "token_prefix_counts",
    oracle=f"""
    SELECT prefix, CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(count(DISTINCT token) AS BIGINT) AS n_completions
    FROM (
        SELECT token, substr(token, 1, 2) AS prefix
        FROM (SELECT unnest(toks) AS token FROM ({_TOK_CTE}))
        WHERE strlen(token) >= 2
    )
    GROUP BY prefix
    """,
    doc="Token-prefix index (2-char prefixes → occurrence + distinct-"
    "completion counts): the aggregation behind autocomplete "
    "candidate ranking and trie construction. Prefix extraction is "
    "map-side; partial aggregation collapses the exploded stream so "
    "shuffle bytes ∝ distinct prefixes (≤ alphabet², tiny) while the "
    "distinct-completion count shuffles (prefix, token) pairs — "
    "vocabulary-bounded, corpus-size-independent.",
    tags=("llm", "text", "aggregation"),
)
def token_prefix_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(load(spark, sf_dir, "documents"))
    tok = docs.select(
        F.explode(tokens(F.col("text"))).alias("token")
    ).filter(F.length("token") >= 2)
    return (
        tok.select("token", F.substring("token", 1, 2).alias("prefix"))
        .groupBy("prefix")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.count_distinct("token").alias("n_completions"),
        )
    )


@register(
    "containment_pairs",
    oracle=f"""
    WITH sh AS ({_SH_CTE}),
    cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh
            GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               CAST(count(*) AS BIGINT) AS n_common
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT a_id, b_id, n_common,
           CAST(n_common AS DOUBLE) / least(ca.n, cb.n) AS containment
    FROM common
    JOIN cnt ca ON ca.doc_id = a_id
    JOIN cnt cb ON cb.doc_id = b_id
    WHERE CAST(n_common AS DOUBLE) / least(ca.n, cb.n) >= 0.8
    """,
    doc="Containment (overlap coefficient): |A∩B| / min(|A|,|B|) over "
    "distinct 5-gram shingles — the near-dup metric that catches "
    "SUBSET duplication (a doc pasted inside a longer one), which "
    "Jaccard dilutes below threshold as the container grows. Same "
    "shared-shingle blocking join as the Jaccard query (cost ∝ "
    "co-occurring pairs, never n²); sizes broadcast back; the score "
    "is an integer/integer divide.",
    tags=("llm", "dedup", "join"),
)
def containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    common = _shingle_pair_counts(spark, sf_dir)
    containment = F.col("n_common").cast("double") / F.least(
        F.col("na"), F.col("nb")
    )
    return (
        common.select(
            "a_id", "b_id", "n_common",
            containment.alias("containment"),
        )
        .filter(F.col("containment") >= 0.8)
    )


@register(
    "tokenizer_fertility_by_lang",
    oracle=f"""
    WITH per AS (
        SELECT lang,
               len({tokens_sql('text')}) AS nws,
               len(regexp_extract_all(text, '{BPE_RE}')) AS nbpe,
               strlen(text) AS nb
        FROM documents
    ),
    agg AS (
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(nws) AS BIGINT) AS n_ws_tokens,
               CAST(sum(nbpe) AS BIGINT) AS n_bpe_tokens,
               CAST(sum(nb) AS BIGINT) AS n_bytes
        FROM per GROUP BY lang
    )
    SELECT lang, n_docs, n_ws_tokens, n_bpe_tokens, n_bytes,
           CAST(n_bpe_tokens AS DOUBLE) / n_ws_tokens AS bpe_per_word,
           CAST(n_bytes AS DOUBLE) / n_bpe_tokens AS bytes_per_bpe
    FROM agg
    """,
    doc="Tokenizer fertility per language: BPE-ish tokens per whitespace "
    "word and bytes per BPE token — the standard multilingual tokenizer "
    "efficiency audit (high fertility = wasted context budget). Exact "
    "bigint sums, one correctly-rounded double division per ratio; "
    "map-side partial agg then a 5-group shuffle.",
    tags=("llm", "text", "aggregation"),
)
def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    per = docs.select(
        "lang",
        F.size(tokens(F.col("text"))).alias("nws"),
        F.size(F.regexp_extract_all("text", F.lit(BPE_RE), 0)).alias("nbpe"),
        F.octet_length("text").alias("nb"),
    )
    agg = per.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("nws").alias("n_ws_tokens"),
        F.sum("nbpe").alias("n_bpe_tokens"),
        F.sum("nb").alias("n_bytes"),
    )
    return agg.select(
        "lang", "n_docs", "n_ws_tokens", "n_bpe_tokens", "n_bytes",
        (F.col("n_bpe_tokens").cast("double") / F.col("n_ws_tokens")).alias(
            "bpe_per_word"
        ),
        (F.col("n_bytes").cast("double") / F.col("n_bpe_tokens")).alias(
            "bytes_per_bpe"
        ),
    )


_EMAIL_RE = "[a-z0-9._]+@[a-z0-9]+[.][a-z]+"
_PHONE_RE = "[+]1-555-[0-9]{4}"


@register(
    "pii_redaction",
    oracle=f"""
    WITH seeded AS (
        SELECT source,
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@mail.com or +1-555-'
                    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                   AS raw
        FROM documents
    ),
    red AS (
        SELECT source,
               strlen(raw) AS len_raw,
               len(regexp_extract_all(raw, '{_EMAIL_RE}')) AS n_emails,
               len(regexp_extract_all(raw, '{_PHONE_RE}')) AS n_phones,
               strlen(regexp_replace(regexp_replace(raw, '{_EMAIL_RE}',
                      '[EMAIL]', 'g'), '{_PHONE_RE}', '[PHONE]', 'g'))
                   AS len_redacted
        FROM seeded
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_emails) AS BIGINT) AS emails_found,
           CAST(sum(n_phones) AS BIGINT) AS phones_found,
           CAST(sum(len_raw - len_redacted) AS BIGINT) AS chars_removed
    FROM red GROUP BY source
    """,
    doc="PII detection + redaction sweep: deterministic email/phone "
    "strings are seeded from doc_id (the corpus is synthetic word "
    "salad), then found with regexp_extract_all and scrubbed with "
    "global regexp_replace — the pattern set is shared between engines "
    "(RE2- and Java-regex-compatible subset). Per-source audit counts; "
    "one narrow shuffle after map-side partials.",
    tags=("llm", "text"),
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"), F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@mail.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    seeded = docs.select("source", raw.alias("raw"))
    red = seeded.select(
        "source",
        F.octet_length("raw").alias("len_raw"),
        F.size(F.regexp_extract_all("raw", F.lit(_EMAIL_RE), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all("raw", F.lit(_PHONE_RE), 0)).alias("n_phones"),
        F.octet_length(
            F.regexp_replace(
                F.regexp_replace("raw", _EMAIL_RE, "[EMAIL]"),
                _PHONE_RE, "[PHONE]",
            )
        ).alias("len_redacted"),
    )
    return red.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_emails").alias("emails_found"),
        F.sum("n_phones").alias("phones_found"),
        F.sum(F.col("len_raw") - F.col("len_redacted")).alias("chars_removed"),
    )


# ------------------------------------------- sketch-accelerated operators

#: Bloom filter geometry for decontamination pruning. m ADAPTS to the
#: train-shingle cardinality: the smallest power of two with m >= 8n
#: (2 hashes at load n/m = 1/8 gives ~4-7% FP), clamped to
#: [2^20, 2^26]. A FIXED m saturates as the corpus grows — measured at
#: the sf10 rehearsal: m = 2^20 was 21% occupied at sf0.1 (FP 4%) but
#: ~100% at sf10's 10M train shingles, so the prune passed every eval
#: shingle and the query paid the full exact join PLUS the filter
#: overhead (17.8x wall at 10x data). The 2^26 cap is the broadcast
#: budget: the filter ships as a BIT-PACKED word table (bit>>5 ->
#: bit_or of 32-bit lanes in a BIGINT), <= m/32 rows ~ 2M rows / 32 MB
#: at the cap — 64x smaller than one-row-per-occupied-bit, and a
#: CONSTANT bounded by m, never by the corpus. Hash indexes 8/9 come
#: from the same universal affine family as MinHash but are disjoint
#: from the signature's 0..7, so bloom bits and minhash values are
#: independent.
_BLOOM_M_LOGS = tuple(range(20, 27))
#: 32-bit lane mask within a packed word: 1 << (bit % 32), as BIGINT
_BLOOM_LANE = "shiftleft(CAST(1 AS BIGINT), CAST({b} % 32 AS INT))"


def _bloom_m_of(n_train: int) -> int:
    """Smallest power-of-two m in [2^20, 2^26] with m >= 8*n_train.
    A CASE ladder (not log2) so the Spark driver and the DuckDB oracle
    derive the IDENTICAL m from the identical exact count — float log2
    at a power-of-two boundary could round differently."""
    for lg in _BLOOM_M_LOGS:
        if 8 * n_train <= (1 << lg):
            return 1 << lg
    return 1 << _BLOOM_M_LOGS[-1]


_BLOOM_M_SQL = (
    "CASE "
    + " ".join(
        f"WHEN 8 * n <= {1 << lg} THEN {1 << lg}" for lg in _BLOOM_M_LOGS
    )
    + f" ELSE {1 << _BLOOM_M_LOGS[-1]} END"
)


def _bloom_bit(col, idx: int, m: int):
    return minhash_value(col, idx) % m


def _bloom_bit_sql(expr: str, idx: int) -> str:
    """Bit index against the adaptive m — requires the params CTE
    ``p(m)`` to be in scope (cross-joined)."""
    return f"({minhash_value_sql(expr, idx)} % p.m)"


def _bloom_build(spark: SparkSession, sf_dir: str):
    """Shared bloom-filter construction: returns
    ``(tagged, train_sh, m, words_raw)`` where ``words_raw`` is the
    bit-packed word table BEFORE its localCheckpoint — exposed so the
    plan lock in tests/test_plans.py can assert the bit_or packing
    aggregation on the word table's own lineage (the checkpoint in the
    query proper truncates it to a Scan ExistingRDD)."""
    sh = _doc_shingles(spark, sf_dir)
    side = load(spark, sf_dir, "documents").select(
        "doc_id", (F.length("source") == 4).alias("is_train")
    )
    # The shingle table feeds five consumers (train set, occupied bits,
    # eval totals, candidate prune, verify join); without materializing
    # it each consumer re-tokenizes the corpus (16 scans, no exchange
    # reuse — the projections differ). One linear, partition-parallel
    # materialization; on a cluster this is persist(DISK_ONLY)/
    # checkpoint of the (doc_id, shingle, side) relation.
    tagged = sh.join(side, "doc_id").localCheckpoint(eager=True)
    train_sh = (
        tagged.filter(F.col("is_train")).select("sh").distinct()
        .localCheckpoint(eager=True)  # reused by occ and the verify join
    )
    # adaptive filter size from the EXACT train cardinality (cheap on
    # the checkpointed distinct set; one driver scalar) — the oracle's
    # params CTE runs the identical CASE ladder on the identical count
    m = _bloom_m_of(train_sh.count())
    occ = (
        train_sh.select(
            F.explode(
                F.array(
                    _bloom_bit(F.col("sh"), 8, m),
                    _bloom_bit(F.col("sh"), 9, m),
                )
            ).alias("bit")
        )
        .distinct()
    )
    # bit-packed broadcast form: <= m/32 (wrd, msk) rows
    words_raw = (
        occ.select(
            F.shiftright("bit", 5).alias("wrd"),
            F.expr(_BLOOM_LANE.format(b="bit")).alias("b"),
        )
        .groupBy("wrd")
        .agg(F.bit_or("b").alias("msk"))
    )
    return tagged, train_sh, m, words_raw


def _bloom_oracle_sql(head: str, src: str) -> str:
    """Bloom oracle body over a documents-shaped source ``src``;
    instantiated once, as the plain oracle (src='documents'). The
    sharded path uses the separately-staged ``_BLOOM_SHARDED_TEMPLATE``
    (temp-table setup + per-bucket body), NOT a second instantiation of
    this function — equivalence between the two is pinned by
    tests/test_correctness.py::
    test_sharded_oracle_templates_equal_plain_oracle, which runs both
    forms and compares bucket checksums, not by shared construction."""
    return f"""
    {head}
    sh AS NOT MATERIALIZED ({_sh_cte(src)}),
    side AS (SELECT doc_id, strlen(source) = 4 AS is_train
             FROM {src}),
    tagged AS NOT MATERIALIZED
           (SELECT sh.doc_id, sh.sh, side.is_train
            FROM sh JOIN side ON sh.doc_id = side.doc_id),
    train_sh AS (SELECT DISTINCT sh FROM tagged WHERE is_train),
    p AS (SELECT {_BLOOM_M_SQL} AS m
          FROM (SELECT count(*) AS n FROM train_sh)),
    occ AS (SELECT DISTINCT unnest([{_bloom_bit_sql('sh', 8)},
                                    {_bloom_bit_sql('sh', 9)}]) AS bit
            FROM train_sh, p),
    words AS (SELECT bit >> 5 AS wrd,
                     bit_or(CAST(1 AS BIGINT)
                            << CAST(bit % 32 AS INT)) AS msk
              FROM occ GROUP BY 1),
    -- NOT MATERIALIZED on the corpus-sized CTEs (round 8): DuckDB
    -- materializes multi-referenced CTEs, which (a) blocks the sharded
    -- per-bucket doc_id filter from ever pushing into the tokenize
    -- and (b) spilled >75 GB at the sf10 rehearsal. Inlining trades
    -- a second tokenize pass for streaming pipelines and pushdown;
    -- train_sh/words stay materialized (m-bounded / distinct-bounded).
    eval_sh AS NOT MATERIALIZED
            (SELECT doc_id, sh,
                    {_bloom_bit_sql('sh', 8)} AS bit0,
                    {_bloom_bit_sql('sh', 9)} AS bit1
             FROM tagged, p WHERE NOT is_train),
    cand AS (SELECT doc_id, sh FROM eval_sh
             JOIN words w0 ON w0.wrd = bit0 >> 5
              AND (w0.msk & (CAST(1 AS BIGINT)
                             << CAST(bit0 % 32 AS INT))) != 0
             JOIN words w1 ON w1.wrd = bit1 >> 5
              AND (w1.msk & (CAST(1 AS BIGINT)
                             << CAST(bit1 % 32 AS INT))) != 0),
    tot AS (SELECT doc_id, count(*) AS n_shingles
            FROM eval_sh GROUP BY doc_id),
    cc AS (SELECT doc_id, count(*) AS n_cand
           FROM cand GROUP BY doc_id),
    hit AS (SELECT c.doc_id, count(*) AS n_hits
            FROM cand c JOIN train_sh t ON c.sh = t.sh
            GROUP BY c.doc_id)
    SELECT tot.doc_id,
           CAST(tot.n_shingles AS BIGINT) AS n_shingles,
           CAST(coalesce(cc.n_cand, 0) AS BIGINT) AS n_bloom_candidates,
           CAST(coalesce(hit.n_hits, 0) AS BIGINT) AS n_contaminated,
           CAST(coalesce(cc.n_cand, 0) - coalesce(hit.n_hits, 0)
                AS BIGINT) AS n_bloom_fp,
           CAST(coalesce(hit.n_hits, 0) AS DOUBLE) / tot.n_shingles
               AS contamination_rate
    FROM tot
    LEFT JOIN cc ON tot.doc_id = cc.doc_id
    LEFT JOIN hit ON tot.doc_id = hit.doc_id
    """


#: Staged sharded oracle for bloom (driver_sim rehearsal-SF mode).
#: The GLOBAL state — the distinct train shingle set and the bit-
#: packed word table — is materialized ONCE into temp tables under
#: our control; each bucket then tokenizes ONLY its eval slice and
#: joins the temp tables. Every alternative was measured to fail at
#: sf10: the one-shot oracle spills 78 GB (DuckDB materializes the
#: multi-referenced corpus-sized CTEs), an outer-WHERE bucket filter
#: never pushes below the tokenize (r8), and a source-pushed filter
#: with NOT MATERIALIZED CTEs inlines the heavy subtree ~10x per
#: bucket (10 UNNEST passes + concurrent spilling group-bys, ~45 min
#: and ~45 GB spill PER BUCKET, r9). Staging keeps only the distilled
#: ~n_train-row state resident; per-bucket work is eval/B-sized.
#: m is re-derived per statement from count(t_bloom_train_sh) via the
#: same CASE ladder as the plain oracle and the Spark side.
_BLOOM_SHARD_SETUP = f"""
CREATE OR REPLACE TEMP TABLE t_bloom_train_sh AS
SELECT DISTINCT sh FROM (
  {_sh_cte("(SELECT doc_id, text FROM documents WHERE strlen(source) = 4)")}
);
CREATE OR REPLACE TEMP TABLE t_bloom_words AS
WITH p AS (SELECT {_BLOOM_M_SQL} AS m
           FROM (SELECT count(*) AS n FROM t_bloom_train_sh)),
occ AS (SELECT DISTINCT unnest([{_bloom_bit_sql('sh', 8)},
                                {_bloom_bit_sql('sh', 9)}]) AS bit
        FROM t_bloom_train_sh, p)
SELECT bit >> 5 AS wrd,
       bit_or(CAST(1 AS BIGINT) << CAST(bit % 32 AS INT)) AS msk
FROM occ GROUP BY 1;
"""

_BLOOM_SHARDED_TEMPLATE = f"""
    WITH p AS (SELECT {_BLOOM_M_SQL} AS m
               FROM (SELECT count(*) AS n FROM t_bloom_train_sh)),
    eval_sh AS NOT MATERIALIZED
            (SELECT doc_id, sh,
                    {_bloom_bit_sql('sh', 8)} AS bit0,
                    {_bloom_bit_sql('sh', 9)} AS bit1
             FROM ({_sh_cte(
                 "(SELECT doc_id, text FROM documents "
                 "WHERE strlen(source) <> 4 AND ({pred}))")}), p),
    cand AS (SELECT doc_id, sh FROM eval_sh
             JOIN t_bloom_words w0 ON w0.wrd = bit0 >> 5
              AND (w0.msk & (CAST(1 AS BIGINT)
                             << CAST(bit0 % 32 AS INT))) != 0
             JOIN t_bloom_words w1 ON w1.wrd = bit1 >> 5
              AND (w1.msk & (CAST(1 AS BIGINT)
                             << CAST(bit1 % 32 AS INT))) != 0),
    tot AS (SELECT doc_id, count(*) AS n_shingles
            FROM eval_sh GROUP BY doc_id),
    cc AS (SELECT doc_id, count(*) AS n_cand
           FROM cand GROUP BY doc_id),
    hit AS (SELECT c.doc_id, count(*) AS n_hits
            FROM cand c JOIN t_bloom_train_sh t ON c.sh = t.sh
            GROUP BY c.doc_id)
    SELECT tot.doc_id,
           CAST(tot.n_shingles AS BIGINT) AS n_shingles,
           CAST(coalesce(cc.n_cand, 0) AS BIGINT) AS n_bloom_candidates,
           CAST(coalesce(hit.n_hits, 0) AS BIGINT) AS n_contaminated,
           CAST(coalesce(cc.n_cand, 0) - coalesce(hit.n_hits, 0)
                AS BIGINT) AS n_bloom_fp,
           CAST(coalesce(hit.n_hits, 0) AS DOUBLE) / tot.n_shingles
               AS contamination_rate
    FROM tot
    LEFT JOIN cc ON tot.doc_id = cc.doc_id
    LEFT JOIN hit ON tot.doc_id = hit.doc_id
    """


@register(
    "bloom_pruned_contamination",
    oracle=_bloom_oracle_sql("WITH", "documents"),
    oracle_sharded=_BLOOM_SHARDED_TEMPLATE,
    oracle_shard_setup=_BLOOM_SHARD_SETUP,
    doc="Decontamination with Bloom-filter pruning — the 100 TB form "
    "of cross_corpus_contamination. The train shingle set is folded "
    "into a Bloom filter whose size ADAPTS to the exact train "
    "cardinality (smallest power-of-two m >= 8n, clamped to "
    "[2^20, 2^26] — both engines derive the identical m from the "
    "identical COUNT via the same CASE ladder; a fixed m measured "
    "~100% occupied at the sf10 rehearsal, passing every eval "
    "shingle). The filter ships as a BIT-PACKED word table "
    "(bit>>5 -> bit_or of 32-bit lanes), <= m/32 rows ~ 32 MB at the "
    "cap — an m-BOUNDED constant, never corpus-sized — and eval "
    "shingles are pruned by two broadcast word-lookup joins + mask "
    "tests before the expensive corpus-sized exact join, which now "
    "touches only candidates. Bloom filters have no false negatives, "
    "so n_contaminated is EXACT (equal to the unpruned sibling query) "
    "— n_bloom_fp records the false-positive overhead the exact "
    "verify join discarded, i.e. the audit of the filter's actual FP "
    "rate at the chosen m. All hashing is the same md5-affine family "
    "as MinHash (indexes 8/9, disjoint from the signature), exact "
    "64-bit integers in both engines.",
    tags=("llm", "text", "dedup", "join", "sketch"),
    shard_key="doc_id",
)
def bloom_pruned_contamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    tagged, train_sh, m, words_raw = _bloom_build(spark, sf_dir)
    # two differently-aliased broadcast selects consume the word table;
    # without materializing it each branch re-runs the explode + bit_or
    # over the train subtree (no ReusedExchange across differing
    # projections). m-bounded (<= m/32 rows), so the checkpoint is
    # constant-sized.
    words = words_raw.localCheckpoint(eager=True)
    eval_sh = (
        tagged.filter(~F.col("is_train"))
        .select(
            "doc_id",
            "sh",
            _bloom_bit(F.col("sh"), 8, m).alias("bit0"),
            _bloom_bit(F.col("sh"), 9, m).alias("bit1"),
        )
    )
    cand = (
        eval_sh.withColumn("w0", F.shiftright("bit0", 5))
        .join(
            F.broadcast(
                words.select(
                    F.col("wrd").alias("w0"), F.col("msk").alias("m0")
                )
            ),
            "w0",
        )
        .filter(F.expr(f"(m0 & {_BLOOM_LANE.format(b='bit0')}) != 0"))
        .withColumn("w1", F.shiftright("bit1", 5))
        .join(
            F.broadcast(
                words.select(
                    F.col("wrd").alias("w1"), F.col("msk").alias("m1")
                )
            ),
            "w1",
        )
        .filter(F.expr(f"(m1 & {_BLOOM_LANE.format(b='bit1')}) != 0"))
        .select("doc_id", "sh")
    )
    tot = eval_sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles")
    )
    cc = cand.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_cand"))
    hit = (
        cand.join(train_sh, "sh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    n_cand = F.coalesce(F.col("n_cand"), F.lit(0))
    n_hits = F.coalesce(F.col("n_hits"), F.lit(0))
    return (
        tot.join(cc, "doc_id", "left")
        .join(hit, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            n_cand.cast("bigint").alias("n_bloom_candidates"),
            n_hits.cast("bigint").alias("n_contaminated"),
            (n_cand - n_hits).cast("bigint").alias("n_bloom_fp"),
            (n_hits.cast("double") / F.col("n_shingles")).alias(
                "contamination_rate"
            ),
        )
    )


#: Count-min sketch geometry: d rows × w buckets. Like the Bloom m,
#: (d, w) are accuracy-chosen CONSTANTS — the sketch is ≤ d·w rows
#: regardless of corpus size, mergeable across partitions/batches by
#: cell-wise addition (each cell is a SUM — re-aggregable), and the
#: estimate for any key needs only d cells.
_CMS_D = 4
_CMS_W = 1024
_CMS_HASHES = (8, 9, 10, 11)


@register(
    "cms_heavy_hitters",
    oracle=f"""
    WITH tc AS (
        SELECT term, CAST(count(*) AS BIGINT) AS exact_count
        FROM (SELECT doc_id, unnest(toks) AS term FROM ({_TOK_CTE}))
        WHERE term != ''
        GROUP BY term),
    sketch AS (
        SELECT row_idx, bucket,
               CAST(CAST(sum(exact_count) AS BIGINT) AS BIGINT) AS cell
        FROM (
            {" UNION ALL ".join(
                f"SELECT {i} AS row_idx, "
                f"({minhash_value_sql('term', h)} % {_CMS_W}) AS bucket, "
                f"exact_count FROM tc"
                for i, h in enumerate(_CMS_HASHES))}
        )
        GROUP BY row_idx, bucket),
    top AS (
        SELECT term, exact_count
        FROM tc ORDER BY exact_count DESC, term LIMIT 20),
    probes AS (
        SELECT term, exact_count, row_idx,
               CASE row_idx
                   {" ".join(
                       f"WHEN {i} THEN "
                       f"({minhash_value_sql('term', h)} % {_CMS_W})"
                       for i, h in enumerate(_CMS_HASHES))}
               END AS bucket
        FROM top, (SELECT unnest(generate_series(0, {_CMS_D - 1}))
                   AS row_idx))
    SELECT p.term, p.exact_count,
           CAST(min(s.cell) AS BIGINT) AS cms_estimate,
           CAST(min(s.cell) - p.exact_count AS BIGINT) AS overestimate
    FROM probes p
    JOIN sketch s ON s.row_idx = p.row_idx AND s.bucket = p.bucket
    GROUP BY p.term, p.exact_count
    """,
    doc="Count-min sketch frequency estimation, audited against exact "
    "counts for the top-20 corpus tokens. The sketch is d=4 rows × "
    "w=1024 buckets of SUM cells — built from the per-term count "
    "table with four affine-hash projections and one (row, bucket) "
    "aggregation, so its size is the constant d·w no matter the "
    "corpus, and cells merge by addition (partition-parallel, "
    "stream-mergeable — the same property HLL rollup exploits). "
    "Estimates = min over the d probed cells, always ≥ exact "
    "(one-sided error); `overestimate` materializes the collision "
    "error actually incurred. Hashes are the shared md5-affine "
    "family (indexes 8-11), exact integers in both engines.",
    tags=("llm", "text", "sketch", "aggregation"),
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(load(spark, sf_dir, "documents"))
    tc = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("exact_count"))
        # consumed three times (sketch, top-20, probes): materialize
        # once instead of re-tokenizing the corpus per consumer
        .localCheckpoint(eager=True)
    )
    # all d projections in ONE map-side explode over tc — a union of d
    # selects would recompute tc d times
    proj_rows = F.array(
        *[
            F.struct(
                F.lit(i).alias("row_idx"),
                (minhash_value(F.col("term"), h) % _CMS_W).alias("bucket"),
            )
            for i, h in enumerate(_CMS_HASHES)
        ]
    )
    sketch = (
        tc.select(F.explode(proj_rows).alias("p"), "exact_count")
        .select("p.row_idx", "p.bucket", "exact_count")
        .groupBy("row_idx", "bucket")
        .agg(F.sum("exact_count").alias("cell"))
    )
    # top-k via TakeOrderedAndProject (per-partition top-20 + driver
    # merge), never an unpartitioned window — the vocabulary table is
    # corpus-sized at 100 TB.
    top = tc.orderBy(F.col("exact_count").desc(), "term").limit(20)
    bucket_cases = F.when(
        F.col("row_idx") == 0,
        minhash_value(F.col("term"), _CMS_HASHES[0]) % _CMS_W,
    )
    for i, h in list(enumerate(_CMS_HASHES))[1:]:
        bucket_cases = bucket_cases.when(
            F.col("row_idx") == i, minhash_value(F.col("term"), h) % _CMS_W
        )
    probes = top.crossJoin(
        spark.range(_CMS_D).select(F.col("id").cast("int").alias("row_idx"))
    ).select("term", "exact_count", "row_idx", bucket_cases.alias("bucket"))
    return (
        probes.join(F.broadcast(sketch), ["row_idx", "bucket"])
        .groupBy("term", "exact_count")
        .agg(
            F.min("cell").cast("bigint").alias("cms_estimate"),
            (F.min("cell") - F.col("exact_count"))
            .cast("bigint")
            .alias("overestimate"),
        )
    )


# ------------------------------------------------- product quantization

_PQ_M = 16       # subspaces (64-dim embeddings → 4 dims each)
_PQ_SUBDIM = 4
_PQ_CODES = 16   # codebook entries per subspace — FIXED, data-independent


def _pq_subvectors(
    emb: DataFrame, id_cols: tuple[str, ...] = ("vec_id",)
) -> DataFrame:
    """(*id_cols, sub_idx, subvec) — m skinny slices per vector via ONE
    map-side explode (a union of m selects would scan the source m
    times); total bytes equal the input."""
    slices = F.array(
        *[
            F.struct(
                F.lit(j).alias("sub_idx"),
                F.slice(
                    "embedding", j * _PQ_SUBDIM + 1, _PQ_SUBDIM
                ).alias("subvec"),
            )
            for j in range(_PQ_M)
        ]
    )
    return emb.select(
        *id_cols, F.explode(slices).alias("s")
    ).select(*id_cols, F.col("s.sub_idx"), F.col("s.subvec"))


def _pq_assign(sub: DataFrame, books: DataFrame) -> DataFrame:
    """Nearest-code assignment per (vec_id, sub_idx): broadcast the
    m·k codebook, score map-side, argmin via min_by partial agg —
    subvectors never ride a shuffle. The subspace distance is unrolled
    over the constant subdim so it stays in whole-stage codegen."""
    return (
        sub.join(F.broadcast(books), "sub_idx")
        .select(
            "vec_id",
            "sub_idx",
            "code_id",
            l2sq_unrolled(
                F.col("subvec"), F.col("c_sub"), _PQ_SUBDIM
            ).alias("d2"),
        )
        .groupBy("vec_id", "sub_idx")
        .agg(
            F.min_by(
                "code_id", F.struct(F.col("d2"), F.col("code_id"))
            ).alias("code_id")
        )
    )


def _pq_codebooks(emb: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(sub, books): the checkpointed subvector table and the
    (sub_idx, code_id, c_sub) codebooks, _PQ_CODES entries per subspace.
    Seeds are the k vectors with the smallest xxhash64(vec_id), shared
    across subspaces; one Lloyd step per subspace refines them.

    ``sub`` has three consumers here (seed assignment, the Lloyd step,
    the caller's encode), so it is materialized once instead of each
    branch re-scanning and re-exploding the source. The seed codebook
    is sliced straight from the k surviving FULL vectors (identical
    F.slice values) instead of broadcast-joining the ids back against
    the corpus-sized subvector table — r11: one fewer full pass over
    ``sub`` per call."""
    sub = _pq_subvectors(emb).localCheckpoint(eager=True)
    seed_vecs = (
        emb.select("vec_id", "embedding")
        .orderBy(F.xxhash64(F.col("vec_id")), "vec_id")
        .limit(_PQ_CODES)
        .withColumn(
            "code_id",
            (F.row_number().over(
                Window.orderBy(F.xxhash64(F.col("vec_id")), "vec_id")
            ) - 1).cast("int"),
        )
    )
    seed_books = _pq_subvectors(seed_vecs, id_cols=("code_id",)).select(
        "sub_idx", "code_id", F.col("subvec").alias("c_sub")
    )
    books = _centroid_means(
        sub.join(_pq_assign(sub, seed_books), ["vec_id", "sub_idx"]),
        ["sub_idx", "code_id"], "subvec", "c_sub",
    )
    return sub, books


def _pq_dtable(emb: DataFrame, books: DataFrame) -> DataFrame:
    """ADC distance table (query_id, sub_idx, code_id, d2): each query
    subvector against every codebook cell — 10 queries × m·k cells,
    broadcastable by construction."""
    q_sub = _pq_subvectors(
        emb.filter(F.col("vec_id") < 10).select("vec_id", "embedding")
    ).select(
        F.col("vec_id").alias("query_id"), "sub_idx",
        F.col("subvec").alias("q_sub"),
    )
    return q_sub.join(F.broadcast(books), "sub_idx").select(
        "query_id", "sub_idx", "code_id",
        l2sq_unrolled(F.col("q_sub"), F.col("c_sub"), _PQ_SUBDIM).alias("d2"),
    )


def _rerank_top5(emb: DataFrame, scored: DataFrame) -> DataFrame:
    """Top 5 neighbours per query by EXACT L2 over a 50-deep shortlist
    of ``scored``'s (query_id, neighbor_id, approx_dist2) ADC ranking —
    the production PQ pattern: full-precision distances are computed
    for 50 vectors per query instead of the corpus."""
    shortlist = (
        scored.withColumn(
            "srank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    "approx_dist2", "neighbor_id"
                )
            ),
        )
        .filter(F.col("srank") <= 50)
        .select("query_id", "neighbor_id", "approx_dist2")
    )
    reranked = (
        shortlist.join(
            emb.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("embedding").alias("n_emb"),
            ),
            "neighbor_id",
        )
        .join(F.broadcast(_query_vecs(emb)), "query_id")
        .select(
            "query_id", "neighbor_id", "approx_dist2",
            l2sq_unrolled(
                F.col("q_emb"), F.col("n_emb"), _PQ_M * _PQ_SUBDIM
            ).alias("exact_dist2"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("exact_dist2", "neighbor_id")
    return (
        reranked.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 5)
        .select(
            "query_id", "neighbor_id", "approx_dist2", "exact_dist2", "rank"
        )
    )


@register(
    "ann_pq_topk",
    # No oracle: multi-stage approximate algorithm (like ann_ivf_topk);
    # recall vs exact L2 brute force is asserted in tests instead.
    doc="Product-quantization ANN (the IVF-PQ second stage): embeddings "
    f"split into {_PQ_M} orthogonal subspaces, each quantized to one of "
    f"{_PQ_CODES} codebook entries (hash-picked seeds + one Lloyd "
    "pass, per subspace) — a vector compresses 64 floats → "
    f"{_PQ_M} 4-bit codes (8 bytes), and approximate distance is "
    "computed WITHOUT touching embeddings: ADC joins each stored code "
    f"against a per-query distance table of m·k={_PQ_M * _PQ_CODES} "
    "precomputed cell distances (broadcast — constant size), then "
    "sums the m terms per (query, vector). The ADC pass only builds a "
    "50-deep shortlist; full-precision distances are then computed "
    "for exactly those 50 vectors per query (the production "
    "shortlist-and-re-rank pattern — measured recall@5 ≈ 0.8 on "
    "uniform vectors, vs ≈ 0.3 for raw ADC ranking). All shuffles "
    "carry only (id, sub, code, d2) skinny rows; codebook size is "
    "data-independent, so the plan is unchanged at 100 TB where the "
    "code table is 8 bytes/vector instead of 256.",
    tags=("llm", "similarity", "topk"),
)
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    sub, books = _pq_codebooks(emb)
    codes = _pq_assign(sub, books)
    scored = (
        codes.join(F.broadcast(_pq_dtable(emb, books)), ["sub_idx", "code_id"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d2").alias("approx_dist2"))
    )
    return _rerank_top5(emb, scored)


@register(
    "weighted_mixture_sample",
    oracle=f"""
    WITH keyed AS (
        SELECT source, n_chars,
               CASE WHEN strlen(source) = 4 THEN 900 ELSE 300 END
                   AS target_permille,
               ({minhash_value_sql("CAST(doc_id AS VARCHAR)", 10)} % 1000)
                   AS draw
        FROM documents)
    SELECT source,
           CAST(max(target_permille) AS BIGINT) AS target_permille,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN draw < target_permille THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(CAST(sum(CASE WHEN draw < target_permille
                         THEN n_chars ELSE 0 END) AS BIGINT) AS BIGINT)
               AS chars_kept,
           CAST(sum(CASE WHEN draw < target_permille THEN 1 ELSE 0 END)
                AS DOUBLE) / count(*) AS achieved_rate
    FROM keyed GROUP BY source
    """,
    doc="Training-mixture curation: per-source sampling weights "
    "(90% for the train sources, 30% for the rest — the domain-"
    "reweighting step of corpus assembly) applied by DETERMINISTIC "
    "hash thinning: keep a doc iff its universal-hash draw "
    "(md5-affine family, index 10) mod 1000 falls under the source's "
    "permille target. Unlike rand()-based Bernoulli sampling this is "
    "idempotent across retries/engines/reruns (a failed task keeps "
    "exactly the same docs), stratification is exact per key, and "
    "the audit (achieved vs target rate per source) is an "
    "integer/integer division. Pure map + one aggregation — no "
    "shuffle of document payloads, scales linearly.",
    tags=("llm", "curation", "sampling"),
)
def weighted_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    target = F.when(F.length("source") == 4, 900).otherwise(300)
    draw = minhash_value(F.col("doc_id").cast("string"), 10) % 1000
    return (
        docs.select(
            "source",
            "n_chars",
            target.alias("target_permille"),
            draw.alias("draw"),
        )
        .groupBy("source")
        .agg(
            F.max("target_permille").cast("bigint").alias("target_permille"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("draw") < F.col("target_permille"), 1)
                .otherwise(0)
            ).cast("bigint").alias("n_kept"),
            F.sum(
                F.when(
                    F.col("draw") < F.col("target_permille"), F.col("n_chars")
                ).otherwise(0)
            ).cast("bigint").alias("chars_kept"),
            (
                F.sum(
                    F.when(F.col("draw") < F.col("target_permille"), 1)
                    .otherwise(0)
                ).cast("double") / F.count(F.lit(1))
            ).alias("achieved_rate"),
        )
    )


@register(
    "skipgram_pairs",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id,
               unnest(list_transform({tokens_sql('text')},
                   (t, i) -> struct_pack(term := t, pos := i))) AS s
        FROM documents
    ),
    pos AS (
        SELECT doc_id, s.term AS term, s.pos AS pos FROM tok
        WHERE s.term != ''
    )
    SELECT center, context, n_pairs
    FROM (
        SELECT a.term AS center, b.term AS context,
               CAST(count(*) AS BIGINT) AS n_pairs,
               row_number() OVER (ORDER BY count(*) DESC, a.term, b.term)
                   AS rn
        FROM pos a
        JOIN pos b
          ON a.doc_id = b.doc_id
         AND b.pos BETWEEN a.pos - 2 AND a.pos + 2
         AND b.pos != a.pos
        GROUP BY a.term, b.term)
    WHERE rn <= 30
    """,
    doc="Skip-gram (center, context) training-pair generation — the "
    "word2vec/embedding-pretraining data op: every token pairs with "
    "its ±2 neighbors. Implemented WITHOUT a positional self-join: "
    "the token array pairs map-side via a transform over the four "
    "relative offsets (each doc's pairs are generated inside one "
    "task, n·window rows, no (doc, pos)-keyed shuffle of the corpus — "
    "the oracle's self-join form is the semantic spec, the flattened "
    "explode is the 100 TB plan). Top-30 global pairs with total "
    "tie-break; counts are exact.",
    tags=("llm", "text", "topk"),
)
def skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(load(spark, sf_dir, "documents"))
    # pre-filter empty token arrays: sequence(1, 0) DESCENDS to [1, 0]
    # (the CLAUDE.md gotcha) and ANSI element_at(toks, 1) on an empty
    # array THROWS — unreachable while F.split never returns [], but a
    # tokenizer that filters empty strings would make n=0 real; empty
    # docs contribute no pairs either way
    toks = docs.select(
        "doc_id", tokens(F.col("text")).alias("toks")
    ).filter(F.size("toks") >= 1)
    # map-side pair generation: for each position i, emit (t[i], t[i+d])
    # for d in {-2,-1,1,2} where the neighbor exists and both non-empty
    n = F.size("toks")
    pair_arrays = []
    for d in (-2, -1, 1, 2):
        pair_arrays.append(
            F.filter(
                F.transform(
                    F.sequence(F.lit(1), n),
                    lambda i: F.struct(
                        F.element_at("toks", i).alias("center"),
                        F.when(
                            (i + d >= 1) & (i + d <= n),
                            F.element_at("toks", i + F.lit(d)),
                        ).alias("context"),
                    ),
                ),
                lambda s: s.context.isNotNull()
                & (s.center != "")
                & (s.context != ""),
            )
        )
    pairs = toks.select(
        F.explode(F.concat(*pair_arrays)).alias("p")
    ).select("p.center", "p.context")
    counted = pairs.groupBy("center", "context").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )
    return (
        counted.orderBy(F.col("n_pairs").desc(), "center", "context")
        .limit(30)
        .select("center", "context", "n_pairs")
    )


@register(
    "bpe_top_merges",
    oracle=f"""
    WITH tok AS (
        SELECT unnest({tokens_sql('text')}) AS term FROM documents
    ),
    tf AS (
        SELECT term, count(*) AS freq FROM tok
        WHERE term != '' GROUP BY term
    ),
    pairs AS (
        SELECT substr(term, i, 1) AS left_sym,
               substr(term, i + 1, 1) AS right_sym,
               freq
        FROM tf, (SELECT unnest(generate_series(1, 40)) AS i)
        WHERE i < strlen(term)
    )
    SELECT left_sym, right_sym, n_occurrences
    FROM (
        SELECT left_sym, right_sym,
               CAST(CAST(sum(freq) AS BIGINT) AS BIGINT) AS n_occurrences,
               row_number() OVER (
                   ORDER BY sum(freq) DESC, left_sym, right_sym) AS rn
        FROM pairs GROUP BY left_sym, right_sym)
    WHERE rn <= 20
    """,
    doc="BPE tokenizer-training inner loop: corpus-wide adjacent-symbol "
    "pair frequencies (the argmax of which is the next BPE merge). "
    "Computed over the DEDUPLICATED word-frequency table — pair "
    "counts weight by word freq, so the expensive character explode "
    "runs once per distinct word, not once per corpus occurrence "
    "(vocabulary-sized, the standard BPE trainer optimization). "
    "Character pairs explode map-side (posexplode of the split word, "
    "bounded at 40 chars); exact bigint sums; top-20 merges with "
    "total tie-break.",
    tags=("llm", "text", "aggregation", "topk"),
)
def bpe_top_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(load(spark, sf_dir, "documents"))
    tf = (
        docs.select(F.explode(tokens(F.col("text"))).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # 1-char words have no pairs; the filter also dodges Spark's
    # descending sequence(1, 0) pitfall
    tf = tf.filter(F.length("term") >= 2)
    chars = F.split(F.col("term"), "")
    n = F.size(chars)
    pairs = tf.select(
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(1), F.least(n - 1, F.lit(40))
                ),
                lambda i: F.struct(
                    F.element_at(chars, i).alias("left_sym"),
                    F.element_at(chars, i + 1).alias("right_sym"),
                ),
            )
        ).alias("p"),
        "freq",
    ).select("p.left_sym", "p.right_sym", "freq")
    counted = pairs.groupBy("left_sym", "right_sym").agg(
        F.sum("freq").cast("bigint").alias("n_occurrences")
    )
    return (
        counted.orderBy(
            F.col("n_occurrences").desc(), "left_sym", "right_sym"
        )
        .limit(20)
        .select("left_sym", "right_sym", "n_occurrences")
    )


_DEDUP_CHUNK = 16


@register(
    "chunk_dedup_ratio",
    oracle=f"""
    WITH chunks AS (
        SELECT doc_id,
               md5(array_to_string(
                   toks[(c - 1) * {_DEDUP_CHUNK} + 1 : c * {_DEDUP_CHUNK}],
                   ' ')) AS chunk_hash
        FROM (SELECT doc_id, toks,
                     unnest(generate_series(
                         1, CAST(ceil(len(toks) / {_DEDUP_CHUNK}.0)
                                 AS BIGINT))) AS c
              FROM ({_TOK_CTE})
              WHERE len(toks) > 0)),
    freq AS (
        SELECT chunk_hash, count(*) AS n_occ
        FROM chunks GROUP BY chunk_hash)
    SELECT c.doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN f.n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_chunks,
           CAST(sum(CASE WHEN f.n_occ > 1 THEN 1 ELSE 0 END) AS DOUBLE)
               / count(*) AS dup_ratio
    FROM chunks c JOIN freq f ON c.chunk_hash = f.chunk_hash
    GROUP BY c.doc_id
    """,
    doc=f"Chunk-level (sub-document) duplication audit — the C4/RefinedWeb "
    "span-dedup signal for corpora without natural paragraph breaks: "
    f"docs split into {_DEDUP_CHUNK}-token windows (map-side array "
    "slicing), window hashes counted corpus-wide, and each doc scored "
    "by the fraction of its chunks appearing elsewhere (planted "
    "near-dup docs light up; unique prose scores 0). One hash-keyed "
    "aggregation + one join back, both shuffling only (id, hash) "
    "skinny rows; the ratio is an exact integer division. The "
    "removal pass would keep min-(doc,chunk) first occurrences — "
    "same plan, one more window.",
    tags=("llm", "text", "dedup"),
)
def chunk_dedup_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(load(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", tokens(F.col("text")).alias("toks")).filter(
        F.size("toks") > 0
    )
    n = F.size("toks")
    chunks = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.ceil(n / F.lit(float(_DEDUP_CHUNK))).cast("int")),
                lambda c: F.md5(
                    F.concat_ws(
                        " ",
                        F.slice(
                            "toks",
                            (c - 1) * _DEDUP_CHUNK + 1,
                            _DEDUP_CHUNK,
                        ),
                    )
                ),
            )
        ).alias("chunk_hash"),
    ).localCheckpoint(eager=True)  # consumed by freq AND the join back
    freq = chunks.groupBy("chunk_hash").agg(
        F.count(F.lit(1)).alias("n_occ")
    )
    dup = F.when(F.col("n_occ") > 1, 1).otherwise(0)
    return (
        chunks.join(freq, "chunk_hash")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(dup).cast("bigint").alias("n_dup_chunks"),
            (F.sum(dup).cast("double") / F.count(F.lit(1))).alias(
                "dup_ratio"
            ),
        )
    )


@register(
    "unigram_surprisal",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(toks) AS term FROM ({_TOK_CTE})),
    clean AS (SELECT doc_id, term FROM tok WHERE term != ''),
    freq AS (
        SELECT term, count(*) AS c,
               (SELECT count(*) FROM clean) AS total
        FROM clean GROUP BY term),
    scored AS (
        SELECT term,
               CAST(round(-log2(CAST(c AS DOUBLE) / total) * 1000000)
                    AS BIGINT) AS surprisal_micro
        FROM freq)
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(CAST(sum(s.surprisal_micro) AS BIGINT) AS BIGINT)
               AS total_surprisal_micro,
           CAST(CAST(sum(s.surprisal_micro) AS BIGINT) AS DOUBLE)
           / (count(*) * 1000000) AS bits_per_token
    FROM clean t JOIN scored s ON t.term = s.term
    GROUP BY t.doc_id
    """,
    doc="Unigram LM surprisal per document (the cheap perplexity proxy "
    "used for quality filtering): corpus unigram probabilities → "
    "per-term −log₂p → per-doc sum; low bits/token ≈ repetitive or "
    "common-word text, high ≈ rare-token soup. Determinism: the "
    "transcendental log is rounded ONCE per DISTINCT TERM to integer "
    "micro-bits (round() on a transcendental — exact ties can't "
    "occur, the repo's one sanctioned rounding), and the per-doc "
    "aggregation then sums exact integers, so millions of tokens "
    "accumulate zero float drift. Frequency table broadcasts "
    "(vocabulary-sized); one token-keyed join + doc-keyed agg.",
    tags=("llm", "text", "quality"),
)
def unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(load(spark, sf_dir, "documents"))
    tok = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
        .filter(F.col("term") != "")
        # three consumers (count, freq, join) — tokenize once
        .localCheckpoint(eager=True)
    )
    total = tok.count()
    freq = tok.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    scored = freq.select(
        "term",
        F.round(
            -F.log2(F.col("c").cast("double") / F.lit(float(total)))
            * 1000000
        ).cast("bigint").alias("surprisal_micro"),
    )
    return (
        tok.join(F.broadcast(scored), "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("surprisal_micro").cast("bigint").alias(
                "total_surprisal_micro"
            ),
            (
                F.sum("surprisal_micro").cast("double")
                / (F.count(F.lit(1)) * 1000000)
            ).alias("bits_per_token"),
        )
    )


@register(
    "ann_ivfpq_topk",
    # No oracle: iterative/approximate (like ann_ivf_topk / ann_pq_topk);
    # recall vs exact L2 asserted in tests/test_llm_ops.py.
    doc="IVF-PQ composed ANN — the production billion-scale index "
    "shape (FAISS IVFADC): the IVF stage prunes the SEARCH SPACE "
    "(queries probe their 2 nearest of 16 coarse cells — candidate "
    "count drops ~8x), the PQ stage compresses the DISTANCE "
    f"computation ({_PQ_M} sub-codebooks, ADC against a broadcast "
    "per-query distance table — no embedding bytes touched), and the "
    "50-deep shortlist re-ranks at full precision. Every stage's "
    "working set is constant-size (centroids m·k cells, dtable "
    "q·m·k) or candidate-proportional; vectors ride the shuffles as "
    "8 code bytes + a cell id. Residual encoding (PQ over x − "
    "centroid) is the classic refinement; on these uniform vectors "
    "plain-vector codes measure equal recall, so the simpler form "
    "stays.",
    tags=("llm", "similarity", "topk"),
)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")

    # The IVF coarse stage and the PQ codebook stage read only `emb`
    # and are data-independent until `codes` joins their outputs — but
    # each trains through EAGER localCheckpoints, so built inline they
    # serialize (measured 4.7 s + 2.4 s back-to-back at sf0.1). Two
    # driver threads submit both training chains concurrently and the
    # scheduler back-fills the tail of one chain with the other's
    # stages (guide-standard overlap of independent jobs); each chain
    # is internally unchanged and deterministic, so results are
    # identical. Each thread runs under the caller's job group and tags.
    def _build_ivf():
        cent = _ivf_centroids(emb)
        return cent, _ivf_assign(emb, cent).localCheckpoint(eager=True)

    in_group = inheritable_thread_target(spark)
    with ThreadPoolExecutor(max_workers=2) as pool:
        ivf_f = pool.submit(in_group(_build_ivf))
        pq_f = pool.submit(in_group(_pq_codebooks), emb)
        cent, assign = ivf_f.result()
        sub, books = pq_f.result()
    codes = _pq_assign(sub, books).join(assign, "vec_id")

    # ---- search: probe 2 cells, ADC against candidates, re-rank 50
    q_cells = (
        _query_vecs(emb).crossJoin(F.broadcast(cent))
        .select(
            "query_id",
            "cell_id",
            l2sq_unrolled(
                F.col("q_emb"), F.col("c_emb"), _PQ_M * _PQ_SUBDIM
            ).alias("c_d2"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy("c_d2", "cell_id")
            ),
        )
        .filter(F.col("rn") <= 2)
        .select("query_id", "cell_id")
    )
    cand_codes = codes.join(F.broadcast(q_cells), "cell_id").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = (
        cand_codes.join(
            F.broadcast(_pq_dtable(emb, books)),
            ["query_id", "sub_idx", "code_id"],
        )
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d2").alias("approx_dist2"))
    )
    return _rerank_top5(emb, scored)


_INC_EST_SQL = (
    "CAST("
    + " + ".join(
        f"(CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END)"
        for i in range(MINHASH_K)
    )
    + f" AS DOUBLE) / {MINHASH_K}"
)


@register(
    "incremental_minhash_dedup",
    oracle=f"""
    WITH sig AS ({_SIG_WIDE_CTE}),
    cut AS (SELECT (max(doc_id) * 9) // 10 AS c FROM sig),
    bands AS (
        SELECT doc_id,
               {", ".join(f"md5(concat_ws('|', {', '.join(ms)})) AS {bh}"
                          for bh, ms in _band_hash_cols())}
        FROM sig
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM bands a JOIN bands b
          ON a.doc_id < b.doc_id
         AND b.doc_id >= (SELECT c FROM cut)
         AND ({" OR ".join(f"a.{bh} = b.{bh}" for bh, _ in _band_hash_cols())})
    )
    SELECT c.a_id AS older_id, c.b_id AS newer_id,
           {_INC_EST_SQL} AS est_jaccard
    FROM cand c
    JOIN sig sa ON sa.doc_id = c.a_id
    JOIN sig sb ON sb.doc_id = c.b_id
    WHERE {_INC_EST_SQL} >= 0.5
    """,
    doc="INCREMENTAL near-dup dedup: the newest batch (top decile of "
    "doc_id, standing in for today's ingest) is deduplicated against "
    "the already-indexed corpus WITHOUT recomputing any base-vs-base "
    "pair — the production shape where signatures/bands of the corpus "
    "are a stored index (here recomputed because the sandbox has no "
    "persisted state; at 100 TB they're a table written once per "
    "batch) and each increment only pays delta-sized work. The "
    "delta joins the corpus band index with a plain (band, hash) "
    "SHUFFLE equi-join — the delta here is a fixed FRACTION of the "
    "corpus (top decile of doc_id), i.e. data-proportional, so a "
    "broadcast hint would exceed any broadcast budget at scale and "
    "die at plan time (an earlier revision did exactly that); with a "
    "genuinely bounded daily batch a broadcast is the cheaper plan "
    "and AQE picks it at runtime from actual sizes. Delta-internal "
    "pairs fall out of the same join (newer id on the delta side, "
    "a_id < b_id keeps each pair once). First-shared-band discipline "
    "and signature ride-through "
    "reused from minhash_lsh_pairs: one join, no distinct over the "
    "candidate×band blow-up.",
    tags=("llm", "dedup", "join", "incremental"),
    shard_key="older_id",
)
def incremental_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = _sig_wide(spark, sf_dir).localCheckpoint(eager=True)
    cut = sig.agg(F.expr("(max(doc_id) * 9) div 10").alias("cutoff"))
    pairs, agreement = _lsh_candidates(sig, cut=cut)
    est = agreement.cast("double") / MINHASH_K
    return (
        pairs.select(
            F.col("a_id").alias("older_id"),
            F.col("b_id").alias("newer_id"),
            est.alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= 0.5)
    )


@register(
    "corpus_datacard",
    oracle="""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT md5(lower(trim(text)))) AS BIGINT)
               AS n_unique_texts,
           CAST(((count(*) - count(DISTINCT md5(lower(trim(text)))))
                 * 1000000) // count(*) AS BIGINT) AS dup_ppm,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS sum_chars,
           CAST((sum(CASE WHEN n_chars < 200 THEN 1 ELSE 0 END)
                 * 1000000) // count(*) AS BIGINT) AS short_share_ppm
    FROM documents GROUP BY source
    """,
    doc="Per-source corpus datacard — the one-page health report a "
    "training-data release ships (docs, exact-dup rate, language "
    "spread, volume, short-doc share) in ONE scan + one source-keyed "
    "aggregation. Exact-dup rate counts DISTINCT normalized-text "
    "md5s, so the dedup shuffle key is 32 bytes regardless of "
    "document size; shares are integer-ppm ((k·1e6) div n — "
    "engine-identical, no float tie-breaks). The source key has "
    "bounded cardinality, so the plan is a partial-agg + one "
    "exchange at any corpus size.",
    tags=("llm", "quality", "aggregation"),
)
def corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    fp = F.md5(F.lower(F.trim(F.col("text"))))
    n = F.count(F.lit(1))
    nu = F.count_distinct(fp)
    return docs.groupBy("source").agg(
        n.cast("bigint").alias("n_docs"),
        nu.cast("bigint").alias("n_unique_texts"),
        F.expr(
            "((count(*) - count(DISTINCT md5(lower(trim(text))))) "
            "* 1000000) div count(*)"
        ).cast("bigint").alias("dup_ppm"),
        F.count_distinct("lang").cast("bigint").alias("n_langs"),
        F.sum(F.col("n_chars").cast("bigint")).cast("bigint").alias("sum_chars"),
        F.expr(
            "(sum(CASE WHEN n_chars < 200 THEN 1 ELSE 0 END) * 1000000) "
            "div count(*)"
        ).cast("bigint").alias("short_share_ppm"),
    )


@register(
    "boilerplate_prefix_groups",
    oracle="""
    SELECT substr(text, 1, 64) AS prefix_64,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(min(doc_id) AS BIGINT) AS exemplar_doc_id,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM documents
    GROUP BY substr(text, 1, 64)
    HAVING count(*) > 1
    """,
    doc="Boilerplate / template detection over the documents corpus: "
    "documents sharing a 64-char opening are grouped and flagged — the "
    "prefix-dedup pass web-scale pipelines (RefinedWeb/C4-style) run "
    "to catch templated pages and double-crawls that token-level "
    "near-dup misses cheaply. Unlike the orders-table duplicate "
    "detector, the documents corpus seeds prefix collisions at every "
    "test scale (20/22/227 groups), so the oracle is never vacuous. "
    "One hash-agg shuffle on a constant-width key; the map-side "
    "partial agg absorbs hot boilerplate keys, and at 100 TB the "
    "prefix would hash to a fixed-width fingerprint before the "
    "shuffle (xxhash64(prefix)) - same plan, narrower rows.",
    tags=("llm", "text", "dedup", "quality"),
)
def boilerplate_prefix_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.substring("text", 1, 64).alias("prefix_64"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
            F.min("doc_id").alias("exemplar_doc_id"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .filter(F.col("n_docs") > 1)
    )


@register(
    "embedding_covariance_moments",
    oracle="""
    WITH el AS (
        SELECT vec_id, u.idx, u.m FROM (
            SELECT vec_id,
                   unnest(list_transform(embedding, (e, i) -> struct_pack(
                       idx := CAST(i AS BIGINT) - 1,
                       m := CAST(round(CAST(e AS DOUBLE) * 1000) AS BIGINT)
                   ))) AS u
            FROM embeddings)
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
    s AS (SELECT idx, CAST(CAST(sum(m) AS BIGINT) AS BIGINT) AS sm
          FROM el GROUP BY idx),
    cr AS (SELECT a.idx AS i, b.idx AS j,
                  CAST(CAST(sum(a.m * b.m) AS BIGINT) AS BIGINT) AS s_ij
           FROM el a JOIN el b
             ON a.vec_id = b.vec_id AND a.idx <= b.idx
           GROUP BY 1, 2)
    SELECT cr.i, cr.j, cr.s_ij,
           si.sm AS s_i, sj.sm AS s_j, nn.n,
           CAST(CAST(nn.n * cr.s_ij - si.sm * sj.sm AS BIGINT) AS DOUBLE)
               / (CAST(nn.n AS DOUBLE) * nn.n) AS cov_milli2
    FROM cr
    JOIN s si ON si.idx = cr.i
    JOIN s sj ON sj.idx = cr.j
    CROSS JOIN nn
    """,
    doc="Distributed covariance of the embedding corpus as EXACT "
    "integer moments - the aggregation half of scalable PCA/whitening "
    "(compute XtX + column sums in one pass; eigendecompose the tiny "
    "dim x dim result driver-side). Each vector expands to its "
    "upper-triangle outer-product cells MAP-SIDE (same higher-order "
    "array expansion as the co-order pair family - no self-join, no "
    "explode x explode shuffle); the only shuffle carries dim(dim+1)/2 "
    "= 2080 partial-sum cells per partition. Elements are double-"
    "promoted then milli-quantized (float32 corpus; integer products "
    "sum exactly, order-independent - n*s_ij and s_i*s_j stay under "
    "2^63 here; DECIMAL(38) is the drop-in at 100 TB). cov_milli2 = "
    "(n*s_ij - s_i*s_j)/n^2 is ONE exact-int-to-double cast and one "
    "correctly-rounded division - bit-identical on both engines.",
    tags=("llm", "vector", "aggregation", "stats"),
)
def embedding_covariance_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    cr = _moment_cells(emb).select("i", "j", "s_ij")
    el = emb.select(F.posexplode(_milli_vec()).alias("idx", "m"))
    s = el.groupBy(F.col("idx").cast("bigint").alias("idx")).agg(
        F.sum("m").alias("sm")
    )
    nn = emb.agg(F.count(F.lit(1)).alias("n"))
    si = s.select(F.col("idx").alias("i"), F.col("sm").alias("s_i"))
    sj = s.select(F.col("idx").alias("j"), F.col("sm").alias("s_j"))
    out = (
        cr.join(F.broadcast(si), "i")
        .join(F.broadcast(sj), "j")
        .crossJoin(F.broadcast(nn))
    )
    cov = (
        (F.col("n") * F.col("s_ij") - F.col("s_i") * F.col("s_j"))
        .cast("bigint")
        .cast("double")
        / (F.col("n").cast("double") * F.col("n"))
    )
    return out.select(
        "i", "j", "s_ij", "s_i", "s_j", "n", cov.alias("cov_milli2")
    )


@register(
    "embedding_pca_project",
    # No oracle: eigendecomposition has no DuckDB twin. Rows-only here;
    # tests/test_llm_ops.py cross-checks the projection against a pure
    # numpy PCA on the same corpus.
    doc="Scalable PCA projection (the dimensionality-reduction / "
    "whitening stage of an embedding pipeline): the exact integer "
    "moment cells of embedding_covariance_moments collapse to the "
    "dim x dim covariance DRIVER-side (2080 cells - constant, "
    "data-independent), numpy.linalg.eigh extracts the top-2 "
    "components (sign-fixed: largest-|coefficient| coordinate "
    "positive), and the projection matrix rides back as a BROADCAST "
    "literal evaluated with zip_with/aggregate folds - one map-side "
    "pass over the corpus, no shuffle, no Python on executors. At "
    "100 TB only the moment aggregation sees data; the eigh input "
    "never grows.",
    tags=("llm", "vector", "similarity"),
)
def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from ..catalog import REGISTRY

    cells = REGISTRY["embedding_covariance_moments"].fn(
        spark, sf_dir
    ).toPandas()
    d = int(max(cells.i.max(), cells.j.max())) + 1
    n = float(cells.n.iloc[0])
    cov = np.zeros((d, d))
    cov[cells.i, cells.j] = cells.cov_milli2
    cov[cells.j, cells.i] = cells.cov_milli2
    mean_milli = np.zeros(d)
    diag = cells[cells.i == cells.j]
    mean_milli[diag.i] = diag.s_i / n
    _, vecs = np.linalg.eigh(cov)
    top = vecs[:, ::-1][:, :2].copy()
    for k in range(2):
        m = int(np.argmax(np.abs(top[:, k])))
        if top[m, k] < 0:
            top[:, k] = -top[:, k]

    emb = load(spark, sf_dir, "embeddings")
    centered = F.zip_with(
        F.transform(
            "embedding",
            lambda e: F.round(e.cast("double") * 1000).cast("double"),
        ),
        F.array(*[F.lit(float(v)) for v in mean_milli]),
        lambda m, mu: m - mu,
    )
    with_c = emb.select("vec_id", centered.alias("c"))

    def proj(k: int):
        comp = F.array(*[F.lit(float(v)) for v in top[:, k]])
        return F.aggregate(
            F.zip_with(F.col("c"), comp, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    return with_c.select(
        "vec_id", proj(0).alias("pc1"), proj(1).alias("pc2")
    )


@register(
    "embedding_quality_checks",
    oracle="""
    WITH mode_dim AS (
        SELECT len(embedding) AS d FROM embeddings
        GROUP BY 1 ORDER BY count(*) DESC, d LIMIT 1
    ),
    per_vec AS (
        SELECT vec_id,
               len(embedding) AS dim,
               len(list_filter(embedding, e -> isnan(e))) > 0 AS has_nan,
               len(list_filter(embedding,
                   e -> abs(e) = CAST('Infinity' AS DOUBLE))) > 0 AS has_inf,
               len(list_filter(embedding, e -> e != 0.0)) = 0 AS zero_vec
        FROM embeddings
    )
    SELECT check_name, n_violations FROM (
        SELECT 'wrong_dim' AS check_name,
               CAST(count(*) FILTER (dim != (SELECT d FROM mode_dim))
                    AS BIGINT) AS n_violations, 0 AS ord
        FROM per_vec
        UNION ALL
        SELECT 'has_nan', CAST(count(*) FILTER (has_nan) AS BIGINT), 1
        FROM per_vec
        UNION ALL
        SELECT 'has_inf', CAST(count(*) FILTER (has_inf) AS BIGINT), 2
        FROM per_vec
        UNION ALL
        SELECT 'zero_vector', CAST(count(*) FILTER (zero_vec) AS BIGINT), 3
        FROM per_vec
        UNION ALL
        SELECT '__n_vectors', CAST(count(*) AS BIGINT), 4 FROM per_vec
    ) ORDER BY ord
    """,
    doc="Data-quality gate for the embedding corpus — the dbt-test "
    "discipline (SURVEY §2.12) extended to the vector column the ANN/"
    "dedup family consumes: dimension drift vs the corpus mode, NaN / "
    "Infinity elements (which silently poison every cosine and L2 "
    "kernel downstream), and zero vectors (undefined cosine). One "
    "map-side pass with higher-order predicates folded into ONE "
    "aggregation — no explode, no shuffle before the 5-row rollup. "
    "The __n_vectors row keeps the oracle non-vacuous when a clean "
    "corpus yields zero violations.",
    tags=("llm", "vector", "quality"),
)
def embedding_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    inf = F.lit(float("inf"))
    per = emb.select(
        F.size("embedding").alias("dim"),
        F.exists("embedding", lambda e: F.isnan(e)).alias("has_nan"),
        F.exists("embedding", lambda e: F.abs(e) == inf).alias("has_inf"),
        (~F.exists("embedding", lambda e: e != 0.0)).alias("zero_vec"),
    )
    mode_dim = (
        per.groupBy("dim")
        .count()
        .orderBy(F.col("count").desc(), "dim")
        .limit(1)
        .select(F.col("dim").alias("mode_d"))
    )
    agg = per.crossJoin(F.broadcast(mode_dim)).agg(
        F.count_if(F.col("dim") != F.col("mode_d")).alias("wrong_dim"),
        F.count_if("has_nan").alias("has_nan"),
        F.count_if("has_inf").alias("has_inf"),
        F.count_if("zero_vec").alias("zero_vector"),
        F.count(F.lit(1)).alias("__n_vectors"),
    )
    rows = [
        ("wrong_dim", "wrong_dim"),
        ("has_nan", "has_nan"),
        ("has_inf", "has_inf"),
        ("zero_vector", "zero_vector"),
        ("__n_vectors", "__n_vectors"),
    ]
    stacked = agg.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(name).alias("check_name"),
                    F.col(col).cast("bigint").alias("n_violations"),
                )
                for name, col in rows
            ])
        ).alias("r")
    )
    return stacked.select("r.check_name", "r.n_violations")


def _milli_vec() -> Column:
    """``embedding`` in exact integer milli units. The element is
    float32: BOTH engines must promote to double BEFORE the x1000 —
    DuckDB otherwise multiplies in float where 0.3195f*1000 is exactly
    319.5f (rounds 320) while double math gives 319.4999... (rounds
    319); one sf0.1 vector hits this."""
    return F.transform(
        "embedding",
        lambda e: F.round(e.cast("double") * 1000).cast("bigint"),
    )


def _spread_vecs(df: DataFrame) -> DataFrame:
    """Spread an embedding frame across the session parallelism, keyed
    by vec_id — the embeddings twin of ``_spread`` (single parquet file
    → one input partition, so a dim²-amplifying explode would run on
    one core). Gated on the actual partition count so an already-wide
    input (a real cluster scan) pays NO extra shuffle."""
    n = shuffle_width(df.sparkSession)
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n, "vec_id")


def _moment_cells(df: DataFrame) -> DataFrame:
    """The mergeable covariance moment state of an embedding frame:
    upper-triangle outer-product cells (i, j, s_ij, n) in exact milli
    units, expanded map-side per vector (no self-join) and aggregated
    behind one dim(dim+1)/2-cell shuffle. States from disjoint batches
    merge by cell-wise addition — the monoid the incremental and
    streaming covariance paths rely on. The input is spread first
    (r11): the dim(dim+1)/2-per-vector expansion is the hot loop and a
    single-file source would otherwise run it on one core."""
    mv = _spread_vecs(df).select(_milli_vec().alias("m"))
    cells = F.flatten(
        F.transform(
            "m",
            lambda x, i: F.transform(
                F.slice(F.col("m"), i + F.lit(1), F.size("m")),
                lambda y, j: F.struct(
                    i.cast("bigint").alias("i"),
                    (i + j).cast("bigint").alias("j"),
                    (x * y).alias("p"),
                ),
            ),
        )
    )
    return (
        mv.select(F.explode(cells).alias("c"))
        .groupBy(F.col("c.i").alias("i"), F.col("c.j").alias("j"))
        .agg(
            F.sum("c.p").alias("s_ij"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "incremental_covariance_update",
    oracle="""
    WITH el AS (
        SELECT vec_id, u.idx, u.m FROM (
            SELECT vec_id,
                   unnest(list_transform(embedding, (e, i) -> struct_pack(
                       idx := CAST(i AS BIGINT) - 1,
                       m := CAST(round(CAST(e AS DOUBLE) * 1000) AS BIGINT)
                   ))) AS u
            FROM embeddings)
    )
    SELECT a.idx AS i, b.idx AS j,
           CAST(CAST(sum(a.m * b.m) AS BIGINT) AS BIGINT) AS s_ij,
           CAST(count(DISTINCT a.vec_id) AS BIGINT) AS n
    FROM el a JOIN el b
      ON a.vec_id = b.vec_id AND a.idx <= b.idx
    GROUP BY 1, 2
    """,
    doc="INCREMENTAL covariance maintenance - the moment cells are a "
    "commutative monoid (n, s_i, s_ij add), so growing a training "
    "corpus never recomputes the base: the corpus splits into a "
    "'base' (vec_id hash-thinned ~90%) and a 'delta' batch, each side "
    "aggregates its own cells INDEPENDENTLY, and the merged state is "
    "a cell-wise SUM of the two constant-size states (4 krows each) - "
    "the same never-reshuffle-the-corpus design as "
    "incremental_minhash_dedup, and the maintenance story behind "
    "embedding_pca_project (refresh PCA per ingest without a full "
    "pass). The oracle computes the same cells over the WHOLE corpus "
    "in one shot; hash-equality proves merge associativity "
    "cross-engine (exact integers - float moments would drift under "
    "reassociation).",
    tags=("llm", "vector", "aggregation", "incremental"),
)
def incremental_covariance_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    # deterministic split: ~90% base corpus, ~10% newly-arrived delta
    is_delta = (F.col("vec_id") * F.lit(2654435761)) % 10 == 0

    base = _moment_cells(emb.filter(~is_delta))
    delta = _moment_cells(emb.filter(is_delta))
    # monoid merge: cell-wise addition of the two independent states
    merged = (
        base.unionByName(delta)
        .groupBy("i", "j")
        .agg(
            F.sum("s_ij").alias("s_ij"),
            F.sum("n").alias("n"),
        )
    )
    return merged.select("i", "j", "s_ij", "n")


@register(
    "streaming_covariance_maintenance",
    oracle="""
    WITH el AS (
        SELECT vec_id, u.idx, u.m FROM (
            SELECT vec_id,
                   unnest(list_transform(embedding, (e, i) -> struct_pack(
                       idx := CAST(i AS BIGINT) - 1,
                       m := CAST(round(CAST(e AS DOUBLE) * 1000) AS BIGINT)
                   ))) AS u
            FROM embeddings)
    )
    SELECT a.idx AS i, b.idx AS j,
           CAST(CAST(sum(a.m * b.m) AS BIGINT) AS BIGINT) AS s_ij,
           CAST(count(DISTINCT a.vec_id) AS BIGINT) AS n
    FROM el a JOIN el b
      ON a.vec_id = b.vec_id AND a.idx <= b.idx
    GROUP BY 1, 2
    """,
    doc="STREAMING covariance maintenance: the embedding corpus is "
    "staged as three parquet chunks and consumed as a real file-source "
    "stream (maxFilesPerTrigger=1 -> three micro-batches, "
    "AvailableNow); each micro-batch computes its own constant-size "
    "moment-cell state (_moment_cells) and a foreachBatch sink folds "
    "it into the persisted state by cell-wise ADDITION (read + union + "
    "re-aggregate + atomic temp-swap - a 4 krow rewrite regardless of "
    "corpus size). Because the state is a commutative monoid, the "
    "arrival ORDER of micro-batches cannot change the final table - "
    "which is exactly what makes a streaming job's output "
    "strict-oracle-checkable against the one-shot whole-corpus DuckDB "
    "aggregation. The streaming twin of incremental_covariance_update "
    "and the live-refresh path for embedding_pca_project.",
    tags=("streaming", "llm", "vector", "aggregation", "incremental"),
)
def streaming_covariance_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    state = run_stream_fold(
        load(spark, sf_dir, "embeddings"),
        "vec_id",
        _moment_cells,
        lambda cells: cells.groupBy("i", "j").agg(
            F.sum("s_ij").alias("s_ij"), F.sum("n").alias("n")
        ),
    )
    return state.select("i", "j", "s_ij", "n")


@register(
    "embedding_norms_arrow",
    oracle="""
    SELECT vec_id,
           CAST(len(embedding) AS BIGINT) AS dim,
           CAST(list_aggregate(list_transform(embedding, e ->
               CAST(round(CAST(e AS DOUBLE) * 1000) AS BIGINT)
               * CAST(round(CAST(e AS DOUBLE) * 1000) AS BIGINT)),
               'sum') AS BIGINT) AS norm2_milli2
    FROM embeddings
    """,
    doc="mapInArrow kernel (the remaining Arrow UDF shape after "
    "pandas_udf / applyInPandas / mapInPandas / UDTF): per-vector "
    "squared L2 norm in exact integer milli^2 "
    "units, computed on raw pyarrow RecordBatches - list offsets "
    "sliced zero-copy into one numpy int64 vector op per batch, no "
    "pandas materialization at all (the lowest-overhead Python hook "
    "Spark offers). 1 batch in -> 1 batch out, map-side only; exact "
    "integers make the kernel hash-match the DuckDB fold regardless "
    "of batch boundaries.",
    tags=("llm", "vector", "udf"),
)
def embedding_norms_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    def norms(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            vec_id = batch.column("vec_id")
            emb = batch.column("embedding")
            # list<float>: values + offsets, sliced zero-copy
            flat = emb.values.to_numpy(zero_copy_only=False)
            offsets = emb.offsets.to_numpy(zero_copy_only=False)
            prod = flat.astype(np.float64) * 1000
            # DuckDB round() is half-AWAY-FROM-ZERO; np.rint is
            # half-even — an exact .5 product would diverge, so spell
            # the tie-break out (catalog determinism contract)
            milli = (
                np.sign(prod) * np.floor(np.abs(prod) + 0.5)
            ).astype(np.int64)
            sq = milli * milli
            csum = np.concatenate(([0], np.cumsum(sq)))
            norm2 = csum[offsets[1:]] - csum[offsets[:-1]]
            dim = (offsets[1:] - offsets[:-1]).astype(np.int64)
            yield pa.RecordBatch.from_arrays(
                [
                    vec_id,
                    pa.array(dim, type=pa.int64()),
                    pa.array(norm2, type=pa.int64()),
                ],
                names=["vec_id", "dim", "norm2_milli2"],
            )

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return emb.mapInArrow(
        norms, "vec_id bigint, dim bigint, norm2_milli2 bigint"
    )


@register(
    "source_char_moments_arrow",
    oracle="""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(CAST(sum(n_chars) AS BIGINT) AS BIGINT) AS sum_chars,
           CAST(CAST(sum(n_chars * n_chars) AS BIGINT) AS BIGINT)
               AS sum_chars_sq,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM documents
    GROUP BY source
    """,
    doc="applyInArrow grouped-map kernel (completing the Arrow shape "
    "matrix: scalar/grouped-agg pandas_udf, applyInPandas, "
    "mapInPandas, UDTF, mapInArrow, and now "
    "grouped applyInArrow): per-source exact integer moment stats of "
    "document length (n, sum, sum-of-squares, min, max) computed "
    "directly on the group's RecordBatches with numpy int64 - no "
    "pandas, and the moment tuple is the re-aggregable state the "
    "incremental/streaming rollups build on. In production the "
    "built-in agg wins (this is the API-coverage proof); exact "
    "integers keep it hash-matched to the DuckDB GROUP BY.",
    tags=("llm", "text", "udf", "aggregation"),
)
def source_char_moments_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    def moments(key, table):
        import numpy as np
        import pyarrow as pa

        c = table.column("n_chars").to_numpy(zero_copy_only=False)
        c = c.astype(np.int64)
        return pa.Table.from_arrays(
            [
                pa.array([key[0].as_py()], type=pa.string()),
                pa.array([len(c)], type=pa.int64()),
                pa.array([int(c.sum())], type=pa.int64()),
                pa.array([int((c * c).sum())], type=pa.int64()),
                pa.array([int(c.min())], type=pa.int64()),
                pa.array([int(c.max())], type=pa.int64()),
            ],
            names=[
                "source", "n_docs", "sum_chars", "sum_chars_sq",
                "min_chars", "max_chars",
            ],
        )

    docs = load(spark, sf_dir, "documents").select("source", "n_chars")
    return docs.groupBy("source").applyInArrow(
        moments,
        "source string, n_docs bigint, sum_chars bigint, "
        "sum_chars_sq bigint, min_chars bigint, max_chars bigint",
    )


_SEMDEDUP_K = 16  # centroid count; production scales K with corpus size
_SEMDEDUP_TAU = 0.45  # within-cluster cosine threshold ("1 - eps")


@register(
    "semdedup_prune",
    oracle=f"""
    WITH cent AS (SELECT vec_id AS cell_id, embedding AS c_emb
                  FROM embeddings WHERE vec_id < {_SEMDEDUP_K}),
    scored AS (
        SELECT e.vec_id, c.cell_id,
               round({cosine_sql('e.embedding', 'c.c_emb')}, 6) AS csim
        FROM embeddings e CROSS JOIN cent c
    ),
    assign AS (
        SELECT vec_id, cell_id, csim FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                ORDER BY csim DESC, cell_id) AS rn FROM scored) t
        WHERE rn = 1
    ),
    assigned AS (
        SELECT a.vec_id, a.cell_id, a.csim, e.embedding
        FROM assign a JOIN embeddings e USING (vec_id)
    ),
    pairs AS (
        SELECT b.vec_id, b.cell_id, b.csim
        FROM assigned a JOIN assigned b
          ON a.cell_id = b.cell_id
         AND ((a.csim < b.csim)
              OR (a.csim = b.csim AND a.vec_id < b.vec_id))
        WHERE round({cosine_sql('a.embedding', 'b.embedding')}, 6)
              >= {_SEMDEDUP_TAU}
    )
    SELECT vec_id, cell_id, csim AS centroid_sim,
           CAST(count(*) AS BIGINT) AS n_witnesses
    FROM pairs GROUP BY vec_id, cell_id, csim
    """,
    doc="SemDeDup-style semantic deduplication (Abbas et al. 2023): "
    "cluster embeddings to a FIXED set of centroids (deterministic "
    f"seeds vec_id < {_SEMDEDUP_K}, broadcast — assignment is a "
    "map-side O(n*k) score + skinny max_by argmax, embeddings never "
    "ride that shuffle), then WITHIN each cluster mark a vector as a "
    "semantic duplicate iff some cluster-mate has cosine >= tau and "
    "sits strictly closer to the centroid (ties to lower vec_id) — "
    "the paper's keep-the-far-from-centroid rule, expressed as a "
    "relational semi-structure rather than a greedy sequential scan "
    "so it is order-independent and strictly oracle-able. Distinct "
    "from embedding_near_dup_lsh: bucketing here is by LEARNED "
    "centroid cells (data-adaptive, what SemDeDup actually does), "
    "not random hyperplanes. Scale story: the only corpus-sized "
    "shuffles are the argmax agg and the cell-id self-join; pair "
    "rows exist only between the join and the map-side-combined "
    "witness count, never materialized to disk. At 100 TB the paper "
    "scales K proportionally to n (50k clusters for LAION), keeping "
    "per-cell pair cost bounded; K is a constant here only because "
    "the test corpus is small.",
    tags=("llm", "dedup", "similarity", "embedding"),
)
def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Norms are precomputed ONCE per vector (n + K norm folds) instead
    # of re-derived inside every pairwise cosine (3 interpreted folds
    # per pair -> 1): cosine(a,b) = dot(a,b)/(nrm_a*nrm_b) evaluates
    # the bit-identical IEEE expression — norm(x) is the same fold,
    # and the division by the product is the same association cosine()
    # uses — so oracle hashes are unchanged (r10 measured the n·K
    # assignment 0.85 s -> 0.44 s at sf0.1 from this alone).
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", norm(F.col("embedding")).alias("nrm")
    )
    cent = emb.filter(F.col("vec_id") < _SEMDEDUP_K).select(
        F.col("vec_id").alias("cell_id"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
    )
    assign = (
        emb.crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "cell_id",
            F.round(
                dot(F.col("embedding"), F.col("c_emb"))
                / (F.col("nrm") * F.col("c_nrm")),
                6,
            ).alias("csim"),
        )
        .groupBy("vec_id")
        .agg(
            F.max_by(
                F.struct("cell_id", "csim"),
                F.struct(F.col("csim"), (-F.col("cell_id")).alias("nid")),
            ).alias("best")
        )
        .select("vec_id", "best.cell_id", "best.csim")
    )
    # Two consumers below (both sides of the cell self-join): without a
    # checkpoint the whole n·K assignment re-executes per side (the
    # known no-ReusedExchange-for-differently-projected-branches
    # gotcha); the table is corpus-row-sized but skinny.
    assigned = assign.join(emb, "vec_id").localCheckpoint(eager=True)
    a = assigned.select(
        F.col("cell_id").alias("a_cell"),
        F.col("csim").alias("a_csim"),
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("a_emb"),
        F.col("nrm").alias("a_nrm"),
    )
    b = assigned.select(
        F.col("cell_id").alias("b_cell"),
        F.col("csim").alias("b_csim"),
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("b_emb"),
        F.col("nrm").alias("b_nrm"),
    )
    # The whole verify chain lives IN the join condition, cheapest kill
    # first (r7 join-condition lesson): the integer/float ordering
    # predicate halves the candidate pairs before any cosine fold runs.
    # Left as a trailing .filter, Catalyst pushes the cosine in FRONT
    # of the cheap conjunct.
    pairs = a.join(
        b,
        (F.col("a_cell") == F.col("b_cell"))
        & (
            (F.col("a_csim") < F.col("b_csim"))
            | (
                (F.col("a_csim") == F.col("b_csim"))
                & (F.col("a_id") < F.col("b_id"))
            )
        )
        & (
            F.round(
                dot(F.col("a_emb"), F.col("b_emb"))
                / (F.col("a_nrm") * F.col("b_nrm")),
                6,
            )
            >= _SEMDEDUP_TAU
        ),
    )
    return (
        pairs.groupBy(
            F.col("b_id").alias("vec_id"),
            F.col("b_cell").alias("cell_id"),
            F.col("b_csim").alias("centroid_sim"),
        )
        .agg(F.count(F.lit(1)).alias("n_witnesses"))
    )


_KANON_K = 5  # minimum group size for release


@register(
    "k_anonymity_release",
    oracle=f"""
    WITH g AS (
        SELECT n.n_name AS nation_name, c.c_mktsegment AS mktsegment,
               CAST(count(*) AS BIGINT) AS n_customers,
               CAST(sum(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS BIGINT)
                   AS acctbal_cents
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2)
    SELECT nation_name, mktsegment, n_customers, acctbal_cents
    FROM g WHERE n_customers >= {_KANON_K}
    UNION ALL
    SELECT '*' AS nation_name, '*' AS mktsegment,
           CAST(sum(n_customers) AS BIGINT) AS n_customers,
           CAST(sum(acctbal_cents) AS BIGINT) AS acctbal_cents
    FROM g WHERE n_customers < {_KANON_K} HAVING count(*) > 0
    """,
    doc="k-anonymity release: aggregate over the quasi-identifier "
    "(nation, market segment) and publish a cell only when it covers "
    f">= k={_KANON_K} individuals; every smaller cell is suppressed "
    "into a single '*' remainder bucket so no released row can "
    "re-identify a small population — the privacy gate a training-"
    "data pipeline runs before exporting per-slice stats (complements "
    "pii_redaction, which scrubs record contents; this protects the "
    "AGGREGATE release). Relational, order-independent, exact integer "
    "cents. Scale: nation dim broadcast, the groupBy is map-side "
    "combinable over ~|nations×segments| cells, and the suppression "
    "pass runs on the already-aggregated cell table (constant-size), "
    "so the corpus is read exactly once at any scale. sf0.001 "
    "exercises both branches (3 released cells + remainder); at "
    "larger SFs every cell clears k and the remainder row vanishes "
    "(HAVING guard keeps both engines consistent on that edge).",
    tags=("llm", "privacy", "aggregation"),
)
def k_anonymity_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    nat = load(spark, sf_dir, "nation")
    cents = F.round(F.col("c_acctbal") * 100).cast("bigint")
    g = (
        cust.join(
            F.broadcast(nat), cust["c_nationkey"] == nat["n_nationkey"]
        )
        .groupBy(
            F.col("n_name").alias("nation_name"),
            F.col("c_mktsegment").alias("mktsegment"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(cents).alias("acctbal_cents"),
        )
    )
    released = g.filter(F.col("n_customers") >= _KANON_K)
    remainder = (
        g.filter(F.col("n_customers") < _KANON_K)
        .agg(
            F.sum("n_customers").alias("n_customers"),
            F.sum("acctbal_cents").alias("acctbal_cents"),
        )
        .select(
            F.lit("*").alias("nation_name"),
            F.lit("*").alias("mktsegment"),
            "n_customers",
            "acctbal_cents",
        )
        .filter(F.col("n_customers").isNotNull())
    )
    return released.unionByName(remainder)


_SPAN_W = 8  # exact-substring window width, in tokens


@register(
    "exact_substring_spans",
    oracle=f"""
    WITH pos AS (
        SELECT doc_id, s.pos AS pos, s.sh AS sh
        FROM (SELECT doc_id,
                     unnest(list_transform({shingles_sql('toks', _SPAN_W)},
                         (g, i) -> struct_pack(sh := g, pos := i))) AS s
              FROM ({_TOK_CTE}))),
    dup AS (SELECT sh FROM pos GROUP BY sh
            HAVING count(DISTINCT doc_id) >= 2),
    flagged AS (SELECT doc_id, pos FROM pos
                WHERE sh IN (SELECT sh FROM dup)),
    isl AS (
        SELECT doc_id, pos,
               CASE WHEN pos - lag(pos) OVER
                        (PARTITION BY doc_id ORDER BY pos) <= {_SPAN_W}
                    THEN 0 ELSE 1 END AS brk
        FROM flagged),
    grp AS (SELECT doc_id, pos,
                   sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS g
            FROM isl)
    SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
           CAST(max(pos) + {_SPAN_W - 1} AS BIGINT) AS span_end,
           CAST(count(*) AS BIGINT) AS n_windows
    FROM grp GROUP BY doc_id, g
    """,
    doc="Exact-substring duplicate SPANS (Lee et al. 2022, 'Deduplicating "
    "Training Data Makes Language Models Better' — the suffix-array "
    "ExactSubstr dedup, re-expressed relationally): every width-8 token "
    "window that also occurs in another document is flagged, and "
    "overlapping flagged windows are merged per doc into maximal "
    "[span_start, span_end] token ranges (gaps-and-islands) — the spans "
    "a dedup pass would CUT, versus doc-level kill lists. Finds the "
    "seeded 64-char boilerplate prefixes and full near-dup bodies at "
    "every SF. Scale: the window table is shingle-keyed (map-side "
    "explode, no self-join); duplicated shingles come from one "
    "count-distinct agg; the flag join is a semi-join on the shingle "
    "key (AQE broadcasts it when the dup set is small, stays a shuffle "
    "join when duplication is corpus-scale); the islands pass is a "
    "doc-keyed window — every shuffle is keyed by high-cardinality "
    "shingle or doc_id, nothing pairwise. Reference analogue: the "
    "pipeline's dedup stage (extract_forex.py:214 drop_duplicates) "
    "generalized to sub-document granularity.",
    tags=("llm", "dedup", "text"),
    shard_key="doc_id",
)
def exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(load(spark, sf_dir, "documents"))
    pos = docs.select(
        "doc_id",
        F.posexplode(shingles(tokens(F.col("text")), _SPAN_W)).alias(
            "pos0", "sh"
        ),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "sh")
    dup = (
        pos.groupBy("sh")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("sh")
    )
    flagged = pos.join(dup, "sh", "left_semi").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = flagged.withColumn(
        "brk",
        F.when(F.col("pos") - F.lag("pos").over(w) <= _SPAN_W, F.lit(0))
        .otherwise(F.lit(1)),
    )
    grp = isl.withColumn("g", F.sum("brk").over(w))
    return (
        grp.groupBy("doc_id", "g")
        .agg(
            F.min("pos").cast("bigint").alias("span_start"),
            (F.max("pos") + (_SPAN_W - 1)).cast("bigint").alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .select("doc_id", "span_start", "span_end", "n_windows")
    )


@register(
    "alpha_mixture_weights",
    oracle="""
    WITH per AS (
        SELECT lang, CAST(sum(n_chars) AS BIGINT) AS n_chars
        FROM documents GROUP BY lang),
    tot AS (
        SELECT lang, n_chars,
               CAST(n_chars AS DOUBLE)
                   / CAST(sum(n_chars) OVER () AS DOUBLE) AS share,
               sqrt(CAST(n_chars AS DOUBLE)
                    / CAST(sum(n_chars) OVER () AS DOUBLE)) AS aw
        FROM per)
    SELECT lang, n_chars, share,
           aw / max(aw) OVER () AS alpha_weight_rel,
           (aw / max(aw) OVER ()) / share AS boost
    FROM tot
    """,
    doc="Temperature-based multilingual mixture weights (the XLM-R/mT5 "
    "alpha-sampling step, alpha = 0.5): per-language corpus share "
    "p_l, unnormalized weight p_l^alpha, and the low-resource BOOST "
    "factor (relative up-sampling each language receives vs its "
    "natural frequency) — the step that DERIVES the sampling targets "
    "weighted_mixture_sample then APPLIES. Determinism: every float "
    "is a chain of correctly-rounded IEEE ops (double divide, sqrt, "
    "divide) on identical integer inputs, so no rounding is needed; "
    "normalization is by the MAX weight (order-independent), never a "
    "float sum. Scale: one map-side-combinable groupBy over the "
    "corpus; the window pass runs on the |languages|-row aggregate "
    "(constant size), so the corpus is read exactly once.",
    tags=("llm", "curation", "sampling"),
)
def alpha_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    per = (
        load(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.sum("n_chars").cast("bigint").alias("n_chars"))
    )
    w = Window.partitionBy()
    share = F.col("n_chars").cast("double") / F.sum("n_chars").over(w).cast(
        "double"
    )
    tot = per.select(
        "lang", "n_chars", share.alias("share"), F.sqrt(share).alias("aw")
    )
    rel = F.col("aw") / F.max("aw").over(w)
    return tot.select(
        "lang",
        "n_chars",
        "share",
        rel.alias("alpha_weight_rel"),
        (rel / F.col("share")).alias("boost"),
    )


#: hand-set stand-ins for trained fastText-style coefficients —
#: broadcast literals; swap in learned weights without a plan change
_QC_BIAS, _QC_W_SW, _QC_W_MTL, _QC_W_DR, _QC_W_LEN = 0.2, 8.0, -0.4, 2.0, 1.5


def _qc_features(docs: DataFrame, *cols: str | Column) -> DataFrame:
    """``cols`` of each document, then the linearized quality
    classifier's features: stopword ratio, mean token length,
    distinct-token ratio and length capped at 400 tokens, each an
    int/int division (correctly rounded, bit-identical across
    engines). ``quality_classifier_logit`` and the ``classifier_*``
    evaluations in ``ml_q`` score the same model."""
    toks = tokens(F.col("text"))
    n = F.size(toks)
    return docs.select(
        *cols,
        (stopword_hits(toks).cast("double") / n).alias("sw_ratio"),
        (
            F.length(F.translate(F.col("text"), " ", "")).cast("double") / n
        ).alias("mean_tok_len"),
        (F.size(F.array_distinct(toks)).cast("double") / n).alias(
            "distinct_ratio"
        ),
        (F.least(n, F.lit(400)).cast("double") / F.lit(400.0)).alias(
            "len_norm"
        ),
    )


def _qc_logit() -> Column:
    """The classifier's logit over ``_qc_features``' columns: a
    FIXED-association multiply/add chain, the one the oracles spell."""
    return (
        (
            (
                (F.lit(_QC_BIAS) + F.lit(_QC_W_SW) * F.col("sw_ratio"))
                + F.lit(_QC_W_MTL) * F.col("mean_tok_len")
            )
            + F.lit(_QC_W_DR) * F.col("distinct_ratio")
        )
        + F.lit(_QC_W_LEN) * F.col("len_norm")
    )


@register(
    "quality_classifier_logit",
    oracle=f"""
    WITH t AS (SELECT doc_id, text, {tokens_sql('text')} AS toks
               FROM documents),
    f AS (SELECT doc_id,
            CAST({stopword_hits_sql('toks')} AS DOUBLE) / len(toks)
                AS sw_ratio,
            CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(toks)
                AS mean_tok_len,
            CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
                AS distinct_ratio,
            CAST(least(len(toks), 400) AS DOUBLE) / 400.0 AS len_norm
          FROM t)
    SELECT doc_id, sw_ratio, mean_tok_len, distinct_ratio, len_norm,
           (((({_QC_BIAS} + {_QC_W_SW}*sw_ratio)
               + {_QC_W_MTL}*mean_tok_len)
               + {_QC_W_DR}*distinct_ratio)
               + {_QC_W_LEN}*len_norm) AS logit,
           CAST((((({_QC_BIAS} + {_QC_W_SW}*sw_ratio)
               + {_QC_W_MTL}*mean_tok_len)
               + {_QC_W_DR}*distinct_ratio)
               + {_QC_W_LEN}*len_norm) > 0 AS BOOLEAN) AS keep
    FROM f
    """,
    doc="Model-based quality scoring (the CCNet/LLaMA fastText-filter "
    "step, linearized): per-doc interpretable features (stopword "
    "ratio, mean token length, distinct-token ratio, capped length) "
    "dotted with a broadcast weight vector; emits the raw LOGIT and "
    "the keep verdict (~55% keep at every test SF, a real decision "
    "boundary). Unlike quality_filter's hard rules this is the "
    "learned-scoring surface: weights are literals standing in for "
    "trained coefficients — swapping in a real model changes no "
    "plan. Determinism: every feature is an int/int division "
    "(correctly rounded) and the dot product is a FIXED-association "
    "multiply/add chain of identical doubles, so all floats are "
    "bit-identical across engines with no rounding; sigmoid is "
    "deliberately not applied (exp is transcendental and "
    "monotone — the verdict only needs the logit's sign). Pure "
    "map-side: no shuffle at any scale.",
    tags=("llm", "text", "quality"),
)
def quality_classifier_logit(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = _qc_features(load(spark, sf_dir, "documents"), "doc_id")
    logit = _qc_logit()
    return feats.select(
        "doc_id",
        "sw_ratio",
        "mean_tok_len",
        "distinct_ratio",
        "len_norm",
        logit.alias("logit"),
        (logit > 0).alias("keep"),
    )


_DSIR_B = 256  # hashed-feature buckets (the DSIR paper hashes n-grams)


@register(
    "dsir_importance_weights",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, lang, unnest({{toks}}) AS term
        FROM documents),
    clean AS (
        SELECT doc_id, ({{mh}} % {_DSIR_B}) AS f,
               CAST(lang = 'en' AS INT) AS is_t
        FROM tok WHERE term != ''),
    fc AS (
        SELECT f, CAST(sum(is_t) AS BIGINT) AS ct,
               CAST(count(*) AS BIGINT) AS cr
        FROM clean GROUP BY f),
    tot AS (SELECT f, ct, cr,
                   CAST(sum(ct) OVER () AS BIGINT) AS nt,
                   CAST(sum(cr) OVER () AS BIGINT) AS nr
            FROM fc),
    scored AS (
        SELECT f,
               CAST(round((ln(CAST(ct + 1 AS DOUBLE)
                              / CAST(nt + {_DSIR_B} AS DOUBLE))
                         - ln(CAST(cr + 1 AS DOUBLE)
                              / CAST(nr + {_DSIR_B} AS DOUBLE)))
                         * 1000000) AS BIGINT) AS lr_micro
        FROM tot)
    SELECT c.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(CAST(sum(s.lr_micro) AS BIGINT) AS BIGINT) AS logw_micro,
           CAST(CAST(sum(s.lr_micro) AS BIGINT) AS DOUBLE)
               / (count(*) * 1000000) AS nats_per_token
    FROM clean c JOIN scored s ON c.f = s.f
    GROUP BY c.doc_id
    """.format(
        toks=tokens_sql("text"), mh=minhash_value_sql("term", 11)
    ),
    doc="DSIR importance weights (Xie et al. 2023, 'Data Selection for "
    "Language Models via Importance Resampling'): hashed unigram "
    "features (md5-affine bucket, B=256), Laplace-smoothed "
    "bag-of-buckets log-likelihood ratio between the TARGET domain "
    "(lang='en' slice) and the RAW corpus, summed per document — the "
    "importance weight that resamples raw data toward the target "
    "distribution. Determinism: the transcendental ln is rounded ONCE "
    "per feature BUCKET to integer micro-nats (the sanctioned "
    "unigram_surprisal pattern), then per-doc accumulation is an "
    "exact BIGINT sum — order-independent at any corpus size. Scale: "
    "the feature table is constant-size (B rows → broadcast to the "
    "per-token join); totals come from a window over that B-row "
    "aggregate, never a driver collect; the corpus is tokenized once "
    "(localCheckpoint shared by the count and the join passes).",
    tags=("llm", "curation", "quality"),
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(load(spark, sf_dir, "documents"))
    tok = (
        docs.select(
            "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("term")
        )
        .filter(F.col("term") != "")
        .select(
            "doc_id",
            (minhash_value(F.col("term"), 11) % _DSIR_B).alias("f"),
            (F.col("lang") == "en").cast("int").alias("is_t"),
        )
        # two consumers (bucket counts, per-doc join) — tokenize once
        .localCheckpoint(eager=True)
    )
    fc = tok.groupBy("f").agg(
        F.sum("is_t").cast("bigint").alias("ct"),
        F.count(F.lit(1)).alias("cr"),
    )
    w0 = Window.partitionBy()
    tot = fc.select(
        "f",
        "ct",
        "cr",
        F.sum("ct").over(w0).cast("bigint").alias("nt"),
        F.sum("cr").over(w0).cast("bigint").alias("nr"),
    )
    lr = F.log(
        (F.col("ct") + 1).cast("double")
        / (F.col("nt") + _DSIR_B).cast("double")
    ) - F.log(
        (F.col("cr") + 1).cast("double")
        / (F.col("nr") + _DSIR_B).cast("double")
    )
    scored = tot.select(
        "f", F.round(lr * 1000000).cast("bigint").alias("lr_micro")
    )
    return (
        tok.join(F.broadcast(scored), "f")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("lr_micro").cast("bigint").alias("logw_micro"),
            (
                F.sum("lr_micro").cast("double")
                / (F.count(F.lit(1)) * 1000000)
            ).alias("nats_per_token"),
        )
    )


_N_SHARDS = 16


@register(
    "training_shard_layout",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id, n_chars,
               ({minhash_value_sql("CAST(doc_id AS VARCHAR)", 9)}) AS h
        FROM documents)
    SELECT doc_id, CAST(h % {_N_SHARDS} AS BIGINT) AS shard,
           CAST(row_number() OVER (PARTITION BY h % {_N_SHARDS}
                ORDER BY h, doc_id) AS BIGINT) AS pos,
           CAST(coalesce(sum(n_chars) OVER (PARTITION BY h % {_N_SHARDS}
                ORDER BY h, doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                AND 1 PRECEDING), 0) AS BIGINT) AS byte_off
    FROM keyed
    """,
    doc="Training-shard layout (the WebDataset/tar-writer step of corpus "
    "assembly): every document gets a DETERMINISTIC global-shuffle "
    "position — shard = keyed-hash mod 16, intra-shard order by "
    "(hash, doc_id), and the running byte offset the writer would "
    "place the record at (exclusive prefix sum of n_chars). "
    "Hash-ordering IS the global shuffle LLM training needs "
    "(sequential readers see a random document order), and it is "
    "rerun/retry-idempotent where rand() is not — identical layout "
    "on every engine and every retry. Scale: one shuffle keyed by "
    "shard; each shard sorts locally (the exact work a distributed "
    "tar writer does); offsets are exact BIGINT prefix sums, no "
    "floats anywhere. At 100 TB the mod constant widens to "
    "thousands of shards, same plan.",
    tags=("llm", "curation", "layout"),
)
def training_shard_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        "n_chars",
        minhash_value(F.col("doc_id").cast("string"), 9).alias("h"),
    ).withColumn("shard", (F.col("h") % _N_SHARDS).cast("bigint"))
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return keyed.select(
        "doc_id",
        "shard",
        F.row_number().over(w).cast("bigint").alias("pos"),
        F.coalesce(
            F.sum("n_chars").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        )
        .cast("bigint")
        .alias("byte_off"),
    )


from ..catalog import REGISTRY as _REGISTRY  # noqa: E402 — spans oracle reuse


@register(
    "exact_substring_dedup_report",
    oracle=f"""
    WITH spans AS ({_REGISTRY['exact_substring_spans'].oracle}),
    per_doc AS (
        SELECT doc_id, CAST(sum(span_end - span_start + 1) AS BIGINT)
               AS dup_tokens
        FROM spans GROUP BY doc_id),
    dt AS (SELECT doc_id, source,
                  CAST(len({tokens_sql('text')}) AS BIGINT) AS n_tokens
           FROM documents)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN p.dup_tokens IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS docs_with_dups,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(coalesce(p.dup_tokens, 0)) AS BIGINT) AS dup_tokens,
           CAST(sum(coalesce(p.dup_tokens, 0)) AS DOUBLE) / sum(n_tokens)
               AS dup_frac
    FROM dt LEFT JOIN per_doc p USING (doc_id)
    GROUP BY source
    """,
    doc="The APPLY half of ExactSubstr dedup: per-source accounting of "
    "how many tokens span-cutting would remove (docs touched, dup "
    "token mass, dup fraction) — the report a curation team reads "
    "before committing a cut, and the regression metric tracked "
    "across crawl snapshots. Composes the verified "
    "exact_substring_spans pipeline (called as a function — one "
    "definition, two consumers) with a doc-keyed LEFT join back to "
    "the corpus and a source-keyed rollup. Exact BIGINT token "
    "arithmetic; the single float is one int/int division per "
    "source. Scale: adds only a doc-keyed aggregate (span table is "
    "duplication-sized, far smaller than the corpus) and a "
    "|sources|-cell rollup on top of the spans plan.",
    tags=("llm", "dedup", "text"),
)
def exact_substring_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    spans = exact_substring_spans(spark, sf_dir)
    per_doc = spans.groupBy("doc_id").agg(
        F.sum(F.col("span_end") - F.col("span_start") + 1)
        .cast("bigint")
        .alias("dup_tokens")
    )
    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(tokens(F.col("text"))).cast("bigint").alias("n_tokens"),
    )
    joined = docs.join(per_doc, "doc_id", "left")
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.when(F.col("dup_tokens").isNotNull(), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("docs_with_dups"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.sum(F.coalesce(F.col("dup_tokens"), F.lit(0)))
        .cast("bigint")
        .alias("dup_tokens"),
        (
            F.sum(F.coalesce(F.col("dup_tokens"), F.lit(0))).cast("double")
            / F.sum("n_tokens")
        ).alias("dup_frac"),
    )


@register(
    "leakage_safe_split",
    oracle=f"""
    WITH cl AS ({{cluster_oracle}})
    SELECT doc_id, cluster_id,
           CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
               AS cluster_size,
           CASE WHEN ({{mh}} % 10) < 8 THEN 'train' ELSE 'eval' END
               AS split
    FROM cl
    """.format(
        cluster_oracle=_REGISTRY['dedup_clusters'].oracle,
        mh=minhash_value_sql("CAST(cluster_id AS VARCHAR)", 8),
    ),
    doc="Dedup-aware train/eval SPLIT assignment: every document is "
    "routed to a split by the deterministic hash of its near-dup "
    "CLUSTER representative (from the verified dedup_clusters "
    "connected components), not of the doc itself — so near-"
    "duplicates can never straddle the boundary and leak eval "
    "content into training (the split-level counterpart of "
    "decontamination; verified: max one split per cluster at every "
    "SF, ~80/20 at the corpus level). Hash thinning is rerun- and "
    "engine-idempotent (md5-affine family, no rand()). Scale: adds "
    "one cluster-keyed window (size audit) and a map-side hash to "
    "the CC pipeline; the assignment join is on the already-"
    "computed label table, never the corpus text.",
    tags=("llm", "curation", "dedup"),
)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    cl = dedup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    w = Window.partitionBy("cluster_id")
    split = F.when(
        minhash_value(F.col("cluster_id").cast("string"), 8) % 10 < 8,
        F.lit("train"),
    ).otherwise(F.lit("eval"))
    return cl.select(
        "doc_id",
        "cluster_id",
        F.count(F.lit(1)).over(w).cast("bigint").alias("cluster_size"),
        split.alias("split"),
    )


@register(
    "shard_mixture_audit",
    oracle=f"""
    WITH lay AS ({{lay}}),
    cell AS (
        SELECT l.shard, d.lang, CAST(count(*) AS BIGINT) AS n
        FROM lay l JOIN documents d USING (doc_id)
        GROUP BY l.shard, d.lang),
    tot AS (
        SELECT shard, lang, n,
               CAST(sum(n) OVER (PARTITION BY shard) AS BIGINT) AS shard_n,
               CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT) AS lang_n,
               CAST(sum(n) OVER () AS BIGINT) AS corpus_n
        FROM cell)
    SELECT shard, lang, n,
           CAST((n * 1000000) // shard_n AS BIGINT) AS actual_ppm,
           CAST((lang_n * 1000000) // corpus_n AS BIGINT) AS expected_ppm,
           CAST((n * 1000000) // shard_n
                - (lang_n * 1000000) // corpus_n AS BIGINT) AS deviation_ppm
    FROM tot
    """.format(lay=_REGISTRY['training_shard_layout'].oracle),
    doc="Shard-writer QA: per-(shard, language) document counts vs the "
    "corpus-level language mix, as exact integer ppm (floor division "
    "— identical on positives in both engines) — the audit that "
    "catches a broken shard hash before a training run sees "
    "correlated batches (deviation shrinks with scale for a healthy "
    "hash: ~24%→~5% max here from sf0.001→sf0.1). Composes the "
    "verified training_shard_layout. Scale: the doc-keyed join and "
    "the (shard, lang) groupBy are corpus-sized but map-side "
    "combinable; every window runs on the |shards|x|langs| cell "
    "table (constant size).",
    tags=("llm", "curation", "quality"),
)
def shard_mixture_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    lay = training_shard_layout(spark, sf_dir).select("doc_id", "shard")
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    cell = (
        lay.join(docs, "doc_id")
        .groupBy("shard", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    shard_n = F.sum("n").over(Window.partitionBy("shard")).cast("bigint")
    lang_n = F.sum("n").over(Window.partitionBy("lang")).cast("bigint")
    corpus_n = F.sum("n").over(Window.partitionBy()).cast("bigint")
    tot = cell.select(
        "shard",
        "lang",
        "n",
        shard_n.alias("shard_n"),
        lang_n.alias("lang_n"),
        corpus_n.alias("corpus_n"),
    )
    actual = F.expr("(n * 1000000) div shard_n").cast("bigint")
    expected = F.expr("(lang_n * 1000000) div corpus_n").cast("bigint")
    return tot.select(
        "shard",
        "lang",
        "n",
        actual.alias("actual_ppm"),
        expected.alias("expected_ppm"),
        (actual - expected).alias("deviation_ppm"),
    )


_BUCKET_CASE = (
    "CASE WHEN n <= 16 THEN 16 WHEN n <= 32 THEN 32 WHEN n <= 64 THEN 64 "
    "WHEN n <= 128 THEN 128 WHEN n <= 256 THEN 256 WHEN n <= 512 THEN 512 "
    "ELSE 1024 END"
)


@register(
    "length_bucket_batching",
    oracle=f"""
    WITH t AS (SELECT CAST(len({tokens_sql('text')}) AS BIGINT) AS n
               FROM documents),
    b AS (SELECT n, CAST({_BUCKET_CASE} AS BIGINT) AS bucket_len FROM t)
    SELECT bucket_len, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n) AS BIGINT) AS real_tokens,
           CAST(count(*) * bucket_len AS BIGINT) AS padded_tokens,
           CAST(((count(*) * bucket_len - sum(n)) * 1000000)
                // (count(*) * bucket_len) AS BIGINT) AS waste_ppm
    FROM b GROUP BY bucket_len
    """,
    doc="Length-bucketed batching audit (the dynamic-batching planning "
    "step of a training-data reader): documents are binned to power-"
    "of-two sequence buckets via an integer CASE ladder (NOT "
    "power(2, ceil(log2 n)) — transcendental log2 at exact powers "
    "ceils differently across engines), and each bucket reports the "
    "padding waste (padded minus real tokens, exact integer ppm) a "
    "batcher would pay at that bucket granularity — the number that "
    "decides whether to add finer buckets or pack sequences "
    "(sequence_packing is the zero-waste alternative this audit "
    "motivates). Pure map + one map-side-combinable groupBy over "
    "~7 cells; no shuffle of document payloads at any scale.",
    tags=("llm", "curation", "layout"),
)
def length_bucket_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    t = docs.select(
        F.size(tokens(F.col("text"))).cast("bigint").alias("n")
    )
    b = t.select("n", F.expr(_BUCKET_CASE).cast("bigint").alias("bucket_len"))
    return b.groupBy("bucket_len").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n").cast("bigint").alias("real_tokens"),
        (F.count(F.lit(1)) * F.col("bucket_len"))
        .cast("bigint")
        .alias("padded_tokens"),
        F.expr(
            "((count(1) * bucket_len - sum(n)) * 1000000)"
            " div (count(1) * bucket_len)"
        )
        .cast("bigint")
        .alias("waste_ppm"),
    )


_VOCAB_SIZES = (8, 16, 32, 64)


@register(
    "vocab_coverage_curve",
    oracle=f"""
    WITH tok AS (SELECT unnest({tokens_sql('text')}) AS term
                 FROM documents),
    tf AS (SELECT term, CAST(count(*) AS BIGINT) AS c
           FROM tok WHERE term != '' GROUP BY term),
    ranked AS (SELECT term, c,
                      CAST(row_number() OVER (ORDER BY c DESC, term)
                           AS BIGINT) AS rnk,
                      CAST(sum(c) OVER () AS BIGINT) AS total
               FROM tf)
    SELECT v.vocab_size,
           CAST(sum(CASE WHEN rnk <= v.vocab_size THEN c ELSE 0 END)
                AS BIGINT) AS covered_tokens,
           CAST(max(total) AS BIGINT) AS total_tokens,
           CAST((sum(CASE WHEN rnk <= v.vocab_size THEN c ELSE 0 END)
                 * 1000000) // max(total) AS BIGINT) AS coverage_ppm
    FROM ranked CROSS JOIN
         (VALUES {", ".join(f"({s})" for s in _VOCAB_SIZES)})
         v(vocab_size)
    GROUP BY v.vocab_size
    """,
    doc="Vocabulary-size selection curve (the tokenizer-design study "
    "BPE training starts from): token mass covered by the top-N "
    "terms at candidate vocab sizes, as exact integer ppm — the "
    "curve's knee picks the vocab size; its complement is the "
    "OOV/byte-fallback rate each size would pay. Frequency ranking "
    "is totally ordered (count desc, term asc tie-break), so both "
    "engines agree on every boundary term. Scale: the corpus "
    "collapses to a VOCAB-sized frequency table before any window "
    "(the rank sort is vocab-sized, same cost class as vocab_top20; "
    "a 1e8-term web vocab would swap in a distributed sort + "
    "cumulative partial sums, same curve); the candidate-size "
    "expansion multiplies only that table, never the corpus.",
    tags=("llm", "text", "topk"),
)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(load(spark, sf_dir, "documents"))
    tf = (
        docs.select(F.explode(tokens(F.col("text"))).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ranked = tf.select(
        "c",
        F.row_number()
        .over(Window.orderBy(F.col("c").desc(), "term"))
        .cast("bigint")
        .alias("rnk"),
        F.sum("c").over(Window.partitionBy()).cast("bigint").alias("total"),
    )
    sizes = F.explode(
        F.array(*[F.lit(s) for s in _VOCAB_SIZES])
    ).alias("vocab_size")
    expanded = ranked.select("c", "rnk", "total", sizes)
    covered = F.sum(
        F.when(F.col("rnk") <= F.col("vocab_size"), F.col("c")).otherwise(0)
    )
    return expanded.groupBy("vocab_size").agg(
        covered.cast("bigint").alias("covered_tokens"),
        F.max("total").cast("bigint").alias("total_tokens"),
        F.expr(
            "(sum(CASE WHEN rnk <= vocab_size THEN c ELSE 0 END) * 1000000)"
            " div max(total)"
        )
        .cast("bigint")
        .alias("coverage_ppm"),
    )


@register(
    "dup_label_consistency",
    oracle="""
    WITH cl AS ({cluster_oracle}),
    lab AS (
        SELECT c.cluster_id, e.label
        FROM cl c JOIN embeddings e ON e.vec_id = c.doc_id),
    agg AS (
        SELECT cluster_id,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT label) AS BIGINT) AS n_labels
        FROM lab GROUP BY cluster_id)
    SELECT cluster_id, n_docs, n_labels,
           CAST(n_labels = 1 AS BOOLEAN) AS label_consistent
    FROM agg WHERE n_docs >= 2
    """.format(cluster_oracle=_REGISTRY['dedup_clusters'].oracle),
    doc="Label-noise detection via duplicates (the confident-learning-"
    "style audit a labeled-corpus pipeline runs before training a "
    "classifier): near-duplicate documents SHOULD carry the same "
    "label, so each multi-doc cluster from the verified "
    "dedup_clusters CC is checked for label agreement against the "
    "embeddings table's label column — disagreeing clusters "
    "(the majority here, by construction of the synthetic labels) "
    "are exactly the rows a relabeling queue would surface. Scale: "
    "the label join is doc-keyed against the already-computed "
    "cluster table; the consistency groupBy runs per cluster "
    "(count-distinct over tiny groups); nothing touches document "
    "text beyond the CC pipeline itself.",
    tags=("llm", "dedup", "quality"),
)
def dup_label_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    cl = dedup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    emb = load(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "label"
    )
    lab = cl.join(emb, "doc_id")
    agg = lab.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("label").cast("bigint").alias("n_labels"),
    )
    return agg.filter(F.col("n_docs") >= 2).select(
        "cluster_id",
        "n_docs",
        "n_labels",
        (F.col("n_labels") == 1).alias("label_consistent"),
    )


@register(
    "zipf_fit",
    oracle=f"""
    WITH tok AS (SELECT unnest({tokens_sql('text')}) AS term
                 FROM documents),
    tf AS (SELECT term, CAST(count(*) AS BIGINT) AS c
           FROM tok WHERE term != '' GROUP BY term),
    pts AS (SELECT
              CAST(round(ln(CAST(row_number() OVER (ORDER BY c DESC, term)
                   AS DOUBLE)) * 1000000) AS BIGINT) AS x,
              CAST(round(ln(CAST(c AS DOUBLE)) * 1000000) AS BIGINT) AS y
            FROM tf),
    s AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS BIGINT) AS sx,
                 CAST(sum(y) AS BIGINT) AS sy,
                 CAST(sum(x*y) AS BIGINT) AS sxy,
                 CAST(sum(x*x) AS BIGINT) AS sxx
          FROM pts)
    SELECT n,
           CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE)
               AS zipf_slope,
           (CAST(sy AS DOUBLE) - (CAST(n*sxy - sx*sy AS DOUBLE)
                / CAST(n*sxx - sx*sx AS DOUBLE)) * CAST(sx AS DOUBLE))
               / n / 1000000 AS intercept_ln
    FROM s
    """,
    doc="Zipf's-law fit over the term-frequency table: OLS slope and "
    "intercept of ln(count) vs ln(rank) — the corpus-health metric "
    "that flags synthetic/templated text (natural language sits near "
    "slope -1; this word-soup corpus measures ~-0.17, exactly what "
    "the metric is for). Determinism: each transcendental ln is "
    "rounded ONCE per vocabulary term to integer micro-nats "
    "(unigram_surprisal's sanctioned pattern), the OLS normal "
    "equations then run on exact BIGINT sums (order-independent), "
    "and the final slope/intercept are fixed-association chains of "
    "correctly-rounded double ops on identical integers. Scale: the "
    "corpus collapses to the vocab-sized frequency table before the "
    "rank window (same cost class as vocab_coverage_curve; a web-"
    "scale vocab would need DECIMAL(38) sums — noted, not hit here); "
    "the regression is one scalar aggregate.",
    tags=("llm", "text", "quality"),
)
def zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(load(spark, sf_dir, "documents"))
    tf = (
        docs.select(F.explode(tokens(F.col("text"))).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    rnk = F.row_number().over(Window.orderBy(F.col("c").desc(), "term"))
    pts = tf.select(
        F.round(F.log(rnk.cast("double")) * 1000000)
        .cast("bigint")
        .alias("x"),
        F.round(F.log(F.col("c").cast("double")) * 1000000)
        .cast("bigint")
        .alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    slope = num / den
    intercept = (
        (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
        / F.col("n")
        / 1000000
    )
    return s.select(
        "n", slope.alias("zipf_slope"), intercept.alias("intercept_ln")
    )


_SPAN_WIDTHS = (4, 8, 16)


def _span_width_oracle() -> str:
    parts = []
    for w in _SPAN_WIDTHS:
        parts.append(f"""
        SELECT {w} AS width, sh, CAST(count(*) AS BIGINT) AS n_windows,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS nd
        FROM (SELECT doc_id, unnest({shingles_sql('toks', w)}) AS sh
              FROM ({_TOK_CTE}))
        GROUP BY sh""")
    return f"""
    WITH g AS ({' UNION ALL '.join(parts)})
    SELECT width,
           CAST(sum(n_windows) AS BIGINT) AS total_windows,
           CAST(sum(CASE WHEN nd >= 2 THEN n_windows ELSE 0 END)
                AS BIGINT) AS dup_windows,
           CAST((sum(CASE WHEN nd >= 2 THEN n_windows ELSE 0 END)
                 * 1000000) // sum(n_windows) AS BIGINT) AS dup_ppm
    FROM g GROUP BY width
    """


@register(
    "span_width_sensitivity",
    oracle=_span_width_oracle(),
    doc="ExactSubstr window-width tuning study: for each candidate "
    "width (4/8/16 tokens), the fraction of corpus windows that are "
    "cross-doc duplicated, in exact integer ppm — the sensitivity "
    "table that justifies exact_substring_spans' w=8 (at sf0.1, w=4 "
    "over-triggers 3.6x — 33% of windows — because short common "
    "phrases collide; w=8 and w=16 agree at ~9%, the real "
    "duplication mass). The dedup-parameter analogue of "
    "lsh_precision_recall. Scale: each width is a shingle-keyed "
    "count aggregate (map-side combinable) over the ONE shared "
    "tokenized corpus (localCheckpoint — three consumers, one "
    "tokenize pass); the final rollup runs on three "
    "vocabulary-of-shingles-sized aggregates, never the corpus.",
    tags=("llm", "dedup", "text"),
)
def span_width_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(load(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", tokens(F.col("text")).alias("toks")
    ).localCheckpoint(eager=True)
    per_width = []
    for w in _SPAN_WIDTHS:
        g = (
            toks.select(
                "doc_id", F.explode(shingles(F.col("toks"), w)).alias("sh")
            )
            .groupBy("sh")
            .agg(
                F.count(F.lit(1)).alias("n_windows"),
                F.countDistinct("doc_id").alias("nd"),
            )
            .select(F.lit(w).alias("width"), "n_windows", "nd")
        )
        per_width.append(g)
    g = per_width[0]
    for other in per_width[1:]:
        g = g.unionByName(other)
    dup = F.sum(
        F.when(F.col("nd") >= 2, F.col("n_windows")).otherwise(0)
    )
    return g.groupBy("width").agg(
        F.sum("n_windows").cast("bigint").alias("total_windows"),
        dup.cast("bigint").alias("dup_windows"),
        F.expr(
            "(sum(CASE WHEN nd >= 2 THEN n_windows ELSE 0 END) * 1000000)"
            " div sum(n_windows)"
        )
        .cast("bigint")
        .alias("dup_ppm"),
    )


@register(
    "lang_id_confusion",
    oracle="""
    WITH li AS ({lang_id_oracle}),
    cell AS (SELECT lang, predicted_lang,
                    CAST(count(*) AS BIGINT) AS n_docs
             FROM li GROUP BY lang, predicted_lang)
    SELECT lang, predicted_lang, n_docs,
           CAST((n_docs * 1000000) //
                sum(n_docs) OVER (PARTITION BY lang) AS BIGINT)
               AS row_ppm,
           CAST(lang = predicted_lang AS BOOLEAN) AS correct
    FROM cell
    """.format(lang_id_oracle=_REGISTRY['lang_id'].oracle),
    doc="Classifier-eval confusion matrix for the lang-ID heuristic "
    "against the declared language column: per (true, predicted) "
    "cell counts, row-normalized to exact integer ppm (recall per "
    "true language reads straight off the diagonal) — the eval "
    "table that shows the marker-lexicon heuristic's real quality "
    "(~40% accuracy here; docs with zero marker hits tie-break to "
    "the priority language) and that any upgraded classifier would "
    "be graded by. Composes the verified lang_id query. Scale: the "
    "corpus collapses to <=|langs|^2 cells in one map-side-"
    "combinable groupBy; windows run on the cell table only.",
    tags=("llm", "text", "quality"),
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = lang_id(spark, sf_dir).select("lang", "predicted_lang")
    cell = li.groupBy("lang", "predicted_lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    return cell.select(
        "lang",
        "predicted_lang",
        "n_docs",
        F.expr(
            "(n_docs * 1000000) div sum(n_docs)"
            " OVER (PARTITION BY lang)"
        )
        .cast("bigint")
        .alias("row_ppm"),
        (F.col("lang") == F.col("predicted_lang")).alias("correct"),
    )


# --- LSH band-configuration sensitivity ------------------------------------

#: (bands, rows) splits of the SAME K=8 signature — the S-curve knob:
#: collision threshold ≈ (1/b)^(1/r) sweeps 1.0 → ~0.07
_BAND_SENS_CONFIGS = ((1, 8), (2, 4), (4, 2), (8, 1))


def _band_sens_stats_sql(b: int, r: int) -> str:
    """One config's oracle block: DISTINCT candidate pairs over the
    b-band join, then agreement counts against the signature table."""
    bands = ", ".join(
        f"md5(concat_ws('|', {', '.join(f'm{i * r + j}' for j in range(r))}))"
        f" AS bh{i}"
        for i in range(b)
    )
    on = " OR ".join(f"a.bh{i} = b.bh{i}" for i in range(b))
    agree = " + ".join(
        f"(CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END)"
        for i in range(MINHASH_K)
    )
    return f"""
    SELECT CAST({b} AS BIGINT) AS band_count,
           CAST({r} AS BIGINT) AS row_count,
           round(pow(1.0/{b}, 1.0/{r}), 6) AS threshold_est,
           CAST(count(*) AS BIGINT) AS n_candidate_pairs,
           CAST(coalesce(sum(CASE WHEN ({agree}) >= {MINHASH_K // 2}
               THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_est_dups
    FROM (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
          FROM (SELECT doc_id, {bands} FROM sig) a
          JOIN (SELECT doc_id, {bands} FROM sig) b
            ON a.doc_id < b.doc_id AND ({on})) c
    JOIN sig sa ON sa.doc_id = c.a_id
    JOIN sig sb ON sb.doc_id = c.b_id
    """


@register(
    "lsh_band_sensitivity",
    oracle=f"""
    WITH sig AS ({_SIG_WIDE_CTE}),
    st AS ({" UNION ALL ".join(_band_sens_stats_sql(b, r)
                               for b, r in _BAND_SENS_CONFIGS)})
    SELECT band_count, row_count, threshold_est, n_candidate_pairs,
           n_est_dups,
           CASE WHEN n_candidate_pairs = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST((n_est_dups * 1000000) // n_candidate_pairs
                          AS BIGINT) END AS precision_ppm
    FROM st
    """,
    doc="LSH banding S-curve tuning table: every (bands × rows) split "
    "of the SAME K=8 MinHash signature — (1×8, 2×4, 4×2, 8×1), "
    "collision threshold (1/b)^(1/r) sweeping ~1.0 → ~0.07 — with "
    "measured candidate-pair volume, how many candidates clear the "
    "est-Jaccard ≥ 0.5 gate (integer agreement ≥ K/2, no float), and "
    "candidate precision in integer ppm. This is the table that "
    "justifies minhash_lsh_pairs' production (2 × 4) choice, the "
    "band analogue of span_width_sensitivity. Plan: ONE signature "
    "pass (checkpointed), then per config a first-shared-band "
    "posexplode equi-join — the same exactly-once trick as the "
    "production query, so no candidate×band DISTINCT blow-up at any "
    "scale; each config's result is a single row. round() only on "
    "the transcendental pow threshold.",
    tags=("llm", "dedup", "eval"),
)
def lsh_band_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = _sig_wide(spark, sf_dir).localCheckpoint(eager=True)
    outs = []
    for b, r in _BAND_SENS_CONFIGS:
        pairs, agreement = _lsh_candidates(sig, b, r)
        stats = (
            pairs.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_candidate_pairs"),
                F.coalesce(
                    F.sum(
                        (agreement >= MINHASH_K // 2).cast("int")
                    ),
                    F.lit(0),
                )
                .cast("bigint")
                .alias("n_est_dups"),
            )
            .select(
                F.lit(b).cast("bigint").alias("band_count"),
                F.lit(r).cast("bigint").alias("row_count"),
                F.round(F.pow(F.lit(1.0) / b, F.lit(1.0) / r), 6).alias(
                    "threshold_est"
                ),
                "n_candidate_pairs",
                "n_est_dups",
            )
        )
        outs.append(stats)
    merged = outs[0]
    for o in outs[1:]:
        merged = merged.unionByName(o)
    return merged.select(
        "*",
        F.when(F.col("n_candidate_pairs") == 0, F.lit(0).cast("bigint"))
        .otherwise(
            F.expr("(n_est_dups * 1000000) div n_candidate_pairs")
        )
        .alias("precision_ppm"),
    )


# --- per-document novelty (marginal contribution) ---------------------------


@register(
    "doc_novelty_ppm",
    oracle=f"""
    WITH sh AS ({_SH_CTE}),
    first AS (SELECT sh, min(doc_id) AS first_doc FROM sh GROUP BY sh)
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN s.doc_id = f.first_doc THEN 1 ELSE 0 END)
               AS BIGINT) AS n_novel,
           CAST((CAST(sum(CASE WHEN s.doc_id = f.first_doc THEN 1 ELSE 0
               END) AS BIGINT) * 1000000) // count(*) AS BIGINT)
               AS novelty_ppm
    FROM sh s JOIN first f USING (sh)
    GROUP BY s.doc_id
    """,
    doc="Per-document NOVELTY: the fraction of a doc's distinct 5-gram "
    "shingles whose FIRST corpus occurrence (min doc_id — the "
    "deterministic stand-in for ingestion order) is this doc — the "
    "marginal-contribution metric behind greedy data selection and "
    "the 'fraction of novel text' accounting in ExactSubstr-style "
    "dedup papers: a doc that is 0 ppm novel adds nothing the corpus "
    "hasn't seen. Plan: the shingle inverted index (doc_id, sh) "
    "shuffles once by shingle for the min-owner aggregate, joins back "
    "on the same key (co-partitioned — no second shuffle of the big "
    "side under AQE), then re-aggregates by doc; everything is "
    "shingle-cardinality, never pairwise. Docs shorter than 5 tokens "
    "have no shingles and no row (they carry no evidence either "
    "way). Integers + floor-div ppm — no floats.",
    tags=("llm", "dedup", "text"),
)
def doc_novelty_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    # first_doc per shingle is a WINDOW min over the shingle partition,
    # not a groupBy(sh) + join back: one execution of the tokenize+
    # distinct subtree and one sh-keyed exchange instead of two of each
    # (r11: plan audit scans 2 → 1, broadcast join gone). Integer
    # min — order-independent, output identical.
    sh = _doc_shingles(spark, sf_dir)
    joined = sh.withColumn(
        "first_doc", F.min("doc_id").over(Window.partitionBy("sh"))
    )
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
        F.sum((F.col("doc_id") == F.col("first_doc")).cast("int"))
        .cast("bigint")
        .alias("n_novel"),
        F.expr(
            "CAST((CAST(sum(CASE WHEN doc_id = first_doc THEN 1 ELSE 0"
            " END) AS BIGINT) * 1000000) div count(*) AS BIGINT)"
        ).alias("novelty_ppm"),
    )


# --- embedding prefix-mass (Matryoshka truncation quality) ------------------

_PREFIX_DIMS = 16


@register(
    "embedding_prefix_mass",
    oracle=f"""
    WITH m AS (
        SELECT vec_id,
               {dot_sql(f'embedding[1:{_PREFIX_DIMS}]',
                        f'embedding[1:{_PREFIX_DIMS}]')}
               / {dot_sql('embedding', 'embedding')} AS share
        FROM embeddings)
    SELECT CAST(floor(share * 10.0) AS BIGINT) AS share_bin,
           CAST(count(*) AS BIGINT) AS n_vectors,
           min(share) AS min_share,
           max(share) AS max_share
    FROM m GROUP BY 1
    """,
    doc=f"Matryoshka-style truncation audit: what fraction of each "
    f"embedding's squared L2 mass lives in its first {_PREFIX_DIMS} "
    f"of 64 dims — the question you ask before truncating vectors to "
    f"cut ANN index cost (MRL embeddings front-load mass; these "
    f"synthetic ones won't, and the histogram proves it either way). "
    f"Plan: pure map-side Catalyst folds (prefix slice + full vector) "
    f"and a partial agg into ≤11 decile bins — one scan, no shuffle "
    f"of vectors at any scale. Determinism: both folds are the shared "
    f"sequential zip_with/aggregate (bit-identical to DuckDB's "
    f"list_inner_product), the share is ONE division of those exact "
    f"doubles, floor() of a bit-identical double is bit-identical, "
    f"and min/max are order-independent — no rounding anywhere.",
    tags=("llm", "similarity", "profile"),
)
def embedding_prefix_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    from ..functions.vector import dot

    prefix = F.slice(F.col("embedding"), 1, _PREFIX_DIMS)
    share = dot(prefix, prefix) / dot(
        F.col("embedding"), F.col("embedding")
    )
    return (
        emb.select(share.alias("share"))
        .groupBy(
            F.floor(F.col("share") * F.lit(10.0))
            .cast("bigint")
            .alias("share_bin")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            F.min("share").alias("min_share"),
            F.max("share").alias("max_share"),
        )
    )


# --- collocation extraction (bigram PMI) ------------------------------------

_PMI_MIN_COUNT = 5
_PMI_TOPK = 20


@register(
    "collocation_pmi_top20",
    oracle=f"""
    WITH t AS (SELECT doc_id, {tokens_sql('text')} AS toks FROM documents),
    uni AS (
        SELECT term, CAST(count(*) AS BIGINT) AS n_t
        FROM (SELECT unnest(toks) AS term FROM t)
        WHERE term != '' GROUP BY term),
    nu AS (SELECT CAST(sum(n_t) AS BIGINT) AS n_uni FROM uni),
    bi AS (
        SELECT p.a AS term_a, p.b AS term_b,
               CAST(count(*) AS BIGINT) AS n_ab
        FROM (SELECT unnest(list_transform(
                  generate_series(1, len(toks) - 1),
                  i -> struct_pack(a := toks[i], b := toks[i + 1]))) AS p
              FROM t) s
        WHERE p.a != '' AND p.b != ''
        GROUP BY 1, 2),
    nb AS (SELECT CAST(sum(n_ab) AS BIGINT) AS n_bi FROM bi),
    pmi AS (
        SELECT term_a, term_b, n_ab,
               CAST(round(ln(((CAST(n_ab AS DOUBLE)
                       * CAST(n_uni AS DOUBLE)) * CAST(n_uni AS DOUBLE))
                   / ((CAST(n_bi AS DOUBLE) * CAST(ua.n_t AS DOUBLE))
                       * CAST(ub.n_t AS DOUBLE))) * 1000000) AS BIGINT)
                   AS pmi_micronats
        FROM bi
        JOIN uni ua ON ua.term = term_a
        JOIN uni ub ON ub.term = term_b
        CROSS JOIN nu CROSS JOIN nb
        WHERE n_ab >= {_PMI_MIN_COUNT})
    SELECT term_a, term_b, n_ab, pmi_micronats, CAST(rn AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (ORDER BY pmi_micronats DESC,
              term_a, term_b) AS rn FROM pmi)
    WHERE rn <= {_PMI_TOPK}
    """,
    doc="Collocation extraction: top-20 adjacent-token bigrams by "
    "pointwise mutual information (min count 5) — the phrase-mining "
    "step (word2phrase / NPMI collocations) run before tokenizer "
    "training or stopword curation. Plan: ONE tokenize pass feeds "
    "both the unigram and bigram counts (bigrams are a map-side "
    "zip-with-next, no positional self-join — same trick as "
    "skipgram_pairs), the unigram table joins back BROADCAST "
    "(vocabulary-sized), and the two totals are 1-row scalar "
    "broadcasts. Determinism: counts exact; the PMI argument is a "
    "fixed-association double chain over exact integers (values "
    "above 2^53 cast identically — correctly-rounded BIGINT→DOUBLE "
    "on both engines), ln rounded ONCE to integer micro-nats, and "
    "the top-k orders by the INTEGER with (term_a, term_b) "
    "tie-break.",
    tags=("llm", "text", "profile"),
)
def collocation_pmi_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    base = _spread(docs).select("doc_id", toks.alias("toks"))
    n = F.size(F.col("toks"))
    # uni feeds three consumers (total, both broadcast sides) and bi two
    # (total, scored): checkpoint the VOCAB-sized aggregates so the
    # corpus tokenize+explode runs once per count table instead of once
    # per consumer (plan showed 10 parquet scans before; the corpus-
    # sized `base` stays unmaterialized — at scale you re-tokenize
    # twice rather than checkpoint a corpus of token arrays). The two
    # count tables are data-independent, so their eager checkpoints are
    # submitted from a 2-thread pool (§2.6 overlap, the ann_ivfpq
    # pattern) — built inline they would serialize the two tokenize
    # passes that previously overlapped inside one job. Both threads run
    # under the caller's job group and tags.
    def _build_uni() -> DataFrame:
        return (
            base.select(F.explode(F.col("toks")).alias("term"))
            .filter(F.col("term") != "")
            .groupBy("term")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_t"))
            .localCheckpoint(eager=True)
        )

    pairs = F.when(
        n >= 2,
        F.zip_with(
            F.slice(F.col("toks"), 1, n - 1),
            F.slice(F.col("toks"), 2, n - 1),
            lambda a, b: F.struct(a.alias("a"), b.alias("b")),
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
    def _build_bi() -> DataFrame:
        return (
            base.select(F.explode(pairs).alias("p"))
            .filter((F.col("p.a") != "") & (F.col("p.b") != ""))
            .groupBy(
                F.col("p.a").alias("term_a"), F.col("p.b").alias("term_b")
            )
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
            .localCheckpoint(eager=True)
        )

    in_group = inheritable_thread_target(spark)
    with ThreadPoolExecutor(max_workers=2) as pool:
        uni_f = pool.submit(in_group(_build_uni))
        bi_f = pool.submit(in_group(_build_bi))
        uni, bi = uni_f.result(), bi_f.result()

    nu = uni.agg(F.sum("n_t").cast("bigint").alias("n_uni"))
    nb = bi.agg(F.sum("n_ab").cast("bigint").alias("n_bi"))
    ua = uni.select(
        F.col("term").alias("term_a"), F.col("n_t").alias("na")
    )
    ub = uni.select(
        F.col("term").alias("term_b"), F.col("n_t").alias("nb_t")
    )
    pmi_arg = (
        (F.col("n_ab").cast("double") * F.col("n_uni").cast("double"))
        * F.col("n_uni").cast("double")
    ) / (
        (F.col("n_bi").cast("double") * F.col("na").cast("double"))
        * F.col("nb_t").cast("double")
    )
    scored = (
        bi.filter(F.col("n_ab") >= _PMI_MIN_COUNT)
        .join(F.broadcast(ua), "term_a")
        .join(F.broadcast(ub), "term_b")
        .crossJoin(F.broadcast(nu))
        .crossJoin(F.broadcast(nb))
        .select(
            "term_a",
            "term_b",
            "n_ab",
            F.round(F.log(pmi_arg) * 1000000)
            .cast("bigint")
            .alias("pmi_micronats"),
        )
    )
    w = Window.orderBy(
        F.col("pmi_micronats").desc(), "term_a", "term_b"
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= _PMI_TOPK)
        .select("term_a", "term_b", "n_ab", "pmi_micronats", "rank")
    )


# --- l-diversity audit (companion to k_anonymity_release) -------------------

_LDIV_L = 3


@register(
    "l_diversity_audit",
    oracle=f"""
    SELECT n.n_name AS nation_name, c.c_mktsegment AS mktsegment,
           CAST(count(DISTINCT c.c_custkey) AS BIGINT) AS n_individuals,
           CAST(count(DISTINCT o.o_orderpriority) AS BIGINT)
               AS n_sensitive_distinct,
           CAST(count(DISTINCT o.o_orderpriority) >= {_LDIV_L} AS BOOLEAN)
               AS l_diverse
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY 1, 2
    """,
    doc="l-diversity audit over the same quasi-identifier as "
    "k_anonymity_release (nation × market segment), sensitive "
    f"attribute = order priority: a cell is safe only if it contains "
    f"≥ l={_LDIV_L} DISTINCT sensitive values — k-anonymity alone "
    "still leaks when everyone in a big cell shares one sensitive "
    "value (homogeneity attack). Emits per-cell individual counts, "
    "sensitive diversity, and the verdict; the release pipeline "
    "would suppress cells failing either test. Plan: nation "
    "broadcast, ONE shuffle join customers→orders on custkey, "
    "count-distinct partial aggs per cell — cell-table output, "
    "corpus read once. All integers/booleans, order-independent.",
    tags=("llm", "privacy", "aggregation"),
)
def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    nat = load(spark, sf_dir, "nation")
    orders = load(spark, sf_dir, "orders")
    return (
        cust.join(
            F.broadcast(nat), cust["c_nationkey"] == nat["n_nationkey"]
        )
        .join(orders, orders["o_custkey"] == cust["c_custkey"])
        .groupBy(
            F.col("n_name").alias("nation_name"),
            F.col("c_mktsegment").alias("mktsegment"),
        )
        .agg(
            F.countDistinct("c_custkey").cast("bigint").alias(
                "n_individuals"
            ),
            F.countDistinct("o_orderpriority")
            .cast("bigint")
            .alias("n_sensitive_distinct"),
        )
        .select(
            "nation_name",
            "mktsegment",
            "n_individuals",
            "n_sensitive_distinct",
            (F.col("n_sensitive_distinct") >= _LDIV_L).alias("l_diverse"),
        )
    )


# --- cluster-size histogram (corpus redundancy profile) ---------------------


@register(
    "dedup_cluster_size_histogram",
    oracle="__SPLICED_AT_IMPORT2__",
    doc="Corpus-redundancy profile: histogram of near-dup cluster "
    "sizes from the connected-components clustering — n_clusters and "
    "n_docs per size. The shape of this table IS the dedup ROI "
    "estimate: mass at size ≥ 2 is exactly the text dedup would "
    "remove (n_docs − n_clusters over those rows). Plan: composes "
    "dedup_clusters (iterative min-label CC), then two cheap "
    "aggregations over the doc-cardinality label table; the "
    "histogram output is ≤ max-cluster-size rows. All integers; the "
    "oracle wraps the recursive-CTE transitive closure.",
    tags=("llm", "dedup", "profile"),
)
def dedup_cluster_size_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    clusters = dedup_clusters(spark, sf_dir)
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters"))
            .cast("bigint")
            .alias("n_docs"),
        )
    )


_REG["dedup_cluster_size_histogram"].oracle = f"""
    SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(cluster_size * count(*) AS BIGINT) AS n_docs
    FROM (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
          FROM ({_REG['dedup_clusters'].oracle}) GROUP BY cluster_id)
    GROUP BY cluster_size
"""


# --- t-closeness audit (completes the k-anon / l-div privacy trio) ----------


@register(
    "t_closeness_audit",
    oracle="""
    WITH cell AS (
        SELECT c.c_nationkey, o.o_orderpriority,
               CAST(count(*) AS BIGINT) AS a
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2),
    grp AS (SELECT c_nationkey, CAST(sum(a) AS BIGINT) AS n_g
            FROM cell GROUP BY 1),
    gpri AS (SELECT o_orderpriority, CAST(sum(a) AS BIGINT) AS b
             FROM cell GROUP BY 1),
    tot AS (SELECT CAST(sum(a) AS BIGINT) AS n FROM cell)
    SELECT n.n_name AS nation_name,
           g.n_g AS group_size,
           CAST(CAST(sum(abs(cell.a * t.n - gl.b * g.n_g)) AS BIGINT)
                AS DOUBLE) / (2 * g.n_g * t.n) AS tv_distance
    FROM cell
    JOIN grp g USING (c_nationkey)
    JOIN gpri gl USING (o_orderpriority)
    CROSS JOIN tot t
    JOIN nation n ON n.n_nationkey = cell.c_nationkey
    GROUP BY 1, 2, g.n_g, t.n
    """,
    doc="t-closeness audit (Li et al. 2007), completing the privacy "
    "trio with k_anonymity_release and l_diversity_audit: per "
    "quasi-identifier group (customer nation) the total-variation "
    "distance between the in-group distribution of the sensitive "
    "attribute (order priority) and the corpus-wide distribution — "
    "l-diversity still leaks when a group's sensitive values are "
    "diverse but SKEWED vs the population. Determinism: TV distance "
    "over empirical distributions is rational; computed entirely in "
    "the integer domain as sum|a_i*N - b_i*n_g| over exact counts, "
    "then ONE correctly-rounded division by the exact integer "
    "2*n_g*N — no float accumulation anywhere. Plan: one shuffle "
    "join orders-customer on custkey, then cell-table aggregations; "
    "the global-priority and total tables are tiny broadcasts "
    "(5 rows / 1 row), so per-group work never reshuffles the "
    "corpus — group count is the wide dimension at 100 TB.",
    tags=("llm", "privacy", "aggregation"),
)
def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    nat = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cell = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .groupBy("c_nationkey", "o_orderpriority")
        .agg(F.count(F.lit(1)).cast("bigint").alias("a"))
    )
    cell = cell.localCheckpoint()
    grp = cell.groupBy("c_nationkey").agg(
        F.sum("a").cast("bigint").alias("n_g")
    )
    gpri = cell.groupBy("o_orderpriority").agg(
        F.sum("a").cast("bigint").alias("b")
    )
    tot = cell.agg(F.sum("a").cast("bigint").alias("n"))
    return (
        cell.join(F.broadcast(grp), "c_nationkey")
        .join(F.broadcast(gpri), "o_orderpriority")
        .crossJoin(F.broadcast(tot))
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation_name"),
            F.col("n_g").alias("group_size"),
        )
        .agg(
            (
                F.sum(
                    F.abs(
                        F.col("a") * F.col("n") - F.col("b") * F.col("n_g")
                    )
                )
                .cast("bigint")
                .cast("double")
                / (2 * F.first("n_g") * F.first("n"))
            ).alias("tv_distance")
        )
    )


# ---------------------------------------- DP-style noised release

_DP_TWO52 = 4503599627370496  # hashes in [0, 2^52) — exact as double


@register(
    "dp_laplace_release",
    oracle=f"""
    WITH counts AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS true_count
      FROM events GROUP BY 1, 2
    ), seeded AS (
      SELECT *,
             (CAST(('0x' || substr(md5(event_type || '|'
                     || CAST(day AS VARCHAR)), 1, 13))::BIGINT AS DOUBLE)
              + 0.5) / {_DP_TWO52}.0 AS u
      FROM counts
    ), noised AS (
      SELECT event_type, day, true_count,
             CAST(round(
               -1.0 * CASE WHEN u >= 0.5 THEN 1.0 ELSE -1.0 END
               * ln(1.0 - 2.0 * abs(u - 0.5)) * 1000000000
             ) AS BIGINT) AS noise_nano
      FROM seeded
    )
    SELECT event_type, day, true_count, noise_nano,
           CAST(true_count * 1000000000 + noise_nano AS BIGINT)
               AS released_nano,
           CAST(true_count * 1000000000 + noise_nano AS DOUBLE)
               / 1000000000.0 AS released
    FROM noised
    """,
    doc="Differential-privacy-style noised count release (Laplace "
    "mechanism, sensitivity 1, eps=1 => b=1): per-(series, day) event "
    "counts plus inverse-CDF Laplace noise "
    "x = -b*sign(u-1/2)*ln(1-2|u-1/2|), with u drawn from the "
    "portable 52-bit md5 hash of the release cell key — SEEDED, so "
    "the whole mechanism (not just the true aggregate) replays "
    "bit-identically on both engines and sits under the strict "
    "value-hash gate. The hash u and the ln argument are identical "
    "doubles on both sides; the one transcendental (ln) is rounded to "
    "integer nano-units per the determinism contract, and the release "
    "is assembled in exact integer nanos. A production DP deployment "
    "swaps the seed for fresh randomness (deterministic noise is "
    "replay-auditable but not private against an adversary who knows "
    "the key); the pipeline mechanics — per-cell noise, nano-unit "
    "ledger, true-vs-released audit columns — are the real surface. "
    "Scale: one map-side-combinable groupBy; the noise is a scalar "
    "expression per released cell, zero extra shuffles.",
    tags=("llm", "privacy", "aggregation", "scalar"),
)
def dp_laplace_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    counts = ev.groupBy(
        "event_type", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("true_count"))
    seed = F.concat(
        F.col("event_type"), F.lit("|"), F.col("day").cast("string")
    )
    h = F.conv(F.substring(F.md5(seed), 1, 13), 16, 10).cast("long")
    u = (h.cast("double") + F.lit(0.5)) / F.lit(float(_DP_TWO52))
    sign = F.when(u >= 0.5, F.lit(1.0)).otherwise(F.lit(-1.0))
    noise_nano = (
        F.round(
            F.lit(-1.0) * sign
            * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(u - F.lit(0.5)))
            * F.lit(1000000000)
        ).cast("bigint")
    )
    released_nano = (
        F.col("true_count") * F.lit(1000000000) + F.col("noise_nano")
    ).cast("bigint")
    return (
        counts.withColumn("noise_nano", noise_nano)
        .withColumn("released_nano", released_nano)
        .withColumn(
            "released",
            F.col("released_nano").cast("double") / F.lit(1000000000.0),
        )
    )


@register(
    "gumbel_topk_weighted_sample",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
             (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))
                   ::BIGINT AS DOUBLE) + 0.5) / {_DP_TWO52}.0 AS u
      FROM documents WHERE n_chars > 0
    ), keyed AS (
      SELECT doc_id, w,
             CAST(round((ln(CAST(w AS DOUBLE)) - ln(-ln(u))) * 1000000000)
                  AS BIGINT) AS key_nano
      FROM d
    ), ranked AS (
      SELECT doc_id, w, key_nano,
             row_number() OVER (ORDER BY key_nano DESC, doc_id) AS rank
      FROM keyed
    )
    SELECT doc_id, w, key_nano, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 50
    """,
    doc="Gumbel-top-k weighted sampling WITHOUT replacement: each doc "
    "gets key = ln(w) + G where G = -ln(-ln(u)) is Gumbel noise from "
    "the portable 52-bit hash of its id, and the global top-k by key "
    "is a size-k sample with inclusion ∝ weight (Efraimidis-Spirakis "
    "via the Gumbel-max trick) — THE distributed mechanism for "
    "quality-weighted corpus subsampling, because keys are computed "
    "map-side per row and only a TakeOrdered(k) crosses the wire; no "
    "sequential sampler state, rerun-stable. Determinism: u is the "
    "shared seeded hash (cf. q:`dp_laplace_release`), and the "
    "transcendental key is rounded to integer nano-units so both "
    "engines ORDER BY the same bigint (ulp drift in ln can otherwise "
    "flip adjacent ranks); doc_id breaks exact key ties. Weight = "
    "n_chars (favor long documents).",
    tags=("llm", "sampling", "topk", "curation"),
)
def gumbel_topk_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13), 16, 10
    ).cast("long")
    u = (h.cast("double") + F.lit(0.5)) / F.lit(float(_DP_TWO52))
    w = F.col("n_chars").cast("bigint")
    key_nano = F.round(
        (F.log(w.cast("double")) - F.log(-F.log(u))) * F.lit(1000000000)
    ).cast("bigint")
    keyed = docs.select(
        "doc_id", w.alias("w"), key_nano.alias("key_nano")
    )
    topk = keyed.orderBy(F.col("key_nano").desc(), "doc_id").limit(50)
    win = Window.orderBy(F.col("key_nano").desc(), "doc_id")
    return topk.withColumn(
        "rank", F.row_number().over(win).cast("bigint")
    ).select("doc_id", "w", "key_nano", "rank")


@register(
    "vocab_kl_by_source",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest({{toks}}) AS t
      FROM documents
    ), cnt AS (
      SELECT source, t, CAST(count(*) AS BIGINT) AS c
      FROM tok GROUP BY 1, 2
    ), corpus AS (
      SELECT t, CAST(sum(c) AS BIGINT) AS qc FROM cnt GROUP BY 1
    ), ns AS (
      SELECT source, CAST(sum(c) AS BIGINT) AS n_s FROM cnt GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(qc) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS v
      FROM corpus
    ), grid AS (
      SELECT ns.source, ns.n_s, corpus.t, corpus.qc, tot.n, tot.v,
             coalesce(cnt.c, 0) AS c
      FROM ns CROSS JOIN corpus CROSS JOIN tot
      LEFT JOIN cnt ON cnt.source = ns.source AND cnt.t = corpus.t
    ), terms AS (
      SELECT source, n_s,
             CAST(round(
               (CAST(c + 1 AS DOUBLE) / CAST(n_s + v AS DOUBLE))
               * ln((CAST(c + 1 AS DOUBLE) / CAST(n_s + v AS DOUBLE))
                    / (CAST(qc + 1 AS DOUBLE) / CAST(n + v AS DOUBLE)))
               * 1000000000) AS BIGINT) AS t_nano
      FROM grid
    )
    SELECT source, n_s AS n_tokens,
           CAST(sum(t_nano) AS BIGINT) AS kl_nano
    FROM terms GROUP BY 1, 2
    """.replace("{toks}", tokens_sql("text")),
    doc="Per-source vocabulary KL divergence KL(source || corpus) with "
    "add-1 smoothing over the corpus vocabulary — the corpus-curation "
    "screen for sources whose token distribution diverges from the "
    "mix (vocabulary drift, boilerplate-heavy or off-domain feeds); "
    "the text-domain sibling of q:`psi_drift_bins`, and the "
    "divergence counterpart of q:`tokenizer_fertility_by_lang`. "
    "Smoothing over the FULL source x vocab grid (a cross join of two "
    "aggregate tables — cells = |sources|·|vocab|, never row-scale) "
    "keeps zero-count tokens contributing mass. Determinism: p and q "
    "are exact-integer ratios; each transcendental term rounds to "
    "nano-units before the integer sum. Scale: one token explode -> "
    "map-side-combinable (source, token) counts; everything after is "
    "cell-sized.",
    tags=("llm", "text", "stats", "quality"),
)
def vocab_kl_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokens

    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(tokens(F.col("text"))).alias("t")
    )
    cnt = tok.groupBy("source", "t").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    corpus = cnt.groupBy("t").agg(F.sum("c").cast("bigint").alias("qc"))
    ns = cnt.groupBy("source").agg(F.sum("c").cast("bigint").alias("n_s"))
    tot = corpus.agg(
        F.sum("qc").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("v"),
    )
    grid = (
        ns.crossJoin(F.broadcast(corpus))
        .crossJoin(F.broadcast(tot))
        .join(cnt, ["source", "t"], "left")
        .withColumn("c", F.coalesce(F.col("c"), F.lit(0)))
    )
    p = (F.col("c") + 1).cast("double") / (F.col("n_s") + F.col("v")).cast(
        "double"
    )
    q = (F.col("qc") + 1).cast("double") / (F.col("n") + F.col("v")).cast(
        "double"
    )
    t_nano = F.round(p * F.log(p / q) * F.lit(1000000000)).cast("bigint")
    return (
        grid.select("source", F.col("n_s").alias("n_tokens"),
                    t_nano.alias("t_nano"))
        .groupBy("source", "n_tokens")
        .agg(F.sum("t_nano").cast("bigint").alias("kl_nano"))
    )


@register(
    "theil_index_decomposition",
    oracle="""
    WITH d AS (
      SELECT source, CAST(n_chars AS BIGINT) AS x
      FROM documents WHERE n_chars > 0
    ), grp AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS s
      FROM d GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS nt, CAST(sum(s) AS BIGINT) AS st
      FROM grp
    ), within AS (
      SELECT d.source, g.n, g.s,
             CAST(sum(CAST(round(
                 (CAST(d.x AS DOUBLE) * CAST(g.n AS DOUBLE)
                  / CAST(g.s AS DOUBLE))
                 * ln(CAST(d.x AS DOUBLE) * CAST(g.n AS DOUBLE)
                      / CAST(g.s AS DOUBLE))
                 * 1000000000) AS BIGINT)) AS BIGINT) AS t_sum_nano
      FROM d JOIN grp g USING (source)
      GROUP BY 1, 2, 3
    ), within_rows AS (
      SELECT source, n AS n_docs, s AS sum_chars,
             CAST(t_sum_nano AS DOUBLE) / CAST(n AS DOUBLE) / 1000000000.0
                 AS theil
      FROM within
    ), between_row AS (
      SELECT '__between__' AS source, tot.nt AS n_docs,
             tot.st AS sum_chars,
             CAST(CAST(sum(CAST(round(
                 (CAST(g.s AS DOUBLE) / CAST(tot.st AS DOUBLE))
                 * ln((CAST(g.s AS DOUBLE) / CAST(tot.st AS DOUBLE))
                      / (CAST(g.n AS DOUBLE) / CAST(tot.nt AS DOUBLE)))
                 * 1000000000) AS BIGINT)) AS BIGINT) AS DOUBLE)
                 / 1000000000.0 AS theil
      FROM grp g, tot GROUP BY tot.nt, tot.st
    )
    SELECT * FROM within_rows UNION ALL SELECT * FROM between_row
    """,
    doc="Theil-T inequality index of document length with its "
    "between/within decomposition: per-source within-source Theil "
    "rows plus a '__between__' row, exploiting Theil's ADDITIVE "
    "decomposability (T = T_between + sum share_i * T_within_i — the "
    "property Gini lacks, cf. q:`pandas_udaf_gini`): the curation "
    "question 'is length inequality driven by source mix or within "
    "feeds?' answered in one pass. Determinism: per-row/per-source "
    "transcendental terms round to nano-units before integer sums "
    "(the amihud pattern); group stats ride a broadcast join back "
    "onto rows; means stay exact-integer cross-multiplied inside the "
    "ln argument. Scale: one row pass + one cell-sized rollup.",
    tags=("llm", "text", "stats", "profile"),
)
def theil_index_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    d = docs.select("source", F.col("n_chars").cast("bigint").alias("x"))
    grp = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
    )
    tot = grp.agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.sum("s").cast("bigint").alias("st"),
    )
    ratio = (
        F.col("x").cast("double") * F.col("n").cast("double")
        / F.col("s").cast("double")
    )
    t_nano = F.round(ratio * F.log(ratio) * F.lit(1000000000)).cast("bigint")
    within = (
        d.join(F.broadcast(grp), "source")
        .select("source", "n", "s", t_nano.alias("t_nano"))
        .groupBy("source", "n", "s")
        .agg(F.sum("t_nano").cast("bigint").alias("t_sum_nano"))
        .select(
            "source",
            F.col("n").alias("n_docs"),
            F.col("s").alias("sum_chars"),
            (
                F.col("t_sum_nano").cast("double")
                / F.col("n").cast("double") / F.lit(1000000000.0)
            ).alias("theil"),
        )
    )
    share = F.col("s").cast("double") / F.col("st").cast("double")
    nshare = F.col("n").cast("double") / F.col("nt").cast("double")
    b_nano = F.round(
        share * F.log(share / nshare) * F.lit(1000000000)
    ).cast("bigint")
    between = (
        grp.crossJoin(F.broadcast(tot))
        .select("nt", "st", b_nano.alias("b_nano"))
        .groupBy("nt", "st")
        .agg(F.sum("b_nano").cast("bigint").alias("b_sum_nano"))
        .select(
            F.lit("__between__").alias("source"),
            F.col("nt").alias("n_docs"),
            F.col("st").alias("sum_chars"),
            (F.col("b_sum_nano").cast("double") / F.lit(1000000000.0))
            .alias("theil"),
        )
    )
    return within.unionAll(between)
