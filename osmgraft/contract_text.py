"""Driver-contract entries: text analysis, dedup, and embedding search.

These are the training-data-pipeline operators (dedup, language-ID, quality,
token counting, fingerprints, ANN) over the `documents` and `embeddings`
tables. Oracles are exact SQL mirrors where the math is portable; hash-based
signatures (xxhash64 MinHash/SimHash) have no DuckDB equivalent and are
registered without an oracle (driver records the weaker rows-only check).
"""

from __future__ import annotations

import pandas as pd  # module-global: pandas_udf hint resolution under
# `from __future__ import annotations` needs pd importable at call time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from osmgraft.contract import q, t
from osmgraft.runtime.cut import cut
from osmgraft.text.dedup import (
    exact_dedup,
    minhash_lsh_candidates,
    shingles,
    shingle_hashes,
    simhash,
    verify_jaccard,
)
from osmgraft.text.quality import (
    LANG_MARKERS,
    STOPWORDS,
    language_id,
    quality_scores,
    text_fingerprint,
    token_counts,
)


# ---------------------------------------------------------------------------
# SQL mirrors of the quality expressions (generated from the same tables the
# Spark implementations use — single source of truth for marker words)
# ---------------------------------------------------------------------------


def _hits_sql(word: str) -> str:
    needle = f" {word} "
    return (
        f"CAST((length(padded) - length(replace(padded, '{needle}', '')))"
        f" / {len(needle)} AS INT)"
    )


def _marker_hits_sql(lang: str) -> str:
    return "(" + " + ".join(_hits_sql(w) for w in LANG_MARKERS[lang]) + ")"


_LANG_ID_ORACLE = f"""
WITH p AS (SELECT doc_id,
                  ' ' || replace(lower(text), ' ', '  ') || ' ' AS padded
           FROM documents),
     s AS (SELECT doc_id,
           {', '.join(f'{_marker_hits_sql(lg)} AS score_{lg}' for lg in LANG_MARKERS)}
           FROM p),
     g AS (SELECT doc_id, GREATEST({', '.join(f'score_{lg}' for lg in LANG_MARKERS)}) AS best, *
           FROM s)
SELECT doc_id,
       CASE WHEN best <= 0 THEN 'und'
            {' '.join(f"WHEN score_{lg} = best THEN '{lg}'" for lg in LANG_MARKERS)}
       END AS pred_lang,
       best AS marker_hits
FROM g ORDER BY doc_id
"""

_STOP_SQL = " + ".join(_hits_sql(w) for w in STOPWORDS)

_QUALITY_ORACLE = f"""
WITH p AS (SELECT doc_id, text,
                  ' ' || replace(lower(text), ' ', '  ') || ' ' AS padded
           FROM documents),
     b AS (SELECT doc_id,
                  length(text) AS n_chars,
                  len(string_split(text, ' ')) AS n_tokens,
                  ({_STOP_SQL}) AS stop_hits,
                  length(regexp_replace(text, '[^a-zA-Z ]', '', 'g')) AS n_alpha
           FROM p),
     r AS (SELECT *, CASE WHEN n_chars > 0
                          THEN n_alpha / CAST(n_chars AS DOUBLE)
                          ELSE 0.0 END AS alpha FROM b)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       ROUND(n_chars / n_tokens, 4) AS mean_token_len,
       ROUND(stop_hits / n_tokens, 4) AS stopword_ratio,
       ROUND(alpha, 4) AS alpha_ratio,
       ROUND(LEAST(1.0, n_tokens / 64.0) * 0.4
             + LEAST(1.0, (stop_hits / n_tokens) * 5.0) * 0.2
             + alpha * 0.4, 4) AS quality_score
FROM r ORDER BY doc_id
"""


# ===========================================================================
# text analysis
# ===========================================================================

@q("lang_id", oracle=_LANG_ID_ORACLE)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language identification (JVM expressions only)."""
    return language_id(t(spark, sf_dir, "documents")).orderBy("doc_id")


@q(
    "token_counts",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(CEIL(length(text) / 4.0) AS BIGINT) AS n_bpe_est
    FROM documents ORDER BY doc_id
    """,
)
def token_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-proxy token counting."""
    out = token_counts(t(spark, sf_dir, "documents"))
    return out.select(
        "doc_id", F.col("n_tokens").cast("long").alias("n_tokens"), "n_bpe_est"
    ).orderBy("doc_id")


@q("quality_scores", oracle=_QUALITY_ORACLE)
def quality_scores_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length/punctuation/stopword quality heuristics."""
    out = quality_scores(t(spark, sf_dir, "documents"))
    return out.select(
        "doc_id", F.col("n_tokens").cast("long").alias("n_tokens"),
        "mean_token_len", "stopword_ratio", "alpha_ratio", "quality_score",
    ).orderBy("doc_id")


@q(
    "doc_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
    FROM documents ORDER BY doc_id
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization fingerprint (md5 of case/whitespace-normalized text)."""
    return text_fingerprint(t(spark, sf_dir, "documents")).select(
        "doc_id", "fingerprint"
    ).orderBy("doc_id")


# ===========================================================================
# dedup
# ===========================================================================

@q(
    "dedup_exact",
    oracle="""
    SELECT doc_id, text_digest, is_duplicate FROM (
      SELECT doc_id, md5(lower(trim(text))) AS text_digest,
             ROW_NUMBER() OVER (PARTITION BY md5(lower(trim(text)))
                                ORDER BY doc_id) > 1 AS is_duplicate
      FROM documents)
    ORDER BY doc_id
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy keeps the lowest-id representative."""
    return exact_dedup(t(spark, sf_dir, "documents")).select(
        "doc_id", "text_digest", "is_duplicate"
    ).orderBy("doc_id")


_RARE_MAX = 10
_JACCARD_MIN = 0.25

_NGRAM_PAIRS_SQL = f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
         seq AS (SELECT unnest(generate_series(1,
                   (SELECT MAX(len(arr)) FROM w))) AS i),
         s AS (SELECT doc_id, arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] AS shingle
               FROM w JOIN seq ON i <= len(arr) - 2),
         sd AS (SELECT DISTINCT doc_id, shingle FROM s),
         rare AS (SELECT shingle FROM sd GROUP BY shingle
                  HAVING COUNT(*) <= {_RARE_MAX}),
         rs AS (SELECT sd.doc_id, sd.shingle FROM sd JOIN rare USING (shingle)),
         sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM rs GROUP BY doc_id),
         ov AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       CAST(COUNT(*) AS BIGINT) AS overlap
                FROM rs a JOIN rs b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY doc_a, doc_b)
    SELECT doc_a, doc_b, overlap,
           ROUND(overlap / (na.n + nb.n - overlap), 4) AS jaccard
    FROM ov JOIN sizes na ON na.doc_id = doc_a
            JOIN sizes nb ON nb.doc_id = doc_b
    WHERE overlap / (na.n + nb.n - overlap) >= {_JACCARD_MIN}
    ORDER BY doc_a, doc_b
    """


@q("ngram_jaccard_pairs", oracle=_NGRAM_PAIRS_SQL)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rare-shingle-blocked word-3-gram Jaccard near-dup pairs (the exact
    verification stage of the MinHash/LSH path, with LSH-style blocking).

    The shingle stream aggregates to (doc_id, shingle, occ) ONCE and is
    cut there (the ``tfidf_cosine_pairs`` materialize-the-reused-
    relation discipline — the rare filter, sizes, and both self-join
    sides otherwise re-run the shingle explode each). Occurrence
    semantics are preserved exactly: the per-occurrence self-join count
    equals SUM(occ_a * occ_b) over shared shingles, and sizes are
    SUM(occ)."""
    docs = t(spark, sf_dir, "documents")
    sd = shingles(docs, n=3)
    sc = sd.groupBy("doc_id", "shingle").agg(
        F.count("*").alias("occ")
    ).transform(cut)
    rare = (
        sc.groupBy("shingle")
        .agg(F.sum("occ").alias("count"))
        .where(F.col("count") <= _RARE_MAX)
        .select("shingle")
    )
    rs = sc.join(rare, "shingle")
    sizes = rs.groupBy("doc_id").agg(F.sum("occ").alias("n"))
    a = rs.select(
        F.col("doc_id").alias("doc_a"), "shingle",
        F.col("occ").alias("occ_a"),
    )
    b = rs.select(
        F.col("doc_id").alias("doc_b"), F.col("shingle").alias("sh_b"),
        F.col("occ").alias("occ_b"),
    )
    ov = (
        a.join(b, F.col("shingle") == F.col("sh_b"))
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("occ_a") * F.col("occ_b")).alias("overlap"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("overlap") / (F.col("na") + F.col("nb") - F.col("overlap"))
    return (
        ov.join(na, "doc_a").join(nb, "doc_b")
        .where(jac >= _JACCARD_MIN)
        .select("doc_a", "doc_b", "overlap", F.round(jac, 4).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


@q(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE pr AS ({_NGRAM_PAIRS_SQL}),
         edges AS (SELECT doc_a AS s, doc_b AS t FROM pr
                   UNION SELECT doc_b, doc_a FROM pr),
         nodes AS (SELECT DISTINCT s AS id FROM edges),
         reach(id, r) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT rr.id, e.t FROM reach rr JOIN edges e ON e.s = rr.r),
         lab AS (SELECT id AS doc_id, MIN(r) AS cluster_id
                 FROM reach GROUP BY id)
    SELECT doc_id, cluster_id,
           CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
    FROM lab ORDER BY doc_id
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERING (round-2): connected components over the
    rare-shingle Jaccard pair graph via distributed min-label propagation
    (text/dedup.py::connected_components — O(diameter) rounds of
    join + partial-agg on 8-byte labels, lineage-cut per round). The step
    every dedup pipeline ends with: one representative per component. The
    oracle recomputes the transitive closure with a recursive CTE —
    equality proves the iterative algorithm reached the true components."""
    from pyspark.sql import Window

    from osmgraft.text.dedup import connected_components

    pairs = ngram_jaccard_pairs(spark, sf_dir)
    cc = connected_components(pairs)
    w = Window.partitionBy("cluster_id")
    return (
        cc.withColumn("cluster_size", F.count("*").over(w).cast("long"))
        .orderBy("doc_id")
    )


@q("minhash_lsh_pairs")  # hash-based: no SQL oracle (rows-only check)
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32) + 8-band LSH candidate pairs, verified with exact Jaccard."""
    docs = t(spark, sf_dir, "documents")
    # hashed shingles: 8-byte keys through every shuffle; shared by the
    # signature and exact-verify stages (Jaccard over hash sets == Jaccard
    # over shingle sets modulo 64-bit collisions — this entry is hash-based
    # and rows-only by design)
    sd = shingle_hashes(docs, n=3)
    pairs = minhash_lsh_candidates(docs, num_hashes=32, bands=8, shingle_df=sd)
    return (
        verify_jaccard(pairs, sd)
        .select("doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


@q("simhash_signatures")  # xxhash64-based: rows-only check
def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash fingerprints (bit-majority, pure JVM arithmetic)."""
    return simhash(t(spark, sf_dir, "documents")).orderBy("doc_id")


@q("simhash_neardup_pairs")  # xxhash64-based sigs: rows-only check
def simhash_neardup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs (round-2): banded pigeonhole blocking,
    LOSSLESS within the hamming radius (exactness vs all-pairs popcount
    proven in test_pipeline), exact bit_count refine — equi-join on
    (band, 16-bit key), never all-pairs."""
    from osmgraft.text.dedup import simhash_neardup_pairs

    sigs = simhash(t(spark, sf_dir, "documents"))
    return simhash_neardup_pairs(sigs, max_hamming=3).orderBy("doc_a", "doc_b")


# ===========================================================================
# embedding similarity search
# ===========================================================================

@q(
    "ann_bruteforce_top10",
    oracle="""
    WITH qv AS (SELECT embedding::DOUBLE[] AS q FROM embeddings WHERE vec_id = 0),
         sims AS (SELECT vec_id,
                         ROUND(list_cosine_similarity(embedding::DOUBLE[], q), 5) AS cosine_sim
                  FROM embeddings, qv WHERE vec_id <> 0)
    SELECT vec_id, cosine_sim,
           ROW_NUMBER() OVER (ORDER BY cosine_sim DESC, vec_id) AS rank
    FROM sims ORDER BY rank LIMIT 10
    """,
)
def ann_bruteforce_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 vs vec_id=0 (zip_with/aggregate, JVM-side)."""
    from osmgraft.ann.search import cosine_col

    emb = t(spark, sf_dir, "embeddings")
    qrow = emb.where(F.col("vec_id") == 0).select("embedding").head()
    qvec = F.array(*[F.lit(float(v)) for v in qrow[0]])
    vec = F.transform(F.col("embedding"), lambda v: v.cast("double"))
    sims = emb.where(F.col("vec_id") != 0).select(
        "vec_id", F.round(cosine_col(vec, qvec), 5).alias("cosine_sim")
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("cosine_sim").desc(), F.col("vec_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .orderBy("rank")
    )


@q(
    "embedding_norm_stats",
    oracle="""
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x)))), 4)
             AS avg_norm
    FROM embeddings GROUP BY label ORDER BY label
    """,
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector math over array columns: per-label L2-norm statistics."""
    emb = t(spark, sf_dir, "embeddings")
    vec = F.transform(F.col("embedding"), lambda v: v.cast("double"))
    norm = F.sqrt(F.aggregate(vec, F.lit(0.0), lambda acc, v: acc + v * v))
    return (
        emb.select("label", norm.alias("norm"))
        .groupBy("label")
        .agg(F.count("*").alias("n"), F.round(F.avg("norm"), 4).alias("avg_norm"))
        .orderBy("label")
    )


_LSH_BITS = 12


def _lsh_oracle_sql() -> str:
    """Full oracle for the hyperplane-LSH path (round-2 upgrade from
    rows-only): the seeded projection matrix is a plan-time constant, so
    it inlines as DOUBLE[] literals (e-notation — the DuckDB decimal
    trap); signatures, the hamming-1 multiprobe set, and the in-bucket
    exact rerank are all recomputed in SQL."""
    from osmgraft.ann.search import make_projections
    from osmgraft.geo.hexgrid import lit_sql

    proj = make_projections(64, _LSH_BITS, seed=42)
    rows = ", ".join(
        "(" + str(b) + ", [" + ", ".join(lit_sql(float(v)) for v in proj[b]) + "]::DOUBLE[])"
        for b in range(_LSH_BITS)
    )
    return f"""
    WITH proj(b, p) AS (VALUES {rows}),
         q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
         sig AS (SELECT e.vec_id, e.embedding::DOUBLE[] AS v,
                        CAST(SUM(CASE WHEN list_inner_product(e.embedding::DOUBLE[], p.p) > 0
                                      THEN 1 << p.b ELSE 0 END) AS BIGINT) AS bucket
                 FROM embeddings e CROSS JOIN proj p
                 WHERE e.vec_id <> 0 GROUP BY e.vec_id, v),
         qs AS (SELECT CAST(SUM(CASE WHEN list_inner_product(q.qv, p.p) > 0
                                     THEN 1 << p.b ELSE 0 END) AS BIGINT) AS b0
                FROM q CROSS JOIN proj p),
         probe AS (SELECT b0 AS pb FROM qs
                   UNION ALL
                   SELECT xor(b0, CAST(1 << i AS BIGINT))
                   FROM qs, UNNEST(range(0, {_LSH_BITS})) AS t(i)),
         cand AS (SELECT s.vec_id, s.v FROM sig s
                  WHERE s.bucket IN (SELECT pb FROM probe))
    SELECT c.vec_id, ROUND(list_cosine_similarity(c.v, q.qv), 6) AS cosine_sim
    FROM cand c CROSS JOIN q
    ORDER BY cosine_sim DESC, c.vec_id LIMIT 10
    """


@q("ann_lsh_top10", oracle=_lsh_oracle_sql())
def ann_lsh_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucketed ANN (multiprobe hamming-1). Round-2:
    fully oracle-paired — the oracle recomputes signatures from the inlined
    projection literals, the probe set, and the in-bucket exact rerank."""
    from osmgraft.ann.search import lsh_bucket_topk

    emb = t(spark, sf_dir, "embeddings")
    qrow = emb.where(F.col("vec_id") == 0).select("embedding").head()
    qvec = [float(v) for v in qrow[0]]
    return lsh_bucket_topk(
        emb.where(F.col("vec_id") != 0), qvec, k=10, n_bits=_LSH_BITS
    )


@q("stratified_sample")  # seeded sampling: engine-specific (rows-only check)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 stratified per-tier sampling via sampleBy with fixed seed."""
    e = t(spark, sf_dir, "events")
    fracs = {k: 0.1 for k in ["click", "view", "purchase", "signup", "error"]}
    return (
        e.sampleBy("event_type", fracs, seed=42)
        .groupBy("event_type")
        .agg(F.count("*").alias("n_sampled"))
        .orderBy("event_type")
    )


_BATCH_Q_MOD, _BATCH_K = 101, 5


@q(
    "ann_batch_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id % {_BATCH_Q_MOD} = 0),
         s AS (SELECT q.qid, e.vec_id,
                      ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6)
                        AS cosine_sim
               FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid)
    SELECT qid, vec_id, cosine_sim FROM s
    QUALIFY ROW_NUMBER() OVER (PARTITION BY qid
                               ORDER BY cosine_sim DESC, vec_id) <= {_BATCH_K}
    ORDER BY qid, cosine_sim DESC, vec_id
    """,
)
def ann_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch ANN serving shape (round-2): top-k for MANY query vectors in
    one pass — broadcast the query set, score the corpus once, rank per
    query with a window. The corpus never shuffles (the window partitions
    by qid over the small scored slice after per-partition top-k
    pre-pruning by Catalyst's WindowGroupLimit). Exact form; the bucketed
    variants (LSH/IVF) are the scale path when |queries| is large."""
    from pyspark.sql import Window

    from osmgraft.ann.search import cosine_col

    emb = t(spark, sf_dir, "embeddings")
    vec = F.transform(F.col("embedding"), lambda v: v.cast("double"))
    q_side = emb.where(F.col("vec_id") % _BATCH_Q_MOD == 0).select(
        F.col("vec_id").alias("qid"), vec.alias("qv")
    )
    corpus = emb.select("vec_id", vec.alias("cv"))
    scored = (
        corpus.crossJoin(F.broadcast(q_side))
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.round(cosine_col(F.col("cv"), F.col("qv")), 6).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine_sim").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _BATCH_K)
        .select("qid", "vec_id", "cosine_sim")
        .orderBy("qid", F.col("cosine_sim").desc(), "vec_id")
    )


_IVF_LISTS, _IVF_PROBE = 8, 3
_IVF_ITER = 2


def _ivf_train_cte() -> str:
    from osmgraft.ann.search import ivf_train_sql

    return ivf_train_sql(_IVF_LISTS, n_iter=_IVF_ITER)


@q(
    "ann_ivf_top10",
    oracle=f"""
    WITH {_ivf_train_cte()},
         cb AS (SELECT cid, c AS cvec FROM cb{_IVF_ITER}),
         qv AS (SELECT embedding::DOUBLE[] AS q FROM embeddings WHERE vec_id = 0),
         assign AS (SELECT e.vec_id, cb.cid AS list_id,
                           FLOOR(list_cosine_similarity(e.embedding::DOUBLE[], cb.cvec) * 100000 + 0.5) AS c
                    FROM embeddings e CROSS JOIN cb
                    QUALIFY ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                               ORDER BY c DESC, cb.cid) = 1),
         probe AS (SELECT cid FROM cb CROSS JOIN qv
                   ORDER BY FLOOR(list_cosine_similarity(cvec, q) * 100000 + 0.5) DESC, cid
                   LIMIT {_IVF_PROBE}),
         cand AS (SELECT a.vec_id, a.list_id
                  FROM assign a JOIN probe p ON a.list_id = p.cid
                  WHERE a.vec_id <> 0)
    SELECT c.vec_id, CAST(c.list_id AS BIGINT) AS list_id,
           FLOOR(list_cosine_similarity(e.embedding::DOUBLE[], qv.q) * 100000 + 0.5) / 100000
             AS cosine_sim
    FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id CROSS JOIN qv
    ORDER BY cosine_sim DESC, c.vec_id LIMIT 10
    """,
)
def ann_ivf_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantized ANN with a TRAINED codebook: deterministic
    seeded-sample k-means (2 Lloyd iterations, 5-dp assignment rounding,
    6-dp centroid rounding — ann.search.ivf_train_codebook), one-scan
    greatest-of-structs list assignment, nprobe-pruned exact search (the
    partition-pruned scale path beside LSH). The oracle recomputes the
    ENTIRE pipeline in DuckDB SQL — k-means training included
    (ivf_train_sql: unrolled Lloyd CTEs), then assignment, probe choice,
    and final ranking."""
    from osmgraft.ann.search import cosine_col, ivf_build, ivf_probe, ivf_train_codebook

    emb = t(spark, sf_dir, "embeddings")
    qvec = [float(v) for v in emb.where(F.col("vec_id") == 0).select("embedding").head()[0]]
    cb = ivf_train_codebook(emb, _IVF_LISTS, n_iter=_IVF_ITER)
    probe = ivf_probe(cb, qvec, _IVF_PROBE)
    assigned = ivf_build(emb, cb)
    q_arr = F.array(*[F.lit(v) for v in qvec])
    vec = F.transform(F.col("embedding"), lambda v: v.cast("double"))
    # floor-half snap, same rule as assignment/probe (tie-mode parity)
    sim = F.floor(cosine_col(vec, q_arr) * 100000 + 0.5) / 100000
    return (
        assigned.where(F.col("list_id").isin(probe) & (F.col("vec_id") != 0))
        .select("vec_id", F.col("list_id").cast("long").alias("list_id"), sim.alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col("vec_id"))
        .limit(10)
    )


# ===========================================================================
# round-3 text-mining / corpus-statistics additions
# ===========================================================================


@q(
    "tfidf_top_terms",
    oracle="""
    WITH tf AS (SELECT source, w AS word, CAST(COUNT(*) AS BIGINT) AS tf
                FROM (SELECT source, unnest(string_split(text, ' ')) AS w
                      FROM documents)
                WHERE length(w) > 3 GROUP BY source, w),
         df AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY word),
         ns AS (SELECT COUNT(DISTINCT source) AS ns FROM documents),
         sc AS (SELECT tf.source, tf.word, tf.tf,
                       FLOOR(ln(ns.ns / CAST(df.df AS DOUBLE)) * 1000000 + 0.5)
                         / 1000000 AS idf
                FROM tf JOIN df USING (word) CROSS JOIN ns)
    SELECT source, word, tf,
           FLOOR(tf * idf * 10000 + 0.5) / 10000 AS tfidf
    FROM sc
    QUALIFY ROW_NUMBER() OVER (PARTITION BY source
                               ORDER BY tf * idf DESC, word) <= 3
    ORDER BY source, tfidf DESC, word
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 terms per source — the corpus-characterization staple of
    a web-text training pipeline (word mining A13/A14 extended with an
    inverse-document-frequency join). Shape at scale: the tf aggregation is
    the only big shuffle (on (source, word) — high cardinality, well
    spread); df is a second partial-agg over the ALREADY-aggregated tf
    rows; idf joins back by word (spread keys); ranking windows partition
    by source, never a global sort. The idf is snapped to 6 dp with the
    floor-half rule before the tf multiply so the transcendental ln's
    engine ulp can't flip the 4-dp tfidf (the IVF cosine discipline)."""
    d = t(spark, sf_dir, "documents")
    ns = d.select("source").distinct().count()
    tf = (
        d.select("source", F.explode(F.split("text", " ")).alias("word"))
        .where(F.length("word") > 3)
        .groupBy("source", "word")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("word").agg(F.count("*").alias("df"))
    idf = F.floor(F.log(F.lit(float(ns)) / F.col("df")) * 1000000 + 0.5) / 1000000
    sc = tf.join(df, "word").withColumn("idf", idf)
    # salted two-phase top-k: a bare partitionBy(source) window would rank
    # each source's ENTIRE vocabulary in one task (sources are few — the
    # skew twin of the value_deciles finding). Phase 1 takes top-3 within
    # (source, content-hash salt) — 32-way parallel per source; phase 2
    # ranks the ≤96 survivors per source. Global top-3 ⊆ union of per-salt
    # top-3, so the result is identical (plan audit: no window ever spans
    # a full source partition).
    salt = F.pmod(F.xxhash64("word"), F.lit(32))
    w1 = Window.partitionBy("source", salt.alias("_salt")).orderBy(
        (F.col("tf") * F.col("idf")).desc(), "word"
    )
    survivors = (
        sc.withColumn("_rn1", F.row_number().over(w1)).where(F.col("_rn1") <= 3)
    )
    w2 = Window.partitionBy("source").orderBy(
        (F.col("tf") * F.col("idf")).desc(), "word"
    )
    return (
        survivors.withColumn("_rn", F.row_number().over(w2))
        .where(F.col("_rn") <= 3)
        .select(
            "source", "word", "tf",
            (F.floor(F.col("tf") * F.col("idf") * 10000 + 0.5) / 10000).alias("tfidf"),
        )
        .orderBy("source", F.col("tfidf").desc(), "word")
    )


@q(
    "bigram_freq",
    oracle="""
    SELECT bg AS bigram, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM (SELECT w[i] || ' ' || w[i + 1] AS bg
          FROM (SELECT string_split(text, ' ') AS w FROM documents) d,
               LATERAL unnest(generate_series(1, len(w) - 1)) AS t(i))
    GROUP BY bg HAVING COUNT(*) >= 20
    ORDER BY cnt DESC, bigram LIMIT 20
    """,
)
def bigram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide bigram mining (A13/A14 at n=2 — the phrase-level twin of
    word_freq). Bigrams are built WITHIN the row by zipping the token array
    against its own tail (slice + zip_with, pure JVM; a self-join on token
    position would shuffle the exploded corpus twice); only the bigram
    counts shuffle, with map-side partial aggregation."""
    d = t(spark, sf_dir, "documents")
    w = F.split("text", " ")
    n = F.size(w)
    bgs = F.zip_with(
        F.slice(w, 1, n - 1),
        F.slice(w, 2, n - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return (
        d.select(F.explode(bgs).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") >= 20)
        .orderBy(F.col("cnt").desc(), "bigram")
        .limit(20)
    )


@q(
    "repetition_ratio",
    oracle="""
    WITH b AS (SELECT doc_id, w[i] || ' ' || w[i + 1] AS bg
               FROM (SELECT doc_id, string_split(text, ' ') AS w
                     FROM documents) d,
                    LATERAL unnest(generate_series(1, len(w) - 1)) AS t(i)),
         c AS (SELECT doc_id, bg, COUNT(*) AS cnt FROM b GROUP BY doc_id, bg),
         r AS (SELECT doc_id,
                      FLOOR(MAX(cnt) / CAST(SUM(cnt) AS DOUBLE) * 10000 + 0.5)
                        / 10000 AS ratio
               FROM c GROUP BY doc_id)
    SELECT CASE WHEN ratio >= 0.07 THEN 'high'
                WHEN ratio >= 0.035 THEN 'mid'
                ELSE 'low' END AS band,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(ratio) AS min_ratio, MAX(ratio) AS max_ratio
    FROM r GROUP BY band ORDER BY band
    """,
)
def repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signal: per document, the fraction of
    bigrams occupied by the MOST REPEATED bigram, banded into a corpus
    histogram. The per-doc top-bigram count is computed WITHIN the row —
    array_sort the bigram array, then a single-pass F.aggregate run-length
    scan (longest run of equal adjacent elements == max multiplicity):
    O(len·log len) per doc and ZERO shuffle before the 3-row band rollup
    (the naive nested filter-count form is O(len²) — 17× slower at sf0.1,
    measured). The oracle takes the equivalent group-by route (cnt/sum-max
    per doc), proving the in-row kernel equals the relational form.
    Ratios are floor-half 4-dp so min/max aggregate already-exact
    values."""
    d = t(spark, sf_dir, "documents")
    w = F.split("text", " ")
    n = F.size(w)
    bgs = F.zip_with(
        F.slice(w, 1, n - 1),
        F.slice(w, 2, n - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    base = d.select(F.col("doc_id"), bgs.alias("_bgs")).where(F.size("_bgs") > 0)
    srt = F.array_sort(F.col("_bgs"))
    acc0 = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )

    def _step(acc, x):
        newrun = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"),
            newrun.alias("run"),
            F.greatest(acc["best"], newrun).alias("best"),
        )

    max_cnt = F.aggregate(srt, acc0, _step, lambda a: a["best"])
    ratio = (
        F.floor(max_cnt / F.size("_bgs").cast("double") * 10000 + 0.5) / 10000
    )
    band = (
        F.when(ratio >= 0.07, "high").when(ratio >= 0.035, "mid").otherwise("low")
    )
    return (
        base.select(band.alias("band"), ratio.alias("_r"))
        .groupBy("band")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("_r").alias("min_ratio"),
            F.max("_r").alias("max_ratio"),
        )
        .orderBy("band")
    )


_LETTERS = "abcdefghijklmnopqrstuvwxyz"


def _entropy_sql() -> str:
    cnts = ",\n                  ".join(
        f"length(lt) - length(replace(lt, '{c}', '')) AS c_{c}"
        for c in _LETTERS
    )
    total = " + ".join(f"c_{c}" for c in _LETTERS)
    terms = " + ".join(
        f"(CASE WHEN c_{c} > 0 THEN -(c_{c} / CAST(n AS DOUBLE))"
        f" * ln(c_{c} / CAST(n AS DOUBLE)) ELSE 0 END)"
        for c in _LETTERS
    )
    return f"""
    WITH l AS (SELECT doc_id, lower(text) AS lt FROM documents),
         c AS (SELECT doc_id,
                  {cnts}
               FROM l),
         g AS (SELECT doc_id, {total} AS n FROM c),
         e AS (SELECT c.doc_id,
                      FLOOR(({terms}) * 10000 + 0.5) / 10000 AS ent
               FROM c JOIN g ON c.doc_id = g.doc_id WHERE n > 0)
    SELECT FLOOR(ent * 10) / 10 AS band,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(ent) AS min_entropy, MAX(ent) AS max_entropy
    FROM e GROUP BY band ORDER BY band
    """


@F.pandas_udf(DoubleType())  # DataType object, NOT a DDL string — string
# parsing needs an active session and would break module import
def _entropy_kernel(texts: pd.Series) -> pd.Series:
    """Vectorized letter-entropy kernel (one bincount per doc, numpy ln).
    NULL text or a letterless doc yields NaN→NULL (filtered by the
    caller). a–z counting on utf-8 bytes is exact: multi-byte sequences
    only produce bytes ≥ 0x80, which cannot collide with ASCII letters."""
    import numpy as np

    out = np.full(len(texts), np.nan)
    for i, s in enumerate(texts):
        if s is None:
            continue
        b = np.frombuffer(s.lower().encode("utf-8"), dtype=np.uint8)
        cnt = np.bincount(b, minlength=123)[97:123]
        n = cnt.sum()
        if n == 0:
            continue
        p = cnt[cnt > 0] / n
        e = float(-(p * np.log(p)).sum())
        out[i] = np.floor(e * 10000 + 0.5) / 10000
    return pd.Series(out)


@q("char_entropy_bands", oracle=_entropy_sql())
def char_entropy_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Letter-distribution Shannon entropy per document, banded to a corpus
    histogram — the gibberish/boilerplate detector of a web-text quality
    stack (natural prose sits near 2.9–3.1 nats; keyboard mash and
    repeated-token spam fall far below). The per-doc kernel is a
    vectorized Arrow UDF (np.bincount + one ln pass — the §2.11 S2-kernel
    discipline): a pure-JVM 26-replace form was tried first but
    CollapseProject inlines the shared lower(text) into ~52 subtrees
    (measured 53 lower() calls in the optimized plan, 2.1 s vs 0.5 s at
    sf0.1) and no shuffle-free barrier can stop it. Still one scan + a
    tiny band rollup — the right shape at 10^12 docs. Entropy snapped
    floor-half 4-dp IN the kernel before banding; numpy ln and DuckDB ln
    are the same libm on this host, tighter parity than StrictMath."""
    d = t(spark, sf_dir, "documents")
    base = d.select(_entropy_kernel(F.col("text")).alias("_e")).where(
        F.col("_e").isNotNull()
    )
    return (
        base.select((F.floor(F.col("_e") * 10) / 10).alias("band"), "_e")
        .groupBy("band")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("_e").alias("min_entropy"),
            F.max("_e").alias("max_entropy"),
        )
        .orderBy("band")
    )


@q(
    "embedding_centroid_by_label",
    oracle="""
    SELECT label, i AS dim,
           FLOOR(AVG(embedding[i]::DOUBLE) * 1000000 + 0.5) / 1000000
             AS centroid_v,
           CAST(COUNT(*) AS BIGINT) AS n_vecs
    FROM embeddings,
         LATERAL unnest(generate_series(1, len(embedding))) AS t(i)
    GROUP BY label, i ORDER BY label, dim
    """,
)
def embedding_centroid_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid vectors (the class-prototype primitive behind IVF
    codebooks, cluster summaries, and embedding-space drift monitoring).
    posexplode fans each vector into (label, dim, v) rows — a dim×larger
    but perfectly-spread shuffle keyed on (label, dim), partial-agg
    map-side; output cardinality is labels × dim. Centroids snap to 6 dp
    floor-half so partial-agg summation order (Spark) vs sequential (the
    oracle) cannot differ at the emitted precision."""
    e = t(spark, sf_dir, "embeddings")
    return (
        e.select(
            "label", F.posexplode(F.col("embedding")).alias("_p", "_v")
        )
        .select("label", (F.col("_p") + 1).alias("dim"), F.col("_v").cast("double").alias("_v"))
        .groupBy("label", "dim")
        .agg(
            (F.floor(F.avg("_v") * 1000000 + 0.5) / 1000000).alias("centroid_v"),
            F.count("*").alias("n_vecs"),
        )
        .orderBy("label", "dim")
    )


_KNN_Q_MOD, _KNN_K = 83, 15


@q(
    "knn_classify",
    oracle=f"""
    WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id % {_KNN_Q_MOD} = 0),
         s AS (SELECT q.qid, e.vec_id, e.label,
                      ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6)
                        AS cosine_sim
               FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid),
         nn AS (SELECT qid, label, cosine_sim FROM s
                QUALIFY ROW_NUMBER() OVER (PARTITION BY qid
                                           ORDER BY cosine_sim DESC, vec_id)
                        <= {_KNN_K}),
         v AS (SELECT qid, label, CAST(COUNT(*) AS BIGINT) AS votes,
                      MAX(cosine_sim) AS best_sim
               FROM nn GROUP BY qid, label)
    SELECT qid, label AS pred_label, votes, best_sim FROM v
    QUALIFY ROW_NUMBER() OVER (PARTITION BY qid
                               ORDER BY votes DESC, label) = 1
    ORDER BY qid
    """,
)
def knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classification — the similarity-search APPLICATION op: each
    query vector takes the majority label of its {k} nearest neighbors by
    exact cosine (batch form: broadcast the query set, score the corpus
    once). The per-query rank filter plans through Catalyst's
    LimitPushDownThroughWindow/WindowGroupLimit as a per-partition top-k
    pre-prune, so the corpus never funnels into one task; the vote rollup
    runs over queries × k rows only. Deterministic ties: cosine 6-dp then
    vec_id for neighbors, votes desc then label for the verdict."""
    from osmgraft.ann.search import cosine_col

    emb = t(spark, sf_dir, "embeddings")
    vec = F.transform(F.col("embedding"), lambda v: v.cast("double"))
    q_side = emb.where(F.col("vec_id") % _KNN_Q_MOD == 0).select(
        F.col("vec_id").alias("qid"), vec.alias("qv")
    )
    corpus = emb.select("vec_id", "label", vec.alias("cv"))
    scored = (
        corpus.crossJoin(F.broadcast(q_side))
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            "qid", "vec_id", "label",
            F.round(cosine_col(F.col("cv"), F.col("qv")), 6).alias("cosine_sim"),
        )
    )
    wn = Window.partitionBy("qid").orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id")
    )
    nn = scored.withColumn("_rn", F.row_number().over(wn)).where(
        F.col("_rn") <= _KNN_K
    )
    votes = nn.groupBy("qid", "label").agg(
        F.count("*").alias("votes"), F.max("cosine_sim").alias("best_sim")
    )
    wv = Window.partitionBy("qid").orderBy(F.col("votes").desc(), "label")
    return (
        votes.withColumn("_rv", F.row_number().over(wv))
        .where(F.col("_rv") == 1)
        .select("qid", F.col("label").alias("pred_label"), "votes", "best_sim")
        .orderBy("qid")
    )


# ---------------------------------------------------------------------------
# int8 scalar-quantization recall audit
# ---------------------------------------------------------------------------

_QZ_QMOD = 50  # every 50th vec_id is a probe query

_QZ_SQL = f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    sc AS (SELECT vec_id, v,
                  greatest(list_max(list_transform(v, y -> abs(y))),
                           1.0e-12) AS s
           FROM e),
    qz AS (SELECT vec_id, v,
                  list_transform(v, x -> floor(x * 1.27e2 / s + 5.0e-1))
                    AS qv
           FROM sc),
    qs AS (SELECT vec_id AS qid, v AS q_v, qv AS q_qv FROM qz
           WHERE vec_id % {_QZ_QMOD} = 0),
    pairs AS (SELECT qs.qid, z.vec_id,
                     ROUND(list_cosine_similarity(z.v, qs.q_v), 5) AS simf,
                     ROUND(list_cosine_similarity(z.qv, qs.q_qv), 5) AS simq
              FROM qz z CROSS JOIN qs WHERE z.vec_id <> qs.qid),
    ranked AS (SELECT qid, simf, simq,
                      ROW_NUMBER() OVER (PARTITION BY qid
                                         ORDER BY simf DESC, vec_id) AS rf,
                      ROW_NUMBER() OVER (PARTITION BY qid
                                         ORDER BY simq DESC, vec_id) AS rq
               FROM pairs)
    SELECT qid,
           CAST(SUM(CASE WHEN rf <= 10 AND rq <= 10 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_overlap,
           ROUND(SUM(CASE WHEN rf <= 10 AND rq <= 10 THEN 1 ELSE 0 END)
                 / 1.0e1, 2) AS recall_at10,
           ROUND(AVG(CASE WHEN rf <= 10 THEN ABS(simf - simq) END), 6)
             AS mean_abs_sim_err
    FROM ranked GROUP BY qid ORDER BY qid
    """


@q("int8_quant_recall", oracle=_QZ_SQL)
def int8_quant_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar-quantization recall audit — the 4× memory/IO-reduction
    path for embedding search at 10^12 scale: each vector is max-abs
    scaled to integer steps in [-127, 127] (`floor(x·127/s + 0.5)`, the
    portable round-half-up form; per-vector scale CANCELS in cosine, so
    quantized cosine needs no dequantization), then every sampled probe's
    float top-10 is compared against its quantized top-10 — recall@10 and
    the mean within-top-10 cosine error per probe.

    Quantization itself is an in-row array transform (no UDF, no
    shuffle, no state) — at scale it runs at parquet-write time and the
    int8 column is what IVF/LSH serving reads. The audit is the standard
    bounded-probe brute-force recall harness: |Q| = n/50 sampled probes
    (bounded — the same smallness assumption any broadcast probe set
    makes) are collected once and scored against the corpus as ONE
    Arrow-batched numpy GEMM per partition (mapInPandas — the
    ann/search module's batch-scoring doctrine; the per-pair
    zip_with/aggregate form rides Catalyst's interpreted higher-order
    lambdas and measured ~4x slower), then two per-probe rank windows
    over the pair relation (keyed by probe — parallel, never
    single-partition) and one conditional agg.

    Values stay integer-valued DOUBLEs on both engines (products ≤ 127²
    over 64 dims are exact in double), so the quantized branch —
    quantize, cosine, rank, overlap — is order-free exact arithmetic;
    the float branch differs from the oracle only below the shared 5-dp
    rounding.
    """
    import numpy as np
    import pandas as pd

    emb = t(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    s = F.greatest(
        F.array_max(F.transform(v, lambda y: F.abs(y))), F.lit(1.0e-12)
    )
    qz = emb.select(
        "vec_id",
        v.alias("v"),
        F.transform(
            v, lambda x: F.floor(x * 127.0 / s + 0.5).cast("double")
        ).alias("qv"),
    )
    probes = (
        qz.where(F.col("vec_id") % _QZ_QMOD == 0)
        .orderBy("vec_id")
        .toPandas()
    )
    qids = probes["vec_id"].to_numpy()
    Qv = np.stack(probes["v"].to_numpy())
    Qqv = np.stack(probes["qv"].to_numpy())
    q_nv = np.sqrt((Qv * Qv).sum(axis=1))
    q_nqv = np.sqrt((Qqv * Qqv).sum(axis=1))

    def score(batches):
        for pdf in batches:
            ids = pdf["vec_id"].to_numpy()
            V = np.stack(pdf["v"].to_numpy())
            QV = np.stack(pdf["qv"].to_numpy())
            nv = np.sqrt((V * V).sum(axis=1))
            nqv = np.sqrt((QV * QV).sum(axis=1))
            # raw GEMM then divide by the norm outer product — the same
            # dot/(na*nb) factoring as the oracle; the quantized dot is
            # exact integer-valued f64, so simq is order-free exact
            simf = np.round((V @ Qv.T) / np.outer(nv, q_nv), 5)
            simq = np.round((QV @ Qqv.T) / np.outer(nqv, q_nqv), 5)
            n, q = simf.shape
            rep_id = np.repeat(ids, q)
            rep_qid = np.tile(qids, n)
            keep = rep_id != rep_qid
            yield pd.DataFrame(
                {
                    "qid": rep_qid[keep],
                    "vec_id": rep_id[keep],
                    "simf": simf.ravel()[keep],
                    "simq": simq.ravel()[keep],
                }
            )

    pairs = qz.mapInPandas(
        score, "qid long, vec_id long, simf double, simq double"
    )
    wf = Window.partitionBy("qid").orderBy(F.desc("simf"), "vec_id")
    wq = Window.partitionBy("qid").orderBy(F.desc("simq"), "vec_id")
    ranked = pairs.select(
        "qid",
        "simf",
        "simq",
        F.row_number().over(wf).alias("rf"),
        F.row_number().over(wq).alias("rq"),
    )
    # both ranks live on the same row, so the float-vs-quantized overlap
    # needs NO self-join (an earlier join formulation recomputed the pair
    # cross-join per branch AND hit the Spark ambiguous-self-lineage trap
    # where drop() removed the wrong side's key): one conditional agg
    # straight off the window output, riding its qid partitioning
    hit = ((F.col("rf") <= 10) & (F.col("rq") <= 10)).cast("long")
    return (
        ranked.groupBy("qid")
        .agg(
            F.sum(hit).cast("long").alias("n_overlap"),
            F.round(F.sum(hit) / 10.0, 2).alias("recall_at10"),
            F.round(
                F.avg(
                    F.when(
                        F.col("rf") <= 10, F.abs(F.col("simf") - F.col("simq"))
                    )
                ),
                6,
            ).alias("mean_abs_sim_err"),
        )
        .orderBy("qid")
    )


# ---------------------------------------------------------------------------
# shingle containment pairs (asymmetric quote/subset detection)
# ---------------------------------------------------------------------------

_CONTAIN_MIN = 0.5

_CONTAIN_SQL = f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
         seq AS (SELECT unnest(generate_series(1,
                   (SELECT MAX(len(arr)) FROM w))) AS i),
         s AS (SELECT doc_id, arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] AS shingle
               FROM w JOIN seq ON i <= len(arr) - 2),
         sd AS (SELECT DISTINCT doc_id, shingle FROM s),
         rare AS (SELECT shingle FROM sd GROUP BY shingle
                  HAVING COUNT(*) <= {_RARE_MAX}),
         rs AS (SELECT sd.doc_id, sd.shingle FROM sd JOIN rare USING (shingle)),
         sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM rs GROUP BY doc_id),
         ov AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       CAST(COUNT(*) AS BIGINT) AS overlap
                FROM rs a JOIN rs b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY doc_a, doc_b)
    SELECT doc_a, doc_b, overlap,
           ROUND(overlap / CAST(LEAST(na.n, nb.n) AS DOUBLE), 4)
             AS containment,
           ROUND(overlap / CAST(na.n + nb.n - overlap AS DOUBLE), 4)
             AS jaccard
    FROM ov JOIN sizes na ON na.doc_id = doc_a
            JOIN sizes nb ON nb.doc_id = doc_b
    WHERE overlap / CAST(LEAST(na.n, nb.n) AS DOUBLE) >= {_CONTAIN_MIN}
    ORDER BY doc_a, doc_b
    """


@q("containment_pairs", oracle=_CONTAIN_SQL)
def containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle CONTAINMENT pairs (Broder's second measure): containment
    |A∩B| / min(|A|, |B|) catches what Jaccard resemblance misses — a
    short document quoted or embedded inside a long one scores near 1.0
    containment but near-zero Jaccard (the quote/subset/boilerplate-
    inclusion dedup mode; `ngram_jaccard_pairs` is the resemblance twin
    and deliberately filters those pairs out). Output carries BOTH
    measures, so the interesting rows are exactly
    high-containment/low-jaccard.

    Scale shape: identical to the Jaccard path — rare-shingle blocking
    (df ≤ {_RARE_MAX}) bounds the per-shingle pair expansion, one
    shingle-keyed equi-join, one pair-keyed partial agg, two broadcast
    size joins. Containment adds zero extra shuffles: min(|A|,|B|) is
    arithmetic over the already-joined sizes.
    """
    docs = t(spark, sf_dir, "documents")
    sd = shingles(docs, n=3)
    rare = (
        sd.groupBy("shingle").count().where(F.col("count") <= _RARE_MAX)
        .select("shingle")
    )
    rs = sd.join(rare, "shingle")
    sizes = rs.groupBy("doc_id").agg(F.count("*").cast("long").alias("n"))
    a = rs.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = rs.select(F.col("doc_id").alias("doc_b"), "shingle")
    ov = (
        a.join(b, "shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("long").alias("overlap"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    cont = F.col("overlap") / F.least("na", "nb").cast("double")
    jac = F.col("overlap") / (
        F.col("na") + F.col("nb") - F.col("overlap")
    ).cast("double")
    return (
        ov.join(na, "doc_a")
        .join(nb, "doc_b")
        .where(cont >= _CONTAIN_MIN)
        .select(
            "doc_a",
            "doc_b",
            "overlap",
            F.round(cont, 4).alias("containment"),
            F.round(jac, 4).alias("jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# cross-source mirror matrix (which sources duplicate which)
# ---------------------------------------------------------------------------

_MIRROR_PREFIX_WORDS = 6

_MIRROR_SQL = f"""
    WITH h AS (SELECT doc_id, source,
                      md5(array_to_string(list_slice(
                            string_split(lower(trim(text)), ' '),
                            1, {_MIRROR_PREFIX_WORDS}), ' ')) AS dig
               FROM documents),
    p AS (SELECT a.source AS src_a, b.source AS src_b
          FROM h a JOIN h b
            ON a.dig = b.dig AND a.doc_id < b.doc_id
          WHERE a.source <> b.source),
    m AS (SELECT LEAST(src_a, src_b) AS source_a,
                 GREATEST(src_a, src_b) AS source_b,
                 CAST(COUNT(*) AS BIGINT) AS n_dup_pairs
          FROM p GROUP BY 1, 2)
    SELECT source_a, source_b, n_dup_pairs
    FROM m ORDER BY n_dup_pairs DESC, source_a, source_b
    """


@q("mirror_source_matrix", oracle=_MIRROR_SQL)
def mirror_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source mirror detection: documents sharing the same opening
    template (digest of the first 6 normalized words — the syndication/
    boilerplate signature; exact-body digests almost never cross sources
    because mirrors edit bylines and footers) appearing under DIFFERENT
    sources, rolled up to an unordered source-pair matrix — the
    diagnostic every crawl curator runs to find mirrors, scrapers, and
    syndication networks (then collapses them in `corpus_mix_plan`'s
    weights). Within-source template reuse is excluded (in-house
    boilerplate, already visible in `line_dedup_stats`).

    Scale shape: one digest-keyed equi-join (the same one-shuffle shape
    as exact dedup — the digest partial-aggs map-side before pairing at
    scale via a group-then-expand, and the `doc_id <` orientation halves
    the pair space), one pair-keyed rollup. The matrix is ≤ |sources|²
    rows — broadcast-scale output.
    """
    docs = t(spark, sf_dir, "documents")
    h = docs.select(
        "doc_id",
        "source",
        F.md5(
            F.encode(
                F.concat_ws(
                    " ",
                    F.slice(
                        F.split(F.lower(F.trim("text")), " "),
                        1,
                        _MIRROR_PREFIX_WORDS,
                    ),
                ),
                "utf-8",
            )
        ).alias("dig"),
    )
    a = h.select(
        F.col("dig").alias("dig"),
        F.col("doc_id").alias("id_a"),
        F.col("source").alias("src_a"),
    )
    b = h.select(
        F.col("dig").alias("dig_b"),
        F.col("doc_id").alias("id_b"),
        F.col("source").alias("src_b"),
    )
    p = a.join(b, (F.col("dig") == F.col("dig_b")) & (F.col("id_a") < F.col("id_b"))).where(
        F.col("src_a") != F.col("src_b")
    )
    return (
        p.select(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("long").alias("n_dup_pairs"))
        .orderBy(F.desc("n_dup_pairs"), "source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# language confusion matrix (declared vs predicted)
# ---------------------------------------------------------------------------

_LANG_CONFUSION_SQL = f"""
    WITH pred AS ({_LANG_ID_ORACLE.replace("ORDER BY doc_id", "")})
    SELECT d.lang AS declared_lang, p.pred_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN d.lang = p.pred_lang THEN 1 ELSE 0 END)
                AS BIGINT) AS n_agree
    FROM documents d JOIN pred p ON d.doc_id = p.doc_id
    GROUP BY declared_lang, p.pred_lang
    ORDER BY declared_lang, p.pred_lang
    """


@q("lang_confusion_matrix", oracle=_LANG_CONFUSION_SQL)
def lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-metadata QA: confusion matrix between the DECLARED lang
    column (crawl metadata — HTTP headers / html lang attributes, wrong
    embarrassingly often in real crawls) and the engine's marker-word
    `lang_id` prediction. The per-cell counts are what a corpus curator
    reads to decide whether to trust metadata, the classifier, or
    neither per language — the standard pre-filter audit before
    `corpus_mix_plan` allocates by language.

    Scale shape: the prediction is the same scan-only expression stack
    as `lang_id` (no UDF); the matrix is ONE partial-agg shuffle on the
    (declared, predicted) pair — ≤ |langs|² rows out; the join back to
    the declared column is keyed by doc_id on the same scan.
    """
    docs = t(spark, sf_dir, "documents")
    pred = language_id(docs).select("doc_id", "pred_lang")
    out = docs.select("doc_id", F.col("lang").alias("declared_lang")).join(
        pred, "doc_id"
    )
    return (
        out.groupBy("declared_lang", "pred_lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(
                (F.col("declared_lang") == F.col("pred_lang")).cast("long")
            ).cast("long").alias("n_agree"),
        )
        .orderBy("declared_lang", "pred_lang")
    )


# ---------------------------------------------------------------------------
# per-language quantile normalization (percent_rank / cume_dist)
# ---------------------------------------------------------------------------

_QNORM_SQL = """
    SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
           ROUND(PERCENT_RANK() OVER (PARTITION BY lang
                                      ORDER BY n_chars), 6) AS len_pctrank,
           ROUND(CUME_DIST() OVER (PARTITION BY lang
                                   ORDER BY n_chars), 6) AS len_cume
    FROM documents ORDER BY doc_id
    """


@q("quantile_normalize_lengths", oracle=_QNORM_SQL)
def quantile_normalize_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quantile normalization of document length — the
    feature-engineering transform that makes a length-based quality
    threshold comparable ACROSS languages (a 400-char Chinese page and a
    400-char German page sit at very different percentiles of their
    language's distribution; thresholding the raw value, as the plain
    `quality_scores` length band does, biases the corpus mix).
    `percent_rank` = (rank−1)/(n−1) and `cume_dist` = rank_end/n are
    both RANK-based, so ties need no arbitrary ordering — the outputs
    are deterministic across engines and partitionings with no tiebreak
    column at all (unlike every row_number query here).

    Scale shape: ONE lang-keyed window over the scan (keys parallelize);
    no joins, no second pass — rank normalization is exactly as
    expensive as the sort the window needs.
    """
    d = t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    w = Window.partitionBy("lang").orderBy("n_chars")
    return d.select(
        "doc_id",
        "lang",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.round(F.percent_rank().over(w), 6).alias("len_pctrank"),
        F.round(F.cume_dist().over(w), 6).alias("len_cume"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# edit-distance near-duplicate titles (blocked levenshtein join)
# ---------------------------------------------------------------------------

_ED_MAX = 3

_EDIT_SQL = f"""
    WITH t0 AS (
      SELECT doc_id,
             array_to_string(list_slice(string_split(lower(text), ' '),
                                        1, 6), ' ') AS title0
      FROM documents),
    titles AS (
      SELECT doc_id,
             CASE WHEN doc_id % 6 = 0
                  THEN substring(title0, 1, 2) || substring(title0, 4)
                  ELSE title0 END AS title
      FROM t0),
    keyed AS (
      SELECT doc_id, title,
             length(title) AS tlen,
             substring(title, 1, 2) AS pfx
      FROM titles),
    cand AS (
      SELECT a.doc_id AS doc_a, a.title AS title_a,
             b.doc_id AS doc_b, b.title AS title_b
      FROM keyed a JOIN keyed b
        ON a.pfx = b.pfx
       AND b.tlen BETWEEN a.tlen - {_ED_MAX} AND a.tlen + {_ED_MAX}
       AND a.doc_id < b.doc_id
      WHERE a.title <> b.title)
    SELECT doc_a, doc_b,
           CAST(levenshtein(title_a, title_b) AS BIGINT) AS edit_dist
    FROM cand
    WHERE levenshtein(title_a, title_b) <= {_ED_MAX}
    ORDER BY doc_a, doc_b
    """


@q("title_editdist_pairs", oracle=_EDIT_SQL)
def title_editdist_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-duplicate titles — the CHARACTER-level fuzzy
    match the set-based family (Jaccard/MinHash/SimHash/containment)
    cannot express: one typo or inflection is edit distance 1 but can
    flip every shingle (a deterministic typo is injected into 1/6 of the
    synthesized titles so the fixture exercises real distance-1 pairs). The reference's fuzzy supplier-name matching
    (`known_suppliers_check.sql` ILIKE patterns) generalizes to exactly
    this operator at corpus scale. Titles = first 6 lowercased words.

    The naive form is an all-pairs levenshtein (O(n²·L²) — dead at any
    scale). The rewrite blocks on (2-char prefix) with a ±{_ED_MAX}
    LENGTH BAND residual — both are necessary conditions for distance
    ≤ {_ED_MAX} when the first 2 chars match (length difference is a
    lower bound on edit distance), so the blocking is lossy ONLY for
    pairs differing in the prefix itself (documented recall trade; the
    standard second pass re-blocks on a suffix key). Levenshtein runs
    only inside blocks, JVM-side, and with the {_ED_MAX} THRESHOLD
    argument: Spark computes only the 2k+1 diagonal band and early-exits
    (returns -1 above the bound), so the per-pair cost is O(L·k) instead
    of O(L²) — measured 16.9 s → 0.1 s warm at sf0.1 over the same 250 k
    candidate pairs. Kept pairs carry the exact distance, identical to
    DuckDB's unbounded `levenshtein` under the same ≤ {_ED_MAX} filter
    (oracle-paired).

    Scale shape: one prefix-keyed equi-join (length band as residual),
    quadratic only within a block (prefix+length keys distribute finely;
    a hot prefix salts like any hot cell), one cheap per-pair scalar.
    """
    d = t(spark, sf_dir, "documents")
    title0 = F.concat_ws(
        " ", F.slice(F.split(F.lower("text"), " "), 1, 6)
    )
    # deterministic typo injection (drop the 3rd char for doc_id%6==0):
    # the fixture's shared 6-word templates then yield genuine
    # distance-1 pairs between typo'd and clean twins
    title = F.when(
        F.col("doc_id") % 6 == 0,
        F.concat(F.substring(title0, 1, 2), F.substring(title0, 4, 1 << 20)),
    ).otherwise(title0)
    keyed = d.select(
        "doc_id",
        title.alias("title"),
        F.length(title).alias("tlen"),
        F.substring(title, 1, 2).alias("pfx"),
    )
    a = keyed.select(
        F.col("doc_id").alias("doc_a"), F.col("title").alias("title_a"),
        F.col("tlen").alias("len_a"), "pfx",
    )
    b = keyed.select(
        F.col("doc_id").alias("doc_b"), F.col("title").alias("title_b"),
        F.col("tlen").alias("len_b"), F.col("pfx").alias("pfx_b"),
    )
    cand = a.join(
        b,
        (F.col("pfx") == F.col("pfx_b"))
        & (F.col("len_b") >= F.col("len_a") - _ED_MAX)
        & (F.col("len_b") <= F.col("len_a") + _ED_MAX)
        & (F.col("doc_a") < F.col("doc_b")),
    ).where(F.col("title_a") != F.col("title_b"))
    # banded levenshtein: -1 above the threshold, exact distance below it
    dist = F.levenshtein("title_a", "title_b", _ED_MAX)
    return (
        cand.where(dist >= 0)
        .select("doc_a", "doc_b", dist.cast("long").alias("edit_dist"))
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# reciprocal rank fusion of two rankers
# ---------------------------------------------------------------------------

_RRF_K = 60
_RRF_POOL = 20  # candidates taken from each ranker
_RRF_TOP = 15

_RRF_SQL = f"""
    WITH tfs AS (SELECT doc_id,
                        CAST(len(list_filter(string_split(text, ' '),
                                             w -> w = 'table'))
                             AS BIGINT) AS s
                 FROM documents),
         ra0 AS (SELECT doc_id, s FROM tfs
                 ORDER BY s DESC, doc_id LIMIT {_RRF_POOL}),
         ra AS (SELECT doc_id,
                       ROW_NUMBER() OVER (ORDER BY s DESC, doc_id) AS r
                FROM ra0),
         rb0 AS (SELECT doc_id, n_chars FROM documents
                 ORDER BY n_chars DESC, doc_id LIMIT {_RRF_POOL}),
         rb AS (SELECT doc_id,
                       ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id)
                         AS r
                FROM rb0),
         f AS (SELECT COALESCE(ra.doc_id, rb.doc_id) AS doc_id,
                      ra.r AS ra_r, rb.r AS rb_r,
                      ROUND(COALESCE(1.0e0 / ({_RRF_K} + ra.r), 0.0e0)
                            + COALESCE(1.0e0 / ({_RRF_K} + rb.r), 0.0e0),
                            6) AS rrf
               FROM ra FULL OUTER JOIN rb ON ra.doc_id = rb.doc_id)
    SELECT doc_id,
           CAST(COALESCE(ra_r, -1) AS BIGINT) AS rank_tf,
           CAST(COALESCE(rb_r, -1) AS BIGINT) AS rank_len,
           rrf
    FROM f ORDER BY rrf DESC, doc_id LIMIT {_RRF_TOP}
    """


@q("rrf_fusion", oracle=_RRF_SQL)
def rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal rank fusion (Cormack et al. 2009): combine a lexical
    ranker (term frequency of 'table') and a length ranker over the
    document corpus — score = sum over rankers of 1/(k + rank), k = 60,
    missing-from-list contributes nothing — the standard hybrid-search
    combiner a retrieval pipeline puts between ``bm25_top_docs`` and an
    ANN ranker.

    Scale shape: each ranker's candidate pool is an
    ``orderBy().limit(20)`` — Catalyst rewrites it to
    TakeOrderedAndProject (no global sort of raw rows; the
    ``window_rank`` precedent) — and the rank window + full outer join
    run over <= 20-row pools. Deterministic (score, doc_id) tiebreaks
    everywhere.
    """
    docs = t(spark, sf_dir, "documents")
    tfs = docs.select(
        "doc_id",
        F.size(
            F.filter(F.split("text", " "), lambda w: w == F.lit("table"))
        )
        .cast("long")
        .alias("s"),
    )
    ra0 = tfs.orderBy(F.col("s").desc(), "doc_id").limit(_RRF_POOL)
    ra = ra0.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("s").desc(), "doc_id"))
        .alias("ra_r"),
    )
    rb0 = docs.select("doc_id", "n_chars").orderBy(
        F.col("n_chars").desc(), "doc_id"
    ).limit(_RRF_POOL)
    rb = rb0.select(
        F.col("doc_id").alias("rb_doc"),
        F.row_number()
        .over(Window.orderBy(F.col("n_chars").desc(), "doc_id"))
        .alias("rb_r"),
    )
    f = ra.join(rb, ra.doc_id == rb.rb_doc, "full_outer").select(
        F.coalesce("doc_id", "rb_doc").alias("doc_id"),
        "ra_r",
        "rb_r",
        F.round(
            F.coalesce(1.0 / (_RRF_K + F.col("ra_r")), F.lit(0.0))
            + F.coalesce(1.0 / (_RRF_K + F.col("rb_r")), F.lit(0.0)),
            6,
        ).alias("rrf"),
    )
    return (
        f.select(
            "doc_id",
            F.coalesce("ra_r", F.lit(-1)).cast("long").alias("rank_tf"),
            F.coalesce("rb_r", F.lit(-1)).cast("long").alias("rank_len"),
            "rrf",
        )
        .orderBy(F.col("rrf").desc(), "doc_id")
        .limit(_RRF_TOP)
    )


# ---------------------------------------------------------------------------
# weighted sparse-vector similarity join (tf-idf cosine pairs)
# ---------------------------------------------------------------------------

_TC_RARE_DF = 12  # blocking: candidate pairs must share a term this rare
_TC_MIN_COS = 0.5
_TC_LIGHT_DF = 64  # light/heavy posting split (Bayardo et al., WWW'07)

_TC_SQL = f"""
    WITH arrs AS (SELECT doc_id, string_split(text, ' ') AS arr
                  FROM documents WHERE len(string_split(text, ' ')) >= 3),
    toks AS (SELECT doc_id,
                    array_to_string(list_slice(arr, k + 1, k + 3), ' ') AS w
             FROM arrs, UNNEST(range(len(arr) - 2)) AS t(k)),
    tf AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf
           FROM toks GROUP BY doc_id, w),
    df AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY w),
    nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM tf),
    wt AS (SELECT tf.doc_id, tf.w,
                  CAST(FLOOR(tf.tf * LN(nd.n * 1.0e0 / df.df) * 1000000.0e0
                             + 5.0e-1) AS BIGINT) AS wu
           FROM tf JOIN df USING (w) CROSS JOIN nd),
    norms AS (SELECT doc_id, SUM(wu * wu) AS n2 FROM wt GROUP BY doc_id),
    rare AS (SELECT w FROM df WHERE df BETWEEN 2 AND {_TC_RARE_DF}),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM tf a JOIN rare USING (w) JOIN tf b USING (w)
             WHERE a.doc_id < b.doc_id),
    dots AS (SELECT c.doc_a, c.doc_b, SUM(x.wu * y.wu) AS dot
             FROM cand c
             JOIN wt x ON x.doc_id = c.doc_a
             JOIN wt y ON y.doc_id = c.doc_b AND y.w = x.w
             GROUP BY c.doc_a, c.doc_b),
    cos AS (SELECT d.doc_a, d.doc_b,
                   ROUND(d.dot / (SQRT(na.n2 * 1.0e0) * SQRT(nb.n2 * 1.0e0)),
                         6) AS cosine
            FROM dots d
            JOIN norms na ON na.doc_id = d.doc_a
            JOIN norms nb ON nb.doc_id = d.doc_b)
    SELECT doc_a, doc_b, cosine FROM cos
    WHERE cosine >= {_TC_MIN_COS}e0
    ORDER BY doc_a, doc_b
    """


@q("tfidf_cosine_pairs", oracle=_TC_SQL)
def tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sparse-vector similarity join: tf-idf cosine over
    document 3-gram-shingle vectors, candidate pairs blocked by shared
    RARE shingles (2 <= df <= 12 — the prefix-filter family; ``ngram_jaccard_pairs`` is the
    unweighted set version, this is the weighted one a plagiarism/
    near-dup reranker uses), full dot product computed over ALL shared
    terms of each candidate pair.

    Exactness: tf-idf weights snap to integer micro-units, so the dot
    product and squared norms are exact integer SUMs (order-free); the
    one float step per pair (sqrt of the norm product — kept as
    sqrt*sqrt, the integer product would overflow int64) is identical
    expression text on both engines.

    Scale shape — light/heavy posting split (the frequency-based
    partitioning of Bayardo et al., "Scaling Up All Pairs Similarity
    Search", WWW 2007): terms with df <= _TC_LIGHT_DF are LIGHT — their
    dot-product contributions come from a direct posting self-join on
    the term key, bounded per key by df^2 <= tau^2 and in total by
    tau * |postings| (linear in the corpus with the tau knob); the same
    join emits the rare-term (2 <= df <= _TC_RARE_DF <= tau) candidate
    flag, so one shuffle produces BOTH the candidate set and the light
    dots — no separate candidate self-join + pair DISTINCT. Terms with
    df > tau are HEAVY — hot-key df^2 would blow up the self-join, so
    their contributions ride the old (candidate x heavy-term) equi-join,
    bounded by |candidates| * heavy-terms-per-doc. Exact under the
    split: the integer dot is a sum over shared terms and every shared
    term is counted exactly once on exactly one path; norms are
    doc-keyed partial aggs over ALL terms joined back by key.
    """
    arrs = t(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("arr")
    ).filter(F.size("arr") >= 3)
    toks = arrs.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(arr) - 3), "
                "i -> array_join(slice(arr, i + 1, 3), ' '))"
            )
        ).alias("w"),
    )
    # tf feeds df and the weighted posting relation; without a cut the
    # shingle scan + aggregation re-executes per consumer (~2 s each at
    # sf0.1). Standard materialize-the-reused-relation step.
    tf = toks.groupBy("doc_id", "w").agg(
        F.count("*").cast("long").alias("tf")
    ).transform(cut)
    df = tf.groupBy("w").agg(F.count("*").cast("long").alias("df"))
    nd = tf.agg(F.countDistinct("doc_id").cast("long").alias("n"))
    # weighted postings, carrying df so the light/heavy routing and the
    # rare-candidate flag are codegen filters, not extra joins
    wtd = (
        tf.join(df, "w")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "w",
            F.floor(
                F.col("tf")
                * F.log(F.col("n") * 1.0 / F.col("df"))
                * 1000000.0
                + 0.5
            )
            .cast("long")
            .alias("wu"),
            "df",
        )
        # four consumers (norms, light x/y sides, heavy sides) — cut once
        .transform(cut)
    )
    norms = wtd.groupBy("doc_id").agg(
        F.sum(F.col("wu") * F.col("wu")).alias("n2")
    )
    # LIGHT path: bounded posting self-join emits dot contributions AND
    # the rare-blocking candidate flag in one shuffle (rare => light,
    # since _TC_RARE_DF <= _TC_LIGHT_DF)
    light = wtd.filter(F.col("df") <= _TC_LIGHT_DF)
    xl = light.select(
        F.col("doc_id").alias("doc_a"), "w",
        F.col("wu").alias("xu"), F.col("df").alias("xdf"),
    )
    yl = light.select(
        F.col("doc_id").alias("doc_b"), F.col("w").alias("yw"),
        F.col("wu").alias("yu"),
    )
    low = (
        xl.join(yl, F.col("w") == F.col("yw"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum(F.col("xu") * F.col("yu")).alias("dot_low"),
            F.max(
                (
                    (F.col("xdf") >= 2) & (F.col("xdf") <= _TC_RARE_DF)
                ).cast("int")
            ).alias("has_rare"),
        )
        .filter(F.col("has_rare") == 1)
        .select("doc_a", "doc_b", "dot_low")
        # two consumers (heavy-path pair list, final sum) — cut once
        .transform(cut)
    )
    # HEAVY path: hot terms would make the self-join df^2-quadratic, so
    # their contributions are gathered per candidate pair instead
    heavy = wtd.filter(F.col("df") > _TC_LIGHT_DF)
    xh = heavy.select(
        F.col("doc_id").alias("doc_a"), F.col("w").alias("xw"),
        F.col("wu").alias("xu"),
    )
    yh = heavy.select(
        F.col("doc_id").alias("y_doc"), F.col("w").alias("yw"),
        F.col("wu").alias("yu"),
    )
    high = (
        low.select("doc_a", "doc_b")
        .join(xh, "doc_a")
        .join(
            yh,
            (F.col("doc_b") == F.col("y_doc"))
            & (F.col("xw") == F.col("yw")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("xu") * F.col("yu")).alias("dot_high"))
    )
    dots = (
        low.join(high, ["doc_a", "doc_b"], "left")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("dot_low")
                + F.coalesce(F.col("dot_high"), F.lit(0).cast("long"))
            ).alias("dot"),
        )
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("n2").alias("na2"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("n2").alias("nb2"))
    cos = (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("dot")
                / (F.sqrt(F.col("na2") * 1.0) * F.sqrt(F.col("nb2") * 1.0)),
                6,
            ).alias("cosine"),
        )
    )
    return (
        cos.filter(F.col("cosine") >= _TC_MIN_COS)
        .select("doc_a", "doc_b", "cosine")
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# stored-query percolation (reverse search / alerting)
# ---------------------------------------------------------------------------

_PERC_NQ = 8  # stored conjunctive queries, seeded from corpus text

_PERC_SQL = f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS arr
               FROM documents),
    seeds AS (SELECT doc_id // 37 AS q_id, arr FROM w
              WHERE doc_id % 37 = 0 AND doc_id // 37 < {_PERC_NQ}
                AND len(arr) >= 9),
    qterms AS (SELECT q_id, arr[(q_id % 3) + 1] AS term FROM seeds
               UNION
               SELECT q_id, arr[(q_id % 3) + 3] FROM seeds
               UNION
               SELECT q_id, arr[(q_id % 3) + 5] FROM seeds),
    qsize AS (SELECT q_id, CAST(COUNT(DISTINCT term) AS BIGINT) AS n_terms
              FROM qterms GROUP BY q_id),
    dw AS (SELECT DISTINCT doc_id, unnest(arr) AS term FROM w),
    hits AS (SELECT q.q_id, d.doc_id,
                    CAST(COUNT(DISTINCT d.term) AS BIGINT) AS n_hit
             FROM qterms q JOIN dw d USING (term)
             GROUP BY q.q_id, d.doc_id),
    m AS (SELECT h.q_id, h.doc_id
          FROM hits h JOIN qsize s USING (q_id)
          WHERE h.n_hit = s.n_terms)
    SELECT s.q_id, s.n_terms,
           CAST(COUNT(m.doc_id) AS BIGINT) AS n_matched_docs,
           CAST(MIN(m.doc_id) AS BIGINT) AS first_doc,
           CAST(MAX(m.doc_id) AS BIGINT) AS last_doc
    FROM qsize s LEFT JOIN m USING (q_id)
    GROUP BY s.q_id, s.n_terms ORDER BY s.q_id
    """


@q("stored_query_match", oracle=_PERC_SQL)
def stored_query_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stored-query percolation (reverse search): 8 conjunctive stored
    queries — seeded from corpus text so matches provably exist — are
    evaluated against EVERY document in one pass: a doc matches iff its
    word set contains all the query's terms, decided by counting
    distinct matched terms against the query size (the Elasticsearch
    percolator / alerting shape, and the inverse of ``bm25_top_docs``:
    there a query ranks docs, here docs trigger queries).

    Scale shape: the stored-query term list is tiny and BROADCAST; the
    document side explodes to distinct (doc, term) once and semi-joins
    on the term key; one (query, doc) partial agg decides conjunctions.
    Per-alert cost is independent of the query count until queries
    outgrow the broadcast — then the same plan shards by term.
    """
    w = t(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("arr")
    )
    seeds = w.filter(
        (F.col("doc_id") % 37 == 0)
        & (F.col("doc_id") / 37 < _PERC_NQ)
        & (F.size("arr") >= 9)
    ).select((F.col("doc_id") / 37).cast("long").alias("q_id"), "arr")
    qterms = (
        seeds.select(
            "q_id", F.element_at("arr", (F.col("q_id") % 3 + 1).cast("int")).alias("term")
        )
        .union(
            seeds.select(
                "q_id",
                F.element_at("arr", (F.col("q_id") % 3 + 3).cast("int")),
            )
        )
        .union(
            seeds.select(
                "q_id",
                F.element_at("arr", (F.col("q_id") % 3 + 5).cast("int")),
            )
        )
        .distinct()
    )
    qsize = qterms.groupBy("q_id").agg(
        F.countDistinct("term").cast("long").alias("n_terms")
    )
    dw = w.select("doc_id", F.explode("arr").alias("term")).distinct()
    hits = (
        F.broadcast(qterms)
        .join(dw, "term")
        .groupBy("q_id", "doc_id")
        .agg(F.countDistinct("term").cast("long").alias("n_hit"))
    )
    m = hits.join(F.broadcast(qsize), "q_id").filter(
        F.col("n_hit") == F.col("n_terms")
    ).select("q_id", "doc_id")
    return (
        qsize.join(m, "q_id", "left")
        .groupBy("q_id", "n_terms")
        .agg(
            F.count("doc_id").cast("long").alias("n_matched_docs"),
            F.min("doc_id").cast("long").alias("first_doc"),
            F.max("doc_id").cast("long").alias("last_doc"),
        )
        .orderBy("q_id")
    )


# ---------------------------------------------------------------------------
# SymSpell deletion-neighborhood typo pairs (complete at distance 1)
# ---------------------------------------------------------------------------

_SYMSPELL_SQL = """
    WITH t0 AS (
      SELECT doc_id,
             array_to_string(list_slice(string_split(lower(text), ' '),
                                        1, 6), ' ') AS title0
      FROM documents),
    titles AS (
      SELECT doc_id,
             CASE WHEN doc_id % 6 = 0
                  THEN substring(title0, 1, 2) || substring(title0, 4)
                  ELSE title0 END AS title
      FROM t0),
    vars AS (
      SELECT doc_id, title, title AS variant FROM titles
      UNION ALL
      SELECT doc_id, title,
             substring(title, 1, k) || substring(title, k + 2) AS variant
      FROM titles, UNNEST(range(length(title))) AS t(k)),
    v AS (SELECT DISTINCT doc_id, title, variant FROM vars),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, a.title AS title_a,
             b.doc_id AS doc_b, b.title AS title_b
      FROM v a JOIN v b USING (variant)
      WHERE a.doc_id < b.doc_id AND a.title <> b.title)
    SELECT doc_a, doc_b,
           CAST(levenshtein(title_a, title_b) AS BIGINT) AS edit_dist
    FROM cand
    WHERE levenshtein(title_a, title_b) <= 1
    ORDER BY doc_a, doc_b
    """


@q("symspell_typo_pairs", oracle=_SYMSPELL_SQL)
def symspell_typo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SymSpell deletion-neighborhood near-dup pairs: every title emits
    itself plus its |title| single-deletion variants; two titles within
    edit distance 1 ALWAYS share a variant (deletion/insertion: one IS a
    variant of the other; substitution: both delete the same position;
    a theorem, not a heuristic — pytest-checked against a brute-force
    distance-1 scan), so an equi-join on the variant key finds every
    typo pair with no quadratic stage. The exact-levenshtein refine then
    discards hash-style false positives. Complements
    ``title_editdist_pairs`` (prefix+length blocked, radius 3 — fast but
    heuristic) with the provably complete radius-1 member of the
    fuzzy-match family.

    Scale shape: the variant explode multiplies each title by its length
    (bounded), the join is an equi-join on the variant string (8-byte
    hash at production scale), candidates dedup before the refine. No
    cross join anywhere.
    """
    t0 = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.array_join(F.slice(F.split(F.lower("text"), " "), 1, 6), " ")
        .alias("title0"),
    )
    titles = t0.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 6 == 0,
            F.concat(
                F.substring("title0", 1, 2), F.expr("substring(title0, 4)")
            ),
        )
        .otherwise(F.col("title0"))
        .alias("title"),
    )
    dels = titles.select(
        "doc_id",
        "title",
        F.explode(
            F.expr(
                "transform(sequence(0, length(title) - 1), k -> "
                "concat(substring(title, 1, k), substring(title, k + 2)))"
            )
        ).alias("variant"),
    )
    v = (
        titles.select("doc_id", "title", F.col("title").alias("variant"))
        .unionAll(dels)
        .distinct()
    )
    a = v.select(
        F.col("doc_id").alias("doc_a"),
        F.col("title").alias("title_a"),
        "variant",
    )
    b = v.select(
        F.col("doc_id").alias("doc_b"),
        F.col("title").alias("title_b"),
        F.col("variant").alias("vb"),
    )
    cand = (
        a.join(b, F.col("variant") == F.col("vb"))
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.col("title_a") != F.col("title_b"))
        )
        .select("doc_a", "title_a", "doc_b", "title_b")
        .distinct()
    )
    return (
        cand.select(
            "doc_a",
            "doc_b",
            F.levenshtein("title_a", "title_b").cast("long").alias(
                "edit_dist"
            ),
        )
        .filter(F.col("edit_dist") <= 1)
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# dedup-detector evaluation: precision / recall vs template ground truth
# ---------------------------------------------------------------------------

_EVAL_SQL = f"""
    WITH pr AS ({_NGRAM_PAIRS_SQL}),
    sys AS (SELECT doc_a, doc_b FROM pr),
    h AS (SELECT doc_id,
                 md5(array_to_string(list_slice(
                       string_split(lower(trim(text)), ' '),
                       1, {_MIRROR_PREFIX_WORDS}), ' ')) AS dig
          FROM documents),
    truth AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM h a JOIN h b ON a.dig = b.dig AND a.doc_id < b.doc_id),
    j AS (SELECT COALESCE(s.doc_a, t.doc_a) AS doc_a,
                 CASE WHEN s.doc_a IS NOT NULL THEN 1 ELSE 0 END AS in_sys,
                 CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END AS in_truth
          FROM sys s FULL OUTER JOIN truth t
            ON s.doc_a = t.doc_a AND s.doc_b = t.doc_b),
    c AS (SELECT CAST(SUM(in_sys) AS BIGINT) AS n_sys,
                 CAST(SUM(in_truth) AS BIGINT) AS n_truth,
                 CAST(SUM(in_sys * in_truth) AS BIGINT) AS n_both
          FROM j)
    SELECT n_sys, n_truth, n_both,
           ROUND(n_both * 1.0e0 / n_sys, 6) AS precision_,
           ROUND(n_both * 1.0e0 / n_truth, 6) AS recall_,
           ROUND(2.0e0 * n_both / (n_sys + n_truth), 6) AS f1
    FROM c
    """


@q("dedup_eval_pr", oracle=_EVAL_SQL)
def dedup_eval_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-detector evaluation harness: the rare-shingle Jaccard pair
    detector (``ngram_jaccard_pairs``) scored against an in-corpus
    ground truth (pairs sharing the 6-word template prefix — the
    ``mirror_source_matrix`` digest) — precision, recall, F1 from exact
    pair-set intersection counts. The eval loop every dedup pipeline
    needs before trusting a detector at 10^12 docs, expressed as a
    query: truth and system are both relations, so the confusion counts
    are one full-outer join.

    Scale shape: both pair sets are key-keyed relations; the
    intersection is a (doc_a, doc_b) full-outer equi-join + one scalar
    agg. Integer counts, three divisions.
    """
    sys_pairs = ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    h = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(
            F.array_join(
                F.slice(
                    F.split(F.lower(F.trim(F.col("text"))), " "),
                    1,
                    _MIRROR_PREFIX_WORDS,
                ),
                " ",
            )
        ).alias("dig"),
    )
    hb = h.select(F.col("doc_id").alias("doc_b2"), F.col("dig").alias("d2"))
    truth = h.join(
        hb, (F.col("dig") == F.col("d2")) & (F.col("doc_id") < F.col("doc_b2"))
    ).select(
        F.col("doc_id").alias("t_a"), F.col("doc_b2").alias("t_b")
    )
    j = sys_pairs.join(
        truth,
        (F.col("doc_a") == F.col("t_a")) & (F.col("doc_b") == F.col("t_b")),
        "full_outer",
    ).select(
        F.when(F.col("doc_a").isNotNull(), 1).otherwise(0).alias("in_sys"),
        F.when(F.col("t_a").isNotNull(), 1).otherwise(0).alias("in_truth"),
    )
    c = j.agg(
        F.sum("in_sys").cast("long").alias("n_sys"),
        F.sum("in_truth").cast("long").alias("n_truth"),
        F.sum(F.col("in_sys") * F.col("in_truth"))
        .cast("long")
        .alias("n_both"),
    )
    return c.select(
        "n_sys",
        "n_truth",
        "n_both",
        F.round(F.col("n_both") * 1.0 / F.col("n_sys"), 6).alias(
            "precision_"
        ),
        F.round(F.col("n_both") * 1.0 / F.col("n_truth"), 6).alias(
            "recall_"
        ),
        F.round(
            2.0 * F.col("n_both") / (F.col("n_sys") + F.col("n_truth")), 6
        ).alias("f1"),
    )


# ---------------------------------------------------------------------------
# RAKE keyphrase extraction (stopword-boundary phrases, degree/freq scores)
# ---------------------------------------------------------------------------

_RAKE_STOPS = "'the', 'a', 'an', 'and', 'of', 'to', 'in', 'is', 'it', 'for'"
_RAKE_TOP = 15
_RAKE_MAX_LEN = 6  # cap phrase length (standard RAKE hygiene)

_RAKE_SQL = f"""
    WITH w AS (SELECT doc_id, k AS pos, arr[k + 1] AS word
               FROM (SELECT doc_id, string_split(text, ' ') AS arr
                     FROM documents),
                    UNNEST(range(len(arr))) AS t(k)),
    nw AS (SELECT doc_id, pos, word FROM w
           WHERE word NOT IN ({_RAKE_STOPS})),
    brk AS (SELECT doc_id, pos, word,
                   CASE WHEN pos - LAG(pos) OVER
                          (PARTITION BY doc_id ORDER BY pos) = 1
                        THEN 0 ELSE 1 END AS is_new
            FROM nw),
    isl AS (SELECT doc_id, pos, word,
                   SUM(is_new) OVER (PARTITION BY doc_id ORDER BY pos)
                     AS phrase_id
            FROM brk),
    ph AS (SELECT doc_id, phrase_id,
                  string_agg(word, ' ' ORDER BY pos) AS phrase,
                  CAST(COUNT(*) AS BIGINT) AS plen
           FROM isl GROUP BY doc_id, phrase_id
           HAVING COUNT(*) <= {_RAKE_MAX_LEN}),
    pw AS (SELECT i.doc_id, i.phrase_id, i.word, p.plen, p.phrase
           FROM isl i JOIN ph p USING (doc_id, phrase_id)),
    ws AS (SELECT word,
                  CAST(COUNT(*) AS BIGINT) AS freq,
                  CAST(SUM(plen) AS BIGINT) AS degree
           FROM pw GROUP BY word),
    su AS (SELECT word, (degree * 1000000) // freq AS score_u FROM ws),
    inst AS (SELECT pw.doc_id, pw.phrase_id, pw.phrase,
                    CAST(SUM(su.score_u) AS BIGINT) AS score_u
             FROM pw JOIN su USING (word)
             GROUP BY pw.doc_id, pw.phrase_id, pw.phrase),
    agg AS (SELECT phrase,
                   CAST(COUNT(*) AS BIGINT) AS n_instances,
                   CAST(MAX(score_u) AS BIGINT) AS score_u
            FROM inst GROUP BY phrase)
    SELECT phrase, n_instances,
           ROUND(score_u / 1000000.0e0, 6) AS rake_score
    FROM agg ORDER BY rake_score DESC, phrase LIMIT {_RAKE_TOP}
    """


@q("rake_keyphrases", oracle=_RAKE_SQL)
def rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010): candidate phrases
    are maximal stopword-free word runs (found with the same per-doc
    lag-window island detection as ``dup_span_stats``), each scored by
    the sum of its words' degree/frequency ratios — the classic
    unsupervised keyphrase extractor, and a phrase-level upgrade over
    the single-word ``word_freq``/``tfidf_top_terms`` surfaces.

    Exactness: degree and frequency are integer aggregates over phrase
    words; each word's score snaps to micro-units via integer division
    BEFORE the per-phrase sum, so phrase scores are exact integers until
    one final display division. Top-k is (score, phrase)-tiebroken.

    Scale shape: one explode, one doc-keyed island window, word stats as
    a word-keyed partial agg joined back by word key, phrase rollup on
    the phrase key, TakeOrdered top-k. No global sort of raw rows.
    """
    w = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos", "word"),
    )
    stops = [s.strip().strip("'") for s in _RAKE_STOPS.split(",")]
    nw = w.filter(~F.col("word").isin(stops))
    wd = Window.partitionBy("doc_id").orderBy("pos")
    brk = nw.withColumn(
        "is_new",
        F.when(F.col("pos") - F.lag("pos").over(wd) == 1, F.lit(0)).otherwise(
            F.lit(1)
        ),
    )
    isl = brk.withColumn(
        "phrase_id",
        F.sum("is_new").over(
            wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    ph = (
        isl.groupBy("doc_id", "phrase_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "word"))),
                    lambda r: r.word,
                ),
                " ",
            ).alias("phrase"),
            F.count("*").cast("long").alias("plen"),
        )
        .filter(F.col("plen") <= _RAKE_MAX_LEN)
    )
    pw = isl.join(ph, ["doc_id", "phrase_id"]).select(
        "doc_id", "phrase_id", "word", "plen", "phrase"
    )
    ws = pw.groupBy("word").agg(
        F.count("*").cast("long").alias("freq"),
        F.sum("plen").cast("long").alias("degree"),
    )
    su = ws.select(
        "word",
        F.expr("(degree * 1000000) div freq").alias("score_u"),
    )
    inst = (
        pw.join(F.broadcast(su), "word")
        .groupBy("doc_id", "phrase_id", "phrase")
        .agg(F.sum("score_u").cast("long").alias("score_u"))
    )
    agg = inst.groupBy("phrase").agg(
        F.count("*").cast("long").alias("n_instances"),
        F.max("score_u").cast("long").alias("score_u"),
    )
    return (
        agg.select(
            "phrase",
            "n_instances",
            F.round(F.col("score_u") / 1000000.0, 6).alias("rake_score"),
        )
        .orderBy(F.col("rake_score").desc(), "phrase")
        .limit(_RAKE_TOP)
    )


# ---------------------------------------------------------------------------
# BPE tokenizer training (unrolled merge rounds)
# ---------------------------------------------------------------------------

_BPE_ROUNDS = 5


def _bpe_sql() -> str:
    """Unrolled BPE training rounds as CTEs. Each round: weighted
    adjacent-pair counts over the tokenised vocabulary, deterministic
    best pair (count DESC, pair ASC), then a boundary-padded
    space-delimited replace applies the merge (both engines scan
    left-to-right, non-overlapping, continuing after the match — the
    BPE application rule)."""
    head = """
    WITH wf AS (SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS freq
                FROM (SELECT unnest(string_split(text, ' ')) AS w
                      FROM documents)
                GROUP BY w),
    s0 AS (SELECT word, freq,
                  array_to_string(string_split(word, ''), ' ') AS toks
           FROM wf)"""
    body = ""
    for r in range(1, _BPE_ROUNDS + 1):
        body += f""",
    p{r} AS (SELECT ts[i] AS a, ts[i + 1] AS b, SUM(freq) AS cnt
             FROM (SELECT freq, string_split(toks, ' ') AS ts
                   FROM s{r - 1}),
                  UNNEST(range(1, len(ts))) AS t(i)
             GROUP BY a, b),
    b{r} AS (SELECT a, b, CAST(cnt AS BIGINT) AS cnt FROM p{r}
             ORDER BY cnt DESC, a, b LIMIT 1),
    s{r} AS (SELECT s.word, s.freq,
                    trim(replace(' ' || s.toks || ' ',
                                 ' ' || b.a || ' ' || b.b || ' ',
                                 ' ' || b.a || b.b || ' ')) AS toks
             FROM s{r - 1} s CROSS JOIN b{r} b)"""
    merges = "\n    UNION ALL\n".join(
        f"""    SELECT {r} AS round, a AS token_a, b AS token_b,
           a || b AS new_token, cnt AS pair_count FROM b{r}"""
        for r in range(1, _BPE_ROUNDS + 1)
    )
    return (
        head
        + body
        + f"""
    SELECT CAST(round AS BIGINT) AS round, token_a, token_b, new_token,
           pair_count
    FROM (\n{merges}\n) ORDER BY round
    """
    )


@q("bpe_train_merges", oracle=_bpe_sql())
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-encoding tokenizer TRAINING (Sennrich et al. 2016), 5
    merge rounds: the corpus word-frequency table is tokenised to
    characters, and each round counts frequency-weighted adjacent token
    pairs, picks the best deterministically (count DESC, pair ASC), and
    applies the merge everywhere via a boundary-padded space-delimited
    replace — the exact algorithm that produces GPT-style merge tables,
    expressed entirely relationally (the token-COUNTING side already
    ships in ``token_counts``; this is the training side).

    Scale shape: training runs on the WORD-FREQUENCY table, not the
    corpus — one explode + word-keyed partial agg compresses 10^12
    documents to a vocabulary, and each round is a pair-keyed partial
    agg (TakeOrdered top-1) plus a broadcast of the single winning pair
    into a per-row replace. Rounds are O(merges), like
    ``pagerank_cosupply``'s iterations.

    Exactness: integer pair counts; string manipulation only — both
    engines' plain replace() scans left-to-right non-overlapping,
    which IS the BPE application rule.
    """
    wf = (
        t(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("freq"))
    )
    state = wf.select(
        "word",
        "freq",
        F.array_join(F.split("word", ""), " ").alias("toks"),
    )
    merges = []
    for r in range(1, _BPE_ROUNDS + 1):
        ts = F.split("toks", " ")
        pairs = state.select(
            "freq",
            F.explode(
                F.expr(
                    "zip_with(slice(split(toks, ' '), 1, "
                    "size(split(toks, ' ')) - 1), "
                    "slice(split(toks, ' '), 2, "
                    "size(split(toks, ' ')) - 1), "
                    "(x, y) -> struct(x AS a, y AS b))"
                )
            ).alias("z"),
        ).select("freq", F.col("z.a").alias("a"), F.col("z.b").alias("b"))
        best = (
            pairs.groupBy("a", "b")
            .agg(F.sum("freq").cast("long").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "a", "b")
            .limit(1)
        )
        merges.append(
            best.select(
                F.lit(r).cast("long").alias("round"),
                F.col("a").alias("token_a"),
                F.col("b").alias("token_b"),
                F.concat("a", "b").alias("new_token"),
                F.col("cnt").alias("pair_count"),
            )
        )
        state = state.crossJoin(F.broadcast(best)).select(
            "word",
            "freq",
            F.trim(
                F.replace(
                    F.concat(F.lit(" "), F.col("toks"), F.lit(" ")),
                    F.concat(
                        F.lit(" "), F.col("a"), F.lit(" "), F.col("b"),
                        F.lit(" "),
                    ),
                    F.concat(
                        F.lit(" "), F.col("a"), F.col("b"), F.lit(" ")
                    ),
                )
            ).alias("toks"),
        )
    out = merges[0]
    for m in merges[1:]:
        out = out.unionAll(m)
    return out.orderBy("round")


# ---------------------------------------------------------------------------
# BPE encoding statistics (apply learned merges to the corpus)
# ---------------------------------------------------------------------------


def _bpe_encode_sql() -> str:
    # reuse the training CTE chain, then re-join the final tokenisation
    # to the corpus and aggregate per language
    train = _bpe_sql()
    head = train[: train.index("\n    SELECT CAST(round")]
    return (
        head
        + f"""
    , enc AS (SELECT word, len(string_split(toks, ' ')) AS n_bpe,
                     length(word) AS n_chars
              FROM s{_BPE_ROUNDS}),
    docs AS (SELECT lang, unnest(string_split(text, ' ')) AS word
             FROM documents)
    SELECT d.lang,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(e.n_chars) AS BIGINT) AS char_tokens,
           CAST(SUM(e.n_bpe) AS BIGINT) AS bpe_tokens,
           ROUND(SUM(e.n_chars) * 1.0e0 / SUM(e.n_bpe), 6)
             AS compression
    FROM docs d JOIN enc e USING (word)
    GROUP BY d.lang ORDER BY d.lang
    """
    )


@q("bpe_encode_stats", oracle=_bpe_encode_sql())
def bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODING statistics: the 5 merges learned by
    ``bpe_train_merges`` are applied to every corpus word (the final
    training state IS the vocabulary's tokenisation — encoding is a
    broadcast join, not a re-derivation) and per-language token counts
    report the compression the merge table buys — the
    chars-per-token/fertility metric a tokenizer evaluation reports per
    language before committing to a vocab.

    Scale shape: the corpus side is one explode + a broadcast join on
    the word key (the tokenised vocabulary is small by construction);
    per-language rollup is one partial agg. Integer counts, one
    division.
    """
    wf = (
        t(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("freq"))
    )
    state = wf.select(
        "word", "freq", F.array_join(F.split("word", ""), " ").alias("toks")
    )
    for _ in range(_BPE_ROUNDS):
        pairs = state.select(
            "freq",
            F.explode(
                F.expr(
                    "zip_with(slice(split(toks, ' '), 1, "
                    "size(split(toks, ' ')) - 1), "
                    "slice(split(toks, ' '), 2, "
                    "size(split(toks, ' ')) - 1), "
                    "(x, y) -> struct(x AS a, y AS b))"
                )
            ).alias("z"),
        ).select("freq", F.col("z.a").alias("a"), F.col("z.b").alias("b"))
        best = (
            pairs.groupBy("a", "b")
            .agg(F.sum("freq").cast("long").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "a", "b")
            .limit(1)
        )
        state = state.crossJoin(F.broadcast(best)).select(
            "word",
            "freq",
            F.trim(
                F.replace(
                    F.concat(F.lit(" "), F.col("toks"), F.lit(" ")),
                    F.concat(
                        F.lit(" "), F.col("a"), F.lit(" "), F.col("b"),
                        F.lit(" "),
                    ),
                    F.concat(
                        F.lit(" "), F.col("a"), F.col("b"), F.lit(" ")
                    ),
                )
            ).alias("toks"),
        )
    enc = state.select(
        "word",
        F.size(F.split("toks", " ")).cast("long").alias("n_bpe"),
        F.length("word").cast("long").alias("n_chars"),
    )
    docs = t(spark, sf_dir, "documents").select(
        "lang", F.explode(F.split("text", " ")).alias("word")
    )
    return (
        docs.join(F.broadcast(enc), "word")
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("n_chars").cast("long").alias("char_tokens"),
            F.sum("n_bpe").cast("long").alias("bpe_tokens"),
            F.round(
                F.sum("n_chars") * 1.0 / F.sum("n_bpe"), 6
            ).alias("compression"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# LSH parameter tuning curve (expected collisions from the S-curve)
# ---------------------------------------------------------------------------

_LSH_CONFIGS = ((4, 8), (8, 4), (16, 2), (32, 1))  # (bands, rows), 32 hashes

_LSH_TUNE_SQL = f"""
    WITH pr AS ({_NGRAM_PAIRS_SQL}),
    h AS (SELECT CAST(FLOOR(jaccard * 20.0e0) AS BIGINT) AS jb,
                 CAST(COUNT(*) AS BIGINT) AS n_pairs
          FROM pr GROUP BY jb),
    cfg AS (SELECT * FROM (VALUES {", ".join(f"({b}, {r})" for b, r in _LSH_CONFIGS)})
              AS t(bands, rows_)),
    terms AS (SELECT c.bands, c.rows_, h.jb, h.n_pairs,
                     CAST(FLOOR(h.n_pairs
                                * (1.0e0 - POWER(1.0e0 - POWER(
                                     (h.jb + 5.0e-1) / 20.0e0, c.rows_),
                                     c.bands))
                                * 1000000.0e0 + 5.0e-1) AS BIGINT) AS eu,
                     CASE WHEN h.jb >= 10 THEN h.n_pairs ELSE 0 END
                       AS n_hi,
                     CASE WHEN h.jb >= 10 THEN
                       CAST(FLOOR(h.n_pairs
                                  * (1.0e0 - POWER(1.0e0 - POWER(
                                       (h.jb + 5.0e-1) / 20.0e0, c.rows_),
                                       c.bands))
                                  * 1000000.0e0 + 5.0e-1) AS BIGINT)
                     ELSE 0 END AS eu_hi
              FROM cfg c CROSS JOIN h)
    SELECT CAST(bands AS BIGINT) AS bands, CAST(rows_ AS BIGINT) AS rows_,
           CAST(SUM(n_pairs) AS BIGINT) AS n_true_pairs,
           ROUND(SUM(eu) / 1000000.0e0, 4) AS expected_candidates,
           ROUND(SUM(eu_hi) * 1.0e0 / GREATEST(SUM(n_hi), 1)
                 / 1000000.0e0, 6) AS expected_recall_hi
    FROM terms GROUP BY bands, rows_ ORDER BY bands, rows_
    """


@q("lsh_tuning_curve", oracle=_LSH_TUNE_SQL)
def lsh_tuning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH parameter tuning advisor: for four 32-hash (bands x rows)
    configurations, apply the banding S-curve P(candidate | j) =
    1 - (1 - j^r)^b to the corpus's MEASURED Jaccard-similarity
    histogram (from the exact ``ngram_jaccard_pairs`` relation) and
    report expected candidate volume plus expected recall on the
    j >= 0.5 pairs — the calculation that picks ``minhash_lsh_pairs``'s
    (bands=8, rows=4) instead of guessing, run on real data rather than
    a textbook uniform assumption.

    Exactness: the histogram is integer counts; each S-curve term is
    evaluated once per (config, band) at the band midpoint and snapped
    to micro-units before the (bounded) config rollup.

    Scale shape: everything after the pair relation is arithmetic over
    (configs x 20 bands) rows; the pair relation itself is the audited
    rare-shingle blocked join.
    """
    pr = ngram_jaccard_pairs(spark, sf_dir)
    h = pr.groupBy(
        F.floor(F.col("jaccard") * 20.0).cast("long").alias("jb")
    ).agg(F.count("*").cast("long").alias("n_pairs"))
    cfg = spark.createDataFrame(
        list(_LSH_CONFIGS), "bands int, rows_ int"
    )
    jmid = (F.col("jb") + 0.5) / 20.0
    p_col = 1.0 - F.pow(
        1.0 - F.pow(jmid, F.col("rows_")), F.col("bands")
    )
    eu = F.floor(F.col("n_pairs") * p_col * 1000000.0 + 0.5).cast("long")
    hi = F.col("jb") >= 10
    terms = F.broadcast(cfg).crossJoin(h).select(
        "bands",
        "rows_",
        "n_pairs",
        eu.alias("eu"),
        F.when(hi, F.col("n_pairs")).otherwise(0).alias("n_hi"),
        F.when(hi, eu).otherwise(0).alias("eu_hi"),
    )
    return (
        terms.groupBy(
            F.col("bands").cast("long").alias("bands"),
            F.col("rows_").cast("long").alias("rows_"),
        )
        .agg(
            F.sum("n_pairs").cast("long").alias("n_true_pairs"),
            F.round(F.sum("eu") / 1000000.0, 4).alias(
                "expected_candidates"
            ),
            F.round(
                F.sum("eu_hi")
                * 1.0
                / F.greatest(F.sum("n_hi"), F.lit(1))
                / 1000000.0,
                6,
            ).alias("expected_recall_hi"),
        )
        .orderBy("bands", "rows_")
    )


# ---------------------------------------------------------------------------
# trigram-accelerated substring search (pg_trgm shape)
# ---------------------------------------------------------------------------

_TRGM_PATTERN = "window batch"  # the LIKE '%window batch%' being accelerated

_TRGM_SQL = f"""
    WITH pat AS (SELECT substring('{_TRGM_PATTERN}', k + 1, 3) AS tg
                 FROM UNNEST(range(length('{_TRGM_PATTERN}') - 2)) AS t(k)),
    pd AS (SELECT DISTINCT tg FROM pat),
    np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_ptrgm FROM pd),
    dt AS (SELECT DISTINCT doc_id, substring(text, k + 1, 3) AS tg
           FROM documents, UNNEST(range(length(text) - 2)) AS t(k)),
    cand AS (SELECT dt.doc_id
             FROM dt JOIN pd USING (tg)
             GROUP BY dt.doc_id
             HAVING COUNT(*) = (SELECT n_ptrgm FROM np)),
    ver AS (SELECT c.doc_id,
                   CASE WHEN position('{_TRGM_PATTERN}' IN d.text) > 0
                        THEN 1 ELSE 0 END AS hit
            FROM cand c JOIN documents d USING (doc_id))
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_docs,
           (SELECT n_ptrgm FROM np) AS n_pattern_trigrams,
           CAST(COUNT(*) AS BIGINT) AS n_candidates,
           CAST(SUM(hit) AS BIGINT) AS n_matches,
           CAST(COUNT(*) - SUM(hit) AS BIGINT) AS n_false_positives
    FROM ver
    """


@q("trigram_like_search", oracle=_TRGM_SQL)
def trigram_like_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram-accelerated substring search (the pg_trgm GIN-index
    shape): a document containing the pattern necessarily contains every
    character trigram of the pattern, so the trigram containment test is
    a LOSSLESS prefilter — candidates sharing ALL pattern trigrams are
    then verified with the exact substring test, and the report counts
    how many candidates the verification kills (the index's false-
    positive rate). The indexing answer to "LIKE '%...%' cannot use the
    zonemap" — at 10^12 docs this posting-list intersection IS how
    substring search runs (``inverted_index`` is the word-level sibling).

    Scale shape: pattern trigrams are a tiny broadcast; the document
    trigram relation is one explode + distinct; the containment test is
    a trigram-keyed semi-join + doc-keyed count compare; verification
    touches only candidates. Integer counts throughout.
    """
    pat = _TRGM_PATTERN
    pd_ = (
        spark.range(len(pat) - 2)
        .select(
            F.expr(f"substring('{pat}', id + 1, 3)").alias("tg")
        )
        .distinct()
    )
    n_ptrgm = pd_.count()
    docs = t(spark, sf_dir, "documents")
    dt = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, length(text) - 3), "
                "k -> substring(text, k + 1, 3))"
            )
        ).alias("tg"),
    )
    # pattern-trigram broadcast join BEFORE the distinct: the posting
    # relation filters to pattern trigrams inside the scan stage
    # (broadcast hash join rides whole-stage codegen), so the dedup
    # shuffle moves only matching (doc, trigram) occurrences — not the
    # full 15M-row document trigram relation (3.5s -> 1.0s at sf0.1;
    # same rows, the prefilter is trigram-membership either side of
    # the dedup)
    cand = (
        dt.join(F.broadcast(pd_), "tg")
        .distinct()
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") == n_ptrgm)
        .select("doc_id")
    )
    ver = cand.join(docs.select("doc_id", "text"), "doc_id").select(
        F.when(F.expr(f"position('{pat}' IN text) > 0"), 1)
        .otherwise(0)
        .alias("hit")
    )
    n_docs = docs.count()
    return ver.agg(
        F.lit(n_docs).cast("long").alias("n_docs"),
        F.lit(n_ptrgm).cast("long").alias("n_pattern_trigrams"),
        F.count("*").cast("long").alias("n_candidates"),
        F.sum("hit").cast("long").alias("n_matches"),
        (F.count("*") - F.sum("hit")).cast("long").alias(
            "n_false_positives"
        ),
    )


# ---------------------------------------------------------------------------
# Newman modularity of the near-dup clustering
# ---------------------------------------------------------------------------

_MODULARITY_SQL = f"""
    WITH RECURSIVE pr AS ({_NGRAM_PAIRS_SQL}),
    edges AS (SELECT doc_a AS s, doc_b AS t FROM pr
              UNION SELECT doc_b, doc_a FROM pr),
    nodes AS (SELECT DISTINCT s AS id FROM edges),
    reach(id, r) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT rr.id, e.t FROM reach rr JOIN edges e ON e.s = rr.r),
    lab AS (SELECT id AS doc_id, MIN(r) AS cluster_id
            FROM reach GROUP BY id),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM pr),
    deg AS (SELECT s AS doc_id, CAST(COUNT(*) AS BIGINT) AS d
            FROM edges GROUP BY s),
    dc AS (SELECT l.cluster_id,
                  CAST(COUNT(*) AS BIGINT) AS n_nodes,
                  CAST(SUM(deg.d) AS BIGINT) AS d_sum
           FROM lab l JOIN deg USING (doc_id) GROUP BY l.cluster_id),
    ec AS (SELECT la.cluster_id, CAST(COUNT(*) AS BIGINT) AS e_in
           FROM pr JOIN lab la ON la.doc_id = pr.doc_a
                   JOIN lab lb ON lb.doc_id = pr.doc_b
           WHERE la.cluster_id = lb.cluster_id
           GROUP BY la.cluster_id),
    terms AS (SELECT dc.cluster_id, dc.n_nodes, dc.d_sum,
                     COALESCE(ec.e_in, 0) AS e_in,
                     CAST(FLOOR((COALESCE(ec.e_in, 0) * 1.0e0 / m.n_edges
                                 - (dc.d_sum * 1.0e0
                                    / (2.0e0 * m.n_edges))
                                   * (dc.d_sum * 1.0e0
                                      / (2.0e0 * m.n_edges)))
                                * 1000000000.0e0 + 5.0e-1) AS BIGINT)
                       AS qu
              FROM dc LEFT JOIN ec USING (cluster_id) CROSS JOIN m)
    SELECT cluster_id, n_nodes, e_in, d_sum,
           ROUND(qu / 1000000000.0e0, 6) AS q_term,
           ROUND(SUM(qu) OVER () / 1000000000.0e0, 6) AS modularity
    FROM terms ORDER BY cluster_id
    """


@q("cluster_modularity", oracle=_MODULARITY_SQL)
def cluster_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity Q of the near-dup clustering against its own
    pair graph (Q = Σ_c [e_c/m − (d_c/2m)²]) — the clustering-quality
    score that says whether ``dedup_clusters``' components are genuine
    communities or artifacts of the pair threshold (for connected
    components every edge is intra-cluster, so Q reduces to
    1 − Σ(d_c/2m)², maximal when components are balanced — the number a
    curator compares across threshold settings).

    Exactness: edge counts and degree sums are integers; each
    community's Q term is computed once and snapped to nano-units before
    the windowed total over (bounded) community rows.

    Scale shape: degrees and labels are key-keyed partial aggs; the
    intra-edge count joins the pair list to the label table twice on the
    doc key; the total is a window over community rows. The pair list is
    ``cut``: it feeds the edge-count scalar, the CC
    labeller, the degree agg AND the intra-edge join — four consumers
    that would otherwise each re-run the shingle pair join.
    """
    from osmgraft.text.dedup import connected_components

    pr = (
        ngram_jaccard_pairs(spark, sf_dir)
        .select("doc_a", "doc_b")
        .transform(cut)
    )
    lab = connected_components(pr)
    m = pr.count()
    edges = pr.select(F.col("doc_a").alias("s")).unionAll(
        pr.select(F.col("doc_b").alias("s"))
    )
    deg = edges.groupBy(F.col("s").alias("doc_id")).agg(
        F.count("*").cast("long").alias("d")
    )
    dc = (
        lab.join(deg, "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.sum("d").cast("long").alias("d_sum"),
        )
    )
    la = lab.select(
        F.col("doc_id").alias("doc_a"), F.col("cluster_id").alias("ca")
    )
    lb = lab.select(
        F.col("doc_id").alias("doc_b"), F.col("cluster_id").alias("cb")
    )
    ec = (
        pr.join(la, "doc_a")
        .join(lb, "doc_b")
        .filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("cluster_id"))
        .agg(F.count("*").cast("long").alias("e_in"))
    )
    terms = dc.join(ec, "cluster_id", "left").select(
        "cluster_id",
        "n_nodes",
        F.coalesce("e_in", F.lit(0)).cast("long").alias("e_in"),
        "d_sum",
        F.floor(
            (
                F.coalesce("e_in", F.lit(0)) * 1.0 / m
                - (F.col("d_sum") * 1.0 / (2.0 * m))
                * (F.col("d_sum") * 1.0 / (2.0 * m))
            )
            * 1000000000.0
            + 0.5
        )
        .cast("long")
        .alias("qu"),
    )
    w = Window.partitionBy()
    return terms.select(
        "cluster_id",
        "n_nodes",
        "e_in",
        "d_sum",
        F.round(F.col("qu") / 1000000000.0, 6).alias("q_term"),
        F.round(F.sum("qu").over(w) / 1000000000.0, 6).alias("modularity"),
    ).orderBy("cluster_id")


# ---------------------------------------------------------------------------
# staged dedup funnel report (exact -> near-dup -> typo)
# ---------------------------------------------------------------------------

_FUNNEL_SQL = f"""
    WITH docs AS (SELECT doc_id, text FROM documents),
    -- stage 1: exact dedup (keep the smallest doc_id per content digest)
    keep1 AS (SELECT MIN(doc_id) AS doc_id FROM docs GROUP BY md5(text)),
    s1 AS (SELECT d.doc_id, d.text FROM docs d JOIN keep1 USING (doc_id)),
    -- stage 2: near-dup pairs among stage-1 survivors (keep-first rule:
    -- a doc is removed iff it is the LARGER id of any surviving pair)
    pr AS ({_NGRAM_PAIRS_SQL}),
    rm2 AS (SELECT DISTINCT p.doc_b AS doc_id
            FROM pr p JOIN keep1 a ON a.doc_id = p.doc_a
                      JOIN keep1 b ON b.doc_id = p.doc_b),
    s2 AS (SELECT s1.doc_id, s1.text FROM s1
           LEFT JOIN rm2 USING (doc_id) WHERE rm2.doc_id IS NULL),
    -- stage 3: distance-1 title typos among stage-2 survivors
    t0 AS (SELECT doc_id,
                  array_to_string(list_slice(string_split(lower(text), ' '),
                                             1, 6), ' ') AS title0
           FROM s2),
    titles AS (SELECT doc_id,
                      CASE WHEN doc_id % 6 = 0
                           THEN substring(title0, 1, 2)
                                || substring(title0, 4)
                           ELSE title0 END AS title
               FROM t0),
    vars AS (SELECT doc_id, title, title AS variant FROM titles
             UNION ALL
             SELECT doc_id, title,
                    substring(title, 1, k) || substring(title, k + 2)
             FROM titles, UNNEST(range(length(title))) AS t(k)),
    v AS (SELECT DISTINCT doc_id, title, variant FROM vars),
    rm3 AS (SELECT DISTINCT b.doc_id
            FROM v a JOIN v b USING (variant)
            WHERE a.doc_id < b.doc_id AND a.title <> b.title
              AND levenshtein(a.title, b.title) <= 1),
    s3 AS (SELECT s2.doc_id FROM s2 LEFT JOIN rm3 USING (doc_id)
           WHERE rm3.doc_id IS NULL),
    stages AS (
      SELECT 1 AS stage, 'exact' AS method,
             (SELECT COUNT(*) FROM docs) AS n_in,
             (SELECT COUNT(*) FROM docs) - (SELECT COUNT(*) FROM s1)
               AS n_removed,
             (SELECT COUNT(*) FROM s1) AS n_out
      UNION ALL
      SELECT 2, 'near_dup',
             (SELECT COUNT(*) FROM s1),
             (SELECT COUNT(*) FROM s1) - (SELECT COUNT(*) FROM s2),
             (SELECT COUNT(*) FROM s2)
      UNION ALL
      SELECT 3, 'typo',
             (SELECT COUNT(*) FROM s2),
             (SELECT COUNT(*) FROM s2) - (SELECT COUNT(*) FROM s3),
             (SELECT COUNT(*) FROM s3))
    SELECT CAST(stage AS BIGINT) AS stage, method,
           CAST(n_in AS BIGINT) AS n_in,
           CAST(n_removed AS BIGINT) AS n_removed,
           CAST(n_out AS BIGINT) AS n_out
    FROM stages ORDER BY stage
    """


@q("dedup_funnel_report", oracle=_FUNNEL_SQL)
def dedup_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged dedup funnel — the report a training-data pipeline emits
    per snapshot: exact content dedup (keep smallest id per digest),
    then rare-shingle near-dup removal among survivors (keep-first: the
    larger id of any surviving pair drops), then distance-1 title-typo
    removal among what remains — each stage's input/removed/output
    counts. Composes the registry's detectors (``dedup_exact``,
    ``ngram_jaccard_pairs``, ``symspell_typo_pairs``) into the cascade
    they exist for; ordering matters and the funnel makes the
    marginal contribution of each stage visible.

    Scale shape: each stage is the already-audited detector plus an
    anti-join against the previous survivor set on the doc key; counts
    are partial aggs. Nothing here exceeds the component plans. Each
    survivor set is ``cut`` because the funnel needs a
    COUNT per stage AND feeds the next stage — without the cut the
    four count actions recompute the shingle pair join twice and stage
    1 three times (measured 2.5x the runtime at sf0.1).
    """
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    keep1 = docs.groupBy(F.md5("text").alias("dig")).agg(
        F.min("doc_id").alias("doc_id")
    ).select("doc_id")
    s1 = docs.join(keep1, "doc_id").transform(cut)
    pr = ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    k_a = s1.select(F.col("doc_id").alias("doc_a"))
    k_b = s1.select(F.col("doc_id").alias("doc_b"))
    rm2 = (
        pr.join(k_a, "doc_a")
        .join(k_b, "doc_b")
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    s2 = s1.join(rm2, "doc_id", "left_anti").transform(cut)
    t0 = s2.select(
        "doc_id",
        F.array_join(F.slice(F.split(F.lower("text"), " "), 1, 6), " ")
        .alias("title0"),
    )
    titles = t0.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 6 == 0,
            F.concat(
                F.substring("title0", 1, 2), F.expr("substring(title0, 4)")
            ),
        )
        .otherwise(F.col("title0"))
        .alias("title"),
    )
    dels = titles.select(
        "doc_id",
        "title",
        F.explode(
            F.expr(
                "transform(sequence(0, length(title) - 1), k -> "
                "concat(substring(title, 1, k), substring(title, k + 2)))"
            )
        ).alias("variant"),
    )
    v = (
        titles.select("doc_id", "title", F.col("title").alias("variant"))
        .unionAll(dels)
        .distinct()
    )
    vb = v.select(
        F.col("doc_id").alias("b_id"),
        F.col("title").alias("b_title"),
        F.col("variant").alias("b_var"),
    )
    rm3 = (
        v.join(vb, F.col("variant") == F.col("b_var"))
        .filter(
            (F.col("doc_id") < F.col("b_id"))
            & (F.col("title") != F.col("b_title"))
            & (F.levenshtein("title", "b_title") <= 1)
        )
        .select(F.col("b_id").alias("doc_id"))
        .distinct()
    )
    s3 = s2.join(rm3, "doc_id", "left_anti")
    n_docs, n1, n2, n3 = docs.count(), s1.count(), s2.count(), s3.count()
    rows = [
        (1, "exact", n_docs, n_docs - n1, n1),
        (2, "near_dup", n1, n1 - n2, n2),
        (3, "typo", n2, n2 - n3, n3),
    ]
    return spark.createDataFrame(
        rows,
        "stage long, method string, n_in long, n_removed long, n_out long",
    ).orderBy("stage")


# ---------------------------------------------------------------------------
# canonical representative selection per near-dup cluster
# ---------------------------------------------------------------------------

_CANON_SQL = f"""
    WITH RECURSIVE pr AS ({_NGRAM_PAIRS_SQL}),
    edges AS (SELECT doc_a AS s, doc_b AS t FROM pr
              UNION SELECT doc_b, doc_a FROM pr),
    nodes AS (SELECT DISTINCT s AS id FROM edges),
    reach(id, r) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT rr.id, e.t FROM reach rr JOIN edges e ON e.s = rr.r),
    lab AS (SELECT id AS doc_id, MIN(r) AS cluster_id
            FROM reach GROUP BY id),
    scored AS (SELECT l.cluster_id, l.doc_id, d.n_chars
               FROM lab l JOIN documents d USING (doc_id)),
    pick AS (SELECT cluster_id, doc_id, n_chars,
                    ROW_NUMBER() OVER (PARTITION BY cluster_id
                                       ORDER BY n_chars DESC, doc_id)
                      AS rn
             FROM scored)
    SELECT cluster_id,
           CAST(COUNT(*) AS BIGINT) AS cluster_size,
           CAST(MAX(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT)
             AS canonical_doc,
           CAST(MAX(CASE WHEN rn = 1 THEN n_chars END) AS BIGINT)
             AS canonical_chars,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_discarded
    FROM pick GROUP BY cluster_id ORDER BY cluster_id
    """


@q("cluster_canonicals", oracle=_CANON_SQL)
def cluster_canonicals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-representative selection: within each near-dup cluster
    (the ``dedup_clusters`` components), keep the highest-quality member
    — longest text, doc_id tiebreak — and count the discards: the final
    decision of a dedup pipeline (clustering says WHAT is duplicated;
    this says WHICH copy survives, and 'longest' is the standard
    keep-the-superset heuristic rather than keep-first's arbitrary
    winner).

    Scale shape: labels from the audited CC propagation, one quality
    join on the doc key, the argmax is a CLUSTER-KEYED window (clusters
    are small by construction), one rollup.
    """
    from osmgraft.text.dedup import connected_components

    pr = ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    lab = connected_components(pr)
    d = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    scored = lab.join(d, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), "doc_id"
    )
    pick = scored.withColumn("rn", F.row_number().over(w))
    return (
        pick.groupBy("cluster_id")
        .agg(
            F.count("*").cast("long").alias("cluster_size"),
            F.max(F.when(F.col("rn") == 1, F.col("doc_id")))
            .cast("long")
            .alias("canonical_doc"),
            F.max(F.when(F.col("rn") == 1, F.col("n_chars")))
            .cast("long")
            .alias("canonical_chars"),
            F.sum(F.when(F.col("rn") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_discarded"),
        )
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------------------
# rank-biased overlap between two rankings
# ---------------------------------------------------------------------------

_RBO_P = 0.9
_RBO_K = 20

_RBO_SQL = f"""
    WITH tfs AS (SELECT doc_id,
                        CAST(len(list_filter(string_split(text, ' '),
                                             w -> w = 'table'))
                             AS BIGINT) AS s
                 FROM documents),
    ra AS (SELECT doc_id,
                  ROW_NUMBER() OVER (ORDER BY s DESC, doc_id) AS r
           FROM tfs QUALIFY r <= {_RBO_K}),
    rb AS (SELECT doc_id,
                  ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS r
           FROM documents QUALIFY r <= {_RBO_K}),
    both_r AS (SELECT GREATEST(ra.r, rb.r) AS dmin
               FROM ra JOIN rb USING (doc_id)),
    depths AS (SELECT CAST(d AS BIGINT) AS d
               FROM UNNEST(range(1, {_RBO_K} + 1)) AS t(d)),
    ov AS (SELECT depths.d,
                  CAST(COUNT(b.dmin) AS BIGINT) AS overlap
           FROM depths LEFT JOIN both_r b ON b.dmin <= depths.d
           GROUP BY depths.d),
    terms AS (SELECT d, overlap,
                     CAST(FLOOR(POWER({_RBO_P}e0, d - 1)
                                * overlap * 1.0e0 / d
                                * 1000000000.0e0 + 5.0e-1) AS BIGINT)
                       AS tu
              FROM ov)
    SELECT CAST(SUM(CASE WHEN d = {_RBO_K} THEN overlap END) AS BIGINT)
             AS overlap_at_k,
           ROUND((1.0e0 - {_RBO_P}e0) * SUM(tu) / 1000000000.0e0, 6)
             AS rbo_truncated
    FROM terms
    """


@q("rank_biased_overlap", oracle=_RBO_SQL)
def rank_biased_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (Webber et al. 2010) between the lexical and
    length rankings that ``rrf_fusion`` fuses: RBO = (1-p)·Σ p^(d-1)·
    overlap(d)/d over depths 1..20 with p = 0.9 — the top-weighted
    ranking-similarity measure (Kendall tau weights all positions
    equally; retrieval cares about the head). Low RBO justifies fusing;
    RBO ~ 1 means the second ranker adds nothing.

    Exactness: each item in both lists contributes to overlap(d) for
    every d >= max(rank_a, rank_b) — integer counting via a bounded
    depth spine; each weighted term snaps to nano-units before the sum
    over 20 depth rows.

    Scale shape: both rankings are TakeOrdered top-k pools; the overlap
    join and depth spine are bounded by k. Nothing touches raw rows
    twice.
    """
    docs = t(spark, sf_dir, "documents")
    tfs = docs.select(
        "doc_id",
        F.size(
            F.filter(F.split("text", " "), lambda w: w == F.lit("table"))
        )
        .cast("long")
        .alias("s"),
    )
    ra = (
        tfs.orderBy(F.col("s").desc(), "doc_id")
        .limit(_RBO_K)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.col("s").desc(), "doc_id"))
            .alias("ra_r"),
        )
    )
    rb = (
        docs.select("doc_id", "n_chars")
        .orderBy(F.col("n_chars").desc(), "doc_id")
        .limit(_RBO_K)
        .select(
            F.col("doc_id").alias("b_doc"),
            F.row_number()
            .over(Window.orderBy(F.col("n_chars").desc(), "doc_id"))
            .alias("rb_r"),
        )
    )
    both = ra.join(rb, ra.doc_id == rb.b_doc).select(
        F.greatest("ra_r", "rb_r").alias("dmin")
    )
    depths = spark.range(1, _RBO_K + 1).select(F.col("id").alias("d"))
    ov = (
        depths.join(
            F.broadcast(both), F.col("dmin") <= F.col("d"), "left"
        )
        .groupBy("d")
        .agg(F.count("dmin").cast("long").alias("overlap"))
    )
    terms = ov.select(
        "d",
        "overlap",
        F.floor(
            F.pow(F.lit(_RBO_P), F.col("d") - 1)
            * F.col("overlap")
            * 1.0
            / F.col("d")
            * 1000000000.0
            + 0.5
        )
        .cast("long")
        .alias("tu"),
    )
    return terms.agg(
        F.sum(F.when(F.col("d") == _RBO_K, F.col("overlap")))
        .cast("long")
        .alias("overlap_at_k"),
        F.round(
            (1.0 - _RBO_P) * F.sum("tu") / 1000000000.0, 6
        ).alias("rbo_truncated"),
    )


# ---------------------------------------------------------------------------
# Cohen's kappa: chance-corrected agreement (declared lang vs lang_id)
# ---------------------------------------------------------------------------

_KAPPA_SQL = f"""
    WITH pred AS ({_LANG_ID_ORACLE.replace("ORDER BY doc_id", "")}),
    pairs AS (
      SELECT d.lang AS declared, p.pred_lang AS predicted
      FROM documents d JOIN pred p ON d.doc_id = p.doc_id),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN declared = predicted
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
            FROM pairs),
    rowm AS (SELECT declared AS lab, CAST(COUNT(*) AS BIGINT) AS r
             FROM pairs GROUP BY declared),
    colm AS (SELECT predicted AS lab, CAST(COUNT(*) AS BIGINT) AS c
             FROM pairs GROUP BY predicted),
    ch AS (SELECT CAST(SUM(r * c) AS BIGINT) AS chance_mass
           FROM rowm JOIN colm USING (lab))
    SELECT tot.n AS n_docs,
           ROUND(tot.n_agree * 1.0e0 / tot.n, 6) AS po,
           ROUND(ch.chance_mass * 1.0e0 / (tot.n * tot.n), 6) AS pe,
           ROUND((tot.n_agree * 1.0e0 * tot.n - ch.chance_mass)
                 / (tot.n * 1.0e0 * tot.n - ch.chance_mass), 6) AS kappa
    FROM tot CROSS JOIN ch
    """


@q("cohens_kappa", oracle=_KAPPA_SQL)
def cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the DECLARED lang column and the engine's
    marker-word prediction — the chance-corrected scalar that summarizes
    ``lang_confusion_matrix``: raw agreement po flatters any skewed
    label set (always-predict-the-majority already scores high), so the
    curator's go/no-go number is kappa = (po − pe)/(1 − pe) with pe the
    marginal-product chance agreement.

    Integer discipline: po and pe come from exact integer counts; kappa
    is computed as (n_agree·n − Σ r·c) / (n² − Σ r·c) — one division,
    no po/pe float intermediates, so both engines round identically.

    Scale shape: the prediction is the ``lang_id`` scan-only expression
    stack; two label-keyed partial aggs (≤ |langs| rows each) + one
    broadcast-sized marginal join. Nothing materializes the matrix.
    """
    docs = t(spark, sf_dir, "documents")
    pred = language_id(docs).select("doc_id", "pred_lang")
    pairs = docs.select("doc_id", F.col("lang").alias("declared")).join(
        pred, "doc_id"
    )
    tot = pairs.agg(
        F.count("*").cast("long").alias("n"),
        F.sum((F.col("declared") == F.col("pred_lang")).cast("long"))
        .cast("long")
        .alias("n_agree"),
    )
    rowm = pairs.groupBy(F.col("declared").alias("lab")).agg(
        F.count("*").cast("long").alias("r")
    )
    colm = pairs.groupBy(F.col("pred_lang").alias("lab")).agg(
        F.count("*").cast("long").alias("c")
    )
    ch = (
        rowm.join(colm, "lab")
        .agg(F.sum(F.col("r") * F.col("c")).cast("long").alias("chance_mass"))
    )
    return tot.crossJoin(F.broadcast(ch)).select(
        F.col("n").alias("n_docs"),
        F.round(F.col("n_agree") * 1.0 / F.col("n"), 6).alias("po"),
        F.round(
            F.col("chance_mass") * 1.0 / (F.col("n") * F.col("n")), 6
        ).alias("pe"),
        F.round(
            (F.col("n_agree") * 1.0 * F.col("n") - F.col("chance_mass"))
            / (F.col("n") * 1.0 * F.col("n") - F.col("chance_mass")),
            6,
        ).alias("kappa"),
    )


# ---------------------------------------------------------------------------
# SemDeDup: semantic dedup via cluster-then-prune over embeddings
# ---------------------------------------------------------------------------

_SD_TAU = 0.95  # within-cluster cosine above which the larger id is pruned
_SD_DUP_MOD = 7  # injected scaled-copy schedule (vec_id % 7 == 0)
_SD_DUP_OFF = 1000000

_SEMDEDUP_SQL = f"""
    WITH {{train_cte}},
    cb AS (SELECT cid, c AS cvec FROM cb{{n_iter}}),
    aug AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      UNION ALL
      SELECT vec_id + {_SD_DUP_OFF} AS vec_id,
             list_transform(embedding::DOUBLE[], x -> x * 2.0e0) AS v
      FROM embeddings WHERE vec_id % {_SD_DUP_MOD} = 0),
    assign AS (
      SELECT a.vec_id, a.v, cb.cid AS list_id,
             FLOOR(list_cosine_similarity(a.v, cb.cvec) * 100000 + 0.5) AS c
      FROM aug a CROSS JOIN cb
      QUALIFY ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                 ORDER BY c DESC, cb.cid) = 1),
    dropped AS (
      SELECT DISTINCT b.vec_id
      FROM assign a JOIN assign b
        ON a.list_id = b.list_id AND a.vec_id < b.vec_id
      WHERE FLOOR(list_cosine_similarity(a.v, b.v) * 100000 + 0.5)
            / 100000.0e0 >= {_SD_TAU}e0)
    SELECT s.list_id,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropped,
           CAST(SUM(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept
    FROM assign s LEFT JOIN dropped d ON s.vec_id = d.vec_id
    GROUP BY s.list_id ORDER BY s.list_id
    """


def _semdedup_oracle() -> str:
    from osmgraft.ann.search import ivf_train_sql

    return _SEMDEDUP_SQL.format(
        train_cte=ivf_train_sql(_IVF_LISTS, n_iter=_IVF_ITER),
        n_iter=_IVF_ITER,
    )


@q("semdedup_prune", oracle=_semdedup_oracle())
def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication by
    cluster-then-prune — train a k-means codebook on the corpus, assign
    every vector to its nearest centroid, and WITHIN each cluster drop
    any vector whose cosine to a smaller-id clustermate exceeds tau.
    The clustering bounds the pair search to cluster-sized blocks (the
    pruning complement of ``ann_ivf_top10``'s query-side nprobe), which
    is what makes semantic dedup tractable at 10^12 embeddings — the
    quadratic lives inside a cluster, never across the corpus.

    The fixture's embeddings are isotropic (max within-cluster cosine
    0.475 at sf0.01 — real near-dups cannot exist by construction), so
    the query INJECTS deterministic scaled copies (vec_id % 7, x2 — a
    scaled copy has cosine exactly 1, which byte-level exact dedup
    misses but SemDeDup catches; scaling invariance also pins the
    assignment: copies land in their original's cluster). The pytest
    asserts the dropped set is exactly the injected schedule.

    Scale shape: training is the sample-bounded k-means; assignment is
    one scan (broadcast-literal argmax, no join); the within-cluster
    pair search cogroups on list_id and each cluster scores as ONE
    chunked float64 GEMM in ``applyInPandas`` (the ``ann/pairs.py``
    refine discipline — a per-pair JVM expression rides Catalyst's
    interpreted higher-order lambdas, measured ~12x slower; raw-dot /
    norm-outer factoring keeps the oracle's cosine expression). The
    chunk bound caps the score block at chunk x |cluster| doubles
    regardless of cluster size; a hot cluster is the paper's own
    quadratic unit — sub-divide with the ``ann/pairs.py`` lane split if
    a production codebook under-fragments. The rollup is one partial
    agg. Cosines snap at 1e-5 (floor-half) before every compare — the
    IVF discipline.
    """
    import numpy as np
    import pandas as pd

    from osmgraft.ann.search import ivf_build, ivf_train_codebook

    emb = t(spark, sf_dir, "embeddings")
    vec = F.transform(F.col("embedding"), lambda v: v.cast("double"))
    aug = emb.select("vec_id", vec.alias("embedding")).unionAll(
        emb.where(F.col("vec_id") % _SD_DUP_MOD == 0).select(
            (F.col("vec_id") + _SD_DUP_OFF).alias("vec_id"),
            F.transform(vec, lambda x: x * 2.0).alias("embedding"),
        )
    )
    cb = ivf_train_codebook(emb, _IVF_LISTS, n_iter=_IVF_ITER)
    assigned = ivf_build(aug, cb).select(
        "vec_id", F.col("list_id").cast("long").alias("list_id"),
        F.col("embedding").alias("v"),
    )
    chunk = 8192
    empty = pd.DataFrame({"vec_id": pd.Series(dtype="int64")})

    def cluster_dropped(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return empty
        ids = pdf["vec_id"].to_numpy()
        V = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        norms = np.sqrt((V * V).sum(axis=1))
        dropped = np.zeros(len(ids), dtype=bool)
        for lo in range(0, len(ids), chunk):
            # raw dot / norm outer — the oracle's cosine expression
            M = V[lo : lo + chunk] @ V.T
            C = M / np.outer(norms[lo : lo + chunk], norms)
            S = np.floor(C * 100000 + 0.5) / 100000.0
            hit = (S >= _SD_TAU) & (
                ids[lo : lo + chunk, None] < ids[None, :]
            )
            dropped |= hit.any(axis=0)
        return pd.DataFrame({"vec_id": ids[dropped]})

    dropped = (
        assigned.select("list_id", "vec_id", "v")
        .groupBy("list_id")
        .applyInPandas(
            lambda _key, pdf: cluster_dropped(pdf), "vec_id long"
        )
        .withColumn("is_dropped", F.lit(1))
    )
    return (
        assigned.join(dropped, "vec_id", "left")
        .groupBy("list_id")
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            F.sum(F.coalesce(F.col("is_dropped"), F.lit(0)))
            .cast("long")
            .alias("n_dropped"),
            F.sum(1 - F.coalesce(F.col("is_dropped"), F.lit(0)))
            .cast("long")
            .alias("n_kept"),
        )
        .orderBy("list_id")
    )


# ---------------------------------------------------------------------------
# TextRank keywords (PageRank over the word co-occurrence graph)
# ---------------------------------------------------------------------------

_TR_DAMP = 0.85
_TR_ITERS = 5
_TR_SNAP = 10
_TR_TOPK = 15


def _textrank_sql() -> str:
    """5 unrolled TextRank iterations (the ``pagerank_cosupply`` CTE
    discipline: exact per-edge fractions, per-iteration 10-dp snap)."""
    head = """
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
    bg AS (SELECT list_slice(arr, 1, len(arr) - 1) AS h,
                  list_slice(arr, 2, len(arr)) AS t2
           FROM w WHERE len(arr) >= 2),
    pairs AS (SELECT unnest(list_zip(h, t2)) AS z FROM bg),
    raw AS (SELECT z[1] AS a, z[2] AS b FROM pairs
            WHERE z[1] <> z[2]),
    e0 AS (SELECT a AS src, b AS dst, CAST(COUNT(*) AS DOUBLE) AS wt
           FROM (SELECT a, b FROM raw UNION ALL SELECT b, a FROM raw) z2
           GROUP BY a, b),
    deg AS (SELECT src, SUM(wt) AS wsum FROM e0 GROUP BY src),
    e AS (SELECT e0.src, e0.dst, e0.wt / deg.wsum AS frac
          FROM e0 JOIN deg USING (src)),
    r0 AS (SELECT src AS node, 1.0e0 AS rank FROM (SELECT DISTINCT src FROM e))"""
    iters = "".join(
        f""",
    r{k + 1} AS (SELECT e.dst AS node,
                 ROUND((1.0e0 - {_TR_DAMP}e0)
                       + {_TR_DAMP}e0 * SUM(r{k}.rank * e.frac),
                       {_TR_SNAP}) AS rank
           FROM e JOIN r{k} ON e.src = r{k}.node GROUP BY e.dst)"""
        for k in range(_TR_ITERS)
    )
    return (
        head + iters
        + f"""
    SELECT node AS word, ROUND(rank, 6) AS rank,
           CAST(dg.wsum AS BIGINT) AS cooc_weight
    FROM r{_TR_ITERS} r JOIN deg dg ON dg.src = r.node
    ORDER BY rank DESC, word LIMIT {_TR_TOPK}
    """
    )


@q("textrank_keywords", oracle=_textrank_sql())
def textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau): PageRank with the
    paper's unnormalised teleport over the word co-occurrence graph
    (adjacent-word edges, weights = corpus co-occurrence counts,
    contributions weight-normalised per source), 5 fixed iterations,
    top-k words — the graph-based keyword family beside ``rake_keyphrases``
    (degree-scored phrases) and ``tfidf_top_terms`` (frequency-scored).

    Cross-engine: per-iteration ranks snapped to 10 dp (the
    ``pagerank_cosupply`` discipline) so both engines carry identical
    doubles between rounds; edge fractions are exact small-int divisions.

    Scale shape: bigram edges built in-row (zip_with — never a
    position self-join), one edge agg; each iteration is one equi-join
    + node-keyed partial agg over the VOCABULARY graph (corpus-bounded,
    tiny relative to the corpus itself); top-k is
    TakeOrderedAndProject.
    """
    d = t(spark, sf_dir, "documents")
    warr = F.split("text", " ")
    n = F.size(warr)
    bgs = F.zip_with(
        F.slice(warr, 1, n - 1),
        F.slice(warr, 2, n - 1),
        lambda a, b: F.struct(a.alias("a"), b.alias("b")),
    )
    raw = (
        d.where(n >= 2)
        .select(F.explode(bgs).alias("z"))
        .select(F.col("z.a").alias("a"), F.col("z.b").alias("b"))
        .where(F.col("a") != F.col("b"))
    )
    both = raw.unionAll(
        raw.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    e0 = both.groupBy(F.col("a").alias("src"), F.col("b").alias("dst")).agg(
        F.count("*").cast("double").alias("wt")
    )
    deg = e0.groupBy("src").agg(F.sum("wt").alias("wsum"))
    e = (
        e0.join(deg, "src")
        .select("src", "dst", (F.col("wt") / F.col("wsum")).alias("frac"))
        .transform(cut)
    )
    ranks = e.select("src").distinct().select(
        F.col("src").alias("node"), F.lit(1.0).alias("rank")
    )
    for _ in range(_TR_ITERS):
        ranks = (
            e.join(ranks, e["src"] == ranks["node"])
            .groupBy(F.col("dst").alias("node2"))
            .agg(
                F.round(
                    F.lit(1.0 - _TR_DAMP)
                    + F.lit(_TR_DAMP) * F.sum(F.col("rank") * F.col("frac")),
                    _TR_SNAP,
                ).alias("rank")
            )
            .select(F.col("node2").alias("node"), "rank")
            .transform(cut)
        )
    return (
        ranks.join(deg, ranks["node"] == deg["src"])
        .select(
            F.col("node").alias("word"),
            F.round("rank", 6).alias("rank"),
            F.col("wsum").cast("long").alias("cooc_weight"),
        )
        .orderBy(F.desc("rank"), "word")
        .limit(_TR_TOPK)
    )


# ---------------------------------------------------------------------------
# product-quantization recall audit (PQ codes, ADC search)
# ---------------------------------------------------------------------------

def _pq_sql() -> str:
    from osmgraft.ann.pq import PQ_ITERS, PQ_M, pq_train_sql

    train = pq_train_sql()
    sub = 64 // PQ_M
    assign = []
    for mi in range(PQ_M):
        lo, hi = mi * sub + 1, (mi + 1) * sub
        d2 = (
            f"list_inner_product(list_slice(e.v, {lo}, {hi}), "
            f"list_slice(e.v, {lo}, {hi})) "
            f"- 2 * list_inner_product(list_slice(e.v, {lo}, {hi}), p.c) "
            f"+ list_inner_product(p.c, p.c)"
        )
        assign.append(
            f"as{mi} AS (SELECT e.vec_id, p.cid AS code{mi} "
            f"FROM e CROSS JOIN cb{mi}_{PQ_ITERS} p "
            f"QUALIFY ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY "
            f"FLOOR(({d2}) * 100000 + 0.5) ASC, p.cid) = 1)"
        )
    joins = " ".join(
        f"JOIN as{mi} USING (vec_id)" for mi in range(PQ_M)
    )
    recon_joins = " ".join(
        f"JOIN cb{mi}_{PQ_ITERS} b{mi} ON b{mi}.cid = codes.code{mi}"
        for mi in range(PQ_M)
    )
    recon_concat = " || ".join(f"b{mi}.c" for mi in range(PQ_M))
    return f"""
    WITH {train},
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    {", ".join(assign)},
    codes AS (SELECT * FROM e {joins}),
    rec AS (SELECT codes.vec_id, codes.v, {recon_concat} AS recon
            FROM codes {recon_joins}),
    qs AS (SELECT vec_id AS qid, v AS q_v FROM e
           WHERE vec_id % {_QZ_QMOD} = 0),
    pairs AS (SELECT qs.qid, z.vec_id,
                     ROUND(list_cosine_similarity(z.v, qs.q_v), 5) AS simf,
                     ROUND(list_cosine_similarity(z.recon, qs.q_v), 5)
                       AS simq
              FROM rec z CROSS JOIN qs WHERE z.vec_id <> qs.qid),
    ranked AS (SELECT qid, simf, simq,
                      ROW_NUMBER() OVER (PARTITION BY qid
                                         ORDER BY simf DESC, vec_id) AS rf,
                      ROW_NUMBER() OVER (PARTITION BY qid
                                         ORDER BY simq DESC, vec_id) AS rq
               FROM pairs)
    SELECT qid,
           CAST(SUM(CASE WHEN rf <= 10 AND rq <= 10 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_overlap,
           ROUND(SUM(CASE WHEN rf <= 10 AND rq <= 10 THEN 1 ELSE 0 END)
                 / 1.0e1, 2) AS recall_at10,
           ROUND(AVG(CASE WHEN rf <= 10 THEN ABS(simf - simq) END), 6)
             AS mean_abs_sim_err
    FROM ranked GROUP BY qid ORDER BY qid
    """


@q("pq_quant_recall", oracle=_pq_sql())
def pq_quant_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization recall audit — the codebook-compression path
    that completes the vector trio (int8 scalar quantization, IVF coarse
    partitioning, PQ codes): vectors are split into 4 subspaces, each
    k-means'd independently (trained with the IVF cross-engine Lloyd
    discipline — snapped-L2 assignment, 6-dp mean updates — so the SQL
    oracle recomputes the IDENTICAL codebooks from scratch), every
    vector is stored as 4 codes (64 floats → 4 small ints), and each
    sampled probe's exact-cosine top-10 is compared against its
    asymmetric-distance top-10 (full-precision query vs reconstructed
    codes — the standard ADC serving form). Output mirrors
    ``int8_quant_recall``: per-probe overlap, recall@10, and the mean
    within-top-10 similarity error.

    Scale shape: training is a bounded-sample collect (the enforced
    IVF ceiling); encoding is one scan with broadcast-literal centroids
    (argmin via `least` over structs — no join, no shuffle); the audit
    is the bounded-probe recall harness — probes collected once and
    scored against (v, recon) as Arrow-batched numpy GEMMs
    (mapInPandas, the same batch-scoring form as ``int8_quant_recall``;
    raw dot over the norm outer product preserves the oracle's
    dot/(na*nb) factoring), per-probe rank windows keyed by probe.
    """
    import numpy as np
    import pandas as pd

    from osmgraft.ann.pq import pq_encode, pq_train_codebooks

    emb = t(spark, sf_dir, "embeddings")
    books = pq_train_codebooks(emb)
    enc = pq_encode(emb, books).select("vec_id", "v", "recon")
    probes = (
        enc.where(F.col("vec_id") % _QZ_QMOD == 0)
        .select("vec_id", "v")
        .orderBy("vec_id")
        .toPandas()
    )
    qids = probes["vec_id"].to_numpy()
    Qv = np.stack(probes["v"].to_numpy())
    q_nv = np.sqrt((Qv * Qv).sum(axis=1))

    def score(batches):
        for pdf in batches:
            ids = pdf["vec_id"].to_numpy()
            V = np.stack(pdf["v"].to_numpy())
            R = np.stack(pdf["recon"].to_numpy())
            nv = np.sqrt((V * V).sum(axis=1))
            nr = np.sqrt((R * R).sum(axis=1))
            simf = np.round((V @ Qv.T) / np.outer(nv, q_nv), 5)
            simq = np.round((R @ Qv.T) / np.outer(nr, q_nv), 5)
            n, q = simf.shape
            rep_id = np.repeat(ids, q)
            rep_qid = np.tile(qids, n)
            keep = rep_id != rep_qid
            yield pd.DataFrame(
                {
                    "qid": rep_qid[keep],
                    "vec_id": rep_id[keep],
                    "simf": simf.ravel()[keep],
                    "simq": simq.ravel()[keep],
                }
            )

    pairs = enc.mapInPandas(
        score, "qid long, vec_id long, simf double, simq double"
    )
    wf = Window.partitionBy("qid").orderBy(F.desc("simf"), "vec_id")
    wq = Window.partitionBy("qid").orderBy(F.desc("simq"), "vec_id")
    ranked = pairs.select(
        "qid",
        "simf",
        "simq",
        F.row_number().over(wf).alias("rf"),
        F.row_number().over(wq).alias("rq"),
    )
    hit = ((F.col("rf") <= 10) & (F.col("rq") <= 10)).cast("long")
    return (
        ranked.groupBy("qid")
        .agg(
            F.sum(hit).cast("long").alias("n_overlap"),
            F.round(F.sum(hit) / 10.0, 2).alias("recall_at10"),
            F.round(
                F.avg(
                    F.when(
                        F.col("rf") <= 10, F.abs(F.col("simf") - F.col("simq"))
                    )
                ),
                6,
            ).alias("mean_abs_sim_err"),
        )
        .orderBy("qid")
    )


# ---------------------------------------------------------------------------
# Matryoshka (MRL) truncation recall audit
# ---------------------------------------------------------------------------

_MRL_DIMS = (16, 32, 64)  # truncation prefixes audited (64 = identity)

_MRL_SQL = f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    dims AS (SELECT CAST(k AS BIGINT) AS d
             FROM UNNEST([{", ".join(str(d) for d in _MRL_DIMS)}]) AS t(k)),
    qs AS (SELECT vec_id AS qid, v AS q_v FROM e
           WHERE vec_id % {_QZ_QMOD} = 0),
    pairs AS (
      SELECT dims.d, qs.qid, z.vec_id,
             ROUND(list_cosine_similarity(z.v, qs.q_v), 5) AS simf,
             ROUND(list_cosine_similarity(list_slice(z.v, 1, dims.d),
                                          list_slice(qs.q_v, 1, dims.d)), 5)
               AS simt
      FROM e z CROSS JOIN qs CROSS JOIN dims
      WHERE z.vec_id <> qs.qid),
    ranked AS (SELECT d, qid, simf, simt,
                      ROW_NUMBER() OVER (PARTITION BY d, qid
                                         ORDER BY simf DESC, vec_id) AS rf,
                      ROW_NUMBER() OVER (PARTITION BY d, qid
                                         ORDER BY simt DESC, vec_id) AS rt
               FROM pairs)
    SELECT d AS trunc_dim,
           CAST(COUNT(DISTINCT qid) AS BIGINT) AS n_queries,
           ROUND(SUM(CASE WHEN rf <= 10 AND rt <= 10 THEN 1 ELSE 0 END)
                 * 1.0e0 / (COUNT(DISTINCT qid) * 10), 4) AS mean_recall_at10,
           ROUND(AVG(CASE WHEN rf <= 10 THEN ABS(simf - simt) END), 6)
             AS mean_abs_sim_err
    FROM ranked GROUP BY d ORDER BY d
    """


@q("mrl_trunc_recall", oracle=_MRL_SQL)
def mrl_trunc_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation recall audit — the dimensionality
    companion of ``int8_quant_recall`` (precision) and
    ``pq_quant_recall`` (codes): rank every sampled probe's neighbors by
    cosine over the FIRST d dimensions only (d = 16/32/64) and compare
    against the full-vector top-10 — the recall-vs-storage curve that
    decides how much of an embedding column a 10^12-row serving index
    actually needs to read. d=64 is the identity rung (recall exactly
    1.0 — a built-in self-check the pytest pins).

    Scale shape: truncation is a zero-cost in-row slice (at scale it is
    a parquet column-prefix read); the audit is the bounded-probe
    harness — probes collected once and scored per Arrow batch as one
    prefix-sliced float64 GEMM per rung (``X[:, :d] @ Q[:, :d].T`` over
    the norm outer — the ``pq_quant_recall`` batch-scoring form; the
    fanned per-pair slice + interpreted dot lambdas this replaces were
    ~4 s of the 5 s runtime), per-(dim, probe) rank windows, one dim
    rollup.
    """
    import numpy as np
    import pandas as pd

    emb = t(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    e = emb.select("vec_id", v.alias("v"))
    probes = (
        e.where(F.col("vec_id") % _QZ_QMOD == 0).orderBy("vec_id").toPandas()
    )
    out_schema = (
        "trunc_dim long, n_queries long, mean_recall_at10 double, "
        "mean_abs_sim_err double"
    )
    if len(probes) == 0:
        # no vec_id % _QZ_QMOD == 0 probe: the oracle's qs CTE is empty
        # and its final select returns 0 rows — match it instead of
        # letting np.stack raise on an empty object array.
        return spark.createDataFrame([], out_schema)
    qids = probes["vec_id"].to_numpy()
    Q = np.stack(probes["v"].to_numpy())

    def snap5(x):
        # DuckDB ROUND is half-AWAY-from-zero on doubles; np.round is
        # half-to-even — a cosine landing on an exact .5 tie at the 5th
        # decimal would snap differently per engine and flip the
        # (d, qid) rank windows (the drift class the IVF floor-snap
        # discipline exists to prevent), so snap half-away explicitly.
        return np.sign(x) * np.floor(np.abs(x) * 1e5 + 0.5) / 1e5

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["vec_id"].to_numpy()
            V = np.stack(pdf["v"].to_numpy())
            n, q = len(ids), len(qids)
            rep_id = np.repeat(ids, q)
            rep_qid = np.tile(qids, n)
            keep = rep_id != rep_qid
            sims = {}
            for d in _MRL_DIMS:
                Vd, Qd = V[:, :d], Q[:, :d]
                nv = np.sqrt((Vd * Vd).sum(axis=1))
                nq = np.sqrt((Qd * Qd).sum(axis=1))
                sims[d] = snap5(
                    (Vd @ Qd.T) / np.outer(nv, nq)
                ).ravel()[keep]
            nv = np.sqrt((V * V).sum(axis=1))
            nq = np.sqrt((Q * Q).sum(axis=1))
            full = snap5((V @ Q.T) / np.outer(nv, nq)).ravel()[keep]
            yield pd.concat(
                [
                    pd.DataFrame(
                        {
                            "d": np.int64(d),
                            "qid": rep_qid[keep],
                            "vec_id": rep_id[keep],
                            "simf": full,
                            "simt": sims[d],
                        }
                    )
                    for d in _MRL_DIMS
                ],
                ignore_index=True,
            )

    pairs = e.mapInPandas(
        score, "d long, qid long, vec_id long, simf double, simt double"
    )
    wf = Window.partitionBy("d", "qid").orderBy(F.desc("simf"), "vec_id")
    wt = Window.partitionBy("d", "qid").orderBy(F.desc("simt"), "vec_id")
    ranked = pairs.select(
        "d",
        "qid",
        "simf",
        "simt",
        F.row_number().over(wf).alias("rf"),
        F.row_number().over(wt).alias("rt"),
    )
    hit = ((F.col("rf") <= 10) & (F.col("rt") <= 10)).cast("long")
    return (
        ranked.groupBy(F.col("d").alias("trunc_dim"))
        .agg(
            F.countDistinct("qid").cast("long").alias("n_queries"),
            F.round(
                F.sum(hit) * F.lit(1.0) / (F.countDistinct("qid") * 10), 4
            ).alias("mean_recall_at10"),
            F.round(
                F.avg(
                    F.when(
                        F.col("rf") <= 10, F.abs(F.col("simf") - F.col("simt"))
                    )
                ),
                6,
            ).alias("mean_abs_sim_err"),
        )
        .orderBy("trunc_dim")
    )


# ---------------------------------------------------------------------------
# embedding-space drift check between corpus halves
# ---------------------------------------------------------------------------

# snapped-product integer terms: centroids are 6-dp-snapped, each pairwise
# term floors to pico-units before summing, so dot/norm sums are exact
# int64 in any aggregation order (|v| <= ~1, 64 dims => sums < 1e14)
_DRIFT_COS = (
    "(CAST(dot_u AS DOUBLE) / SQRT(CAST(na_u AS DOUBLE) * nb_u))"
)

_DRIFT_SQL = f"""
    WITH halves AS (
      SELECT label, vec_id % 2 AS half, i AS dim,
             FLOOR(AVG(embedding[i]::DOUBLE) * 1000000 + 0.5) / 1000000
               AS c
      FROM embeddings,
           LATERAL unnest(generate_series(1, len(embedding))) AS t(i)
      GROUP BY label, vec_id % 2, i),
    n AS (SELECT label, vec_id % 2 AS half,
                 CAST(COUNT(*) AS BIGINT) AS n_vecs
          FROM embeddings GROUP BY label, vec_id % 2),
    paired AS (SELECT a.label, a.dim, a.c AS ca, b.c AS cb
               FROM halves a JOIN halves b
                 ON a.label = b.label AND a.dim = b.dim
                AND a.half = 0 AND b.half = 1),
    sums AS (SELECT label,
                    CAST(SUM(CAST(FLOOR(ca * cb * 1e12 + 0.5e0)
                                  AS BIGINT)) AS BIGINT) AS dot_u,
                    CAST(SUM(CAST(FLOOR(ca * ca * 1e12 + 0.5e0)
                                  AS BIGINT)) AS BIGINT) AS na_u,
                    CAST(SUM(CAST(FLOOR(cb * cb * 1e12 + 0.5e0)
                                  AS BIGINT)) AS BIGINT) AS nb_u,
                    CAST(SUM(CAST(FLOOR((ca - cb) * (ca - cb) * 1e12
                                        + 0.5e0) AS BIGINT)) AS BIGINT)
                      AS d2_u
             FROM paired GROUP BY label)
    SELECT s.label, x.n_vecs AS n_a, y.n_vecs AS n_b,
           ROUND({_DRIFT_COS}, 6) AS centroid_cosine,
           ROUND(SQRT(CAST(d2_u AS DOUBLE)) / 1e6, 6) AS l2_shift
    FROM sums s JOIN n x ON s.label = x.label AND x.half = 0
                JOIN n y ON s.label = y.label AND y.half = 1
    ORDER BY s.label
    """


@q("embedding_drift_check", oracle=_DRIFT_SQL)
def embedding_drift_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift monitor: per-label centroid of the even
    corpus half vs the odd half, compared by centroid cosine and L2
    shift — the ML-ops regression gate run whenever an embedding model
    or upstream corpus changes (the drift twin of
    ``embedding_centroid_by_label``, which this reuses dimension-wise;
    ``ks_value_drift``/``chi2_category_drift`` are its scalar cousins).

    Exactness: per-(label, half, dim) centroids snap to 6 dp (the
    established centroid discipline); every pairwise product floors to
    pico-unit integers BEFORE summing, so dot and norms are exact int64
    in any aggregation order; cosine and shift are one shared-text
    division/sqrt each.

    Scale shape: one posexplode fan-out keyed (label, half, dim) with
    map-side partial agg; the half-vs-half join is over the bounded
    centroid relation (labels × dims); output is |labels| rows.
    """
    e = t(spark, sf_dir, "embeddings")
    halves = (
        e.select(
            "label",
            (F.col("vec_id") % 2).alias("half"),
            F.posexplode(F.col("embedding")).alias("_p", "_v"),
        )
        .select(
            "label", "half", (F.col("_p") + 1).alias("dim"),
            F.col("_v").cast("double").alias("_v"),
        )
        .groupBy("label", "half", "dim")
        .agg(
            (F.floor(F.avg("_v") * 1000000 + 0.5) / 1000000).alias("c")
        )
    )
    n = e.groupBy("label", (F.col("vec_id") % 2).alias("half")).agg(
        F.count("*").cast("long").alias("n_vecs")
    )
    a = halves.where(F.col("half") == 0).select(
        "label", "dim", F.col("c").alias("ca")
    )
    b = halves.where(F.col("half") == 1).select(
        F.col("label").alias("lb"), F.col("dim").alias("db"),
        F.col("c").alias("cb"),
    )
    paired = a.join(
        b, (F.col("label") == F.col("lb")) & (F.col("dim") == F.col("db"))
    )
    snap = lambda col: F.floor(col * 1e12 + 0.5).cast("long")  # noqa: E731
    sums = paired.groupBy("label").agg(
        F.sum(snap(F.col("ca") * F.col("cb"))).cast("long").alias("dot_u"),
        F.sum(snap(F.col("ca") * F.col("ca"))).cast("long").alias("na_u"),
        F.sum(snap(F.col("cb") * F.col("cb"))).cast("long").alias("nb_u"),
        F.sum(snap((F.col("ca") - F.col("cb")) * (F.col("ca") - F.col("cb"))))
        .cast("long")
        .alias("d2_u"),
    )
    nx = n.where(F.col("half") == 0).select(
        "label", F.col("n_vecs").alias("n_a")
    )
    ny = n.where(F.col("half") == 1).select(
        F.col("label").alias("ly"), F.col("n_vecs").alias("n_b")
    )
    return (
        sums.join(F.broadcast(nx), "label")
        .join(F.broadcast(ny), F.col("label") == F.col("ly"))
        .select(
            "label",
            "n_a",
            "n_b",
            F.round(F.expr(_DRIFT_COS), 6).alias("centroid_cosine"),
            F.round(
                F.sqrt(F.col("d2_u").cast("double")) / 1e6, 6
            ).alias("l2_shift"),
        )
        .orderBy("label")
    )
