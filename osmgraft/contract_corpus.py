"""Driver-contract entries: corpus-hygiene + skew-evidence operators.

Round-3 session-3 additions — four operators a production training-data
pipeline runs on every crawl snapshot, each oracle-paired:

- ``line_dedup_stats``: cross-document line-level dedup (the Lee et al.
  "Deduplicating Training Data" substring-dedup shape, expressed at line
  granularity): chunks that recur across distinct documents are removed
  and the cleaned text is rebuilt order-preservingly.
- ``contamination_check``: train/test n-gram decontamination (the GPT-3
  appendix-C shape): flag corpus documents sharing word n-grams with a
  held-out benchmark set, via a broadcast join against the (small)
  benchmark gram set.
- ``hot_cell_salted_profile``: per-hex-cell exact distinct-user profile
  computed through ``runtime.salting.salted_aggregate`` — the explicit
  skew-handling evidence for the north rule's London-grade dense cells,
  at the query surface (plan-audited in tests/test_plans.py).
- ``inverted_index``: term -> (document frequency, bounded posting list)
  — df from a partial-agg count-distinct over ALL postings, the posting
  list from a per-term top-k (partition-local sort, never a global one).

Reference surface being generalized: the reference's keyword-mining /
frequency queries (power_user_queries.sql word mining, A13/A14) stop at
per-word counts; these extend the same explode-and-aggregate shape to the
dedup/contamination/index primitives a 10^12-page corpus needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from osmgraft.contract import q, t
from osmgraft.runtime.cut import cut
from osmgraft.geo import hexgrid as hg
from osmgraft.runtime.salting import salted_aggregate

# ---------------------------------------------------------------------------
# line-level cross-document dedup
# ---------------------------------------------------------------------------

_LINE_WORDS = 8  # words per "line" (the fixture text has no newlines; a
# fixed non-overlapping word window is the deterministic stand-in for the
# reference corpus's newline-delimited lines)

_LINE_DEDUP_SQL = f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
         eligible AS (SELECT doc_id, arr, len(arr) // {_LINE_WORDS} AS nl
                      FROM w WHERE len(arr) >= {_LINE_WORDS}),
         lines AS (SELECT doc_id, k AS pos,
                          array_to_string(
                            list_slice(arr, k * {_LINE_WORDS} + 1,
                                       (k + 1) * {_LINE_WORDS}), ' ') AS line
                   FROM eligible,
                        UNNEST(range(nl)) AS t(k)),
         dup AS (SELECT line FROM lines GROUP BY line
                 HAVING COUNT(DISTINCT doc_id) >= 2)
    SELECT l.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(COUNT(*) FILTER (WHERE d.line IS NOT NULL) AS BIGINT)
             AS n_dup_lines,
           ROUND(COUNT(*) FILTER (WHERE d.line IS NOT NULL)
                 / COUNT(*), 4) AS dup_ratio,
           md5(COALESCE(string_agg(l.line, ' ' ORDER BY l.pos)
                          FILTER (WHERE d.line IS NULL), '')) AS kept_md5
    FROM lines l LEFT JOIN dup d USING (line)
    GROUP BY l.doc_id ORDER BY l.doc_id
    """


@q("line_dedup_stats", oracle=_LINE_DEDUP_SQL)
def line_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document line dedup (Lee et al. shape at line granularity):
    any 8-word line occurring in >= 2 distinct documents is removed
    everywhere; per document emit line counts, the duplicated-line ratio,
    and the md5 of the order-preservingly rebuilt cleaned text (the hash
    match proves the rebuild is byte-identical across engines).

    Scale shape: one explode, the dup-line set found with a partial-agg
    count-distinct on the line hash (here the line text itself so the
    oracle can mirror it), one equi-join back on the line key, one
    order-preserving re-aggregation keyed by (doc_id). Every shuffle is on
    an 8-byte-hashable key; nothing is quadratic and no global sort
    exists (the per-doc ORDER BY pos sorts inside a doc_id group).
    """
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    words = docs.withColumn("arr", F.split("text", " "))
    eligible = words.where(F.size("arr") >= _LINE_WORDS).withColumn(
        "nl", (F.size("arr") / _LINE_WORDS).cast("int")
    )
    lines = eligible.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.col("nl") - 1),
                lambda k: F.array_join(
                    F.slice(F.col("arr"), k * _LINE_WORDS + 1, _LINE_WORDS), " "
                ),
            )
        ).alias("pos", "line"),
    )
    dup = (
        lines.groupBy("line")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("line", F.lit(True).alias("is_dup"))
    )
    tagged = lines.join(dup, "line", "left")
    kept_sorted = F.transform(
        F.array_sort(
            F.collect_list(
                F.when(F.col("is_dup").isNull(), F.struct("pos", "line"))
            )
        ),
        lambda s: s["line"],
    )
    return (
        tagged.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.sum(F.when(F.col("is_dup").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_dup_lines"),
            F.md5(F.array_join(kept_sorted, " ")).alias("kept_md5"),
        )
        .withColumn(
            "dup_ratio", F.round(F.col("n_dup_lines") / F.col("n_lines"), 4)
        )
        .select("doc_id", "n_lines", "n_dup_lines", "dup_ratio", "kept_md5")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# train/test contamination check
# ---------------------------------------------------------------------------

_BENCH_MOD = 17  # doc_id % 17 == 0 plays the held-out benchmark set
_GRAM_N = 4      # word n-gram width (13 in production GPT-3-style decontam;
# 4 on the small-vocab fixture so overlap actually fires)
_CONTAM_FLAG = 0.2

_GRAMS_CTE = f"""
    w AS (SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
    g AS (SELECT DISTINCT doc_id,
                 array_to_string(list_slice(arr, k + 1, k + {_GRAM_N}), ' ')
                   AS gram
          FROM w, UNNEST(range(len(arr) - {_GRAM_N} + 1)) AS t(k)
          WHERE len(arr) >= {_GRAM_N})
    """

_CONTAM_SQL = f"""
    WITH {_GRAMS_CTE},
         bench AS (SELECT DISTINCT gram FROM g
                   WHERE doc_id % {_BENCH_MOD} = 0),
         cand AS (SELECT * FROM g WHERE doc_id % {_BENCH_MOD} <> 0),
         hits AS (SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
                  FROM cand c JOIN bench b USING (gram)
                  GROUP BY c.doc_id),
         totals AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams
                    FROM cand GROUP BY doc_id)
    SELECT t.doc_id, t.n_grams, h.n_shared,
           ROUND(h.n_shared / t.n_grams, 4) AS overlap_ratio,
           h.n_shared / t.n_grams >= {_CONTAM_FLAG} AS contaminated
    FROM totals t JOIN hits h USING (doc_id)
    ORDER BY t.doc_id
    """


@q("contamination_check", oracle=_CONTAM_SQL)
def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination (GPT-3 appendix-C shape): flag corpus
    documents whose word 4-grams overlap a held-out benchmark set
    (doc_id % 17 == 0 stands in for the benchmark).

    Scale shape: the benchmark gram set is small by construction (held-out
    eval suites are MBs, the corpus is TBs) — it is broadcast, so the
    10^12-row candidate side never shuffles for the probe; the per-doc
    rollup is one partial-agg shuffle on doc_id. Production uses 13-grams;
    the width is a constant, not a plan change.
    """
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    arr = F.split("text", " ")
    grams = (
        docs.where(F.size(arr) >= _GRAM_N)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size(arr) - _GRAM_N),
                    lambda k: F.array_join(F.slice(arr, k + 1, _GRAM_N), " "),
                )
            ).alias("gram"),
        )
        .distinct()
    )
    bench = (
        grams.where(F.col("doc_id") % _BENCH_MOD == 0).select("gram").distinct()
    )
    cand = grams.where(F.col("doc_id") % _BENCH_MOD != 0)
    hits = (
        cand.join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_shared"))
    )
    totals = cand.groupBy("doc_id").agg(F.count("*").cast("long").alias("n_grams"))
    ratio = F.col("n_shared") / F.col("n_grams")
    return (
        totals.join(hits, "doc_id")
        .select(
            "doc_id",
            "n_grams",
            "n_shared",
            F.round(ratio, 4).alias("overlap_ratio"),
            (ratio >= _CONTAM_FLAG).alias("contaminated"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# salted hot-cell profile (north-rule skew evidence at the query surface)
# ---------------------------------------------------------------------------

_HOT_RES = 7


def _hot_cell_oracle() -> str:
    from osmgraft.contract import X_EXPR, Y_EXPR

    return f"""
    WITH pts AS (SELECT event_id, user_id, {X_EXPR} AS x, {Y_EXPR} AS y
                 FROM events),
         g AS (SELECT user_id, {hg.hex_cell_sql("x", "y", _HOT_RES)} AS hex_cell FROM pts)
    SELECT hex_cell,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM g GROUP BY hex_cell ORDER BY hex_cell
    """


@q("hot_cell_salted_profile", oracle=_hot_cell_oracle())
def hot_cell_salted_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hex-cell exact distinct-user profile through an EXPLICIT salted
    two-phase aggregation (runtime.salting.salted_aggregate) — the north
    rule's dense-cell skew handling evidenced at the query surface, not
    just in library code. A London-grade cell holding 30 % of all pages
    would make a naive groupBy(cell).agg(collect_set(user)) build one
    straggler set on one task; the salted form builds 16 partial sets per
    hot cell in parallel and merges them in a second, tiny aggregation.

    The oracle is the plain relational form (GROUP BY cell, COUNT
    DISTINCT) — the hash match proves the two-phase rewrite is lossless.
    Plan audit in tests/test_plans.py asserts the (cell, salt) partial
    stage exists.
    """
    from osmgraft.contract import X_EXPR, Y_EXPR

    ev = t(spark, sf_dir, "events").select(
        "user_id", F.expr(X_EXPR).alias("x"), F.expr(Y_EXPR).alias("y")
    )
    cells = ev.select(
        F.expr(hg.hex_cell_sql("x", "y", _HOT_RES)).alias("hex_cell"),
        "user_id",
    )
    out = salted_aggregate(
        cells,
        keys=["hex_cell"],
        partial_aggs=[
            F.collect_set("user_id").alias("us"),
            F.count("*").alias("c"),
        ],
        final_aggs=[
            F.sum("c").cast("long").alias("n_events"),
            F.size(F.array_distinct(F.flatten(F.collect_list("us"))))
            .cast("long")
            .alias("n_users"),
        ],
    )
    return out.select("hex_cell", "n_events", "n_users").orderBy("hex_cell")


# ---------------------------------------------------------------------------
# inverted index (term -> df + bounded posting list)
# ---------------------------------------------------------------------------

_POSTINGS_K = 10

_INVERTED_SQL = f"""
    WITH w AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
               FROM documents),
         df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM w
                GROUP BY term),
         ranked AS (SELECT term, doc_id,
                           ROW_NUMBER() OVER (PARTITION BY term
                                              ORDER BY doc_id) AS rn
                    FROM w),
         post AS (SELECT term,
                         string_agg(CAST(doc_id AS VARCHAR), ','
                                    ORDER BY doc_id) AS postings
                  FROM ranked WHERE rn <= {_POSTINGS_K} GROUP BY term)
    SELECT term, df.df, post.postings
    FROM df JOIN post USING (term)
    WHERE term <> ''
    ORDER BY term
    """


@q("inverted_index", oracle=_INVERTED_SQL)
def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index build: term -> document frequency + the first
    ``_POSTINGS_K`` doc ids as a comma-joined posting list.

    Scale shape: df comes from a partial-agg count over ALL (term, doc)
    postings; the posting list is a per-term top-k (row_number inside the
    term partition — a partition-local sort, never a global one, and the
    collect is bounded at k rows per term BEFORE aggregation, so no task
    ever materializes a full posting list for a stopword-grade term).
    """
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    posting = (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("term")
        )
        .where(F.col("term") != "")
        .distinct()
    )
    df_counts = posting.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    rn = F.row_number().over(Window.partitionBy("term").orderBy("doc_id"))
    topk = posting.withColumn("rn", rn).where(F.col("rn") <= _POSTINGS_K)
    postings = (
        topk.groupBy("term")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id"))),
                    lambda s: s["doc_id"].cast("string"),
                ),
                ",",
            ).alias("postings")
        )
    )
    return (
        df_counts.join(postings, "term")
        .select("term", "df", "postings")
        .orderBy("term")
    )


# ---------------------------------------------------------------------------
# BM25 ranking (IR primitive for corpus curation / quality retrieval)
# ---------------------------------------------------------------------------

_BM25_TERMS = ("spark", "window", "merge")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 20

_BM25_SQL = f"""
    WITH dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT)
                         AS dl
                FROM documents),
         n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                      SUM(dl) / CAST(COUNT(*) AS DOUBLE) AS avgdl
               FROM dl),
         tf AS (SELECT doc_id, w AS term, CAST(COUNT(*) AS BIGINT) AS tf
                FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                      FROM documents)
                WHERE w IN {_BM25_TERMS!r}
                GROUP BY doc_id, w),
         df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf
                GROUP BY term),
         idf AS (SELECT term,
                        FLOOR(ln((n.n - df.df + 0.5e0) / (df.df + 0.5e0)
                                 + 1.0e0) * 1000000 + 0.5) / 1000000 AS idf
                 FROM df CROSS JOIN n),
         sc AS (SELECT tf.doc_id,
                       SUM(idf.idf * tf.tf * ({_BM25_K1}e0 + 1.0e0)
                           / (tf.tf + {_BM25_K1}e0
                              * (1.0e0 - {_BM25_B}e0
                                 + {_BM25_B}e0 * dl.dl / n.avgdl))) AS s
                FROM tf JOIN idf USING (term)
                        JOIN dl USING (doc_id)
                        CROSS JOIN n
                GROUP BY tf.doc_id)
    SELECT doc_id, FLOOR(s * 10000 + 0.5) / 10000 AS bm25
    FROM sc
    ORDER BY FLOOR(s * 10000 + 0.5) / 10000 DESC, doc_id
    LIMIT {_BM25_TOPK}
    """


@q("bm25_top_docs", oracle=_BM25_SQL)
def bm25_top_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-k documents for a fixed query-term set — the
    retrieval primitive a curation pipeline uses to mine quality
    documents near a topic seed.

    Scale shape: terms are filtered to the query set BEFORE the tf
    aggregation (the explode emits only query-term hits, so the shuffle
    carries |Q| rows per doc at most); df and idf are aggregates over the
    already-tiny tf frame, broadcast back; the global top-k plans as
    TakeOrderedAndProject, never a single-partition sort. The idf ln is
    snapped at 6 dp (floor-half, both engines) before the per-term score
    so transcendental ulp can't flip the 4-dp final ranking.
    """
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    dl = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("dl")
    )
    n_row = dl.agg(
        F.count("*").cast("long").alias("n"),
        (F.sum("dl") / F.count("*")).alias("avgdl"),
    )
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .where(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    df_counts = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    idf = df_counts.crossJoin(F.broadcast(n_row)).select(
        "term",
        (
            F.floor(
                F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
                * 1000000
                + 0.5
            )
            / 1000000
        ).alias("idf"),
        "avgdl",
    )
    per_term = (
        tf.join(F.broadcast(idf), "term")
        .join(dl, "doc_id")
        .select(
            "doc_id",
            (
                F.col("idf")
                * F.col("tf")
                * (_BM25_K1 + 1.0)
                / (
                    F.col("tf")
                    + _BM25_K1
                    * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
                )
            ).alias("s"),
        )
    )
    snapped = (F.floor(F.sum("s") * 10000 + 0.5) / 10000).alias("bm25")
    return (
        per_term.groupBy("doc_id")
        .agg(snapped)
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(_BM25_TOPK)
    )


# ---------------------------------------------------------------------------
# windowed PMI co-occurrence (word-association mining)
# ---------------------------------------------------------------------------

_PMI_WINDOW = 3
_PMI_MIN_PAIRS = 30

_PMI_SQL = f"""
    WITH w AS (SELECT string_split(text, ' ') AS arr FROM documents),
         pairs AS (SELECT least(arr[i + 1], arr[i + d + 1]) || ' ' ||
                          greatest(arr[i + 1], arr[i + d + 1]) AS pair
                   FROM w,
                        UNNEST(range(len(arr) - 1)) AS t(i),
                        UNNEST(range(1, {_PMI_WINDOW} + 1)) AS s(d)
                   WHERE i + d < len(arr)),
         pc AS (SELECT pair, CAST(COUNT(*) AS BIGINT) AS c_pair FROM pairs
                GROUP BY pair),
         tp AS (SELECT SUM(c_pair) AS t_pairs FROM pc),
         wc AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS c_w
                FROM (SELECT unnest(arr) AS word FROM w) GROUP BY word),
         tw AS (SELECT SUM(c_w) AS t_words FROM wc)
    SELECT pair, c_pair,
           FLOOR(ln((c_pair / CAST(t_pairs AS DOUBLE))
                    / ((w1.c_w / CAST(t_words AS DOUBLE))
                       * (w2.c_w / CAST(t_words AS DOUBLE))))
                 * 10000 + 0.5) / 10000 AS pmi
    FROM pc CROSS JOIN tp CROSS JOIN tw
         JOIN wc w1 ON w1.word = string_split(pair, ' ')[1]
         JOIN wc w2 ON w2.word = string_split(pair, ' ')[2]
    WHERE c_pair >= {_PMI_MIN_PAIRS}
    ORDER BY pair
    """


@q("pmi_cooccurrence", oracle=_PMI_SQL)
def pmi_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information over word pairs co-occurring within a
    ±3-token window (the word2vec/GloVe context-window statistic, and the
    collocation miner behind phrase vocabularies for tokenizer training).

    Scale shape: pair generation is IN-ROW (per-offset zip_with of the
    token array against its own shifted slice — no positional self-join
    ever materializes); the only
    big shuffle is the (pair, count) partial aggregation on a string key.
    Marginal word counts aggregate the same scan, and the two scalar
    totals broadcast. The window width bounds pair fanout at w x len per
    doc — linear in corpus size, never quadratic. The pair and word
    count relations are ``cut``: each feeds both a scalar
    total and the scoring join (words feed TWO broadcast copies), and
    without the cut the pair explode+shuffle runs twice and the word agg
    three times (measured 3x the runtime at sf0.1).
    """
    docs = t(spark, sf_dir, "documents").select("text")
    arr = F.split("text", " ")
    words = docs.select(arr.alias("arr"))
    # per-offset zip_with of the array against itself shifted by d: one
    # single-level HOF per window offset instead of a nested transform
    # doing element_at per (i, d) — the nested form evaluated ~5x slower
    # (HOFs are interpreted, and the index arithmetic re-boxed per
    # element) and crashed on 1-token docs (sequence(0, -1) descends).
    # Pair MULTISET is identical; generation order differs (d-major vs
    # i-major), which the count agg erases.
    n = F.size("arr")
    shifted = [
        F.zip_with(
            F.slice("arr", 1, F.greatest(n - d, F.lit(0))),
            F.slice("arr", 1 + d, F.greatest(n - d, F.lit(0))),
            lambda a, b: F.concat_ws(
                " ", F.least(a, b), F.greatest(a, b)
            ),
        )
        for d in range(1, _PMI_WINDOW + 1)
    ]
    pair_arrays = words.select(F.flatten(F.array(*shifted)).alias("pairs"))
    pc = (
        pair_arrays.select(F.explode("pairs").alias("pair"))
        .groupBy("pair")
        .agg(F.count("*").cast("long").alias("c_pair"))
        .transform(cut)
    )
    wc = (
        words.select(F.explode("arr").alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("c_w"))
        .transform(cut)
    )
    tp = pc.agg(F.sum("c_pair").alias("t_pairs"))
    tw = wc.agg(F.sum("c_w").alias("t_words"))
    w1 = wc.select(F.col("word").alias("_w1"), F.col("c_w").alias("c_w1"))
    w2 = wc.select(F.col("word").alias("_w2"), F.col("c_w").alias("c_w2"))
    split_pair = F.split("pair", " ")
    joined = (
        pc.where(F.col("c_pair") >= _PMI_MIN_PAIRS)
        .withColumn("_w1", split_pair.getItem(0))
        .withColumn("_w2", split_pair.getItem(1))
        .join(F.broadcast(w1), "_w1")
        .join(F.broadcast(w2), "_w2")
        .crossJoin(F.broadcast(tp))
        .crossJoin(F.broadcast(tw))
    )
    pmi = (
        F.floor(
            F.log(
                (F.col("c_pair") / F.col("t_pairs").cast("double"))
                / (
                    (F.col("c_w1") / F.col("t_words").cast("double"))
                    * (F.col("c_w2") / F.col("t_words").cast("double"))
                )
            )
            * 10000
            + 0.5
        )
        / 10000
    ).alias("pmi")
    return joined.select("pair", "c_pair", pmi).orderBy("pair")


# ---------------------------------------------------------------------------
# corpus unigram LM quality score (CCNet-style bits-per-token bands)
# ---------------------------------------------------------------------------

_ULM_SQL = """
    WITH toks AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
                  FROM documents),
    wc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY w),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM wc),
    lp AS (SELECT w, ROUND(-LOG2(c / CAST(n AS DOUBLE)), 10) AS bits
           FROM wc, tot),
    d AS (SELECT doc_id, lang, ROUND(AVG(bits), 6) AS score
          FROM toks JOIN lp USING (w) GROUP BY doc_id, lang)
    SELECT lang, CAST(FLOOR(score) AS BIGINT) AS bits_band,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(score), 4) AS avg_bits,
           ROUND(MIN(score), 4) AS min_bits,
           ROUND(MAX(score), 4) AS max_bits
    FROM d GROUP BY lang, bits_band ORDER BY lang, bits_band
    """


@q("unigram_logprob", oracle=_ULM_SQL)
def unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model quality score — the CCNet/KenLM-style
    "bits per token under a corpus LM" filter, banded per language.

    The model is the corpus's own unigram distribution (one word-keyed
    partial agg); each document scores the mean -log2 p(w) over its
    tokens — high bits = improbable vocabulary (noise/boilerplate salad),
    low bits = repetitive stopword soup. Training pipelines cut both
    tails. Per-word bits are snapped to 10 dp on both engines before the
    per-doc mean (cross-engine float discipline, BENCH/BASELINE.md).

    Scale shape: model build = ONE explode + word-keyed partial agg; the
    model itself (vocab rows; bounded by a min-count cut at production
    scale, where OOV words share an UNK floor probability) broadcasts to
    the scoring pass, so scoring is a broadcast join + doc-keyed partial
    agg — two shuffles total, both on 8-byte keys, nothing quadratic.
    """
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.split("text", " ").alias("arr")
    )
    toks = docs.select("doc_id", "lang", F.explode("arr").alias("w"))
    wc = toks.groupBy("w").agg(F.count("*").cast("long").alias("c"))
    tot = wc.agg(F.sum("c").cast("long").alias("n"))
    lp = wc.crossJoin(F.broadcast(tot)).select(
        "w",
        F.round(-F.log2(F.col("c") / F.col("n").cast("double")), 10).alias("bits"),
    )
    d = (
        toks.join(F.broadcast(lp), "w")
        .groupBy("doc_id", "lang")
        .agg(F.round(F.avg("bits"), 6).alias("score"))
    )
    return (
        d.groupBy("lang", F.floor("score").cast("long").alias("bits_band"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.round(F.avg("score"), 4).alias("avg_bits"),
            F.round(F.min("score"), 4).alias("min_bits"),
            F.round(F.max("score"), 4).alias("max_bits"),
        )
        .orderBy("lang", "bits_band")
    )


# ---------------------------------------------------------------------------
# Zipf rank-frequency fit over the vocabulary
# ---------------------------------------------------------------------------

_ZIPF_SLOPE = "(n * sxy - sx * sy) / (n * sxx - sx * sx)"

_ZIPF_SQL = f"""
    WITH toks AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
    wc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY w),
    ranked AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, w) AS r FROM wc),
    pts AS (SELECT LN(CAST(r AS DOUBLE)) AS lx, LN(CAST(c AS DOUBLE)) AS ly
            FROM ranked),
    s AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, SUM(lx) AS sx, SUM(ly) AS sy,
                 SUM(lx * lx) AS sxx, SUM(lx * ly) AS sxy, SUM(ly * ly) AS syy
          FROM pts)
    SELECT CAST(n AS BIGINT) AS n_vocab,
           ROUND({_ZIPF_SLOPE}, 4) AS zipf_slope,
           ROUND((sy - ({_ZIPF_SLOPE}) * sx) / n, 4) AS intercept,
           ROUND(POWER(n * sxy - sx * sy, 2)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 4) AS r2
    FROM s
    """


@q("zipf_vocab_fit", oracle=_ZIPF_SQL)
def zipf_vocab_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency diagnostic: OLS fit of ln(freq) on ln(rank)
    over the corpus vocabulary — natural text runs slope ≈ -1; a corpus
    whose slope drifts toward 0 (flat: template/ID spam) or below -2
    (degenerate: few tokens dominate) fails the health check. A standard
    whole-corpus statistic in web-scale data audits.

    Scale shape: vocabulary counts are one explode + word-keyed partial
    agg; the rank window and the OLS sums run over the POST-AGG vocab
    relation (≪ corpus — bounded further by a min-count cut at
    production scale), and the fit itself is a closed-form single-row
    aggregate. The raw corpus is scanned exactly once.
    """
    toks = t(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("w")
    )
    wc = toks.groupBy("w").agg(F.count("*").cast("long").alias("c"))
    ranked = wc.select(
        "c",
        F.row_number()
        .over(Window.orderBy(F.desc("c"), "w"))
        .alias("r"),
    )
    pts = ranked.select(
        F.log(F.col("r").cast("double")).alias("lx"),
        F.log(F.col("c").cast("double")).alias("ly"),
    )
    s = pts.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(F.col("lx") * F.col("lx")).alias("sxx"),
        F.sum(F.col("lx") * F.col("ly")).alias("sxy"),
        F.sum(F.col("ly") * F.col("ly")).alias("syy"),
    )
    return s.select(
        F.col("n").cast("long").alias("n_vocab"),
        F.expr(f"ROUND({_ZIPF_SLOPE}, 4)").alias("zipf_slope"),
        F.expr(f"ROUND((sy - ({_ZIPF_SLOPE}) * sx) / n, 4)").alias("intercept"),
        F.expr(
            "ROUND(POWER(n * sxy - sx * sy, 2)"
            " / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 4)"
        ).alias("r2"),
    )


# ---------------------------------------------------------------------------
# PII scrubbing (email / phone / IP redaction with audit counts)
# ---------------------------------------------------------------------------

# dialect-portable patterns: character classes instead of backslash escapes
# ([.] not \.) so the identical pattern string runs on Java regex AND RE2
_PII_EMAIL = "[a-z0-9.]+@[a-z0-9-]+[.][a-z]{2,}"
_PII_PHONE = "[+]44 7[0-9]{9}"
_PII_IP = "([0-9]{1,3}[.]){3}[0-9]{1,3}"

_PII_SQL = f"""
    WITH aug AS (
      SELECT doc_id, lang,
             text
             || CASE WHEN doc_id % 4 = 0
                     THEN ' contact user' || CAST(doc_id % 97 AS VARCHAR)
                          || '@mail-' || CAST(doc_id % 9 AS VARCHAR) || '.co.uk'
                     ELSE '' END
             || CASE WHEN doc_id % 5 = 0
                     THEN ' tel +44 7'
                          || CAST(100000000 + doc_id % 899999999 AS VARCHAR)
                     ELSE '' END
             || CASE WHEN doc_id % 3 = 0
                     THEN ' ip ' || CAST(doc_id % 256 AS VARCHAR)
                          || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
                          || '.' || CAST((doc_id * 13) % 256 AS VARCHAR)
                          || '.' || CAST(doc_id % 250 + 1 AS VARCHAR)
                     ELSE '' END AS t
      FROM documents),
    scrub AS (
      SELECT doc_id, lang,
             len(regexp_extract_all(t, '{_PII_EMAIL}')) AS c_email,
             len(regexp_extract_all(t, '{_PII_PHONE}')) AS c_phone,
             len(regexp_extract_all(t, '{_PII_IP}')) AS c_ip,
             length(t) - length(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(t, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                   '{_PII_PHONE}', '<PHONE>', 'g'),
                 '{_PII_IP}', '<IP>', 'g')) AS len_saved
      FROM aug)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (WHERE c_email > 0) AS BIGINT) AS n_email_docs,
           CAST(COUNT(*) FILTER (WHERE c_phone > 0) AS BIGINT) AS n_phone_docs,
           CAST(COUNT(*) FILTER (WHERE c_ip > 0) AS BIGINT) AS n_ip_docs,
           CAST(SUM(c_email + c_phone + c_ip) AS BIGINT) AS total_redactions,
           ROUND(AVG(CAST(len_saved AS DOUBLE)), 4) AS avg_len_saved
    FROM scrub GROUP BY lang ORDER BY lang
    """


@q("pii_scrub_stats", oracle=_PII_SQL)
def pii_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction audit — the scrub stage every released training corpus
    runs (emails, phone numbers, IP addresses → typed placeholder tokens)
    with per-language counts of what was removed.

    The fixture text carries no PII, so deterministic doc_id-derived PII
    strings are appended first (the sanctioned stand-in pattern, as in
    url_host_rollup) and the scrubber must find exactly those. Patterns
    are written with character classes only ([.] not backslash-dot) so the
    SAME pattern string is valid Java regex (Spark) and RE2 (DuckDB);
    DuckDB's regexp_replace needs the explicit 'g' flag to match Spark's
    replace-all default.

    Scale shape: scrub + count are per-row JVM regex on the scan (no UDF,
    no shuffle); the audit rollup is one partial agg keyed by lang. At
    10^12 pages this is scan-bound — exactly what a hygiene pass must be.
    """
    d = t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    did = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    aug = F.concat(
        F.col("text"),
        F.when(
            did % 4 == 0,
            F.concat(
                F.lit(" contact user"), s(did % 97),
                F.lit("@mail-"), s(did % 9), F.lit(".co.uk"),
            ),
        ).otherwise(""),
        F.when(
            did % 5 == 0,
            F.concat(F.lit(" tel +44 7"), s(did % 899999999 + 100000000)),
        ).otherwise(""),
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit(" ip "), s(did % 256), F.lit("."), s((did * 7) % 256),
                F.lit("."), s((did * 13) % 256), F.lit("."), s(did % 250 + 1),
            ),
        ).otherwise(""),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("t"), F.lit(_PII_EMAIL), F.lit("<EMAIL>")),
            F.lit(_PII_PHONE), F.lit("<PHONE>"),
        ),
        F.lit(_PII_IP), F.lit("<IP>"),
    )
    sc = d.select("lang", aug.alias("t")).select(
        "lang",
        F.regexp_count("t", F.lit(_PII_EMAIL)).alias("c_email"),
        F.regexp_count("t", F.lit(_PII_PHONE)).alias("c_phone"),
        F.regexp_count("t", F.lit(_PII_IP)).alias("c_ip"),
        (F.length("t") - F.length(scrubbed)).alias("len_saved"),
    )
    return (
        sc.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum((F.col("c_email") > 0).cast("long")).cast("long").alias("n_email_docs"),
            F.sum((F.col("c_phone") > 0).cast("long")).cast("long").alias("n_phone_docs"),
            F.sum((F.col("c_ip") > 0).cast("long")).cast("long").alias("n_ip_docs"),
            F.sum(F.col("c_email") + F.col("c_phone") + F.col("c_ip"))
            .cast("long").alias("total_redactions"),
            F.round(F.avg(F.col("len_saved").cast("double")), 4).alias("avg_len_saved"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# winnowing fingerprints (MOSS-style robust local document fingerprinting)
# ---------------------------------------------------------------------------

_WIN_K = 4  # words per shingle
_WIN_W = 5  # shingles per winnowing window
_WIN_P = 1000003  # polynomial-hash modulus (portable integer arithmetic)

_WIN_B = 131  # word-hash combine multiplier

_WINNOW_SQL = f"""
    WITH d0 AS (
      SELECT doc_id, string_split(text, ' ') AS arr FROM documents
      WHERE len(string_split(text, ' ')) >= {_WIN_K + _WIN_W - 1}),
    wh AS (
      SELECT doc_id,
             list_transform(arr, w ->
               list_reduce(list_prepend(0,
                 list_transform(string_split(w, ''), c -> unicode(c))),
                 (h, c) -> (h * 31 + c) % {_WIN_P})) AS whs
      FROM d0),
    hsx AS (
      SELECT doc_id,
             list_transform(range(1, len(whs) - {_WIN_K - 1} + 1), i ->
               list_reduce(list_slice(whs, i, i + {_WIN_K - 1}),
                 (h, v) -> (h * {_WIN_B} + v) % {_WIN_P})) AS hs
      FROM wh),
    fpx AS (
      SELECT doc_id, len(hs) AS n_shingles,
             list_distinct(list_transform(
               range(1, len(hs) - {_WIN_W - 1} + 1),
               j -> list_min(list_slice(hs, j, j + {_WIN_W - 1})))) AS fps
      FROM hsx),
    e AS (SELECT doc_id, n_shingles, unnest(fps) AS fp FROM fpx),
    s AS (SELECT fp, COUNT(DISTINCT doc_id) AS nd FROM e GROUP BY fp)
    SELECT e.doc_id, CAST(MIN(e.n_shingles) AS BIGINT) AS n_shingles,
           CAST(COUNT(*) AS BIGINT) AS n_fps,
           CAST(COUNT(*) FILTER (WHERE s.nd >= 2) AS BIGINT) AS n_shared_fps
    FROM e JOIN s ON e.fp = s.fp
    GROUP BY e.doc_id ORDER BY e.doc_id
    """


@q("winnowing_fingerprints", oracle=_WINNOW_SQL)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the
    MOSS algorithm): hash every word with a portable polynomial hash,
    combine the k word-hashes of each shingle (h·131 + wh mod p — a
    function of the k words only, so the detection guarantee is
    unchanged), then keep the MINIMUM hash of every w-shingle window —
    the selected fingerprints are position-independent and guarantee that
    any shared run of ≥ w+k-1 words between two documents shares at least
    one fingerprint (the local-fingerprinting detection guarantee MinHash
    does not give). Output: per-doc shingle/fingerprint counts and how
    many of the doc's fingerprints recur in other documents.

    The hash is plain modular integer arithmetic ((h·31 + char) mod p) so
    — unlike the xxhash64 MinHash/SimHash entries — the ENTIRE algorithm
    is oracle-paired: DuckDB recomputes identical fingerprints via
    list_reduce from the same constants.

    Scale shape: shingling, hashing, and window-min selection are all
    in-row higher-order expressions (no UDF, no shuffle; per-row work is
    O(len·k) — the density-reduced fingerprint set is ~n/w per doc); the
    corpus-wide sharing stats are one fp-keyed partial agg plus one
    fp-keyed equi-join back — the same two-shuffle shape as every dedup
    entry here.
    """
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    arr = "split(text, ' ')"
    d0 = docs.where(F.expr(f"size({arr}) >= {_WIN_K + _WIN_W - 1}")).select(
        "doc_id", F.expr(arr).alias("arr")
    )
    # hash each WORD once (explode(array(..)) = Generate barrier, so the
    # char fold is never re-inlined), then combine k word-hashes per
    # shingle — ~5 chars/word of fold work instead of ~25 chars/shingle
    # (the original concat-the-shingle form was the sweep's 300 s outlier
    # at sf0.1: char folds recomputed under CollapseProject on BOTH
    # engines)
    wh = d0.select(
        "doc_id",
        F.explode(
            F.array(
                F.expr(
                    f"transform(arr, w -> aggregate(split(w, ''), 0L,"
                    f" (h, c) -> (h * 31 + ascii(c)) % {_WIN_P}))"
                )
            )
        ).alias("whs"),
    )
    hsx = wh.select(
        "doc_id",
        F.explode(
            F.array(
                F.expr(
                    f"transform(sequence(1, size(whs) - {_WIN_K - 1}), i -> "
                    f"aggregate(slice(whs, i, {_WIN_K}), 0L,"
                    f" (h, v) -> (h * {_WIN_B} + v) % {_WIN_P}))"
                )
            )
        ).alias("hs"),
    )
    fpx = hsx.select(
        "doc_id",
        F.expr("size(hs)").cast("long").alias("n_shingles"),
        F.expr(
            f"array_distinct(transform(sequence(1, size(hs) - {_WIN_W - 1}),"
            f" j -> array_min(slice(hs, j, {_WIN_W}))))"
        ).alias("fps"),
    )
    e = fpx.select("doc_id", "n_shingles", F.explode("fps").alias("fp"))
    s = e.groupBy("fp").agg(F.countDistinct("doc_id").alias("nd"))
    return (
        e.join(s, "fp")
        .groupBy("doc_id")
        .agg(
            F.min("n_shingles").cast("long").alias("n_shingles"),
            F.count("*").cast("long").alias("n_fps"),
            F.sum((F.col("nd") >= 2).cast("long")).cast("long").alias("n_shared_fps"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Efraimidis-Spirakis weighted sampling (deterministic keys)
# ---------------------------------------------------------------------------

_WS_K = 25
_WS_HASH_A = 2654435761  # Knuth multiplicative constant
_WS_HASH_P = 1000003

_WSAMPLE_SQL = f"""
    WITH keyed AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
             POWER(((doc_id * {_WS_HASH_A}) % {_WS_HASH_P})
                     / {_WS_HASH_P}.0e0,
                   1.0e0 / n_chars) AS k
      FROM documents WHERE n_chars > 0)
    SELECT doc_id, weight, ROUND(k, 6) AS sample_key
    FROM keyed
    ORDER BY ROUND(k, 6) DESC, doc_id LIMIT {_WS_K}
    """


@q("weighted_sample_topk", oracle=_WSAMPLE_SQL)
def weighted_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis A-Res):
    each document draws key u^(1/w) — u uniform, w its weight (n_chars as
    the quality/size proxy) — and the top-k keys ARE a weighted sample
    without replacement. The one-pass, merge-friendly way to sample a
    corpus proportional to per-document quality weights (the corpus-
    curation counterpart of `stratified_sample`, which samples by group).

    u comes from a deterministic multiplicative-hash of doc_id
    ((doc_id·2654435761) mod 1000003 / 1000003 — plain integer+double
    arithmetic), so unlike engine-RNG sampling the ENTIRE sample is
    oracle-paired: DuckDB recomputes identical keys and must select the
    identical k documents.

    Scale shape: key assignment is per-row arithmetic in the scan; the
    top-k plans as TakeOrderedAndProject (per-partition partial top-k,
    driver merges k·partitions rows — never a global sort). Keys round to
    6 dp before ranking with doc_id as the total tiebreak, keeping the
    selection stable across engines and partitionings.
    """
    d = t(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    did = F.col("doc_id")
    u = ((did * _WS_HASH_A) % _WS_HASH_P) / float(_WS_HASH_P)
    key = F.round(F.pow(u, 1.0 / F.col("n_chars")), 6)
    return (
        d.select(
            "doc_id",
            F.col("n_chars").cast("long").alias("weight"),
            key.alias("sample_key"),
        )
        .orderBy(F.desc("sample_key"), "doc_id")
        .limit(_WS_K)
    )


# ---------------------------------------------------------------------------
# corpus mixing plan (per-source target proportions)
# ---------------------------------------------------------------------------

_MIX_SQL = f"""
    WITH w0 AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(substring(source, 4) AS BIGINT) + 1 AS raw_w
      FROM documents GROUP BY source),
    w AS (SELECT source, n_docs,
                 raw_w / CAST(SUM(raw_w) OVER () AS DOUBLE) AS target_w
          FROM w0),
    t AS (SELECT MIN(n_docs / target_w) AS cap FROM w),
    plan AS (
      SELECT source, n_docs, target_w,
             CAST(floor(target_w * cap) AS BIGINT) AS k_sel
      FROM w, t)
    SELECT source, n_docs, ROUND(target_w, 6) AS target_w, k_sel,
           ROUND(k_sel / CAST(SUM(k_sel) OVER () AS DOUBLE), 6)
             AS achieved_share,
           ROUND(k_sel / CAST(n_docs AS DOUBLE), 6) AS keep_rate
    FROM plan ORDER BY source
    """


@q("corpus_mix_plan", oracle=_MIX_SQL)
def corpus_mix_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-corpus mixing plan (the DoReMi/Pile-style static data-mix
    stage): given target proportions per source (here w_s ∝ source index,
    normalized to sum 1), compute the largest corpus achievable WITHOUT
    upsampling — cap = min_s(n_s / w_s) — and each source's selected
    count floor(w_s·cap), achieved share, and keep rate. The plan is what
    a 10^12-doc pipeline computes BEFORE the sampling pass (the pass
    itself is then a per-source hash-gate filter at the planned keep
    rate — see `weighted_sample_topk` for the deterministic-key
    machinery).

    Scale shape: one source-keyed partial agg (|sources| rows out), the
    feasibility cap is a scalar over that post-agg relation, and the
    share window runs over |sources| rows — nothing after the first agg
    touches raw data. Broadcast-scale throughout.
    """
    d = t(spark, sf_dir, "documents")
    w = d.groupBy("source").agg(F.count("*").cast("long").alias("n_docs"))
    w = w.withColumn(
        "raw_w", F.substring("source", 4, 10).cast("long") + 1
    ).withColumn(
        "target_w",
        F.col("raw_w")
        / F.sum("raw_w").over(Window.partitionBy()).cast("double"),
    ).drop("raw_w")
    cap = w.select(
        F.min(F.col("n_docs") / F.col("target_w")).alias("cap")
    )
    plan = w.crossJoin(F.broadcast(cap)).withColumn(
        "k_sel", F.floor(F.col("target_w") * F.col("cap")).cast("long")
    )
    win = Window.partitionBy()
    return plan.select(
        "source",
        "n_docs",
        F.round("target_w", 6).alias("target_w"),
        "k_sel",
        F.round(
            F.col("k_sel") / F.sum("k_sel").over(win).cast("double"), 6
        ).alias("achieved_share"),
        F.round(F.col("k_sel") / F.col("n_docs").cast("double"), 6).alias(
            "keep_rate"
        ),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# leakage-safe group-aware train/val/test split
# ---------------------------------------------------------------------------

_SPLIT_A = 1103515245  # LCG multiplier — portable integer arithmetic
_SPLIT_P = 999983

_SPLIT_SQL = f"""
    WITH d AS (
      SELECT doc_id, lang, source,
             ((CAST(substring(source, 4) AS BIGINT) * {_SPLIT_A} + 12345)
              % {_SPLIT_P}) % 10 AS bucket
      FROM documents),
    lab AS (
      SELECT lang, source,
             CASE WHEN bucket < 8 THEN 'train'
                  WHEN bucket = 8 THEN 'val'
                  ELSE 'test' END AS split
      FROM d)
    SELECT split, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
    FROM lab GROUP BY split, lang ORDER BY split, lang
    """


@q("leakage_safe_split", oracle=_SPLIT_SQL)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware train/val/test split (the decontamination-grade ML
    split): the split key is a deterministic hash of the GROUP (source),
    not the row, so every document from one source lands in exactly one
    split — near-duplicates and templated pages inside a source can never
    straddle train/test (the leakage mode row-level random splits cause).
    80/10/10 by hash bucket; output is the split × lang census with the
    per-split source counts.

    Determinism is the operational property: the same source hashes to
    the same split on every run, every engine, every scale — re-crawls
    append to the SAME split (append-stable splits, no reshuffling as the
    corpus grows), and the DuckDB oracle reproduces the assignment
    exactly (plain LCG integer arithmetic, no engine RNG).

    Scale shape: the split label is per-row arithmetic in the scan; the
    census is ONE partial-agg shuffle on (split, lang). The split itself
    adds NO shuffle to whatever pipeline it feeds — it's a derived
    column, not a repartition.
    """
    d = t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    bucket = (
        (F.substring("source", 4, 10).cast("long") * _SPLIT_A + 12345)
        % _SPLIT_P
    ) % 10
    split = (
        F.when(bucket < 8, F.lit("train"))
        .when(bucket == 8, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        d.select(split.alias("split"), "lang", "source")
        .groupBy("split", "lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("source").cast("long").alias("n_sources"),
        )
        .orderBy("split", "lang")
    )


# ---------------------------------------------------------------------------
# small-files compaction plan (per-partition streaming bin-pack)
# ---------------------------------------------------------------------------

_COMPACT_TARGET = 40  # target bin size (proxy units = row counts)

_COMPACT_SQL = f"""
    WITH files AS (
      SELECT event_id % 7 AS part, event_id % 173 AS file_id,
             CAST(COUNT(*) AS BIGINT) AS size_u
      FROM events GROUP BY part, file_id),
    binned AS (
      SELECT part, file_id, size_u,
             CAST(FLOOR((SUM(size_u) OVER (PARTITION BY part
                                           ORDER BY file_id) - size_u)
                        / {_COMPACT_TARGET}.0e0) AS BIGINT) AS bin
      FROM files)
    SELECT part, bin,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(size_u) AS BIGINT) AS bin_size
    FROM binned GROUP BY part, bin ORDER BY part, bin
    """


@q("compaction_bin_plan", oracle=_COMPACT_SQL)
def compaction_bin_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction planning (the Iceberg
    `rewrite_data_files` / OPTIMIZE bin-packing stage — the maintenance
    job every 10^12-row table needs or scans drown in file-open
    overhead): per table partition, files stream in key order into bins
    by cumulative size — `bin = floor(size_before / target)` — the
    deterministic streaming bin-pack (first-fit in sorted order), then
    the plan reports each output bin's file count and size.

    Scale shape: file metadata (NOT data) is the input — one partial agg
    builds the per-file sizes, the cum-sum window is keyed by TABLE
    PARTITION (the natural compaction unit — bins never span partitions,
    so the window never collapses to one task), and the plan output is
    O(bins). The rewrite this plan drives then touches each input file
    exactly once.
    """
    ev = t(spark, sf_dir, "events").select("event_id")
    files = (
        ev.groupBy(
            (F.col("event_id") % 7).alias("part"),
            (F.col("event_id") % 173).alias("file_id"),
        )
        .agg(F.count("*").cast("long").alias("size_u"))
    )
    w = Window.partitionBy("part").orderBy("file_id")
    binned = files.select(
        "part",
        "file_id",
        "size_u",
        F.floor(
            (F.sum("size_u").over(w) - F.col("size_u"))
            / float(_COMPACT_TARGET)
        ).cast("long").alias("bin"),
    )
    return (
        binned.groupBy("part", "bin")
        .agg(
            F.count("*").cast("long").alias("n_files"),
            F.sum("size_u").cast("long").alias("bin_size"),
        )
        .orderBy("part", "bin")
    )


# ---------------------------------------------------------------------------
# zone-map pruning effectiveness (clustered vs scattered layout)
# ---------------------------------------------------------------------------

_ZM_FILES = 50
_ZM_LO, _ZM_HI = 200, 240  # range predicate on n_chars

_ZONEMAP_SQL = f"""
    WITH d AS (
      SELECT doc_id, n_chars,
             ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS rnk,
             COUNT(*) OVER () AS n
      FROM documents),
    assigned AS (
      SELECT 'clustered' AS layout,
             CAST(FLOOR((rnk - 1) * {_ZM_FILES} / CAST(n AS DOUBLE))
                  AS BIGINT) AS file_id,
             n_chars
      FROM d
      UNION ALL
      SELECT 'scattered', doc_id % {_ZM_FILES}, n_chars FROM d),
    zones AS (
      SELECT layout, file_id,
             MIN(n_chars) AS zmin, MAX(n_chars) AS zmax
      FROM assigned GROUP BY layout, file_id)
    SELECT layout, CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(CASE WHEN zmax < {_ZM_LO} OR zmin > {_ZM_HI}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_pruned,
           ROUND(SUM(CASE WHEN zmax < {_ZM_LO} OR zmin > {_ZM_HI}
                          THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 4) AS pruned_pct
    FROM zones GROUP BY layout ORDER BY layout
    """


@q("zonemap_prune_audit", oracle=_ZONEMAP_SQL)
def zonemap_prune_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (parquet min/max) pruning effectiveness audit: the same
    rows written under two layouts — CLUSTERED (sorted by the predicate
    column at write time, each file takes a contiguous value slice) vs
    SCATTERED (hash placement) — then a range predicate is tested
    against each file's min/max zone. Clustered layouts prune almost
    every file; scattered layouts prune none: THE quantified argument
    for sort-order/Z-order table maintenance at 100 TB, where a pruned
    file is IO that never happens (`geohash`/`quadkey` docstrings claim
    this property — this query measures it).

    Scale shape: zone construction is one (layout, file) partial agg;
    the audit output is O(files). The global rank that builds the
    clustered layout stands in for the write-time sort (at production
    scale that's the range-partitioned write — `value_deciles`' ranking
    machinery — not a query-time window; documented, and the relation
    here is the post-scan document set, not raw events).
    """
    d = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    n = d.count()
    w = Window.orderBy("n_chars", "doc_id")
    clustered = d.select(
        F.lit("clustered").alias("layout"),
        F.floor(
            (F.row_number().over(w) - 1) * _ZM_FILES / float(n)
        ).cast("long").alias("file_id"),
        "n_chars",
    )
    scattered = d.select(
        F.lit("scattered").alias("layout"),
        (F.col("doc_id") % _ZM_FILES).alias("file_id"),
        "n_chars",
    )
    zones = (
        clustered.unionAll(scattered)
        .groupBy("layout", "file_id")
        .agg(F.min("n_chars").alias("zmin"), F.max("n_chars").alias("zmax"))
    )
    pruned = ((F.col("zmax") < _ZM_LO) | (F.col("zmin") > _ZM_HI)).cast("long")
    return (
        zones.groupBy("layout")
        .agg(
            F.count("*").cast("long").alias("n_files"),
            F.sum(pruned).cast("long").alias("n_pruned"),
            F.round(F.sum(pruned) / F.count("*").cast("double"), 4).alias(
                "pruned_pct"
            ),
        )
        .orderBy("layout")
    )


# ---------------------------------------------------------------------------
# exact duplicated-substring span dedup (Lee et al. ExactSubstr shape)
# ---------------------------------------------------------------------------

_SPAN_K = 8  # gram width in words; spans are maximal unions of overlapping
# duplicated grams, so the removable region is position-exact (unlike
# line_dedup_stats' fixed non-overlapping lines)

_DUP_SPAN_SQL = f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
         e AS (SELECT doc_id, arr, len(arr) AS nw FROM w
               WHERE len(arr) >= {_SPAN_K}),
         g AS (SELECT doc_id, k AS pos,
                      array_to_string(
                        list_slice(arr, k + 1, k + {_SPAN_K}), ' ') AS gram
               FROM e, UNNEST(range(nw - {_SPAN_K} + 1)) AS t(k)),
         dup AS (SELECT gram FROM g GROUP BY gram
                 HAVING COUNT(DISTINCT doc_id) >= 2),
         hits AS (SELECT doc_id, pos FROM g JOIN dup USING (gram)),
         brk AS (SELECT doc_id, pos,
                        CASE WHEN pos - LAG(pos) OVER
                               (PARTITION BY doc_id ORDER BY pos)
                             <= {_SPAN_K} THEN 0 ELSE 1 END AS is_new
                 FROM hits),
         isl AS (SELECT doc_id, pos,
                        SUM(is_new) OVER
                          (PARTITION BY doc_id ORDER BY pos) AS island
                 FROM brk),
         spans AS (SELECT doc_id, island,
                          MAX(pos) - MIN(pos) + {_SPAN_K} AS span_words
                   FROM isl GROUP BY doc_id, island),
         per_doc AS (SELECT doc_id, COUNT(*) AS n_spans,
                            SUM(span_words) AS covered
                     FROM spans GROUP BY doc_id)
    SELECT e.doc_id,
           CAST(e.nw AS BIGINT) AS n_words,
           CAST(COALESCE(p.n_spans, 0) AS BIGINT) AS n_spans,
           CAST(COALESCE(p.covered, 0) AS BIGINT) AS covered_words,
           ROUND(COALESCE(p.covered, 0) / e.nw, 4) AS dup_coverage
    FROM e LEFT JOIN per_doc p USING (doc_id)
    ORDER BY e.doc_id
    """


@q("dup_span_stats", oracle=_DUP_SPAN_SQL)
def dup_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring span dedup (the Lee et al. 2022
    "Deduplicating Training Data" ExactSubstr shape, at word granularity):
    every overlapping 8-word gram occurring in >= 2 distinct documents
    marks its positions duplicated; overlapping/adjacent duplicated grams
    merge into maximal spans (the removable regions). Per document: word
    count, span count, covered word count, coverage ratio.

    Extends ``line_dedup_stats`` (fixed non-overlapping 8-word lines —
    reference keyword-mining A13/A14 explode shape, power_user_queries.sql)
    to position-exact overlapping grams: the real substring-dedup
    algorithm, where a duplicated region is found wherever it starts.

    Scale shape: ONE explode (n_words grams/doc) materialized once via
    the session cut knob (the gram stream is the dominant relation — at
    corpus scale it is several times the corpus bytes, and its two
    consumers must not regenerate it); dup-gram set via partial-agg
    MIN/MAX(doc_id) on the gram key (16-byte state, map-side combine
    collapses boilerplate hot grams to one row per partition — strictly
    lighter than count-distinct's (gram, doc_id)-keyed first phase, and
    min != max IS "occurs in >= 2 distinct docs"); equi-join back
    (AQE skew-join splits hot-gram probe partitions — the reason this
    stays a join rather than a gram-partitioned window, whose hot-gram
    group would be one unsplittable straggler task); then the span
    merge is a PER-DOC window (lag + running sum island detection) —
    partitioned by doc_id, never global. Because all grams share width k,
    sorted starts have sorted ends, so islands need only lag(pos), not a
    running cummax. At 10^12 docs the gram string is replaced by an
    8-byte hash with an identical plan (``winnowing_fingerprints`` ships
    that hashed path); the text-gram key here lets DuckDB mirror the join
    byte-for-byte.
    """
    k = _SPAN_K
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("arr")
    )
    e = docs.withColumn("nw", F.size("arr")).filter(F.col("nw") >= k)
    g = e.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, nw - {k}), "
                f"i -> array_join(slice(arr, i + 1, {k}), ' '))"
            )
        ).alias("pos", "gram"),
    ).transform(cut)
    dup = (
        g.groupBy("gram")
        .agg(F.min("doc_id").alias("d0"), F.max("doc_id").alias("d1"))
        .filter(F.col("d0") != F.col("d1"))
        .select("gram")
    )
    hits = g.join(dup, "gram").select("doc_id", "pos")
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    brk = hits.withColumn(
        "is_new",
        F.when(F.col("pos") - F.lag("pos").over(w_doc) <= k, F.lit(0))
        .otherwise(F.lit(1)),
    )
    isl = brk.withColumn(
        "island",
        F.sum("is_new").over(
            w_doc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    spans = isl.groupBy("doc_id", "island").agg(
        (F.max("pos") - F.min("pos") + k).alias("span_words")
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"), F.sum("span_words").alias("covered")
    )
    return (
        e.select("doc_id", "nw")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.col("nw").cast("long").alias("n_words"),
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("covered", F.lit(0)).cast("long").alias("covered_words"),
            F.round(
                F.coalesce("covered", F.lit(0)) / F.col("nw").cast("double"), 4
            ).alias("dup_coverage"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# column-encoding advisor (RLE vs dictionary vs plain, per column)
# ---------------------------------------------------------------------------

_ENC_ROWS_PER_FILE = 1000  # runs never cross file boundaries, exactly as in
# a real columnar layout — and it keeps run detection a PER-FILE window

_ENC_SQL = f"""
    WITH f AS (SELECT event_id // {_ENC_ROWS_PER_FILE} AS file_id,
                      event_id, event_type, user_id, props
               FROM events),
         per_col AS (
           SELECT 'event_type' AS col_name,
                  CAST(LENGTH(event_type) AS BIGINT) AS width,
                  file_id, event_id,
                  event_type AS v FROM f
           UNION ALL
           SELECT 'user_id', 8, file_id, event_id, CAST(user_id AS VARCHAR)
           FROM f
           UNION ALL
           SELECT 'props', CAST(LENGTH(props) AS BIGINT), file_id, event_id,
                  props FROM f),
         runs AS (SELECT col_name, width, v,
                         CASE WHEN v = LAG(v) OVER
                                (PARTITION BY col_name, file_id
                                 ORDER BY event_id)
                              THEN 0 ELSE 1 END AS is_run_start
                  FROM per_col),
         stats AS (SELECT col_name,
                          CAST(COUNT(*) AS BIGINT) AS n,
                          CAST(COUNT(DISTINCT v) AS BIGINT) AS n_distinct,
                          CAST(SUM(is_run_start) AS BIGINT) AS n_runs,
                          CAST(SUM(width) AS BIGINT) AS plain_bytes,
                          CAST(SUM(is_run_start * (width + 4)) AS BIGINT)
                            AS rle_bytes
                   FROM runs GROUP BY col_name),
         dict_w AS (SELECT col_name,
                           CAST(SUM(LENGTH(v)) AS BIGINT) AS dict_entry_bytes
                    FROM (SELECT DISTINCT col_name, v FROM per_col)
                    GROUP BY col_name)
    SELECT s.col_name, s.n, s.n_distinct, s.n_runs, s.plain_bytes,
           s.rle_bytes,
           d.dict_entry_bytes
             + s.n * (CASE WHEN s.n_distinct <= 256 THEN 1
                           WHEN s.n_distinct <= 65536 THEN 2
                           ELSE 4 END) AS dict_bytes,
           CASE WHEN s.rle_bytes <= s.plain_bytes
                 AND s.rle_bytes <= d.dict_entry_bytes
                       + s.n * (CASE WHEN s.n_distinct <= 256 THEN 1
                                     WHEN s.n_distinct <= 65536 THEN 2
                                     ELSE 4 END)
                THEN 'rle'
                WHEN d.dict_entry_bytes
                       + s.n * (CASE WHEN s.n_distinct <= 256 THEN 1
                                     WHEN s.n_distinct <= 65536 THEN 2
                                     ELSE 4 END) <= s.plain_bytes
                THEN 'dict'
                ELSE 'plain' END AS best_encoding
    FROM stats s JOIN dict_w d USING (col_name)
    ORDER BY s.col_name
    """


@q("encoding_advisor", oracle=_ENC_SQL)
def encoding_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-encoding advisor: per column, estimate encoded sizes under
    plain, run-length, and dictionary encodings from exact layout stats
    (run counts within 1000-row files, distinct counts, value widths) and
    pick the smallest — the decision a lakehouse table optimizer makes
    per column per rewrite (completes the layout-tuning family with
    ``compaction_bin_plan`` and ``zonemap_prune_audit``).

    Scale shape: run detection is a window PARTITIONED BY (column,
    file_id) — runs never cross file boundaries, exactly as in a real
    columnar format, so no global sort exists; the size roll-up is one
    partial agg. All arithmetic integer-exact on both engines.
    """
    n_file = _ENC_ROWS_PER_FILE
    f = t(spark, sf_dir, "events").select(
        (F.col("event_id") / n_file).cast("long").alias("file_id"),
        "event_id",
        "event_type",
        "user_id",
        "props",
    )
    per_col = (
        f.select(
            F.lit("event_type").alias("col_name"),
            F.length("event_type").cast("long").alias("width"),
            "file_id",
            "event_id",
            F.col("event_type").alias("v"),
        )
        .unionAll(
            f.select(
                F.lit("user_id"),
                F.lit(8).cast("long"),
                "file_id",
                "event_id",
                F.col("user_id").cast("string"),
            )
        )
        .unionAll(
            f.select(
                F.lit("props"),
                F.length("props").cast("long"),
                "file_id",
                "event_id",
                "props",
            )
        )
    )
    w = Window.partitionBy("col_name", "file_id").orderBy("event_id")
    runs = per_col.withColumn(
        "is_run_start",
        F.when(F.col("v") == F.lag("v").over(w), F.lit(0)).otherwise(F.lit(1)),
    )
    stats = runs.groupBy("col_name").agg(
        F.count("*").cast("long").alias("n"),
        F.countDistinct("v").cast("long").alias("n_distinct"),
        F.sum("is_run_start").cast("long").alias("n_runs"),
        F.sum("width").cast("long").alias("plain_bytes"),
        F.sum(F.col("is_run_start") * (F.col("width") + 4))
        .cast("long")
        .alias("rle_bytes"),
    )
    dict_w = (
        per_col.select("col_name", "v")
        .distinct()
        .groupBy("col_name")
        .agg(F.sum(F.length("v")).cast("long").alias("dict_entry_bytes"))
    )
    code_bytes = (
        F.when(F.col("n_distinct") <= 256, 1)
        .when(F.col("n_distinct") <= 65536, 2)
        .otherwise(4)
    )
    joined = stats.join(dict_w, "col_name").withColumn(
        "dict_bytes",
        (F.col("dict_entry_bytes") + F.col("n") * code_bytes).cast("long"),
    )
    best = (
        F.when(
            (F.col("rle_bytes") <= F.col("plain_bytes"))
            & (F.col("rle_bytes") <= F.col("dict_bytes")),
            F.lit("rle"),
        )
        .when(F.col("dict_bytes") <= F.col("plain_bytes"), F.lit("dict"))
        .otherwise(F.lit("plain"))
    )
    return joined.select(
        "col_name",
        "n",
        "n_distinct",
        "n_runs",
        "plain_bytes",
        "rle_bytes",
        "dict_bytes",
        best.alias("best_encoding"),
    ).orderBy("col_name")


# ---------------------------------------------------------------------------
# skyline / Pareto front (minimize price, maximize size)
# ---------------------------------------------------------------------------

_SKY_BUCKET = 256  # cents per price bucket: the two-phase prefix-max never
# sorts raw rows globally — in-bucket windows are bounded by rows/bucket,
# the bucket-level window by the bucket count


_SKYLINE_SQL = """
    WITH pts AS (SELECT p_partkey,
                        CAST(FLOOR(p_retailprice * 100.0e0 + 5.0e-1)
                             AS BIGINT) AS x,
                        CAST(p_size AS BIGINT) AS y
                 FROM part),
         gx AS (SELECT x, MAX(y) AS ymax FROM pts GROUP BY x),
         m AS (SELECT x, ymax,
                      MAX(ymax) OVER (ORDER BY x
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND 1 PRECEDING) AS m1
               FROM gx),
         sky_x AS (SELECT x, ymax FROM m
                   WHERE m1 IS NULL OR ymax > m1)
    SELECT p.p_partkey, p.x AS price_cents, p.y AS size
    FROM pts p JOIN sky_x s ON p.x = s.x AND p.y = s.ymax
    ORDER BY p.x, p.p_partkey
    """


@q("skyline_pareto_front", oracle=_SKYLINE_SQL)
def skyline_pareto_front(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto front) query: parts not dominated on (price low,
    size high) — part j dominates i if it is no worse on both axes and
    strictly better on one. The classic multi-criteria OLAP operator
    (Borzsony/Kossmann/Stocker 2001) the registry lacked.

    Dominance resolves through two prefix maxima over distinct prices:
    a group survives iff its max size strictly exceeds the best size at
    any strictly cheaper price (M1), and within the group only max-size
    points survive (equal-(x,y) duplicates all survive — nothing strictly
    dominates them).

    Scale shape: the Spark side computes M1 WITHOUT a global window —
    prices hash into fixed-width buckets; per-bucket maxima (one partial
    agg) feed a bucket-level running max over the BOUNDED bucket list,
    and in-bucket running maxima are windows PARTITIONED by bucket (the
    ``analytics/ranking.py`` range-bucket + offsets design). The oracle
    states the same skyline with the naive global window, proving the
    bucketed rewrite exact. Join back to points is an equi-join on
    (price, max-size). Integer cents/sizes — no float comparisons.
    """
    w_bkt = _SKY_BUCKET
    pts = t(spark, sf_dir, "part").select(
        "p_partkey",
        F.floor(F.col("p_retailprice") * 100.0 + 0.5)
        .cast("long")
        .alias("x"),
        F.col("p_size").cast("long").alias("y"),
    )
    gx = pts.groupBy("x").agg(F.max("y").alias("ymax")).withColumn(
        "b", F.expr(f"x div {w_bkt}")
    )
    bmax = gx.groupBy("b").agg(F.max("ymax").alias("bmax"))
    wb = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    bpre = bmax.withColumn("bpre", F.max("bmax").over(wb)).select("b", "bpre")
    wi = (
        Window.partitionBy("b")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    m = (
        gx.withColumn("run1", F.max("ymax").over(wi))
        .join(F.broadcast(bpre), "b")
        .withColumn(
            "m1",
            F.greatest(
                F.coalesce("bpre", F.lit(-1)), F.coalesce("run1", F.lit(-1))
            ),
        )
    )
    sky_x = m.filter(F.col("ymax") > F.col("m1")).select(
        F.col("x").alias("sx"), F.col("ymax").alias("sy")
    )
    return (
        pts.join(
            F.broadcast(sky_x),
            (F.col("x") == F.col("sx")) & (F.col("y") == F.col("sy")),
        )
        .select(
            "p_partkey",
            F.col("x").alias("price_cents"),
            F.col("y").alias("size"),
        )
        .orderBy("price_cents", "p_partkey")
    )


# ---------------------------------------------------------------------------
# GROUPING SETS with a custom set list (neither CUBE nor ROLLUP)
# ---------------------------------------------------------------------------

_GSETS_SQL = """
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus)
                AS BIGINT) AS gid,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                            (l_returnflag), (l_linestatus))
    ORDER BY gid, returnflag, linestatus
    """


@q("grouping_sets_report", oracle=_GSETS_SQL)
def grouping_sets_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS with a CUSTOM set list — (flag, status), (flag),
    (status) — which neither CUBE (would add the grand total) nor ROLLUP
    (cannot produce the (status)-only margin) expresses; GROUPING() bits
    disambiguate a margin row from a genuine NULL key. Completes the
    grouping-set family beside ``orders_status_cube`` and
    ``revenue_rollup``.

    Scale shape: ONE Expand (3 replicas per row — exactly the set count)
    feeding one partial-agg shuffle; Catalyst plans the identical Expand
    for the SQL form and the DataFrame form. Margins aggregate in the
    same pass — no second scan per set.
    """
    li = t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("_gsets_lineitem")
    return spark.sql(_GSETS_SQL.replace("FROM lineitem", "FROM _gsets_lineitem"))


# ---------------------------------------------------------------------------
# n-gram novelty decay across crawl batches (corpus saturation curve)
# ---------------------------------------------------------------------------

_NOV_SQL = """
    WITH w AS (SELECT doc_id, doc_id % 10 AS day,
                      string_split(text, ' ') AS arr
               FROM documents),
         g AS (SELECT day,
                      array_to_string(list_slice(arr, k + 1, k + 3), ' ')
                        AS gram
               FROM w, UNNEST(range(len(arr) - 2)) AS t(k)
               WHERE len(arr) >= 3),
         fd AS (SELECT gram, CAST(MIN(day) AS BIGINT) AS first_day
                FROM g GROUP BY gram),
         per AS (SELECT g.day,
                        CAST(COUNT(*) AS BIGINT) AS n_occur,
                        CAST(COUNT(DISTINCT g.gram) AS BIGINT) AS n_distinct,
                        CAST(COUNT(DISTINCT g.gram)
                               FILTER (WHERE fd.first_day = g.day)
                             AS BIGINT) AS n_novel
                 FROM g JOIN fd USING (gram) GROUP BY g.day)
    SELECT CAST(day AS BIGINT) AS day, n_occur, n_distinct, n_novel,
           ROUND(n_novel * 1.0e0 / n_distinct, 4) AS novelty_pct
    FROM per ORDER BY day
    """


@q("ngram_novelty_decay", oracle=_NOV_SQL)
def ngram_novelty_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus saturation curve: per crawl batch (doc_id % 10 as the
    deterministic batch stand-in), how many distinct word 3-grams appear
    and what fraction is NOVEL — first seen in that batch, computed from
    each gram's global min batch. Declining novelty is the signal a
    crawl operator uses to decide a source is exhausted (the diminishing-
    returns counterpart of ``zipf_vocab_fit``'s static profile and
    ``user_growth_daily``'s first-seen logic, lifted to corpus content).

    Scale shape: one explode, a gram-keyed partial-agg MIN for first-
    seen, an equi-join back on the gram key, one batch-keyed agg. The
    distinct counts expand to standard two-phase distinct aggregates.
    At 10^12 docs the gram key is an 8-byte hash (``dup_span_stats``
    note); text grams keep the oracle byte-mirrorable here.
    """
    w = t(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 10).alias("day"),
        F.split("text", " ").alias("arr"),
    ).filter(F.size("arr") >= 3)
    g = w.select(
        "day",
        F.explode(
            F.expr(
                "transform(sequence(0, size(arr) - 3), "
                "i -> array_join(slice(arr, i + 1, 3), ' '))"
            )
        ).alias("gram"),
    )
    fd = g.groupBy("gram").agg(F.min("day").cast("long").alias("first_day"))
    per = (
        g.join(fd, "gram")
        .groupBy("day")
        .agg(
            F.count("*").cast("long").alias("n_occur"),
            F.countDistinct("gram").cast("long").alias("n_distinct"),
            F.countDistinct(
                F.when(F.col("first_day") == F.col("day"), F.col("gram"))
            )
            .cast("long")
            .alias("n_novel"),
        )
    )
    return per.select(
        F.col("day").cast("long").alias("day"),
        "n_occur",
        "n_distinct",
        "n_novel",
        F.round(F.col("n_novel") * 1.0 / F.col("n_distinct"), 4).alias(
            "novelty_pct"
        ),
    ).orderBy("day")


# ---------------------------------------------------------------------------
# Z-order vs linear-sort vs scattered layout under a 2D box predicate
# ---------------------------------------------------------------------------

_ZO_FILES = 64
_ZO_QUANT = 2800  # quantizer: 700 000-unit extent / 2800 = 250 < 2^8 cells
# the 2D box predicate being audited (planar units, ~1/8 of each axis)
_ZO_X_LO, _ZO_X_HI = 100000, 180000
_ZO_Y_LO, _ZO_Y_HI = 300000, 380000

# 8-bit x 8-bit morton interleave, unrolled to shared expression text
_ZO_MORTON = " + ".join(
    f"(((bx >> {i}) & 1) << {2 * i + 1}) + (((by >> {i}) & 1) << {2 * i})"
    for i in range(8)
)


def _zorder_sql() -> str:
    from osmgraft.contract import X_EXPR, Y_EXPR

    return f"""
    WITH pts AS (SELECT event_id, {X_EXPR} AS px, {Y_EXPR} AS py
                 FROM events),
    b AS (SELECT event_id, px, py,
                 CAST(FLOOR(px / {_ZO_QUANT}.0e0) AS BIGINT) AS bx,
                 CAST(FLOOR(py / {_ZO_QUANT}.0e0) AS BIGINT) AS by
          FROM pts),
    keyed AS (SELECT event_id, px, py,
                     {_ZO_MORTON} AS zkey, bx AS xkey
              FROM b),
    d AS (SELECT event_id, px, py,
                 ROW_NUMBER() OVER (ORDER BY xkey, event_id) AS xr,
                 ROW_NUMBER() OVER (ORDER BY zkey, event_id) AS zr,
                 COUNT(*) OVER () AS n
          FROM keyed),
    assigned AS (
      SELECT 'linear_x' AS layout,
             CAST(FLOOR((xr - 1) * {_ZO_FILES} / CAST(n AS DOUBLE))
                  AS BIGINT) AS file_id, px, py
      FROM d
      UNION ALL
      SELECT 'zorder',
             CAST(FLOOR((zr - 1) * {_ZO_FILES} / CAST(n AS DOUBLE))
                  AS BIGINT), px, py
      FROM d
      UNION ALL
      SELECT 'scattered', event_id % {_ZO_FILES}, px, py FROM d),
    zones AS (SELECT layout, file_id,
                     MIN(px) AS xmin, MAX(px) AS xmax,
                     MIN(py) AS ymin, MAX(py) AS ymax
              FROM assigned GROUP BY layout, file_id)
    SELECT layout, CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(CASE WHEN xmax < {_ZO_X_LO} OR xmin > {_ZO_X_HI}
                          OR ymax < {_ZO_Y_LO} OR ymin > {_ZO_Y_HI}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_pruned,
           ROUND(SUM(CASE WHEN xmax < {_ZO_X_LO} OR xmin > {_ZO_X_HI}
                           OR ymax < {_ZO_Y_LO} OR ymin > {_ZO_Y_HI}
                          THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 4) AS pruned_pct
    FROM zones GROUP BY layout ORDER BY layout
    """


@q("zorder_prune_audit", oracle=_zorder_sql())
def zorder_prune_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order pruning audit — the 2D extension of
    ``zonemap_prune_audit``: the same points written under THREE layouts
    (linear sort on x; morton/Z-order interleave of 8-bit x/y buckets;
    hash-scattered) and a 2D box predicate tested against each file's
    per-column min/max zones. Linear-x prunes the x slice but every
    surviving file spans all of y; Z-order clusters BOTH dimensions so
    the box hits only the files whose curve section crosses it — the
    measured justification for Z-order table maintenance on spatial
    columns (the claim ``geohash_cell_counts``'s docstring makes, here
    quantified; same bit-interleave, expressed as shared arithmetic
    text on both engines).

    Scale shape: zone construction is one (layout, file) partial agg;
    output is O(files). The rank building each layout stands in for the
    write-time range-partitioned sort (see ``zonemap_prune_audit``).
    """
    from osmgraft.contract import X_EXPR, Y_EXPR

    pts = t(spark, sf_dir, "events").select(
        "event_id",
        F.expr(X_EXPR).alias("px"),
        F.expr(Y_EXPR).alias("py"),
    )
    b = pts.select(
        "event_id",
        "px",
        "py",
        F.expr(f"CAST(FLOOR(px / {_ZO_QUANT}.0e0) AS BIGINT)").alias("bx"),
        F.expr(f"CAST(FLOOR(py / {_ZO_QUANT}.0e0) AS BIGINT)").alias("by"),
    )
    keyed = b.select(
        "event_id",
        "px",
        "py",
        F.expr(_ZO_MORTON).alias("zkey"),
        F.col("bx").alias("xkey"),
    )
    d = keyed.select(
        "event_id",
        "px",
        "py",
        F.row_number().over(Window.orderBy("xkey", "event_id")).alias("xr"),
        F.row_number().over(Window.orderBy("zkey", "event_id")).alias("zr"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    nf = _ZO_FILES
    assigned = (
        d.select(
            F.lit("linear_x").alias("layout"),
            F.floor((F.col("xr") - 1) * nf / F.col("n").cast("double"))
            .cast("long")
            .alias("file_id"),
            "px",
            "py",
        )
        .unionAll(
            d.select(
                F.lit("zorder"),
                F.floor((F.col("zr") - 1) * nf / F.col("n").cast("double"))
                .cast("long"),
                "px",
                "py",
            )
        )
        .unionAll(
            d.select(
                F.lit("scattered"),
                (F.col("event_id") % nf).cast("long"),
                "px",
                "py",
            )
        )
    )
    zones = assigned.groupBy("layout", "file_id").agg(
        F.min("px").alias("xmin"),
        F.max("px").alias("xmax"),
        F.min("py").alias("ymin"),
        F.max("py").alias("ymax"),
    )
    pruned = (
        (F.col("xmax") < _ZO_X_LO)
        | (F.col("xmin") > _ZO_X_HI)
        | (F.col("ymax") < _ZO_Y_LO)
        | (F.col("ymin") > _ZO_Y_HI)
    ).cast("long")
    return (
        zones.groupBy("layout")
        .agg(
            F.count("*").cast("long").alias("n_files"),
            F.sum(pruned).cast("long").alias("n_pruned"),
            F.round(
                F.sum(pruned) / F.count("*").cast("double"), 4
            ).alias("pruned_pct"),
        )
        .orderBy("layout")
    )


# ---------------------------------------------------------------------------
# classifier calibration audit (reliability bins + ECE)
# ---------------------------------------------------------------------------

# deterministic score in [0,1) correlated with the label, with injected
# miscalibration in the upper bins (score inflated vs true rate)
_CAL_SCORE = "((n_chars % 400) + (doc_id % 97)) / 500.0e0"
_CAL_LABEL = (
    "CASE WHEN (n_chars % 400) * 3 + (doc_id % 89) * 2 > 650"
    " THEN 1 ELSE 0 END"
)

_CAL_SQL = f"""
    WITH s AS (SELECT doc_id,
                      {_CAL_SCORE} AS score,
                      CAST({_CAL_LABEL} AS BIGINT) AS label
               FROM documents),
    b AS (SELECT CAST(LEAST(FLOOR(score * 10.0e0), 9) AS BIGINT) AS bin,
                 CAST(FLOOR(score * 1000000.0e0 + 5.0e-1) AS BIGINT) AS su,
                 label
          FROM s),
    per AS (SELECT bin,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   ROUND(SUM(su) * 1.0e0 / COUNT(*) / 1000000.0e0, 6)
                     AS mean_score,
                   ROUND(SUM(label) * 1.0e0 / COUNT(*), 6) AS pos_rate
            FROM b GROUP BY bin),
    gap AS (SELECT bin, n, mean_score, pos_rate,
                   ROUND(ABS(mean_score - pos_rate), 6) AS cal_gap,
                   CAST(FLOOR(ABS(mean_score - pos_rate) * n
                              * 1000000.0e0 + 5.0e-1) AS BIGINT) AS gu
            FROM per)
    SELECT bin, n, mean_score, pos_rate, cal_gap,
           ROUND(SUM(gu) OVER () * 1.0e0
                 / (SUM(n) OVER ()) / 1000000.0e0, 6) AS ece
    FROM gap ORDER BY bin
    """


@q("calibration_bins", oracle=_CAL_SQL)
def calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier calibration audit: a deterministic quality score in
    [0,1) against its binary label across 10 reliability bins — per bin
    the mean predicted score vs the observed positive rate, the
    calibration gap, and the expected calibration error (ECE) repeated
    on every row — the reliability-diagram check a training pipeline
    runs on its quality/toxicity filter before trusting its thresholds
    (``quality_filter_cascade``'s scores are consumed as if calibrated;
    this measures whether they are).

    Exactness: scores scale to integer micro-units before any cross-row
    SUM (the power-sum discipline), labels are integers, each division
    happens once per bin; the ECE window runs over the 10 bin rows.

    Scale shape: one partial-agg shuffle on the bin key; the windowed
    ECE is over bins, not rows.
    """
    s = t(spark, sf_dir, "documents").select(
        F.expr(_CAL_SCORE).alias("score"),
        F.expr(_CAL_LABEL).cast("long").alias("label"),
    )
    b = s.select(
        F.least(F.floor(F.col("score") * 10.0), F.lit(9))
        .cast("long")
        .alias("bin"),
        F.floor(F.col("score") * 1000000.0 + 0.5).cast("long").alias("su"),
        "label",
    )
    per = b.groupBy("bin").agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.sum("su") * 1.0 / F.count("*") / 1000000.0, 6).alias(
            "mean_score"
        ),
        F.round(F.sum("label") * 1.0 / F.count("*"), 6).alias("pos_rate"),
    )
    gap = per.select(
        "bin",
        "n",
        "mean_score",
        "pos_rate",
        F.round(F.abs(F.col("mean_score") - F.col("pos_rate")), 6).alias(
            "cal_gap"
        ),
        F.floor(
            F.abs(F.col("mean_score") - F.col("pos_rate"))
            * F.col("n")
            * 1000000.0
            + 0.5
        )
        .cast("long")
        .alias("gu"),
    )
    w = Window.partitionBy()
    return gap.select(
        "bin",
        "n",
        "mean_score",
        "pos_rate",
        "cal_gap",
        F.round(
            F.sum("gu").over(w) * 1.0 / F.sum("n").over(w) / 1000000.0, 6
        ).alias("ece"),
    ).orderBy("bin")


# ---------------------------------------------------------------------------
# leave-one-out target encoding (leakage-safe categorical feature)
# ---------------------------------------------------------------------------

_TE_SMOOTH = 10  # prior pseudo-count
_TE_SAMPLE = 37  # deterministic output sample: event_id % 37 == 0

_TE_SQL = f"""
    WITH e AS (SELECT event_id, event_type,
                      CAST(FLOOR(value * 1000000.0e0 + 5.0e-1) AS BIGINT)
                        AS vu
               FROM events),
    cat AS (SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_cat,
                   SUM(vu) AS s_cat
            FROM e GROUP BY event_type),
    g AS (SELECT SUM(vu) AS s_all, CAST(COUNT(*) AS BIGINT) AS n_all
          FROM e)
    SELECT e.event_id, e.event_type,
           ROUND((c.s_cat - e.vu
                  + {_TE_SMOOTH} * (g.s_all * 1.0e0 / g.n_all))
                 / (c.n_cat - 1 + {_TE_SMOOTH}) / 1000000.0e0, 6)
             AS loo_encoding
    FROM e JOIN cat c USING (event_type) CROSS JOIN g
    WHERE e.event_id % {_TE_SAMPLE} = 0
    ORDER BY e.event_id
    """


@q("target_encoding_loo", oracle=_TE_SQL)
def target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding with additive smoothing: each row's
    categorical feature becomes the mean target of its category computed
    WITHOUT the row itself ((sum_cat - own) / (n_cat - 1)), shrunk
    toward the global prior by 10 pseudo-counts — the leakage-safe
    categorical encoder every tabular training pipeline ships (a plain
    category mean leaks each row's own label into its feature;
    ``leakage_safe_split`` guards split leakage, this guards feature
    leakage). Output is a deterministic 1-in-37 row sample.

    Exactness: targets scale to integer micro-units so the category and
    global sums are exact; subtracting the own value stays integer; the
    single float division per row is identical expression text on both
    engines.

    Scale shape: one partial-agg shuffle builds the (small) category
    table, broadcast back over the fact rows; the global prior is a
    1-row broadcast. Per-row arithmetic only — no window, no self-join.
    """
    e = t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 1000000.0 + 0.5).cast("long").alias("vu"),
    )
    cat = e.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_cat"),
        F.sum("vu").alias("s_cat"),
    )
    g = e.agg(
        F.sum("vu").alias("s_all"), F.count("*").cast("long").alias("n_all")
    )
    return (
        e.join(F.broadcast(cat), "event_type")
        .crossJoin(F.broadcast(g))
        .filter(F.col("event_id") % _TE_SAMPLE == 0)
        .select(
            "event_id",
            "event_type",
            F.round(
                (
                    F.col("s_cat")
                    - F.col("vu")
                    + _TE_SMOOTH
                    * (F.col("s_all") * 1.0 / F.col("n_all"))
                )
                / (F.col("n_cat") - 1 + _TE_SMOOTH)
                / 1000000.0,
                6,
            ).alias("loo_encoding"),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# MERGE / upsert apply (lakehouse CDC write path, relationally expressed)
# ---------------------------------------------------------------------------

_MERGE_SQL = """
    WITH base AS (SELECT doc_id, n_chars FROM documents
                  WHERE doc_id % 11 <> 0),
    changes AS (
      SELECT doc_id, n_chars + 7 AS n_chars, 'update' AS op
      FROM documents WHERE doc_id % 3 = 0 AND doc_id % 11 <> 0
                       AND doc_id % 13 <> 0
      UNION ALL
      SELECT doc_id, n_chars, 'insert' FROM documents WHERE doc_id % 11 = 0
      UNION ALL
      SELECT doc_id, CAST(NULL AS BIGINT), 'delete'
      FROM documents WHERE doc_id % 13 = 0 AND doc_id % 11 <> 0),
    merged AS (
      SELECT COALESCE(b.doc_id, c.doc_id) AS doc_id,
             CASE WHEN c.op = 'delete' THEN NULL
                  WHEN c.op IS NOT NULL THEN c.n_chars
                  ELSE b.n_chars END AS n_chars,
             CASE WHEN c.op = 'delete' AND b.doc_id IS NOT NULL
                    THEN 'deleted'
                  WHEN c.op = 'update' AND b.doc_id IS NOT NULL
                    THEN 'updated'
                  WHEN c.op = 'insert' AND b.doc_id IS NULL
                    THEN 'inserted'
                  ELSE 'kept' END AS action
      FROM base b FULL OUTER JOIN changes c ON b.doc_id = c.doc_id),
    final AS (SELECT doc_id, n_chars FROM merged
              WHERE action <> 'deleted'),
    stats AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM base) AS n_base,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM changes) AS n_changes,
             CAST(SUM(CASE WHEN action = 'inserted' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_inserted,
             CAST(SUM(CASE WHEN action = 'updated' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_updated,
             CAST(SUM(CASE WHEN action = 'deleted' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_deleted,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM final) AS n_final,
             (SELECT CAST(SUM((doc_id * 1000003 + n_chars) % 2147483647)
                          AS BIGINT) FROM final) AS final_checksum
      FROM merged)
    SELECT * FROM stats
    """


@q("merge_upsert_apply", oracle=_MERGE_SQL)
def merge_upsert_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics expressed relationally: a deterministic
    change set (updates, inserts, delete tombstones — delete wins over
    update, matched/not-matched arms as in ANSI MERGE) applied to a base
    snapshot through ONE full-outer join + CASE, reporting per-action
    counts and an order-insensitive additive checksum of the final table
    state. The write path ``snapshot_diff`` is the read path of: that
    query derives a change set from two crawls, this one applies it —
    together the copy-on-write loop an Iceberg-style table runs per
    ingest, minus the format metadata.

    Scale shape: one key-keyed full-outer shuffle join (both sides
    partition on doc_id); counts and checksum are partial aggs. The
    checksum is a SUM of per-row integer hashes — distributed and
    order-insensitive, unlike an md5-of-concatenation which would
    serialise the table through one task.
    """
    d = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    base = d.filter(F.col("doc_id") % 11 != 0)
    changes = (
        d.filter(
            (F.col("doc_id") % 3 == 0)
            & (F.col("doc_id") % 11 != 0)
            & (F.col("doc_id") % 13 != 0)
        )
        .select(
            "doc_id",
            (F.col("n_chars") + 7).alias("c_chars"),
            F.lit("update").alias("op"),
        )
        .unionAll(
            d.filter(F.col("doc_id") % 11 == 0).select(
                "doc_id",
                F.col("n_chars").alias("c_chars"),
                F.lit("insert").alias("op"),
            )
        )
        .unionAll(
            d.filter(
                (F.col("doc_id") % 13 == 0) & (F.col("doc_id") % 11 != 0)
            ).select(
                "doc_id",
                F.lit(None).cast("long").alias("c_chars"),
                F.lit("delete").alias("op"),
            )
        )
    )
    b = base.select(F.col("doc_id").alias("b_id"), "n_chars")
    c = changes.select(F.col("doc_id").alias("c_id"), "c_chars", "op")
    merged = b.join(c, b.b_id == c.c_id, "full_outer").select(
        F.coalesce("b_id", "c_id").alias("doc_id"),
        F.when(F.col("op") == "delete", F.lit(None).cast("long"))
        .when(F.col("op").isNotNull(), F.col("c_chars"))
        .otherwise(F.col("n_chars"))
        .alias("n_chars"),
        F.when(
            (F.col("op") == "delete") & F.col("b_id").isNotNull(), "deleted"
        )
        .when((F.col("op") == "update") & F.col("b_id").isNotNull(), "updated")
        .when((F.col("op") == "insert") & F.col("b_id").isNull(), "inserted")
        .otherwise("kept")
        .alias("action"),
    )
    final = merged.filter(F.col("action") != "deleted")
    n_base = base.count()
    n_changes = changes.count()
    fin = final.agg(
        F.count("*").cast("long").alias("n_final"),
        F.sum((F.col("doc_id") * 1000003 + F.col("n_chars")) % 2147483647)
        .cast("long")
        .alias("final_checksum"),
    )
    acts = merged.agg(
        F.sum((F.col("action") == "inserted").cast("long"))
        .cast("long")
        .alias("n_inserted"),
        F.sum((F.col("action") == "updated").cast("long"))
        .cast("long")
        .alias("n_updated"),
        F.sum((F.col("action") == "deleted").cast("long"))
        .cast("long")
        .alias("n_deleted"),
    )
    return (
        acts.crossJoin(F.broadcast(fin))
        .select(
            F.lit(n_base).cast("long").alias("n_base"),
            F.lit(n_changes).cast("long").alias("n_changes"),
            "n_inserted",
            "n_updated",
            "n_deleted",
            "n_final",
            "final_checksum",
        )
    )


# ---------------------------------------------------------------------------
# time travel: table state AS OF each version from an add/remove file log
# ---------------------------------------------------------------------------

_TT_MAX_V = 8

_TT_SQL = f"""
    WITH log AS (
      SELECT doc_id AS file_id,
             CAST(n_chars AS BIGINT) AS bytes,
             CAST(doc_id % 5 AS BIGINT) AS added_v,
             CASE WHEN doc_id % 3 = 0
                  THEN CAST(doc_id % 5 + 1 + doc_id % 4 AS BIGINT)
             END AS removed_v
      FROM documents),
    v AS (SELECT CAST(k AS BIGINT) AS version
          FROM UNNEST(range({_TT_MAX_V} + 1)) AS t(k)),
    state AS (SELECT v.version, l.file_id, l.bytes
              FROM v JOIN log l
                ON l.added_v <= v.version
               AND (l.removed_v IS NULL OR l.removed_v > v.version))
    SELECT v.version,
           CAST(COUNT(s.file_id) AS BIGINT) AS n_files,
           CAST(COALESCE(SUM(s.bytes), 0) AS BIGINT) AS total_bytes,
           CAST(COALESCE(SUM((s.file_id * 1000003 + s.bytes)
                             % 2147483647), 0) AS BIGINT) AS state_checksum
    FROM v LEFT JOIN state s USING (version)
    GROUP BY v.version ORDER BY v.version
    """


@q("time_travel_file_state", oracle=_TT_SQL)
def time_travel_file_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel: reconstruct the live file set AS OF every version
    from an append-only add/remove log (files enter at their add version
    and leave at their remove version — the Iceberg/Delta snapshot
    semantics ``merge_upsert_apply`` writes and ``compaction_bin_plan``
    rewrites), reporting per version the live file count, byte total,
    and the same distributed additive checksum — so any two engines (or
    any replay after restore) can prove they materialised the identical
    snapshot.

    Scale shape: the version spine is 9 literal rows broadcast against
    the file log (an interval join on two integer comparisons — each log
    row lands in at most max_v+1 versions); one partial agg per version.
    A real manifest store would prune by version range the same way.
    """
    log = t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("file_id"),
        F.col("n_chars").cast("long").alias("bytes"),
        (F.col("doc_id") % 5).cast("long").alias("added_v"),
        F.when(
            F.col("doc_id") % 3 == 0,
            (F.col("doc_id") % 5 + 1 + F.col("doc_id") % 4).cast("long"),
        ).alias("removed_v"),
    )
    v = spark.range(_TT_MAX_V + 1).select(F.col("id").alias("version"))
    state = log.join(
        F.broadcast(v),
        (F.col("added_v") <= F.col("version"))
        & (F.col("removed_v").isNull() | (F.col("removed_v") > F.col("version"))),
    )
    agg = state.groupBy("version").agg(
        F.count("file_id").cast("long").alias("n_files"),
        F.sum("bytes").cast("long").alias("total_bytes"),
        F.sum((F.col("file_id") * 1000003 + F.col("bytes")) % 2147483647)
        .cast("long")
        .alias("state_checksum"),
    )
    return (
        v.join(agg, "version", "left")
        .select(
            "version",
            F.coalesce("n_files", F.lit(0)).cast("long").alias("n_files"),
            F.coalesce("total_bytes", F.lit(0))
            .cast("long")
            .alias("total_bytes"),
            F.coalesce("state_checksum", F.lit(0))
            .cast("long")
            .alias("state_checksum"),
        )
        .orderBy("version")
    )


# ---------------------------------------------------------------------------
# market-basket association rules (pair support / confidence / lift)
# ---------------------------------------------------------------------------

_BK_MIN_CO = 3  # minimum co-occurrence count
_BK_TOP = 25

_BASKET_SQL = f"""
    WITH oi AS (SELECT DISTINCT l_orderkey AS o,
                                CAST(l_partkey % 50 AS BIGINT) AS item
                FROM lineitem),
    n AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n_orders FROM oi),
    ic AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS ni FROM oi
           GROUP BY item),
    pairs AS (SELECT a.item AS item_a, b.item AS item_b,
                     CAST(COUNT(*) AS BIGINT) AS nab
              FROM oi a JOIN oi b ON a.o = b.o AND a.item < b.item
              GROUP BY a.item, b.item),
    m AS (SELECT p.item_a, p.item_b, p.nab,
                 ROUND(p.nab * 1.0e0 / n.n_orders, 6) AS support,
                 ROUND(p.nab * 1.0e0 / ia.ni, 6) AS conf_a_to_b,
                 ROUND(p.nab * 1.0e0 / ib.ni, 6) AS conf_b_to_a,
                 ROUND(p.nab * 1.0e0 * n.n_orders / (ia.ni * ib.ni), 6)
                   AS lift
          FROM pairs p
          JOIN ic ia ON ia.item = p.item_a
          JOIN ic ib ON ib.item = p.item_b
          CROSS JOIN n
          WHERE p.nab >= {_BK_MIN_CO})
    SELECT * FROM m ORDER BY lift DESC, item_a, item_b LIMIT {_BK_TOP}
    """


@q("basket_pair_lift", oracle=_BASKET_SQL)
def basket_pair_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules at pair granularity: for items
    co-occurring in >= 3 orders, support, both conditional confidences,
    and lift — the transactional counterpart of ``pmi_cooccurrence``
    (words) over the order/lineitem star, top-25 by lift. Lift > 1 is
    the recommender's signal; the reference's co-purchase graph
    (``pagerank_cosupply``'s edge list) is this table without the
    probabilistic normalisation.

    Scale shape: the distinct (order, item) relation shuffles once; the
    pair expansion is an order-keyed equi-self-join (baskets are small,
    so in-order pair counts stay bounded); item marginals broadcast; the
    final top-k is TakeOrderedAndProject. Integer counts, one division
    per metric.
    """
    oi = (
        t(spark, sf_dir, "lineitem")
        .select(
            F.col("l_orderkey").alias("o"),
            (F.col("l_partkey") % 50).cast("long").alias("item"),
        )
        .distinct()
    )
    n = oi.agg(F.countDistinct("o").cast("long").alias("n_orders"))
    ic = oi.groupBy("item").agg(F.count("*").cast("long").alias("ni"))
    b = oi.select(F.col("o").alias("ob"), F.col("item").alias("item_b"))
    pairs = (
        oi.join(b, (F.col("o") == F.col("ob")) & (F.col("item") < F.col("item_b")))
        .groupBy(F.col("item").alias("item_a"), "item_b")
        .agg(F.count("*").cast("long").alias("nab"))
        .filter(F.col("nab") >= _BK_MIN_CO)
    )
    ia = ic.select(F.col("item").alias("item_a"), F.col("ni").alias("na"))
    ib = ic.select(F.col("item").alias("item_b"), F.col("ni").alias("nb"))
    m = (
        pairs.join(F.broadcast(ia), "item_a")
        .join(F.broadcast(ib), "item_b")
        .crossJoin(F.broadcast(n))
        .select(
            "item_a",
            "item_b",
            "nab",
            F.round(F.col("nab") * 1.0 / F.col("n_orders"), 6).alias(
                "support"
            ),
            F.round(F.col("nab") * 1.0 / F.col("na"), 6).alias(
                "conf_a_to_b"
            ),
            F.round(F.col("nab") * 1.0 / F.col("nb"), 6).alias(
                "conf_b_to_a"
            ),
            F.round(
                F.col("nab") * 1.0 * F.col("n_orders")
                / (F.col("na") * F.col("nb")),
                6,
            ).alias("lift"),
        )
    )
    return m.orderBy(F.col("lift").desc(), "item_a", "item_b").limit(
        _BK_TOP
    )


# ---------------------------------------------------------------------------
# Neyman allocation for stratified sampling
# ---------------------------------------------------------------------------

_NEY_BUDGET = 1000  # total sample budget to allocate across strata

_NEYMAN_SQL = f"""
    WITH s AS (SELECT event_type,
                      CAST(COUNT(*) AS BIGINT) AS nh,
                      SUM(CAST(FLOOR(value * 1000000.0e0 + 5.0e-1)
                               AS BIGINT)) AS s1,
                      SUM(CAST(FLOOR(value * 1000.0e0 + 5.0e-1) AS BIGINT)
                          * CAST(FLOOR(value * 1000.0e0 + 5.0e-1)
                                 AS BIGINT)) AS s2
               FROM events GROUP BY event_type),
    v AS (SELECT event_type, nh,
                 SQRT(GREATEST(
                   s2 * 1.0e0 / nh / 1000000.0e0
                   - (s1 * 1.0e0 / nh / 1000000.0e0)
                     * (s1 * 1.0e0 / nh / 1000000.0e0), 0.0e0)) AS sd
          FROM s),
    w AS (SELECT event_type, nh, ROUND(sd, 6) AS sd,
                 CAST(FLOOR(nh * ROUND(sd, 6) * 1000000.0e0 + 5.0e-1)
                      AS BIGINT) AS wu
          FROM v)
    SELECT event_type, nh, sd,
           CAST(FLOOR({_NEY_BUDGET}.0e0 * wu
                      / (SUM(wu) OVER ()) + 5.0e-1) AS BIGINT)
             AS neyman_n,
           CAST(FLOOR({_NEY_BUDGET}.0e0 * nh
                      / (SUM(nh) OVER ()) + 5.0e-1) AS BIGINT)
             AS proportional_n
    FROM w ORDER BY event_type
    """


@q("neyman_allocation", oracle=_NEYMAN_SQL)
def neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sample allocation: each stratum's share
    of the 1000-row budget is proportional to N_h·S_h (size times
    standard deviation) — the variance-minimising design (Neyman 1934)
    that ``stratified_sample`` should use instead of proportional
    allocation when strata differ in spread; both allocations are
    reported for comparison. The sampling-theory companion to
    ``corpus_mix_plan`` (which allocates by target weights, not
    variance).

    Exactness: per-stratum variance comes from integer power sums
    (milli-unit squares stay far below int64); the standard deviation is
    snapped to 6 dp before the weight products, and allocations use
    integer-scaled weights with one window over the (bounded) stratum
    rows.

    Scale shape: one partial-agg shuffle on the stratum key; windows run
    over strata, not rows.
    """
    ev = t(spark, sf_dir, "events")
    vu6 = F.floor(F.col("value") * 1000000.0 + 0.5).cast("long")
    vu3 = F.floor(F.col("value") * 1000.0 + 0.5).cast("long")
    s = ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("nh"),
        F.sum(vu6).alias("s1"),
        F.sum(vu3 * vu3).alias("s2"),
    )
    mean = F.col("s1") * 1.0 / F.col("nh") / 1000000.0
    ex2 = F.col("s2") * 1.0 / F.col("nh") / 1000000.0
    v = s.select(
        "event_type",
        "nh",
        F.sqrt(F.greatest(ex2 - mean * mean, F.lit(0.0))).alias("sd"),
    )
    w = v.select(
        "event_type",
        "nh",
        F.round("sd", 6).alias("sd"),
        F.floor(F.col("nh") * F.round("sd", 6) * 1000000.0 + 0.5)
        .cast("long")
        .alias("wu"),
    )
    win = Window.partitionBy()
    return w.select(
        "event_type",
        "nh",
        "sd",
        F.floor(
            _NEY_BUDGET * 1.0 * F.col("wu") / F.sum("wu").over(win) + 0.5
        )
        .cast("long")
        .alias("neyman_n"),
        F.floor(
            _NEY_BUDGET * 1.0 * F.col("nh") / F.sum("nh").over(win) + 0.5
        )
        .cast("long")
        .alias("proportional_n"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Merkle tree over partition checksums (data-integrity primitive)
# ---------------------------------------------------------------------------

_MERKLE_SQL = """
    WITH leaf AS (SELECT doc_id % 16 AS part_id,
                         CAST(SUM((doc_id * 1000003 + n_chars)
                                  % 2147483647) AS BIGINT) AS chk
                  FROM documents GROUP BY part_id),
    l0 AS (SELECT CAST(2 AS BIGINT) AS lvl, part_id AS node_id,
                  md5(CAST(chk AS VARCHAR)) AS h
           FROM leaf),
    l1 AS (SELECT CAST(1 AS BIGINT) AS lvl, node_id // 4 AS node_id,
                  md5(string_agg(h, '' ORDER BY node_id)) AS h
           FROM l0 GROUP BY node_id // 4),
    l2 AS (SELECT CAST(0 AS BIGINT) AS lvl, CAST(0 AS BIGINT) AS node_id,
                  md5(string_agg(h, '' ORDER BY node_id)) AS h
           FROM l1)
    SELECT lvl, CAST(node_id AS BIGINT) AS node_id, h
    FROM (SELECT * FROM l0 UNION ALL SELECT * FROM l1
          UNION ALL SELECT * FROM l2)
    ORDER BY lvl, node_id
    """


@q("merkle_partition_tree", oracle=_MERKLE_SQL)
def merkle_partition_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merkle tree over partition checksums: 16 hash-partition leaves
    (the order-insensitive additive checksum of ``merge_upsert_apply``),
    md5-combined 4-at-a-time up to the root — the integrity structure
    that lets two replicas find a diverging partition in O(log parts)
    hash comparisons instead of re-reading data (the verification
    counterpart of ``time_travel_file_state``'s per-version checksums).

    Exactness: leaf checksums are integer sums (order-free); the
    interior combine concatenates child hashes in node-id order (a
    4-element ordered string_agg — deterministic on both engines).

    Scale shape: one partition-keyed partial agg builds the leaves; the
    interior levels aggregate 16 -> 4 -> 1 rows. The tree height is
    log(parts), never data-dependent.
    """
    leaf = (
        t(spark, sf_dir, "documents")
        .groupBy((F.col("doc_id") % 16).alias("part_id"))
        .agg(
            F.sum(
                (F.col("doc_id") * 1000003 + F.col("n_chars")) % 2147483647
            )
            .cast("long")
            .alias("chk")
        )
    )
    l0 = leaf.select(
        F.lit(2).cast("long").alias("lvl"),
        F.col("part_id").alias("node_id"),
        F.md5(F.col("chk").cast("string")).alias("h"),
    )
    def combine(df, lvl):
        return (
            df.groupBy(F.expr("node_id div 4").alias("node_id"))
            .agg(
                F.md5(
                    F.array_join(
                        F.transform(
                            F.sort_array(
                                F.collect_list(F.struct("node_id", "h"))
                            ),
                            lambda r: r.h,
                        ),
                        "",
                    )
                ).alias("h")
            )
            .select(
                F.lit(lvl).cast("long").alias("lvl"), "node_id", "h"
            )
        )
    l1 = combine(l0.select(F.col("node_id"), "h"), 1)
    l2 = combine(l1.select("node_id", "h"), 0)
    return (
        l0.unionAll(l1)
        .unionAll(l2)
        .select("lvl", F.col("node_id").cast("long").alias("node_id"), "h")
        .orderBy("lvl", "node_id")
    )


# ---------------------------------------------------------------------------
# trending terms (frequency-rank movement between crawl halves)
# ---------------------------------------------------------------------------

_TREND_TOP = 15

_TREND_SQL = f"""
    WITH toks AS (SELECT doc_id % 2 AS half,
                         unnest(string_split(text, ' ')) AS w
                  FROM documents),
    c AS (SELECT w,
                 CAST(COUNT(*) FILTER (WHERE half = 0) AS BIGINT) AS n_old,
                 CAST(COUNT(*) FILTER (WHERE half = 1) AS BIGINT) AS n_new
          FROM toks GROUP BY w),
    r AS (SELECT w, n_old, n_new,
                 ROW_NUMBER() OVER (ORDER BY n_old DESC, w) AS r_old,
                 ROW_NUMBER() OVER (ORDER BY n_new DESC, w) AS r_new
          FROM c)
    SELECT w AS term, n_old, n_new,
           CAST(r_old AS BIGINT) AS rank_old,
           CAST(r_new AS BIGINT) AS rank_new,
           CAST(r_old - r_new AS BIGINT) AS rank_gain
    FROM r ORDER BY rank_gain DESC, term LIMIT {_TREND_TOP}
    """


@q("trending_terms", oracle=_TREND_SQL)
def trending_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending terms: frequency ranks computed independently on two
    crawl halves (doc_id parity as the batch stand-in) and the top
    rank GAINERS reported — the movers dashboard a crawl operator reads
    to catch emerging vocabulary, where ``word_freq`` is a static
    census and ``ngram_novelty_decay`` counts only brand-new grams.

    Scale shape: one explode + word-keyed partial agg; the rank windows
    run over VOCABULARY rows (both engines rank the same integer counts
    with the same (count, term) tiebreak — deterministic); top-k is
    TakeOrdered. At web scale the vocabulary rank uses the range-bucket
    two-phase ranking (``tfidf_top_terms``'s salted top-k shape).
    """
    toks = t(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 2).alias("half"),
        F.explode(F.split("text", " ")).alias("w"),
    )
    c = toks.groupBy("w").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_old"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_new"),
    )
    r = c.select(
        "w",
        "n_old",
        "n_new",
        F.row_number()
        .over(Window.orderBy(F.col("n_old").desc(), "w"))
        .alias("r_old"),
        F.row_number()
        .over(Window.orderBy(F.col("n_new").desc(), "w"))
        .alias("r_new"),
    )
    return (
        r.select(
            F.col("w").alias("term"),
            "n_old",
            "n_new",
            F.col("r_old").cast("long").alias("rank_old"),
            F.col("r_new").cast("long").alias("rank_new"),
            (F.col("r_old") - F.col("r_new")).cast("long").alias(
                "rank_gain"
            ),
        )
        .orderBy(F.col("rank_gain").desc(), "term")
        .limit(_TREND_TOP)
    )


# ---------------------------------------------------------------------------
# optimizer-statistics audit: histogram selectivity estimate vs actual
# ---------------------------------------------------------------------------

_SEL_BUCKETS = 20
_SEL_LO, _SEL_HI = 120.0, 333.3  # the range predicate being estimated

_SEL_SQL = f"""
    WITH b AS (SELECT LEAST(CAST(FLOOR(value / 25.0e0) AS BIGINT),
                            {_SEL_BUCKETS - 1}) AS bucket,
                      value
               FROM events),
    hist AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n
             FROM b GROUP BY bucket),
    est AS (SELECT SUM(
                     n * GREATEST(0.0e0, LEAST(
                           (LEAST({_SEL_HI}e0,
                                  (bucket + 1) * 25.0e0)
                            - GREATEST({_SEL_LO}e0, bucket * 25.0e0))
                           / 25.0e0, 1.0e0))) AS est_rows
            FROM hist),
    act AS (SELECT CAST(COUNT(*) AS BIGINT) AS actual_rows
            FROM events
            WHERE value >= {_SEL_LO}e0 AND value < {_SEL_HI}e0),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total_rows FROM events)
    SELECT tot.total_rows,
           CAST(FLOOR(est.est_rows + 5.0e-1) AS BIGINT) AS estimated_rows,
           act.actual_rows,
           ROUND(est.est_rows / tot.total_rows, 6) AS est_selectivity,
           ROUND(act.actual_rows * 1.0e0 / tot.total_rows, 6)
             AS actual_selectivity,
           ROUND(ABS(est.est_rows - act.actual_rows)
                 / act.actual_rows, 6) AS rel_error
    FROM est CROSS JOIN act CROSS JOIN tot
    """


@q("selectivity_estimate_audit", oracle=_SEL_SQL)
def selectivity_estimate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimizer-statistics audit: estimate a range predicate's
    selectivity from a 20-bucket equi-width histogram with uniform
    in-bucket interpolation — exactly how a cost-based optimizer prices
    `value BETWEEN a AND b` from column stats — then run the predicate
    and report the relative estimation error. The measured answer to
    "can this histogram be trusted for join ordering", companion to
    ``zonemap_prune_audit`` (which audits pruning, not cardinality).

    Exactness: histogram counts and the actual count are integers; the
    interpolation arithmetic is one shared expression over (bounded)
    bucket rows.

    Scale shape: one bucket-keyed partial agg (the histogram build —
    what ANALYZE TABLE does), one counting scan for ground truth,
    scalar combine.
    """
    ev = t(spark, sf_dir, "events")
    b = ev.select(
        F.least(
            F.floor(F.col("value") / 25.0).cast("long"),
            F.lit(_SEL_BUCKETS - 1),
        ).alias("bucket")
    )
    hist = b.groupBy("bucket").agg(F.count("*").cast("long").alias("n"))
    frac = F.greatest(
        F.lit(0.0),
        F.least(
            (
                F.least(F.lit(_SEL_HI), (F.col("bucket") + 1) * 25.0)
                - F.greatest(F.lit(_SEL_LO), F.col("bucket") * 25.0)
            )
            / 25.0,
            F.lit(1.0),
        ),
    )
    est = hist.agg(F.sum(F.col("n") * frac).alias("est_rows"))
    act = ev.filter(
        (F.col("value") >= _SEL_LO) & (F.col("value") < _SEL_HI)
    ).agg(F.count("*").cast("long").alias("actual_rows"))
    tot = ev.agg(F.count("*").cast("long").alias("total_rows"))
    return (
        est.crossJoin(F.broadcast(act))
        .crossJoin(F.broadcast(tot))
        .select(
            "total_rows",
            F.floor(F.col("est_rows") + 0.5).cast("long").alias(
                "estimated_rows"
            ),
            "actual_rows",
            F.round(F.col("est_rows") / F.col("total_rows"), 6).alias(
                "est_selectivity"
            ),
            F.round(
                F.col("actual_rows") * 1.0 / F.col("total_rows"), 6
            ).alias("actual_selectivity"),
            F.round(
                F.abs(F.col("est_rows") - F.col("actual_rows"))
                / F.col("actual_rows"),
                6,
            ).alias("rel_error"),
        )
    )


# ---------------------------------------------------------------------------
# shuffle-partition skew audit (key imbalance under hash partitioning)
# ---------------------------------------------------------------------------

_SKEW_NPART = 32

_SKEW_SQL = f"""
    WITH keyed AS (
      SELECT 'uniform_user' AS keying,
             CAST((user_id * 2654435761) % 97 % {_SKEW_NPART} AS BIGINT)
               AS part
      FROM events
      UNION ALL
      SELECT 'skewed_type',
             CAST((CASE event_type WHEN 'view' THEN 0 WHEN 'click' THEN 1
                        WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3
                        ELSE 4 END) % {_SKEW_NPART} AS BIGINT)
      FROM events),
    sizes AS (SELECT keying, part, CAST(COUNT(*) AS BIGINT) AS n
              FROM keyed GROUP BY keying, part),
    s AS (SELECT keying,
                 CAST(COUNT(*) AS BIGINT) AS n_parts,
                 CAST(SUM(n) AS BIGINT) AS n_rows,
                 CAST(MAX(n) AS BIGINT) AS max_part,
                 CAST(MIN(n) AS BIGINT) AS min_part
          FROM sizes GROUP BY keying)
    SELECT keying, n_parts, n_rows, max_part, min_part,
           ROUND(max_part * 1.0e0 * n_parts / n_rows, 4)
             AS max_over_avg,
           ROUND(max_part * 1.0e0 * {_SKEW_NPART} / n_rows, 4)
             AS stragglers_factor
    FROM s ORDER BY keying
    """


@q("partition_skew_audit", oracle=_SKEW_SQL)
def partition_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-partition skew audit: the same rows hashed into 32 shuffle
    partitions under two keyings — a well-hashed user key vs the
    5-value event-type key — and each layout's max/avg partition ratio,
    the number that IS the straggler slowdown of a shuffle stage keyed
    that way. The query-surface measurement behind the north rule's
    explicit skew handling: ``hot_cell_salted_profile`` fixes this for
    dense cells; this audit shows which keys need it BEFORE the job runs
    (a max/avg of ~6 here means a type-keyed shuffle wastes 5/6 of the
    cluster).

    Scale shape: one (keying, part) partial agg over the doubled rows;
    the report is 2 rows. Integer counts, two divisions per row.
    """
    ev = t(spark, sf_dir, "events")
    n = _SKEW_NPART
    uniform = ev.select(
        F.lit("uniform_user").alias("keying"),
        ((F.col("user_id") * 2654435761) % 97 % n)
        .cast("long")
        .alias("part"),
    )
    type_part = (
        F.when(F.col("event_type") == "view", 0)
        .when(F.col("event_type") == "click", 1)
        .when(F.col("event_type") == "purchase", 2)
        .when(F.col("event_type") == "signup", 3)
        .otherwise(4)
    )
    skewed = ev.select(
        F.lit("skewed_type").alias("keying"),
        (type_part % n).cast("long").alias("part"),
    )
    sizes = (
        uniform.unionAll(skewed)
        .groupBy("keying", "part")
        .agg(F.count("*").cast("long").alias("n"))
    )
    s = sizes.groupBy("keying").agg(
        F.count("*").cast("long").alias("n_parts"),
        F.sum("n").cast("long").alias("n_rows"),
        F.max("n").cast("long").alias("max_part"),
        F.min("n").cast("long").alias("min_part"),
    )
    return s.select(
        "keying",
        "n_parts",
        "n_rows",
        "max_part",
        "min_part",
        F.round(
            F.col("max_part") * 1.0 * F.col("n_parts") / F.col("n_rows"), 4
        ).alias("max_over_avg"),
        F.round(
            F.col("max_part") * 1.0 * n / F.col("n_rows"), 4
        ).alias("stragglers_factor"),
    ).orderBy("keying")


# ---------------------------------------------------------------------------
# concurrent-writer merge conflict audit (optimistic concurrency)
# ---------------------------------------------------------------------------

_CONFLICT_SQL = """
    WITH w1 AS (SELECT doc_id, n_chars + 7 AS new_val, 101 AS commit_v
                FROM documents WHERE doc_id % 3 = 0),
    w2 AS (SELECT doc_id, n_chars + 13 AS new_val, 102 AS commit_v
           FROM documents WHERE doc_id % 4 = 0),
    j AS (SELECT COALESCE(w1.doc_id, w2.doc_id) AS doc_id,
                 w1.new_val AS v1, w2.new_val AS v2,
                 CASE WHEN w1.doc_id IS NOT NULL
                       AND w2.doc_id IS NOT NULL THEN 1 ELSE 0 END
                   AS is_conflict,
                 COALESCE(w2.new_val, w1.new_val) AS resolved_val
          FROM w1 FULL OUTER JOIN w2 ON w1.doc_id = w2.doc_id)
    SELECT CAST(SUM(CASE WHEN v1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_writer1,
           CAST(SUM(CASE WHEN v2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_writer2,
           CAST(SUM(is_conflict) AS BIGINT) AS n_conflicts,
           ROUND(SUM(is_conflict) * 1.0e0 / COUNT(*), 6) AS conflict_pct,
           CAST(SUM((doc_id * 1000003 + resolved_val) % 2147483647)
                AS BIGINT) AS resolved_checksum
    FROM j
    """


@q("merge_conflict_audit", oracle=_CONFLICT_SQL)
def merge_conflict_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent-writer conflict audit: two deterministic change sets
    (writer 1 touches doc_id % 3, writer 2 touches doc_id % 4 — their
    overlap is the conflict set) are merged under last-writer-wins
    (higher commit version), reporting conflict counts, the conflict
    rate, and the resolved-state checksum — the optimistic-concurrency
    decision an Iceberg/Delta commit protocol makes when two writers
    race (``merge_upsert_apply`` is one writer's apply; this is the
    two-writer case a retry loop must detect).

    Scale shape: ONE key-keyed full-outer join between the change sets
    (both partition on doc_id); the audit is a scalar agg with the same
    distributed additive checksum as the other integrity ops.
    """
    d = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    w1 = d.filter(F.col("doc_id") % 3 == 0).select(
        F.col("doc_id").alias("id1"),
        (F.col("n_chars") + 7).alias("v1"),
    )
    w2 = d.filter(F.col("doc_id") % 4 == 0).select(
        F.col("doc_id").alias("id2"),
        (F.col("n_chars") + 13).alias("v2"),
    )
    j = w1.join(w2, w1.id1 == w2.id2, "full_outer").select(
        F.coalesce("id1", "id2").alias("doc_id"),
        "v1",
        "v2",
        F.when(
            F.col("id1").isNotNull() & F.col("id2").isNotNull(), 1
        )
        .otherwise(0)
        .alias("is_conflict"),
        F.coalesce("v2", "v1").alias("resolved_val"),
    )
    return j.agg(
        F.sum(F.when(F.col("v1").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_writer1"),
        F.sum(F.when(F.col("v2").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_writer2"),
        F.sum("is_conflict").cast("long").alias("n_conflicts"),
        F.round(F.sum("is_conflict") * 1.0 / F.count("*"), 6).alias(
            "conflict_pct"
        ),
        F.sum(
            (F.col("doc_id") * 1000003 + F.col("resolved_val")) % 2147483647
        )
        .cast("long")
        .alias("resolved_checksum"),
    )


# ---------------------------------------------------------------------------
# join-cardinality estimation audit (System-R formula vs actual)
# ---------------------------------------------------------------------------

_JCARD_SQL = """
    WITH lstats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_l,
                           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT)
                             AS ndv_l
                    FROM lineitem),
    ostats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_o,
                      CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS ndv_o
               FROM orders),
    act AS (SELECT CAST(COUNT(*) AS BIGINT) AS actual_rows
            FROM lineitem l JOIN orders o
              ON l.l_orderkey = o.o_orderkey)
    SELECT l.n_l, l.ndv_l, o.n_o, o.ndv_o,
           CAST(FLOOR(l.n_l * 1.0e0 * o.n_o
                      / GREATEST(l.ndv_l, o.ndv_o) + 5.0e-1) AS BIGINT)
             AS estimated_rows,
           a.actual_rows,
           ROUND(ABS(l.n_l * 1.0e0 * o.n_o / GREATEST(l.ndv_l, o.ndv_o)
                     - a.actual_rows) / a.actual_rows, 6) AS rel_error
    FROM lstats l CROSS JOIN ostats o CROSS JOIN act a
    """


@q("join_cardinality_audit", oracle=_JCARD_SQL)
def join_cardinality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation audit: the System-R textbook estimate
    |L ⋈ O| ≈ |L|·|O| / max(ndv_L, ndv_O) computed from table statistics
    only, then the join actually run and the relative error reported —
    the second half of the optimizer-statistics surface
    (``selectivity_estimate_audit`` audits predicate selectivity; this
    audits the join formula that multiplies on top of it, and on a
    PK-FK join like orders-lineitem the formula should be near-exact —
    the audit proves whether the stats justify that trust).

    Scale shape: two stats scans with two-phase distinct aggregates,
    one hash join for ground truth, scalar combine.
    """
    li = t(spark, sf_dir, "lineitem").select("l_orderkey")
    o = t(spark, sf_dir, "orders").select("o_orderkey")
    lstats = li.agg(
        F.count("*").cast("long").alias("n_l"),
        F.countDistinct("l_orderkey").cast("long").alias("ndv_l"),
    )
    ostats = o.agg(
        F.count("*").cast("long").alias("n_o"),
        F.countDistinct("o_orderkey").cast("long").alias("ndv_o"),
    )
    act = li.join(o, li.l_orderkey == o.o_orderkey).agg(
        F.count("*").cast("long").alias("actual_rows")
    )
    est = (
        F.col("n_l") * 1.0 * F.col("n_o")
        / F.greatest(F.col("ndv_l"), F.col("ndv_o"))
    )
    return (
        lstats.crossJoin(F.broadcast(ostats))
        .crossJoin(F.broadcast(act))
        .select(
            "n_l",
            "ndv_l",
            "n_o",
            "ndv_o",
            F.floor(est + 0.5).cast("long").alias("estimated_rows"),
            "actual_rows",
            F.round(
                F.abs(est - F.col("actual_rows")) / F.col("actual_rows"), 6
            ).alias("rel_error"),
        )
    )


# ---------------------------------------------------------------------------
# vocabulary coverage curve (OOV rate vs vocab budget)
# ---------------------------------------------------------------------------

_VCC_SIZES = (5, 10, 20, 30)

_VCC_SQL = f"""
    WITH toks AS (SELECT unnest(string_split(text, ' ')) AS w
                  FROM documents),
    wc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY w),
    r AS (SELECT w, n,
                 ROW_NUMBER() OVER (ORDER BY n DESC, w) AS rk
          FROM wc),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS tn,
                   CAST(COUNT(*) AS BIGINT) AS vocab FROM wc),
    sizes AS (SELECT CAST(s AS BIGINT) AS vocab_size
              FROM UNNEST([{", ".join(str(s) for s in _VCC_SIZES)}])
                AS t(s)),
    cov AS (SELECT sizes.vocab_size,
                   CAST(SUM(CASE WHEN r.rk <= sizes.vocab_size
                                 THEN r.n ELSE 0 END) AS BIGINT)
                     AS covered
            FROM sizes CROSS JOIN r GROUP BY sizes.vocab_size)
    SELECT c.vocab_size, tot.vocab AS full_vocab, c.covered, tot.tn,
           ROUND(c.covered * 1.0e0 / tot.tn, 6) AS coverage,
           ROUND(1.0e0 - c.covered * 1.0e0 / tot.tn, 6) AS oov_rate
    FROM cov c CROSS JOIN tot ORDER BY c.vocab_size
    """


@q("vocab_coverage_curve", oracle=_VCC_SQL)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: the fraction of corpus tokens covered
    by the top-N most frequent words for budgets N = 5/10/20/30 — the
    OOV-rate-vs-vocab-size trade-off a tokenizer design reads before
    ``bpe_train_merges`` decides how many merges to learn (every token
    outside the budget falls back to subword/UNK handling).

    Scale shape: one explode + word-keyed partial agg; the rank window
    and budget cross join run over VOCABULARY rows. Integer counts, one
    division per output row.
    """
    toks = t(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("w")
    )
    wc = toks.groupBy("w").agg(F.count("*").cast("long").alias("n"))
    r = wc.select(
        "w",
        "n",
        F.row_number()
        .over(Window.orderBy(F.col("n").desc(), "w"))
        .alias("rk"),
    )
    tot = wc.agg(
        F.sum("n").cast("long").alias("tn"),
        F.count("*").cast("long").alias("vocab"),
    )
    sizes = spark.createDataFrame(
        [(s,) for s in _VCC_SIZES], "vocab_size long"
    )
    cov = (
        F.broadcast(sizes)
        .crossJoin(r)
        .groupBy("vocab_size")
        .agg(
            F.sum(
                F.when(F.col("rk") <= F.col("vocab_size"), F.col("n"))
                .otherwise(0)
            )
            .cast("long")
            .alias("covered")
        )
    )
    return (
        cov.crossJoin(F.broadcast(tot))
        .select(
            "vocab_size",
            F.col("vocab").alias("full_vocab"),
            "covered",
            "tn",
            F.round(F.col("covered") * 1.0 / F.col("tn"), 6).alias(
                "coverage"
            ),
            F.round(
                1.0 - F.col("covered") * 1.0 / F.col("tn"), 6
            ).alias("oov_rate"),
        )
        .orderBy("vocab_size")
    )


# ---------------------------------------------------------------------------
# exact ROC AUC via rank statistics (two-phase cumulative counting)
# ---------------------------------------------------------------------------

_AUC_BUCKET_W = 20.0  # range-bucket width over the value domain

_AUC_SQL = """
    WITH g AS (
      SELECT value,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_pos,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END)
                  AS BIGINT) AS n_neg
      FROM events GROUP BY value),
    c AS (
      SELECT n_pos, n_neg,
             SUM(n_neg) OVER (ORDER BY value
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING) AS cum_neg
      FROM g),
    s AS (
      SELECT CAST(SUM(n_pos) AS BIGINT) AS np,
             CAST(SUM(n_neg) AS BIGINT) AS nn,
             CAST(SUM(n_pos * (2 * COALESCE(cum_neg, 0) + n_neg))
                  AS BIGINT) AS u2
      FROM c)
    SELECT np AS n_pos, nn AS n_neg,
           ROUND(u2 / (2.0e0 * np * nn), 6) AS auc
    FROM s
    """


@q("roc_auc_eval", oracle=_AUC_SQL)
def roc_auc_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC of `value` as a classifier score for the purchase
    label, via the Mann-Whitney U rank identity with midrank tie
    handling: AUC = (#(pos>neg pairs) + ½·#(tied pairs)) / (npos·nneg) —
    the threshold-free companion to ``calibration_bins`` (which audits
    probability calibration; AUC audits discrimination).

    Everything is integer until the final division: per-distinct-value
    (n_pos, n_neg) counts, then the doubled statistic
    u2 = Σ n_pos·(2·cum_neg_below + n_neg_same), so there is no float
    accumulation anywhere and both engines agree bit-for-bit.

    Scale shape (Spark side): cumulative negative counts are TWO-PHASE —
    range buckets (constant width over the bounded score domain) give
    per-bucket offsets via a bucket-level window over the ~30-row bucket
    relation, and the in-bucket cumulative window partitions BY bucket —
    no single-partition window ever sees the distinct-value relation
    (the ``value_deciles`` discipline). The oracle uses the plain global
    window form: two algorithms, one answer.
    """
    g = (
        t(spark, sf_dir, "events")
        .groupBy("value")
        .agg(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("n_pos"),
            F.sum(F.when(F.col("event_type") == "purchase", 0).otherwise(1))
            .cast("long")
            .alias("n_neg"),
        )
        .withColumn(
            "b", F.floor(F.col("value") / _AUC_BUCKET_W).cast("long")
        )
    )
    btot = g.groupBy("b").agg(F.sum("n_neg").alias("bneg"))
    wb = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    boff = btot.select(
        "b", F.coalesce(F.sum("bneg").over(wb), F.lit(0)).alias("neg_off")
    )
    wv = (
        Window.partitionBy("b")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = (
        g.join(F.broadcast(boff), "b")
        .withColumn(
            "cum_neg",
            F.col("neg_off")
            + F.coalesce(F.sum("n_neg").over(wv), F.lit(0)),
        )
    )
    s = c.agg(
        F.sum("n_pos").cast("long").alias("np"),
        F.sum("n_neg").cast("long").alias("nn"),
        F.sum(
            F.col("n_pos") * (2 * F.col("cum_neg") + F.col("n_neg"))
        )
        .cast("long")
        .alias("u2"),
    )
    return s.select(
        F.col("np").alias("n_pos"),
        F.col("nn").alias("n_neg"),
        F.round(F.col("u2") / (2.0 * F.col("np") * F.col("nn")), 6).alias(
            "auc"
        ),
    )


# ---------------------------------------------------------------------------
# Poisson bootstrap confidence interval (the 100-TB resampling shape)
# ---------------------------------------------------------------------------

_PB_B = 16  # bootstrap replicates
_PB_A = 2654435761  # Knuth multiplicative hash (same family as _WS_HASH)
_PB_P = 1000003
# Poisson(1) inverse-CDF ladder (cumulative probabilities, full precision)
_PB_CDF = (
    "0.36787944117144233e0",
    "0.7357588823428846e0",
    "0.9196986029286058e0",
    "0.9810118431238462e0",
    "0.9963401531726563e0",
)

_PB_W_SQL = (
    "CASE "
    + " ".join(
        f"WHEN u < {c} THEN {k}" for k, c in enumerate(_PB_CDF)
    )
    + " ELSE 5 END"
)

_PB_SQL = f"""
    WITH fan AS (
      SELECT r,
             CAST(FLOOR(value * 10000.0e0 + 0.5e0) AS BIGINT) AS vu,
             ((event_id * {_PB_B} + r) * {_PB_A}) % {_PB_P}
               / {_PB_P}.0e0 AS u
      FROM events, UNNEST(range(0, {_PB_B})) AS t(r)),
    w AS (SELECT r, vu, {_PB_W_SQL} AS w FROM fan),
    rep AS (
      SELECT r,
             CAST(SUM(w) AS BIGINT) AS n_eff,
             CAST(FLOOR(SUM(w * vu) * 1.0e0 / SUM(w) + 0.5e0) AS BIGINT)
               AS mu
      FROM w GROUP BY r),
    boot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS b,
             CAST(SUM(mu) AS BIGINT) AS s1,
             CAST(SUM(mu * mu) AS BIGINT) AS s2,
             CAST(MIN(n_eff) AS BIGINT) AS min_n_eff,
             CAST(MAX(n_eff) AS BIGINT) AS max_n_eff
      FROM rep),
    pt AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(FLOOR(SUM(CAST(FLOOR(value * 10000.0e0 + 0.5e0)
                                 AS BIGINT)) * 1.0e0 / COUNT(*) + 0.5e0)
                  AS BIGINT) AS pmu
      FROM events)
    SELECT pt.n_rows,
           boot.min_n_eff, boot.max_n_eff,
           ROUND(pt.pmu / 10000.0e0, 6) AS point_mean,
           ROUND(SQRT((boot.b * boot.s2 - boot.s1 * boot.s1)
                      / (boot.b * 1.0e0 * (boot.b - 1)))
                 / 10000.0e0, 6) AS boot_se,
           ROUND(pt.pmu / 10000.0e0
                 - 1.96e0 * SQRT((boot.b * boot.s2 - boot.s1 * boot.s1)
                                 / (boot.b * 1.0e0 * (boot.b - 1)))
                   / 10000.0e0, 6) AS ci_lo,
           ROUND(pt.pmu / 10000.0e0
                 + 1.96e0 * SQRT((boot.b * boot.s2 - boot.s1 * boot.s1)
                                 / (boot.b * 1.0e0 * (boot.b - 1)))
                   / 10000.0e0, 6) AS ci_hi
    FROM boot CROSS JOIN pt
    """


@q("poisson_bootstrap_ci", oracle=_PB_SQL)
def poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson(1) bootstrap CI for the mean event value — the resampling
    form that actually works at 10^12 rows: instead of drawing n indices
    per replicate (which requires a global index and a shuffle per
    replicate), every row independently receives a Poisson(1) weight per
    replicate from a deterministic multiplicative-hash uniform (the
    ``weighted_sample_topk`` hash family) pushed through the Poisson
    inverse-CDF ladder. One Generate (x16 replicates), one 16-key
    partial agg, one single-row reduction — scan-shaped, no shuffle of
    the data itself.

    Exactness: values snap to 1e-4 units before any sum; replicate means
    snap to integer micro-units; the across-replicate variance comes
    from exact integer power sums (the ``daily_anomalies`` discipline),
    so both engines agree bit-for-bit through the final SQRT/ROUND.
    """
    ev = t(spark, sf_dir, "events")
    fan = (
        ev.withColumn(
            "r", F.explode(F.sequence(F.lit(0), F.lit(_PB_B - 1)))
        )
        .select(
            "r",
            F.floor(F.col("value") * 10000.0 + 0.5)
            .cast("long")
            .alias("vu"),
            (
                ((F.col("event_id") * _PB_B + F.col("r")) * _PB_A)
                % _PB_P
                / float(_PB_P)
            ).alias("u"),
        )
    )
    w = fan.select("r", "vu", F.expr(_PB_W_SQL).alias("w"))
    rep = w.groupBy("r").agg(
        F.sum("w").cast("long").alias("n_eff"),
        F.floor(
            F.sum(F.col("w") * F.col("vu")) * 1.0 / F.sum("w") + 0.5
        )
        .cast("long")
        .alias("mu"),
    )
    boot = rep.agg(
        F.count("*").cast("long").alias("b"),
        F.sum("mu").cast("long").alias("s1"),
        F.sum(F.col("mu") * F.col("mu")).cast("long").alias("s2"),
        F.min("n_eff").cast("long").alias("min_n_eff"),
        F.max("n_eff").cast("long").alias("max_n_eff"),
    )
    pt = ev.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.floor(
            F.sum(
                F.floor(F.col("value") * 10000.0 + 0.5).cast("long")
            )
            * 1.0
            / F.count("*")
            + 0.5
        )
        .cast("long")
        .alias("pmu"),
    )
    se = F.sqrt(
        (F.col("b") * F.col("s2") - F.col("s1") * F.col("s1"))
        / (F.col("b") * 1.0 * (F.col("b") - 1))
    ) / 10000.0
    pm = F.col("pmu") / 10000.0
    return boot.crossJoin(F.broadcast(pt)).select(
        "n_rows",
        "min_n_eff",
        "max_n_eff",
        F.round(pm, 6).alias("point_mean"),
        F.round(se, 6).alias("boot_se"),
        F.round(pm - 1.96 * se, 6).alias("ci_lo"),
        F.round(pm + 1.96 * se, 6).alias("ci_hi"),
    )


# ---------------------------------------------------------------------------
# multivariate OLS via normal equations from exact integer power sums
# ---------------------------------------------------------------------------

_OLS_SQL = """
    WITH m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(event_id % 24) AS BIGINT) AS sx1,
             CAST(SUM(user_id % 7) AS BIGINT) AS sx2,
             CAST(SUM((event_id % 24) * (event_id % 24)) AS BIGINT) AS sx11,
             CAST(SUM((user_id % 7) * (user_id % 7)) AS BIGINT) AS sx22,
             CAST(SUM((event_id % 24) * (user_id % 7)) AS BIGINT) AS sx12,
             CAST(SUM(CAST(FLOOR(value * 100.0e0 + 0.5e0) AS BIGINT))
                  AS BIGINT) AS sy,
             CAST(SUM((event_id % 24)
                      * CAST(FLOOR(value * 100.0e0 + 0.5e0) AS BIGINT))
                  AS BIGINT) AS sx1y,
             CAST(SUM((user_id % 7)
                      * CAST(FLOOR(value * 100.0e0 + 0.5e0) AS BIGINT))
                  AS BIGINT) AS sx2y,
             CAST(SUM(CAST(FLOOR(value * 100.0e0 + 0.5e0) AS BIGINT)
                      * CAST(FLOOR(value * 100.0e0 + 0.5e0) AS BIGINT))
                  AS BIGINT) AS syy
      FROM events),
    d AS (
      SELECT n, sy, syy, sx1y, sx2y, sx1, sx2,
             n * sx11 - sx1 * sx1 AS a11,
             n * sx12 - sx1 * sx2 AS a12,
             n * sx22 - sx2 * sx2 AS a22,
             n * sx1y - sx1 * sy AS b1,
             n * sx2y - sx2 * sy AS b2,
             n * syy - sy * sy AS syy_c
      FROM m),
    b AS (
      SELECT n, sy, sx1, sx2, syy_c, b1, b2,
             (b1 * 1.0e0 * a22 - b2 * 1.0e0 * a12)
               / (a11 * 1.0e0 * a22 - a12 * 1.0e0 * a12) AS beta1,
             (b2 * 1.0e0 * a11 - b1 * 1.0e0 * a12)
               / (a11 * 1.0e0 * a22 - a12 * 1.0e0 * a12) AS beta2
      FROM d)
    SELECT n,
           ROUND((sy - beta1 * sx1 - beta2 * sx2) / (n * 100.0e0), 6)
             AS beta0,
           ROUND(beta1 / 100.0e0, 6) AS beta1,
           ROUND(beta2 / 100.0e0, 6) AS beta2,
           ROUND((beta1 * b1 + beta2 * b2) / (syy_c * 1.0e0), 6) AS r2
    FROM b
    """


@q("ols_multifeature", oracle=_OLS_SQL)
def ols_multifeature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-feature OLS (value ~ hour-of-cycle + user-class + intercept)
    solved in closed form from the 3x3 normal equations — the
    multivariate extension of ``theil_sen_daily_trend``'s single-slope
    fit and the regression companion to ``metric_correlation_matrix``.

    Everything aggregated is INTEGER (features are small residues; the
    response snaps to 1e-2 units, keeping Σy² under 2^63 at any test
    SF), so the one full-scan reduction is order-free and both engines
    derive betas/R² from bit-identical sums; the Cramer solve + R² =
    explained/total centered sums then run in IEEE doubles on one row.

    Scale shape: ONE scan, ONE single-row partial agg — no shuffle of
    data rows at all. The normal-equation matrix is fixed-size (p=3);
    this is exactly how a 10^12-row regression should be computed
    (map-side moment accumulation), not via per-row gradient steps.
    """
    yu = F.floor(F.col("value") * 100.0 + 0.5).cast("long")
    x1 = F.col("event_id") % 24
    x2 = F.col("user_id") % 7
    m = t(spark, sf_dir, "events").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(x1).cast("long").alias("sx1"),
        F.sum(x2).cast("long").alias("sx2"),
        F.sum(x1 * x1).cast("long").alias("sx11"),
        F.sum(x2 * x2).cast("long").alias("sx22"),
        F.sum(x1 * x2).cast("long").alias("sx12"),
        F.sum(yu).cast("long").alias("sy"),
        F.sum(x1 * yu).cast("long").alias("sx1y"),
        F.sum(x2 * yu).cast("long").alias("sx2y"),
        F.sum(yu * yu).cast("long").alias("syy"),
    )
    d = m.select(
        "*",
        (F.col("n") * F.col("sx11") - F.col("sx1") * F.col("sx1")).alias(
            "a11"
        ),
        (F.col("n") * F.col("sx12") - F.col("sx1") * F.col("sx2")).alias(
            "a12"
        ),
        (F.col("n") * F.col("sx22") - F.col("sx2") * F.col("sx2")).alias(
            "a22"
        ),
        (F.col("n") * F.col("sx1y") - F.col("sx1") * F.col("sy")).alias(
            "b1"
        ),
        (F.col("n") * F.col("sx2y") - F.col("sx2") * F.col("sy")).alias(
            "b2"
        ),
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).alias(
            "syy_c"
        ),
    )
    det = (
        F.col("a11") * 1.0 * F.col("a22")
        - F.col("a12") * 1.0 * F.col("a12")
    )
    beta1 = (
        F.col("b1") * 1.0 * F.col("a22") - F.col("b2") * 1.0 * F.col("a12")
    ) / det
    beta2 = (
        F.col("b2") * 1.0 * F.col("a11") - F.col("b1") * 1.0 * F.col("a12")
    ) / det
    b = d.select("n", "sy", "sx1", "sx2", "syy_c", "b1", "b2",
                 beta1.alias("beta1x"), beta2.alias("beta2x"))
    return b.select(
        "n",
        F.round(
            (
                F.col("sy")
                - F.col("beta1x") * F.col("sx1")
                - F.col("beta2x") * F.col("sx2")
            )
            / (F.col("n") * 100.0),
            6,
        ).alias("beta0"),
        F.round(F.col("beta1x") / 100.0, 6).alias("beta1"),
        F.round(F.col("beta2x") / 100.0, 6).alias("beta2"),
        F.round(
            (F.col("beta1x") * F.col("b1") + F.col("beta2x") * F.col("b2"))
            / (F.col("syy_c") * 1.0),
            6,
        ).alias("r2"),
    )


# ---------------------------------------------------------------------------
# hierarchy subtree rollup via closed-form ancestor enumeration
# ---------------------------------------------------------------------------

_TREE_MAX_DEPTH = 21  # covers node ids < 2^21 (heap-ordered binary tree)
_TREE_TOP = 63  # report the top 6 levels (ancestors 1..63)

_TREE_SQL = f"""
    WITH nodes AS (
      SELECT p_partkey + 1 AS node,
             CAST(FLOOR(p_retailprice * 100.0e0 + 0.5e0) AS BIGINT) AS vu
      FROM part),
    fan AS (
      SELECT CAST(FLOOR(node / POWER(2.0e0, k)) AS BIGINT) AS ancestor, vu
      FROM nodes, UNNEST(range(0, {_TREE_MAX_DEPTH})) AS t(k)
      WHERE FLOOR(node / POWER(2.0e0, k)) >= 1)
    SELECT ancestor,
           CAST(COUNT(*) AS BIGINT) AS n_desc,
           ROUND(SUM(vu) / 100.0e0, 2) AS subtree_value
    FROM fan
    WHERE ancestor <= {_TREE_TOP}
    GROUP BY ancestor ORDER BY ancestor
    """


@q("subtree_rollup", oracle=_TREE_SQL)
def subtree_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy subtree aggregation (category-tree rollup): every part
    is a node of a heap-ordered binary tree (parent = node div 2), and
    each of the top 6 levels reports its full subtree's descendant count
    and value mass — the classic recursive-hierarchy OLAP query
    (org-chart rollups, taxonomy rollups) WITHOUT recursion.

    The trick: in heap ordering the ancestor set of node n is exactly
    {{n div 2^k : k >= 0, result >= 1}} — a CLOSED FORM — so the rollup
    is one Generate (depth-bounded explode, <= 21 ancestors/node) + one
    partial-agg shuffle on the ancestor key. No iterative join, no
    recursive CTE, no driver loop; at 10^12 rows this is a scan. (2^k
    stays exact in doubles through k=21, both engines; values snap to
    1e-2 before summing.)

    The oracle runs the IDENTICAL closed form — correctness rests on the
    pytest that cross-checks a recursive Python tree walk at sf0.001.
    """
    nodes = t(spark, sf_dir, "part").select(
        (F.col("p_partkey") + 1).alias("node"),
        F.floor(F.col("p_retailprice") * 100.0 + 0.5)
        .cast("long")
        .alias("vu"),
    )
    fan = (
        nodes.withColumn(
            "k",
            F.explode(F.sequence(F.lit(0), F.lit(_TREE_MAX_DEPTH - 1))),
        )
        .select(
            F.floor(F.col("node") / F.pow(F.lit(2.0), F.col("k")))
            .cast("long")
            .alias("ancestor"),
            "vu",
        )
        .filter(F.col("ancestor") >= 1)
    )
    return (
        fan.filter(F.col("ancestor") <= _TREE_TOP)
        .groupBy("ancestor")
        .agg(
            F.count("*").cast("long").alias("n_desc"),
            F.round(F.sum("vu") / 100.0, 2).alias("subtree_value"),
        )
        .orderBy("ancestor")
    )


# ---------------------------------------------------------------------------
# incremental view maintenance: base agg + delta merge == full recompute
# ---------------------------------------------------------------------------

_IVM_SQL = """
    WITH base AS (SELECT * FROM events WHERE event_id % 10 <> 0),
    ins AS (SELECT * FROM events WHERE event_id % 10 = 0),
    del AS (SELECT * FROM base WHERE event_id % 7 = 0),
    view_base AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(FLOOR(value * 10000.0e0 + 0.5e0) AS BIGINT))
                  AS BIGINT) AS vsum
      FROM base GROUP BY event_type),
    delta AS (
      SELECT event_type, CAST(SUM(s) AS BIGINT) AS dn,
             CAST(SUM(s * CAST(FLOOR(value * 10000.0e0 + 0.5e0)
                               AS BIGINT)) AS BIGINT) AS dvsum
      FROM (SELECT event_type, value, 1 AS s FROM ins
            UNION ALL
            SELECT event_type, value, -1 AS s FROM del) z
      GROUP BY event_type),
    maintained AS (
      SELECT COALESCE(v.event_type, d.event_type) AS event_type,
             COALESCE(v.n, 0) + COALESCE(d.dn, 0) AS n,
             COALESCE(v.vsum, 0) + COALESCE(d.dvsum, 0) AS vsum
      FROM view_base v FULL OUTER JOIN delta d USING (event_type)),
    final_state AS (
      SELECT * FROM base WHERE event_id % 7 <> 0
      UNION ALL SELECT * FROM ins),
    recomputed AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(FLOOR(value * 10000.0e0 + 0.5e0) AS BIGINT))
                  AS BIGINT) AS vsum
      FROM final_state GROUP BY event_type)
    SELECT m.event_type,
           m.n AS n_rows,
           ROUND(m.vsum / 10000.0e0, 4) AS total_value,
           CAST(m.n = r.n AND m.vsum = r.vsum AS BOOLEAN) AS consistent
    FROM maintained m JOIN recomputed r USING (event_type)
    ORDER BY m.event_type
    """


@q("ivm_agg_delta", oracle=_IVM_SQL)
def ivm_agg_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for a grouped count/sum view: the
    materialized base aggregate absorbs an insert+delete delta batch as
    (+1/-1)-signed partial aggregates merged by full-outer join — the
    lakehouse pattern that keeps a 10^12-row rollup fresh without
    rescanning (the aggregate complement of ``merge_upsert_apply``'s
    row-level MERGE and ``snapshot_diff``'s CDC classification).

    The query maintains AND recomputes, emitting a per-group
    `consistent` flag — the self-auditing form (every flag must be true;
    the pytest asserts it, and the oracle recomputes both paths).

    Scale shape: the base view is aggregated ONCE (in production it is
    already materialized); the delta batch — orders of magnitude smaller
    — is the only new scan; the merge joins two post-agg relations on
    the group key. Values snap to 1e-4 integer units so base+delta
    arithmetic is exact (float sums would drift from the recompute).
    """
    ev = t(spark, sf_dir, "events")
    vu = F.floor(F.col("value") * 10000.0 + 0.5).cast("long")
    base = ev.filter(F.col("event_id") % 10 != 0)
    ins = ev.filter(F.col("event_id") % 10 == 0)
    dele = base.filter(F.col("event_id") % 7 == 0)
    view_base = base.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(vu).cast("long").alias("vsum"),
    )
    signed = ins.select(
        "event_type", vu.alias("vu"), F.lit(1).alias("s")
    ).unionAll(
        dele.select("event_type", vu.alias("vu"), F.lit(-1).alias("s"))
    )
    delta = signed.groupBy("event_type").agg(
        F.sum("s").cast("long").alias("dn"),
        F.sum(F.col("s") * F.col("vu")).cast("long").alias("dvsum"),
    )
    maintained = (
        view_base.join(delta, "event_type", "full_outer")
        .select(
            "event_type",
            (
                F.coalesce(F.col("n"), F.lit(0))
                + F.coalesce(F.col("dn"), F.lit(0))
            ).alias("n"),
            (
                F.coalesce(F.col("vsum"), F.lit(0))
                + F.coalesce(F.col("dvsum"), F.lit(0))
            ).alias("vsum"),
        )
    )
    final_state = base.filter(F.col("event_id") % 7 != 0).unionAll(ins)
    recomputed = final_state.groupBy("event_type").agg(
        F.count("*").cast("long").alias("rn"),
        F.sum(vu).cast("long").alias("rvsum"),
    )
    return (
        maintained.join(recomputed, "event_type")
        .select(
            "event_type",
            F.col("n").alias("n_rows"),
            F.round(F.col("vsum") / 10000.0, 4).alias("total_value"),
            (
                (F.col("n") == F.col("rn"))
                & (F.col("vsum") == F.col("rvsum"))
            ).alias("consistent"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# interpolated bigram language-model scoring (bits per bigram position)
# ---------------------------------------------------------------------------

_BLM_LAMBDA = "0.7e0"  # bigram weight; (1-lambda) backs off to unigram

_BLM_SQL = f"""
    WITH toks AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
                  FROM documents),
    uc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY w),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM uc),
    bg AS (SELECT doc_id, lang, w[i] AS w1, w[i + 1] AS w2
           FROM (SELECT doc_id, lang, string_split(text, ' ') AS w
                 FROM documents) d,
                LATERAL unnest(generate_series(1, len(w) - 1)) AS t(i)),
    bc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cb
           FROM bg GROUP BY w1, w2),
    ctx AS (SELECT w1, CAST(SUM(cb) AS BIGINT) AS c1 FROM bc GROUP BY w1),
    bits AS (
      SELECT g.doc_id, g.lang,
             ROUND(-LOG2({_BLM_LAMBDA} * bc.cb / CAST(ctx.c1 AS DOUBLE)
                         + (1.0e0 - {_BLM_LAMBDA})
                           * uc.c / CAST(tot.n AS DOUBLE)), 10) AS b
      FROM bg g
      JOIN bc ON g.w1 = bc.w1 AND g.w2 = bc.w2
      JOIN ctx ON g.w1 = ctx.w1
      JOIN uc ON g.w2 = uc.w
      CROSS JOIN tot),
    d AS (SELECT doc_id, lang, ROUND(AVG(b), 6) AS score
          FROM bits GROUP BY doc_id, lang)
    SELECT lang, CAST(FLOOR(score) AS BIGINT) AS bits_band,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(score), 4) AS avg_bits,
           ROUND(MIN(score), 4) AS min_bits,
           ROUND(MAX(score), 4) AS max_bits
    FROM d GROUP BY lang, bits_band ORDER BY lang, bits_band
    """


@q("bigram_logprob_interp", oracle=_BLM_SQL)
def bigram_logprob_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram language-model scoring — the CCNet/KenLM
    perplexity filter one order up from ``unigram_logprob``: each bigram
    position scores -log2(λ·p(w2|w1) + (1−λ)·p(w2)), the Jelinek-Mercer
    interpolation that keeps unseen-context backoff well-defined without
    discount bookkeeping; per-doc mean bits band into the same per-lang
    quality histogram. Low bits = formulaic/boilerplate docs, high bits
    = noise — the two tails a perplexity filter trims.

    Exactness: per-position bits snap to 10 dp before the per-doc AVG
    (the ``unigram_logprob`` discipline — counts are exact integers, the
    only float is one LOG2 per distinct model row).

    Scale shape: the bigram model is two partial aggs over in-row zipped
    pairs (never a token self-join — the ``bigram_freq`` shape); scoring
    joins the exploded corpus to the model on well-spread (w1, w2) /
    w1 / w2 keys; the context-count relation derives from the ALREADY
    aggregated bigram counts, not a second corpus pass.
    """
    d = t(spark, sf_dir, "documents")
    w = F.split("text", " ")
    n = F.size(w)
    toks = d.select("doc_id", "lang", F.explode(w).alias("w"))
    uc = toks.groupBy("w").agg(F.count("*").cast("long").alias("c"))
    tot = uc.agg(F.sum("c").cast("long").alias("n"))
    pairs = F.zip_with(
        F.slice(w, 1, n - 1),
        F.slice(w, 2, n - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    bg = d.select(
        "doc_id", "lang", F.explode(pairs).alias("p")
    ).select("doc_id", "lang", F.col("p.w1").alias("w1"),
             F.col("p.w2").alias("w2"))
    bc = bg.groupBy("w1", "w2").agg(
        F.count("*").cast("long").alias("cb")
    )
    ctx = bc.groupBy("w1").agg(F.sum("cb").cast("long").alias("c1"))
    lam = 0.7
    bits = (
        bg.join(bc, ["w1", "w2"])
        .join(ctx, "w1")
        .join(uc.select(F.col("w").alias("w2"), "c"), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "lang",
            F.round(
                -F.log2(
                    lam * F.col("cb") / F.col("c1")
                    + (1.0 - lam) * F.col("c") / F.col("n")
                ),
                10,
            ).alias("b"),
        )
    )
    doc = bits.groupBy("doc_id", "lang").agg(
        F.round(F.avg("b"), 6).alias("score")
    )
    return (
        doc.groupBy(
            "lang", F.floor("score").cast("long").alias("bits_band")
        )
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.round(F.avg("score"), 4).alias("avg_bits"),
            F.round(F.min("score"), 4).alias("min_bits"),
            F.round(F.max("score"), 4).alias("max_bits"),
        )
        .orderBy("lang", "bits_band")
    )


# ---------------------------------------------------------------------------
# training-sequence packing plan (sample packing for LLM pretraining)
# ---------------------------------------------------------------------------

_PK_CTX = 64  # context-window token budget (sized so fixture docs, 10-99
# words, exercise BOTH paths: some docs truncate, several pack per window)
_PK_SHARDS = 16  # packing units; at scale this is the writer-task count
# (one shard ~ one output file's worth of docs), so the per-shard array the
# fold runs over is bounded by shard sizing, not corpus size
_PK_BIG = 10_000_000_000  # key encoding stride: (CTX - c) * BIG + doc_id
_PK_K = 100_000  # fold-state stride: state = n_closed_bins * K + fill

_SEQ_PACK_SQL = f"""
    WITH d AS (
      SELECT doc_id, doc_id % {_PK_SHARDS} AS shard,
             len(string_split(text, ' ')) AS n_tok
      FROM documents),
    enc AS (
      SELECT shard, n_tok, LEAST(n_tok, {_PK_CTX}) AS c,
             ({_PK_CTX} - LEAST(n_tok, {_PK_CTX})) * {_PK_BIG} + doc_id AS key
      FROM d),
    packed AS (
      SELECT shard,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
             CAST(SUM(c) AS BIGINT) AS packed_tokens,
             CAST(SUM(CASE WHEN n_tok > {_PK_CTX} THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_truncated,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT), list_sort(list(key))),
               (acc, x) -> CASE
                 WHEN acc % {_PK_K} + ({_PK_CTX} - x // {_PK_BIG}) > {_PK_CTX}
                 THEN (acc // {_PK_K} + 1) * {_PK_K}
                      + ({_PK_CTX} - x // {_PK_BIG})
                 ELSE acc + ({_PK_CTX} - x // {_PK_BIG}) END) AS st
      FROM enc GROUP BY shard)
    SELECT shard, n_docs,
           CAST(st // {_PK_K}
                + CASE WHEN st % {_PK_K} > 0 THEN 1 ELSE 0 END
                AS BIGINT) AS n_bins,
           total_tokens, packed_tokens,
           CAST((st // {_PK_K}
                 + CASE WHEN st % {_PK_K} > 0 THEN 1 ELSE 0 END)
                * {_PK_CTX} - packed_tokens AS BIGINT) AS waste_tokens,
           ROUND(packed_tokens * 1.0e0
                 / ((st // {_PK_K}
                     + CASE WHEN st % {_PK_K} > 0 THEN 1 ELSE 0 END)
                    * {_PK_CTX}), 6) AS fill_ratio,
           n_truncated
    FROM packed ORDER BY shard
    """


@q("sequence_packing_plan", oracle=_SEQ_PACK_SQL)
def sequence_packing_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing plan (sample packing for LLM
    pretraining): documents are dealt to deterministic shards (one shard
    = one writer task's worth of docs, the production packing unit),
    truncated to the context budget, then greedily packed
    next-fit-decreasing into fixed CTX-token windows; per shard emit the
    window count, fill efficiency, padding waste, and truncation count —
    the feasibility numbers a pretraining data plan is costed from.

    Determinism across engines: the per-shard doc list is encoded as a
    single BIGINT key ((CTX - c)·10^10 + doc_id, so an ascending sort IS
    count-descending with doc_id tiebreak) and the greedy next-fit fold
    carries its whole state in one BIGINT (closed_bins·10^5 + fill) — a
    pure-integer fold that Spark's ``aggregate`` and DuckDB's
    ``list_reduce`` execute identically (float enters only at the final
    fill-ratio ROUND of an integer ratio).

    Scale shape: one shard-keyed partial-agg shuffle; the fold is in-row
    over a shard's docs, bounded because shard count scales with corpus
    size (shards = corpus_tokens / target_file_tokens at 100 TB — the
    same bounded-buffer argument as the reference's per-file batching,
    uk-osm-data-processor scripts/import/03_parallel_import.sh's
    fixed-size import chunks).
    """
    docs = t(spark, sf_dir, "documents").select(
        F.col("doc_id"),
        (F.col("doc_id") % _PK_SHARDS).alias("shard"),
        F.size(F.split(F.col("text"), " ")).alias("n_tok"),
    )
    enc = docs.select(
        "shard",
        "n_tok",
        F.least(F.col("n_tok"), F.lit(_PK_CTX)).alias("c"),
        (
            (F.lit(_PK_CTX) - F.least(F.col("n_tok"), F.lit(_PK_CTX)))
            * F.lit(_PK_BIG).cast("long")
            + F.col("doc_id")
        ).alias("key"),
    )
    fold = (
        f"aggregate(sort_array(collect_list(key)), 0L, (acc, x) -> "
        f"CASE WHEN acc % {_PK_K} + ({_PK_CTX} - x div {_PK_BIG}) > {_PK_CTX} "
        f"THEN (acc div {_PK_K} + 1) * {_PK_K} + ({_PK_CTX} - x div {_PK_BIG}) "
        f"ELSE acc + ({_PK_CTX} - x div {_PK_BIG}) END)"
    )
    packed = enc.groupBy("shard").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
        F.sum("c").cast("long").alias("packed_tokens"),
        F.sum((F.col("n_tok") > _PK_CTX).cast("long"))
        .cast("long")
        .alias("n_truncated"),
        F.expr(fold).alias("st"),
    )
    n_bins = (
        F.expr(f"st div {_PK_K}")
        + F.when(F.col("st") % _PK_K > 0, F.lit(1)).otherwise(F.lit(0))
    ).cast("long")
    return packed.select(
        "shard",
        "n_docs",
        n_bins.alias("n_bins"),
        "total_tokens",
        "packed_tokens",
        (n_bins * _PK_CTX - F.col("packed_tokens"))
        .cast("long")
        .alias("waste_tokens"),
        F.round(
            F.col("packed_tokens") * F.lit(1.0) / (n_bins * _PK_CTX), 6
        ).alias("fill_ratio"),
        "n_truncated",
    ).orderBy("shard")


# ---------------------------------------------------------------------------
# foreign-key orphan audit (referential-integrity verification)
# ---------------------------------------------------------------------------

_FK_DROP_MOD = 97  # simulated partial dim load: parent keys with
# key % 97 == 0 are treated as missing, so the audit is exercised on a
# fixture whose raw FKs are (by construction) fully consistent


def _fk_arm_sql(rel: str, child: str, fk: str, parent: str, pk: str) -> str:
    return f"""
    SELECT '{rel}' AS relation,
           CAST(COUNT(*) AS BIGINT) AS n_child,
           CAST(COUNT(*) FILTER (WHERE p.{pk} IS NULL) AS BIGINT)
             AS n_orphan_rows,
           CAST(COUNT(DISTINCT CASE WHEN p.{pk} IS NULL THEN c.{fk} END)
             AS BIGINT) AS n_orphan_keys,
           ROUND(COUNT(*) FILTER (WHERE p.{pk} IS NULL) * 1.0e0
                 / COUNT(*), 6) AS orphan_ratio,
           MIN(CASE WHEN p.{pk} IS NULL THEN c.{fk} END) AS min_orphan_key,
           MAX(CASE WHEN p.{pk} IS NULL THEN c.{fk} END) AS max_orphan_key
    FROM {child} c LEFT JOIN
      (SELECT {pk} FROM {parent} WHERE {pk} % {_FK_DROP_MOD} <> 0) p
      ON c.{fk} = p.{pk}"""


_FK_ARMS = [
    ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
]

_FK_ORPHAN_SQL = (
    " UNION ALL ".join(_fk_arm_sql(*arm) for arm in _FK_ARMS)
    + " ORDER BY relation"
)


@q("fk_orphan_audit", oracle=_FK_ORPHAN_SQL)
def fk_orphan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity orphan audit over every FK relation of the
    star schema (the reference's import-verification surface,
    uk-osm-data-processor scripts/verify/verify_import.py's row-count /
    consistency checks, generalized to FK orphan detection): per relation
    emit child row count, orphaned rows/keys, the orphan ratio, and the
    orphan key range. A deterministic partial-dim-load simulation
    (parent keys % 97 == 0 dropped) keeps the audit path non-degenerate
    on the referentially-consistent fixture.

    Scale shape: each arm is one LEFT equi-join of the (big) child
    against the parent's KEY COLUMN ONLY — dims prune to a single int64
    column before the join and the two lineitem-side arms share the scan;
    counts are partial aggs. No arm sorts or windows the child.
    """
    out = []
    for rel, child, fk, parent, pk in _FK_ARMS:
        c = t(spark, sf_dir, child).select(fk)
        p = (
            t(spark, sf_dir, parent)
            .select(pk)
            .where(F.col(pk) % _FK_DROP_MOD != 0)
        )
        j = c.join(p, c[fk] == p[pk], "left")
        orphan_key = F.when(F.col(pk).isNull(), F.col(fk))
        out.append(
            j.agg(
                F.lit(rel).alias("relation"),
                F.count("*").cast("long").alias("n_child"),
                F.sum(F.col(pk).isNull().cast("long"))
                .cast("long")
                .alias("n_orphan_rows"),
                F.countDistinct(orphan_key).cast("long").alias("n_orphan_keys"),
                F.round(
                    F.sum(F.col(pk).isNull().cast("long"))
                    * F.lit(1.0)
                    / F.count("*"),
                    6,
                ).alias("orphan_ratio"),
                F.min(orphan_key).alias("min_orphan_key"),
                F.max(orphan_key).alias("max_orphan_key"),
            ).select(
                "relation", "n_child", "n_orphan_rows", "n_orphan_keys",
                "orphan_ratio", "min_orphan_key", "max_orphan_key",
            )
        )
    res = out[0]
    for o in out[1:]:
        res = res.unionAll(o)
    return res.orderBy("relation")


# ---------------------------------------------------------------------------
# SCD Type-2 dimension build (validity intervals from daily snapshots)
# ---------------------------------------------------------------------------

_SCD2_SQL = """
    WITH snap AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
             MAX(event_type) AS attr
      FROM events GROUP BY user_id, CAST(date_trunc('day', ts) AS DATE)),
    chg AS (
      SELECT user_id, day, attr,
             CASE WHEN LAG(attr) OVER w IS NULL
                    OR LAG(attr) OVER w <> attr THEN 1 ELSE 0 END AS is_new
      FROM snap WINDOW w AS (PARTITION BY user_id ORDER BY day)),
    ver AS (
      SELECT user_id, day, attr,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY day
                               ROWS UNBOUNDED PRECEDING) AS version
      FROM chg),
    runs AS (
      SELECT user_id, CAST(version AS BIGINT) AS version,
             MIN(attr) AS attr, MIN(day) AS valid_from,
             CAST(COUNT(*) AS BIGINT) AS n_days_observed
      FROM ver GROUP BY user_id, version)
    SELECT user_id, version, attr, valid_from,
           COALESCE(LEAD(valid_from) OVER (PARTITION BY user_id
                                           ORDER BY version),
                    DATE '9999-12-31') AS valid_to,
           n_days_observed,
           LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY version)
             IS NULL AS is_current
    FROM runs ORDER BY user_id, version
    """


@q("scd2_dimension_build", oracle=_SCD2_SQL)
def scd2_dimension_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension Type-2 build: collapse each user's daily
    attribute snapshots (attr = MAX(event_type) per user-day — a
    deterministic stand-in for the dimension attribute) into validity
    intervals [valid_from, valid_to) with an is_current flag — the
    lakehouse dimension-history primitive beside ``snapshot_diff`` (CDC
    row states) and ``merge_upsert_apply`` (MERGE arms).

    Scale shape: one user/day partial agg, then every window (LAG change
    flag, running version sum, LEAD valid_to) is USER-KEYED — the
    snapshot agg and the windows share one user-hash exchange; no global
    sort. The final ORDER BY is presentation-only.
    """
    ev = t(spark, sf_dir, "events")
    snap = ev.groupBy(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(F.max("event_type").alias("attr"))
    w = Window.partitionBy("user_id").orderBy("day")
    chg = snap.withColumn(
        "is_new",
        F.when(
            F.lag("attr").over(w).isNull()
            | (F.lag("attr").over(w) != F.col("attr")),
            1,
        ).otherwise(0),
    )
    ver = chg.withColumn(
        "version", F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    runs = ver.groupBy("user_id", F.col("version").cast("long").alias("version")).agg(
        F.min("attr").alias("attr"),
        F.min("day").alias("valid_from"),
        F.count("*").cast("long").alias("n_days_observed"),
    )
    wv = Window.partitionBy("user_id").orderBy("version")
    return (
        runs.select(
            "user_id",
            "version",
            "attr",
            "valid_from",
            F.coalesce(
                F.lead("valid_from").over(wv), F.lit("9999-12-31").cast("date")
            ).alias("valid_to"),
            "n_days_observed",
            F.lead("valid_from").over(wv).isNull().alias("is_current"),
        )
        .orderBy("user_id", "version")
    )


# ---------------------------------------------------------------------------
# merge-on-read delete application (Iceberg position + equality deletes)
# ---------------------------------------------------------------------------

_MOR_FILES = 40  # synthesized data-file count
_MOR_DV = 11  # position-delete schedule modulus
_MOR_EQK = 251  # equality-delete key-space modulus
_MOR_EQV = 17  # deleted key residue

_MOR_SQL = f"""
    WITH base AS (
      SELECT l_orderkey % {_MOR_FILES} AS file_id,
             (l_orderkey // {_MOR_FILES}) * 10 + l_linenumber AS pos,
             l_partkey
      FROM lineitem),
    posdel AS (
      SELECT file_id, pos FROM base
      WHERE (file_id * 31 + pos) % {_MOR_DV} = 0),
    eqdel AS (
      SELECT DISTINCT l_partkey FROM base
      WHERE l_partkey % {_MOR_EQK} = {_MOR_EQV}),
    marked AS (
      SELECT b.file_id, b.pos, b.l_partkey,
             p.pos IS NOT NULL AS pos_hit,
             e.l_partkey IS NOT NULL AS eq_hit
      FROM base b
      LEFT JOIN posdel p ON b.file_id = p.file_id AND b.pos = p.pos
      LEFT JOIN eqdel e ON b.l_partkey = e.l_partkey)
    SELECT file_id,
           CAST(COUNT(*) AS BIGINT) AS n_base,
           CAST(COUNT(*) FILTER (WHERE pos_hit) AS BIGINT) AS n_pos_del,
           CAST(COUNT(*) FILTER (WHERE eq_hit AND NOT pos_hit) AS BIGINT)
             AS n_eq_del,
           CAST(COUNT(*) FILTER (WHERE NOT pos_hit AND NOT eq_hit)
                AS BIGINT) AS n_live,
           CAST(COALESCE(SUM(CASE WHEN NOT pos_hit AND NOT eq_hit
                             THEN l_partkey + pos END), 0) AS BIGINT)
             AS live_sum
    FROM marked GROUP BY file_id ORDER BY file_id
    """


@q("mor_delete_apply", oracle=_MOR_SQL)
def mor_delete_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read delete application — the Iceberg v2 read path the
    input-hint's table format needs: base data files carry (file, pos)
    row addresses, POSITION deletes (deletion vectors) remove specific
    addresses, EQUALITY deletes remove every row matching a key, and a
    reader reconstructs the live rows without rewriting data files.
    Per-file audit: base/deleted/live row counts (position deletes take
    precedence — an address already deleted by DV is not re-counted as
    an equality delete, matching the spec's apply order) plus an
    additive int64 checksum of the live rows (distributed — never an
    md5-of-concatenation that would serialize through one task).

    Scale shape: the DV join is keyed (file_id, pos) — co-partitioned
    with the base file layout, so at scale it is a per-file local probe
    (Iceberg readers apply DVs file-locally); the equality-delete side
    is a DISTINCT key set, broadcast-sized by design (equality deletes
    are written by trickle updates, compacted away by maintenance).
    Counts are one file-keyed partial agg.
    """
    li = t(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") % _MOR_FILES).alias("file_id"),
        (
            (F.col("l_orderkey") / _MOR_FILES).cast("long") * 10
            + F.col("l_linenumber")
        ).alias("pos"),
        "l_partkey",
    )
    posdel = li.where(
        (F.col("file_id") * 31 + F.col("pos")) % _MOR_DV == 0
    ).select(
        F.col("file_id").alias("pd_file"), F.col("pos").alias("pd_pos")
    )
    eqdel = (
        li.where(F.col("l_partkey") % _MOR_EQK == _MOR_EQV)
        .select(F.col("l_partkey").alias("eq_key"))
        .distinct()
    )
    marked = (
        li.join(
            posdel,
            (F.col("file_id") == F.col("pd_file"))
            & (F.col("pos") == F.col("pd_pos")),
            "left",
        )
        .join(
            F.broadcast(eqdel), F.col("l_partkey") == F.col("eq_key"), "left"
        )
        .select(
            "file_id",
            "pos",
            "l_partkey",
            F.col("pd_pos").isNotNull().alias("pos_hit"),
            F.col("eq_key").isNotNull().alias("eq_hit"),
        )
    )
    live = ~F.col("pos_hit") & ~F.col("eq_hit")
    return (
        marked.groupBy("file_id")
        .agg(
            F.count("*").cast("long").alias("n_base"),
            F.sum(F.col("pos_hit").cast("long")).cast("long").alias("n_pos_del"),
            F.sum((F.col("eq_hit") & ~F.col("pos_hit")).cast("long"))
            .cast("long")
            .alias("n_eq_del"),
            F.sum(live.cast("long")).cast("long").alias("n_live"),
            F.coalesce(
                F.sum(F.when(live, F.col("l_partkey") + F.col("pos"))),
                F.lit(0),
            )
            .cast("long")
            .alias("live_sum"),
        )
        .orderBy("file_id")
    )


# ---------------------------------------------------------------------------
# vacuum retention audit (reclaimable storage per retention window)
# ---------------------------------------------------------------------------

_VAC_WINDOWS = (1, 2, 4, 8)  # candidate retention windows, in versions

_VAC_SQL = f"""
    WITH log AS (
      SELECT doc_id AS file_id,
             CAST(n_chars AS BIGINT) AS bytes,
             CASE WHEN doc_id % 3 = 0
                  THEN CAST(doc_id % 5 + 1 + doc_id % 4 AS BIGINT)
             END AS removed_v
      FROM documents),
    w AS (SELECT CAST(k AS BIGINT) AS retention
          FROM UNNEST([{", ".join(str(w) for w in _VAC_WINDOWS)}]) AS t(k)),
    marked AS (
      SELECT w.retention, l.bytes,
             l.removed_v IS NOT NULL AS is_removed,
             l.removed_v IS NOT NULL
               AND l.removed_v <= {_TT_MAX_V} - w.retention AS eligible
      FROM w CROSS JOIN log l)
    SELECT retention,
           CAST(COUNT(*) FILTER (WHERE eligible) AS BIGINT)
             AS n_vacuum_files,
           CAST(COALESCE(SUM(bytes) FILTER (WHERE eligible), 0) AS BIGINT)
             AS reclaim_bytes,
           CAST(COUNT(*) FILTER (WHERE is_removed AND NOT eligible)
                AS BIGINT) AS n_retained_tombstones,
           ROUND(COALESCE(SUM(bytes) FILTER (WHERE eligible), 0) * 1.0e0
                 / SUM(bytes), 6) AS reclaim_frac
    FROM marked GROUP BY retention ORDER BY retention
    """


@q("vacuum_retention_audit", oracle=_VAC_SQL)
def vacuum_retention_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM planning over the ``time_travel_file_state`` add/remove
    log: for each candidate retention window, how many removed files are
    no longer referenced by ANY snapshot inside the window (removed_v ≤
    current − retention ⇒ physically deletable), how many bytes that
    reclaims, and how many tombstones must stay for time travel — the
    storage-maintenance decision table every lakehouse runs before
    expiring snapshots.

    Scale shape: the retention spine is 4 literal rows broadcast against
    one scan of the file log; everything else is a retention-keyed
    partial agg. No joins between big relations, no sort.
    """
    log = t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("file_id"),
        F.col("n_chars").cast("long").alias("bytes"),
        F.when(
            F.col("doc_id") % 3 == 0,
            (F.col("doc_id") % 5 + 1 + F.col("doc_id") % 4).cast("long"),
        ).alias("removed_v"),
    )
    w = (
        log.sparkSession.range(1)
        .select(
            F.explode(
                F.array(*[F.lit(x).cast("long") for x in _VAC_WINDOWS])
            ).alias("retention")
        )
    )
    marked = log.crossJoin(F.broadcast(w)).select(
        "retention",
        "bytes",
        F.col("removed_v").isNotNull().alias("is_removed"),
        (
            F.col("removed_v").isNotNull()
            & (F.col("removed_v") <= F.lit(_TT_MAX_V) - F.col("retention"))
        ).alias("eligible"),
    )
    return (
        marked.groupBy("retention")
        .agg(
            F.sum(F.col("eligible").cast("long"))
            .cast("long")
            .alias("n_vacuum_files"),
            F.coalesce(
                F.sum(F.when(F.col("eligible"), F.col("bytes"))), F.lit(0)
            )
            .cast("long")
            .alias("reclaim_bytes"),
            F.sum((F.col("is_removed") & ~F.col("eligible")).cast("long"))
            .cast("long")
            .alias("n_retained_tombstones"),
            F.round(
                F.coalesce(
                    F.sum(F.when(F.col("eligible"), F.col("bytes"))),
                    F.lit(0),
                )
                * F.lit(1.0)
                / F.sum("bytes"),
                6,
            ).alias("reclaim_frac"),
        )
        .orderBy("retention")
    )


# ---------------------------------------------------------------------------
# RFM customer segmentation (exact quintiles, no single-partition window)
# ---------------------------------------------------------------------------

_RFM_CASE = (
    "CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4 "
    "     THEN 'champions' "
    "     WHEN r_score >= 4 AND f_score <= 2 THEN 'new_or_returning' "
    "     WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk_loyal' "
    "     WHEN r_score <= 2 AND m_score <= 2 THEN 'hibernating' "
    "     WHEN m_score >= 4 THEN 'big_spender' "
    "     ELSE 'regular' END"
)

_RFM_SQL = f"""
    WITH g AS (SELECT MAX(o_orderdate) AS mx FROM orders),
    cust AS (SELECT o_custkey AS custkey,
                    DATE_DIFF('day', MAX(o_orderdate), (SELECT mx FROM g))
                      AS recency_days,
                    CAST(COUNT(*) AS BIGINT) AS frequency,
                    CAST(SUM(CAST(FLOOR(o_totalprice * 100.0e0 + 0.5e0)
                                  AS BIGINT)) AS BIGINT) AS monetary_cents
             FROM orders GROUP BY o_custkey),
    scored AS (SELECT custkey, monetary_cents,
                      6 - NTILE(5) OVER (ORDER BY recency_days, custkey)
                        AS r_score,
                      NTILE(5) OVER (ORDER BY frequency, custkey) AS f_score,
                      NTILE(5) OVER (ORDER BY monetary_cents, custkey)
                        AS m_score
               FROM cust)
    SELECT {_RFM_CASE} AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(AVG(r_score * 1.0e0), 4) AS avg_r,
           ROUND(AVG(f_score * 1.0e0), 4) AS avg_f,
           ROUND(AVG(m_score * 1.0e0), 4) AS avg_m,
           ROUND(SUM(monetary_cents) / 100.0e0, 2) AS total_monetary
    FROM scored GROUP BY 1 ORDER BY segment
    """


@q("rfm_segments", oracle=_RFM_SQL)
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation — THE
    classic marketing-analytics rollup: per-customer R/F/M metrics from
    orders, exact quintile scores 1-5 per metric, and the named-segment
    CASE (champions / at-risk / hibernating / ...) shared as one
    expression string with the oracle.

    Exactness: all three metrics are integers (days, counts, cents — the
    monetary sum is quantized BEFORE summing so engine float-sum order
    can't reorder ranks), and quintiles come from the two-level exact
    ranking machinery (analytics/ranking.py) with custkey tiebreaks —
    bit-identical to the oracle's NTILE(5) windows without any
    single-partition sort (the round-2 value_deciles discipline).

    Scale shape: one customer-keyed partial agg builds the metric
    relation (bounded by |customers|); each quintile is a 64-way-bucketed
    rank, and the segment rollup is a 6-row agg.
    """
    from osmgraft.analytics.ranking import ntile_from_rank, with_global_ranks

    orders = t(spark, sf_dir, "orders")
    mx = orders.agg(F.max("o_orderdate").alias("mx"))
    cust = (
        orders.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max("o_orderdate").alias("last_dt"),
            F.count("*").cast("long").alias("frequency"),
            F.sum(
                F.expr(
                    "CAST(FLOOR(o_totalprice * 100.0e0 + 0.5e0) AS BIGINT)"
                )
            )
            .cast("long")
            .alias("monetary_cents"),
        )
        .crossJoin(F.broadcast(mx))
        .select(
            "custkey",
            F.datediff("mx", "last_dt").alias("recency_days"),
            "frequency",
            "monetary_cents",
        )
        # the three rank passes + count drive 7 bounded driver actions
        # (approxQuantile/bucket-count per metric); cut once so each
        # action walks the |customers|-bounded relation, not the orders
        # scan + agg again
        .transform(cut)
    )
    n_rows = cust.count()
    # one fused probe + one fused bucket-count action for all three
    # metrics (with_global_ranks) instead of two actions per metric
    r = with_global_ranks(
        cust,
        [
            (["recency_days", "custkey"], "_rr"),
            (["frequency", "custkey"], "_rf"),
            (["monetary_cents", "custkey"], "_rm"),
        ],
    )
    r = (
        r.withColumn("r_score", 6 - ntile_from_rank(F.col("_rr"), n_rows, 5))
        .withColumn("f_score", ntile_from_rank(F.col("_rf"), n_rows, 5))
        .withColumn("m_score", ntile_from_rank(F.col("_rm"), n_rows, 5))
        .drop("_rr", "_rf", "_rm")
    )
    return (
        r.select(F.expr(_RFM_CASE).alias("segment"), "r_score", "f_score",
                 "m_score", "monetary_cents")
        .groupBy("segment")
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            F.round(F.avg(F.col("r_score") * 1.0), 4).alias("avg_r"),
            F.round(F.avg(F.col("f_score") * 1.0), 4).alias("avg_f"),
            F.round(F.avg(F.col("m_score") * 1.0), 4).alias("avg_m"),
            F.round(F.sum("monetary_cents") / 100.0, 2).alias(
                "total_monetary"
            ),
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# item-item collaborative-filtering similarity (co-purchase cosine)
# ---------------------------------------------------------------------------

_CF_CAP = 20  # per-customer basket cap — the standard CF scale bound
_CF_COSINE = "(CAST(co AS DOUBLE) / SQRT(na * 1.0e0 * nb))"

_ITEM_CF_SQL = f"""
    WITH basket0 AS (
      SELECT o.o_custkey AS custkey, l.l_partkey AS partkey,
             CAST(COUNT(*) AS BIGINT) AS n_buys
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2),
    basket AS (
      SELECT custkey, partkey FROM (
        SELECT custkey, partkey,
               ROW_NUMBER() OVER (PARTITION BY custkey
                                  ORDER BY n_buys DESC, partkey) AS rn
        FROM basket0) WHERE rn <= {_CF_CAP}),
    norms AS (SELECT partkey, CAST(COUNT(*) AS BIGINT) AS nu
              FROM basket GROUP BY partkey),
    pairs AS (
      SELECT a.partkey AS part_a, b.partkey AS part_b,
             CAST(COUNT(*) AS BIGINT) AS co
      FROM basket a JOIN basket b
        ON a.custkey = b.custkey AND a.partkey < b.partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= 2),
    sim AS (
      SELECT p.part_a, p.part_b, p.co, x.nu AS na, y.nu AS nb,
             {_CF_COSINE} AS cosine
      FROM pairs p JOIN norms x ON p.part_a = x.partkey
                   JOIN norms y ON p.part_b = y.partkey)
    SELECT part_a, part_b, co AS co_count, na, nb,
           ROUND(cosine, 4) AS cosine
    FROM sim ORDER BY cosine DESC, part_a, part_b LIMIT 20
    """


@q("item_cf_similarity", oracle=_ITEM_CF_SQL)
def item_cf_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering: top-20 co-purchase cosine pairs
    (sim = |U_a ∩ U_b| / sqrt(|U_a|·|U_b|) over customer baskets, min
    co-count 2) — the classic Amazon-style "customers who bought X also
    bought Y" precompute, built on orders ⋈ lineitem.

    Scale shape: per-customer baskets are CAPPED at the top-{_CF_CAP}
    items (customer-keyed window — the industry-standard CF bound: pair
    expansion is then ≤ cap²/2 per customer instead of unbounded
    power-user blowup); pair counts are one pair-keyed partial agg; item
    norms join back via two broadcast-sized post-agg relations; final
    top-20 is TakeOrderedAndProject. Cosine is one shared expression
    over integers — identical bits on both engines, ties broken by
    (part_a, part_b).
    """
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    basket0 = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("o_custkey").alias("custkey"),
            F.col("l_partkey").alias("partkey"),
        )
        .agg(F.count("*").cast("long").alias("n_buys"))
    )
    w = Window.partitionBy("custkey").orderBy(
        F.col("n_buys").desc(), "partkey"
    )
    basket = (
        basket0.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _CF_CAP)
        .select("custkey", "partkey")
    )
    norms = basket.groupBy("partkey").agg(
        F.count("*").cast("long").alias("nu")
    )
    b2 = basket.select(
        F.col("custkey").alias("c2"), F.col("partkey").alias("part_b")
    )
    pairs = (
        basket.join(
            b2,
            (F.col("custkey") == F.col("c2"))
            & (F.col("partkey") < F.col("part_b")),
        )
        .groupBy(F.col("partkey").alias("part_a"), "part_b")
        .agg(F.count("*").cast("long").alias("co"))
        .where(F.col("co") >= 2)
    )
    na = norms.select(
        F.col("partkey").alias("pa"), F.col("nu").alias("na")
    )
    nb = norms.select(
        F.col("partkey").alias("pb"), F.col("nu").alias("nb")
    )
    sim = (
        pairs.join(F.broadcast(na), F.col("part_a") == F.col("pa"))
        .join(F.broadcast(nb), F.col("part_b") == F.col("pb"))
        .select(
            "part_a", "part_b", "co", "na", "nb",
            F.expr(_CF_COSINE).alias("cosine"),
        )
    )
    return (
        sim.select(
            "part_a",
            "part_b",
            F.col("co").alias("co_count"),
            "na",
            "nb",
            F.round("cosine", 4).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "part_a", "part_b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# MAD robust outlier profile (median absolute deviation per event_type)
# ---------------------------------------------------------------------------

_MAD_FLAG = "(ABS(vc - medc) * 0.6745e0 > 3.5e0 * madc)"

_MAD_SQL = f"""
    WITH v AS (SELECT event_type,
                      CAST(FLOOR(value * 100.0e0 + 0.5e0) AS BIGINT) AS vc
               FROM events),
    med AS (SELECT event_type, quantile_cont(vc, 0.5e0) AS medc
            FROM v GROUP BY event_type),
    dev AS (SELECT v.event_type, v.vc, m.medc
            FROM v JOIN med m ON v.event_type = m.event_type),
    mad AS (SELECT event_type, quantile_cont(ABS(vc - medc), 0.5e0) AS madc
            FROM dev GROUP BY event_type),
    flagged AS (SELECT d.event_type, d.vc, d.medc, m.madc,
                       CASE WHEN {_MAD_FLAG} THEN 1 ELSE 0 END AS is_out
                FROM dev d JOIN mad m ON d.event_type = m.event_type)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(ANY_VALUE(medc) / 100.0e0, 4) AS median_value,
           ROUND(ANY_VALUE(madc) / 100.0e0, 4) AS mad_value,
           CAST(SUM(is_out) AS BIGINT) AS n_outliers,
           ROUND(MAX(ABS(vc - medc)) * 0.6745e0 / ANY_VALUE(madc), 4)
             AS max_abs_z
    FROM flagged GROUP BY event_type ORDER BY event_type
    """


@q("mad_outliers", oracle=_MAD_SQL)
def mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier profile per event_type: median / MAD (median
    absolute deviation) and the modified z-score rule (0.6745·|x−med|/MAD
    > 3.5, Iglewicz-Hoaglin) — the robust complement to
    ``daily_anomalies``'s mean/std z-scores (one fat-tailed day can drag
    a mean; it cannot drag a median) and ``winsorized_value_stats``'s
    clamping.

    Exactness: values quantize to cents BEFORE any statistic, so both
    medians interpolate integers (exact halves in double — type-7 on
    both engines) and the flag inequality is one shared expression
    string; no float-accumulation-order exposure anywhere.

    Scale shape: two group-keyed exact-percentile aggs (Spark's
    percentile buffers value→count maps, bounded by DISTINCT cents, not
    rows — the quantization IS the memory bound) + two broadcast-sized
    median joins; the rollup is one partial agg. Nothing global.
    """
    v = t(spark, sf_dir, "events").select(
        "event_type",
        F.expr("CAST(FLOOR(value * 100.0e0 + 0.5e0) AS BIGINT)").alias("vc"),
    )
    med = v.groupBy("event_type").agg(
        F.expr("percentile(vc, 0.5e0)").alias("medc")
    )
    dev = v.join(F.broadcast(med), "event_type")
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(ABS(vc - medc), 0.5e0)").alias("madc")
    )
    flagged = dev.join(F.broadcast(mad), "event_type").select(
        "event_type",
        "vc",
        "medc",
        "madc",
        F.when(F.expr(_MAD_FLAG), 1).otherwise(0).alias("is_out"),
    )
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.first("medc") / 100.0, 4).alias("median_value"),
            F.round(F.first("madc") / 100.0, 4).alias("mad_value"),
            F.sum("is_out").cast("long").alias("n_outliers"),
            F.round(
                F.max(F.abs(F.col("vc") - F.col("medc")))
                * 0.6745
                / F.first("madc"),
                4,
            ).alias("max_abs_z"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# language-balanced rejection resample (data-mixing execution op)
# ---------------------------------------------------------------------------

_LBR_U = "(doc_id * 2654435761) % 1000003"

_LBR_SQL = f"""
    WITH n AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_l
               FROM documents GROUP BY lang),
    m AS (SELECT MIN(n_l) AS keep_n FROM n),
    u AS (SELECT doc_id, lang, {_LBR_U} AS u FROM documents),
    r AS (SELECT doc_id, lang,
                 ROW_NUMBER() OVER (PARTITION BY lang
                                    ORDER BY u, doc_id) AS rn
          FROM u),
    kept AS (SELECT r.doc_id, r.lang
             FROM r CROSS JOIN m WHERE r.rn <= m.keep_n)
    SELECT k.lang, n.n_l AS n_source,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           ROUND(COUNT(*) * 1.0e0 / n.n_l, 4) AS accept_rate,
           CAST(SUM(k.doc_id) AS BIGINT) AS kept_id_checksum
    FROM kept k JOIN n ON k.lang = n.lang
    GROUP BY k.lang, n.n_l ORDER BY k.lang
    """


@q("lang_balance_resample", oracle=_LBR_SQL)
def lang_balance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-balanced downsample EXECUTION (the companion to
    ``corpus_mix_plan``, which only plans): keep exactly
    min_l(n_l) documents per language — the max-retention uniform-target
    rejection sample — selecting deterministically by a multiplicative-
    hash uniform (the weighted_sample_topk discipline) so both engines
    keep the IDENTICAL document set, pinned by an additive doc_id
    checksum.

    Scale shape: one lang-keyed agg for source counts, one lang-keyed
    ROW_NUMBER window for the per-language selection (at 10^12 docs the
    per-lang rank uses the two-level bucketed ranking exactly like
    rfm_segments), one broadcast-sized keep_n join. Target shares over
    OBSERVED languages — nothing hardcoded to the fixture's 5.
    """
    docs = t(spark, sf_dir, "documents")
    n = docs.groupBy("lang").agg(F.count("*").cast("long").alias("n_l"))
    m = n.agg(F.min("n_l").alias("keep_n"))
    u = docs.select("doc_id", "lang", F.expr(_LBR_U).alias("u"))
    w = Window.partitionBy("lang").orderBy("u", "doc_id")
    r = u.withColumn("rn", F.row_number().over(w))
    kept = r.crossJoin(F.broadcast(m)).where(
        F.col("rn") <= F.col("keep_n")
    )
    return (
        kept.join(F.broadcast(n), "lang")
        .groupBy("lang", "n_l")
        .agg(
            F.count("*").cast("long").alias("n_kept"),
            F.round(F.count("*") * 1.0 / F.first("n_l"), 4).alias(
                "accept_rate"
            ),
            F.sum("doc_id").cast("long").alias("kept_id_checksum"),
        )
        .select(
            "lang",
            F.col("n_l").alias("n_source"),
            "n_kept",
            "accept_rate",
            "kept_id_checksum",
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# average precision (ranked-retrieval eval)
# ---------------------------------------------------------------------------

# integer spark-mention density ranking + >=4-mentions relevance label:
# correlated by construction, so AP is meaningfully above the ~15% base rate
_AP_HITS = "((length(text) - length(replace(text, 'spark', ''))) // 5)"
_AP_SCORE = f"(({_AP_HITS} * 1000000) // n_chars)"
_AP_REL_MIN = 4

_AP_SQL = f"""
    WITH scored AS (SELECT doc_id, {_AP_SCORE} AS score,
                           CASE WHEN {_AP_HITS} >= {_AP_REL_MIN}
                                THEN 1 ELSE 0 END AS rel
                    FROM documents),
    ranked AS (SELECT doc_id, score, rel,
                      ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
                        AS r
               FROM scored),
    relranked AS (SELECT r,
                         ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
                           AS j
                  FROM ranked WHERE rel = 1),
    terms AS (SELECT r, j, (j * 1000000000) // r AS term FROM relranked),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(rel) AS BIGINT) AS n_rel
            FROM scored)
    SELECT tot.n_docs, tot.n_rel,
           ROUND(SUM(terms.term) / (1.0e9 * tot.n_rel), 6) AS ap,
           ROUND(SUM(CASE WHEN terms.r <= 10 THEN 1 ELSE 0 END)
                 / 10.0e0, 4) AS p_at_10,
           ROUND(SUM(CASE WHEN terms.r <= 10 THEN 1 ELSE 0 END)
                 * 1.0e0 / tot.n_rel, 6) AS r_at_10
    FROM terms CROSS JOIN tot
    GROUP BY tot.n_docs, tot.n_rel
    """


@q("average_precision_eval", oracle=_AP_SQL)
def average_precision_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision (AP) + P@10/R@10 for a ranked retrieval run —
    the eval-harness classic completing the family with ``roc_auc_eval``
    (threshold-free) and ``calibration_bins`` (probability quality):
    ranking = integer 'spark'-mention density, relevance = ≥{_AP_REL_MIN}
    mentions, AP = mean over relevant docs of precision@rank.

    Exactness: AP's float sum is the accumulation-order trap — each
    j/r precision term is floored to integer nano-units BEFORE summing
    (the unigram_logprob snap discipline), so the sum is exact and ONE
    division lands the final value.

    Scale shape: both ROW_NUMBERs ride the two-level bucketed ranking
    (analytics/ranking.py) — the full ranking over all docs and the
    sub-ranking over the relevant subset — no single-partition sort;
    the rollup is a 1-row agg.
    """
    from osmgraft.analytics.ranking import with_global_rank

    hits = _AP_HITS.replace("//", " div ")
    score = _AP_SCORE.replace("//", " div ")
    scored = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(score).alias("score"),
        F.when(F.expr(hits) >= _AP_REL_MIN, 1).otherwise(0).alias("rel"),
    )
    tot = scored.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("rel").cast("long").alias("n_rel"),
    )
    neg = scored.withColumn("negscore", -F.col("score"))
    ranked = with_global_rank(neg, ["negscore", "doc_id"], rank_col="r")
    rel = ranked.where(F.col("rel") == 1)
    relranked = with_global_rank(rel, ["negscore", "doc_id"], rank_col="j")
    terms = relranked.select(
        "r", "j", F.expr("(j * 1000000000) div r").alias("term")
    )
    return (
        terms.crossJoin(F.broadcast(tot))
        .groupBy("n_docs", "n_rel")
        .agg(
            F.round(F.sum("term") / (1.0e9 * F.first("n_rel")), 6).alias(
                "ap"
            ),
            F.round(
                F.sum(F.when(F.col("r") <= 10, 1).otherwise(0)) / 10.0, 4
            ).alias("p_at_10"),
            F.round(
                F.sum(F.when(F.col("r") <= 10, 1).otherwise(0))
                * 1.0
                / F.first("n_rel"),
                6,
            ).alias("r_at_10"),
        )
        .select("n_docs", "n_rel", "ap", "p_at_10", "r_at_10")
    )


# ---------------------------------------------------------------------------
# data-contract expectations audit (Great-Expectations-style rule rollup)
# ---------------------------------------------------------------------------

# (rule name, predicate) — one shared SQL string per rule; the enum rule
# deliberately predates 'signup' and the value ceiling is drifted-under so
# two rules genuinely fail on the fixture (a 100%-green audit tests nothing)
_EXPECT_RULES = [
    ("value_in_range", "(value >= 0e0 AND value <= 100e0)"),
    ("event_type_enum",
     "(event_type IN ('click', 'view', 'purchase', 'error'))"),
    ("ts_in_window",
     "(CAST(ts AS DATE) >= DATE '2024-01-01' "
     "AND CAST(ts AS DATE) < DATE '2025-01-01')"),
    ("props_k_in_range",
     "(CAST(json_extract(props, '$.k') AS INTEGER) BETWEEN 0 AND 90)"),
    ("user_id_present", "(user_id IS NOT NULL AND user_id >= 0)"),
]
_EXPECT_STATUS = (
    "CASE WHEN pass_rate >= 0.999e0 THEN 'ok' "
    "WHEN pass_rate >= 0.8e0 THEN 'warn' ELSE 'fail' END"
)


def _expect_sql() -> str:
    arms = ", ".join(
        f"CAST(SUM(CASE WHEN {pred} THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS p_{i}"
        for i, (_, pred) in enumerate(_EXPECT_RULES)
    )
    rows = ", ".join(
        f"('{name}', p_{i})" for i, (name, _) in enumerate(_EXPECT_RULES)
    )
    return f"""
    WITH agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows, {arms}
                 FROM events),
    rules AS (SELECT n_rows, r.rule, r.n_pass
              FROM agg, (VALUES {rows}) AS r(rule, n_pass)),
    rated AS (SELECT rule, n_rows AS n_checked, n_pass,
                     n_rows - n_pass AS n_fail,
                     ROUND(n_pass * 1.0e0 / n_rows, 6) AS pass_rate
              FROM rules)
    SELECT rule, n_checked, n_pass, n_fail, pass_rate,
           {_EXPECT_STATUS} AS status
    FROM rated ORDER BY rule
    """


@q("expectations_audit", oracle=_expect_sql())
def expectations_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract expectations audit (the Great-Expectations /
    dbt-test shape): five declarative column contracts — value range,
    event-type enum, timestamp window, JSON-prop range, key presence —
    each reported with pass/fail counts, pass rate, and an
    ok/warn/fail status band. The ingest-gate complement to
    ``json_key_profile`` (which discovers drift; this one enforces a
    declared contract against it).

    Scale shape: ONE scan, one conditional aggregate per rule
    (single-row partial agg — the red_flags discipline, never one scan
    per rule), then a constant 5-row unpivot. Predicates are shared
    SQL strings, so both engines evaluate the identical contract.
    """
    ev = t(spark, sf_dir, "events")
    spark_rules = [
        (name, pred.replace(
            "json_extract(props, '$.k')", "get_json_object(props, '$.k')"
        ))
        for name, pred in _EXPECT_RULES
    ]
    agg = ev.agg(
        F.count("*").cast("long").alias("n_rows"),
        *[
            F.sum(F.when(F.expr(pred), 1).otherwise(0))
            .cast("long")
            .alias(f"p_{i}")
            for i, (_, pred) in enumerate(spark_rules)
        ],
    )
    pairs = F.array(
        *[
            F.struct(
                F.lit(name).alias("rule"), F.col(f"p_{i}").alias("n_pass")
            )
            for i, (name, _) in enumerate(spark_rules)
        ]
    )
    rated = (
        agg.select("n_rows", F.explode(pairs).alias("r"))
        .select(
            F.col("r.rule").alias("rule"),
            F.col("n_rows").alias("n_checked"),
            F.col("r.n_pass").alias("n_pass"),
            (F.col("n_rows") - F.col("r.n_pass")).alias("n_fail"),
            F.round(F.col("r.n_pass") * 1.0 / F.col("n_rows"), 6).alias(
                "pass_rate"
            ),
        )
    )
    return rated.select(
        "rule", "n_checked", "n_pass", "n_fail", "pass_rate",
        F.expr(_EXPECT_STATUS).alias("status"),
    ).orderBy("rule")


# ---------------------------------------------------------------------------
# nDCG@10 graded-relevance eval
# ---------------------------------------------------------------------------

# discount_u(r) = floor(1e9 / log2(r+1) + 0.5), r = 1..10 — precomputed as
# INTEGER literals so no engine's libm log2 can flip a boundary bit
_NDCG_DISC = {
    1: 1000000000, 2: 630929754, 3: 500000000, 4: 430676558,
    5: 386852807, 6: 356207187, 7: 333333333, 8: 315464877,
    9: 301029996, 10: 289064826,
}
_NDCG_K = 10
_NDCG_DISC_CASE = (
    "CASE r " + " ".join(f"WHEN {r} THEN {d}" for r, d in _NDCG_DISC.items())
    + " ELSE 0 END"
)


def _ndcg_sql() -> str:
    from osmgraft.contract_corpus import _AP_HITS, _AP_SCORE  # self-import ok

    return f"""
    WITH scored AS (SELECT doc_id, {_AP_SCORE} AS score,
                           LEAST({_AP_HITS}, 4) AS g
                    FROM documents),
    ranked AS (SELECT doc_id, g,
                      ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS r
               FROM scored),
    ideal AS (SELECT g,
                     ROW_NUMBER() OVER (ORDER BY g DESC, doc_id) AS r
              FROM scored),
    dcg AS (SELECT CAST(SUM((POWER(2, g) - 1) * ({_NDCG_DISC_CASE}))
                        AS BIGINT) AS dcg_u
            FROM ranked WHERE r <= {_NDCG_K}),
    idcg AS (SELECT CAST(SUM((POWER(2, g) - 1) * ({_NDCG_DISC_CASE}))
                         AS BIGINT) AS idcg_u
             FROM ideal WHERE r <= {_NDCG_K}),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(CASE WHEN g > 0 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_graded
            FROM scored)
    SELECT tot.n_docs, tot.n_graded, dcg.dcg_u, idcg.idcg_u,
           ROUND(dcg.dcg_u * 1.0e0 / idcg.idcg_u, 6) AS ndcg_at_10
    FROM dcg CROSS JOIN idcg CROSS JOIN tot
    """


@q("ndcg_eval", oracle=_ndcg_sql())
def ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@{_NDCG_K} with graded relevance (grades 0-4 from capped
    'spark'-mention counts, ranking by mention density) — the
    graded-judgment member of the eval family (``average_precision_eval``
    binary-AP, ``roc_auc_eval`` threshold-free, ``calibration_bins``
    probability quality).

    Exactness: gains (2^g − 1) are small integers and the log2 position
    discounts are PRECOMPUTED nano-unit integer literals (libm log2 is
    not correctly-rounded and differs across engines — the CASE table
    removes it entirely), so DCG and IDCG are exact integer sums and
    nDCG is one final division.

    Scale shape: both rankings ride the two-level bucketed rank; the
    r ≤ {_NDCG_K} filter plans as a windowed top-k, and the rollup is
    1-row.
    """
    from osmgraft.analytics.ranking import with_global_rank

    hits = _AP_HITS.replace("//", " div ")
    score = _AP_SCORE.replace("//", " div ")
    scored = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(score).alias("score"),
        F.least(F.expr(hits), F.lit(4)).alias("g"),
    )
    tot = scored.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("g") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_graded"),
    )
    term = (F.pow(F.lit(2), F.col("g")) - 1) * F.expr(_NDCG_DISC_CASE)
    neg = scored.withColumn("negscore", -F.col("score"))
    ranked = with_global_rank(neg, ["negscore", "doc_id"], rank_col="r")
    dcg = ranked.where(F.col("r") <= _NDCG_K).agg(
        F.sum(term).cast("long").alias("dcg_u")
    )
    negg = scored.withColumn("negg", -F.col("g"))
    ideal = with_global_rank(negg, ["negg", "doc_id"], rank_col="r")
    idcg = ideal.where(F.col("r") <= _NDCG_K).agg(
        F.sum(term).cast("long").alias("idcg_u")
    )
    return (
        dcg.crossJoin(F.broadcast(idcg))
        .crossJoin(F.broadcast(tot))
        .select(
            "n_docs",
            "n_graded",
            "dcg_u",
            "idcg_u",
            F.round(F.col("dcg_u") * 1.0 / F.col("idcg_u"), 6).alias(
                "ndcg_at_10"
            ),
        )
    )


# ---------------------------------------------------------------------------
# isotonic calibration (PAV via the exact minimax formula over score bins)
# ---------------------------------------------------------------------------

_ISO_BINS = 20
# rate over a bin run [j..k] from prefix sums — ONE shared expression
_ISO_RATE = "((pk - pj) * 1.0e0 / (nk - nj))"

_ISO_SQL = f"""
    WITH scored AS (SELECT {_AP_SCORE} AS score,
                           CASE WHEN {_AP_HITS} >= {_AP_REL_MIN}
                                THEN 1 ELSE 0 END AS rel
                    FROM documents),
    rng AS (SELECT MAX(score) AS mx FROM scored),
    binned AS (SELECT LEAST(CAST(FLOOR(score * {_ISO_BINS}.0e0
                                       / (r.mx + 1)) AS BIGINT),
                            {_ISO_BINS - 1}) AS bin, rel
               FROM scored CROSS JOIN rng r),
    bins0 AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(rel) AS BIGINT) AS pos
              FROM binned GROUP BY bin),
    bins AS (SELECT bin, n, pos,
                    CAST(ROW_NUMBER() OVER (ORDER BY bin) AS BIGINT) AS i,
                    CAST(SUM(n) OVER (ORDER BY bin) AS BIGINT) AS cn,
                    CAST(SUM(pos) OVER (ORDER BY bin) AS BIGINT) AS cp
             FROM bins0),
    runs AS (SELECT j.i AS ji, k.i AS ki,
                    j.cn - j.n AS nj, k.cn AS nk,
                    j.cp - j.pos AS pj, k.cp AS pk
             FROM bins j JOIN bins k ON j.i <= k.i),
    inner_min AS (SELECT b.i, r.ji,
                         MIN({_ISO_RATE}) AS mn
                  FROM bins b JOIN runs r
                    ON r.ji <= b.i AND r.ki >= b.i
                  GROUP BY b.i, r.ji),
    iso AS (SELECT i, MAX(mn) AS iso_rate FROM inner_min GROUP BY i)
    SELECT b.bin, b.n, b.pos,
           ROUND(b.pos * 1.0e0 / b.n, 6) AS raw_rate,
           ROUND(s.iso_rate, 6) AS iso_rate
    FROM bins b JOIN iso s ON b.i = s.i
    ORDER BY b.bin
    """


@q("isotonic_calibration", oracle=_ISO_SQL)
def isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic regression calibration (pool-adjacent-violators) of the
    per-score-bin relevance rate — the monotone calibrator behind every
    well-calibrated ranking score (Zadrozny & Elkan 2002), completing
    the calibration family with ``calibration_bins`` (which only
    measures ECE; this one FIXES the curve).

    PAV is computed by its exact minimax identity iso(i) = max_{{j<=i}}
    min_{{k>=i}} rate(j..k) — a closed FORM over the bounded bin
    relation ({_ISO_BINS}³ candidate runs), so the sequential pooling
    algorithm never runs on either engine and the whole fit is three
    joins + two aggs over ≤{_ISO_BINS} rows. Rates divide exact integer
    prefix sums through one shared expression.

    Scale shape: raw docs aggregate ONCE onto the bin relation; the
    cubic minimax runs on the {_ISO_BINS}-row post-agg only. The pytest
    proves the minimax == the textbook stack PAV.
    """
    from osmgraft.analytics.ranking import with_global_rank  # noqa: F401

    hits = _AP_HITS.replace("//", " div ")
    score = _AP_SCORE.replace("//", " div ")
    scored = t(spark, sf_dir, "documents").select(
        F.expr(score).alias("score"),
        F.when(F.expr(hits) >= _AP_REL_MIN, 1).otherwise(0).alias("rel"),
    )
    rng = scored.agg(F.max("score").alias("mx"))
    binned = scored.crossJoin(F.broadcast(rng)).select(
        F.least(
            F.floor(
                F.col("score") * float(_ISO_BINS) / (F.col("mx") + 1)
            ).cast("long"),
            F.lit(_ISO_BINS - 1).cast("long"),
        ).alias("bin"),
        "rel",
    )
    bins0 = binned.groupBy("bin").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("rel").cast("long").alias("pos"),
    )
    wb = Window.orderBy("bin")
    bins = bins0.select(
        "bin",
        "n",
        "pos",
        F.row_number().over(wb).cast("long").alias("i"),
        F.sum("n").over(wb).cast("long").alias("cn"),
        F.sum("pos").over(wb).cast("long").alias("cp"),
    ).transform(cut)
    j = bins.select(
        F.col("i").alias("ji"),
        (F.col("cn") - F.col("n")).alias("nj"),
        (F.col("cp") - F.col("pos")).alias("pj"),
    )
    k = bins.select(
        F.col("i").alias("ki"),
        F.col("cn").alias("nk"),
        F.col("cp").alias("pk"),
    )
    runs = j.join(F.broadcast(k), F.col("ji") <= F.col("ki"))
    inner = (
        bins.select(F.col("i"))
        .join(
            F.broadcast(runs),
            (F.col("ji") <= F.col("i")) & (F.col("ki") >= F.col("i")),
        )
        .groupBy("i", "ji")
        .agg(F.min(F.expr(_ISO_RATE)).alias("mn"))
    )
    iso = inner.groupBy("i").agg(F.max("mn").alias("iso_rate"))
    return (
        bins.join(F.broadcast(iso), "i")
        .select(
            "bin",
            "n",
            "pos",
            F.round(F.col("pos") * 1.0 / F.col("n"), 6).alias("raw_rate"),
            F.round("iso_rate", 6).alias("iso_rate"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# feature-hashing collision audit (the hashing-trick dimensioning check)
# ---------------------------------------------------------------------------

_FH_A, _FH_B, _FH_P = 48271, 11, 1000003
_FH_BITS = (6, 8, 10)
_FH_HASH = f"((({_FH_A} * fid + {_FH_B}) % {_FH_P}) % {{m}})"


def _fh_sql() -> str:
    parts = []
    for bits in _FH_BITS:
        m = 1 << bits
        h = _FH_HASH.format(m=m)
        parts.append(f"""
    SELECT {bits} AS hash_bits, {m} AS n_buckets,
           CAST(COUNT(*) AS BIGINT) AS n_features,
           CAST(COUNT(DISTINCT {h}) AS BIGINT) AS n_used,
           CAST(COUNT(*) - COUNT(DISTINCT {h}) AS BIGINT) AS n_excess,
           ROUND((COUNT(*) - COUNT(DISTINCT {h})) * 1.0e0 / COUNT(*), 6)
             AS collision_rate
    FROM feats""")
    sel = " UNION ALL ".join(parts)
    return f"""
    WITH feats AS (
      SELECT DISTINCT fid FROM (
        SELECT user_id AS fid FROM events
        UNION ALL
        SELECT 200000 + CAST(json_extract(props, '$.k') AS INTEGER)
        FROM events
        UNION ALL
        SELECT 300000 + CASE event_type
                 WHEN 'click' THEN 0 WHEN 'view' THEN 1
                 WHEN 'purchase' THEN 2 WHEN 'error' THEN 3
                 ELSE 4 END
        FROM events))
    SELECT * FROM ({sel}) ORDER BY hash_bits
    """


@q("feature_hash_collision_audit", oracle=_fh_sql())
def feature_hash_collision_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing (hashing-trick) collision audit: the distinct
    feature universe (user ids, JSON prop values, event types mapped
    into one integer id space) is hashed into 2^k buckets for k ∈
    {_FH_BITS} with the 2-universal integer family, and the audit
    reports bucket occupancy and collision rate per width — the
    dimensioning table every hashed-feature model consults before
    choosing its embedding width (Weinberger et al. 2009).

    Scale shape: one scan unions the feature id projections, dedups
    once (feature-keyed partial agg), then each width is a
    count-distinct over the bounded feature relation. The hash is the
    cms_heavy_hitters integer family — exact int64 on both engines.
    """
    ev = t(spark, sf_dir, "events")
    et_case = (
        "CASE event_type WHEN 'click' THEN 0 WHEN 'view' THEN 1 "
        "WHEN 'purchase' THEN 2 WHEN 'error' THEN 3 ELSE 4 END"
    )
    feats = (
        ev.select(F.col("user_id").alias("fid"))
        .unionAll(
            ev.select(
                (
                    200000
                    + F.expr(
                        "CAST(get_json_object(props, '$.k') AS INT)"
                    )
                ).alias("fid")
            )
        )
        .unionAll(ev.select((300000 + F.expr(et_case)).alias("fid")))
        .distinct()
    )
    rows = []
    for bits in _FH_BITS:
        m = 1 << bits
        h = F.expr(_FH_HASH.format(m=m))
        rows.append(
            feats.agg(
                F.lit(bits).alias("hash_bits"),
                F.lit(m).cast("int").alias("n_buckets"),
                F.count("*").cast("long").alias("n_features"),
                F.countDistinct(h).cast("long").alias("n_used"),
                (F.count("*") - F.countDistinct(h))
                .cast("long")
                .alias("n_excess"),
                F.round(
                    (F.count("*") - F.countDistinct(h))
                    * 1.0
                    / F.count("*"),
                    6,
                ).alias("collision_rate"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out.orderBy("hash_bits")


# ---------------------------------------------------------------------------
# duplicate-transaction detection (same user + amount within a day)
# ---------------------------------------------------------------------------

_DUPTXN_SQL = """
    WITH t AS (SELECT user_id,
                      CAST(FLOOR(value) AS BIGINT) AS dollars,
                      CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec, event_id
               FROM events),
    p AS (SELECT user_id, dollars, sec,
                 sec - LAG(sec) OVER (PARTITION BY user_id, dollars
                                      ORDER BY sec, event_id) AS gap
          FROM t),
    flagged AS (SELECT user_id, dollars, gap,
                       CASE WHEN gap < 3600 THEN 'lt_1h'
                            WHEN gap < 21600 THEN '1h_to_6h'
                            ELSE '6h_to_24h' END AS band
                FROM p WHERE gap IS NOT NULL AND gap <= 86400)
    SELECT band,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           ROUND(SUM(gap) * 1.0e0 / COUNT(*), 2) AS avg_gap_s,
           CAST(MIN(gap) AS BIGINT) AS min_gap_s
    FROM flagged GROUP BY band ORDER BY band
    """


@q("duplicate_txn_flags", oracle=_DUPTXN_SQL)
def duplicate_txn_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-transaction detection: events by the SAME user with the
    SAME dollar amount within 24 h, banded by gap (<1 h / 1-6 h /
    6-24 h) — the double-submission / replay fraud screen every payment
    pipeline runs; the single-stream cousin of ``co_movement_pairs``
    (which correlates across users) and ``bot_regularity_profile``
    (which looks at cadence, not amounts).

    Scale shape: ONE (user, amount)-keyed window (LAG over an exchange
    whose key includes the amount — finer than user-only, so power
    users don't skew a partition) and a 3-row band rollup. Gaps are
    integer seconds (unix_timestamp ≡ FLOOR(epoch) under UTC).
    """
    ev = t(spark, sf_dir, "events")
    tdf = ev.select(
        "user_id",
        F.expr("CAST(FLOOR(value) AS BIGINT)").alias("dollars"),
        F.unix_timestamp("ts").cast("long").alias("sec"),
        "event_id",
    )
    w = Window.partitionBy("user_id", "dollars").orderBy("sec", "event_id")
    p = tdf.withColumn("gap", F.col("sec") - F.lag("sec").over(w))
    flagged = p.where(
        F.col("gap").isNotNull() & (F.col("gap") <= 86400)
    ).select(
        "user_id",
        "gap",
        F.when(F.col("gap") < 3600, "lt_1h")
        .when(F.col("gap") < 21600, "1h_to_6h")
        .otherwise("6h_to_24h")
        .alias("band"),
    )
    return (
        flagged.groupBy("band")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.round(F.sum("gap") * 1.0 / F.count("*"), 2).alias(
                "avg_gap_s"
            ),
            F.min("gap").cast("long").alias("min_gap_s"),
        )
        .orderBy("band")
    )


# ---------------------------------------------------------------------------
# decision-threshold optimizer over the calibration bins
# ---------------------------------------------------------------------------

_THR_TP_GAIN, _THR_FP_COST = 5, 1  # utility = 5*TP - 1*FP

_THR_SQL = f"""
    WITH scored AS (SELECT {_AP_SCORE} AS score,
                           CASE WHEN {_AP_HITS} >= {_AP_REL_MIN}
                                THEN 1 ELSE 0 END AS rel
                    FROM documents),
    rng AS (SELECT MAX(score) AS mx FROM scored),
    binned AS (SELECT LEAST(CAST(FLOOR(score * {_ISO_BINS}.0e0
                                       / (r.mx + 1)) AS BIGINT),
                            {_ISO_BINS - 1}) AS bin, rel
               FROM scored CROSS JOIN rng r),
    bins AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
                    CAST(SUM(rel) AS BIGINT) AS pos
             FROM binned GROUP BY bin),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS tn_all,
                   CAST(SUM(pos) AS BIGINT) AS tp_all
            FROM bins),
    cand AS (SELECT b.bin AS thr_bin,
                    CAST(SUM(CASE WHEN o.bin >= b.bin THEN o.pos
                                  ELSE 0 END) AS BIGINT) AS tp,
                    CAST(SUM(CASE WHEN o.bin >= b.bin THEN o.n - o.pos
                                  ELSE 0 END) AS BIGINT) AS fp
             FROM bins b CROSS JOIN bins o
             GROUP BY b.bin),
    util AS (SELECT c.thr_bin, c.tp, c.fp,
                    t.tp_all - c.tp AS fn,
                    t.tn_all - t.tp_all - c.fp AS tn,
                    {_THR_TP_GAIN} * c.tp - {_THR_FP_COST} * c.fp
                      AS utility
             FROM cand c CROSS JOIN tot t),
    best AS (SELECT MAX(utility) AS mu FROM util)
    SELECT u.thr_bin, u.tp, u.fp, u.fn, u.tn, u.utility,
           CAST(CASE WHEN u.utility = b.mu THEN 1 ELSE 0 END AS BIGINT)
             AS is_best
    FROM util u CROSS JOIN best b ORDER BY u.thr_bin
    """


@q("threshold_optimizer", oracle=_THR_SQL)
def threshold_optimizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-threshold optimizer: sweep every score-bin edge as a
    classification threshold, tabulate the exact confusion matrix from
    bin prefix sums, and flag the utility-maximizing cut (utility =
    {_THR_TP_GAIN}·TP − {_THR_FP_COST}·FP) — the decision-theory step
    after ``isotonic_calibration`` calibrates and ``roc_auc_eval``
    ranks: where to actually CUT.

    Exactness: every cell of every confusion matrix is an exact integer
    from the bounded bin relation; utility is integer arithmetic, so
    the argmax is engine-independent by construction.

    Scale shape: raw docs aggregate once onto {_ISO_BINS} bins; the
    threshold sweep is a bins×bins self-join over ≤{_ISO_BINS}² rows.
    """
    hits = _AP_HITS.replace("//", " div ")
    score = _AP_SCORE.replace("//", " div ")
    scored = t(spark, sf_dir, "documents").select(
        F.expr(score).alias("score"),
        F.when(F.expr(hits) >= _AP_REL_MIN, 1).otherwise(0).alias("rel"),
    )
    rng = scored.agg(F.max("score").alias("mx"))
    binned = scored.crossJoin(F.broadcast(rng)).select(
        F.least(
            F.floor(
                F.col("score") * float(_ISO_BINS) / (F.col("mx") + 1)
            ).cast("long"),
            F.lit(_ISO_BINS - 1).cast("long"),
        ).alias("bin"),
        "rel",
    )
    bins = binned.groupBy("bin").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("rel").cast("long").alias("pos"),
    ).transform(cut)
    tot = bins.agg(
        F.sum("n").cast("long").alias("tn_all"),
        F.sum("pos").cast("long").alias("tp_all"),
    )
    o = bins.select(
        F.col("bin").alias("obin"), F.col("n").alias("on"),
        F.col("pos").alias("opos"),
    )
    cand = (
        bins.select(F.col("bin").alias("thr_bin"))
        .crossJoin(F.broadcast(o))
        .groupBy("thr_bin")
        .agg(
            F.sum(
                F.when(F.col("obin") >= F.col("thr_bin"), F.col("opos"))
                .otherwise(0)
            )
            .cast("long")
            .alias("tp"),
            F.sum(
                F.when(
                    F.col("obin") >= F.col("thr_bin"),
                    F.col("on") - F.col("opos"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("fp"),
        )
    )
    util = cand.crossJoin(F.broadcast(tot)).select(
        "thr_bin",
        "tp",
        "fp",
        (F.col("tp_all") - F.col("tp")).alias("fn"),
        (F.col("tn_all") - F.col("tp_all") - F.col("fp")).alias("tn"),
        (
            _THR_TP_GAIN * F.col("tp") - _THR_FP_COST * F.col("fp")
        ).alias("utility"),
    )
    best = util.agg(F.max("utility").alias("mu"))
    return (
        util.crossJoin(F.broadcast(best))
        .select(
            "thr_bin",
            "tp",
            "fp",
            "fn",
            "tn",
            "utility",
            F.when(F.col("utility") == F.col("mu"), 1)
            .otherwise(0)
            .cast("long")
            .alias("is_best"),
        )
        .orderBy("thr_bin")
    )
