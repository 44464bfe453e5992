"""Deduplication operators for web-scale text (training-data pipeline ops).

All stages are pure DataFrame transformations over JVM-side functions
(xxhash64, explode, groupBy) — no Python in the hot path — so they scale to
the 10^12-document posture by shuffling only (doc_id, hash) pairs, never the
text itself, after the first projection.

- exact_dedup: hash-groupBy on a normalized text digest.
- shingles: word n-gram shingle sets (posexplode + lead window).
- minhash_lsh_candidates: MinHash signatures (k seeded xxhash64 permutations)
  → banded LSH buckets → candidate pairs, with optional exact rare-shingle
  Jaccard verification.
- simhash: 64-bit SimHash fingerprint per document (bit-majority over token
  hashes) computed with explode + bit arithmetic, no UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from osmgraft.runtime.cut import cut


def exact_dedup(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Keep the lowest-id representative of each exact (normalized) text.

    Output: original columns + is_duplicate flag + cluster digest.
    """
    digest = F.md5(F.lower(F.trim(F.col(text_col)))).alias("text_digest")
    w = Window.partitionBy("text_digest").orderBy(F.col(id_col).asc())
    return (
        docs.select("*", digest)
        .withColumn("_rn", F.row_number().over(w))
        .withColumn("is_duplicate", F.col("_rn") > 1)
        .drop("_rn")
    )


def shingles(
    docs: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Distinct word n-gram shingles: (id, shingle). Whitespace tokenized.

    Built with array higher-order functions (sequence/slice/transform) so the
    shingle construction is shuffle-free and stays in whole-stage codegen —
    the only shuffle in downstream dedup is the hash groupBy itself.
    (Token array projected as a named column first — see shingle_hashes.)
    """
    toks = docs.withColumn("_toks", F.split(F.col(text_col), " "))
    arr = F.col("_toks")
    idx = F.when(
        F.size(arr) >= n, F.sequence(F.lit(1), F.size(arr) - (n - 1))
    ).otherwise(F.expr("array()"))
    sh = F.transform(idx, lambda i: F.array_join(F.slice(arr, i, n), " "))
    return toks.select(
        F.col(id_col), F.explode(sh).alias("shingle")
    ).distinct()


def shingle_hashes(
    docs: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Distinct hashed word n-gram shingles: (id, shingle: long).

    Hashes the n tokens directly (xxhash64 over the token columns inside
    the array lambda) — no n-gram string is ever materialized, and the
    distinct/groupBy shuffles move 8-byte keys instead of strings. This is
    the scale path for hash-based dedup (MinHash/Jaccard-on-hashes);
    `shingles()` keeps the string form where the exact text is needed.

    The token array is projected as a named column first: referencing the
    raw `split()` expression inside the lambda defeats common-subexpression
    elimination (split re-evaluated per element_at — measured 3-6× slower).
    """
    toks = docs.withColumn("_toks", F.split(F.col(text_col), " "))
    arr = F.col("_toks")
    idx = F.when(
        F.size(arr) >= n, F.sequence(F.lit(1), F.size(arr) - (n - 1))
    ).otherwise(F.expr("array()"))
    sh = F.transform(
        idx,
        lambda i: F.xxhash64(*[F.element_at(arr, i + j) for j in range(n)]),
    )
    return toks.select(
        F.col(id_col), F.explode(sh).alias("shingle")
    ).distinct()


def minhash_lsh_candidates(
    docs: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_df: DataFrame | None = None,
) -> DataFrame:
    """MinHash + banded LSH near-duplicate candidate pairs.

    num_hashes seeded xxhash64 'permutations' (JVM-side, vectorized) are
    min-reduced per doc, split into `bands` bands of r = num_hashes/bands
    rows. Pair generation groups by (band, bucket) and expands pairs
    *within* each bucket row (double explode after collect_list) — one
    shuffle on 64-bit keys, no self-join, so the minhash pipeline is
    planned exactly once. Bucket sizes are near-dup cluster sizes (small by
    construction; a pathological mega-bucket means mass-identical docs,
    which exact_dedup handles first at scale).

    Pass `shingle_df` (the `shingles()` output, ideally persisted or
    checkpointed to a staging table at cluster scale) to share the shingle
    scan with the exact-Jaccard verification stage.
    Output: (doc_a, doc_b) distinct candidate pairs, doc_a < doc_b.
    """
    r = num_hashes // bands
    sh = (
        shingle_df
        if shingle_df is not None
        else shingles(docs, n=shingle_n, id_col=id_col, text_col=text_col)
    )
    minhashes = sh.groupBy(id_col).agg(
        *[
            F.min(F.xxhash64(F.col("shingle"), F.lit(i))).alias(f"h{i}")
            for i in range(num_hashes)
        ]
    )
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(*[F.col(f"h{b * r + j}") for j in range(r)]).alias("bucket"),
        )
        for b in range(bands)
    ]
    banded = minhashes.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bb")
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    buckets = (
        banded.groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("ids"))
        .where(F.size("ids") >= 2)
    )
    pairs = (
        buckets.select(F.posexplode("ids").alias("i", "doc_a"), F.col("ids"))
        .select("doc_a", F.explode(F.slice("ids", F.col("i") + 2, F.size("ids"))).alias("doc_b"))
        .distinct()
    )
    return pairs


def verify_jaccard(
    pairs: DataFrame, shingle_sets: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Exact Jaccard for candidate pairs given (id, shingle) sets."""
    sizes = shingle_sets.groupBy(id_col).agg(F.count("*").alias("n"))
    sa = shingle_sets.select(F.col(id_col).alias("doc_a"), "shingle")
    sb = shingle_sets.select(F.col(id_col).alias("doc_b"), "shingle")
    overlap = (
        pairs.join(sa, "doc_a")
        .join(sb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("overlap"))
    )
    na = sizes.withColumnRenamed(id_col, "doc_a").withColumnRenamed("n", "na")
    nb = sizes.withColumnRenamed(id_col, "doc_b").withColumnRenamed("n", "nb")
    return (
        overlap.join(na, "doc_a")
        .join(nb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("overlap") / (F.col("na") + F.col("nb") - F.col("overlap")),
        )
        .select("doc_a", "doc_b", "overlap", "na", "nb", "jaccard")
    )


def simhash(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """64-bit SimHash per document, pure JVM bit arithmetic.

    For each of 64 bit positions, the bit is 1 iff the majority of token
    hashes have that bit set. Computed as sum(±1 per token per bit) via
    explode + conditional agg — one shuffle of (id, token-hash).
    """
    tokens = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("w")
    ).withColumn("h", F.xxhash64("w"))
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(64)
    ]
    per_doc = tokens.groupBy(id_col).agg(*aggs)
    sig = None
    for i in range(64):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1)).otherwise(F.lit(0)).cast("long")
        term = F.shiftleft(bit, i)
        sig = term if sig is None else sig.bitwiseOR(term)
    return per_doc.select(F.col(id_col), sig.alias("simhash"))


def simhash_neardup_pairs(
    sigs: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    bucket_cap: int = 10000,
) -> DataFrame:
    """Near-duplicate pairs from SimHash signatures via banded pigeonhole
    blocking — LOSSLESS for the hamming radius: split the 64-bit signature
    into (max_hamming + 1) bands; any pair within `max_hamming` bit flips
    must agree EXACTLY on at least one band (pigeonhole), so a per-band
    equi-self-join finds every qualifying pair. Candidates then refine
    with the exact popcount of the XOR (pure JVM bit_count).

    Scale: the join key is (band, 16-bit value) — a hash-partitioned
    equi-join, no all-pairs. `bucket_cap` drops degenerate hot buckets
    (e.g. the all-zeros band of empty docs) the same way the rare-shingle
    blocker caps ngram buckets; dropped buckets are the only recall loss.
    """
    n_bands = max_hamming + 1
    if 64 % n_bands:
        raise ValueError("max_hamming + 1 must divide 64")
    width = 64 // n_bands
    mask = (1 << width) - 1
    bands = sigs.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("simhash", b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "simhash", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    counts = bands.groupBy("band", "key").agg(F.count("*").alias("bn"))
    bounded = bands.join(
        counts.where(F.col("bn") <= bucket_cap), ["band", "key"]
    )
    a = bounded.select(
        F.col("band"), F.col("key"),
        F.col(id_col).alias("doc_a"), F.col("simhash").alias("sig_a"),
    )
    b = bounded.select(
        F.col("band"), F.col("key"),
        F.col(id_col).alias("doc_b"), F.col("simhash").alias("sig_b"),
    )
    cand = (
        a.join(b, ["band", "key"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sig_a", "sig_b")
        .distinct()
    )
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cand.withColumn("hamming", ham.cast("int"))
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 40,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph:
    (doc_id, cluster_id) where cluster_id is the minimum doc id in the
    component — the clustering step every dedup pipeline ends with
    (keep one representative per component).

    Algorithm: min-contraction (the hash-to-min / star-contraction shape
    of Rastogi et al., "Finding Connected Components in MapReduce"):
    each round maps every node to min(self, neighbors), RELABELS the
    id->label mapping through that map, and CONTRACTS the edge set to
    the distinct mapped endpoints. Dense neighborhoods (DBSCAN cliques —
    millions of pairs over thousands of nodes) collapse after ONE pass,
    so the big edge relation is touched once and every later round runs
    on a shrunken graph; convergence (empty edge set) takes O(log
    diameter) rounds. Plain per-round label propagation — the round-2
    design — was O(diameter) rounds over the FULL edge set and blew both
    the round budget and the wall clock on sf0.1 DBSCAN density chains
    (session-9 fix).

    Each round: one partial-agg min per node, one broadcast-sized
    relabel join (the label table is one row per ORIGINAL node, the map
    one row per surviving node), one edge-contraction join + distinct.
    Lineage is truncated with ``cut`` every round. The convergence test
    is the contracted edge COUNT (reaches zero), never a label-sum —
    int64-overflow-safe under ANSI mode with hashed ids near ±2^63.
    """
    e0 = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).where(
        F.col("a") != F.col("b")
    )
    und = (
        e0.union(e0.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .transform(cut)
    )
    labels = (
        und.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("lbl", F.col("id"))
        .transform(cut)
    )
    for _ in range(max_iter):
        m = und.groupBy("a").agg(F.min("b").alias("mb")).select(
            F.col("a").alias("node"),
            F.least(F.col("a"), F.col("mb")).alias("m"),
        )
        relabeled = (
            labels.join(m, labels["lbl"] == m["node"], "left")
            .select(
                "id", F.coalesce(F.col("m"), F.col("lbl")).alias("lbl")
            )
            .transform(cut)
        )
        ma = m.select(F.col("node").alias("a"), F.col("m").alias("ma"))
        mb = m.select(F.col("node").alias("b"), F.col("m").alias("mb2"))
        contracted = (
            und.join(ma, "a")
            .join(mb, "b")
            .where(F.col("ma") != F.col("mb2"))
            .select(F.col("ma").alias("a"), F.col("mb2").alias("b"))
            .distinct()
            .transform(cut)
        )
        n_edges = contracted.count()
        labels, und = relabeled, contracted
        if n_edges == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    return labels.select(F.col("id").alias("doc_id"), F.col("lbl").alias("cluster_id"))


def dedup_pages_keep_first(
    pages: DataFrame, text_col: str = "text", order_cols: tuple[str, ...] = ("url", "warc_ts")
) -> DataFrame:
    """Exact-content page dedup keeping ONE row per normalized-text digest
    (deterministic keeper: first by `order_cols`). Row-level — correct
    even when the duplicate is a re-crawl of the SAME url (an url
    anti-join would drop the keeper too). NULL-text rows have no digest
    and are all kept (they are not duplicates of each other). Text moves
    at most once, in the single digest-keyed shuffle."""
    digest = F.md5(F.lower(F.trim(F.col(text_col))))
    with_d = pages.withColumn("_digest", digest)
    w = Window.partitionBy("_digest").orderBy(*order_cols)
    kept = (
        with_d.where(F.col("_digest").isNotNull())
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "_digest")
    )
    return kept.unionByName(with_d.where(F.col("_digest").isNull()).drop("_digest"))
