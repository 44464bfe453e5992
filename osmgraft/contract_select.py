"""Driver-contract entries: data-selection / record-linkage / stats widening
(round-3 session-11).

Seven operators a production training-data + entity-resolution pipeline
runs that no existing entry covers, each oracle-paired:

- ``readability_bands``: Flesch reading-ease scoring from integer
  word/sentence/vowel-group counts, banded per language — the classic
  document-quality heuristic (reference C1-C4 CASE-chain scoring shape,
  re-expressed over text statistics instead of tag keywords).
- ``spearman_corr``: tie-corrected Spearman rank correlation between
  document length and keyword-hit density per language — computed WITHOUT
  any per-row window: average ranks come from the per-value aggregate
  (2x-scaled to stay integer), and the Pearson step runs on the joint
  (x,y) distribution with DECIMAL(38,0) power sums.
- ``registered_domain_rollup``: public-suffix-list longest-match
  registered-domain extraction (the eTLD+1 primitive every crawl
  frontier, host-reputation and dedup-by-site stage keys on), via a
  broadcast suffix join — never a regex per PSL rule.
- ``phonetic_blocking_pairs``: record-linkage blocking on a consonant-
  skeleton phonetic key + exact Levenshtein refine within blocks — the
  Soundex-style two-stage match (block = O(n) shuffle, refine = bounded
  in-block pairs), on deterministically typo'd person names.
- ``markov_steady_state``: event-type transition matrix from per-user
  consecutive event pairs, then 12 unrolled power-iteration rounds in
  exact micro-unit integer arithmetic -> the stationary distribution
  (PageRank's little sibling; the session-flow summary statistic).
- ``dsir_importance_select``: DSIR (Xie et al. 2023, "Data Selection
  with Importance Resampling") — hashed-unigram importance weights
  log(p_target/p_raw) over 64 feature buckets, target = the English
  slice, deterministic top-k selection by exact integer micro-weights.
- ``kcenter_coreset``: Gonzalez greedy k-center coreset over the
  embeddings table — 5 farthest-point rounds, each a full-scan argmax
  against the (tiny, broadcast) chosen-center set; the coverage-radius
  certificate per round is the 2-approximation guarantee.

Reference surface being generalized: the reference's scoring/validation
queries (scoring.yaml CASE ladders, power_user_queries.sql dashboards)
stop at per-entity scores; these extend the same scan-and-aggregate
shapes to the selection / linkage / convergence primitives a 10^12-page
corpus pipeline needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from osmgraft.contract import q, t
from osmgraft.runtime.cut import cut

# ---------------------------------------------------------------------------
# Flesch readability bands
# ---------------------------------------------------------------------------

# The fixture corpus has no sentence punctuation; a deterministic per-doc
# pseudo-sentence length (8..12 words) is the stand-in, same discipline as
# contract_corpus._LINE_WORDS.
_RD_SLEN = "(8 + doc_id % 5)"

_READ_SQL = f"""
    WITH c AS (
      SELECT doc_id, lang,
             len(string_split(text, ' ')) AS w,
             (len(string_split(text, ' ')) + {_RD_SLEN} - 1)
               // {_RD_SLEN} AS s,
             len(regexp_extract_all(text, '[aeiou]+')) AS sy
      FROM documents
      WHERE len(string_split(text, ' ')) >= 1),
    f AS (
      SELECT lang,
             ROUND(206.835e0 - 1.015e0 * (w * 1.0e0 / s)
                   - 84.6e0 * (sy * 1.0e0 / w), 4) AS score
      FROM c)
    SELECT lang, CAST(FLOOR(score / 10.0e0) AS BIGINT) AS band,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(score), 4) AS avg_score,
           ROUND(MIN(score), 4) AS min_score,
           ROUND(MAX(score), 4) AS max_score
    FROM f GROUP BY lang, band ORDER BY lang, band
    """


@q("readability_bands", oracle=_READ_SQL)
def readability_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease bands per language — the classic readability
    quality filter (206.835 - 1.015·W/S - 84.6·Syl/W) from three integer
    counts: words (space split), pseudo-sentences (deterministic 8-12
    word windows; the fixture has no punctuation), and syllables
    approximated as vowel groups (``[aeiou]+`` runs — the standard
    heuristic). Scores snap to 4 dp before banding (established
    cross-engine float rule).

    Scale shape: all three counts are per-row JVM regex/split work (no
    UDF); the band rollup is ONE partial-agg shuffle keyed on
    (lang, band) — identical to ``unigram_logprob``'s banding. Nothing
    quadratic, nothing windowed.
    """
    d = t(spark, sf_dir, "documents")
    c = d.select(
        "lang",
        F.expr("size(split(text, ' '))").alias("w"),
        F.expr(
            f"(size(split(text, ' ')) + {_RD_SLEN} - 1) div {_RD_SLEN}"
        ).alias("s"),
        F.expr("regexp_count(text, '[aeiou]+')").alias("sy"),
    ).where(F.col("w") >= 1)
    f = c.select(
        "lang",
        F.round(
            F.lit(206.835)
            - F.lit(1.015) * (F.col("w") * F.lit(1.0) / F.col("s"))
            - F.lit(84.6) * (F.col("sy") * F.lit(1.0) / F.col("w")),
            4,
        ).alias("score"),
    )
    return (
        f.groupBy(
            "lang",
            F.floor(F.col("score") / F.lit(10.0)).cast("long").alias("band"),
        )
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.round(F.avg("score"), 4).alias("avg_score"),
            F.round(F.min("score"), 4).alias("min_score"),
            F.round(F.max("score"), 4).alias("max_score"),
        )
        .orderBy("lang", "band")
    )


# ---------------------------------------------------------------------------
# tie-corrected Spearman rank correlation, window-free
# ---------------------------------------------------------------------------

_SP_HITS = "((length(text) - length(replace(text, 'spark', ''))) // 5)"

# Pearson-on-ranks from exact wide-integer sums; ranks are 2x-scaled
# average ranks so ties stay integral.
_SP_RHO = (
    "(n * sxy - sx * sy) * 1.0e0 / "
    "SQRT((n * sxx - sx * sx) * 1.0e0) / SQRT((n * syy - sy * sy) * 1.0e0)"
)

_SPEARMAN_SQL = f"""
    WITH base AS (
      SELECT lang, n_chars AS x, {_SP_HITS} AS y FROM documents),
    xa AS (SELECT lang, x, CAST(COUNT(*) AS BIGINT) AS cnt
           FROM base GROUP BY lang, x),
    xr AS (SELECT lang, x,
                  2 * (SUM(cnt) OVER (PARTITION BY lang ORDER BY x) - cnt)
                    + cnt + 1 AS rx2
           FROM xa),
    ya AS (SELECT lang, y, CAST(COUNT(*) AS BIGINT) AS cnt
           FROM base GROUP BY lang, y),
    yr AS (SELECT lang, y,
                  2 * (SUM(cnt) OVER (PARTITION BY lang ORDER BY y) - cnt)
                    + cnt + 1 AS ry2
           FROM ya),
    joint AS (SELECT lang, x, y, CAST(COUNT(*) AS BIGINT) AS nxy
              FROM base GROUP BY lang, x, y),
    s AS (
      SELECT j.lang,
             CAST(SUM(nxy) AS HUGEINT) AS n,
             SUM(CAST(nxy AS HUGEINT) * rx2) AS sx,
             SUM(CAST(nxy AS HUGEINT) * ry2) AS sy,
             SUM(CAST(nxy AS HUGEINT) * rx2 * rx2) AS sxx,
             SUM(CAST(nxy AS HUGEINT) * ry2 * ry2) AS syy,
             SUM(CAST(nxy AS HUGEINT) * rx2 * ry2) AS sxy
      FROM joint j
      JOIN xr ON j.lang = xr.lang AND j.x = xr.x
      JOIN yr ON j.lang = yr.lang AND j.y = yr.y
      GROUP BY j.lang)
    SELECT lang, CAST(n AS BIGINT) AS n_docs,
           ROUND({_SP_RHO}, 6) AS rho_spearman
    FROM s ORDER BY lang
    """


@q("spearman_corr", oracle=_SPEARMAN_SQL)
def spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-corrected Spearman rank correlation between document length
    (n_chars) and keyword-hit count, per language — the distribution-free
    companion of ``metric_correlation_matrix``'s Pearson.

    Window-free rank construction: the 2x-scaled AVERAGE rank of a value
    is ``2·cum_before + ties + 1`` — a function of the per-value
    aggregate only, so ranks come from two tiny per-value dimension
    relations (distinct lengths / distinct hit counts), never a per-row
    ROW_NUMBER. The Pearson step runs on the joint (x, y) frequency
    relation with DECIMAL(38,0) power sums (rank products overflow int64
    beyond ~1e6 rows/group — the ``winsorized_value_stats`` rule), so rho
    is a double computed once from exact integers on both engines.

    Scale shape: three partial-agg shuffles (per-x, per-y, per-(x,y)),
    each keyed by bounded-cardinality value columns; the rank windows run
    over the AGGREGATED relations (|distinct values| rows, not |docs|);
    the final join is broadcast-sized. No per-row window, no global sort.
    """
    base = t(spark, sf_dir, "documents").select(
        "lang",
        F.col("n_chars").alias("x"),
        F.expr(_SP_HITS.replace("//", " div ")).alias("y"),
    )

    def ranks(col: str, out: str) -> DataFrame:
        agg = base.groupBy("lang", col).agg(
            F.count("*").cast("long").alias("cnt")
        )
        w = Window.partitionBy("lang").orderBy(col)
        return agg.select(
            "lang",
            col,
            (
                2 * (F.sum("cnt").over(w) - F.col("cnt"))
                + F.col("cnt")
                + 1
            ).alias(out),
        )

    xr = ranks("x", "rx2")
    yr = ranks("y", "ry2")
    joint = base.groupBy("lang", "x", "y").agg(
        F.count("*").cast("long").alias("nxy")
    )
    dec = "decimal(38,0)"
    j = joint.join(xr, ["lang", "x"]).join(yr, ["lang", "y"])
    s = j.groupBy("lang").agg(
        F.sum("nxy").cast(dec).alias("n"),
        F.sum(F.col("nxy").cast(dec) * F.col("rx2")).alias("sx"),
        F.sum(F.col("nxy").cast(dec) * F.col("ry2")).alias("sy"),
        F.sum(F.col("nxy").cast(dec) * F.col("rx2") * F.col("rx2")).alias("sxx"),
        F.sum(F.col("nxy").cast(dec) * F.col("ry2") * F.col("ry2")).alias("syy"),
        F.sum(F.col("nxy").cast(dec) * F.col("rx2") * F.col("ry2")).alias("sxy"),
    )
    return s.select(
        "lang",
        F.col("n").cast("long").alias("n_docs"),
        F.round(F.expr(_SP_RHO), 6).alias("rho_spearman"),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# public-suffix registered-domain extraction
# ---------------------------------------------------------------------------

# (public suffix, label count) — a representative PSL slice incl. a
# private-registry 2-label suffix; production swaps in the full list
# (~9k rows), still broadcast-sized.
_PSL = (
    ("co.uk", 2), ("org.uk", 2), ("gov.uk", 2), ("ac.uk", 2),
    ("github.io", 2), ("com", 1), ("net", 1), ("io", 1), ("uk", 1),
)

_PSL_VALUES = ", ".join(f"('{s}', {k})" for s, k in _PSL)

_REGDOM_SQL = f"""
    WITH hosts AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END
             || 'site' || CAST(doc_id % 23 AS VARCHAR) || '.'
             || CASE doc_id % 8
                  WHEN 0 THEN 'co.uk'    WHEN 1 THEN 'com'
                  WHEN 2 THEN 'org.uk'   WHEN 3 THEN 'github.io'
                  WHEN 4 THEN 'net'      WHEN 5 THEN 'ac.uk'
                  WHEN 6 THEN 'io'       ELSE 'gov.uk'
                END AS host
      FROM documents),
    psl(suffix, k) AS (VALUES {_PSL_VALUES}),
    arr AS (SELECT doc_id, host, string_split(host, '.') AS a FROM hosts),
    cand AS (
      SELECT doc_id, host, a, kk,
             array_to_string(list_slice(a, len(a) - kk + 1, len(a)), '.')
               AS tail
      FROM arr, UNNEST(range(1, LEAST(3, len(a) - 1) + 1)) AS t(kk)),
    hit AS (
      SELECT c.doc_id, c.host, c.a, c.kk, p.suffix
      FROM cand c JOIN psl p ON c.tail = p.suffix
      QUALIFY ROW_NUMBER() OVER (PARTITION BY c.doc_id
                                 ORDER BY c.kk DESC) = 1),
    reg AS (
      SELECT host, suffix,
             array_to_string(list_slice(a, len(a) - kk, len(a)), '.')
               AS regdom
      FROM hit)
    SELECT regdom, suffix AS public_suffix,
           CAST(COUNT(*) AS BIGINT) AS n_pages,
           CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts
    FROM reg GROUP BY regdom, suffix ORDER BY regdom
    """


@q("registered_domain_rollup", oracle=_REGDOM_SQL)
def registered_domain_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered-domain (eTLD+1) extraction by public-suffix-list
    longest match, then a per-site rollup — the primitive behind
    crawl-frontier politeness keys, host-reputation joins, and
    dedup-by-site (``url_host_rollup`` stops at the raw host; this is
    the step after).

    Longest match is a JOIN, not a regex: each host emits its last
    1..3 label tails, the tail equi-joins the (broadcast) suffix table,
    and the max-label hit wins; the registered domain is the matched
    suffix plus one label. A private-registry 2-label suffix
    (github.io) and overlapping suffixes (uk / co.uk / gov.uk) are in
    the fixture slice, so the longest-match rule is actually exercised.

    Scale shape: the candidate fan-out is a bounded in-row explode
    (<= 3 rows/host); the PSL join broadcasts (~9k rows for the real
    list); the winner-per-host window partitions by doc_id (perfectly
    spread); the rollup is one partial-agg shuffle keyed by regdom.
    """
    d = t(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    host = F.concat(
        F.when(did % 3 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.lit("site"), (did % 23).cast("string"), F.lit("."),
        F.element_at(
            F.array(*[F.lit(s) for s, _ in (
                ("co.uk", 2), ("com", 1), ("org.uk", 2), ("github.io", 2),
                ("net", 1), ("ac.uk", 2), ("io", 1), ("gov.uk", 2),
            )]),
            (did % 8 + 1).cast("int"),
        ),
    )
    hosts = d.select("doc_id", host.alias("host")).withColumn(
        "a", F.expr(r"split(host, '\\.')")
    )
    psl = spark.createDataFrame(list(_PSL), "suffix string, k int")
    cand = hosts.select(
        "doc_id", "host", "a",
        F.explode(
            F.expr("sequence(1, least(3, size(a) - 1))")
        ).alias("kk"),
    ).withColumn("tail", F.expr("array_join(slice(a, -kk, kk), '.')"))
    hit = (
        cand.join(F.broadcast(psl), F.col("tail") == psl.suffix)
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(F.desc("kk"))
            ),
        )
        .where(F.col("rn") == 1)
    )
    reg = hit.select(
        "host", "suffix",
        F.expr("array_join(slice(a, -(kk + 1), kk + 1), '.')").alias("regdom"),
    )
    return (
        reg.groupBy("regdom", F.col("suffix").alias("public_suffix"))
        .agg(
            F.count("*").cast("long").alias("n_pages"),
            F.countDistinct("host").cast("long").alias("n_hosts"),
        )
        .orderBy("regdom")
    )


# ---------------------------------------------------------------------------
# phonetic blocking + Levenshtein refine (record linkage)
# ---------------------------------------------------------------------------

_PB_FIRST = (
    "martin", "helen", "sarah", "peter", "linda", "george", "anna", "david"
)
_PB_LAST = (
    "smith", "jones", "taylor", "brown", "wilson", "evans", "thomas",
    "roberts",
)


def _pb_case(expr: str, words: tuple[str, ...]) -> str:
    arms = " ".join(
        f"WHEN {i} THEN '{w}'" for i, w in enumerate(words)
    )
    return f"CASE {expr} {arms} END"


_PB_NAME_SQL = f"""
      SELECT c_custkey AS id,
             CASE
               WHEN c_custkey % 5 = 0 THEN replace(nm, 'e', 'a')
               WHEN c_custkey % 7 = 0 THEN nm || substr(nm, length(nm), 1)
               ELSE nm
             END AS name
      FROM (SELECT c_custkey,
                   {_pb_case('c_custkey % 8', _PB_FIRST)} || ' ' ||
                   {_pb_case('(c_custkey // 8) % 8', _PB_LAST)} AS nm
            FROM customer)
"""

_PHONETIC_SQL = f"""
    WITH named AS ({_PB_NAME_SQL}),
    keyed AS (
      SELECT name,
             upper(substr(name, 1, 1))
             || substr(regexp_replace(substr(name, 2), '[aeiou ]', '', 'g'),
                       1, 4) AS bkey,
             CAST(COUNT(*) AS BIGINT) AS n_ids,
             CAST(MIN(id) AS BIGINT) AS rep_id
      FROM named GROUP BY name),
    pairs AS (
      SELECT a.bkey, a.name AS name_a, b.name AS name_b,
             levenshtein(a.name, b.name) AS lev
      FROM keyed a JOIN keyed b
        ON a.bkey = b.bkey AND a.name < b.name
      WHERE levenshtein(a.name, b.name) <= 2)
    SELECT k.bkey,
           CAST(COUNT(DISTINCT k.name) AS BIGINT) AS n_names,
           CAST(COUNT(DISTINCT p.name_a || '|' || p.name_b) AS BIGINT)
             AS n_match_pairs,
           MIN(p.lev) AS min_lev,
           MIN(p.name_a || '|' || p.name_b) AS example_pair
    FROM keyed k LEFT JOIN pairs p ON k.bkey = p.bkey
    GROUP BY k.bkey ORDER BY k.bkey
    """


@q("phonetic_blocking_pairs", oracle=_PHONETIC_SQL)
def phonetic_blocking_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-linkage two-stage match: block person names on a
    consonant-skeleton phonetic key (initial + first 4 consonants — the
    Soundex family member whose key is pure regex, so both engines
    compute it identically), then refine within blocks with exact
    Levenshtein <= 2. Names are synthesised from the customer table with
    two deterministic typo classes — vowel shift (skeleton-invariant)
    and doubled final letter (prefix-invariant) — so blocking provably
    catches both.

    Scale shape: the blocking key is per-row regex; candidate
    generation is an equi-self-join on the key over the DISTINCT-name
    relation (names, not rows — the classic blocking cardinality
    reduction), never an all-pairs theta join; block sizes are bounded
    by the key's selectivity (a production run adds the standard
    hot-block cap, cf. dedup.py's capped buckets). One shuffle on the
    key, bounded in-block pair expansion, Levenshtein only inside
    blocks.
    """
    c = t(spark, sf_dir, "customer").select("c_custkey")
    nm = F.expr(
        f"{_pb_case('c_custkey % 8', _PB_FIRST)} || ' ' || "
        f"{_pb_case('(c_custkey div 8) % 8', _PB_LAST)}"
    )
    named = c.select(
        F.col("c_custkey").alias("id"), nm.alias("nm")
    ).select(
        "id",
        F.when(
            F.col("id") % 5 == 0, F.expr("replace(nm, 'e', 'a')")
        )
        .when(
            F.col("id") % 7 == 0,
            F.expr("nm || substr(nm, length(nm), 1)"),
        )
        .otherwise(F.col("nm"))
        .alias("name"),
    )
    keyed = (
        named.groupBy("name")
        .agg(
            F.count("*").cast("long").alias("n_ids"),
            F.min("id").cast("long").alias("rep_id"),
        )
        .withColumn(
            "bkey",
            F.concat(
                F.upper(F.expr("substr(name, 1, 1)")),
                F.expr(
                    "substr(regexp_replace(substr(name, 2),"
                    " '[aeiou ]', ''), 1, 4)"
                ),
            ),
        )
    )
    a = keyed.select(F.col("bkey"), F.col("name").alias("name_a"))
    b = keyed.select(F.col("bkey").alias("bkey_b"), F.col("name").alias("name_b"))
    pairs = (
        a.join(b, (a.bkey == b.bkey_b) & (a.name_a < b.name_b))
        .withColumn("lev", F.levenshtein("name_a", "name_b"))
        .where(F.col("lev") <= 2)
        .select("bkey", "name_a", "name_b", "lev")
    )
    return (
        keyed.join(pairs, "bkey", "left")
        .groupBy("bkey")
        .agg(
            F.countDistinct("name").cast("long").alias("n_names"),
            F.countDistinct(
                F.concat_ws("|", "name_a", "name_b")
            ).cast("long").alias("n_match_pairs"),
            F.min("lev").alias("min_lev"),
            F.min(
                F.when(
                    F.col("name_a").isNotNull(),
                    F.concat(F.col("name_a"), F.lit("|"), F.col("name_b")),
                )
            ).alias("example_pair"),
        )
        .orderBy("bkey")
    )


# ---------------------------------------------------------------------------
# Markov steady state (power iteration in exact micro-integers)
# ---------------------------------------------------------------------------

_MK_ROUNDS = 12
_MK_STATES = ("click", "error", "purchase", "signup", "view")


def _mk_sql() -> str:
    rounds = []
    prev = "v0"
    for r in range(1, _MK_ROUNDS + 1):
        rounds.append(
            f"""v{r} AS (
      SELECT p.j AS state, SUM(v.v * p.p_micro) // 1000000 AS v
      FROM p JOIN {prev} v ON p.i = v.state GROUP BY p.j)"""
        )
        prev = f"v{r}"
    chain = ",\n    ".join(rounds)
    return f"""
    WITH pairs AS (
      SELECT LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS i,
             event_type AS j
      FROM events),
    cm AS (SELECT i, j, CAST(COUNT(*) AS BIGINT) AS c FROM pairs
           WHERE i IS NOT NULL GROUP BY i, j),
    rs AS (SELECT i, CAST(SUM(c) AS BIGINT) AS tot FROM cm GROUP BY i),
    p AS (SELECT cm.i, cm.j, cm.c * 1000000 // rs.tot AS p_micro
          FROM cm JOIN rs USING (i)),
    v0 AS (SELECT i AS state, CAST(200000 AS BIGINT) AS v
           FROM (SELECT DISTINCT i FROM p)),
    {chain}
    SELECT a.state,
           CAST(a.v AS BIGINT) AS p_steady_micro,
           ROUND(a.v * 1.0e0 / 1000000, 6) AS p_steady,
           CAST(ABS(a.v - b.v) AS BIGINT) AS conv_delta_micro
    FROM v{_MK_ROUNDS} a JOIN v{_MK_ROUNDS - 1} b USING (state)
    ORDER BY a.state
    """


@q("markov_steady_state", oracle=_mk_sql())
def markov_steady_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the event-type Markov chain — the
    session-flow summary statistic (PageRank's aperiodic little
    sibling): build the transition matrix from per-user consecutive
    event pairs, then run {_MK_ROUNDS} power-iteration rounds ENTIRELY
    in micro-unit integer arithmetic (p_ij and v_i both scaled 1e6,
    products floor-divided back each round) so every round is exact and
    engine-independent; the per-state |v_R - v_(R-1)| delta is the
    convergence certificate.

    Scale shape: the LAG runs user-keyed (perfectly spread); the matrix
    is |event_types|^2 rows — the iteration is joins over a broadcast-
    sized relation, O(rounds) tiny stages, the bounded-round discipline
    of ``bellman_ford_distances``/``lpa_communities``. Raw events are
    scanned exactly once.
    """
    ev = t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.lag("event_type").over(w).alias("i"), F.col("event_type").alias("j")
    ).where(F.col("i").isNotNull())
    cm = pairs.groupBy("i", "j").agg(F.count("*").cast("long").alias("c"))
    rs = cm.groupBy("i").agg(F.sum("c").cast("long").alias("tot"))
    p = (
        cm.join(rs, "i")
        .select("i", "j", F.expr("c * 1000000 div tot").alias("p_micro"))
        .transform(cut)
    )
    v = p.select("i").distinct().select(
        F.col("i").alias("state"), F.lit(200000).cast("long").alias("v")
    )
    prev = None
    for r in range(_MK_ROUNDS):
        prev = v
        v = (
            p.join(F.broadcast(v), p.i == v.state)
            .groupBy(F.col("j").alias("state2"))
            .agg(F.expr("sum(v * p_micro) div 1000000").alias("v"))
            .select(F.col("state2").alias("state"), "v")
        )
        if r % 4 == 3:
            v = cut(v)
            prev = cut(prev)
    b = prev.select(F.col("state").alias("state_b"), F.col("v").alias("v_b"))
    return (
        v.join(b, v.state == b.state_b)
        .select(
            "state",
            F.col("v").cast("long").alias("p_steady_micro"),
            F.round(F.col("v") * F.lit(1.0) / F.lit(1000000), 6).alias("p_steady"),
            F.abs(F.col("v") - F.col("v_b")).cast("long").alias("conv_delta_micro"),
        )
        .orderBy("state")
    )


# ---------------------------------------------------------------------------
# DSIR importance selection (hashed-unigram importance weights)
# ---------------------------------------------------------------------------

_DSIR_P = 1000003  # portable polynomial word-hash modulus (winnowing rule)
_DSIR_B = 64  # feature buckets
_DSIR_K = 20  # selected documents
_DSIR_TARGET = "en"  # target slice: the English sub-corpus

_DSIR_SQL = f"""
    WITH toks AS (
      SELECT doc_id, lang,
             list_reduce(list_prepend(0,
               list_transform(string_split(w, ''), c -> unicode(c))),
               (h, c) -> (h * 31 + c) % {_DSIR_P}) % {_DSIR_B} AS b
      FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
            FROM documents)),
    raw AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS c_raw FROM toks GROUP BY b),
    tgt AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS c_tgt FROM toks
            WHERE lang = '{_DSIR_TARGET}' GROUP BY b),
    nr AS (SELECT CAST(SUM(c_raw) AS BIGINT) AS n_raw FROM raw),
    nt AS (SELECT CAST(SUM(c_tgt) AS BIGINT) AS n_tgt FROM tgt),
    lr AS (
      SELECT raw.b,
             CAST(FLOOR((LN((COALESCE(c_tgt, 0) + 1.0e0)
                            / (nt.n_tgt + {_DSIR_B}))
                         - LN((c_raw + 1.0e0) / (nr.n_raw + {_DSIR_B})))
                        * 1.0e6 + 0.5e0) AS BIGINT) AS lr_micro
      FROM raw LEFT JOIN tgt ON raw.b = tgt.b, nr, nt),
    dw AS (
      SELECT t.doc_id, MIN(t.lang) AS lang,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(lr.lr_micro) AS BIGINT) AS weight_micro
      FROM toks t JOIN lr ON t.b = lr.b GROUP BY t.doc_id)
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY weight_micro DESC, doc_id)
                AS BIGINT) AS rank,
           doc_id, lang, n_tokens, weight_micro
    FROM (SELECT * FROM dw ORDER BY weight_micro DESC, doc_id
          LIMIT {_DSIR_K})
    ORDER BY rank
    """


@q("dsir_importance_select", oracle=_DSIR_SQL)
def dsir_importance_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, "Data Selection with
    Importance Resampling"): hashed-unigram importance weights
    log(p_target/p_raw) summed over each document's tokens, target = the
    English slice, raw = the full corpus; emit the top-{_DSIR_K}
    documents by weight (deterministic rank, doc_id tiebreak — the
    deterministic-selection variant of DSIR's Gumbel resampling).

    Float discipline: the {_DSIR_B} per-bucket Laplace-smoothed
    log-ratios snap to integer MICRO-units once (built from exact
    integer counts); per-doc weights are then pure int64 sums — exact
    in any aggregation order on both engines.

    Scale shape: token bucketing is the in-row polynomial-hash fold
    (winnowing rule — no UDF); both LM builds are one bucket-keyed
    partial agg each; scoring is a broadcast join ({_DSIR_B} rows) +
    doc-keyed partial agg; the final top-k is a TakeOrdered (per-
    partition top-{_DSIR_K}, never a global sort), and the rank window
    runs over the {_DSIR_K}-row result only.
    """
    toks = (
        t(spark, sf_dir, "documents")
        .select("doc_id", "lang", F.explode(F.split("text", " ")).alias("w"))
        .select(
            "doc_id",
            "lang",
            F.expr(
                f"aggregate(split(w, ''), 0L,"
                f" (h, c) -> (h * 31 + ascii(c)) % {_DSIR_P}) % {_DSIR_B}"
            ).alias("b"),
        )
    )
    raw = toks.groupBy("b").agg(F.count("*").cast("long").alias("c_raw"))
    tgt = (
        toks.where(F.col("lang") == _DSIR_TARGET)
        .groupBy("b")
        .agg(F.count("*").cast("long").alias("c_tgt"))
    )
    nr = raw.agg(F.sum("c_raw").cast("long").alias("n_raw"))
    nt = tgt.agg(F.sum("c_tgt").cast("long").alias("n_tgt"))
    lr = (
        raw.join(tgt, "b", "left")
        .crossJoin(F.broadcast(nr))
        .crossJoin(F.broadcast(nt))
        .select(
            "b",
            F.floor(
                (
                    F.log(
                        (F.coalesce("c_tgt", F.lit(0)) + F.lit(1.0))
                        / (F.col("n_tgt") + F.lit(_DSIR_B))
                    )
                    - F.log(
                        (F.col("c_raw") + F.lit(1.0))
                        / (F.col("n_raw") + F.lit(_DSIR_B))
                    )
                )
                * F.lit(1.0e6)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("lr_micro"),
        )
    )
    dw = (
        toks.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.min("lang").alias("lang"),
            F.count("*").cast("long").alias("n_tokens"),
            F.sum("lr_micro").cast("long").alias("weight_micro"),
        )
    )
    top = dw.orderBy(F.desc("weight_micro"), "doc_id").limit(_DSIR_K)
    return top.select(
        F.row_number()
        .over(Window.orderBy(F.desc("weight_micro"), "doc_id"))
        .cast("long")
        .alias("rank"),
        "doc_id",
        "lang",
        "n_tokens",
        "weight_micro",
    ).orderBy("rank")


# ---------------------------------------------------------------------------
# Gonzalez greedy k-center coreset over embeddings
# ---------------------------------------------------------------------------

_KC_K = 5  # centers (greedy rounds)

_KC_D2 = (
    "ROUND(list_reduce(list_transform(range(1, len({a}) + 1),"
    " i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])),"
    " (s, v) -> s + v), 6)"
)


def _kc_sql() -> str:
    d2 = _KC_D2.format(a="e.v", b="c.v")
    parts = [
        """ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cents1 AS (SELECT vec_id, v, 0.0e0 AS radius, 0 AS rnd
               FROM ev WHERE vec_id = 0)"""
    ]
    for r in range(1, _KC_K):
        parts.append(
            f"""md{r} AS (
      SELECT e.vec_id, e.v, MIN({d2}) AS d
      FROM ev e, cents{r} c GROUP BY e.vec_id, e.v),
    pick{r} AS (
      SELECT vec_id, v, d AS radius, {r} AS rnd FROM md{r}
      WHERE vec_id NOT IN (SELECT vec_id FROM cents{r})
      ORDER BY d DESC, vec_id LIMIT 1),
    cents{r + 1} AS (
      SELECT vec_id, v, radius, rnd FROM cents{r}
      UNION ALL SELECT vec_id, v, radius, rnd FROM pick{r})"""
        )
    chain = ",\n    ".join(parts)
    return f"""
    WITH {chain},
    assign AS (
      SELECT e.vec_id,
             MIN(struct_pack(d := {d2}, cid := c.vec_id)) AS nn
      FROM ev e, cents{_KC_K} c GROUP BY e.vec_id)
    SELECT c.rnd, c.vec_id AS center_id,
           ROUND(c.radius, 6) AS radius_d2,
           CAST(COUNT(a.vec_id) AS BIGINT) AS n_assigned
    FROM cents{_KC_K} c
    LEFT JOIN assign a ON a.nn.cid = c.vec_id
    GROUP BY c.rnd, c.vec_id, c.radius ORDER BY c.rnd
    """


@q("kcenter_coreset", oracle=_kc_sql())
def kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gonzalez greedy k-center coreset over the embeddings table — the
    farthest-point-traversal data-selection primitive (diversity
    sampling for training data; the classic 2-approximation to the
    k-center objective). {_KC_K} rounds: each picks the point with the
    MAXIMUM min-distance to the chosen set (squared L2, 6-dp snapped
    before the argmax; vec_id tiebreak), records that distance as the
    round's coverage-radius certificate, then the whole corpus is
    assigned to its nearest center.

    Scale shape: every round is ONE full scan against the broadcast
    chosen-center set (<= {_KC_K} rows) with a per-partition top-1
    (TakeOrdered — never a global sort); the driver collects exactly one
    row per round (the codebook-training precedent, ann/search.py). The
    final assignment is the same broadcast-scan shape. O(k·n) work
    total, no self-join anywhere.
    """
    ev = t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x AS double))").alias("v"),
    )
    d2 = (
        "ROUND(aggregate(zip_with(v, cv, (x, y) -> (x - y) * (x - y)),"
        " 0D, (s, acc) -> s + acc), 6)"
    )
    first = ev.where(F.col("vec_id") == 0).select("vec_id", "v").collect()[0]
    chosen = [(0, int(first.vec_id), list(first.v), 0.0)]
    for r in range(1, _KC_K):
        cents = spark.createDataFrame(
            [(cid, cv) for _, cid, cv, _ in chosen],
            "cid long, cv array<double>",
        )
        md = (
            ev.join(F.broadcast(cents))
            .select("vec_id", "v", F.expr(d2).alias("d"))
            .groupBy("vec_id", "v")
            .agg(F.min("d").alias("d"))
        )
        pick = (
            md.where(~F.col("vec_id").isin([c[1] for c in chosen]))
            .orderBy(F.desc("d"), "vec_id")
            .limit(1)
            .collect()[0]
        )
        chosen.append((r, int(pick.vec_id), list(pick.v), float(pick.d)))
    cents = spark.createDataFrame(
        [(rnd, cid, cv, rad) for rnd, cid, cv, rad in chosen],
        "rnd int, cid long, cv array<double>, radius double",
    )
    assign_counts = (
        ev.join(F.broadcast(cents.select("cid", "cv")))
        .select("vec_id", F.expr(d2).alias("d"), "cid")
        .groupBy("vec_id")
        .agg(F.min(F.struct("d", "cid")).alias("nn"))
        .groupBy(F.col("nn.cid").alias("acid"))
        .agg(F.count("*").cast("long").alias("n_assigned"))
    )
    return (
        cents.join(
            F.broadcast(assign_counts), cents.cid == assign_counts.acid, "left"
        )
        .select(
            "rnd",
            F.col("cid").alias("center_id"),
            F.round("radius", 6).alias("radius_d2"),
            F.coalesce("n_assigned", F.lit(0)).cast("long").alias("n_assigned"),
        )
        .orderBy("rnd")
    )


# ---------------------------------------------------------------------------
# t-closeness audit (EMD between class and global sensitive distribution)
# ---------------------------------------------------------------------------

_TC_T_MICRO = 25000  # t = 0.025 closeness threshold, micro units

_TCLOSE_SQL = f"""
    WITH qi AS (SELECT event_type,
                       (CAST(CAST(ts AS DATE) - DATE '1970-01-01'
                             AS INTEGER) + 4) % 7 AS dow,
                       CAST(FLOOR(value / 500.0e0) AS BIGINT) AS value_band,
                       CAST(json_extract(props, '$.k') AS INTEGER) // 10
                         AS sens
                FROM events),
    bins AS (SELECT sens, CAST(COUNT(*) AS BIGINT) AS c FROM qi GROUP BY sens),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
                   CAST(COUNT(*) AS BIGINT) AS nb FROM bins),
    grp AS (SELECT event_type, dow, value_band,
                   CAST(COUNT(*) AS BIGINT) AS m
            FROM qi GROUP BY event_type, dow, value_band),
    gb AS (SELECT event_type, dow, value_band, sens,
                  CAST(COUNT(*) AS BIGINT) AS g
           FROM qi GROUP BY event_type, dow, value_band, sens),
    full_gb AS (
      SELECT grp.event_type, grp.dow, grp.value_band, grp.m,
             bins.sens, bins.c, COALESCE(gb.g, 0) AS g
      FROM grp CROSS JOIN bins
      LEFT JOIN gb ON gb.event_type = grp.event_type
                  AND gb.dow = grp.dow AND gb.value_band = grp.value_band
                  AND gb.sens = bins.sens),
    cum AS (
      SELECT event_type, dow, value_band, m, sens,
             SUM(CAST(c AS HUGEINT) * m - CAST(g AS HUGEINT) * n)
               OVER (PARTITION BY event_type, dow, value_band
                     ORDER BY sens) AS cd,
             n, nb
      FROM full_gb, tot),
    emd AS (
      SELECT event_type, dow, value_band, MIN(m) AS m,
             CAST(FLOOR(SUM(CASE WHEN sens < 90 THEN ABS(cd) ELSE 0 END)
                        * 1.0e6
                        / (MIN(n) * 1.0e0 * MIN(m) * (MIN(nb) - 1)) + 0.5e0)
                  AS BIGINT) AS emd_micro
      FROM cum GROUP BY event_type, dow, value_band)
    SELECT emd_micro // 5000 AS t_band,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(SUM(m) AS BIGINT) AS n_rows,
           CAST(MAX(emd_micro) AS BIGINT) AS max_emd_micro,
           CAST(SUM(CASE WHEN emd_micro > {_TC_T_MICRO} THEN m ELSE 0 END)
                AS BIGINT) AS n_risky_rows
    FROM emd GROUP BY t_band ORDER BY t_band
    """


@q("t_closeness_audit", oracle=_TCLOSE_SQL)
def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li et al. 2007) — completes the privacy triad
    with ``k_anonymity_audit`` / ``l_diversity_audit`` (same QI tuple,
    same ordered sensitive attribute): per equivalence class, the Earth
    Mover's Distance between the class's sensitive-value distribution
    and the global one, over ordered bins: EMD = sum(|cumsum(P - Q)|) /
    (B - 1). Histogram over 0.005-wide t bands plus rows in classes that
    breach t = 0.025 (the fixture's sensitive attribute is near-uniform, so realistic distances are small; production tunes t).

    Exactness: the cum differences are exact wide integers
    (c_i*M - g_i*N, DECIMAL(38,0) == HUGEINT — the winsorized rule:
    bin-count x class-size products overflow int64 beyond ~3e9 rows);
    EMD snaps to micro once per class from one exact-int expression.

    Scale shape: two partial-agg shuffles over the raw relation (per-bin
    and per-(class, bin)); the class x bin completion is a CROSS JOIN
    against the B-row (broadcast) bin relation; the cumsum window
    partitions by class over <= B rows each. Nothing scans per-row
    twice, nothing is quadratic.
    """
    ev = t(spark, sf_dir, "events")
    qi = ev.select(
        "event_type",
        F.expr(
            "(CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS INTEGER) + 4) % 7"
        ).alias("dow"),
        F.floor(F.col("value") / F.lit(500.0)).cast("long").alias("value_band"),
        F.expr(
            "CAST(get_json_object(props, '$.k') AS INTEGER) div 10"
        ).alias("sens"),
    )
    bins = qi.groupBy("sens").agg(F.count("*").cast("long").alias("c"))
    tot = bins.agg(
        F.sum("c").cast("long").alias("n"), F.count("*").cast("long").alias("nb")
    )
    grp = qi.groupBy("event_type", "dow", "value_band").agg(
        F.count("*").cast("long").alias("m")
    )
    gb = qi.groupBy("event_type", "dow", "value_band", "sens").agg(
        F.count("*").cast("long").alias("g")
    )
    full_gb = (
        grp.crossJoin(F.broadcast(bins))
        .join(gb, ["event_type", "dow", "value_band", "sens"], "left")
        .select(
            "event_type", "dow", "value_band", "m", "sens", "c",
            F.coalesce("g", F.lit(0)).alias("g"),
        )
        .crossJoin(F.broadcast(tot))
    )
    dec = "decimal(38,0)"
    w = Window.partitionBy("event_type", "dow", "value_band").orderBy("sens")
    cum = full_gb.select(
        "event_type", "dow", "value_band", "m", "sens", "n", "nb",
        F.sum(
            F.col("c").cast(dec) * F.col("m") - F.col("g").cast(dec) * F.col("n")
        )
        .over(w)
        .alias("cd"),
    )
    emd = cum.groupBy("event_type", "dow", "value_band").agg(
        F.min("m").alias("m"),
        F.floor(
            F.sum(F.when(F.col("sens") < 90, F.abs("cd")).otherwise(F.lit(0)))
            * F.lit(1.0e6)
            / (
                F.min("n") * F.lit(1.0) * F.min("m") * (F.min("nb") - 1)
            )
            + F.lit(0.5)
        )
        .cast("long")
        .alias("emd_micro"),
    )
    return (
        emd.groupBy(F.expr("emd_micro div 5000").alias("t_band"))
        .agg(
            F.count("*").cast("long").alias("n_classes"),
            F.sum("m").cast("long").alias("n_rows"),
            F.max("emd_micro").cast("long").alias("max_emd_micro"),
            F.sum(
                F.when(F.col("emd_micro") > _TC_T_MICRO, F.col("m")).otherwise(0)
            )
            .cast("long")
            .alias("n_risky_rows"),
        )
        .orderBy("t_band")
    )


# ---------------------------------------------------------------------------
# Brier score + Murphy decomposition
# ---------------------------------------------------------------------------

_BR_BINS = 20
_BR_HITS = "((length(text) - length(replace(text, 'spark', ''))) // 5)"
_BR_SCORE = f"(({_BR_HITS} * 1000000) // n_chars)"
_BR_REL_MIN = 4

_BRIER_SQL = f"""
    WITH scored AS (
      SELECT {_BR_SCORE} AS score,
             CASE WHEN {_BR_HITS} >= {_BR_REL_MIN} THEN 1 ELSE 0 END AS y
      FROM documents),
    mx AS (SELECT MAX(score) AS mxs FROM scored),
    p AS (SELECT (score * 1000000) // (mxs + 1) AS p_micro, y
          FROM scored, mx),
    b AS (SELECT LEAST(p_micro // {1000000 // _BR_BINS}, {_BR_BINS - 1})
                   AS bin,
                 CAST(COUNT(*) AS BIGINT) AS nk,
                 CAST(SUM(p_micro) AS BIGINT) AS sp,
                 CAST(SUM(y) AS BIGINT) AS ok,
                 SUM(CAST(p_micro - y * 1000000 AS HUGEINT)
                     * (p_micro - y * 1000000)) AS se
          FROM p GROUP BY bin),
    tt AS (SELECT CAST(SUM(nk) AS BIGINT) AS n,
                  CAST(SUM(ok) AS BIGINT) AS o,
                  SUM(se) AS se_tot FROM b),
    terms AS (
      SELECT b.bin, b.nk, b.sp, b.ok, tt.n, tt.o, tt.se_tot,
             CAST(FLOOR((b.sp - b.ok * 1000000.0e0)
                        * (b.sp - b.ok * 1000000.0e0) / b.nk) AS BIGINT)
               AS rel_term,
             CAST(FLOOR((b.ok * 1.0e0 * tt.n - tt.o * 1.0e0 * b.nk)
                        * (b.ok * 1.0e0 * tt.n - tt.o * 1.0e0 * b.nk)
                        * 1.0e12 / (b.nk * 1.0e0 * tt.n * tt.n)) AS BIGINT)
               AS res_term
      FROM b, tt)
    SELECT CAST(MIN(n) AS BIGINT) AS n,
           ROUND(MIN(se_tot) * 1.0e0 / MIN(n) / 1.0e12, 6) AS brier,
           ROUND(SUM(rel_term) * 1.0e0 / MIN(n) / 1.0e12, 6) AS reliability,
           ROUND(SUM(res_term) * 1.0e0 / MIN(n) / 1.0e12, 6) AS resolution,
           ROUND((MIN(o) * 1.0e0 / MIN(n))
                 * (1.0e0 - MIN(o) * 1.0e0 / MIN(n)), 6) AS uncertainty
    FROM terms
    """


@q("brier_decomposition", oracle=_BRIER_SQL)
def brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score with the Murphy decomposition (reliability −
    resolution + uncertainty) over {_BR_BINS} forecast bins — the
    calibration-vs-sharpness diagnostic that sits beside
    ``calibration_bins`` (which bins) and ``isotonic_calibration``
    (which recalibrates): REL says how far bin means sit from bin
    outcome rates, RES how much the bins separate the base rate.

    Float discipline: predictions snap to micro-units from exact
    integer arithmetic; the Brier sum of squares is an exact wide
    integer (HUGEINT == DECIMAL(38,0)); the per-bin REL/RES terms are
    each ONE double expression over exact ints, floor-snapped to an
    integer micro^2 scale BEFORE the cross-bin sum, so aggregation
    order cannot move the emitted 6 dp.

    Scale shape: one scan -> one {_BR_BINS}-way partial agg; the
    decomposition runs on the {_BR_BINS}-row relation. The scalar max
    arrives via a broadcast (the HITS scalar-build precedent).
    """
    dec = "decimal(38,0)"
    scored = t(spark, sf_dir, "documents").select(
        F.expr(_BR_SCORE.replace("//", " div ")).alias("score"),
        F.expr(
            f"CASE WHEN {_BR_HITS.replace('//', ' div ')} >= {_BR_REL_MIN}"
            " THEN 1 ELSE 0 END"
        ).alias("y"),
    )
    mx = scored.agg(F.max("score").alias("mxs"))
    p = scored.crossJoin(F.broadcast(mx)).select(
        F.expr("(score * 1000000) div (mxs + 1)").alias("p_micro"), "y"
    )
    b = p.groupBy(
        F.least(
            F.expr(f"p_micro div {1000000 // _BR_BINS}"),
            F.lit(_BR_BINS - 1).cast("long"),
        ).alias("bin")
    ).agg(
        F.count("*").cast("long").alias("nk"),
        F.sum("p_micro").cast("long").alias("sp"),
        F.sum("y").cast("long").alias("ok"),
        F.sum(
            (F.col("p_micro") - F.col("y") * 1000000).cast(dec)
            * (F.col("p_micro") - F.col("y") * 1000000)
        ).alias("se"),
    )
    tt = b.agg(
        F.sum("nk").cast("long").alias("n"),
        F.sum("ok").cast("long").alias("o"),
        F.sum("se").alias("se_tot"),
    )
    terms = b.crossJoin(F.broadcast(tt)).select(
        "nk", "sp", "ok", "n", "o", "se_tot",
        F.expr(
            "CAST(FLOOR((sp - ok * 1000000.0e0) * (sp - ok * 1000000.0e0)"
            " / nk) AS BIGINT)"
        ).alias("rel_term"),
        F.expr(
            "CAST(FLOOR((ok * 1.0e0 * n - o * 1.0e0 * nk)"
            " * (ok * 1.0e0 * n - o * 1.0e0 * nk)"
            " * 1.0e12 / (nk * 1.0e0 * n * n)) AS BIGINT)"
        ).alias("res_term"),
    )
    return terms.agg(
        F.min("n").cast("long").alias("n"),
        F.round(F.min("se_tot") * F.lit(1.0) / F.min("n") / F.lit(1.0e12), 6)
        .alias("brier"),
        F.round(F.sum("rel_term") * F.lit(1.0) / F.min("n") / F.lit(1.0e12), 6)
        .alias("reliability"),
        F.round(F.sum("res_term") * F.lit(1.0) / F.min("n") / F.lit(1.0e12), 6)
        .alias("resolution"),
        F.round(
            (F.min("o") * F.lit(1.0) / F.min("n"))
            * (F.lit(1.0) - F.min("o") * F.lit(1.0) / F.min("n")),
            6,
        ).alias("uncertainty"),
    )


# ---------------------------------------------------------------------------
# hard-sigmoid logistic regression (bounded gradient-descent rounds)
# ---------------------------------------------------------------------------

_HS_ROUNDS = 8
_HS_LR_SHIFT = 1  # eta = 1 / 2^1 (per-mean gradient step)


def _idiv(a: int, b: int) -> int:
    """Truncating integer division — Spark ``div`` / DuckDB ``//``
    semantics (Python ``//`` floors, which differs on negatives)."""
    return -((-a) // b) if a < 0 else a // b


def _hs_feat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hard-sigmoid (x1, x2, y) feature relation over documents."""
    hits = _BR_HITS.replace("//", " div ")
    return t(spark, sf_dir, "documents").select(
        F.expr("n_chars div 64").alias("x1"),
        F.expr(hits).alias("x2"),
        F.expr(
            f"CASE WHEN {hits} >= {_BR_REL_MIN} THEN 1 ELSE 0 END"
        ).alias("y"),
    )


def _hs_grouped(spark: SparkSession, sf_dir: str) -> list[tuple[int, int, int, int]]:
    """Distinct (x1, x2, y) groups with multiplicities, collected ONCE.

    The grouped relation is bounded by feature GRANULARITY (x1 is
    length div 64, x2 a small keyword-hit count, y binary) — not by
    corpus size — so the collect stays driver-sized at any SF, and the
    GD rounds below cost zero additional scans instead of one scan per
    round (round-3 verdict, What's wrong #4).
    """
    rows = (
        _hs_feat(spark, sf_dir)
        .groupBy("x1", "x2", "y")
        .agg(F.count("*").cast("long").alias("m"))
        .collect()
    )
    return [(int(r.x1), int(r.x2), int(r.y), int(r.m)) for r in rows]


def _hs_train(
    groups: list[tuple[int, int, int, int]], rounds: int = _HS_ROUNDS
) -> list[tuple[int, int, int]]:
    """Exact-integer GD over the grouped feature relation, driver-side.

    Per round the gradient is sum_rows e(x1,x2,y) * (x1, x2, 1); e is a
    pure function of the group key, so group sums times multiplicity
    equal the row sums EXACTLY — the weight trajectory is bit-identical
    to the per-round full-scan form (and to the SQL oracle's CTE
    chain). Returns the trajectory [(w1, w2, b) after each round].
    """
    n = sum(m for _, _, _, m in groups)
    denom = n * (1 << _HS_LR_SHIFT)
    w1 = w2 = b = 0
    traj: list[tuple[int, int, int]] = []
    for _ in range(rounds):
        g1 = g2 = g0 = 0
        for x1, x2, y, m in groups:
            e = (
                min(1000000, max(0, 500000 + _idiv(w1 * x1 + w2 * x2 + b, 4)))
                - y * 1000000
            )
            g1 += m * e * x1
            g2 += m * e * x2
            g0 += m * e
        w1 -= _idiv(g1, denom)
        w2 -= _idiv(g2, denom)
        b -= _idiv(g0, denom)
        traj.append((w1, w2, b))
    return traj


def _hs_sql() -> str:
    feat = f"""feat AS (
      SELECT n_chars // 64 AS x1, {_BR_HITS} AS x2,
             CASE WHEN {_BR_HITS} >= {_BR_REL_MIN} THEN 1 ELSE 0 END AS y
      FROM documents),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM feat),
    w0 AS (SELECT CAST(0 AS BIGINT) AS w1, CAST(0 AS BIGINT) AS w2,
                  CAST(0 AS BIGINT) AS b)"""
    rounds = []
    prev = "w0"
    for r in range(1, _HS_ROUNDS + 1):
        rounds.append(
            f"""g{r} AS (
      SELECT SUM(e * x1) AS g1, SUM(e * x2) AS g2, SUM(e) AS g0
      FROM (SELECT x1, x2,
                   LEAST(1000000, GREATEST(0,
                     500000 + (w.w1 * x1 + w.w2 * x2 + w.b) // 4))
                   - y * 1000000 AS e
            FROM feat, {prev} w)),
    w{r} AS (
      SELECT w.w1 - g.g1 // (nn.n * {1 << _HS_LR_SHIFT}) AS w1,
             w.w2 - g.g2 // (nn.n * {1 << _HS_LR_SHIFT}) AS w2,
             w.b - g.g0 // (nn.n * {1 << _HS_LR_SHIFT}) AS b
      FROM {prev} w, g{r} g, nn)"""
        )
        prev = f"w{r}"
    chain = ",\n    ".join([feat] + rounds)
    return f"""
    WITH {chain},
    fit AS (
      SELECT x1, x2, y,
             LEAST(1000000, GREATEST(0,
               500000 + (w.w1 * x1 + w.w2 * x2 + w.b) // 4)) AS p
      FROM feat, {prev} w)
    SELECT CAST(MIN(w.w1) AS BIGINT) AS w1_micro,
           CAST(MIN(w.w2) AS BIGINT) AS w2_micro,
           CAST(MIN(w.b) AS BIGINT) AS b_micro,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN (p >= 500000) = (y = 1) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           ROUND(SUM(ABS(p - y * 1000000)) * 1.0e0 / COUNT(*) / 1.0e6, 6)
             AS mean_abs_err
    FROM fit, {prev} w
    """


@q("hard_sigmoid_logreg", oracle=_hs_sql())
def hard_sigmoid_logreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic-style binary classifier trained with {_HS_ROUNDS}
    gradient-descent rounds under a HARD sigmoid (clamp(0.5 + z/4,
    0, 1) — the quantized-ML piecewise-linear gate), predicting the
    keyword-relevance label from document length and hit count. The
    hard gate keeps EVERY quantity exact integer micro-units: libm exp
    never enters, so weights, gradients and the final fit are
    bit-reproducible on both engines (the one transcendental-free
    member of the trained-model family: IVF k-means, isotonic, OLS).

    Scale shape: ONE action total — the feature space grouped to
    distinct (x1, x2, y) with multiplicities (bounded by feature
    granularity, not corpus size) is collected once and every GD round
    runs driver-side over the group sums, which equal the row sums
    exactly; the returned fit aggregate is the only other scan
    (executed by the caller's action). The per-round-scan form this
    replaces cost {_HS_ROUNDS} + 2 jobs over the same data.
    """
    groups = _hs_grouped(spark, sf_dir)
    w1, w2, b = _hs_train(groups)[-1]
    fit = _hs_feat(spark, sf_dir).select(
        "y",
        F.expr(
            f"LEAST(1000000, GREATEST(0,"
            f" 500000 + ({w1} * x1 + {w2} * x2 + {b}) div 4))"
        ).alias("p"),
    )
    return fit.agg(
        F.lit(w1).cast("long").alias("w1_micro"),
        F.lit(w2).cast("long").alias("w2_micro"),
        F.lit(b).cast("long").alias("b_micro"),
        F.count("*").cast("long").alias("n"),
        F.sum(
            F.when((F.col("p") >= 500000) == (F.col("y") == 1), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_correct"),
        F.round(
            F.sum(F.abs(F.col("p") - F.col("y") * 1000000))
            * F.lit(1.0)
            / F.count("*")
            / F.lit(1.0e6),
            6,
        ).alias("mean_abs_err"),
    )


# ---------------------------------------------------------------------------
# directional-extreme (octagon) hull area per cell
# ---------------------------------------------------------------------------

# the 8 support directions in counter-clockwise order; extremes in these
# directions are in convex position, so the shoelace over this order is a
# genuine (inner-approximation) convex polygon area
_OCT_DIRS = (
    ("xm", "E"), ("xm + ym", "NE"), ("ym", "N"), ("ym - xm", "NW"),
    ("-xm", "W"), ("-xm - ym", "SW"), ("-ym", "S"), ("xm - ym", "SE"),
)


def _oct_sql() -> str:
    from osmgraft.contract import CELL_W, X_EXPR, Y_EXPR

    aggs = ",\n             ".join(
        f"max(struct_pack(f := {f}, a := xm, b := ym)) AS c{i}"
        for i, (f, _) in enumerate(_OCT_DIRS)
    )
    shoelace = " + ".join(
        f"(c{i}.a * c{(i + 1) % 8}.b - c{(i + 1) % 8}.a * c{i}.b)"
        for i in range(8)
    )
    return f"""
    WITH pts AS (
      SELECT CAST(FLOOR(({X_EXPR}) / {CELL_W}e0) AS BIGINT) AS cx,
             CAST(FLOOR(({Y_EXPR}) / {CELL_W}e0) AS BIGINT) AS cy,
             CAST(FLOOR(({X_EXPR}) * 100.0e0 + 0.5e0) AS BIGINT) AS xm,
             CAST(FLOOR(({Y_EXPR}) * 100.0e0 + 0.5e0) AS BIGINT) AS ym
      FROM events),
    ext AS (
      SELECT cx, cy, CAST(COUNT(*) AS BIGINT) AS n_points,
             {aggs}
      FROM pts GROUP BY cx, cy)
    SELECT cx, cy, n_points,
           ROUND(({shoelace}) * 1.0e0 / 20000.0e0, 4) AS hull_area
    FROM ext ORDER BY cx, cy
    """


@q("octagon_hull_area", oracle=_oct_sql())
def octagon_hull_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell convex-footprint area via the directional-extreme
    octagon: the 8 support points (E, NE, N, NW, W, SW, S, SE extremes,
    deterministic (x, y) struct tiebreak) form a convex polygon whose
    shoelace area is the standard inner approximation of the convex
    hull — the bounded-size distributed stand-in for an exact hull
    (extreme-point aggregation commutes with partitioning; a full
    monotone-chain hull does not without a per-group sort).

    Exactness: coordinates snap to centi-unit integers; the 8 argmax
    structs and the 16-term shoelace are pure int64 arithmetic, so the
    area is exact before the final unit-conversion ROUND.

    Scale shape: ONE partial-agg shuffle keyed by cell — the 8
    directional max(struct) aggregates all combine map-side, so each
    cell reduces to 8 points regardless of density (the same shape as
    ``cell_assign_counts``; no collect_list, no per-group sort, no
    memory proportional to cell population).
    """
    from osmgraft.contract import CELL_W, X_EXPR, Y_EXPR

    pts = t(spark, sf_dir, "events").select(
        F.expr(f"CAST(FLOOR(({X_EXPR}) / {CELL_W}e0) AS BIGINT)").alias("cx"),
        F.expr(f"CAST(FLOOR(({Y_EXPR}) / {CELL_W}e0) AS BIGINT)").alias("cy"),
        F.expr(f"CAST(FLOOR(({X_EXPR}) * 100.0e0 + 0.5e0) AS BIGINT)").alias("xm"),
        F.expr(f"CAST(FLOOR(({Y_EXPR}) * 100.0e0 + 0.5e0) AS BIGINT)").alias("ym"),
    )
    aggs = [
        F.max(F.struct(F.expr(f).alias("f"), F.col("xm").alias("a"),
                       F.col("ym").alias("b"))).alias(f"c{i}")
        for i, (f, _) in enumerate(_OCT_DIRS)
    ]
    ext = pts.groupBy("cx", "cy").agg(
        F.count("*").cast("long").alias("n_points"), *aggs
    )
    shoelace = " + ".join(
        f"(c{i}.a * c{(i + 1) % 8}.b - c{(i + 1) % 8}.a * c{i}.b)"
        for i in range(8)
    )
    return ext.select(
        "cx", "cy", "n_points",
        F.expr(f"ROUND(({shoelace}) * 1.0e0 / 20000.0e0, 4)").alias("hull_area"),
    ).orderBy("cx", "cy")


# ---------------------------------------------------------------------------
# Fellegi-Sunter record-linkage weights over blocked candidate pairs
# ---------------------------------------------------------------------------

_FS_PAIRS_SQL = f"""
    named AS ({_PB_NAME_SQL}),
    based AS (
      SELECT name, MIN(id) AS rep_id,
             MIN(id % 8) AS f_idx, MIN((id // 8) % 8) AS l_idx,
             upper(substr(name, 1, 1))
             || substr(regexp_replace(substr(name, 2), '[aeiou ]', '', 'g'),
                       1, 4) AS bkey
      FROM named GROUP BY name),
    cand AS (
      SELECT a.name AS name_a, b.name AS name_b,
             CASE WHEN string_split(a.name, ' ')[1]
                       = string_split(b.name, ' ')[1]
                  THEN 1 ELSE 0 END AS a_first,
             CASE WHEN string_split(a.name, ' ')[2]
                       = string_split(b.name, ' ')[2]
                  THEN 1 ELSE 0 END AS a_last,
             CASE WHEN length(a.name) = length(b.name)
                  THEN 1 ELSE 0 END AS a_len,
             CASE WHEN a.f_idx = b.f_idx AND a.l_idx = b.l_idx
                  THEN 1 ELSE 0 END AS is_match
      FROM based a JOIN based b
        ON a.bkey = b.bkey AND a.name < b.name)"""

_FS_MU = """
    mu AS (
      SELECT CAST(SUM(is_match) + 1 AS BIGINT) AS nm,
             CAST(SUM(1 - is_match) + 1 AS BIGINT) AS nu,
             CAST(SUM(a_first * is_match) + 1 AS BIGINT) AS m1,
             CAST(SUM(a_first * (1 - is_match)) + 1 AS BIGINT) AS u1,
             CAST(SUM(a_last * is_match) + 1 AS BIGINT) AS m2,
             CAST(SUM(a_last * (1 - is_match)) + 1 AS BIGINT) AS u2,
             CAST(SUM(a_len * is_match) + 1 AS BIGINT) AS m3,
             CAST(SUM(a_len * (1 - is_match)) + 1 AS BIGINT) AS u3
      FROM cand)"""


def _fs_w(i: int) -> str:
    # micro-snapped per-field agreement / disagreement log-ratios; the
    # +1/+2 Laplace smoothing keeps every ratio finite and positive
    return (
        f"CASE WHEN a{'_first' if i == 1 else '_last' if i == 2 else '_len'}"
        f" = 1 THEN CAST(FLOOR(LN((m{i} * 1.0e0 / (nm + 1))"
        f" / (u{i} * 1.0e0 / (nu + 1))) * 1.0e6 + 0.5e0) AS BIGINT)"
        f" ELSE CAST(FLOOR(LN(((nm + 1 - m{i}) * 1.0e0 / (nm + 1))"
        f" / ((nu + 1 - u{i}) * 1.0e0 / (nu + 1))) * 1.0e6 + 0.5e0)"
        f" AS BIGINT) END"
    )


_FS_SQL = f"""
    WITH {_FS_PAIRS_SQL},
    {_FS_MU}
    SELECT a_first, a_last, a_len,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(is_match) AS BIGINT) AS n_true_matches,
           CAST(MIN({_fs_w(1)} + {_fs_w(2)} + {_fs_w(3)}) AS BIGINT)
             AS fs_weight_micro
    FROM cand, mu
    GROUP BY a_first, a_last, a_len
    ORDER BY a_first, a_last, a_len
    """


@q("fellegi_sunter_weights", oracle=_FS_SQL)
def fellegi_sunter_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage (the 1969 model every
    production entity-resolution engine still runs): over the phonetic-
    blocked candidate pairs, estimate per-field m/u probabilities
    (P(agree|match), P(agree|non-match); match ground truth = same base
    name under the deterministic typo synthesis, Laplace-smoothed) and
    emit each agreement PATTERN with its total log-likelihood-ratio
    match weight — the score a linker thresholds into link / review /
    non-link.

    Float discipline: m/u are exact smoothed integer ratios; each
    field's log-ratio snaps to micro once; the pattern weight is an
    integer sum of the three.

    Scale shape: the candidate relation is the ``phonetic_blocking_
    pairs`` equi-join (block-keyed, never all-pairs); m/u estimation is
    ONE aggregate over it; pattern rollup is a <= 8-group partial agg.
    The mu scalars arrive via a broadcast (HITS scalar-build rule).
    """
    c = t(spark, sf_dir, "customer").select("c_custkey")
    nm = F.expr(
        f"{_pb_case('c_custkey % 8', _PB_FIRST)} || ' ' || "
        f"{_pb_case('(c_custkey div 8) % 8', _PB_LAST)}"
    )
    named = c.select(F.col("c_custkey").alias("id"), nm.alias("nm")).select(
        "id",
        F.when(F.col("id") % 5 == 0, F.expr("replace(nm, 'e', 'a')"))
        .when(F.col("id") % 7 == 0, F.expr("nm || substr(nm, length(nm), 1)"))
        .otherwise(F.col("nm"))
        .alias("name"),
    )
    based = named.groupBy("name").agg(
        F.min("id").cast("long").alias("rep_id"),
        F.min(F.col("id") % 8).cast("long").alias("f_idx"),
        F.min(F.expr("(id div 8) % 8")).cast("long").alias("l_idx"),
    ).withColumn(
        "bkey",
        F.concat(
            F.upper(F.expr("substr(name, 1, 1)")),
            F.expr(
                "substr(regexp_replace(substr(name, 2), '[aeiou ]', ''), 1, 4)"
            ),
        ),
    )
    a = based.select(
        F.col("bkey"), F.col("name").alias("name_a"),
        F.col("f_idx").alias("fa"), F.col("l_idx").alias("la"),
    )
    b = based.select(
        F.col("bkey").alias("bkey_b"), F.col("name").alias("name_b"),
        F.col("f_idx").alias("fb"), F.col("l_idx").alias("lb"),
    )
    cand = a.join(b, (a.bkey == b.bkey_b) & (a.name_a < b.name_b)).select(
        F.expr(
            "CASE WHEN split(name_a, ' ')[0] = split(name_b, ' ')[0]"
            " THEN 1 ELSE 0 END"
        ).alias("a_first"),
        F.expr(
            "CASE WHEN split(name_a, ' ')[1] = split(name_b, ' ')[1]"
            " THEN 1 ELSE 0 END"
        ).alias("a_last"),
        F.expr(
            "CASE WHEN length(name_a) = length(name_b) THEN 1 ELSE 0 END"
        ).alias("a_len"),
        F.expr(
            "CASE WHEN fa = fb AND la = lb THEN 1 ELSE 0 END"
        ).alias("is_match"),
    ).transform(cut)
    mu = cand.agg(
        (F.sum("is_match") + 1).cast("long").alias("nm"),
        (F.sum(1 - F.col("is_match")) + 1).cast("long").alias("nu"),
        (F.sum(F.col("a_first") * F.col("is_match")) + 1).cast("long").alias("m1"),
        (F.sum(F.col("a_first") * (1 - F.col("is_match"))) + 1).cast("long").alias("u1"),
        (F.sum(F.col("a_last") * F.col("is_match")) + 1).cast("long").alias("m2"),
        (F.sum(F.col("a_last") * (1 - F.col("is_match"))) + 1).cast("long").alias("u2"),
        (F.sum(F.col("a_len") * F.col("is_match")) + 1).cast("long").alias("m3"),
        (F.sum(F.col("a_len") * (1 - F.col("is_match"))) + 1).cast("long").alias("u3"),
    )
    return (
        cand.crossJoin(F.broadcast(mu))
        .groupBy("a_first", "a_last", "a_len")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum("is_match").cast("long").alias("n_true_matches"),
            F.min(
                F.expr(f"{_fs_w(1)} + {_fs_w(2)} + {_fs_w(3)}")
            ).cast("long").alias("fs_weight_micro"),
        )
        .orderBy("a_first", "a_last", "a_len")
    )


# ---------------------------------------------------------------------------
# time-weighted average value (TWAP) per user, banded
# ---------------------------------------------------------------------------

_TWAP_SQL = """
    WITH seq AS (
      SELECT user_id,
             CAST(FLOOR(value * 1.0e6 + 0.5e0) AS BIGINT) AS vm,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS es,
             LEAD(CAST(FLOOR(epoch(ts)) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nes
      FROM events),
    u AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN nes IS NOT NULL THEN vm * (nes - es)
                           ELSE 0 END) AS BIGINT) AS wsum,
             CAST(SUM(CASE WHEN nes IS NOT NULL THEN nes - es
                           ELSE 0 END) AS BIGINT) AS dtsum,
             CAST(SUM(vm) AS BIGINT) AS vsum,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM seq GROUP BY user_id
      HAVING SUM(CASE WHEN nes IS NOT NULL THEN nes - es ELSE 0 END) > 0),
    d AS (
      SELECT user_id,
             wsum // dtsum AS twap_micro,
             vsum // n AS amean_micro
      FROM u)
    SELECT (twap_micro - amean_micro) // 100000 AS diff_band,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           ROUND(AVG(twap_micro) * 1.0e-6, 4) AS avg_twap,
           ROUND(AVG(amean_micro) * 1.0e-6, 4) AS avg_amean
    FROM d GROUP BY diff_band ORDER BY diff_band
    """


@q("twap_user_values", oracle=_TWAP_SQL)
def twap_user_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value (TWAP) per user vs the plain
    arithmetic mean, banded by their difference — the telemetry/finance
    primitive where sampling cadence is irregular: each observation is
    weighted by its holding interval (time to the next event; the final
    open interval is excluded, the standard discrete-TWAP convention).

    Exactness: values snap to micro, epochs are integer seconds, so
    weighted sums and both truncated-division averages are pure int64
    (same ``div`` truncation on both engines, probed: -7 div 2 == -3).

    Scale shape: the LEAD runs user-keyed (perfectly spread); the
    per-user fold and the band rollup are the same two partial-agg
    shuffles as ``user_value_trend``. Nothing global, nothing windowed
    over an unpartitioned relation.
    """
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.floor(F.col("value") * F.lit(1.0e6) + F.lit(0.5)).cast("long").alias("vm"),
        F.unix_timestamp("ts").cast("long").alias("es"),
    ).select("user_id", "vm", "es", F.lead("es").over(w).alias("nes"))
    u = (
        seq.groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("nes").isNotNull(), F.col("vm") * (F.col("nes") - F.col("es")))
                .otherwise(0)
            ).cast("long").alias("wsum"),
            F.sum(
                F.when(F.col("nes").isNotNull(), F.col("nes") - F.col("es")).otherwise(0)
            ).cast("long").alias("dtsum"),
            F.sum("vm").cast("long").alias("vsum"),
            F.count("*").cast("long").alias("n"),
        )
        .where(F.col("dtsum") > 0)
    )
    d = u.select(
        F.expr("wsum div dtsum").alias("twap_micro"),
        F.expr("vsum div n").alias("amean_micro"),
    )
    return (
        d.groupBy(
            F.expr("(twap_micro - amean_micro) div 100000").alias("diff_band")
        )
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.round(F.avg("twap_micro") * F.lit(1.0e-6), 4).alias("avg_twap"),
            F.round(F.avg("amean_micro") * F.lit(1.0e-6), 4).alias("avg_amean"),
        )
        .orderBy("diff_band")
    )


# ---------------------------------------------------------------------------
# Jensen-Shannon divergence of each source's vocabulary vs the corpus
# ---------------------------------------------------------------------------

_JS_SQL = """
    WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS w
                  FROM documents),
    wc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cw FROM toks GROUP BY w),
    nn AS (SELECT CAST(SUM(cw) AS BIGINT) AS n FROM wc),
    swc AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS cs
            FROM toks GROUP BY source, w),
    ns AS (SELECT source, CAST(SUM(cs) AS BIGINT) AS nsrc
           FROM swc GROUP BY source),
    grid AS (
      SELECT ns.source, ns.nsrc, wc.w, wc.cw, nn.n,
             COALESCE(swc.cs, 0) AS cs
      FROM ns CROSS JOIN wc
      LEFT JOIN swc ON swc.source = ns.source AND swc.w = wc.w, nn),
    terms AS (
      SELECT source, nsrc, n,
             CASE WHEN cs > 0
                  THEN cs * CAST(FLOOR(LN(2.0e0 * cs * n
                                          / (cs * 1.0e0 * n + cw * nsrc))
                                       * 1.0e6 + 0.5e0) AS BIGINT)
                  ELSE 0 END AS t_src,
             cw * CAST(FLOOR(LN(2.0e0 * cw * nsrc
                                / (cs * 1.0e0 * n + cw * nsrc))
                             * 1.0e6 + 0.5e0) AS BIGINT) AS t_corp
      FROM grid),
    s AS (
      SELECT source, MIN(nsrc) AS nsrc, MIN(n) AS n,
             CAST(SUM(t_src) AS BIGINT) AS s_src,
             CAST(SUM(t_corp) AS BIGINT) AS s_corp
      FROM terms GROUP BY source)
    SELECT source, CAST(nsrc AS BIGINT) AS n_tokens,
           ROUND(0.5e0 * (s_src * 1.0e0 / nsrc + s_corp * 1.0e0 / n)
                 * 1.0e-6, 6) AS js_nats
    FROM s ORDER BY source
    """


@q("js_divergence_sources", oracle=_JS_SQL)
def js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between each source's unigram
    distribution and the whole corpus — the symmetric, bounded (<= ln 2)
    drift measure behind corpus-mix monitoring (``chi2_category_drift``
    tests category counts; this compares full vocabularies, the
    distribution-shift alarm for a crawl source going off the rails).

    The log arguments reduce to exact integer ratios
    (2·cs·N / (cs·N + cw·Ns) — no explicit mixture distribution is ever
    materialized), each snapped to micro once; both KL halves are then
    exact integer dot products, divided out only in the final row.
    Absent words contribute exactly their ln 2 corpus term (cs = 0),
    never a singularity.

    Scale shape: two word-keyed partial aggs (corpus and per-source
    vocab); the source x vocab completion CROSS JOINs the |sources|-row
    relation against the vocab (production bounds vocab with the
    standard min-count cut + UNK bucket, cf. ``unigram_logprob``);
    per-source reduction is one partial agg on the source key.
    """
    toks = t(spark, sf_dir, "documents").select(
        "source", F.explode(F.split("text", " ")).alias("w")
    )
    wc = toks.groupBy("w").agg(F.count("*").cast("long").alias("cw"))
    nn = wc.agg(F.sum("cw").cast("long").alias("n"))
    swc = toks.groupBy("source", "w").agg(F.count("*").cast("long").alias("cs"))
    ns = swc.groupBy("source").agg(F.sum("cs").cast("long").alias("nsrc"))
    grid = (
        ns.crossJoin(wc)
        .join(swc, ["source", "w"], "left")
        .select(
            "source", "nsrc", "w", "cw",
            F.coalesce("cs", F.lit(0)).alias("cs"),
        )
        .crossJoin(F.broadcast(nn))
    )
    terms = grid.select(
        "source", "nsrc", "n",
        F.when(
            F.col("cs") > 0,
            F.col("cs")
            * F.expr(
                "CAST(FLOOR(LN(2.0e0 * cs * n / (cs * 1.0e0 * n + cw * nsrc))"
                " * 1.0e6 + 0.5e0) AS BIGINT)"
            ),
        )
        .otherwise(F.lit(0))
        .alias("t_src"),
        (
            F.col("cw")
            * F.expr(
                "CAST(FLOOR(LN(2.0e0 * cw * nsrc / (cs * 1.0e0 * n + cw * nsrc))"
                " * 1.0e6 + 0.5e0) AS BIGINT)"
            )
        ).alias("t_corp"),
    )
    s = terms.groupBy("source").agg(
        F.min("nsrc").alias("nsrc"),
        F.min("n").alias("n"),
        F.sum("t_src").cast("long").alias("s_src"),
        F.sum("t_corp").cast("long").alias("s_corp"),
    )
    return s.select(
        "source",
        F.col("nsrc").cast("long").alias("n_tokens"),
        F.round(
            F.lit(0.5)
            * (
                F.col("s_src") * F.lit(1.0) / F.col("nsrc")
                + F.col("s_corp") * F.lit(1.0) / F.col("n")
            )
            * F.lit(1.0e-6),
            6,
        ).alias("js_nats"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# bitmap-index day overlap between event types
# ---------------------------------------------------------------------------

_BM_BUCKETS = 60  # bitmap block width (bits); < 63 so shifts never sign-overflow

_BITMAP_SQL = f"""
    WITH b AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
               % {_BM_BUCKETS} AS bucket
      FROM events),
    m AS (SELECT event_type,
                 bit_or(CAST(1 AS BIGINT) << CAST(bucket AS INTEGER)) AS mask
          FROM b GROUP BY event_type)
    SELECT a.event_type AS type_a, c.event_type AS type_b,
           CAST(bit_count(a.mask & c.mask) AS BIGINT) AS n_shared_days,
           CAST(bit_count(a.mask | c.mask) AS BIGINT) AS n_union_days,
           ROUND(bit_count(a.mask & c.mask) * 1.0e0
                 / bit_count(a.mask | c.mask), 6) AS day_jaccard
    FROM m a JOIN m c ON a.event_type < c.event_type
    ORDER BY type_a, type_b
    """


@q("bitmap_day_overlap", oracle=_BITMAP_SQL)
def bitmap_day_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitmap-index co-activity: each event type's active days compress
    into ONE {_BM_BUCKETS}-bit integer bitmap (epoch-day mod
    {_BM_BUCKETS} — a single roaring-bitmap block; production keys
    additional blocks by day div {_BM_BUCKETS}), built with the bit_or
    aggregate; pairwise AND/OR popcounts then give exact shared-day
    counts and Jaccard WITHOUT ever joining the raw relations — the
    bitmap-index trick every OLAP engine uses for set-overlap queries.

    Scale shape: one partial-agg shuffle to build |types| masks (bit_or
    combines map-side, the whole index is 8 bytes/key/block); the pair
    comparison runs on the tiny mask relation. Compare
    ``set_ops_users``: same question, full-relation INTERSECT — this is
    the O(1)-per-pair form.
    """
    b = t(spark, sf_dir, "events").select(
        "event_type",
        F.expr(
            f"CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)"
            f" % {_BM_BUCKETS}"
        ).alias("bucket"),
    )
    m = b.groupBy("event_type").agg(
        F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(bucket AS INT)))")
        .alias("mask")
    )
    a = m.select(F.col("event_type").alias("type_a"), F.col("mask").alias("ma"))
    c = m.select(F.col("event_type").alias("type_b"), F.col("mask").alias("mb"))
    return (
        a.join(F.broadcast(c), F.col("type_a") < F.col("type_b"))
        .select(
            "type_a", "type_b",
            F.expr("CAST(bit_count(ma & mb) AS BIGINT)").alias("n_shared_days"),
            F.expr("CAST(bit_count(ma | mb) AS BIGINT)").alias("n_union_days"),
            F.expr(
                "ROUND(bit_count(ma & mb) * 1.0e0 / bit_count(ma | mb), 6)"
            ).alias("day_jaccard"),
        )
        .orderBy("type_a", "type_b")
    )


# ---------------------------------------------------------------------------
# schema-evolution audit over a versioned column catalog
# ---------------------------------------------------------------------------

_SE_MAX_V = 8
_SE_COLS = 12

# deterministic synthetic catalog rules (same discipline as the
# time-travel file log, contract_corpus._TT_SQL): column j appears at
# version j%6, column 7 is dropped at version 6, every j%4==2 column
# widens int->bigint at v4, every j%4==3 widens float->double at v5
_SE_TYPE = (
    "CASE WHEN cid % 4 = 2 THEN CASE WHEN v >= 4 THEN 'bigint' ELSE 'int' END"
    " WHEN cid % 4 = 3 THEN CASE WHEN v >= 5 THEN 'double' ELSE 'float' END"
    " ELSE 'string' END"
)

_SCHEMA_EVO_SQL = f"""
    WITH cols AS (SELECT DISTINCT doc_id % {_SE_COLS} AS cid FROM documents),
    vers AS (SELECT CAST(k AS BIGINT) AS v
             FROM UNNEST(range({_SE_MAX_V} + 1)) AS t(k)),
    cat AS (
      SELECT v, cid, {_SE_TYPE} AS ctype
      FROM vers CROSS JOIN cols
      WHERE cid % 6 <= v AND NOT (cid = 7 AND v >= 6)),
    pairs AS (
      SELECT COALESCE(c.v, p.v + 1) AS version,
             CASE WHEN p.cid IS NULL THEN 1 ELSE 0 END AS added,
             CASE WHEN c.cid IS NULL THEN 1 ELSE 0 END AS dropped,
             CASE WHEN c.cid IS NOT NULL AND p.cid IS NOT NULL
                       AND c.ctype <> p.ctype THEN 1 ELSE 0 END AS widened
      FROM cat c FULL OUTER JOIN
           (SELECT v, cid, ctype FROM cat) p
        ON c.cid = p.cid AND c.v = p.v + 1
      WHERE COALESCE(c.v, p.v + 1) >= 1
        AND COALESCE(c.v, p.v + 1) <= {_SE_MAX_V}),
    n AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS n_cols FROM cat GROUP BY v)
    SELECT p.version,
           CAST(MIN(n.n_cols) AS BIGINT) AS n_cols,
           CAST(SUM(p.added) AS BIGINT) AS n_added,
           CAST(SUM(p.dropped) AS BIGINT) AS n_dropped,
           CAST(SUM(p.widened) AS BIGINT) AS n_widened,
           CAST(CASE WHEN SUM(p.dropped) = 0 THEN 1 ELSE 0 END AS BIGINT)
             AS is_backward_compatible
    FROM pairs p JOIN n ON n.v = p.version
    GROUP BY p.version ORDER BY p.version
    """


@q("schema_evolution_audit", oracle=_SCHEMA_EVO_SQL)
def schema_evolution_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution audit over a versioned column catalog — the
    lakehouse metadata check beside ``time_travel_file_state`` (files)
    and ``merge_conflict_audit`` (rows): per snapshot version, how many
    columns were added, dropped, or type-widened vs the previous
    version, and whether the step is backward compatible (no drops; the
    widenings here are all legal int->bigint / float->double
    promotions). The catalog is synthesized from documents under the
    same deterministic rules on both engines (the time-travel file-log
    discipline).

    Scale shape: the catalog is versions x columns (metadata-sized; a
    real table has <= 10^3 columns x 10^5 snapshots); the
    consecutive-version diff is ONE full-outer equi-join on
    (column, version) — never a per-version loop.
    """
    cols = (
        t(spark, sf_dir, "documents")
        .select(F.expr(f"doc_id % {_SE_COLS}").alias("cid"))
        .distinct()
    )
    vers = spark.range(_SE_MAX_V + 1).select(F.col("id").alias("v"))
    cat = (
        vers.crossJoin(F.broadcast(cols))
        .where(F.expr(f"cid % 6 <= v AND NOT (cid = 7 AND v >= 6)"))
        .select("v", "cid", F.expr(_SE_TYPE).alias("ctype"))
        .transform(cut)
    )
    c = cat.select(
        F.col("v").alias("cv"), F.col("cid").alias("ccid"),
        F.col("ctype").alias("cctype"),
    )
    p = cat.select(
        F.col("v").alias("pv"), F.col("cid").alias("pcid"),
        F.col("ctype").alias("pctype"),
    )
    pairs = (
        c.join(p, (F.col("ccid") == F.col("pcid")) & (F.col("cv") == F.col("pv") + 1), "full")
        .select(
            F.coalesce(F.col("cv"), F.col("pv") + 1).alias("version"),
            F.when(F.col("pcid").isNull(), 1).otherwise(0).alias("added"),
            F.when(F.col("ccid").isNull(), 1).otherwise(0).alias("dropped"),
            F.when(
                F.col("ccid").isNotNull()
                & F.col("pcid").isNotNull()
                & (F.col("cctype") != F.col("pctype")),
                1,
            ).otherwise(0).alias("widened"),
        )
        .where((F.col("version") >= 1) & (F.col("version") <= _SE_MAX_V))
    )
    n = cat.groupBy("v").agg(F.count("*").cast("long").alias("n_cols"))
    return (
        pairs.join(F.broadcast(n), pairs.version == n.v)
        .groupBy("version")
        .agg(
            F.min("n_cols").cast("long").alias("n_cols"),
            F.sum("added").cast("long").alias("n_added"),
            F.sum("dropped").cast("long").alias("n_dropped"),
            F.sum("widened").cast("long").alias("n_widened"),
            F.when(F.sum("dropped") == 0, 1).otherwise(0).cast("long")
            .alias("is_backward_compatible"),
        )
        .orderBy("version")
    )


# ---------------------------------------------------------------------------
# inverse-propensity-weighted treatment effect, stratified
# ---------------------------------------------------------------------------

_IPW_SQL = """
    WITH base AS (
      SELECT event_type,
             CASE WHEN CAST(json_extract(props, '$.k') AS INTEGER) >= 50
                  THEN 1 ELSE 0 END AS tr,
             CAST(FLOOR(value * 1.0e6 + 0.5e0) AS BIGINT) AS ym
      FROM events),
    s AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(tr) AS BIGINT) AS nt,
             CAST(SUM(tr * ym) AS BIGINT) AS syt,
             CAST(SUM((1 - tr) * ym) AS BIGINT) AS syc
      FROM base GROUP BY event_type
      HAVING SUM(tr) > 0 AND SUM(tr) < COUNT(*))
    SELECT event_type, n, nt,
           ROUND(nt * 1.0e0 / n, 6) AS propensity,
           CAST(syt * n // nt - syc * n // (n - nt) AS BIGINT) // n
             AS strat_ate_micro,
           CAST(syt // nt - syc // (n - nt) AS BIGINT) AS naive_diff_micro
    FROM s ORDER BY event_type
    """


@q("ipw_ate_estimate", oracle=_IPW_SQL)
def ipw_ate_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-propensity-weighted average treatment effect, stratified
    by event type — the observational-causal companion of
    ``abtest_conversion_z`` (randomized) and ``did_estimate``
    (longitudinal): treatment = the props flag k >= 50, outcome = value,
    propensity = the exact within-stratum treatment rate; the IPW
    Horvitz-Thompson sums reduce per stratum to exact integer
    expressions (sy_t·n/n_t − sy_c·n/n_c), so no per-row weight is ever
    a float. Strata violating positivity (no treated or no control) are
    excluded, the standard IPW precondition.

    Scale shape: ONE partial-agg scan keyed by stratum; everything
    after runs on the |strata|-row relation. Identical truncated
    integer division on both engines (probed). The sy·n products are
    bounded by (stratum value-mass in micro) x (stratum rows) — int64
    carries ~1e10 rows/stratum at the fixture's value range; beyond
    that, route the products through DECIMAL(38,0)/HUGEINT (the
    winsorized rule).
    """
    base = t(spark, sf_dir, "events").select(
        "event_type",
        F.expr(
            "CASE WHEN CAST(get_json_object(props, '$.k') AS INT) >= 50"
            " THEN 1 ELSE 0 END"
        ).alias("tr"),
        F.floor(F.col("value") * F.lit(1.0e6) + F.lit(0.5)).cast("long").alias("ym"),
    )
    s = (
        base.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("tr").cast("long").alias("nt"),
            F.sum(F.col("tr") * F.col("ym")).cast("long").alias("syt"),
            F.sum((1 - F.col("tr")) * F.col("ym")).cast("long").alias("syc"),
        )
        .where((F.col("nt") > 0) & (F.col("nt") < F.col("n")))
    )
    return s.select(
        "event_type", "n", "nt",
        F.round(F.col("nt") * F.lit(1.0) / F.col("n"), 6).alias("propensity"),
        F.expr(
            "CAST(syt * n div nt - syc * n div (n - nt) AS BIGINT) div n"
        ).alias("strat_ate_micro"),
        F.expr("CAST(syt div nt - syc div (n - nt) AS BIGINT)")
        .alias("naive_diff_micro"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# simplified silhouette over the embedding label clustering
# ---------------------------------------------------------------------------

_SIL_D2 = (
    "ROUND(aggregate(zip_with(v, cv, (x, y) -> (x - y) * (x - y)),"
    " 0D, (s, acc) -> s + acc), 6)"
)
_SIL_D2_DUCK = (
    "ROUND(list_reduce(list_transform(range(1, len(v) + 1),"
    " i -> (v[i] - cv[i]) * (v[i] - cv[i])), (s, x) -> s + x), 6)"
)

_SIL_SQL = f"""
    WITH ev AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
                FROM embeddings),
    cd AS (SELECT label, i AS dim,
                  FLOOR(AVG(v[i]) * 1000000 + 0.5) / 1000000 AS cv
           FROM ev, LATERAL unnest(generate_series(1, len(v))) AS t(i)
           GROUP BY label, i),
    cents AS (SELECT label AS clabel, list(cv ORDER BY dim) AS cv
              FROM cd GROUP BY label),
    d AS (SELECT e.vec_id, e.label, c.clabel, {_SIL_D2_DUCK} AS d2
          FROM ev e CROSS JOIN cents c),
    ab AS (SELECT vec_id, label,
                  MIN(CASE WHEN clabel = label THEN d2 END) AS a2,
                  MIN(CASE WHEN clabel <> label THEN d2 END) AS b2
           FROM d GROUP BY vec_id, label),
    s AS (SELECT label,
                 ROUND((SQRT(b2) - SQRT(a2))
                       / GREATEST(SQRT(a2), SQRT(b2)), 6) AS sil
          FROM ab)
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           ROUND(AVG(sil), 4) AS avg_silhouette,
           CAST(SUM(CASE WHEN sil < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_misfit
    FROM s GROUP BY label ORDER BY label
    """


@q("silhouette_simplified", oracle=_SIL_SQL)
def silhouette_simplified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid-based) silhouette score per label over the
    embeddings table — the clustering-quality eval that closes the loop
    on the k-means/IVF family: a = distance to the OWN label centroid,
    b = distance to the nearest OTHER centroid, s = (b - a)/max(a, b);
    negative s marks points sitting closer to a foreign prototype (the
    O(n·k) simplified form of the O(n^2) classic, which is the only
    form that exists at corpus scale).

    Float discipline: centroids snap to 6 dp (== embedding_centroid_by_
    label), squared distances snap to 6 dp from the same sequential
    zip_with/list fold both engines share, per-point s snaps to 6 dp.

    Scale shape: centroid build is one (label, dim)-keyed partial agg;
    scoring is a broadcast of k centroid ARRAYS against one scan (in-row
    fold, no UDF), then a vec-keyed partial agg for the a/b min and a
    label-keyed rollup. Nothing quadratic in n.
    """
    ev = t(spark, sf_dir, "embeddings").select(
        "vec_id", "label",
        F.expr("transform(embedding, x -> cast(x AS double))").alias("v"),
    )
    cd = (
        ev.select("label", F.posexplode("v").alias("p", "x"))
        .groupBy("label", (F.col("p") + 1).alias("dim"))
        .agg(
            (F.floor(F.avg("x") * 1000000 + F.lit(0.5)) / 1000000).alias("cv")
        )
    )
    cents = cd.groupBy(F.col("label").alias("clabel")).agg(
        F.expr("transform(array_sort(collect_list(struct(dim, cv))),"
               " s -> s.cv)").alias("cv")
    )
    d = ev.crossJoin(F.broadcast(cents)).select(
        "vec_id", "label", "clabel", F.expr(_SIL_D2).alias("d2")
    )
    ab = d.groupBy("vec_id", "label").agg(
        F.min(F.when(F.col("clabel") == F.col("label"), F.col("d2"))).alias("a2"),
        F.min(F.when(F.col("clabel") != F.col("label"), F.col("d2"))).alias("b2"),
    )
    s = ab.select(
        "label",
        F.round(
            (F.sqrt("b2") - F.sqrt("a2"))
            / F.greatest(F.sqrt("a2"), F.sqrt("b2")),
            6,
        ).alias("sil"),
    )
    return (
        s.groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            F.round(F.avg("sil"), 4).alias("avg_silhouette"),
            F.sum(F.when(F.col("sil") < 0, 1).otherwise(0)).cast("long")
            .alias("n_misfit"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# MASE — mean absolute scaled error of the seasonal-naive forecast
# ---------------------------------------------------------------------------

_MASE_SQL = """
    WITH daily AS (
      SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
             CAST(SUM(CAST(FLOOR(value * 1.0e6 + 0.5e0) AS BIGINT))
                  AS BIGINT) AS vm
      FROM events GROUP BY d),
    lagged AS (
      SELECT d, vm,
             LAG(vm, 7) OVER (ORDER BY d) AS v7,
             LAG(vm, 1) OVER (ORDER BY d) AS v1
      FROM daily),
    e AS (SELECT d, ABS(vm - v7) AS ae_s, ABS(vm - v1) AS ae_n
          FROM lagged WHERE v7 IS NOT NULL AND v1 IS NOT NULL)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(ae_s) AS BIGINT) // COUNT(*) AS mae_snaive_micro,
           CAST(SUM(ae_n) AS BIGINT) // COUNT(*) AS mae_naive_micro,
           ROUND(SUM(ae_s) * 1.0e0 / SUM(ae_n), 6) AS mase
    FROM e
    """


@q("mase_forecast_eval", oracle=_MASE_SQL)
def mase_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MASE (mean absolute scaled error, Hyndman-Koehler 2006) of the
    seasonal-naive weekly forecast against the one-step naive scale —
    the scale-free forecast-accuracy number that completes the eval row
    of ``forecast_backtest_snaive``: MASE < 1 means the weekly pattern
    genuinely beats persistence. Every error is an exact micro-unit
    integer; the ratio divides once.

    Scale shape: one day-keyed partial agg; both LAGs share one window
    over the DAYS relation (|days| rows — the post-agg global window
    precedent of ``acf_daily_lags``; a calendar axis is bounded, raw
    rows never enter a window).
    """
    daily = (
        t(spark, sf_dir, "events")
        .groupBy(
            F.expr("CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)")
            .alias("d")
        )
        .agg(
            F.sum(
                F.floor(F.col("value") * F.lit(1.0e6) + F.lit(0.5)).cast("long")
            ).cast("long").alias("vm")
        )
    )
    w = Window.orderBy("d")
    lagged = daily.select(
        "d", "vm",
        F.lag("vm", 7).over(w).alias("v7"),
        F.lag("vm", 1).over(w).alias("v1"),
    )
    e = lagged.where(
        F.col("v7").isNotNull() & F.col("v1").isNotNull()
    ).select(
        F.abs(F.col("vm") - F.col("v7")).alias("ae_s"),
        F.abs(F.col("vm") - F.col("v1")).alias("ae_n"),
    )
    return e.agg(
        F.count("*").cast("long").alias("n_days"),
        F.expr("CAST(SUM(ae_s) AS BIGINT) div COUNT(*)").alias("mae_snaive_micro"),
        F.expr("CAST(SUM(ae_n) AS BIGINT) div COUNT(*)").alias("mae_naive_micro"),
        F.round(F.sum("ae_s") * F.lit(1.0) / F.sum("ae_n"), 6).alias("mase"),
    )


# ---------------------------------------------------------------------------
# conversion latency quantiles (signup -> purchase)
# ---------------------------------------------------------------------------

_CONV_SQL = """
    WITH su AS (
      SELECT user_id,
             MIN(CAST(FLOOR(epoch(ts)) AS BIGINT)) AS t_signup
      FROM events WHERE event_type = 'signup' GROUP BY user_id),
    pu AS (
      SELECT e.user_id,
             MIN(CAST(FLOOR(epoch(e.ts)) AS BIGINT)) AS t_purchase
      FROM events e JOIN su ON e.user_id = su.user_id
      WHERE e.event_type = 'purchase'
        AND CAST(FLOOR(epoch(e.ts)) AS BIGINT) >= su.t_signup
      GROUP BY e.user_id),
    lat AS (
      SELECT su.user_id, pu.t_purchase - su.t_signup AS lat_s
      FROM su LEFT JOIN pu ON su.user_id = pu.user_id),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_signup,
             CAST(COUNT(lat_s) AS BIGINT) AS n_converted,
             ROUND(quantile_cont(lat_s, 0.25), 4) AS p25_s,
             ROUND(quantile_cont(lat_s, 0.50), 4) AS p50_s,
             ROUND(quantile_cont(lat_s, 0.75), 4) AS p75_s,
             ROUND(quantile_cont(lat_s, 0.90), 4) AS p90_s
      FROM lat)
    SELECT n_signup, n_converted,
           ROUND(n_converted * 1.0e0 / n_signup, 6) AS conversion_rate,
           p25_s, p50_s, p75_s, p90_s
    FROM agg
    """


@q("conversion_latency_quantiles", oracle=_CONV_SQL)
def conversion_latency_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: for every user who signed up, the
    latency to their first purchase AT or AFTER that signup — exact
    continuous quantiles of the latency in integer seconds (Spark
    ``percentile`` == DuckDB ``quantile_cont``, the round-2 bit-level
    parity result) plus the conversion rate. The product analytics
    question ``funnel_conversion`` counts; this one times.

    Scale shape: two user-keyed partial aggs + one user-keyed equi-join;
    the quantiles run over the converted-users relation with the exact
    percentile aggregate (two-phase, map-side partial). No window, no
    global sort.
    """
    ev = t(spark, sf_dir, "events").select(
        "user_id", "event_type",
        F.expr("CAST(unix_timestamp(ts) AS BIGINT)").alias("es"),
    )
    su = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("es").alias("t_signup"))
    )
    pu = (
        ev.where(F.col("event_type") == "purchase")
        .join(su, "user_id")
        .where(F.col("es") >= F.col("t_signup"))
        .groupBy("user_id")
        .agg(F.min("es").alias("t_purchase"))
    )
    lat = su.join(pu, "user_id", "left").select(
        (F.col("t_purchase") - F.col("t_signup")).alias("lat_s")
    )
    agg = lat.agg(
        F.count("*").cast("long").alias("n_signup"),
        F.count("lat_s").cast("long").alias("n_converted"),
        F.round(F.expr("percentile(lat_s, 0.25)"), 4).alias("p25_s"),
        F.round(F.expr("percentile(lat_s, 0.50)"), 4).alias("p50_s"),
        F.round(F.expr("percentile(lat_s, 0.75)"), 4).alias("p75_s"),
        F.round(F.expr("percentile(lat_s, 0.90)"), 4).alias("p90_s"),
    )
    return agg.select(
        "n_signup", "n_converted",
        F.round(F.col("n_converted") * F.lit(1.0) / F.col("n_signup"), 6)
        .alias("conversion_rate"),
        "p25_s", "p50_s", "p75_s", "p90_s",
    )


# ---------------------------------------------------------------------------
# Knox space-time interaction test (cell/day blocked)
# ---------------------------------------------------------------------------

_KNOX_W = 8750.0  # spatial closeness = same 80x80 grid cell (FLOOR(x/W))

_KNOX_SQL = f"""
    WITH pts AS (
      SELECT CAST(FLOOR(((event_id % 787) * 889.45e0 + 17.3e0)
                        / {_KNOX_W}e0) AS BIGINT) AS cx,
             CAST(FLOOR(((CAST(FLOOR(event_id / 13.0e0) AS BIGINT) % 787)
                         * 889.45e0 + 11.7e0) / {_KNOX_W}e0) AS BIGINT) AS cy,
             CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d
      FROM events),
    cd AS (SELECT cx, cy, d, CAST(COUNT(*) AS BIGINT) AS c
           FROM pts GROUP BY cx, cy, d),
    cc AS (SELECT cx, cy, CAST(SUM(c) AS BIGINT) AS c
           FROM cd GROUP BY cx, cy),
    dd AS (SELECT d, CAST(SUM(c) AS BIGINT) AS c FROM cd GROUP BY d),
    nst AS (
      SELECT CAST(SUM(a.c * (a.c - 1) // 2) AS BIGINT)
             + CAST(COALESCE(SUM(a.c * b.c), 0) AS BIGINT) AS n_st
      FROM cd a LEFT JOIN cd b
        ON a.cx = b.cx AND a.cy = b.cy AND b.d = a.d + 1),
    ns AS (SELECT CAST(SUM(c * (c - 1) // 2) AS BIGINT) AS n_s FROM cc),
    nt AS (
      SELECT CAST(SUM(a.c * (a.c - 1) // 2) AS BIGINT)
             + CAST(COALESCE(SUM(a.c * b.c), 0) AS BIGINT) AS n_t
      FROM dd a LEFT JOIN dd b ON b.d = a.d + 1),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM pts)
    SELECT nn.n AS n_points, nst.n_st, ns.n_s, nt.n_t,
           CAST((CAST(ns.n_s AS HUGEINT) * nt.n_t * 1000000)
                // (CAST(nn.n AS HUGEINT) * (nn.n - 1) // 2) AS BIGINT)
             AS expected_micro,
           ROUND(nst.n_st * 1.0e0
                 / (ns.n_s * 1.0e0 * nt.n_t
                    / (nn.n * 1.0e0 * (nn.n - 1) / 2.0e0)), 6)
             AS knox_ratio
    FROM nst, ns, nt, nn
    """


@q("knox_spacetime_test", oracle=_KNOX_SQL)
def knox_spacetime_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Knox space-time interaction test (the epidemiology / crime-
    analysis statistic behind ``co_movement_pairs``): do events that
    happen CLOSE IN SPACE also happen CLOSE IN TIME more often than the
    marginals predict? Closeness is cell/day blocked (same grid cell;
    same or adjacent day); the observed close-pair count n_st is
    compared with the Barton-David expectation n_s·n_t / C(N,2) — ratio
    >> 1 signals genuine space-time clustering (the fixture's hotspot
    cells produce it).

    Exactness: every pair count is a closed-form integer over the
    (cell, day) contingency relation — C(c,2) within blocks plus c·c'
    across adjacent blocks — so NO pair is ever materialized; the
    expectation routes through HUGEINT == DECIMAL(38,0) (n_s·n_t
    overflows int64 beyond ~1e6 rows).

    Scale shape: one (cell, day)-keyed partial agg; the two adjacency
    terms are equi-self-joins on the AGGREGATED relations (cell-day and
    day — both tiny); the three marginal rollups reuse the same
    aggregate. Identical to the co-movement blocking discipline, but
    O(blocks), not O(pairs).
    """
    from osmgraft.contract import X_EXPR, Y_EXPR

    dec = "decimal(38,0)"
    pts = t(spark, sf_dir, "events").select(
        F.expr(f"CAST(FLOOR(({X_EXPR}) / {_KNOX_W}e0) AS BIGINT)").alias("cx"),
        F.expr(f"CAST(FLOOR(({Y_EXPR}) / {_KNOX_W}e0) AS BIGINT)").alias("cy"),
        F.expr("CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)").alias("d"),
    )
    cd = pts.groupBy("cx", "cy", "d").agg(F.count("*").cast("long").alias("c"))
    cd = cut(cd)
    cc = cd.groupBy("cx", "cy").agg(F.sum("c").cast("long").alias("c"))
    dd = cd.groupBy("d").agg(F.sum("c").cast("long").alias("c"))
    b = cd.select(
        F.col("cx").alias("bx"), F.col("cy").alias("by"),
        F.col("d").alias("bd"), F.col("c").alias("bc"),
    )
    nst = (
        cd.join(
            b,
            (F.col("cx") == F.col("bx"))
            & (F.col("cy") == F.col("by"))
            & (F.col("bd") == F.col("d") + 1),
            "left",
        )
        .agg(
            (
                F.sum(F.expr("c * (c - 1) div 2")).cast("long")
                + F.coalesce(F.sum(F.col("c") * F.col("bc")), F.lit(0)).cast("long")
            ).alias("n_st")
        )
    )
    ns = cc.agg(F.sum(F.expr("c * (c - 1) div 2")).cast("long").alias("n_s"))
    db = dd.select(F.col("d").alias("bd"), F.col("c").alias("bc"))
    nt = (
        dd.join(db, F.col("bd") == F.col("d") + 1, "left")
        .agg(
            (
                F.sum(F.expr("c * (c - 1) div 2")).cast("long")
                + F.coalesce(F.sum(F.col("c") * F.col("bc")), F.lit(0)).cast("long")
            ).alias("n_t")
        )
    )
    nn = pts.agg(F.count("*").cast("long").alias("n"))
    return (
        nn.crossJoin(F.broadcast(nst))
        .crossJoin(F.broadcast(ns))
        .crossJoin(F.broadcast(nt))
        .select(
            F.col("n").alias("n_points"), "n_st", "n_s", "n_t",
            F.expr(
                f"CAST((CAST(n_s AS {dec}) * n_t * 1000000)"
                f" div (CAST(n AS {dec}) * (n - 1) div 2) AS BIGINT)"
            ).alias("expected_micro"),
            F.round(
                F.col("n_st") * F.lit(1.0)
                / (
                    F.col("n_s") * F.lit(1.0) * F.col("n_t")
                    / (F.col("n") * F.lit(1.0) * (F.col("n") - 1) / F.lit(2.0))
                ),
                6,
            ).alias("knox_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# Theil inequality index with between/within decomposition
# ---------------------------------------------------------------------------

_THEIL_SQL = """
    WITH base AS (
      SELECT event_type,
             CAST(FLOOR(value * 1.0e6 + 0.5e0) AS BIGINT) AS ym
      FROM events WHERE value > 0.0e0),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(ym) AS BIGINT) AS s FROM base),
    g AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS ng,
                 CAST(SUM(ym) AS BIGINT) AS sg
          FROM base GROUP BY event_type),
    tg AS (
      SELECT b.event_type,
             CAST(SUM(CAST(FLOOR((b.ym * 1.0e0 / g.sg)
                                 * LN(b.ym * 1.0e0 * g.ng / g.sg)
                                 * 1.0e12 + 0.5e0) AS BIGINT)) AS BIGINT)
               AS t_g_pico
      FROM base b JOIN g ON b.event_type = g.event_type
      GROUP BY b.event_type)
    SELECT g.event_type,
           g.ng AS n_events,
           ROUND(g.sg * 1.0e0 / tot.s, 6) AS income_share,
           ROUND(tg.t_g_pico * 1.0e-12, 6) AS theil_within_group,
           ROUND((g.sg * 1.0e0 / tot.s)
                 * LN((g.sg * 1.0e0 * tot.n) / (tot.s * 1.0e0 * g.ng)), 6)
             + 0.0e0 AS between_term,
           ROUND((g.sg * 1.0e0 / tot.s) * tg.t_g_pico * 1.0e-12
                 + (g.sg * 1.0e0 / tot.s)
                   * LN((g.sg * 1.0e0 * tot.n) / (tot.s * 1.0e0 * g.ng)), 6)
             + 0.0e0 AS total_contribution
    FROM g JOIN tg ON g.event_type = tg.event_type, tot
    ORDER BY g.event_type
    """


@q("theil_decomposition", oracle=_THEIL_SQL)
def theil_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-T inequality index decomposed between/within event types —
    the additive inequality measure ``value_gini_by_type`` cannot give:
    total Theil = sum of per-group contributions, each splitting into a
    within-group index (weighted by income share) and a between-group
    term (share vs population-share log ratio). The decomposition
    identity is pinned by the invariant test.

    Float discipline: per-row terms are one double expression over
    exact integer ratios (y/S_g · ln(y·n_g/S_g)), snapped to pico
    BEFORE the group sum — identical doubles on both engines, so the
    sums agree exactly; group-level terms compute once per group.

    Scale shape: one group-keyed partial agg for the sums, one scan
    joined against the broadcast group relation for the per-row terms
    (partial-agg combine on the same key). Zero-value rows are excluded
    (Theil's domain), the standard convention.
    """
    base = t(spark, sf_dir, "events").where(F.col("value") > 0.0).select(
        "event_type",
        F.floor(F.col("value") * F.lit(1.0e6) + F.lit(0.5)).cast("long").alias("ym"),
    )
    tot = base.agg(
        F.count("*").cast("long").alias("n"), F.sum("ym").cast("long").alias("s")
    )
    g = base.groupBy("event_type").agg(
        F.count("*").cast("long").alias("ng"), F.sum("ym").cast("long").alias("sg")
    )
    tg = (
        base.join(F.broadcast(g), "event_type")
        .select(
            "event_type",
            F.expr(
                "CAST(FLOOR((ym * 1.0e0 / sg) * LN(ym * 1.0e0 * ng / sg)"
                " * 1.0e12 + 0.5e0) AS BIGINT)"
            ).alias("tp"),
        )
        .groupBy("event_type")
        .agg(F.sum("tp").cast("long").alias("t_g_pico"))
    )
    return (
        g.join(tg, "event_type")
        .crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            F.col("ng").alias("n_events"),
            F.round(F.col("sg") * F.lit(1.0) / F.col("s"), 6).alias("income_share"),
            F.round(F.col("t_g_pico") * F.lit(1.0e-12), 6).alias("theil_within_group"),
            (
                F.round(
                    (F.col("sg") * F.lit(1.0) / F.col("s"))
                    * F.log(
                        (F.col("sg") * F.lit(1.0) * F.col("n"))
                        / (F.col("s") * F.lit(1.0) * F.col("ng"))
                    ),
                    6,
                )
                + F.lit(0.0)  # normalize IEEE -0.0 (DuckDB ROUND keeps it)
            ).alias("between_term"),
            (
                F.round(
                    (F.col("sg") * F.lit(1.0) / F.col("s"))
                    * F.col("t_g_pico")
                    * F.lit(1.0e-12)
                    + (F.col("sg") * F.lit(1.0) / F.col("s"))
                    * F.log(
                        (F.col("sg") * F.lit(1.0) * F.col("n"))
                        / (F.col("s") * F.lit(1.0) * F.col("ng"))
                    ),
                    6,
                )
                + F.lit(0.0)
            ).alias("total_contribution"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# PSI — population stability index between score halves
# ---------------------------------------------------------------------------

_PSI_BINS = 10

_PSI_SQL = f"""
    WITH scored AS (
      SELECT doc_id, {_BR_SCORE} AS score FROM documents),
    mx AS (SELECT MAX(score) AS mxs FROM scored),
    b AS (SELECT doc_id % 2 AS half,
                 LEAST((score * {_PSI_BINS}) // (mxs + 1),
                       {_PSI_BINS - 1}) AS bin
          FROM scored, mx),
    h AS (SELECT bin,
                 CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) + 1
                      AS BIGINT) AS c_ref,
                 CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) + 1
                      AS BIGINT) AS c_new
          FROM b GROUP BY bin),
    tt AS (SELECT CAST(SUM(c_ref) AS BIGINT) AS nr,
                  CAST(SUM(c_new) AS BIGINT) AS nn FROM h),
    terms AS (
      SELECT h.bin, h.c_ref, h.c_new,
             CAST(FLOOR((h.c_new * 1.0e0 / tt.nn - h.c_ref * 1.0e0 / tt.nr)
                        * LN((h.c_new * 1.0e0 * tt.nr)
                             / (h.c_ref * 1.0e0 * tt.nn))
                        * 1.0e12 + 0.5e0) AS BIGINT) AS t_pico
      FROM h, tt)
    SELECT bin, c_ref - 1 AS n_ref, c_new - 1 AS n_new,
           ROUND(t_pico * 1.0e-12, 6) AS psi_term,
           ROUND(SUM(t_pico) OVER () * 1.0e-12, 6) AS psi_total
    FROM terms ORDER BY bin
    """


@q("psi_score_drift", oracle=_PSI_SQL)
def psi_score_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the two deterministic halves
    of the scored corpus over {_PSI_BINS} score bins — the production
    ML-monitoring drift number (PSI < 0.1 stable, > 0.25 retrain)
    beside ``ks_value_drift`` (continuous KS) and
    ``chi2_category_drift`` (categorical): PSI weights each bin's share
    shift by its log-ratio, so it reads as a symmetrized KL in nats.
    Laplace +1 on both halves keeps empty bins finite (standard).

    Float discipline: every log argument is an exact integer ratio
    (c_new·N_ref / (c_ref·N_new)); each bin's term snaps to pico before
    the total, so the window sum is exact-int.

    Scale shape: one scan -> one {_PSI_BINS}-way partial agg; the
    total runs as a window over the {_PSI_BINS}-row relation.
    """
    scored = t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_BR_SCORE.replace("//", " div ")).alias("score")
    )
    mx = scored.agg(F.max("score").alias("mxs"))
    b = scored.crossJoin(F.broadcast(mx)).select(
        (F.col("doc_id") % 2).alias("half"),
        F.least(
            F.expr(f"(score * {_PSI_BINS}) div (mxs + 1)"),
            F.lit(_PSI_BINS - 1).cast("long"),
        ).alias("bin"),
    )
    h = b.groupBy("bin").agg(
        (F.sum(F.when(F.col("half") == 0, 1).otherwise(0)) + 1)
        .cast("long").alias("c_ref"),
        (F.sum(F.when(F.col("half") == 1, 1).otherwise(0)) + 1)
        .cast("long").alias("c_new"),
    )
    tt = h.agg(
        F.sum("c_ref").cast("long").alias("nr"),
        F.sum("c_new").cast("long").alias("nn"),
    )
    terms = h.crossJoin(F.broadcast(tt)).select(
        "bin", "c_ref", "c_new",
        F.expr(
            "CAST(FLOOR((c_new * 1.0e0 / nn - c_ref * 1.0e0 / nr)"
            " * LN((c_new * 1.0e0 * nr) / (c_ref * 1.0e0 * nn))"
            " * 1.0e12 + 0.5e0) AS BIGINT)"
        ).alias("t_pico"),
    )
    w = Window.partitionBy()
    return terms.select(
        "bin",
        (F.col("c_ref") - 1).alias("n_ref"),
        (F.col("c_new") - 1).alias("n_new"),
        F.round(F.col("t_pico") * F.lit(1.0e-12), 6).alias("psi_term"),
        F.round(F.sum("t_pico").over(w) * F.lit(1.0e-12), 6).alias("psi_total"),
    ).orderBy("bin")


# ---------------------------------------------------------------------------
# spatial term lift — which vocabulary clusters where (geo x text graft)
# ---------------------------------------------------------------------------

_CTL_REGIONS = 4  # coarse page regions (doc-derived geography)
_CTL_MIN_C = 20  # min term count per region (the standard lift support cut)
_CTL_TOPK = 5

_CTL_SQL = f"""
    WITH placed AS (
      SELECT (doc_id * 2654435761) % 4294967296 % {_CTL_REGIONS} AS region,
             unnest(string_split(text, ' ')) AS w
      FROM documents),
    rt AS (SELECT region, w, CAST(COUNT(*) AS BIGINT) AS c
           FROM placed GROUP BY region, w),
    rn AS (SELECT region, CAST(SUM(c) AS BIGINT) AS nr FROM rt GROUP BY region),
    wt AS (SELECT w, CAST(SUM(c) AS BIGINT) AS cw FROM rt GROUP BY w),
    nn AS (SELECT CAST(SUM(cw) AS BIGINT) AS n FROM wt),
    lift AS (
      SELECT rt.region, rt.w, rt.c,
             CAST((CAST(rt.c AS HUGEINT) * nn.n * 1000000)
                  // (CAST(rn.nr AS HUGEINT) * wt.cw) AS BIGINT)
               AS lift_micro
      FROM rt JOIN rn USING (region) JOIN wt USING (w), nn
      WHERE rt.c >= {_CTL_MIN_C}),
    ranked AS (
      SELECT region, w, c, lift_micro,
             ROW_NUMBER() OVER (PARTITION BY region
                                ORDER BY lift_micro DESC, w) AS rnk
      FROM lift)
    SELECT region, rnk, w AS term, c AS n_occurrences, lift_micro
    FROM ranked WHERE rnk <= {_CTL_TOPK}
    ORDER BY region, rnk
    """


@q("cell_term_lift", oracle=_CTL_SQL)
def cell_term_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial term lift: for each page region (deterministic Knuth-hash
    placement of documents onto {_CTL_REGIONS} coarse regions — the
    geo x text graft question "which vocabulary clusters WHERE"), the
    top-{_CTL_TOPK} terms by lift = P(term | region) / P(term), with the
    standard min-support cut. This is the geographic companion of
    ``tfidf_top_terms`` (which contrasts documents) and
    ``trending_terms`` (which contrasts time windows).

    Exactness: lift is one exact integer expression
    (c·N·1e6) / (N_region·c_term) through HUGEINT == DECIMAL(38,0)
    (the triple product overflows int64 beyond ~1e5-token regions);
    ranking ties break on the term.

    Scale shape: one explode -> one (region, term)-keyed partial agg;
    both marginals reuse it; the rank window partitions by region over
    the min-support-filtered aggregate (never raw tokens).
    """
    dec = "decimal(38,0)"
    placed = t(spark, sf_dir, "documents").select(
        F.expr(
            f"(doc_id * 2654435761) % 4294967296 % {_CTL_REGIONS}"
        ).alias("region"),
        F.explode(F.split("text", " ")).alias("w"),
    )
    rt = placed.groupBy("region", "w").agg(F.count("*").cast("long").alias("c"))
    rn = rt.groupBy("region").agg(F.sum("c").cast("long").alias("nr"))
    wt = rt.groupBy("w").agg(F.sum("c").cast("long").alias("cw"))
    nn = wt.agg(F.sum("cw").cast("long").alias("n"))
    lift = (
        rt.where(F.col("c") >= _CTL_MIN_C)
        .join(F.broadcast(rn), "region")
        .join(wt, "w")
        .crossJoin(F.broadcast(nn))
        .select(
            "region", "w", "c",
            F.expr(
                f"CAST((CAST(c AS {dec}) * n * 1000000)"
                f" div (CAST(nr AS {dec}) * cw) AS BIGINT)"
            ).alias("lift_micro"),
        )
    )
    ranked = lift.withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy("region").orderBy(F.desc("lift_micro"), "w")
        ),
    )
    return (
        ranked.where(F.col("rnk") <= _CTL_TOPK)
        .select(
            "region", "rnk", F.col("w").alias("term"),
            F.col("c").alias("n_occurrences"), "lift_micro",
        )
        .orderBy("region", "rnk")
    )


# ---------------------------------------------------------------------------
# incremental view maintenance for an aggregate-over-join view
# ---------------------------------------------------------------------------

# base/delta split rules (deterministic): late orders and every 10th
# customer arrive in the delta batch
_IVMJ_ORD_DELTA = "o_orderkey % 7 = 0"
_IVMJ_CUST_DELTA = "c_custkey % 10 = 0"

_IVMJ_SQL = f"""
    WITH o AS (SELECT o_orderkey, o_custkey,
                      CAST(FLOOR(o_totalprice * 100.0e0 + 0.5e0) AS BIGINT)
                        AS cents,
                      CASE WHEN {_IVMJ_ORD_DELTA} THEN 1 ELSE 0 END AS is_d
               FROM orders),
    c AS (SELECT c_custkey, c_nationkey,
                 CASE WHEN {_IVMJ_CUST_DELTA} THEN 1 ELSE 0 END AS is_d
          FROM customer),
    j AS (SELECT c.c_nationkey AS nation, o.cents,
                 o.is_d AS od, c.is_d AS cd
          FROM o JOIN c ON o.o_custkey = c.c_custkey),
    v AS (
      SELECT nation,
             CAST(SUM(CASE WHEN od = 0 AND cd = 0 THEN cents ELSE 0 END)
                  AS BIGINT) AS view_before,
             CAST(SUM(CASE WHEN od = 1 AND cd = 0 THEN cents ELSE 0 END)
                  AS BIGINT) AS d_orders,
             CAST(SUM(CASE WHEN od = 0 AND cd = 1 THEN cents ELSE 0 END)
                  AS BIGINT) AS d_customers,
             CAST(SUM(CASE WHEN od = 1 AND cd = 1 THEN cents ELSE 0 END)
                  AS BIGINT) AS d_both,
             CAST(SUM(cents) AS BIGINT) AS recomputed_after
      FROM j GROUP BY nation)
    SELECT nation, view_before, d_orders, d_customers, d_both,
           view_before + d_orders + d_customers + d_both AS view_after,
           recomputed_after,
           CAST(CASE WHEN view_before + d_orders + d_customers + d_both
                          = recomputed_after THEN 1 ELSE 0 END AS BIGINT)
             AS is_consistent
    FROM v ORDER BY nation
    """


@q("ivm_join_delta", oracle=_IVMJ_SQL)
def ivm_join_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for an aggregate-over-JOIN view —
    the three-term delta rule d(A JOIN B) = dA⋈B + A⋈dB + dA⋈dB,
    applied to revenue-per-nation over orders⋈customer with
    deterministic base/delta splits on BOTH sides (``ivm_agg_delta``
    maintains a single-relation aggregate; this is the join case every
    materialized-view engine implements). The output carries each delta
    term separately plus the recomputed ground truth and a consistency
    flag — the flag IS the IVM correctness proof, per nation.

    Exactness: money snaps to integer cents; every term is an int64 sum.

    Scale shape: ONE equi-join (the same broadcast/hash shape as
    ``revenue_by_nation``) computes all four quadrants via conditional
    aggregation — the incremental terms never need separate scans
    because the quadrant flags are scan-local.
    """
    o = t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long").alias("cents"),
        F.expr(
            f"CASE WHEN {_IVMJ_ORD_DELTA} THEN 1 ELSE 0 END"
        ).alias("od"),
    )
    c = t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey",
        F.expr(
            f"CASE WHEN {_IVMJ_CUST_DELTA} THEN 1 ELSE 0 END"
        ).alias("cd"),
    )
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        F.col("c_nationkey").alias("nation"), "cents", "od", "cd"
    )
    v = j.groupBy("nation").agg(
        F.sum(F.when((F.col("od") == 0) & (F.col("cd") == 0), F.col("cents")).otherwise(0))
        .cast("long").alias("view_before"),
        F.sum(F.when((F.col("od") == 1) & (F.col("cd") == 0), F.col("cents")).otherwise(0))
        .cast("long").alias("d_orders"),
        F.sum(F.when((F.col("od") == 0) & (F.col("cd") == 1), F.col("cents")).otherwise(0))
        .cast("long").alias("d_customers"),
        F.sum(F.when((F.col("od") == 1) & (F.col("cd") == 1), F.col("cents")).otherwise(0))
        .cast("long").alias("d_both"),
        F.sum("cents").cast("long").alias("recomputed_after"),
    )
    after = (
        F.col("view_before") + F.col("d_orders") + F.col("d_customers")
        + F.col("d_both")
    )
    return v.select(
        "nation", "view_before", "d_orders", "d_customers", "d_both",
        after.alias("view_after"),
        "recomputed_after",
        F.when(after == F.col("recomputed_after"), 1).otherwise(0)
        .cast("long").alias("is_consistent"),
    ).orderBy("nation")


# ---------------------------------------------------------------------------
# point-in-time (as-of) join of facts against the SCD2 dimension
# ---------------------------------------------------------------------------

_PIT_SQL = """
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
      SELECT user_id, MIN(attr) AS attr, MIN(day) AS valid_from
      FROM ver GROUP BY user_id, version),
    dim AS (
      SELECT user_id, attr, valid_from,
             COALESCE(LEAD(valid_from) OVER (PARTITION BY user_id
                                             ORDER BY valid_from),
                      DATE '9999-12-31') AS valid_to
      FROM runs),
    fact AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
             event_type,
             CAST(FLOOR(value * 1.0e6 + 0.5e0) AS BIGINT) AS vm
      FROM events),
    pit AS (
      SELECT d.attr AS attr_asof, f.event_type, f.vm
      FROM fact f JOIN dim d
        ON f.user_id = d.user_id
       AND f.day >= d.valid_from AND f.day < d.valid_to)
    SELECT attr_asof, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(vm) AS BIGINT) AS value_micro
    FROM pit GROUP BY attr_asof, event_type
    ORDER BY attr_asof, event_type
    """


@q("pit_join_orders", oracle=_PIT_SQL)
def pit_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (as-of) join: every event joins the SCD2 dimension
    version that was valid ON ITS DAY — the lookup
    ``scd2_dimension_build`` exists to serve (training-data pipelines
    call this "temporal feature join"; joining today's attr onto
    historical facts is the leakage ``leakage_safe_split`` guards
    against). Rolled up by (as-of attribute, event type) with exact
    micro value sums; every fact lands on EXACTLY one version because
    the validity intervals partition each user's timeline
    (pytest-pinned: fact count in == fact count out).

    Scale shape: dimension build is the scd2 shape (user-keyed windows
    over daily snapshots); the PIT join is a USER-KEYED equi-join with
    a range residual — per-user interval counts are bounded by distinct
    attribute runs, so the residual filter never explodes (the
    ``range_band_join`` discipline). One rollup shuffle after.
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
        "version",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    runs = ver.groupBy("user_id", "version").agg(
        F.min("attr").alias("attr"), F.min("day").alias("valid_from")
    )
    wv = Window.partitionBy("user_id").orderBy("valid_from")
    dim = runs.select(
        F.col("user_id").alias("d_user"),
        "attr",
        "valid_from",
        F.coalesce(
            F.lead("valid_from").over(wv), F.lit("9999-12-31").cast("date")
        ).alias("valid_to"),
    )
    fact = ev.select(
        "user_id",
        F.to_date(F.date_trunc("day", "ts")).alias("day"),
        "event_type",
        F.floor(F.col("value") * F.lit(1.0e6) + F.lit(0.5)).cast("long").alias("vm"),
    )
    pit = fact.join(
        dim,
        (fact.user_id == dim.d_user)
        & (fact.day >= dim.valid_from)
        & (fact.day < dim.valid_to),
    )
    return (
        pit.groupBy(F.col("attr").alias("attr_asof"), "event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum("vm").cast("long").alias("value_micro"),
        )
        .orderBy("attr_asof", "event_type")
    )


# ---------------------------------------------------------------------------
# vocabulary richness estimators (Good-Turing + Chao1)
# ---------------------------------------------------------------------------

_VOCAB_RICH_SQL = """
    WITH arrs AS (SELECT string_split(text, ' ') AS a FROM documents
                  WHERE len(string_split(text, ' ')) >= 3),
    toks AS (SELECT a[i] || ' ' || a[i + 1] || ' ' || a[i + 2] AS w
             FROM arrs, UNNEST(range(1, len(a) - 1)) AS t(i)),
    wc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY w),
    s AS (SELECT CAST(COUNT(*) AS BIGINT) AS v,
                 CAST(SUM(c) AS BIGINT) AS n,
                 CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                 CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
                 CAST(SUM(CASE WHEN c = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3
          FROM wc)
    SELECT v AS vocab_observed, n AS n_tokens, n1 AS n_hapax, n2 AS n_dis,
           ROUND(n1 * 1.0e0 / n, 6) AS gt_unseen_mass,
           ROUND(2.0e0 * n2 / n1, 6) AS gt_adjusted_r1,
           CAST(v + (CAST(n1 AS HUGEINT) * n1 * 1000000)
                    // (2 * CAST(n2 AS HUGEINT) * 1000000) AS BIGINT)
             AS chao1_vocab,
           ROUND(v + n1 * 1.0e0 * n1 / (2.0e0 * n2), 4) AS chao1_exact
    FROM s
    """


@q("vocab_richness_estimates", oracle=_VOCAB_RICH_SQL)
def vocab_richness_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unseen-vocabulary estimators over the corpus TRIGRAM frequency
    spectrum (the fixture's unigram vocab is closed — 31 types, no
    hapaxes — so the species unit is the word trigram, which has a
    genuine singleton tail) — the two classical answers to "how much
    vocabulary has the crawl NOT seen yet": Good-Turing unseen probability mass N1/N (hapax share of
    tokens; also the adjusted count r*=2·N2/N1 for singletons) and the
    Chao1 richness estimate V + N1^2/(2·N2). The capacity-planning
    companion of ``vocab_coverage_curve`` (which measures the seen side)
    and ``zipf_vocab_fit`` (which fits the spectrum's shape).

    Exactness: all five spectrum statistics are exact integers from one
    word-keyed partial agg; the two ratios divide once (Chao1 is also
    emitted as an exact HUGEINT floor for a float-free comparison).

    Scale shape: one in-row shingling explode -> one gram-keyed partial
    agg -> one scalar rollup. Identical to ``ngram_jaccard_pairs``' cost.
    """
    dec = "decimal(38,0)"
    arrs = t(spark, sf_dir, "documents").select(
        F.split("text", " ").alias("a")
    ).where(F.expr("size(a) >= 3"))
    toks = arrs.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(a) - 2),"
                " i -> a[i - 1] || ' ' || a[i] || ' ' || a[i + 1])"
            )
        ).alias("w")
    )
    wc = toks.groupBy("w").agg(F.count("*").cast("long").alias("c"))
    s = wc.agg(
        F.count("*").cast("long").alias("v"),
        F.sum("c").cast("long").alias("n"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).cast("long").alias("n2"),
        F.sum(F.when(F.col("c") == 3, 1).otherwise(0)).cast("long").alias("n3"),
    )
    return s.select(
        F.col("v").alias("vocab_observed"),
        F.col("n").alias("n_tokens"),
        F.col("n1").alias("n_hapax"),
        F.col("n2").alias("n_dis"),
        F.round(F.col("n1") * F.lit(1.0) / F.col("n"), 6).alias("gt_unseen_mass"),
        F.round(F.lit(2.0) * F.col("n2") / F.col("n1"), 6).alias("gt_adjusted_r1"),
        F.expr(
            f"CAST(v + (CAST(n1 AS {dec}) * n1 * 1000000)"
            f" div (2 * CAST(n2 AS {dec}) * 1000000) AS BIGINT)"
        ).alias("chao1_vocab"),
        F.round(
            F.col("v") + F.col("n1") * F.lit(1.0) * F.col("n1")
            / (F.lit(2.0) * F.col("n2")),
            4,
        ).alias("chao1_exact"),
    )


# ---------------------------------------------------------------------------
# Burrows' Delta stylometric distance between sources
# ---------------------------------------------------------------------------

_BD_TOPK = 30  # most-frequent-word feature set (the classical Delta uses
# the corpus's top function words — here the corpus's own top-k)

_BURROWS_SQL = f"""
    WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS w
                  FROM documents),
    wt AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cw FROM toks GROUP BY w),
    top AS (SELECT w FROM wt ORDER BY cw DESC, w LIMIT {_BD_TOPK}),
    st AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS ns
           FROM toks GROUP BY source),
    sw AS (SELECT t.source, t.w, CAST(COUNT(*) AS BIGINT) AS c
           FROM toks t JOIN top USING (w) GROUP BY t.source, t.w),
    fr AS (
      SELECT st.source, top.w,
             CAST(COALESCE(sw.c, 0) * 1000000 // st.ns AS BIGINT) AS f_ppm
      FROM st CROSS JOIN top
      LEFT JOIN sw ON sw.source = st.source AND sw.w = top.w),
    mu AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(f_ppm) AS BIGINT) AS s1,
             SUM(CAST(f_ppm AS HUGEINT) * f_ppm) AS s2
      FROM fr GROUP BY w),
    z AS (
      SELECT fr.source, fr.w,
             (fr.f_ppm * 1.0e0 - mu.s1 * 1.0e0 / mu.k)
             / SQRT(mu.s2 * 1.0e0 / mu.k
                    - (mu.s1 * 1.0e0 / mu.k) * (mu.s1 * 1.0e0 / mu.k)) AS zv
      FROM fr JOIN mu ON fr.w = mu.w
      WHERE mu.s2 * mu.k > mu.s1 * mu.s1),
    d AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(SUM(CAST(FLOOR(ABS(a.zv - b.zv) * 1.0e6 + 0.5e0)
                           AS BIGINT)) AS BIGINT) AS sum_micro,
             CAST(COUNT(*) AS BIGINT) AS n_features
      FROM z a JOIN z b ON a.w = b.w AND a.source < b.source
      GROUP BY a.source, b.source)
    SELECT source_a, source_b, n_features,
           ROUND(sum_micro * 1.0e-6 / n_features, 6) AS burrows_delta
    FROM d ORDER BY source_a, source_b
    """


@q("burrows_delta_pairs", oracle=_BURROWS_SQL)
def burrows_delta_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta (the standard stylometric authorship distance)
    between every pair of sources: z-score each source's per-mille
    frequency of the corpus's top-{_BD_TOPK} words against the
    cross-source mean/std of that word, then Delta = mean |z_a - z_b| —
    the attribution-grade "same author/template?" measure beside
    ``js_divergence_sources`` (distributional drift) and
    ``mirror_source_matrix`` (content overlap). Constant-across-sources
    words (zero variance) drop out, per the classical definition.

    Float discipline: frequencies snap to ppm integers BEFORE the
    moment sums (exact, HUGEINT squares); z-scores are one shared
    double expression; each pair term floor-snaps to micro before the
    pair sum.

    Scale shape: top-k vocabulary via TakeOrdered; the feature matrix
    is |sources| x {_BD_TOPK} (broadcast-sized however big the corpus);
    the pair join runs on that tiny matrix keyed by word. Raw tokens
    are scanned twice (corpus top-k, per-source counts), shuffled on
    the word key only.
    """
    toks = t(spark, sf_dir, "documents").select(
        "source", F.explode(F.split("text", " ")).alias("w")
    )
    wt = toks.groupBy("w").agg(F.count("*").cast("long").alias("cw"))
    top = wt.orderBy(F.desc("cw"), "w").limit(_BD_TOPK).select("w")
    st = toks.groupBy("source").agg(F.count("*").cast("long").alias("ns"))
    sw = (
        toks.join(F.broadcast(top), "w")
        .groupBy("source", "w")
        .agg(F.count("*").cast("long").alias("c"))
    )
    fr = (
        st.crossJoin(F.broadcast(top))
        .join(sw, ["source", "w"], "left")
        .select(
            "source", "w",
            F.expr("CAST(COALESCE(c, 0) * 1000000 div ns AS BIGINT)")
            .alias("f_ppm"),
        )
    )
    dec = "decimal(38,0)"
    mu = fr.groupBy("w").agg(
        F.count("*").cast("long").alias("k"),
        F.sum("f_ppm").cast("long").alias("s1"),
        F.sum(F.col("f_ppm").cast(dec) * F.col("f_ppm")).alias("s2"),
    )
    z = (
        fr.join(F.broadcast(mu), "w")
        .where(F.expr("s2 * k > CAST(s1 AS decimal(38,0)) * s1"))
        .select(
            "source", "w",
            F.expr(
                "(f_ppm * 1.0e0 - s1 * 1.0e0 / k)"
                " / SQRT(s2 * 1.0e0 / k"
                " - (s1 * 1.0e0 / k) * (s1 * 1.0e0 / k))"
            ).alias("zv"),
        )
    )
    a = z.select(
        F.col("source").alias("source_a"), F.col("w").alias("wa"),
        F.col("zv").alias("za"),
    )
    b = z.select(
        F.col("source").alias("source_b"), F.col("w").alias("wb"),
        F.col("zv").alias("zb"),
    )
    d = (
        a.join(b, (F.col("wa") == F.col("wb")) & (F.col("source_a") < F.col("source_b")))
        .groupBy("source_a", "source_b")
        .agg(
            F.sum(
                F.expr("CAST(FLOOR(ABS(za - zb) * 1.0e6 + 0.5e0) AS BIGINT)")
            ).cast("long").alias("sum_micro"),
            F.count("*").cast("long").alias("n_features"),
        )
    )
    return d.select(
        "source_a", "source_b", "n_features",
        F.round(F.col("sum_micro") * F.lit(1.0e-6) / F.col("n_features"), 6)
        .alias("burrows_delta"),
    ).orderBy("source_a", "source_b")


# ---------------------------------------------------------------------------
# local clustering coefficient per node
# ---------------------------------------------------------------------------

_LCC_N = 61  # same doc-derived graph as triangle_count (contract_web)

_LCC_SQL = f"""
    WITH raw AS (
      SELECT doc_id % {_LCC_N} AS u,
             ((doc_id // {_LCC_N}) * 2311 + doc_id * 7919 + 13) % {_LCC_N} AS v
      FROM documents),
    e AS (
      SELECT DISTINCT LEAST(u, v) AS a, GREATEST(u, v) AS b
      FROM raw WHERE u <> v),
    deg AS (
      SELECT n, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT a AS n FROM e UNION ALL SELECT b AS n FROM e)
      GROUP BY n),
    o AS (
      SELECT CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.a ELSE e.b END AS src,
             CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.b ELSE e.a END AS dst
      FROM e JOIN deg da ON e.a = da.n JOIN deg db ON e.b = db.n),
    w AS (
      SELECT x.src AS s, x.dst AS p, y.dst AS q
      FROM o x JOIN o y ON x.src = y.src AND x.dst < y.dst),
    tri AS (
      SELECT w.s, w.p, w.q
      FROM w JOIN e ON e.a = LEAST(w.p, w.q) AND e.b = GREATEST(w.p, w.q)),
    tn AS (
      SELECT n, CAST(COUNT(*) AS BIGINT) AS tri_n FROM (
        SELECT s AS n FROM tri UNION ALL
        SELECT p AS n FROM tri UNION ALL
        SELECT q AS n FROM tri)
      GROUP BY n)
    SELECT deg.n AS node, deg.d AS degree,
           CAST(COALESCE(tn.tri_n, 0) AS BIGINT) AS n_triangles,
           CASE WHEN deg.d >= 2
                THEN ROUND(2.0e0 * COALESCE(tn.tri_n, 0)
                           / (deg.d * (deg.d - 1)), 6)
                ELSE 0.0e0 END AS lcc
    FROM deg LEFT JOIN tn ON deg.n = tn.n
    ORDER BY node
    """


@q("local_clustering_coeff", oracle=_LCC_SQL)
def local_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient — the node-level refinement
    of ``triangle_count`` (same doc-derived graph, same degree-oriented
    wedge enumeration): LCC(v) = 2·tri(v) / (deg(v)·(deg(v)−1)), the
    "how clique-ish is this host's neighborhood" number behind community
    detection and spam-farm spotting (link farms: high degree AND high
    LCC; organic hubs: high degree, low LCC).

    Each closed triangle credits ALL THREE corners (the orientation is
    an enumeration device only — tri(v) stays the undirected count,
    pytest-pinned against brute force). Degree-one nodes emit 0, the
    networkx convention.

    Scale shape: identical to triangle_count (O(Σ min_deg²) wedges, all
    equi-joins) plus one 3-way corner explode and a node-keyed partial
    agg. Nothing new shuffles.
    """
    d = t(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    raw = d.select(
        (did % _LCC_N).alias("u"),
        (
            (F.expr(f"doc_id div {_LCC_N}") * 2311 + did * 7919 + 13) % _LCC_N
        ).alias("v"),
    )
    e = (
        raw.where(F.col("u") != F.col("v"))
        .select(F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b"))
        .distinct()
        .transform(cut)
    )
    deg = (
        e.select(F.col("a").alias("n"))
        .unionAll(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count("*").cast("long").alias("d"))
    )
    ed = (
        e.join(deg.withColumnRenamed("n", "a").withColumnRenamed("d", "da"), "a")
        .join(deg.withColumnRenamed("n", "b").withColumnRenamed("d", "db"), "b")
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    o = ed.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
    )
    x = o.select(F.col("src").alias("s"), F.col("dst").alias("p"))
    y = o.select(F.col("src").alias("s2"), F.col("dst").alias("q"))
    w = x.join(y, (F.col("s") == F.col("s2")) & (F.col("p") < F.col("q"))).select(
        "s", "p", "q"
    )
    tri = w.join(
        e,
        (e.a == F.least(w.p, w.q)) & (e.b == F.greatest(w.p, w.q)),
    ).select("s", "p", "q")
    tn = (
        tri.select(F.col("s").alias("n"))
        .unionAll(tri.select(F.col("p").alias("n")))
        .unionAll(tri.select(F.col("q").alias("n")))
        .groupBy("n")
        .agg(F.count("*").cast("long").alias("tri_n"))
    )
    return (
        deg.join(tn, "n", "left")
        .select(
            F.col("n").alias("node"),
            F.col("d").alias("degree"),
            F.coalesce("tri_n", F.lit(0)).cast("long").alias("n_triangles"),
            F.when(
                F.col("d") >= 2,
                F.round(
                    F.lit(2.0) * F.coalesce("tri_n", F.lit(0))
                    / (F.col("d") * (F.col("d") - 1)),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("lcc"),
        )
        .orderBy("node")
    )


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss projection distortion audit
# ---------------------------------------------------------------------------

_JL_K = 16  # target dimensions
_JL_STEP = 17  # pair sampling: (id, id+17) for id % 11 == 0
_JL_MOD = 11

_JL_PROJ_DUCK = f"""list_transform(range(0, {_JL_K}), j ->
               list_reduce(list_transform(range(1, len(v) + 1),
                 i -> v[i] * (((((i - 1) * 37 + j) * 2654435761)
                              % 4294967296 // 65536) % 2 * 2 - 1)),
                 (s, x) -> s + x))"""

_JL_D2_DUCK = (
    "list_reduce(list_transform(range(1, len({a}) + 1),"
    " i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), (s, x) -> s + x)"
)

_JL_SQL = f"""
    WITH ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    pv AS (SELECT vec_id, v, {_JL_PROJ_DUCK} AS pv FROM ev),
    pairs AS (
      SELECT a.vec_id AS id_a,
             {_JL_D2_DUCK.format(a="a.v", b="b.v")} AS d2_full,
             {_JL_D2_DUCK.format(a="a.pv", b="b.pv")} / {_JL_K}.0e0
               AS d2_proj
      FROM pv a JOIN pv b ON b.vec_id = a.vec_id + {_JL_STEP}
      WHERE a.vec_id % {_JL_MOD} = 0),
    r AS (SELECT ROUND(d2_proj / d2_full, 6) AS ratio FROM pairs
          WHERE d2_full > 0.0e0)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(AVG(ratio), 4) AS mean_ratio,
           ROUND(MIN(ratio), 6) AS min_ratio,
           ROUND(MAX(ratio), 6) AS max_ratio,
           CAST(SUM(CASE WHEN ratio BETWEEN 0.5e0 AND 2.0e0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_within_2x
    FROM r
    """


@q("jl_projection_audit", oracle=_JL_SQL)
def jl_projection_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random-projection distortion audit: project
    the embeddings from d to {_JL_K} dims with a deterministic ±1
    sign matrix (sign = a mid bit of the Knuth multiplicative hash of
    the (row, column) index — the database-friendly JL construction;
    Achlioptas 2001 shows ±1 entries suffice), then
    measure the squared-distance distortion ratio over a deterministic
    pair sample. This is the missing rung of the embedding-compression
    ladder (int8 -> PQ -> MRL -> JL): it certifies how far the CHEAPEST
    compression can go before ANN recall collapses.

    Float discipline: projections and distances come from the shared
    sequential list folds (bit-identical across engines); ratios snap
    to 6 dp before the rollup.

    Scale shape: the projection is in-row (O(d·k) per row, no UDF); the
    pair sample joins on an ARITHMETIC key (vec_id + {_JL_STEP}), so
    it is an equi-join, never a cross; one scalar rollup after.
    """
    ev = t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x AS double))").alias("v"),
    )
    proj = (
        f"transform(sequence(0, {_JL_K - 1}), j -> "
        f"aggregate(zip_with(v, sequence(0, size(v) - 1),"
        f" (x, i) -> x * ((((i * 37 + j) * 2654435761)"
        f" % 4294967296 div 65536) % 2 * 2 - 1)),"
        f" 0D, (s, x) -> s + x))"
    )
    pv = ev.select("vec_id", "v", F.expr(proj).alias("pv"))
    a = pv.select(
        F.col("vec_id").alias("id_a"), F.col("v").alias("va"),
        F.col("pv").alias("pa"),
    ).where(F.col("id_a") % _JL_MOD == 0)
    b = pv.select(
        F.col("vec_id").alias("id_b"), F.col("v").alias("vb"),
        F.col("pv").alias("pb"),
    )
    d2 = (
        "aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)),"
        " 0D, (s, x) -> s + x)"
    )
    pairs = a.join(b, F.col("id_b") == F.col("id_a") + _JL_STEP).select(
        F.expr(d2.format(a="va", b="vb")).alias("d2_full"),
        (F.expr(d2.format(a="pa", b="pb")) / F.lit(float(_JL_K))).alias("d2_proj"),
    )
    r = pairs.where(F.col("d2_full") > 0.0).select(
        F.round(F.col("d2_proj") / F.col("d2_full"), 6).alias("ratio")
    )
    return r.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.round(F.avg("ratio"), 4).alias("mean_ratio"),
        F.round(F.min("ratio"), 6).alias("min_ratio"),
        F.round(F.max("ratio"), 6).alias("max_ratio"),
        F.sum(
            F.when((F.col("ratio") >= 0.5) & (F.col("ratio") <= 2.0), 1).otherwise(0)
        ).cast("long").alias("n_within_2x"),
    )


# ---------------------------------------------------------------------------
# Shapley-value channel attribution (exact over the 4-channel lattice)
# ---------------------------------------------------------------------------

_SHAP_CHANNELS = ("click", "error", "signup", "view")  # purchase = conversion
_SHAP_N = 4

_SHAP_BIT = " + ".join(
    f"MAX(CASE WHEN event_type = '{ch}' THEN {1 << i} ELSE 0 END)"
    for i, ch in enumerate(_SHAP_CHANNELS)
)

# |S|! (n-1-|S|)! for |S| = 0..3 with n = 4 (the n!-scaled Shapley weights;
# scale factor n! = 24 divides out at the end)
_SHAP_W = {0: 6, 1: 2, 2: 2, 3: 6}


def _shap_sql() -> str:
    # bit_count-free popcount for a 4-bit mask, portable SQL text
    pop = "((m // 1) % 2 + (m // 2) % 2 + (m // 4) % 2 + (m // 8) % 2)"
    wcase = (
        f"CASE {pop} WHEN 0 THEN 6 WHEN 1 THEN 2 WHEN 2 THEN 2 ELSE 6 END"
    )
    chan_arms = " ".join(
        f"WHEN {i} THEN '{ch}'" for i, ch in enumerate(_SHAP_CHANNELS)
    )
    return f"""
    WITH conv AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'purchase'
                      THEN CAST(FLOOR(epoch(ts)) AS BIGINT) END) AS t_conv
      FROM events GROUP BY user_id),
    j AS (
      SELECT e.user_id,
             {_SHAP_BIT} AS mask,
             CAST(MAX(CASE WHEN c.t_conv IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS converted
      FROM events e JOIN conv c ON e.user_id = c.user_id
      WHERE c.t_conv IS NULL
         OR CAST(FLOOR(epoch(e.ts)) AS BIGINT) < c.t_conv
      GROUP BY e.user_id),
    v AS (
      SELECT mask, CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(converted) * 1000000 // COUNT(*) AS BIGINT) AS v_micro
      FROM j GROUP BY mask),
    lattice AS (
      SELECT CAST(m AS BIGINT) AS m, CAST(i AS BIGINT) AS i
      FROM UNNEST(range(16)) AS t(m), UNNEST(range({_SHAP_N})) AS u(i)
      WHERE (m // (1 << i)) % 2 = 0),
    terms AS (
      SELECT l.i,
             ({wcase}) * (COALESCE(vw.v_micro, 0) - COALESCE(vo.v_micro, 0))
               AS term
      FROM lattice l
      LEFT JOIN v vo ON vo.mask = l.m
      LEFT JOIN v vw ON vw.mask = l.m + (1 << l.i))
    SELECT CASE i {chan_arms} END AS channel,
           CAST(SUM(term) AS BIGINT) AS shapley_x24_micro,
           ROUND(SUM(term) / 24.0e0 * 1.0e-6, 6) AS shapley_value
    FROM terms GROUP BY i ORDER BY channel
    """


@q("shapley_attribution", oracle=_shap_sql())
def shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shapley-value marketing attribution (the data-driven attribution
    model behind ad-platform reporting, exact over the 4-channel
    lattice): each user's pre-conversion journey reduces to a channel
    SET (bitmask); v(S) = the observed conversion rate of journeys with
    exactly that set (unobserved coalitions contribute v = 0, the
    standard observed-coalition convention); each channel's Shapley
    value sums |S|!(n-1-|S|)!·(v(S u i) - v(S)) over the 16-node
    lattice. ``click_attribution`` answers the same question with
    last-touch rules; this is the game-theoretic answer.

    Exactness: v(S) snaps to micro from exact integer division; the
    24-scaled weights keep every term an integer (the /24 and /1e6
    divide once in the last projection, also emitted unscaled).

    Scale shape: journeys reduce in ONE user-keyed partial agg (bitmask
    OR via conditional MAX); v(S) is a 16-row aggregate; the lattice
    walk is a 64-row constant relation joined twice against the tiny
    v relation. Raw events are scanned once.
    """
    ev = t(spark, sf_dir, "events").select(
        "user_id", "event_type",
        F.expr("CAST(unix_timestamp(ts) AS BIGINT)").alias("es"),
    )
    conv = ev.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("es"))
        ).alias("t_conv")
    )
    bit = sum(
        (
            F.max(
                F.when(F.col("event_type") == ch, F.lit(1 << i)).otherwise(0)
            )
            for i, ch in enumerate(_SHAP_CHANNELS)
        ),
        start=F.lit(0),
    )
    j = (
        ev.join(conv, "user_id")
        .where(F.col("t_conv").isNull() | (F.col("es") < F.col("t_conv")))
        .groupBy("user_id")
        .agg(
            bit.alias("mask"),
            F.max(
                F.when(F.col("t_conv").isNotNull(), 1).otherwise(0)
            ).cast("long").alias("converted"),
        )
    )
    v = j.groupBy("mask").agg(
        F.count("*").cast("long").alias("n_users"),
        F.expr("CAST(SUM(converted) * 1000000 div COUNT(*) AS BIGINT)")
        .alias("v_micro"),
    )
    lattice = (
        spark.range(16)
        .select(F.col("id").alias("m"))
        .crossJoin(spark.range(_SHAP_N).select(F.col("id").alias("i")))
        .where(F.expr("(m div (1 << CAST(i AS INT))) % 2 = 0"))
    )
    vo = v.select(F.col("mask").alias("mo"), F.col("v_micro").alias("v_o"))
    vw = v.select(F.col("mask").alias("mw"), F.col("v_micro").alias("v_w"))
    pop = "((m div 1) % 2 + (m div 2) % 2 + (m div 4) % 2 + (m div 8) % 2)"
    terms = (
        lattice.join(F.broadcast(vo), F.col("mo") == F.col("m"), "left")
        .join(
            F.broadcast(vw),
            F.col("mw") == F.col("m") + F.expr("1 << CAST(i AS INT)"),
            "left",
        )
        .select(
            "i",
            (
                F.expr(
                    f"CASE {pop} WHEN 0 THEN 6 WHEN 1 THEN 2"
                    " WHEN 2 THEN 2 ELSE 6 END"
                )
                * (
                    F.coalesce("v_w", F.lit(0)) - F.coalesce("v_o", F.lit(0))
                )
            ).alias("term"),
        )
    )
    chan = F.element_at(
        F.array(*[F.lit(c) for c in _SHAP_CHANNELS]), (F.col("i") + 1).cast("int")
    )
    return (
        terms.groupBy("i")
        .agg(F.sum("term").cast("long").alias("shapley_x24_micro"))
        .select(
            chan.alias("channel"),
            "shapley_x24_micro",
            F.round(
                F.col("shapley_x24_micro") / F.lit(24.0) * F.lit(1.0e-6), 6
            ).alias("shapley_value"),
        )
        .orderBy("channel")
    )


# ---------------------------------------------------------------------------
# weekly growth accounting (new / retained / resurrected / churned)
# ---------------------------------------------------------------------------

_GROWTH_SQL = """
    WITH uw AS (
      SELECT DISTINCT user_id,
             CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) // 7 AS wk
      FROM events),
    flags AS (
      SELECT user_id, wk,
             LAG(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev_wk,
             MIN(wk) OVER (PARTITION BY user_id) AS first_wk
      FROM uw),
    cls AS (
      SELECT wk,
             CASE WHEN wk = first_wk THEN 'new'
                  WHEN prev_wk = wk - 1 THEN 'retained'
                  ELSE 'resurrected' END AS kind
      FROM flags),
    act AS (
      SELECT wk,
             CAST(COUNT(*) AS BIGINT) AS n_active,
             CAST(SUM(CASE WHEN kind = 'new' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_new,
             CAST(SUM(CASE WHEN kind = 'retained' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_retained,
             CAST(SUM(CASE WHEN kind = 'resurrected' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_resurrected
      FROM cls GROUP BY wk),
    churn AS (
      SELECT a.wk + 1 AS wk,
             CAST(COUNT(*) AS BIGINT) AS n_churned
      FROM uw a LEFT JOIN uw b
        ON a.user_id = b.user_id AND b.wk = a.wk + 1
      WHERE b.user_id IS NULL
      GROUP BY a.wk + 1)
    SELECT act.wk, act.n_active, act.n_new, act.n_retained,
           act.n_resurrected,
           CAST(COALESCE(c.n_churned, 0) AS BIGINT) AS n_churned_in,
           CAST(act.n_active - act.n_new - act.n_retained
                - act.n_resurrected AS BIGINT) AS accounting_residual
    FROM act LEFT JOIN churn c ON act.wk = c.wk
    ORDER BY act.wk
    """


@q("growth_accounting_weekly", oracle=_GROWTH_SQL)
def growth_accounting_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly growth accounting — the full new / retained / resurrected
    / churned ledger (``user_growth_daily`` reports new + active; this
    closes the identity active = new + retained + resurrected, emitted
    as a residual column the pytest pins at zero, plus the users who
    went dark entering each week). The standard startup-metrics
    decomposition (a16z growth accounting).

    Scale shape: presence reduces to one DISTINCT (user, week) partial
    agg; both classification windows (LAG, MIN) share ONE user-keyed
    exchange; churn is a user-keyed self anti-join on (user, wk+1) —
    an arithmetic equi-key, never a range. Weekly rollups run on the
    post-agg relation.
    """
    uw = (
        t(spark, sf_dir, "events")
        .select(
            "user_id",
            F.expr(
                "CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) div 7"
            ).alias("wk"),
        )
        .distinct()
        .transform(cut)
    )
    w = Window.partitionBy("user_id").orderBy("wk")
    wa = Window.partitionBy("user_id")
    flags = uw.select(
        "user_id", "wk",
        F.lag("wk").over(w).alias("prev_wk"),
        F.min("wk").over(wa).alias("first_wk"),
    )
    cls = flags.select(
        "wk",
        F.when(F.col("wk") == F.col("first_wk"), "new")
        .when(F.col("prev_wk") == F.col("wk") - 1, "retained")
        .otherwise("resurrected")
        .alias("kind"),
    )
    act = cls.groupBy("wk").agg(
        F.count("*").cast("long").alias("n_active"),
        F.sum(F.when(F.col("kind") == "new", 1).otherwise(0))
        .cast("long").alias("n_new"),
        F.sum(F.when(F.col("kind") == "retained", 1).otherwise(0))
        .cast("long").alias("n_retained"),
        F.sum(F.when(F.col("kind") == "resurrected", 1).otherwise(0))
        .cast("long").alias("n_resurrected"),
    )
    b = uw.select(F.col("user_id").alias("ub"), F.col("wk").alias("wkb"))
    churn = (
        uw.join(
            b,
            (F.col("user_id") == F.col("ub")) & (F.col("wkb") == F.col("wk") + 1),
            "left",
        )
        .where(F.col("ub").isNull())
        .groupBy((F.col("wk") + 1).alias("cwk"))
        .agg(F.count("*").cast("long").alias("n_churned"))
    )
    return (
        act.join(F.broadcast(churn), act.wk == churn.cwk, "left")
        .select(
            "wk", "n_active", "n_new", "n_retained", "n_resurrected",
            F.coalesce("n_churned", F.lit(0)).cast("long").alias("n_churned_in"),
            (
                F.col("n_active") - F.col("n_new") - F.col("n_retained")
                - F.col("n_resurrected")
            ).cast("long").alias("accounting_residual"),
        )
        .orderBy("wk")
    )
