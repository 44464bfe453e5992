"""Driver-contract entries: web-corpus analytics operators.

Round-3 session-4 additions — the query surface a Common-Crawl-style page
store (BASELINE input_hint: ``url, warc_ts, html, text, lang``) needs on
every snapshot, each oracle-paired and each built on the deterministic
driver tables (urls/timestamps are synthesised in-query from ``doc_id`` so
the DuckDB oracle can mirror the derivation exactly — the sanctioned
small-scale stand-in for the crawl table; no external data):

- ``url_host_rollup``: URL normalisation (case-fold host, strip default
  port / fragment / ``utm_*`` tracking params) + per-host hygiene rollup.
- ``crawl_latest_snapshot``: keep-latest-crawl-per-url dedup (the WARC
  recency rule) via a single ``max_by`` partial aggregation — never a
  per-url window sort.
- ``funnel_conversion``: ordered signup→click→purchase funnel over the
  events stream, one user-keyed shuffle for all three stages.
- ``session_paths``: gap-sessionised top-k event-type paths (the
  clickstream path-mining classic).
- ``pagerank_cosupply``: weighted PageRank over the supplier co-purchase
  graph — the iterative keyed-join propagation loop (damping 0.85, 5
  rounds) with the same bounded-lineage discipline as
  ``text/dedup.dedup_clusters``; oracle = 5 unrolled CTE iterations.

Reference surface being generalized: the reference scores a *geospatial*
entity table; a web-page corpus adds the url/crawl axis (normalise, dedup
by recency) and behavioural axes (funnel, paths, link-graph authority).
Cross-engine float discipline per BENCH/BASELINE.md: every carried-forward
rank is snapped to 10 dp per iteration, outputs to 6 dp/4 dp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from osmgraft.contract import q, t
from osmgraft.runtime.cut import cut

# ---------------------------------------------------------------------------
# url normalisation + host rollup
# ---------------------------------------------------------------------------

_URL_ROLLUP_SQL = """
    WITH raw AS (
      SELECT doc_id, lang, n_chars,
             'https://'
             || CASE WHEN doc_id % 3 = 0
                     THEN 'EXAMPLE-' || CAST(doc_id % 7 AS VARCHAR) || '.CO.UK'
                     WHEN doc_id % 3 = 1
                     THEN 'example-' || CAST(doc_id % 7 AS VARCHAR) || '.co.uk'
                     ELSE 'Example-' || CAST(doc_id % 7 AS VARCHAR) || '.Co.Uk'
                END
             || CASE WHEN doc_id % 4 = 0 THEN ':443'
                     WHEN doc_id % 4 = 1 THEN ':8080' ELSE '' END
             || '/p/' || CAST(doc_id % 50 AS VARCHAR)
             || CASE WHEN doc_id % 5 = 0
                     THEN '?utm_campaign=x&id=' || CAST(doc_id % 50 AS VARCHAR)
                     WHEN doc_id % 5 = 1
                     THEN '?id=' || CAST(doc_id % 50 AS VARCHAR) ELSE '' END
             || CASE WHEN doc_id % 2 = 0
                     THEN '#sec' || CAST(doc_id % 4 AS VARCHAR) ELSE '' END
             AS url
      FROM documents),
    parts AS (
      SELECT doc_id, lang, n_chars, url,
             regexp_replace(url, '#.*$', '') AS nofrag
      FROM raw),
    norm AS (
      SELECT doc_id, lang, n_chars, url,
             lower(regexp_extract(nofrag, '^https://([^/:?#]+)', 1)) AS host,
             regexp_extract(nofrag, '^https://[^/:?#]+:([0-9]+)', 1) AS port,
             regexp_extract(nofrag, '^https://[^/?#]+([^?#]*)', 1) AS path,
             regexp_replace(
               regexp_replace(regexp_extract(nofrag, '\\?([^#]*)', 1),
                              'utm_[a-z]+=[^&]*&?', ''),
               '&$', '') AS qs
      FROM parts)
    SELECT host,
           CAST(COUNT(*) AS BIGINT) AS n_pages,
           CAST(COUNT(DISTINCT 'https://' || host
                      || CASE WHEN port IN ('', '443') THEN ''
                              ELSE ':' || port END
                      || path
                      || CASE WHEN qs = '' THEN '' ELSE '?' || qs END)
                AS BIGINT) AS n_urls,
           CAST(COUNT(*) FILTER (WHERE url LIKE '%#%') AS BIGINT)
             AS n_fragment,
           CAST(COUNT(*) FILTER (WHERE port = '443') AS BIGINT)
             AS n_default_port,
           CAST(COUNT(*) FILTER (WHERE url LIKE '%utm\\_%' ESCAPE '\\')
                AS BIGINT) AS n_tracking,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           ROUND(AVG(n_chars), 2) AS avg_chars
    FROM norm GROUP BY host ORDER BY host
    """


@q("url_host_rollup", oracle=_URL_ROLLUP_SQL)
def url_host_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL normalisation + per-host hygiene rollup (crawl-frontier shape).

    Synthesises a deterministically messy url per document (mixed-case
    host, default/exotic port, ``utm_*`` tracking param, fragment), then
    normalises with pure Column ops — lower-cased host, ``:443`` dropped,
    fragment stripped, tracking params removed — and rolls up per host:
    page/url counts and how many raw urls each hygiene rule touched.

    Scale shape: the normalisation is per-row JVM regex (no UDF, no
    shuffle); the rollup is ONE partial-agg shuffle keyed by host (~1e7
    hosts in a real crawl — far below executor memory after partial
    aggregation). COUNT(DISTINCT url) expands to the standard two-phase
    distinct aggregate on the same key. Nothing is quadratic.
    """
    d = t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    did = F.col("doc_id")
    hostnum = (did % 7).cast("string")
    host_raw = (
        F.when(did % 3 == 0, F.concat(F.lit("EXAMPLE-"), hostnum, F.lit(".CO.UK")))
        .when(did % 3 == 1, F.concat(F.lit("example-"), hostnum, F.lit(".co.uk")))
        .otherwise(F.concat(F.lit("Example-"), hostnum, F.lit(".Co.Uk")))
    )
    port_raw = (
        F.when(did % 4 == 0, F.lit(":443"))
        .when(did % 4 == 1, F.lit(":8080"))
        .otherwise(F.lit(""))
    )
    pathnum = (did % 50).cast("string")
    qs_raw = (
        F.when(did % 5 == 0, F.concat(F.lit("?utm_campaign=x&id="), pathnum))
        .when(did % 5 == 1, F.concat(F.lit("?id="), pathnum))
        .otherwise(F.lit(""))
    )
    frag_raw = F.when(
        did % 2 == 0, F.concat(F.lit("#sec"), (did % 4).cast("string"))
    ).otherwise(F.lit(""))
    url = F.concat(
        F.lit("https://"), host_raw, port_raw, F.lit("/p/"), pathnum,
        qs_raw, frag_raw,
    )

    raw = d.withColumn("url", url)
    nofrag = F.regexp_replace("url", r"#.*$", "")
    norm = raw.select(
        "lang", "n_chars", "url",
        F.lower(F.regexp_extract(nofrag, r"^https://([^/:?#]+)", 1)).alias("host"),
        F.regexp_extract(nofrag, r"^https://[^/:?#]+:([0-9]+)", 1).alias("port"),
        F.regexp_extract(nofrag, r"^https://[^/?#]+([^?#]*)", 1).alias("path"),
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_extract(nofrag, r"\?([^#]*)", 1),
                r"utm_[a-z]+=[^&]*&?", "",
            ),
            r"&$", "",
        ).alias("qs"),
    )
    url_norm = F.concat(
        F.lit("https://"), F.col("host"),
        F.when(F.col("port").isin("", "443"), F.lit(""))
        .otherwise(F.concat(F.lit(":"), F.col("port"))),
        F.col("path"),
        F.when(F.col("qs") == "", F.lit(""))
        .otherwise(F.concat(F.lit("?"), F.col("qs"))),
    )
    return (
        norm.groupBy("host")
        .agg(
            F.count("*").cast("long").alias("n_pages"),
            F.countDistinct(url_norm).cast("long").alias("n_urls"),
            F.sum(F.col("url").contains("#").cast("int")).cast("long")
            .alias("n_fragment"),
            F.sum((F.col("port") == "443").cast("int")).cast("long")
            .alias("n_default_port"),
            F.sum(F.col("url").contains("utm_").cast("int")).cast("long")
            .alias("n_tracking"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        )
        .orderBy("host")
    )


# ---------------------------------------------------------------------------
# keep-latest-crawl-per-url dedup
# ---------------------------------------------------------------------------

_EPOCH_2024_03_01 = 1709251200  # seconds; exact integer arithmetic on both engines

_LATEST_SNAPSHOT_SQL = f"""
    WITH snaps AS (
      SELECT doc_id, text,
             doc_id // 4 AS url_key,
             (doc_id % 4) * 100000 + (doc_id * 7919) % 86400 AS secs
      FROM documents),
    keyed AS (
      SELECT 'https://example-' || CAST(url_key % 7 AS VARCHAR)
             || '.co.uk/p/' || CAST(url_key AS VARCHAR) AS url,
             doc_id, text, secs
      FROM snaps)
    SELECT url,
           CAST(COUNT(*) AS BIGINT) AS n_snapshots,
           make_timestamp(({_EPOCH_2024_03_01} + MAX(secs)) * 1000000)
             AS latest_ts,
           CAST(arg_max(doc_id, secs) AS BIGINT) AS kept_doc_id,
           md5(arg_max(text, secs)) AS kept_md5,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_replaced
    FROM keyed GROUP BY url ORDER BY url
    """


@q("crawl_latest_snapshot", oracle=_LATEST_SNAPSHOT_SQL)
def crawl_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-latest-crawl-per-url dedup (WARC recency rule).

    Documents stand in for crawl snapshots: every 4 consecutive doc_ids
    share one url, each with a deterministic distinct ``warc_ts``; the
    pipeline keeps the newest snapshot per url and reports how many were
    superseded, plus the md5 of the kept payload (byte-identity evidence
    across engines — the per-row invariant of the north rule).

    Scale shape: ONE partial-agg shuffle on the url key using ``max_by``
    (argmax folds map-side) — NOT a per-url window sort, which would
    shuffle the full snapshot history and sort inside every url group.
    At 10^12 pages with ~3 crawls/url this is the difference between a
    combiner-friendly agg and a full-table sort.
    """
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    did = F.col("doc_id")
    snaps = d.select(
        "doc_id", "text",
        F.expr("doc_id div 4").alias("url_key"),
        ((did % 4) * 100000 + (did * 7919) % 86400).alias("secs"),
    )
    keyed = snaps.select(
        F.concat(
            F.lit("https://example-"), (F.col("url_key") % 7).cast("string"),
            F.lit(".co.uk/p/"), F.col("url_key").cast("string"),
        ).alias("url"),
        "doc_id", "text", "secs",
    )
    return (
        keyed.groupBy("url")
        .agg(
            F.count("*").cast("long").alias("n_snapshots"),
            F.timestamp_seconds(
                F.lit(_EPOCH_2024_03_01) + F.max("secs")
            ).alias("latest_ts"),
            F.max_by("doc_id", "secs").cast("long").alias("kept_doc_id"),
            F.md5(F.max_by("text", "secs").cast("binary")).alias("kept_md5"),
            (F.count("*") - 1).cast("long").alias("n_replaced"),
        )
        .orderBy("url")
    )


# ---------------------------------------------------------------------------
# ordered conversion funnel
# ---------------------------------------------------------------------------

_FUNNEL_SQL = """
    WITH e AS (SELECT user_id, ts, event_type FROM events),
    s1 AS (SELECT *, MIN(CASE WHEN event_type = 'signup' THEN ts END)
                       OVER (PARTITION BY user_id) AS signup_ts FROM e),
    s2 AS (SELECT *, MIN(CASE WHEN event_type = 'click' AND ts > signup_ts
                              THEN ts END)
                       OVER (PARTITION BY user_id) AS click_ts FROM s1),
    s3 AS (SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts > click_ts
                              THEN ts END)
                       OVER (PARTITION BY user_id) AS purchase_ts FROM s2),
    pu AS (SELECT user_id, MIN(signup_ts) AS s, MIN(click_ts) AS c,
                  MIN(purchase_ts) AS p
           FROM s3 GROUP BY user_id),
    agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS total,
                   CAST(COUNT(s) AS BIGINT) AS ns,
                   CAST(COUNT(c) AS BIGINT) AS nc,
                   CAST(COUNT(p) AS BIGINT) AS np
            FROM pu)
    SELECT 'all_users' AS stage, total AS users, 1.0e0 AS pct FROM agg
    UNION ALL SELECT 'signup', ns, ROUND(ns / CAST(total AS DOUBLE), 4) FROM agg
    UNION ALL SELECT 'click_after_signup', nc,
                     ROUND(nc / CAST(total AS DOUBLE), 4) FROM agg
    UNION ALL SELECT 'purchase_after_click', np,
                     ROUND(np / CAST(total AS DOUBLE), 4) FROM agg
    """


@q("funnel_conversion", oracle=_FUNNEL_SQL)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered signup → click → purchase funnel (web-analytics classic).

    A user converts at stage k only via an event strictly AFTER their
    stage-(k-1) event: earliest signup, then earliest click after it,
    then earliest purchase after that click.

    Scale shape: three chained unbounded MIN windows over the SAME
    ``user_id`` partitioning — Catalyst plans ONE Exchange; no
    per-stage self-joins (the naive form joins events to itself twice).
    The per-user reduction and the final 4-row stack are partial aggs.
    """
    e = t(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    w = Window.partitionBy("user_id")
    et = F.col("event_type")
    s = (
        e.withColumn("signup_ts", F.min(F.when(et == "signup", F.col("ts"))).over(w))
        .withColumn(
            "click_ts",
            F.min(
                F.when((et == "click") & (F.col("ts") > F.col("signup_ts")), F.col("ts"))
            ).over(w),
        )
        .withColumn(
            "purchase_ts",
            F.min(
                F.when(
                    (et == "purchase") & (F.col("ts") > F.col("click_ts")), F.col("ts")
                )
            ).over(w),
        )
    )
    pu = s.groupBy("user_id").agg(
        F.min("signup_ts").alias("s"),
        F.min("click_ts").alias("c"),
        F.min("purchase_ts").alias("p"),
    )
    agg = pu.agg(
        F.count("*").cast("long").alias("total"),
        F.count("s").cast("long").alias("ns"),
        F.count("c").cast("long").alias("nc"),
        F.count("p").cast("long").alias("np"),
    )
    return agg.selectExpr(
        "stack(4, "
        "'all_users', total, CAST(1.0 AS DOUBLE), "
        "'signup', ns, ROUND(ns / CAST(total AS DOUBLE), 4), "
        "'click_after_signup', nc, ROUND(nc / CAST(total AS DOUBLE), 4), "
        "'purchase_after_click', np, ROUND(np / CAST(total AS DOUBLE), 4)"
        ") AS (stage, users, pct)"
    )


# ---------------------------------------------------------------------------
# gap-sessionised path mining
# ---------------------------------------------------------------------------

_SESSION_GAP_SQL = "INTERVAL 24 HOUR"
_PATHS_TOP_K = 20

_SESSION_PATHS_SQL = f"""
    WITH e AS (SELECT user_id, ts, event_type FROM events),
    l AS (SELECT *, LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
          FROM e),
    m AS (SELECT *, CASE WHEN prev_ts IS NULL
                              OR ts > prev_ts + {_SESSION_GAP_SQL}
                         THEN 1 ELSE 0 END AS new_s FROM l),
    s AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                     ROWS UNBOUNDED PRECEDING) AS sess
          FROM m),
    p AS (SELECT user_id, sess,
                 string_agg(event_type, '>' ORDER BY ts) AS path
          FROM s GROUP BY user_id, sess)
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
    FROM p GROUP BY path
    ORDER BY n_sessions DESC, path LIMIT {_PATHS_TOP_K}
    """


@q("session_paths", oracle=_SESSION_PATHS_SQL)
def session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k session event-type paths (clickstream path mining).

    Sessions split on a 24 h inactivity gap (the fixture's per-user
    inter-arrival is ~9 h, so sessions chain several events); each
    session's ordered event types join into a ``a>b>c`` path string and
    the k most frequent paths are reported.

    Scale shape: LAG + running SUM share one ``user_id``-ordered window
    sort (one Exchange); the path build is an in-row ``array_sort`` over
    the collected (ts, type) structs of ONE session (bounded by session
    length, never a global sort); the final top-k is
    ``TakeOrderedAndProject`` (per-partition heads only). This is the
    same two-phase top-k discipline as ``tfidf_top_terms``.
    """
    e = t(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    wo = Window.partitionBy("user_id").orderBy("ts")
    gap = F.expr(f"prev_ts + {_SESSION_GAP_SQL}")
    m = (
        e.withColumn("prev_ts", F.lag("ts").over(wo))
        .withColumn(
            "new_s",
            (F.col("prev_ts").isNull() | (F.col("ts") > gap)).cast("int"),
        )
        .withColumn(
            "sess",
            F.sum("new_s").over(wo.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    paths = m.groupBy("user_id", "sess").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts", "event_type"))),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").cast("long").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(_PATHS_TOP_K)
    )


# ---------------------------------------------------------------------------
# HTML outlink extraction -> host link graph
# ---------------------------------------------------------------------------

_OUTLINK_SQL = """
    WITH d AS (
      SELECT doc_id,
             'example-' || CAST(doc_id % 7 AS VARCHAR) || '.co.uk' AS src_host,
             '<html><body>'
             || '<a href="https://example-'
                || CAST((doc_id + 1) % 7 AS VARCHAR) || '.co.uk/p/'
                || CAST((doc_id * 2) % 50 AS VARCHAR) || '">x</a>'
             || CASE WHEN doc_id % 3 >= 1
                     THEN '<a href="https://example-'
                          || CAST((doc_id + 4) % 7 AS VARCHAR) || '.co.uk/p/'
                          || CAST((doc_id * 3) % 50 AS VARCHAR) || '">x</a>'
                     ELSE '' END
             || CASE WHEN doc_id % 3 >= 2
                     THEN '<a href="https://example-'
                          || CAST(doc_id % 7 AS VARCHAR) || '.co.uk/p/'
                          || CAST((doc_id * 4) % 50 AS VARCHAR) || '">x</a>'
                     ELSE '' END
             || '</body></html>' AS html
      FROM documents),
    x AS (
      SELECT doc_id, src_host,
             UNNEST(regexp_extract_all(html, 'href="https://([^/"]+)', 1))
               AS dst_host
      FROM d)
    SELECT src_host, dst_host,
           CAST(COUNT(*) AS BIGINT) AS n_links,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(MAX(CASE WHEN src_host = dst_host THEN 1 ELSE 0 END) AS BIGINT)
             AS is_self
    FROM x GROUP BY src_host, dst_host ORDER BY src_host, dst_host
    """


@q("outlink_host_graph", oracle=_OUTLINK_SQL)
def outlink_host_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML outlink extraction → host-to-host link graph (edge rollup).

    Synthesises a deterministic html payload per document (1–3 anchor
    tags, targets derived from ``doc_id``; the in-query stand-in for the
    input-hint's ``html`` column), extracts the href hosts with ONE
    ``regexp_extract_all`` pass, explodes, and rolls the edges up to
    (src_host, dst_host) with link/doc counts and a self-loop marker —
    the first stage of every host-graph build (PageRank's edge input).

    Scale shape: extraction is per-row JVM regex over the html bytes (no
    UDF); the explode multiplies rows by out-degree (bounded, ~links per
    page); the rollup is ONE partial-agg shuffle on the edge key. Host
    edges at crawl scale (~1e9) fit a downstream broadcast or a bucketed
    write — this query IS the map side of that build.
    """
    d = t(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")

    def _a(host_off: int, path_mul: int) -> F.Column:
        return F.concat(
            F.lit('<a href="https://example-'),
            ((did + host_off) % 7).cast("string"),
            F.lit(".co.uk/p/"),
            ((did * path_mul) % 50).cast("string"),
            F.lit('">x</a>'),
        )

    html = F.concat(
        F.lit("<html><body>"),
        _a(1, 2),
        F.when(did % 3 >= 1, _a(4, 3)).otherwise(F.lit("")),
        F.when(did % 3 >= 2, _a(0, 4)).otherwise(F.lit("")),
        F.lit("</body></html>"),
    )
    pages = d.select(
        "doc_id",
        F.concat(
            F.lit("example-"), (did % 7).cast("string"), F.lit(".co.uk")
        ).alias("src_host"),
        html.alias("html"),
    )
    edges = pages.select(
        "doc_id",
        "src_host",
        F.explode(
            F.regexp_extract_all("html", F.lit(r'href="https://([^/"]+)'), 1)
        ).alias("dst_host"),
    )
    return (
        edges.groupBy("src_host", "dst_host")
        .agg(
            F.count("*").cast("long").alias("n_links"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.max((F.col("src_host") == F.col("dst_host")).cast("int"))
            .cast("long")
            .alias("is_self"),
        )
        .orderBy("src_host", "dst_host")
    )


# ---------------------------------------------------------------------------
# crawl-to-crawl change-data-capture
# ---------------------------------------------------------------------------

_SNAPSHOT_DIFF_SQL = """
    WITH snaps AS (
      SELECT doc_id, n_chars, doc_id // 4 AS url_key, doc_id % 4 AS rev
      FROM documents),
    a AS (
      SELECT 'https://example-' || CAST(url_key % 7 AS VARCHAR)
             || '.co.uk/p/' || CAST(url_key AS VARCHAR) AS url,
             arg_max(n_chars, rev) // 50 AS band
      FROM snaps WHERE rev IN (0, 2) AND url_key % 5 <> 0
      GROUP BY url_key),
    b AS (
      SELECT 'https://example-' || CAST(url_key % 7 AS VARCHAR)
             || '.co.uk/p/' || CAST(url_key AS VARCHAR) AS url,
             arg_max(n_chars, rev) // 50 AS band
      FROM snaps WHERE rev IN (1, 3) AND url_key % 7 <> 0
      GROUP BY url_key),
    j AS (
      SELECT COALESCE(a.url, b.url) AS url,
             CASE WHEN a.url IS NULL THEN 'added'
                  WHEN b.url IS NULL THEN 'removed'
                  WHEN a.band = b.band THEN 'unchanged'
                  ELSE 'changed' END AS status
      FROM a FULL OUTER JOIN b ON a.url = b.url)
    SELECT status, CAST(COUNT(*) AS BIGINT) AS n_urls, MIN(url) AS example_url
    FROM j GROUP BY status ORDER BY status
    """


@q("snapshot_diff", oracle=_SNAPSHOT_DIFF_SQL)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-to-crawl change-data-capture (added / removed / changed /
    unchanged urls between two consecutive crawl snapshots).

    Crawl A keeps each url's newest even-rev snapshot, crawl B the newest
    odd-rev one; membership differs per crawl (coverage gaps modelled by
    the ``url_key % 5`` / ``% 7`` drop rules), and a page "changed" when
    its content-length band moved between the kept snapshots. This is the
    incremental-ingest primitive: the diff's ``added + changed`` set is
    exactly the work list a re-extraction pass must touch.

    Scale shape: each crawl reduces with ONE ``max_by`` partial agg on
    the url key; the diff is a single full-outer sort-merge join on that
    same key (both sides already url-keyed — bucketed-by-url snapshot
    tables elide the Exchange entirely); the status rollup is a 4-group
    partial agg. No window sorts, nothing quadratic.
    """
    d = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    did = F.col("doc_id")
    snaps = d.select(
        "n_chars",
        F.expr("doc_id div 4").alias("url_key"),
        (did % 4).alias("rev"),
    )
    url = F.concat(
        F.lit("https://example-"), (F.col("url_key") % 7).cast("string"),
        F.lit(".co.uk/p/"), F.col("url_key").cast("string"),
    )

    def crawl(revs: tuple[int, int], drop_mod: int) -> DataFrame:
        return (
            snaps.where(
                F.col("rev").isin(*revs) & (F.col("url_key") % drop_mod != 0)
            )
            .groupBy("url_key")
            .agg(F.expr("max_by(n_chars, rev) div 50").alias("band"))
            .select(url.alias("url"), "band")
        )

    a = crawl((0, 2), 5)
    b = crawl((1, 3), 7)
    j = a.alias("a").join(b.alias("b"), F.col("a.url") == F.col("b.url"), "full_outer")
    status = (
        F.when(F.col("a.url").isNull(), F.lit("added"))
        .when(F.col("b.url").isNull(), F.lit("removed"))
        .when(F.col("a.band") == F.col("b.band"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return (
        j.select(
            F.coalesce(F.col("a.url"), F.col("b.url")).alias("url"),
            status.alias("status"),
        )
        .groupBy("status")
        .agg(
            F.count("*").cast("long").alias("n_urls"),
            F.min("url").alias("example_url"),
        )
        .orderBy("status")
    )


# ---------------------------------------------------------------------------
# click -> purchase attribution (interval-join application)
# ---------------------------------------------------------------------------

_ATTR_LAG_H = 24

_ATTRIBUTION_SQL = f"""
    WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
    p AS (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'purchase'),
    j AS (
      SELECT p.event_id, MIN(p.ts) AS pts, MAX(c.ts) AS cts
      FROM p LEFT JOIN c
        ON c.user_id = p.user_id AND c.ts <= p.ts
       AND c.ts > p.ts - INTERVAL {_ATTR_LAG_H} HOUR
      GROUP BY p.event_id),
    b AS (
      SELECT CASE WHEN cts IS NULL THEN 'unattributed'
                  WHEN date_diff('second', cts, pts) < 3600 THEN '<1h'
                  WHEN date_diff('second', cts, pts) < 21600 THEN '1-6h'
                  ELSE '6-24h' END AS lag_band,
             date_diff('second', cts, pts) AS lag_s
      FROM j)
    SELECT lag_band,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           ROUND(AVG(lag_s), 2) AS avg_lag_s
    FROM b GROUP BY lag_band ORDER BY lag_band
    """


@q("click_attribution", oracle=_ATTRIBUTION_SQL)
def click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-click purchase attribution over a 24 h lookback window.

    Each purchase is attributed to the LATEST click by the same user in
    ``(purchase_ts - 24h, purchase_ts]`` and reported by lag band. The
    pair expansion is `streaming/joins.interval_join_batch` — the exact
    batch twin of the watermarked stream-stream interval join
    (`interval_join_stream`), so this oracle also pins the streaming
    join's semantics (stream==batch is asserted in test_streaming).

    Scale shape: the join is an equi-join on ``user_id`` with a residual
    time-range filter (never a cartesian); pair multiplicity is bounded
    by clicks-per-user-per-day; attribution reduces with ONE ``max``
    partial agg on the purchase id; the band rollup is a 4-group agg.
    """
    from osmgraft.streaming.joins import interval_join_batch

    e = t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "event_type")
    pairs = interval_join_batch(e, lag=f"{_ATTR_LAG_H} hours")
    purchases = e.where(F.col("event_type") == "purchase").select(
        "event_id", F.col("ts").alias("purchase_ts")
    )
    attributed = (
        purchases.join(
            pairs.groupBy("event_id").agg(F.max("click_ts").alias("cts")),
            "event_id",
            "left",
        )
    )
    lag_s = F.unix_timestamp("purchase_ts") - F.unix_timestamp("cts")
    banded = attributed.select(
        F.when(F.col("cts").isNull(), F.lit("unattributed"))
        .when(lag_s < 3600, F.lit("<1h"))
        .when(lag_s < 21600, F.lit("1-6h"))
        .otherwise(F.lit("6-24h"))
        .alias("lag_band"),
        lag_s.alias("lag_s"),
    )
    return (
        banded.groupBy("lag_band")
        .agg(
            F.count("*").cast("long").alias("n_purchases"),
            F.round(F.avg("lag_s"), 2).alias("avg_lag_s"),
        )
        .orderBy("lag_band")
    )


# ---------------------------------------------------------------------------
# daily volume anomaly detection (z-score over integer power sums)
# ---------------------------------------------------------------------------

_ANOM_Z = 1.5

_ANOMALY_SQL = f"""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY event_type, CAST(date_trunc('day', ts) AS DATE)),
    stats AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(n) AS BIGINT) AS s1,
             CAST(SUM(n * n) AS BIGINT) AS s2
      FROM daily GROUP BY event_type),
    z AS (
      SELECT d.event_type, d.day, d.n,
             s1 / CAST(n_days AS DOUBLE) AS mean_n,
             SQRT((s2 - s1 * (s1 / CAST(n_days AS DOUBLE)))
                  / CAST(n_days - 1 AS DOUBLE)) AS sd_n
      FROM daily d JOIN stats USING (event_type)
      WHERE n_days > 1)
    SELECT event_type, day, n,
           ROUND(mean_n, 4) AS mean_n,
           ROUND(sd_n, 4) AS sd_n,
           ROUND((n - mean_n) / sd_n, 4) AS z
    FROM z
    WHERE sd_n > 0 AND ABS((n - mean_n) / sd_n) >= {_ANOM_Z}
    ORDER BY event_type, day
    """


@q("daily_anomalies", oracle=_ANOMALY_SQL)
def daily_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event-volume anomaly detection (|z| >= 1.5 days per type) —
    the pipeline-monitoring primitive every ingest dashboard runs.

    Variance comes from exact INTEGER power sums (count, sum n, sum n²)
    with a single final division/sqrt — daily counts are integers, so
    both engines compute the statistics from identical exact sums and
    there is no float-accumulation-order exposure (the same discipline
    as the media-feature std; stddev_samp aggregates would sum doubles
    in engine-specific order).

    Scale shape: the daily rollup is one two-key partial agg; the stats
    pass aggregates the (types × days)-sized rollup — tiny — and joins
    back broadcast-sized; the z filter is a scan of the rollup. Nothing
    touches raw events twice.
    """
    e = t(spark, sf_dir, "events").select("event_type", "ts")
    daily = e.groupBy(
        "event_type", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(F.count("*").cast("long").alias("n"))
    stats = daily.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum("n").cast("long").alias("s1"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("s2"),
    )
    mean = F.col("s1") / F.col("n_days").cast("double")
    sd = F.sqrt(
        (F.col("s2") - F.col("s1") * mean) / (F.col("n_days") - 1).cast("double")
    )
    z = (F.col("n") - mean) / sd
    return (
        daily.join(F.broadcast(stats.where(F.col("n_days") > 1)), "event_type")
        .withColumn("mean_raw", mean)
        .withColumn("sd_raw", sd)
        .where((F.col("sd_raw") > 0) & (F.abs(z) >= _ANOM_Z))
        .select(
            "event_type",
            "day",
            "n",
            F.round("mean_raw", 4).alias("mean_n"),
            F.round("sd_raw", 4).alias("sd_n"),
            F.round(z, 4).alias("z"),
        )
        .orderBy("event_type", "day")
    )


# ---------------------------------------------------------------------------
# 7-day rolling daily totals (RANGE-frame window)
# ---------------------------------------------------------------------------

_ROLLING_SQL = """
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n,
             ROUND(SUM(value), 4) AS v
      FROM events GROUP BY CAST(date_trunc('day', ts) AS DATE))
    SELECT day, n,
           CAST(SUM(n) OVER w AS BIGINT) AS n_7d,
           ROUND(AVG(n) OVER w, 4) AS avg_n_7d,
           ROUND(SUM(v) OVER w, 4) AS v_7d,
           CAST(COUNT(*) OVER w AS BIGINT) AS days_in_window
    FROM daily
    WINDOW w AS (ORDER BY day
                 RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
    ORDER BY day
    """


@q("rolling_daily_totals", oracle=_ROLLING_SQL)
def rolling_daily_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day rolling totals over daily event volume — the
    RANGE-frame window (value-based frame on event-time, robust to
    missing days, unlike a ROWS frame which silently widens its span
    across gaps).

    Scale shape: the window runs over the DAILY ROLLUP (|days| rows, one
    partial agg over raw events first), not over raw events — the
    rolling pass is bounded by the calendar, so the global sort is a
    few-hundred-row operation at any corpus size. ``days_in_window``
    exposes the warm-up edge (< 7 early days) instead of hiding it.
    """
    e = t(spark, sf_dir, "events").select("ts", "value")
    daily = e.groupBy(
        F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.sum("value"), 4).alias("v"),
    )
    w = (
        Window.orderBy(F.unix_date(F.col("day")))
        .rangeBetween(-6, 0)
    )
    return (
        daily.select(
            "day",
            "n",
            F.sum("n").over(w).cast("long").alias("n_7d"),
            F.round(F.avg("n").over(w), 4).alias("avg_n_7d"),
            F.round(F.sum("v").over(w), 4).alias("v_7d"),
            F.count("*").over(w).cast("long").alias("days_in_window"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# weekly cohort retention matrix
# ---------------------------------------------------------------------------

_COHORT_SQL = """
    WITH f AS (
      SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cw
      FROM events GROUP BY user_id),
    a AS (
      SELECT e.user_id, f.cw,
             date_diff('day', f.cw, CAST(date_trunc('week', e.ts) AS DATE))
               // 7 AS wk
      FROM events e JOIN f ON e.user_id = f.user_id),
    m AS (
      SELECT cw, wk, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active
      FROM a GROUP BY cw, wk),
    cs AS (SELECT cw, CAST(COUNT(*) AS BIGINT) AS cohort_size
           FROM f GROUP BY cw)
    SELECT m.cw AS cohort_week, CAST(m.wk AS BIGINT) AS week_offset,
           n_active, cohort_size,
           ROUND(n_active / CAST(cohort_size AS DOUBLE), 4) AS retention_pct
    FROM m JOIN cs ON m.cw = cs.cw
    ORDER BY cohort_week, week_offset
    """


@q("cohort_retention", oracle=_COHORT_SQL)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix (signup-week × week-offset active
    users) — the clickstream product-analytics classic.

    A user's cohort is the Monday-truncated week of their FIRST event;
    each (cohort, offset) cell counts distinct users active that many
    weeks later, with retention as a share of the cohort.

    Scale shape: first-week derivation is one user-keyed partial agg;
    the join back is user-keyed (same partitioning — one Exchange pair);
    the matrix is a two-key partial agg with a distinct-count expansion;
    the cohort-size join is a broadcast (|weeks| rows). Nothing scans
    events twice beyond the two keyed aggs.
    """
    e = t(spark, sf_dir, "events").select("user_id", "ts")
    f = e.groupBy("user_id").agg(
        F.to_date(F.date_trunc("week", F.min("ts"))).alias("cw")
    )
    a = e.join(f, "user_id").select(
        "user_id",
        "cw",
        F.expr("datediff(cast(date_trunc('week', ts) as date), cw) div 7")
        .alias("wk"),
    )
    m = a.groupBy("cw", "wk").agg(
        F.countDistinct("user_id").cast("long").alias("n_active")
    )
    cs = f.groupBy("cw").agg(F.count("*").cast("long").alias("cohort_size"))
    return (
        m.join(F.broadcast(cs), "cw")
        .select(
            F.col("cw").alias("cohort_week"),
            F.col("wk").cast("long").alias("week_offset"),
            "n_active",
            "cohort_size",
            F.round(
                F.col("n_active") / F.col("cohort_size").cast("double"), 4
            ).alias("retention_pct"),
        )
        .orderBy("cohort_week", "week_offset")
    )


# ---------------------------------------------------------------------------
# count-min sketch heavy hitters (fully SQL-expressible hashes)
# ---------------------------------------------------------------------------

_CMS_P = 1000003  # prime modulus for the 2-universal hash family
_CMS_W = 64  # buckets per row
_CMS_HASHES = ((131, 7), (1031, 101), (8191, 23))  # (a, b) per row
_CMS_TOP = 20

_CMS_SQL = f"""
    WITH u AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_count
      FROM events GROUP BY user_id),
    prs AS (
      SELECT h.r, ((e.user_id * h.a + h.b) % {_CMS_P}) % {_CMS_W} AS bkt
      FROM events e, (VALUES {", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(_CMS_HASHES))})
           AS h(r, a, b)),
    counters AS (
      SELECT r, bkt, CAST(COUNT(*) AS BIGINT) AS c
      FROM prs GROUP BY r, bkt),
    est AS (
      SELECT u.user_id, u.exact_count,
             LEAST({", ".join(f"c{i}.c" for i in range(len(_CMS_HASHES)))}) AS est_count
      FROM u
      {" ".join(
        f"JOIN counters c{i} ON c{i}.r = {i} AND "
        f"c{i}.bkt = ((u.user_id * {a} + {b}) % {_CMS_P}) % {_CMS_W}"
        for i, (a, b) in enumerate(_CMS_HASHES))}
      )
    SELECT CAST(user_id AS BIGINT) AS user_id, est_count, exact_count,
           est_count - exact_count AS overestimate
    FROM est ORDER BY est_count DESC, user_id LIMIT {_CMS_TOP}
    """


@q("cms_heavy_hitters", oracle=_CMS_SQL)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters with exact-count verification.

    Builds a 3×64 count-min sketch over per-user event counts using a
    2-universal integer hash family (``((a·x + b) mod p) mod w`` — fully
    SQL-expressible, so unlike the DataSketches HLL query this mergeable
    sketch is oracle-paired end to end), estimates every user's count as
    the row-wise minimum, and reports the top-k with the exact count and
    the (provably non-negative) overestimate beside it.

    Scale shape: the sketch build is ONE pass — each event expands to
    d=3 (row, bucket) pairs that partial-agg map-side into a table of at
    most d×w = 192 counters (THE mergeable-rollup property: counters
    from any partitioning of the input sum to the same sketch); the
    estimate phase broadcasts those 192 rows into 3 equi-joins against
    the distinct-key agg; top-k is TakeOrderedAndProject. State is O(d·w)
    regardless of input size — that is the entire point of the sketch.
    """
    e = t(spark, sf_dir, "events").select("user_id")
    uid = F.col("user_id")
    pairs = e.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("r"),
                        (((uid * a + b) % _CMS_P) % _CMS_W).alias("bkt"),
                    )
                    for i, (a, b) in enumerate(_CMS_HASHES)
                ]
            )
        ).alias("s")
    ).select("s.r", "s.bkt")
    counters = pairs.groupBy("r", "bkt").agg(
        F.count("*").cast("long").alias("c")
    )
    users = e.groupBy("user_id").agg(
        F.count("*").cast("long").alias("exact_count")
    )
    for i, (a, b) in enumerate(_CMS_HASHES):
        side = counters.where(F.col("r") == i).select(
            F.col("bkt").alias(f"b{i}"), F.col("c").alias(f"c{i}")
        )
        users = users.join(
            F.broadcast(side),
            ((uid * a + b) % _CMS_P) % _CMS_W == F.col(f"b{i}"),
        ).drop(f"b{i}")
    est = F.least(*[F.col(f"c{i}") for i in range(len(_CMS_HASHES))])
    return (
        users.select(
            uid.cast("long").alias("user_id"),
            est.alias("est_count"),
            "exact_count",
            (est - F.col("exact_count")).alias("overestimate"),
        )
        .orderBy(F.desc("est_count"), "user_id")
        .limit(_CMS_TOP)
    )


# ---------------------------------------------------------------------------
# per-user daily gap fill (date spine + forward fill)
# ---------------------------------------------------------------------------

_GAP_FILL_SQL = """
    WITH daily AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
             ROUND(SUM(value), 4) AS v
      FROM events GROUP BY user_id, CAST(date_trunc('day', ts) AS DATE)),
    bounds AS (
      SELECT user_id, MIN(day) AS d0, MAX(day) AS d1
      FROM daily GROUP BY user_id),
    spine AS (
      SELECT user_id, d0, CAST(UNNEST(generate_series(d0, d1,
             INTERVAL 1 DAY)) AS DATE) AS day
      FROM bounds),
    joined AS (
      SELECT s.user_id, s.day, date_diff('day', s.d0, s.day) AS idx, daily.v
      FROM spine s LEFT JOIN daily
        ON daily.user_id = s.user_id AND daily.day = s.day),
    filled AS (
      SELECT user_id, idx, v,
             last_value(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fv
      FROM joined)
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(COUNT(v) AS BIGINT) AS n_observed,
           CAST(COUNT(*) - COUNT(v) AS BIGINT) AS n_filled,
           ROUND(SUM((idx + 1) * fv), 2) AS fill_checksum
    FROM filled GROUP BY user_id ORDER BY user_id
    """


@q("gap_fill_daily", oracle=_GAP_FILL_SQL)
def gap_fill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily date-spine + forward fill (time-series gap fill).

    Builds each user's complete daily spine from their first to last
    active day (``sequence`` + ``explode`` — no calendar table needed),
    left-joins the observed daily totals, forward-fills gaps with the
    last observed value (``last(..., ignorenulls)`` over an ordered
    running frame), and emits per-user fill accounting plus a
    position-weighted checksum that pins every filled value.

    Scale shape: spine expansion is bounded by each user's active span
    (never a global calendar cross-join); the join and the fill window
    share the ``user_id`` partitioning (the fill sorts only within each
    user's bounded series); the final rollup folds map-side. Daily
    totals snap to 4 dp before filling so both engines fill identical
    floats (BENCH/BASELINE.md float discipline).
    """
    e = t(spark, sf_dir, "events").select("user_id", "ts", "value")
    daily = e.groupBy(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(F.round(F.sum("value"), 4).alias("v"))
    bounds = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = bounds.select(
        "user_id",
        "d0",
        F.explode(
            F.sequence("d0", "d1", F.expr("interval 1 day"))
        ).alias("day"),
    )
    joined = spine.join(daily, ["user_id", "day"], "left").select(
        "user_id", F.datediff("day", "d0").alias("idx"), "v"
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = joined.withColumn("fv", F.last("v", ignorenulls=True).over(wf))
    return (
        filled.groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_days"),
            F.count("v").cast("long").alias("n_observed"),
            (F.count("*") - F.count("v")).cast("long").alias("n_filled"),
            F.round(F.sum((F.col("idx") + 1) * F.col("fv")), 2).alias(
                "fill_checksum"
            ),
        )
        .select(
            F.col("user_id").cast("long").alias("user_id"),
            "n_days", "n_observed", "n_filled", "fill_checksum",
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# degree-oriented triangle counting
# ---------------------------------------------------------------------------

_TRI_N = 61  # prime node-space modulus; sized so the fixture graph is
# genuinely triangle-bearing at every test SF (~500 docs -> edge density
# p≈0.27 -> hundreds of triangles), not a degenerate triangle-free case

_TRIANGLE_SQL = f"""
    WITH raw AS (
      SELECT doc_id % {_TRI_N} AS u,
             ((doc_id // {_TRI_N}) * 2311 + doc_id * 7919 + 13) % {_TRI_N} AS v
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
      SELECT x.dst AS p, y.dst AS q
      FROM o x JOIN o y ON x.src = y.src AND x.dst < y.dst),
    tri AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
      FROM w JOIN e ON e.a = LEAST(w.p, w.q) AND e.b = GREATEST(w.p, w.q))
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
           (SELECT CAST(MAX(d) AS BIGINT) FROM deg) AS max_degree,
           tri.n_triangles
    FROM tri
    """


@q("triangle_count", oracle=_TRIANGLE_SQL)
def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count via degree orientation (the distributed
    graph-mining classic; clustering-coefficient numerator).

    Graph: deterministic doc-derived edges on a 61-node space (the
    in-query stand-in for a host co-citation graph). Every edge is
    oriented from its (degree, id)-smaller endpoint to the larger; wedges
    are enumerated only around each edge's LOW-degree endpoint and closed
    against the undirected edge set.

    Scale shape: this orientation is THE standard bound — per-node wedge
    work is min(deg)², so a celebrity host with 10^6 in-links generates
    no wedges (its edges all point INTO it); total work is
    O(sum min_deg²) = O(E^1.5) worst-case instead of O(sum deg²), which
    a hub-heavy crawl graph makes quadratic. All three steps (degree agg,
    wedge self-join on src, closing equi-join on the canonical edge key)
    are partial-agg/equi-join shuffles on 8-byte keys — no cartesian
    anywhere (plan-audited).
    """
    d = t(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    # the high digit (doc_id div N) must enter the second endpoint:
    # any pure polynomial of doc_id is constant mod N for a fixed
    # doc_id % N, which collapses the graph to a functional (triangle-
    # free) one — both digits together give a well-mixed edge set
    raw = d.select(
        (did % _TRI_N).alias("u"),
        (
            (F.expr(f"doc_id div {_TRI_N}") * 2311 + did * 7919 + 13) % _TRI_N
        ).alias("v"),
    )
    e = (
        raw.where(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
        )
        .distinct()
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
    w = (
        o.alias("x")
        .join(o.alias("y"), "src")
        .where(F.col("x.dst") < F.col("y.dst"))
        .select(F.col("x.dst").alias("p"), F.col("y.dst").alias("q"))
    )
    tri = w.join(
        e,
        (F.col("a") == F.least("p", "q")) & (F.col("b") == F.greatest("p", "q")),
    ).agg(F.count("*").cast("long").alias("n_triangles"))
    summary = (
        e.agg(F.count("*").cast("long").alias("n_edges"))
        .crossJoin(
            deg.agg(
                F.count("*").cast("long").alias("n_nodes"),
                F.max("d").cast("long").alias("max_degree"),
            )
        )
        .crossJoin(tri)
    )
    return summary.select("n_nodes", "n_edges", "max_degree", "n_triangles")


# ---------------------------------------------------------------------------
# weighted PageRank on the supplier co-purchase graph
# ---------------------------------------------------------------------------

_PR_DAMPING = 0.85
_PR_ITERS = 5
_PR_SNAP = 10  # per-iteration rank snap (dp); output rounds to 6

def _pagerank_sql() -> str:
    """5 unrolled weighted-PageRank iterations as CTEs (DuckDB oracle).

    Mirrors the Spark loop op-for-op: identical edge fractions (exact
    integer division), identical per-iteration ROUND snap, so both
    engines carry bit-identical ranks between rounds.
    """
    head = f"""
    WITH os AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
    e0 AS (SELECT a.l_suppkey AS src, b.l_suppkey AS dst,
                  CAST(COUNT(*) AS DOUBLE) AS w
           FROM os a JOIN os b USING (l_orderkey)
           WHERE a.l_suppkey <> b.l_suppkey GROUP BY 1, 2),
    deg AS (SELECT src, SUM(w) AS wsum FROM e0 GROUP BY src),
    e AS (SELECT e0.src, e0.dst, e0.w / deg.wsum AS frac
          FROM e0 JOIN deg USING (src)),
    n AS (SELECT CAST(COUNT(DISTINCT src) AS DOUBLE) AS nn FROM e),
    r0 AS (SELECT src AS node, 1.0e0 / n.nn AS rank
           FROM (SELECT DISTINCT src FROM e), n)"""
    iters = "".join(
        f""",
    r{k + 1} AS (SELECT e.dst AS node,
                 ROUND((1.0e0 - {_PR_DAMPING}e0) / n.nn
                       + {_PR_DAMPING}e0 * SUM(r{k}.rank * e.frac),
                       {_PR_SNAP}) AS rank
           FROM e JOIN r{k} ON e.src = r{k}.node, n GROUP BY e.dst, n.nn)"""
        for k in range(_PR_ITERS)
    )
    return (
        head + iters
        + f"""
    SELECT CAST(node AS BIGINT) AS suppkey, ROUND(rank, 6) AS rank
    FROM r{_PR_ITERS} ORDER BY rank DESC, suppkey
    """
    )


@q("pagerank_cosupply", oracle=_pagerank_sql())
def pagerank_cosupply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the supplier co-purchase graph (damping
    0.85, 5 fixed iterations) — link-graph authority, the web-corpus
    ranking primitive (host graphs at crawl scale).

    Graph: suppliers are nodes; an edge (s1, s2) carries the number of
    orders both supplied; contributions are weight-normalised per source.

    Scale shape: the edge build is a per-order equi-self-join (bounded by
    order width, never table-quadratic) + one partial-agg count; each
    iteration is ONE equi-join on the 8-byte node key + ONE partial agg —
    the identical propagation shape as ``dedup_clusters``'s CC loop, with
    ``cut`` truncating lineage per round so the plan stays
    bounded. Per-iteration ranks snap to 10 dp on both engines (sum order
    across partitions is engine-specific; the snap re-synchronises every
    round — see BENCH/BASELINE.md float discipline).
    """
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    os_ = li.distinct()
    a, b = os_.alias("a"), os_.alias("b")
    e0 = (
        a.join(b, "l_orderkey")
        .where(F.col("a.l_suppkey") != F.col("b.l_suppkey"))
        .groupBy(
            F.col("a.l_suppkey").alias("src"), F.col("b.l_suppkey").alias("dst")
        )
        .agg(F.count("*").cast("double").alias("w"))
    )
    deg = e0.groupBy("src").agg(F.sum("w").alias("wsum"))
    edges = (
        e0.join(deg, "src")
        .select("src", "dst", (F.col("w") / F.col("wsum")).alias("frac"))
        .transform(cut)
    )
    nodes = edges.select(F.col("src").alias("node")).distinct()
    n = nodes.count()  # scalar for the teleport term; one number, any scale
    base = (1.0 - _PR_DAMPING) / float(n)
    ranks = nodes.withColumn("rank", F.lit(1.0 / float(n)))
    for _ in range(_PR_ITERS):
        ranks = (
            edges.join(ranks.withColumnRenamed("node", "src"), "src")
            .groupBy("dst")
            .agg(
                F.round(
                    F.lit(base)
                    + F.lit(_PR_DAMPING) * F.sum(F.col("rank") * F.col("frac")),
                    _PR_SNAP,
                ).alias("rank")
            )
            .withColumnRenamed("dst", "node")
            .transform(cut)
        )
    return ranks.select(
        F.col("node").cast("long").alias("suppkey"),
        F.round("rank", 6).alias("rank"),
    ).orderBy(F.desc("rank"), "suppkey")


# ---------------------------------------------------------------------------
# daily user growth: active / first-seen / cumulative distinct
# ---------------------------------------------------------------------------

_GROWTH_SQL = """
    WITH e AS (SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
               FROM events),
    act AS (SELECT day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS active_users
            FROM e GROUP BY day),
    f AS (SELECT user_id, MIN(day) AS day FROM e GROUP BY user_id),
    nw AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS new_users
           FROM f GROUP BY day)
    SELECT act.day, act.active_users,
           CAST(COALESCE(nw.new_users, 0) AS BIGINT) AS new_users,
           CAST(SUM(COALESCE(nw.new_users, 0))
                OVER (ORDER BY act.day ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cum_users
    FROM act LEFT JOIN nw ON act.day = nw.day
    ORDER BY act.day
    """


@q("user_growth_daily", oracle=_GROWTH_SQL)
def user_growth_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily audience growth: active users per day, first-seen ("new")
    users per day, and the running cumulative distinct-user count — the
    growth-accounting dashboard every event stream reports.

    Cumulative DISTINCT is not a windowable aggregate; the standard
    distributed rewrite is first-touch attribution: cum distinct through
    day D = COUNT of users whose MIN(day) ≤ D, i.e. a running SUM of the
    per-day first-seen counts — exact, no per-day re-scan.

    Scale shape: two user/day-keyed partial aggs over one scan pass each
    (active via the two-phase distinct expansion, first-touch via a
    user-keyed MIN); the join and running sum operate on the POST-AGG
    daily relation (|days| rows), so the ordered window is calendar-
    bounded, never data-bounded.
    """
    e = t(spark, sf_dir, "events").select(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
    )
    act = e.groupBy("day").agg(
        F.countDistinct("user_id").cast("long").alias("active_users")
    )
    f = e.groupBy("user_id").agg(F.min("day").alias("day"))
    nw = f.groupBy("day").agg(F.count("*").cast("long").alias("new_users"))
    j = act.join(nw, "day", "left").select(
        "day",
        "active_users",
        F.coalesce("new_users", F.lit(0)).cast("long").alias("new_users"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return j.select(
        "day",
        "active_users",
        "new_users",
        F.sum("new_users").over(w).cast("long").alias("cum_users"),
    ).orderBy("day")


# ---------------------------------------------------------------------------
# domain-blocklist URL filter (suffix match rewritten as an equi-join)
# ---------------------------------------------------------------------------

_BL_RULES = ("example-2.co.uk", "example-5.co.uk", "sub1.example-3.co.uk")

_BLOCKLIST_SQL = f"""
    WITH pages AS (
      SELECT doc_id, lang,
             CASE WHEN doc_id % 2 = 0
                  THEN 'sub' || CAST(doc_id % 3 AS VARCHAR) || '.' ELSE '' END
             || 'example-' || CAST(doc_id % 7 AS VARCHAR) || '.co.uk' AS host
      FROM documents),
    bl(rule) AS (VALUES {", ".join(f"('{r}')" for r in _BL_RULES)}),
    sfx AS (
      SELECT doc_id, host,
             unnest(list_transform(
               range(1, len(string_split(host, '.')) + 1),
               i -> array_to_string(
                      list_slice(string_split(host, '.'), i, 99), '.')))
               AS suffix
      FROM pages),
    hits AS (SELECT s.doc_id, MIN(b.rule) AS rule
             FROM sfx s JOIN bl b ON s.suffix = b.rule GROUP BY s.doc_id),
    lab AS (SELECT p.host, COALESCE(h.rule, 'ALLOWED') AS rule
            FROM pages p LEFT JOIN hits h ON p.doc_id = h.doc_id),
    agg AS (SELECT rule, CAST(COUNT(*) AS BIGINT) AS n_pages,
                   CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts
            FROM lab GROUP BY rule)
    SELECT rule, n_pages, n_hosts,
           ROUND(n_pages / CAST(SUM(n_pages) OVER () AS DOUBLE), 6) AS pct
    FROM agg ORDER BY rule
    """


@q("blocklist_filter_stats", oracle=_BLOCKLIST_SQL)
def blocklist_filter_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-blocklist filtering (the UT1/URL-filterlist crawl-hygiene
    stage): a host is blocked when it equals a listed domain OR sits under
    one (label-boundary suffix match — `sub0.example-2.co.uk` matches rule
    `example-2.co.uk`, but `notexample-2.co.uk` does not).

    The naive form is a LIKE theta-join (host LIKE '%.'||rule) — a
    nested-loop at 10^12 pages. The scalable rewrite expands each host
    into its label-suffix chain (≤ |labels| rows, bounded by hostname
    syntax) and EQUI-joins the broadcast blocklist, then keeps the
    most-specific match per page. Suffix expansion is an in-row
    higher-order transform (no UDF).

    Scale shape: one broadcast equi-join on the exploded suffixes (fanout
    ≤ ~6 per page), one page-keyed partial agg to dedup multi-rule hits,
    one rule-keyed rollup; the pct window runs over the post-agg rule
    relation (|rules|+1 rows). The blocklist (even UT1's ~4M domains)
    broadcasts.
    """
    did = F.col("doc_id")
    host = F.concat(
        F.when(
            did % 2 == 0,
            F.concat(F.lit("sub"), (did % 3).cast("string"), F.lit(".")),
        ).otherwise(""),
        F.lit("example-"),
        (did % 7).cast("string"),
        F.lit(".co.uk"),
    )
    pages = t(spark, sf_dir, "documents").select("doc_id", host.alias("host"))
    sfx = pages.select(
        "doc_id",
        "host",
        F.explode(
            F.expr(
                "transform(sequence(1, size(split(host, '[.]')),"
                " 1), i -> concat_ws('.', slice(split(host, '[.]'), i, 99)))"
            )
        ).alias("suffix"),
    )
    # rules as a pure-SQL relation (VALUES-shape, no driver py4j transfer);
    # a real UT1-size list reads from parquet — either way the small side
    # of the broadcast join below
    bl = (
        sfx.sparkSession.range(1)
        .select(
            F.explode(F.array(*[F.lit(r) for r in _BL_RULES])).alias("rule")
        )
    )
    # LEFT-broadcast-join the suffix relation and fold to one label per
    # page in the SAME doc-keyed agg (ALLOWED = no suffix hit) — no
    # join-back to pages, one fewer shuffle
    lab = (
        sfx.join(F.broadcast(bl), F.col("suffix") == F.col("rule"), "left")
        .groupBy("doc_id")
        .agg(
            F.min("host").alias("host"),
            F.coalesce(F.min("rule"), F.lit("ALLOWED")).alias("rule"),
        )
    )
    agg = lab.groupBy("rule").agg(
        F.count("*").cast("long").alias("n_pages"),
        F.countDistinct("host").cast("long").alias("n_hosts"),
    )
    w = Window.partitionBy()
    return agg.select(
        "rule",
        "n_pages",
        "n_hosts",
        F.round(
            F.col("n_pages") / F.sum("n_pages").over(w).cast("double"), 6
        ).alias("pct"),
    ).orderBy("rule")


# ---------------------------------------------------------------------------
# mergeable equi-width histogram quantile sketch
# ---------------------------------------------------------------------------

_HQ_B = 32  # histogram bins per group


def _hq_sql() -> str:
    """Oracle mirrors the sketch arithmetic expression-for-expression
    (e-notation literals — the DuckDB decimal trap; ceil→BIGINT on both
    engines; ROWS==RANGE cum-sum safe because post-agg bins are unique)."""
    est = []
    for name, qf in (("p50", "5.0e-1"), ("p90", "9.0e-1"), ("p99", "9.9e-1")):
        r = f"CAST(ceil({qf} * n) AS BIGINT)"
        est.append(
            f"ROUND(MAX(CASE WHEN cum >= {r} AND cum - c < {r} THEN "
            f"lo + (bin + ({r} - (cum - c)) / CAST(c AS DOUBLE)) * width "
            f"END), 6) AS {name}_est"
        )
    return f"""
    WITH rng AS (SELECT event_type, MIN(value) AS lo, MAX(value) AS hi,
                        CAST(COUNT(*) AS BIGINT) AS n
                 FROM events GROUP BY event_type),
    b AS (SELECT e.event_type,
                 LEAST(CAST(floor((e.value - r.lo) * {_HQ_B}.0e0
                                  / (r.hi - r.lo)) AS INTEGER),
                       {_HQ_B - 1}) AS bin
          FROM events e JOIN rng r ON e.event_type = r.event_type),
    h AS (SELECT event_type, bin, CAST(COUNT(*) AS BIGINT) AS c
          FROM b GROUP BY event_type, bin),
    cum AS (SELECT event_type, bin, c,
                   SUM(c) OVER (PARTITION BY event_type ORDER BY bin) AS cum
            FROM h),
    x AS (SELECT c.event_type, c.bin, c.c, c.cum, r.lo, r.n,
                 (r.hi - r.lo) / {_HQ_B}.0e0 AS width
          FROM cum c JOIN rng r ON c.event_type = r.event_type)
    SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
           {", ".join(est)}
    FROM x GROUP BY event_type ORDER BY event_type
    """


@q("hist_quantile_sketch", oracle=_hq_sql())
def hist_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable equi-width-histogram quantile sketch — the third
    mergeable-summary primitive beside HLL (`distinct_users_sketch`) and
    count-min (`cms_heavy_hitters`): per event_type, bin every value into
    B=32 equi-width bins over the group's [min, max], then read p50/p90/
    p99 off the cumulative histogram with within-bin linear interpolation
    (rank target r = ceil(q·n); the estimate is provably within one bin
    width of the exact order statistic — pytest-pinned against the exact
    `percentile`).

    Mergeability is the point: bin counts from ANY partitioning of the
    input SUM to the same sketch (pytest proves half+half == full), so at
    10^12 rows the sketch builds map-side in one pass and the driver never
    sees raw values — unlike exact percentile, which must shuffle every
    value to its group. Contrast `value_percentiles` (the exact baseline)
    and Spark's built-in approx_percentile (same idea, engine-opaque —
    this one is oracle-paired end to end because the arithmetic is plain
    SQL on both engines).

    Scale shape: one min/max/count partial agg (broadcast back, ~|groups|
    rows), one (group, bin) partial agg — ≤ |groups|·B counters regardless
    of input size; the cum-sum window and quantile read run over that
    post-agg relation only. No full sort, no single-partition stage.
    """
    ev = t(spark, sf_dir, "events").select("event_type", "value")
    rng = ev.groupBy("event_type").agg(
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
        F.count("*").cast("long").alias("n"),
    )
    j = ev.join(F.broadcast(rng), "event_type")
    binc = F.least(
        F.floor(
            (F.col("value") - F.col("lo"))
            * float(_HQ_B)
            / (F.col("hi") - F.col("lo"))
        ).cast("int"),
        F.lit(_HQ_B - 1),
    )
    h = (
        j.select("event_type", binc.alias("bin"))
        .groupBy("event_type", "bin")
        .agg(F.count("*").cast("long").alias("c"))
    )
    w = Window.partitionBy("event_type").orderBy("bin")
    x = (
        h.select("event_type", "bin", "c", F.sum("c").over(w).alias("cum"))
        .join(F.broadcast(rng), "event_type")
        .withColumn("width", (F.col("hi") - F.col("lo")) / float(_HQ_B))
    )
    ests = []
    for name, qf in (("p50", 0.5), ("p90", 0.9), ("p99", 0.99)):
        r = F.ceil(F.lit(qf) * F.col("n")).cast("long")
        est = F.when(
            (F.col("cum") >= r) & (F.col("cum") - F.col("c") < r),
            F.col("lo")
            + (
                F.col("bin")
                + (r - (F.col("cum") - F.col("c"))) / F.col("c").cast("double")
            )
            * F.col("width"),
        )
        ests.append(F.round(F.max(est), 6).alias(f"{name}_est"))
    return (
        x.groupBy("event_type")
        .agg(F.max("n").cast("long").alias("n"), *ests)
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# politeness-constrained crawl schedule timeline
# ---------------------------------------------------------------------------

_CRAWL_SCHED_SQL = """
    WITH pages AS (
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 0
                  THEN 'sub' || CAST(doc_id % 3 AS VARCHAR) || '.' ELSE '' END
             || 'example-' || CAST(doc_id % 7 AS VARCHAR) || '.co.uk' AS host
      FROM documents),
    sched AS (
      SELECT host, 1 + (length(host) % 3) AS delay_s,
             (ROW_NUMBER() OVER (PARTITION BY host ORDER BY doc_id) - 1)
               * (1 + (length(host) % 3)) AS start_s
      FROM pages),
    b AS (SELECT CAST(start_s // 10 AS BIGINT) AS slot_10s, host,
                 start_s + delay_s AS end_s
          FROM sched)
    SELECT slot_10s, CAST(COUNT(*) AS BIGINT) AS n_fetches,
           CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts_active,
           CAST(MAX(end_s) AS BIGINT) AS makespan_s
    FROM b GROUP BY slot_10s ORDER BY slot_10s
    """


@q("crawl_schedule_timeline", oracle=_CRAWL_SCHED_SQL)
def crawl_schedule_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness-constrained crawl scheduling: each host's pages fetch
    STRICTLY serially with a per-host crawl-delay (robots.txt
    Crawl-delay semantics — the binding constraint of every polite
    crawler), so page i of a host starts at i·delay(host). The timeline
    rolls fetch starts into 10-second buckets: fetch volume, hosts
    active, and the running makespan per bucket — the capacity-planning view
    ("how many fetchers does this frontier need, where are the
    single-host tails").

    Scale shape: the serialization is ONE host-keyed ROW_NUMBER window —
    partitioned by host, so 10^8 hosts parallelize across executors and
    no single-partition stage exists (a host's fetch list is the
    per-partition unit, exactly how a real fetcher shards); the timeline
    is one partial-agg rollup on the minute key. Host fanout is the
    crawl's own skew profile — a mega-host (the crawl-scheduling
    London-hotspot analogue) serializes by DESIGN, and the timeline
    makes that tail visible (its buckets show n_hosts_active == 1).
    """
    did = F.col("doc_id")
    host = F.concat(
        F.when(
            did % 2 == 0,
            F.concat(F.lit("sub"), (did % 3).cast("string"), F.lit(".")),
        ).otherwise(""),
        F.lit("example-"),
        (did % 7).cast("string"),
        F.lit(".co.uk"),
    )
    pages = t(spark, sf_dir, "documents").select("doc_id", host.alias("host"))
    delay = 1 + (F.length("host") % 3)
    w = Window.partitionBy("host").orderBy("doc_id")
    sched = pages.select(
        "host",
        delay.alias("delay_s"),
        ((F.row_number().over(w) - 1) * delay).alias("start_s"),
    )
    return (
        sched.select(
            F.floor(F.col("start_s") / 10).cast("long").alias("slot_10s"),
            "host",
            (F.col("start_s") + F.col("delay_s")).alias("end_s"),
        )
        .groupBy("slot_10s")
        .agg(
            F.count("*").cast("long").alias("n_fetches"),
            F.countDistinct("host").cast("long").alias("n_hosts_active"),
            F.max("end_s").cast("long").alias("makespan_s"),
        )
        .orderBy("slot_10s")
    )


# ---------------------------------------------------------------------------
# BFS crawl frontier (multi-hop reachability by min depth)
# ---------------------------------------------------------------------------

_BFS_SEED_MOD = 97

_FRONTIER_SQL = f"""
    WITH n AS (SELECT COUNT(*) AS nn FROM documents),
    edges AS (
      SELECT doc_id AS src, (doc_id * 2 + 1) % nn AS dst FROM documents, n
      UNION ALL
      SELECT doc_id, (doc_id * 3 + 2) % nn FROM documents, n),
    f0 AS (SELECT doc_id AS node FROM documents
           WHERE doc_id % {_BFS_SEED_MOD} = 0),
    f1 AS (SELECT DISTINCT e.dst AS node FROM f0 JOIN edges e ON e.src = f0.node
           WHERE e.dst NOT IN (SELECT node FROM f0)),
    f2 AS (SELECT DISTINCT e.dst AS node FROM f1 JOIN edges e ON e.src = f1.node
           WHERE e.dst NOT IN (SELECT node FROM f0)
             AND e.dst NOT IN (SELECT node FROM f1)),
    f3 AS (SELECT DISTINCT e.dst AS node FROM f2 JOIN edges e ON e.src = f2.node
           WHERE e.dst NOT IN (SELECT node FROM f0)
             AND e.dst NOT IN (SELECT node FROM f1)
             AND e.dst NOT IN (SELECT node FROM f2)),
    lab AS (
      SELECT 0 AS depth, node FROM f0
      UNION ALL SELECT 1, node FROM f1
      UNION ALL SELECT 2, node FROM f2
      UNION ALL SELECT 3, node FROM f3
      UNION ALL
      SELECT -1, doc_id FROM documents
      WHERE doc_id NOT IN (SELECT node FROM f0)
        AND doc_id NOT IN (SELECT node FROM f1)
        AND doc_id NOT IN (SELECT node FROM f2)
        AND doc_id NOT IN (SELECT node FROM f3))
    SELECT depth, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(node) AS BIGINT) AS min_doc,
           CAST(MAX(node) AS BIGINT) AS max_doc
    FROM lab GROUP BY depth ORDER BY depth
    """


@q("frontier_bfs_depths", oracle=_FRONTIER_SQL)
def frontier_bfs_depths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier BFS: min-hop depth of every page from a seed set
    over a deterministic outlink graph (2 outlinks per page, targets
    `(id·2+1) mod N` and `(id·3+2) mod N`), expanded THREE rounds —
    frontier(d+1) = neighbors(frontier(d)) minus everything already
    discovered — then rolled up per depth with the undiscovered backlog
    as depth -1. This is the scheduler's view of a crawl wave: how much
    NEW surface each round discovers and how much remains.

    Scale shape: each round is one src-keyed equi-join (frontier ⋈
    edges) followed by LEFT-ANTI joins against the discovered set — all
    key-partitioned, no driver-side iteration state beyond the loop
    counter (contrast `dedup_clusters`' label propagation, which loops
    to convergence; a crawl wave is a FIXED small number of rounds by
    design). The discovered set stays a DataFrame throughout; at 10^12
    nodes each round is a shuffle on the node key and the anti-joins
    ride the same partitioning.
    """
    docs = t(spark, sf_dir, "documents").select("doc_id")
    nn = docs.count()
    did = F.col("doc_id")
    edges = docs.select(
        did.alias("src"), ((did * 2 + 1) % nn).alias("dst")
    ).unionAll(docs.select(did, (did * 3 + 2) % nn))
    frontier = docs.where(did % _BFS_SEED_MOD == 0).select(
        did.alias("node")
    )
    seen = frontier
    labelled = frontier.select(F.lit(0).alias("depth"), "node")
    for d in (1, 2, 3):
        frontier = (
            frontier.join(edges, frontier.node == edges.src)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(seen, "node", "left_anti")
        )
        labelled = labelled.unionAll(
            frontier.select(F.lit(d).alias("depth"), "node")
        )
        seen = seen.unionAll(frontier)
    unreached = docs.select(did.alias("node")).join(seen, "node", "left_anti")
    labelled = labelled.unionAll(
        unreached.select(F.lit(-1).alias("depth"), "node")
    )
    return (
        labelled.groupBy("depth")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("node").cast("long").alias("min_doc"),
            F.max("node").cast("long").alias("max_doc"),
        )
        .orderBy("depth")
    )


# ---------------------------------------------------------------------------
# html -> visible-text extraction (boilerplate removal, md5-pinned)
# ---------------------------------------------------------------------------

_HTE_SQL = """
    WITH pages AS (
      SELECT doc_id,
             '<html><head><title>t' || CAST(doc_id AS VARCHAR)
             || '</title><script>var x=' || CAST(doc_id % 7 AS VARCHAR)
             || ';</script></head><body><h1>' || substring(text, 1, 40)
             || '</h1><script>nav()</script><p>' || text
             || CASE WHEN doc_id % 5 = 0
                     THEN ' &amp; 5 &lt;five&gt; &quot;q&#39;' ELSE '' END
             || '</p><!-- c' || CAST(doc_id % 3 AS VARCHAR)
             || ' --><div style="x">footer nav</div></body></html>' AS html
      FROM documents),
    s1 AS (SELECT doc_id, html,
                  regexp_replace(html, '(?s)<head.*?</head>', ' ', 'g') AS s
           FROM pages),
    s2 AS (SELECT doc_id, html,
                  regexp_replace(s, '(?s)<script.*?</script>', ' ', 'g') AS s
           FROM s1),
    s3 AS (SELECT doc_id, html,
                  regexp_replace(s, '(?s)<!--.*?-->', ' ', 'g') AS s
           FROM s2),
    s4 AS (SELECT doc_id, html,
                  len(regexp_extract_all(s, '<[^>]*>')) AS n_tags,
                  regexp_replace(s, '<[^>]*>', ' ', 'g') AS s
           FROM s3),
    s5 AS (SELECT doc_id, html, n_tags,
                  replace(replace(replace(replace(replace(s,
                    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                    '&#39;', CHR(39)), '&amp;', '&') AS s
           FROM s4),
    s6 AS (SELECT doc_id, html, n_tags,
                  trim(regexp_replace(s, '\\s+', ' ', 'g')) AS txt
           FROM s5)
    SELECT doc_id, md5(txt) AS text_md5,
           CAST(length(txt) AS BIGINT) AS n_chars,
           CAST(n_tags AS BIGINT) AS n_tags_stripped,
           ROUND(length(txt) / CAST(length(html) AS DOUBLE), 4)
             AS content_ratio
    FROM s6 ORDER BY doc_id
    """


@q("html_text_extract", oracle=_HTE_SQL)
def html_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML → visible-text extraction (the boilerplate-removal stage every
    Common-Crawl pipeline runs before anything else; the input-hint's
    ``html:binary → text`` step): synthesize a deterministic html payload
    per document (head/title, script blocks, comments, entity escapes,
    boilerplate footer), then extract the visible text entirely JVM-side —
    drop <head>, drop <script> blocks, drop comments, strip tags to
    spaces, decode the 5 core entities, collapse whitespace.

    The output pins the PER-ROW INVARIANT the north rule demands
    (byte-identical extracted text per url): both engines run the same
    extraction and emit ``md5(text)`` — a single differing byte in any
    row fails the parity gate. Alongside: extracted length, tags
    stripped, and content ratio (visible/raw bytes — the boilerplate-
    density quality signal CCNet-style filters threshold on).

    Scale shape: pure per-row regexp_replace chain — no UDF, no shuffle,
    no state; whole-stage-codegen over the html bytes. The regexes are
    deliberately RE2∩Java-portable ((?s) non-greedy blocks, '<[^>]*>'),
    so the oracle replays extraction byte-for-byte.
    """
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    did = F.col("doc_id")
    html_str = F.concat(
        F.lit("<html><head><title>t"),
        did.cast("string"),
        F.lit("</title><script>var x="),
        (did % 7).cast("string"),
        F.lit(";</script></head><body><h1>"),
        F.substring("text", 1, 40),
        F.lit("</h1><script>nav()</script><p>"),
        F.col("text"),
        F.when(did % 5 == 0, F.lit(" &amp; 5 &lt;five&gt; &quot;q&#39;")).otherwise(""),
        F.lit("</p><!-- c"),
        (did % 3).cast("string"),
        F.lit(' --><div style="x">footer nav</div></body></html>'),
    )
    # carry the hint's binary column shape: encode → binary, decode at use
    pages = d.select("doc_id", F.encode(html_str, "utf-8").alias("html"))
    s = F.decode("html", "utf-8")
    s = F.regexp_replace(s, r"(?s)<head.*?</head>", " ")
    s = F.regexp_replace(s, r"(?s)<script.*?</script>", " ")
    s = F.regexp_replace(s, r"(?s)<!--.*?-->", " ")
    n_tags = F.size(F.regexp_extract_all(s, F.lit(r"<[^>]*>"), 0))
    s = F.regexp_replace(s, r"<[^>]*>", " ")
    for ent, ch in (
        ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
        ("&#39;", "'"), ("&amp;", "&"),
    ):
        s = F.replace(s, F.lit(ent), F.lit(ch))
    txt = F.trim(F.regexp_replace(s, r"\s+", " "))
    # evaluate the regex chain ONCE: CollapseProject would inline a plain
    # alias into every downstream reference (md5, length, ratio → 3×
    # recompute of the whole chain); explode(array(struct(...))) plants a
    # Generate operator, whose output attribute downstream projections
    # reference without inlining
    ex = pages.select(
        "doc_id",
        F.length(F.decode("html", "utf-8")).alias("html_chars"),
        F.explode(
            F.array(
                F.struct(
                    txt.alias("txt"), n_tags.cast("long").alias("n_tags")
                )
            )
        ).alias("i"),
    )
    return (
        ex.select(
            "doc_id",
            F.md5(F.encode("i.txt", "utf-8")).alias("text_md5"),
            F.length("i.txt").cast("long").alias("n_chars"),
            F.col("i.n_tags").alias("n_tags_stripped"),
            F.round(
                F.length("i.txt") / F.col("html_chars").cast("double"), 4
            ).alias("content_ratio"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# robots.txt allow/disallow audit (longest-prefix-match policy join)
# ---------------------------------------------------------------------------

# (host_mod, rule_path, allow) — per-host rule sets; longest matching rule
# wins, allow wins prefix-length ties (the Google REP tiebreak)
_ROBOTS_RULES = (
    (0, "/", 0),
    (0, "/p/", 1),
    (1, "/p/1", 0),
    (2, "/", 0),
    (2, "/p/2", 1),
    (2, "/p/22", 0),
    (4, "/private/", 0),
    (5, "/p/", 0),
    (5, "/p/3", 1),
)


def _robots_sql() -> str:
    rules = ", ".join(f"({h}, '{p}', {a})" for h, p, a in _ROBOTS_RULES)
    return f"""
    WITH pages AS (
      SELECT doc_id, doc_id % 7 AS host_mod,
             CASE WHEN doc_id % 11 = 0 THEN '/private/' ELSE '/p/' END
             || CAST(doc_id % 40 AS VARCHAR) AS path
      FROM documents),
    rules(host_mod, rule_path, allow) AS (VALUES {rules}),
    hits AS (
      SELECT p.doc_id, r.rule_path, r.allow,
             ROW_NUMBER() OVER (
               PARTITION BY p.doc_id
               ORDER BY length(r.rule_path) DESC, r.allow DESC) AS rn
      FROM pages p JOIN rules r
        ON p.host_mod = r.host_mod
       AND substring(p.path, 1, length(r.rule_path)) = r.rule_path),
    lab AS (
      SELECT p.host_mod,
             CASE WHEN h.allow IS NULL THEN 'ALLOW (no rule)'
                  WHEN h.allow = 1 THEN 'ALLOW ' || h.rule_path
                  ELSE 'DISALLOW ' || h.rule_path END AS verdict
      FROM pages p LEFT JOIN (SELECT * FROM hits WHERE rn = 1) h
        ON p.doc_id = h.doc_id)
    SELECT CAST(host_mod AS BIGINT) AS host_mod, verdict,
           CAST(COUNT(*) AS BIGINT) AS n_pages
    FROM lab GROUP BY host_mod, verdict ORDER BY host_mod, verdict
    """


@q("robots_allow_audit", oracle=_robots_sql())
def robots_allow_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt Robots-Exclusion-Protocol evaluation over the frontier:
    each page's path is checked against its host's Allow/Disallow rule
    set with the REP winning-rule semantics — the LONGEST matching rule
    path wins, Allow wins length ties. Output: per (host, winning rule)
    page counts — the pre-fetch policy audit every polite crawler runs.

    The naive evaluation is per-URL sequential rule scanning (the
    reference-shaped per-row loop); the scalable rewrite joins pages to
    the broadcast per-host rule table on host + prefix condition, then
    picks the winner with ONE page-keyed ROW_NUMBER window (ORDER BY
    rule length DESC, allow DESC — the REP tiebreak as a sort key).
    Prefix matching uses substring equality, not LIKE, so the planner
    keeps the join equi on host with a residual filter.

    Scale shape: rules broadcast (real-world robots sets are small per
    host, and even a 10^8-rule global table is a broadcast-able dim
    after per-host bucketing); the window is page-keyed (matched rules
    per page ≤ |host rules|); one final rollup shuffle on (host,
    verdict). No UDF, no driver loop.
    """
    d = t(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    pages = d.select(
        "doc_id",
        (did % 7).alias("host_mod"),
        F.concat(
            F.when(did % 11 == 0, F.lit("/private/")).otherwise(F.lit("/p/")),
            (did % 40).cast("string"),
        ).alias("path"),
    )
    rules = pages.sparkSession.createDataFrame(
        list(_ROBOTS_RULES), "host_mod long, rule_path string, allow int"
    )
    hits = pages.join(
        F.broadcast(rules),
        (pages.host_mod == rules.host_mod)
        & (
            F.col("path").substr(F.lit(1), F.length("rule_path"))
            == F.col("rule_path")
        ),
    ).select("doc_id", "rule_path", "allow")
    w = Window.partitionBy("doc_id").orderBy(
        F.length("rule_path").desc(), F.desc("allow")
    )
    win = hits.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    lab = pages.join(win, "doc_id", "left").select(
        "host_mod",
        F.when(F.col("allow").isNull(), F.lit("ALLOW (no rule)"))
        .when(F.col("allow") == 1, F.concat(F.lit("ALLOW "), F.col("rule_path")))
        .otherwise(F.concat(F.lit("DISALLOW "), F.col("rule_path")))
        .alias("verdict"),
    )
    return (
        lab.groupBy("host_mod", "verdict")
        .agg(F.count("*").cast("long").alias("n_pages"))
        .orderBy("host_mod", "verdict")
    )


# ---------------------------------------------------------------------------
# EWMA smoothing over the per-type daily series
# ---------------------------------------------------------------------------

_EWMA_SQL = """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             ROUND(SUM(value), 6) AS x
      FROM events GROUP BY event_type, day),
    g AS (SELECT event_type,
                 list_transform(list_sort(list_zip(
                     array_agg(day), array_agg(x))), p -> p[1]) AS days,
                 list_transform(list_sort(list_zip(
                     array_agg(day), array_agg(x))), p -> p[2]) AS xs
          FROM daily GROUP BY event_type),
    e AS (SELECT event_type, days, xs,
                 list_transform(range(1, len(xs) + 1), k ->
                   list_reduce(list_slice(xs, 1, k),
                     (acc, x) -> 3.0e-1 * x + 7.0e-1 * acc)) AS ew
          FROM g)
    SELECT event_type, UNNEST(days) AS day,
           UNNEST(xs) AS daily_sum,
           ROUND(UNNEST(ew), 6) AS ewma
    FROM e ORDER BY event_type, day
    """


@q("ewma_daily_values", oracle=_EWMA_SQL)
def ewma_daily_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average over each event type's daily
    value series (α = 0.3, the monitoring-dashboard smoother): EWMA is a
    RECURSIVE definition (ewma_t = α·x_t + (1-α)·ewma_{t-1}) that SQL
    windows cannot express directly — the scalable rewrite collects each
    key's bounded day series in-row (time is the bounded dimension; keys
    are the unbounded one) and runs the recursion as an array left-fold:
    Spark `aggregate(slice(xs,2,k-1), xs[1], …)` ≡ DuckDB
    `list_reduce(list_slice(xs,1,k), …)` — identical fold order, so the
    recursion is oracle-paired bit-for-bit after input rounding.

    Daily sums are rounded BEFORE the fold: raw float SUM order differs
    between engines (and between Spark partitionings), and the recursion
    would amplify a last-ulp divergence; folding the 6-dp-snapped series
    makes the whole recursion deterministic.

    Scale shape: one (type, day) partial-agg shuffle, one per-type
    collect of a BOUNDED array (days, not rows — ~365 elements/key/year),
    the O(n²) prefix-fold runs in-row (n ≤ days, so ≤ ~133k mults/key/
    year) and parallelism is the key count. No window over raw rows, no
    driver iteration.
    """
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.round(F.sum("value"), 6).alias("x"))
    g = daily.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("day", "x"))).alias("s")
    )
    xs = F.transform(F.col("s"), lambda r: r.x)
    days = F.transform(F.col("s"), lambda r: r.day)
    ew = F.transform(
        F.sequence(F.lit(1), F.size(xs)),
        lambda k: F.aggregate(
            F.slice(xs, F.lit(2), k - 1),
            F.element_at(xs, 1),
            lambda acc, x: F.lit(0.3) * x + F.lit(0.7) * acc,
        ),
    )
    return (
        g.select(
            "event_type",
            F.explode(F.arrays_zip(days.alias("day"), xs.alias("daily_sum"),
                                   ew.alias("ewma"))).alias("z"),
        )
        .select(
            "event_type",
            F.col("z.day").alias("day"),
            F.col("z.daily_sum").alias("daily_sum"),
            F.round("z.ewma", 6).alias("ewma"),
        )
        .orderBy("event_type", "day")
    )


# ---------------------------------------------------------------------------
# bot detection: inter-event gap regularity (coefficient of variation)
# ---------------------------------------------------------------------------

_BOT_MIN_EVENTS = 8
_BOT_TOP = 25

_BOT_SQL = f"""
    WITH e AS (
      SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec, event_id
      FROM events),
    g AS (
      SELECT user_id,
             sec - LAG(sec) OVER (PARTITION BY user_id
                                  ORDER BY sec, event_id) AS gap
      FROM e),
    s AS (
      SELECT user_id, CAST(COUNT(gap) AS BIGINT) AS n_gaps,
             CAST(SUM(gap) AS BIGINT) AS sum_g,
             CAST(SUM(gap * gap) AS BIGINT) AS sum_g2
      FROM g WHERE gap IS NOT NULL GROUP BY user_id
      HAVING COUNT(gap) >= {_BOT_MIN_EVENTS}),
    m AS (
      SELECT user_id, n_gaps,
             sum_g / CAST(n_gaps AS DOUBLE) AS mean_gap,
             (sum_g2 - sum_g * (sum_g / CAST(n_gaps AS DOUBLE)))
               / CAST(n_gaps AS DOUBLE) AS var_gap
      FROM s WHERE sum_g > 0)
    SELECT user_id, n_gaps, ROUND(mean_gap, 4) AS mean_gap_s,
           ROUND(SQRT(GREATEST(var_gap, 0.0e0)) / mean_gap, 6) AS gap_cv
    FROM m
    ORDER BY ROUND(SQRT(GREATEST(var_gap, 0.0e0)) / mean_gap, 6), user_id
    LIMIT {_BOT_TOP}
    """


@q("bot_regularity_profile", oracle=_BOT_SQL)
def bot_regularity_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot-traffic candidates by inter-event timing regularity: real
    humans produce bursty gaps (coefficient of variation ≈ 1 for
    Poisson-ish arrivals); schedulers and scrapers tick (cv → 0). Per
    user: consecutive-event gaps, then the gap cv from EXACT integer
    power sums — gaps are whole seconds (BIGINT), so SUM(g) and SUM(g²)
    aggregate without float-order noise (the `daily_anomalies` trick) and
    variance = (Σg² − (Σg)²/n)/n only becomes a double at the final
    division. The 25 most-regular users with ≥ 8 gaps surface for review.

    Scale shape: ONE user-keyed shuffle serves both the LAG window and
    the power-sum agg (same partitioning, no second exchange); the top-k
    is TakeOrderedAndProject. State per user is 3 integers — this is the
    sketch-shaped form of a per-user profile, mergeable across snapshot
    increments by summing the power sums.
    """
    e = t(spark, sf_dir, "events").select(
        "user_id",
        F.unix_timestamp("ts").alias("sec"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    g = e.select(
        "user_id", (F.col("sec") - F.lag("sec").over(w)).alias("gap")
    ).where(F.col("gap").isNotNull())
    s = (
        g.groupBy("user_id")
        .agg(
            F.count("gap").cast("long").alias("n_gaps"),
            F.sum("gap").cast("long").alias("sum_g"),
            F.sum(F.col("gap") * F.col("gap")).cast("long").alias("sum_g2"),
        )
        .where((F.col("n_gaps") >= _BOT_MIN_EVENTS) & (F.col("sum_g") > 0))
    )
    mean = F.col("sum_g") / F.col("n_gaps").cast("double")
    var = (F.col("sum_g2") - F.col("sum_g") * mean) / F.col("n_gaps").cast(
        "double"
    )
    cv = F.round(F.sqrt(F.greatest(var, F.lit(0.0))) / mean, 6)
    return (
        s.select(
            "user_id",
            "n_gaps",
            F.round(mean, 4).alias("mean_gap_s"),
            cv.alias("gap_cv"),
        )
        .orderBy("gap_cv", "user_id")
        .limit(_BOT_TOP)
    )


# ---------------------------------------------------------------------------
# redirect-chain resolution via pointer doubling
# ---------------------------------------------------------------------------

_RD_MOD = 5       # doc_id % 5 == 0 pages are redirects
_RD_ROUNDS = 3    # doubling rounds: resolves chains up to 2^3 = 8 hops

_REDIRECT_SQL = f"""
    WITH RECURSIVE n AS (SELECT COUNT(*) AS nn FROM documents),
    f AS (SELECT doc_id,
                 doc_id % {_RD_MOD} = 0 AS is_rd,
                 (doc_id * 7 + doc_id // 5) % nn AS nxt
          FROM documents, n),
    rd AS (SELECT doc_id, nxt FROM f WHERE is_rd),
    walk(start, cur, hops) AS (
      SELECT doc_id, nxt, 1 FROM rd
      UNION ALL
      SELECT w.start, r.nxt, w.hops + 1
      FROM walk w JOIN rd r ON r.doc_id = w.cur
      WHERE w.hops < {1 << _RD_ROUNDS}),
    res AS (SELECT start, MIN(hops) AS hops
            FROM walk WHERE cur NOT IN (SELECT doc_id FROM rd)
            GROUP BY start),
    lab AS (
      SELECT r.doc_id,
             COALESCE(res.hops, -1) AS hops
      FROM rd r LEFT JOIN res ON res.start = r.doc_id)
    SELECT hops, CAST(COUNT(*) AS BIGINT) AS n_urls
    FROM lab GROUP BY hops ORDER BY hops
    """


@q("redirect_resolution", oracle=_REDIRECT_SQL)
def redirect_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redirect-chain resolution by POINTER DOUBLING: every redirect page
    points at `(id·7 + id//5) mod N`; chains (and cycles) form a functional
    graph (the `id//5` term breaks the affine map's modular structure —
    a plain `a·id+b` step sends the redirect residue class to one fixed
    class, making every chain length 1 or ∞), and each page must resolve
    to its canonical terminal — the
    crawl-normalization step behind `crawl_latest_snapshot`. The naive
    resolver walks one hop per round (O(chain length) shuffles); this one
    SQUARES the pointer each round — after r rounds every pointer has
    advanced 2^r hops — so 3 rounds resolve every chain up to 8 hops and
    anything still pointing at a redirect is flagged -1 (cycle or
    over-length). Output: hops-to-terminal histogram.

    The doubling state is (ptr, hops, done); a round self-joins the state
    on ptr and adds the pointee's hop count — the classic parallel
    pointer-jumping recurrence (log-diameter rounds of key-partitioned
    equi-joins, the same shape `dedup_clusters` uses for components but
    with path-LENGTH accounting, which label propagation doesn't give).
    The oracle walks hop-by-hop with a recursive CTE instead — two
    different algorithms, same answer, which is the point of pairing.

    Scale shape: each round is ONE equi-join keyed by the current
    pointer over ONLY the unresolved rows (resolved rows exit the join
    early); no driver-side iteration state, lineage bounded by the fixed
    round count.
    """
    docs = t(spark, sf_dir, "documents").select("doc_id")
    nn = docs.count()
    did = F.col("doc_id")
    f = docs.select(
        "doc_id",
        (did % _RD_MOD == 0).alias("is_rd"),
        ((did * 7 + F.floor(did / 5).cast("long")) % nn).alias("nxt"),
    )
    rd = f.where("is_rd").select("doc_id", "nxt")
    terminals = f.where(~F.col("is_rd")).select(F.col("doc_id").alias("t_id"))
    # state: start, ptr, hops, done (ptr is terminal)
    state = rd.join(
        terminals, rd.nxt == terminals.t_id, "left"
    ).select(
        F.col("doc_id").alias("start"),
        F.col("nxt").alias("ptr"),
        F.lit(1).alias("hops"),
        F.col("t_id").isNotNull().alias("done"),
    )
    for _ in range(_RD_ROUNDS):
        pointee = state.select(
            F.col("start").alias("p_id"),
            F.col("ptr").alias("p_ptr"),
            F.col("hops").alias("p_hops"),
            F.col("done").alias("p_done"),
        )
        undone = state.where(~F.col("done"))
        jumped = undone.join(
            pointee, undone.ptr == pointee.p_id, "inner"
        ).select(
            "start",
            F.col("p_ptr").alias("ptr"),
            (F.col("hops") + F.col("p_hops")).alias("hops"),
            F.col("p_done").alias("done"),
        )
        # an unresolved pointer aimed at a TERMINAL page (not in the state
        # key set) resolves directly — it has no pointee row to join
        direct = undone.join(
            pointee, undone.ptr == pointee.p_id, "left_anti"
        ).select("start", "ptr", "hops", F.lit(True).alias("done"))
        state = state.where("done").unionAll(jumped).unionAll(direct)
    out = state.select(
        "start", F.when(F.col("done"), F.col("hops")).otherwise(-1).alias("hops")
    )
    return (
        out.groupBy("hops")
        .agg(F.count("*").cast("long").alias("n_urls"))
        .orderBy("hops")
    )


# ---------------------------------------------------------------------------
# anchor-text index (per-target-host top anchor terms)
# ---------------------------------------------------------------------------

_ANCHOR_TOP = 3

_ANCHOR_SQL = f"""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS arr FROM documents
               WHERE len(string_split(text, ' ')) >= 4),
    pages AS (
      SELECT doc_id,
             '<html><body><a href="https://example-'
             || CAST((doc_id + 1) % 7 AS VARCHAR) || '.co.uk/p">'
             || arr[1] || ' ' || arr[2] || '</a>'
             || CASE WHEN doc_id % 3 >= 1 THEN
                  '<a href="https://example-'
                  || CAST((doc_id + 4) % 7 AS VARCHAR) || '.co.uk/q">'
                  || arr[3] || ' ' || arr[4] || '</a>' ELSE '' END
             || '</body></html>' AS html
      FROM d),
    ax AS (
      SELECT regexp_extract_all(html, 'href="https://([^/"]+)', 1) AS hosts,
             regexp_extract_all(html, '">([^<]+)</a>', 1) AS texts
      FROM pages),
    pairs AS (
      SELECT UNNEST(hosts) AS dst_host, UNNEST(texts) AS anchor
      FROM ax),
    terms AS (
      SELECT dst_host, UNNEST(string_split(anchor, ' ')) AS term
      FROM pairs),
    c AS (SELECT dst_host, term, CAST(COUNT(*) AS BIGINT) AS n
          FROM terms GROUP BY dst_host, term),
    r AS (SELECT dst_host, term, n,
                 ROW_NUMBER() OVER (PARTITION BY dst_host
                                    ORDER BY n DESC, term) AS rank
          FROM c)
    SELECT dst_host, term, n, rank
    FROM r WHERE rank <= {_ANCHOR_TOP} ORDER BY dst_host, rank
    """


@q("anchor_text_index", oracle=_ANCHOR_SQL)
def anchor_text_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text index: what the WEB says a page is about — the classic
    off-page ranking signal (anchor terms aggregated per TARGET host,
    not per source page). Synthesizes anchors whose link text comes from
    the linking document's words, extracts (href host, anchor text) with
    two aligned regexp_extract_all passes (both arrays index the same
    anchors in document order — zipped in-row, no join), explodes anchor
    terms, and keeps each target's top-3 terms by count.

    Scale shape: extraction is per-row JVM regex; the term rollup is ONE
    partial-agg shuffle on (dst_host, term); the top-3 cut is a
    host-keyed window over the POST-AGG term relation (bounded by
    per-host vocabulary, hash-partitioned by host — the same
    two-phase-top-k discipline as `tfidf_top_terms`). This is the map
    side of the anchor-text posting list a web-scale ranker builds.
    """
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    arr = F.split("text", " ")
    d = d.where(F.size(arr) >= 4).select(
        "doc_id", arr.alias("arr")
    )
    did = F.col("doc_id")
    html = F.concat(
        F.lit('<html><body><a href="https://example-'),
        ((did + 1) % 7).cast("string"),
        F.lit('.co.uk/p">'),
        F.element_at("arr", 1), F.lit(" "), F.element_at("arr", 2),
        F.lit("</a>"),
        F.when(
            did % 3 >= 1,
            F.concat(
                F.lit('<a href="https://example-'),
                ((did + 4) % 7).cast("string"),
                F.lit('.co.uk/q">'),
                F.element_at("arr", 3), F.lit(" "), F.element_at("arr", 4),
                F.lit("</a>"),
            ),
        ).otherwise(""),
        F.lit("</body></html>"),
    )
    ax = d.select(
        F.regexp_extract_all(html, F.lit(r'href="https://([^/"]+)'), 1).alias("hosts"),
        F.regexp_extract_all(html, F.lit(r'">([^<]+)</a>'), 1).alias("texts"),
    )
    pairs = ax.select(
        F.explode(F.arrays_zip("hosts", "texts")).alias("z")
    ).select(
        F.col("z.hosts").alias("dst_host"), F.col("z.texts").alias("anchor")
    )
    terms = pairs.select(
        "dst_host", F.explode(F.split("anchor", " ")).alias("term")
    )
    c = terms.groupBy("dst_host", "term").agg(
        F.count("*").cast("long").alias("n")
    )
    w = Window.partitionBy("dst_host").orderBy(F.desc("n"), "term")
    return (
        c.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _ANCHOR_TOP)
        .orderBy("dst_host", "rank")
    )


# ---------------------------------------------------------------------------
# KS two-sample drift detection between snapshot halves
# ---------------------------------------------------------------------------

_KS_SPLIT_DAY = 16  # days 1-15 = sample A, 16+ = sample B

_KS_SQL = f"""
    WITH e AS (
      SELECT event_type, value, event_id,
             CASE WHEN dayofmonth(ts) < {_KS_SPLIT_DAY} THEN 1 ELSE 0 END
               AS in_a
      FROM events),
    n AS (SELECT event_type,
                 CAST(SUM(in_a) AS BIGINT) AS n_a,
                 CAST(SUM(1 - in_a) AS BIGINT) AS n_b
          FROM e GROUP BY event_type),
    c AS (SELECT e.event_type,
                 SUM(e.in_a) OVER w / CAST(n.n_a AS DOUBLE)
               - SUM(1 - e.in_a) OVER w / CAST(n.n_b AS DOUBLE) AS diff
          FROM e JOIN n ON e.event_type = n.event_type
          WINDOW w AS (PARTITION BY e.event_type
                       ORDER BY e.value, e.event_id))
    SELECT c.event_type, n.n_a, n.n_b,
           ROUND(MAX(ABS(diff)), 6) AS ks_d
    FROM c JOIN n ON c.event_type = n.event_type
    GROUP BY c.event_type, n.n_a, n.n_b ORDER BY c.event_type
    """


@q("ks_value_drift", oracle=_KS_SQL)
def ks_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift detection: per event type, the
    value distribution of the snapshot's first half (days < 16) against
    its second half — KS D = max |F_A(v) − F_B(v)| over the pooled
    sorted sample. THE distribution-drift gate a production pipeline
    runs between crawl snapshots before retraining on the new data
    (`daily_anomalies` catches volume shifts; this catches SHAPE shifts
    volume metrics miss).

    Exact, not binned: both empirical CDFs are running window sums over
    the pooled sample ordered by (value, event_id) — the deterministic
    tiebreak keeps every per-row CDF evaluation identical across
    engines, so D pairs exactly at 6 dp.

    Scale shape: one (type)-keyed count agg (broadcast back), ONE
    type-keyed window over the pooled rows (keys parallelize; within a
    key this is the sort KS fundamentally requires — at 10^12 rows per
    key you'd run the binned variant via `hist_quantile_sketch`'s
    counters instead, trading exactness for mergeability; both now
    exist), one max rollup.
    """
    ev = t(spark, sf_dir, "events")
    e = ev.select(
        "event_type",
        "value",
        "event_id",
        F.when(F.dayofmonth("ts") < _KS_SPLIT_DAY, 1).otherwise(0).alias("in_a"),
    )
    n = e.groupBy("event_type").agg(
        F.sum("in_a").cast("long").alias("n_a"),
        F.sum(1 - F.col("in_a")).cast("long").alias("n_b"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("value", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = e.join(F.broadcast(n), "event_type").select(
        "event_type",
        "n_a",
        "n_b",
        (
            F.sum("in_a").over(w) / F.col("n_a").cast("double")
            - F.sum(1 - F.col("in_a")).over(w) / F.col("n_b").cast("double")
        ).alias("diff"),
    )
    return (
        c.groupBy("event_type", "n_a", "n_b")
        .agg(F.round(F.max(F.abs("diff")), 6).alias("ks_d"))
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# cross-metric correlation matrix (pairwise Pearson over daily series)
# ---------------------------------------------------------------------------

_CORR_SQL = """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, event_type,
             ROUND(SUM(value), 6) AS x
      FROM events GROUP BY day, event_type),
    p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
                 a.x AS xa, b.x AS xb
          FROM daily a JOIN daily b
            ON a.day = b.day AND a.event_type < b.event_type),
    s AS (SELECT type_a, type_b,
                 CAST(COUNT(*) AS BIGINT) AS n_days,
                 SUM(xa) AS sx, SUM(xb) AS sy,
                 SUM(xa * xa) AS sxx, SUM(xb * xb) AS syy,
                 SUM(xa * xb) AS sxy
          FROM p GROUP BY type_a, type_b)
    SELECT type_a, type_b, n_days,
           ROUND((n_days * sxy - sx * sy)
                 / SQRT((n_days * sxx - sx * sx)
                        * (n_days * syy - sy * sy)), 5) AS pearson_r
    FROM s ORDER BY type_a, type_b
    """


@q("metric_correlation_matrix", oracle=_CORR_SQL)
def metric_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation between event types' daily value
    series — the cross-metric dependence scan behind every monitoring
    dashboard ("which metrics move together") and the input to
    `daily_anomalies`-style alert dedup (two correlated metrics alerting
    together is one incident, not two). Computed from power sums
    ((nΣxy − ΣxΣy) / √(…)) over the 6-dp-snapped daily rollup — the snap
    kills engine sum-order noise BEFORE the power sums, the same
    discipline as `ewma_daily_values`.

    Scale shape: one (day, type) partial agg, one day-keyed self-join
    (fanout = |types|² per day — bounded by the metric catalog, not the
    data), one pair-keyed agg; all downstream of the first rollup
    touches |days|·|types| rows only. At 10^12 raw events this is
    sketch-cheap because the reduction happens FIRST.
    """
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("ts").cast("date").alias("day"), "event_type"
    ).agg(F.round(F.sum("value"), 6).alias("x"))
    a = daily.select(
        F.col("day").alias("d"), F.col("event_type").alias("type_a"),
        F.col("x").alias("xa"),
    )
    b = daily.select(
        F.col("day").alias("d_b"), F.col("event_type").alias("type_b"),
        F.col("x").alias("xb"),
    )
    p = a.join(
        b, (F.col("d") == F.col("d_b")) & (F.col("type_a") < F.col("type_b"))
    )
    s = p.groupBy("type_a", "type_b").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum("xa").alias("sx"),
        F.sum("xb").alias("sy"),
        F.sum(F.col("xa") * F.col("xa")).alias("sxx"),
        F.sum(F.col("xb") * F.col("xb")).alias("syy"),
        F.sum(F.col("xa") * F.col("xb")).alias("sxy"),
    )
    n = F.col("n_days")
    r = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
        (n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return s.select(
        "type_a", "type_b", "n_days", F.round(r, 5).alias("pearson_r")
    ).orderBy("type_a", "type_b")


# ---------------------------------------------------------------------------
# merged-interval union + concurrency depth (sweep line)
# ---------------------------------------------------------------------------

# deterministic half-open interval per event: [start, start + 1-4.5 h).
# p10 inter-event gap in the fixture is ~4100 s, so islands genuinely merge.
_IVL_DUR = "3600 + (event_id % 8) * 1800"

_IVL_SQL = f"""
    WITH iv AS (SELECT user_id, event_id,
                       CAST(FLOOR(epoch(ts)) AS BIGINT) AS s,
                       CAST(FLOOR(epoch(ts)) + {_IVL_DUR} AS BIGINT) AS e
                FROM events),
         m AS (SELECT user_id, event_id, s, e,
                      MAX(e) OVER (PARTITION BY user_id
                                   ORDER BY s, e, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING) AS prev_max_e
               FROM iv),
         b AS (SELECT user_id, event_id, s, e,
                      CASE WHEN s > prev_max_e OR prev_max_e IS NULL
                           THEN 1 ELSE 0 END AS is_new
               FROM m),
         isl AS (SELECT user_id, s, e,
                        SUM(is_new) OVER (PARTITION BY user_id
                                          ORDER BY s, e, event_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING
                                               AND CURRENT ROW) AS island
                 FROM b),
         per_isl AS (SELECT user_id, island,
                            MAX(e) - MIN(s) AS covered
                     FROM isl GROUP BY user_id, island),
         unions AS (SELECT user_id,
                           CAST(COUNT(*) AS BIGINT) AS n_islands,
                           CAST(SUM(covered) AS BIGINT) AS union_s
                    FROM per_isl GROUP BY user_id),
         pts AS (SELECT user_id, s AS tick, 1 AS delta, event_id FROM iv
                 UNION ALL
                 SELECT user_id, e AS tick, -1 AS delta, event_id FROM iv),
         depth AS (SELECT user_id,
                          SUM(delta) OVER (PARTITION BY user_id
                                           ORDER BY tick, delta, event_id
                                           ROWS BETWEEN UNBOUNDED PRECEDING
                                                AND CURRENT ROW) AS d
                   FROM pts),
         md AS (SELECT user_id, CAST(MAX(d) AS BIGINT) AS max_depth
                FROM depth GROUP BY user_id),
         cnt AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
                 FROM iv GROUP BY user_id)
    SELECT cnt.user_id, cnt.n_events, unions.n_islands, unions.union_s,
           md.max_depth
    FROM cnt JOIN unions USING (user_id) JOIN md USING (user_id)
    ORDER BY user_id
    """


@q("interval_union_coverage", oracle=_IVL_SQL)
def interval_union_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user merged-interval union length + peak concurrency depth.

    Each event opens a deterministic half-open activity interval
    [start, start + 1-4.5 h); overlapping/touching intervals merge into
    islands (running-cummax break detection — the variable-length general
    case of ``dup_span_stats``'s equal-width span merge) and the union of
    covered seconds plus the island count is reported, alongside the peak
    overlap depth from a +1/-1 sweep line (ends release before starts at
    the same tick, matching half-open semantics).

    Reference surface: generalizes the reference's session/duration
    analytics (validation_and_refinement_workflow.sh activity windows)
    to exact interval algebra — the primitive behind crawl-window
    scheduling and rate-limit audits at fleet scale.

    Scale shape: every window is PARTITIONED BY user_id — no global sort;
    one exchange on user_id feeds islands, sweep, and counts. Integer
    epoch arithmetic end-to-end (exact on both engines).
    """
    dur = F.expr(_IVL_DUR).cast("long")
    iv = t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_timestamp("ts").alias("s"),
        (F.unix_timestamp("ts") + dur).alias("e"),
    )
    w = Window.partitionBy("user_id").orderBy("s", "e", "event_id")
    m = iv.withColumn(
        "prev_max_e",
        F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1)),
    )
    b = m.withColumn(
        "is_new",
        F.when(
            (F.col("s") > F.col("prev_max_e"))
            | F.col("prev_max_e").isNull(),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    isl = b.withColumn(
        "island",
        F.sum("is_new").over(
            Window.partitionBy("user_id")
            .orderBy("s", "e", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    unions = (
        isl.groupBy("user_id", "island")
        .agg((F.max("e") - F.min("s")).alias("covered"))
        .groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_islands"),
            F.sum("covered").cast("long").alias("union_s"),
        )
    )
    pts = iv.select(
        "user_id", F.col("s").alias("tick"), F.lit(1).alias("delta"), "event_id"
    ).unionAll(
        iv.select(
            "user_id",
            F.col("e").alias("tick"),
            F.lit(-1).alias("delta"),
            "event_id",
        )
    )
    wd = Window.partitionBy("user_id").orderBy(
        "tick", "delta", "event_id"
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    md = (
        pts.withColumn("d", F.sum("delta").over(wd))
        .groupBy("user_id")
        .agg(F.max("d").cast("long").alias("max_depth"))
    )
    cnt = iv.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events")
    )
    return (
        cnt.join(unions, "user_id")
        .join(md, "user_id")
        .select("user_id", "n_events", "n_islands", "union_s", "max_depth")
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# CUSUM changepoint detection over daily series
# ---------------------------------------------------------------------------

_CUSUM_SQL = """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             ROUND(SUM(value), 6) AS x
      FROM events GROUP BY event_type, day),
    g AS (SELECT event_type,
                 list_transform(list_sort(list_zip(
                     array_agg(day), array_agg(x))), p -> p[1]) AS days,
                 list_transform(list_sort(list_zip(
                     array_agg(day), array_agg(x))), p -> p[2]) AS xs
          FROM daily GROUP BY event_type),
    p AS (SELECT event_type, days, xs, len(xs) AS n,
                 ROUND(list_reduce(list_prepend(0.0e0,
                         list_slice(xs, 1, 7)), (a, b) -> a + b)
                       / LEAST(7, len(xs)), 6) AS target
          FROM g),
    c AS (SELECT event_type, days, xs, n, target,
                 target AS allowance,
                 ROUND(5.0e-1 * target, 6) AS h
          FROM p),
    s AS (SELECT event_type, days, n, target, h,
                 list_transform(range(1, n + 1), k ->
                   list_reduce(list_prepend(0.0e0, list_slice(xs, 1, k)),
                     (acc, x) -> GREATEST(0.0e0, acc + x - allowance)))
                   AS cus
          FROM c),
    a AS (SELECT event_type, days, n, target, h, cus,
                 list_filter(range(1, n + 1), k -> cus[k] > h) AS ks
          FROM s)
    SELECT event_type,
           CAST(n AS BIGINT) AS n_days,
           target,
           CAST(len(ks) AS BIGINT) AS n_alarms,
           COALESCE(CAST(CASE WHEN len(ks) > 0 THEN days[ks[1]] END
                          AS VARCHAR), 'never') AS first_alarm_day,
           ROUND(list_aggregate(cus, 'max'), 6) AS max_cusum
    FROM a ORDER BY event_type
    """


@q("cusum_changepoints", oracle=_CUSUM_SQL)
def cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM changepoint detection per event type: fold
    S_k = max(0, S_{k-1} + x_k - allowance) over the 6-dp-snapped daily
    value series (allowance = the first-week baseline mean, alarm
    threshold h = 0.5x baseline) and report alarm count, first alarm day,
    and peak statistic. Like ``ewma_daily_values``, CUSUM is a recursion
    SQL windows cannot express — it runs as an in-row array left-fold
    with identical fold order on both engines (Spark ``aggregate`` with a
    0-initial accumulator ≡ DuckDB ``list_reduce`` over a 0-prepended
    slice), on inputs snapped BEFORE folding so a last-ulp SUM divergence
    cannot be amplified by the recursion.

    Scale shape: one (type, day) partial-agg shuffle, one per-type
    bounded-array collect (days, not rows), O(n_days^2) in-row prefix
    folds, parallelism = key count. No global window, no driver loop.
    """
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.round(F.sum("value"), 6).alias("x"))
    g = daily.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("day", "x"))).alias("s")
    )
    xs = F.transform(F.col("s"), lambda r: r.x)
    days = F.transform(F.col("s"), lambda r: r.day)
    n = F.size(xs)
    target = F.round(
        F.aggregate(
            F.slice(xs, 1, 7), F.lit(0.0), lambda acc, x: acc + x
        )
        / F.least(F.lit(7), n),
        6,
    )
    base = g.select(
        "event_type",
        days.alias("days"),
        xs.alias("xs"),
        n.alias("n"),
        target.alias("target"),
    ).select(
        "*",
        F.col("target").alias("allowance"),
        F.round(F.lit(0.5) * F.col("target"), 6).alias("h"),
    )
    cus = F.transform(
        F.sequence(F.lit(1), F.col("n")),
        lambda k: F.aggregate(
            F.slice(F.col("xs"), F.lit(1), k),
            F.lit(0.0),
            lambda acc, x: F.greatest(
                F.lit(0.0), acc + x - F.col("allowance")
            ),
        ),
    )
    withc = base.select(
        "event_type", "days", "n", "target", "h", cus.alias("cus")
    ).withColumn(
        "ks",
        F.filter(
            F.sequence(F.lit(1), F.col("n")),
            lambda k: F.element_at("cus", k) > F.col("h"),
        ),
    )
    return withc.select(
        "event_type",
        F.col("n").cast("long").alias("n_days"),
        "target",
        F.size("ks").cast("long").alias("n_alarms"),
        F.coalesce(
            F.when(
                F.size("ks") > 0,
                F.element_at("days", F.element_at("ks", 1)),
            ).cast("string"),
            F.lit("never"),
        ).alias("first_alarm_day"),
        F.round(F.array_max("cus"), 6).alias("max_cusum"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# chi-square categorical drift (two-sample homogeneity)
# ---------------------------------------------------------------------------

_CHI2_SQL = """
    WITH s AS (SELECT event_type,
                      CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END AS in_a
               FROM events),
         cnt AS (SELECT event_type,
                        CAST(SUM(in_a) AS BIGINT) AS cnt_a,
                        CAST(SUM(1 - in_a) AS BIGINT) AS cnt_b
                 FROM s GROUP BY event_type),
         tot AS (SELECT SUM(cnt_a) AS ta, SUM(cnt_b) AS tb FROM cnt),
         x AS (SELECT c.event_type, c.cnt_a, c.cnt_b,
                      (c.cnt_a + c.cnt_b) * t.ta / (t.ta + t.tb) AS exp_a,
                      (c.cnt_a + c.cnt_b) * t.tb / (t.ta + t.tb) AS exp_b
               FROM cnt c CROSS JOIN tot t),
         y AS (SELECT event_type, cnt_a, cnt_b,
                      ROUND((cnt_a - exp_a) * (cnt_a - exp_a) / exp_a
                            + (cnt_b - exp_b) * (cnt_b - exp_b) / exp_b,
                            6) AS contrib
               FROM x)
    SELECT event_type, cnt_a, cnt_b, contrib,
           ROUND(SUM(contrib) OVER (), 6) AS chi2_stat
    FROM y ORDER BY event_type
    """


@q("chi2_category_drift", oracle=_CHI2_SQL)
def chi2_category_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample chi-square homogeneity drift over a categorical column:
    the event stream is split deterministically into halves (event_id
    parity — the batch stand-in for yesterday-vs-today snapshots), the
    event-type distribution is cross-tabulated, and each category's
    chi-square contribution plus the total statistic is reported — the
    categorical complement of ``ks_value_drift`` (numeric CDF drift), the
    pair a training-data pipeline runs per ingest to catch source-mix
    shifts.

    Scale shape: one partial-agg shuffle on the category key; the totals
    side is a 1-row broadcast cross join; the SUM() OVER () window runs
    over category-count rows (bounded by the vocabulary, not the data).
    Counts are integer-exact; float division happens once per category
    and contributions are snapped before the windowed total.
    """
    s = t(spark, sf_dir, "events").select(
        "event_type",
        F.when(F.col("event_id") % 2 == 0, F.lit(1))
        .otherwise(F.lit(0))
        .alias("in_a"),
    )
    cnt = s.groupBy("event_type").agg(
        F.sum("in_a").cast("long").alias("cnt_a"),
        F.sum(F.lit(1) - F.col("in_a")).cast("long").alias("cnt_b"),
    )
    tot = cnt.agg(
        F.sum("cnt_a").alias("ta"), F.sum("cnt_b").alias("tb")
    )
    x = cnt.crossJoin(F.broadcast(tot))
    exp_a = (F.col("cnt_a") + F.col("cnt_b")) * F.col("ta") / (
        F.col("ta") + F.col("tb")
    )
    exp_b = (F.col("cnt_a") + F.col("cnt_b")) * F.col("tb") / (
        F.col("ta") + F.col("tb")
    )
    y = x.select(
        "event_type",
        "cnt_a",
        "cnt_b",
        F.round(
            (F.col("cnt_a") - exp_a) * (F.col("cnt_a") - exp_a) / exp_a
            + (F.col("cnt_b") - exp_b) * (F.col("cnt_b") - exp_b) / exp_b,
            6,
        ).alias("contrib"),
    )
    return y.select(
        "event_type",
        "cnt_a",
        "cnt_b",
        "contrib",
        F.round(
            F.sum("contrib").over(
                Window.partitionBy()
            ),
            6,
        ).alias("chi2_stat"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# UNPIVOT (wide -> long) metrics
# ---------------------------------------------------------------------------

_UNPIVOT_SQL = """
    WITH wide AS (SELECT event_type,
                         CAST(COUNT(*) AS DOUBLE) AS n_events,
                         CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS n_users,
                         CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS DOUBLE)
                           AS n_days,
                         ROUND(MAX(value), 6) AS max_value
                  FROM events GROUP BY event_type)
    SELECT event_type, metric, metric_value
    FROM (UNPIVOT wide
          ON n_events, n_users, n_days, max_value
          INTO NAME metric VALUE metric_value)
    ORDER BY event_type, metric
    """


@q("unpivot_metrics", oracle=_UNPIVOT_SQL)
def unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide -> long): a per-type metrics dashboard computed wide
    (one row per event type, one column per metric) and melted to tidy
    (type, metric, value) rows — the inverse of ``pivot_dow_by_type`` and
    the last relational reshaping class the registry lacked. Spark's
    native ``DataFrame.unpivot`` (Expand operator) against DuckDB's
    ``UNPIVOT``.

    Metrics are chosen order-insensitive (counts, distinct counts, MAX)
    so no float accumulation order can diverge between engines.

    Scale shape: one partial-agg shuffle to the wide form (rows = type
    vocabulary); Expand multiplies the tiny wide result, not the raw
    table — melting happens after aggregation, which is the only
    placement that survives 100x.
    """
    wide = (
        t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("double").alias("n_events"),
            F.countDistinct("user_id").cast("double").alias("n_users"),
            F.countDistinct(F.col("ts").cast("date"))
            .cast("double")
            .alias("n_days"),
            F.round(F.max("value"), 6).alias("max_value"),
        )
    )
    return wide.unpivot(
        ["event_type"],
        ["n_events", "n_users", "n_days", "max_value"],
        "metric",
        "metric_value",
    ).orderBy("event_type", "metric")


# ---------------------------------------------------------------------------
# HITS hubs/authorities over the supplier -> customer bipartite graph
# ---------------------------------------------------------------------------

_HITS_ITERS = 3
_HITS_SNAP = 10  # per-iteration snap (dp), same discipline as pagerank
_HITS_TOPK = 15


def _hits_sql() -> str:
    """Unrolled HITS iterations as CTEs (DuckDB oracle). Mirrors the Spark
    loop op-for-op: identical edge weights, per-iteration ROUND snap and
    max-normalisation, so both engines carry bit-identical scores."""
    head = """
    WITH e AS (SELECT l.l_suppkey AS s, o.o_custkey AS c,
                      CAST(COUNT(*) AS DOUBLE) AS w
               FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
               GROUP BY 1, 2),
    h0 AS (SELECT DISTINCT s AS node, 1.0e0 AS score FROM e)"""
    body = ""
    for k in range(1, _HITS_ITERS + 1):
        body += f""",
    a{k}r AS (SELECT e.c AS node,
                     ROUND(SUM(h{k - 1}.score * e.w), {_HITS_SNAP}) AS raw
              FROM e JOIN h{k - 1} ON e.s = h{k - 1}.node GROUP BY e.c),
    a{k} AS (SELECT node,
                    ROUND(raw / (SELECT MAX(raw) FROM a{k}r),
                          {_HITS_SNAP}) AS score
             FROM a{k}r),
    h{k}r AS (SELECT e.s AS node,
                     ROUND(SUM(a{k}.score * e.w), {_HITS_SNAP}) AS raw
              FROM e JOIN a{k} ON e.c = a{k}.node GROUP BY e.s),
    h{k} AS (SELECT node,
                    ROUND(raw / (SELECT MAX(raw) FROM h{k}r),
                          {_HITS_SNAP}) AS score
             FROM h{k}r)"""
    n = _HITS_ITERS
    return (
        head
        + body
        + f"""
    SELECT * FROM (
      (SELECT 'authority' AS role, CAST(node AS BIGINT) AS node,
              ROUND(score, 6) AS score
       FROM a{n} ORDER BY score DESC, node LIMIT {_HITS_TOPK})
      UNION ALL
      (SELECT 'hub', CAST(node AS BIGINT), ROUND(score, 6)
       FROM h{n} ORDER BY score DESC, node LIMIT {_HITS_TOPK}))
    ORDER BY role, score DESC, node
    """
    )


@q("hits_hub_authority", oracle=_hits_sql())
def hits_hub_authority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs and authorities over the directed supplier -> customer
    purchase graph (hub score: suppliers reaching high-authority
    customers; authority: customers fed by strong hubs) — 3 mutual-
    reinforcement iterations, max-normalised, top-15 per role. The
    bipartite dual of ``pagerank_cosupply``'s single-score propagation
    (link-graph authority, Kleinberg 1999 shape).

    Cross-engine float discipline: every per-iteration sum and the
    max-normalised quotient are snapped to 10 dp before the next round
    (the ``pagerank_cosupply`` rule), so both engines carry identical
    doubles; output rounds to 6 dp.

    Scale shape: each iteration is ONE equi-join of the edge list with a
    node-score table plus a partial-agg shuffle on the receiving key —
    O(iters) passes. The edge list and each iteration's raw-score table
    are ``cut`` (the ``pagerank_cosupply`` / ``kcore_peel``
    round discipline): without the cut, the normalising MAX referencing
    the same raw relation as the quotient doubles the lineage every
    half-iteration (measured 115 s at sf0.1; ~4 s with the cut). The
    normalising MAX is a 1-row broadcast. Top-k per role is
    TakeOrderedAndProject, never a global sort.
    """
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("l_suppkey").alias("s"), F.col("o_custkey").alias("c")
        )
        .agg(F.count("*").cast("double").alias("w"))
        .transform(cut)
    )
    h = e.select(F.col("s").alias("node")).distinct().withColumn(
        "score", F.lit(1.0)
    )
    a = None
    for _ in range(_HITS_ITERS):
        ar = (
            e.join(h.withColumnRenamed("node", "s"), "s")
            .groupBy(F.col("c").alias("node"))
            .agg(F.round(F.sum(F.col("score") * F.col("w")), _HITS_SNAP)
                 .alias("raw"))
            .transform(cut)
        )
        amax = ar.agg(F.max("raw").alias("mx"))
        a = ar.crossJoin(F.broadcast(amax)).select(
            "node",
            F.round(F.col("raw") / F.col("mx"), _HITS_SNAP).alias("score"),
        )
        hr = (
            e.join(a.withColumnRenamed("node", "c"), "c")
            .groupBy(F.col("s").alias("node"))
            .agg(F.round(F.sum(F.col("score") * F.col("w")), _HITS_SNAP)
                 .alias("raw"))
            .transform(cut)
        )
        hmax = hr.agg(F.max("raw").alias("mx"))
        h = hr.crossJoin(F.broadcast(hmax)).select(
            "node",
            F.round(F.col("raw") / F.col("mx"), _HITS_SNAP).alias("score"),
        )
    top_a = (
        a.orderBy(F.col("score").desc(), "node")
        .limit(_HITS_TOPK)
        .select(
            F.lit("authority").alias("role"),
            F.col("node").cast("long").alias("node"),
            F.round("score", 6).alias("score"),
        )
    )
    top_h = (
        h.orderBy(F.col("score").desc(), "node")
        .limit(_HITS_TOPK)
        .select(
            F.lit("hub").alias("role"),
            F.col("node").cast("long").alias("node"),
            F.round("score", 6).alias("score"),
        )
    )
    return top_a.unionAll(top_h).orderBy(
        "role", F.col("score").desc(), "node"
    )


# ---------------------------------------------------------------------------
# day-of-week seasonal profile (exact integer micro-unit sums)
# ---------------------------------------------------------------------------

_DOW_SQL = """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             ROUND(SUM(value), 6) AS x
      FROM events GROUP BY event_type, day),
    micro AS (
      SELECT event_type,
             (CAST(day - DATE '1970-01-01' AS INTEGER) + 4) % 7 AS dow,
             CAST(FLOOR(x * 1000000.0e0 + 5.0e-1) AS BIGINT) AS v
      FROM daily),
    per_dow AS (SELECT event_type, dow,
                       CAST(COUNT(*) AS BIGINT) AS n_days,
                       SUM(v) AS s
                FROM micro GROUP BY event_type, dow),
    per_type AS (SELECT event_type,
                        CAST(COUNT(*) AS BIGINT) AS nt, SUM(v) AS st
                 FROM micro GROUP BY event_type),
    m AS (SELECT d.event_type, d.dow, d.n_days,
                 ROUND(d.s * 1.0e0 / d.n_days / 1000000.0e0, 6) AS dow_mean,
                 ROUND(t.st * 1.0e0 / t.nt / 1000000.0e0, 6) AS type_mean
          FROM per_dow d JOIN per_type t USING (event_type)),
    dev AS (SELECT event_type, dow, n_days, dow_mean,
                   ROUND(dow_mean - type_mean, 6) + 0.0e0 AS deviation,
                   CAST(FLOOR(ABS(dow_mean - type_mean) * 1000000.0e0
                              + 5.0e-1) AS BIGINT) AS devu
            FROM m)
    SELECT event_type, dow, n_days, dow_mean, deviation,
           ROUND(SUM(devu) OVER (PARTITION BY event_type) * 1.0e0
                 / (COUNT(*) OVER (PARTITION BY event_type))
                 / 1000000.0e0, 6) AS mad_strength
    FROM dev ORDER BY event_type, dow
    """


@q("dow_seasonal_profile", oracle=_DOW_SQL)
def dow_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality decomposition per event type: each dow
    bucket's mean daily value vs the type's overall mean (the additive
    seasonal component) plus the type's mean-absolute-deviation
    seasonality strength — the weekly-cycle profile a crawl scheduler
    and an anomaly detector both subtract before alerting (pairs with
    ``daily_anomalies``/``cusum_changepoints``, which assume a
    deseasonalised series).

    Exactness: 6-dp-snapped daily sums are scaled to integer micro-units
    before any cross-row SUM, so every aggregate is integer-exact on both
    engines regardless of accumulation order (the
    ``metric_correlation_matrix`` power-sum discipline); each float
    division happens once per output row. The dow index is epoch-anchored
    ((days-since-epoch + 4) % 7, Sunday = 0) — engine dayofweek()
    conventions differ, arithmetic does not. Deviations get the +0.0
    negative-zero guard.

    Scale shape: two partial-agg shuffles ((type, day), then (type, dow))
    and a window over <= 7 rows per type. Nothing global.
    """
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.round(F.sum("value"), 6).alias("x"))
    micro = daily.select(
        "event_type",
        ((F.datediff("day", F.lit("1970-01-01")) + 4) % 7).alias("dow"),
        F.floor(F.col("x") * 1000000.0 + 0.5).cast("long").alias("v"),
    )
    per_dow = micro.groupBy("event_type", "dow").agg(
        F.count("*").cast("long").alias("n_days"), F.sum("v").alias("s")
    )
    per_type = micro.groupBy("event_type").agg(
        F.count("*").cast("long").alias("nt"), F.sum("v").alias("st")
    )
    m = per_dow.join(per_type, "event_type").select(
        "event_type",
        "dow",
        "n_days",
        F.round(F.col("s") * 1.0 / F.col("n_days") / 1000000.0, 6).alias(
            "dow_mean"
        ),
        F.round(F.col("st") * 1.0 / F.col("nt") / 1000000.0, 6).alias(
            "type_mean"
        ),
    )
    dev = m.select(
        "event_type",
        "dow",
        "n_days",
        "dow_mean",
        (F.round(F.col("dow_mean") - F.col("type_mean"), 6) + 0.0).alias(
            "deviation"
        ),
        F.floor(
            F.abs(F.col("dow_mean") - F.col("type_mean")) * 1000000.0 + 0.5
        )
        .cast("long")
        .alias("devu"),
    )
    wt = Window.partitionBy("event_type")
    return dev.select(
        "event_type",
        "dow",
        "n_days",
        "dow_mean",
        "deviation",
        F.round(
            F.sum("devu").over(wt) * 1.0 / F.count("*").over(wt) / 1000000.0,
            6,
        ).alias("mad_strength"),
    ).orderBy("event_type", "dow")


# ---------------------------------------------------------------------------
# JSON schema-drift profile (key presence + value-type distribution)
# ---------------------------------------------------------------------------

# deterministically messy JSON per document: optional keys, a number-vs-
# string type drift on "score", explicit nulls, booleans, a nested object
_JSONP_DOC = """
    '{"id": ' || CAST(doc_id AS VARCHAR)
    || ', "lang": "' || lang || '"'
    || CASE WHEN doc_id % 3 = 0
            THEN ', "score": ' || CAST(doc_id % 100 AS VARCHAR)
            ELSE ', "score": "' || CAST(doc_id % 100 AS VARCHAR) || '"' END
    || CASE WHEN doc_id % 4 = 0 THEN ', "tags": ["a", "b"]'
            WHEN doc_id % 4 = 1 THEN ', "tags": null' ELSE '' END
    || CASE WHEN doc_id % 5 = 0 THEN ', "active": true'
            WHEN doc_id % 5 = 1 THEN ', "active": false' ELSE '' END
    || CASE WHEN doc_id % 7 = 0 THEN ', "meta": {"w": 1}' ELSE '' END
    || '}'
    """

_JSONP_KEY_RE = '"([a-z]+)": (.)'

_JSONP_SQL = f"""
    WITH raw AS (SELECT doc_id, {_JSONP_DOC} AS j FROM documents),
         kv AS (SELECT doc_id,
                       UNNEST(list_zip(
                         regexp_extract_all(j, '{_JSONP_KEY_RE}', 1),
                         regexp_extract_all(j, '{_JSONP_KEY_RE}', 2)))
                         AS z
                FROM raw),
         f AS (SELECT doc_id, z[1] AS key_name,
                      CASE WHEN z[2] = '"' THEN 'string'
                           WHEN z[2] = '[' THEN 'array'
                           WHEN z[2] = '{{' THEN 'object'
                           WHEN z[2] IN ('t', 'f') THEN 'boolean'
                           WHEN z[2] = 'n' THEN 'null'
                           ELSE 'number' END AS vtype
               FROM kv),
         tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM raw)
    SELECT key_name,
           CAST(COUNT(*) AS BIGINT) AS n_occur,
           ROUND(COUNT(*) / tot.n_docs, 4) AS present_pct,
           CAST(COUNT(*) FILTER (WHERE vtype = 'string') AS BIGINT)
             AS n_string,
           CAST(COUNT(*) FILTER (WHERE vtype = 'number') AS BIGINT)
             AS n_number,
           CAST(COUNT(*) FILTER (WHERE vtype = 'boolean') AS BIGINT)
             AS n_boolean,
           CAST(COUNT(*) FILTER (WHERE vtype = 'array') AS BIGINT)
             AS n_array,
           CAST(COUNT(*) FILTER (WHERE vtype = 'object') AS BIGINT)
             AS n_object,
           CAST(COUNT(*) FILTER (WHERE vtype = 'null') AS BIGINT) AS n_null,
           CAST(COUNT(DISTINCT vtype) > 1 AS BIGINT) AS polymorphic
    FROM f, tot
    GROUP BY key_name, tot.n_docs ORDER BY key_name
    """


@q("json_key_profile", oracle=_JSONP_SQL)
def json_key_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON schema-drift profile over a semi-structured payload column:
    per key (nested keys included — it is a flat scan of the raw text),
    occurrence count, presence ratio, the value-TYPE distribution
    (string/number/boolean/array/object/null) and a polymorphic flag —
    catching exactly the drift the synthetic payload injects ("score"
    arrives as a number on some documents and a quoted string on others).
    Extends ``props_json_rollup`` (single-path extraction) to schema
    INFERENCE, the audit a lakehouse runs before evolving a JSON column
    to typed.

    Value types come from the first value character captured by the same
    regex that captures the key (two aligned ``regexp_extract_all``
    arrays zipped in-row — the ``anchor_text_index`` pattern), so no
    per-key dynamic regex and no JSON parser differences between engines.

    Scale shape: per-row JVM regex, one explode, one partial-agg shuffle
    on the key name (vocabulary-bounded); the doc-count side is a 1-row
    broadcast. Nothing quadratic, no UDF.
    """
    raw = t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_JSONP_DOC.replace("AS VARCHAR", "AS STRING")).alias("j")
    )
    keys = F.expr(f"regexp_extract_all(j, '{_JSONP_KEY_RE}', 1)")
    firsts = F.expr(f"regexp_extract_all(j, '{_JSONP_KEY_RE}', 2)")
    kv = raw.select(
        "doc_id", F.explode(F.arrays_zip(keys, firsts)).alias("z")
    ).select(
        "doc_id",
        F.col("z").getField("0").alias("key_name"),
        F.col("z").getField("1").alias("c"),
    )
    vtype = (
        F.when(F.col("c") == '"', "string")
        .when(F.col("c") == "[", "array")
        .when(F.col("c") == "{", "object")
        .when(F.col("c").isin("t", "f"), "boolean")
        .when(F.col("c") == "n", "null")
        .otherwise("number")
    )
    f = kv.select("doc_id", "key_name", vtype.alias("vtype"))
    tot = raw.agg(F.count("*").cast("double").alias("n_docs"))
    return (
        f.crossJoin(F.broadcast(tot))
        .groupBy("key_name", "n_docs")
        .agg(
            F.count("*").cast("long").alias("n_occur"),
            F.round(F.count("*") / F.col("n_docs"), 4).alias("present_pct"),
            F.sum((F.col("vtype") == "string").cast("long"))
            .cast("long")
            .alias("n_string"),
            F.sum((F.col("vtype") == "number").cast("long"))
            .cast("long")
            .alias("n_number"),
            F.sum((F.col("vtype") == "boolean").cast("long"))
            .cast("long")
            .alias("n_boolean"),
            F.sum((F.col("vtype") == "array").cast("long"))
            .cast("long")
            .alias("n_array"),
            F.sum((F.col("vtype") == "object").cast("long"))
            .cast("long")
            .alias("n_object"),
            F.sum((F.col("vtype") == "null").cast("long"))
            .cast("long")
            .alias("n_null"),
            (F.countDistinct("vtype") > 1).cast("long").alias("polymorphic"),
        )
        .drop("n_docs")
        .orderBy("key_name")
    )


# ---------------------------------------------------------------------------
# event-time lateness audit (watermark tuning)
# ---------------------------------------------------------------------------

# deterministic heavy-tailed delivery delay: most events arrive in
# minutes, a 1-in-16 tail takes hours, a 1-in-64 tail up to ~2 days
_LATE_DELAY = (
    "(event_id % 17) * 60"
    " + CASE WHEN event_id % 16 = 0 THEN 3600 * (1 + event_id % 7)"
    "        ELSE 0 END"
    " + CASE WHEN event_id % 64 = 0 THEN 86400 * (1 + event_id % 2)"
    "        ELSE 0 END"
)

_LATE_SQL = f"""
    WITH a AS (SELECT event_type,
                      CAST({_LATE_DELAY} AS BIGINT) AS late_s
               FROM events)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MAX(late_s) AS max_late_s,
           CAST(COUNT(*) FILTER (WHERE late_s <= 3600) AS BIGINT)
             AS n_within_1h,
           CAST(COUNT(*) FILTER (WHERE late_s <= 21600) AS BIGINT)
             AS n_within_6h,
           CAST(COUNT(*) FILTER (WHERE late_s <= 86400) AS BIGINT)
             AS n_within_1d,
           CASE WHEN COUNT(*) FILTER (WHERE late_s <= 3600) * 100
                     >= COUNT(*) * 99 THEN '1h'
                WHEN COUNT(*) FILTER (WHERE late_s <= 21600) * 100
                     >= COUNT(*) * 99 THEN '6h'
                WHEN COUNT(*) FILTER (WHERE late_s <= 86400) * 100
                     >= COUNT(*) * 99 THEN '1d'
                ELSE '>1d' END AS watermark_for_p99
    FROM a GROUP BY event_type ORDER BY event_type
    """


@q("late_arrival_audit", oracle=_LATE_SQL)
def late_arrival_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time lateness audit: per event type, the distribution of
    delivery delay (arrival time minus event time — synthesised with a
    deterministic heavy tail) against candidate watermark horizons, and
    the smallest candidate horizon that would retain >= 99 % of events —
    the measurement that justifies the watermark used by the streaming
    jobs (``streaming/pages_stream.py``) instead of guessing it. The p99
    pick uses integer cross-multiplication (count*100 >= total*99), no
    float percentile.

    Scale shape: pure per-row integer arithmetic then ONE partial-agg
    shuffle on event_type; conditional counts all fold into the same
    aggregate pass. Nothing sorts.
    """
    a = t(spark, sf_dir, "events").select(
        "event_type", F.expr(_LATE_DELAY).cast("long").alias("late_s")
    )
    cnt = F.count("*")
    w1 = F.sum((F.col("late_s") <= 3600).cast("long"))
    w6 = F.sum((F.col("late_s") <= 21600).cast("long"))
    wd = F.sum((F.col("late_s") <= 86400).cast("long"))
    return (
        a.groupBy("event_type")
        .agg(
            cnt.cast("long").alias("n_events"),
            F.max("late_s").alias("max_late_s"),
            w1.cast("long").alias("n_within_1h"),
            w6.cast("long").alias("n_within_6h"),
            wd.cast("long").alias("n_within_1d"),
            F.when(w1 * 100 >= cnt * 99, "1h")
            .when(w6 * 100 >= cnt * 99, "6h")
            .when(wd * 100 >= cnt * 99, "1d")
            .otherwise(">1d")
            .alias("watermark_for_p99"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# autocorrelation (ACF) of the daily series at lags 1..7
# ---------------------------------------------------------------------------

_ACF_MAXLAG = 7

_ACF_SQL = f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             ROUND(SUM(value), 6) AS x
      FROM events GROUP BY event_type, day),
    g AS (SELECT event_type,
                 list_transform(list_sort(list_zip(
                     array_agg(day), array_agg(x))), p -> p[2]) AS xs
          FROM daily GROUP BY event_type),
    st AS (SELECT event_type, xs, len(xs) AS n,
                  list_reduce(list_prepend(0.0e0, xs), (a, b) -> a + b)
                    / len(xs) AS m
           FROM g),
    den AS (SELECT event_type, xs, n, m,
                   list_reduce(list_prepend(0.0e0,
                     list_transform(xs, v -> (v - m) * (v - m))),
                     (a, b) -> a + b) AS d
            FROM st),
    lags AS (SELECT event_type, xs, n, m, d, k
             FROM den, UNNEST(range(1, {_ACF_MAXLAG} + 1)) AS t(k)
             WHERE n > k),
    num AS (SELECT event_type, CAST(k AS BIGINT) AS lag,
                   CAST(n AS BIGINT) AS n_days,
                   list_reduce(list_prepend(0.0e0,
                     list_transform(
                       list_zip(list_slice(xs, 1, n - k),
                                list_slice(xs, k + 1, n)),
                       p -> (p[1] - m) * (p[2] - m))),
                     (a, b) -> a + b) / d AS r
            FROM lags)
    SELECT event_type, lag, n_days, ROUND(r, 5) AS acf
    FROM num ORDER BY event_type, lag
    """


@q("acf_daily_lags", oracle=_ACF_SQL)
def acf_daily_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of each event type's daily value series at lags
    1..7 — the weekly-cycle detector that tells an operator WHICH
    seasonal profile (``dow_seasonal_profile``) to subtract, and whether
    ``cusum_changepoints`` needs deseasonalised input.

    Determinism: all statistics (mean, variance, lag products) are LEFT
    FOLDS over the per-type day-sorted array of 6-dp-snapped daily sums
    (the ``ewma_daily_values`` recursion discipline) — both engines fold
    in the same order, so the float sums are bit-identical; one division
    per output row, snapped to 5 dp.

    Scale shape: one (type, day) partial-agg shuffle, one per-type
    bounded-array collect (days, not rows), O(maxlag * n_days) in-row
    arithmetic; parallelism = key count. No window over raw rows.
    """
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.round(F.sum("value"), 6).alias("x"))
    g = daily.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("day", "x"))).alias("s")
    )
    xs = F.transform(F.col("s"), lambda r: r.x)
    fold_sum = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0.0), lambda a, b: a + b
    )
    st = g.select(
        "event_type",
        xs.alias("xs"),
        F.size(xs).alias("n"),
        (fold_sum(xs) / F.size(xs)).alias("m"),
    )
    den = st.withColumn(
        "d",
        fold_sum(
            F.transform(
                F.col("xs"),
                lambda v: (v - F.col("m")) * (v - F.col("m")),
            )
        ),
    )
    lags = den.select(
        "*", F.explode(F.sequence(F.lit(1), F.lit(_ACF_MAXLAG))).alias("k")
    ).filter(F.col("n") > F.col("k"))
    num = lags.select(
        "event_type",
        F.col("k").cast("long").alias("lag"),
        F.col("n").cast("long").alias("n_days"),
        (
            fold_sum(
                F.zip_with(
                    F.slice(F.col("xs"), F.lit(1), F.col("n") - F.col("k")),
                    F.expr("slice(xs, k + 1, n - k)"),
                    lambda a, b: (a - F.col("m")) * (b - F.col("m")),
                )
            )
            / F.col("d")
        ).alias("r"),
    )
    return num.select(
        "event_type", "lag", "n_days", F.round("r", 5).alias("acf")
    ).orderBy("event_type", "lag")


# ---------------------------------------------------------------------------
# k-anonymity audit over a quasi-identifier tuple
# ---------------------------------------------------------------------------

_KANON_K = 5  # privacy threshold: equivalence classes smaller than k leak

_KANON_SQL = f"""
    WITH qi AS (SELECT event_type,
                       (CAST(CAST(ts AS DATE) - DATE '1970-01-01'
                             AS INTEGER) + 4) % 7 AS dow,
                       CAST(FLOOR(value / 500.0e0) AS BIGINT) AS value_band
                FROM events),
    eq AS (SELECT event_type, dow, value_band,
                  CAST(COUNT(*) AS BIGINT) AS class_size
           FROM qi GROUP BY event_type, dow, value_band),
    s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
                 CAST(SUM(class_size) AS BIGINT) AS n_rows,
                 CAST(MIN(class_size) AS BIGINT) AS min_k,
                 CAST(SUM(CASE WHEN class_size < {_KANON_K}
                               THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_small_classes,
                 CAST(SUM(CASE WHEN class_size < {_KANON_K}
                               THEN class_size ELSE 0 END) AS BIGINT)
                   AS n_risky_rows
          FROM eq)
    SELECT n_classes, n_rows, min_k, n_small_classes, n_risky_rows,
           ROUND(n_risky_rows * 1.0e0 / n_rows, 6) AS risky_pct,
           CAST(CASE WHEN min_k >= {_KANON_K} THEN 1 ELSE 0 END AS BIGINT)
             AS is_k_anonymous
    FROM s
    """


@q("k_anonymity_audit", oracle=_KANON_SQL)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit: group rows by a quasi-identifier tuple
    (event type, epoch-anchored day-of-week, 500-unit value band) and
    report the equivalence-class size distribution — the minimum k, how
    many classes fall under the privacy threshold (k = 5), and the
    fraction of rows living in those re-identifiable classes. The
    release-gate audit a training-data pipeline runs AFTER
    ``pii_scrub_stats`` removes direct identifiers: scrubbing does not
    help if quasi-identifier combinations still single users out
    (Sweeney 2002).

    Scale shape: one partial-agg shuffle on the QI tuple, then a scalar
    rollup of the (bounded) class table. Integer-exact throughout; one
    division at the end.
    """
    ev = t(spark, sf_dir, "events")
    qi = ev.select(
        "event_type",
        ((F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01")) + 4) % 7)
        .alias("dow"),
        F.floor(F.col("value") / 500.0).cast("long").alias("value_band"),
    )
    eq = qi.groupBy("event_type", "dow", "value_band").agg(
        F.count("*").cast("long").alias("class_size")
    )
    small = F.when(F.col("class_size") < _KANON_K, 1).otherwise(0)
    risky = F.when(
        F.col("class_size") < _KANON_K, F.col("class_size")
    ).otherwise(0)
    s = eq.agg(
        F.count("*").cast("long").alias("n_classes"),
        F.sum("class_size").cast("long").alias("n_rows"),
        F.min("class_size").cast("long").alias("min_k"),
        F.sum(small).cast("long").alias("n_small_classes"),
        F.sum(risky).cast("long").alias("n_risky_rows"),
    )
    return s.select(
        "n_classes",
        "n_rows",
        "min_k",
        "n_small_classes",
        "n_risky_rows",
        F.round(F.col("n_risky_rows") * 1.0 / F.col("n_rows"), 6).alias(
            "risky_pct"
        ),
        F.when(F.col("min_k") >= _KANON_K, 1)
        .otherwise(0)
        .cast("long")
        .alias("is_k_anonymous"),
    )


# ---------------------------------------------------------------------------
# graph reciprocity + degree assortativity (edge-level structure metrics)
# ---------------------------------------------------------------------------

_RECIP_SQL = """
    WITH e0 AS (SELECT DISTINCT l.l_suppkey AS src, o.o_custkey % 100 AS dst
                FROM lineitem l JOIN orders o
                  ON l.l_orderkey = o.o_orderkey),
    e AS (SELECT src, dst FROM e0 WHERE src <> dst),
    r AS (SELECT a.src, a.dst,
                 CASE WHEN b.src IS NOT NULL THEN 1 ELSE 0 END AS has_rev
          FROM e a LEFT JOIN e b ON a.src = b.dst AND a.dst = b.src),
    deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS outdeg
            FROM e GROUP BY src),
    ind AS (SELECT dst AS node, CAST(COUNT(*) AS BIGINT) AS indeg
            FROM e GROUP BY dst),
    ps AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
                  CAST(SUM(has_rev) AS BIGINT) AS n_recip
           FROM r),
    dd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
                  CAST(MAX(COALESCE(d.outdeg, 0)) AS BIGINT) AS max_out,
                  CAST(MAX(COALESCE(i.indeg, 0)) AS BIGINT) AS max_in
           FROM (SELECT node FROM deg UNION SELECT node FROM ind) n
           LEFT JOIN deg d USING (node) LEFT JOIN ind i USING (node))
    SELECT ps.n_edges, ps.n_recip,
           ROUND(ps.n_recip * 1.0e0 / ps.n_edges, 6) AS reciprocity,
           dd.n_nodes, dd.max_out, dd.max_in
    FROM ps CROSS JOIN dd
    """


@q("graph_reciprocity", oracle=_RECIP_SQL)
def graph_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge reciprocity of the directed supplier -> customer-bucket graph
    (fraction of edges whose reverse edge also exists) plus node/degree
    extrema — the directed-structure metric that distinguishes a mutual-
    link web community from a broadcast hub, completing the graph-metric
    family (degree extrema here, triangles in ``triangle_count``, paths
    in ``frontier_bfs_depths``). Customer keys fold mod 100 so the two
    endpoint domains overlap and reverse edges genuinely occur.

    Scale shape: reciprocity is ONE self equi-join on the reversed key
    pair (hash join — the reversed edge list partitions the same way);
    degrees are partial aggs; the final combine is two 1-row broadcasts.
    Exact integers, one division.
    """
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("l_suppkey").alias("src"),
            (F.col("o_custkey") % 100).alias("dst"),
        )
        .distinct()
        .filter(F.col("src") != F.col("dst"))
    )
    b = e.select(F.col("src").alias("b_src"), F.col("dst").alias("b_dst"))
    r = e.join(
        b,
        (e.src == b.b_dst) & (e.dst == b.b_src),
        "left",
    ).select(
        F.when(F.col("b_src").isNotNull(), 1).otherwise(0).alias("has_rev")
    )
    deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("long").alias("outdeg")
    )
    ind = e.groupBy(F.col("dst").alias("node")).agg(
        F.count("*").cast("long").alias("indeg")
    )
    nodes = deg.select("node").union(ind.select("node")).distinct()
    dd = (
        nodes.join(deg, "node", "left")
        .join(ind, "node", "left")
        .agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.max(F.coalesce("outdeg", F.lit(0)))
            .cast("long")
            .alias("max_out"),
            F.max(F.coalesce("indeg", F.lit(0)))
            .cast("long")
            .alias("max_in"),
        )
    )
    ps = r.agg(
        F.count("*").cast("long").alias("n_edges"),
        F.sum("has_rev").cast("long").alias("n_recip"),
    )
    return ps.crossJoin(F.broadcast(dd)).select(
        "n_edges",
        "n_recip",
        F.round(F.col("n_recip") * 1.0 / F.col("n_edges"), 6).alias(
            "reciprocity"
        ),
        "n_nodes",
        "max_out",
        "max_in",
    )


# ---------------------------------------------------------------------------
# stream disorder: Kendall tau between event-time and arrival order
# ---------------------------------------------------------------------------

_KT_SQL = f"""
    WITH a AS (SELECT user_id, event_id,
                      CAST(FLOOR(epoch(ts)) AS BIGINT) AS et,
                      CAST(FLOOR(epoch(ts)) + {_LATE_DELAY} AS BIGINT)
                        AS arrival
               FROM events),
    g AS (SELECT user_id,
                 list_transform(list_sort(list_zip(
                     array_agg(arrival), array_agg(event_id),
                     array_agg(et))), p -> p[3]) AS xs
          FROM a GROUP BY user_id),
    s AS (SELECT user_id, xs, len(xs) AS n FROM g WHERE len(xs) >= 2),
    c AS (SELECT user_id, n, xs,
                 list_reduce(list_prepend(0,
                   list_transform(range(1, n + 1), i ->
                     len(list_filter(list_slice(xs, i + 1, n),
                                     v -> v < xs[i])))), (p, q) -> p + q)
                   AS n_disc,
                 list_reduce(list_prepend(0,
                   list_transform(range(1, n + 1), i ->
                     len(list_filter(list_slice(xs, i + 1, n),
                                     v -> v = xs[i])))), (p, q) -> p + q)
                   AS n_tie
          FROM s)
    SELECT user_id,
           CAST(n AS BIGINT) AS n_events,
           CAST(n_disc AS BIGINT) AS n_inversions,
           ROUND((n * (n - 1) / 2 - n_tie - 2.0e0 * n_disc)
                 / (n * (n - 1) / 2), 6) AS kendall_tau
    FROM c ORDER BY user_id
    """


@q("stream_disorder_kendall", oracle=_KT_SQL)
def stream_disorder_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream disorder per user: Kendall tau-a between event-time order
    and ARRIVAL order (arrival = event time + the same deterministic
    heavy-tailed delay as ``late_arrival_audit``) — tau 1.0 means the
    stream arrives perfectly ordered, every inversion is a pair a
    streaming operator must buffer past; together with the lateness
    audit this is how a watermark and a state-store budget are actually
    chosen.

    Exactness: inversion/tie counts are pure integer in-row folds over
    the per-user arrival-sorted event-time array (bounded per user);
    one float division per user at the end.

    Scale shape: one user-keyed partial-agg collect of a bounded array,
    O(n²) in-row counting (n = events/user), parallelism = user count.
    No window over raw rows, no join.
    """
    dl = F.expr(_LATE_DELAY).cast("long")
    a = t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_timestamp("ts").alias("et"),
        (F.unix_timestamp("ts") + dl).alias("arrival"),
    )
    g = a.groupBy("user_id").agg(
        F.sort_array(
            F.collect_list(F.struct("arrival", "event_id", "et"))
        ).alias("s")
    )
    xs = F.transform(F.col("s"), lambda r: r.et)
    s = g.select(
        "user_id", xs.alias("xs"), F.size(xs).alias("n")
    ).filter(F.col("n") >= 2)
    count_of = lambda cmp: F.aggregate(  # noqa: E731
        F.transform(
            F.sequence(F.lit(1), F.col("n")),
            lambda i: F.size(
                F.filter(
                    F.slice(F.col("xs"), i + 1, F.col("n")),
                    lambda v: cmp(v, F.element_at(F.col("xs"), i)),
                )
            ),
        ),
        F.lit(0),
        lambda p, q: p + q,
    )
    c = s.select(
        "user_id",
        "n",
        count_of(lambda v, x: v < x).alias("n_disc"),
        count_of(lambda v, x: v == x).alias("n_tie"),
    )
    pairs = F.col("n") * (F.col("n") - 1) / 2
    return c.select(
        "user_id",
        F.col("n").cast("long").alias("n_events"),
        F.col("n_disc").cast("long").alias("n_inversions"),
        F.round(
            (pairs - F.col("n_tie") - 2.0 * F.col("n_disc")) / pairs, 6
        ).alias("kendall_tau"),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# source diversity index (Shannon entropy / effective host count)
# ---------------------------------------------------------------------------

_DIV_SQL = """
    WITH d AS (SELECT source,
                      'example-' || CAST(doc_id % 7 AS VARCHAR) || '.co.uk'
                        AS host
               FROM documents),
    hc AS (SELECT source, host, CAST(COUNT(*) AS BIGINT) AS n
           FROM d GROUP BY source, host),
    st AS (SELECT source, CAST(SUM(n) AS BIGINT) AS tot,
                  CAST(COUNT(*) AS BIGINT) AS n_hosts
           FROM hc GROUP BY source),
    terms AS (SELECT hc.source, st.tot, st.n_hosts,
                     CAST(FLOOR(-(hc.n * 1.0e0 / st.tot)
                                * LN(hc.n * 1.0e0 / st.tot)
                                * 1000000000.0e0 + 5.0e-1) AS BIGINT) AS tu
              FROM hc JOIN st USING (source)),
    h AS (SELECT source, tot, n_hosts,
                 SUM(tu) * 1.0e0 / 1000000000.0e0 AS shannon
          FROM terms GROUP BY source, tot, n_hosts)
    SELECT source,
           CAST(tot AS BIGINT) AS n_docs,
           n_hosts,
           ROUND(shannon, 6) AS shannon_h,
           ROUND(EXP(shannon), 4) AS effective_hosts
    FROM h ORDER BY source
    """


@q("source_diversity_index", oracle=_DIV_SQL)
def source_diversity_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source diversity: Shannon entropy of each source's host mix and
    the effective host count exp(H) — the concentration metric a corpus
    curator reads next to ``corpus_mix_plan``: a source with 10 000 pages
    but 1.2 effective hosts is a mirror farm, not breadth
    (``mirror_source_matrix`` finds the pairs; this scores the
    concentration).

    Exactness: each host's -p·ln p term is computed once from an integer
    ratio and snapped to nano-units BEFORE the cross-host SUM (the
    power-sum discipline), so accumulation order cannot diverge; exp and
    the final rounds run once per source row.

    Scale shape: two partial-agg shuffles ((source, host), then source);
    the entropy sum runs over host rows (vocabulary-bounded).
    """
    d = t(spark, sf_dir, "documents").select(
        "source",
        F.concat(
            F.lit("example-"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".co.uk"),
        ).alias("host"),
    )
    hc = d.groupBy("source", "host").agg(
        F.count("*").cast("long").alias("n")
    )
    st = hc.groupBy("source").agg(
        F.sum("n").cast("long").alias("tot"),
        F.count("*").cast("long").alias("n_hosts"),
    )
    p = F.col("n") * 1.0 / F.col("tot")
    terms = hc.join(st, "source").select(
        "source",
        "tot",
        "n_hosts",
        F.floor(-p * F.log(p) * 1000000000.0 + 0.5)
        .cast("long")
        .alias("tu"),
    )
    h = terms.groupBy("source", "tot", "n_hosts").agg(
        (F.sum("tu") * 1.0 / 1000000000.0).alias("shannon")
    )
    return h.select(
        "source",
        F.col("tot").cast("long").alias("n_docs"),
        "n_hosts",
        F.round("shannon", 6).alias("shannon_h"),
        F.round(F.exp("shannon"), 4).alias("effective_hosts"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# split conformal prediction interval + coverage audit
# ---------------------------------------------------------------------------

_CONF_ALPHA_NUM = 9  # 90 % target: k = ceil(0.9 * (n_cal + 1))

_CONF_SQL = f"""
    WITH e AS (SELECT event_type, event_id,
                      CAST(FLOOR(value * 1000000.0e0 + 5.0e-1) AS BIGINT)
                        AS vu,
                      CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END AS cal
               FROM events),
    mu AS (SELECT event_type,
                  SUM(vu * cal) * 1.0e0 / SUM(cal) AS pred
           FROM e GROUP BY event_type),
    r AS (SELECT e.event_type, e.cal,
                 CAST(FLOOR(ABS(e.vu - m.pred) + 5.0e-1) AS BIGINT) AS ru
          FROM e JOIN mu m USING (event_type)),
    calq AS (SELECT event_type,
                    CAST(COUNT(*) AS BIGINT) AS n_cal,
                    list_sort(array_agg(ru)) AS rs
             FROM r WHERE cal = 1 GROUP BY event_type),
    q AS (SELECT event_type, n_cal,
                 rs[CAST(CEIL({_CONF_ALPHA_NUM} / 10.0e0 * (n_cal + 1))
                         AS BIGINT)] AS qu
          FROM calq),
    test AS (SELECT r.event_type,
                    CAST(COUNT(*) AS BIGINT) AS n_test,
                    CAST(SUM(CASE WHEN r.ru <= q.qu THEN 1 ELSE 0 END)
                         AS BIGINT) AS n_covered
             FROM r JOIN q USING (event_type) WHERE r.cal = 0
             GROUP BY r.event_type)
    SELECT q.event_type, q.n_cal, t.n_test,
           ROUND(q.qu / 1000000.0e0, 6) AS interval_radius,
           t.n_covered,
           ROUND(t.n_covered * 1.0e0 / t.n_test, 6) AS coverage
    FROM q JOIN test t USING (event_type) ORDER BY q.event_type
    """


@q("conformal_interval_audit", oracle=_CONF_SQL)
def conformal_interval_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split conformal prediction: the calibration half (event_id
    parity) fits a per-type mean predictor and takes the
    ceil(0.9·(n+1))-th smallest absolute residual as the 90 % interval
    radius; the held-out half then verifies empirical coverage — the
    distribution-free uncertainty guarantee (Vovk; the finite-sample
    companion to ``calibration_bins``: that audits probabilities, this
    audits intervals).

    Exactness: residuals snap to integer micro-units; the quantile is an
    EXACT order statistic — an in-row element_at on the per-type sorted
    residual array (group-bounded; at 100 TB the two-phase range-bucket
    selection of ``value_percentiles`` replaces the collect) — and
    coverage is integer counting with one final division.

    Scale shape: one type-keyed agg for the predictor, one for the
    calibration arrays, one for test coverage; types are few, rows
    stream through partial aggs.
    """
    e = t(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 1000000.0 + 0.5).cast("long").alias("vu"),
        F.when(F.col("event_id") % 2 == 0, 1).otherwise(0).alias("cal"),
    )
    mu = e.groupBy("event_type").agg(
        (
            F.sum(F.col("vu") * F.col("cal")) * 1.0 / F.sum("cal")
        ).alias("pred")
    )
    r = e.join(F.broadcast(mu), "event_type").select(
        "event_type",
        "cal",
        F.floor(F.abs(F.col("vu") - F.col("pred")) + 0.5)
        .cast("long")
        .alias("ru"),
    )
    calq = (
        r.filter(F.col("cal") == 1)
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_cal"),
            F.sort_array(F.collect_list("ru")).alias("rs"),
        )
    )
    k = F.ceil(_CONF_ALPHA_NUM / 10.0 * (F.col("n_cal") + 1)).cast("int")
    q_ = calq.select(
        "event_type", "n_cal", F.element_at("rs", k).alias("qu")
    )
    test = (
        r.filter(F.col("cal") == 0)
        .join(F.broadcast(q_), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_test"),
            F.sum((F.col("ru") <= F.col("qu")).cast("long"))
            .cast("long")
            .alias("n_covered"),
        )
    )
    return (
        q_.join(test, "event_type")
        .select(
            "event_type",
            "n_cal",
            "n_test",
            F.round(F.col("qu") / 1000000.0, 6).alias("interval_radius"),
            "n_covered",
            F.round(F.col("n_covered") * 1.0 / F.col("n_test"), 6).alias(
                "coverage"
            ),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Kaplan-Meier retention curve with right-censoring
# ---------------------------------------------------------------------------

_KM_SQL = """
    WITH u AS (SELECT user_id,
                      MIN(CAST(ts AS DATE)) AS first_day,
                      MAX(CAST(ts AS DATE)) AS last_day
               FROM events WHERE event_type = 'purchase'
               GROUP BY user_id),
    w AS (SELECT MAX(CAST(ts AS DATE)) AS wend FROM events),
    lt AS (SELECT u.user_id,
                  CAST(u.last_day - u.first_day AS BIGINT) AS t,
                  CASE WHEN u.last_day >= w.wend - 2 THEN 1 ELSE 0 END
                    AS censored
           FROM u, w),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users FROM lt),
    byt AS (SELECT t,
                   CAST(SUM(1 - censored) AS BIGINT) AS d,
                   CAST(SUM(censored) AS BIGINT) AS c
            FROM lt GROUP BY t),
    g AS (SELECT list_sort(array_agg(t)) AS ts_,
                 list_transform(list_sort(list_zip(array_agg(t),
                                                   array_agg(d))),
                                p -> p[2]) AS ds,
                 list_transform(list_sort(list_zip(array_agg(t),
                                                   array_agg(c))),
                                p -> p[2]) AS cs
          FROM byt),
    k AS (SELECT ts_, ds, cs, tot.n_users,
                 list_transform(range(1, len(ts_) + 1), i ->
                   tot.n_users
                   - list_reduce(list_prepend(0,
                       list_slice(ds, 1, i - 1)), (a, b) -> a + b)
                   - list_reduce(list_prepend(0,
                       list_slice(cs, 1, i - 1)), (a, b) -> a + b))
                   AS risks
          FROM g, tot),
    s AS (SELECT ts_, ds, cs, risks,
                 list_transform(range(1, len(ts_) + 1), i ->
                   list_reduce(list_prepend(1.0e0,
                     list_transform(range(1, i + 1), m ->
                       ROUND(1.0e0 - ds[m] * 1.0e0 / risks[m], 9))),
                     (a, b) -> a * b)) AS surv
          FROM k)
    SELECT UNNEST(ts_) AS t,
           CAST(UNNEST(risks) AS BIGINT) AS n_at_risk,
           CAST(UNNEST(ds) AS BIGINT) AS n_churned,
           CAST(UNNEST(cs) AS BIGINT) AS n_censored,
           ROUND(UNNEST(surv), 6) AS survival
    FROM s ORDER BY t
    """


@q("kaplan_meier_retention", oracle=_KM_SQL)
def kaplan_meier_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier product-limit retention curve with right-censoring:
    a user's purchase lifetime spans first to last purchase; users still
    purchasing near the observation-window end are CENSORED, not
    churned —
    the distinction ``cohort_retention``'s raw ratios cannot make, and
    the reason naive retention under-counts survivors. S(t) multiplies
    (1 - churned/at-risk) over event times, with censored users leaving
    the risk set without counting as deaths.

    Determinism: the curve folds in-row over the day-sorted (bounded)
    per-day count arrays — risk sets by integer prefix sums, survival by
    a left-fold product of 9-dp-snapped factors — so both engines
    compute identical doubles (the ``ewma_daily_values`` recursion
    discipline).

    Scale shape: one user-keyed agg (lifetimes), one day-keyed agg
    (counts), then a single bounded-array row (distinct days, ~30) does
    the curve; unbounded dimensions never meet a window or a fold.
    """
    ev = t(spark, sf_dir, "events")
    u = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.min(F.col("ts").cast("date")).alias("first_day"),
            F.max(F.col("ts").cast("date")).alias("last_day"),
        )
    )
    w = ev.agg(F.max(F.col("ts").cast("date")).alias("wend"))
    lt = u.crossJoin(F.broadcast(w)).select(
        F.datediff("last_day", "first_day").cast("long").alias("t"),
        F.when(
            F.datediff("wend", "last_day") <= 2, F.lit(1)
        ).otherwise(F.lit(0)).alias("censored"),
    )
    tot = lt.agg(F.count("*").cast("long").alias("n_users"))
    byt = lt.groupBy("t").agg(
        F.sum(F.lit(1) - F.col("censored")).cast("long").alias("d"),
        F.sum("censored").cast("long").alias("c"),
    )
    g = byt.agg(
        F.sort_array(F.collect_list(F.struct("t", "d", "c"))).alias("z")
    )
    ts_ = F.transform(F.col("z"), lambda r: r.t)
    ds = F.transform(F.col("z"), lambda r: r.d)
    cs = F.transform(F.col("z"), lambda r: r.c)
    base = g.crossJoin(F.broadcast(tot)).select(
        ts_.alias("ts_"), ds.alias("ds"), cs.alias("cs"), "n_users"
    )
    prefix = lambda arr, i: F.aggregate(  # noqa: E731
        F.slice(arr, 1, i - 1), F.lit(0).cast("long"), lambda a, b: a + b
    )
    risks = F.transform(
        F.sequence(F.lit(1), F.size(F.col("ts_"))),
        lambda i: F.col("n_users")
        - prefix(F.col("ds"), i)
        - prefix(F.col("cs"), i),
    )
    k = base.select("ts_", "ds", "cs", risks.alias("risks"))
    surv = F.transform(
        F.sequence(F.lit(1), F.size(F.col("ts_"))),
        lambda i: F.aggregate(
            F.transform(
                F.sequence(F.lit(1), i),
                lambda m: F.round(
                    F.lit(1.0)
                    - F.element_at(F.col("ds"), m)
                    * 1.0
                    / F.element_at(F.col("risks"), m),
                    9,
                ),
            ),
            F.lit(1.0),
            lambda a, b: a * b,
        ),
    )
    s = k.select("ts_", "ds", "cs", "risks", surv.alias("surv"))
    return (
        s.select(
            F.explode(
                F.arrays_zip(
                    F.col("ts_").alias("t"),
                    F.col("risks").alias("n_at_risk"),
                    F.col("ds").alias("n_churned"),
                    F.col("cs").alias("n_censored"),
                    F.col("surv").alias("survival"),
                )
            ).alias("r")
        )
        .select(
            F.col("r.t").cast("long").alias("t"),
            F.col("r.n_at_risk").cast("long").alias("n_at_risk"),
            F.col("r.n_churned").cast("long").alias("n_churned"),
            F.col("r.n_censored").cast("long").alias("n_censored"),
            F.round(F.col("r.survival"), 6).alias("survival"),
        )
        .orderBy("t")
    )


# ---------------------------------------------------------------------------
# mutual information between two discretised columns
# ---------------------------------------------------------------------------

_MI_SQL = """
    WITH d AS (SELECT (CAST(CAST(ts AS DATE) - DATE '1970-01-01'
                            AS INTEGER) + 4) % 7 AS dow,
                      CAST(FLOOR(value / 50.0e0) AS BIGINT) AS band
               FROM events),
    joint AS (SELECT dow, band, CAST(COUNT(*) AS BIGINT) AS nxy
              FROM d GROUP BY dow, band),
    mx AS (SELECT dow, CAST(SUM(nxy) AS BIGINT) AS nx FROM joint
           GROUP BY dow),
    my AS (SELECT band, CAST(SUM(nxy) AS BIGINT) AS ny FROM joint
           GROUP BY band),
    tot AS (SELECT CAST(SUM(nxy) AS BIGINT) AS n FROM joint),
    terms AS (SELECT j.dow, j.band, j.nxy,
                     CAST(FLOOR((j.nxy * 1.0e0 / t.n)
                                * LN((j.nxy * 1.0e0 * t.n)
                                     / (mx.nx * 1.0e0 * my.ny))
                                * 1000000000.0e0 + 5.0e-1) AS BIGINT)
                       AS tu
              FROM joint j JOIN mx USING (dow) JOIN my USING (band)
              CROSS JOIN tot t)
    SELECT dow, band, nxy,
           ROUND(tu / 1000000000.0e0, 6) AS mi_term,
           ROUND(SUM(tu) OVER () / 1000000000.0e0, 6) AS mutual_info
    FROM terms ORDER BY dow, band
    """


@q("mutual_information_profile", oracle=_MI_SQL)
def mutual_information_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between two discretised columns (day-of-week x
    50-unit value band): per-cell contribution p(x,y)·ln(p(x,y)/
    (p(x)p(y))) and the windowed total — the model-free dependency
    measure a feature-selection pass runs before ``target_encoding_loo``
    invests in a feature, and the bivariate counterpart of
    ``source_diversity_index``'s univariate entropy.

    Exactness: all probabilities are integer-count ratios; each cell's
    MI term is computed once and snapped to nano-units before the
    windowed SUM over (vocabulary-bounded) cells. Epoch-anchored dow.

    Scale shape: one (x, y) partial-agg shuffle; the marginals are
    re-aggregations of the joint table (never the raw rows); the total
    is a window over joint cells.
    """
    d = t(spark, sf_dir, "events").select(
        ((F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01")) + 4) % 7)
        .alias("dow"),
        F.floor(F.col("value") / 50.0).cast("long").alias("band"),
    )
    joint = d.groupBy("dow", "band").agg(
        F.count("*").cast("long").alias("nxy")
    )
    mx = joint.groupBy("dow").agg(F.sum("nxy").cast("long").alias("nx"))
    my = joint.groupBy("band").agg(F.sum("nxy").cast("long").alias("ny"))
    tot = joint.agg(F.sum("nxy").cast("long").alias("n"))
    terms = (
        joint.join(F.broadcast(mx), "dow")
        .join(F.broadcast(my), "band")
        .crossJoin(F.broadcast(tot))
        .select(
            "dow",
            "band",
            "nxy",
            F.floor(
                (F.col("nxy") * 1.0 / F.col("n"))
                * F.log(
                    (F.col("nxy") * 1.0 * F.col("n"))
                    / (F.col("nx") * 1.0 * F.col("ny"))
                )
                * 1000000000.0
                + 0.5
            )
            .cast("long")
            .alias("tu"),
        )
    )
    w = Window.partitionBy()
    return terms.select(
        "dow",
        "band",
        "nxy",
        F.round(F.col("tu") / 1000000000.0, 6).alias("mi_term"),
        F.round(F.sum("tu").over(w) / 1000000000.0, 6).alias("mutual_info"),
    ).orderBy("dow", "band")


# ---------------------------------------------------------------------------
# per-host h-index of page inlink counts
# ---------------------------------------------------------------------------

_HIDX_SQL = """
    WITH links AS (
      SELECT 'example-' || CAST((doc_id + 1) % 7 AS VARCHAR) || '.co.uk'
               AS dst_host,
             (doc_id * 2) % 50 AS dst_page
      FROM documents
      UNION ALL
      SELECT 'example-' || CAST((doc_id + 4) % 7 AS VARCHAR) || '.co.uk',
             (doc_id * 3) % 50
      FROM documents WHERE doc_id % 3 >= 1),
    inl AS (SELECT dst_host, dst_page,
                   CAST(COUNT(*) AS BIGINT) AS inlinks
            FROM links GROUP BY dst_host, dst_page),
    g AS (SELECT dst_host,
                 list_sort(array_agg(inlinks), 'DESC') AS xs,
                 CAST(COUNT(*) AS BIGINT) AS n_pages,
                 CAST(SUM(inlinks) AS BIGINT) AS total_inlinks
          FROM inl GROUP BY dst_host)
    SELECT dst_host AS host, n_pages, total_inlinks,
           CAST(len(list_filter(range(1, len(xs) + 1), i -> xs[i] >= i))
                AS BIGINT) AS h_index,
           CAST(xs[1] AS BIGINT) AS max_inlinks
    FROM g ORDER BY host
    """


@q("host_h_index", oracle=_HIDX_SQL)
def host_h_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host h-index over page inlink counts (the same synthetic link
    graph as ``outlink_host_graph``, page-granular): a host has h-index
    h if h of its pages have >= h inlinks each — the robust authority
    summary that a single viral page cannot inflate, complementing
    ``hits_hub_authority``'s eigenvector scores with a rank-based one.

    Exactness: pure integer counting; the h-index is computed in-row on
    the descending-sorted (bounded, pages-per-host) inlink array — with
    xs sorted descending, xs[i] >= i is monotone, so the count of
    positions satisfying it IS the h-index.

    Scale shape: one (host, page) partial agg, one host-keyed bounded
    collect; no window over raw rows.
    """
    d = t(spark, sf_dir, "documents").select("doc_id")
    l1 = d.select(
        F.concat(
            F.lit("example-"),
            ((F.col("doc_id") + 1) % 7).cast("string"),
            F.lit(".co.uk"),
        ).alias("dst_host"),
        ((F.col("doc_id") * 2) % 50).alias("dst_page"),
    )
    l2 = d.filter(F.col("doc_id") % 3 >= 1).select(
        F.concat(
            F.lit("example-"),
            ((F.col("doc_id") + 4) % 7).cast("string"),
            F.lit(".co.uk"),
        ).alias("dst_host"),
        ((F.col("doc_id") * 3) % 50).alias("dst_page"),
    )
    inl = (
        l1.unionAll(l2)
        .groupBy("dst_host", "dst_page")
        .agg(F.count("*").cast("long").alias("inlinks"))
    )
    g = inl.groupBy("dst_host").agg(
        F.reverse(F.sort_array(F.collect_list("inlinks"))).alias("xs"),
        F.count("*").cast("long").alias("n_pages"),
        F.sum("inlinks").cast("long").alias("total_inlinks"),
    )
    return g.select(
        F.col("dst_host").alias("host"),
        "n_pages",
        "total_inlinks",
        F.size(
            F.filter(
                F.sequence(F.lit(1), F.size("xs")),
                lambda i: F.element_at("xs", i) >= i,
            )
        )
        .cast("long")
        .alias("h_index"),
        F.element_at("xs", 1).cast("long").alias("max_inlinks"),
    ).orderBy("host")


# ---------------------------------------------------------------------------
# Gini coefficient of the value distribution per event type
# ---------------------------------------------------------------------------

_GINI_SQL = """
    WITH v AS (SELECT event_type, event_id,
                      CAST(FLOOR(value * 1000000.0e0 + 5.0e-1) AS BIGINT)
                        AS vu
               FROM events),
    r AS (SELECT event_type, vu,
                 ROW_NUMBER() OVER (PARTITION BY event_type
                                    ORDER BY vu, event_id) AS rk
          FROM v),
    s AS (SELECT event_type,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(vu) AS BIGINT) AS sv,
                 CAST(SUM(rk * vu) AS BIGINT) AS srv
          FROM r GROUP BY event_type)
    SELECT event_type, n,
           ROUND(sv / 1000000.0e0, 4) AS total_value,
           ROUND(2.0e0 * srv / (n * 1.0e0 * sv)
                 - (n + 1.0e0) / n, 6) AS gini
    FROM s ORDER BY event_type
    """


@q("value_gini_by_type", oracle=_GINI_SQL)
def value_gini_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of each event type's value distribution via the
    exact rank formula G = 2·Σ(i·x_(i))/(n·Σx) − (n+1)/n — the
    inequality/concentration measure a corpus curator reads beside
    ``source_diversity_index`` (entropy asks how many; Gini asks how
    unevenly) and the revenue analyst reads per segment.

    Exactness: values snap to integer micro-units, ranks come from a
    TYPE-KEYED window with a deterministic (value, event_id) tiebreak,
    and both Σx and Σ(i·x) are exact integer aggregates (the rank-weighted
    products stay far below int64 at any fixture SF); two float
    divisions per output row.

    Scale shape: one type-keyed window (never global) feeding one
    partial agg. At a trillion rows the same formula runs on the
    range-bucket rank machinery of ``analytics/ranking.py``.
    """
    v = t(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.floor(F.col("value") * 1000000.0 + 0.5).cast("long").alias("vu"),
    )
    w = Window.partitionBy("event_type").orderBy("vu", "event_id")
    r = v.select(
        "event_type", "vu", F.row_number().over(w).alias("rk")
    )
    s = r.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("vu").cast("long").alias("sv"),
        F.sum(F.col("rk") * F.col("vu")).cast("long").alias("srv"),
    )
    return s.select(
        "event_type",
        "n",
        F.round(F.col("sv") / 1000000.0, 4).alias("total_value"),
        F.round(
            2.0 * F.col("srv") / (F.col("n") * 1.0 * F.col("sv"))
            - (F.col("n") + 1.0) / F.col("n"),
            6,
        ).alias("gini"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# burst-episode detection over daily counts
# ---------------------------------------------------------------------------

_BURST_NUM = 3  # burst when day count * 2 > trailing-week mean * 3 (1.5x)
_BURST_DEN = 2
_BURST_WIN = 7

_BURST_SQL = f"""
    WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                          CAST(COUNT(*) AS BIGINT) AS n
                   FROM events WHERE value > 150.0e0
                   GROUP BY event_type, day),
    base AS (SELECT event_type, day, n,
                    SUM(n) OVER (PARTITION BY event_type ORDER BY day
                                 ROWS BETWEEN {_BURST_WIN} PRECEDING
                                      AND 1 PRECEDING) AS wsum,
                    COUNT(*) OVER (PARTITION BY event_type ORDER BY day
                                   ROWS BETWEEN {_BURST_WIN} PRECEDING
                                        AND 1 PRECEDING) AS wn
             FROM daily),
    flag AS (SELECT event_type, day, n,
                    CASE WHEN wn > 0
                          AND n * wn * {_BURST_DEN} > wsum * {_BURST_NUM}
                         THEN 1 ELSE 0 END AS is_burst
             FROM base),
    b AS (SELECT event_type, day, n,
                 CASE WHEN day - LAG(day) OVER
                        (PARTITION BY event_type ORDER BY day) = 1
                      THEN 0 ELSE 1 END AS is_new
          FROM flag WHERE is_burst = 1),
    ep AS (SELECT event_type, day, n,
                  SUM(is_new) OVER (PARTITION BY event_type ORDER BY day)
                    AS episode
           FROM b)
    SELECT event_type, CAST(episode AS BIGINT) AS episode,
           CAST(MIN(day) AS VARCHAR) AS start_day,
           CAST(MAX(day) AS VARCHAR) AS end_day,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(MAX(n) AS BIGINT) AS peak_count
    FROM ep GROUP BY event_type, episode
    ORDER BY event_type, episode
    """


@q("burst_episodes", oracle=_BURST_SQL)
def burst_episodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst-episode detection over the rare-event subseries (value >
    150 — the tail whose daily counts genuinely fluctuate; the full
    stream is flat by construction): a day bursts when its count
    exceeds 1.5x its trailing-week mean (integer cross-multiplication —
    no float rate), and consecutive burst days merge into episodes with
    start/end/peak — the episode-level output an incident review wants,
    where ``daily_anomalies`` gives per-day z-scores and
    ``cusum_changepoints`` gives a single alarm point.

    Scale shape: one (type, day) partial agg, then every window
    (trailing sum, lag, episode numbering) is TYPE-KEYED over day rows —
    bounded by the calendar, never by events.
    """
    ev = t(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("value") > 150.0)
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("n"))
    )
    wt = Window.partitionBy("event_type").orderBy("day")
    wr = wt.rowsBetween(-_BURST_WIN, -1)
    base = daily.select(
        "event_type",
        "day",
        "n",
        F.sum("n").over(wr).alias("wsum"),
        F.count("*").over(wr).alias("wn"),
    )
    flag = base.select(
        "event_type",
        "day",
        "n",
        F.when(
            (F.col("wn") > 0)
            & (
                F.col("n") * F.col("wn") * _BURST_DEN
                > F.col("wsum") * _BURST_NUM
            ),
            1,
        )
        .otherwise(0)
        .alias("is_burst"),
    )
    b = flag.filter(F.col("is_burst") == 1).withColumn(
        "is_new",
        F.when(
            F.datediff(
                "day", F.lag("day").over(wt)
            )
            == 1,
            F.lit(0),
        ).otherwise(F.lit(1)),
    )
    ep = b.withColumn(
        "episode",
        F.sum("is_new").over(
            wt.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        ep.groupBy("event_type", F.col("episode").cast("long").alias("episode"))
        .agg(
            F.min("day").cast("string").alias("start_day"),
            F.max("day").cast("string").alias("end_day"),
            F.count("*").cast("long").alias("n_days"),
            F.max("n").cast("long").alias("peak_count"),
        )
        .orderBy("event_type", "episode")
    )


# ---------------------------------------------------------------------------
# seasonal-naive forecast backtest (MAE / MAPE per type)
# ---------------------------------------------------------------------------

_SNAIVE_SQL = """
    WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                          CAST(FLOOR(SUM(value) * 1000000.0e0 + 5.0e-1)
                               AS BIGINT) AS vu
                   FROM events GROUP BY event_type, day),
    p AS (SELECT event_type, day, vu,
                 LAG(vu, 7) OVER (PARTITION BY event_type ORDER BY day)
                   AS pred
          FROM daily),
    e AS (SELECT event_type, vu, pred, ABS(vu - pred) AS err,
                 (ABS(vu - pred) * 1000000) // GREATEST(vu, 1) AS ape_u
          FROM p WHERE pred IS NOT NULL)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days_eval,
           ROUND(SUM(err) * 1.0e0 / COUNT(*) / 1000000.0e0, 4) AS mae,
           ROUND(SUM(ape_u) * 1.0e0 / COUNT(*) / 10000.0e0, 4)
             AS mape_pct
    FROM e GROUP BY event_type ORDER BY event_type
    """


@q("forecast_backtest_snaive", oracle=_SNAIVE_SQL)
def forecast_backtest_snaive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest: predict each day's per-type
    value sum with the same weekday last week (the baseline every
    forecasting system must beat) and score MAE and MAPE on the
    out-of-sample days — the missing forecasting-evaluation member of
    the monitoring family (``ewma_daily_values`` smooths,
    ``dow_seasonal_profile`` explains, this one MEASURES predictability;
    a type with 40 % sMAPE gets an anomaly threshold, not a forecast).

    Exactness: daily sums snap to integer micro-units; absolute errors
    and cross-multiplied percentage errors are exact integer aggregates;
    one division per metric per type.

    Scale shape: one (type, day) partial agg, one type-keyed lag window
    over day rows (calendar-bounded), one final partial agg.
    """
    daily = (
        t(spark, sf_dir, "events")
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(
            F.floor(F.sum("value") * 1000000.0 + 0.5)
            .cast("long")
            .alias("vu")
        )
    )
    w = Window.partitionBy("event_type").orderBy("day")
    p = daily.withColumn("pred", F.lag("vu", 7).over(w)).filter(
        F.col("pred").isNotNull()
    )
    e = p.select(
        "event_type",
        "vu",
        F.abs(F.col("vu") - F.col("pred")).alias("err"),
        F.expr(
            "(ABS(vu - pred) * 1000000) div GREATEST(vu, 1)"
        ).alias("ape_u"),
    )
    return (
        e.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_days_eval"),
            F.round(
                F.sum("err") * 1.0 / F.count("*") / 1000000.0, 4
            ).alias("mae"),
            F.round(
                F.sum("ape_u") * 1.0 / F.count("*") / 10000.0, 4
            ).alias("mape_pct"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# A/B test: two-proportion z statistic on conversion
# ---------------------------------------------------------------------------

_AB_SQL = """
    WITH u AS (SELECT user_id,
                      CASE WHEN (user_id * 2654435761) % 100 < 50
                           THEN 'A' ELSE 'B' END AS arm,
                      CAST(MAX(CASE WHEN event_type = 'purchase'
                                     AND value > 250.0e0
                                    THEN 1 ELSE 0 END) AS BIGINT)
                        AS converted
               FROM events GROUP BY user_id),
    c AS (SELECT arm,
                 CAST(COUNT(*) AS BIGINT) AS n_users,
                 CAST(SUM(converted) AS BIGINT) AS n_conv
          FROM u GROUP BY arm),
    w AS (SELECT MAX(CASE WHEN arm = 'A' THEN n_users END) AS na,
                 MAX(CASE WHEN arm = 'A' THEN n_conv END) AS ca,
                 MAX(CASE WHEN arm = 'B' THEN n_users END) AS nb,
                 MAX(CASE WHEN arm = 'B' THEN n_conv END) AS cb
          FROM c)
    SELECT na, ca, nb, cb,
           ROUND(ca * 1.0e0 / na, 6) AS rate_a,
           ROUND(cb * 1.0e0 / nb, 6) AS rate_b,
           ROUND((ca * 1.0e0 / na - cb * 1.0e0 / nb)
                 / SQRT(((ca + cb) * 1.0e0 / (na + nb))
                        * (1.0e0 - (ca + cb) * 1.0e0 / (na + nb))
                        * (1.0e0 / na + 1.0e0 / nb)), 6) AS z_stat
    FROM w
    """


@q("abtest_conversion_z", oracle=_AB_SQL)
def abtest_conversion_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on user conversion (a high-value purchase
    — every user makes SOME purchase in this fixture, so the raw flag
    saturates at rate 1.0 and the pooled variance collapses to zero)
    between experiment arms
    (deterministic multiplicative-hash split — the assignment function a
    real experimentation platform uses, so arms are user-stable and
    ~50/50): pooled-variance z statistic over per-arm conversion rates —
    the canonical A/B readout, complementing ``chi2_category_drift``
    (distribution drift) with the targeted one-metric test.

    Exactness: conversions are integer per-user MAX flags aggregated
    exactly; every float expression runs once on the single assembled
    row, written as identical text on both engines.

    Scale shape: one user-keyed partial agg, one 2-row arm rollup, one
    1-row pivot — the z arithmetic never sees row counts.
    """
    u = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("value") > 250.0),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("converted")
        )
        .select(
            F.when(
                (F.col("user_id") * 2654435761) % 100 < 50, "A"
            )
            .otherwise("B")
            .alias("arm"),
            "converted",
        )
    )
    c = u.groupBy("arm").agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("converted").cast("long").alias("n_conv"),
    )
    w = c.agg(
        F.max(F.when(F.col("arm") == "A", F.col("n_users"))).alias("na"),
        F.max(F.when(F.col("arm") == "A", F.col("n_conv"))).alias("ca"),
        F.max(F.when(F.col("arm") == "B", F.col("n_users"))).alias("nb"),
        F.max(F.when(F.col("arm") == "B", F.col("n_conv"))).alias("cb"),
    )
    ra = F.col("ca") * 1.0 / F.col("na")
    rb = F.col("cb") * 1.0 / F.col("nb")
    pool = (F.col("ca") + F.col("cb")) * 1.0 / (F.col("na") + F.col("nb"))
    return w.select(
        "na",
        "ca",
        "nb",
        "cb",
        F.round(ra, 6).alias("rate_a"),
        F.round(rb, 6).alias("rate_b"),
        F.round(
            (ra - rb)
            / F.sqrt(
                pool * (1.0 - pool) * (1.0 / F.col("na") + 1.0 / F.col("nb"))
            ),
            6,
        ).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# Mahalanobis-distance multivariate outliers over (value, inter-event gap)
# ---------------------------------------------------------------------------

_MAHA_TOP = 15

_MAHA_SQL = f"""
    WITH e AS (SELECT event_id, user_id, value,
                      CAST(FLOOR(epoch(ts)) AS BIGINT) AS s
               FROM events),
    g AS (SELECT event_id,
                 CAST(FLOOR(value * 1000.0e0 + 5.0e-1) AS BIGINT) AS v,
                 s - LAG(s) OVER (PARTITION BY user_id ORDER BY s,
                                  event_id) AS gap
          FROM e),
    f AS (SELECT event_id, v, gap FROM g WHERE gap IS NOT NULL),
    st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                  SUM(v) AS sv, SUM(gap) AS sg,
                  SUM(v * v) AS svv, SUM(gap * gap) AS sgg,
                  SUM(v * gap) AS svg
           FROM f),
    mo AS (SELECT n,
                  sv * 1.0e0 / n AS mv, sg * 1.0e0 / n AS mg,
                  svv * 1.0e0 / n - (sv * 1.0e0 / n) * (sv * 1.0e0 / n)
                    AS cvv,
                  sgg * 1.0e0 / n - (sg * 1.0e0 / n) * (sg * 1.0e0 / n)
                    AS cgg,
                  svg * 1.0e0 / n - (sv * 1.0e0 / n) * (sg * 1.0e0 / n)
                    AS cvg
           FROM st),
    d AS (SELECT f.event_id,
                 ROUND(((f.v - mo.mv) * (f.v - mo.mv) * mo.cgg
                        - 2.0e0 * (f.v - mo.mv) * (f.gap - mo.mg) * mo.cvg
                        + (f.gap - mo.mg) * (f.gap - mo.mg) * mo.cvv)
                       / (mo.cvv * mo.cgg - mo.cvg * mo.cvg), 4) AS d2
          FROM f CROSS JOIN mo)
    SELECT event_id, d2 FROM d
    ORDER BY d2 DESC, event_id LIMIT {_MAHA_TOP}
    """


@q("mahalanobis_outliers", oracle=_MAHA_SQL)
def mahalanobis_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multivariate outliers by Mahalanobis distance over (value,
    inter-event gap): the 2x2 covariance comes from exact integer power
    sums, its inverse is the closed form, and each event's squared
    distance accounts for the CORRELATION between the features — the
    points ``daily_anomalies``' univariate z-scores cannot flag (a
    large value alone may be normal; a large value arriving after an
    abnormal gap is not). Top-15 by distance.

    Exactness: all six moments are integer sums (milli-unit values,
    second-unit gaps — far below int64); the moment matrix and each
    row's quadratic form are identical float expressions from those
    integers; one ROUND per row.

    Scale shape: the gap feature is a user-keyed lag window; moments are
    ONE partial agg broadcast back as a 1-row cross join; top-k is
    TakeOrderedAndProject.
    """
    e = t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "value",
        F.unix_timestamp("ts").alias("s"),
    )
    w = Window.partitionBy("user_id").orderBy("s", "event_id")
    g = e.select(
        "event_id",
        F.floor(F.col("value") * 1000.0 + 0.5).cast("long").alias("v"),
        (F.col("s") - F.lag("s").over(w)).alias("gap"),
    )
    f = g.filter(F.col("gap").isNotNull())
    st = f.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("v").alias("sv"),
        F.sum("gap").alias("sg"),
        F.sum(F.col("v") * F.col("v")).alias("svv"),
        F.sum(F.col("gap") * F.col("gap")).alias("sgg"),
        F.sum(F.col("v") * F.col("gap")).alias("svg"),
    )
    mo = st.select(
        (F.col("sv") * 1.0 / F.col("n")).alias("mv"),
        (F.col("sg") * 1.0 / F.col("n")).alias("mg"),
        (
            F.col("svv") * 1.0 / F.col("n")
            - (F.col("sv") * 1.0 / F.col("n"))
            * (F.col("sv") * 1.0 / F.col("n"))
        ).alias("cvv"),
        (
            F.col("sgg") * 1.0 / F.col("n")
            - (F.col("sg") * 1.0 / F.col("n"))
            * (F.col("sg") * 1.0 / F.col("n"))
        ).alias("cgg"),
        (
            F.col("svg") * 1.0 / F.col("n")
            - (F.col("sv") * 1.0 / F.col("n"))
            * (F.col("sg") * 1.0 / F.col("n"))
        ).alias("cvg"),
    )
    d = f.crossJoin(F.broadcast(mo)).select(
        "event_id",
        F.round(
            (
                (F.col("v") - F.col("mv"))
                * (F.col("v") - F.col("mv"))
                * F.col("cgg")
                - 2.0
                * (F.col("v") - F.col("mv"))
                * (F.col("gap") - F.col("mg"))
                * F.col("cvg")
                + (F.col("gap") - F.col("mg"))
                * (F.col("gap") - F.col("mg"))
                * F.col("cvv")
            )
            / (F.col("cvv") * F.col("cgg") - F.col("cvg") * F.col("cvg")),
            4,
        ).alias("d2"),
    )
    return d.orderBy(F.col("d2").desc(), "event_id").limit(_MAHA_TOP)


# ---------------------------------------------------------------------------
# difference-in-differences estimate over arm x period cells
# ---------------------------------------------------------------------------

_DID_SQL = """
    WITH bounds AS (SELECT MIN(CAST(ts AS DATE)) AS d0,
                           MAX(CAST(ts AS DATE)) AS d1
                    FROM events),
    cells AS (SELECT CASE WHEN (user_id * 2654435761) % 100 < 50
                          THEN 'treat' ELSE 'control' END AS arm,
                     CASE WHEN CAST(ts AS DATE) - b.d0
                               <= (b.d1 - b.d0) // 2
                          THEN 'pre' ELSE 'post' END AS period,
                     CAST(FLOOR(value * 1000000.0e0 + 5.0e-1) AS BIGINT)
                       AS vu
              FROM events CROSS JOIN bounds b),
    m AS (SELECT arm, period,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 SUM(vu) AS s
          FROM cells GROUP BY arm, period),
    p AS (SELECT
            MAX(CASE WHEN arm = 'treat' AND period = 'pre'
                     THEN s * 1.0e0 / n / 1000000.0e0 END) AS t_pre,
            MAX(CASE WHEN arm = 'treat' AND period = 'post'
                     THEN s * 1.0e0 / n / 1000000.0e0 END) AS t_post,
            MAX(CASE WHEN arm = 'control' AND period = 'pre'
                     THEN s * 1.0e0 / n / 1000000.0e0 END) AS c_pre,
            MAX(CASE WHEN arm = 'control' AND period = 'post'
                     THEN s * 1.0e0 / n / 1000000.0e0 END) AS c_post
          FROM m)
    SELECT ROUND(t_pre, 6) AS treat_pre, ROUND(t_post, 6) AS treat_post,
           ROUND(c_pre, 6) AS control_pre, ROUND(c_post, 6) AS control_post,
           ROUND((t_post - t_pre) - (c_post - c_pre), 6) AS did_estimate
    FROM p
    """


@q("did_estimate", oracle=_DID_SQL)
def did_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: mean event value per (arm x period)
    cell — hash-assigned arms (the ``abtest_conversion_z`` split),
    periods split at the window midpoint — and the DiD estimator
    (Δtreat − Δcontrol), which cancels both arm-level baseline
    differences and period-level trends: the causal-inference workhorse
    when randomisation happens at assignment but the metric moves with
    time. On this null fixture the estimate is ~0 — exactly what an
    A/A-style validity check should produce.

    Exactness: values snap to integer micro-units, cell means are one
    division each from exact sums, and the estimator arithmetic runs on
    the single pivoted row (identical expression text).

    Scale shape: one partial agg on 4 cells, a 1-row pivot. The date
    bounds are a 1-row broadcast.
    """
    ev = t(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.col("ts").cast("date")).alias("d0"),
        F.max(F.col("ts").cast("date")).alias("d1"),
    )
    cells = ev.crossJoin(F.broadcast(bounds)).select(
        F.when((F.col("user_id") * 2654435761) % 100 < 50, "treat")
        .otherwise("control")
        .alias("arm"),
        F.when(
            F.datediff(F.col("ts").cast("date"), F.col("d0"))
            <= F.expr("datediff(d1, d0) div 2"),
            "pre",
        )
        .otherwise("post")
        .alias("period"),
        F.floor(F.col("value") * 1000000.0 + 0.5).cast("long").alias("vu"),
    )
    m = cells.groupBy("arm", "period").agg(
        F.count("*").cast("long").alias("n"), F.sum("vu").alias("s")
    )
    mean = F.col("s") * 1.0 / F.col("n") / 1000000.0
    p = m.agg(
        F.max(
            F.when(
                (F.col("arm") == "treat") & (F.col("period") == "pre"), mean
            )
        ).alias("t_pre"),
        F.max(
            F.when(
                (F.col("arm") == "treat") & (F.col("period") == "post"),
                mean,
            )
        ).alias("t_post"),
        F.max(
            F.when(
                (F.col("arm") == "control") & (F.col("period") == "pre"),
                mean,
            )
        ).alias("c_pre"),
        F.max(
            F.when(
                (F.col("arm") == "control") & (F.col("period") == "post"),
                mean,
            )
        ).alias("c_post"),
    )
    return p.select(
        F.round("t_pre", 6).alias("treat_pre"),
        F.round("t_post", 6).alias("treat_post"),
        F.round("c_pre", 6).alias("control_pre"),
        F.round("c_post", 6).alias("control_post"),
        F.round(
            (F.col("t_post") - F.col("t_pre"))
            - (F.col("c_post") - F.col("c_pre")),
            6,
        ).alias("did_estimate"),
    )


# ---------------------------------------------------------------------------
# Theil-Sen robust trend of the daily series
# ---------------------------------------------------------------------------

_TS_SQL = """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             ROUND(SUM(value), 6) AS x
      FROM events GROUP BY event_type, day),
    g AS (SELECT event_type,
                 list_transform(list_sort(list_zip(
                     array_agg(day), array_agg(x))), p -> p[1]) AS days,
                 list_transform(list_sort(list_zip(
                     array_agg(day), array_agg(x))), p -> p[2]) AS xs
          FROM daily GROUP BY event_type),
    s AS (SELECT event_type, len(xs) AS n,
                 list_sort(flatten(
                   list_transform(range(1, len(xs)), i ->
                     list_transform(range(i + 1, len(xs) + 1), j ->
                       ROUND((xs[j] - xs[i])
                             / CAST(days[j] - days[i] AS DOUBLE), 6)))))
                   AS slopes
          FROM g),
    m AS (SELECT event_type, n, len(slopes) AS np, slopes FROM s)
    SELECT event_type,
           CAST(n AS BIGINT) AS n_days,
           CAST(np AS BIGINT) AS n_pairs,
           ROUND(CASE WHEN np % 2 = 1 THEN slopes[(np + 1) // 2]
                      ELSE (slopes[np // 2] + slopes[np // 2 + 1]) / 2.0e0
                 END, 6) AS theil_sen_slope
    FROM m ORDER BY event_type
    """


@q("theil_sen_daily_trend", oracle=_TS_SQL)
def theil_sen_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per event type: the MEDIAN of all pairwise
    slopes of the daily series — a single wild day moves an OLS slope
    (``zipf_vocab_fit``'s regression machinery) arbitrarily but shifts
    this estimator by at most one rank; the robust-statistics member of
    the trend family.

    Determinism: pairwise slopes are computed in-row over the day-sorted
    snapped series, snapped to 6 dp, sorted in-row, and the median is an
    exact order statistic on that array — no cross-row float
    accumulation anywhere.

    Scale shape: one (type, day) partial agg, one per-type bounded-array
    collect, O(n_days²) in-row slopes; parallelism = key count.
    """
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.round(F.sum("value"), 6).alias("x"))
    g = daily.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("day", "x"))).alias("s")
    )
    xs = F.transform(F.col("s"), lambda r: r.x)
    days = F.transform(F.col("s"), lambda r: r.day)
    base = g.select(
        "event_type", xs.alias("xs"), days.alias("days"),
        F.size(xs).alias("n"),
    )
    slopes = F.sort_array(
        F.flatten(
            F.transform(
                # outer bound n-1: sequence(n+1, n) would generate a
                # DESCENDING [n+1, n] (the known gotcha) and index past
                # the array
                F.sequence(F.lit(1), F.col("n") - 1),
                lambda i: F.transform(
                    F.sequence(i + 1, F.col("n")),
                    lambda j: F.round(
                        (
                            F.element_at(F.col("xs"), j)
                            - F.element_at(F.col("xs"), i)
                        )
                        / F.datediff(
                            F.element_at(F.col("days"), j),
                            F.element_at(F.col("days"), i),
                        ).cast("double"),
                        6,
                    ),
                ),
            )
        )
    )
    s = base.select(
        "event_type", "n", slopes.alias("slopes")
    ).withColumn("np", F.size("slopes"))
    med = F.when(
        F.col("np") % 2 == 1,
        F.element_at(F.col("slopes"), ((F.col("np") + 1) / 2).cast("int")),
    ).otherwise(
        (
            F.element_at(F.col("slopes"), (F.col("np") / 2).cast("int"))
            + F.element_at(
                F.col("slopes"), (F.col("np") / 2).cast("int") + 1
            )
        )
        / 2.0
    )
    return s.select(
        "event_type",
        F.col("n").cast("long").alias("n_days"),
        F.col("np").cast("long").alias("n_pairs"),
        F.round(med, 6).alias("theil_sen_slope"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# conditional entropy of event-type transitions (sequence predictability)
# ---------------------------------------------------------------------------

_TE_ENT_SQL = """
    WITH s AS (SELECT user_id, event_type,
                      LEAD(event_type) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id)
                        AS next_type
               FROM events),
    tr AS (SELECT event_type AS cur, next_type AS nxt,
                  CAST(COUNT(*) AS BIGINT) AS n
           FROM s WHERE next_type IS NOT NULL GROUP BY cur, nxt),
    row_t AS (SELECT cur, CAST(SUM(n) AS BIGINT) AS rn FROM tr
              GROUP BY cur),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS tn FROM tr),
    terms AS (SELECT tr.cur, tr.nxt, tr.n, row_t.rn,
                     CAST(FLOOR(-(tr.n * 1.0e0 / row_t.rn)
                                * LN(tr.n * 1.0e0 / row_t.rn)
                                * 1000000000.0e0 + 5.0e-1) AS BIGINT)
                       AS hu
              FROM tr JOIN row_t USING (cur)),
    per_cur AS (SELECT t.cur, MAX(t.rn) AS rn,
                       SUM(t.hu) AS hrow_u
                FROM terms t GROUP BY t.cur)
    SELECT p.cur AS event_type,
           CAST(p.rn AS BIGINT) AS n_transitions,
           ROUND(p.hrow_u / 1000000000.0e0, 6) AS h_next_given_cur,
           ROUND(SUM(p.rn * p.hrow_u) OVER ()
                 / (SUM(p.rn) OVER ()) / 1000000000.0e0, 6)
             AS conditional_entropy
    FROM per_cur p ORDER BY event_type
    """


@q("transition_entropy", oracle=_TE_ENT_SQL)
def transition_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional entropy H(next | current) of the per-user event-type
    sequence: per current type, the entropy of its next-step
    distribution, plus the row-weighted total — the predictability
    number behind ``event_transition_counts``' raw matrix (0 bits =
    deterministic sessions worth modelling; log2(k) = noise) and the
    sequence-level sibling of ``source_diversity_index``.

    Exactness: transition counts are integers from ONE user-keyed LEAD
    window; each -p·ln p term is computed once from an integer ratio and
    snapped to nano-units before any cross-row SUM; the weighted total
    uses integer-count weights over (vocabulary²-bounded) rows.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = t(spark, sf_dir, "events").select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    )
    tr = (
        s.filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("cur"),
            F.col("next_type").alias("nxt"),
        )
        .agg(F.count("*").cast("long").alias("n"))
    )
    row_t = tr.groupBy("cur").agg(F.sum("n").cast("long").alias("rn"))
    p = F.col("n") * 1.0 / F.col("rn")
    terms = tr.join(F.broadcast(row_t), "cur").select(
        "cur",
        "rn",
        F.floor(-p * F.log(p) * 1000000000.0 + 0.5)
        .cast("long")
        .alias("hu"),
    )
    per_cur = terms.groupBy("cur").agg(
        F.max("rn").alias("rn"), F.sum("hu").alias("hrow_u")
    )
    win = Window.partitionBy()
    return per_cur.select(
        F.col("cur").alias("event_type"),
        F.col("rn").cast("long").alias("n_transitions"),
        F.round(F.col("hrow_u") / 1000000000.0, 6).alias(
            "h_next_given_cur"
        ),
        F.round(
            F.sum(F.col("rn") * F.col("hrow_u")).over(win)
            / F.sum("rn").over(win)
            / 1000000000.0,
            6,
        ).alias("conditional_entropy"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Benford first-digit audit
# ---------------------------------------------------------------------------

_BENFORD_SQL = """
    WITH d AS (SELECT CAST(substring(CAST(CAST(FLOOR(value * 100.0e0
                                                      + 5.0e-1) AS BIGINT)
                                          AS VARCHAR), 1, 1) AS BIGINT)
                        AS digit
               FROM events WHERE value >= 0.01e0),
    c AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d
          WHERE digit BETWEEN 1 AND 9 GROUP BY digit),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS tn FROM c),
    x AS (SELECT c.digit, c.n, tot.tn,
                 ROUND(LOG10(1.0e0 + 1.0e0 / c.digit), 6) AS benford_p,
                 ROUND(c.n * 1.0e0 / tot.tn, 6) AS observed_p
          FROM c CROSS JOIN tot),
    y AS (SELECT digit, n, benford_p, observed_p,
                 CAST(FLOOR((n - tn * ROUND(LOG10(1.0e0 + 1.0e0 / digit),
                                            6))
                            * (n - tn * ROUND(LOG10(1.0e0 + 1.0e0
                                                    / digit), 6))
                            / (tn * ROUND(LOG10(1.0e0 + 1.0e0 / digit),
                                          6))
                            * 1000000.0e0 + 5.0e-1) AS BIGINT) AS cu
          FROM x)
    SELECT digit, n, benford_p, observed_p,
           ROUND(SUM(cu) OVER () / 1000000.0e0, 4) AS chi2_vs_benford
    FROM y ORDER BY digit
    """


@q("benford_audit", oracle=_BENFORD_SQL)
def benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit: the leading-digit distribution of the
    value column against Benford's law (P(d) = log10(1 + 1/d)) with a
    chi-square statistic — the classic fabricated-data / unit-mixing
    detector an ingest pipeline runs on numeric columns (this fixture's
    bounded-uniform values genuinely violate Benford, and the audit says
    by how much). Complements ``chi2_category_drift`` (two observed
    samples) with the one-sample goodness-of-fit member.

    Exactness: digits come from integer string manipulation on
    cent-scaled values; counts are integers; expectations use the
    6-dp-snapped Benford constants, each chi-square term snapped to
    micro-units before the windowed total over <= 9 rows.

    Scale shape: one digit-keyed partial agg; everything after runs on
    nine rows.
    """
    d = t(spark, sf_dir, "events").filter(F.col("value") >= 0.01).select(
        F.substring(
            F.floor(F.col("value") * 100.0 + 0.5).cast("long").cast("string"),
            1,
            1,
        )
        .cast("long")
        .alias("digit")
    )
    c = d.filter(F.col("digit").between(1, 9)).groupBy("digit").agg(
        F.count("*").cast("long").alias("n")
    )
    tot = c.agg(F.sum("n").cast("long").alias("tn"))
    bp = F.round(F.log10(1.0 + 1.0 / F.col("digit")), 6)
    x = c.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n",
        "tn",
        bp.alias("benford_p"),
        F.round(F.col("n") * 1.0 / F.col("tn"), 6).alias("observed_p"),
    )
    y = x.select(
        "digit",
        "n",
        "benford_p",
        "observed_p",
        F.floor(
            (F.col("n") - F.col("tn") * F.col("benford_p"))
            * (F.col("n") - F.col("tn") * F.col("benford_p"))
            / (F.col("tn") * F.col("benford_p"))
            * 1000000.0
            + 0.5
        )
        .cast("long")
        .alias("cu"),
    )
    w = Window.partitionBy()
    return y.select(
        "digit",
        "n",
        "benford_p",
        "observed_p",
        F.round(F.sum("cu").over(w) / 1000000.0, 4).alias(
            "chi2_vs_benford"
        ),
    ).orderBy("digit")


# ---------------------------------------------------------------------------
# Hill estimator of the value distribution's tail index
# ---------------------------------------------------------------------------

_HILL_K = 100

_HILL_SQL = f"""
    WITH topk AS (SELECT value FROM events
                  WHERE value > 0.0e0
                  ORDER BY value DESC, event_id LIMIT {_HILL_K + 1}),
    g AS (SELECT list_sort(array_agg(value), 'DESC') AS xs FROM topk),
    h AS (SELECT len(xs) AS m,
                 list_reduce(list_prepend(0.0e0,
                   list_transform(range(1, {_HILL_K} + 1), i ->
                     ROUND(LN(xs[i] / xs[{_HILL_K + 1}]), 10))),
                   (a, b) -> a + b) / {_HILL_K}.0e0 AS hill
          FROM g)
    SELECT CAST({_HILL_K} AS BIGINT) AS k,
           ROUND(hill, 6) AS hill_estimate,
           ROUND(1.0e0 / hill, 4) AS tail_alpha
    FROM h
    """


@q("hill_tail_index", oracle=_HILL_SQL)
def hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the value tail index over the top-100 order
    statistics (H = mean ln(x_(i)/x_(k+1)); tail exponent α = 1/H) — the
    heavy-tail detector that decides whether a metric HAS a finite
    variance before anyone trusts a z-score on it (``daily_anomalies``
    and ``mahalanobis_outliers`` assume it; ``zipf_vocab_fit`` measures
    the analogous exponent for frequencies).

    Determinism: the top-(k+1) sample is TakeOrdered with an id
    tiebreak; log ratios are computed in-row over the descending-sorted
    array, snapped to 10 dp, and left-folded — no cross-row float sums.
    """
    ev = t(spark, sf_dir, "events").filter(F.col("value") > 0.0)
    topk = (
        ev.select("value", "event_id")
        .orderBy(F.col("value").desc(), "event_id")
        .limit(_HILL_K + 1)
    )
    g = topk.agg(
        F.reverse(F.sort_array(F.collect_list("value"))).alias("xs")
    )
    hill = (
        F.aggregate(
            F.transform(
                F.sequence(F.lit(1), F.lit(_HILL_K)),
                lambda i: F.round(
                    F.log(
                        F.element_at(F.col("xs"), i)
                        / F.element_at(F.col("xs"), _HILL_K + 1)
                    ),
                    10,
                ),
            ),
            F.lit(0.0),
            lambda a, b: a + b,
        )
        / float(_HILL_K)
    )
    return g.select(
        F.lit(_HILL_K).cast("long").alias("k"),
        F.round(hill, 6).alias("hill_estimate"),
        F.round(1.0 / hill, 4).alias("tail_alpha"),
    )


# ---------------------------------------------------------------------------
# k-core decomposition by iterative peeling (unrolled-round oracle)
# ---------------------------------------------------------------------------

_KC_H = 29  # planted-hub node count
_KC_K = 5  # core threshold
_KC_ROUNDS = 4  # fixpoint by round 3 on every test SF; round 4 confirms


def _kcore_edges_cte() -> str:
    return f"""
    raw AS (
      SELECT doc_id AS u, doc_id + 1 + doc_id % 6 AS v
      FROM documents
      UNION ALL
      SELECT (doc_id * 13 + (doc_id // {_KC_H}) * 17) % {_KC_H} AS u,
             (doc_id * 31 + (doc_id // {_KC_H}) * 23 + 7) % {_KC_H} AS v
      FROM documents WHERE doc_id % 9 < 2),
    e0 AS (SELECT DISTINCT LEAST(u, v) AS a, GREATEST(u, v) AS b
           FROM raw WHERE u <> v)"""


def _kcore_sql() -> str:
    parts = [_kcore_edges_cte()]
    prev = "e0"
    for i in range(1, _KC_ROUNDS + 1):
        parts.append(
            f"""
    deg{i} AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT a AS n FROM {prev} UNION ALL SELECT b AS n FROM {prev}) z
      GROUP BY n),
    keep{i} AS (SELECT n FROM deg{i} WHERE d >= {_KC_K}),
    e{i} AS (SELECT s.a, s.b FROM {prev} s
             JOIN keep{i} ka ON s.a = ka.n
             JOIN keep{i} kb ON s.b = kb.n)"""
        )
        prev = f"e{i}"
    last, conf = f"e{_KC_ROUNDS - 1}", f"e{_KC_ROUNDS}"
    return f"""
    WITH {",".join(parts)}
    SELECT CAST({_KC_K} AS BIGINT) AS k,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM
              (SELECT a AS n FROM {last}
               UNION SELECT b AS n FROM {last}) z) AS core_nodes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM {last}) AS core_edges,
           CAST((SELECT COUNT(*) FROM {last})
                = (SELECT COUNT(*) FROM {conf}) AS BOOLEAN) AS converged
    """


@q("kcore_peel", oracle=_kcore_sql())
def kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core decomposition of the planted-hub link graph (dense 29-node
    hub + degree-~2 chain periphery): iteratively peel nodes of degree
    < k until fixpoint — the standard graph-hygiene primitive (spam-farm
    and boilerplate-link pruning keep only the k-core; the complement of
    ``frontier_bfs_depths``' reachability and ``cluster_modularity``'s
    communities). The periphery strips in round 1, hub-fringe nodes that
    leaned on peripheral support cascade in rounds 2-3 — a genuine
    multi-round peel, not all-or-nothing (the Erdős–Rényi threshold
    behaviour that makes naive random fixtures degenerate here; the
    fixture mixes the doc-id high digit into the hub map, the
    ``triangle_count`` functional-graph lesson).

    The Spark side peels exactly the oracle's unrolled round count with
    a lineage-cut loop and emits a `converged` flag (last round peeled
    nothing) — the pytest asserts it is true AND that a Python peel
    agrees, so the fixed unroll is provably the true fixpoint.

    Scale shape: each round is one degree partial-agg + two semi-join
    prunes on 8-byte keys (the ``dedup_clusters`` discipline,
    a cut between rounds); rounds are O(peel depth), and real
    web graphs peel shallowly.
    """
    docs = t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    raw = docs.select(
        d.alias("u"), (d + 1 + d % 6).alias("v")
    ).unionAll(
        docs.filter(d % 9 < 2).select(
            ((d * 13 + (d / _KC_H).cast("long") * 17) % _KC_H).alias("u"),
            (
                (d * 31 + (d / _KC_H).cast("long") * 23 + 7) % _KC_H
            ).alias("v"),
        )
    )
    e = (
        raw.filter(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
        )
        .distinct()
        .transform(cut)
    )
    prev_count = e.count()
    last_peel_count = prev_count
    for i in range(_KC_ROUNDS):
        deg = (
            e.select(F.col("a").alias("n"))
            .unionAll(e.select(F.col("b").alias("n")))
            .groupBy("n")
            .agg(F.count("*").cast("long").alias("d"))
        )
        keep = deg.filter(F.col("d") >= _KC_K).select("n")
        e = (
            e.join(keep.withColumnRenamed("n", "a"), "a")
            .join(keep.withColumnRenamed("n", "b"), "b")
            .select("a", "b")
            .transform(cut)
        )
        if i == _KC_ROUNDS - 2:
            last_peel_count = e.count()
    final_count = e.count()
    nodes = (
        e.select(F.col("a").alias("n"))
        .union(e.select(F.col("b").alias("n")))
        .distinct()
        .count()
    )
    spark_ = spark
    return spark_.createDataFrame(
        [(int(_KC_K), int(nodes), int(last_peel_count),
          bool(final_count == last_peel_count))],
        "k long, core_nodes long, core_edges long, converged boolean",
    )


# ---------------------------------------------------------------------------
# Adamic-Adar link prediction (common-neighbor scoring over the link graph)
# ---------------------------------------------------------------------------

_AA_TOPK = 50

_AA_N = 211  # node-space modulus; larger than triangle_count's 61 so the
# graph stays SPARSE at every test SF — at sf0.1 the 61-node graph
# saturates (every pair becomes an edge) and the non-edge candidate set,
# the whole point of link prediction, would be empty

_AA_SQL = f"""
    WITH raw AS (
      SELECT doc_id % {_AA_N} AS u,
             ((doc_id // {_AA_N}) * 2311 + doc_id * 7919 + 13) % {_AA_N} AS v
      FROM documents),
    e AS (
      SELECT DISTINCT LEAST(u, v) AS a, GREATEST(u, v) AS b
      FROM raw WHERE u <> v),
    adj AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b AS u, a AS v FROM e),
    deg AS (SELECT u AS n, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY u),
    wedge AS (
      SELECT a1.u AS m, a1.v AS p, a2.v AS q
      FROM adj a1 JOIN adj a2 ON a1.u = a2.u AND a1.v < a2.v),
    cand AS (
      SELECT w.p, w.q, w.m FROM wedge w
      LEFT JOIN e ON e.a = w.p AND e.b = w.q
      WHERE e.a IS NULL),
    scored AS (
      SELECT c.p AS u, c.q AS v,
             CAST(COUNT(*) AS BIGINT) AS n_common,
             CAST(SUM(CAST(ROUND(1.0e6 / LN(CAST(deg.d AS DOUBLE)))
                           AS BIGINT)) AS BIGINT) AS aa_micro
      FROM cand c JOIN deg ON deg.n = c.m
      GROUP BY c.p, c.q)
    SELECT u, v, n_common,
           ROUND(aa_micro * 1.0e-6, 6) AS aa_score
    FROM scored
    ORDER BY aa_micro DESC, u, v LIMIT {_AA_TOPK}
    """


@q("adamic_adar_linkpred", oracle=_AA_SQL)
def adamic_adar_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction over the ``triangle_count``-style
    link graph (sparser node space): for node pairs NOT already connected, score by
    the common neighbors weighted 1/ln(degree) (rare shared neighbors
    are more predictive than hubs) and return the top-k candidate edges
    — the classic who-to-crawl-next / related-host primitive.

    Float discipline: each 1/ln(deg) term is snapped to integer
    MICRO-units before summation, so the cross-engine aggregate is pure
    int64 regardless of summation order (the ``hill_tail_index`` log-fold
    discipline); floats reappear only at the display ROUND.

    Scale shape: wedges via one adjacency self-equi-join on the center
    node (hub-bounded by the same degree-orientation argument as
    ``triangle_count``'s wedge stage), existing edges removed with a
    broadcast-able anti-join on the pair key, one pair-keyed partial
    agg, and the top-k is TakeOrderedAndProject — no global sort.
    """
    docs = t(spark, sf_dir, "documents").select("doc_id")
    raw = docs.select(
        (F.col("doc_id") % _AA_N).alias("u"),
        (
            (
                (F.col("doc_id") / _AA_N).cast("long") * 2311
                + F.col("doc_id") * 7919
                + 13
            )
            % _AA_N
        ).alias("v"),
    ).where(F.col("u") != F.col("v"))
    e = raw.select(
        F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
    ).distinct()
    adj = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    deg = adj.groupBy(F.col("u").alias("n")).agg(
        F.count("*").cast("long").alias("d")
    )
    a1 = adj.select(F.col("u").alias("m"), F.col("v").alias("p"))
    a2 = adj.select(F.col("u").alias("m"), F.col("v").alias("q"))
    wedge = a1.join(a2, "m").where(F.col("p") < F.col("q"))
    cand = wedge.join(
        e, (e["a"] == wedge["p"]) & (e["b"] == wedge["q"]), "left_anti"
    )
    term = F.round(F.lit(1.0e6) / F.log(F.col("d").cast("double"))).cast(
        "long"
    )
    scored = (
        cand.join(deg, cand["m"] == deg["n"])
        .groupBy(F.col("p").alias("u"), F.col("q").alias("v"))
        .agg(
            F.count("*").cast("long").alias("n_common"),
            F.sum(term).cast("long").alias("aa_micro"),
        )
    )
    return (
        scored.orderBy(F.desc("aa_micro"), "u", "v")
        .limit(_AA_TOPK)
        .select(
            "u",
            "v",
            "n_common",
            F.round(F.col("aa_micro") * F.lit(1.0e-6), 6).alias("aa_score"),
        )
    )


# ---------------------------------------------------------------------------
# Mann-Whitney U drift test (rank-sum complement of ks_value_drift)
# ---------------------------------------------------------------------------

_MW_BINS = 1000  # value quantization (cents mod 1000) — bins the pooled
# ranking so the rank walk runs over a ≤1000-row POST-AGG relation (never
# a per-row global sort), and deliberately creates heavy ties so the
# tie-corrected variance path is actually exercised

_MW_SQL = f"""
    WITH ev AS (
      SELECT CAST(FLOOR(value * 100.0e0) AS BIGINT) % {_MW_BINS} AS v,
             CASE WHEN CAST(date_trunc('day', ts) AS DATE)
                       <= DATE '2024-01-15' THEN 1 ELSE 0 END AS is_a
      FROM events),
    bins AS (
      SELECT v, CAST(SUM(is_a) AS BIGINT) AS na,
             CAST(SUM(1 - is_a) AS BIGINT) AS nb
      FROM ev GROUP BY v),
    ranked AS (
      SELECT v, na, nb, na + nb AS t,
             CAST(COALESCE(SUM(na + nb) OVER (
               ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0) AS BIGINT) AS prior
      FROM bins),
    agg AS (
      SELECT CAST(SUM(na) AS BIGINT) AS n_a,
             CAST(SUM(nb) AS BIGINT) AS n_b,
             SUM(na * (prior + (t + 1) * 0.5e0)) AS r_a,
             SUM(CAST(t AS DOUBLE) * t * t - t) AS ties,
             CAST(COUNT(*) AS BIGINT) AS n_bins
      FROM ranked)
    SELECT n_a, n_b, n_bins,
           ROUND(r_a - n_a * (n_a + 1) * 0.5e0, 1) AS u_stat,
           ROUND((r_a - n_a * (n_a + 1) * 0.5e0 - n_a * 1.0e0 * n_b * 0.5e0)
                 / SQRT(n_a * 1.0e0 * n_b / 12.0e0
                        * ((n_a + n_b + 1)
                           - ties / ((n_a + n_b) * 1.0e0
                                     * (n_a + n_b - 1)))), 6) AS z_score
    FROM agg
    """


@q("mann_whitney_drift", oracle=_MW_SQL)
def mann_whitney_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) drift test between the first
    and second half of the crawl month — the rank-based complement of
    ``ks_value_drift`` (location shift vs distribution shape) with the
    tie-corrected normal approximation.

    Exactness argument: per-bin counts are int64; average ranks are
    half-integers, so every rank-sum partial is a dyadic rational far
    below 2^52 — the double-typed sums are EXACT regardless of
    aggregation order on both engines (no snap needed before the final
    ROUND); the tie term t³-t stays < 2^52 for any non-degenerate bin
    occupancy.

    Scale shape: one bin-keyed partial agg over the raw table; the rank
    walk (cumulative prior-count window) runs over the ≤1000-row
    post-agg bin relation — the ``quadkey_tile_counts`` post-agg-window
    discipline, never a per-row global sort.
    """
    ev = t(spark, sf_dir, "events").select(
        (F.floor(F.col("value") * 100.0).cast("long") % _MW_BINS).alias("v"),
        F.when(
            F.to_date(F.date_trunc("day", "ts")) <= F.lit("2024-01-15").cast("date"),
            1,
        )
        .otherwise(0)
        .alias("is_a"),
    )
    bins = ev.groupBy("v").agg(
        F.sum("is_a").cast("long").alias("na"),
        F.sum(1 - F.col("is_a")).cast("long").alias("nb"),
    )
    w = (
        Window.orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = bins.select(
        "v",
        "na",
        "nb",
        (F.col("na") + F.col("nb")).alias("t"),
        F.coalesce(
            F.sum(F.col("na") + F.col("nb")).over(w), F.lit(0)
        )
        .cast("long")
        .alias("prior"),
    )
    agg = ranked.agg(
        F.sum("na").cast("long").alias("n_a"),
        F.sum("nb").cast("long").alias("n_b"),
        F.sum(
            F.col("na") * (F.col("prior") + (F.col("t") + 1) * F.lit(0.5))
        ).alias("r_a"),
        F.sum(
            F.col("t").cast("double") * F.col("t") * F.col("t") - F.col("t")
        ).alias("ties"),
        F.count("*").cast("long").alias("n_bins"),
    )
    na, nb = F.col("n_a"), F.col("n_b")
    u = F.col("r_a") - na * (na + 1) * F.lit(0.5)
    mu = na * F.lit(1.0) * nb * F.lit(0.5)
    sigma = F.sqrt(
        na * F.lit(1.0) * nb / F.lit(12.0)
        * (
            (na + nb + 1)
            - F.col("ties") / ((na + nb) * F.lit(1.0) * (na + nb - 1))
        )
    )
    return agg.select(
        "n_a",
        "n_b",
        "n_bins",
        F.round(u, 1).alias("u_stat"),
        F.round((u - mu) / sigma, 6).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# degree assortativity (Newman's r over the link graph)
# ---------------------------------------------------------------------------

_ASSORT_SQL = f"""
    WITH raw AS (
      SELECT doc_id % {{n}} AS u,
             ((doc_id // {{n}}) * 2311 + doc_id * 7919 + 13) % {{n}} AS v
      FROM documents),
    e AS (
      SELECT DISTINCT LEAST(u, v) AS a, GREATEST(u, v) AS b
      FROM raw WHERE u <> v),
    adj AS (SELECT a AS u, b AS v FROM e
            UNION ALL SELECT b AS u, a AS v FROM e),
    deg AS (SELECT u AS n, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY u),
    pairs AS (
      SELECT da.d AS x, db.d AS y
      FROM adj JOIN deg da ON da.n = adj.u JOIN deg db ON db.n = adj.v),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m2,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx
      FROM pairs)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
           ROUND((m2 * 1.0e0 * sxy - sx * 1.0e0 * sx)
                 / (m2 * 1.0e0 * sxx - sx * 1.0e0 * sx), 6)
             AS assortativity
    FROM s
    """.replace("{n}", str(_AA_N))


@q("degree_assortativity", oracle=_ASSORT_SQL)
def degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman degree assortativity of the link graph (do hubs link to
    hubs?) — the summary statistic beside ``graph_reciprocity`` (edge
    symmetry) and ``cluster_modularity`` (community strength). Computed
    as the Pearson correlation of end-point degrees over DIRECTED edge
    slots (each undirected edge contributes both orientations, making
    the x/y marginals identical — the standard undirected convention,
    so Sy == Sx and Syy == Sxx need not be computed twice).

    Exactness: every sum is an int64 power sum (degrees are small
    integers); floats appear only in the final closed-form division —
    aggregation order cannot perturb the output (the ``ols_multifeature``
    discipline).

    Scale shape: one degree agg, one edge-to-degree equi-join each side
    (degree relation broadcasts), one global partial agg to six scalars.
    """
    docs = t(spark, sf_dir, "documents").select("doc_id")
    raw = docs.select(
        (F.col("doc_id") % _AA_N).alias("u"),
        (
            (
                (F.col("doc_id") / _AA_N).cast("long") * 2311
                + F.col("doc_id") * 7919
                + 13
            )
            % _AA_N
        ).alias("v"),
    ).where(F.col("u") != F.col("v"))
    e = raw.select(
        F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
    ).distinct()
    adj = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    deg = adj.groupBy(F.col("u").alias("n")).agg(
        F.count("*").cast("long").alias("d")
    )
    da = deg.select(F.col("n").alias("nu"), F.col("d").alias("x"))
    db = deg.select(F.col("n").alias("nv"), F.col("d").alias("y"))
    pairs = (
        adj.join(F.broadcast(da), adj["u"] == da["nu"])
        .join(F.broadcast(db), adj["v"] == db["nv"])
        .select("x", "y")
    )
    s = pairs.agg(
        F.count("*").cast("long").alias("m2"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    n_nodes = deg.agg(F.count("*").cast("long").alias("n_nodes"))
    n_edges = e.agg(F.count("*").cast("long").alias("n_edges"))
    return (
        n_nodes.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(s))
        .select(
            "n_nodes",
            "n_edges",
            F.round(
                (
                    F.col("m2") * F.lit(1.0) * F.col("sxy")
                    - F.col("sx") * F.lit(1.0) * F.col("sx")
                )
                / (
                    F.col("m2") * F.lit(1.0) * F.col("sxx")
                    - F.col("sx") * F.lit(1.0) * F.col("sx")
                ),
                6,
            ).alias("assortativity"),
        )
    )


# ---------------------------------------------------------------------------
# weighted single-source shortest paths (Bellman-Ford rounds)
# ---------------------------------------------------------------------------

_BF_N = 151  # node-space modulus (sparse graph, the _AA_N discipline)
_BF_ROUNDS = 6
_BF_SRC = 0


def _bf_edges_cte() -> str:
    return f"""
    raw AS (
      SELECT doc_id % {_BF_N} AS u,
             ((doc_id // {_BF_N}) * 331 + doc_id * 211 + 5) % {_BF_N} AS v,
             1 + doc_id % 9 AS w
      FROM documents),
    e0 AS (SELECT u, v, CAST(MIN(w) AS BIGINT) AS w FROM raw
           WHERE u <> v GROUP BY u, v),
    e AS (SELECT u, v, w FROM e0
          UNION ALL SELECT v AS u, u AS v, w FROM e0)"""


def _bf_sql() -> str:
    parts = [_bf_edges_cte(),
             f"d0 AS (SELECT CAST({_BF_SRC} AS BIGINT) AS node, "
             f"CAST(0 AS BIGINT) AS dist)"]
    for k in range(1, _BF_ROUNDS + 1):
        parts.append(
            f"""
    d{k} AS (SELECT node, MIN(dist) AS dist FROM (
        SELECT node, dist FROM d{k - 1}
        UNION ALL
        SELECT e.v AS node, d{k - 1}.dist + e.w AS dist
        FROM e JOIN d{k - 1} ON e.u = d{k - 1}.node) z
      GROUP BY node)"""
        )
    return f"""
    WITH {",".join(parts)}
    SELECT node, dist AS dist_{_BF_ROUNDS},
           CAST((SELECT COUNT(*) FROM d{_BF_ROUNDS}) AS BIGINT) AS n_reached
    FROM d{_BF_ROUNDS} ORDER BY node
    """


@q("bellman_ford_distances", oracle=_bf_sql())
def bellman_ford_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest paths by Bellman-Ford relaxation
    rounds — the WEIGHTED companion of ``frontier_bfs_depths`` (hop
    counts) over a derived undirected graph with integer edge weights
    1..9 (duplicate edges keep the MIN weight, the multigraph rule).
    A fixed budget of 6 relaxation rounds is reported (distances are
    exact for all nodes whose shortest path uses ≤ 6 edges — the
    round-bounded form every distributed SSSP runs; pagerank/HITS use
    the same fixed-round discipline).

    Exactness: distances are pure int64 sums of small integer weights —
    no float anywhere.

    Scale shape: each round is one frontier ⋈ edges equi-join + one
    node-keyed MIN partial agg; the distance relation is one row per
    reached node. The fixed round count bounds the plan like every
    iterative operator here (lineage is short enough to skip
    checkpointing at 6 rounds).
    """
    docs = t(spark, sf_dir, "documents").select("doc_id")
    raw = docs.select(
        (F.col("doc_id") % _BF_N).alias("u"),
        (
            (
                (F.col("doc_id") / _BF_N).cast("long") * 331
                + F.col("doc_id") * 211
                + 5
            )
            % _BF_N
        ).alias("v"),
        (1 + F.col("doc_id") % 9).alias("w"),
    ).where(F.col("u") != F.col("v"))
    e0 = raw.groupBy("u", "v").agg(F.min("w").cast("long").alias("w"))
    e = e0.unionAll(
        e0.select(F.col("v").alias("u"), F.col("u").alias("v"), "w")
    ).transform(cut)
    d = e.sparkSession.range(1).select(
        F.lit(_BF_SRC).cast("long").alias("node"),
        F.lit(0).cast("long").alias("dist"),
    )
    for _ in range(_BF_ROUNDS):
        relaxed = (
            e.join(d, e["u"] == d["node"])
            .select(F.col("v").alias("node"), (F.col("dist") + F.col("w")).alias("dist"))
        )
        d = (
            d.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
    d = cut(d)
    n_reached = d.agg(F.count("*").cast("long").alias("n_reached"))
    return (
        d.crossJoin(F.broadcast(n_reached))
        .select("node", F.col("dist").alias(f"dist_{_BF_ROUNDS}"), "n_reached")
        .orderBy("node")
    )


# ---------------------------------------------------------------------------
# label propagation communities (synchronous, 3 unrolled rounds)
# ---------------------------------------------------------------------------

_LPA_N = 210  # 7 planted blocks x 30 nodes
_LPA_ROUNDS = 3
# planted-partition fixture: 90% of edges stay inside the endpoint's
# 30-node block, 10% jump anywhere — community structure LPA can recover
# (a uniform random graph has none and the partition would be arbitrary)
_LPA_U = f"(doc_id % {_LPA_N})"
_LPA_V = (
    f"(CASE WHEN doc_id % 10 = 0 "
    f"THEN (doc_id * 7919 + (doc_id // {_LPA_N}) * 2311 + 13) % {_LPA_N} "
    f"ELSE ((doc_id % {_LPA_N}) // 30) * 30 "
    f"     + ((doc_id % {_LPA_N}) * 17 + (doc_id // {_LPA_N}) * 31 + 5) % 30 "
    f"END)"
)


def _lpa_sql() -> str:
    rounds = []
    prev = "l0"
    for i in range(1, _LPA_ROUNDS + 1):
        rounds.append(
            f"""
    c{i} AS (SELECT d.s AS n, l.lbl, CAST(COUNT(*) AS BIGINT) AS c
             FROM d JOIN {prev} l ON l.n = d.t GROUP BY d.s, l.lbl),
    l{i} AS (SELECT n, lbl FROM c{i}
             QUALIFY ROW_NUMBER() OVER (PARTITION BY n
                                        ORDER BY c DESC, lbl) = 1)"""
        )
        prev = f"l{i}"
    return f"""
    WITH raw AS (SELECT {_LPA_U} AS u, {_LPA_V} AS v FROM documents),
    e AS (SELECT DISTINCT LEAST(u, v) AS a, GREATEST(u, v) AS b
          FROM raw WHERE u <> v),
    d AS (SELECT a AS s, b AS t FROM e UNION ALL SELECT b, a FROM e),
    nodes AS (SELECT DISTINCT s AS n FROM d),
    l0 AS (SELECT n, n AS lbl FROM nodes),{",".join(rounds)}
    SELECT lbl AS community, CAST(COUNT(*) AS BIGINT) AS size
    FROM {prev} GROUP BY lbl ORDER BY size DESC, community LIMIT 20
    """


@q("lpa_communities", oracle=_lpa_sql())
def lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan et
    al. 2007): {_LPA_ROUNDS} rounds of "adopt the most frequent neighbour
    label, ties to the smallest" over a planted-partition link graph
    (7 blocks of 30 nodes, 90% intra-block edges) — the almost-linear
    community primitive between ``dedup_clusters``'s connected components
    (which would merge ALL blocks: the graph is connected) and
    ``cluster_modularity``'s quality score.

    Determinism: the sync schedule + (count DESC, label ASC) argmax is a
    total order per node per round, so both engines propagate identical
    labels; the oracle unrolls the rounds as CTEs.

    Scale shape: each round is one equi-join of the (bounded) label
    relation against the edge list + a (node, label)-keyed partial agg +
    a node-keyed window over the post-agg counts — the pagerank shuffle
    shape, O(rounds) passes, nothing global. At 10^12 edges the label
    relation checkpoints per round exactly like dedup_clusters.
    """
    docs = t(spark, sf_dir, "documents")
    raw = docs.select(
        F.expr(_LPA_U.replace("//", " div ")).alias("u"),
        F.expr(_LPA_V.replace("//", " div ")).alias("v"),
    )
    e = (
        raw.where(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
        )
        .distinct()
    )
    d = e.select(F.col("a").alias("s"), F.col("b").alias("t")).union(
        e.select(F.col("b").alias("s"), F.col("a").alias("t"))
    )
    lbl = d.select(F.col("s").alias("n")).distinct().select(
        "n", F.col("n").alias("lbl")
    )
    w = Window.partitionBy("s").orderBy(F.col("c").desc(), "lbl")
    for _ in range(_LPA_ROUNDS):
        cnt = (
            d.join(lbl, d.t == lbl.n)
            .groupBy("s", "lbl")
            .agg(F.count("*").cast("long").alias("c"))
        )
        lbl = (
            cnt.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select(F.col("s").alias("n"), "lbl")
        )
    return (
        lbl.groupBy(F.col("lbl").alias("community"))
        .agg(F.count("*").cast("long").alias("size"))
        .orderBy(F.col("size").desc(), "community")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# day-of-week-adjusted daily anomalies (seasonality-corrected z-scores)
# ---------------------------------------------------------------------------

_DOWA_Z = 1.5
# z from exact integer power sums over the cent-snapped residuals; one
# shared expression string so both engines run identical IEEE ops
_DOWA_ZEXPR = (
    "(CAST(zn AS DOUBLE) / SQRT(nd * (nd * CAST(s2 AS DOUBLE) "
    "- CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) / (nd - 1.0e0)))"
)

_DOWA_SQL = f"""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(SUM(CAST(FLOOR(value * 100.0e0 + 0.5e0) AS BIGINT))
                  AS BIGINT) AS cents
      FROM events GROUP BY 1),
    dw AS (SELECT day, cents,
                  CAST(EXTRACT(dow FROM day) AS BIGINT) AS dow
           FROM daily),
    dstat AS (SELECT dow, CAST(COUNT(*) AS BIGINT) AS cnt_d,
                     CAST(SUM(cents) AS BIGINT) AS sum_d
              FROM dw GROUP BY dow),
    res AS (SELECT d.day, d.dow, d.cents,
                   CAST(FLOOR(d.cents - s.sum_d * 1.0e0 / s.cnt_d + 0.5e0)
                        AS BIGINT) AS res_c
            FROM dw d JOIN dstat s ON d.dow = s.dow),
    gstat AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd,
                     CAST(SUM(res_c) AS BIGINT) AS s1,
                     SUM(CAST(res_c AS DECIMAL(19,0)) * res_c) AS s2
              FROM res),
    z AS (SELECT r.day, r.dow, r.cents, r.res_c,
                 r.res_c * g.nd - g.s1 AS zn, g.nd, g.s1, g.s2
          FROM res r CROSS JOIN gstat g)
    SELECT day, dow,
           ROUND(cents / 100.0e0, 2) AS total_value,
           ROUND(res_c / 100.0e0, 2) AS residual,
           ROUND({_DOWA_ZEXPR}, 4) AS z
    FROM z
    WHERE ABS({_DOWA_ZEXPR}) >= {_DOWA_Z}e0
    ORDER BY day
    """


@q("dow_adjusted_anomalies", oracle=_DOWA_SQL)
def dow_adjusted_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-corrected anomaly days: daily value totals minus
    their day-of-week mean, z-scored over the residuals (|z| >=
    {_DOWA_Z}) — the deseasonalized upgrade of ``daily_anomalies``: a
    quiet Sunday is NOT an anomaly and a Monday-sized Tuesday IS, which
    raw-volume z-scores get exactly backwards (composes
    ``dow_seasonal_profile``'s decomposition with the anomaly gate).

    Exactness: daily totals quantize to cents before summing; residuals
    snap to whole cents (one float division per day, shared text); the
    global moments are exact integer power sums (the winsorized
    DECIMAL(19,0)² discipline keeps the squared sum wide), and the z
    expression is one shared string.

    Scale shape: one day-keyed partial agg, a 7-row broadcast dow join,
    a 1-row broadcast stats join — no window, no sort before the final
    bounded ORDER BY.
    """
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("day")
    ).agg(
        F.sum(
            F.expr("CAST(FLOOR(value * 100.0e0 + 0.5e0) AS BIGINT)")
        )
        .cast("long")
        .alias("cents")
    )
    dw = daily.select(
        "day", "cents", (F.dayofweek("day") - 1).cast("long").alias("dow")
    )
    dstat = dw.groupBy("dow").agg(
        F.count("*").cast("long").alias("cnt_d"),
        F.sum("cents").cast("long").alias("sum_d"),
    )
    res = dw.join(F.broadcast(dstat), "dow").select(
        "day",
        "dow",
        "cents",
        F.floor(
            F.col("cents") - F.col("sum_d") * 1.0 / F.col("cnt_d") + 0.5
        )
        .cast("long")
        .alias("res_c"),
    )
    glob = res.agg(
        F.count("*").cast("long").alias("nd"),
        F.sum("res_c").cast("long").alias("s1"),
        F.sum(
            F.col("res_c").cast("decimal(19,0)")
            * F.col("res_c").cast("decimal(19,0)")
        ).alias("s2"),
    )
    z = res.crossJoin(F.broadcast(glob)).select(
        "day",
        "dow",
        "cents",
        "res_c",
        (F.col("res_c") * F.col("nd") - F.col("s1")).alias("zn"),
        "nd",
        "s1",
        "s2",
    )
    return (
        z.where(F.abs(F.expr(_DOWA_ZEXPR)) >= _DOWA_Z)
        .select(
            "day",
            "dow",
            F.round(F.col("cents") / 100.0, 2).alias("total_value"),
            F.round(F.col("res_c") / 100.0, 2).alias("residual"),
            F.round(F.expr(_DOWA_ZEXPR), 4).alias("z"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Holt linear (double-exponential) smoothing forecast over daily totals
# ---------------------------------------------------------------------------

_HOLT_A, _HOLT_G = 0.3, 0.1

_HOLT_SQL = f"""
    WITH RECURSIVE
    daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(SUM(CAST(FLOOR(value * 100.0e0 + 0.5e0) AS BIGINT))
                  AS BIGINT) AS cents
      FROM events GROUP BY 1),
    seq AS (SELECT cents, CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT)
                            AS k
            FROM daily),
    nn AS (SELECT MAX(k) AS nk FROM seq),
    holt(k, l, b, mae) AS (
      SELECT CAST(1 AS BIGINT), s1.cents * 1.0e0,
             s2.cents * 1.0e0 - s1.cents, 0.0e0
      FROM seq s1, seq s2 WHERE s1.k = 1 AND s2.k = 2
      UNION ALL
      SELECT h.k + 1,
             FLOOR(({_HOLT_A}e0 * s.cents
                    + {1 - _HOLT_A}e0 * (h.l + h.b)) * 1e6 + 0.5e0) / 1e6
               AS l2,
             FLOOR(({_HOLT_G}e0 * (l2 - h.l)
                    + {1 - _HOLT_G}e0 * h.b) * 1e6 + 0.5e0) / 1e6,
             h.mae + ABS(s.cents - (h.l + h.b))
      FROM holt h JOIN seq s ON s.k = h.k + 1)
    SELECT nn.nk AS n_days,
           ROUND(h.l / 100.0e0, 2) AS level,
           ROUND(h.b / 100.0e0, 4) AS trend,
           ROUND((h.l + 7.0e0 * h.b) / 100.0e0, 2) AS forecast_7d,
           ROUND(h.mae / (nn.nk - 1.0e0) / 100.0e0, 4) AS one_step_mae
    FROM holt h CROSS JOIN nn WHERE h.k = nn.nk
    """


@q("holt_linear_forecast", oracle=_HOLT_SQL)
def holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend (double-exponential) smoothing over the daily
    value series with a 7-day-ahead forecast and one-step MAE — the
    trend-aware upgrade of ``ewma_daily_values`` (which cannot follow a
    drifting level) and the smoothing complement of
    ``forecast_backtest_snaive``.

    Determinism: the coupled (level, trend) recursion runs as ONE
    in-row fold over the day-ordered array (struct state in Spark
    ``aggregate``; the oracle unrolls the identical arithmetic as a
    recursive CTE — DuckDB's list_reduce has no seeded/struct form),
    with BOTH states snapped to 6 dp each step, so a 1-ulp libm
    divergence can never compound across the series.

    Scale shape: one day-keyed partial agg, then a single-row fold over
    the (bounded) daily array — the ewma/acf in-row discipline; no
    window over raw rows, no iteration-count dependence on data volume.
    """
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("day")
    ).agg(
        F.sum(
            F.expr("CAST(FLOOR(value * 100.0e0 + 0.5e0) AS BIGINT)")
        )
        .cast("long")
        .alias("cents")
    )
    arr = daily.agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("day", "cents"))),
            lambda s: s["cents"].cast("double"),
        ).alias("xs")
    )

    def snap(c):
        return F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

    def merge(acc, x):
        l2 = snap(
            F.lit(_HOLT_A) * x + F.lit(1 - _HOLT_A) * (acc["l"] + acc["b"])
        )
        b2 = snap(
            F.lit(_HOLT_G) * (l2 - acc["l"]) + F.lit(1 - _HOLT_G) * acc["b"]
        )
        return F.struct(
            l2.alias("l"),
            b2.alias("b"),
            (acc["mae"] + F.abs(x - (acc["l"] + acc["b"]))).alias("mae"),
        )

    folded = arr.select(
        F.size("xs").cast("long").alias("n_days"),
        F.aggregate(
            F.slice(F.col("xs"), 2, F.size("xs") - 1),
            F.struct(
                F.element_at("xs", 1).alias("l"),
                (F.element_at("xs", 2) - F.element_at("xs", 1)).alias("b"),
                F.lit(0.0).alias("mae"),
            ),
            merge,
        ).alias("h"),
    )
    return folded.select(
        "n_days",
        F.round(F.col("h.l") / 100.0, 2).alias("level"),
        F.round(F.col("h.b") / 100.0, 4).alias("trend"),
        F.round((F.col("h.l") + 7.0 * F.col("h.b")) / 100.0, 2).alias(
            "forecast_7d"
        ),
        F.round(
            F.col("h.mae") / (F.col("n_days") - 1.0) / 100.0, 4
        ).alias("one_step_mae"),
    )


# ---------------------------------------------------------------------------
# l-diversity audit (sensitive-value diversity inside k-anonymity classes)
# ---------------------------------------------------------------------------

_LDIV_L = 3  # distinct-l threshold: classes below leak the sensitive value

_LDIV_SQL = f"""
    WITH qi AS (SELECT event_type,
                       (CAST(CAST(ts AS DATE) - DATE '1970-01-01'
                             AS INTEGER) + 4) % 7 AS dow,
                       CAST(FLOOR(value / 50.0e0) AS BIGINT) AS value_band,
                       CAST(json_extract(props, '$.k') AS INTEGER) // 10
                         AS sensitive
                FROM events),
    eq AS (SELECT event_type, dow, value_band,
                  CAST(COUNT(*) AS BIGINT) AS class_size,
                  CAST(COUNT(DISTINCT sensitive) AS BIGINT) AS l
           FROM qi GROUP BY event_type, dow, value_band)
    SELECT l,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(SUM(class_size) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN l < {_LDIV_L} THEN class_size ELSE 0 END)
                AS BIGINT) AS n_risky_rows
    FROM eq GROUP BY l ORDER BY l
    """


@q("l_diversity_audit", oracle=_LDIV_SQL)
def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al. 2007): within each
    quasi-identifier equivalence class of ``k_anonymity_audit`` (same QI
    tuple), how many DISTINCT sensitive values appear — k-anonymity
    alone is defeated by a class where everyone shares the secret; this
    histogram shows how many classes sit below l={_LDIV_L}.

    QI here bands value at 50 units (finer than k_anonymity_audit's 500)
    so the release table has genuinely small classes and the l
    histogram spreads — a one-row histogram audits nothing.

    Scale shape: one QI-keyed partial
    agg (COUNT + COUNT DISTINCT over the class) and a histogram rollup
    over the bounded class relation. The sensitive attribute is the
    banded JSON prop, derived scan-side.
    """
    ev = t(spark, sf_dir, "events")
    qi = ev.select(
        "event_type",
        F.expr(
            "(CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS INTEGER) + 4)"
            " % 7"
        ).alias("dow"),
        F.expr("CAST(FLOOR(value / 50.0e0) AS BIGINT)").alias(
            "value_band"
        ),
        F.expr(
            "CAST(get_json_object(props, '$.k') AS INT) div 10"
        ).alias("sensitive"),
    )
    eq = qi.groupBy("event_type", "dow", "value_band").agg(
        F.count("*").cast("long").alias("class_size"),
        F.countDistinct("sensitive").cast("long").alias("l"),
    )
    return (
        eq.groupBy("l")
        .agg(
            F.count("*").cast("long").alias("n_classes"),
            F.sum("class_size").cast("long").alias("n_rows"),
            F.sum(
                F.when(F.col("l") < _LDIV_L, F.col("class_size")).otherwise(
                    0
                )
            )
            .cast("long")
            .alias("n_risky_rows"),
        )
        .orderBy("l")
    )
