"""Crawl-lifecycle tier: robots, sitemaps, canonicalization, redirects, recrawl scheduling, churn, URL-space traps, discovery e2e."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from extractor.queries._core import (  # noqa: F401
    register,
    _docs,
)

@register(
    "robots_parse",
    """
    -- the oracle does NOT parse: it re-derives the expected rule rows
    -- from the fixture's class arithmetic (doc_id % 5), so a parser
    -- bug in ANY grammar corner (comments, CRLF, key casing,
    -- exact-beats-star, consecutive-UA grouping, empty Disallow,
    -- junk lines) flips the diff
    WITH hosts AS (
      SELECT doc_id, 'h' || doc_id || '.example-42.test' AS host,
             doc_id % 5 AS k
      FROM documents WHERE doc_id < 35
    ),
    rules(k, kind, value) AS (VALUES
      (0, 'disallow', '/private/'),
      (0, 'disallow', '/tmp/'),
      (0, 'crawl_delay', '7'),
      (1, 'disallow', '/only-bot/'),
      (2, 'disallow', '/shared/'),
      (4, 'crawl_delay', '0.5'))
    SELECT h.host, r.kind, r.value
    FROM hosts h JOIN rules r USING (k)
    """,
)
def q_robots_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt ingestion (operators.webgraph.parse_robots): raw
    robots bodies → (host, kind, value) rule rows for agent
    'graftbot', one expression-only map pass (group scan is an array
    aggregate over each file's own lines — zero Exchange, plan-
    asserted in pytest).  The 35-host fixture cycles five grammar
    classes: (0) star group with comments/CRLF/odd key casing + two
    Disallows + Crawl-delay; (1) exact-agent group beats a star group
    (star rules must NOT leak in); (2) consecutive User-agent lines
    sharing one group; (3) some other agent's group only → no rows;
    (4) empty Disallow (allow-all) + a colon-less junk line +
    fractional Crawl-delay."""
    from extractor.operators.webgraph import parse_robots

    return parse_robots(_robots_bodies(spark, sf_dir), agent="graftbot")

def _robots_bodies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """35-host raw robots.txt fixture shared by robots_parse and
    e2e_robots_fetch: host class k%5 picks one of five grammar
    classes (see q_robots_parse)."""
    docs = _docs(spark, sf_dir).select("doc_id").filter(F.col("doc_id") < 35)
    body = (
        F.when(
            F.col("doc_id") % 5 == 0,
            F.lit(
                "User-agent: *\r\nDISALLOW: /private/ # secret\r\n"
                "Disallow: /tmp/\r\nCrawl-delay: 7\r\n"
            ),
        )
        .when(
            F.col("doc_id") % 5 == 1,
            F.lit(
                "User-agent: graftbot\nDisallow: /only-bot/\n\n"
                "User-agent: *\nDisallow: /everyone/\n"
            ),
        )
        .when(
            F.col("doc_id") % 5 == 2,
            F.lit("user-AGENT: foo\nUser-agent: *\nDisallow: /shared/\n"),
        )
        .when(
            F.col("doc_id") % 5 == 3,
            F.lit("User-agent: other\nDisallow: /x/\n"),
        )
        .otherwise(
            F.lit(
                "User-agent: *\nDisallow:\nnoise line without colon\n"
                "Crawl-delay: 0.5\n"
            )
        )
    )
    return docs.select(
        F.concat(
            F.lit("h"), F.col("doc_id").cast("string"), F.lit(".example-42.test")
        ).alias("host"),
        body.alias("robots_txt"),
    )

@register(
    "robots_filter",
    """
    -- same candidate-url fixture as frontier_score; disallow rules:
    -- even hosts block /a/b/, odd hosts block /page/, host 5 has no
    -- rules at all (nothing dropped there)
    WITH urls AS (
      SELECT 'https://h' || (doc_id % 7) || '.example-42.test' ||
             CASE WHEN doc_id % 3 = 0 THEN '/page/'
                  WHEN doc_id % 3 = 1 THEN '/a/b/' ELSE '/' END ||
             printf('%06d', doc_id) || '.html' AS url,
             'h' || (doc_id % 7) || '.example-42.test' AS host,
             CASE WHEN doc_id % 3 = 0 THEN '/page/'
                  WHEN doc_id % 3 = 1 THEN '/a/b/' ELSE '/' END ||
             printf('%06d', doc_id) || '.html' AS path
      FROM documents
    ), rules AS (
      SELECT 'h' || k.k || '.example-42.test' AS host,
             CASE WHEN k.k % 2 = 0 THEN '/a/b/' ELSE '/page/' END
               AS path_prefix
      FROM (SELECT unnest(generate_series(0, 6)) AS k) k
      WHERE k.k <> 5
    )
    SELECT u.url, u.host FROM urls u
    WHERE NOT EXISTS (
      SELECT 1 FROM rules r
      WHERE r.host = u.host AND starts_with(u.path, r.path_prefix)
    )
    """,
)
def q_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robots Disallow gate over the crawl frontier
    (operators.webgraph.robots_frontier_filter): host-equi anti-join
    with the prefix test as the join residual — rules are hosts-sized
    and never assumed broadcastable.  The fixture plants per-host
    prefix rules over the frontier_score url set (a rule-less host
    keeps everything; depth-1 urls never match either prefix), so the
    oracle's NOT EXISTS re-derives exactly which urls survive."""
    from extractor.operators.webgraph import robots_frontier_filter

    docs = _docs(spark, sf_dir).select("doc_id")
    shost = F.concat(
        F.lit("h"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".example-42.test"),
    )
    seg = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("/page/"))
        .when(F.col("doc_id") % 3 == 1, F.lit("/a/b/"))
        .otherwise(F.lit("/"))
    )
    frontier = docs.select(
        F.concat(
            F.lit("https://"), shost, seg,
            F.format_string("%06d", F.col("doc_id")), F.lit(".html"),
        ).alias("url")
    )
    ks = spark.range(7).withColumnRenamed("id", "k").filter(F.col("k") != 5)
    rules = ks.select(
        F.concat(F.lit("h"), F.col("k").cast("string"),
                 F.lit(".example-42.test")).alias("host"),
        F.when(F.col("k") % 2 == 0, "/a/b/").otherwise("/page/")
        .alias("path_prefix"),
    )
    return robots_frontier_filter(frontier, rules)

@register(
    "url_canonicalize",
    """
    WITH base AS (
      SELECT doc_id,
             'https://example-42.test/page/' || printf('%06d', doc_id) ||
               '.html' AS v0
      FROM documents
    ), variants AS (
      SELECT doc_id, unnest(list_concat(
               [v0, v0 || '?utm_source=feed&ref=rss', v0 || '#section-2'],
               CASE WHEN doc_id % 5 = 0
                    THEN ['HTTPS://EXAMPLE-42.TEST' || substring(v0, 24)]
                    ELSE [] END)) AS url
      FROM base
    ), canon AS (
      SELECT url,
             'https://' ||
               lower(split_part(split_part(split_part(url, '#', 1), '?', 1),
                                '/', 3)) ||
               substring(split_part(split_part(url, '#', 1), '?', 1),
                         strpos(split_part(split_part(url, '#', 1), '?', 1),
                                '://') + 3 +
                         length(split_part(split_part(split_part(url, '#', 1),
                                '?', 1), '/', 3)))
               AS canon_url
      FROM variants
    )
    SELECT canon_url, count(*)::BIGINT AS n_variants, min(url) AS first_url
    FROM canon GROUP BY canon_url
    """,
)
def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + canonical-key dedup (crawl frontier /
    url-level dedup): lowercase scheme+host, strip query and fragment;
    synthetic tracking-param/fragment/case variants collapse onto one
    canonical key.  Map-only expressions + one count shuffle."""
    # format_string, not lpad: lpad TRUNCATES ids past 6 digits, while
    # printf('%06d') (the oracle) widens — identical only on format_string
    v0 = F.concat(
        F.lit("https://example-42.test/page/"),
        F.format_string("%06d", F.col("doc_id")),
        F.lit(".html"),
    )
    upper_v = F.concat(F.lit("HTTPS://EXAMPLE-42.TEST"), F.expr("substring(v0, 24)"))
    base = _docs(spark, sf_dir).select("doc_id").withColumn("v0", v0)
    variants = base.select(
        "doc_id",
        F.explode(
            F.when(
                F.col("doc_id") % 5 == 0,
                F.array(
                    F.col("v0"),
                    F.concat(F.col("v0"), F.lit("?utm_source=feed&ref=rss")),
                    F.concat(F.col("v0"), F.lit("#section-2")),
                    upper_v,
                ),
            ).otherwise(
                F.array(
                    F.col("v0"),
                    F.concat(F.col("v0"), F.lit("?utm_source=feed&ref=rss")),
                    F.concat(F.col("v0"), F.lit("#section-2")),
                )
            )
        ).alias("url"),
    )
    canonized = (
        variants
        # strip fragment then query, then split scheme / host / path —
        # projected intermediates keep the expressions readable and
        # each step inside whole-stage codegen
        .withColumn(
            "stripped",
            F.substring_index(F.substring_index(F.col("url"), "#", 1), "?", 1),
        )
        .withColumn(
            "no_scheme",
            F.expr("substring(stripped, instr(stripped, '://') + 3)"),
        )
        .withColumn("host", F.substring_index(F.col("no_scheme"), "/", 1))
        .withColumn(
            "canon_url",
            F.concat(
                F.lit("https://"),
                F.lower(F.col("host")),
                F.expr("substring(no_scheme, length(host) + 1)"),
            ),
        )
    )
    return (
        canonized
        .groupBy("canon_url")
        .agg(
            F.count(F.lit(1)).alias("n_variants"),
            F.min("url").alias("first_url"),
        )
    )

@register(
    "e2e_robots_fetch",
    """
    -- raw robots bodies -> parse -> Disallow gate -> Crawl-delay ->
    -- top-3 fetch slots, re-derived end-to-end from class arithmetic
    -- (host class k%5 picks the robots grammar; path class doc_id%4
    -- picks which Disallow it can hit)
    WITH frontier AS (
      SELECT doc_id, (doc_id % 35) AS hk,
             'h' || (doc_id % 35) || '.example-42.test' AS host,
             'https://h' || (doc_id % 35) || '.example-42.test' ||
               CASE doc_id % 4 WHEN 0 THEN '/private/'
                               WHEN 1 THEN '/only-bot/'
                               WHEN 2 THEN '/shared/' ELSE '/ok/' END
               || doc_id AS url,
             (doc_id * 2654435761) % 10000 AS score
      FROM documents
    ),
    allowed AS (
      SELECT * FROM frontier f
      WHERE NOT ((f.hk % 5 = 0 AND f.doc_id % 4 = 0)
              OR (f.hk % 5 = 1 AND f.doc_id % 4 = 1)
              OR (f.hk % 5 = 2 AND f.doc_id % 4 = 2))
    ),
    ranked AS (
      SELECT host, hk, url, score,
             row_number() OVER (PARTITION BY host
                                ORDER BY score DESC, url) - 1 AS slot
      FROM allowed
    )
    SELECT host, url, score::BIGINT AS score, slot::BIGINT AS slot,
           (slot * CASE hk % 5 WHEN 0 THEN 7000 WHEN 4 THEN 500
                               ELSE 1000 END)::BIGINT AS offset_ms
    FROM ranked WHERE slot < 3
    """,
)
def q_e2e_robots_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The politeness tier end-to-end from RAW bytes: the 35-host
    robots_parse fixture bodies → parse_robots('graftbot') →
    robots_disallow_rules → robots_frontier_filter over a 500-url
    frontier (path class doc_id%4 collides with each host class's
    Disallows by construction) → robots_crawl_delays (7 s / 0.5 s /
    default hosts all present) → fetch_schedule top-3 slots.  Every
    stage is the engine's own operator; the oracle re-derives the
    whole chain from class arithmetic, so a regression in ANY stage
    (a grammar corner, the exact-beats-star rule, the ms conversion,
    the slot ranking) flips rows."""
    from extractor.operators.webgraph import (
        fetch_schedule,
        parse_robots,
        robots_crawl_delays,
        robots_disallow_rules,
        robots_frontier_filter,
    )

    d = F.col("doc_id")
    docs = _docs(spark, sf_dir).select("doc_id")
    seg = (
        F.when(d % 4 == 0, F.lit("/private/"))
        .when(d % 4 == 1, F.lit("/only-bot/"))
        .when(d % 4 == 2, F.lit("/shared/"))
        .otherwise(F.lit("/ok/"))
    )
    frontier = docs.select(
        F.concat(
            F.lit("https://h"), (d % 35).cast("string"),
            F.lit(".example-42.test"), seg, d.cast("string"),
        ).alias("url"),
        ((d * 2654435761) % 10000).alias("score"),
    )
    parsed = parse_robots(_robots_bodies(spark, sf_dir), agent="graftbot")
    kept = robots_frontier_filter(frontier, robots_disallow_rules(parsed))
    scored = kept.join(frontier, "url").select("host", "url", "score")
    return fetch_schedule(scored, robots_crawl_delays(parsed), k_per_host=3)

@register(
    "crawl_novelty",
    """
    -- 4 crawls: a doc enters at crawl (doc_id % 4) and stays; every
    -- 3rd doc's content CHANGES each crawl (fresh digest per crawl),
    -- the rest are static (novel only at their entry crawl)
    WITH caps AS (
      SELECT c.crawl,
             md5(d.text || CASE WHEN d.doc_id % 3 = 0
                                THEN c.crawl::VARCHAR ELSE '' END) AS digest
      FROM documents d,
           LATERAL (SELECT unnest(generate_series(d.doc_id % 4, 3)) AS crawl) c
    ),
    dc AS (SELECT DISTINCT crawl, digest FROM caps),
    fc AS (SELECT digest, min(crawl) AS first_crawl FROM dc GROUP BY digest)
    SELECT c.crawl::BIGINT AS crawl_id,
           count(*)::BIGINT AS n_digests,
           sum(CASE WHEN f.first_crawl = c.crawl THEN 1 ELSE 0 END)::BIGINT
             AS n_new,
           ((10000 * sum(CASE WHEN f.first_crawl = c.crawl THEN 1 ELSE 0 END))
             // count(*))::BIGINT AS novelty_bp
    FROM dc c JOIN fc f USING (digest)
    GROUP BY 1
    """,
)
def q_crawl_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-crawl content novelty (operators.crawl.crawl_novelty) —
    the corpus growth curve: of each crawl's distinct digests, how
    many no earlier crawl ever saw.  The fixture staggers corpus
    entry (doc enters at crawl doc_id%4) and plants a
    changes-every-crawl class (doc_id%3==0), so novelty_bp falls
    crawl over crawl but never to zero — the real-web shape.  One
    digest-grain first-occurrence aggregate; page bytes never move."""
    from extractor.operators.crawl import crawl_novelty

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    caps = docs.select(
        "doc_id",
        "text",
        F.explode(
            F.sequence((F.col("doc_id") % 4).cast("int"), F.lit(3))
        ).alias("crawl"),
    ).select(
        F.col("crawl").cast("long").alias("crawl_id"),
        F.md5(
            F.concat(
                F.col("text"),
                F.when(
                    F.col("doc_id") % 3 == 0, F.col("crawl").cast("string")
                ).otherwise(F.lit("")),
            )
        ).alias("digest"),
    )
    return crawl_novelty(caps)

# Capture-url fixture shared by the crawl-lifecycle entries: documents
# spread across 7 hosts, zero-padded path ids.
_CRAWL_URL_SQL = (
    "'https://h' || (doc_id % 7) || '.example-42.test/d/' || "
    "printf('%06d', doc_id)"
)

def _crawl_url(doc_id_col: str = "doc_id", offset: int = 0):
    base = F.col(doc_id_col) + offset if offset else F.col(doc_id_col)
    return F.concat(
        F.lit("https://h"), (F.col(doc_id_col) % 7).cast("string"),
        F.lit(".example-42.test/d/"), F.format_string("%06d", base),
    )

# Two-crawl fixture shared by crawl_delta and crawl_moves: every 5th
# url dropped (removed), every 7th re-captured with updated content
# (changed), every 11th doc also seeds a brand-new url (added) — so
# every doc_id % 55 == 0 is a content MOVE (old url gone, same bytes
# under a fresh url).
_CRAWL_DELTA_CTES = f"""
    old AS (
      SELECT {_CRAWL_URL_SQL} AS url, md5(text) AS old_md5 FROM documents
    ), new AS (
      SELECT {_CRAWL_URL_SQL} AS url,
             md5(CASE WHEN doc_id % 7 = 0 THEN text || ' updated'
                      ELSE text END) AS new_md5
      FROM documents WHERE doc_id % 5 <> 0
      UNION ALL
      SELECT 'https://h' || (doc_id % 7) || '.example-42.test/d/' ||
             printf('%06d', doc_id + 1000000) AS url,
             md5(text) AS new_md5
      FROM documents WHERE doc_id % 11 = 0
    ), delta AS (
      SELECT coalesce(old.url, new.url) AS url,
             CASE WHEN old_md5 IS NULL THEN 'added'
                  WHEN new_md5 IS NULL THEN 'removed'
                  WHEN old_md5 = new_md5 THEN 'unchanged'
                  ELSE 'changed' END AS status,
             old_md5, new_md5
      FROM old FULL OUTER JOIN new ON old.url = new.url
    )
"""

@register(
    "crawl_delta",
    f"""
    WITH {_CRAWL_DELTA_CTES}
    SELECT url, status, old_md5, new_md5 FROM delta
    """,
)
def q_crawl_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-crawl diff (operators.crawl.crawl_delta): classify every
    URL across two crawls as added / removed / changed / unchanged —
    the first question a recurring crawl pipeline answers before any
    downstream work re-runs.  One full-outer equi-join on the url
    key; content comparison ships md5 digests computed map-side, so
    page bytes never shuffle.  Fixture: the second crawl drops every
    5th url, mutates every 7th document's text, and adds a fresh url
    for every 11th."""
    from extractor.operators.crawl import crawl_delta

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    old = docs.select(_crawl_url().alias("url"), "text")
    new = docs.filter(F.col("doc_id") % 5 != 0).select(
        _crawl_url().alias("url"),
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" updated"))
        ).otherwise(F.col("text")).alias("text"),
    ).unionByName(
        docs.filter(F.col("doc_id") % 11 == 0).select(
            _crawl_url(offset=1_000_000).alias("url"), "text"
        )
    )
    return crawl_delta(old, new)

@register(
    "crawl_latest",
    f"""
    -- three crawls at ts 100/200/300 with shrinking coverage;
    -- latest-wins per url plus capture-span stats
    WITH caps AS (
      SELECT {_CRAWL_URL_SQL} AS url, 100 AS crawl_ts, text FROM documents
      UNION ALL
      SELECT {_CRAWL_URL_SQL} AS url, 200 AS crawl_ts, text || ' v2'
      FROM documents WHERE doc_id % 2 = 0
      UNION ALL
      SELECT {_CRAWL_URL_SQL} AS url, 300 AS crawl_ts, text || ' v3'
      FROM documents WHERE doc_id % 4 = 0
    )
    SELECT url, arg_max(text, crawl_ts) AS text,
           count(*)::BIGINT AS n_captures,
           min(crawl_ts)::INT AS first_ts, max(crawl_ts)::INT AS last_ts
    FROM caps GROUP BY url
    """,
)
def q_crawl_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-wins snapshot resolution (operators.crawl.
    latest_snapshot): one row per URL carrying its most recent
    capture's payload plus capture-count and observation span — how a
    multi-crawl history collapses to the "current web" view every
    other operator consumes.  One max(struct(ts, payload)) aggregate:
    constant reduce state per url, deterministic on ties, no window
    over the capture history."""
    from extractor.operators.crawl import latest_snapshot

    docs = _docs(spark, sf_dir).select("doc_id", "text")

    def crawl(ts: int, mod: int, suffix: str):
        d = docs.filter(F.col("doc_id") % mod == 0) if mod > 1 else docs
        text = (
            F.concat(F.col("text"), F.lit(suffix)) if suffix else F.col("text")
        )
        return d.select(
            _crawl_url().alias("url"),
            F.lit(ts).alias("crawl_ts"),
            text.alias("text"),
        )

    caps = (
        crawl(100, 1, "")
        .unionByName(crawl(200, 2, " v2"))
        .unionByName(crawl(300, 4, " v3"))
    )
    return latest_snapshot(caps, ts_col="crawl_ts")

@register(
    "crawl_moves",
    f"""
    WITH {_CRAWL_DELTA_CTES}
    SELECT r.url AS old_url, a.url AS new_url, r.old_md5 AS md5
    FROM delta r JOIN delta a
      ON a.new_md5 = r.old_md5
     AND r.status = 'removed' AND a.status = 'added'
    """,
)
def q_crawl_moves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-move detection (operators.crawl.detect_moves): removed
    URLs paired with added URLs carrying byte-identical content — the
    redirect/site-restructure signal that lets the pipeline carry a
    document's dedup/index state across a URL change instead of
    re-learning it.  One digest equi-join between two crawl-churn-
    sized delta slices; fixture: every doc_id % 55 == 0 document is a
    move by construction (url removed by the %5 rule, its exact bytes
    re-added under a fresh url by the %11 rule)."""
    from extractor.operators.crawl import crawl_delta, detect_moves

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    old = docs.select(_crawl_url().alias("url"), "text")
    new = docs.filter(F.col("doc_id") % 5 != 0).select(
        _crawl_url().alias("url"),
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" updated"))
        ).otherwise(F.col("text")).alias("text"),
    ).unionByName(
        docs.filter(F.col("doc_id") % 11 == 0).select(
            _crawl_url(offset=1_000_000).alias("url"), "text"
        )
    )
    return detect_moves(crawl_delta(old, new))

@register(
    "redirect_resolve",
    """
    -- Redirect-chain resolution vs a recursive walk: chains of 5
    -- (pos 0..4 -> terminal pos 5) per 8-doc group; every 11th group
    -- closes pos 5 back onto pos 0, turning the whole group into a
    -- 6-cycle.  max_hops=4: pos>=1 resolves, pos 0 is one hop too
    -- long, cycle groups never resolve.
    WITH RECURSIVE edges AS (
      SELECT 'https://r.test/u' || doc_id::VARCHAR AS url,
             'https://r.test/u' || (doc_id + 1)::VARCHAR AS location
      FROM documents WHERE doc_id % 8 < 5
      UNION ALL
      SELECT 'https://r.test/u' || doc_id::VARCHAR,
             'https://r.test/u' || (doc_id - 5)::VARCHAR
      FROM documents WHERE doc_id % 8 = 5 AND (doc_id // 8) % 11 = 0
    ), m AS (
      SELECT url, min(location) AS location FROM edges GROUP BY url
    ), walk AS (
      SELECT url AS src, location AS cur, 1 AS hops FROM m
      UNION ALL
      SELECT w.src, m.location, w.hops + 1
      FROM walk w JOIN m ON w.cur = m.url
      WHERE w.hops < 4
    ), term AS (
      SELECT w.src, w.cur, w.hops
      FROM walk w
      WHERE w.cur NOT IN (SELECT url FROM m)
    )
    SELECT m.url AS url,
           t.cur AS final_url,
           CAST(t.hops AS BIGINT) AS hops,
           (t.cur IS NOT NULL) AS resolved
    FROM m LEFT JOIN term t ON m.url = t.src
    """,
)
def q_redirect_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redirect chains collapsed to their final targets
    (crawl.resolve_redirects) — the canonical-URL map a crawl needs
    before dedup/rank (3xx captures are edges, not documents; the
    WARC reader surfaces each one's Location header).  Pointer
    doubling: ceil(log2(max_hops)) self-joins of the redirect-sized
    edge table resolve every chain ≤ max_hops — 4 shuffles for 16
    hops where the naive walk pays 16.  Cycles and over-long chains
    come back (NULL, NULL, false) — fetch policy, not an error.

    The oracle is the textbook recursive walk (recursive CTE, hop
    cap, terminal = not a redirect source); a green row proves the
    doubled composition computes exactly the walk's fixpoint,
    including hop counts."""
    from extractor.operators.crawl import resolve_redirects

    docs = _docs(spark, sf_dir).select("doc_id")

    def u(c):
        return F.concat(F.lit("https://r.test/u"), c.cast("string"))

    pos = F.col("doc_id") % 8
    chain = docs.filter(pos < 5).select(
        u(F.col("doc_id")).alias("url"),
        u(F.col("doc_id") + 1).alias("location"),
    )
    cyc = docs.filter(
        (pos == 5) & (F.floor(F.col("doc_id") / 8) % 11 == 0)
    ).select(
        u(F.col("doc_id")).alias("url"),
        u(F.col("doc_id") - 5).alias("location"),
    )
    return resolve_redirects(chain.unionByName(cyc), max_hops=4)

@register(
    "soft404",
    """
    -- Independent SQL re-derivation of the soft-404 rule over the
    -- same planted capture classes: hard 404s (status!=200) never
    -- flag, error-titled and error-bodied short pages flag, long
    -- articles that merely MENTION 404 do not.
    WITH caps AS (
      SELECT 'https://s.test/' || doc_id::VARCHAR AS url,
             CASE WHEN doc_id % 23 = 0 THEN 404 ELSE 200 END AS http_status,
             CASE WHEN doc_id % 23 = 0 THEN '404 Not Found'
                  WHEN doc_id % 9 = 0 THEN 'Oops — Page Not Found'
                  WHEN doc_id % 17 = 0 THEN 'Understanding HTTP'
                  ELSE 'Doc ' || doc_id::VARCHAR END AS title,
             CASE WHEN doc_id % 23 = 0 THEN 'not found'
                  WHEN doc_id % 9 = 0 THEN 'Sorry, we lost this page.'
                  WHEN doc_id % 13 = 0
                    THEN 'The page you requested was not found on this server.'
                  WHEN doc_id % 17 = 0 THEN rpad('What error 404 means: ' || text,
                                                 600, 'x')
                  ELSE text END AS body
      FROM documents
    ), flags AS (
      SELECT url, http_status,
             regexp_matches(title,
               '(?i)(page not found|404 not found|error 404|page does not exist|no longer available|page you requested (was|is) not)'
             ) AS title_hit,
             regexp_matches(body,
               '(?i)(page not found|404 not found|error 404|page does not exist|no longer available|page you requested (was|is) not)'
             ) AS body_hit,
             length(body) <= 512 AS short_body
      FROM caps
    )
    SELECT url, http_status, title_hit, body_hit, short_body,
           (http_status = 200 AND (title_hit OR (body_hit AND short_body)))
             AS soft404
    FROM flags
    """,
)
def q_soft404(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft-404 detection (crawl.soft404_flags): captures that
    returned HTTP 200 but whose content is an error page — they
    poison dedup (every soft-404 on a host is near-identical), the
    quality stats and the link graph, so the gate runs right after
    extraction.  Expression-only: two rlikes and a length test, no
    Python, no shuffle.

    Planted classes: hard 404s (%23), error-titled soft-404s (%9),
    error-bodied short soft-404s (%13), long articles that merely
    MENTION 404 (%17 — must NOT flag), and clean pages.  The oracle
    re-derives the rule independently in SQL."""
    from extractor.operators.crawl import soft404_flags

    d = F.col("doc_id")
    ds = d.cast("string")
    caps = _docs(spark, sf_dir).select(
        F.concat(F.lit("https://s.test/"), ds).alias("url"),
        F.when(d % 23 == 0, 404).otherwise(200).alias("http_status"),
        F.when(d % 23 == 0, F.lit("404 Not Found"))
        .when(d % 9 == 0, F.lit("Oops — Page Not Found"))
        .when(d % 17 == 0, F.lit("Understanding HTTP"))
        .otherwise(F.concat(F.lit("Doc "), ds))
        .alias("title"),
        F.when(d % 23 == 0, F.lit("not found"))
        .when(d % 9 == 0, F.lit("Sorry, we lost this page."))
        .when(d % 13 == 0,
              F.lit("The page you requested was not found on this server."))
        .when(d % 17 == 0,
              F.rpad(F.concat(F.lit("What error 404 means: "), F.col("text")),
                     600, "x"))
        .otherwise(F.col("text"))
        .alias("body"),
    )
    flags = soft404_flags(
        F.col("http_status"), F.col("title"), F.col("body")
    )
    return caps.select(
        "url",
        "http_status",
        flags["title_hit"].alias("title_hit"),
        flags["body_hit"].alias("body_hit"),
        flags["short_body"].alias("short_body"),
        flags["soft404"].alias("soft404"),
    )

@register(
    "recrawl_priority",
    """
    -- Oracle = the window-lag formulation of change counting; the
    -- engine uses a bounded per-url history array instead (no window
    -- over the raw capture stream).  Four synthetic crawls; every
    -- 19th url misses crawl 2 (uneven history), every 5th never
    -- changes, the rest change with period 1 + doc_id % 3.
    WITH caps AS (
      SELECT 'https://h.test/' || d.doc_id::VARCHAR AS url,
             c.c::BIGINT AS crawl_ts,
             md5(d.text || '#' ||
                 (CASE WHEN d.doc_id % 5 = 0 THEN 0
                       ELSE c.c // (1 + d.doc_id % 3) END)::VARCHAR) AS digest
      FROM documents d, (SELECT unnest(range(4)) AS c) c
      WHERE NOT (d.doc_id % 19 = 0 AND c.c = 2)
    ), lagged AS (
      SELECT url, crawl_ts, digest,
             lag(digest) OVER (PARTITION BY url ORDER BY crawl_ts) AS prev
      FROM caps
    ), agg AS (
      SELECT url,
             count(*)::BIGINT AS n_captures,
             coalesce(count(*) FILTER (prev IS NOT NULL AND digest != prev), 0)::BIGINT
               AS n_changes,
             min(crawl_ts) AS first_ts,
             max(crawl_ts) AS last_ts
      FROM lagged GROUP BY url
    )
    SELECT url, n_captures, n_changes,
           ((10000 * n_changes) // greatest(n_captures - 1, 1))::BIGINT
             AS change_bp,
           first_ts, last_ts
    FROM agg
    """,
)
def q_recrawl_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recrawl scheduling from observed change rates
    (crawl.recrawl_priority): per url, how many of its consecutive
    captures changed — the Cho & Garcia-Molina freshness signal that
    decides which URLs the next crawl spends its fetch budget on.
    One groupBy-url shuffle; the history rides a bounded
    collect_list/array_sort aggregate (a url's history is crawls-
    sized, never corpus-sized) and adjacent comparison is a codegen'd
    zip_with — the oracle's window-lag formulation over the raw
    stream is exactly what the engine avoids at scale."""
    from extractor.operators.crawl import recrawl_priority

    d = F.col("doc_id")
    caps = (
        _docs(spark, sf_dir)
        .select("doc_id", "text")
        .select(
            "doc_id", "text",
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("c"),
        )
        .filter(~((d % 19 == 0) & (F.col("c") == 2)))
        .select(
            F.concat(F.lit("https://h.test/"), d.cast("string")).alias("url"),
            F.col("c").cast("long").alias("crawl_ts"),
            F.md5(
                F.concat(
                    F.col("text"), F.lit("#"),
                    F.when(d % 5 == 0, F.lit(0))
                    .otherwise(F.floor(F.col("c") / (d % 3 + 1)))
                    .cast("string"),
                )
            ).alias("digest"),
        )
    )
    return recrawl_priority(caps)

@register(
    "fetch_schedule",
    """
    -- Oracle = the row_number window formulation; the engine uses
    -- the bounded two-level top-k instead (no window over a
    -- mega-host's frontier).  37 hosts; every 5th host has no
    -- Crawl-delay rule and falls back to the 1000 ms default.
    WITH frontier AS (
      SELECT 'https://h' || (doc_id % 37)::VARCHAR || '.test' AS host,
             'https://h' || (doc_id % 37)::VARCHAR || '.test/p'
               || doc_id::VARCHAR AS url,
             (doc_id * 2654435761) % 10000 AS score
      FROM documents
    ), delays AS (
      SELECT 'https://h' || h::VARCHAR || '.test' AS host,
             (500 * (h % 4 + 1))::BIGINT AS crawl_delay_ms
      FROM (SELECT unnest(range(37)) AS h) WHERE h % 5 != 0
    ), ranked AS (
      SELECT f.host, f.url, f.score,
             row_number() OVER (PARTITION BY f.host
                                ORDER BY f.score DESC, f.url) - 1 AS slot,
             d.crawl_delay_ms
      FROM frontier f LEFT JOIN delays d ON f.host = d.host
    )
    SELECT host, url, CAST(score AS BIGINT) AS score,
           CAST(slot AS BIGINT) AS slot,
           CAST(slot * coalesce(crawl_delay_ms, 1000) AS BIGINT) AS offset_ms
    FROM ranked WHERE slot < 5
    """,
)
def q_fetch_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness-constrained fetch plan (webgraph.fetch_schedule):
    per host, the K highest-priority frontier URLs with their fetch
    slot and start offset (slot · Crawl-delay; default when the host
    has no robots rule) — the stage between frontier scoring /
    robots filtering and the fetcher.  The per-cycle cap IS the
    politeness model, which is what keeps the ranking bounded: K rows
    per host through the two-level grouped_topk, never a window over
    a mega-host's queue."""
    from extractor.operators.webgraph import fetch_schedule

    d = F.col("doc_id")
    frontier = _docs(spark, sf_dir).select(
        F.concat(F.lit("https://h"), (d % 37).cast("string"), F.lit(".test"))
        .alias("host"),
        F.concat(
            F.lit("https://h"), (d % 37).cast("string"), F.lit(".test/p"),
            d.cast("string"),
        ).alias("url"),
        ((d * 2654435761) % 10000).alias("score"),
    )
    delays = (
        _docs(spark, sf_dir)
        .sparkSession.range(37)
        .filter(F.col("id") % 5 != 0)
        .select(
            F.concat(F.lit("https://h"), F.col("id").cast("string"),
                     F.lit(".test")).alias("host"),
            (500 * (F.col("id") % 4 + 1)).cast("long").alias("crawl_delay_ms"),
        )
    )
    return fetch_schedule(frontier, delays, k_per_host=5)

@register(
    "sitemap_roundtrip",
    """
    -- Sitemap export + splittable re-ingest: the oracle re-derives
    -- loc/lastmod/changefreq/priority straight from documents —
    -- XML-escaping of &-carrying locs, absent optional fields and
    -- the basis-point priority parse all pinned by the round-trip.
    SELECT 'https://site' || (doc_id % 13)::VARCHAR
             || '.test/p?id=' || doc_id::VARCHAR || '&ref=sm' AS loc,
           CASE WHEN doc_id % 3 = 0 THEN NULL
                ELSE '2025-0' || ((doc_id % 9) + 1)::VARCHAR || '-01' END
             AS lastmod,
           CASE WHEN doc_id % 5 = 0 THEN NULL
                ELSE (['daily','weekly','monthly'])[(doc_id % 3) + 1] END
             AS changefreq,
           CASE WHEN doc_id % 7 = 0 THEN NULL
                ELSE ((doc_id % 10) * 1000)::BIGINT END AS priority_bp
    FROM documents
    """,
)
def q_sitemap_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-discovery source round-trip (sources.sitemap): documents
    → ``to_sitemap_records`` (one codegen'd concat per row, loc
    XML-escaped) → text writer (4 part files) → ``read_sitemap``
    (block-splittable ``lineSep="<url>"`` scan — sitemaps are
    routinely single-line XML, so a newline split would pin one task
    per file; expression-only field parse).  Locs carry a raw ``&``
    so the escape/unescape path is load-bearing; lastmod/changefreq/
    priority go absent on planted classes; priority round-trips
    through the protocol's decimal form into integer basis points."""
    from extractor.sources.sitemap import read_sitemap, to_sitemap_records

    import tempfile

    d = F.col("doc_id")
    ds = d.cast("string")
    src = _docs(spark, sf_dir).select(
        F.concat(
            F.lit("https://site"), (d % 13).cast("string"),
            F.lit(".test/p?id="), ds, F.lit("&ref=sm"),
        ).alias("loc"),
        F.when(d % 3 == 0, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("2025-0"), ((d % 9) + 1).cast("string"),
                            F.lit("-01")))
        .alias("lastmod"),
        F.when(d % 5 == 0, F.lit(None).cast("string"))
        .otherwise(
            F.element_at(
                F.array(F.lit("daily"), F.lit("weekly"), F.lit("monthly")),
                ((d % 3) + 1).cast("int"),
            )
        )
        .alias("changefreq"),
        F.when(d % 7 == 0, F.lit(None).cast("long"))
        .otherwise(((d % 10) * 1000).cast("long"))
        .alias("priority_bp"),
    )
    out = tempfile.mkdtemp(prefix="sitemap_rt_") + "/sm"
    to_sitemap_records(src.repartition(4)).write.mode("overwrite").text(out)
    return read_sitemap(spark, out)

@register(
    "sitemap_frontier",
    """
    -- Fetch-decision classes: every 17th url unlisted (captured but
    -- absent from the sitemap), every 4th never captured (new),
    -- every 5th listed without lastmod (no_hint), the rest stale or
    -- fresh by lastmod vs the fixed 2025-05-01 capture date.
    WITH sm AS (
      SELECT 'https://f.test/' || doc_id::VARCHAR AS loc,
             CASE WHEN doc_id % 5 = 0 THEN NULL
                  ELSE '2025-0' || ((doc_id % 9) + 1)::VARCHAR || '-01' END
               AS lastmod
      FROM documents WHERE doc_id % 17 != 0
    ), caps AS (
      SELECT 'https://f.test/' || doc_id::VARCHAR AS url,
             '2025-05-01' AS last_ts
      FROM documents WHERE doc_id % 4 != 0
    ), joined AS (
      SELECT coalesce(sm.loc, caps.url) AS url,
             sm.loc IS NOT NULL AS listed,
             sm.lastmod, caps.last_ts
      FROM sm FULL OUTER JOIN caps ON sm.loc = caps.url
    ), st AS (
      SELECT url,
             CASE WHEN NOT listed THEN 'unlisted'
                  WHEN last_ts IS NULL THEN 'new'
                  WHEN lastmod IS NULL THEN 'no_hint'
                  WHEN lastmod > last_ts THEN 'stale'
                  ELSE 'fresh' END AS status
      FROM joined
    )
    SELECT url, status, status IN ('new','stale','no_hint') AS fetch
    FROM st
    """,
)
def q_sitemap_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap-driven fetch decisions (crawl.sitemap_frontier): the
    parsed sitemap joined full-outer against the capture history —
    new / stale / fresh / no_hint / unlisted per url, fetch=true for
    the three classes worth spending budget on.  One equi-join of two
    site-sized (url, short string) tables; lastmod comparison is
    lexicographic ISO-8601 (integer-exact across engines)."""
    from extractor.operators.crawl import sitemap_frontier

    d = F.col("doc_id")
    ds = d.cast("string")
    sm = _docs(spark, sf_dir).filter(d % 17 != 0).select(
        F.concat(F.lit("https://f.test/"), ds).alias("loc"),
        F.when(d % 5 == 0, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("2025-0"), ((d % 9) + 1).cast("string"),
                            F.lit("-01")))
        .alias("lastmod"),
    )
    caps = _docs(spark, sf_dir).filter(d % 4 != 0).select(
        F.concat(F.lit("https://f.test/"), ds).alias("url"),
        F.lit("2025-05-01").alias("last_ts"),
    )
    return sitemap_frontier(sm, caps)

@register(
    "e2e_crawl_cycle",
    """
    -- The oracle re-derives the WHOLE cycle from doc_id classes:
    -- listed/captured/lastmod -> fetch decision, /priv robots drop
    -- on rule-carrying hosts, priority default, per-host top-3 slots
    -- under each host's Crawl-delay.
    WITH cls AS (
      SELECT doc_id,
             doc_id % 13 AS h,
             'https://site' || (doc_id % 13)::VARCHAR || '.test' AS host,
             'https://site' || (doc_id % 13)::VARCHAR || '.test'
               || (CASE WHEN doc_id % 10 = 0 THEN '/priv/' ELSE '/p/' END)
               || doc_id::VARCHAR AS url,
             doc_id % 17 != 0 AS listed,
             doc_id % 4 != 0 AS captured,
             CASE WHEN doc_id % 5 = 0 THEN NULL
                  ELSE '2025-0' || ((doc_id % 9) + 1)::VARCHAR || '-01' END
               AS lastmod,
             CASE WHEN doc_id % 7 = 0 THEN NULL
                  ELSE ((doc_id % 10) * 1000)::BIGINT END AS priority_bp
      FROM documents
    ), fetchable AS (
      SELECT *, coalesce(priority_bp, 5000) AS score FROM cls
      WHERE listed AND (NOT captured OR lastmod IS NULL
                        OR lastmod > '2025-05-01')
    ), kept AS (
      -- robots: hosts with h % 5 != 0 carry a Disallow /priv rule
      SELECT * FROM fetchable
      WHERE NOT (h % 5 != 0 AND doc_id % 10 = 0)
    ), ranked AS (
      SELECT host, url, score,
             row_number() OVER (PARTITION BY host
                                ORDER BY score DESC, url) - 1 AS slot,
             CASE WHEN h % 4 != 0 THEN 1000 * (h % 3 + 1)
                  ELSE 1000 END AS delay
      FROM kept
    )
    SELECT host, url, CAST(score AS BIGINT) AS score,
           CAST(slot AS BIGINT) AS slot,
           CAST(slot * delay AS BIGINT) AS offset_ms
    FROM ranked WHERE slot < 3
    """,
)
def q_e2e_crawl_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END crawl cycle, every stage the engine's own operator:
    sitemap EXPORT + splittable re-ingest (sources.sitemap round-trip
    through real files) → fetch decisions vs the capture history
    (crawl.sitemap_frontier) → robots Disallow gate
    (webgraph.robots_frontier_filter, /priv rules on rule-carrying
    hosts) → politeness slots under per-host Crawl-delay
    (webgraph.fetch_schedule, top-3 per host).  One registry row per
    scheduled fetch; the oracle re-derives the whole cycle from
    doc_id classes, so a regression in ANY stage — XML framing,
    decision logic, prefix gate, ranking, delay math — flips rows."""
    import tempfile

    from extractor.operators.crawl import sitemap_frontier
    from extractor.operators.webgraph import (
        fetch_schedule,
        robots_frontier_filter,
    )
    from extractor.sources.sitemap import read_sitemap, to_sitemap_records

    d = F.col("doc_id")
    ds = d.cast("string")
    h = d % 13
    url = F.concat(
        F.lit("https://site"), h.cast("string"), F.lit(".test"),
        F.when(d % 10 == 0, F.lit("/priv/")).otherwise(F.lit("/p/")), ds,
    )
    docs = _docs(spark, sf_dir)
    # 1. sitemap export + re-ingest (real files)
    sm_src = docs.filter(d % 17 != 0).select(
        url.alias("loc"),
        F.when(d % 5 == 0, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("2025-0"), ((d % 9) + 1).cast("string"),
                            F.lit("-01")))
        .alias("lastmod"),
        F.lit(None).cast("string").alias("changefreq"),
        F.when(d % 7 == 0, F.lit(None).cast("long"))
        .otherwise(((d % 10) * 1000).cast("long"))
        .alias("priority_bp"),
    )
    out = tempfile.mkdtemp(prefix="crawl_cycle_") + "/sm"
    to_sitemap_records(sm_src.repartition(4)).write.mode("overwrite").text(out)
    entries = read_sitemap(spark, out)
    # 2. fetch decisions vs capture history
    caps = docs.filter(d % 4 != 0).select(
        url.alias("url"), F.lit("2025-05-01").alias("last_ts")
    )
    decisions = sitemap_frontier(entries, caps).filter(F.col("fetch"))
    frontier = decisions.join(
        entries.select(F.col("loc").alias("url"), "priority_bp"), "url"
    ).select("url", F.coalesce(F.col("priority_bp"), F.lit(5000)).alias("score"))
    # 3. robots gate: rule-carrying hosts disallow /priv
    hosts = spark.range(13).select(
        F.concat(F.lit("site"), F.col("id").cast("string"), F.lit(".test"))
        .alias("host"),
        F.col("id").alias("hid"),
    )
    rules = hosts.filter(F.col("hid") % 5 != 0).select(
        "host", F.lit("/priv").alias("path_prefix")
    )
    kept = robots_frontier_filter(frontier, rules).join(frontier, "url")
    # 4. politeness slots under per-host Crawl-delay
    delays = hosts.filter(F.col("hid") % 4 != 0).select(
        F.concat(F.lit("https://"), F.col("host")).alias("host"),
        (1000 * (F.col("hid") % 3 + 1)).cast("long").alias("crawl_delay_ms"),
    )
    sched_in = kept.select(
        F.concat(F.lit("https://"), F.col("host")).alias("host"),
        "url", "score",
    )
    return fetch_schedule(sched_in, delays, k_per_host=3)

@register(
    "robots_sitemaps",
    """
    -- Sitemap discovery from raw robots bodies, group-independent
    -- per RFC 9309; classes: single line (%4=0), two lines with a
    -- lowercase key + indentation (%4=1), none (%4=2), trailing
    -- comment (%4=3) — expected rows restated by arithmetic, never
    -- by parsing
    WITH hosts AS (
      SELECT DISTINCT (doc_id % 40) AS h FROM documents
    )
    SELECT 'h' || h || '.robots.test' AS host,
           'https://h' || h || '.robots.test' || sfx AS sitemap_url
    FROM hosts, LATERAL (
      SELECT unnest(CASE h % 4
        WHEN 0 THEN ['/sitemap.xml']
        WHEN 1 THEN ['/sitemap.xml', '/sitemap2.xml']
        WHEN 3 THEN ['/sitemap.xml']
        ELSE [] END) AS sfx
    ) s
    """,
)
def q_robots_sitemaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap discovery (operators.webgraph.robots_sitemaps): the
    line every crawler reads first — ``Sitemap:`` entries are
    group-independent, so the extractor is a pure line filter beside
    parse_robots' group scan.  Raw bodies are synthesized per host
    with grammar corners (mixed-case field name, indentation, a
    second sitemap line, trailing comments, sitemap-less files that
    must emit nothing, Disallow noise around every line); the oracle
    restates the expected (host, url) rows from class arithmetic —
    any comment/trim/case bug flips rows."""
    from extractor.operators.webgraph import robots_sitemaps

    hosts = _docs(spark, sf_dir).select(
        (F.col("doc_id") % 40).alias("h")
    ).distinct()
    hostname = F.concat(F.lit("h"), F.col("h").cast("string"), F.lit(".robots.test"))
    base = F.concat(F.lit("https://"), hostname)
    body = (
        F.when(
            F.col("h") % 4 == 0,
            F.concat(
                F.lit("User-agent: *\nDisallow: /private\nSitemap: "),
                base, F.lit("/sitemap.xml\n"),
            ),
        )
        .when(
            F.col("h") % 4 == 1,
            F.concat(
                F.lit("sitemap: "), base, F.lit("/sitemap.xml\r\n"),
                F.lit("User-agent: bot\nDisallow: /x\n"),
                F.lit("  SITEMAP:   "), base, F.lit("/sitemap2.xml  \n"),
            ),
        )
        .when(
            F.col("h") % 4 == 2,
            F.lit("User-agent: *\nDisallow: /\n# no sitemap here\n"),
        )
        .otherwise(
            F.concat(
                F.lit("Sitemap: "), base,
                F.lit("/sitemap.xml # primary index\n"),
            )
        )
    )
    bodies = hosts.select(
        hostname.alias("host"), body.alias("robots_txt")
    )
    return robots_sitemaps(bodies)

@register(
    "e2e_discovery",
    """
    -- the discovery loop end-to-end, restated by class arithmetic:
    -- hosts h%4 in {0,3} discover one sitemap (/p/), h%4=1 two
    -- (/p/ and /q/), h%4=2 none; each sitemap lists 5 urls with
    -- lastmod on even k; captures exist for sitemap-having hosts
    -- (p/0 fresh, p/1 no_hint, p/2 stale, /gone unlisted); all
    -- uncaptured listings are new
    WITH hosts AS (
      SELECT DISTINCT (doc_id % 40) AS h FROM documents
    ), sm AS (
      SELECT h, unnest(CASE h % 4 WHEN 1 THEN ['/p/', '/q/']
                                  WHEN 2 THEN []
                                  ELSE ['/p/'] END) AS pfx
      FROM hosts
    ), listed AS (
      SELECT 'https://h' || h || '.robots.test' || pfx || k AS url,
             CASE WHEN k % 2 = 0 THEN '2025-06-10' END AS lastmod
      FROM sm, LATERAL (SELECT unnest(generate_series(0, 4)) AS k) g
    ), caps AS (
      SELECT 'https://h' || h || '.robots.test' || q.p.path AS url,
             q.p.ts AS ts
      FROM hosts, LATERAL (SELECT unnest([
        {'path': '/p/0', 'ts': '2025-06-15'},
        {'path': '/p/1', 'ts': '2025-06-03'},
        {'path': '/p/2', 'ts': '2025-06-01'},
        {'path': '/gone', 'ts': '2025-05-01'}]) AS p) q
      WHERE h % 4 <> 2
    ), j AS (
      SELECT coalesce(l.url, c.url) AS url,
             l.url IS NOT NULL AS listed, l.lastmod, c.ts
      FROM listed l FULL OUTER JOIN caps c ON c.url = l.url
    )
    SELECT url,
           CASE WHEN NOT listed THEN 'unlisted'
                WHEN ts IS NULL THEN 'new'
                WHEN lastmod IS NULL THEN 'no_hint'
                WHEN lastmod > ts THEN 'stale'
                ELSE 'fresh' END AS status,
           (CASE WHEN NOT listed THEN 'unlisted'
                 WHEN ts IS NULL THEN 'new'
                 WHEN lastmod IS NULL THEN 'no_hint'
                 WHEN lastmod > ts THEN 'stale'
                 ELSE 'fresh' END) IN ('new', 'stale', 'no_hint') AS fetch
    FROM j
    """,
)
def q_e2e_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end discovery loop: RAW robots bodies →
    ``robots_sitemaps`` (group-independent Sitemap lines) → REAL
    sitemap files written and re-ingested through the
    block-splittable reader → ``sitemap_frontier`` fetch decisions
    against a capture history — every stage the engine's own
    operator, driven from bytes on disk.  The oracle restates the
    whole chain from class arithmetic, so a regression in the robots
    line filter, the sitemap round-trip (XML escaping, lastmod
    framing), or the decision join flips rows."""
    import tempfile

    from extractor.operators.crawl import sitemap_frontier
    from extractor.operators.webgraph import robots_sitemaps
    from extractor.sources.sitemap import read_sitemap, to_sitemap_records

    hosts = _docs(spark, sf_dir).select(
        (F.col("doc_id") % 40).alias("h")
    ).distinct()
    hostname = F.concat(
        F.lit("h"), F.col("h").cast("string"), F.lit(".robots.test")
    )
    base = F.concat(F.lit("https://"), hostname)
    body = (
        F.when(
            F.col("h") % 4 == 0,
            F.concat(
                F.lit("User-agent: *\nDisallow: /private\nSitemap: "),
                base, F.lit("/sitemap.xml\n"),
            ),
        )
        .when(
            F.col("h") % 4 == 1,
            F.concat(
                F.lit("sitemap: "), base, F.lit("/sitemap.xml\r\n"),
                F.lit("User-agent: bot\nDisallow: /x\n"),
                F.lit("  SITEMAP:   "), base, F.lit("/sitemap2.xml  \n"),
            ),
        )
        .when(
            F.col("h") % 4 == 2,
            F.lit("User-agent: *\nDisallow: /\n# no sitemap here\n"),
        )
        .otherwise(
            F.concat(
                F.lit("Sitemap: "), base,
                F.lit("/sitemap.xml # primary index\n"),
            )
        )
    )
    disc = robots_sitemaps(
        hosts.select(hostname.alias("host"), body.alias("robots_txt"))
    )
    pfx = F.when(
        F.col("sitemap_url").endswith("sitemap2.xml"), F.lit("/q/")
    ).otherwise(F.lit("/p/"))
    entries = (
        disc.select(
            "host",
            pfx.alias("pfx"),
            F.explode(F.sequence(F.lit(0), F.lit(4))).alias("k"),
        )
        .select(
            F.concat(
                F.lit("https://"), F.col("host"), F.col("pfx"),
                F.col("k").cast("string"),
            ).alias("loc"),
            F.when(F.col("k") % 2 == 0, F.lit("2025-06-10")).alias("lastmod"),
            F.lit(None).cast("string").alias("changefreq"),
            F.lit(None).cast("long").alias("priority_bp"),
        )
    )
    out = tempfile.mkdtemp(prefix="disc_") + "/maps"
    to_sitemap_records(entries).write.mode("overwrite").text(out)
    parsed = read_sitemap(spark, out)
    caps = (
        hosts.filter(F.col("h") % 4 != 2)
        .select(
            base.alias("base"),
            F.explode(
                F.array(
                    F.struct(F.lit("/p/0").alias("p"), F.lit("2025-06-15").alias("t")),
                    F.struct(F.lit("/p/1").alias("p"), F.lit("2025-06-03").alias("t")),
                    F.struct(F.lit("/p/2").alias("p"), F.lit("2025-06-01").alias("t")),
                    F.struct(F.lit("/gone").alias("p"), F.lit("2025-05-01").alias("t")),
                )
            ).alias("c"),
        )
        .select(
            F.concat(F.col("base"), F.col("c.p")).alias("url"),
            F.col("c.t").alias("last_ts"),
        )
    )
    return sitemap_frontier(parsed, caps)

@register(
    "robots_precedence",
    """
    -- RFC 9309 longest-match verdicts restated by class arithmetic:
    -- host class 0 has Disallow:/private + Allow:/private/public
    -- (the ubiquitous carve-out), class 1 an exact-length tie where
    -- Allow must win, class 2 no rules at all
    WITH u AS (
      SELECT doc_id, (doc_id % 30) AS h, (doc_id % 30) % 3 AS hc,
             doc_id % 4 AS pc
      FROM documents
    )
    SELECT DISTINCT
           'https://h' || h || '.prec.test' ||
           CASE WHEN hc = 0 AND pc = 0 THEN '/private/public/' || doc_id::VARCHAR
                WHEN hc = 0 AND pc = 1 THEN '/private/s' || doc_id::VARCHAR
                WHEN hc = 0 AND pc = 2 THEN '/open/' || doc_id::VARCHAR
                WHEN hc = 0 THEN '/private'
                WHEN hc = 1 AND pc = 0 THEN '/x/' || doc_id::VARCHAR
                WHEN hc = 1 THEN '/y/' || doc_id::VARCHAR
                ELSE '/any/' || doc_id::VARCHAR END AS url,
           'h' || h || '.prec.test' AS host,
           CASE WHEN hc = 0 AND pc = 1 THEN false
                WHEN hc = 0 AND pc = 3 THEN false
                ELSE true END AS allowed,
           CASE WHEN hc = 0 AND pc = 0 THEN 'allow'
                WHEN hc = 0 AND pc IN (1, 3) THEN 'disallow'
                WHEN hc = 1 AND pc = 0 THEN 'allow'
                END AS winner_kind,
           CASE WHEN hc = 0 AND pc = 0 THEN 15
                WHEN hc = 0 AND pc IN (1, 3) THEN 8
                WHEN hc = 1 AND pc = 0 THEN 2
                END::INT AS winner_len
    FROM u
    """,
)
def q_robots_precedence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest-match robots precedence (operators.webgraph.
    robots_match) driven from RAW robots bodies: host class 0 carries
    the ubiquitous ``Disallow: /private`` + ``Allow:
    /private/public`` carve-out (deeper Allow must override the
    shorter Disallow; siblings stay blocked, incl. the exact
    ``/private`` match), class 1 an equal-length Allow/Disallow tie
    the RFC resolves to Allow, class 2 no rules (allowed, NULL
    winner).  The conservative robots_frontier_filter cannot express
    the carve-out — this operator closes that stated gap.  Engine
    path: bodies → parse_robots (now emitting allow rows) →
    robots_match; the oracle restates every verdict by class
    arithmetic."""
    from extractor.operators.webgraph import parse_robots, robots_match

    d = F.col("doc_id")
    hosts = _docs(spark, sf_dir).select((d % 30).alias("h")).distinct()
    hostname = F.concat(F.lit("h"), F.col("h").cast("string"), F.lit(".prec.test"))
    hc = F.col("h") % 3
    body = (
        F.when(
            hc == 0,
            F.lit(
                "User-agent: *\nDisallow: /private\nAllow: /private/public\n"
            ),
        )
        .when(hc == 1, F.lit("User-agent: *\nDisallow: /x\nAllow: /x\n"))
    )
    bodies = hosts.filter(hc != 2).select(
        hostname.alias("host"), body.alias("robots_txt")
    )
    rules = parse_robots(bodies).filter(
        F.col("kind").isin("allow", "disallow")
    ).select("host", "kind", F.col("value").alias("path_prefix"))
    h2 = d % 30
    hc2 = h2 % 3
    pc = d % 4
    path = (
        F.when((hc2 == 0) & (pc == 0), F.concat(F.lit("/private/public/"), d.cast("string")))
        .when((hc2 == 0) & (pc == 1), F.concat(F.lit("/private/s"), d.cast("string")))
        .when((hc2 == 0) & (pc == 2), F.concat(F.lit("/open/"), d.cast("string")))
        .when(hc2 == 0, F.lit("/private"))
        .when((hc2 == 1) & (pc == 0), F.concat(F.lit("/x/"), d.cast("string")))
        .when(hc2 == 1, F.concat(F.lit("/y/"), d.cast("string")))
        .otherwise(F.concat(F.lit("/any/"), d.cast("string")))
    )
    frontier = _docs(spark, sf_dir).select(
        F.concat(
            F.lit("https://h"), h2.cast("string"), F.lit(".prec.test"), path
        ).alias("url")
    )
    return robots_match(frontier, rules)


@register(
    "meta_robots_gate",
    # Directive source is the TAG + HEADER only: every page's body
    # contains the literal word "noindex" (the discussion trap), so
    # any implementation that greps the whole document instead of the
    # robots meta tag fails every row.  Residues: %5 noindex+nofollow
    # tag, %7 reversed-attribute noai tag, %13 content="none"
    # (implies noindex+nofollow), %17 directives split over two tags
    # (index, then noai), %19 unquoted name=robots, %11 X-Robots-Tag
    # header.
    """
    WITH pages AS (
      SELECT 'https://m.test/' || doc_id::VARCHAR AS url,
             '<html><head>' ||
             CASE WHEN doc_id % 5 = 0
                  THEN '<meta name="robots" content="noindex, nofollow">'
                  WHEN doc_id % 7 = 0
                  THEN '<meta content="noai,noimageai" name="robots">'
                  WHEN doc_id % 13 = 0
                  THEN '<meta name="robots" content="none">'
                  WHEN doc_id % 17 = 0
                  THEN '<meta name="robots" content="index">'
                       || '<meta name="robots" content="noai">'
                  WHEN doc_id % 19 = 0
                  THEN '<meta name=robots content=noindex>'
                  ELSE '' END ||
             '</head><body>noindex discussion ' || text
             || '</body></html>' AS html,
             CASE WHEN doc_id % 11 = 0 THEN 'noarchive, noai' END AS x_robots
      FROM documents
    ), sig AS (
      SELECT url,
             -- array_to_string of an empty list is NULL in DuckDB
             coalesce(array_to_string(regexp_extract_all(lower(html),
               '<meta[^>]*name=["'']?robots\\b[^>]*>', 0), ' '), '')
               || ' | ' || coalesce(lower(x_robots), '') AS s
      FROM pages
    ), fl AS (
      SELECT url,
             regexp_matches(s, '\\bnone\\b') AS none_,
             regexp_matches(s, '\\bnoindex\\b') AS noindex0,
             regexp_matches(s, '\\bnofollow\\b') AS nofollow0,
             regexp_matches(s, '\\bnoarchive\\b') AS noarchive,
             regexp_matches(s, '\\bnoai\\b') AS noai,
             regexp_matches(s, '\\bnoimageai\\b') AS noimageai
      FROM sig
    )
    SELECT url,
           (noindex0 OR none_) AS noindex,
           (nofollow0 OR none_) AS nofollow,
           noarchive, noai, noimageai,
           NOT ((noindex0 OR none_) OR noai) AS keep_for_training
    FROM fl
    """,
)
def q_meta_robots_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-level robots/AI-opt-out gate
    (operators.crawl.meta_robots_flags): ``<meta name="robots">``
    directives plus the ``X-Robots-Tag`` HTTP header, reduced to
    per-directive booleans and the ``keep_for_training`` verdict a
    compliant pipeline applies AFTER the crawl (robots.txt only
    governs fetching).  The fixture plants the tag in both attribute
    orders, the ``none`` alias, directives split over two tags, an
    unquoted ``name=robots``, a header-only case — and the word
    "noindex" in every BODY, so tag-scoped parsing is load-bearing,
    not cosmetic.  Map-only, expression-only: no shuffle at any
    scale."""
    from extractor.operators.crawl import meta_robots_flags

    d = F.col("doc_id")
    tag = (
        F.when(d % 5 == 0,
               F.lit('<meta name="robots" content="noindex, nofollow">'))
        .when(d % 7 == 0,
              F.lit('<meta content="noai,noimageai" name="robots">'))
        .when(d % 13 == 0, F.lit('<meta name="robots" content="none">'))
        .when(d % 17 == 0,
              F.lit('<meta name="robots" content="index">'
                    '<meta name="robots" content="noai">'))
        .when(d % 19 == 0, F.lit("<meta name=robots content=noindex>"))
        .otherwise(F.lit(""))
    )
    pages = _docs(spark, sf_dir).select(
        F.concat(F.lit("https://m.test/"), d.cast("string")).alias("url"),
        F.concat(
            F.lit("<html><head>"), tag,
            F.lit("</head><body>noindex discussion "), F.col("text"),
            F.lit("</body></html>"),
        ).alias("html"),
        F.when(d % 11 == 0, F.lit("noarchive, noai")).alias("x_robots"),
    )
    return meta_robots_flags(pages, header_col="x_robots")


@register(
    "license_detect",
    # Tag-anchored detection: every body says "released under a
    # creative commons license" in prose (declares nothing); only
    # rel="license" tags into creativecommons.org count.  Residues: %5
    # CC BY 4.0, %7 BY-NC-SA 3.0 (non-commercial, href before rel),
    # %11 CC0 public domain (<link>), %13 BY-ND 4.0 (no derivatives),
    # %17 a bare image-attribution link (undeclared), else undeclared.
    """
    WITH pages AS (
      SELECT 'https://l.test/' || doc_id::VARCHAR AS url,
             '<html><body><p>released under a creative commons license</p>'
             || CASE
                  WHEN doc_id % 5 = 0 THEN
                    '<a rel="license" href="https://creativecommons.org/licenses/by/4.0/">CC BY</a>'
                  WHEN doc_id % 7 = 0 THEN
                    '<a href="https://creativecommons.org/licenses/by-nc-sa/3.0/" rel="license">BY-NC-SA</a>'
                  WHEN doc_id % 11 = 0 THEN
                    '<link rel="license" href="https://creativecommons.org/publicdomain/zero/1.0/">'
                  WHEN doc_id % 13 = 0 THEN
                    '<a rel="license" href="https://creativecommons.org/licenses/by-nd/4.0/">BY-ND</a>'
                  WHEN doc_id % 17 = 0 THEN
                    '<a href="https://creativecommons.org/licenses/by-sa/2.0/"><img src="photo.jpg"></a>'
                  ELSE '' END
             || '<p>' || text || '</p></body></html>' AS html
      FROM documents
    ), tags AS (
      SELECT url,
             regexp_extract(lower(html),
               '<(?:a|link)\\s[^>]*(?:\\brel=["'']?license\\b[^>]*creativecommons\\.org/|creativecommons\\.org/[^>]*\\brel=["'']?license\\b)[^>]*>', 0)
               AS tag
      FROM pages
    ), det AS (
      SELECT url,
             regexp_extract(tag,
               'creativecommons\\.org/licenses/([a-z-]+)/([0-9][0-9.]*)', 1)
               AS code0,
             regexp_extract(tag,
               'creativecommons\\.org/licenses/([a-z-]+)/([0-9][0-9.]*)', 2)
               AS ver0,
             contains(tag,
               'creativecommons.org/publicdomain/zero/1.0') AS cc0
      FROM tags
    ), lic AS (
      SELECT url,
             CASE WHEN cc0 THEN 'cc0'
                  WHEN code0 != '' THEN code0 END AS license_code,
             CASE WHEN cc0 THEN '1.0'
                  WHEN code0 != '' THEN ver0 END AS license_version
      FROM det
    )
    SELECT url, license_code, license_version,
           CASE WHEN license_code IS NULL THEN NULL
                ELSE NOT contains(license_code, 'nc') END
             AS allows_commercial,
           CASE WHEN license_code IS NULL THEN NULL
                ELSE NOT contains(license_code, 'nd') END
             AS allows_derivatives
    FROM lic
    """,
)
def q_license_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Creative-Commons license detection
    (operators.crawl.detect_license) — the machine-readable signal
    behind permissively-licensed corpus cuts: a rel="license" tag into
    creativecommons.org in the page's own markup, reduced to (code,
    version, allows_commercial, allows_derivatives), NULLs when
    undeclared (unknown is NOT permissive).  The fixture plants prose
    claiming a CC license in every body and a bare image-attribution
    link on one residue, so tag-anchoring is load-bearing.
    Map-only, expression-only."""
    from extractor.operators.crawl import detect_license

    d = F.col("doc_id")
    lic = (
        F.when(d % 5 == 0, F.lit(
            '<a rel="license" href="https://creativecommons.org/licenses/by/4.0/">CC BY</a>'))
        .when(d % 7 == 0, F.lit(
            '<a href="https://creativecommons.org/licenses/by-nc-sa/3.0/" rel="license">BY-NC-SA</a>'))
        .when(d % 11 == 0, F.lit(
            '<link rel="license" href="https://creativecommons.org/publicdomain/zero/1.0/">'))
        .when(d % 13 == 0, F.lit(
            '<a rel="license" href="https://creativecommons.org/licenses/by-nd/4.0/">BY-ND</a>'))
        .when(d % 17 == 0, F.lit(
            '<a href="https://creativecommons.org/licenses/by-sa/2.0/"><img src="photo.jpg"></a>'))
        .otherwise(F.lit(""))
    )
    pages = _docs(spark, sf_dir).select(
        F.concat(F.lit("https://l.test/"), d.cast("string")).alias("url"),
        F.concat(
            F.lit("<html><body><p>released under a creative commons license</p>"),
            lic,
            F.lit("<p>"), F.col("text"), F.lit("</p></body></html>"),
        ).alias("html"),
    )
    return detect_license(pages)


@register(
    "compliance_rollup",
    # The governance chain over one fixture: robots meta tags
    # (%5 noindex+nofollow, %7 noai) AND rel="license" links (%3 CC BY
    # 4.0, %11 BY-NC 2.0 href before rel; %13 a bare image-attribution
    # link, undeclared) planted independently, so every combination of
    # (opt-out x license) occurs.  A page enters the compliant
    # training cut iff keep_for_training (no noindex, no noai) AND
    # its license affirmatively allows commercial use.
    """
    WITH pages AS (
      SELECT doc_id,
             'https://g.test/' || doc_id::VARCHAR AS url,
             '<html><head>'
             || CASE WHEN doc_id % 5 = 0
                     THEN '<meta name="robots" content="noindex">'
                     WHEN doc_id % 7 = 0
                     THEN '<meta name="robots" content="noai">'
                     ELSE '' END
             || '</head><body>'
             || CASE WHEN doc_id % 3 = 0 THEN
                  '<a rel="license" href="https://creativecommons.org/licenses/by/4.0/">CC</a>'
                WHEN doc_id % 11 = 0 THEN
                  '<a href="https://creativecommons.org/licenses/by-nc/2.0/" rel="license">CC</a>'
                WHEN doc_id % 13 = 0 THEN
                  '<a href="https://creativecommons.org/licenses/by/4.0/"><img src="photo.jpg"></a>'
                ELSE '' END
             || '<p>' || text || '</p></body></html>' AS html,
             text
      FROM documents
    ), sig AS (
      SELECT doc_id, text,
             coalesce(array_to_string(regexp_extract_all(lower(html),
               '<meta[^>]*name=["'']?robots\\b[^>]*>', 0), ' '), '')
               AS tag,
             regexp_extract(regexp_extract(lower(html),
               '<(?:a|link)\\s[^>]*(?:\\brel=["'']?license\\b[^>]*creativecommons\\.org/|creativecommons\\.org/[^>]*\\brel=["'']?license\\b)[^>]*>', 0),
               'creativecommons\\.org/licenses/([a-z-]+)/([0-9][0-9.]*)', 1)
               AS code0
      FROM pages
    ), fl AS (
      SELECT doc_id, text,
             regexp_matches(tag, '\\bnoindex\\b') AS noindex,
             regexp_matches(tag, '\\bnoai\\b') AS noai,
             CASE WHEN code0 != '' THEN code0 END AS license_code
      FROM sig
    ), verdict AS (
      SELECT coalesce(license_code, 'undeclared') AS license_code,
             noindex, noai,
             (NOT (noindex OR noai))
               AND coalesce(NOT contains(license_code, 'nc'), false)
               AS kept,
             length(string_split(trim(text), ' ')) AS n_words
      FROM fl
    )
    SELECT license_code,
           count(*)::BIGINT AS n_pages,
           count(*) FILTER (WHERE noindex)::BIGINT AS n_noindex,
           count(*) FILTER (WHERE noai)::BIGINT AS n_noai,
           count(*) FILTER (WHERE kept)::BIGINT AS n_kept,
           coalesce(sum(n_words) FILTER (WHERE kept), 0)::BIGINT
             AS words_kept
    FROM verdict GROUP BY license_code
    """,
)
def q_compliance_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The governance chain end-to-end: meta_robots_flags +
    detect_license over one page set, reduced to the per-license
    compliance scoreboard a corpus release publishes — how many pages
    each license bucket holds, how many carry opt-outs, how many
    enter the compliant cut (no noindex/noai AND a license that
    AFFIRMATIVELY allows commercial use — undeclared never passes),
    and the word mass the cut keeps.  Both signals are planted on
    coprime residues so every (opt-out × license) combination occurs.

    Scale shape: two map-only operators project the page bytes away
    BEFORE their outputs meet, so the two url-keyed equi-joins move
    only verdict rows (url + booleans + a ≤10-char code) — page
    bytes never ride a shuffle; then ONE license-keyed aggregate
    with map-side partials; output is license-cardinality rows."""
    from extractor.operators.crawl import detect_license, meta_robots_flags

    d = F.col("doc_id")
    tag = (
        F.when(d % 5 == 0, F.lit('<meta name="robots" content="noindex">'))
        .when(d % 7 == 0, F.lit('<meta name="robots" content="noai">'))
        .otherwise(F.lit(""))
    )
    lic = (
        F.when(d % 3 == 0, F.lit(
            '<a rel="license" href="https://creativecommons.org/licenses/by/4.0/">CC</a>'))
        .when(d % 11 == 0, F.lit(
            '<a href="https://creativecommons.org/licenses/by-nc/2.0/" rel="license">CC</a>'))
        .when(d % 13 == 0, F.lit(
            '<a href="https://creativecommons.org/licenses/by/4.0/"><img src="photo.jpg"></a>'))
        .otherwise(F.lit(""))
    )
    pages = _docs(spark, sf_dir).select(
        F.concat(F.lit("https://g.test/"), d.cast("string")).alias("url"),
        F.concat(
            F.lit("<html><head>"), tag, F.lit("</head><body>"), lic,
            F.lit("<p>"), F.col("text"), F.lit("</p></body></html>"),
        ).alias("html"),
        F.size(F.split(F.trim(F.col("text")), " ")).cast("long").alias("n_words"),
    )
    robots = meta_robots_flags(pages)
    licenses = detect_license(pages)
    j = (
        robots.join(licenses, "url")
        .join(pages.select("url", "n_words"), "url")
        .select(
            F.coalesce(F.col("license_code"), F.lit("undeclared")).alias(
                "license_code"
            ),
            "noindex",
            "noai",
            (
                (~(F.col("noindex") | F.col("noai")))
                & F.coalesce(
                    ~F.col("license_code").contains("nc"), F.lit(False)
                )
            ).alias("kept"),
            "n_words",
        )
    )
    return j.groupBy("license_code").agg(
        F.count("*").alias("n_pages"),
        F.count_if(F.col("noindex")).alias("n_noindex"),
        F.count_if(F.col("noai")).alias("n_noai"),
        F.count_if(F.col("kept")).alias("n_kept"),
        F.coalesce(
            F.sum(F.when(F.col("kept"), F.col("n_words"))), F.lit(0)
        ).alias("words_kept"),
    )

@register(
    "query_traps",
    """
    -- faceted/session-id URL-space explosion per (host, path): the
    -- %3=0 path carries doc-distinct query variants (the trap), the
    -- %3=1 path repeats ONE query (benign), the rest are bare
    WITH u AS (
      SELECT doc_id,
             'h' || (doc_id % 9) AS hn,
             doc_id % 3 AS cls
      FROM documents
    ), rows_ AS (
      SELECT hn || '.shop.test' AS host,
             CASE cls WHEN 0 THEN '/search' WHEN 1 THEN '/list'
                      ELSE '/about' END AS path,
             CASE cls WHEN 0 THEN 'q=' || doc_id::VARCHAR || '&page='
                                  || (doc_id % 5)::VARCHAR
                      WHEN 1 THEN 'sort=price' ELSE '' END AS query
      FROM u
    )
    SELECT host, path, count(*)::BIGINT AS n_urls,
           count(DISTINCT query)::BIGINT AS n_variants,
           sum(CASE WHEN query <> '' THEN 1 ELSE 0 END)::BIGINT
             AS with_query
    FROM rows_ GROUP BY 1, 2
    """,
)
def q_query_traps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-parameter trap detection
    (operators.crawl.query_variant_stats): per (host, path), distinct
    query-string variants — the '/search?q=…&page=…' URL-space
    explosion that floods a frontier with one page's worth of
    content; the %3=0 class plants doc-distinct variants (the trap
    signature: n_variants ≈ n_urls), the %3=1 class repeats one
    query (benign: n_variants = 1), bare paths count the empty
    variant.  Map-only split, one aggregate; the oracle restates the
    classes arithmetically."""
    from extractor.operators.crawl import query_variant_stats

    d = F.col("doc_id")
    host = F.concat(F.lit("h"), (d % 9).cast("string"), F.lit(".shop.test"))
    url = F.concat(
        F.lit("https://"),
        host,
        F.when(
            d % 3 == 0,
            F.concat(
                F.lit("/search?q="), d.cast("string"),
                F.lit("&page="), (d % 5).cast("string"),
            ),
        )
        .when(d % 3 == 1, F.lit("/list?sort=price"))
        .otherwise(F.lit("/about")),
    )
    urls = _docs(spark, sf_dir).select(url.alias("url"))
    return query_variant_stats(urls)
