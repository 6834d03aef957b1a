"""Crawl-lifecycle operators: cross-crawl deltas and latest-wins
snapshot resolution.

A web corpus is not one table but a sequence of crawls of the same URL
space; before any dedup or quality work the pipeline must answer "what
changed since the previous crawl?" and "which capture of this URL is
current?".  (The reference service processes one upload at a time and
has no corpus memory — extractor's batch analog of re-submitting a
document is re-crawling a URL, so these operators define what re-
ingestion MEANS at corpus grain.)

Scale shape: both operators are one equi-shuffle on the URL key.
``crawl_delta`` is a single full-outer join of two crawl partitions
(hash-partitioned on url, AQE-splittable); content comparison moves
md5 hex digests, never page bytes.  ``latest_snapshot`` is one
``max_by`` aggregate — no window over the multi-crawl union, so a
1000-crawl history with 10^10 captures resolves in one shuffle whose
reduce-side state is one running maximum per URL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def crawl_delta(
    old: DataFrame,
    new: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """Classify every URL across two crawls: ``added`` (new only),
    ``removed`` (old only), ``changed`` (both, different content
    md5), ``unchanged`` (both, same md5).  Returns
    (url, status, old_md5, new_md5).

    One full-outer equi-join on the URL key; the md5 is computed
    map-side before the shuffle so only (url, 32-hex) rows move.
    """
    o = old.select(
        F.col(url_col).alias("url"), F.md5(F.col(text_col)).alias("old_md5")
    )
    n = new.select(
        F.col(url_col).alias("url"), F.md5(F.col(text_col)).alias("new_md5")
    )
    return o.join(n, "url", "full_outer").select(
        "url",
        F.when(F.col("old_md5").isNull(), F.lit("added"))
        .when(F.col("new_md5").isNull(), F.lit("removed"))
        .when(F.col("old_md5") == F.col("new_md5"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
        .alias("status"),
        "old_md5",
        "new_md5",
    )


def latest_snapshot(
    captures: DataFrame,
    url_col: str = "url",
    ts_col: str = "crawl_ts",
    payload_cols: list[str] | None = None,
) -> DataFrame:
    """Latest-wins resolution over a multi-crawl union of captures:
    one row per URL carrying the payload of its most recent capture
    plus ``n_captures`` (how many crawls saw this URL) and
    ``first_ts``/``last_ts`` (its observation span).

    ``max(struct(ts, payload…))`` keeps the aggregate a single
    shuffle with constant per-key reduce state — the window-function
    formulation (row_number over url order by ts desc) would buffer
    every capture of hot URLs on one reducer — and stays deterministic
    on ts ties because struct comparison falls through to the payload
    fields (``max_by`` ties would be arbitrary).
    """
    payload_cols = payload_cols or [
        c for c in captures.columns if c not in (url_col, ts_col)
    ]
    pay = F.struct(F.col(ts_col), *[F.col(c) for c in payload_cols])
    agg = (
        captures.groupBy(F.col(url_col).alias("url"))
        .agg(
            F.max(pay).alias("latest"),
            F.count(F.lit(1)).cast("long").alias("n_captures"),
            F.min(ts_col).alias("first_ts"),
            F.max(ts_col).alias("last_ts"),
        )
    )
    return agg.select(
        "url",
        *[F.col(f"latest.{c}").alias(c) for c in payload_cols],
        "n_captures",
        "first_ts",
        "last_ts",
    )


def detect_moves(delta: DataFrame) -> DataFrame:
    """Content moves across two crawls: pair every ``removed`` URL
    with every ``added`` URL carrying byte-identical content (equal
    content md5) — the redirect/site-restructure signal that lets a
    pipeline preserve a document's history (and its dedup/index
    state) instead of treating the move as a delete plus a fresh
    document.  Input is :func:`crawl_delta` output; returns
    (old_url, new_url, md5).

    One equi-join on the 32-hex digest between two already-small
    slices of the delta (removed × added) — at web scale both sides
    are crawl-churn-sized, not corpus-sized, and a shared digest
    between unrelated sites simply surfaces as a many-to-many row
    (real: mirrored boilerplate), so no dedup pass is hidden here.
    """
    removed = delta.filter(F.col("status") == "removed").select(
        F.col("url").alias("old_url"), F.col("old_md5").alias("md5")
    )
    added = delta.filter(F.col("status") == "added").select(
        F.col("url").alias("new_url"), F.col("new_md5").alias("md5")
    )
    return removed.join(added, "md5").select("old_url", "new_url", "md5")


def resolve_redirects(
    edges: DataFrame,
    src_col: str = "url",
    dst_col: str = "location",
    max_hops: int = 16,
) -> DataFrame:
    """Collapse redirect chains to their final targets: (src, dst)
    redirect edges → ``(url, final_url, hops, resolved)``.  A crawl
    is full of 301/302 captures (the WARC reader surfaces each one's
    ``Location`` header); canonical-URL maps, dedup and PageRank all
    want the chain's END, not its links.

    ``resolved`` is true iff the chain reaches a non-redirecting URL
    within ``max_hops``; cycles (a→b→a) and over-long chains come
    back ``(NULL, NULL, false)`` — the fetch-policy signal, not an
    error.

    Scale shape — POINTER DOUBLING, not step-by-step walking: the
    one-step mapping f (src→dst, terminals fixed) is composed with
    itself ``ceil(log2(max_hops))`` times, so f^(2^k) resolves every
    chain of length ≤ 2^k in k self-joins — a 16-hop chain costs 4
    equi-shuffles of the EDGE table (redirect-sized, never
    corpus-sized), where the naive walk costs 16.  Each composition
    is one equi-join on the moving endpoint; ``localCheckpoint``
    truncates the doubled lineage.  Duplicate captures of one source
    collapse to ``min(dst)`` first (deterministic; real crawls can
    hold conflicting captures of one URL).
    """
    import math

    m = (
        edges.groupBy(F.col(src_col).alias("x"))
        .agg(F.min(F.col(dst_col)).alias("y"))
        .withColumn("s", F.lit(1).cast("long"))
    )
    srcs = m.select(F.col("x").alias("t")).localCheckpoint(eager=False)
    rounds = max(1, math.ceil(math.log2(max_hops))) if max_hops > 1 else 0
    for _ in range(rounds):
        nxt = m.select(
            F.col("x").alias("bx"), F.col("y").alias("by"), F.col("s").alias("bs")
        )
        m = (
            m.join(nxt, m["y"] == nxt["bx"], "left")
            .select(
                "x",
                F.coalesce(F.col("by"), F.col("y")).alias("y"),
                (F.col("s") + F.coalesce(F.col("bs"), F.lit(0))).alias("s"),
            )
            .localCheckpoint(eager=False)
        )
    out = m.join(srcs, m["y"] == srcs["t"], "left")
    resolved = F.col("t").isNull() & (F.col("s") <= max_hops)
    return out.select(
        F.col("x").alias("url"),
        F.when(resolved, F.col("y")).alias("final_url"),
        F.when(resolved, F.col("s")).alias("hops"),
        resolved.alias("resolved"),
    )


#: Phrases that mark an error page served with a 200 status.  Kept
#: deliberately short and high-precision (Bar-Yossef et al., WWW'04
#: measure soft-404s structurally; phrase matching is the cheap
#: expression-only tier a crawl applies to every capture).
SOFT404_PATTERN = (
    r"(?i)(page not found|404 not found|error 404|page does not exist|"
    r"no longer available|page you requested (was|is) not)"
)


def soft404_flags(
    status: Column,
    title: Column,
    text: Column,
    max_body_chars: int = 512,
) -> dict[str, Column]:
    """Soft-404 features + verdict, expression-only (no Python, no
    shuffle): a capture that returned HTTP 200 but whose CONTENT is an
    error page.  Crawls are full of them — they poison dedup (every
    soft-404 on a host is near-identical), quality stats and the link
    graph, so the gate runs right after extraction.

    Verdict: status == 200 AND (the title matches an error phrase, OR
    the body matches one AND is short — long pages that merely mention
    "404" are articles, not error pages).  Returns the feature columns
    too so a corpus report can audit the rule."""
    title_hit = F.coalesce(title, F.lit("")).rlike(SOFT404_PATTERN)
    body_hit = F.coalesce(text, F.lit("")).rlike(SOFT404_PATTERN)
    short = F.length(F.coalesce(text, F.lit(""))) <= max_body_chars
    return {
        "title_hit": title_hit,
        "body_hit": body_hit,
        "short_body": short,
        "soft404": (status == 200) & (title_hit | (body_hit & short)),
    }


def recrawl_priority(
    captures: DataFrame,
    url_col: str = "url",
    ts_col: str = "crawl_ts",
    digest_col: str = "digest",
) -> DataFrame:
    """Change-rate estimation over a URL's capture history — the
    Cho & Garcia-Molina recrawl-scheduling signal: pages that changed
    often in past crawls get refreshed first; static pages are
    fetched rarely.  Returns ``(url, n_captures, n_changes,
    change_bp, first_ts, last_ts)`` where ``change_bp`` =
    ``floor(10000 · n_changes / (n_captures − 1))`` — the observed
    change fraction in basis points (integer-exact, 0 for a
    single-capture URL).

    Scale shape: ONE shuffle (groupBy url).  A URL's history is
    bounded by the number of crawls (dozens), never by corpus size,
    so the per-url sorted history rides a ``collect_list`` →
    ``array_sort`` aggregate and adjacent-capture comparison is a
    codegen'd ``zip_with`` over the array — no window over the raw
    capture stream, constant-bounded reduce state per URL."""
    h = F.array_sort(
        F.collect_list(F.struct(F.col(ts_col).alias("ts"),
                                F.col(digest_col).alias("digest")))
    )
    agg = captures.groupBy(F.col(url_col).alias("url")).agg(h.alias("h"))
    n = F.size("h")
    changes = F.aggregate(
        F.zip_with(
            F.slice(F.col("h"), 1, F.greatest(n - 1, F.lit(0))),
            F.slice(F.col("h"), 2, F.greatest(n - 1, F.lit(0))),
            lambda a, b: (a["digest"] != b["digest"]).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return agg.select(
        "url",
        n.cast("long").alias("n_captures"),
        changes.alias("n_changes"),
        F.floor(changes * 10000 / F.greatest(n - 1, F.lit(1)))
        .cast("long")
        .alias("change_bp"),
        F.element_at("h", 1)["ts"].alias("first_ts"),
        F.element_at("h", -1)["ts"].alias("last_ts"),
    )


def sitemap_frontier(
    entries: DataFrame,
    captures: DataFrame,
    loc_col: str = "loc",
    lastmod_col: str = "lastmod",
    url_col: str = "url",
    ts_col: str = "last_ts",
) -> DataFrame:
    """Fetch decisions from sitemap hints vs capture history — the
    stage that turns a parsed sitemap (sources.sitemap) into frontier
    rows: ``new`` (listed, never captured), ``stale`` (lastmod after
    the last capture), ``fresh`` (lastmod at/before it), ``no_hint``
    (listed without lastmod — recrawl policy decides), ``unlisted``
    (captured but gone from the sitemap — the site's own removal
    signal).  ``fetch`` is true for new/stale/no_hint.

    Timestamps compare as ISO-8601 strings (lexicographic == 
    chronological for YYYY-MM-DD forms; integer-exact across
    engines).  ONE full-outer equi-join on the URL key — both sides
    are site-sized tables of (url, short string) rows; no payload
    bytes move."""
    e = entries.select(
        F.col(loc_col).alias("url"), F.col(lastmod_col).alias("_lastmod")
    )
    c = captures.select(
        F.col(url_col).alias("url"), F.col(ts_col).alias("_cap_ts")
    )
    listed = F.col("_listed")
    status = (
        F.when(~listed, F.lit("unlisted"))
        .when(F.col("_cap_ts").isNull(), F.lit("new"))
        .when(F.col("_lastmod").isNull(), F.lit("no_hint"))
        .when(F.col("_lastmod") > F.col("_cap_ts"), F.lit("stale"))
        .otherwise(F.lit("fresh"))
    )
    return (
        e.withColumn("_listed", F.lit(True))
        .join(c, "url", "full_outer")
        .withColumn("_listed", F.coalesce(listed, F.lit(False)))
        .select(
            "url",
            status.alias("status"),
            status.isin("new", "stale", "no_hint").alias("fetch"),
        )
    )


def host_mirror_pairs(
    pages: DataFrame,
    host_col: str = "host",
    digest_col: str = "digest",
    max_hosts_per_digest: int = 10,
    min_containment_bp: int = 9000,
) -> DataFrame:
    """Mirror-host detection by shared content digests: host pairs
    where one side's page set is (near-)contained in the other's —
    CDNs, www/non-www splits, and wholesale site mirrors that URL
    canonicalization can't see because the HOSTS differ.  Collapsing
    mirrors before dedup removes whole duplicate sites in one join
    instead of page-by-page, and keeps PageRank from double-counting
    a mirrored site's endorsements.

    Returns ``(host_a, host_b, shared, n_a, n_b, cont_a_bp,
    cont_b_bp)`` with host_a < host_b; kept when EITHER directional
    containment ``shared/n_x`` reaches ``min_containment_bp`` (a
    mirror is usually a subset, so the direction matters — same
    Broder-containment argument as dedup.ngram_containment_pairs).

    Digests on more than ``max_hosts_per_digest`` hosts are dropped
    BEFORE the pair join (identical boilerplate pages — parked-domain
    templates, error pages — appear on thousands of hosts and would
    cross every one of them with every other; the cap is the same
    hot-key guard as the shingle index's ``max_df``).  Host sizes are
    counted over the kept digests, stated in the output columns.

    Scale shape: distinct (host, digest) projection → hot-digest
    filter (one count per digest, map-side partials) → self equi-join
    on digest (only co-occurring host pairs materialize, each digest
    contributes at most C(cap,2) pairs) → one (host_a, host_b) count
    + two hosts-sized size joins.  Digests are 16-byte keys; page
    text never moves."""
    hd = pages.select(
        F.col(host_col).alias("host"), F.col(digest_col).alias("digest")
    ).distinct()
    kept = (
        hd.join(
            hd.groupBy("digest")
            .agg(F.count(F.lit(1)).alias("_nh"))
            .filter(F.col("_nh") <= max_hosts_per_digest)
            .select("digest"),
            "digest",
        )
        # referenced by sizes + both sides of the pair join: without
        # the checkpoint the distinct projection recomputes 4x (same
        # reuse pattern as duplicated_span_stats' gram table)
        .localCheckpoint(eager=True)
    )
    sizes = kept.groupBy("host").agg(F.count(F.lit(1)).cast("long").alias("n"))
    a = kept.select(F.col("digest"), F.col("host").alias("host_a"))
    b = kept.select(F.col("digest"), F.col("host").alias("host_b"))
    shared = (
        a.join(b, "digest")
        .filter(F.col("host_a") < F.col("host_b"))
        .groupBy("host_a", "host_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared"))
    )
    return (
        shared.join(sizes.withColumnRenamed("host", "host_a").withColumnRenamed("n", "n_a"), "host_a")
        .join(sizes.withColumnRenamed("host", "host_b").withColumnRenamed("n", "n_b"), "host_b")
        .withColumn("cont_a_bp", F.expr("(10000 * shared) div n_a"))
        .withColumn("cont_b_bp", F.expr("(10000 * shared) div n_b"))
        .filter(
            (F.col("cont_a_bp") >= min_containment_bp)
            | (F.col("cont_b_bp") >= min_containment_bp)
        )
        .select("host_a", "host_b", "shared", "n_a", "n_b", "cont_a_bp", "cont_b_bp")
    )


def crawl_novelty(
    captures: DataFrame,
    crawl_col: str = "crawl_id",
    digest_col: str = "digest",
) -> DataFrame:
    """Per-crawl content novelty — the corpus growth curve: of the
    distinct content digests each crawl captured, how many had never
    been seen in ANY earlier crawl.  The number a crawl operator
    watches to decide whether re-crawling a source still pays (and
    the denominator behind "the web is running out of new tokens"
    plots).  Returns ``(crawl_id, n_digests, n_new, novelty_bp)``
    with ``novelty_bp = 10000·n_new div n_digests``.

    Scale shape: one distinct (digest, crawl) projection, then the
    digest-first-occurrence min-aggregate (map-side partials) joined
    back on digest — the same first-occurrence shape as
    paragraph_dedup, at digest grain; the final per-crawl rollup is
    crawls-sized.  Digests are 16-byte keys; page bytes never move."""
    dc = captures.select(
        F.col(crawl_col).alias("crawl_id"), F.col(digest_col).alias("digest")
    ).distinct()
    first = dc.groupBy("digest").agg(F.min("crawl_id").alias("_first"))
    return (
        dc.join(first, "digest")
        .groupBy("crawl_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_digests"),
            F.sum(
                F.when(F.col("crawl_id") == F.col("_first"), 1).otherwise(0)
            ).cast("long").alias("n_new"),
        )
        .withColumn("novelty_bp", F.expr("(10000 * n_new) div n_digests"))
    )


def _canon_of(name: str):
    """Scheme-preserving URL normalization over the column named
    ``name``: lowercase scheme+host, strip query and fragment, keep
    the path's case (paths are case-sensitive)."""
    return F.expr(
        f"""
        lower(substring_index(substring_index(substring_index({name}, '#', 1),
                                              '?', 1), '://', 1))
        || '://'
        || lower(substring_index(substring({name}, instr({name}, '://') + 3),
                                 '/', 1))
        || substring(
             substring_index(substring_index(
               substring({name}, instr({name}, '://') + 3), '#', 1), '?', 1),
             length(substring_index(substring({name}, instr({name}, '://') + 3),
                                    '/', 1)) + 1)
        """
    )


def canonical_url_map(
    pages: DataFrame,
    redirects: DataFrame | None = None,
    url_col: str = "url",
    canonical_col: str = "rel_canonical",
) -> DataFrame:
    """One url → canonical-url consolidation map from the three
    signals a crawl actually has, with explicit precedence:

    1. a RESOLVED redirect target (:func:`resolve_redirects` output —
       the server said "this page lives elsewhere");
    2. the page's own ``rel=canonical`` (absolute used as-is,
       relative resolved against the page's scheme+host, empty/NULL
       ignored — the publisher said it);
    3. the URL itself.

    The winner is then normalized (lowercase scheme+host, query and
    fragment stripped — paths keep their case).  Returns
    ``(url, canonical_url, source)`` with source ∈ {'redirect',
    'rel_canonical', 'self'}; downstream dedup/PageRank/indexing key
    on canonical_url instead of treating every variant as a distinct
    document.

    Scale shape: one left equi-join on the url key against the
    redirect-sized resolution table (unresolved chains — cycles,
    over-long — fall through to the next signal, not to NULL);
    everything else is map-side expressions.  The map itself is a
    (url, url, enum) projection a 10^12-row corpus materializes in
    one pass."""
    p = pages.select(
        F.col(url_col).alias("url"),
        F.col(canonical_col).alias("_rc"),
    )
    if redirects is not None:
        r = redirects.filter(F.col("resolved")).select(
            F.col("url"), F.col("final_url").alias("_redir")
        )
        p = p.join(r, "url", "left")
    else:
        p = p.withColumn("_redir", F.lit(None).cast("string"))
    page_base = F.substring_index(F.substring_index(F.col("url"), "#", 1), "?", 1)
    page_scheme = F.lower(F.substring_index(page_base, "://", 1))
    page_host = F.lower(
        F.substring_index(
            F.expr("substring(url, instr(url, '://') + 3)"), "/", 1
        )
    )
    rc_abs = (
        F.when(F.col("_rc").contains("://"), F.col("_rc"))
        .otherwise(
            F.concat(
                page_scheme,
                F.lit("://"),
                page_host,
                F.when(
                    F.col("_rc").startswith("/"), F.col("_rc")
                ).otherwise(F.concat(F.lit("/"), F.col("_rc"))),
            )
        )
    )
    has_rc = F.col("_rc").isNotNull() & (F.trim(F.col("_rc")) != "")
    winner = (
        F.when(F.col("_redir").isNotNull(), F.col("_redir"))
        .when(has_rc, rc_abs)
        .otherwise(F.col("url"))
    )
    source = (
        F.when(F.col("_redir").isNotNull(), F.lit("redirect"))
        .when(has_rc, F.lit("rel_canonical"))
        .otherwise(F.lit("self"))
    )
    return p.select(
        "url", winner.alias("_w"), source.alias("source")
    ).select(
        "url",
        _canon_of("_w").alias("canonical_url"),
        "source",
    )


def extraction_churn(
    base: DataFrame,
    variant: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """Per-host churn report between two extraction runs over the same
    URL sample — the canary an operator team gates an extractor change
    on: run the candidate beside the shipping version on a pinned
    sample and read WHICH host classes change, by how much, and
    whether any rows were lost, before touching the 10^12-row corpus.
    (:func:`crawl_delta` answers the same question at URL grain
    between two *crawls*; this is the host-grain rollup between two
    *code versions* on one crawl.)

    Returns one row per host:
    ``(host, pages_base, pages_variant, only_base, only_variant,
    changed, changed_bp, base_bytes, variant_bytes, delta_bytes)``
    where ``changed`` counts urls present on both sides whose text
    differs, ``changed_bp`` is its basis-point share of the
    both-sides urls, and ``delta_bytes = variant_bytes - base_bytes``
    (signed — template stripping shrinks, a boilerplate regression
    grows).  ``only_base`` > 0 means the candidate DROPPED rows — the
    first thing to look at.

    Scale shape: each side is projected map-side to
    (url, host, md5, byte length) — 16-byte digests and two longs
    move, page text never shuffles.  One full-outer equi-join on the
    url key (AQE-splittable), then one host aggregate with map-side
    partials.  The report is hosts-sized.
    """
    def side(df: DataFrame, tag: str) -> DataFrame:
        u = F.col(url_col)
        no_scheme = F.expr(
            f"substring({url_col}, instr({url_col}, '://') + 3)"
        )
        host = F.lower(F.substring_index(no_scheme, "/", 1))
        return df.select(
            u.alias("url"),
            host.alias(f"host_{tag}"),
            F.md5(F.col(text_col)).alias(f"md5_{tag}"),
            # octet_length: BYTE counts (length() is characters) —
            # churn is a storage/transfer number, and it matches any
            # SQL oracle's octet_length bit-for-bit on non-ASCII too
            F.octet_length(F.col(text_col)).cast("long").alias(f"len_{tag}"),
        )

    joined = side(base, "b").join(side(variant, "v"), "url", "full_outer")
    host = F.coalesce(F.col("host_b"), F.col("host_v"))
    in_b = F.col("md5_b").isNotNull()
    in_v = F.col("md5_v").isNotNull()
    per_host = joined.groupBy(host.alias("host")).agg(
        F.sum(in_b.cast("long")).alias("pages_base"),
        F.sum(in_v.cast("long")).alias("pages_variant"),
        F.sum((in_b & ~in_v).cast("long")).alias("only_base"),
        F.sum((~in_b & in_v).cast("long")).alias("only_variant"),
        F.sum(
            (in_b & in_v & (F.col("md5_b") != F.col("md5_v"))).cast("long")
        ).alias("changed"),
        F.sum((in_b & in_v).cast("long")).alias("_both"),
        F.sum(F.coalesce(F.col("len_b"), F.lit(0))).alias("base_bytes"),
        F.sum(F.coalesce(F.col("len_v"), F.lit(0))).alias("variant_bytes"),
    )
    return per_host.select(
        "host",
        "pages_base",
        "pages_variant",
        "only_base",
        "only_variant",
        "changed",
        F.when(F.col("_both") > 0, F.expr("(10000 * changed) div _both"))
        .otherwise(F.lit(0)).cast("long").alias("changed_bp"),
        "base_bytes",
        "variant_bytes",
        (F.col("variant_bytes") - F.col("base_bytes")).alias("delta_bytes"),
    )


def mixture_drift(
    docs: DataFrame,
    crawl_col: str = "crawl_id",
    source_col: str = "source",
    weight_col: str = "weight",
) -> DataFrame:
    """Per-crawl source-mixture shares and their drift against the
    previous crawl — the monitoring view over the mixture that
    source_mixture_sample ENFORCES: a source whose share jumps
    (a crawler unblocked, a host exploded with generated pages) or
    collapses (robots change, site death) shifts the training
    distribution silently unless something watches the shares.

    ``weight`` is any additive size measure (token count, byte count,
    doc count via ``lit(1)``).  Output per (crawl, source):
    ``(crawl_id, source, weight, share_bp, prev_share_bp, drift_bp)``
    — prev/drift NULL for a crawl's first appearance of a source
    (explicitly distinguishable from a zero drift); a source absent
    from the current crawl emits no row (its disappearance shows as
    the other shares' positive drift — stated, not hidden).

    Scale shape: one (crawl, source) aggregate with map-side partials
    (the only pass over the corpus), crawls-sized totals joined back,
    and the drift join is an equi-join of two |crawls|·|sources|-row
    tables on (crawl−1, source) — bounded by the mixture card, never
    the corpus."""
    agg = (
        docs.select(
            F.col(crawl_col).alias("crawl_id"),
            F.col(source_col).alias("source"),
            F.col(weight_col).alias("w"),
        )
        .groupBy("crawl_id", "source")
        .agg(F.sum("w").alias("weight"))
    )
    tot = agg.groupBy("crawl_id").agg(F.sum("weight").alias("tw"))
    shares = agg.join(tot, "crawl_id").select(
        "crawl_id",
        "source",
        F.col("weight").cast("long").alias("weight"),
        F.expr("weight * 10000 div tw").cast("long").alias("share_bp"),
    )
    prev = shares.select(
        (F.col("crawl_id") + 1).alias("crawl_id"),
        "source",
        F.col("share_bp").alias("prev_share_bp"),
    )
    return shares.join(prev, ["crawl_id", "source"], "left").select(
        "crawl_id",
        "source",
        "weight",
        "share_bp",
        "prev_share_bp",
        (F.col("share_bp") - F.col("prev_share_bp")).alias("drift_bp"),
    )


def query_variant_stats(
    urls: DataFrame, url_col: str = "url", min_variants: int = 1
) -> DataFrame:
    """Query-parameter trap detection: per (host, path), how many
    DISTINCT query-string variants the frontier carries and how many
    carry any query at all — faceted-search and session-id URL spaces
    (``?sort=…&page=…&sid=…``) explode a single path into unbounded
    URL variants; url_canonicalize collapses them AFTER fetch, this
    stat is what keeps them from being fetched in the first place
    (cap or canonicalize-before-enqueue when variants ≫ 1).

    Map-only host/path/query split (the tier's standard expressions:
    host between ``://`` and ``/``, query after the first ``?``), one
    (host, path) aggregate with map-side partials counting distinct
    queries via the exact distinct-projection shape.  Returns
    (host, path, n_urls, n_variants, with_query) with
    ``n_variants`` = distinct query strings (the empty query counts
    as one variant when a bare-path url exists)."""
    no_scheme = F.expr(f"substring({url_col}, instr({url_col}, '://') + 3)")
    host = F.lower(F.substring_index(no_scheme, "/", 1))
    rest = F.expr(
        f"substring({url_col}, instr({url_col}, '://') + 3 + "
        f"length(substring_index(substring({url_col}, "
        f"instr({url_col}, '://') + 3), '/', 1)))"
    )
    path = F.substring_index(rest, "?", 1)
    query = F.when(
        rest.contains("?"),
        F.expr(
            f"substring({url_col}, instr({url_col}, '?') + 1)"
        ),
    ).otherwise(F.lit(""))
    base = urls.select(
        host.alias("host"),
        F.when(path == "", "/").otherwise(path).alias("path"),
        query.alias("query"),
    )
    return (
        base.groupBy("host", "path")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_urls"),
            F.countDistinct("query").cast("long").alias("n_variants"),
            F.sum(F.when(F.col("query") != "", 1).otherwise(0))
            .cast("long")
            .alias("with_query"),
        )
        .filter(F.col("n_variants") >= min_variants)
    )


def meta_robots_flags(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    header_col: str | None = None,
) -> DataFrame:
    """Page-level robots directives: the ``<meta name="robots">`` tag
    plus the optional ``X-Robots-Tag`` HTTP header (``header_col``),
    reduced to per-directive booleans and one ``keep_for_training``
    verdict.  robots.txt (webgraph.parse_robots) governs FETCHING;
    these page-level signals govern what a fetched page may be USED
    for — the opt-out layer a compliant training-data pipeline gates
    on after the crawl, alongside the ``noai``/``noimageai`` tokens
    publishers ship for exactly that purpose.  The reference service
    has no corpus-policy layer (one upload in, one result out,
    `routes/ocr.py`); this is its batch-governance analog.

    Parsing is deliberately tag-scoped: extract EVERY
    ``<meta ... name=robots ...>`` tag (attribute order free, name
    quoted or not — directives split across several tags all count),
    then word-boundary-match directives inside the tags and the
    header only — a page whose BODY discusses "noindex" is not opted
    out.  ``none`` implies ``noindex`` + ``nofollow`` (robots spec).

    Expression-only (lower + one regexp_extract_all + rlike per
    directive): map-only at any scale, no shuffle, stays inside
    whole-stage codegen."""
    tag = F.array_join(
        F.regexp_extract_all(
            F.lower(F.col(html_col)),
            F.lit(r"""<meta[^>]*name=["']?robots\b[^>]*>"""),
            F.lit(0),
        ),
        " ",
    )
    hdr = (
        F.coalesce(F.lower(F.col(header_col)), F.lit(""))
        if header_col
        else F.lit("")
    )
    signals = F.concat(tag, F.lit(" | "), hdr)

    def has(token: str) -> Column:
        return signals.rlike(r"\b" + token + r"\b")

    none_ = has("none")
    noindex = has("noindex") | none_
    nofollow = has("nofollow") | none_
    noai = has("noai")
    noimageai = has("noimageai")
    noarchive = has("noarchive")
    return pages.select(
        F.col(url_col).alias("url"),
        noindex.alias("noindex"),
        nofollow.alias("nofollow"),
        noarchive.alias("noarchive"),
        noai.alias("noai"),
        noimageai.alias("noimageai"),
        (~(noindex | noai)).alias("keep_for_training"),
    )


# The first <a>/<link> tag that declares rel="license" and points into
# creativecommons.org, the two attributes in either order.  Plain
# alternation, no lookaround, so RE2 (the DuckDB twins) reads it the
# same as Java.
_CC_LICENSE_TAG = (
    r"<(?:a|link)\s[^>]*"
    r"(?:\brel=[\"']?license\b[^>]*creativecommons\.org/"
    r"|creativecommons\.org/[^>]*\brel=[\"']?license\b)[^>]*>"
)


def detect_license(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
) -> DataFrame:
    """Creative-Commons license detection from the page's own markup —
    the signal behind "permissively-licensed subset" corpus cuts: an
    ``<a>`` or ``<link>`` tag with ``rel="license"`` whose link goes
    into ``creativecommons.org/licenses/<code>/<version>/`` or
    ``publicdomain/zero/1.0`` (CC0).
    Returns ``(url, license_code, license_version,
    allows_commercial, allows_derivatives)`` — booleans NULL when no
    license was declared (unknown is not permissive; downstream cuts
    filter on ``allows_commercial IS TRUE``).

    Tag-anchored on purpose: prose like "released under a creative
    commons license" declares nothing machine-readable, and a bare
    creativecommons.org link (an image attribution) licenses the
    linked work, not the page; both are ignored.  NC (non-commercial)
    and ND (no-derivatives) modules are read off the license code, the
    only place they exist.

    Expression-only (three regexp_extract + string tests on the
    matched tag and the ≤10-char code): map-only, no shuffle at any
    scale."""
    tag = F.regexp_extract(F.lower(F.col(html_col)), _CC_LICENSE_TAG, 0)
    code0 = F.regexp_extract(
        tag, r"creativecommons\.org/licenses/([a-z-]+)/([0-9][0-9.]*)", 1
    )
    ver0 = F.regexp_extract(
        tag, r"creativecommons\.org/licenses/([a-z-]+)/([0-9][0-9.]*)", 2
    )
    cc0 = tag.contains("creativecommons.org/publicdomain/zero/1.0")
    code = (
        F.when(cc0, F.lit("cc0"))
        .when(code0 != "", code0)
        .otherwise(F.lit(None).cast("string"))
    )
    ver = (
        F.when(cc0, F.lit("1.0"))
        .when(code0 != "", ver0)
        .otherwise(F.lit(None).cast("string"))
    )
    return pages.select(
        F.col(url_col).alias("url"),
        code.alias("license_code"),
        ver.alias("license_version"),
        F.when(code.isNull(), F.lit(None).cast("boolean"))
        .otherwise(~code.contains("nc"))
        .alias("allows_commercial"),
        F.when(code.isNull(), F.lit(None).cast("boolean"))
        .otherwise(~code.contains("nd"))
        .alias("allows_derivatives"),
    )
