"""Sitemap ingestion: the crawl-discovery source.

Sitemaps (sitemaps.org protocol) are how sites TELL a crawler what to
fetch — ``<url>`` entries carrying ``loc`` plus optional ``lastmod``
/ ``changefreq`` / ``priority`` hints that feed straight into the
frontier scorer and the recrawl scheduler (``lastmod`` vs the last
captured digest decides whether a fetch is even needed).  The
reference service has no discovery tier (documents arrive by upload);
a batch crawl engine must ingest sitemaps at the same scale as the
archives themselves — large sites ship 50k-URL sitemap files in
multi-file index sets.

Scale shape: the WARC readers' separator scan (``sources.warc``),
split on ``<url>`` (``<sitemap>`` in INDEX files, which list child
sitemaps) — sitemaps are routinely single-line XML.

Caveat (same family as the WARC framing caveats):
a ``<url>`` literal inside a CDATA comment would split a record; the
fragment then carries no ``<loc>`` and is dropped.  XML entities in
``loc`` are unescaped (the five predefined ones — sitemap locs are
XML-escaped URLs).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from extractor.sources import _scan

URL_SEP = "<url>"
IDX_SEP = "<sitemap>"


def _xml_unescape(col: Column) -> Column:
    """The five predefined XML entities, innermost-last so ``&amp;lt;``
    becomes ``&lt;`` (escape of an escape), matching html.unescape on
    this entity subset."""
    out = col
    for ent, ch in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                    ("&apos;", "'"), ("&amp;", "&")):
        out = F.replace(out, F.lit(ent), F.lit(ch))
    return out


def _tag(chunk: Column, tag: str) -> Column:
    """Text content of the first ``<tag>…</tag>`` in the chunk, NULL
    when absent."""
    return F.nullif(
        F.trim(
            F.regexp_extract(chunk, rf"<{tag}>\s*([^<]*?)\s*</{tag}>", 1)
        ),
        F.lit(""),
    )


def parse_sitemap_records(raw: DataFrame) -> DataFrame:
    """``value: string`` chunks (one per ``<url>``-separated record) →
    (loc, lastmod, changefreq, priority_bp) rows.  ``priority_bp`` is
    the 0.0–1.0 priority in integer basis points (10000·x, exact for
    the protocol's one/two-decimal values); fragments without a
    ``<loc>`` (the pre-record XML preamble) are dropped."""
    loc = _xml_unescape(_tag(F.col("value"), "loc"))
    pr = _tag(F.col("value"), "priority")
    return (
        raw.select(
            loc.alias("loc"),
            _tag(F.col("value"), "lastmod").alias("lastmod"),
            _tag(F.col("value"), "changefreq").alias("changefreq"),
            F.when(
                pr.isNotNull(),
                F.round(pr.cast("decimal(6,4)") * 10000).cast("long"),
            ).alias("priority_bp"),
        )
        .filter(F.col("loc").isNotNull())
    )


def read_sitemap(spark: SparkSession, path: str) -> DataFrame:
    """Read sitemap XML files under ``path`` into
    (loc, lastmod, changefreq, priority_bp) rows."""
    return parse_sitemap_records(_scan(spark, path, URL_SEP))


def read_sitemap_index(spark: SparkSession, path: str) -> DataFrame:
    """Read sitemap INDEX files under ``path`` into (loc, lastmod)
    rows — the child-sitemap list a crawl expands before fetching."""
    raw = _scan(spark, path, IDX_SEP)
    loc = _xml_unescape(_tag(F.col("value"), "loc"))
    return raw.select(
        loc.alias("loc"),
        _tag(F.col("value"), "lastmod").alias("lastmod"),
    ).filter(F.col("loc").isNotNull())


def to_sitemap_records(
    df: DataFrame,
    loc_col: str = "loc",
    lastmod_col: str | None = "lastmod",
    changefreq_col: str | None = "changefreq",
    priority_bp_col: str | None = "priority_bp",
) -> DataFrame:
    """Format rows as sitemap ``<url>`` records — one ``value:
    string`` column for ``df.write.text`` (the distributed writer
    half of the round-trip; a crawl operator also PUBLISHES sitemaps
    for its mirror/export tiers).  Optional fields emit only when
    non-null; ``loc`` is XML-escaped (&amp; first)."""
    loc = F.col(loc_col)
    for ch, ent in (("&", "&amp;"), ("<", "&lt;"), (">", "&gt;"),
                    ('"', "&quot;"), ("'", "&apos;")):
        loc = F.replace(loc, F.lit(ch), F.lit(ent))

    def opt(col_name: str | None, tag: str, expr: Column | None = None) -> Column:
        if col_name is None:
            return F.lit("")
        c = expr if expr is not None else F.col(col_name).cast("string")
        return F.when(
            F.col(col_name).isNotNull(),
            F.concat(F.lit(f"<{tag}>"), c, F.lit(f"</{tag}>")),
        ).otherwise(F.lit(""))

    pr = (
        None
        if priority_bp_col is None
        else F.format_number(F.col(priority_bp_col) / 10000, 1)
    )
    return df.select(
        F.concat(
            F.lit("<url><loc>"), loc, F.lit("</loc>"),
            opt(lastmod_col, "lastmod"),
            opt(changefreq_col, "changefreq"),
            opt(priority_bp_col, "priority", pr),
            F.lit("</url>"),
        ).alias("value")
    )


def read_sitemap_stream(
    spark: SparkSession, path: str, max_files: int = 4
) -> DataFrame:
    """Streaming twin of :func:`read_sitemap`: a drop-directory of
    sitemap files consumed as they land (the same scan as a
    file-source stream, same :func:`parse_sitemap_records`
    expressions — stream==batch by construction).  Checkpointed file
    tracking gives exactly-once processing; the frontier-decision
    join (crawl.sitemap_frontier) runs on each micro-batch."""
    return parse_sitemap_records(_scan(spark, path, URL_SEP, max_files))
