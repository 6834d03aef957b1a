"""WAT-style crawl-archive ingestion — the metadata flavor.

Common Crawl ships three faces of every crawl: WARC (raw captures,
sources/warc.py), WET (extracted text, sources/wet.py), and WAT —
``metadata`` records whose payload is a JSON envelope carrying the
page's head fields and OUTLINKS.  WAT is how link-graph work starts
without touching raw HTML: the edges html_outlinks would extract are
already materialized per capture, so webgraph.pagerank_int /
host_edges / anchor analysis can run straight off the archive.

The record format, its splittable scan and its framing caveats are
``sources.warc``'s; the JSON payload parses with ONE ``from_json``
against an explicit schema, and the writer half is one ``to_json``
per row — zero Python in the per-record path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from extractor.sources import _scan
from extractor.sources.warc import WARC_SEP, _frame, _record

# Explicit envelope schema (the Common-Crawl WAT JSON paths for head
# title + outlinks; dashed names need backticks).  One from_json —
# never get_json_object per field, which re-parses the payload each
# call.
_WAT_SCHEMA = (
    "Envelope STRUCT<`Payload-Metadata` STRUCT<"
    "`HTTP-Response-Metadata` STRUCT<`HTML-Metadata` STRUCT<"
    "Head STRUCT<Title STRING>, "
    "Links ARRAY<STRUCT<url STRING>>>>>>"
)


def read_wat(spark: SparkSession, path: str) -> DataFrame:
    """Read WAT segments under ``path`` into
    ``(url, warc_date, title, links array<string>)`` rows —
    ``metadata`` records only; the warcinfo preamble and records
    without a target URI are dropped.  Absent head titles surface as
    NULL; absent link lists as an empty array (a page with no
    outlinks is data, not a parse failure)."""
    return parse_wat_records(_scan(spark, path, WARC_SEP))


def parse_wat_records(raw: DataFrame) -> DataFrame:
    """Expression-only parse: record chunks → envelope fields.
    Shared verbatim by :func:`read_wat` and :func:`read_wat_stream`
    (stream==batch by construction)."""
    env = F.from_json(F.col("content"), _WAT_SCHEMA)
    html_meta = env[
        "Envelope"
    ]["Payload-Metadata"]["HTTP-Response-Metadata"]["HTML-Metadata"]
    return _frame(raw, ("metadata",)).select(
        "url",
        "warc_date",
        html_meta["Head"]["Title"].alias("title"),
        F.coalesce(
            F.transform(html_meta["Links"], lambda l: l["url"]),
            F.array().cast("array<string>"),
        ).alias("links"),
    )


def read_wat_stream(spark: SparkSession, path: str, max_files: int = 4) -> DataFrame:
    """Streaming twin of :func:`read_wat` (drop-directory file
    source, checkpointed exactly-once segment tracking, same parse
    expressions)."""
    return parse_wat_records(_scan(spark, path, WARC_SEP, max_files))


def to_wat_records(
    df: DataFrame,
    url_col: str = "url",
    date_col: str = "warc_date",
    title_col: str = "title",
    links_col: str = "links",
) -> DataFrame:
    """Format (url, date, title, links) rows as WAT ``metadata``
    records — one ``to_json`` + ``concat`` per row (JVM codegen, no
    Python, no collect), ready for ``df.write.text``.  JSON escaping
    is to_json's: titles containing quotes/backslashes/control chars
    round-trip exactly."""
    html_md = F.struct(
        F.struct(F.col(title_col).alias("Title")).alias("Head"),
        F.transform(F.col(links_col), lambda u: F.struct(u.alias("url"))).alias(
            "Links"
        ),
    )
    env_obj = F.struct(
        F.struct(html_md.alias("HTML-Metadata")).alias("HTTP-Response-Metadata")
    )
    env = F.to_json(F.struct(F.struct(env_obj.alias("Payload-Metadata")).alias("Envelope")))
    return df.select(
        _record(
            "metadata",
            F.col(url_col),
            F.col(date_col),
            env,
            [("Content-Type", F.lit("application/json"))],
        ).alias("value")
    )
