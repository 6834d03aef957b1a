"""WET-style crawl-archive ingestion: Common-Crawl text extracts.

WET files are concatenated WARC records (the format, its splittable
scan and its framing caveats: ``sources.warc``) whose ``conversion``
records carry a page's extracted text as the content block.  (The
reference service ingests one uploaded file per request; this is the
batch analog — a crawl segment in, a table out.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from extractor.sources import _scan
from extractor.sources.warc import WARC_SEP, _frame, _record


def read_wet(spark: SparkSession, path: str) -> DataFrame:
    """Read WET record files under ``path`` into
    (url, warc_date, text) rows — ``conversion`` records only (the
    per-file ``warcinfo`` preamble record is dropped, as are records
    without a target URI).  ``text`` loses any trailing CR/LF (framing
    caveat in ``sources.warc``)."""
    return parse_wet_records(_scan(spark, path, WARC_SEP))


def parse_wet_records(raw: DataFrame) -> DataFrame:
    """The expression-only parse stage: ``value: string`` record
    chunks (one per ``WARC/1.0``-separated record) → (url, warc_date,
    text).  Pure column expressions, so the SAME transform serves the
    batch reader and :func:`read_wet_stream` — stream/batch
    unification by construction."""
    return _frame(raw, ("conversion",)).select(
        "url", "warc_date", F.col("content").alias("text")
    )


def read_wet_stream(spark: SparkSession, path: str, max_files: int = 4) -> DataFrame:
    """Streaming twin of :func:`read_wet`: a crawl drop-directory of
    WET segments consumed as they land (same scan as a file-source
    stream, same :func:`parse_wet_records` expressions).  Checkpointed
    file tracking gives exactly-once segment processing; downstream
    stateless stages run unchanged."""
    return parse_wet_records(_scan(spark, path, WARC_SEP, max_files))


def to_wet_records(
    df: DataFrame,
    url_col: str = "url",
    date_col: str = "warc_date",
    text_col: str = "text",
) -> DataFrame:
    """Format (url, date, text) rows as WET ``conversion`` records —
    a single ``value: string`` column ready for ``df.write.text``.

    This is the distributed writer half of the round-trip: formatting
    is one ``concat`` per row (JVM codegen, no Python, no collect),
    so emitting WET segments scales exactly like the scan.  The text
    writer terminates each record with ``\\n`` after the ``\\r\\n\\r\\n``
    trailer; ``read_wet`` strips both.
    """
    return df.select(
        _record(
            "conversion", F.col(url_col), F.col(date_col), F.col(text_col)
        ).alias("value")
    )


def wet_file(records: list[tuple[str, str, str]], segment: str) -> str:
    """Deterministic WET file content: a ``warcinfo`` preamble record
    (real WET segments carry one; the parser must skip it) followed
    by one ``conversion`` record per (url, date, body)."""
    parts = [
        f"{WARC_SEP}\r\n"
        f"WARC-Type: warcinfo\r\n"
        f"WARC-Filename: {segment}\r\n"
        f"\r\n"
        f"software: extractor-testgen\r\n\r\n"
    ]
    for url, date, body in records:
        parts.append(
            f"{WARC_SEP}\r\n"
            f"WARC-Type: conversion\r\n"
            f"WARC-Target-URI: {url}\r\n"
            f"WARC-Date: {date}\r\n"
            f"Content-Length: {len(body.encode('utf-8'))}\r\n"
            f"\r\n"
            f"{body}\r\n\r\n"
        )
    return "".join(parts)
