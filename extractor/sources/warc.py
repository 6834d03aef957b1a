"""The WARC record format, and raw WARC crawl-archive ingestion.

Common Crawl ships every crawl three ways: WARC (raw captures, this
module), WET (extracted text, ``sources.wet``) and WAT (metadata,
``sources.wat``).  All three use one record format: a ``WARC/1.0``
header block, a blank line, the content block, then a ``\r\n\r\n``
trailer.  This module owns that format for all three: the record
frame every parser selects from (:func:`_frame`), the line-anchored
header-field reader (:func:`_field`) and the record writer
(:func:`_record`).  In a raw ``response`` record the content block
is the captured HTTP response: status line and headers, another
blank line, then the payload bytes — the HTML the extraction
pipeline wants.  (The reference service receives one uploaded
document per request, `routes/ocr.py`; this is the batch analog — a
crawl segment in, an extraction-ready pages table out.)

Scale shape — the load-bearing choice is HOW a segment is split:

* ``spark.read.text`` with the version line as record separator
  (``sources._scan``) rides Hadoop's LineRecordReader, which is
  BLOCK-SPLITTABLE: a 1 GB segment is read by many tasks in parallel,
  each scanning forward from its block boundary to the next
  separator.  ``binaryFile`` + a Python WARC library would pin one
  segment per task and ship every byte through Python — wrong at
  100 TB; not used.
* Header fields and content are pure column expressions
  (``substring_index`` / ``regexp_extract`` / ``from_json``) — the
  parse runs at scan speed inside whole-stage codegen, no Python
  anywhere.  A field matches only at the start of a header line, its
  name case-insensitively (RFC 9110 §5.1; HTTP/2 captures record
  lower-case names), and its value never crosses the line end.

Framing caveats (both inherent to separator-based splitting and
documented trade-offs, not bugs):

* A payload containing the literal line ``WARC/1.0`` would split the
  record.  Spec-exact framing needs ``Content-Length`` byte counting,
  which no splittable text reader can honor; crawl payloads that
  embed WARC version lines are vanishingly rare, and a corrupted
  record surfaces as a URI-less fragment that the type filter drops.
  WAT payloads are safer still: JSON escapes control characters, so
  a payload line can only begin mid-string.
* Trailing CR/LF of a content block is indistinguishable from the
  record trailer (plus the ``\n`` a line-oriented writer appends), so
  all trailing ``\r``/``\n`` are stripped: content that genuinely ends
  in newlines loses them — the same trade Hadoop's LineRecordReader
  makes for text.  ``read_warc``'s ``declared_length`` makes the loss
  measurable per record (see warc_integrity).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from extractor.sources import _scan

WARC_SEP = "WARC/1.0"
_HDR_END = "\r\n\r\n"


def _field(block: Column, name: str, value: str = r"(\S+)") -> Column:
    """Header ``name``'s value in a header block, ``''`` when absent:
    matched only at the start of a line, case-insensitively, with the
    value (``value``'s one group) on the same line."""
    return F.regexp_extract(block, rf"(?im)^{name}:[ \t]*{value}", 1)


def _after_first(col: Column, block: Column) -> Column:
    """What follows ``block`` and the blank line that ends it in
    ``col`` (``block`` is ``col``'s prefix up to the first blank line)."""
    return F.substr(col, F.length(block) + F.lit(len(_HDR_END) + 1))


def _line(name: str, value: Column) -> Column:
    """One ``Name: value`` header line with its CRLF."""
    return F.concat(F.lit(f"{name}: "), value, F.lit("\r\n"))


def _frame(raw: DataFrame, types: tuple[str, ...]) -> DataFrame:
    """The one WARC record frame: ``value`` chunks (one per
    ``WARC/1.0``-separated record) → ``(warc_type, url, warc_date,
    header, content)`` rows, kept only for record types in ``types``
    with a non-empty target URI (the ``warcinfo`` preamble and
    fragments drop here).  ``content`` is the content block with the
    record trailer stripped (framing caveats in the module docstring)."""
    header = F.substring_index(F.col("value"), _HDR_END, 1)
    content = F.regexp_replace(_after_first(F.col("value"), header), r"[\r\n]+$", "")
    return raw.select(
        _field(header, "WARC-Type").alias("warc_type"),
        _field(header, "WARC-Target-URI").alias("url"),
        _field(header, "WARC-Date").alias("warc_date"),
        header.alias("header"),
        content.alias("content"),
    ).filter(F.col("warc_type").isin(*types) & (F.col("url") != ""))


def _http_split(content: Column) -> tuple[Column, Column]:
    """A response content block → (HTTP status line + headers,
    payload), split at the first empty line: a block that starts with
    one has no headers, hence the CRLF put in front before the
    search."""
    lines = F.concat(F.lit("\r\n"), content)
    http = F.substring_index(lines, _HDR_END, 1)
    return F.substr(http, F.lit(3)), _after_first(lines, http)


def _record(
    rtype: str,
    url: Column,
    date: Column,
    content: Column,
    headers: Sequence[tuple[str, Column]] = (),
    length: Column | None = None,
    trailer: str = _HDR_END,
) -> Column:
    """The one WARC record writer: the version line, ``WARC-Type``,
    ``WARC-Target-URI``, ``WARC-Date``, the extra ``headers``,
    ``Content-Length`` (of ``length``, default ``content``) in bytes,
    the blank line, ``content`` and ``trailer`` — one codegen'd
    ``concat`` per row, NULL when any part is NULL."""
    fields = [
        ("WARC-Type", F.lit(rtype)),
        ("WARC-Target-URI", url),
        ("WARC-Date", date.cast("string")),
        *headers,
        (
            "Content-Length",
            F.octet_length(content if length is None else length).cast("string"),
        ),
    ]
    return F.concat(
        F.lit(f"{WARC_SEP}\r\n"),
        *(_line(name, v) for name, v in fields),
        F.lit("\r\n"),
        content,
        F.lit(trailer),
    )


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """Read raw WARC segments under ``path`` into
    (url, warc_date, http_status, content_type, location,
    declared_length, html) rows — ``response`` records only
    (``warcinfo`` / ``request`` / ``metadata`` records and URI-less
    fragments are dropped).

    ``html`` is the raw HTTP payload string — feed it to the
    extraction pipeline's route/extract stages unchanged.  Non-2xx
    captures are KEPT (status is a column, policy belongs to the
    caller); real crawls replay 404/301 bodies for diffing."""
    return parse_warc_records(_scan(spark, path, WARC_SEP))


def parse_warc_records(raw: DataFrame) -> DataFrame:
    """Expression-only parse: ``value: string`` chunks → typed
    response rows.  Shared by :func:`read_warc` and
    :func:`read_warc_stream` — stream/batch unification by
    construction.  The content block splits at its first blank line
    into the HTTP status line + headers and the payload."""
    http, payload = _http_split(F.col("content"))
    return _frame(raw, ("response",)).select(
        "url",
        "warc_date",
        F.nullif(F.regexp_extract(http, r"HTTP/[0-9.]+\s+(\d{3})", 1), F.lit(""))
        .cast("int")
        .alias("http_status"),
        F.trim(_field(http, "Content-Type", r"([^\r\n;]*)")).alias("content_type"),
        # 3xx captures carry the redirect target — the edge the
        # redirect-resolution operator follows (crawl.resolve_redirects).
        F.nullif(_field(http, "Location"), F.lit("")).alias("location"),
        # the WARC header's declared byte count — the integrity
        # signal that makes the separator-framing trade (trailing
        # CR/LF strip, embedded version lines) measurable instead
        # of silent (see warc_integrity).
        F.nullif(_field(F.col("header"), "Content-Length", r"(\d+)"), F.lit(""))
        .cast("long")
        .alias("declared_length"),
        payload.alias("html"),
    )


def warc_to_pages(responses: DataFrame) -> DataFrame:
    """Adapt :func:`read_warc` rows to the extraction pipeline's
    pages-table contract ``(url, warc_ts timestamp, html binary,
    text, lang)`` — the shape ``run_extraction`` and the parquet
    ingest path share, so a raw crawl segment and a curated Iceberg
    table flow through identical stages.

    ``try_to_timestamp``: crawl archives carry malformed WARC-Date
    values; a NULL ``warc_ts`` must not kill a 100-TB job.  The
    default parser accepts both Z-suffixed and bare ISO-8601."""
    return responses.select(
        "url",
        F.try_to_timestamp(F.col("warc_date")).alias("warc_ts"),
        F.encode(F.col("html"), "utf-8").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("lang"),
    )


def read_warc_stream(spark: SparkSession, path: str, max_files: int = 4) -> DataFrame:
    """Streaming twin of :func:`read_warc` (drop-directory file
    source, exactly-once via checkpointed file tracking) — the crawl
    fetcher appends segments, the extraction stream consumes them."""
    return parse_warc_records(_scan(spark, path, WARC_SEP, max_files))


def to_warc_records(
    df: DataFrame,
    url_col: str = "url",
    date_col: str = "warc_date",
    status_col: str = "http_status",
    ctype_col: str = "content_type",
    body_col: str = "html",
    location_col: str | None = None,
    digest_col: str | None = None,
) -> DataFrame:
    """Format response rows as raw WARC ``response`` records — one
    ``value: string`` column for ``df.write.text``; one codegen'd
    concat per row, no Python, no collect (the distributed writer
    half of the round-trip).  ``Content-Length`` counts the payload
    bytes only, not the HTTP header block.

    ``location_col`` (optional): a redirect-target column emitted as
    an HTTP ``Location`` header when non-null, so 3xx captures
    round-trip their redirect edge.

    ``digest_col`` (optional): an md5 hex column emitted as
    ``WARC-Payload-Digest: md5:<hex>`` — the header a deduplicated
    archive's revisit records refer back to (classify_revisits /
    to_deduped_warc_records).  Default None leaves the output
    byte-identical to the pre-digest writer."""
    body = F.col(body_col)
    loc = F.lit("")
    if location_col:
        loc = F.when(
            F.col(location_col).isNotNull(), _line("Location", F.col(location_col))
        ).otherwise(loc)
    http = F.concat(
        F.lit("HTTP/1.1 "),
        F.col(status_col).cast("string"),
        F.lit(" \r\n"),
        _line("Content-Type", F.col(ctype_col)),
        loc,
        F.lit("\r\n"),
        body,
    )
    digest = (
        [("WARC-Payload-Digest", F.concat(F.lit("md5:"), F.col(digest_col)))]
        if digest_col
        else []
    )
    return df.select(
        _record(
            "response", F.col(url_col), F.col(date_col), http, digest, length=body
        ).alias("value")
    )


def warc_file(records: list[tuple[str, str, int, str, str]], segment: str) -> str:
    """Deterministic raw-WARC file content for tests: a ``warcinfo``
    preamble plus a ``request``/``response`` record PAIR per
    (url, date, status, content_type, body) — real crawls interleave
    record types; the parser must keep only responses."""
    parts = [
        f"{WARC_SEP}\r\n"
        f"WARC-Type: warcinfo\r\n"
        f"WARC-Filename: {segment}\r\n"
        f"\r\n"
        f"software: extractor-testgen\r\n\r\n"
    ]
    for url, date, status, ctype, body in records:
        parts.append(
            f"{WARC_SEP}\r\n"
            f"WARC-Type: request\r\n"
            f"WARC-Target-URI: {url}\r\n"
            f"WARC-Date: {date}\r\n"
            f"\r\n"
            f"GET / HTTP/1.1\r\nHost: x\r\n\r\n"
        )
        parts.append(
            f"{WARC_SEP}\r\n"
            f"WARC-Type: response\r\n"
            f"WARC-Target-URI: {url}\r\n"
            f"WARC-Date: {date}\r\n"
            f"Content-Length: {len(body.encode('utf-8'))}\r\n"
            f"\r\n"
            f"HTTP/1.1 {status} \r\n"
            f"Content-Type: {ctype}\r\n"
            f"\r\n"
            f"{body}\r\n\r\n"
        )
    return "".join(parts)


def classify_revisits(
    captures: DataFrame,
    url_col: str = "url",
    date_col: str = "warc_date",
    payload_col: str = "html",
) -> DataFrame:
    """Crawl-time payload dedup: classify each capture as the
    canonical ``response`` or an identical-payload ``revisit`` — the
    WARC 1.1 §6.7.2 identical-payload-digest profile Common Crawl
    applies when writing segments (an unchanged re-fetch stores a
    ~200-byte pointer record instead of the payload).  The reference
    service re-OCRs every upload unconditionally (`routes/ocr.py` has
    no response cache); at crawl scale this classification is what
    keeps the archive — and the extraction job reading it — from
    paying for every unchanged re-fetch.

    Digest grouping is URL-agnostic (mirrors collapse too, like the
    spec's ``WARC-Refers-To-Target-URI`` being allowed to differ);
    the canonical capture per digest is the type-agnostic
    ``min(struct(date, url))`` — deterministic, no window.

    Returns one row per input capture:
    (url, date, payload_digest, record_type ``response|revisit``,
    refers_to_url/refers_to_date — NULL on responses, saved_bytes —
    the payload bytes a revisit record avoids re-storing).

    100 TB shape: the md5 digest and byte count are computed in the
    scan projection, so PAYLOAD BYTES NEVER RIDE A SHUFFLE — the one
    groupBy and the join back move only (digest, date, url, nbytes)
    rows.  Emitting actual revisit records afterwards is one
    ``to_warc_records``-style concat on the classified rows.

    NULL payloads: md5(NULL) is NULL and groupBy collapses all NULL
    digests into one group, which would mark distinct NULL-payload
    captures as revisits of each other.  The engine's WARC/WET
    parsers never yield NULL bodies (an empty payload parses as
    ``''``, a real digest); callers feeding nullable columns should
    coalesce or filter first."""
    d = captures.select(
        F.col(url_col).alias("url"),
        F.col(date_col).alias("warc_date"),
        F.md5(F.encode(F.col(payload_col), "utf-8")).alias("payload_digest"),
        F.octet_length(F.col(payload_col)).cast("long").alias("nbytes"),
    )
    canon = d.groupBy("payload_digest").agg(
        F.min(F.struct("warc_date", "url")).alias("k")
    )
    joined = d.join(canon, "payload_digest")
    is_canon = (F.col("warc_date") == F.col("k.warc_date")) & (
        F.col("url") == F.col("k.url")
    )
    return joined.select(
        "url",
        "warc_date",
        "payload_digest",
        F.when(is_canon, F.lit("response"))
        .otherwise(F.lit("revisit"))
        .alias("record_type"),
        F.when(is_canon, F.lit(None).cast("string"))
        .otherwise(F.col("k.url"))
        .alias("refers_to_url"),
        F.when(is_canon, F.lit(None).cast("string"))
        .otherwise(F.col("k.warc_date"))
        .alias("refers_to_date"),
        F.when(is_canon, F.lit(0).cast("long"))
        .otherwise(F.col("nbytes"))
        .alias("saved_bytes"),
    )


def parse_warc_any(raw: DataFrame) -> DataFrame:
    """Expression-only parse keeping BOTH ``response`` and
    ``revisit`` records — the reader for deduplicated archives
    (real Common Crawl segments carry revisit records;
    :func:`parse_warc_records` is the responses-only fast path).

    Revisit rows carry the WARC 1.1 §6.7.2 pointer headers
    (``payload_digest``, ``refers_to_url``, ``refers_to_date``) and
    an empty ``html``; response rows carry the payload plus their
    own ``payload_digest`` header when the writer emitted one."""
    header = F.col("header")

    def hdr(name: str, value: str = r"(\S+)") -> Column:
        return F.nullif(_field(header, name, value), F.lit(""))

    return _frame(raw, ("response", "revisit")).select(
        "warc_type",
        "url",
        "warc_date",
        hdr("WARC-Payload-Digest", r"md5:(\S+)").alias("payload_digest"),
        hdr("WARC-Refers-To-Target-URI").alias("refers_to_url"),
        hdr("WARC-Refers-To-Date").alias("refers_to_date"),
        _http_split(F.col("content"))[1].alias("html"),
    )


def read_warc_any(spark: SparkSession, path: str) -> DataFrame:
    """Read raw WARC segments keeping response AND revisit records
    (:func:`parse_warc_any`) — the same scan as :func:`read_warc`."""
    return parse_warc_any(_scan(spark, path, WARC_SEP))


def to_deduped_warc_records(
    captures: DataFrame,
    url_col: str = "url",
    date_col: str = "warc_date",
    status_col: str = "http_status",
    ctype_col: str = "content_type",
    body_col: str = "html",
) -> DataFrame:
    """Format a DEDUPLICATED archive from raw captures: the canonical
    capture of each payload digest becomes a full ``response`` record
    (payload + digest header); every identical-payload re-fetch
    becomes a payload-free ``revisit`` record pointing at it
    (classify_revisits → WARC 1.1 §6.7.2) — Common Crawl's crawl-time
    dedup, reproduced as a batch repack.  Real revisit records also
    replay the re-fetch's HTTP headers; this writer emits the pointer
    headers only (the fields the dedup semantics need), documented
    simplification.

    100 TB shape: classification shuffles only (digest, date, url,
    nbytes) rows; each STORED payload then rides exactly one
    (url, date)-keyed join back to its classification verdict — the
    minimal cost of a digest-global repack (each kept byte crosses
    the cluster once).  Revisit records are formatted straight off
    the classified rows, no payload anywhere near them.  Assumes
    (url, date) uniquely keys a capture, the WARC record identity."""
    cls = classify_revisits(captures, url_col, date_col, body_col)
    resp = cls.filter(F.col("record_type") == "response").select(
        "url", "warc_date", "payload_digest"
    ).join(
        captures.select(
            F.col(url_col).alias("url"),
            F.col(date_col).alias("warc_date"),
            F.col(status_col).alias("http_status"),
            F.col(ctype_col).alias("content_type"),
            F.col(body_col).alias("html"),
        ),
        ["url", "warc_date"],
    )
    resp_recs = to_warc_records(resp, digest_col="payload_digest")
    rev_recs = cls.filter(F.col("record_type") == "revisit").select(
        _record(
            "revisit",
            F.col("url"),
            F.col("warc_date"),
            F.lit(""),
            [
                ("WARC-Payload-Digest", F.concat(F.lit("md5:"), F.col("payload_digest"))),
                ("WARC-Refers-To-Target-URI", F.col("refers_to_url")),
                ("WARC-Refers-To-Date", F.col("refers_to_date")),
            ],
            # revisit records end in one CRLF, not the full trailer;
            # readers strip either, and archives already written match
            trailer="\r\n",
        ).alias("value")
    )
    return resp_recs.unionAll(rev_recs)
