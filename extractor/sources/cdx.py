"""CDXJ crawl-index source/sink — the INDEX face of a crawl archive.

Common Crawl (and every Wayback-style archive) ships a fourth artifact
beside WARC/WET/WAT: the CDX(J) URL index — one line per capture,
keyed by SURT (Sort-friendly URI Reordering Transform), kept sorted so
"is this URL captured, when, and where" answers with a prefix scan
instead of a segment sweep.  (The reference service has no index at
all — every request re-processes its upload; an index is what makes a
10^12-capture archive *queryable*.)

Line format (CDXJ, the pywb / OpenWayback lineage)::

    <surt-key> <ts14> <json-fields>
    org,example)/path 20250601000000 {"url":"https://...","mime":...}

SURT key = host lowercased and dot-reversed (``www.example.org`` →
``org,example,www``) + ``)`` + path (lowercased; query kept) — so one
HOST's captures are a contiguous key range, and so are a whole
domain's subdomains (``org,example`` prefixes ``org,example,www``).
That contiguity is the entire point at scale:

* ``repartitionByRange(surt)`` + ``sortWithinPartitions(surt)``
  reproduces the archive's global sort distributively — no single
  reducer ever sees the whole index;
* a host/domain lookup is a key-prefix filter: against the
  range-partitioned layout it touches one partition's files, and the
  filter itself is a codegen'd ``startswith`` — never a join against
  the 10^12-row capture table.

Parsing is line-oriented (``spark.read.text`` default newline split —
trivially block-splittable; JSON strings escape raw newlines so a
record never spans lines) and expression-only: two ``substring_index``
cuts for key/timestamp and ONE ``from_json`` against an explicit
schema for the field dict.  Zero Python per record.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from extractor.sources import _scan

# Explicit field schema — status/length ride as strings in CDXJ (the
# on-disk convention); cast on the way out.
_CDX_SCHEMA = (
    "url STRING, mime STRING, status STRING, digest STRING, length STRING"
)


def surt_key(url_col) -> Column:
    """SURT sort key for a URL column (name or Column) — pure column
    expressions, mirroring the engine's host convention
    (webgraph.host_edges / queries.url_canonicalize: substring between
    ``://`` and the next ``/``).

    * host: lowercased, split on ``.``, reversed, joined with ``,``
    * ``)`` separator
    * path+query: everything from the first ``/`` after the host,
      lowercased (CDX canonicalization folds case); missing path → ``/``

    Ports and userinfo are out of scope (documented simplification —
    crawl corpora are overwhelmingly schemeless-default); scheme is
    dropped by construction, which is exactly SURT's http/https fold.

    The key is the first SPACE-delimited token of a CDXJ line, so any
    whitespace/control byte a raw crawl href smuggles into the URL
    would shift the ts/body fields and make the writer emit lines its
    own reader rejects — those bytes are percent-encoded here (space
    → %20, tab/CR/LF likewise).  Only the KEY is encoded; the raw URL
    rides JSON-escaped in the line body, so a round-trip recovers it
    byte-exactly."""
    url = F.col(url_col) if isinstance(url_col, str) else url_col
    no_scheme = url.substr(F.locate("://", url) + F.lit(3), F.lit(1 << 30))
    host = F.lower(F.substring_index(no_scheme, "/", 1))
    rev_host = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    path = F.lower(no_scheme.substr(F.length(host) + F.lit(1), F.lit(1 << 30)))
    path = F.when(path == "", F.lit("/")).otherwise(path)
    key = F.concat(rev_host, F.lit(")"), path)
    for ch, enc in ((" ", "%20"), ("\t", "%09"), ("\r", "%0D"), ("\n", "%0A")):
        key = F.replace(key, F.lit(ch), F.lit(enc))
    return key


def to_cdxj_records(
    df: DataFrame,
    url_col: str = "url",
    ts_col: str = "ts14",
    mime_col: str = "mime",
    status_col: str = "http_status",
    digest_col: str = "digest",
    length_col: str = "n_bytes",
) -> DataFrame:
    """Format capture rows as CDXJ lines — one ``value: string``
    column ready for ``df.write.text``.  One ``to_json`` + ``concat``
    per row (JVM codegen, no Python, no collect).  Callers wanting the
    archive's global sort write via
    ``repartitionByRange(N, "value").sortWithinPartitions("value")`` —
    the SURT key is the line prefix, so sorting lines IS sorting keys.
    """
    fields = F.to_json(
        F.struct(
            F.col(url_col).alias("url"),
            F.col(mime_col).alias("mime"),
            F.col(status_col).cast("string").alias("status"),
            F.col(digest_col).alias("digest"),
            F.col(length_col).cast("string").alias("length"),
        )
    )
    return df.select(
        F.concat(
            surt_key(F.col(url_col)),
            F.lit(" "),
            F.col(ts_col),
            F.lit(" "),
            fields,
        ).alias("value")
    )


def parse_cdx_records(raw: DataFrame) -> DataFrame:
    """Expression-only parse: CDXJ lines → typed capture rows.
    Shared verbatim by :func:`read_cdx` and :func:`read_cdx_stream`
    (stream==batch by construction).  Malformed lines (no JSON body /
    unparseable dict / missing url) drop rather than kill the scan —
    index corruption is a row-level event, not a job-level one."""
    rec = raw.filter(F.length(F.trim(F.col("value"))) > 0)
    key = F.substring_index(F.col("value"), " ", 1)
    ts = F.substring_index(F.substring_index(F.col("value"), " ", 2), " ", -1)
    body = F.col("value").substr(
        F.length(key) + F.length(ts) + F.lit(3), F.lit(1 << 30)
    )
    parsed = F.from_json(body, _CDX_SCHEMA)
    return (
        rec.select(
            key.alias("surt"),
            ts.alias("ts14"),
            parsed.alias("f"),
        )
        .filter(F.col("f").isNotNull() & F.col("f.url").isNotNull())
        .select(
            "surt",
            "ts14",
            F.col("f.url").alias("url"),
            F.col("f.mime").alias("mime"),
            F.col("f.status").cast("int").alias("http_status"),
            F.col("f.digest").alias("digest"),
            F.col("f.length").cast("long").alias("n_bytes"),
        )
    )


def read_cdx(spark: SparkSession, path: str) -> DataFrame:
    """Read CDXJ index files under ``path`` into
    (surt, ts14, url, mime, http_status, digest, n_bytes) rows.
    Default newline record split — block-splittable, many tasks per
    large index shard."""
    return parse_cdx_records(_scan(spark, path))


def read_cdx_stream(spark: SparkSession, path: str, max_files: int = 4) -> DataFrame:
    """Streaming twin of :func:`read_cdx`: an index drop-directory
    consumed as shards land (file-source stream, same
    :func:`parse_cdx_records` expressions — stream==batch by
    construction; checkpointed file tracking gives exactly-once)."""
    return parse_cdx_records(_scan(spark, path, max_files=max_files))


def cdx_host_lookup(index: DataFrame, host: str) -> DataFrame:
    """All captures for one host — the index's reason to exist.  The
    predicate is a SURT key-prefix ``startswith`` (codegen'd, and
    against a range-partitioned index layout it prunes to one
    partition's files); the capture table is never joined."""
    prefix = ",".join(reversed(host.lower().split("."))) + ")"
    return index.filter(F.col("surt").startswith(F.lit(prefix)))


def cdx_latest(index: DataFrame) -> DataFrame:
    """Current-web view of a CDX index: the LATEST capture per url via
    one ``max(struct)`` aggregate (crawl.latest_snapshot's
    constant-state reduce — no window over a hot URL's capture
    history).  Tie/replay safety: byte-identical replayed lines
    produce identical structs, so an at-least-once maintained index
    folds clean here; capture-COUNT consumers must ``distinct()``
    first (stated, not hidden)."""
    return (
        index.groupBy("url")
        .agg(
            F.max(
                F.struct("ts14", "digest", "mime", "http_status", "n_bytes")
            ).alias("l")
        )
        .select(
            "url",
            F.col("l.ts14").alias("ts14"),
            F.col("l.mime").alias("mime"),
            F.col("l.http_status").alias("http_status"),
            F.col("l.digest").alias("digest"),
            F.col("l.n_bytes").alias("n_bytes"),
        )
    )
