"""Crawl-source reader and writer tests (WET, WARC, WAT, sitemap, CDX):
round-trips, record filtering,
multi-file reads, and the splittable-scan plan shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from extractor.sources.wet import read_wet, to_wet_records, wet_file


RECORDS = [
    ("https://a.example/one", "2025-06-01T00:00:00Z", "hello world"),
    # internal newlines survive; only the framing trailer is stripped
    ("https://a.example/two", "2025-06-01T00:00:01Z", "line one\nline two"),
    # unicode body: Content-Length is octet-based, parse is char-based
    ("https://b.example/drei", "2025-06-02T09:30:00Z", "straße — ümlaut"),
    ("https://b.example/vier", "2025-06-02T09:30:01Z", "x"),
]


def test_wet_file_roundtrip(spark, tmp_path):
    """Hand-built WET files (warcinfo preamble + CRLF framing, the
    real segment layout) parse back to exactly the source records."""
    d = tmp_path / "wet"
    d.mkdir()
    (d / "seg-00000.warc.wet").write_text(
        wet_file(RECORDS[:2], "seg-00000"), encoding="utf-8"
    )
    (d / "seg-00001.warc.wet").write_text(
        wet_file(RECORDS[2:], "seg-00001"), encoding="utf-8"
    )
    got = sorted(
        (r.url, r.warc_date, r.text) for r in read_wet(spark, str(d)).collect()
    )
    assert got == sorted(RECORDS)


def test_wet_skips_non_conversion_and_missing_uri(spark, tmp_path):
    """The warcinfo preamble and URI-less records are dropped, not
    surfaced as empty rows."""
    content = wet_file(RECORDS[:1], "seg") + (
        "WARC/1.0\r\n"
        "WARC-Type: conversion\r\n"
        "WARC-Date: 2025-06-03T00:00:00Z\r\n"
        "\r\n"
        "no uri here\r\n\r\n"
    )
    p = tmp_path / "one.warc.wet"
    p.write_text(content, encoding="utf-8")
    rows = read_wet(spark, str(p)).collect()
    assert [(r.url, r.text) for r in rows] == [(RECORDS[0][0], RECORDS[0][2])]


def test_wet_spark_writer_roundtrip(spark, tmp_path):
    """The distributed half: to_wet_records → write.text (several
    part files, no collect) → read_wet recovers every row byte-exact.
    This is the shape a 100 TB export/ingest uses."""
    src = spark.createDataFrame(RECORDS, "url string, warc_date string, text string")
    out = str(tmp_path / "wetout")
    to_wet_records(src.repartition(3)).write.text(out)
    got = sorted(
        (r.url, r.warc_date, r.text) for r in read_wet(spark, out).collect()
    )
    assert got == sorted(RECORDS)


def test_wet_scan_is_splittable_text_scan(spark, tmp_path):
    """Plan shape: the reader must be a FileScan text relation (block-
    splittable LineRecordReader), NOT a binaryFile or Python source —
    that distinction is what makes a 1 GB segment many-task."""
    p = tmp_path / "seg.warc.wet"
    p.write_text(wet_file(RECORDS[:1], "seg"), encoding="utf-8")
    plan = read_wet(spark, str(p))._jdf.queryExecution().executedPlan().toString()
    assert "FileScan text" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_wet_trailing_newline_framing_caveat(spark, tmp_path):
    """Documented trade: a body ending in newlines loses exactly the
    trailing run (framing is indistinguishable); everything before
    the trailing run is intact."""
    p = tmp_path / "seg.warc.wet"
    p.write_text(
        wet_file([("https://t/x", "2025-06-01T00:00:00Z", "tail\n\n")], "seg"),
        encoding="utf-8",
    )
    rows = read_wet(spark, str(p)).collect()
    assert [(r.url, r.text) for r in rows] == [("https://t/x", "tail")]


def test_wet_stream_equals_batch(spark, tmp_path):
    """Streaming WET ingest (drop-directory of segments) must emit
    exactly the batch reader's rows — one parse implementation
    (parse_wet_records), stream==batch by construction."""
    from extractor.sources.wet import read_wet_stream

    d = tmp_path / "drop"
    d.mkdir()
    for i in range(3):
        (d / f"seg-{i:05d}.warc.wet").write_text(
            wet_file(
                [
                    (
                        f"https://s{i}.example/p{j}",
                        f"2025-06-0{i + 1}T00:00:0{j}Z",
                        f"body {i} {j} words here",
                    )
                    for j in range(4)
                ],
                f"seg-{i:05d}",
            ),
            encoding="utf-8",
        )

    stream = read_wet_stream(spark, str(d), max_files=1)
    q = (
        stream.writeStream.format("memory")
        .queryName("wet_stream_t")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    srows = {
        (r.url, r.warc_date, r.text)
        for r in spark.sql("select * from wet_stream_t").collect()
    }
    brows = {
        (r.url, r.warc_date, r.text) for r in read_wet(spark, str(d)).collect()
    }
    assert srows == brows and len(brows) == 12


# ---------------------------------------------------------------------------
# Raw WARC (response records, two header layers)
# ---------------------------------------------------------------------------

from extractor.sources.warc import read_warc, to_warc_records, warc_file  # noqa: E402


WARC_RECORDS = [
    ("https://a.example/one", "2025-06-01T00:00:00Z", 200, "text/html",
     "<html><body>hello</body></html>"),
    ("https://a.example/gone", "2025-06-01T00:00:01Z", 404, "text/html",
     "<html>not found</html>"),
    # charset parameter must be trimmed off content_type
    ("https://b.example/drei", "2025-06-02T09:30:00Z", 200, "text/html",
     "<p>straße — ümlaut</p>\nline two"),
    ("https://b.example/pdf", "2025-06-02T09:30:01Z", 200, "application/pdf",
     "%PDF-1.4 fake"),
]


def test_warc_file_roundtrip_and_request_skip(spark, tmp_path):
    """Hand-built raw segments (warcinfo preamble + request/response
    PAIRS, the real interleaving) parse back to exactly the response
    records — request records never surface."""
    d = tmp_path / "warc"
    d.mkdir()
    (d / "seg-00000.warc").write_text(
        warc_file(WARC_RECORDS[:2], "seg-00000"), encoding="utf-8"
    )
    (d / "seg-00001.warc").write_text(
        warc_file(WARC_RECORDS[2:], "seg-00001"), encoding="utf-8"
    )
    got = sorted(
        (r.url, r.warc_date, r.http_status, r.content_type, r.html)
        for r in read_warc(spark, str(d)).collect()
    )
    assert got == sorted(WARC_RECORDS)


def test_warc_content_type_param_stripped(spark, tmp_path):
    """`Content-Type: text/html; charset=UTF-8` yields content_type
    'text/html' — the parameter is presentation, not type."""
    content = (
        "WARC/1.0\r\n"
        "WARC-Type: response\r\n"
        "WARC-Target-URI: https://c.example/q\r\n"
        "WARC-Date: 2025-06-03T00:00:00Z\r\n"
        "\r\n"
        "HTTP/1.1 301 Moved Permanently\r\n"
        "Content-Type: text/html; charset=UTF-8\r\n"
        "Location: https://c.example/r\r\n"
        "\r\n"
        "<a>moved</a>\r\n\r\n"
    )
    p = tmp_path / "one.warc"
    p.write_text(content, encoding="utf-8")
    rows = read_warc(spark, str(p)).collect()
    assert [(r.http_status, r.content_type, r.html) for r in rows] == [
        (301, "text/html", "<a>moved</a>")
    ]


def test_warc_spark_writer_roundtrip(spark, tmp_path):
    """Distributed half: to_warc_records → write.text (3 part files,
    no collect) → read_warc recovers every response row byte-exact."""
    src = spark.createDataFrame(
        WARC_RECORDS,
        "url string, warc_date string, http_status int, content_type string,"
        " html string",
    )
    out = str(tmp_path / "warcout")
    to_warc_records(src.repartition(3)).write.text(out)
    got = sorted(
        (r.url, r.warc_date, r.http_status, r.content_type, r.html)
        for r in read_warc(spark, out).collect()
    )
    assert got == sorted(WARC_RECORDS)


def test_warc_scan_is_splittable_text_scan(spark, tmp_path):
    """Same plan bar as WET: FileScan text (block-splittable), no
    Python eval anywhere in the parse."""
    p = tmp_path / "seg.warc"
    p.write_text(warc_file(WARC_RECORDS[:1], "seg"), encoding="utf-8")
    plan = read_warc(spark, str(p))._jdf.queryExecution().executedPlan().toString()
    assert "FileScan text" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_warc_stream_equals_batch(spark, tmp_path):
    """Streaming raw-WARC ingest emits exactly the batch rows — one
    parse implementation (parse_warc_records)."""
    from extractor.sources.warc import read_warc_stream

    d = tmp_path / "drop"
    d.mkdir()
    for i in range(2):
        (d / f"seg-{i:05d}.warc").write_text(
            warc_file(
                [
                    (
                        f"https://s{i}.example/p{j}",
                        f"2025-06-0{i + 1}T00:00:0{j}Z",
                        200 if j % 2 == 0 else 503,
                        "text/html",
                        f"<html>body {i} {j}</html>",
                    )
                    for j in range(3)
                ],
                f"seg-{i:05d}",
            ),
            encoding="utf-8",
        )

    stream = read_warc_stream(spark, str(d), max_files=1)
    q = (
        stream.writeStream.format("memory")
        .queryName("warc_stream_t")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    srows = {
        (r.url, r.http_status, r.html)
        for r in spark.sql("select * from warc_stream_t").collect()
    }
    brows = {
        (r.url, r.http_status, r.html) for r in read_warc(spark, str(d)).collect()
    }
    assert srows == brows and len(brows) == 6


def test_warc_to_pages_schema_and_dirty_dates(spark, tmp_path):
    """warc_to_pages adapts raw crawl responses to the pages-table
    contract (BASELINE.json input_hint shape) and tolerates the dirt
    real archives carry: a malformed WARC-Date yields a NULL warc_ts
    but the ROW SURVIVES — one bad date must not kill a 100-TB job."""
    from extractor.schema import PAGES_SCHEMA
    from extractor.sources.warc import warc_to_pages

    d = tmp_path / "warc"
    d.mkdir()
    (d / "seg.warc").write_text(
        warc_file(
            [
                ("https://ok.example/a", "2025-06-03T00:00:01Z", 200,
                 "text/html", "<p>good date</p>"),
                ("https://bare.example/b", "2025-06-03T00:00:02", 200,
                 "text/html", "<p>bare iso, no Z</p>"),
                ("https://bad.example/c", "not-a-date", 200,
                 "text/html", "<p>garbage date</p>"),
            ],
            "seg",
        ),
        encoding="utf-8",
    )
    pages = warc_to_pages(read_warc(spark, str(d)))
    assert [(f.name, f.dataType) for f in pages.schema.fields] == [
        (f.name, f.dataType) for f in PAGES_SCHEMA.fields
    ]
    rows = {r.url: r for r in pages.collect()}
    assert set(rows) == {
        "https://ok.example/a", "https://bare.example/b",
        "https://bad.example/c",
    }
    assert rows["https://ok.example/a"].warc_ts is not None
    assert rows["https://bare.example/b"].warc_ts is not None  # bare ISO ok
    assert rows["https://bad.example/c"].warc_ts is None  # survives as NULL
    assert bytes(rows["https://bad.example/c"].html) == b"<p>garbage date</p>"


def test_warc_to_pages_feeds_run_extraction(spark, tmp_path):
    """The full --input-format warc entrypoint chain: raw segment →
    read_warc → warc_to_pages → run_extraction emits extracted
    markdown per url (the batch analog of the reference's per-request
    upload, routes/ocr.py)."""
    from extractor.config import ExtractConfig
    from extractor.pipeline import run_extraction
    from extractor.sources.warc import warc_to_pages

    d = tmp_path / "warc"
    d.mkdir()
    body = (
        "<html><head><title>T</title></head><body>"
        "<p>Main content paragraph with plenty of words so the density "
        "heuristics keep it in the extracted output.</p></body></html>"
    )
    (d / "seg.warc").write_text(
        warc_file(
            [("https://chain.example/doc", "2025-06-03T00:00:01Z", 200,
              "text/html", body)],
            "seg",
        ),
        encoding="utf-8",
    )
    pages = warc_to_pages(read_warc(spark, str(d)))
    out = run_extraction(spark, pages, ExtractConfig()).collect()
    assert len(out) == 1
    row = out[0]
    assert row.url == "https://chain.example/doc"
    assert row.success and row.doc_type == "html"
    assert "Main content paragraph" in row.text


def test_warc_location_roundtrip_feeds_redirect_resolution(spark, tmp_path):
    """3xx captures carry their redirect edge: to_warc_records with
    location_col writes the Location header, read_warc surfaces it as
    the `location` column (NULL when absent), and the edges feed
    crawl.resolve_redirects — the crawl-archive path to a
    canonical-URL map."""
    from extractor.operators.crawl import resolve_redirects

    src = spark.createDataFrame(
        [
            ("https://h.test/a", "2025-06-03T00:00:01Z", 301,
             "text/html", "<a>moved</a>", "https://h.test/b"),
            ("https://h.test/b", "2025-06-03T00:00:02Z", 302,
             "text/html", "<a>found</a>", "https://h.test/c"),
            ("https://h.test/c", "2025-06-03T00:00:03Z", 200,
             "text/html", "<p>final</p>", None),
        ],
        "url string, warc_date string, http_status int, content_type string,"
        " html string, location string",
    )
    out = str(tmp_path / "warcout")
    to_warc_records(src, location_col="location").write.text(out)
    back = read_warc(spark, out)
    rows = {r.url: (r.http_status, r.location, r.html) for r in back.collect()}
    assert rows["https://h.test/a"] == (301, "https://h.test/b", "<a>moved</a>")
    assert rows["https://h.test/b"] == (302, "https://h.test/c", "<a>found</a>")
    assert rows["https://h.test/c"] == (200, None, "<p>final</p>")

    edges = back.filter("location is not null").select("url", "location")
    got = {
        r.url: (r.final_url, r.hops, r.resolved)
        for r in resolve_redirects(edges).collect()
    }
    assert got == {
        "https://h.test/a": ("https://h.test/c", 2, True),
        "https://h.test/b": ("https://h.test/c", 1, True),
    }


# --- sitemap source ---------------------------------------------------------


def test_sitemap_parse_fields_and_escapes(spark, tmp_path):
    """Single-line sitemap XML (the real-world shape) parses per
    <url> record: XML-escaped locs unescape, whitespace trims,
    optional fields go NULL, priority parses to exact basis points,
    the urlset preamble fragment is dropped."""
    from extractor.sources.sitemap import read_sitemap

    (tmp_path / "sitemap.xml").write_text(
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
        "<url><loc>https://a.test/p?x=1&amp;y=2</loc>"
        "<lastmod>2025-06-01</lastmod><changefreq>daily</changefreq>"
        "<priority>0.8</priority></url>"
        "<url><loc> https://a.test/q </loc></url>"
        "<url><loc>https://a.test/r</loc><priority>1.0</priority></url>"
        "</urlset>",
        encoding="utf-8",
    )
    rows = {
        r.loc: (r.lastmod, r.changefreq, r.priority_bp)
        for r in read_sitemap(spark, str(tmp_path)).collect()
    }
    assert rows == {
        "https://a.test/p?x=1&y=2": ("2025-06-01", "daily", 8000),
        "https://a.test/q": (None, None, None),
        "https://a.test/r": (None, None, 10000),
    }


def test_sitemap_index_and_writer_roundtrip(spark, tmp_path):
    """Index files list child sitemaps; to_sitemap_records escapes
    locs and omits absent optional fields, read_sitemap recovers
    every row."""
    from extractor.sources.sitemap import (
        read_sitemap,
        read_sitemap_index,
        to_sitemap_records,
    )

    (tmp_path / "idx.xml").write_text(
        "<sitemapindex><sitemap><loc>https://a.test/sm1.xml</loc>"
        "<lastmod>2025-01-02</lastmod></sitemap>"
        "<sitemap><loc>https://a.test/sm2.xml</loc></sitemap></sitemapindex>",
        encoding="utf-8",
    )
    idx = {
        r.loc: r.lastmod
        for r in read_sitemap_index(spark, str(tmp_path)).collect()
    }
    assert idx == {
        "https://a.test/sm1.xml": "2025-01-02",
        "https://a.test/sm2.xml": None,
    }

    src = spark.createDataFrame(
        [
            ("https://b.test/x?a=1&b=2", "2025-05-05", "weekly", 5000),
            ("https://b.test/y", None, None, None),
        ],
        "loc string, lastmod string, changefreq string, priority_bp long",
    )
    out = str(tmp_path / "sm_out")
    to_sitemap_records(src.repartition(2)).write.text(out)
    back = {
        r.loc: (r.lastmod, r.changefreq, r.priority_bp)
        for r in read_sitemap(spark, out).collect()
    }
    assert back == {
        "https://b.test/x?a=1&b=2": ("2025-05-05", "weekly", 5000),
        "https://b.test/y": (None, None, None),
    }


def test_sitemap_scan_is_splittable_text_scan(spark, tmp_path):
    """Same plan bar as WET/WARC: FileScan text (block-splittable
    lineSep scan), no Python eval in the parse."""
    from extractor.sources.sitemap import read_sitemap

    (tmp_path / "s.xml").write_text(
        "<urlset><url><loc>https://a.test/1</loc></url></urlset>",
        encoding="utf-8",
    )
    plan = (
        read_sitemap(spark, str(tmp_path))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "FileScan text" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_warc_declared_length_surfaces_framing_loss(spark, tmp_path):
    """The reader surfaces the WARC header's Content-Length; a body
    with a genuine trailing CRLF loses exactly those bytes to the
    framing strip (declared > actual), a clean body round-trips
    intact — the documented trade, measured per record."""
    src = spark.createDataFrame(
        [
            ("https://i.test/clean", "2025-06-03T00:00:01Z", 200,
             "text/html", "<p>clean body</p>"),
            ("https://i.test/tail", "2025-06-03T00:00:02Z", 200,
             "text/html", "<p>ends in newlines</p>\r\n"),
        ],
        "url string, warc_date string, http_status int, content_type string,"
        " html string",
    )
    out = str(tmp_path / "w")
    to_warc_records(src).write.text(out)
    rows = {
        r.url: (r.declared_length, len(r.html))
        for r in read_warc(spark, out).collect()
    }
    dec, act = rows["https://i.test/clean"]
    assert dec == act == len("<p>clean body</p>")
    dec, act = rows["https://i.test/tail"]
    assert dec == act + 2  # the framing strip took exactly the CRLF


def test_sitemap_stream_equals_batch(spark, tmp_path):
    """Streaming sitemap ingest emits exactly the batch rows — one
    parse implementation (parse_sitemap_records)."""
    from extractor.sources.sitemap import read_sitemap, read_sitemap_stream

    d = tmp_path / "drop"
    d.mkdir()
    for i in range(2):
        (d / f"sm-{i}.xml").write_text(
            "<urlset>"
            + "".join(
                f"<url><loc>https://s{i}.test/p{j}</loc>"
                f"<priority>0.{j}</priority></url>"
                for j in range(3)
            )
            + "</urlset>",
            encoding="utf-8",
        )
    q = (
        read_sitemap_stream(spark, str(d), max_files=1)
        .writeStream.format("memory")
        .queryName("sitemap_stream_t")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    srows = {
        (r.loc, r.priority_bp)
        for r in spark.sql("select * from sitemap_stream_t").collect()
    }
    brows = {
        (r.loc, r.priority_bp) for r in read_sitemap(spark, str(d)).collect()
    }
    assert srows == brows and len(brows) == 6


# ---------------------------------------------------------------------------
# WAT (metadata records, JSON envelope with head title + outlinks)
# ---------------------------------------------------------------------------

from extractor.sources.wat import (  # noqa: E402
    read_wat,
    read_wat_stream,
    to_wat_records,
)

WAT_RECORDS = [
    ("https://w.example/1", "2025-06-01T00:00:01Z", 'Ti"tle \\ with <escapes>',
     ["https://x.test/a", "https://y.test/b"]),
    ("https://w.example/2", "2025-06-01T00:00:02Z", None, []),
    ("https://w.example/3", "2025-06-01T00:00:03Z", "plain title",
     ["https://z.test/c"]),
]
_WAT_SCHEMA_STR = "url string, warc_date string, title string, links array<string>"


def test_wat_spark_writer_roundtrip(spark, tmp_path):
    """to_wat_records → write.text → read_wat recovers every row
    exactly — including a title full of JSON-escaped characters, a
    NULL title, and an empty link list (data, not a parse failure)."""
    src = spark.createDataFrame(WAT_RECORDS, _WAT_SCHEMA_STR)
    out = str(tmp_path / "watout")
    to_wat_records(src.repartition(2)).write.text(out)
    got = sorted(
        (r.url, r.warc_date, r.title, list(r.links))
        for r in read_wat(spark, out).collect()
    )
    assert got == sorted(WAT_RECORDS)


def test_wat_scan_is_splittable_and_python_free(spark, tmp_path):
    """Same bar as WET/WARC: FileScan text (block-splittable), no
    Python eval anywhere — the JSON parse is one from_json."""
    src = spark.createDataFrame(WAT_RECORDS[:1], _WAT_SCHEMA_STR)
    out = str(tmp_path / "watplan")
    to_wat_records(src).write.text(out)
    plan = read_wat(spark, out)._jdf.queryExecution().executedPlan().toString()
    assert "FileScan text" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_wat_skips_warcinfo_and_feeds_graph(spark, tmp_path):
    """A warcinfo preamble record is dropped; the links column drives
    the web-graph tier directly (the WAT payoff: pagerank without
    touching raw HTML)."""
    from extractor.operators.webgraph import pagerank_int

    src = spark.createDataFrame(WAT_RECORDS, _WAT_SCHEMA_STR)
    out = tmp_path / "watmix"
    to_wat_records(src).write.text(str(out))
    # prepend a warcinfo record to one part file (drop the stale
    # Hadoop checksum sibling so the local FS re-reads the edit)
    part = next(p for p in out.iterdir() if p.name.startswith("part-"))
    # byte-level prepend: read_text/write_text would universal-newline
    # translate the existing records' CRLF framing to LF and corrupt
    # whichever record shares the edited file (flaked by iterdir order)
    part.write_bytes(
        b"WARC/1.0\r\nWARC-Type: warcinfo\r\nWARC-Filename: seg\r\n\r\n"
        b"software: testgen\r\n\r\n" + part.read_bytes()
    )
    crc = part.parent / f".{part.name}.crc"
    if crc.exists():
        crc.unlink()
    got = read_wat(spark, str(out))
    assert got.count() == 3
    edges = got.select(
        F.col("url").alias("src"), F.explode("links").alias("dst")
    )
    ranks = {r["node"]: r["rank"] for r in pagerank_int(edges, iterations=1).collect()}
    # 5 graph nodes: the two source urls with links + their 3 targets
    # (the link-less url contributes no edge, hence no node)
    assert ranks["https://x.test/a"] > 0 and len(ranks) == 5


def test_wat_stream_equals_batch(spark, tmp_path):
    """Drop-directory streaming ingest emits exactly the batch rows
    (shared parse_wat_records expressions)."""
    d = tmp_path / "drop"
    src = spark.createDataFrame(WAT_RECORDS, _WAT_SCHEMA_STR)
    to_wat_records(src.repartition(3)).write.text(str(d))
    stream = read_wat_stream(spark, str(d), max_files=1)
    q = (
        stream.withColumn("links", F.to_json("links"))
        .writeStream.format("memory")
        .queryName("wat_stream_t")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    srows = {
        (r.url, r.warc_date, r.title, r.links)
        for r in spark.sql("select * from wat_stream_t").collect()
    }
    import json

    brows = {
        (r.url, r.warc_date, r.title,
         json.dumps(list(r.links), separators=(",", ":")))
        for r in read_wat(spark, str(d)).collect()
    }
    assert srows == brows and len(brows) == 3


# ---------------------------------------------------------------------------
# CDXJ URL index (sources/cdx.py)
# ---------------------------------------------------------------------------


def _cdx_fixture_df(spark):
    return spark.createDataFrame(
        [
            ("https://WWW.Example.ORG/Path/One?Q=3", "20250601000000",
             "text/html", 200, "sha1:AAA", 123),
            ("https://example.org", "20250601000001", "text/html", 404,
             "sha1:BBB", 7),
            ("https://cdn.site2.test/img.PNG", "20250601000002",
             "image/png", 200, "sha1:CCC", 55),
            # JSON-escaping hook: a url with quotes-adjacent chars
            ('https://example.org/a"b', "20250601000003", "text/html",
             200, "sha1:DDD", 9),
        ],
        "url string, ts14 string, mime string, http_status int, "
        "digest string, n_bytes long",
    )


def test_cdx_surt_key_folding(spark):
    """SURT derivation corners: case fold (host AND path), host dot
    reversal, path-less url keys at ')/', query kept (lowercased)."""
    from extractor.sources.cdx import surt_key

    df = _cdx_fixture_df(spark).select("url", surt_key("url").alias("surt"))
    got = {r.url: r.surt for r in df.collect()}
    assert got["https://WWW.Example.ORG/Path/One?Q=3"] == (
        "org,example,www)/path/one?q=3"
    )
    assert got["https://example.org"] == "org,example)/"
    assert got["https://cdn.site2.test/img.PNG"] == "test,site2,cdn)/img.png"


def test_cdx_writer_reader_roundtrip(spark, tmp_path):
    """File round-trip through the range-partitioned sorted write:
    every field (incl. a JSON-escaped url) survives byte-exactly;
    lines within each part file come out key-sorted."""
    from extractor.sources.cdx import read_cdx, to_cdxj_records

    out = str(tmp_path / "index")
    (
        to_cdxj_records(_cdx_fixture_df(spark))
        .repartitionByRange(2, "value")
        .sortWithinPartitions("value")
        .write.text(out)
    )
    back = read_cdx(spark, out)
    rows = {
        (r.url, r.ts14, r.mime, r.http_status, r.digest, r.n_bytes)
        for r in back.collect()
    }
    assert ('https://example.org/a"b', "20250601000003", "text/html", 200,
            "sha1:DDD", 9) in rows
    assert len(rows) == 4
    # sorted-layout property: each part file is internally key-ordered
    import glob

    for part in glob.glob(out + "/part-*"):
        with open(part) as fh:
            keys = [ln.split(" ", 1)[0] for ln in fh if ln.strip()]
        assert keys == sorted(keys)


def test_cdx_whitespace_url_roundtrip(spark, tmp_path):
    """A raw crawl href with a literal space (or tab) in the URL must
    not produce a line the reader misparses: the SURT key
    percent-encodes whitespace (it is the first space-delimited
    token), while the body JSON carries the raw url byte-exactly
    (r4 advisor finding — previously such rows were silently dropped
    on re-read)."""
    from extractor.sources.cdx import read_cdx, to_cdxj_records

    df = spark.createDataFrame(
        [
            ("https://ex.org/a b/c", "20250601000000", "text/html", 200,
             "sha1:AAA", 7),
            ("https://ex.org/t\tb", "20250601000001", "text/html", 200,
             "sha1:BBB", 8),
            ("https://ex.org/plain", "20250601000002", "text/html", 200,
             "sha1:CCC", 9),
        ],
        "url string, ts14 string, mime string, http_status int, "
        "digest string, n_bytes long",
    )
    out = str(tmp_path / "ws_index")
    to_cdxj_records(df).write.text(out)
    back = {(r.url, r.ts14, r.surt) for r in read_cdx(spark, out).collect()}
    assert len(back) == 3  # nothing dropped
    assert ("https://ex.org/a b/c", "20250601000000",
            "org,ex)/a%20b/c") in back
    assert ("https://ex.org/t\tb", "20250601000001", "org,ex)/t%09b") in back


def test_cdx_malformed_lines_drop_not_kill(spark, tmp_path):
    """Index corruption is row-level: truncated / non-JSON / url-less
    lines drop; intact rows survive."""
    from extractor.sources.cdx import read_cdx

    p = tmp_path / "bad"
    p.mkdir()
    (p / "idx.cdxj").write_text(
        'org,ok)/a 20250601000000 {"url":"https://ok.org/a","mime":"text/html",'
        '"status":"200","digest":"sha1:X","length":"5"}\n'
        "org,trunc)/b 20250601000001\n"
        "org,nojson)/c 20250601000002 not-a-json-dict\n"
        'org,nourl)/d 20250601000003 {"mime":"text/html","status":"200"}\n'
        "\n",
        encoding="utf-8",
    )
    rows = read_cdx(spark, str(p)).collect()
    assert [r.url for r in rows] == ["https://ok.org/a"]
    assert rows[0].http_status == 200 and rows[0].n_bytes == 5


def test_cdx_scan_is_splittable_and_python_free(spark, tmp_path):
    """The reader is a plain text FileScan + expressions: no Python
    eval anywhere in the plan (the per-record path stays JVM-side)."""
    from extractor.sources.cdx import read_cdx, to_cdxj_records

    out = str(tmp_path / "index")
    to_cdxj_records(_cdx_fixture_df(spark)).write.text(out)
    plan = read_cdx(spark, out)._jdf.queryExecution().executedPlan().toString()
    assert "FileScan text" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cdx_host_lookup_prefix_semantics(spark, tmp_path):
    """Host lookup matches the host exactly at the key grain: a
    sibling host sharing a string prefix (site2 vs site22) must NOT
    leak into the result — the ')' terminator in the prefix guards it."""
    from extractor.sources.cdx import cdx_host_lookup, read_cdx, to_cdxj_records

    df = spark.createDataFrame(
        [
            ("https://site2.test/a", "20250601000000", "text/html", 200, "d1", 1),
            ("https://site22.test/b", "20250601000001", "text/html", 200, "d2", 2),
            ("https://site2.test/c", "20250601000002", "text/html", 200, "d3", 3),
        ],
        "url string, ts14 string, mime string, http_status int, "
        "digest string, n_bytes long",
    )
    out = str(tmp_path / "index")
    to_cdxj_records(df).write.text(out)
    got = {r.url for r in cdx_host_lookup(read_cdx(spark, out), "SITE2.test").collect()}
    assert got == {"https://site2.test/a", "https://site2.test/c"}


def test_cdx_stream_equals_batch(spark, tmp_path):
    """Streaming CDX ingest (index shards landing in a drop dir) emits
    exactly the batch reader's rows — shared parse_cdx_records."""
    from extractor.sources.cdx import read_cdx, read_cdx_stream, to_cdxj_records

    out = str(tmp_path / "drop")
    to_cdxj_records(_cdx_fixture_df(spark)).repartition(3).write.text(out)
    stream = read_cdx_stream(spark, out, max_files=1)
    q = (
        stream.writeStream.format("memory")
        .queryName("cdx_stream_t")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    srows = {
        tuple(r) for r in spark.sql("select * from cdx_stream_t").collect()
    }
    brows = {tuple(r) for r in read_cdx(spark, out).collect()}
    assert srows == brows and len(brows) == 4


def test_classify_revisits_four_cases(spark):
    """Identical-payload revisit classification (WARC 1.1 §6.7.2):
    unchanged re-fetch → revisit pointing at the first capture;
    changed re-fetch → its own response; cross-host mirror of the
    same bytes → revisit ACROSS urls; a lone capture → response with
    nothing to refer to.  saved_bytes counts only revisit payloads."""
    from extractor.sources.warc import classify_revisits

    src = spark.createDataFrame(
        [
            ("http://a.test/", "2026-01-01T00:00:00Z", "same bytes"),
            ("http://a.test/", "2026-01-02T00:00:00Z", "same bytes"),
            ("http://a.test/", "2026-01-03T00:00:00Z", "new bytes!"),
            ("http://m.test/a", "2026-01-04T00:00:00Z", "same bytes"),
            ("http://lone.test/", "2026-01-01T00:00:00Z", "unique"),
        ],
        "url string, warc_date string, html string",
    )
    rows = {
        (r.url, r.warc_date): r
        for r in classify_revisits(src).collect()
    }
    assert len(rows) == 5
    first = rows[("http://a.test/", "2026-01-01T00:00:00Z")]
    assert first.record_type == "response" and first.saved_bytes == 0
    assert first.refers_to_url is None and first.refers_to_date is None
    re_same = rows[("http://a.test/", "2026-01-02T00:00:00Z")]
    assert re_same.record_type == "revisit"
    assert re_same.refers_to_url == "http://a.test/"
    assert re_same.refers_to_date == "2026-01-01T00:00:00Z"
    assert re_same.saved_bytes == len("same bytes")
    changed = rows[("http://a.test/", "2026-01-03T00:00:00Z")]
    assert changed.record_type == "response"  # new digest, new payload
    mirror = rows[("http://m.test/a", "2026-01-04T00:00:00Z")]
    assert mirror.record_type == "revisit"  # URL-agnostic digest dedup
    assert mirror.refers_to_url == "http://a.test/"
    lone = rows[("http://lone.test/", "2026-01-01T00:00:00Z")]
    assert lone.record_type == "response"


def test_classify_revisits_payload_never_shuffles(spark):
    """100 TB shape: the digest/byte-count projection strips the
    payload column before the groupBy, so no Exchange in the plan
    carries the payload — corpus bytes never ride a shuffle."""
    from extractor.sources.warc import classify_revisits

    src = spark.createDataFrame(
        [("http://a.test/", "2026-01-01T00:00:00Z", "payload bytes")],
        "url string, warc_date string, html string",
    )
    plan = classify_revisits(src)._jdf.queryExecution().optimizedPlan().toString()
    # the payload column html# may appear only INSIDE the per-scan
    # digest/byte-count projection (md5(encode(html)) / length) —
    # never as a standalone column in a Join or Aggregate node
    for line in plan.splitlines():
        node = line.lstrip(" +-:")
        if node.startswith(("Join", "Aggregate")):
            assert "html" not in line, line
    assert "md5" in plan


def test_deduped_warc_roundtrip_pointers_resolve(spark, tmp_path):
    """A deduplicated archive stores each digest's payload ONCE;
    every revisit pointer re-reads intact and resolves to a stored
    response whose body hashes to the pointer's digest."""
    from extractor.sources.warc import read_warc_any, to_deduped_warc_records

    src = spark.createDataFrame(
        [
            ("http://a.test/", "2026-01-01T00:00:00Z", 200, "text/html", "same bytes"),
            ("http://a.test/", "2026-01-02T00:00:00Z", 200, "text/html", "same bytes"),
            ("http://b.test/", "2026-01-03T00:00:00Z", 200, "text/html", "same bytes"),
            ("http://c.test/", "2026-01-01T00:00:00Z", 200, "text/html", "other"),
        ],
        "url string, warc_date string, http_status int, content_type string,"
        " html string",
    )
    out = str(tmp_path / "dedup")
    to_deduped_warc_records(src).write.text(out)
    back = read_warc_any(spark, out).collect()
    assert len(back) == 4
    resp = {r.payload_digest: r for r in back if r.warc_type == "response"}
    revs = [r for r in back if r.warc_type == "revisit"]
    assert len(resp) == 2 and len(revs) == 2  # one stored copy per digest
    for r in revs:
        assert r.html == ""  # nothing stored — the feature
        target = resp[r.payload_digest]
        assert (target.url, target.warc_date) == (r.refers_to_url, r.refers_to_date)
    # stored payloads hash back to their own digest header
    import hashlib

    for r in resp.values():
        assert hashlib.md5(r.html.encode()).hexdigest() == r.payload_digest


# ---------------------------------------------------------------------------
# The shared WARC record frame: header fields, writer bytes
# ---------------------------------------------------------------------------


def _warc_record(rtype: str, uri: str, content: str) -> str:
    return (
        f"WARC/1.0\r\nWARC-Type: {rtype}\r\nWARC-Target-URI:{uri}\r\n"
        f"WARC-Date: 2025-06-03T00:00:00Z\r\n\r\n{content}\r\n\r\n"
    )


def _http(*headers: str) -> str:
    return "HTTP/1.1 200 OK\r\n" + "".join(h + "\r\n" for h in headers) + "\r\n<p>x</p>"


_OK = " https://ok.test/"


@pytest.mark.parametrize(
    "reader, content, cols, expected",
    [
        # an empty URI must drop the record, not read the next line
        pytest.param(
            read_warc,
            _warc_record("response", _OK, _http("Content-Type: text/html"))
            + _warc_record("response", "", _http("Content-Type: text/html")),
            ["url"], [("https://ok.test/",)], id="warc-empty-uri",
        ),
        pytest.param(
            read_wet,
            _warc_record("conversion", _OK, "text")
            + _warc_record("conversion", "", "text"),
            ["url"], [("https://ok.test/",)], id="wet-empty-uri",
        ),
        pytest.param(
            read_wat,
            _warc_record("metadata", _OK, "{}") + _warc_record("metadata", "", "{}"),
            ["url"], [("https://ok.test/",)], id="wat-empty-uri",
        ),
        # Location is a header of its own, not a suffix of Content-Location
        pytest.param(
            read_warc,
            _warc_record(
                "response", _OK,
                _http("Content-Type: text/html", "Content-Location: /index.en.html"),
            ),
            ["http_status", "location"], [(200, None)], id="warc-content-location",
        ),
        # header names are case-insensitive (HTTP/2 captures are lower-case)
        pytest.param(
            read_warc,
            _warc_record("response", _OK, _http("content-type: text/html; charset=utf-8")),
            ["content_type", "html"], [("text/html", "<p>x</p>")],
            id="warc-lowercase-content-type",
        ),
    ],
)
def test_header_fields_are_line_anchored(spark, tmp_path, reader, content, cols, expected):
    """A header field matches only at the start of a header line, by
    case-insensitive name, with its value on that line."""
    p = tmp_path / "seg"
    p.write_bytes(content.encode("utf-8"))
    assert [tuple(r) for r in reader(spark, str(p)).select(*cols).collect()] == expected


def test_writer_bytes_are_pinned(spark):
    """Every record writer's exact output on a two-row frame — the
    round-trip tests compare parsed rows only, so a byte change in a
    writer shows here."""
    from extractor.sources.warc import to_deduped_warc_records

    src = spark.createDataFrame(
        [
            ("https://p.test/a", "2025-06-01T00:00:00Z", 301, "text/html",
             "<p>same ü</p>", "https://p.test/b", "0123456789abcdef0123456789abcdef",
             "text ü\nline two", 'T"i \\ tle', ["https://x.test/1", "https://y.test/2"]),
            ("https://p.test/b", "2025-06-02T00:00:00Z", 200, "text/html",
             "<p>same ü</p>", None, "fedcba9876543210fedcba9876543210",
             "plain", None, []),
        ],
        "url string, warc_date string, http_status int, content_type string,"
        " html string, location string, digest string, text string, title string,"
        " links array<string>",
    )

    def values(df):
        return sorted(r.value for r in df.collect())

    a = "WARC-Target-URI: https://p.test/a\r\nWARC-Date: 2025-06-01T00:00:00Z\r\n"
    b = "WARC-Target-URI: https://p.test/b\r\nWARC-Date: 2025-06-02T00:00:00Z\r\n"
    body = "\r\n<p>same ü</p>\r\n\r\n"
    assert values(to_warc_records(src)) == [
        f"WARC/1.0\r\nWARC-Type: response\r\n{a}Content-Length: 14\r\n\r\n"
        f"HTTP/1.1 301 \r\nContent-Type: text/html\r\n{body}",
        f"WARC/1.0\r\nWARC-Type: response\r\n{b}Content-Length: 14\r\n\r\n"
        f"HTTP/1.1 200 \r\nContent-Type: text/html\r\n{body}",
    ]
    assert values(
        to_warc_records(src, location_col="location", digest_col="digest")
    ) == [
        f"WARC/1.0\r\nWARC-Type: response\r\n{a}"
        "WARC-Payload-Digest: md5:0123456789abcdef0123456789abcdef\r\n"
        "Content-Length: 14\r\n\r\nHTTP/1.1 301 \r\nContent-Type: text/html\r\n"
        f"Location: https://p.test/b\r\n{body}",
        f"WARC/1.0\r\nWARC-Type: response\r\n{b}"
        "WARC-Payload-Digest: md5:fedcba9876543210fedcba9876543210\r\n"
        f"Content-Length: 14\r\n\r\nHTTP/1.1 200 \r\nContent-Type: text/html\r\n{body}",
    ]
    assert values(to_wet_records(src)) == [
        f"WARC/1.0\r\nWARC-Type: conversion\r\n{a}Content-Length: 16\r\n\r\n"
        "text ü\nline two\r\n\r\n",
        f"WARC/1.0\r\nWARC-Type: conversion\r\n{b}Content-Length: 5\r\n\r\n"
        "plain\r\n\r\n",
    ]
    env = '{"Envelope":{"Payload-Metadata":{"HTTP-Response-Metadata":{"HTML-Metadata":'
    assert values(to_wat_records(src)) == [
        f"WARC/1.0\r\nWARC-Type: metadata\r\n{a}Content-Type: application/json\r\n"
        f"Content-Length: 175\r\n\r\n{env}"
        '{"Head":{"Title":"T\\"i \\\\ tle"},'
        '"Links":[{"url":"https://x.test/1"},{"url":"https://y.test/2"}]}}}}}'
        "\r\n\r\n",
        f"WARC/1.0\r\nWARC-Type: metadata\r\n{b}Content-Type: application/json\r\n"
        f"Content-Length: 101\r\n\r\n{env}"
        '{"Head":{},"Links":[]}}}}}\r\n\r\n',
    ]
    digest = "WARC-Payload-Digest: md5:c5df36ea8eea3d946aed0ad97289f206\r\n"
    assert values(to_deduped_warc_records(src)) == [
        f"WARC/1.0\r\nWARC-Type: response\r\n{a}{digest}Content-Length: 14\r\n\r\n"
        f"HTTP/1.1 301 \r\nContent-Type: text/html\r\n{body}",
        f"WARC/1.0\r\nWARC-Type: revisit\r\n{b}{digest}"
        "WARC-Refers-To-Target-URI: https://p.test/a\r\n"
        "WARC-Refers-To-Date: 2025-06-01T00:00:00Z\r\n"
        "Content-Length: 0\r\n\r\n\r\n",
    ]
