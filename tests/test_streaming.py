"""Stream-batch unification: on finite input, streaming results must
equal the batch results (same expressions, readStream source)."""

from __future__ import annotations

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from extractor.config import ExtractConfig
from extractor.schema import PAGES_SCHEMA
from extractor.testgen import TEST_MAX_BYTES, pages_df
from tests.conftest import SF_TINY

CFG = ExtractConfig(max_bytes=TEST_MAX_BYTES)


def _run_stream(df):
    q = (
        df.writeStream.format("memory")
        .queryName("t_" + str(abs(hash(df)) % 10**8))
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    name = q.name
    q.stop()
    return name


def test_streaming_extraction_page_rows(spark, tmp_path):
    from extractor.streaming.stream import read_pages_stream, streaming_extract_pages

    pages_dir = str(tmp_path / "pages")
    pages_df(spark, SF_TINY).repartition(4).write.parquet(pages_dir)

    stream = read_pages_stream(spark, pages_dir, max_files=2)
    name = _run_stream(streaming_extract_pages(stream, CFG))
    rows = spark.sql(f"select * from {name}").collect()

    # page-grain parity with the batch pipeline
    from extractor.pipeline import run_extraction

    batch = run_extraction(spark, spark.read.parquet(pages_dir), CFG).collect()
    batch_by_url = {r["url"]: r for r in batch}
    stream_html = {r["url"]: r for r in rows if r["doc_type"] == "html" and r["page_number"] is None}
    for url, r in stream_html.items():
        assert r["text"] == batch_by_url[url]["text"], url

    # image rows match the batch image branch (stream==batch, one impl)
    stream_img = {r["url"]: r for r in rows if r["doc_type"] == "image"}
    assert stream_img, "fixture should include image rows"
    for url, r in stream_img.items():
        b = batch_by_url[url]
        assert r["text"] == b["text"] and bool(r["success"]) == bool(b["success"]), url

    # pdf page texts match the batch pages arrays
    import collections

    stream_pdf = collections.defaultdict(dict)
    for r in rows:
        if r["doc_type"] == "pdf" and r["page_number"] is not None:
            stream_pdf[r["url"]][r["page_number"]] = r["text"]
    checked = 0
    for url, pages in stream_pdf.items():
        b = batch_by_url[url]
        if b["pages"] is None:
            continue
        for p in b["pages"]:
            if p["success"]:
                assert pages[p["page_number"]] == p["text"], (url, p["page_number"])
                checked += 1
    assert checked > 50


def test_streaming_dedup_exact_equals_batch_distinct(spark, tmp_path):
    """Streaming dropDuplicatesWithinWatermark keeps exactly one row
    per content hash (which row wins depends on micro-batch arrival;
    the HASH SET must equal the batch distinct set)."""
    from extractor.streaming.stream import streaming_dedup_exact

    pages_dir = str(tmp_path / "pages_dedup")
    pages_df(spark, SF_TINY).repartition(4).write.parquet(pages_dir)
    schema = spark.read.parquet(pages_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(pages_dir)
    )
    name = _run_stream(streaming_dedup_exact(stream))
    got = spark.sql(f"select * from {name}").collect()
    want_hashes = {
        r["h"]
        for r in spark.read.parquet(pages_dir)
        .select(F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("h"))
        .distinct()
        .collect()
    }
    assert {r["text_hash"] for r in got} == want_hashes
    assert len(got) == len(want_hashes)  # exactly one survivor per hash


def test_lambda_reassembly_from_streamed_pages(spark, tmp_path):
    """The lambda-architecture claim, executable: stream page-grain
    rows to storage, then run the SAME reassembly function the batch
    pipeline uses over the stored rows — the resulting doc-grain pdf
    table must equal the batch pipeline's output."""
    from extractor.pipeline import (
        _quarantine_error,
        extract_pdf_pages,
        reassemble_pages,
        route,
        run_extraction,
    )

    pages_dir = str(tmp_path / "pages")
    sink_dir = str(tmp_path / "page_rows")
    ckpt = str(tmp_path / "ckpt")
    pages_df(spark, SF_TINY).repartition(4).write.parquet(pages_dir)

    # stream: route -> pdf page fan-out -> OCR -> page rows to parquet
    from extractor.streaming.stream import read_pages_stream

    stream = read_pages_stream(spark, pages_dir, max_files=2)
    routed = route(stream).withColumn("route_error", _quarantine_error(CFG))
    page_rows = extract_pdf_pages(
        routed.filter(F.col("route_error").isNull() & (F.col("doc_type") == "pdf")),
        CFG,
    )
    q = (
        page_rows.writeStream.format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # batch compaction: the SAME reassembly function over stored rows
    compacted = reassemble_pages(spark.read.parquet(sink_dir))
    got = {r["url"]: r for r in compacted.collect()}

    batch = run_extraction(spark, spark.read.parquet(pages_dir), CFG)
    want = {r["url"]: r for r in batch.collect() if r["doc_type"] == "pdf"}

    assert set(got) == set(want)
    for url, w in want.items():
        g = got[url]
        assert g["text"] == w["text"], url
        assert bool(g["success"]) == bool(w["success"])
        assert g["total_pages"] == w["total_pages"]
        assert (g["warnings"] is None) == (w["warnings"] is None)
        if g["warnings"] is not None:
            assert list(g["warnings"]) == list(w["warnings"])


def test_streaming_outlinks_equals_batch(spark, tmp_path):
    """The streaming edge feed must emit exactly the batch operator's
    edge rows (one implementation, stream==batch)."""
    from extractor.operators.webgraph import html_outlinks
    from extractor.pipeline import _quarantine_error, route
    from extractor.streaming.stream import read_pages_stream, streaming_outlinks

    pages_dir = str(tmp_path / "pages")
    pages_df(spark, SF_TINY).repartition(4).write.parquet(pages_dir)

    stream = read_pages_stream(spark, pages_dir, max_files=2)
    name = _run_stream(streaming_outlinks(stream, CFG))
    srows = {
        (r["url"], r["seq"], r["href"], r["anchor_text"])
        for r in spark.sql(f"select * from {name}").collect()
    }

    routed = route(spark.read.parquet(pages_dir)).withColumn(
        "route_error", _quarantine_error(CFG)
    )
    batch = html_outlinks(
        routed.filter((F.col("doc_type") == "html") & F.col("route_error").isNull())
    )
    brows = {
        (r["url"], r["seq"], r["href"], r["anchor_text"]) for r in batch.collect()
    }
    assert srows == brows
    assert len(brows) > 100  # boiler fixtures contribute 22 edges each


def test_streaming_quality_gate_equals_batch(spark, tmp_path):
    """The inline quality gate must emit exactly the batch pipeline's
    html rows scored with the same gopher_rules expressions (one
    implementation, stream==batch)."""
    from extractor.operators.textstats import gopher_rules
    from extractor.pipeline import run_extraction
    from extractor.streaming.stream import read_pages_stream, streaming_quality_gate

    pages_dir = str(tmp_path / "pages")
    pages_df(spark, SF_TINY).repartition(4).write.parquet(pages_dir)

    stream = read_pages_stream(spark, pages_dir, max_files=2)
    name = _run_stream(streaming_quality_gate(stream, CFG))
    srows = {
        tuple(r) for r in spark.sql(f"select * from {name}").collect()
    }

    batch = run_extraction(spark, spark.read.parquet(pages_dir), CFG).filter(
        (F.col("doc_type") == "html") & F.col("success")
    )
    r = gopher_rules(F.col("text"))
    brows = {
        tuple(row)
        for row in batch.select(
            "url", "warc_ts", *[r[k].alias(k) for k in r]
        ).collect()
    }
    assert srows == brows
    assert len(brows) > 50
    assert any(row[-1] is not None for row in brows)  # keep flag present


def test_streaming_incremental_dedup_equals_one_shot(spark, tmp_path):
    """The foreachBatch dedup bridge: micro-batches probed against the
    committed index must accumulate exactly the one-shot lsh_pairs set
    over everything ingested, with cross-micro-batch pairs present —
    and both state tables (pairs + index) are snapshot-committed."""
    from extractor.operators.dedup import lsh_pairs
    from extractor.streaming.stream import streaming_incremental_dedup
    from extractor.writer import committed_run_ids, read_extracted

    docs = spark.read.parquet(f"{SF_TINY}/documents.parquet").select(
        "doc_id", "text"
    )
    copies = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    corpus = docs.unionAll(copies)
    src = str(tmp_path / "docs_src")
    # two files -> two micro-batches with maxFilesPerTrigger=1; the
    # range split puts the injected copies in the second batch so
    # cross-batch pairs must come from the history index
    corpus.filter(F.col("doc_id") < 250).coalesce(1).write.parquet(src)
    corpus.filter(F.col("doc_id") >= 250).coalesce(1).write.mode("append").parquet(src)

    index_dir = str(tmp_path / "idx")
    pairs_dir = str(tmp_path / "pairs")
    stream = (
        spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(
            streaming_incremental_dedup(stream, index_dir, pairs_dir, threshold=0.5)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r["a"], r["b"]): r["est_jaccard"]
        for r in read_extracted(spark, pairs_dir).select(
            "a", "b", "est_jaccard"
        ).collect()
    }
    want = {
        (r["a"], r["b"]): r["est_jaccard"]
        for r in lsh_pairs(corpus, threshold=0.5).collect()
    }
    assert got == want and want
    assert any((a < 250) != (b < 250) for a, b in got), "no cross-batch pairs"
    assert len(committed_run_ids(index_dir)) == 2  # one snapshot per batch
    assert len(committed_run_ids(pairs_dir)) >= 1


def test_streaming_warc_extract_equals_batch(spark, tmp_path):
    """Raw crawl segments dropped in a directory stream straight to
    markdown: read_warc_stream → warc_pages_stream adapter →
    streaming_extract_pages must emit exactly the rows the same chain
    produces on a batch read (one implementation end to end)."""
    from extractor.pipeline import route
    from extractor.sources.warc import read_warc, read_warc_stream, to_warc_records
    from extractor.streaming.stream import (
        streaming_extract_pages,
        warc_pages_stream,
    )

    html_pages = (
        route(pages_df(spark, SF_TINY))
        .filter(F.col("doc_type") == "html")
        .drop("doc_type")
    )
    drop_dir = str(tmp_path / "segments")
    to_warc_records(
        html_pages.repartition(3).select(
            "url",
            F.date_format("warc_ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("warc_date"),
            F.lit(200).alias("http_status"),
            F.lit("text/html").alias("content_type"),
            F.col("html").cast("string").alias("html"),
        )
    ).write.text(drop_dir)

    key = lambda r: (r["url"], r["success"], r["error"], r["text"])  # noqa: E731
    stream = read_warc_stream(spark, drop_dir, max_files=1)
    name = _run_stream(streaming_extract_pages(warc_pages_stream(stream), CFG))
    srows = {key(r) for r in spark.sql(f"select * from {name}").collect()}

    batch_pages = warc_pages_stream(read_warc(spark, drop_dir))
    brows = {key(r) for r in streaming_extract_pages(batch_pages, CFG).collect()}
    assert srows == brows
    assert len(brows) > 50 and any(r[1] for r in brows)


def test_streaming_exact_dedup_matches_batched(spark, tmp_path):
    """The exact-digest foreachBatch gate: accumulated stream
    classifications equal the two-batch incremental run over the same
    split — cross-micro-batch copies classify dup_of_history, within-
    batch copies dup_in_batch, and both state tables are snapshot-
    committed."""
    from extractor.operators.incremental import incremental_exact_dedup
    from extractor.streaming.stream import streaming_exact_dedup
    from extractor.writer import read_extracted

    docs = spark.read.parquet(f"{SF_TINY}/documents.parquet").select(
        "doc_id", "text"
    )
    copies = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    corpus = docs.unionAll(copies)
    src = str(tmp_path / "docs_src")
    corpus.filter(F.col("doc_id") < 250).coalesce(1).write.parquet(src)
    corpus.filter(F.col("doc_id") >= 250).coalesce(1).write.mode("append").parquet(src)

    index_dir = str(tmp_path / "idx")
    results_dir = str(tmp_path / "res")
    stream = (
        spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(
            streaming_exact_dedup(stream, index_dir, results_dir)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        r["id"]: (r["digest"], r["status"])
        for r in read_extracted(spark, results_dir).select(
            "id", "digest", "status"
        ).collect()
    }
    # batched reference over the same split
    idx2 = str(tmp_path / "idx_batch")
    b1 = incremental_exact_dedup(corpus.filter(F.col("doc_id") < 250), idx2)
    r1 = {r["id"]: (r["digest"], r["status"]) for r in b1.collect()}
    b2 = incremental_exact_dedup(corpus.filter(F.col("doc_id") >= 250), idx2)
    r2 = {r["id"]: (r["digest"], r["status"]) for r in b2.collect()}
    want = {**r1, **r2}
    assert got == want and len(got) == corpus.count()
    # an injected copy in batch 2 of a batch-1 doc is history-dup
    assert got[1_000_000][1] == "dup_of_history"


def test_streaming_index_maintenance_matches_one_shot(spark, tmp_path):
    """Index maintained by the foreachBatch bridge == one-shot
    build_postings over everything ingested (global max_df applied at
    fold time: the 'hot' block term survives each micro-batch but is
    promoted to stopword by the read-side cut), and a crash-replayed
    batch changes nothing (at-least-once repaired on read)."""
    from extractor.operators.relevance import build_postings, read_postings_index
    from extractor.streaming.stream import streaming_index_maintenance

    docs = (
        spark.read.parquet(f"{SF_TINY}/documents.parquet")
        .select(
            "doc_id",
            F.concat(
                F.lower("text"),
                F.lit(" grp"), F.expr("doc_id div 13").cast("string"),
                F.lit(" hot"), F.expr("doc_id div 50").cast("string"),
            ).alias("text"),
        )
    )
    src = str(tmp_path / "docs_src")
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(src)
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)

    index_dir = str(tmp_path / "pidx")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    handler = streaming_index_maintenance(stream, index_dir)
    q = (
        stream.writeStream.foreachBatch(handler)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    def canon(df):
        return sorted(
            (r["token"], r["df"], [(p["doc"], p["tf"]) for p in r["postings"]])
            for r in df.collect()
        )

    folded = canon(read_postings_index(spark, index_dir, max_df=30))
    one_shot = canon(build_postings(docs, max_df=30))
    assert folded == one_shot and len(folded) > 0
    toks = {t for t, _, _ in folded}
    assert "hot0" not in toks and any(t.startswith("grp") for t in toks)

    # crash replay: re-append one batch's rows; the fold must not move
    handler(docs.filter(F.col("doc_id") % 2 == 0), 99)
    assert canon(read_postings_index(spark, index_dir, max_df=30)) == one_shot


def test_streaming_crawl_pipeline_topology(spark, tmp_path):
    """The whole crawl topology through one foreachBatch: the gate
    stops a cross-batch mirror before extraction, results are
    byte-identical to the batch pipeline over the unique pages, and
    the folded index equals one-shot postings over the extracted
    markdown."""
    from extractor.config import ExtractConfig
    from extractor.operators.relevance import build_postings, read_postings_index
    from extractor.pipeline import run_extraction
    from extractor.streaming.stream import streaming_crawl_pipeline
    from extractor.testgen import TEST_MAX_BYTES, pages_df
    from extractor.writer import read_extracted

    pages = pages_df(spark, SF_TINY).cache()
    # cross-batch mirror: batch-2 url, byte-identical batch-1 payload
    mirror = pages.filter(F.col("url") < "https://example-42.test/b").limit(2).select(
        F.concat(F.lit("https://zzz-mirror.test/"), F.md5("url")).alias("url"),
        *[c for c in pages.columns if c != "url"],
    )
    b1 = pages.filter(F.col("url") < "https://example-42.test/m")
    b2 = pages.subtract(b1).unionByName(mirror)
    src = str(tmp_path / "pages_src")
    b1.coalesce(1).write.parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)

    dirs = {k: str(tmp_path / k) for k in ("cls", "dig", "res", "idx")}
    stream = (
        spark.readStream.schema(pages.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    cfg = ExtractConfig(max_bytes=TEST_MAX_BYTES)
    q = (
        stream.writeStream.foreachBatch(
            streaming_crawl_pipeline(
                stream, dirs["cls"], dirs["dig"], dirs["res"], dirs["idx"],
                cfg=cfg,
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    # the mirror was classified, not extracted
    cls = {r["id"]: r["status"]
           for r in read_extracted(spark, dirs["cls"]).collect()}
    mirror_urls = [r["url"] for r in mirror.collect()]
    assert all(cls[u] == "dup_of_history" for u in mirror_urls)
    got = read_extracted(spark, dirs["res"])
    assert got.filter(F.col("url").isin(mirror_urls)).count() == 0

    # results byte-identical to the batch pipeline over the DIGEST-
    # UNIQUE pages (the gate collapses byte-identical payloads — all
    # empty/oversize quarantine pages share one digest, so exactly
    # one representative per digest is extracted: first batch wins,
    # min url within it)
    seen: set = set()
    expected_urls: set = set()
    for b in (b1, b2):
        firsts: dict = {}
        for r in sorted(
            b.select("url", F.md5("html").alias("d")).collect(),
            key=lambda r: r["url"],
        ):
            if r["d"] not in seen and r["d"] not in firsts:
                firsts[r["d"]] = r["url"]
        expected_urls.update(firsts.values())
        seen.update(firsts)
    uniq = b1.unionByName(b2).filter(
        F.col("url").isin(sorted(expected_urls))
    )
    want = run_extraction(spark, uniq, cfg)
    g = {(r["url"], r["text"], r["success"]) for r in
         got.select("url", "text", "success").collect()}
    w = {(r["url"], r["text"], r["success"]) for r in
         want.select("url", "text", "success").collect()}
    assert g == w

    # folded index == one-shot postings over the extracted markdown
    # (want is already the digest-unique extraction)
    docs = want.filter((F.col("doc_type") == "html") & F.col("success")).select(
        F.xxhash64("url").alias("doc_id"), "text"
    )

    def canon(df):
        return sorted(
            (r["token"], r["df"], [(p["doc"], p["tf"]) for p in r["postings"]])
            for r in df.collect()
        )

    assert canon(read_postings_index(spark, dirs["idx"], max_df=10**9)) == canon(
        build_postings(docs, max_df=10**9)
    )


def test_streaming_cdx_maintenance_matches_one_shot(spark, tmp_path):
    """CDX index maintained by the foreachBatch bridge == one-shot
    export of all captures: the latest-capture fold over the streamed
    index matches the direct computation, every appended shard is
    internally key-sorted, and a manually replayed batch changes
    nothing (at-least-once repaired on read)."""
    from extractor.sources.cdx import cdx_latest, read_cdx
    from extractor.streaming.stream import streaming_cdx_maintenance

    docs = spark.read.parquet(f"{SF_TINY}/documents.parquet").select(
        "doc_id", "text"
    )
    caps = docs.select(
        F.concat(F.lit("https://s.test/p/"), F.col("doc_id").cast("string")).alias(
            "url"
        ),
        F.concat(
            F.lit("2025060"),
            ((F.col("doc_id") % 2) + 1).cast("string"),
            F.lit("000000"),
        ).alias("ts14"),
        F.lit("text/html").alias("mime"),
        F.lit(200).alias("http_status"),
        F.md5(F.concat(F.col("text"), (F.col("doc_id") % 2).cast("string"))).alias(
            "digest"
        ),
        F.length("text").cast("long").alias("n_bytes"),
    )
    src = str(tmp_path / "caps_src")
    caps.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(src)
    caps.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(
        src
    )

    index_dir = str(tmp_path / "cdx_idx")
    stream = (
        spark.readStream.schema(caps.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    handler = streaming_cdx_maintenance(stream, index_dir, shards=2)
    q = (
        stream.writeStream.foreachBatch(handler)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    def canon(df):
        return sorted(tuple(r) for r in df.collect())

    folded = canon(cdx_latest(read_cdx(spark, index_dir)))
    direct = canon(
        caps.select("url", "ts14", "mime", "http_status", "digest", "n_bytes")
    )
    assert folded == direct and len(folded) == 500

    # each appended shard individually keeps the sort property
    import glob

    parts = glob.glob(index_dir + "/part-*")
    assert len(parts) >= 4  # 2 batches × 2 shards
    for part in parts:
        with open(part) as fh:
            keys = [ln.split(" ", 1)[0] for ln in fh if ln.strip()]
        assert keys == sorted(keys)

    # replay: re-running a batch appends byte-identical lines; the
    # latest fold is unchanged
    handler(caps.filter(F.col("doc_id") % 2 == 0), 99)
    assert canon(cdx_latest(read_cdx(spark, index_dir))) == direct


def test_streaming_classifier_gate_equals_batch(spark, tmp_path):
    """The model-quality gate must emit exactly the batch pipeline's
    html rows scored by the same classifier seam (one implementation,
    stream==batch), with both verdicts represented."""
    from extractor.operators.classifier import classifier_score_expr
    from extractor.pipeline import run_extraction
    from extractor.streaming.stream import (
        read_pages_stream,
        streaming_classifier_gate,
    )

    pages_dir = str(tmp_path / "pages")
    pages_df(spark, SF_TINY).repartition(4).write.parquet(pages_dir)

    stream = read_pages_stream(spark, pages_dir, max_files=2)
    name = _run_stream(streaming_classifier_gate(stream, CFG, threshold=0.5))
    srows = {tuple(r) for r in spark.sql(f"select * from {name}").collect()}

    batch = run_extraction(spark, spark.read.parquet(pages_dir), CFG).filter(
        (F.col("doc_type") == "html") & F.col("success")
    )
    score = classifier_score_expr(F.col("text"))
    brows = {
        tuple(row)
        for row in batch.select(
            "url",
            "warc_ts",
            score.alias("clf_score"),
            F.coalesce(score >= 0.5, F.lit(False)).alias("keep"),
        ).collect()
    }
    assert srows == brows
    assert len(brows) > 50
    keeps = {row[-1] for row in brows}
    assert keeps == {True, False}  # threshold actually separates


def test_streaming_curation_gate_equals_batch(spark, tmp_path):
    """The ingest curation gate (C4 transform -> classifier on the
    CLEANED text -> salted split) must emit exactly the batch
    pipeline's rows (one implementation, stream==batch), with all
    three splits represented and the classifier verdict separating."""
    from extractor.operators.classifier import classifier_score_expr
    from extractor.operators.dedup import hex64
    from extractor.operators.textstats import c4_rules
    from extractor.pipeline import run_extraction
    from extractor.streaming.stream import (
        read_pages_stream,
        streaming_curation_gate,
    )

    pages_dir = str(tmp_path / "pages")
    pages_df(spark, SF_TINY).repartition(4).write.parquet(pages_dir)

    stream = read_pages_stream(spark, pages_dir, max_files=2)
    name = _run_stream(streaming_curation_gate(stream, CFG, threshold=0.5))
    srows = {tuple(r) for r in spark.sql(f"select * from {name}").collect()}

    batch = run_extraction(spark, spark.read.parquet(pages_dir), CFG).filter(
        (F.col("doc_type") == "html") & F.col("success")
    )
    r = c4_rules(F.col("text"))
    staged = batch.select(
        "url", "warc_ts",
        r["n_kept_lines"].alias("n_kept_lines"),
        r["keep"].alias("c4_keep"),
        "text",
    )
    score = classifier_score_expr(F.col("text"))
    clf_keep = F.coalesce(score >= 0.5, F.lit(False))
    bucket = hex64(F.concat(F.lit("split:"), F.col("url"))) % 1000
    brows = {
        tuple(row)
        for row in staged.select(
            "url", "warc_ts", "n_kept_lines", "c4_keep",
            score.alias("clf_score"), clf_keep.alias("clf_keep"),
            F.when(bucket < 980, F.lit("train"))
            .when(bucket < 995, F.lit("validation"))
            .otherwise(F.lit("test")).alias("split"),
            clf_keep.alias("keep"),
        ).collect()
    }
    assert srows == brows
    assert len(brows) > 50
    assert {row[6] for row in brows} == {"train", "validation", "test"}
    assert {row[5] for row in brows} == {True, False}


def test_streaming_revisit_gate_history_wins(spark, tmp_path):
    """The revisit ingest gate: the first COMMITTED capture of a
    digest stays canonical across micro-batches (an unchanged
    re-fetch in a later batch classifies revisit pointing at the
    batch-1 capture); within a batch the min(struct(date, url))
    tiebreak matches the batch operator.  Arrival-ordered input
    therefore equals the one-shot classify_revisits over the union —
    stream==batch where the semantics promise it."""
    from extractor.sources.warc import classify_revisits
    from extractor.streaming.stream import streaming_revisit_gate
    from extractor.writer import read_extracted

    docs = spark.read.parquet(f"{SF_TINY}/documents.parquet").select(
        "doc_id", "text"
    ).filter(F.col("doc_id") < 120)
    url = F.concat(F.lit("http://s.test/d"), F.col("doc_id").cast("string"))

    def wave(pred, date, payload, u=url):
        w = docs.filter(pred) if pred is not None else docs
        return w.select(
            u.alias("url"), F.lit(date).alias("warc_date"),
            payload.alias("html"),
        )

    b1 = wave(None, "2026-01-01T00:00:00Z", F.col("text"))
    b2 = wave(F.col("doc_id") % 2 == 0, "2026-01-02T00:00:00Z", F.col("text")) \
        .unionAll(wave(F.col("doc_id") % 4 == 0, "2026-01-03T00:00:00Z",
                       F.concat(F.col("text"), F.lit(" changed"))))
    src = str(tmp_path / "caps")
    b1.coalesce(1).write.parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)

    index_dir = str(tmp_path / "idx")
    results_dir = str(tmp_path / "res")
    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(
            streaming_revisit_gate(stream, index_dir, results_dir)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    key = ("url", "warc_date")
    got = {
        (r.url, r.warc_date): (
            r.record_type, r.refers_to_url, r.refers_to_date, r.saved_bytes
        )
        for r in read_extracted(spark, results_dir).collect()
    }
    want = {
        (r.url, r.warc_date): (
            r.record_type, r.refers_to_url, r.refers_to_date, r.saved_bytes
        )
        for r in classify_revisits(b1.unionAll(b2)).collect()
    }
    assert got == want and len(got) == b1.count() + b2.count()
    # the cross-batch unchanged re-fetch is a revisit at the gate
    some = [v for k, v in got.items() if k[1] == "2026-01-02T00:00:00Z"]
    assert some and all(v[0] == "revisit" for v in some)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _pages(spark, rows):
    import datetime

    ts = datetime.datetime(2026, 1, 1)
    return spark.createDataFrame(
        [(u, ts, bytearray(h.encode()), None, None) for u, h in rows],
        PAGES_SCHEMA,
    )


_TEXT = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
_DOC_BATCHES = (
    [(1, _TEXT), (2, _TEXT), (3, "one two three four five")],
    [(4, _TEXT), (5, "one two three four five"), (6, "red green blue"),
     (7, "red green blue")],
)
_PAGE = "<html><body><h1>{0}</h1><p>{0} is a paragraph of page text.</p></body></html>"


def _replay_case(spark, bridge, root):
    """(handler, b1, b2, index dir or None, every dir the bridge
    writes) for one snapshot-writing bridge, over a few hand-built
    rows: in-batch and cross-batch duplicates, so each index is read
    back by the second batch."""
    from extractor.streaming import stream

    d = {k: str(root / k) for k in ("out", "idx", "cls", "res", "post")}
    if bridge in ("incremental_dedup", "exact_dedup", "index_maintenance"):
        b1, b2 = (_docs(spark, rows) for rows in _DOC_BATCHES)
        if bridge == "incremental_dedup":
            h = stream.streaming_incremental_dedup(None, d["idx"], d["out"])
        elif bridge == "exact_dedup":
            h = stream.streaming_exact_dedup(None, d["idx"], d["out"])
        else:
            return (stream.streaming_index_maintenance(None, d["out"]),
                    b1, b2, None, [d["out"]])
        return h, b1, b2, d["idx"], [d["out"], d["idx"]]
    if bridge == "crawl_pipeline":
        b1 = _pages(spark, [("https://a.test/x.html", _PAGE.format("Apples")),
                            ("https://b.test/y.html", _PAGE.format("Apples")),
                            ("https://c.test/z.html", _PAGE.format("Cherries"))])
        b2 = _pages(spark, [("https://d.test/m.html", _PAGE.format("Cherries")),
                            ("https://e.test/n.html", _PAGE.format("Elderberries"))])
        h = stream.streaming_crawl_pipeline(
            None, d["cls"], d["idx"], d["res"], d["post"], cfg=CFG
        )
        return h, b1, b2, d["idx"], [d["cls"], d["res"], d["post"], d["idx"]]
    caps = "url string, warc_date string, html string"
    b1 = spark.createDataFrame(
        [("http://a.test/", "2026-01-01T00:00:00Z", "same bytes"),
         ("http://b.test/", "2026-01-01T00:00:01Z", "other")], caps)
    b2 = spark.createDataFrame(
        [("http://a.test/", "2026-01-02T00:00:00Z", "same bytes"),
         ("http://c.test/", "2026-01-02T00:00:01Z", "third")], caps)
    h = stream.streaming_revisit_gate(None, d["idx"], d["out"])
    return h, b1, b2, d["idx"], [d["out"], d["idx"]]


def _row_multiset(spark, out_dir):
    """Every committed row of a snapshot table as a multiset, without
    the columns a re-run legitimately changes."""
    import collections
    import json

    from extractor.writer import read_extracted

    rows = read_extracted(spark, out_dir).drop(
        "latency_s", "partition_id", "lineage_id"
    )
    return collections.Counter(
        json.dumps(r.asDict(recursive=True), sort_keys=True, default=str)
        for r in rows.collect()
    )


@pytest.fixture(scope="module")
def clean_runs():
    """bridge -> row multisets of a clean b1, b2 run (shared by both
    windows of a bridge)."""
    return {}


@pytest.mark.parametrize(
    "bridge,window",
    [(b, w)
     for b in ("incremental_dedup", "exact_dedup", "index_maintenance",
               "crawl_pipeline", "revisit_gate")
     for w in ("a", "b")
     if (b, w) != ("index_maintenance", "a")],
)
def test_bridge_replay_equals_clean_run(
    spark, tmp_path, monkeypatch, clean_runs, bridge, window
):
    """Both crash windows of a snapshot-writing bridge leave exactly a
    clean run's row multiset in every output and index directory:
    (a) the index advance fails once after the outputs committed, and
    the batch is retried; (b) the handler completes and Spark replays
    the same (batch, batch_id) because it died before its checkpoint
    commit."""
    from extractor import writer

    if bridge not in clean_runs:
        handle, b1, b2, _, dirs = _replay_case(spark, bridge, tmp_path / "clean")
        handle(b1, 0)
        handle(b2, 1)
        clean_runs[bridge] = [_row_multiset(spark, d) for d in dirs]
    clean = clean_runs[bridge]

    handle, b1, b2, index_dir, dirs = _replay_case(spark, bridge, tmp_path / "crash")
    if window == "a":
        commit = writer._commit_manifest
        crashed = []

        def crash_on_advance(cdir, run_id, manifest):
            if cdir.startswith(index_dir) and not crashed:
                crashed.append(run_id)
                raise RuntimeError("crash before the index advance commits")
            commit(cdir, run_id, manifest)

        monkeypatch.setattr(writer, "_commit_manifest", crash_on_advance)
        with pytest.raises(RuntimeError, match="crash before"):
            handle(b1, 0)
        assert crashed
    else:
        handle(b1, 0)
    handle(b1, 0)
    handle(b2, 1)
    assert [_row_multiset(spark, d) for d in dirs] == clean
    assert all(clean)


def test_exact_dedup_restart_from_checkpoint(spark, tmp_path):
    """A real streaming query that dies after batch 1's outputs commit
    and restarts from the same checkpoint replays batch 1 under the
    same query id, so the committed rows equal a clean query's.  The
    two queries' run ids differ, so the query id is part of them."""
    from extractor.streaming.stream import streaming_exact_dedup
    from extractor.writer import committed_run_ids

    src = str(tmp_path / "src")
    for rows in _DOC_BATCHES:
        _docs(spark, rows).coalesce(1).write.mode("append").parquet(src)
    schema = _docs(spark, _DOC_BATCHES[0]).schema

    def run(tag, crash_after_batch=None):
        idx, res = str(tmp_path / f"idx_{tag}"), str(tmp_path / f"res_{tag}")
        handle = streaming_exact_dedup(None, idx, res)

        def crashing(df, batch_id):
            handle(df, batch_id)
            if batch_id == crash_after_batch:
                raise RuntimeError("query dies before its checkpoint commit")

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(crashing)
            .option("checkpointLocation", str(tmp_path / f"ckpt_{tag}"))
            .trigger(availableNow=True)
            .start()
        )
        if crash_after_batch is None:
            q.awaitTermination(120)
        else:
            with pytest.raises(StreamingQueryException):
                q.awaitTermination(120)
        return idx, res

    clean_dirs = run("clean")
    run("crashed", crash_after_batch=1)
    restarted_dirs = run("crashed")
    clean = [_row_multiset(spark, d) for d in clean_dirs]
    assert [_row_multiset(spark, d) for d in restarted_dirs] == clean
    assert sum(clean[1].values()) == 7
    ids = [set(committed_run_ids(res)) for _, res in (clean_dirs, restarted_dirs)]
    assert len(ids[0]) == len(ids[1]) == 2 and not ids[0] & ids[1]
