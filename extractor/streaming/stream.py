"""Structured Streaming variants (readStream → transform → writeStream).

The reference is a request/response service with no streaming
constructs (SURVEY.md §2.4 "Not present"); a continuously-crawled
pages table, however, is naturally a stream, so the engine provides:

* :func:`streaming_extract_pages` — the stateless extraction stages
  (routing, validation, html extract+clean, pdf page fan-out + OCR)
  over a file stream.  Stateless ``mapInPandas`` stages run unchanged
  on streams.  Document reassembly (A1-A4) is a *stateful* aggregation
  keyed by url; for late-arriving pages the engine takes the
  lambda-architecture stance: the stream emits page-level rows
  (exactly-once via checkpoint + idempotent sink) and a periodic batch
  compaction job performs the url-level reassembly — the same
  groupBy code path as the batch pipeline, so no second implementation
  to keep correct.

Invariant tested in tests/test_streaming.py: on a finite input the
streaming results equal the batch results (stream-batch unification).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from extractor.config import ExtractConfig
from extractor.pipeline import (
    PDF_PAGE_TEXT_SCHEMA,
    _pdf_explode_iter,
    _pdf_ocr_iter,
    _quarantine_error,
    extract_html,
    extract_image,
    route,
)
from extractor.schema import PAGES_SCHEMA, PDF_PAGE_SCHEMA


def read_pages_stream(spark: SparkSession, pages_dir: str, max_files: int = 4) -> DataFrame:
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(pages_dir)
    )


def streaming_extract_pages(
    pages_stream: DataFrame, cfg: ExtractConfig = ExtractConfig()
) -> DataFrame:
    """Stateless extraction over a stream → page-grain result rows.

    html and image docs yield one row (page_number null); pdf docs
    yield one row per page.  All stages are the same functions the
    batch pipeline uses — streams and batches share one implementation.
    """
    routed = route(pages_stream).withColumn("route_error", _quarantine_error(cfg))
    valid = routed.filter(F.col("route_error").isNull())

    html_rows = extract_html(valid.filter(F.col("doc_type") == "html"), cfg).select(
        "url",
        "warc_ts",
        F.lit("html").alias("doc_type"),
        F.lit(None).cast("int").alias("page_number"),
        "text",
        "success",
        "error",
    )
    image_rows = extract_image(
        valid.filter(F.col("doc_type") == "image"), cfg
    ).select(
        "url",
        "warc_ts",
        F.lit("image").alias("doc_type"),
        F.lit(None).cast("int").alias("page_number"),
        "text",
        "success",
        "error",
    )
    n_parts = cfg.pdf_partitions or pages_stream.sparkSession.conf.get(
        "spark.sql.shuffle.partitions"
    )
    pdf_pages = (
        valid.filter(F.col("doc_type") == "pdf")
        .select("url", "warc_ts", "html")
        .mapInPandas(_pdf_explode_iter(cfg), schema=PDF_PAGE_SCHEMA)
        # page-level salting, same as the batch branch: a micro-batch
        # containing one giant PDF must not OCR serially in the task
        # that exploded it (repartition is supported on streams)
        .repartition(int(n_parts), "url", "page_number")
        .mapInPandas(_pdf_ocr_iter(cfg), schema=PDF_PAGE_TEXT_SCHEMA)
        .select(
            "url", "warc_ts", F.lit("pdf").alias("doc_type"),
            "page_number", "text", "success", "error",
        )
    )
    quarantined = routed.filter(F.col("route_error").isNotNull()).select(
        "url",
        "warc_ts",
        "doc_type",
        F.lit(None).cast("int").alias("page_number"),
        F.lit(None).cast("string").alias("text"),
        F.lit(False).alias("success"),
        F.col("route_error").alias("error"),
    )
    return (
        html_rows.unionByName(image_rows)
        .unionByName(pdf_pages)
        .unionByName(quarantined)
    )


def warc_pages_stream(warc_stream: DataFrame) -> DataFrame:
    """Adapt a raw-WARC response stream (sources.warc.read_warc_stream)
    to the pages-table schema, so `streaming_extract_pages` runs on
    crawl segments as they land — fetcher drops `*.warc` files, the
    stream emits markdown rows.  Map-only column adaptation; the
    extraction stages are the SAME functions as batch, so raw-archive
    streaming inherits every batch guarantee (the e2e_warc_extract
    registry entry driver-checks the batch half of this chain)."""
    return warc_stream.select(
        "url",
        F.to_timestamp("warc_date", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("warc_ts"),
        F.encode(F.col("html"), "utf-8").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("lang"),
    )


def streaming_outlinks(
    pages_stream: DataFrame, cfg: ExtractConfig = ExtractConfig()
) -> DataFrame:
    """Stateless outlink extraction over a pages stream — the edge feed
    for an incrementally-maintained web graph (a periodic batch
    ``pagerank_int`` job consumes the accumulated edges, the same
    lambda split as page reassembly).  Same operator as batch
    (operators.webgraph.html_outlinks): one implementation, plan
    unchanged on a stream."""
    from extractor.operators.webgraph import html_outlinks

    routed = route(pages_stream).withColumn("route_error", _quarantine_error(cfg))
    valid_html = routed.filter(
        (F.col("doc_type") == "html") & F.col("route_error").isNull()
    )
    return html_outlinks(valid_html)


def streaming_quality_gate(
    pages_stream: DataFrame,
    cfg: ExtractConfig = ExtractConfig(),
    stopwords: list[str] | None = None,
) -> DataFrame:
    """Inline Gopher quality gate at ingest: extract the html stream,
    score each document with the same expression-only
    :func:`extractor.operators.textstats.gopher_rules` the batch
    filter uses, and tag keep/drop — the shape a crawl pipeline wants
    so junk never reaches the (expensive) dedup and index stages.
    Stateless map, so the plan is identical on stream and batch (one
    implementation; pinned by tests/test_streaming.py)."""
    from extractor.operators.textstats import gopher_rules

    extracted = streaming_extract_pages(pages_stream, cfg)
    html_ok = extracted.filter(
        (F.col("doc_type") == "html") & F.col("success")
    )
    r = gopher_rules(F.col("text"), stopwords=stopwords)
    return html_ok.select(
        "url", "warc_ts", *[r[k].alias(k) for k in r]
    )


def streaming_incremental_dedup(
    docs_stream: DataFrame,
    index_dir: str,
    pairs_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
):
    """foreachBatch bridge from a document stream to the committed
    incremental-dedup index (operators.incremental): every micro-batch
    computes band signatures ONCE, probes new×new and new×history,
    snapshot-commits the PAIRS first and only then advances the index
    (``commit_band_rows``) — the exactly-once order, so a crash
    between the two commits re-runs the batch against an unchanged
    index and overwrites nothing.  Returns the handler for
    ``stream.writeStream.foreachBatch(...)``; the accumulated pair
    snapshots read back with ``writer.read_extracted(pairs_dir)`` and
    equal the one-shot ``lsh_pairs`` over everything ingested
    (pinned by tests/test_streaming.py).

    This is the lambda split completed: the streaming leg keeps the
    per-crawl cost O(batch), and the index the batches build is the
    same table the batch engine probes."""
    from extractor.operators.dedup import banded_signatures
    from extractor.operators.incremental import (
        commit_band_rows,
        incremental_pairs,
    )
    from extractor.writer import write_snapshot

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        banded = banded_signatures(
            batch_df, id_col=id_col, text_col=text_col, k=k, bands=bands
        ).localCheckpoint(eager=True)
        pairs = incremental_pairs(banded, index_dir, k=k, threshold=threshold)
        write_snapshot(pairs, pairs_dir, key_col="a")
        commit_band_rows(banded, index_dir)

    return handle


def streaming_exact_dedup(
    docs_stream: DataFrame,
    index_dir: str,
    results_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """foreachBatch bridge for the exact-digest membership gate
    (operators.incremental.incremental_exact_dedup): every micro-batch
    classifies its docs as new / dup_in_batch / dup_of_history against
    the committed digest index, snapshot-commits the CLASSIFICATIONS
    first and only then advances the index with the batch's new
    digests (``commit_digests``) — the same exactly-once two-step as
    the LSH bridge, so a crash between the commits replays the batch
    against an unchanged index.  Returns the handler for
    ``stream.writeStream.foreachBatch(...)``; accumulated results
    read back with ``writer.read_extracted(results_dir)`` and match
    the batched classification over everything ingested (pinned by
    tests/test_streaming.py).

    In a production crawl this sits FIRST: the cheap gate that stops
    re-crawled unchanged pages and mirrors from ever reaching
    extraction, fuzzy dedup, or indexing.  Unlike the
    watermark-bounded :func:`streaming_dedup_exact`, which forgets a
    digest once it leaves the watermark horizon, this gate checks the
    full committed history, at the cost of a digest index on disk."""
    from extractor.operators.incremental import (
        commit_digests,
        incremental_exact_dedup,
    )
    from extractor.writer import write_snapshot

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        res = incremental_exact_dedup(
            batch_df, index_dir, id_col=id_col, text_col=text_col, commit=False
        ).localCheckpoint(eager=True)
        write_snapshot(res, results_dir, key_col="id")
        commit_digests(
            res.filter(F.col("status") == "new").select("digest", "id"),
            index_dir,
        )

    return handle


def streaming_dedup_exact(
    pages_stream: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming exact dedup: first document per content hash wins.

    The streaming twin of the batch ``dedup_exact`` operator —
    ``dropDuplicatesWithinWatermark`` on ``md5(text)`` keeps dedup
    state only for the watermark horizon, so state is bounded by
    (arrival rate × horizon) instead of growing with the corpus: the
    property that makes continuous-crawl dedup feasible at 10^12 docs
    (a full-history exact dedup belongs in the periodic batch
    compaction, same as document reassembly).  Its index-backed
    sibling :func:`streaming_exact_dedup` keeps full history instead:
    use this one when only recent duplicates matter and state must
    stay bounded, that one when a re-crawl months later must still be
    caught."""
    ts = pages_stream.withColumn("ts", F.col("warc_ts").cast("timestamp"))
    return (
        ts.withWatermark("ts", watermark)
        .withColumn("text_hash", F.md5(F.coalesce(F.col("text"), F.lit(""))))
        .dropDuplicatesWithinWatermark(["text_hash"])
        .select("url", "ts", "text_hash")
    )


def streaming_index_maintenance(
    docs_stream: DataFrame,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    batch_max_df: int = 1_000_000_000,
):
    """foreachBatch bridge for retrieval-index maintenance: each
    micro-batch builds ITS OWN postings
    (operators.relevance.build_postings — batch docs only, history
    text never re-tokenized) and appends them as one committed
    snapshot.  Serving reads
    :func:`extractor.operators.relevance.read_postings_index`, which
    folds the appended snapshots with the GLOBAL max_df cut —
    ``batch_max_df`` stays permissive so a term's corpus-wide promotion
    to stopword is decided at fold time, not per micro-batch.

    Exactly-once is NOT required on this path (unlike the dedup
    gates' two-step commits): a crash-replayed batch appends
    byte-identical entries and the read-side (token, doc) fold
    collapses them, so the bridge is a single snapshot append —
    at-least-once is repaired on read, the same discipline as
    compact_index.  Returns the handler for
    ``stream.writeStream.foreachBatch(...)``."""
    from extractor.operators.relevance import build_postings
    from extractor.writer import write_snapshot

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        idx = build_postings(
            batch_df, id_col=id_col, text_col=text_col, max_df=batch_max_df
        )
        write_snapshot(idx, index_dir, key_col="token")

    return handle


def streaming_crawl_pipeline(
    pages_stream: DataFrame,
    cls_dir: str,
    digest_dir: str,
    results_dir: str,
    index_dir: str,
    cfg=None,
    url_col: str = "url",
    payload_col: str = "html",
    batch_max_df: int = 1_000_000_000,
):
    """The production crawl topology as ONE foreachBatch handler —
    the composition the individual bridges exist for, in stage order:

    1. membership gate FIRST, on raw payload bytes
       (incremental_exact_dedup over md5(html) — re-crawls and
       mirrors never reach extraction).  Byte-identical payloads
       collapse to ONE representative regardless of url — including
       quarantine classes (every empty capture shares a digest), so
       the results table holds one row per distinct payload and the
       cls table remembers every url's disposition; classifications
       snapshot-committed to ``cls_dir`` (the batch's decision
       record);
    2. extraction of the ``new`` rows only (run_extraction — the
       same batch stages the spark-submit job runs);
    3. extracted results snapshot-committed to ``results_dir``;
    4. digest index advanced (``commit_digests``) — AFTER the
       results commit, so a crash between them replays the batch
       against an unchanged index: results/classifications append a
       second time (at-least-once; compact_snapshots with
       dedupe_on=['url'] / ['id'] is the repair, as everywhere), but
       nothing is ever lost or mis-gated;
    5. per-batch postings appended to ``index_dir`` over the
       successful html markdown (read via read_postings_index, which
       repairs replays on fold — no ordering constraint at all).

    Index doc ids are ``xxhash64(url)`` (postings doc columns are
    longs; the hash is deterministic across batches and engines,
    collision odds 2^-64 — record the (url, doc_id) mapping from the
    results table when reverse lookup matters).

    Returns the handler for ``stream.writeStream.foreachBatch(...)``.
    """
    from extractor.config import ExtractConfig
    from extractor.operators.incremental import (
        commit_digests,
        incremental_exact_dedup,
    )
    from extractor.operators.relevance import build_postings
    from extractor.pipeline import run_extraction
    from extractor.writer import write_snapshot

    cfg = cfg or ExtractConfig()

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        cls = incremental_exact_dedup(
            batch_df,
            digest_dir,
            id_col=url_col,
            text_col=payload_col,
            commit=False,
        ).localCheckpoint(eager=True)
        write_snapshot(cls, cls_dir, key_col="id")
        new_urls = cls.filter(F.col("status") == "new").select(
            F.col("id").alias(url_col)
        )
        fresh = batch_df.join(new_urls, url_col)
        if not fresh.isEmpty():
            extracted = run_extraction(spark, fresh, cfg).localCheckpoint(
                eager=True
            )
            write_snapshot(extracted, results_dir)
        commit_digests(
            cls.filter(F.col("status") == "new").select("digest", "id"),
            digest_dir,
        )
        if fresh.isEmpty():
            return
        docs = extracted.filter(
            (F.col("doc_type") == "html") & F.col("success")
        ).select(F.xxhash64(url_col).alias("doc_id"), "text")
        if not docs.isEmpty():
            write_snapshot(
                build_postings(docs, max_df=batch_max_df),
                index_dir,
                key_col="token",
            )

    return handle


def streaming_cdx_maintenance(
    captures_stream: DataFrame, index_dir: str, shards: int = 4
):
    """foreachBatch bridge for CDX URL-index maintenance: each
    micro-batch of captures is formatted by
    ``sources.cdx.to_cdxj_records`` and appended as key-sorted index
    shards (``repartitionByRange`` + ``sortWithinPartitions`` within
    the batch — every shard individually keeps the archive's sort
    property; a periodic compaction merges shard ranges, exactly like
    real CDX pipelines merge per-crawl indexes).

    Exactly-once is NOT required (same discipline as
    ``streaming_index_maintenance``): a crash-replayed batch appends
    byte-identical lines, and the read side —
    ``sources.cdx.cdx_latest``'s max(struct) fold, or a ``distinct()``
    for capture-count consumers — collapses them; at-least-once
    repaired on read.  Returns the handler for
    ``stream.writeStream.foreachBatch(...)``."""
    from extractor.sources.cdx import to_cdxj_records

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        (
            to_cdxj_records(batch_df)
            .repartitionByRange(shards, "value")
            .sortWithinPartitions("value")
            .write.mode("append")
            .text(index_dir)
        )

    return handle


def streaming_classifier_gate(
    pages_stream: DataFrame,
    cfg: ExtractConfig = ExtractConfig(),
    threshold: float = 0.5,
    classifier="surrogate",
) -> DataFrame:
    """Model-quality gate at ingest: extract the html stream and
    score each document through the pluggable classifier seam
    (operators.classifier — production registers a pandas-UDF
    fastText and this plan is unchanged), tagging keep/drop at the
    given score threshold.  The learned sibling of
    :func:`streaming_quality_gate`; stateless map, so stream==batch
    by construction (one implementation, pinned by pytest).  NULL
    scores (empty text) tag keep=false — an unscoreable document
    never rides into the mixture silently."""
    from extractor.operators.classifier import classifier_score_expr

    extracted = streaming_extract_pages(pages_stream, cfg)
    html_ok = extracted.filter(
        (F.col("doc_type") == "html") & F.col("success")
    )
    score = classifier_score_expr(F.col("text"), classifier)
    return html_ok.select(
        "url",
        "warc_ts",
        score.alias("clf_score"),
        F.coalesce(score >= threshold, F.lit(False)).alias("keep"),
    )


def streaming_curation_gate(
    pages_stream: DataFrame,
    cfg: ExtractConfig = ExtractConfig(),
    threshold: float = 0.5,
    classifier="surrogate",
) -> DataFrame:
    """The full ingest-side curation verdict — the streaming twin of
    the e2e_curation_shards batch chain's stateless prefix: extract
    the html stream, compute the C4 rule verdict
    (operators.textstats.c4_rules — strict on markdown by design:
    heading/list lines rarely end in terminal punctuation, so C4 is a
    dial here, reported not composited), score the extracted text
    through the classifier seam, and assign the salted
    train/validation/test split.  Emits one row per
    document with every stage's verdict (c4_keep, clf_score,
    clf_keep, split, composite keep) so a downstream foreachBatch
    sink can route kept rows to per-split tables without recomputing
    anything.  Stateless map end to end: one implementation,
    stream==batch by construction (pinned by pytest); exact/LSH dedup
    stays in its own stateful bridges
    (:func:`streaming_exact_dedup`, :func:`streaming_incremental_dedup`)
    because dedup needs cross-batch state and this gate deliberately
    does not."""
    from extractor.operators.classifier import classifier_score_expr
    from extractor.operators.dedup import hex64
    from extractor.operators.textstats import c4_rules

    extracted = streaming_extract_pages(pages_stream, cfg)
    html_ok = extracted.filter(
        (F.col("doc_type") == "html") & F.col("success")
    )
    r = c4_rules(F.col("text"))
    staged = html_ok.select(
        "url",
        "warc_ts",
        r["n_kept_lines"].alias("n_kept_lines"),
        r["keep"].alias("c4_keep"),
        "text",
    )
    score = classifier_score_expr(F.col("text"), classifier)
    clf_keep = F.coalesce(score >= threshold, F.lit(False))
    bucket = hex64(F.concat(F.lit("split:"), F.col("url"))) % 1000
    return staged.select(
        "url",
        "warc_ts",
        "n_kept_lines",
        "c4_keep",
        score.alias("clf_score"),
        clf_keep.alias("clf_keep"),
        F.when(bucket < 980, F.lit("train"))
        .when(bucket < 995, F.lit("validation"))
        .otherwise(F.lit("test"))
        .alias("split"),
        clf_keep.alias("keep"),
    )


def streaming_revisit_gate(
    captures_stream: DataFrame,
    index_dir: str,
    results_dir: str,
    url_col: str = "url",
    date_col: str = "warc_date",
    payload_col: str = "html",
):
    """foreachBatch bridge for crawl-time revisit classification
    (the 15th bridge — sources.warc.classify_revisits with HISTORY):
    the canonical capture of a payload digest is its first COMMITTED
    capture; within a micro-batch the type-agnostic
    ``min(struct(date, url))`` wins, exactly the batch operator's
    tiebreak.  Every batch snapshot-commits its CLASSIFICATIONS
    first and only then advances the digest index with the batch's
    new canonicals — the exactly-once two-step every index bridge
    uses, so a crash between the commits replays the batch against
    an unchanged index.

    This is the archive writer's ingest gate: a capture classified
    ``revisit`` here is written as a pointer record
    (to_deduped_warc_records' streaming half) and its payload never
    enters storage, extraction, or dedup.

    Replay contract: a batch re-run after its index commit finds its
    own canonicals in the index and classifies them ``response``
    again, so every (url, warc_date) keeps one classification across
    the appended rows.

    Scale shape per batch: digest + byte count in the scan
    projection (payload bytes never ride a shuffle), one
    groupBy(digest) over the batch, one digest equi-join against the
    committed index (history never self-joins).  The index scan still
    reads every committed digest, but it is semi-joined to the
    batch's digests before its min-aggregate, so only digests the
    batch touches are shuffled and aggregated."""
    from extractor.operators.incremental import commit_digests
    from extractor.writer import (
        _committed_manifests,
        read_extracted,
        write_snapshot,
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        d = batch_df.select(
            F.col(url_col).alias("url"),
            F.col(date_col).alias("warc_date"),
            F.md5(F.encode(F.col(payload_col), "utf-8")).alias("digest"),
            F.octet_length(F.col(payload_col)).cast("long").alias("nbytes"),
        )
        bcanon = d.groupBy("digest").agg(
            F.min(F.struct("warc_date", "url")).alias("bk")
        )
        if _committed_manifests(index_dir):
            hist = (
                read_extracted(spark, index_dir)
                .join(bcanon.select("digest"), "digest", "left_semi")
                .groupBy("digest")
                .agg(F.min(F.struct("warc_date", "url")).alias("hk"))
            )
            canon = bcanon.join(hist, "digest", "left").select(
                "digest",
                F.coalesce("hk", "bk").alias("k"),
                F.col("hk").isNotNull().alias("in_hist"),
                "bk",
            )
        else:
            canon = bcanon.select(
                "digest",
                F.col("bk").alias("k"),
                F.lit(False).alias("in_hist"),
                "bk",
            )
        canon = canon.localCheckpoint(eager=True)  # results + commit reuse
        joined = d.join(canon, "digest")
        is_canon = (
            (F.col("warc_date") == F.col("k.warc_date"))
            & (F.col("url") == F.col("k.url"))
        )
        res = joined.select(
            "url",
            "warc_date",
            F.col("digest").alias("payload_digest"),
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
        ).localCheckpoint(eager=True)
        write_snapshot(res, results_dir, key_col="payload_digest")
        commit_digests(
            canon.filter(~F.col("in_hist")).select(
                "digest",
                F.col("bk.url").alias("url"),
                F.col("bk.warc_date").alias("warc_date"),
            ),
            index_dir,
        )

    return handle
