"""Structured Streaming variants (readStream → transform → writeStream).

The reference is a request/response service with no streaming
constructs (SURVEY.md §2.4 "Not present"); a continuously-crawled
pages table, however, is naturally a stream, so the engine provides:

* :func:`streaming_extract_pages` — the stateless extraction stages
  (routing, validation, html extract+clean, pdf page fan-out + OCR)
  over a file stream.  Stateless ``mapInArrow`` stages run unchanged
  on streams.  Document reassembly (A1-A4) is a *stateful* aggregation
  keyed by url; for late-arriving pages the engine takes the
  lambda-architecture stance: the stream emits page-level rows
  (exactly-once via checkpoint + idempotent sink) and a periodic batch
  compaction job performs the url-level reassembly — the same
  groupBy code path as the batch pipeline, so no second implementation
  to keep correct.

Invariant tested in tests/test_streaming.py: on a finite input the
streaming results equal the batch results (stream-batch unification).

Replay contract of the snapshot-writing foreachBatch bridges
(:func:`streaming_incremental_dedup`, :func:`streaming_exact_dedup`,
:func:`streaming_index_maintenance`, :func:`streaming_crawl_pipeline`,
:func:`streaming_revisit_gate`).  Spark re-runs a micro-batch under
the same batch id when the query dies before its checkpoint commit,
and a handler can die between two of its own writes.  Every such
bridge commits through one step, :func:`_exactly_once`:

* all snapshots of a batch share one ``run_id`` derived from
  ``(query id, batch id)``; the query id is stable across restarts
  from the same checkpoint (and empty for a handler called directly,
  so the batch id alone names the batch);
* outputs are committed first and the index advance last, so a crash
  between them replays against an unchanged index;
* on replay a snapshot whose manifest exists is skipped, and a batch
  whose index advance is committed returns before classifying, since
  a classification against an index that already holds the batch is
  wrong.  "Committed" is the manifest file, not the live view: a later
  compaction or expiry hides the snapshot but keeps its manifest.

A replayed batch, in either crash window, therefore leaves the same
row multiset as a clean run (pinned by tests/test_streaming.py).
:func:`streaming_cdx_maintenance` is the exception; its docstring
says why.
"""

from __future__ import annotations

import hashlib
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from extractor.config import ExtractConfig
from extractor.pipeline import (
    _project,
    _quarantine_error,
    _quarantined,
    extract_html,
    extract_image,
    extract_pdf_pages,
    route,
)
from extractor.schema import PAGES_SCHEMA, STREAM_PAGE_SCHEMA
from extractor.writer import (
    _committed_manifests,
    _is_committed,
    read_extracted,
    write_snapshot,
)


def _exactly_once(plan, index_dir: str | None = None):
    """The commit step of every snapshot-writing bridge (module
    docstring, "Replay contract").  ``plan(batch_df)`` returns the
    batch's writes as ``(df, out_dir, key_col)`` in commit order:
    outputs first, the advance of ``index_dir`` (the state the plan
    reads back, if any) last.  Returns the handler for
    ``stream.writeStream.foreachBatch(...)``."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sc = batch_df.sparkSession.sparkContext
        query_id = sc.getLocalProperty("sql.streaming.queryId") or ""
        run_id = hashlib.md5(f"{query_id}:{batch_id}".encode()).hexdigest()[:12]
        if index_dir is not None and _is_committed(index_dir, run_id):
            return
        for df, out_dir, key_col in plan(batch_df):
            write_snapshot(df, out_dir, run_id=run_id, key_col=key_col)

    return handle


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
    rows = [
        _project(extract(valid.filter(F.col("doc_type") == doc_type), cfg),
                STREAM_PAGE_SCHEMA, doc_type=F.lit(doc_type))
        for doc_type, extract in (
            ("html", extract_html), ("image", extract_image), ("pdf", extract_pdf_pages)
        )
    ]
    rows.append(_project(_quarantined(routed), STREAM_PAGE_SCHEMA))
    return reduce(DataFrame.unionByName, rows)


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


def _extracted_html(pages_stream: DataFrame, cfg: ExtractConfig) -> DataFrame:
    """The successfully extracted html rows of
    :func:`streaming_extract_pages` — what every ingest gate scores."""
    extracted = streaming_extract_pages(pages_stream, cfg)
    return extracted.filter((F.col("doc_type") == "html") & F.col("success"))


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

    r = gopher_rules(F.col("text"), stopwords=stopwords)
    return _extracted_html(pages_stream, cfg).select(
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
    commits the PAIRS and then advances the index with the batch's
    band rows.  Returns the handler for
    ``stream.writeStream.foreachBatch(...)``; the accumulated pair
    snapshots read back with ``writer.read_extracted(pairs_dir)`` and
    equal the one-shot ``lsh_pairs`` over everything ingested
    (pinned by tests/test_streaming.py).

    This is the lambda split completed: the streaming leg keeps the
    per-crawl cost O(batch), and the index the batches build is the
    same table the batch engine probes."""
    from extractor.operators.dedup import banded_signatures
    from extractor.operators.incremental import incremental_pairs

    def plan(batch_df: DataFrame):
        banded = banded_signatures(
            batch_df, id_col=id_col, text_col=text_col, k=k, bands=bands
        ).localCheckpoint(eager=True)
        pairs = incremental_pairs(banded, index_dir, k=k, threshold=threshold)
        return [(pairs, pairs_dir, "a"), (banded, index_dir, "id")]

    return _exactly_once(plan, index_dir)


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
    the committed digest index, commits the CLASSIFICATIONS and then
    advances the index with the batch's new digests.  Returns the
    handler for ``stream.writeStream.foreachBatch(...)``; accumulated
    results read back with ``writer.read_extracted(results_dir)`` and
    match the batched classification over everything ingested (pinned
    by tests/test_streaming.py).

    In a production crawl this sits FIRST: the cheap gate that stops
    re-crawled unchanged pages and mirrors from ever reaching
    extraction, fuzzy dedup, or indexing.  Unlike the
    watermark-bounded :func:`streaming_dedup_exact`, which forgets a
    digest once it leaves the watermark horizon, this gate checks the
    full committed history, at the cost of a digest index on disk."""
    from extractor.operators.incremental import incremental_exact_dedup

    def plan(batch_df: DataFrame):
        res = incremental_exact_dedup(
            batch_df, index_dir, id_col=id_col, text_col=text_col, commit=False
        ).localCheckpoint(eager=True)
        new = res.filter(F.col("status") == "new").select("digest", "id")
        return [(res, results_dir, "id"), (new, index_dir, "digest")]

    return _exactly_once(plan, index_dir)


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
    text never re-tokenized) and commits them as one snapshot.
    Serving reads
    :func:`extractor.operators.relevance.read_postings_index`, which
    folds the appended snapshots with the GLOBAL max_df cut —
    ``batch_max_df`` stays permissive so a term's corpus-wide promotion
    to stopword is decided at fold time, not per micro-batch.  The
    postings are an output, not state the batch reads back, so there
    is no index advance.  Returns the handler for
    ``stream.writeStream.foreachBatch(...)``."""
    from extractor.operators.relevance import build_postings

    def plan(batch_df: DataFrame):
        idx = build_postings(
            batch_df, id_col=id_col, text_col=text_col, max_df=batch_max_df
        )
        return [(idx, index_dir, "token")]

    return _exactly_once(plan)


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
       committed to ``cls_dir`` (the batch's decision record);
    2. extraction of the ``new`` rows only (run_extraction — the
       same batch stages the spark-submit job runs), committed to
       ``results_dir``;
    3. per-batch postings over the successful html markdown,
       committed to ``index_dir`` (read via read_postings_index);
    4. digest index advanced LAST, so a crash anywhere before it
       replays the batch against an unchanged index and reaches the
       postings again.

    Index doc ids are ``xxhash64(url)`` (postings doc columns are
    longs; the hash is deterministic across batches and engines,
    collision odds 2^-64 — record the (url, doc_id) mapping from the
    results table when reverse lookup matters).

    Returns the handler for ``stream.writeStream.foreachBatch(...)``.
    """
    from extractor.operators.incremental import incremental_exact_dedup
    from extractor.operators.relevance import build_postings
    from extractor.pipeline import run_extraction

    cfg = cfg or ExtractConfig()

    def plan(batch_df: DataFrame):
        cls = incremental_exact_dedup(
            batch_df,
            digest_dir,
            id_col=url_col,
            text_col=payload_col,
            commit=False,
        ).localCheckpoint(eager=True)
        new = cls.filter(F.col("status") == "new")
        writes = [(cls, cls_dir, "id")]
        fresh = batch_df.join(new.select(F.col("id").alias(url_col)), url_col)
        if not fresh.isEmpty():
            extracted = run_extraction(
                batch_df.sparkSession, fresh, cfg
            ).localCheckpoint(eager=True)
            writes.append((extracted, results_dir, "url"))
            docs = extracted.filter(
                (F.col("doc_type") == "html") & F.col("success")
            ).select(F.xxhash64(url_col).alias("doc_id"), "text")
            if not docs.isEmpty():
                postings = build_postings(docs, max_df=batch_max_df)
                writes.append((postings, index_dir, "token"))
        writes.append((new.select("digest", "id"), digest_dir, "digest"))
        return writes

    return _exactly_once(plan, digest_dir)


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

    Unlike the other index bridges this one does not commit through
    :func:`_exactly_once`: the shards are raw CDXJ text files, which
    ``sources.cdx.read_cdx`` and ``read_cdx_stream`` read as a plain
    directory, not manifest-committed snapshots.  So a crash-replayed
    batch appends byte-identical lines, and the read side —
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
    :func:`streaming_quality_gate`, and the classifier columns of
    :func:`streaming_curation_gate` (column pruning drops the rest);
    stateless map, so stream==batch by construction (pinned by
    pytest).  NULL scores (empty text) tag keep=false — an
    unscoreable document never rides into the mixture silently."""
    return streaming_curation_gate(
        pages_stream, cfg, threshold=threshold, classifier=classifier
    ).select("url", "warc_ts", "clf_score", "keep")


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

    r = c4_rules(F.col("text"))
    staged = _extracted_html(pages_stream, cfg).select(
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
    (sources.warc.classify_revisits with HISTORY): the canonical
    capture of a payload digest is its first COMMITTED capture;
    within a micro-batch the type-agnostic ``min(struct(date, url))``
    wins, exactly the batch operator's tiebreak.  Every batch commits
    its CLASSIFICATIONS and then advances the digest index with the
    batch's new canonicals.

    This is the archive writer's ingest gate: a capture classified
    ``revisit`` here is written as a pointer record
    (to_deduped_warc_records' streaming half) and its payload never
    enters storage, extraction, or dedup.

    Scale shape per batch: digest + byte count in the scan
    projection (payload bytes never ride a shuffle), one
    groupBy(digest) over the batch, one digest equi-join against the
    committed index (history never self-joins).  The index scan still
    reads every committed digest, but it is semi-joined to the
    batch's digests before its min-aggregate, so only digests the
    batch touches are shuffled and aggregated."""

    def plan(batch_df: DataFrame):
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
        )
        new_canon = canon.filter(~F.col("in_hist")).select(
            "digest",
            F.col("bk.url").alias("url"),
            F.col("bk.warc_date").alias("warc_date"),
        )
        return [
            (res, results_dir, "payload_digest"),
            (new_canon, index_dir, "digest"),
        ]

    return _exactly_once(plan, index_dir)
