"""The end-to-end extraction pipeline (SURVEY.md §3 restated in Spark).

Replaces the reference's per-request lifecycle (FastAPI → validate →
temp file → single-GPU-thread infer → clean → JSON) with one declarative
DataFrame job:

    pages ──route (JVM exprs)──┬─ quarantine rows (errors are data)
                               ├─ html: mapInPandas(extract+clean)
                               ├─ image: mapInPandas(compress T1/T2 →
                               │         micro-batched OCR T5 → clean)
                               └─ pdf:  mapInPandas(page explode T4)
                                        → repartition(url, page_number)   # page-level salting
                                        → mapInPandas(micro-batched OCR T5 + clean T7/T8)
                                        → groupBy(url) reassembly A1-A4
            └────────────── unionByName ──────────────┘ → extracted

Scale design decisions (the part the reference's architecture cannot
express):

* **Routing/validation stay JVM-side** — extension/size/empty
  predicates are Catalyst expressions (whole-stage codegen), never
  Python; the scan only reads the columns each branch needs.
* **Page explode BEFORE the expensive stage** — a 100-page PDF is a
  single megarow; AQE can split shuffle partitions but not rows, so
  skew must be broken by fan-out *then* ``repartition(url,
  page_number)``, which scatters one document's pages across the
  cluster (north_rule "page-level salting").  The explode stage only
  slices bytes (cheap); OCR runs after the scatter.
* **Micro-batched inference** — the OCR stage calls
  ``engine.infer_batch`` once per Arrow batch (bounded by
  ``spark.sql.execution.arrow.maxRecordsPerBatch``), the batch analog
  of sizing requests to GPU capacity; the engine itself is a lazy
  per-worker singleton (one model load per executor, reference
  model_loader.py:59-61 analog).
* **Errors are data** — every exception inside a UDF becomes an error
  row (success=false, error text), mirroring the reference's per-page
  isolation (pdf_processor.py:228-247); a data error never kills a
  task, so one poison document cannot fail a 100 TB job.
* **html and pdf are separately repartitionable** (``ExtractConfig``)
  because their per-row costs differ by ~pages-per-doc; on a GPU
  cluster the pdf stage is sized to GPU batch capacity independently
  of the html (CPU) stage.
"""

from __future__ import annotations

import time
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from extractor import MODEL_VERSION
from extractor.cleaning import clean_stdout_output
from extractor.config import (
    ERR_EMPTY,
    ERR_TOO_LARGE,
    ERR_TOO_MANY_PAGES,
    ERR_UNSUPPORTED,
    HTML_EXTS,
    IMAGE_EXTS,
    PDF_EXTS,
    ExtractConfig,
)
from extractor.engine import get_engine, resolve_prompt
from extractor.html_extract import html_to_markdown
from extractor.pdf_extract import split_pdf_pages
from extractor.schema import HTML_RESULT_SCHEMA, PDF_PAGE_SCHEMA

PDF_PAGE_TEXT_SCHEMA = (
    "url string, warc_ts timestamp, page_number int, total_pages int, "
    "text string, success boolean, error string, latency_s double"
)


def route(pages: DataFrame) -> DataFrame:
    """F1/F2/F3/F5 as Catalyst expressions (SURVEY.md §2.2).

    Adds ``doc_type`` and ``route_error``; stays entirely inside
    whole-stage codegen (verify: ``.explain`` shows no Python stage
    here).
    """
    path = F.substring_index(F.substring_index(F.col("url"), "?", 1), "#", 1)
    last = F.substring_index(path, "/", -1)
    ext = F.when(
        last.contains("."), F.lower(F.substring_index(last, ".", -1))
    ).otherwise(F.lit(""))
    doc_type = (
        F.when(ext.isin(*HTML_EXTS), "html")
        .when(ext.isin(*PDF_EXTS), "pdf")
        .when(ext.isin(*IMAGE_EXTS), "image")
        .otherwise("unsupported")
    )
    return pages.withColumn("doc_type", doc_type)


def _quarantine_error(cfg: ExtractConfig):
    """Validation error column, first-match-wins (oracle order)."""
    return (
        F.when(F.col("doc_type") == "unsupported", ERR_UNSUPPORTED)
        .when(F.col("html").isNull() | (F.length("html") == 0), ERR_EMPTY)
        .when(F.length("html") > cfg.max_bytes, ERR_TOO_LARGE)
        .otherwise(F.lit(None).cast("string"))
    )


# ---------------------------------------------------------------------------
# HTML branch
# ---------------------------------------------------------------------------

def _html_extract_iter(cfg: ExtractConfig):
    strip = cfg.strip_grounding

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                t0 = time.perf_counter()
                try:
                    md = html_to_markdown(r.html)
                    text = clean_stdout_output(md, strip_grounding=strip)
                    out.append((r.url, r.warc_ts, text, True, None,
                                round(time.perf_counter() - t0, 6)))
                except Exception as exc:  # errors are data
                    out.append((r.url, r.warc_ts, None, False, str(exc),
                                round(time.perf_counter() - t0, 6)))
            yield pd.DataFrame(
                out, columns=["url", "warc_ts", "text", "success", "error", "latency_s"]
            )

    return fn


def extract_html(valid_html: DataFrame, cfg: ExtractConfig) -> DataFrame:
    df = valid_html.select("url", "warc_ts", "html")
    if cfg.html_partitions:
        df = df.repartition(cfg.html_partitions)
    return df.mapInPandas(_html_extract_iter(cfg), schema=HTML_RESULT_SCHEMA)


# ---------------------------------------------------------------------------
# Image branch — the reference's PRIMARY endpoint (POST /ocr/image,
# api/routers/ocr.py:77-178): compress/resize (T1/T2) → single-image
# inference (T5) → clean (T7/T8).  One input row → one result row; no
# page fan-out.  Inference is micro-batched per Arrow batch exactly
# like the pdf OCR stage, with per-row degradation on batch failure.
# ---------------------------------------------------------------------------

def _image_extract_iter(cfg: ExtractConfig):
    strip = cfg.strip_grounding
    prompt = resolve_prompt(cfg.output_format)  # driver-side T9+F6

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from extractor.operators.multimodal import compress_image

        engine = get_engine()  # per-worker singleton, loaded once
        for pdf in batches:
            n = len(pdf)
            payloads: list[bytes | None] = [None] * n
            errors: dict[int, str] = {}
            # Per-row latency semantics (reference image_processor.py
            # times each request end-to-end, :136/:194): preprocessing
            # (T1/T2 compress) is timed PER IMAGE; the micro-batched
            # inference call is one unit of GPU work, so its wall time
            # is amortized equally over the batch's rows — except in
            # the degraded per-row path, where each row gets its own
            # true inference time.
            comp_lat = [0.0] * n
            infer_lat: dict[int, float] = {}
            for i, r in enumerate(pdf.itertuples(index=False)):
                t0 = time.perf_counter()
                try:
                    compressed, _w, _h, _ow, _oh = compress_image(bytes(r.html))
                    payloads[i] = compressed
                except Exception as exc:  # undecodable image → error row
                    errors[i] = str(exc)
                comp_lat[i] = time.perf_counter() - t0
            ok_idx = [i for i in range(n) if i not in errors]
            texts: dict[int, str] = {}
            t1 = time.perf_counter()
            try:
                raws = engine.infer_batch([payloads[i] for i in ok_idx], prompt)
                share = (time.perf_counter() - t1) / max(len(ok_idx), 1)
                for i, raw in zip(ok_idx, raws):
                    texts[i] = clean_stdout_output(raw, strip_grounding=strip)
                    infer_lat[i] = share
            except Exception:
                # Poison-image isolation: degrade to per-row calls so the
                # failure stays on its row (reference handlers.py:123-130
                # maps OCR errors per request; here per row).
                for i in ok_idx:
                    t2 = time.perf_counter()
                    try:
                        raw = engine.infer_batch([payloads[i]], prompt)[0]
                        texts[i] = clean_stdout_output(raw, strip_grounding=strip)
                    except Exception as exc:
                        errors[i] = str(exc)
                    infer_lat[i] = time.perf_counter() - t2
            out = []
            for i, r in enumerate(pdf.itertuples(index=False)):
                lat = round(comp_lat[i] + infer_lat.get(i, 0.0), 6)
                if i in errors:
                    out.append((r.url, r.warc_ts, None, False, errors[i], lat))
                else:
                    out.append((r.url, r.warc_ts, texts[i], True, None, lat))
            yield pd.DataFrame(
                out, columns=["url", "warc_ts", "text", "success", "error", "latency_s"]
            )

    return fn


def extract_image(valid_image: DataFrame, cfg: ExtractConfig) -> DataFrame:
    df = valid_image.select("url", "warc_ts", "html")
    if cfg.image_partitions:
        df = df.repartition(cfg.image_partitions)
    return df.mapInPandas(_image_extract_iter(cfg), schema=HTML_RESULT_SCHEMA)


# ---------------------------------------------------------------------------
# PDF branch
# ---------------------------------------------------------------------------

def _pdf_explode_iter(cfg: ExtractConfig):
    max_pages = cfg.max_pdf_pages

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                t0 = time.perf_counter()
                try:
                    pages = split_pdf_pages(r.html)
                except ValueError as exc:
                    out.append((r.url, r.warc_ts, None, None, None, False,
                                str(exc), round(time.perf_counter() - t0, 6)))
                    continue
                if len(pages) > max_pages:
                    # F4 (reference pdf_processor.py:175-177): the cap is a
                    # doc-level rejection, not a truncation.
                    out.append((r.url, r.warc_ts, None, None, None, False,
                                ERR_TOO_MANY_PAGES,
                                round(time.perf_counter() - t0, 6)))
                    continue
                n = len(pages)
                for i, page in enumerate(pages):
                    out.append((r.url, r.warc_ts, i + 1, n, page, True, None, 0.0))
            yield pd.DataFrame(out, columns=[f.name for f in PDF_PAGE_SCHEMA.fields])

    return fn


def _pdf_ocr_iter(cfg: ExtractConfig):
    strip = cfg.strip_grounding
    prompt = resolve_prompt(cfg.output_format)  # driver-side T9+F6

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        engine = get_engine()  # per-worker singleton, loaded once
        for pdf in batches:
            ok_mask = pdf["page_number"].notna() & pdf["error"].isna()
            rows = []
            # micro-batch: ONE engine call for the whole Arrow batch
            ok_rows = pdf[ok_mask]
            raw_results: dict[int, tuple] = {}
            # Per-page latency semantics mirror the image branch: the
            # micro-batched call is one unit of GPU work amortized
            # equally over its pages; the degraded path restores true
            # per-page times (reference pdf_processor times each page).
            page_lat: dict[int, float] = {}
            t0 = time.perf_counter()
            payloads = [bytes(b) for b in ok_rows["raw_page"]]
            try:
                # One engine call per Arrow batch — the GPU micro-batch.
                raws = engine.infer_batch(payloads, prompt)
                share = (time.perf_counter() - t0) / max(len(payloads), 1)
                pairs = list(zip(ok_rows.index, raws))
                for idx in ok_rows.index:
                    page_lat[idx] = share
            except Exception:
                # A poison page failed the whole batch: degrade to
                # per-page calls so the error is isolated to its row
                # (reference pdf_processor.py:228-247 semantics).
                pairs = []
                for idx, payload in zip(ok_rows.index, payloads):
                    t1 = time.perf_counter()
                    try:
                        pairs.append((idx, engine.infer_batch([payload], prompt)[0]))
                    except Exception as exc:
                        # Page row carries the RAW error (reference page
                        # dict, pdf_processor.py:241-247); the doc-level
                        # "Failed to process page N: …" prefix is added
                        # by the reassembly warnings (A2, :230).
                        raw_results[idx] = ("", False, str(exc))
                    page_lat[idx] = time.perf_counter() - t1
            for idx, raw in pairs:
                text = clean_stdout_output(raw, strip_grounding=strip)
                text = text.strip() if text else ""  # T10
                raw_results[idx] = (text, True, None)
            for idx in pdf.index:
                r = pdf.loc[idx]
                if idx in raw_results:
                    text, ok, err = raw_results[idx]
                    rows.append((r["url"], r["warc_ts"],
                                 int(r["page_number"]), int(r["total_pages"]),
                                 text, ok, err,
                                 round(page_lat.get(idx, 0.0), 6)))
                else:  # doc-level error row passes through
                    rows.append((r["url"], r["warc_ts"], None, None, None,
                                 False, r["error"], r["latency_s"]))
            yield pd.DataFrame(
                rows,
                columns=["url", "warc_ts", "page_number", "total_pages",
                         "text", "success", "error", "latency_s"],
            )

    return fn


def extract_pdf_pages(valid_pdf: DataFrame, cfg: ExtractConfig) -> DataFrame:
    """pdf docs → page-grain OCR rows (PDF_PAGE_TEXT_SCHEMA); doc-level
    errors pass through as one row with a null page_number.  The
    streaming plane emits these rows as they are; batch reassembles
    them in :func:`extract_pdf`."""
    df = valid_pdf.select("url", "warc_ts", "html")
    # Explode first (cheap byte slicing)…
    pages = df.mapInPandas(_pdf_explode_iter(cfg), schema=PDF_PAGE_SCHEMA)
    # …then scatter pages so a giant PDF cannot pin one partition
    # (page-level salting; see module docstring).
    n_parts = cfg.pdf_partitions or pages.sparkSession.conf.get(
        "spark.sql.shuffle.partitions"
    )
    pages = pages.repartition(int(n_parts), "url", "page_number")
    return pages.mapInPandas(_pdf_ocr_iter(cfg), schema=PDF_PAGE_TEXT_SCHEMA)


def extract_pdf(valid_pdf: DataFrame, cfg: ExtractConfig) -> DataFrame:
    return reassemble_pages(extract_pdf_pages(valid_pdf, cfg))


def reassemble_pages(page_text: DataFrame) -> DataFrame:
    """A1-A4 document reassembly from page-grain rows
    (PDF_PAGE_TEXT_SCHEMA shape): one shuffle keyed by url; order
    restored by array_sort (struct sorts by its first field,
    page_number), NOT by arrival order — exactly the SURVEY §2.4
    mapping.

    Standalone (not fused into :func:`extract_pdf`) because it is the
    batch half of the streaming design: the stream emits page-grain
    rows exactly-once, and the periodic compaction job runs THIS
    function over them — one reassembly implementation for both
    planes (tested in tests/test_streaming.py)."""
    page_struct = F.when(
        F.col("page_number").isNotNull(),
        F.struct("page_number", "text", "success", "error", "latency_s"),
    )
    agg = (
        page_text.groupBy("url", "warc_ts")
        .agg(
            F.array_sort(F.collect_list(page_struct)).alias("pages_raw"),
            F.max(F.when(F.col("page_number").isNull(), F.col("error"))).alias("doc_error"),
            F.max("total_pages").alias("total_pages"),
            F.min("success").alias("success"),          # A3: all(page.success)
            F.round(F.sum("latency_s"), 2).alias("latency_s"),  # A4
        )
    )
    doc_failed = F.col("doc_error").isNotNull()
    ok_pages = F.filter(F.col("pages_raw"), lambda p: p["success"])
    # A2 warning accumulation (reference pdf_processor.py:230, 240;
    # assembled into PDFOCRResponse.warnings, ocr.py:299): one
    # "Failed to process page N: <err>" per failed page, in page order
    # (pages_raw is already array_sort'ed on page_number).
    failed_pages = F.filter(F.col("pages_raw"), lambda p: ~p["success"])
    # coalesce: concat null-propagates, and an externally-produced
    # page row (this function also serves the streaming compaction
    # path) may carry success=false with a null error.
    warnings = F.transform(
        failed_pages,
        lambda p: F.concat(
            F.lit("Failed to process page "),
            p["page_number"].cast("string"),
            F.lit(": "),
            F.coalesce(p["error"], F.lit("unknown error")),
        ),
    )
    return agg.select(
        "url",
        "warc_ts",
        F.when(doc_failed, F.lit(None)).otherwise(F.col("pages_raw")).alias("pages"),
        F.when(doc_failed, F.lit(None)).otherwise(
            F.array_join(F.transform(ok_pages, lambda p: p["text"]), "\n\n")
        ).alias("text"),
        F.when(doc_failed, F.lit(None)).otherwise(F.col("total_pages")).alias("total_pages"),
        "success",
        F.col("doc_error").alias("error"),
        F.when(doc_failed, F.lit(None)).otherwise(warnings).alias("warnings"),
        "latency_s",
    )


# ---------------------------------------------------------------------------
# Full job
# ---------------------------------------------------------------------------

def run_extraction(
    spark: SparkSession, pages: DataFrame, cfg: ExtractConfig = ExtractConfig()
) -> DataFrame:
    """pages table → extracted table (EXTRACTED_SCHEMA)."""
    routed = route(pages).withColumn("route_error", _quarantine_error(cfg))

    _PAGES_T = (
        "array<struct<page_number:int,text:string,success:boolean,"
        "error:string,latency_s:double>>"
    )
    quarantined = (
        routed.filter(F.col("route_error").isNotNull())
        .select(
            "url",
            "warc_ts",
            "doc_type",
            F.lit(None).cast("string").alias("text"),
            F.lit(None).cast(_PAGES_T).alias("pages"),
            F.lit(None).cast("int").alias("total_pages"),
            F.lit(False).alias("success"),
            F.col("route_error").alias("error"),
            F.lit(None).cast("array<string>").alias("warnings"),
            F.lit(None).cast("double").alias("latency_s"),
            F.lit(None).cast("string").alias("model_version"),
        )
    )

    valid = routed.filter(F.col("route_error").isNull())

    def _flat_out(df: DataFrame, doc_type: str) -> DataFrame:
        """Single-result branches (html, image): no pages, no warnings
        (the reference's ImageOCRResponse carries neither)."""
        return df.select(
            "url",
            "warc_ts",
            F.lit(doc_type).alias("doc_type"),
            "text",
            F.lit(None).cast(_PAGES_T).alias("pages"),
            F.lit(None).cast("int").alias("total_pages"),
            "success",
            "error",
            F.lit(None).cast("array<string>").alias("warnings"),
            "latency_s",
            F.lit(MODEL_VERSION).alias("model_version"),
        )

    html_out = _flat_out(
        extract_html(valid.filter(F.col("doc_type") == "html"), cfg), "html"
    )
    image_out = _flat_out(
        extract_image(valid.filter(F.col("doc_type") == "image"), cfg), "image"
    )
    pdf_out = extract_pdf(valid.filter(F.col("doc_type") == "pdf"), cfg).select(
        "url",
        "warc_ts",
        F.lit("pdf").alias("doc_type"),
        "text",
        "pages",
        "total_pages",
        "success",
        "error",
        "warnings",
        "latency_s",
        F.lit(MODEL_VERSION).alias("model_version"),
    )
    return (
        quarantined.unionByName(html_out)
        .unionByName(image_out)
        .unionByName(pdf_out)
    )
