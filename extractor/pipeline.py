"""The end-to-end extraction pipeline (SURVEY.md §3 restated in Spark).

Replaces the reference's per-request lifecycle (FastAPI → validate →
temp file → single-GPU-thread infer → clean → JSON) with one declarative
DataFrame job:

    pages ──route (JVM exprs)──┬─ quarantine rows (errors are data)
                               ├─ html: mapInArrow(extract+clean)
                               ├─ image: mapInArrow(compress T1/T2 →
                               │         micro-batched OCR T5 → clean)
                               └─ pdf:  mapInArrow(page explode T4)
                                        → repartition(url, page_number)   # page-level salting
                                        → mapInArrow(micro-batched OCR T5 + clean T7/T8)
                                        → groupBy(url) reassembly A1-A4
            └────────────── unionByName ──────────────┘ → extracted

Scale design decisions (the part the reference's architecture cannot
express):

* **Routing/validation stay JVM-side** — extension/size/empty
  predicates are Catalyst expressions (whole-stage codegen), never
  Python; the scan only reads the columns each branch needs.
* **One stage shape** — every Python stage is a ``mapInArrow``
  function: its key columns (url, warc_ts, and the page numbers after
  the explode) pass through as the Arrow arrays they arrived as, and
  only the columns the stage computes are built in Python.
* **Page explode BEFORE the expensive stage** — a 100-page PDF is a
  single megarow; AQE can split shuffle partitions but not rows, so
  skew must be broken by fan-out *then* ``repartition(url,
  page_number)``, which scatters one document's pages across the
  cluster (north_rule "page-level salting").  The explode stage only
  slices bytes (cheap); OCR runs after the scatter.
* **Micro-batched inference** — the image and OCR stages call
  ``engine.infer_batch`` once per Arrow batch (bounded by
  ``spark.sql.execution.arrow.maxRecordsPerBatch``), the batch analog
  of sizing requests to GPU capacity; the engine itself is a lazy
  per-worker singleton (one model load per executor, reference
  model_loader.py:59-61 analog).
* **Errors are data** — every exception inside a stage becomes an error
  row (success=false, error text), mirroring the reference's per-page
  isolation (pdf_processor.py:228-247); a data error never kills a
  task, so one poison document cannot fail a 100 TB job.
"""

from __future__ import annotations

import time
from functools import reduce
from typing import Iterator

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import StructType

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
from extractor.schema import (
    EXTRACTED_SCHEMA,
    HTML_RESULT_SCHEMA,
    PDF_PAGE_SCHEMA,
    PDF_PAGE_TEXT_SCHEMA,
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


def _quarantined(routed: DataFrame) -> DataFrame:
    """The rows validation rejected, as error rows (success=false)."""
    return routed.filter(F.col("route_error").isNotNull()).select(
        "url", "warc_ts", "doc_type",
        F.lit(False).alias("success"), F.col("route_error").alias("error"),
    )


def _project(df: DataFrame, schema: StructType, **fixed: Column) -> DataFrame:
    """A branch's output in ``schema``'s field order: ``fixed`` columns
    by name, then the columns ``df`` has, and every other field as a
    null of the schema's type."""

    def col(f):
        if f.name in fixed:
            return fixed[f.name].alias(f.name)
        if f.name in df.columns:
            return F.col(f.name)
        return F.lit(None).cast(f.dataType).alias(f.name)

    return df.select([col(f) for f in schema.fields])


# ---------------------------------------------------------------------------
# Arrow stages and the one inference step
# ---------------------------------------------------------------------------

def _emit(schema: StructType, keys: pa.RecordBatch, rows: list[tuple]) -> pa.RecordBatch:
    """A stage's output batch: the ``keys`` columns pass through as the
    Arrow arrays they are; the remaining ``schema`` fields, in order,
    are built from ``rows`` (one tuple of computed values per row)."""
    computed = [f for f in schema.fields if f.name not in keys.schema.names]
    values = list(zip(*rows)) if rows else [()] * len(computed)
    built = {
        f.name: pa.array(list(v), to_arrow_type(f.dataType))
        for f, v in zip(computed, values)
    }
    return pa.RecordBatch.from_arrays(
        [built[n] if n in built else keys.column(n) for n in schema.names],
        names=schema.names,
    )


def _infer(engine, payloads: list[bytes], prompt: str, strip: bool) -> list[tuple]:
    """One engine call for the batch → ``(text | None, error | None,
    latency_s)`` per payload, text cleaned (T7/T8).  The call is one
    unit of GPU work, so its wall time is split evenly over the rows.
    If it fails, a poison payload is isolated by one call per payload
    (reference pdf_processor.py:228-247), each row timed on its own
    and carrying the raw engine error."""
    if not payloads:
        return []
    t0 = time.perf_counter()
    try:
        raws = engine.infer_batch(payloads, prompt)
        share = (time.perf_counter() - t0) / len(payloads)
        return [(clean_stdout_output(raw, strip_grounding=strip), None, share)
                for raw in raws]
    except Exception:
        out = []
        for payload in payloads:
            t1 = time.perf_counter()
            try:
                raw = engine.infer_batch([payload], prompt)[0]
                text, err = clean_stdout_output(raw, strip_grounding=strip), None
            except Exception as exc:
                text, err = None, str(exc)
            out.append((text, err, time.perf_counter() - t1))
        return out


_KEYS = ["url", "warc_ts"]


def _html_extract_iter(cfg: ExtractConfig):
    strip = cfg.strip_grounding

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            rows = []
            for html in b.column("html").to_pylist():
                t0 = time.perf_counter()
                try:
                    text = clean_stdout_output(html_to_markdown(html), strip_grounding=strip)
                    rows.append((text, True, None, round(time.perf_counter() - t0, 6)))
                except Exception as exc:  # errors are data
                    rows.append((None, False, str(exc), round(time.perf_counter() - t0, 6)))
            yield _emit(HTML_RESULT_SCHEMA, b.select(_KEYS), rows)

    return fn


def extract_html(valid_html: DataFrame, cfg: ExtractConfig) -> DataFrame:
    df = valid_html.select("url", "warc_ts", "html")
    return df.mapInArrow(_html_extract_iter(cfg), schema=HTML_RESULT_SCHEMA)


# ---------------------------------------------------------------------------
# Image branch — the reference's PRIMARY endpoint (POST /ocr/image,
# api/routers/ocr.py:77-178): compress/resize (T1/T2) → single-image
# inference (T5) → clean (T7/T8).  One input row → one result row; no
# page fan-out.
# ---------------------------------------------------------------------------

def _image_extract_iter(cfg: ExtractConfig):
    strip = cfg.strip_grounding
    prompt = resolve_prompt(cfg.output_format)  # driver-side T9+F6

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from extractor.operators.multimodal import compress_image

        engine = get_engine()  # per-worker singleton, loaded once
        for b in batches:
            # Reference image_processor.py times each request end to end
            # (:136/:194): compress (T1/T2) is timed per image, on top of
            # the row's share of the inference call.
            rows, ok, payloads = [], [], []
            for i, img in enumerate(b.column("html").to_pylist()):
                t0 = time.perf_counter()
                err = None
                try:
                    payloads.append(compress_image(img)[0])
                    ok.append(i)
                except Exception as exc:  # undecodable image → error row
                    err = str(exc)
                rows.append((None, err, time.perf_counter() - t0))
            for i, (text, err, lat) in zip(ok, _infer(engine, payloads, prompt, strip)):
                rows[i] = (text, err, rows[i][2] + lat)
            yield _emit(HTML_RESULT_SCHEMA, b.select(_KEYS), [
                (text, err is None, err, round(lat, 6)) for text, err, lat in rows
            ])

    return fn


def extract_image(valid_image: DataFrame, cfg: ExtractConfig) -> DataFrame:
    df = valid_image.select("url", "warc_ts", "html")
    return df.mapInArrow(_image_extract_iter(cfg), schema=HTML_RESULT_SCHEMA)


# ---------------------------------------------------------------------------
# PDF branch
# ---------------------------------------------------------------------------

def _pdf_explode_iter(cfg: ExtractConfig):
    max_pages = cfg.max_pdf_pages

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            take, rows = [], []
            for i, doc in enumerate(b.column("html").to_pylist()):
                t0 = time.perf_counter()
                try:
                    pages = split_pdf_pages(doc)
                    # F4 (reference pdf_processor.py:175-177): the cap is a
                    # doc-level rejection, not a truncation.
                    err = ERR_TOO_MANY_PAGES if len(pages) > max_pages else None
                except ValueError as exc:
                    err = str(exc)
                if err is not None:
                    take.append(i)
                    rows.append((None, None, None, False, err,
                                 round(time.perf_counter() - t0, 6)))
                    continue
                n = len(pages)
                take += [i] * n
                rows += [(k + 1, n, page, True, None, 0.0) for k, page in enumerate(pages)]
            keys = b.select(_KEYS).take(pa.array(take, pa.int64()))
            yield _emit(PDF_PAGE_SCHEMA, keys, rows)

    return fn


def _pdf_ocr_iter(cfg: ExtractConfig):
    strip = cfg.strip_grounding
    prompt = resolve_prompt(cfg.output_format)  # driver-side T9+F6

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        engine = get_engine()  # per-worker singleton, loaded once
        for b in batches:
            # A doc-level error row (null page_number) passes through
            # with its own success, error and latency.
            passed = (b.column(c).to_pylist() for c in ("success", "error", "latency_s"))
            rows = [(None, *row) for row in zip(*passed)]
            raw = b.column("raw_page").to_pylist()
            pages = b.column("page_number").to_pylist()
            ok = [i for i, p in enumerate(pages) if p is not None]
            for i, (text, err, lat) in zip(ok, _infer(engine, [raw[i] for i in ok], prompt, strip)):
                # A failed page carries the RAW error (reference page dict,
                # pdf_processor.py:241-247); the "Failed to process page N"
                # prefix is added by the reassembly warnings (A2, :230).
                rows[i] = ((text or "").strip(), err is None, err, round(lat, 6))  # T10
            keys = b.select(_KEYS + ["page_number", "total_pages"])
            yield _emit(PDF_PAGE_TEXT_SCHEMA, keys, rows)

    return fn


def extract_pdf_pages(valid_pdf: DataFrame, cfg: ExtractConfig) -> DataFrame:
    """pdf docs → page-grain OCR rows (PDF_PAGE_TEXT_SCHEMA); doc-level
    errors pass through as one row with a null page_number.  The
    streaming plane emits these rows as they are; batch reassembles
    them in :func:`extract_pdf`."""
    df = valid_pdf.select("url", "warc_ts", "html")
    # Explode first (cheap byte slicing)…
    pages = df.mapInArrow(_pdf_explode_iter(cfg), schema=PDF_PAGE_SCHEMA)
    # …then scatter pages so a giant PDF cannot pin one partition
    # (page-level salting; see module docstring).  The explicit count
    # keeps AQE from coalescing these cheap-bytes, expensive-compute
    # rows back into a few tasks.
    n_parts = int(pages.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    pages = pages.repartition(n_parts, "url", "page_number")
    return pages.mapInArrow(_pdf_ocr_iter(cfg), schema=PDF_PAGE_TEXT_SCHEMA)


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
    valid = routed.filter(F.col("route_error").isNull())
    branches = [
        _project(extract(valid.filter(F.col("doc_type") == doc_type), cfg),
                EXTRACTED_SCHEMA, doc_type=F.lit(doc_type),
                model_version=F.lit(MODEL_VERSION))
        for doc_type, extract in (
            ("html", extract_html), ("image", extract_image), ("pdf", extract_pdf)
        )
    ]
    return reduce(DataFrame.unionByName,
                  branches, _project(_quarantined(routed), EXTRACTED_SCHEMA))
