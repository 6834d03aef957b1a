"""Declared schemas for every DataFrame boundary.

The reference declares its shapes with Pydantic models + validators
(reference config.py:154-204, response models in api/routers/ocr.py
OpenAPI examples 88-98 / 192-216).  We do the same with explicit
``StructType``s — schemas are always declared, never inferred
(SURVEY.md §1.2).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# Input table — BASELINE.json input_hint:
# (url:string, warc_ts:timestamp, html:binary, text:string, lang:string)
PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)

# Per-page result struct — mirrors the reference's page dict shape
# (pdf_processor.py:220-226 / 241-247): page_number, text,
# processing_time_seconds, success, error.
PAGE_RESULT = StructType(
    [
        StructField("page_number", IntegerType(), True),
        StructField("text", StringType(), True),
        StructField("success", BooleanType(), True),
        StructField("error", StringType(), True),
        StructField("latency_s", DoubleType(), True),
    ]
)

# Exploded page rows (between the PDF fan-out and reassembly).
PDF_PAGE_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("page_number", IntegerType(), True),
        StructField("total_pages", IntegerType(), True),
        StructField("raw_page", BinaryType(), True),
        StructField("success", BooleanType(), True),
        StructField("error", StringType(), True),
        StructField("latency_s", DoubleType(), True),
    ]
)

# OCR'd page rows (after the PDF OCR stage, before reassembly; the
# streaming plane stores these as they are).  ``url`` is nullable here
# because the union of the branches takes it from this stage, and the
# written tables have always stored it as an optional column.
PDF_PAGE_TEXT_SCHEMA = StructType(
    [
        StructField("url", StringType(), True),
        StructField("warc_ts", TimestampType(), True),
        StructField("page_number", IntegerType(), True),
        StructField("total_pages", IntegerType(), True),
        StructField("text", StringType(), True),
        StructField("success", BooleanType(), True),
        StructField("error", StringType(), True),
        StructField("latency_s", DoubleType(), True),
    ]
)

# HTML/image branch output (before union).
HTML_RESULT_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("text", StringType(), True),
        StructField("success", BooleanType(), True),
        StructField("error", StringType(), True),
        StructField("latency_s", DoubleType(), True),
    ]
)

# Final extracted table — the batch analog of ImageOCRResponse /
# PDFOCRResponse (reference ocr.py:171-178, 292-301).
EXTRACTED_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("doc_type", StringType(), True),
        StructField("text", StringType(), True),
        StructField("pages", ArrayType(PAGE_RESULT), True),
        StructField("total_pages", IntegerType(), True),
        StructField("success", BooleanType(), True),
        StructField("error", StringType(), True),
        # A2: doc-level per-page failure summaries, pdf docs only
        # (PDFOCRResponse.warnings, reference ocr.py:299)
        StructField("warnings", ArrayType(StringType()), True),
        StructField("latency_s", DoubleType(), True),
        StructField("model_version", StringType(), True),
    ]
)

# Streaming extraction output: one row per html/image doc, per pdf
# page, and per quarantined doc (page_number null except on pdf pages).
STREAM_PAGE_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("doc_type", StringType(), True),
        StructField("page_number", IntegerType(), True),
        StructField("text", StringType(), True),
        StructField("success", BooleanType(), True),
        StructField("error", StringType(), True),
    ]
)

# Lineage/metrics table (north_rule: per-partition lineage rows).
LINEAGE_SCHEMA = StructType(
    [
        StructField("run_id", StringType(), False),
        StructField("partition_id", IntegerType(), True),
        StructField("row_count", LongType(), True),
        StructField("ok_count", LongType(), True),
        StructField("err_count", LongType(), True),
        StructField("latency_s", DoubleType(), True),
        StructField("committed_at", TimestampType(), True),
    ]
)
