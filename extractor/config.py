"""Job configuration (the batch analog of the reference's env Config).

The reference freezes 26 env-derived fields into a Pydantic Config
(reference config.py:65-234).  A Spark job needs only the per-stage
knobs; they travel into UDF closures as a plain frozen dataclass —
no env reads on executors.
"""

from __future__ import annotations

from dataclasses import dataclass

from extractor.pdf_extract import MAX_FILE_SIZE_BYTES, MAX_PDF_PAGES

# Error texts — data, not exceptions (reference maps typed exceptions
# to HTTP statuses in api/handlers.py:56-107; we map them to error
# columns on quarantined rows).
ERR_EMPTY = "File is empty"                                   # ocr.py:71-72
ERR_TOO_LARGE = "File size exceeds maximum allowed size"      # image_processor.py:142-146
ERR_UNSUPPORTED = "Unsupported file format"                   # constants.py:90-91
ERR_TOO_MANY_PAGES = "PDF exceeds maximum page limit"         # pdf_processor.py:175-177

HTML_EXTS = ("html", "htm", "")
PDF_EXTS = ("pdf",)
# Reference constants.py:65-73 (SupportedImageFormat) — the primary
# /ocr/image endpoint's accepted extensions.
IMAGE_EXTS = ("png", "jpg", "jpeg", "webp", "bmp", "tiff", "tif")


@dataclass(frozen=True)
class ExtractConfig:
    max_bytes: int = MAX_FILE_SIZE_BYTES      # reference constants.py:34 (50 MB)
    max_pdf_pages: int = MAX_PDF_PAGES        # reference constants.py:35 (100)
    strip_grounding: bool = True              # reference ocr.py:131-134 default
    # T9: one of engine.OUTPUT_FORMAT_PROMPTS' six formats (reference
    # constants.py:49-56); resolved + guard-validated (F6) driver-side
    # in run_extraction, then shipped into the inference UDF closures.
    output_format: str = "markdown"           # reference constants.py:46 default
