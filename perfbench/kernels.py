"""Single-core timings of the per-document kernels, run in the driver
on a sample of the workload's own pages.

Each kernel is timed over the whole sample ``REPS`` times and the
median is kept.  The pdf kernels follow the pipeline's own split:
``split_pdf_pages`` per document, then one ``infer_batch`` and one
``clean_stdout_output`` per page (a corrupt page raises inside the
engine and is counted as attempted work, as the degraded per-page path
does).
"""

from __future__ import annotations

import statistics
import time

from extractor.cleaning import clean_stdout_output
from extractor.engine import get_engine, resolve_prompt
from extractor.html_extract import html_to_markdown
from extractor.pdf_extract import split_pdf_pages

REPS = 3


def _median_s(fn, reps: int = REPS) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _infer(engine, prompt, pages):
    raws = []
    for p in pages:
        try:
            raws.append(engine.infer_batch([p], prompt)[0])
        except ValueError:  # planted corrupt page
            pass
    return raws


def time_kernels(html_payloads: list[bytes], pdf_payloads: list[bytes]) -> dict[str, float]:
    """ms per doc / per page, and html MB/s, for the given samples."""
    out: dict[str, float] = {}
    if html_payloads:
        md = [html_to_markdown(h) for h in html_payloads]
        n, mb = len(html_payloads), sum(map(len, html_payloads)) / 1e6
        t = _median_s(lambda: [html_to_markdown(h) for h in html_payloads])
        out["html_extract.ms_per_doc"] = 1e3 * t / n
        out["html_extract.mb_per_s"] = mb / t
        out["cleaning.ms_per_doc"] = 1e3 * _median_s(
            lambda: [clean_stdout_output(m) for m in md]) / n
    if pdf_payloads:
        engine, prompt = get_engine(), resolve_prompt("markdown")
        pages = [p for d in pdf_payloads for p in split_pdf_pages(d)]
        raws = _infer(engine, prompt, pages)
        out["pdf_extract.ms_per_doc"] = 1e3 * _median_s(
            lambda: [split_pdf_pages(d) for d in pdf_payloads]) / len(pdf_payloads)
        out["engine.ms_per_page"] = 1e3 * _median_s(
            lambda: _infer(engine, prompt, pages)) / len(pages)
        out["cleaning.ms_per_page"] = 1e3 * _median_s(
            lambda: [clean_stdout_output(r).strip() for r in raws]) / len(raws)
    return out
