"""Output checks against the program's own oracles.

The goldens come from ``extractor.oracle.extract_one`` (the
single-process reference lifecycle), computed once per input and never
inside a timed span.  ``failed_urls`` compares what a timed pass wrote
with them; a doc fails when its url is missing or duplicated, or when
any of ``text`` (bytes), ``success``, ``error``, ``doc_type``,
``total_pages``, ``warnings`` or the pages differ.  Planted error rows
(rejects, corrupt images, corrupt pdf pages) pass when they match the
oracle.  An output url that is not in the input also counts as failed.
"""

from __future__ import annotations

from collections import Counter

from extractor.config import ExtractConfig
from extractor.oracle import extract_one

FIELDS = ("doc_type", "text", "success", "error", "total_pages", "warnings")
PAGE_FIELDS = ("page_number", "text", "success", "error")


def goldens(records: list[dict], cfg: ExtractConfig) -> dict[str, dict]:
    """Oracle output per url, computed in this process."""
    return {r["url"]: extract_one(r["url"], r["html"], cfg) for r in records}


def _pages(pages) -> list[tuple] | None:
    if pages is None:
        return None
    return [tuple(p[f] for f in PAGE_FIELDS) for p in pages]


def _warnings(warnings) -> list[str] | None:
    return None if warnings is None else list(warnings)


def row_matches(row: dict, golden: dict) -> bool:
    for f in FIELDS:
        got, want = row.get(f), golden[f]
        if f == "warnings":
            got, want = _warnings(got), _warnings(want)
        if got != want:
            return False
    return _pages(row.get("pages")) == _pages(golden["pages"])


def failed_urls(rows: list[dict], golden: dict[str, dict]) -> set[str]:
    """Urls of the input that came out wrong, plus any url not in it."""
    counts = Counter(r["url"] for r in rows)
    bad = {u for u in golden if counts[u] != 1}
    bad |= {u for u in counts if u not in golden}
    for r in rows:
        u = r["url"]
        if u not in bad and not row_matches(r, golden[u]):
            bad.add(u)
    return bad
