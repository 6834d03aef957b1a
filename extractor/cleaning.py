"""Byte-exact text cleaning (operators T7/T8 in SURVEY.md §2.3).

Reimplements, from its observable behavior, the cleaning semantics of
the reference's ``services/text_cleaner.py``:

* ``strip_grounding_annotations``  — reference text_cleaner.py:29-62
* ``clean_stdout_output``          — reference text_cleaner.py:64-107

These are the byte-identity contract for the whole engine: every
extracted text passes through them, and pytest asserts byte equality
per url against a single-process oracle that calls the same spec.

They stay in Python, never Java ``regexp_replace`` — Python ``re``
and Java regex differ on enough edge cases (e.g. what ``.`` matches,
empty-match advancement) that re-expressing the patterns in SQL would
silently break byte-identity (SURVEY.md §7 "What's hard").

Scale note: both functions are pure ``str -> str``.  The flagship
pipeline calls them per row inside its ``mapInArrow`` stages, right
after extraction, so the text never makes a second trip across the
Arrow boundary.  The ``pandas_udf`` wrappers at the bottom serve only
the registry queries that clean a column on its own.  Either way the
stage is embarrassingly parallel and holds whatever partitioning the
upstream stage chose — no shuffle.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

# Grounding annotation patterns (reference text_cleaner.py:46,49).
# Non-greedy, no DOTALL: a tag pair spanning a newline is NOT removed.
_REF_TAG_RE = re.compile(r"<\|ref\|>.*?<\|/ref\|>")
_DET_BOX_RE = re.compile(r"<\|det\|>\[\[.*?\]\]<\|/det\|>")
# 3+ consecutive newlines collapse to exactly two (text_cleaner.py:52).
_MULTI_NEWLINE_RE = re.compile(r"\n{3,}")


def strip_grounding_annotations(text: str) -> str:
    """Remove ``<|ref|>…<|/ref|>`` / ``<|det|>[[…]]<|/det|>`` markers.

    Semantics (reference text_cleaner.py:29-62), in order:
      1. empty/None input → ``""``
      2. delete ref tags (non-greedy, single-line)
      3. delete det boxes (non-greedy, single-line, requires ``[[…]]``)
      4. collapse runs of 3+ ``\\n`` to ``\\n\\n``
      5. strip every line; all-whitespace lines become ``""``
      6. strip the whole result
    """
    if not text:
        return ""
    text = _REF_TAG_RE.sub("", text)
    text = _DET_BOX_RE.sub("", text)
    text = _MULTI_NEWLINE_RE.sub("\n\n", text)
    lines = text.split("\n")
    text = "\n".join(line.strip() if line.strip() else "" for line in lines)
    return text.strip()


def _is_noise_line(line: str) -> bool:
    """Model-stdout noise predicate (reference text_cleaner.py:86-94)."""
    stripped = line.strip()
    return (
        line.startswith("=====")
        or line.startswith("BASE:")
        or line.startswith("PATCHES:")
        or stripped == "(0x0)"
        or (stripped.startswith("(0x0)") and len(stripped) < 50)
        or stripped == "0x0"
        or "torch.Size" in line
    )


def clean_stdout_output(stdout_text: str, strip_grounding: bool = True) -> str:
    """Extract OCR text from raw captured model stdout.

    Semantics (reference text_cleaner.py:64-107):
      1. empty input → ``""``
      2. strip the whole text, split on ``\\n``
      3. drop noise lines (see ``_is_noise_line``) and blank lines
      4. join survivors with ``\\n``
      5. optionally apply :func:`strip_grounding_annotations`
    """
    if not stdout_text:
        return ""
    lines = stdout_text.strip().split("\n")
    cleaned = [ln for ln in lines if not _is_noise_line(ln) and ln.strip()]
    result = "\n".join(cleaned)
    if strip_grounding:
        result = strip_grounding_annotations(result)
    return result


# ---------------------------------------------------------------------------
# Vectorized (Arrow-batched) wrappers for the registry queries.
# ---------------------------------------------------------------------------

@pandas_udf(StringType())
def strip_grounding_udf(col: pd.Series) -> pd.Series:
    """T8 as a Pandas UDF (one Python call per Arrow batch)."""
    return col.map(lambda t: strip_grounding_annotations(t) if t is not None else None)


@pandas_udf(StringType())
def clean_stdout_udf(col: pd.Series) -> pd.Series:
    """T7+T8 (strip_grounding=True) as a Pandas UDF."""
    return col.map(lambda t: clean_stdout_output(t) if t is not None else None)


@pandas_udf(StringType())
def clean_stdout_keep_grounding_udf(col: pd.Series) -> pd.Series:
    """T7 only (include_grounding=True path, reference ocr.py:131-134)."""
    return col.map(
        lambda t: clean_stdout_output(t, strip_grounding=False) if t is not None else None
    )
