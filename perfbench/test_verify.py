"""The benchmark's output check must catch a wrong output.

    python3 -m pytest perfbench/test_verify.py -q
"""

from __future__ import annotations

import copy
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import inputs  # noqa: E402
import verify  # noqa: E402
from extractor.config import ExtractConfig  # noqa: E402
from extractor.testgen import TEST_MAX_BYTES  # noqa: E402

CFG = ExtractConfig(max_bytes=TEST_MAX_BYTES)


@pytest.fixture(scope="module")
def golden():
    return verify.goldens(inputs.page_records(7, 80, None), CFG)


def rows_of(golden) -> list[dict]:
    """A correct output: one row per url, as the oracle would write it."""
    return [copy.deepcopy(g) for g in golden.values()]


def failed_share(rows, golden) -> float:
    return len(verify.failed_urls(rows, golden)) / len(golden)


def first(rows, pred) -> dict:
    return next(r for r in rows if pred(r))


def test_correct_output_passes(golden):
    assert failed_share(rows_of(golden), golden) == 0
    # the planted error rows are in the sample and match the oracle
    assert any(not g["success"] for g in golden.values())


def test_one_changed_byte_fails(golden):
    rows = rows_of(golden)
    r = first(rows, lambda r: r["doc_type"] == "html" and r["text"])
    r["text"] = r["text"][:-1] + chr(ord(r["text"][-1]) ^ 1)
    assert verify.failed_urls(rows, golden) == {r["url"]}
    assert failed_share(rows, golden) > 0


def test_one_changed_page_fails(golden):
    rows = rows_of(golden)
    r = first(rows, lambda r: r["pages"])
    r["pages"][-1]["text"] += " "
    assert verify.failed_urls(rows, golden) == {r["url"]}


def test_dropped_url_fails(golden):
    rows = rows_of(golden)
    dropped = rows.pop(3)
    assert verify.failed_urls(rows, golden) == {dropped["url"]}
    assert failed_share(rows, golden) > 0


def test_duplicated_url_fails(golden):
    rows = rows_of(golden)
    rows.append(copy.deepcopy(rows[5]))
    assert verify.failed_urls(rows, golden) == {rows[5]["url"]}
    assert failed_share(rows, golden) > 0


def test_unknown_url_fails(golden):
    rows = rows_of(golden)
    extra = dict(rows[0], url="https://example-42.test/html_simple/nope.html")
    assert verify.failed_urls(rows + [extra], golden) == {extra["url"]}


@pytest.mark.parametrize("field,value", [
    ("success", None), ("error", "boom"), ("doc_type", "pdf"),
    ("total_pages", 99), ("warnings", ["x"]),
])
def test_each_compared_field_fails(golden, field, value):
    rows = rows_of(golden)
    r = first(rows, lambda r: r[field] != value)
    r[field] = value
    assert verify.failed_urls(rows, golden) == {r["url"]}
