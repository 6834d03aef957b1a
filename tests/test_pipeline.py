"""Golden end-to-end tests (SURVEY.md §5 strategy items 2-3).

The distributed pipeline's output must be byte-identical per url to
the single-process oracle — this is the engine's correctness contract
(north_rule: "byte-identical extracted text per url").
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from extractor.config import (
    ERR_EMPTY,
    ERR_TOO_LARGE,
    ERR_UNSUPPORTED,
    ExtractConfig,
)
from extractor.oracle import golden_for_documents
from extractor.testgen import TEST_MAX_BYTES, pages_df, row_class
from tests.conftest import SF_TINY

CFG = ExtractConfig(max_bytes=TEST_MAX_BYTES, max_pdf_pages=100)


@pytest.fixture(scope="module")
def extracted_and_golden(spark):
    from extractor.pipeline import run_extraction

    pages = pages_df(spark, SF_TINY)
    extracted = run_extraction(spark, pages, CFG).cache()
    docs = (
        spark.read.parquet(f"{SF_TINY}/documents.parquet")
        .select("doc_id", "text", "lang")
        .collect()
    )
    golden = golden_for_documents([(r.doc_id, r.text, r.lang) for r in docs], CFG)
    return extracted, golden


def test_row_parity_and_byte_identity(extracted_and_golden):
    extracted, golden = extracted_and_golden
    rows = {r["url"]: r for r in extracted.collect()}
    assert set(rows) == set(golden), "url sets differ"
    mismatches = []
    for url, g in golden.items():
        r = rows[url]
        if r["text"] != g["text"] or bool(r["success"]) != bool(g["success"]):
            mismatches.append((url, g["text"], r["text"], g["success"], r["success"]))
    assert not mismatches, f"{len(mismatches)} mismatches; first: {mismatches[0]}"


def test_error_rows(extracted_and_golden):
    extracted, golden = extracted_and_golden
    rows = {r["url"]: r for r in extracted.collect()}
    for url, g in golden.items():
        cls = url.split("/")[3]
        r = rows[url]
        if cls == "reject_empty":
            assert r["error"] == ERR_EMPTY and not r["success"]
        elif cls == "reject_ext":
            assert r["error"] == ERR_UNSUPPORTED and not r["success"]
        elif cls == "reject_oversize":
            assert r["error"] == ERR_TOO_LARGE and not r["success"]


def test_pdf_page_order_and_isolation(extracted_and_golden):
    """Pages come back in page_number order regardless of shuffle; a
    corrupt page fails alone (reference pdf_processor.py:228-247)."""
    extracted, golden = extracted_and_golden
    pdf_rows = extracted.filter(F.col("doc_type") == "pdf").collect()
    assert pdf_rows
    saw_partial_failure = False
    for r in pdf_rows:
        if r["pages"] is None:
            continue
        nums = [p["page_number"] for p in r["pages"]]
        assert nums == sorted(nums) == list(range(1, len(nums) + 1)), r["url"]
        g = golden[r["url"]]
        assert [p["text"] for p in r["pages"]] == [p["text"] for p in g["pages"]]
        assert [bool(p["success"]) for p in r["pages"]] == [
            p["success"] for p in g["pages"]
        ]
        if not r["success"] and any(p["success"] for p in r["pages"]):
            saw_partial_failure = True
            ok = [p for p in r["pages"] if p["success"]]
            assert len(ok) == len(r["pages"]) - 1  # exactly the corrupt page failed
    assert saw_partial_failure, "fixture should include a corrupt-page pdf_large"


def test_class_mix_present(spark):
    """Every fixture row class materializes (guards the generator)."""
    pages = pages_df(spark, SF_TINY)
    urls = [r["url"] for r in pages.select("url").collect()]
    classes = {u.split("/")[3] for u in urls}
    assert classes == {
        "html_simple", "html_boiler", "html_grounded",
        "image_png", "image_jpg",
        "pdf_small", "pdf_large",
        "reject_empty", "reject_ext", "reject_oversize",
    }
    # determinism: same class from url and from row_class(doc_id)
    for u in urls[:50]:
        doc_id = int(u.split("/")[4].split(".")[0])
        assert u.split("/")[3] == row_class(doc_id)


def test_routing_stays_jvm_side(spark):
    """Routing/validation must compile to Catalyst expressions — no
    Python stage before the branch split (scale requirement)."""
    from extractor.pipeline import _quarantine_error, route

    pages = spark.createDataFrame(
        [("https://x.test/a.html", None, b"<p>hi</p>", None, "en")],
        schema="url string, warc_ts timestamp, html binary, text string, lang string",
    )
    routed = route(pages).withColumn("err", _quarantine_error(CFG))
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan, plan


def test_image_branch(extracted_and_golden):
    """The reference's primary endpoint (POST /ocr/image) as a batch
    branch: image rows extract byte-identically vs the oracle; corrupt
    images become error rows without killing neighbors."""
    extracted, golden = extracted_and_golden
    img_rows = [r for r in extracted.collect() if r["doc_type"] == "image"]
    assert img_rows, "fixture should include image rows"
    saw_ok = saw_corrupt = False
    for r in img_rows:
        g = golden[r["url"]]
        assert g["doc_type"] == "image"
        assert r["text"] == g["text"], r["url"]
        assert bool(r["success"]) == bool(g["success"])
        assert r["error"] == g["error"]
        assert r["pages"] is None and r["total_pages"] is None
        if r["success"]:
            saw_ok = True
            assert r["text"].startswith("## Page 0")
        else:
            saw_corrupt = True
            assert r["error"] == "corrupt page image"
    assert saw_ok and saw_corrupt


def test_pdf_warnings_accumulation(extracted_and_golden):
    """A2: doc-level warnings list one 'Failed to process page N: …'
    per failed page (reference pdf_processor.py:230, ocr.py:299)."""
    extracted, golden = extracted_and_golden
    pdf_rows = [r for r in extracted.collect() if r["doc_type"] == "pdf"]
    saw_nonempty = False
    for r in pdf_rows:
        g = golden[r["url"]]
        if r["pages"] is None:  # doc-level rejection → warnings null
            assert r["warnings"] is None
            continue
        assert list(r["warnings"]) == g["warnings"], r["url"]
        if r["warnings"]:
            saw_nonempty = True
            assert all(w.startswith("Failed to process page ") for w in r["warnings"])
        # page rows carry the raw error; warnings carry the prefix
        for p in r["pages"]:
            if not p["success"]:
                assert not p["error"].startswith("Failed to process page")
    assert saw_nonempty, "fixture should include a corrupt-page pdf_large"


def test_image_branch_per_row_latency(monkeypatch):
    """Latency semantics parity (reference image_processor.py times
    each request): compress is timed per image, inference amortized
    per micro-batch — the latency column must vary per row within one
    batch, not be a flat batch average."""
    import time as _t

    import pyarrow as pa

    import extractor.operators.multimodal as mm
    from extractor import pipeline
    from extractor.config import ExtractConfig

    real = mm.compress_image

    def slow(payload, max_dim=mm.MAX_DIMENSION):
        _t.sleep(0.003 * (len(payload) % 3))  # deterministic per-row skew
        return real(payload, max_dim)

    monkeypatch.setattr(mm, "compress_image", slow)
    fn = pipeline._image_extract_iter(ExtractConfig())
    batch = pa.RecordBatch.from_pydict(
        {
            "url": ["u1", "u2", "u3"],
            "warc_ts": pa.array([None] * 3, pa.timestamp("us", tz="UTC")),
            "html": [b"IMG 10x10\na", b"IMG 10x10\nbb", b"IMG 10x10\nccc"],
        }
    )
    out = next(fn(iter([batch]))).to_pydict()
    lats = list(out["latency_s"])
    assert all(lat >= 0 for lat in lats)
    assert len(set(lats)) > 1, f"flat batch-average latency: {lats}"
    assert list(out["success"]) == [True] * 3


@pytest.mark.parametrize("branch", ["image", "pdf"])
def test_inference_fallback_isolates_poison_row(monkeypatch, branch):
    """A poison payload fails the batched engine call; the shared
    inference step then calls the engine once per payload.  The good
    rows keep the text a clean batch gives them, the poison row carries
    the raw engine error, and each row is timed on its own."""
    import time as _t

    import pyarrow as pa

    from extractor import pipeline
    from extractor.engine import CORRUPT_MARKER, SurrogateEngine

    head = b"IMG 10x10\n" if branch == "image" else b"PAGE 1\n"
    good_a, poison, good_c = head + b"alpha", head + CORRUPT_MARKER, head + b"gamma"
    delay = {good_a: 0.01, poison: 0.05, good_c: 0.10}
    surrogate = SurrogateEngine()

    class SlowEngine:  # each payload costs its own, distinct time
        def infer_batch(self, images, prompt):
            _t.sleep(sum(delay[bytes(i)] for i in images))
            return surrogate.infer_batch(images, prompt)

    monkeypatch.setattr(pipeline, "get_engine", SlowEngine)

    def run(payloads):
        n = len(payloads)
        cols = {
            "url": [f"u{i}" for i in range(n)],
            "warc_ts": pa.array([None] * n, pa.timestamp("us", tz="UTC")),
        }
        if branch == "image":
            fn = pipeline._image_extract_iter(ExtractConfig())
            cols["html"] = payloads
        else:
            fn = pipeline._pdf_ocr_iter(ExtractConfig())
            cols.update(
                page_number=pa.array(range(1, n + 1), pa.int32()),
                total_pages=pa.array([n] * n, pa.int32()),
                raw_page=payloads,
                success=[True] * n,
                error=pa.array([None] * n, pa.string()),
                latency_s=[0.0] * n,
            )
        return next(fn(iter([pa.RecordBatch.from_pydict(cols)]))).to_pydict()

    clean = run([good_a, good_c])
    got = run([good_a, poison, good_c])
    assert clean["success"] == [True, True]
    assert [got["text"][0], got["text"][2]] == clean["text"]
    assert got["success"] == [True, False, True]
    assert got["error"] == [None, "corrupt page image", None]
    # per-row times, not one shared split of the fallback's wall time
    for lat, payload in zip(got["latency_s"], [good_a, poison, good_c]):
        assert lat >= delay[payload], got["latency_s"]
