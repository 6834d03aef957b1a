"""Seeded inputs for the benchmark workloads.

Every pages row comes from ``extractor.testgen.make_page_record``, the
same generator the tests and the oracle use, so the goldens and the
Spark job see identical bytes.  The documents table that testgen is
normally fed from is synthesized here from the seed (word-salad texts
with the shape of the ``documents`` fixture: 8-96 words over a small
vocabulary, five languages), then each text is repeated twenty times as
``bench.replicated_pages`` does, which gives ~7 KB html pages.

The seed draws which doc_ids appear; ``testgen.row_class(doc_id)``
fixes each row's class.  Doc_ids are drawn per class, in testgen's own
ratios (6:4:2 for html, 3:1 for pdf, the full 20-class mix otherwise),
so every seed has the same class mix and only the documents change.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from extractor.schema import PAGES_SCHEMA
from extractor.testgen import make_page_record, row_class

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (41, 15, 15, 15, 14)
TEXT_MULT = 20
MIN_WORDS, MAX_WORDS = 8, 96
DOC_ID_SPACE = 10_000_000

HTML_CLASSES = frozenset({"html_simple", "html_boiler", "html_grounded"})
PDF_CLASSES = frozenset({"pdf_small", "pdf_large"})

ARROW_SCHEMA = pa.schema(
    [
        pa.field("url", pa.string(), nullable=False),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ]
)
assert ARROW_SCHEMA.names == [f.name for f in PAGES_SCHEMA.fields]


def doc_text(rng: random.Random, n_words: int) -> str:
    words = rng.choices(VOCAB, k=n_words)
    return " ".join([" ".join(words)] * TEXT_MULT)


def stratum(doc_id: int) -> tuple[str, bool]:
    """testgen's row class, and whether testgen plants a corrupt image
    or pdf page in the row (doc_id % 40 in {7, 15})."""
    return row_class(doc_id), doc_id % 40 in (7, 15)


def _quotas(n: int, classes: frozenset | None) -> dict[tuple[str, bool], int]:
    """Rows per stratum: testgen's own shares for uniform doc_ids,
    restricted to ``classes`` and rounded to sum to ``n``."""
    share: dict[tuple[str, bool], float] = {}
    for doc_id in range(97 * 40):  # one full period of both moduli
        key = stratum(doc_id)
        if classes is None or key[0] in classes:
            share[key] = share.get(key, 0) + 1
    total = sum(share.values())
    exact = {k: n * v / total for k, v in share.items()}
    quota = {k: int(x) for k, x in exact.items()}
    for k in sorted(exact, key=lambda k: quota[k] - exact[k])[: n - sum(quota.values())]:
        quota[k] += 1
    return quota


def draw_doc_ids(rng: random.Random, n: int, classes: frozenset | None) -> list[int]:
    """``n`` distinct doc_ids in testgen's class ratios (``classes``
    ``None``: all of them, rejects included), with exactly the expected
    number of each class and of planted corrupt rows, so that seeds
    change the documents but not the mix."""
    quota = _quotas(n, classes)
    seen: set[int] = set()
    out: list[int] = []
    while len(out) < n:
        doc_id = rng.randrange(1, DOC_ID_SPACE)
        key = stratum(doc_id)
        if doc_id in seen or quota.get(key, 0) == 0:
            continue
        seen.add(doc_id)
        quota[key] -= 1
        out.append(doc_id)
    rng.shuffle(out)
    return out


def page_records(seed: int, n: int, classes: frozenset | None) -> list[dict]:
    """``n`` pages rows.  Within each stratum the text lengths are the
    same evenly spaced 8-96 words for every seed, dealt out in seeded
    order, so seeds change the words but not how much text there is."""
    rng = random.Random(seed)
    ids = draw_doc_ids(rng, n, classes)
    groups: dict[tuple[str, bool], list[int]] = {}
    for doc_id in ids:
        groups.setdefault(stratum(doc_id), []).append(doc_id)
    n_words: dict[int, int] = {}
    for group in groups.values():
        lengths = [MIN_WORDS + (MAX_WORDS - MIN_WORDS) * i // max(len(group) - 1, 1)
                   for i in range(len(group))]
        rng.shuffle(lengths)
        n_words.update(zip(group, lengths))
    return [
        make_page_record(doc_id, doc_text(rng, n_words[doc_id]),
                         rng.choices(LANGS, weights=LANG_WEIGHTS)[0])
        for doc_id in ids
    ]


@dataclass
class PagesTable:
    """The generated input: its rows (for the goldens) and the parquet
    files the Spark job reads."""

    records: list[dict]
    files: list[str]


def write_pages(records: list[dict], out_dir: str, n_files: int) -> PagesTable:
    """Write ``records`` as ``n_files`` parquet files of equal row count,
    one row group each, so the scan has one task per file."""
    os.makedirs(out_dir, exist_ok=True)
    files = []
    per_file = -(-len(records) // n_files)
    for i in range(n_files):
        chunk = records[i * per_file : (i + 1) * per_file]
        path = os.path.join(out_dir, f"part-{i:03d}.parquet")
        table = pa.Table.from_pylist(chunk, schema=ARROW_SCHEMA)
        pq.write_table(table, path, row_group_size=max(len(chunk), 1))
        files.append(path)
    return PagesTable(records, files)
