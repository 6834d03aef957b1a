"""Shared core of the operator-query registry.

``REGISTRY`` maps query name -> :class:`QueryDef` (the Spark
implementation paired with a DuckDB oracle); tier modules populate it
at import time via :func:`register` and ``extractor/queries/__init__``
fixes the driver-gate ordering.  Helpers here are the fixtures/SQL
fragments shared by more than one tier module.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


@dataclass(frozen=True)
class QueryDef:
    spark: Callable[[SparkSession, str], DataFrame]
    sql: Optional[str]  # DuckDB oracle; None → rows-only check

REGISTRY: dict[str, QueryDef] = {}

def register(name: str, sql: Optional[str]):
    def deco(fn):
        REGISTRY[name] = QueryDef(fn, sql)
        return fn

    return deco

def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")

def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")

_NEARDUP_MARKER = " near duplicate tail marker"

def _inject_dups(docs: DataFrame, marker: str = "", extra_cols: tuple = ()) -> DataFrame:
    """Deterministic duplicate injection shared by every dedup query
    (the Spark twin of _DUP_INJECT_SQL / _NEARDUP_CORPUS_SQL): every
    10th doc is copied with doc_id+1_000_000 and ``marker`` appended
    to its text.  One definition — the six dedup queries and their two
    SQL CTE constants must change together or oracle parity breaks."""
    base = docs.select("doc_id", "text", *extra_cols)
    copy_text = F.concat(F.col("text"), F.lit(marker)) if marker else F.col("text")
    return base.unionAll(
        docs.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            copy_text.alias("text"),
            *extra_cols,
        )
    )

_DUP_INJECT_SQL = """
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
"""

# near-dup injection: every 10th doc gets a copy with a small tail edit
_NEARDUP_CORPUS_SQL = """
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id,
             text || ' near duplicate tail marker' AS text
      FROM documents WHERE doc_id % 10 = 0
"""

_HEX64_SQL = "('0x' || substr(md5({x}), 1, 15))::BIGINT"

# Shared CTE chain: corpus → shingles → 31-bit hashes → 16-permutation
# MinHash signatures → 4 LSH bands → candidate pairs (both the pair
# query and the cluster query build on `pairs`).
_LSH_CTES = f"""corpus AS ({_NEARDUP_CORPUS_SQL}),
    sh AS (
      SELECT doc_id,
             list_transform(string_split(text, ' '),
               t -> {_HEX64_SQL.format(x='t')} % 2147483647) AS wh
      FROM corpus
    ), shi AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(0, greatest(length(wh) - 3, 0)),
               i -> (wh[i+1] * 40503 + coalesce(wh[i+2], 0) * 94261 +
                     coalesce(wh[i+3], 0)) % 2147483647)) AS shi
      FROM sh
    ), sig AS (
      SELECT doc_id,
             list_transform(generate_series(0, 15), j ->
               list_min(list_transform(shi, h ->
                 ((((j*2 + 1) * 40503) % 2147483647) * h +
                  ((j*94261 + 73856093) % 2147483647)) % 2147483647))) AS sig
      FROM shi
    ), banded AS (
      SELECT doc_id, sig, b.band_idx,
             md5(array_to_string(list_transform(
               sig[b.band_idx*4 + 1 : b.band_idx*4 + 4], x -> x::VARCHAR), ',')) AS band_key
      FROM sig, LATERAL (SELECT unnest(generate_series(0, 3)) AS band_idx) b
    ), pairs AS (
      SELECT l.doc_id AS a, r.doc_id AS b,
             list_sum(list_transform(generate_series(1, 16),
               i -> CASE WHEN l.sig[i] = r.sig[i] THEN 1 ELSE 0 END)) / 16.0 AS est
      FROM banded l JOIN banded r
        ON l.band_idx = r.band_idx AND l.band_key = r.band_key AND l.doc_id < r.doc_id
    )"""

# The boiler fixture's link farms (testgen._html_boiler): five farms in
# document order — nav li1 (doc_id, 4), nav li2 (doc_id+1, 4), div
# (doc_id, 6), aside (doc_id+2, 5), footer (doc_id, 3) — each farm i
# emitting <a href="/x/{d}/{i}">link word {i}</a>.  (ord, d-offset,
# count, seq-start) rows; both oracles below derive edges from this.
_LINK_FARMS_SQL = """
      SELECT * FROM (VALUES (0, 0, 4, 0), (1, 1, 4, 4), (2, 0, 6, 8),
                            (3, 2, 5, 14), (4, 0, 3, 19))
        AS f(ord, doff, n, start)
"""

_BOILER_EDGES_SQL = f"""
    boiler AS (
      SELECT doc_id,
             'https://example-42.test/html_boiler/' ||
               printf('%06d', doc_id) || '.html' AS url
      FROM documents WHERE doc_id % 97 <> 0 AND doc_id % 20 IN (8, 9, 10, 11)
    ), farm AS ({_LINK_FARMS_SQL})
"""

# The corpus is 5-language synthetic text, so the Gopher stopword rule
# runs with the union of the LID stopword profiles instead of the
# English-only default (operators.textstats.gopher_rules docstring);
# one shared literal keeps Spark and the oracle in lockstep.
from extractor.operators.textstats import STOPWORDS as _LID_STOPWORDS  # noqa: E402

_GOPHER_STOPS = sorted({w for sw in _LID_STOPWORDS.values() for w in sw})

_GOPHER_STOPS_SQL = "[" + ",".join(f"'{w}'" for w in _GOPHER_STOPS) + "]"
