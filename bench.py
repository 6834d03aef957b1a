#!/usr/bin/env python
"""Benchmark harness — one compact JSON line on stdout.

Runs the flagship extraction pipeline plus every registry query
(``extractor.queries.REGISTRY``) at ``$SPARK_GRAFT_SF_DIR`` (default:
the sf0.1 testdata directory) on ``local[$SPARK_GRAFT_CPUS]``
(default 32).

Stdout (single line, sized to survive any tail-capture buffer —
BENCH_r04.json recorded a truncated fragment of the old 135-entry
line and failed to parse):

  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {"pipeline_extract": sec}, "sf": ...,
   "docs_per_sec": ..., "pipeline_docs": ..., "cpus": ...,
   "n_queries": N, "per_query_file": "BENCH/bench_sf..._latest.json"}

The full per-query timing map is written to ``per_query_file``;
round-over-round per-query continuity diffs read that file.  Its
``pipeline_extract`` key is the flagship run over the replicated
pages table; the same record's ``pipeline_extract_replicates`` field
names the registry entry (``extract_pipeline``) that run scales up,
which is also timed under its own name at ``$SPARK_GRAFT_SF_DIR``.

Every query is forced through the noop sink (full materialization of
every column — count() would let Catalyst prune the work).

Env knobs:
  SPARK_GRAFT_SF_DIR   input scale dir
  SPARK_GRAFT_CPUS     cores for local[N] (default 32)
  BENCH_REPLICATE      pages-table replication factor for the
                       pipeline throughput measurement (default 4)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

def replicated_pages(spark, sf_dir: str, factor: int, text_mult: int | None = None):
    """Deterministically replicate the documents table (offset ids) and
    expand each text ``text_mult``× so bench documents have
    Common-Crawl-like sizes (~10 KB) — with the driver's ~300-char
    synthetic texts the job is per-task-overhead-bound and no
    parallelism measurement is meaningful."""
    if text_mult is None:
        text_mult = int(os.environ.get("BENCH_TEXT_MULT", "20"))
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    reps = spark.range(max(factor, 1)).select(F.col("id").alias("rep"))
    wide = docs.crossJoin(reps).select(
        (F.col("doc_id") + F.col("rep") * 10_000_000).alias("doc_id"),
        F.array_join(F.array_repeat(F.col("text"), text_mult), " ").alias("text"),
        "lang",
    )
    from extractor.testgen import pages_from_docs

    return pages_from_docs(
        wide.repartition(int(spark.conf.get("spark.sql.shuffle.partitions")))
    )


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    replicate = int(os.environ.get("BENCH_REPLICATE", "4"))

    from extractor.config import ExtractConfig
    from extractor.pipeline import run_extraction
    from extractor.queries import REGISTRY
    from extractor.session import build_session
    from extractor.testgen import TEST_MAX_BYTES

    spark = build_session(
        app_name="extractor-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
    )
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}

    def timed(df_fn) -> float:
        """Steady-state wall time: one warm-up pass (Python-worker
        pool, codegen, shuffle services), then the better of 2 timed
        passes — a 100 TB job runs warm for hours; cold-start constants
        are not the quantity of interest."""
        force(df_fn())
        runs = []
        for _ in range(2):
            t0 = time.perf_counter()
            force(df_fn())
            runs.append(time.perf_counter() - t0)
        return round(min(runs), 3)

    # Flagship: full extraction pipeline throughput (docs/sec).
    pages = replicated_pages(spark, sf_dir, replicate).cache()
    n_docs = pages.count()  # materialize input outside the timed span
    cfg = ExtractConfig(max_bytes=TEST_MAX_BYTES)
    pipeline_sec = timed(lambda: run_extraction(spark, pages, cfg))
    timings["pipeline_extract"] = pipeline_sec
    pages.unpersist()

    for name, qd in REGISTRY.items():
        timings[name] = timed(lambda: qd.spark(spark, sf_dir))

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    full = {
        "metric": "total wall sec, extraction pipeline + registry operators",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "pipeline_extract_replicates": "extract_pipeline",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "pipeline_docs": n_docs,
        "docs_per_sec": round(n_docs / pipeline_sec, 2),
        "cpus": cpus,
    }
    # The per-query map (130+ entries) makes the full JSON line larger
    # than the driver's stdout tail buffer — BENCH_r04.json recorded
    # only a truncated fragment ("parsed": null).  Contract fix: the
    # full record goes to a file under BENCH/ (per-query continuity
    # diffs read that file); stdout carries ONLY a compact totals
    # JSON, small enough to survive any tail buffer and parse as the
    # last stdout line, pointing at the full file.
    bench_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH")
    os.makedirs(bench_dir, exist_ok=True)
    per_query_file = os.path.join(
        bench_dir, f"bench_sf{sf}_cpus{cpus}_latest.json"
    )
    with open(per_query_file, "w") as fh:
        json.dump(full, fh, indent=1)
        fh.write("\n")
    compact = {
        "metric": full["metric"],
        "value": total,
        "unit": "sec",
        "queries": {"pipeline_extract": pipeline_sec},
        "sf": full["sf"],
        "pipeline_docs": n_docs,
        "docs_per_sec": full["docs_per_sec"],
        "cpus": cpus,
        "n_queries": len(timings),
        "per_query_file": per_query_file,
    }
    sys.stdout.flush()
    print(json.dumps(compact))
    sys.stdout.flush()
    spark.stop()


if __name__ == "__main__":
    main()
