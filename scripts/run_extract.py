#!/usr/bin/env python
"""spark-submit entry point for the extraction job.

Cluster usage (north_rule: spark-submit --py-files at two cluster
sizes):

    python extractor/session.py        # or: build the zip any way
    spark-submit \
        --master <cluster> \
        --py-files /tmp/extractor_pyfiles.zip \
        scripts/run_extract.py \
        --input  /data/pages            \
        --output /data/pages_extracted  \
        --resume

Local smoke run:

    python scripts/run_extract.py --input /root/testdata/sf0.001 \
        --output /tmp/extract_out --synthesize

The job: read pages → (optional) resume anti-join against committed
snapshots → route/validate → html + image + pdf extraction → snapshot-committed
write with per-partition lineage rows.  Exit code 0 iff the snapshot
manifest committed.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="pages table path (parquet dir)")
    ap.add_argument("--output", required=True, help="output table root dir")
    ap.add_argument("--resume", action="store_true",
                    help="skip urls already in a committed snapshot")
    ap.add_argument("--synthesize", action="store_true",
                    help="treat --input as a testdata sf dir and synthesize "
                         "the pages table from documents.parquet")
    ap.add_argument("--input-format", default="parquet",
                    choices=("parquet", "warc"),
                    help="pages-table parquet dir (default) or a directory "
                         "of raw WARC segments ingested via the "
                         "block-splittable response-record reader "
                         "(sources.warc.read_warc; html captures only)")
    ap.add_argument("--max-bytes", type=int, default=None)
    ap.add_argument("--output-format", default="markdown",
                    help="one of the six reference output formats "
                         "(markdown, text, table, figure, json, "
                         "structured_data)")
    ap.add_argument("--include-grounding", action="store_true",
                    help="keep grounding annotations (T9 toggle; "
                         "default strips them)")
    ap.add_argument("--partition-by", default=None,
                    help="comma-separated columns to hive-partition the "
                         "output snapshot by (e.g. doc_type)")
    ap.add_argument("--compact-after", action="store_true",
                    help="run snapshot compaction (writer.compact_snapshots) "
                         "after the write — the periodic maintenance a "
                         "continuously-appended table needs; no-op with "
                         "fewer than 2 live snapshots")
    ap.add_argument("--expire-keep-last", type=int, default=None,
                    metavar="N",
                    help="after compaction, expire replaced snapshots "
                         "(writer.expire_snapshots) keeping the newest N "
                         "as-of points readable — the retention half of "
                         "table maintenance (manifest backend only)")
    ap.add_argument("--writer-backend", default="manifest",
                    choices=("manifest", "iceberg"),
                    help="snapshot commit mechanism: the catalog-free "
                         "manifest emulation (default) or a real Iceberg "
                         "catalog via writeTo().append()")
    ap.add_argument("--iceberg-table", default=None,
                    help="catalog.db.table for --writer-backend iceberg")
    ap.add_argument("--sniff-charset", action="store_true",
                    help="re-encode payloads as clean UTF-8 before "
                         "extraction (WHATWG sniff: BOM > Content-Type "
                         "> meta prescan; operators.charset) — for "
                         "corpora carrying legacy encodings")
    ap.add_argument("--gopher-filter", action="store_true",
                    help="drop successfully-extracted html docs that fail "
                         "the Gopher quality rules (textstats.gopher_rules) "
                         "before the write; quarantine/error rows and "
                         "pdf/image docs pass through untouched")
    ap.add_argument("--strip-templates", action="store_true",
                    help="after extraction, discover each host's template "
                         "lines (dedup.host_template_lines over the "
                         "successful html rows) and strip them from every "
                         "page of that host before the write — removes "
                         "cookie banners / footers that survive the DOM "
                         "heuristics on some layouts")
    ap.add_argument("--template-frac-bp", type=int, default=6000,
                    help="line must appear on at least this fraction "
                         "(basis points) of a host's pages to count as "
                         "template (default 6000 = 60%%)")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from extractor.config import ExtractConfig
    from extractor.pipeline import run_extraction
    from extractor.session import build_session
    from extractor.writer import resume_filter, write_snapshot

    spark = build_session(app_name="extract-job")
    if args.synthesize and args.input_format != "parquet":
        raise SystemExit("--synthesize and --input-format warc are exclusive")
    if args.synthesize:
        from extractor.testgen import TEST_MAX_BYTES, pages_df

        pages = pages_df(spark, args.input)
        cfg_kwargs = {"max_bytes": args.max_bytes or TEST_MAX_BYTES}
    elif args.input_format == "warc":
        from extractor.sources.warc import read_warc, warc_to_pages

        pages = warc_to_pages(read_warc(spark, args.input))
        cfg_kwargs = {}
        if args.max_bytes:
            cfg_kwargs["max_bytes"] = args.max_bytes
    else:
        pages = spark.read.parquet(args.input)
        cfg_kwargs = {}
        if args.max_bytes:
            cfg_kwargs["max_bytes"] = args.max_bytes
    cfg = ExtractConfig(
        output_format=args.output_format,
        strip_grounding=not args.include_grounding,
        **cfg_kwargs,
    )

    if args.writer_backend == "iceberg":
        # Fail fast on a misconfigured catalog BEFORE paying for the
        # extraction — the same RuntimeError write_snapshot would raise
        # hours later at commit time.
        from extractor.writer import _iceberg_catalog_names

        if not args.iceberg_table:
            raise SystemExit("--writer-backend iceberg requires --iceberg-table")
        if args.compact_after or args.expire_keep_last is not None:
            raise SystemExit(
                "--compact-after/--expire-keep-last apply only to the "
                "manifest backend; Iceberg runs rewrite_data_files and "
                "expire_snapshots as catalog procedures, not these flags"
            )
        if not _iceberg_catalog_names(spark):
            raise SystemExit(
                "no Iceberg catalog configured on this session "
                "(spark.sql.catalog.<name>); aborting before extraction"
            )

    if args.sniff_charset:
        from extractor.operators.charset import normalize_pages_encoding

        pages = normalize_pages_encoding(pages)

    if args.resume:
        pages = resume_filter(pages, args.output)
        if pages.isEmpty():  # cheap limit-1 probe on the INPUT side
            # Everything already committed: a zero-row snapshot would
            # add a manifest + empty files per re-run for nothing.
            print("resume: no uncommitted input rows; nothing to do")
            spark.stop()
            return 0

    extracted = run_extraction(spark, pages, cfg)
    if args.gopher_filter:
        # Inline quality gate (expression-only, same scan pass): only
        # successful html rows are judged — error rows stay, they are
        # the quarantine record.
        from extractor.operators.textstats import gopher_rules

        keep = gopher_rules(F.col("text"))["keep"]
        extracted = extracted.filter(
            (F.col("doc_type") != "html") | (~F.col("success")) | keep
        )
    if args.strip_templates:
        # Post-extraction cleaner: per-host template-line discovery
        # over the successful html rows, then the strip join.  Two
        # aggregate passes over the EXTRACTED text (never raw bytes)
        # plus one url equi-join back — the markdown body is replaced,
        # every other column and every non-html/error row unchanged.
        from extractor.operators.dedup import (
            host_template_lines,
            strip_template_lines,
        )

        no_scheme = F.expr("substring(url, instr(url, '://') + 3)")
        html_ok = extracted.filter(
            (F.col("doc_type") == "html") & F.col("success")
        ).select(
            F.lower(F.substring_index(no_scheme, "/", 1)).alias("host"),
            F.col("url"),
            F.col("text"),
        )
        tpl = host_template_lines(
            html_ok, id_col="url", min_frac_bp=args.template_frac_bp
        )
        stripped = strip_template_lines(html_ok, tpl, id_col="url").select(
            F.col("id").alias("url"), F.col("text").alias("_stripped")
        )
        extracted = (
            extracted.join(stripped, "url", "left")
            .withColumn(
                "text",
                F.when(F.col("_stripped").isNotNull(), F.col("_stripped"))
                .otherwise(F.col("text")),
            )
            .drop("_stripped")
        )
    run_id = write_snapshot(
        extracted,
        args.output,
        partition_by=args.partition_by.split(",") if args.partition_by else None,
        backend=args.writer_backend,
        iceberg_table=args.iceberg_table,
    )
    if args.writer_backend == "iceberg":
        # Iceberg's own metadata carries lineage; the manifest-side
        # lineage summary below only exists for the emulation.
        print(f"appended snapshot {run_id} to {args.iceberg_table}")
        spark.stop()
        return 0
    summary = (
        spark.read.parquet(os.path.join(args.output, "lineage", run_id))
        .agg(
            F.sum("row_count").alias("rows"),
            F.sum("ok_count").alias("ok"),
            F.sum("err_count").alias("err"),
        )
        .collect()[0]
    )
    print(f"committed snapshot {run_id}: rows={summary['rows']} "
          f"ok={summary['ok']} err={summary['err']}")
    if args.compact_after:
        from extractor.writer import compact_snapshots

        folded = compact_snapshots(spark, args.output)
        print(f"compacted into {folded}" if folded else "compaction skipped "
              "(fewer than 2 live snapshots)")
    if args.expire_keep_last is not None:
        from extractor.writer import expire_snapshots

        gone = expire_snapshots(args.output, keep_last=args.expire_keep_last)
        print(f"expired {len(gone)} snapshot(s): {gone}" if gone
              else "expiry skipped (nothing outside retention)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
