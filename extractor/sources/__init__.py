"""Source-format readers: ingestion from crawl-native file formats
into the pages/documents tables the engine operates on."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def _scan(
    spark: SparkSession,
    path: str,
    line_sep: str | None = None,
    max_files: int | None = None,
) -> DataFrame:
    """The one block-splittable text scan every source reads through:
    a ``value: string`` row per ``line_sep``-separated chunk (newline
    when None) of the files under ``path``.  With ``max_files`` the
    same scan is a file-source stream taking that many new files per
    micro-batch (checkpointed file tracking gives exactly-once), so a
    reader's batch and stream forms share one parse.  Why a separator
    scan and not a per-file parse: see ``sources.warc``."""
    if max_files is None:
        reader = spark.read
    else:
        reader = spark.readStream.option("maxFilesPerTrigger", max_files)
    if line_sep is not None:
        reader = reader.option("lineSep", line_sep)
    return reader.text(path)
