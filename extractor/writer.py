"""Snapshot-committed sink + lineage + resume (north_rule requirements).

On a production cluster this is ``df.writeTo("db.pages_extracted").
append()`` against an Iceberg catalog, and resume reads the last
committed snapshot.  The sandbox has no catalog service, so the same
semantics are emulated with the standard atomic-commit-by-manifest
pattern (SURVEY.md §7 "Resumability without Iceberg"):

    out_dir/
      snapshots/<run_id>/   parquet data files (written first)
      lineage/<run_id>/     per-partition lineage rows
      _committed/<run_id>.json   manifest — written LAST; a snapshot
                                 exists iff its manifest exists

A crashed run leaves an orphan ``snapshots/`` dir that no manifest
references — invisible to readers, exactly like an uncommitted
Iceberg snapshot.  All code paths go through this module, so swapping
in a real catalog changes nothing upstream.

Resume is a broadcast anti-join of the input against committed urls:
the committed-url side is a column-pruned scan (url only) and is tiny
relative to the input payload bytes, so at 100 TB the anti-join
broadcasts (or AQE picks SMJ if the committed set is huge — both
correct; the payload side is never shuffled twice).
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def new_run_id() -> str:
    return uuid.uuid4().hex[:12]


WRITER_BACKENDS = ("manifest", "iceberg")


def _iceberg_catalog_names(spark: SparkSession) -> list[str]:
    """Catalogs registered via ``spark.sql.catalog.<name>`` conf keys
    (the way an Iceberg catalog is attached to a session).  ``SET``
    sees both builder-time and runtime-set confs."""
    names = set()
    for r in spark.sql("SET").collect():
        parts = r["key"].split(".")
        if r["key"].startswith("spark.sql.catalog.") and len(parts) == 4:
            names.add(parts[3])
    return sorted(names)


def _write_snapshot_iceberg(
    df: DataFrame,
    table: str,
    run_id: str,
    partition_by: list[str] | None,
    key_col: str = "url",
) -> str:
    """The real-catalog branch of :func:`write_snapshot`: one
    ``writeTo(table).append()`` — the append IS the snapshot commit,
    and Iceberg's own metadata supplies what the manifest emulation
    hand-rolls (atomic visibility, time travel via ``VERSION AS OF``,
    compaction via ``rewrite_data_files``).  Everything upstream — the
    partition_id/lineage_id columns, the lineage aggregate — is
    byte-identical to the manifest branch, which is the claim this
    branch exists to prove.

    Fails loudly (RuntimeError) when the session has no Iceberg
    catalog configured: silently falling back to the emulation would
    hide a misconfigured production deployment."""
    spark = df.sparkSession
    catalogs = _iceberg_catalog_names(spark)
    if not catalogs:
        raise RuntimeError(
            "writer backend 'iceberg' requires an Iceberg catalog "
            "(spark.sql.catalog.<name> = org.apache.iceberg.spark."
            "SparkCatalog + the iceberg-spark-runtime jar); none is "
            "configured on this session. Use backend='manifest' for "
            "the catalog-free emulation."
        )
    # Same partition_id/lineage_id derivation as the manifest branch —
    # key_col threads through so non-url tables (e.g. the incremental
    # band index, key_col='id') append too, and no extra columns are
    # added, keeping the two branches' output schemas identical.  The
    # run_id is not a data column in either branch: the manifest branch
    # records it in the manifest/lineage files, and here Iceberg's own
    # snapshot metadata carries the commit identity.
    with_pid = df.withColumn("partition_id", F.spark_partition_id()).withColumn(
        "lineage_id",
        F.md5(F.concat(F.col(key_col).cast("string"), F.lit(":" + run_id))),
    )
    writer = with_pid.writeTo(table)
    if partition_by:
        writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
    try:
        writer.append()
    except Exception:
        # first write: table does not exist yet.  Only fall through to
        # create() in that case — a failed append against an EXISTING
        # table must surface, not be masked by a doomed create.
        if spark.catalog.tableExists(table):
            raise
        writer.create()
    return run_id


def _committed_manifests(out_dir: str, include_replaced: bool = False) -> list[dict]:
    cdir = os.path.join(out_dir, "_committed")
    if not os.path.isdir(cdir):
        return []
    out = []
    for name in os.listdir(cdir):
        if name.endswith(".json"):
            with open(os.path.join(cdir, name)) as fh:
                out.append(json.load(fh))
    # commit order = the seq stamped at commit time; run_id breaks
    # ties deterministically for manifests written before seq existed
    # (they all carry the default 0 — raw listdir order would make
    # as-of prefixes nondeterministic).  Single-writer assumption: seq
    # is a read-modify-write; concurrent committers need the real
    # catalog (Iceberg) this module stands in for.
    out.sort(key=lambda m: (m.get("seq", 0), m["run_id"]))
    return out if include_replaced else _live(out)


def _live(manifests: list[dict]) -> list[dict]:
    """The live set of a manifest list: a compaction manifest lists
    the run_ids it replaces, and those drop out.  Replaced snapshots
    stay on disk (so as-of time travel still reaches them) but not in
    the live view."""
    replaced = {r for m in manifests for r in m.get("replaces", [])}
    return [m for m in manifests if m["run_id"] not in replaced]


def _next_seq(out_dir: str) -> int:
    """The commit-order stamp for the next manifest: one past every
    manifest committed so far, replaced ones included."""
    return max(
        (m.get("seq", 0) for m in _committed_manifests(out_dir, include_replaced=True)),
        default=0,
    ) + 1


def _is_committed(out_dir: str, run_id: str) -> bool:
    """Whether ``run_id``'s manifest exists — true for the run's whole
    life, including after compaction replaced or expiry deleted its
    data, which the live view of :func:`committed_run_ids` hides."""
    return os.path.exists(os.path.join(out_dir, "_committed", f"{run_id}.json"))


def committed_run_ids(out_dir: str) -> list[str]:
    return [m["run_id"] for m in _committed_manifests(out_dir)]


def write_snapshot(
    df: DataFrame,
    out_dir: str,
    run_id: str | None = None,
    partition_by: list[str] | None = None,
    backend: str = "manifest",
    iceberg_table: str | None = None,
    key_col: str = "url",
) -> str:
    """Write one snapshot atomically; returns the run_id.

    Adds a ``partition_id`` column (`spark_partition_id`) so lineage
    is derivable from the data itself, writes data, derives+writes the
    per-partition lineage table, then commits the manifest as the
    last, atomic step.

    ``partition_by`` hive-partitions the snapshot's data files (e.g.
    ``["doc_type"]``) — at 100 TB the output table must support
    partition pruning so downstream readers of one slice (all pdf
    docs, one crawl day) scan only that slice; the Iceberg analog is
    the table's partition spec.

    ``backend`` selects the commit mechanism: ``"manifest"`` (default)
    is the catalog-free snapshot emulation below; ``"iceberg"`` issues
    ``df.writeTo(iceberg_table).append()`` against a configured
    catalog (:func:`_write_snapshot_iceberg`) and raises RuntimeError
    when no catalog is attached — the "swapping in a real catalog
    changes nothing upstream" claim, as an executable branch.

    ``key_col`` seeds the per-row lineage id (default the extracted
    table's ``url``); tables without ``success``/``latency_s`` columns
    (e.g. the incremental dedup index) get NULL ok/err/latency lineage
    instead of failing — row counts and commit atomicity are
    schema-independent.

    An explicit ``run_id`` makes the manifest write idempotent: if
    that run is already committed (live, compacted away or expired)
    nothing is written, and a ``snapshots/``/``lineage/`` directory a
    crash left before the manifest rename is replaced, since no
    manifest references it.
    """
    if backend not in WRITER_BACKENDS:
        raise ValueError(
            f"unknown writer backend {backend!r} (supported: {WRITER_BACKENDS})"
        )
    explicit = run_id is not None
    run_id = run_id or new_run_id()
    if backend == "iceberg":
        if not iceberg_table:
            raise ValueError("backend='iceberg' requires iceberg_table")
        return _write_snapshot_iceberg(
            df, iceberg_table, run_id, partition_by, key_col=key_col
        )
    if explicit and _is_committed(out_dir, run_id):
        return run_id
    mode = "overwrite" if explicit else "errorifexists"
    spark = df.sparkSession
    data_path = os.path.join(out_dir, "snapshots", run_id)
    lineage_path = os.path.join(out_dir, "lineage", run_id)

    with_pid = df.withColumn("partition_id", F.spark_partition_id()).withColumn(
        # O1: deterministic per-row lineage id (reference's uuid4
        # correlation id, middleware.py:70-75, made reproducible:
        # hash of key + snapshot id)
        "lineage_id",
        F.md5(F.concat(F.col(key_col).cast("string"), F.lit(":" + run_id))),
    )
    writer = with_pid.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(data_path)

    # Lineage from the committed bytes (one cheap column-pruned scan),
    # never from a second execution of the pipeline.
    written = spark.read.parquet(data_path)
    has_success = "success" in written.columns
    has_latency = "latency_s" in written.columns
    lineage = (
        written.groupBy("partition_id")
        .agg(
            F.count(F.lit(1)).alias("row_count"),
            (
                F.count(F.when(F.col("success"), 1)) if has_success
                else F.lit(None).cast("long")
            ).alias("ok_count"),
            (
                F.count(F.when(~F.col("success"), 1)) if has_success
                else F.lit(None).cast("long")
            ).alias("err_count"),
            (
                F.round(F.sum("latency_s"), 3) if has_latency
                else F.lit(None).cast("double")
            ).alias("latency_s"),
        )
        .select(
            F.lit(run_id).alias("run_id"),
            "partition_id",
            "row_count",
            "ok_count",
            "err_count",
            "latency_s",
            F.current_timestamp().alias("committed_at"),
        )
    )
    lineage.write.mode(mode).parquet(lineage_path)

    cdir = os.path.join(out_dir, "_committed")
    os.makedirs(cdir, exist_ok=True)
    manifest = {
        "run_id": run_id, "seq": _next_seq(out_dir), "data": data_path,
        "lineage": lineage_path,
    }
    _commit_manifest(cdir, run_id, manifest)
    return run_id


def _commit_manifest(cdir: str, run_id: str, manifest: dict) -> None:
    """Durably publish a manifest: write temp → fsync file → rename →
    fsync directory.  Without the fsyncs, a crash after the rename can
    surface a zero-length manifest that every reader then chokes on —
    the opposite of the commit atomicity this layout promises."""
    tmp = os.path.join(cdir, f".{run_id}.tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.rename(tmp, os.path.join(cdir, f"{run_id}.json"))  # the commit point
    dfd = os.open(cdir, os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)


def read_extracted(
    spark: SparkSession, out_dir: str, as_of: str | None = None
) -> DataFrame:
    """Union of all committed snapshots (uncommitted dirs invisible).

    ``as_of=<run_id>`` is snapshot time travel (Iceberg
    ``VERSION AS OF`` analog): read only snapshots committed up to and
    including that run, in manifest commit order (compaction manifests
    after that point are ignored, so pre-compaction history stays
    reachable)."""
    if as_of is None:
        manifests = _committed_manifests(out_dir)
    else:
        # Prefix of commit history up to as_of, with the replace-filter
        # applied WITHIN that prefix (a later compaction must not hide
        # the snapshots that were live at as_of time; an earlier one
        # must still hide what it replaced).
        full = _committed_manifests(out_dir, include_replaced=True)
        ids = [m["run_id"] for m in full]
        if as_of not in ids:
            raise FileNotFoundError(f"no committed snapshot {as_of} under {out_dir}")
        manifests = _live(full[: ids.index(as_of) + 1])
    if not manifests:
        raise FileNotFoundError(f"no committed snapshots under {out_dir}")
    gone = [m["run_id"] for m in manifests if m.get("expired")]
    if gone:
        # Loud failure beats silently answering from the wrong data:
        # an as-of read whose live set includes an expired snapshot
        # cannot be served (its files are deleted).
        raise FileNotFoundError(
            f"snapshot(s) {gone} under {out_dir} were expired by "
            "expire_snapshots; this as-of point is no longer reachable"
        )
    return spark.read.parquet(*[m["data"] for m in manifests])


def read_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    manifests = _committed_manifests(out_dir)
    if not manifests:
        raise FileNotFoundError(f"no committed snapshots under {out_dir}")
    return spark.read.parquet(*[m["lineage"] for m in manifests])


def compact_snapshots(
    spark: SparkSession,
    out_dir: str,
    target_partitions: int | None = None,
    partition_by: list[str] | None = None,
    dedupe_on: list[str] | None = None,
) -> str | None:
    """Rewrite all live snapshots into one (Iceberg
    ``rewrite_data_files`` analog) — the periodic maintenance job a
    continuously-appended table needs: streaming micro-batches and
    incremental resume runs each commit a small snapshot, and a reader
    of N snapshots pays N file listings plus small-file scan overhead.

    Writes the combined data as a new snapshot whose manifest carries
    ``replaces: [old run_ids]``; the manifest rename is the single
    atomic commit point, after which readers see one snapshot.
    Replaced snapshots stay on disk and remain reachable via
    ``read_extracted(..., as_of=<old run>)``.  Returns the new run_id,
    or None if there is nothing to compact (< 2 live snapshots).

    ``dedupe_on``: drop rows duplicated on these key columns while
    rewriting (one shuffle on the keys).  This is the repair path for
    at-least-once appenders — a crash between a snapshot commit and
    the caller persisting its results means the re-run appends the
    same rows again (e.g. the incremental LSH band index, whose rows
    are fully identical per (id, band_idx)); compaction with
    ``dedupe_on`` restores exactly-once table contents.  Only safe
    when rows sharing the keys are interchangeable — the kept row is
    arbitrary among them.
    """
    live = _committed_manifests(out_dir)
    if len(live) < 2:
        return None
    run_id = new_run_id()
    data_path = os.path.join(out_dir, "snapshots", run_id)
    lineage_path = os.path.join(out_dir, "lineage", run_id)

    df = spark.read.parquet(*[m["data"] for m in live])
    if dedupe_on:
        df = df.dropDuplicates(dedupe_on)
    if target_partitions:
        df = df.repartition(target_partitions)
    writer = df.write.mode("errorifexists")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(data_path)

    # Compaction lineage: one row per replaced snapshot summarising
    # what was folded in.  partition_id = index of the replaced run_id
    # in sorted order — unique per row (mono-id.cast(int) overflowed
    # under ANSI past partition 0; spark_partition_id would collide
    # after the groupBy) AND attributable: manifest["replaces"] plus
    # this deterministic ordering recovers which row summarizes which
    # replaced snapshot.  The window is over #replaced-snapshots rows
    # (tiny), not data.
    from pyspark.sql import Window as _W

    old_lineage = spark.read.parquet(*[m["lineage"] for m in live])
    lineage = old_lineage.groupBy("run_id").agg(
        F.sum("row_count").alias("row_count"),
        F.sum("ok_count").alias("ok_count"),
        F.sum("err_count").alias("err_count"),
        F.round(F.sum("latency_s"), 3).alias("latency_s"),
    ).select(
        (F.row_number().over(_W.orderBy("run_id")) - 1).alias("partition_id"),
        "row_count",
        "ok_count",
        "err_count",
        "latency_s",
    ).select(
        F.lit(run_id).alias("run_id"),
        "partition_id",
        "row_count",
        "ok_count",
        "err_count",
        "latency_s",
        F.current_timestamp().alias("committed_at"),
    )
    lineage.write.mode("errorifexists").parquet(lineage_path)

    cdir = os.path.join(out_dir, "_committed")
    manifest = {
        "run_id": run_id,
        "seq": _next_seq(out_dir),
        "data": data_path,
        "lineage": lineage_path,
        "replaces": [m["run_id"] for m in live],
    }
    _commit_manifest(cdir, run_id, manifest)
    return run_id


def resume_filter(pages: DataFrame, out_dir: str) -> DataFrame:
    """Drop input rows whose url is already committed (idempotent re-run).

    ``left_anti`` join on the column-pruned committed-url set; input
    payload bytes stream through untouched.
    """
    spark = pages.sparkSession
    if not _committed_manifests(out_dir):
        return pages
    done = read_extracted(spark, out_dir).select("url")
    return pages.join(done, "url", "left_anti")


def expire_snapshots(out_dir: str, keep_last: int = 1) -> list[str]:
    """Delete REPLACED snapshots' data and lineage files (Iceberg
    ``expire_snapshots`` analog) — the retention half of table
    maintenance: :func:`compact_snapshots` keeps replaced snapshots
    on disk so as-of time travel still reaches them, which on a
    continuously-compacted table means storage grows with history,
    not with data.

    The retention unit is an AS-OF POINT, not an individual snapshot
    (an as-of read at commit P serves the whole live set at P, so
    deleting any member kills the point): the newest ``keep_last``
    replaced commit points stay fully readable, and a snapshot
    expires only when NO retained point and not the live view can
    reach it.  LIVE snapshots are never touched (they ARE the
    table).  Returns the expired run_ids (the full expired set — a
    re-run re-reports and re-sweeps leftovers idempotently).

    Crash discipline: each manifest is atomically rewritten with
    ``expired: true`` BEFORE its files are removed, and already-
    expired manifests get their leftover files re-removed on the next
    run — a crash mid-expire leaks space until then, never
    correctness.  Time travel to an expired point fails LOUDLY in
    :func:`read_extracted` rather than silently answering from the
    wrong snapshots."""
    import shutil

    cdir = os.path.join(out_dir, "_committed")
    full = _committed_manifests(out_dir, include_replaced=True)
    live_now = {m["run_id"] for m in _live(full)}
    replaced_ms = [m for m in full if m["run_id"] not in live_now]
    needed = set(live_now)
    retained = replaced_ms[-keep_last:] if keep_last > 0 else []
    for m in retained:
        idx = next(i for i, f in enumerate(full) if f is m)
        needed |= {r["run_id"] for r in _live(full[: idx + 1])}
    expired_ids = []
    for m in replaced_ms:
        if m["run_id"] in needed:
            continue
        if not m.get("expired"):
            marked = dict(m)
            marked["expired"] = True
            _commit_manifest(cdir, m["run_id"], marked)
        for path in (m.get("data"), m.get("lineage")):
            if path:
                shutil.rmtree(path, ignore_errors=True)
        expired_ids.append(m["run_id"])
    return expired_ids
