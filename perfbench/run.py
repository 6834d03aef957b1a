#!/usr/bin/env python3
"""Oracle-checked benchmark of the extraction pipeline.

    python3 perfbench/run.py --workload html_crawl --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1          # every workload

Runs on ``local[nproc]`` from the root of a checkout and prints one
line per metric (name, value, unit), then, as the last line, one JSON
object ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the per-layer ones, and the run also writes a spans file and a
per-layer metrics file under ``perfbench/out/``.  See
``perfbench/README.md`` for the workloads and what each metric means.

Everything the run writes (generated pages, sinks, Spark scratch,
temporary files) lives under ``.perfbench_work/`` in the checkout and
is deleted at exit.
"""

from __future__ import annotations

import argparse
import ctypes
import functools
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
OUT_DIR = os.path.join(HERE, "out")
sys.path.insert(0, ROOT)

SETUPS = 3           # fresh sessions per run; setup_s takes their median
MIN_PASSES = 1       # a timed window runs at least this many passes


@dataclass(frozen=True)
class Workload:
    name: str
    classes: frozenset | None  # testgen row classes drawn; None = all 20
    n_docs: int
    commit: bool               # writer path (snapshot/resume/compact) vs parquet sink


def workloads() -> dict[str, Workload]:
    from inputs import HTML_CLASSES

    return {w.name: w for w in (
        Workload("html_crawl", HTML_CLASSES, 3000, commit=False),
        Workload("mixed_commit", None, 600, commit=True),
    )}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# --- process-tree memory ----------------------------------------------------

def _parents() -> dict[int, int]:
    """Parent pid of every process, from /proc."""
    out: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                out[int(name)] = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return out


def _tree_rss_bytes(root: int) -> int:
    kids: dict[int, list[int]] = {}
    for pid, ppid in _parents().items():
        kids.setdefault(ppid, []).append(pid)
    total, todo, page = 0, [root], os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (the JVM and the Python workers), sampled from /proc every 0.25 s."""

    def __init__(self) -> None:
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            rss = _tree_rss_bytes(os.getpid())
            with self._lock:
                self._peak = max(self._peak, rss)
            self._stop.wait(0.25)

    def take_peak(self) -> int:
        """The peak since the last call, and start a new one."""
        with self._lock:
            peak, self._peak = self._peak, 0
        return peak

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


# --- helpers ----------------------------------------------------------------

def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Bench:
    """One workload at one seed: inputs, goldens, session, passes."""

    def __init__(self, wl: Workload, seed: int, work: str, tracer) -> None:
        import inputs
        import verify
        from extractor.config import ExtractConfig
        from extractor.testgen import TEST_MAX_BYTES

        self.wl, self.seed, self.work, self.tracer = wl, seed, work, tracer
        self.cfg = ExtractConfig(max_bytes=TEST_MAX_BYTES)
        self.cores = nproc()
        self.spark = None
        self.attempted = 0
        self.failed: set[str] = set()
        with tracer.span("input_generation"):
            self.records = inputs.page_records(seed, wl.n_docs, wl.classes)
            # one input file per core, so every core has a scan task
            self.table = inputs.write_pages(
                self.records, os.path.join(work, "pages"), self.cores)
        with tracer.span("goldens"):
            self.golden = verify.goldens(self.records, self.cfg)

    def open_session(self, ui: bool) -> float:
        """Build a session on a fresh context; returns the
        ``build_session`` seconds."""
        from extractor.session import build_session

        self.close()
        tmp = os.environ["TMPDIR"]
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.enabled": "true" if ui else "false",
            "spark.ui.port": "0",
        }
        with self.tracer.span("build_session", ui=ui):
            t0 = time.perf_counter()
            self.spark = build_session(
                app_name=f"perfbench-{self.wl.name}", master=f"local[{self.cores}]",
                extra_conf=conf)
            build_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        return build_s

    # one pass: the job's first action until its output is complete
    def run_pass(self) -> float:
        """Extract the input: one sink write, or on the writer path
        commit the first half of the files, resume over all of them and
        compact."""
        from extractor.pipeline import run_extraction
        from extractor.writer import compact_snapshots, resume_filter, write_snapshot

        spark, tr, files = self.spark, self.tracer, self.table.files
        if self.wl.commit:
            out_dir = os.path.join(self.work, "table")
            shutil.rmtree(out_dir, ignore_errors=True)
            t0 = time.perf_counter()
            with tr.span("pass"):
                with tr.span("plan"):
                    first = run_extraction(
                        spark, spark.read.parquet(*files[: len(files) // 2]), self.cfg)
                with tr.span("write_snapshot"):
                    write_snapshot(first, out_dir)
                with tr.span("plan"):
                    rest = run_extraction(
                        spark, resume_filter(spark.read.parquet(*files), out_dir), self.cfg)
                with tr.span("write_snapshot"):
                    write_snapshot(rest, out_dir)
                with tr.span("compact"):
                    compact_snapshots(spark, out_dir)
            return time.perf_counter() - t0
        sink = os.path.join(self.work, "sink")
        t0 = time.perf_counter()
        with tr.span("pass"):
            with tr.span("plan"):
                out = run_extraction(spark, spark.read.parquet(*files), self.cfg)
            with tr.span("sink"):
                out.write.mode("overwrite").parquet(sink)
        return time.perf_counter() - t0

    def output(self) -> tuple[list[dict], str]:
        """Rows the last pass wrote, and the directory holding the live
        data (the sink, or the snapshot left by compaction)."""
        import pyarrow.parquet as pq

        from extractor.writer import committed_run_ids, read_extracted

        if not self.wl.commit:
            sink = os.path.join(self.work, "sink")
            return pq.read_table(sink).to_pylist(), sink
        out_dir = os.path.join(self.work, "table")
        with self.tracer.span("read_extracted"):
            rows = read_extracted(self.spark, out_dir).toArrow().to_pylist()
        live = committed_run_ids(out_dir)
        if len(live) != 1:
            raise RuntimeError(f"expected one live snapshot after compaction, got {live}")
        return rows, os.path.join(out_dir, "snapshots", live[0])

    def check(self) -> tuple[list[dict], str]:
        """Verify the last pass's output against the goldens."""
        import verify

        with self.tracer.span("verify"):
            rows, live = self.output()
            self.attempted += len(self.golden)
            self.failed |= verify.failed_urls(rows, self.golden)
        return rows, live

    def setup(self, ui: bool) -> tuple[float, float]:
        """``build_session`` on a fresh context plus building the job's
        plan over the input (everything before its first action):
        (total, build) seconds."""
        from extractor.pipeline import run_extraction

        self.close()
        with self.tracer.span("setup"):
            t0 = time.perf_counter()
            build_s = self.open_session(ui)
            with self.tracer.span("plan"):
                run_extraction(self.spark, self.spark.read.parquet(*self.table.files), self.cfg)
            total = time.perf_counter() - t0
        return total, build_s

    def warmup(self) -> float:
        """The first, cold pass in the current session."""
        with self.tracer.span("warmup"):
            wall = self.run_pass()
        self.check()
        return wall

    def window(self, seconds: float) -> tuple[list[float], list[dict], str]:
        """Warm passes until ``seconds`` of pass time (at least
        MIN_PASSES); every pass is verified, outside its timing."""
        walls: list[float] = []
        with self.tracer.span("window"):
            while sum(walls) < seconds or len(walls) < MIN_PASSES:
                walls.append(self.run_pass())
                rows, live = self.check()
        return walls, rows, live

    def close(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


# --- the two run kinds ------------------------------------------------------

def end_to_end(b: Bench, seconds: float) -> dict[str, tuple[float, str]]:
    sessions = [b.setup(ui=False)[0] for _ in range(SETUPS)]
    warmup = b.warmup()
    walls, _rows, live = b.window(seconds)
    return {
        "docs_per_s": (median([b.wl.n_docs / w for w in walls]), "docs/s"),
        "setup_s": (median(sessions) + warmup, "s"),
        "setup.session_s": (median(sessions), "s"),
        "setup.warmup_pass_s": (warmup, "s"),
        "stored_bytes_per_doc": (dir_stats(live)[0] / b.wl.n_docs, "B/doc"),
    }


def per_layer(b: Bench, seconds: float) -> dict[str, tuple[float, str]]:
    import kernels
    from pyspark.sql import functions as F
    from tracing import SparkRest, covered

    from extractor.pdf_extract import split_pdf_pages
    from extractor.pipeline import extract_html, extract_image, extract_pdf, route

    tr = b.tracer
    m: dict[str, tuple[float, str]] = {}
    _session, first_build = b.setup(ui=False)
    m["setup.warmup_pass_s"] = (b.warmup(), "s")
    untraced, _rows, _live = b.window(seconds / 2)
    _session, build = b.setup(ui=True)
    b.warmup()
    m["session.first_build_s"] = (first_build, "s")
    m["session.build_s"] = (build, "s")

    n_spans = len(tr.spans)
    traced, rows, _live = b.window(seconds / 2)
    passes = [s for s in tr.named("pass") if s.id >= n_spans]

    def per_pass(name: str) -> float:
        return median([sum(c.end - c.start for c in tr.children(p) if c.name == name)
                       for p in passes])

    # The writer layer reads 0 on a sink workload: no such spans, no table.
    m["pipeline.plan_s"] = (per_pass("plan"), "s")
    m["writer.write_snapshot_s"] = (per_pass("write_snapshot"), "s")
    m["writer.compact_s"] = (per_pass("compact"), "s")
    reads = [s for s in tr.named("read_extracted") if s.id >= n_spans]
    m["writer.read_extracted_s"] = (median([s.end - s.start for s in reads]), "s")
    size, files = dir_stats(os.path.join(b.work, "table"))
    m["writer.bytes_written_mb"] = (size / 1e6, "MB")
    m["writer.files_written"] = (float(files), "count")

    # A pdf row rounds its pages' sum to 0.01 s, so sum the pages' own timers.
    lat: dict[str, float] = {}
    for r in rows:
        row_s = (sum(p["latency_s"] or 0.0 for p in r["pages"]) if r["pages"]
                 else r["latency_s"] or 0.0)
        lat[r["doc_type"]] = lat.get(r["doc_type"], 0.0) + row_s
    for t in ("html", "pdf", "image"):
        m[f"pipeline.inrow_{t}_core_s"] = (lat.get(t, 0.0), "s")

    # Each public stage function forced on its own through the noop sink.
    spark, cfg = b.spark, b.cfg
    pages = spark.read.parquet(*b.table.files)
    ok = F.col("html").isNotNull() & (F.length("html") > 0) & (F.length("html") <= cfg.max_bytes)
    valid = route(pages).filter(ok)
    stages = {
        "route": lambda: route(pages),
        "extract_html": lambda: extract_html(valid.filter(F.col("doc_type") == "html"), cfg),
        "extract_pdf": lambda: extract_pdf(valid.filter(F.col("doc_type") == "pdf"), cfg),
        "extract_image": lambda: extract_image(valid.filter(F.col("doc_type") == "image"), cfg),
    }
    with tr.span("forced_stages"):
        for name, make in stages.items():
            with tr.span("force." + name) as sp:
                make().write.format("noop").mode("overwrite").save()
            m[f"pipeline.{name}_s"] = (sp.end - sp.start, "s")

    # Single-core kernel rates on the workload's own pages, topped up
    # from the full mix (same seed) where the workload has none.
    import inputs

    def payloads(records: list[dict], kind: str) -> list[bytes]:
        """Payloads of ``kind`` that pass the pipeline's validation."""
        return [r["html"] for r in records if r["url"].endswith("." + kind)
                and 0 < len(r["html"] or b"") <= cfg.max_bytes]

    def sample(kind: str, k: int) -> list[bytes]:
        own = payloads(b.records, kind)[:k]
        if len(own) < k:
            own += payloads(inputs.page_records(b.seed, 20 * k, None), kind)[: k - len(own)]
        return own

    with tr.span("kernels"):
        k = kernels.time_kernels(sample("html", 200), sample("pdf", 40))
    m["html_extract.ms_per_doc"] = (k["html_extract.ms_per_doc"], "ms")
    m["html_extract.mb_per_s"] = (k["html_extract.mb_per_s"], "MB/s")
    m["cleaning.ms_per_doc"] = (k["cleaning.ms_per_doc"], "ms")
    m["pdf_extract.ms_per_doc"] = (k["pdf_extract.ms_per_doc"], "ms")
    m["engine.ms_per_page"] = (k["engine.ms_per_page"], "ms")
    m["cleaning.ms_per_page"] = (k["cleaning.ms_per_page"], "ms")

    # Kernel core-seconds one pass needs, against the cores × wall it took.
    html = [g for g in b.golden.values() if g["doc_type"] == "html" and g["success"]]
    pdfs = payloads(b.records, "pdf")
    n_pages = sum(len(split_pdf_pages(p)) for p in pdfs)
    core_ms = (len(html) * (k["html_extract.ms_per_doc"] + k["cleaning.ms_per_doc"])
               + len(pdfs) * k["pdf_extract.ms_per_doc"]
               + n_pages * (k["engine.ms_per_page"] + k["cleaning.ms_per_page"]))
    m["pipeline.parallel_efficiency"] = (
        core_ms / 1e3 / (b.cores * median(untraced)), "ratio")

    # Spark's own view of the traced passes.
    rest = SparkRest(spark.sparkContext.uiWebUrl, spark.sparkContext.applicationId)
    with tr.span("spark_rest"):
        rest.settle()
        st, jobs, sql = rest.stages(), rest.jobs(), rest.sql()
    containers = [s for s in tr.spans if s.end > s.start]
    sql_span, job_span = {}, {}
    for q in sql:
        parent = tr.innermost(q["start"], q["end"], containers)
        sql_span[q["id"]] = tr.add(
            "spark.sql", q["start"], q["end"], parent.id if parent else None,
            execution=q["id"], description=q["description"].replace(ROOT + os.sep, ""))
    for j in jobs:
        q = next((q for q in sql if j["jobId"] in q.get("successJobIds", [])), None)
        parent = sql_span.get(q["id"]) if q else tr.innermost(j["start"], j["end"], containers)
        job_span[j["jobId"]] = tr.add(
            "spark.job", j["start"], j["end"], parent.id if parent else None, job=j["jobId"])
        for sid in j["stageIds"]:
            for s in st:
                if s["stageId"] == sid and s["start"] and s["end"]:
                    tr.add("spark.stage", s["start"], s["end"], job_span[j["jobId"]].id,
                           stage=sid, stage_name=s["name"].replace(ROOT + os.sep, ""),
                           tasks=s["numCompleteTasks"],
                           run_ms=s["executorRunTime"], skew=round(s["skew"], 3))

    def in_pass(p, x):
        return x["start"] is not None and p.start <= x["start"] <= p.end

    def stage_sum(key: str, scale: float) -> float:
        return median([sum(s[key] for s in st if in_pass(p, s)) * scale for p in passes])

    m["spark.executor_run_core_s"] = (stage_sum("executorRunTime", 1e-3), "s")
    m["spark.executor_cpu_core_s"] = (stage_sum("executorCpuTime", 1e-9), "s")
    m["spark.scheduler_delay_s"] = (stage_sum("schedulerDelayMs", 1e-3), "s")
    m["spark.tasks"] = (stage_sum("numCompleteTasks", 1.0), "count")
    m["spark.failed_tasks"] = (stage_sum("numFailedTasks", 1.0), "count")
    m["spark.shuffle_write_mb"] = (stage_sum("shuffleWriteBytes", 1e-6), "MB")
    m["spark.shuffle_read_mb"] = (stage_sum("shuffleReadBytes", 1e-6), "MB")
    m["spark.shuffle_fetch_wait_s"] = (stage_sum("shuffleFetchWaitTime", 1e-3), "s")
    m["spark.jvm_gc_s"] = (stage_sum("jvmGcTime", 1e-3), "s")
    m["spark.spill_mb"] = (stage_sum("diskBytesSpilled", 1e-6), "MB")
    m["spark.task_skew_max"] = (median(
        [max([s["skew"] for s in st if in_pass(p, s)], default=1.0) for p in passes]), "ratio")

    def sql_sum(fn) -> float:
        return median([sum(fn(q) for q in sql if in_pass(p, q)) / 1e6 for p in passes])

    def exchange_mb(keys: str):
        return lambda q: sum(e["bytes"] for e in q["exchanges"] if e["keys"] == keys)

    m["spark.salting_shuffle_mb"] = (sql_sum(exchange_mb("url,page_number")), "MB")
    m["spark.reassembly_shuffle_mb"] = (sql_sum(exchange_mb("url,warc_ts")), "MB")
    m["spark.python_sent_mb"] = (sql_sum(lambda q: q["python_sent"]), "MB")
    m["spark.python_returned_mb"] = (sql_sum(lambda q: q["python_returned"]), "MB")

    # Share of each traced pass that no Spark stage and no driver-side
    # plan span accounts for.
    stage_spans = tr.named("spark.stage")
    shares = []
    for p in passes:
        leaves = [(s.start, s.end) for s in stage_spans + tr.children(p)
                  if s.name in ("spark.stage", "plan")]
        shares.append(1.0 - covered(leaves, p.start, p.end) / (p.end - p.start))
    m["trace.unattributed_share"] = (median(shares), "share")
    m["trace.overhead_share"] = (median(traced) / median(untraced) - 1.0, "share")
    m["trace.passes"] = (float(len(passes)), "count")
    return m


# --- entry point ------------------------------------------------------------

def run_workload(wl: Workload, seed: int, seconds: float, trace: bool, sampler) -> dict:
    from tracing import Tracer

    run_id = f"{wl.name}-seed{seed}-{'trace' if trace else 'e2e'}-{os.getpid()}"
    work = os.path.join(WORK_ROOT, str(os.getpid()), wl.name)
    os.makedirs(work)
    tracer = Tracer(run_id, enabled=trace)
    sampler.take_peak()
    b = Bench(wl, seed, work, tracer)
    try:
        metrics = per_layer(b, seconds) if trace else end_to_end(b, seconds)
    finally:
        b.close()
    metrics["peak_rss_mb"] = (sampler.take_peak() / 1e6, "MB")
    failed = len(b.failed)
    result = {
        "workload": wl.name,
        "seed": seed,
        "cores": b.cores,
        "attempted": b.attempted,
        "failed": failed,
        "failed_share": failed / b.attempted,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    if trace:
        os.makedirs(OUT_DIR, exist_ok=True)
        tracer.write(os.path.join(OUT_DIR, f"{wl.name}.spans.json"))
        with open(os.path.join(OUT_DIR, f"{wl.name}.layers.json"), "w") as fh:
            json.dump(result, fh, indent=1)
            fh.write("\n")
    return result


def stop_jvm() -> None:
    """End the JVM that pyspark launched, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def adopt_orphans() -> None:
    """Become the reaper of this run's orphaned descendants (Linux
    PR_SET_CHILD_SUBREAPER): a process whose parent ends before it (the
    pyspark daemon when the JVM exits, say) is re-parented here rather
    than to init, so ``reap_children`` still waits for it."""
    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)


def reap_children(grace: float = 20.0) -> None:
    """Wait until this process has no child left, alive or zombie.
    Children still running after ``grace`` seconds get SIGTERM, and
    SIGKILL every two seconds after that."""
    deadline, sig = time.monotonic() + grace, signal.SIGTERM
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:  # none left
            return
        if time.monotonic() > deadline:
            for pid, ppid in _parents().items():
                if ppid == os.getpid():
                    try:
                        os.kill(pid, sig)
                    except ProcessLookupError:
                        pass
            deadline, sig = time.monotonic() + 2.0, signal.SIGKILL
        time.sleep(0.05)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="all",
                    help="a workload name, a comma-separated list, or 'all'")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "extractor", "__init__.py")):
        print(f"perfbench: the extractor package is not under {ROOT}", file=sys.stderr)
        return 2
    adopt_orphans()
    mine = os.path.join(WORK_ROOT, str(os.getpid()))
    tmp = os.path.join(mine, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    # build_session zips the package into /tmp by default; keep it here.
    import extractor.session

    extractor.session.package_pyfiles = functools.partial(
        extractor.session.package_pyfiles, out_dir=tmp)

    table = workloads()
    names = list(table) if args.workload == "all" else args.workload.split(",")
    unknown = [n for n in names if n not in table]
    if unknown:
        print(f"perfbench: unknown workload(s) {unknown}; known: {list(table)}", file=sys.stderr)
        return 2

    results = []
    try:
        with RssSampler() as sampler:
            for n in names:
                results.append(run_workload(
                    table[n], args.seed, args.seconds, bool(args.trace), sampler))
    finally:
        stop_jvm()
        reap_children()
        shutil.rmtree(mine, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:  # another run still uses it
            pass

    for r in results:
        print(f"{r['workload']:<14} {'failed_share':<32} {r['failed_share']:.6f} share "
              f"({r['failed']} of {r['attempted']} outputs)")
        for k, v in r["metrics"].items():
            print(f"{r['workload']:<14} {k:<32} {v['value']:.6g} {v['unit']}")
    # The result line carries exactly the metrics BENCHMARK.json lists.
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        listed = [m["name"] for m in json.load(fh)["per_layer" if args.trace else "end_to_end"]]
    metrics = {}
    for r in results:
        missing = [k for k in listed if k not in r["metrics"]]
        if missing:
            raise RuntimeError(f"{r['workload']}: no value for {missing}")
        prefix = "" if len(results) == 1 else r["workload"] + "."
        metrics.update({prefix + k: r["metrics"][k] for k in listed})
    attempted = sum(r["attempted"] for r in results)
    failed = sum(r["failed"] for r in results)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
