"""Spans recorded by the benchmark, and Spark's own intervals and
metrics read back from the local UI REST API.

Spans are kept in memory and written once, when the run ends.  Times
are wall-clock seconds since the epoch so that the benchmark's spans
and Spark's stage times (epoch milliseconds in the REST API) share one
axis.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import re
import statistics
import time
import urllib.request
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Nested spans for one run; ``enabled=False`` records nothing."""

    def __init__(self, run_id: str, enabled: bool = True) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        s = Span(len(self.spans), name, time.time(), 0.0,
                 self._stack[-1] if self._stack else None, self.run_id, attrs)
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.time()

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> Span:
        s = Span(len(self.spans), name, start, end, parent, self.run_id, attrs)
        self.spans.append(s)
        return s

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def innermost(self, start: float, end: float, among: list[Span]) -> Span | None:
        """The shortest span of ``among`` that contains [start, end]."""
        inside = [s for s in among if s.start <= start and end <= s.end]
        return min(inside, key=lambda s: s.end - s.start, default=None)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh, indent=0)
            fh.write("\n")


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


# --- Spark REST -------------------------------------------------------------

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def metric_value(text: str) -> float:
    """A SQL metric as the REST API prints it ("1,043", "2.1 MiB",
    "total (min, med, max …)\\n738.4 KiB (…)") → bytes, seconds or a
    count."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = re.match(r"\s*([\d,]+(?:\.\d+)?)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    num, unit = float(m.group(1).replace(",", "")), m.group(2)
    return num * _SIZE.get(unit, _TIME.get(unit, 1.0))


def epoch(ts: str | None) -> float | None:
    """'2026-10-17T03:00:15.298GMT' → epoch seconds."""
    if not ts:
        return None
    t = dt.datetime.strptime(ts.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return t.replace(tzinfo=dt.timezone.utc).timestamp()


def _exchange_keys(plan: str) -> list[str]:
    """Partitioning of each shuffle Exchange in the final plan, in
    the same root-first order as the REST node ids."""
    final = plan.split("== Final Plan ==", 1)[-1].split("== Initial Plan ==", 1)[0]
    ids = re.findall(r"[+:-] Exchange \((\d+)\)", final)
    keys = []
    for i in ids:
        block = re.search(r"\(%s\) Exchange\n(?:.*\n)*?Arguments: ([^\n]*)" % i, plan)
        args = block.group(1) if block else ""
        cols = re.match(r"hashpartitioning\(([^)]*)\)", args)
        keys.append(",".join(
            re.sub(r"#\d+", "", c).strip() for c in cols.group(1).split(",")[:-1]
        ) if cols else args.split(",", 1)[0])
    return keys


class SparkRest:
    """Reads one application's stages, jobs and SQL executions from the
    driver's UI REST API on localhost."""

    def __init__(self, ui_url: str, app_id: str) -> None:
        self.base = f"{ui_url}/api/v1/applications/{app_id}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def settle(self, timeout_s: float = 10.0) -> None:
        """Wait until the status store has caught up with the jobs that
        already returned to the driver."""
        deadline, last = time.time() + timeout_s, None
        while time.time() < deadline:
            jobs = self.get("/jobs")
            now = (len(jobs), sum(j["status"] == "RUNNING" for j in jobs))
            if now == last and now[1] == 0:
                return
            last = now
            time.sleep(0.25)

    def stages(self) -> list[dict]:
        out = []
        for s in self.get("/stages"):
            if s["status"] != "COMPLETE":
                continue
            tasks = self.get(f"/stages/{s['stageId']}/{s['attemptId']}/taskList?length=100000")
            run = [t["taskMetrics"]["executorRunTime"] for t in tasks if "taskMetrics" in t]
            s["schedulerDelayMs"] = sum(t.get("schedulerDelay", 0) for t in tasks)
            s["skew"] = (
                max(run) / statistics.median(run)
                if len(run) >= 2 and statistics.median(run) > 0 else 1.0
            )
            s["start"] = epoch(s.get("submissionTime"))
            s["end"] = epoch(s.get("completionTime"))
            out.append(s)
        return out

    def jobs(self) -> list[dict]:
        out = []
        for j in self.get("/jobs"):
            j["start"], j["end"] = epoch(j.get("submissionTime")), epoch(j.get("completionTime"))
            if j["start"] and j["end"]:
                out.append(j)
        return out

    def sql(self) -> list[dict]:
        out = []
        for q in self.get("/sql?details=true&planDescription=true&length=100000"):
            q["start"] = epoch(q.get("submissionTime"))
            if not q["start"] or q.get("duration") is None:
                continue
            q["end"] = q["start"] + q["duration"] / 1000.0
            exchanges = sorted(
                (n for n in q["nodes"] if n["nodeName"] == "Exchange"),
                key=lambda n: n["nodeId"],
            )
            keys = _exchange_keys(q.get("planDescription", ""))
            q["exchanges"] = [
                {"keys": k, "bytes": _metric(n, "shuffle bytes written")}
                for n, k in zip(exchanges, keys)
            ] if len(keys) == len(exchanges) else []
            q["python_sent"] = sum(_metric(n, "data sent to Python workers") for n in q["nodes"])
            q["python_returned"] = sum(
                _metric(n, "data returned from Python workers") for n in q["nodes"]
            )
            out.append(q)
        return out


def _metric(node: dict, name: str) -> float:
    for m in node.get("metrics", []):
        if m["name"] == name:
            return metric_value(m["value"])
    return 0.0
