#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each metric's median,
quartiles and spread against its bound in BENCHMARK.json.

    python3 perfbench/stability.py --seeds 1-10 --out perfbench/results/baseline.json

Each run is a separate ``perfbench/run.py`` process, one at a time.
The spread of a metric is the distance between the first and third
quartile (``statistics.quantiles(values, n=4)``) as a share of the
median.  With ``--traced`` one traced run per workload follows, and its
spans and per-layer files are copied next to ``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, float]:
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed}: exit {p.returncode}\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1]), time.time() - t0


def summary(values: list[float], bound: float | None) -> dict:
    med = statistics.median(values)
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    out = {"values": values, "median": med, "q1": q1, "q3": q3,
           "spread": (q3 - q1) / med if med else 0.0}
    if bound is not None:
        out["bound"] = bound
    return out


def host() -> dict:
    model = ""
    with open("/proc/cpuinfo") as fh:
        for line in fh:
            if line.startswith("model name"):
                model = line.split(":", 1)[1].strip()
                break
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    java = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr
    import pyspark

    return {"cpu": model, "nproc": len(os.sched_getaffinity(0)),
            "mem_gb": round(mem_kb / 2**20, 1), "python": platform.python_version(),
            "pyspark": pyspark.__version__, "java": java.splitlines()[0] if java else ""}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10", help="first-last, e.g. 1-10")
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--traced", action="store_true", help="add one traced run per workload")
    ap.add_argument("--out", help="write the summary here as JSON")
    args = ap.parse_args()

    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {"host": host(), "run_seconds": args.seconds, "workloads": {}}
    ok = True
    for wl in args.workloads.split(","):
        vals: dict[str, list[float]] = {}
        walls, failed, attempted = [], 0, 0
        for s in seeds(args.seeds):
            res, wall = run(wl, s, args.seconds, 0)
            walls.append(wall)
            failed += res["failed"]
            attempted += res["attempted"]
            for k, v in res["metrics"].items():
                vals.setdefault(k, []).append(v["value"])
            print(f"{wl} seed {s}: {wall:.0f} s, correct={res['correct']}, "
                  + ", ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                  flush=True)
        entry = {"seeds": args.seeds, "failed": failed, "attempted": attempted,
                 "run_wall_s": summary(walls, None),
                 "end_to_end": {k: summary(v, bounds.get(k)) for k, v in vals.items()}}
        for k, s in entry["end_to_end"].items():
            within = k == "setup_s" or s["spread"] <= s["bound"]
            ok &= within
            print(f"{wl:<14} {k:<22} median {s['median']:.4g}  spread {s['spread']:.3f}"
                  f"  bound {s['bound']}  {'ok' if within else 'OVER BOUND'}")
        if args.traced:
            res, _wall = run(wl, seeds(args.seeds)[0], args.seconds, 1)
            entry["per_layer"] = res["metrics"]
            if args.out:
                os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
                for kind in ("spans", "layers"):
                    shutil.copy(os.path.join(HERE, "out", f"{wl}.{kind}.json"),
                                os.path.join(os.path.dirname(args.out), f"{wl}.{kind}.json"))
        report["workloads"][wl] = entry
    if args.out:
        os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=1)
            fh.write("\n")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
