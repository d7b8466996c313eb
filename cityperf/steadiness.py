#!/usr/bin/env python3
"""Run the benchmark on several seeds per workload and report each
end-to-end metric's spread: (Q3 - Q1) / median over the runs, quartiles as
statistics.quantiles(values, n=4) gives them, next to the metric's bound
from BENCHMARK.json.

    python3 cityperf/steadiness.py --seeds 1-10 --out cityperf/results/set1.json

Runs one benchmark process at a time from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> float:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else 0.0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default="")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = args.workloads.split(",") if args.workloads else [
        w["name"] for w in bench["workloads"]]
    runs = []
    for w in workloads:
        for s in seeds(args.seeds):
            t0 = time.time()
            p = subprocess.run(
                bench["command"] + ["--workload", w, "--seed", str(s), "--seconds",
                                    str(bench["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True, timeout=900)
            lines = p.stdout.strip().splitlines()
            rec = {"workload": w, "seed": s, "exit": p.returncode,
                   "run_s": round(time.time() - t0, 1)}
            if len(lines) >= 2:
                rec["detail"] = json.loads(lines[-2])["detail"]
                rec["result"] = json.loads(lines[-1])
            else:
                rec["stderr_tail"] = p.stderr[-2000:]
            runs.append(rec)
            print(json.dumps({k: rec[k] for k in ("workload", "seed", "exit", "run_s")}),
                  flush=True)
    summary = {}
    for w in workloads:
        done = [r for r in runs if r["workload"] == w and "result" in r]
        summary[w] = {
            "runs": len(done),
            "all_correct": all(r["result"]["correct"] for r in done),
            "metrics": {},
        }
        for m in bench["end_to_end"]:
            vals = [r["result"]["metrics"][m["name"]]["value"] for r in done]
            if len(vals) >= 2:
                summary[w]["metrics"][m["name"]] = {
                    "median": statistics.median(vals), "spread": spread(vals),
                    "bound": m["bound"]}
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump({"summary": summary, "runs": runs}, f, indent=1)
    print(json.dumps(summary, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
