"""Record a baseline: repeated untraced runs plus one traced run per
workload, summarised with medians, quartile spreads and the tracing
overhead.

    python3 perfbench/baseline.py --runs 10 --out perfbench/baseline.json

Run from the repository root.  Seeds are ``first_seed .. first_seed +
runs - 1``; each run is a separate process, exactly as a driver would
start it.  The spread of a metric is (Q3 - Q1) / median over the runs,
with quartiles from ``statistics.quantiles(values, n=4)``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
    return {
        "info": json.loads(lines[-2]),
        "result": json.loads(lines[-1]),
        "wall_s": time.perf_counter() - t0,
    }


def summary(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {
        "median": med, "q1": q1, "q3": q3,
        "spread": (q3 - q1) / med if med else 0.0,
        "values": values,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description="record a perfbench baseline")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = bench["run_seconds"]
    names = args.workloads.split(",") if args.workloads else [
        w["name"] for w in bench["workloads"]
    ]
    out: dict = {"run_seconds": seconds, "workloads": {}}
    for name in names:
        runs = []
        for seed in range(args.first_seed, args.first_seed + args.runs):
            r = run_once(name, seed, seconds, 0)
            runs.append(r)
            m = {k: round(v["value"], 4) for k, v in r["result"]["metrics"].items()}
            steal = r["info"]["fingerprint"].get("cpu_steal_share")
            print(name, seed, f"wall={r['wall_s']:.1f}", f"steal={steal}", r["result"]["correct"], m,
                  file=sys.stderr, flush=True)
        traced = run_once(name, args.first_seed, seconds, 1)
        metrics = {
            k: summary([r["result"]["metrics"][k]["value"] for r in runs])
            for k in runs[0]["result"]["metrics"]
        }
        layer = {k: v["value"] for k, v in traced["result"]["metrics"].items()}
        untraced_run_s = metrics["run_s"]["median"]
        out["workloads"][name] = {
            "correct": all(r["result"]["correct"] for r in runs + [traced]),
            "attempted": sum(r["result"]["attempted"] for r in runs),
            "failed": sum(r["result"]["failed"] for r in runs),
            "end_to_end": metrics,
            "wall_s": summary([r["wall_s"] for r in runs]),
            "ops_s": {str(r["info"]["seed"]): r["info"]["ops_s"] for r in runs},
            "memory_mb": {str(r["info"]["seed"]): r["info"]["memory_mb"] for r in runs},
            "cpu_steal_share": {
                str(r["info"]["seed"]): r["info"]["fingerprint"].get("cpu_steal_share")
                for r in runs
            },
            "per_layer_traced_seed": args.first_seed,
            "per_layer": layer,
            "tracing_overhead": {
                "run_s_untraced_median": untraced_run_s,
                "run_s_traced": layer["trace.run_s"],
                "ratio": layer["trace.run_s"] / untraced_run_s - 1.0,
            },
        }
        out["host"] = traced["info"]["fingerprint"]
        with open(args.out, "w") as fh:
            json.dump(out, fh, indent=1, sort_keys=True)
            fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
