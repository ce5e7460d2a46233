#!/usr/bin/env python3
"""Record a baseline of the benchmark on this host: untraced runs of seeds
1..N, the workloads interleaved seed by seed so that each sees the same
stretch of host time, then one traced run per workload. Writes
perfbench/baseline_<nproc>c.json with every end-to-end metric's median,
quartiles, spread ((q3 - q1) / median) and sample count, the traced run's
per-layer metrics, its overhead (traced wall_s minus the untraced median
wall_s of the same set), and the host's core count and heap size.

Usage, from the root of a checkout:
    python3 perfbench/baseline.py [--seeds 10] [--workloads a,b] [--seconds 10]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402


def one(workload, seed, seconds, trace):
    t = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    if p.returncode != 0 or res is None or not res["correct"]:
        sys.stderr.write(p.stdout[-3000:] + p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} trace {trace}: failed (exit {p.returncode})")
    return res, time.time() - t


def quartiles(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3, "n": len(values),
            "spread": (q3 - q1) / statistics.median(values)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(run.WORKLOADS))
    args = ap.parse_args()
    workloads = args.workloads.split(",")
    path = os.path.join(HERE, f"baseline_{run.live_cores()}c.json")

    runs = {w: [] for w in workloads}
    walls = {w: [] for w in workloads}
    for seed in range(1, args.seeds + 1):
        for w in workloads:
            res, took = one(w, seed, args.seconds, 0)
            runs[w].append(res["metrics"])
            walls[w].append(took)
            print(f"{w} seed {seed}: {took:.0f} s "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)

    out = {"nproc": run.live_cores(), "heap": run.HEAP, "seconds": args.seconds, "workloads": {}}
    for w in workloads:
        entry = {"end_to_end": {k: dict(quartiles([r[k]["value"] for r in runs[w]]),
                                        unit=runs[w][0][k]["unit"]) for k in runs[w][0]},
                 "run_wall_s": quartiles(walls[w])}
        for k, v in entry["end_to_end"].items():
            print(f"  {w} {k}: median {v['median']:.4g} spread {v['spread']:.3f}", flush=True)
        res, took = one(w, 1, args.seconds, 1)
        entry["per_layer"] = {k: v["value"] for k, v in res["metrics"].items()}
        entry["trace_overhead_s"] = entry["per_layer"]["trace.wall_s"] - entry["end_to_end"]["wall_s"]["median"]
        entry["trace_run_wall_s"] = took
        out["workloads"][w] = entry
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
        fh.write("\n")


if __name__ == "__main__":
    main()
