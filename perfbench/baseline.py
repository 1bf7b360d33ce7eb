#!/usr/bin/env python3
"""Record a baseline: run every workload of BENCHMARK.json over several
seeds and write, per workload and end-to-end metric, the median, the
quartiles and the spread (inter-quartile distance as a share of the
median), plus every run's raw result and the host context. Each
workload then gets one traced run (seed --first-seed), recorded with
its per-layer metrics and its breakdown of operation time by layer
(where the workload's time goes).

    python3 perfbench/baseline.py --runs 10 --out perfbench/baseline.json \
        [--workloads bulk,select] [--first-seed 1]

Run from the root of a checkout; each run is one `perfbench/run.py`
invocation with the arguments BENCHMARK.json fixes.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def loadavg():
    with open("/proc/loadavg") as f:
        return f.read().split()[:3]


def run(name, seed, seconds, trace):
    t0 = time.monotonic()
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", name,
                        "--seed", str(seed), "--seconds", str(seconds),
                        "--trace", str(trace)], cwd=ROOT, capture_output=True, text=True)
    wall = time.monotonic() - t0
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if p.returncode == 0 and lines else None
    print(f"{name} seed {seed} trace {trace} exit {p.returncode} wall {wall:.1f}s "
          f"correct={result and result['correct']}", file=sys.stderr, flush=True)
    return {"seed": seed, "exit": p.returncode, "wall_s": round(wall, 1),
            "result": result}, p.stderr


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--out", required=True)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    names = [w["name"] for w in bench["workloads"]]
    if a.workloads:
        names = [n for n in names if n in a.workloads.split(",")]
    out = {"host": {"nproc": os.cpu_count(), "loadavg_start": loadavg()},
           "run_seconds": bench["run_seconds"], "workloads": {}}
    for name in names:
        runs = [run(name, a.first_seed + i, bench["run_seconds"], 0)[0] for i in range(a.runs)]
        summary = {}
        for m in bench["end_to_end"]:
            xs = [r["result"]["metrics"][m["name"]]["value"] for r in runs
                  if r["result"] and r["result"]["correct"]]
            if len(xs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(xs, n=4)
            summary[m["name"]] = {"unit": m["unit"], "median": med, "q1": q1, "q3": q3,
                                  "spread": (q3 - q1) / med, "bound": m["bound"], "n": len(xs)}
        traced, err = run(name, a.first_seed, bench["run_seconds"], 1)
        traced["breakdown"] = [json.loads(l.split("breakdown ", 1)[1]) for l in err.splitlines()
                               if l.startswith("[perfbench] breakdown ")]
        out["workloads"][name] = {"summary": summary, "runs": runs, "traced": traced}
    out["host"]["loadavg_end"] = loadavg()
    with open(a.out, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    for name, w in out["workloads"].items():
        for m, s in w["summary"].items():
            print(f"{name:8s} {m:12s} median {s['median']:.4g} spread {s['spread']:.3f} "
                  f"(bound {s['bound']})")


if __name__ == "__main__":
    main()
