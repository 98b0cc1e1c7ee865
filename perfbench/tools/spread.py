#!/usr/bin/env python3
"""Run each workload over several seeds and report, per end-to-end metric,
the median and the spread (interquartile distance over the median), and
each run's wall time. Each run's stderr goes to .bench_out/logs/.

    python3 perfbench/tools/spread.py --runs 10 [--workloads startable_io,...]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    a = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    for w in a.workloads.split(","):
        values, walls = {}, []
        for seed in range(1, a.runs + 1):
            t0 = time.time()
            out = subprocess.run(spec["command"] + [
                "--workload", w, "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
            walls.append(time.time() - t0)
            logs = os.path.join(ROOT, ".bench_out", "logs")
            os.makedirs(logs, exist_ok=True)
            with open(os.path.join(logs, f"{w}-{seed}.log"), "w") as f:
                f.write(out.stderr)
            if out.returncode != 0:
                print(f"{w} seed {seed}: exit {out.returncode}\n{out.stderr[-3000:]}")
                continue
            r = json.loads(out.stdout.strip().splitlines()[-1])
            if not r["correct"] or r["failed"]:
                print(f"{w} seed {seed}: correct={r['correct']} failed={r['failed']}")
            for k, v in r["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(f"{w} seed {seed}: {walls[-1]:.1f} s " +
                  " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
        print(f"== {w}: run wall median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
        for k, vs in values.items():
            if len(vs) < 2:
                continue
            q = statistics.quantiles(vs, n=4)
            med = statistics.median(vs)
            spread = (q[2] - q[0]) / med if med else float("nan")
            print(f"   {k}: median {med:.4g} spread {spread:.3f} (bound {bounds[k]})")
        sys.stdout.flush()


if __name__ == "__main__":
    main()
