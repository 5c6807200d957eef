#!/usr/bin/env python3
"""Run-to-run spread of the benchmark.

    python3 perfbench/spread.py --workloads lookup,dedup --runs 10 [--seed0 1] [--trace 0]

Runs perfbench/run.py once per seed (seed0, seed0+1, ...) for each workload,
from the root of a checkout, and prints for every metric the median, the
quartiles and the quartile spread as a share of the median, as
statistics.quantiles(values, n=4) gives them. Raw results are appended to
perfbench/results/<workload>.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workloads", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--seed0", type=int, default=1)
    p.add_argument("--seconds", type=int)
    p.add_argument("--trace", type=int, default=0)
    a = p.parse_args()
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = a.seconds or bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    for w in a.workloads.split(","):
        results, walls = [], []
        for i in range(a.runs):
            seed = a.seed0 + i
            t0 = time.time()
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", str(seed),
                 "--seconds", str(seconds), "--trace", str(a.trace)],
                capture_output=True, text=True)
            walls.append(time.time() - t0)
            if out.returncode != 0:
                sys.stderr.write(out.stderr[-3000:])
                sys.exit(f"{w} seed {seed}: exit code {out.returncode}")
            r = json.loads(out.stdout.strip().splitlines()[-1])
            r["seed"], r["wall_s"] = seed, round(walls[-1], 1)
            results.append(r)
            with open(os.path.join(HERE, "results", f"{w}.jsonl"), "a") as fh:
                fh.write(json.dumps(r) + "\n")
        print(f"== {w}: {a.runs} runs, wall median {statistics.median(walls):.1f} s, "
              f"attempted {[r['attempted'] for r in results]}, failed {[r['failed'] for r in results]}, "
              f"correct {all(r['correct'] for r in results)}")
        for m in results[0]["metrics"]:
            vals = [r["metrics"][m]["value"] for r in results]
            q1, med, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (vals[0],) * 3
            spread = (q3 - q1) / med if med else 0.0
            b = bounds.get(m)
            flag = "" if b is None else ("  ok" if spread <= b / 3 else ("  within bound" if spread <= b else "  OVER BOUND"))
            print(f"  {m:32s} median {med:14.4f}  q1 {q1:14.4f}  q3 {q3:14.4f}  spread {spread:6.3f}"
                  f"{'' if b is None else f'  bound {b}'}{flag}")


if __name__ == "__main__":
    main()
