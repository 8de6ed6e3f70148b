#!/usr/bin/env python3
"""Runs one workload once per seed and reports, for every metric, the
median, the quartiles and the spread (IQR / median) as the acceptance
check computes them, next to the metric's bound from BENCHMARK.json.

Usage (from the repo root):
  python3 perfbench/spread.py stream_drain 1 2 3 4 5 [--trace 1] [--out FILE]
"""
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    args = sys.argv[1:]
    trace = "0"
    out = None
    if "--trace" in args:
        i = args.index("--trace")
        trace = args[i + 1]
        del args[i:i + 2]
    if "--out" in args:
        i = args.index("--out")
        out = args[i + 1]
        del args[i:i + 2]
    workload, seeds = args[0], args[1:]
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    runs = []
    for seed in seeds:
        t0 = time.time()
        r = subprocess.run(bench["command"] + ["--workload", workload, "--seed", seed,
                                               "--seconds", str(bench["run_seconds"]), "--trace", trace],
                           cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        if out:
            with open(out + ".log", "a") as fh:
                fh.write(f"--- {workload} seed {seed} trace {trace}\n")
                fh.write("\n".join(l for l in r.stderr.splitlines() if l.startswith("[")) + "\n")
        wall = time.time() - t0
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or not lines:
            print(f"seed {seed}: exit {r.returncode}", flush=True)
            continue
        res = json.loads(lines[-1])
        noise = json.loads(lines[-2])["noise"] if len(lines) > 1 else {}
        runs.append({"seed": seed, "wall_s": wall, "noise": noise, "result": res})
        vals = " ".join(f"{k}={v['value']:.4g}" for k, v in sorted(res["metrics"].items())
                        if trace == "0")
        print(f"seed {seed}: {wall:.0f} s, steal {noise.get('steal_share', 0):.3f}, "
              f"correct={res['correct']} {vals}", flush=True)
    if out:
        json.dump(runs, open(out, "w"), indent=1)
    if len(runs) < 2 or trace == "1":
        return
    for name in sorted(runs[0]["result"]["metrics"]):
        v = [r["result"]["metrics"][name]["value"] for r in runs]
        med = statistics.median(v)
        q = statistics.quantiles(v, n=4)
        spread = (q[2] - q[0]) / med if med else float("nan")
        b = bounds.get(name)
        print(f"{name:20s} median {med:12.4f}  q1 {q[0]:12.4f}  q3 {q[2]:12.4f}  "
              f"spread {spread:6.3f}  bound {b}")
    print(f"wall per run: median {statistics.median(r['wall_s'] for r in runs):.1f} s")


if __name__ == "__main__":
    main()
