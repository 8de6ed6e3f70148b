#!/usr/bin/env python3
"""The benchmark's own tests (from the repo root: python3 perfbench/selftest.py):

1. each workload at a tiny size, untraced and traced: exit 0, a correct
   result line carrying every declared metric, of which run.py filled with
   0 only those of layers the workload does not run;
2. the registry with one corrupted expected checksum: must exit non-zero;
3. a directory holding only BENCHMARK.json and perfbench/ (no program
   sources): must exit non-zero without printing a result.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(HERE, ".selftest")
sys.path.insert(0, HERE)
from run import own_layers  # noqa: E402

BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(args, cwd=ROOT, timeout=600):
    r = subprocess.run(BENCH["command"] + args, cwd=cwd, timeout=timeout,
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    return r.returncode, r.stdout.strip().splitlines(), r.stderr


def main():
    bench = BENCH
    failures = []
    shutil.rmtree(SCRATCH, ignore_errors=True)
    os.makedirs(SCRATCH)

    for w in [x["name"] for x in bench["workloads"]]:
        for trace, key in (("0", "end_to_end"), ("1", "per_layer")):
            code, out, err = run(["--workload", w, "--seed", "7", "--seconds", "4",
                                  "--trace", trace, "--tiny", "1"])
            ok = code == 0 and len(out) > 1
            if ok:
                res = json.loads(out[-1])
                names = {m["name"] for m in bench[key]}
                filled = set(json.loads(out[-2])["filled_with_0"])
                own = own_layers(w, names) if trace == "1" else names
                ok = res["correct"] and set(res["metrics"]) == names and not (filled & own)
            print(f"{w} trace={trace}: {'ok' if ok else 'FAILED'}", flush=True)
            if not ok:
                failures.append(f"{w} trace={trace}")
                sys.stderr.write(err[-3000:])

    # one corrupted expected value must fail the run
    bad = os.path.join(SCRATCH, "registry_expected.tsv")
    lines = open(os.path.join(HERE, "registry_expected.tsv")).read().splitlines()
    i = next(k for k, l in enumerate(lines) if l.startswith("q01_"))
    q, rows, lo, hi = lines[i].split("\t")
    lines[i] = "\t".join([q, rows, str(int(lo) + 1), hi])
    open(bad, "w").write("\n".join(lines) + "\n")
    code, out, _ = run(["--workload", "registry", "--seed", "7", "--seconds", "4",
                        "--trace", "0", "--tiny", "1", "--expected", bad])
    print(f"corrupted expectation: exit {code} ({'ok' if code != 0 else 'FAILED'})", flush=True)
    if code == 0:
        failures.append("corrupted expectation accepted")

    # no program sources: refuse without a result
    bare = os.path.join(SCRATCH, "bare")
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("target", ".work", ".selftest", ".bsp"))
    code, out, _ = run(["--workload", "stream_drain", "--seed", "1", "--seconds", "4",
                        "--trace", "0"], cwd=bare, timeout=180)
    ok = code != 0 and not any(l.startswith('{"correct"') for l in out)
    print(f"bare directory: exit {code} ({'ok' if ok else 'FAILED'})", flush=True)
    if not ok:
        failures.append("bare directory produced a result")

    shutil.rmtree(SCRATCH, ignore_errors=True)
    print("selftest: " + ("PASS" if not failures else "FAIL " + ", ".join(failures)))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
