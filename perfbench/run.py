#!/usr/bin/env python3
"""Benchmark launcher: builds the harness (perfbench/) together with the
repo's main sources when they changed, then runs one workload in a JVM
sized to this host and prints the harness's JSON result as the last line.

Usage (from the repo root):
  python3 perfbench/run.py --paced-rate 4000 --drain-pages 150000 \
    --workload stream_drain --seed 1 --seconds 15 --trace 0

Workloads: stream_drain, stream_paced, registry (see perfbench/NOTES.md).
Required sizes (BENCHMARK.json's command sets them): --paced-rate N
(pages/s of the paced generator), --drain-pages N (backlog size).
Extra options: --tiny 1 (small sizes, for selftest.py),
--expected FILE (registry expectations).

Exit status: 0 only when the run finished and its outputs were correct.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "build.stamp")

# Spark 4 on JDK 17 outside spark-submit (same list as the repo's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# used when SBT_OPTS is not set: resolve offline from the user's sbt repositories file
SBT_OPTS = ("-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx3g "
            f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}")


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads: the repo's main sources and the harness."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build_env():
    env = dict(os.environ)
    # the repo's build.sbt gives a SPARK_GRAFT_SF_DIR run a 32 GB pre-touched heap
    env.pop("SPARK_GRAFT_SF_DIR", None)
    env["COURSIER_MODE"] = "offline"
    env.setdefault("SBT_OPTS", SBT_OPTS)
    os.makedirs(os.path.join(TARGET, "tmp"), exist_ok=True)
    env["SBT_OPTS"] += f" -Djava.io.tmpdir={os.path.join(TARGET, 'tmp')}"
    return env


def build():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    log("building the harness and the repo's main sources (sbt writeClasspath)")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=HERE, env=build_env(), stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=850)
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build failed")
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")


def heap():
    """Max heap from /proc/meminfo the way tier-1 sizes it (half of RAM,
    2..8 GB); the heap starts at 1 GB and grows on demand, so peak RSS is
    meaningful."""
    g = 2
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    g = max(2, min(8, int(line.split()[1]) // 2097152))
    except OSError:
        pass
    return f"{g}g", "1g"


# per-layer metrics only one stream workload has; the registry has only
# its own layers. A workload must emit each of its own per-layer metrics.
PACED_LAYERS = {
    "streaming.sink.read_ms_p50", "streaming.sink.read_ms_p95",
    "streaming.sink.read_plan_ms_p50", "streaming.sink.read_exec_ms_p50",
    "streaming.batch.trigger_wait_ms_p50", "streaming.batch.watermark_lag_s",
    "streaming.batch.backlog_end_s", "gen.late_ms_max",
}
DRAIN_LAYERS = {"trace.localN_pages_per_s", "trace.local1_pages_per_s"}
REGISTRY_PREFIXES = ("registry.", "operators.")


def own_layers(workload, declared):
    """The declared per-layer metrics `workload` must emit itself."""
    if workload == "registry":
        return {n for n in declared if n.startswith(REGISTRY_PREFIXES)} | {
            "trace.overhead_pct", "jvm.peak_rss_mb"}
    other = DRAIN_LAYERS if workload == "stream_paced" else PACED_LAYERS
    return {n for n in declared if not n.startswith(REGISTRY_PREFIXES)} - other


def cpu_times():
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return vals


def noise(before, after, load0):
    d = [a - b for a, b in zip(after, before)]
    total = sum(d[:8]) or 1
    steal = d[7] if len(d) > 7 else 0
    with open("/proc/loadavg") as fh:
        load1 = float(fh.read().split()[0])
    return {"steal_share": steal / total, "loadavg_start": load0, "loadavg_end": load1}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--paced-rate", required=True)
    ap.add_argument("--drain-pages", required=True)
    ap.add_argument("--tiny", default="0")
    ap.add_argument("--expected", default=os.path.join(HERE, "registry_expected.tsv"))
    a = ap.parse_args()

    # the benchmark builds the program from the checkout's own sources
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log(f"no program sources under {os.path.join(ROOT, 'src', 'main', 'scala')}")
        return 2
    if a.workload not in ("stream_drain", "stream_paced", "registry"):
        log(f"unknown workload {a.workload}")
        return 2
    build()

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    xmx, xms = heap()
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    java = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{xmx}", f"-Xms{xms}", f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--work", WORK, "--data", os.path.join(HERE, "data", "sf0.01"),
        "--expected", os.path.abspath(a.expected),
        "--paced-rate", a.paced_rate, "--drain-pages", a.drain_pages, "--tiny", a.tiny,
        "--home", HERE]
    env = build_env()
    env["SPARK_DRIVER_MEM"], env["SPARK_DRIVER_MEM_MIN"] = xmx, xms

    with open("/proc/loadavg") as fh:
        load0 = float(fh.read().split()[0])
    c0 = cpu_times()
    p = subprocess.Popen(java, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True,
                         start_new_session=True)
    try:
        out, _ = p.communicate(timeout=170)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        log("run timed out")
        return 3
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    n = noise(c0, cpu_times(), load0)
    lines = [l for l in out.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        log(f"no result line (exit {p.returncode}); stdout tail: {out[-2000:]}")
        return p.returncode or 4
    if p.returncode != 0:
        log(f"harness exited {p.returncode}")
        return p.returncode
    # the declared metric set: end_to_end untraced, per_layer traced; the
    # workload must emit all of it but the layers it does not run, which read 0
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)["per_layer" if a.trace == "1" else "end_to_end"]
    names = [m["name"] for m in declared]
    got = result["metrics"]
    for m in declared:
        if m["name"] in got and got[m["name"]]["unit"] != m["unit"]:
            log(f"unit mismatch for {m['name']}: {got[m['name']]['unit']} vs {m['unit']}")
            return 5
    own = own_layers(a.workload, names) if a.trace == "1" else set(names)
    missing = sorted(own - set(got))
    if missing:
        log(f"metrics missing: {missing}")
        return 5
    filled = sorted(set(names) - set(got))
    result["metrics"] = {m["name"]: got.get(m["name"], {"value": 0.0, "unit": m["unit"]})
                         for m in declared}
    extra = sorted(set(got) - set(names))
    print(json.dumps({"noise": n, "filled_with_0": filled, "undeclared_metrics": extra}))
    print(json.dumps(result))
    if not result["correct"] or result["failed"]:
        log("outputs are wrong")
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
