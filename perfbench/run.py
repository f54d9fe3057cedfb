#!/usr/bin/env python3
"""Benchmark entry point. Run from the root of a checkout of the repo:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library and the harness from source with sbt into
.bench_build/ (once per source state), runs one workload in one JVM on
local[4], and prints as its last stdout line a JSON object with the keys
correct, attempted, failed and metrics: the end_to_end metrics of
BENCHMARK.json with --trace 0, the per_layer ones with --trace 1. The full
result, with run metadata, goes to .bench_build/results/.

    python3 perfbench/run.py --record <sf dir> <verify dump dir>

recomputes perfbench/expected/<sf name>.json from a `graft.Verify` dump of
that scale factor that tools/check.py has passed.
"""
import argparse
import hashlib
import json
import os
import re
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
SF_NAME = "0.01"
EXPECTED = os.path.join(BENCH, "expected")
# a run's JVM must end within this; the first run of a checkout also
# compiles, which has its own limit
RUN_LIMIT_S = 170
JVM_HEAP = "4g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sf_dir():
    """The benchmark's data: $PERFBENCH_SF_DIR, else the scale-factor
    directory TESTDATA.md lists for SF_NAME."""
    if os.environ.get("PERFBENCH_SF_DIR"):
        return os.environ["PERFBENCH_SF_DIR"].rstrip("/")
    try:
        with open(os.path.join(ROOT, "TESTDATA.md")) as f:
            m = re.search(r"^\|\s*" + re.escape(SF_NAME) + r"\s*\|\s*`([^`]+)`",
                          f.read(), re.M)
    except OSError:
        m = None
    if not m:
        fail(f"no sf{SF_NAME} directory: set PERFBENCH_SF_DIR or list it "
             "in TESTDATA.md")
    return m.group(1).rstrip("/")


def source_digest():
    """sha256 over every source file the build reads."""
    h = hashlib.sha256()
    for top in ("src/main", "perfbench/src/main", "perfbench/build.sbt",
                "perfbench/project/build.properties"):
        base = os.path.join(ROOT, top)
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_bounded(cmd, limit_s, **kw):
    """Run cmd in its own process group; kill the group on timeout and
    wait for it, so no process outlives the benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"timed out after {limit_s:.0f}s: {cmd[0]}")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build(digest):
    """Compile with sbt when the sources changed; returns the classpath."""
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            got = json.load(f)
        if got["digest"] == digest:
            return got["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = " ".join([
        env.get("SBT_OPTS", ""), "-Dsbt.offline=true",
        "-Dsbt.server.autostart=false",
        f"-Dsbt.global.base={BUILD}/sbt-global", "-Xmx2g"])
    log = os.path.join(BUILD, "sbt.log")
    with open(log, "w") as out:
        rc = run_bounded(
            ["sbt", "-batch", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspath"],
            840, cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL)
    with open(log) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    if rc != 0 or not lines or ".jar" not in lines[-1]:
        fail(f"build failed (sbt exit {rc}); see {log}")
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": lines[-1]}, f)
    return lines[-1]


def jvm(classpath, args, log, limit_s):
    work = os.path.join(BUILD, "work")
    for d in ("tmp", "spark-local", "work", "results", "logs"):
        os.makedirs(os.path.join(BUILD, d), exist_ok=True)
    cmd = (["java", f"-Xmx{JVM_HEAP}"] +
           [x for p in ADD_OPENS
            for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           [f"-Djava.io.tmpdir={BUILD}/tmp",
            f"-Dspark.local.dir={BUILD}/spark-local",
            f"-Dspark.sql.warehouse.dir={BUILD}/work/spark-warehouse",
            "-Dspark.driver.host=127.0.0.1",
            "-Dspark.driver.bindAddress=127.0.0.1",
            f"-Dlog4j2.configurationFile={BENCH}/log4j2.properties",
            "-cp", classpath, "perfbench.Main"] + args)
    with open(log, "w") as out:
        rc = run_bounded(cmd, limit_s, cwd=work, stdout=out,
                         stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if rc != 0:
        fail(f"benchmark JVM exited {rc}; see {log}")


def cpu_times():
    """Aggregate (busy, steal) jiffies from /proc/stat, or None."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None
    return sum(v[:3]) + sum(v[5:7]), v[7] if len(v) > 7 else 0


def git_sha():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10, check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", nargs=2, metavar=("SF_DIR", "VERIFY_DUMP"))
    a = ap.parse_args()
    t_start = time.monotonic()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("run from the root of a repo checkout (src/main/scala/graft "
             "not found)")
    data = sf_dir()
    if not os.path.isdir(data):
        fail(f"input data {data} not found")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    if a.record is None and a.workload not in names:
        fail(f"--workload must be one of {names}")

    digest = source_digest()
    classpath = build(digest)
    if a.record:
        sf, dump = (os.path.abspath(x) for x in a.record)
        out = os.path.join(EXPECTED, os.path.basename(sf) + ".json")
        os.makedirs(EXPECTED, exist_ok=True)
        jvm(classpath, ["--record", dump, "--sf", sf, "--expected", out],
            os.path.join(BUILD, "logs", "record.log"), 900)
        print(f"wrote {out}")
        return

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    raw = os.path.join(BUILD, "results", tag + ".jvm.json")
    spans = os.path.join(BUILD, "results", tag + ".spans.jsonl")
    if os.path.exists(raw):
        os.remove(raw)
    load0, cpu0 = os.getloadavg(), cpu_times()
    jvm(classpath,
        ["--workload", a.workload, "--seed", str(a.seed), "--seconds",
         str(a.seconds), "--trace", str(a.trace), "--sf", data,
         "--expected", EXPECTED, "--out", raw, "--spans", spans],
        os.path.join(BUILD, "logs", tag + ".log"), RUN_LIMIT_S)
    load1, cpu1 = os.getloadavg(), cpu_times()
    with open(raw) as f:
        r = json.load(f)

    key = "per_layer" if a.trace else "end_to_end"
    got = r[key] or {}
    metrics = {m["name"]: {"value": got[m["name"]], "unit": m["unit"]}
               for m in spec[key] if m["name"] in got}
    missing = [m["name"] for m in spec[key] if m["name"] not in got]
    for fl in r["failures"]:
        print(f"perfbench: FAILED {fl['op']}: {fl['error']}", file=sys.stderr)
    if missing:
        print(f"perfbench: missing metrics {missing}", file=sys.stderr)
    line = {"correct": r["failed"] == 0 and not missing,
            "attempted": r["attempted"], "failed": r["failed"],
            "metrics": metrics}

    r["meta"] = {
        "nproc": len(os.sched_getaffinity(0)), "git_sha": git_sha(),
        "source_sha256": digest, "sf_dir": data, "seed": a.seed,
        "jvm_max_heap_mb": r["jvm_max_heap_mb"],
        "spark_version": r["spark_version"],
        "loadavg_start": load0, "loadavg_end": load1,
        "steal_share": (None if not (cpu0 and cpu1) else
                        (cpu1[1] - cpu0[1]) /
                        max(1, cpu1[0] - cpu0[0] + cpu1[1] - cpu0[1])),
        "run_wall_s": time.monotonic() - t_start}
    if a.trace:
        plain = os.path.join(BUILD, "results",
                             f"{a.workload}-seed{a.seed}-trace0.json")
        if os.path.exists(plain):
            with open(plain) as f:
                base = json.load(f)["end_to_end"]
            r["trace_overhead"] = {k: v - base[k]
                                   for k, v in r["end_to_end"].items()
                                   if k in base}
    r["result"] = line
    with open(os.path.join(BUILD, "results", tag + ".json"), "w") as f:
        json.dump(r, f, indent=1, sort_keys=True)
    print("meta " + json.dumps(r["meta"], sort_keys=True))
    print(json.dumps(line))


if __name__ == "__main__":
    main()
