#!/usr/bin/env python3
"""Benchmark of the graft engine: one command builds the engine from this
tree, runs one seeded workload in a JVM, checks its outputs and prints
every metric with its unit.

    python3 graftbench/run.py --workload snapshot_cdc --seed 1 --seconds 20 --trace 0

Run it from the repository root. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones.
The line before it stamps the environment the numbers came from. See
README.md in this directory for the workloads and the metric map.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import stats

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".bench_work")
WORKLOADS = ("warehouse_daily", "snapshot_cdc", "stream_neardup")
HEAP = "2g"
BUILD_TIMEOUT_S = 840
RUN_LIMIT_S = 170


def fail(msg, code=2):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads: the engine's and the benchmark's."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(ROOT, "project"), os.path.join(BENCH, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    return files


def build():
    """Compile the engine and the driver unless this tree was already
    built; returns (classpath, JVM options, source stamp)."""
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    spec = os.path.join(WORK, "launch.json")
    if os.path.exists(spec):
        with open(spec) as fh:
            s = json.load(fh)
        if s.get("stamp") == stamp:
            return s["classpath"], s["jvm_options"], stamp
    for f in os.listdir(WORK):
        if f.endswith(".jsa"):
            os.remove(os.path.join(WORK, f))
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        try:
            p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchSpec"],
                               cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}", 1)
    if p.returncode != 0:
        fail(f"build failed; see {log}", 1)
    cp, opts = "", []
    with open(os.path.join(BENCH, "target", "launch.txt")) as fh:
        for line in fh.read().splitlines():
            k, _, v = line.partition("=")
            if k == "classpath":
                cp = v
            elif k == "jvmopt":
                opts.append(v)
    with open(spec, "w") as fh:
        json.dump({"stamp": stamp, "classpath": cp, "jvm_options": opts}, fh)
    return cp, opts, stamp


def cpu_times():
    """(steal, total) jiffies of all CPUs, or None off Linux."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return f[7], sum(f)
    except (OSError, IndexError, ValueError):
        return None


def cpu_quota():
    """The cgroup CPU quota in CPUs, or None when unlimited/unknown."""
    try:
        with open("/sys/fs/cgroup/cpu.max") as fh:
            q, period = fh.read().split()
        return None if q == "max" else int(q) / int(period)
    except (OSError, ValueError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the engine's sources are not next to the benchmark; run it from a full checkout")

    os.makedirs(WORK, exist_ok=True)
    classpath, jvm_options, stamp = build()
    # class-data sharing: the first run of a build writes the archive of
    # the classes it loaded, later runs map it instead of loading them
    archive = os.path.join(WORK, f"classes-{stamp[:16]}.jsa")
    cds = (f"-XX:SharedArchiveFile={archive}" if os.path.exists(archive)
           else f"-XX:ArchiveClassesAtExit={archive}")
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    cores = len(os.sched_getaffinity(0))
    out = os.path.join(run_dir, "record.json")
    cmd = (["java", cds, f"-XX:ActiveProcessorCount={cores}", f"-Xms{HEAP}", f"-Xmx{HEAP}",
            f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dspark.local.dir={run_dir}/tmp",
            f"-Dspark.sql.warehouse.dir={run_dir}/warehouse"]
           + jvm_options + ["-cp", classpath, "graftbench.Main",
                            "--workload", a.workload, "--seed", str(a.seed),
                            "--seconds", str(a.seconds), "--trace", str(a.trace),
                            "--cores", str(cores), "--work", f"{run_dir}/data", "--out", out])
    steal0 = cpu_times()
    load0 = os.getloadavg()
    t0 = time.monotonic()
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=fh, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            code = p.wait(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"the run exceeded {RUN_LIMIT_S} s; see {log}", 1)
    if code != 0 or not os.path.exists(out):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"the JVM exited with {code}; see {log}", 1)
    with open(out) as fh:
        rec = json.load(fh)
    steal1 = cpu_times()
    steal = None
    if steal0 and steal1 and steal1[1] > steal0[1]:
        steal = (steal1[0] - steal0[0]) / (steal1[1] - steal0[1])
    env = {"jvm_processors": rec["jvm_processors"], "local_cores": cores,
           "cgroup_cpu_quota": cpu_quota(), "loadavg_1m_start": load0[0],
           "loadavg_1m_end": os.getloadavg()[0], "cpu_steal_frac": steal,
           "wall_s": time.monotonic() - t0, "timed_wall_s": rec.get("timed_wall_s")}

    failed = rec["failed_checks"] + (1 if rec["error"] else 0)
    attempted = len(rec["calls"]) + rec["checks"] + (1 if rec["error"] else 0)
    metrics = {}
    if not rec["error"]:
        if a.trace:
            values, units = stats.per_layer(rec), stats.PER_LAYER_UNITS
        else:
            values, units = stats.end_to_end(rec), stats.E2E_UNITS
        metrics = {k: {"value": float(v), "unit": units[k]} for k, v in values.items()}
    if rec["check_failures"]:
        env["check_failures"] = rec["check_failures"]
    print(json.dumps({"env": env}))
    print(json.dumps({"correct": failed == 0, "attempted": max(1, attempted),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
