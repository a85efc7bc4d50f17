#!/usr/bin/env python3
"""Orchestrator-cycle benchmark for the eligibility/predictions/
resubmission engine.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first call builds the engine plus
the driver under perfbench/src with sbt into .bench_build/ (later calls
reuse the build while the sources are unchanged). Each call then
generates seeded inputs (gen.py), runs one JVM (graft.perfbench.Main),
compares the outputs with the DuckDB oracles (oracle.py) and prints
every metric with its unit, then one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(see perfbench/LAYERS.md). The exit code is 0 only when every output
check passed. A full report (environment per repetition, session conf,
checks) is kept under .bench_build/artifacts/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import gen
import oracle

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")

# Input scale per workload: sf 1.0 would be 1.5M visits; the warm-up
# tables are the smallest scale the generator makes (1.5k visits).
WORKLOADS = {
    "jobs_cold": 0.01,
    "jobs_rerun": 0.01,
    "enrich_latency": 0.002,
    "library_mix": 0.01,
}
WARM_SF = 0.001
DELTA_FRAC = 0.05
HEAP = "2g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_group(cmd, timeout, **kw):
    """Runs `cmd` in its own process group; kills the group on timeout
    and waits for it, so nothing outlives the benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"{os.path.basename(cmd[0])} timed out after {timeout} s")
    return p.returncode, out, err


def sources():
    files = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return files


def source_hash():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def commit():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
        return p.stdout.strip() if p.returncode == 0 else "none"
    except OSError:
        return "none"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        import pyspark
        d = os.path.join(os.path.dirname(pyspark.__file__), "jars")
        if os.path.isdir(d):
            return d
    except ImportError:
        pass
    fail("no Spark jars: set SPARK_HOME")


def build(stamp):
    """Compiles engine + driver once per source state; returns the classpath."""
    cp_file, stamp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ, PERFBENCH_SPARK_JARS=spark_jars())
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    code, out, err = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True)
    lines = [l for l in out.splitlines() if l.strip() and not l.startswith("[")]
    if code != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(out[-4000:])
        fail("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.exists(os.path.join(ENGINE_SRC, "graft", "SparkEntry.scala")):
        fail(f"engine sources not found under {ENGINE_SRC}")
    stamp = source_hash()
    cp = build(stamp)

    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data, warm, delta = (os.path.join(work, x) for x in ("data", "warm", "delta"))
        sizes = gen.write(data, WORKLOADS[a.workload], a.seed,
                          delta_frac=DELTA_FRAC, delta_dir=delta)
        gen.write(warm, WARM_SF, a.seed)
        report_file = os.path.join(work, "report.json")
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
        # A fixed, pre-touched heap: peak RSS then tracks what the run
        # adds beyond the heap instead of when G1 happened to grow it.
        cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch"]
        for p in ADD_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += ["-cp", cp, "graft.perfbench.Main",
                "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--cores", str(os.cpu_count()),
                "--data", data, "--warm", warm, "--delta", delta, "--work", work,
                "--report", report_file, "--source", stamp[:16], "--commit", commit()]
        code, out, err = run_group(cmd, JVM_TIMEOUT_S, cwd=work, stdout=subprocess.PIPE,
                                   stderr=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
        if code != 0 or not os.path.exists(report_file):
            sys.stderr.write(err[-6000:])
            fail(f"benchmark JVM exited with {code}")
        with open(report_file) as f:
            report = json.load(f)
        results = oracle.check(report.get("oracles", []))
        report["oracle_results"] = results
        report["input_rows"] = sizes
        os.makedirs(os.path.join(BUILD, "artifacts"), exist_ok=True)
        art = os.path.join(BUILD, "artifacts", f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(time.time())}.json")
        with open(art, "w") as f:
            json.dump(report, f, indent=1)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    checks = report.get("checks", []) + results
    for c in checks:
        print(f"check {c['name']}: {'ok' if c['ok'] else 'FAILED'} {c['detail']}")
    correct = all(c["ok"] for c in checks)
    attempted = max(1, int(report["attempted"]))
    failed = min(attempted, sum(c["ops"] for c in checks if not c["ok"]))
    for k, (v, unit) in sorted(report.get("info", {}).items()):
        print(f"info {k} = {v} {unit}")
    metrics = {}
    for k, (v, unit) in sorted(report["metrics"].items()):
        print(f"metric {k} = {v} {unit}")
        metrics[k] = {"value": v, "unit": unit}
    print(f"samples {json.dumps(report.get('samples', {}))} artifact {os.path.relpath(art, ROOT)}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
