#!/usr/bin/env python3
"""Run one benchmark workload of the graft engine and print its metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
  python3 perfbench/run.py --smoke

The engine is compiled from the repository's sources together with the
harness in perfbench/src (sbt, offline). The compiled classpath is reused
while no source changed. The harness then runs in one JVM; its last line
of standard output is the result:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
Every metric named in BENCHMARK.json is checked to be present with its
unit. The exit code is non-zero when the build fails, an output check
fails, a metric is missing, or the run exceeds its time limit.

--smoke runs every workload once per trace mode with one op of each kind
on tiny inputs, in one JVM, and checks that every metric is emitted.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

START = time.monotonic()
BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
SOURCES = os.path.join(REPO, "src", "main", "scala")
WORK = os.path.join(REPO, ".bench_work")
TARGET = os.path.join(BENCH, "target")
STAMP = os.path.join(TARGET, "perfbench-build.json")
WORKLOADS = ["mr_corpus", "engine_mix", "storage_rw", "curation_chain"]
RUN_LIMIT_S = 175      # a run, build excluded
BUILD_LIMIT_S = 870    # the first run in a checkout, build included
HEAP = "3g"
JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def fail(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    roots = [SOURCES, os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for root in roots:
        for d, _, names in os.walk(root):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine plus harness unless an up-to-date build exists;
    returns the runtime classpath."""
    stamp = source_stamp()
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            prev = json.load(fh)
        if prev.get("stamp") == stamp:
            return prev["classpath"], False
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(WORK, "build-tmp")
    os.makedirs(tmp, exist_ok=True)
    # sbt's global state and scratch files stay inside the checkout
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
            f"-Dsbt.global.base={os.path.join(WORK, 'sbt-global')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        try:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "-Dsbt.server.forcestart=false",
                 "compile", "export Runtime/fullClasspath"],
                cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=out,
                text=True, timeout=BUILD_LIMIT_S - 60)
        except subprocess.TimeoutExpired:
            fail(3, f"build timed out; see {log}")
    out_lines = [line for line in p.stdout.splitlines() if line.strip()]
    with open(log, "a") as fh:
        fh.write(p.stdout)
    if p.returncode != 0 or not out_lines:
        fail(3, f"build failed; see {log}")
    classpath = out_lines[-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    with open(STAMP, "w") as fh:
        json.dump({"stamp": stamp, "classpath": classpath}, fh)
    return classpath, True


def expected_metrics(trace):
    path = os.path.join(REPO, "BENCHMARK.json")
    with open(path) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}


def check_result(line, trace):
    """Returns what is wrong with a result line, or None."""
    try:
        r = json.loads(line)
    except ValueError:
        return "last line is not JSON"
    if sorted(r) != ["attempted", "correct", "failed", "metrics"]:
        return f"result keys are {sorted(r)}"
    want = expected_metrics(trace)
    got = {k: v.get("unit") for k, v in r["metrics"].items()}
    if got != want:
        return f"metrics {got} differ from BENCHMARK.json {want}"
    bad = [k for k, v in r["metrics"].items()
           if not isinstance(v.get("value"), (int, float))]
    if bad:
        return f"metrics without a numeric value: {bad}"
    return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--record", help="append the op digests of the "
                    "warm-up cycle to this file (certification aid)")
    a = ap.parse_args()
    if not a.smoke and not a.workload:
        ap.error("--workload is required unless --smoke is given")
    if not os.path.isdir(os.path.join(SOURCES, "graft")):
        fail(2, f"engine sources not found under {SOURCES}")

    # one run per checkout: runs share the work directory and tables
    os.makedirs(WORK, exist_ok=True)
    lock = open(os.path.join(WORK, "lock"), "w")
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except OSError:
        fail(6, "another benchmark run is using this checkout")

    classpath, built = build()
    limit = (BUILD_LIMIT_S if built else RUN_LIMIT_S) - (time.monotonic() - START)

    run = os.path.join(WORK, "run")
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(os.path.join(run, "tmp"))
    cores = len(os.sched_getaffinity(0))
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={run}/tmp",
            "-Duser.timezone=UTC", "-Dspark.ui.enabled=false"] +
           [x for p in JDK17_OPENS for x in
            ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-cp", classpath, "perfbench.Main",
            "--cores", str(cores), "--seed", str(a.seed),
            "--data", os.path.join(BENCH, "data", "sf0.01"),
            "--work", run,
            "--expected", os.path.join(BENCH, "expected.tsv")])
    if a.smoke:
        cmd += ["--smoke"]
    else:
        cmd += ["--workload", a.workload, "--seconds", str(a.seconds),
                "--trace", str(a.trace)]
    if a.record:
        cmd += ["--record", os.path.abspath(a.record)]
    log = os.path.join(WORK, "jvm.log")
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=REPO, stdout=subprocess.PIPE,
                                stderr=err, text=True)
        try:
            out, _ = proc.communicate(timeout=max(10, limit))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(4, f"run exceeded its time limit; see {log}")
    for name in os.listdir(run):
        if name != "traces":
            shutil.rmtree(os.path.join(run, name), ignore_errors=True)
    with open(log) as fh:
        notes = [line.rstrip() for line in fh if "[perfbench]" in line]
    for line in notes[-20:]:
        print(line, file=sys.stderr)

    lines = [line for line in out.splitlines() if line.strip()]
    results = [line for line in lines if line.startswith("{")]
    if not results:
        fail(proc.returncode or 5, f"no result line; see {log}")
    problems = []
    if a.smoke:
        for (w, t), line in zip(
                [(w, t) for w in WORKLOADS for t in (0, 1)], results):
            p = check_result(line, t)
            if p:
                problems.append(f"{w} trace={t}: {p}")
        if len(results) != 2 * len(WORKLOADS):
            problems.append(f"{len(results)} result lines, expected "
                            f"{2 * len(WORKLOADS)}")
        print("\n".join(lines))
        if problems or proc.returncode:
            fail(proc.returncode or 5, "smoke failed: " + "; ".join(problems))
        print("perfbench smoke: every metric emitted with its unit")
        return
    p = check_result(lines[-1], a.trace)
    print("\n".join(lines[:-1]))
    if p:
        fail(proc.returncode or 5, p)
    print(lines[-1])
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
