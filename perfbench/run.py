#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload per JVM, one client thread.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: interactive_read, dml_lifecycle, pipeline_batch (see README.md).

The first run in a checkout compiles the engine from the checkout's sources
together with the benchmark (sbt, offline) and generates the input tables;
later runs reuse both while the sources are unchanged. Everything the
benchmark writes stays under `.perfbench_work/` in the checkout. The last
line of standard output is the result as one JSON object.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("interactive_read", "dml_lifecycle", "pipeline_batch")
BUILD_TIMEOUT_S = 600
JVM_HEAP = "3g"

# Spark on JDK 17 needs these outside spark-submit (as in the root build).
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_fingerprint():
    """Hash of everything the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main"),
             os.path.join(ROOT, "project"), os.path.join(BENCH, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile with sbt (offline) and return the runtime classpath."""
    stamp = os.path.join(WORK, f"classpath-{sources_fingerprint()}.txt")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            return fh.read().strip()
    os.makedirs(WORK, exist_ok=True)
    for name in os.listdir(WORK):
        if name.startswith("classpath-"):
            os.remove(os.path.join(WORK, name))
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.override.build.repos=true"
                       " -Dsbt.offline=true -Xmx2g").strip()
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as fh:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=fh, text=True,
            timeout=BUILD_TIMEOUT_S)
        fh.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        fail(f"build failed (exit {proc.returncode}); see {log}")
    with open(stamp, "w") as fh:
        fh.write(lines[-1].strip() + "\n")
    return lines[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    args = ap.parse_args()
    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload}; one of {', '.join(WORKLOADS)}")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no engine sources next to the benchmark (expected {ROOT}/build.sbt "
             "and src/main/scala/graft): run from a full checkout")

    classpath = build()
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *ADD_OPENS, f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-cp", classpath, "graft.perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", args.trace,
           "--data", os.path.join(WORK, "data"), "--work", run_dir, "--out", WORK]
    log = os.path.join(WORK, f"{args.workload}-{args.seed}.log")
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            out, _ = proc.communicate(timeout=args.seconds + 150)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded its time limit; see {log}")
    shutil.rmtree(run_dir, ignore_errors=True)
    lines = out.rstrip("\n").splitlines()
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out)
        fail(f"benchmark JVM exited with {proc.returncode}; see {log}")
    sys.stdout.write(out)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
