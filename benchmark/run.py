#!/usr/bin/env python3
"""Run one benchmark workload against the graft engine in this checkout.

    python3 benchmark/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness with sbt (benchmark/build.sbt compiles ../src/main/scala together
with benchmark/src); later runs reuse the build while the sources are
unchanged. The last line of standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 it holds the end-to-end metrics, with --trace 1 the
per-layer ones; a traced run also writes every span to
.bench_build/runs/trace-<workload>-<seed>.json. The exit code is 0 when
every output was checked and correct, 1 when an output was wrong, and 2
or more when the run could not be made.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

WORKLOADS = ("tweet_ingest", "tweet_index", "registry_heavy")
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
BUILD_DIR = ".bench_build"
RUN_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 850
JVM_HEAP = "2g"
YOUNG_GEN = "384m"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(code, msg):
    print(f"[benchmark] {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(root, "src", "main"), os.path.join(BENCH_DIR, "src", "main"),
            os.path.join(BENCH_DIR, "build.sbt"),
            os.path.join(BENCH_DIR, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, build_dir):
    """Compile with sbt once per source state; return the runtime classpath."""
    stamp = source_stamp(root)
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    log = os.path.join(build_dir, "build.log")
    with open(log, "w") as out:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH_DIR, stdout=subprocess.PIPE, stderr=out, text=True,
            timeout=BUILD_TIMEOUT_S)
        out.write(proc.stdout)
    lines = [l.strip() for l in proc.stdout.splitlines()]
    cps = [l for l in lines if ".jar" in l and not l.startswith("[")]
    if proc.returncode != 0 or not cps:
        fail(3, f"build failed (exit {proc.returncode}); see {log}")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cps[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail(2, "no engine sources (src/main/scala/graft) here; run from a checkout root")
    build_dir = os.path.join(root, BUILD_DIR)
    os.makedirs(build_dir, exist_ok=True)
    classpath = build(root, build_dir)

    runs = os.path.join(build_dir, "runs")
    work = os.path.join(runs, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out_file = os.path.join(work, "result.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Xmn{YOUNG_GEN}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for pkg in ADD_OPENS:
        cmd += ["--add-opens", f"{pkg}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--work", work, "--out", out_file, "--bench-dir", BENCH_DIR]
    log = os.path.join(runs, f"{args.workload}-{args.seed}.log")
    with open(log, "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                                start_new_session=True)

        def stop(signum, _frame):
            # the JVM and its generator run in their own process group
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = None
        # the generator process shares the JVM's process group
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    try:
        if code is None:
            fail(4, f"run exceeded {RUN_TIMEOUT_S} s; see {log}")
        if code != 0 or not os.path.exists(out_file):
            fail(5, f"run failed (exit {code}); see {log}")
        with open(out_file) as fh:
            line = fh.read().strip()
        result = json.loads(line)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(log) as fh:
        for l in fh:
            if "[graftbench] WRONG" in l:
                print(l.rstrip(), file=sys.stderr)
    print(line, flush=True)
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
