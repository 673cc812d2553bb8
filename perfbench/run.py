#!/usr/bin/env python3
"""Benchmark entry point for the graft vector engine.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source with sbt (once per source
state), runs one workload in a fresh JVM inside a private work directory,
deletes that directory, and prints two lines on stdout: the run record
(metadata and sample counts) and, last, the result object
{"correct", "attempted", "failed", "metrics"}. A failed correctness check
prints the result with "correct": false and exits 1. Without the engine's
sources next to it, the script exits 2 without printing a result.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
LAUNCHER = os.path.join(BENCH, "target", "launcher")
STATE = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("search_point", "search_batch")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = ["-Xms2g", "-Xmx2g"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file whose content decides what the build produces."""
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    trees = [os.path.join(ROOT, "project"), os.path.join(ROOT, "src", "main"),
             os.path.join(BENCH, "project"), os.path.join(BENCH, "src", "main")]
    files = [f for f in tops if os.path.isfile(f)]
    for tree in trees:
        for d, dirs, names in os.walk(tree):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".sbt", ".properties", ".java"))]
    return files


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, cwd, timeout, stdout):
    """Run a command in its own process group; kill the group on timeout
    and always wait for it to end."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=sys.stderr,
                         start_new_session=True, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        die(f"{cmd[0]} timed out after {timeout}s", 1)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def build(digest):
    stamp = os.path.join(LAUNCHER, "stamp")
    if os.path.isfile(stamp) and open(stamp).read() == digest:
        return
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           "launcher"]
    code, _ = run_bounded(cmd, BENCH, BUILD_TIMEOUT_S, sys.stderr)
    if code != 0:
        die(f"build failed (sbt exit {code})", 1)
    with open(stamp, "w") as fh:
        fh.write(digest)


def source_id(digest):
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                             capture_output=True, timeout=10)
        if sha.returncode == 0 and sha.stdout.strip():
            return "git:" + sha.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "tree:" + digest[:16]


def expected_metrics(trace):
    """(name, unit) pairs the run must print, from BENCHMARK.json."""
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        return None
    with open(spec_path) as fh:
        spec = json.load(fh)
    return [(m["name"], m["unit"]) for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        die(f"unknown workload {a.workload!r}; one of {', '.join(WORKLOADS)}")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("engine sources not found next to the benchmark (build.sbt, src/main/scala)")

    digest = source_digest()
    build(digest)
    with open(os.path.join(LAUNCHER, "classpath.txt")) as fh:
        classpath = fh.read().strip()
    with open(os.path.join(LAUNCHER, "javaopts.txt")) as fh:
        jvm_opts = [o for o in fh.read().split("\n") if o and not o.startswith("-Xmx")]

    work = os.path.join(STATE, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    trace_out = os.path.join(STATE, "traces", f"{a.workload}-seed{a.seed}.jsonl")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, *HEAP, f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", *jvm_opts,
           "-cp", classpath, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", repr(a.seconds), "--trace", str(a.trace),
           "--work", work, "--trace-out", trace_out, "--source", source_id(digest)]
    try:
        code, out = run_bounded(cmd, ROOT, RUN_TIMEOUT_S, subprocess.PIPE)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = [ln for ln in out.splitlines() if ln.startswith("{")]
    if len(lines) < 2:
        die(f"benchmark JVM exited {code} without a result", 1)
    record, result = json.loads(lines[-2]), json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        die(f"malformed result keys {sorted(result)}", 1)
    want = expected_metrics(a.trace)
    got = [(n, m["unit"]) for n, m in result["metrics"].items()]
    if want is not None and sorted(got) != sorted(want):
        die(f"metrics differ from BENCHMARK.json: missing {sorted(set(want) - set(got))},"
            f" extra {sorted(set(got) - set(want))}", 1)
    print(json.dumps(record, separators=(",", ":")))
    print(json.dumps(result, separators=(",", ":")))
    sys.exit(0 if code == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
