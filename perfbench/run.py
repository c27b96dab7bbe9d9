#!/usr/bin/env python3
"""graft benchmark: build graft and the benchmark from source, run one workload.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <prom_query|llm_dedup> \
        --seed <n> --seconds <n> --trace <0|1>

The first run in a checkout compiles graft and the benchmark with sbt (the
sbt project in this directory depends on the root build) and records the
runtime classpath; later runs reuse it while the sources are unchanged. Each
run starts one JVM on a fresh directory under .bench_build/, which is removed
when the run ends. The JVM prints a detail line (dataset shape, environment,
per-class figures, checks) and the result line; the result line is printed
last. With --trace 1 the spans and per-request Spark counters are also
written to .bench_build/traces/.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("prom_query", "llm_dedup")
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 840
HEAP = "-Xmx2g"
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(1)


def source_files():
    """Every file the build reads: both build definitions and both source trees."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files.extend(os.path.join(d, n) for n in names)
    return sorted(f for f in files if os.path.isfile(f))


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def git_commit():
    """The checkout's commit when the checkout is itself a git work tree."""
    try:
        out = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    lines = out.stdout.split()
    if out.returncode != 0 or len(lines) != 2 or \
            os.path.realpath(lines[0]) != os.path.realpath(ROOT):
        return None
    return lines[1]


def build(digest):
    """Compile with sbt unless the recorded build matches `digest`."""
    stamp = os.path.join(BUILD, "build.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            rec = json.load(fh)
        if rec.get("digest") == digest and all(
                os.path.exists(p) for p in rec["classpath"]):
            return rec
    sbt_home = os.path.join(BUILD, "sbt")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.global.base=" + os.path.join(sbt_home, "global"),
           "-Dsbt.boot.directory=" + os.path.join(sbt_home, "boot"),
           "-Dsbt.ivy.home=" + os.path.join(sbt_home, "ivy"),
           "-Dsbt.server.forcestart=false",
           "writeRunInfo"]
    log = os.path.join(BUILD, "build.log")
    print("perfbench: building (log in %s)" % os.path.relpath(log, ROOT),
          file=sys.stderr)
    with open(log, "w") as out:
        code = run_child(cmd, HERE, out, out, BUILD_LIMIT_S)
    if code != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail("build failed (exit %s)" % code)
    with open(os.path.join(HERE, "target", "run-info.json")) as fh:
        info = json.load(fh)
    rec = {"digest": digest, "classpath": info["classpath"],
           "java_options": info["javaOptions"]}
    with open(stamp, "w") as fh:
        json.dump(rec, fh)
    return rec


def run_child(cmd, cwd, stdout, stderr, limit):
    """Run `cmd` in its own process group; kill the group at `limit` seconds
    and wait for it, so no process outlives the run."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=stderr,
                            start_new_session=True)
    try:
        return proc.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("%s timed out after %d s" % (cmd[0], limit))
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def main():
    # a termination request unwinds through the `finally` blocks, which stop
    # the child process group and remove the run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1")
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or not os.path.isdir(
            os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft's sources are not next to the benchmark: run from a checkout")
    os.makedirs(BUILD, exist_ok=True)
    digest = source_digest()
    rec = build(digest)
    started = time.time()
    # the root build's JVM options minus its heap size: this JVM gets its own
    jvm = [o for o in rec["java_options"] if not o.startswith("-Xmx")] + [HEAP]
    work = tempfile.mkdtemp(prefix="run-", dir=BUILD)
    trace_out = os.path.join(BUILD, "traces", "%s-seed%d.jsonl" % (args.workload, args.seed))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + jvm + ["-Djava.io.tmpdir=" + work, "-cp",
                          os.pathsep.join(rec["classpath"]), "graft.perfbench.Main",
                          "--workload", args.workload, "--seed", str(args.seed),
                          "--seconds", str(args.seconds), "--trace", str(args.trace),
                          "--work", work, "--trace-out", trace_out,
                          "--source", git_commit() or "sources-sha256:" + digest[:16]]
    out_path = os.path.join(work, "stdout.txt")
    try:
        with open(out_path, "w") as out:
            code = run_child(cmd, work, out, sys.stderr,
                             max(10, RUN_LIMIT_S - (time.time() - started)))
        with open(out_path) as fh:
            lines = [l for l in fh.read().splitlines() if l.strip()]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for l in lines[:-1]:
        print(l)
    if code != 0 or not lines:
        fail("benchmark JVM exited with %s" % code)
    result = json.loads(lines[-1])
    if set(result) != RESULT_KEYS:
        fail("malformed result line: %s" % lines[-1])
    print(json.dumps(result))
    sys.stdout.flush()


if __name__ == "__main__":
    main()
