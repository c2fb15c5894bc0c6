#!/usr/bin/env python3
"""Run one Lambda-layer benchmark workload against the engine in this tree.

    python3 lambdabench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source tree of the engine. The first run builds the
engine and the benchmark program with sbt (offline); later runs reuse the
build until a source file changes. Each run generates its inputs from the
seed, runs the benchmark on a fresh JVM and prints its report; the
last line of stdout is the result JSON. Build output, inputs, scratch
space and per-run artifacts live under .bench_build/lambdabench/.

A traced run (--trace 1) also prints the tracing overhead: its own
end-to-end metrics minus those of the last untraced run of the same
workload and seed in this tree, when there is one.
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
STATE = os.path.join(ROOT, ".bench_build", "lambdabench")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "2g"

# What spark-submit passes to a JDK 17 JVM that hosts Spark (the same
# list the engine's build gives its forked runs and tests).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print("lambdabench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of every file the build reads, to decide when to rebuild."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
            os.path.join(HERE, "src", "main"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in tops:
        for d, dirs, names in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Build with sbt if the sources changed; return the runtime classpath."""
    stamp = os.path.join(STATE, "build.stamp")
    cp_file = os.path.join(STATE, "classpath.txt")
    digest = source_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f, open(cp_file) as g:
            built, cp = f.read(), g.read()
        # the build is reused only while its outputs are all still there
        if built == digest and all(map(os.path.exists, cp.split(os.pathsep))):
            return cp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    try:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
            text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("sbt build timed out")
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        fail("sbt build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp, "w") as f:
        f.write(digest)
    with open(cp_file) as f:
        return f.read()


def main():
    # a terminated run must not leave its build or benchmark JVM behind:
    # subprocess.run kills and reaps its child on any exception
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, HERE)
    sys.dont_write_bytecode = True
    import gen
    if args.workload not in gen.WORKLOADS:
        fail("unknown workload %r; one of %s" % (args.workload, ", ".join(gen.WORKLOADS)))
    metrics_file = os.path.join(ROOT, "BENCHMARK.json")
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft"), "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail("%s not found: run from the root of an engine source tree" % need)

    os.makedirs(STATE, exist_ok=True)
    started = time.time()
    cp = classpath()

    tag = "%s-%d" % (args.workload, args.seed)
    inputs = os.path.join(STATE, "inputs", tag)
    work = os.path.join(STATE, "work", tag)
    out = os.path.join(STATE, "results", "%s-trace%d" % (tag, args.trace))
    for d in (inputs, work, out):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        gen.generate(args.workload, args.seed, inputs)
        print("[lambdabench] inputs generated in %.1f s" % (time.time() - started),
              file=sys.stderr)
        cmd = (["java", "-Xmx" + HEAP, "-Xss4m",
                "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
               + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
               + ["-cp", cp, "lambdabench.Main",
                  "--workload", args.workload, "--seconds", str(args.seconds),
                  "--trace", str(args.trace), "--inputs", inputs, "--work", work,
                  "--out", out, "--metrics", metrics_file])
        try:
            proc = subprocess.run(cmd, cwd=work, stdin=subprocess.DEVNULL,
                                  capture_output=True, text=True,
                                  timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail("benchmark JVM did not finish within %d s" % RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(inputs, ignore_errors=True)
        shutil.rmtree(work, ignore_errors=True)

    sys.stderr.write("\n".join(l for l in proc.stderr.splitlines()
                               if "[lambdabench]" in l or "Exception" in l) + "\n")
    lines = proc.stdout.rstrip("\n").splitlines()
    if not lines or not lines[-1].startswith("{"):
        sys.stderr.write(proc.stderr[-4000:])
        fail("benchmark JVM exited %d without a result" % proc.returncode)
    result = lines[-1]
    print("\n".join(lines[:-1]))
    if args.trace == 1:
        report_overhead(out, os.path.join(STATE, "results", "%s-trace0" % tag))
    print(result)
    sys.stdout.flush()
    sys.exit(proc.returncode)


def report_overhead(traced_dir, untraced_dir):
    """Tracing overhead: traced minus untraced end-to-end metrics."""
    try:
        with open(os.path.join(traced_dir, "end_to_end.json")) as f:
            traced = json.load(f)
        with open(os.path.join(untraced_dir, "end_to_end.json")) as f:
            untraced = json.load(f)
    except (OSError, ValueError):
        print("overhead n/a: no untraced run of this workload and seed in this tree")
        return
    for name, m in traced.items():
        if name in untraced:
            u = untraced[name]["value"]
            t = m["value"]
            print("overhead %-14s traced=%.4f untraced=%.4f diff=%+.4f %s (%+.1f%%)"
                  % (name, t, u, t - u, m["unit"], 100.0 * (t - u) / u if u else 0.0))


if __name__ == "__main__":
    main()
