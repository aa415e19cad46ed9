#!/usr/bin/env python3
"""Run graft's benchmark: build it if needed, run one workload (or all),
and print the result as the last line of standard output.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the benchmark and
graft from source with sbt (its own build under perfbench/, which
compiles graft through the repository's build.sbt); later runs reuse the
build while the sources are unchanged. Build outputs, generated inputs,
logs and trace sidecars go under .bench_build/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

# The benchmarked workloads, then the single workloads they pair up.
WORKLOADS = ["dq_audit-stream_dq", "curate-ingest"]
SINGLE = ["dq_audit", "curate", "ingest", "stream_dq"]
BUILD_DIR = ".bench_build"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# Everything the build reads: the program's sources and build, and the benchmark's.
BUILD_INPUTS = ["build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src/main"]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        path = os.path.join(root, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the whole group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        return None, None


def build(root):
    """Compile graft and the benchmark; return the runtime classpath."""
    out_dir = os.path.join(root, BUILD_DIR)
    os.makedirs(out_dir, exist_ok=True)
    stamp = source_stamp(root)
    cp_file = os.path.join(out_dir, "classpath.txt")
    stamp_file = os.path.join(out_dir, "classpath.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read()
    log = os.path.join(out_dir, "build.log")
    with open(log, "w") as fh:
        code, out = run_group(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, cwd=os.path.join(root, "perfbench"), stdout=subprocess.PIPE,
            stderr=fh, stdin=subprocess.DEVNULL, text=True,
            # resolve from the local dependency cache, as the repository's own build does
            env=dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline")))
        if out:
            fh.write(out)
    if code != 0:
        fail(f"build failed (exit {code}); see {log}")
    lines = [l.strip() for l in out.splitlines() if "perfbench" in l and not l.startswith("[")]
    if not lines:
        fail(f"build printed no classpath; see {log}")
    cp = lines[-1]
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def run_one(root, cp, workload, seed, seconds, trace):
    work = os.path.join(root, BUILD_DIR, "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", f"-Xmx{JVM_HEAP}", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), "--work", work]
    log = os.path.join(root, BUILD_DIR, f"{workload}-{seed}-{trace}.log")
    with open(log, "w") as fh:
        code, out = run_group(cmd, RUN_TIMEOUT_S, cwd=root, stdout=subprocess.PIPE,
                              stderr=fh, stdin=subprocess.DEVNULL, text=True)
    if code is None:
        fail(f"{workload}: timed out after {RUN_TIMEOUT_S} s; see {log}")
    if code != 0:
        fail(f"{workload}: exit {code}; see {log}")
    lines = [l for l in out.splitlines() if l.strip()]
    result = json.loads(lines[-1]) if lines else {}
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"{workload}: no result line; see {log}")
    return lines


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + SINGLE + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be >= 1", 2)
    root = os.getcwd()
    for rel in ["build.sbt", "src/main/scala/graft", "perfbench/build.sbt"]:
        if not os.path.exists(os.path.join(root, rel)):
            fail(f"run from the repository root: {rel} not found", 2)
    cp = build(root)
    for w in (WORKLOADS if a.workload == "all" else [a.workload]):
        for line in run_one(root, cp, w, a.seed, a.seconds, a.trace):
            print(line, flush=True)


if __name__ == "__main__":
    main()
