#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload <lake_cdc|pii_erase|query_mix>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the graft program and
the harness from source with sbt (offline) and caches the classpath under
.bench_build/; later runs rebuild only when a source file changed. The
harness runs in its own JVM with a private work directory under
.bench_build/ that is removed afterwards. A traced run also writes its
spans, jobs and query records to .bench_build/traces/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("lake_cdc", "pii_erase", "query_mix")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project"), os.path.join(HERE, "src", "main")]
    for r in roots:
        if os.path.isfile(r):
            files = [r]
        else:
            files = sorted(os.path.join(d, f) for d, dirs, fs in os.walk(r)
                           for f in fs if "target" not in d.split(os.sep))
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the harness; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no graft sources here: run from the repository root")
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    digest = source_digest()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == digest:
                with open(cp_file) as cf:
                    return cf.read()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    try:
        subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "writeClasspath"], cwd=HERE, env=env, check=True,
                       stdout=sys.stderr, stdin=subprocess.DEVNULL,
                       timeout=BUILD_TIMEOUT_S)
    except (subprocess.SubprocessError, OSError) as e:
        fail(f"build failed: {e}")
    shutil.copyfile(os.path.join(HERE, "target", "classpath.txt"), cp_file)
    with open(stamp_file, "w") as fh:
        fh.write(digest)
    with open(cp_file) as cf:
        return cf.read()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--record", help="query_mix only: write the observed "
                    "fingerprints to this file instead of checking them")
    a = ap.parse_args()

    cp = build()
    work = os.path.join(BUILD, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work,
            "--cache", os.path.join(BUILD, "cache")]
    if a.trace:
        cmd += ["--trace-out", os.path.join(
            BUILD, "traces", f"{a.workload}-{a.seed}.jsonl")]
    if a.record:
        cmd += ["--record", os.path.abspath(a.record)]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {JVM_TIMEOUT_S} s")
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        fail(f"harness exited with code {proc.returncode}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line")
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
