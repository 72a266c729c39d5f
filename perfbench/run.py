#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its result.

    python3 perfbench/run.py --workload ingest_cdc --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. The first run builds the library
sources under src/main together with the benchmark driver (sbt, offline)
into .bench_build/; later runs reuse that build until a source changes.
Each run starts one JVM with Spark on local[N], N = min(4, nproc), and
prints two lines: an environment stamp ({"env": ...}) and, last, the
result ({"correct", "attempted", "failed", "metrics"}). With --trace 1 the
metrics are the per-layer ones and the tracing overhead. Everything a run
writes lives under .bench_build/ and is removed when the run ends, except
the build, the logs and a copy of each result.
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
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("ingest_cdc", "curate_dedup")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
HEAP = "3g"
# Spark on JDK 17 outside spark-submit (same list as the repository's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# offline sbt, resolving from the local caches the repository's own build uses
SBT_OPTS = ("-Dsbt.override.build.repos=true "
            f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')} "
            "-Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(src_digest):
    """Compile once per source digest; returns the runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.digest")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == src_digest:
                with open(cp_file) as cf:
                    return cf.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=SBT_OPTS)
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log, text=True,
            timeout=BUILD_TIMEOUT_S)
        log.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if "graftbench" in l or l.endswith(".jar")]
    if proc.returncode != 0 or not lines:
        fail(f"build failed, see {log_path}")
    classpath = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(classpath)
    with open(stamp_file, "w") as fh:
        fh.write(src_digest)
    return classpath


def source_stamp(src_digest):
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return "git:" + out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "sha256:" + src_digest[:16]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no graft sources under src/main/scala: run from a source checkout")
    src_digest = digest()
    classpath = build(src_digest)

    cores = min(4, os.cpu_count() or 1)
    run_id = f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    work = os.path.join(BUILD, "work", run_id)
    tmp = os.path.join(BUILD, "tmp", run_id)
    logs = os.path.join(BUILD, "logs")
    results = os.path.join(BUILD, "results")
    for d in (work, tmp, logs, results):
        os.makedirs(d, exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", classpath, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--root", work, "--cores", str(cores),
            "--stamp", source_stamp(src_digest)] +
           (["--spans", os.path.join(results, run_id + "-spans.jsonl")] if a.trace else []))
    env = dict(os.environ, LC_ALL="C.utf8")
    err_path = os.path.join(logs, run_id + ".err")
    try:
        with open(err_path, "w") as err:
            proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=err,
                                    text=True, start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                fail(f"run exceeded {RUN_TIMEOUT_S} s, see {err_path}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)

    lines = [l for l in out.splitlines() if l.startswith("{")]
    env_line = next((l for l in lines if l.startswith('{"env"')), None)
    result = next((l for l in reversed(lines) if l.startswith('{"correct"')), None)
    if proc.returncode != 0 or result is None:
        fail(f"run failed (exit {proc.returncode}), see {err_path}")
    record = {"env": json.loads(env_line)["env"] if env_line else None, "result": json.loads(result)}
    with open(os.path.join(results, f"{run_id}-{int(time.time())}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    if env_line:
        print(env_line)
    print(result)


if __name__ == "__main__":
    main()
