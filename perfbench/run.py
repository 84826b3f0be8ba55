#!/usr/bin/env python3
"""Store benchmark: build the engine with the benchmark, run one workload.

Run from the root of a checkout:

    python3 perfbench/run.py --workload serve-indexed --seed 1 \
        --seconds 20 --trace 0

The first run builds (sbt, offline) into .bench_build/; later runs reuse
the build while the sources are unchanged. Every file the benchmark
writes stays under .bench_build/. The last line of standard output is
the result object; the line before it is the full report.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_DIR = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("serve-indexed", "ingest-churn")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
DRIVER_MEM = "2g"
# C1 only: with C2 on, call latency keeps falling for the first minute of
# a JVM while C2 compiles Spark, so a window that starts ~25 s in would
# time the compiler's progress, whose pace follows the host's load. C1
# code reaches its steady speed during set-up.
JIT = "-XX:TieredStopAtLevel=1"
# The heap's first touch happens at JVM start (~0.2 s for 2g, inside
# setup_s), not in the window: on a VM that hands freed memory back to
# its host, first touches are host page faults whose cost varies.
PRETOUCH = "-XX:+AlwaysPreTouch"

# The JDK 17 module opens Spark needs outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    """Hash of every source the build compiles, plus the build files."""
    h = hashlib.sha256()
    files = []
    for base in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    files += [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} timed out after {timeout} s", 4)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def build(digest):
    """Compile with sbt unless the stamp says the sources are unchanged."""
    stamp = os.path.join(BUILD_DIR, "stamp.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            st = json.load(fh)
        if st.get("hash") == digest:
            return st["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    sbt_tmp = os.path.join(BUILD_DIR, "sbt-tmp")
    os.makedirs(sbt_tmp, exist_ok=True)
    env["SBT_OPTS"] += (" -Dsbt.server.autostart=false"
                        f" -Djava.io.tmpdir={sbt_tmp}")
    code, out = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
        stdin=subprocess.DEVNULL, text=True)
    if code != 0:
        sys.stderr.write(out)
        fail("build failed", 5)
    lines = [ln for ln in out.splitlines() if ln and not ln.startswith("[")]
    if not lines:
        fail("build printed no classpath", 5)
    classpath = lines[-1].strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(stamp, "w") as fh:
        json.dump({"hash": digest, "classpath": classpath}, fh)
    return classpath


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--size", default="full", choices=("full", "tiny"))
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "store",
                                       "VectorStore.scala")):
        fail(f"engine sources not found under {ENGINE_SRC}; run from the "
             "root of a checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    digest = source_hash()
    classpath = build(digest)

    run_dir = os.path.join(BUILD_DIR, f"run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{DRIVER_MEM}", f"-Xmx{DRIVER_MEM}", JIT, PRETOUCH,
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dderby.system.home={run_dir}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--size", args.size, "--work-dir", run_dir,
            "--source-hash", digest]
    try:
        code, out = run_group(cmd, RUN_TIMEOUT_S, cwd=run_dir,
                              stdout=subprocess.PIPE,
                              stdin=subprocess.DEVNULL, text=True)
        # keep the spans of traced runs; drop stores and scratch
        spans = os.path.join(run_dir, "spans")
        if os.path.isdir(spans):
            keep = os.path.join(BUILD_DIR, "spans")
            os.makedirs(keep, exist_ok=True)
            for n in os.listdir(spans):
                os.replace(os.path.join(spans, n), os.path.join(keep, n))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    lines = [ln for ln in out.splitlines() if ln.strip()]
    if code not in (0, 1) or len(lines) < 2:
        sys.stderr.write(out)
        fail(f"benchmark process exited with {code}", 6)
    report = json.loads(lines[-2])["report"]
    if report.get("spans_file"):
        report["spans_file"] = os.path.join(
            BUILD_DIR, "spans", os.path.basename(report["spans_file"]))
    result = json.loads(lines[-1])
    print(json.dumps({"report": report}))
    print(json.dumps(result))
    sys.exit(code)


if __name__ == "__main__":
    main()
