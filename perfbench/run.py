#!/usr/bin/env python3
"""Run one workload of the graft CDC-lake benchmark.

    python3 perfbench/run.py --workload cdc_freshness --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark's own code from source with sbt (perfbench/build.sbt); later runs
reuse the build until a source file changes. The benchmark itself runs in
one JVM (`graft.perfbench.Main`) on local[nproc]; its scratch data lives
under .bench_build/ and is removed after the run.

The last line of standard output is the result object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
BUILD_DIR = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
CLASSPATH_FILE = HERE / "target" / "classpath.txt"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def newest_source_mtime():
    newest = 0.0
    for base in (ENGINE_SRC, HERE / "src" / "main", HERE / "build.sbt", HERE / "project" / "build.properties"):
        paths = [base] if base.is_file() else base.rglob("*.scala")
        for p in paths:
            newest = max(newest, p.stat().st_mtime)
    return newest


def build():
    """Compile the engine and the benchmark with sbt unless the last build is current."""
    if CLASSPATH_FILE.exists() and CLASSPATH_FILE.stat().st_mtime >= newest_source_mtime():
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g "
                   f"-Dsbt.repository.config={Path.home() / '.sbt' / 'repositories'}")
    tmp = BUILD_DIR / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true", "-J-XX:-UsePerfData",
           f"-J-Djava.io.tmpdir={tmp}", "compile", "writeClasspath"]
    try:
        proc = subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                              timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if proc.returncode != 0 or not CLASSPATH_FILE.exists():
        fail(f"build failed (sbt exit {proc.returncode})")


def run(args):
    work = BUILD_DIR / "work" / f"{args.workload}-seed{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    java = shutil.which("java") or str(Path(os.environ.get("JAVA_HOME", "/usr")) / "bin" / "java")
    # A fixed heap, so the collector does not resize it while samples are
    # taken. 16 MB G1 regions, as Spark's GC tuning guide advises for large
    # heaps: with the default 1 MB regions Spark's write and shuffle buffers
    # are humongous objects, and the collections they trigger scatter a
    # PageRank job's time by a second or more.
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:G1HeapRegionSize=16m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", CLASSPATH_FILE.read_text().strip(), "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(work), "--out", str(BUILD_DIR / "traces")]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        out, err = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    for l in err.splitlines():
        if l.startswith("perfbench:"):
            print(l, file=sys.stderr)
    lines = out.splitlines()
    result_lines = [l for l in lines if l.startswith('{"correct"')]
    if proc.returncode != 0 or not result_lines:
        sys.stderr.write(err[-4000:])
        fail(f"benchmark JVM exited {proc.returncode} without a result")
    result = json.loads(result_lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result")
    for l in lines:
        if not l.startswith('{"correct"'):
            print(l)
    print(json.dumps(result))


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if not ENGINE_SRC.is_dir():
        fail(f"engine sources not found at {ENGINE_SRC}")
    if "SPARK_HOME" not in os.environ:
        fail("SPARK_HOME is not set: the build compiles against its jars")
    started = time.time()
    build()
    print(f"perfbench: build ready in {time.time() - started:.1f} s", file=sys.stderr)
    run(args)


if __name__ == "__main__":
    main()
