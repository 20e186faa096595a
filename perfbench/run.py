#!/usr/bin/env python3
"""Build the engine and the benchmark from source, then run one workload.

    python3 perfbench/run.py --workload rag_exact --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It compiles the engine
(src/main/scala) and the benchmark (perfbench/scala) with the Scala
compiler that ships among the Spark jars, once per source tree, then runs
perfbench.Main in one JVM with a local[nproc] Spark session. Build output,
logs, span files and each run's scratch data go under $CARGO_TARGET_DIR
(default .bench_build), relative to the checkout.

The workload's metrics are printed by name with their units; the last line
of standard output is the JSON result. An invalid run (build failure, a dead
SparkContext, a failed warm-up, a timeout) exits non-zero and prints no
result line. --smoke runs a fixture-sized corpus for the benchmark's own
tests (perfbench/smoke_test.py).
"""

import argparse
import fcntl
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
from pathlib import Path

WORKLOADS = ("rag_exact", "rag_ann")
RUN_TIMEOUT_S = 170
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def spark_jars(root):
    """SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = root / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    fail("no Spark jars: set SPARK_HOME")


def sources(root):
    main = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    bench = sorted((root / "perfbench" / "scala").rglob("*.scala"))
    if not main:
        fail("no engine sources under src/main/scala")
    return main, bench


def scalac(jars, out, classpath, files, log):
    out.mkdir(parents=True)
    argfile = out.parent / (out.name + ".args")
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", str(out), "-classpath", classpath, f"@{argfile}"]
    with open(log, "ab") as lf:
        rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        sys.stderr.write(Path(log).read_text()[-4000:])
        fail(f"compile failed (log: {log})")


def build(root, out_dir, jars):
    """Compile once per source tree; reuse the classes while it is unchanged."""
    main, bench = sources(root)
    digest = hashlib.sha256()
    for f in main + bench:
        digest.update(str(f.relative_to(root)).encode())
        digest.update(f.read_bytes())
    stamp = digest.hexdigest()
    out_dir.mkdir(parents=True, exist_ok=True)
    with open(out_dir / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = out_dir / "build.stamp"
        if stamp_file.is_file() and stamp_file.read_text() == stamp:
            return
        for d in ("classes", "bench-classes"):
            shutil.rmtree(out_dir / d, ignore_errors=True)
        stamp_file.unlink(missing_ok=True)
        log = out_dir / "build.log"
        log.write_text("")
        scalac(jars, out_dir / "classes", f"{jars}/*", main, log)
        scalac(jars, out_dir / "bench-classes", f"{out_dir / 'classes'}:{jars}/*", bench, log)
        stamp_file.write_text(stamp)


def run(args, out_dir, jars):
    work = out_dir / "runs" / str(os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    logs = out_dir / "logs"
    logs.mkdir(exist_ok=True)
    log = logs / f"{args.workload}-seed{args.seed}-trace{args.trace}.log"
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # a fixed-size heap: a growing one resizes at run-dependent points
    cmd += [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
            f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false",
            "-cp", f"{out_dir / 'bench-classes'}:{out_dir / 'classes'}:{jars}/*",
            "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(work / "data"), "--spans", str(out_dir / "traces")]
    if args.smoke:
        cmd.append("--smoke")
    with open(log, "wb") as err:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail(f"run exceeded {RUN_TIMEOUT_S} s (log: {log})")
    shutil.rmtree(work, ignore_errors=True)
    lines = out.decode("utf-8", "replace").splitlines()
    result = None
    if proc.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stderr.write("\n".join(lines) + "\n")
        fail(f"run failed with exit code {proc.returncode} (log: {log})")
    print("\n".join(lines), flush=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--smoke", action="store_true",
                    help="fixture-sized inputs, for the benchmark's own tests")
    args = ap.parse_args()
    root = Path.cwd()
    out_dir = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    if not out_dir.is_absolute():
        out_dir = root / out_dir
    jars = spark_jars(root)
    build(root, out_dir, jars)
    run(args, out_dir, jars)


if __name__ == "__main__":
    main()
