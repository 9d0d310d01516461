#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine and the benchmark harness
from source with sbt the first time (and again whenever a source file
changes), then runs the compiled harness on the JVM directly. The last line
of standard output is the result object; notes go to standard error.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

ROOT = Path.cwd()
BENCH = ROOT / "perfbench"
TARGET = BENCH / "target"
CLASSPATH_FILE = TARGET / "bench-classpath.txt"
WORKLOADS = ("api_mixed", "convert_corpus", "curate_corpus")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [ROOT / "src" / "main", BENCH / "src" / "main"]
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for r in roots:
        files += [p for p in r.rglob("*") if p.is_file()]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath():
    """The harness classpath, building first when the sources changed."""
    want = stamp()
    if CLASSPATH_FILE.is_file():
        have, cp = CLASSPATH_FILE.read_text().split("\n")[:2]
        if have == want:
            return cp
    print("perfbench: building (sbt compile)", file=sys.stderr)
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S, text=True)
    lines = proc.stdout.splitlines()
    cps = [l for l in lines if l.startswith("/") and "scala-2.13/classes" in l]
    if proc.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {proc.returncode})")
    TARGET.mkdir(parents=True, exist_ok=True)
    CLASSPATH_FILE.write_text(f"{want}\n{cps[-1]}\n")
    return cps[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail("no engine sources under src/main/scala/graft; run from the root of a checkout")

    cp = classpath()
    work = TARGET / "work" / f"run-{os.getpid()}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    # A fixed-size heap with a fixed young generation: the resident set then
    # follows the data the program keeps, not the collector's resizing. Every
    # run fills the 768 MB young generation, so peak RSS cannot show a cut in
    # transient allocation; a 128 MB one multiplied the program's garbage
    # collection time fivefold.
    cmd = [java, "-Xms3g", "-Xmx3g", "-Xmn768m", "-XX:+UseParallelGC",
           "-XX:-UseAdaptiveSizePolicy", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", str(work / "data"),
            "--trace-dir", str(TARGET / "traces")]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        code = None
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        fail(f"benchmark run failed ({'timed out' if code is None else f'exit {code}'})")


if __name__ == "__main__":
    main()
