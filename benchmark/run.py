#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result as the last line.

    python3 benchmark/run.py --workload wc_ref --seed 1 --seconds 15 --trace 0

The first call in a checkout compiles the engine's sources together with
the harness (sbt, offline); later calls reuse the build while the
sources are unchanged. The measurement runs in one JVM with a fixed heap
(see README.md next to this file). Exits non-zero, without a result
line, when the engine sources are missing or the build or run fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / ".work"
ENGINE_SRC = ROOT / "src" / "main" / "scala"
WORKLOADS = ("wc_ref", "minhash_pairs", "graph_rounds")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
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
    print(f"benchmark: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of every file the build reads."""
    h = hashlib.sha256()
    files = sorted(ENGINE_SRC.rglob("*.scala")) + sorted((BENCH / "src" / "main").rglob("*.scala"))
    files += [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build_env():
    env = dict(os.environ)
    if "SPARK_HOME" not in env:
        submit = shutil.which("spark-submit")
        if submit is None:
            fail("SPARK_HOME is unset and spark-submit is not on PATH")
        env["SPARK_HOME"] = str(Path(submit).resolve().parent.parent)
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.is_file():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts + ["-Xmx2g"])
    env.setdefault("COURSIER_MODE", "offline")
    return env


def classpath():
    """Builds when the sources changed since the last build; returns the
    runtime classpath."""
    stamp = source_stamp()
    cp_file, stamp_file = WORK / "classpath.txt", WORK / "build.stamp"
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    WORK.mkdir(parents=True, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"]
    with open(WORK / "build.log", "w") as log:
        try:
            p = subprocess.run(cmd, cwd=BENCH, env=build_env(), stdout=subprocess.PIPE,
                               stderr=log, text=True, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail("build timed out")
        log.write(p.stdout)
    if p.returncode != 0:
        fail(f"build failed (see {WORK / 'build.log'})")
    lines = [l for l in p.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if not lines:
        fail("build printed no classpath")
    cp_file.write_text(lines[-1].strip())
    stamp_file.write_text(stamp)
    return lines[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if not (ENGINE_SRC / "graft").is_dir():
        fail(f"engine sources not found under {ENGINE_SRC}")
    cp = classpath()
    java = Path(os.environ.get("JAVA_HOME", "/nonexistent")) / "bin" / "java"
    java = str(java) if java.is_file() else "java"
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={WORK / 'tmp'}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", str(WORK)]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(WORK / "tmp", ignore_errors=True)
        shutil.rmtree(WORK / "spark-local", ignore_errors=True)
        shutil.rmtree(WORK / "data", ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        fail(f"run failed with exit code {proc.returncode}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line")
    for l in lines:
        print(l)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
