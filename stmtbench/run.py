#!/usr/bin/env python3
"""Closed-loop statement benchmark launcher.

Run from the repository root:

    python3 stmtbench/run.py --workload joins_retract --seed 1 --seconds 20 --trace 0

Builds the benchmark together with the engine sources (sbt, in this
directory) when they changed since the last build, then runs one
measurement in a fresh JVM. The JVM's last stdout line is the result
JSON; this script passes every line through and exits with the JVM's
code. `--trace 1` prints the per-layer metrics instead of the
end-to-end ones and writes stmtbench/out/trace-<workload>-s<seed>.json.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
ENGINE_SOURCES = ROOT / "src" / "main" / "scala"
WORKLOADS = ("joins_retract", "aggs_upsert_read", "tables_append_small")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 175
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"stmtbench: {msg}", file=sys.stderr)
    sys.exit(code)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    return p.parse_args(argv)


def source_digest():
    """Hash of everything the build compiles, to skip an up-to-date build."""
    h = hashlib.sha256()
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ENGINE_SOURCES, HERE / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout kill the whole group."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die(f"{cmd[0]} timed out after {timeout} s", 3)
    except BaseException:  # interrupted: never leave the child running
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def build():
    stamp = HERE / "target" / "build.stamp"
    classpath = HERE / "target" / "classpath.txt"
    digest = source_digest()
    if classpath.is_file() and stamp.is_file() and stamp.read_text() == digest:
        return classpath.read_text().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env and repos.is_file():
        # resolve from the local caches only, as the repository's own build does
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos}")
    code, _ = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "writeClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=sys.stderr.fileno())
    if code != 0 or not classpath.is_file():
        die(f"build failed (sbt exit {code})", 4)
    stamp.write_text(digest)
    return classpath.read_text().strip()


def main(argv):
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    args = parse_args(argv)
    if not (ENGINE_SOURCES / "graft" / "exec" / "StreamingStatementRunner.scala").is_file():
        die(f"engine sources not found under {ENGINE_SOURCES}; run from a repository checkout")
    cp = build()
    out = HERE / "out"
    # per-run scratch (topics, checkpoints, Spark local dirs), removed
    # here even when the JVM is killed
    work = out / f"work-{os.getpid()}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for o in JVM_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "stmtbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", str(work), "--out", str(out)]
    env = dict(os.environ)
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; keep scratch in the checkout
    env["SPARK_LOCAL_DIRS"] = str(tmp)
    t0 = time.monotonic()
    try:
        code, stdout = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=env,
                                 stdout=subprocess.PIPE, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(stdout)
    sys.stdout.flush()
    print(f"stmtbench: {args.workload} seed {args.seed} ran {time.monotonic() - t0:.1f} s",
          file=sys.stderr)
    return code


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
