#!/usr/bin/env python3
"""Extraction benchmark entry point.

Run from the root of a checkout:

    python3 perfbench/run.py --workload kernel-ascii --seed 1 --seconds 15 --trace 0

Workloads: kernel-ascii, warc-multiscript, sql-fields (see perfbench/README.md).

The first run in a checkout compiles the program's sources together with the
benchmark's (perfbench/build.sbt) into .bench_build/; later runs reuse the
build while the sources are unchanged. The measuring program is one JVM
(perfbench.Main). Its human-readable lines are relayed to stdout, its Spark
log goes to .bench_build/logs/, and the last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}. Any failed check, build error
or timeout exits non-zero without printing that line.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

WORKLOADS = ("kernel-ascii", "warc-multiscript", "sql-fields")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Module opens Spark needs on JDK 17 outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files(root):
    bench = root / "perfbench"
    files = [bench / "build.sbt", bench / "project" / "build.properties"]
    for d in (root / "src" / "main", bench / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def fingerprint(root):
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(str(f.relative_to(root)).encode())
        h.update(b"\0")
        h.update(f.read_bytes())
    return h.hexdigest()


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        fail("cannot find the Spark jars: set SPARK_HOME")
    return str(Path(home) / "jars")


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p, p.wait(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build(root, build_dir, fp):
    stamp = build_dir / "fingerprint"
    cp_file = build_dir / "classpath.txt"
    if cp_file.exists() and stamp.exists() and stamp.read_text() == fp:
        return cp_file.read_text().strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ)
    env["SPARK_JARS"] = spark_jars()
    env["BENCH_BUILD_DIR"] = str(build_dir)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    (build_dir / "logs").mkdir(parents=True, exist_ok=True)
    log = build_dir / "logs" / "build.log"
    t0 = time.time()
    with open(log, "w") as out:
        try:
            _, rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                              BUILD_TIMEOUT_S, cwd=root / "perfbench", env=env,
                              stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
    if rc != 0 or not cp_file.exists():
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"build failed (exit {rc}); see {log}")
    stamp.write_text(fp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp_file.read_text().strip()


def git_sha(root):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "none"
    except (OSError, subprocess.TimeoutExpired):
        return "none"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")

    root = Path.cwd().resolve()
    if not (root / "src" / "main" / "scala" / "graft").is_dir():
        fail("run from the root of a checkout: src/main/scala/graft is missing")
    if not (root / "perfbench" / "build.sbt").is_file():
        fail("perfbench/build.sbt is missing")
    build_dir = root / os.environ.get("BENCH_BUILD_DIR", ".bench_build")
    build_dir.mkdir(parents=True, exist_ok=True)

    fp = fingerprint(root)
    cp = build(root, build_dir, fp)

    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = build_dir / "work" / f"{tag}-{os.getpid()}"
    tmp = build_dir / "tmp"
    for d in (work, tmp, build_dir / "artifacts", build_dir / "logs"):
        d.mkdir(parents=True, exist_ok=True)
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    java = shutil.which("java") or fail("java is not on PATH")
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores), "--heap", HEAP,
            "--work", str(work), "--artifacts", str(build_dir / "artifacts"),
            "--git-sha", git_sha(root), "--source-sha", fp[:16]]

    log = build_dir / "logs" / f"{tag}.log"
    result = None
    timed_out = threading.Event()
    try:
        with open(log, "w") as err:
            p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err,
                                 stdin=subprocess.DEVNULL, text=True, start_new_session=True)

            def kill():
                timed_out.set()
                os.killpg(p.pid, signal.SIGKILL)

            timer = threading.Timer(RUN_TIMEOUT_S, kill)
            timer.start()
            try:
                for line in p.stdout:
                    if line.startswith("RESULT "):
                        result = json.loads(line[len("RESULT "):])
                    else:
                        sys.stdout.write(line)
                        sys.stdout.flush()
                rc = p.wait()
            except BaseException:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
                raise
            finally:
                timer.cancel()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if timed_out.is_set():
        fail(f"run timed out after {RUN_TIMEOUT_S} s; see {log}", 3)
    if rc != 0 or result is None:
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        fail(f"run failed (exit {rc}); see {log}", 1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
