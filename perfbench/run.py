#!/usr/bin/env python3
"""Runs one benchmark workload of the minibatch path and prints its result.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload stream.count --seed 1 --seconds 24 --trace 0

The first run builds the program and the harness from source with sbt
(offline) into `.bench_build/`; later runs reuse that build while the
sources are unchanged. The harness JVM measures the workload and checks its
outputs; this script prints the harness's summary and, as the last line of
standard output, one JSON object with the keys `correct`, `attempted`,
`failed` and `metrics`. Any failure exits non-zero without a result line.
See perfbench/README.md for the workloads and metrics.
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
HARNESS = HERE / "harness"
OUT = ROOT / ".bench_build" / "perfbench"
WORKLOADS = ("stream.count", "stream.fixed_keep")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Spark on JDK 17 needs these when the session starts outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg: str, code: int = 2) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def sources() -> list:
    """Every file the build reads, in a stable order."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HARNESS / "build.sbt", HARNESS / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HARNESS / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def build() -> str:
    """Builds program and harness unless an up-to-date build exists; returns the classpath."""
    required = [ROOT / "build.sbt", ROOT / "src" / "main" / "scala" / "graft" / "streaming" / "MbStream.scala"]
    missing = [str(p.relative_to(ROOT)) for p in required if not p.is_file()]
    if missing:
        fail(f"the program's sources are not here (missing {', '.join(missing)}); "
             "run from the root of a full checkout")
    digest = hashlib.sha256()
    for f in sources():
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes() if f.is_file() else b"<absent>")
    stamp = digest.hexdigest()
    cp_file, stamp_file = OUT / "classpath.txt", OUT / "build.stamp"
    if stamp_file.is_file() and stamp_file.read_text() == stamp and cp_file.is_file():
        return cp_file.read_text().strip()

    OUT.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") +
                       " -Dsbt.offline=true -Dsbt.override.build.repos=true -Xmx2g").strip()
    log = OUT / "build.log"
    t0 = time.time()
    with open(log, "w") as out:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export harness/Runtime/fullClasspath"],
            cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT, start_new_session=True)
        code = wait(proc, BUILD_TIMEOUT_S)
    text = log.read_text(errors="replace")
    cp = [ln.strip() for ln in text.splitlines() if "perfbench" in ln and os.pathsep in ln
          and not ln.startswith("[")]
    if code != 0 or not cp:
        tail = "\n".join(text.splitlines()[-30:])
        fail(f"build failed (exit {code}) after {time.time() - t0:.0f} s:\n{tail}")
    cp_file.write_text(cp[-1])
    stamp_file.write_text(stamp)
    print(f"[perfbench] built in {time.time() - t0:.0f} s", file=sys.stderr)
    return cp[-1]


def wait(proc: subprocess.Popen, timeout: float) -> int:
    """Waits for a child's process group. At the timeout, or when this script
    is told to stop, kills the group and waits for it. Returns the exit code."""
    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"stopped by signal {signum}", 1)

    for s in (signal.SIGTERM, signal.SIGINT):
        signal.signal(s, stop)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        print(f"[perfbench] timed out after {timeout} s; stopping", file=sys.stderr)
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return -9
    finally:
        for s in (signal.SIGTERM, signal.SIGINT):
            signal.signal(s, signal.SIG_DFL)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    classpath = build()
    work = OUT / f"work-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    result = work / "result.json"
    # a fixed, pre-touched heap keeps garbage-collector sizing out of the
    # timings and out of peak_rss_mb, which then moves with off-heap memory
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xms1g", "-Xmx1g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", str(work), "--artifacts", str(OUT / "artifacts"),
            "--out", str(result)])
    try:
        proc = subprocess.Popen(cmd, cwd=ROOT, start_new_session=True)
        code = wait(proc, RUN_TIMEOUT_S)
        line = result.read_text().strip() if code == 0 and result.is_file() else None
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if line is None:
        fail(f"workload {a.workload} failed (exit {code})", 1)
    sys.stdout.flush()
    print(line)


if __name__ == "__main__":
    main()
