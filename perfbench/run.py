#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first call builds the engine and the
benchmark with sbt (offline) into the checkout; later calls reuse the build
while the sources are unchanged. The JVM's last line of standard output, a
JSON object, is the result; progress and diagnostics go to standard error.
"""

import argparse
import hashlib
import os
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = ROOT / ".bench_build"
LAUNCH = WORK / "launch.txt"
STAMP = WORK / "launch.stamp"
WORKLOADS = ["csv_report", "lake_curation"]
HEAP = "2g"
# JIT settings per workload. At the default compile thresholds both
# workloads' job times kept falling for a minute and more, well past any
# warm-up a run can afford, so each run measured a different point of that
# descent. Compiling at a fraction of the usual invocation counts makes them
# steady sooner: a tenth for csv_report's one small, hot code path; a third
# for lake_curation, whose far larger code floods the compiler queue at a
# tenth and then warms up slower than at the default.
JIT = {"csv_report": ["-XX:CompileThresholdScaling=0.1"],
       "lake_curation": ["-XX:CompileThresholdScaling=0.3"]}
# A run must end within 180 s; the first call in a fresh checkout also builds.
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads, in a stable order."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for tree in (ROOT / "src" / "main", BENCH / "src" / "main"):
        files += sorted(p for p in tree.rglob("*") if p.is_file())
    return files


def stamp():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def run_bounded(cmd, limit_s, **kw):
    """Runs cmd in its own process group; kills the whole group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise
    return proc.returncode, out


def build():
    want = stamp()
    if LAUNCH.exists() and STAMP.exists() and STAMP.read_text() == want:
        return
    log("building engine and benchmark with sbt")
    WORK.mkdir(exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    sbt_opts = ["-Dsbt.offline=true", f"-Dsbt.global.base={WORK / 'sbt-global'}",
                "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        sbt_opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(sbt_opts)
    t0 = time.time()
    rc, _ = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "exportLaunch"],
                        BUILD_LIMIT_S, cwd=BENCH, env=env, stdout=sys.stderr,
                        stdin=subprocess.DEVNULL)
    if rc != 0 or not LAUNCH.exists():
        sys.exit(f"build failed (sbt exit {rc})")
    STAMP.write_text(want)
    log(f"build took {time.time() - t0:.0f} s")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    args = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir() or not (ROOT / "build.sbt").is_file():
        sys.exit(f"no engine sources next to the benchmark (looked in {ROOT}); "
                 "run from the root of a full checkout")

    build()
    lines = LAUNCH.read_text().splitlines()
    classpath, jvm_opts = lines[0], [o for o in lines[1:] if o]
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}"] + JIT[args.workload] + [f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}"] + jvm_opts +
           ["-cp", classpath, "perfbench.Bench",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--root", str(ROOT)])
    limit = RUN_LIMIT_S
    try:
        rc, out = run_bounded(cmd, limit, cwd=ROOT, stdout=subprocess.PIPE,
                              stdin=subprocess.DEVNULL, text=True)
    except subprocess.TimeoutExpired:
        sys.exit(f"benchmark run exceeded {limit:.0f} s")
    lines = out.strip().splitlines()
    if rc != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out)
        sys.exit(f"benchmark run failed (exit {rc})")
    print(lines[-1], flush=True)


if __name__ == "__main__":
    main()
