#!/usr/bin/env python3
"""Benchmark entry point for the scout serving engine.

    python3 perfbench/run.py --workload serve_point --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
harness from source with sbt (perfbench/build.sbt); later runs reuse the
build while no source file changed. Each run generates its inputs from
--seed, sets up and measures one workload (see BENCHMARK.json), checks
every answer, and prints one JSON result object as the last line of
stdout. --trace 1 reports the per-layer metrics instead of the
end-to-end ones and keeps the spans in perfbench/out/.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import threading
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("serve_point", "serve_batch")
# Everything the build reads: a change to any of these rebuilds.
BUILD_INPUTS = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
                ROOT / "src" / "main", HERE / "build.sbt",
                HERE / "project" / "build.properties", HERE / "src" / "main"]


# Environment overrides of the engine's launch (build.sbt, graft.Boot);
# the benchmark always runs the shipped defaults.
SHIPPED_LAUNCH_KNOBS = ("SPARK_DRIVER_MEM", "SPARK_GRAFT_EXTRA_JAVA_OPTS",
                        "SPARK_GRAFT_MASTER")


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    for p in BUILD_INPUTS:
        files = sorted(p.rglob("*")) if p.is_dir() else [p]
        for f in files:
            if f.is_file():
                st = f.stat()
                h.update(f"{f.relative_to(ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile with sbt once per source state; returns launch.txt."""
    launch = HERE / "target" / "launch.txt"
    stamp_file = HERE / "target" / "launch.stamp"
    stamp = source_stamp()
    if launch.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return launch
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    # the JVM options are those the shipped `sbt run` forks with: no
    # caller override of the heap cap or extra flags
    for knob in SHIPPED_LAUNCH_KNOBS:
        env.pop(knob, None)
    log = HERE / "target" / "build.log"
    log.parent.mkdir(parents=True, exist_ok=True)
    with open(log, "w") as out:
        rc = subprocess.call(["sbt", "-batch", "launchSpec"], cwd=HERE, env=env,
                             stdout=out, stderr=subprocess.STDOUT)
    if rc != 0 or not launch.exists():
        sys.stderr.write(log.read_text()[-4000:])
        die(f"build failed (exit {rc}); full log in {log}")
    stamp_file.write_text(stamp)
    return launch


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir() or not (ROOT / "build.sbt").is_file():
        die(f"no engine sources under {ROOT} (run from a full checkout)")
    launch = build()
    cp = next(l[len("bench_cp="):] for l in launch.read_text().splitlines()
              if l.startswith("bench_cp="))
    opts = next(l[len("java_opts="):] for l in launch.read_text().splitlines()
                if l.startswith("java_opts=")).split("\t")

    work = HERE / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    result = work / "result.json"
    env = {k: v for k, v in os.environ.items() if k not in SHIPPED_LAUNCH_KNOBS}
    env["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    cmd = ["java", *opts, "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", str(work), "--out", str(result)]
    log = open(work / "harness.log", "w")
    # own session: on a timeout the whole group goes
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            stderr=log, text=True, start_new_session=True)
    def kill_group():
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    # a run must end within its time limit, build excluded
    watchdog = threading.Timer(165, kill_group)
    watchdog.start()
    try:
        for line in proc.stdout:
            print(line, end="", flush=True)
        rc = proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            kill_group()
            proc.wait()
        kill_group()  # anything the harness left behind
        log.close()
    ok = rc == 0 and result.exists()
    if ok and a.trace:
        out = HERE / "out"
        out.mkdir(exist_ok=True)
        if (work / "spans.jsonl").exists():
            shutil.copy(work / "spans.jsonl", out / f"spans-{a.workload}-{a.seed}.jsonl")
    if not ok:
        tail = (work / "harness.log").read_text()[-3000:]
        sys.stderr.write(tail)
        die(f"run failed (exit {rc}); work dir kept at {work}")
    text = result.read_text()
    shutil.rmtree(work, ignore_errors=True)
    print(text)


if __name__ == "__main__":
    main()
