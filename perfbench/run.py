#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload tile_hot --seed 1 --seconds 20 --trace 0

Builds the engine and the benchmark from source with sbt when either has
changed (the first run in a fresh checkout), then starts the benchmark JVM
with the engine's own forked JVM options. Progress and Spark logs go to
stderr. The last line of stdout is the result: a JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. The full record of the run
(provenance, every iteration, spans, failures) is written to
`perfbench/results/`.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORKLOADS = ("tile_hot", "curate")

# Pinned for every commit measured: the heap and young generation that
# build.sbt turns into -Xmx and -Xmn for the forked JVM.
PINNED_ENV = {"SPARK_DRIVER_MEM": "6g", "SPARK_GRAFT_YOUNG": "4g"}
SBT_OPTS = ("-Dsbt.override.build.repos=true "
            "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
            " -Dsbt.offline=true -Xmx2g")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads, relative to the repository root."""
    files = ["build.sbt", "project/build.properties", "perfbench/run.py",
             "perfbench/build.sbt", "perfbench/project/build.properties"]
    for top in ("src/main", "perfbench/src/main"):
        for d, _, names in os.walk(os.path.join(ROOT, top)):
            files += [os.path.relpath(os.path.join(d, n), ROOT) for n in names]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for rel in source_files():
        h.update(rel.encode() + b"\0")
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def run_child(cmd, cwd, env, timeout):
    """Run cmd in its own process group with stdout sent to stderr; kill
    the whole group on timeout. Returns the exit code (None on timeout)."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=sys.stderr,
                         stderr=sys.stderr, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        log(f"timed out after {timeout} s: {cmd[0]}")
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def build(env, stamp):
    launcher = os.path.join(BENCH, "target", "launcher.txt")
    stamp_file = os.path.join(BENCH, "target", "launcher.stamp")
    if os.path.exists(launcher) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return launcher
    log("building the engine and the benchmark with sbt")
    benv = dict(env)
    benv.setdefault("COURSIER_MODE", "offline")
    benv.setdefault("SBT_OPTS", SBT_OPTS)
    code = run_child(["sbt", "-batch", "-Dsbt.log.noformat=true",
                      "writeLauncher"], BENCH, benv, BUILD_TIMEOUT_S)
    if code != 0 or not os.path.exists(launcher):
        log(f"build failed (exit {code})")
        sys.exit(1)
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return launcher


def commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM (see run_child's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    missing = [p for p in ("build.sbt", "src/main/scala")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        log("engine sources not found next to the benchmark: " + ", ".join(missing))
        sys.exit(2)

    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_JAVA_OPTS"}
    env.update(PINNED_ENV)
    stamp = source_hash()
    launcher = build(env, stamp)
    with open(launcher) as f:
        lines = f.read().splitlines()
    classpath, jvm_opts = lines[0], lines[1:]

    work = os.path.join(BENCH, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    record_path = os.path.join(work, "record.json")
    cmd = (["java"] + jvm_opts + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--dir", work, "--data", os.path.join(BENCH, "data"),
            "--out", record_path,
            "--commit", f"git:{commit()} src:{stamp}"])
    t0 = time.time()
    try:
        code = run_child(cmd, ROOT, env, RUN_TIMEOUT_S)
        log(f"benchmark JVM exited {code} after {time.time() - t0:.1f} s")
        if code != 0 or not os.path.exists(record_path):
            sys.exit(1)
        with open(record_path) as f:
            record = json.load(f)
        results = os.path.join(BENCH, "results")
        os.makedirs(results, exist_ok=True)
        shutil.copy(record_path, os.path.join(
            results, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(record["result"]), flush=True)


if __name__ == "__main__":
    main()
