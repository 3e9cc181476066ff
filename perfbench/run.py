#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload serve_read --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The first run builds the program and the
benchmark with sbt (the program from the checkout's own build); later runs
reuse the build until a source file changes. The last line of standard
output is the result JSON written by perfbench.Main.
"""
import argparse
import hashlib
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
LAUNCH = os.path.join(WORK, "launch.txt")
STAMP = os.path.join(WORK, "launch.stamp")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 175


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every source and build file's path, size and mtime."""
    h = hashlib.sha1()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
                os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                p = os.path.join(d, f)
                st = os.stat(p)
                h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    for p in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        st = os.stat(p)
        h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(stamp):
    os.makedirs(WORK, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "launchFile"]
    try:
        r = subprocess.run(cmd, cwd=HERE, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"build took longer than {BUILD_TIMEOUT_S} s")
    if r.returncode != 0 or not os.path.exists(LAUNCH):
        fail(f"build failed (sbt exit {r.returncode})")
    with open(STAMP, "w") as f:
        f.write(stamp)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no program sources next to {HERE}: run from the root of a full checkout")
    stamp = source_stamp()
    if not (os.path.exists(LAUNCH) and os.path.exists(STAMP)
            and open(STAMP).read() == stamp):
        build(stamp)
    with open(LAUNCH) as f:
        jvm = [line for line in f.read().splitlines() if line]
    cmd = ["java", f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"] + jvm + [
        "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace]
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    p = subprocess.Popen(cmd, cwd=ROOT)
    try:
        code = p.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail(f"run took longer than {RUN_TIMEOUT_S} s")
    sys.exit(code)


if __name__ == "__main__":
    main()
