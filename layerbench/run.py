"""Runs one layerbench measurement from the root of a checkout:

    python3 layerbench/run.py --workload chat_bbcode --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark from source first when needed (see
build.py), then runs one driver JVM at local[nproc]. Every line the JVM
prints is passed on; the last line is the result JSON. With --trace 0 its
metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1 the
per-layer ones. A per-run artifact (host stamp, input digest, per-pass
figures, checks and, when traced, the span tree) goes to
layerbench/results/. The exit code is 0 only when every output check passed.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import threading

import build

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = build.ROOT
RUN_TIMEOUT_S = 170
def git_commit():
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "none"
    except (OSError, subprocess.TimeoutExpired):
        return "none"


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()

    try:
        sha, jvm_classpath = build.build()
    except build.BuildError as e:
        sys.exit("layerbench: %s" % e)

    work = os.path.join(HERE, ".work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    artifact = os.path.join(HERE, "results", "%s-s%d-t%d.json" % (args.workload, args.seed, args.trace))
    cmd = (["java"] + build.jvm_opts(os.path.join(work, "tmp")) + jvm_classpath
           + ["layerbench.LayerBench",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--artifact", artifact,
              "--commit", git_commit(), "--source-sha", sha])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT)
    watchdog = threading.Timer(RUN_TIMEOUT_S, proc.kill)
    watchdog.start()
    lines = []
    try:
        for line in proc.stdout:
            lines.append(line.rstrip("\n"))
            if not line.startswith("{"):
                print(line, end="", flush=True)
        code = proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if not lines or not lines[-1].startswith("{"):
        sys.exit("layerbench: the run printed no result (exit %d)" % code)
    result = json.loads(lines[-1])
    got = set(result["metrics"])
    want = expected_metrics(args.trace)
    print(lines[-1], flush=True)
    if got != want:
        sys.exit("layerbench: metric names differ from BENCHMARK.json: %s"
                 % sorted(got.symmetric_difference(want)))
    sys.exit(code)


if __name__ == "__main__":
    main()
