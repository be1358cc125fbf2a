"""Runs one workload once for each of seeds 1-10 and reports, for each metric, the median
and the spread: the distance between the first and third quartile as a
share of the median (statistics.quantiles, n=4). Compares the spread with
a third of the metric's bound in BENCHMARK.json.

    python3 layerbench/steady.py --workload chat_bbcode

The runs are sequential and nothing else should run meanwhile.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEEDS = range(1, 11)


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    values, walls = {}, []
    for seed in SEEDS:
        t = time.time()
        out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
                              "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                              "--trace", "0"],
                             cwd=ROOT, capture_output=True, text=True)
        walls.append(time.time() - t)
        last = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else ""
        if out.returncode != 0 or not last.startswith("{"):
            sys.exit("seed %d failed (exit %d):\n%s\n%s" % (seed, out.returncode, out.stdout[-2000:],
                                                           out.stderr[-2000:]))
        for k, m in json.loads(last)["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        print("seed %d: %.0f s  %s" % (seed, walls[-1], json.loads(last)["metrics"]), flush=True)
    summary = {"workload": args.workload, "seeds": list(SEEDS), "run_wall_s": walls, "metrics": {}}
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        bound = bounds.get(k)
        summary["metrics"][k] = {"values": vs, "median": med, "spread": spread, "bound": bound}
        flag = "" if k == "setup_s" else (" ok" if spread < bound / 3 else " WIDE")
        print("%-24s median=%-14.6g spread=%.4f bound=%s%s" % (k, med, spread, bound, flag))
    print("run wall: median %.1f s, max %.1f s" % (statistics.median(walls), max(walls)))
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    with open(os.path.join(HERE, "results", "steady-%s.json" % args.workload), "w") as f:
        json.dump(summary, f, indent=1)


if __name__ == "__main__":
    main()
