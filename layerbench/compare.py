"""Compares two sets of run artifacts (layerbench/results/*.json copied
into two directories, e.g. one per commit) metric by metric and workload by
workload: median of each side, change, and whether it is within the bound
in BENCHMARK.json.

    python3 layerbench/compare.py BASE_DIR NEW_DIR

Refuses to compare artifacts taken on different core counts.
"""
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(d):
    runs = {}
    for path in sorted(glob.glob(os.path.join(d, "*-t0.json"))):
        with open(path) as f:
            a = json.load(f)
        runs.setdefault(a["host"]["workload"], []).append(a)
    return runs


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    base, new = load(sys.argv[1]), load(sys.argv[2])
    cores = {a["host"]["nproc"] for side in (base, new) for rs in side.values() for a in rs}
    if len(cores) > 1:
        sys.exit("refusing to compare: runs were taken on different core counts %s" % sorted(cores))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = {m["name"]: m for m in json.load(f)["end_to_end"]}
    nproc = next(iter(cores), "?")
    for wl in sorted(set(base) & set(new)):
        print("%s (base %d runs, new %d runs, %s cores)" % (wl, len(base[wl]), len(new[wl]), nproc))
        for name, m in spec.items():
            b = statistics.median(a["result"]["metrics"][name]["value"] for a in base[wl])
            n = statistics.median(a["result"]["metrics"][name]["value"] for a in new[wl])
            worse = (b - n) / b if m["better"] == "higher" else (n - b) / b
            verdict = "worse beyond bound" if worse > m["bound"] else "within bound"
            print("  %-24s base=%-12.6g new=%-12.6g change=%+.1f%% (%s)"
                  % (name, b, n, 100 * (n - b) / b, verdict))


if __name__ == "__main__":
    main()
