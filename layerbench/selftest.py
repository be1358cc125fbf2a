"""Self-test of the benchmark's failure accounting and input seeding.

1. The planted_throw workload throws inside a Spark task on every pass;
   the run must exit non-zero and report failed > 0 rows.
2. The same seed must give the same input digest in two runs, and another
   seed a different one (within one run, every workload already checks
   this across its repeated set-ups).

    python3 layerbench/selftest.py
"""
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed):
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                          "--seed", str(seed), "--seconds", "1", "--trace", "0"],
                         cwd=ROOT, capture_output=True, text=True)
    lines = out.stdout.strip().splitlines()
    digest = re.search(r"input \S+ rows=\d+ bytes=\d+ digest=(\w+)", out.stdout)
    return out.returncode, json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None, \
        digest.group(1) if digest else None


def main():
    code, result, first = run("planted_throw", 1)
    assert code != 0, "a throwing workload must exit non-zero"
    assert result is not None and result["failed"] > 0 and not result["correct"], result
    print("planted failure: exit %d, failed %d of %d rows (failed_share %.3f)"
          % (code, result["failed"], result["attempted"], result["failed"] / result["attempted"]))
    digests = [first] + [run("planted_throw", s)[2] for s in (1, 2)]
    assert None not in digests, digests
    assert digests[0] == digests[1] != digests[2], digests
    print("input digests: seed 1 twice %s, seed 2 %s" % (digests[0], digests[2]))


if __name__ == "__main__":
    main()
