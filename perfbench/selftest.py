#!/usr/bin/env python3
"""Check that the benchmark's output check can fail.

Runs one curation_ops run against a copy of expected.tsv whose first
curation digest is perturbed, and asserts that the run reports the
mismatch: failed >= 1, correct false and ok_frac (1 - failed_frac)
below 1. Run from the root of a graft checkout:

    python3 perfbench/selftest.py
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    work = os.path.join(HERE, ".work")
    os.makedirs(work, exist_ok=True)
    perturbed = os.path.join(work, "expected.perturbed.tsv")
    lines = open(os.path.join(HERE, "expected.tsv")).read().splitlines()
    for i, line in enumerate(lines):
        cols = line.split("\t")
        if cols[0] == "curation_ops":
            cols[3] = cols[3][:-1] + ("0" if cols[3][-1] != "0" else "1")
            lines[i] = "\t".join(cols)
            break
    with open(perturbed, "w") as f:
        f.write("\n".join(lines) + "\n")
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "curation_ops",
         "--seed", "1", "--seconds", "1", "--trace", "0", "--expected", perturbed],
        stdout=subprocess.PIPE, text=True, check=True).stdout.strip().splitlines()
    result = json.loads(out[-1])
    ok_frac = result["metrics"]["ok_frac"]["value"]
    print("\n".join(l for l in out if l.startswith("mismatch")))
    assert result["failed"] >= 1, result
    assert result["correct"] is False, result
    assert ok_frac < 1.0, result
    print(f"selftest ok: failed={result['failed']} of {result['attempted']}, ok_frac={ok_frac}")


if __name__ == "__main__":
    main()
