"""Benchmark self-test: two traced runs at the same seed must report the
same exact counts (layers.EXACT) on every workload, and every reply check
must pass. These are the counts a later change may cite as counts.

Usage (from the root of a checkout):

    python3 perfbench/selftest.py

Exits 0 when every count repeats, 1 otherwise. Takes about a minute per
traced run.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from layers import EXACT  # noqa: E402
from run import WORKLOADS  # noqa: E402

SEED = 7
SECONDS = 10


def traced_run(workload: str, seed: int, seconds: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
        cwd=os.path.dirname(HERE), stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, check=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def main() -> int:
    ok = True
    for w in WORKLOADS:
        a, b = (traced_run(w, SEED, SECONDS) for _ in range(2))
        for r in (a, b):
            if not r["correct"]:
                print(f"{w}: a reply check failed ({r['failed']} ops)")
                ok = False
        for name in EXACT:
            va, vb = a["metrics"][name]["value"], b["metrics"][name]["value"]
            same = va == vb
            ok &= same
            print(f"{w:14s} {name:28s} {va:12.4f} {vb:12.4f} {'same' if same else 'DIFFERENT'}")
    print("selftest", "passed" if ok else "FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
