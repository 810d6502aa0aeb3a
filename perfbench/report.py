"""Run every workload untraced and traced, print every metric with its
unit, the layer map, and the tracing overhead per workload.

    python3 perfbench/report.py [--seed N] [--seconds S]

Run from the repository root; takes about four benchmark runs' time.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import workloads  # noqa: E402


def run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, text=True, check=True,
    ).stdout.splitlines()
    for line in out[:-1]:
        print(line)
    return json.loads(out[-1])


def main() -> int:
    p = argparse.ArgumentParser(prog="perfbench/report.py")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=25)
    args = p.parse_args()
    overhead = {}
    ok = True
    for w in workloads.WORKLOADS:
        plain = run(w, args.seed, args.seconds, 0)
        traced = run(w, args.seed, args.seconds, 1)
        ok = ok and plain["correct"] and traced["correct"]
        base = plain["metrics"]["stmt_p50_ms"]["value"]
        overhead[w] = (traced["metrics"]["traced.stmt_p50_ms"]["value"] - base, base)
    print("tracing overhead (traced stmt_p50_ms minus untraced):")
    for w, (d, base) in overhead.items():
        print(f"  {w}: {d:+.1f} ms on {base:.1f} ms ({d / base:+.1%})")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
