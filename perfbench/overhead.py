"""Tracing overhead: runs ``run.py`` untraced and traced on the same
seeds and compares the medians of ``op_s`` and ``trace.op_s``.

    python3 perfbench/overhead.py --workload curate_full --seeds 1 2 3

Run from the root of a checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def op_s(workload: str, seed: int, trace: int, seconds: int) -> float:
    out = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        check=True, stdout=subprocess.PIPE, text=True,
    ).stdout  # fmt: skip
    metrics = json.loads(out.strip().splitlines()[-1])["metrics"]
    return metrics["trace.op_s" if trace else "op_s"]["value"]


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    p.add_argument("--seconds", type=int, default=1)
    args = p.parse_args()
    plain, traced = [], []
    for seed in args.seeds:  # alternate so drift in host load hits both sides
        plain.append(op_s(args.workload, seed, 0, args.seconds))
        traced.append(op_s(args.workload, seed, 1, args.seconds))
    a, b = statistics.median(plain), statistics.median(traced)
    print(f"{args.workload}: op_s untraced {a:.3f} s, traced {b:.3f} s, overhead {100 * (b / a - 1):+.1f}%")
    return 0


if __name__ == "__main__":
    sys.exit(main())
