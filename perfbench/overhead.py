#!/usr/bin/env python3
"""Tracing overhead: run one workload untraced and traced on the same seed
and print, for each end-to-end metric, the traced value over the
untraced one.

    python3 perfbench/overhead.py --workload stream --seed 1 --seconds 15

Run from the repository root. A single pair carries the run-to-run spread
of each metric; repeat over seeds before reading a ratio as overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(args, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)],
        check=True, capture_output=True, text=True,
    ).stdout.strip().splitlines()[-1]
    return json.loads(out)["metrics"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    args = ap.parse_args()
    plain, traced = run(args, 0), run(args, 1)
    for name, m in plain.items():
        t = traced[f"traced.{name}"]["value"]
        print(f"{name:18s} untraced {m['value']:12.2f} traced {t:12.2f} "
              f"ratio {t / m['value']:.3f} {m['unit']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
