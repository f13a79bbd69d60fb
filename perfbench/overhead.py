"""Tracing overhead: run one workload and seed untraced, then traced, and
print the traced run's end-to-end numbers against the untraced ones.

    python3 perfbench/overhead.py --workload pip_join --seed 1 --seconds 14

Run from the repository root. Both runs regenerate nothing (the inputs are
cached after the first) and use the same settings.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
PAIRS = [("setup_s", "traced.setup_s"), ("query_p50_s", "traced.query_p50_s"),
         ("rows_per_s", "traced.rows_per_s")]


def run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        check=True, capture_output=True, text=True).stdout
    return json.loads(out.strip().splitlines()[-1])["metrics"]


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    args = p.parse_args(argv)
    plain = run(args.workload, args.seed, args.seconds, 0)
    traced = run(args.workload, args.seed, args.seconds, 1)
    for e2e, tr in PAIRS:
        a, b = plain[e2e]["value"], traced[tr]["value"]
        print(f"{e2e}: untraced {a:.4g}, traced {b:.4g}, difference {b - a:+.4g} "
              f"({(b - a) / a:+.1%})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
