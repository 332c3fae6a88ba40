"""Tracing overhead: one untraced and one traced run of a workload at
the same seed, and the difference of their end-to-end metrics.

    python3 perfbench/overhead.py --workload read_api --seed 1 [--seconds 5]

The traced run measures its end-to-end metrics the same way as the
untraced one (tracing work happens outside the timed calls but shares
the JVM), so ``traced - untraced`` is what tracing costs.  One pair is
one sample: repeat over seeds before trusting a small difference.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(os.path.dirname(HERE), ".bench_out")
sys.path.insert(0, HERE)

from run import END_TO_END  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=5)
    args = ap.parse_args()
    e2e = {}
    os.makedirs(OUT, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=OUT,
                                     prefix="overhead-") as out:
        for trace in (0, 1):
            report = os.path.join(out, f"t{trace}.json")
            subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"),
                 "--workload", args.workload, "--seed", str(args.seed),
                 "--seconds", str(args.seconds), "--trace", str(trace),
                 "--report", report], check=True, stdout=subprocess.DEVNULL)
            with open(report) as f:
                e2e[trace] = json.load(f)["end_to_end"]
    rows = {k: {"unit": u, "untraced": e2e[0][k], "traced": e2e[1][k],
                "overhead": e2e[1][k] - e2e[0][k]}
            for k, u in END_TO_END.items()}
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "tracing_overhead": rows}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
