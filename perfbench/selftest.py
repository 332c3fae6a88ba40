"""Self-test of the benchmark at a tiny scale.

    python3 perfbench/selftest.py [--sf 0.001] [--seed 7]

For every workload it makes one untraced and two traced runs at the
same seed, and checks that:

- ``BENCHMARK.json`` names the same workloads and metrics, with the
  same units, as the code;
- each run is correct and its result line has exactly the contract's
  keys;
- the untraced result carries every end-to-end metric and the summary
  line ``error_rate``, each with its unit; the traced result carries
  every per-layer metric with its unit;
- the counts in ``layers.FINGERPRINT`` (stages, tasks, shuffle records,
  micro-batches) repeat exactly, request by request, across the two
  traced runs.

Exits 0 when every check passes.  Takes a few minutes.
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

from layers import FINGERPRINT, PER_LAYER  # noqa: E402
from run import END_TO_END, SUMMARY_ONLY  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def bench(workload: str, seed: int, trace: int, sf: float,
          report: str) -> tuple[dict, dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"),
           "--workload", workload, "--seed", str(seed), "--seconds", "1",
           "--trace", str(trace), "--sf", str(sf), "--report", report]
    proc = subprocess.run(cmd, capture_output=True, text=True)
    if proc.returncode != 0:
        raise AssertionError(f"{' '.join(cmd)} exited {proc.returncode}:\n"
                             f"{proc.stderr[-4000:]}")
    lines = proc.stdout.strip().splitlines()
    with open(report) as f:
        return json.loads(lines[-2]), json.loads(lines[-1]), json.load(f)


def check_metrics(result: dict, expected: dict[str, str], what: str) -> None:
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == expected, f"{what}: metrics {got} != {expected}"
    for k, v in result["metrics"].items():
        assert isinstance(v["value"], (int, float)), f"{what}: {k} {v}"


def fingerprint(report: dict) -> list[tuple]:
    return [(r["query"], *(r["layers"][k] for k in FINGERPRINT))
            for r in report["requests"]]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", type=float, default=0.001)
    ap.add_argument("--seed", type=int, default=7)
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(WORKLOADS)
    os.makedirs(OUT, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=OUT,
                                     prefix="selftest-") as out:
        for name in sorted(WORKLOADS):
            def path(tag: str) -> str:
                return os.path.join(out, f"{name}-{tag}.json")

            summary, result, _ = bench(name, args.seed, 0, args.sf,
                                       path("t0"))
            assert set(result) == {"correct", "attempted", "failed",
                                   "metrics"}, result
            assert result["correct"] and result["failed"] == 0, summary
            assert result["attempted"] == len(WORKLOADS[name].queries)
            check_metrics(result, END_TO_END, f"{name} untraced")
            assert summary["end_to_end"]["error_rate"] == {
                "value": 0.0, "unit": SUMMARY_ONLY["error_rate"]}, summary
            prints = []
            for tag in ("t1a", "t1b"):
                _, result, report = bench(name, args.seed, 1, args.sf,
                                          path(tag))
                assert result["correct"], report
                check_metrics(result, PER_LAYER, f"{name} traced")
                prints.append(fingerprint(report))
            diff = [(a, b) for a, b in zip(*prints) if a != b]
            assert not diff, f"{name}: fingerprint differs: {diff[:5]}"
            print(f"{name}: ok ({len(prints[0])} requests, fingerprint "
                  f"{FINGERPRINT} repeats)", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
