"""opr-spark benchmark: one seeded closed-loop run of one workload.

    python3 perfbench/run.py --workload read_api --seed 1 --seconds 1 --trace 0

Run from the repository root.  The run generates the input tables
(``datagen.py``), starts ``client.py`` in a session of its own with
the regime pinned (``SPARK_GRAFT_CPUS`` = cores, the repository on
``PYTHONPATH``, temporary and Spark local directories and the working
directory inside a per-run directory under ``.bench_work/``), waits for
it and every process it started, and deletes the run directory.

The last line of stdout is the result::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics for ``--trace 0`` and the per-layer sums
for ``--trace 1``.  The line before it is a summary with the regime,
``error_rate`` and (for workloads with streaming) ``microbatch_p50_s``.
The full report, with every request's per-layer metrics, is written to
``--report`` (default ``.bench_out/<workload>-s<seed>-t<trace>.json``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402

#: end-to-end metrics of the result line, with their units
END_TO_END = {
    "setup_s": "s",
    "throughput_qps": "1/s",
}
#: reported in the summary line only (README.md says why)
SUMMARY_ONLY = {"latency_p50_s": "s", "latency_p90_s": "s",
                "mem_peak_mb": "MB", "error_rate": "share",
                "microbatch_p50_s": "s"}
#: hard limit for the client; with the group shutdown a run ends
#: within 180 s
DEADLINE_S = 150.0
SF = 0.01


def _session_pids(sid: int) -> list[int]:
    """Live processes of session ``sid``: the client and everything it
    started, including the Python worker daemon, which moves itself to a
    process group of its own."""
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                state, _ppid, _pgrp, session = \
                    f.read().rsplit(")", 1)[1].split()[:4]
        except OSError:
            continue
        if int(session) == sid and state != "Z":
            pids.append(int(entry))
    return pids


def _stop_session(sid: int, grace_s: float = 5.0) -> None:
    """Wait until every process of session ``sid`` has exited; after
    ``grace_s`` send SIGTERM, after another ``grace_s`` SIGKILL."""
    signals = [signal.SIGTERM, signal.SIGKILL]
    deadline = time.time() + grace_s
    while pids := _session_pids(sid):
        if time.time() > deadline:
            sig = signals[0] if len(signals) == 1 else signals.pop(0)
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.time() + grace_s
        time.sleep(0.1)


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def main() -> int:
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--sf", type=float, default=SF,
                    help=f"input scale factor (default {SF})")
    ap.add_argument("--report", help="where to write the full JSON report")
    args = ap.parse_args()

    for needed in ("__spark_entry__.py", "openplacereviews_db_spark"):
        if not os.path.exists(os.path.join(ROOT, needed)):
            print(f"perfbench: {needed} not found under {ROOT}; run from a "
                  f"checkout of the repository", file=sys.stderr)
            return 2

    report_path = args.report or os.path.join(
        ROOT, ".bench_out",
        f"{args.workload}-s{args.seed}-t{args.trace}.json")
    os.makedirs(os.path.dirname(os.path.abspath(report_path)), exist_ok=True)
    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    dirs = {k: os.path.join(work, k)
            for k in ("data", "tmp", "local", "cwd")}
    for d in dirs.values():
        os.makedirs(d)
    try:
        import datagen

        datagen.generate(args.sf, args.seed, dirs["data"])
        out_path = os.path.join(work, "report.json")
        env = dict(os.environ)
        pythonpath = (ROOT, HERE, os.environ.get("PYTHONPATH", ""))
        env.update({
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "PYTHONPATH": os.pathsep.join(p for p in pythonpath if p),
            "TMPDIR": dirs["tmp"],
            "SPARK_LOCAL_DIRS": dirs["local"],
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={dirs['tmp']}",
            "PYTHONHASHSEED": "0",
        })
        for knob in ("SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_UI",
                     "SPARK_GRAFT_VERIFY_SHUFFLE", "SPARK_GRAFT_IO_CODEC",
                     "SPARK_GRAFT_STREAM_SHUFFLE"):
            env.pop(knob, None)
        cmd = [sys.executable, os.path.join(HERE, "client.py"),
               "--workload", args.workload, "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--data", dirs["data"],
               "--out", out_path]
        proc = subprocess.Popen(cmd, cwd=dirs["cwd"], env=env,
                                stdout=sys.stderr, start_new_session=True)
        try:
            code = proc.wait(timeout=DEADLINE_S)
        except subprocess.TimeoutExpired:
            print(f"perfbench: run exceeded {DEADLINE_S:.0f} s",
                  file=sys.stderr)
            code = -1
        finally:
            # also on SIGTERM/SIGINT: no JVM or Python worker outlives us
            _stop_session(proc.pid, grace_s=0.0 if proc.poll() is None
                          else 5.0)
            proc.wait()
        if code != 0:
            print(f"perfbench: client exited with {code}", file=sys.stderr)
            return 1
        with open(out_path) as f:
            report = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    with open(report_path, "w") as f:
        json.dump(report, f, indent=1)
    e2e = report["end_to_end"]
    summary = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "sf": args.sf,
        "regime": report["regime"], "report": report_path,
        "errors": sorted({f"{r['query']}: {r['error'][:200]}"
                          for r in report["requests"] if "error" in r}),
        "end_to_end": {k: {"value": e2e[k], "unit": u}
                       for k, u in {**END_TO_END, **SUMMARY_ONLY}.items()
                       if k in e2e},
    }
    if args.trace:
        from layers import PER_LAYER
        metrics = {k: {"value": report["per_layer"][k], "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u}
                   for k, u in END_TO_END.items()}
    print(json.dumps(summary))
    print(json.dumps({"correct": report["failed"] == 0,
                      "attempted": report["attempted"],
                      "failed": report["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
