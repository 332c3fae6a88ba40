"""One benchmark run inside one Spark session (started by ``run.py``).

A single closed-loop client sends the workload's requests one at a time:
``fn(spark, sf_dir)`` and then ``.collect()``.  The next request goes out
only when the last one has returned and the between-request cleanup is
done.  Every request's rows are compared with the query's DuckDB oracle,
evaluated before the session starts.

Usage (``run.py`` sets the environment and working directory first):
    python3 client.py --workload W --seconds S --trace 0|1 --data DIR
        --out FILE
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import datetime  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

from datagen import TABLES  # noqa: E402
from layers import PER_LAYER, Tracer, cpu_ticks  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _norm_cell(v):
    # same normalization as the oracle-parity test suite
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v + 0.0, 9)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(_norm_cell(x) for x in v)
    return v


def normalize(rows, cols) -> tuple[tuple[str, ...], list]:
    """Order-insensitive form of a result: columns sorted by name, cells
    normalized, rows sorted by repr."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=repr)
    return tuple(sorted(cols)), out


def oracle_results(names, oracles, data_dir: str) -> dict:
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(data_dir, t)}.parquet'")
        out = {}
        for name in names:
            res = con.execute(oracles[name])
            cols = [d[0] for d in res.description]
            out[name] = normalize(res.fetchall(), cols)
        return out
    finally:
        con.close()


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in (0, 1])."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def cleanup(spark) -> None:
    """Between-request cleanup: drop cached and checkpointed blocks."""
    spark.catalog.clearCache()
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().values().iterator()
    while it.hasNext():
        it.next().unpersist(False)
    gc.collect()


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def regime(spark) -> dict:
    from openplacereviews_db_spark.functions import sizing

    sc = spark.sparkContext
    jvm = sc._jvm
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    pins = sizing.small_exchange_parts(spark, 0) is not None
    return {
        "master": sc.master,
        "cores": len(os.sched_getaffinity(0)),
        "shuffle_partitions": parts,
        "driver_heap": sc.getConf().get("spark.driver.memory"),
        "spark_version": spark.version,
        "java_version": jvm.java.lang.System.getProperty("java.version"),
        "python_version": sys.version.split()[0],
        "small_exchange_pinning": (
            "engages" if pins else
            f"never engages: at {parts} shuffle partitions the floor of "
            f"sizing.small_exchange_parts is at least the session count, "
            f"so the pinned dedup-verify plans do not run here"),
    }


def run_request(spark, tracer: Tracer, fn, name: str, data_dir: str,
                expected) -> dict:
    """Send one request, clean up after it, check its rows and read its
    per-layer metrics.  ``wall_s`` is the request's latency whether it
    succeeded or not; ``latency_s`` is set only when its rows match the
    oracle."""
    tracer.mark()
    s0, k0 = cpu_ticks()
    rec: dict = {"query": name}
    df = rows = None
    t_start = time.time()
    try:
        df = fn(spark, data_dir)
        t_built = time.time()
        rows = df.collect()
        t_done = time.time()
    except Exception as ex:  # a failed request is counted, not fatal
        t_built = t_done = time.time()
        rec["error"] = f"{type(ex).__name__}: {ex}"[:2000]
    rec["wall_s"] = t_done - t_start
    t_clean = time.time()
    cleanup(spark)
    cleanup_s = time.time() - t_clean
    s1, k1 = cpu_ticks()
    if rows is not None:
        got = normalize([tuple(r) for r in rows], df.columns)
        if got != expected:
            rec["error"] = (f"mismatch: {len(got[1])} rows {got[0]} vs "
                            f"oracle {len(expected[1])} rows {expected[0]}")
        else:
            rec["latency_s"] = rec["wall_s"]
    layers = tracer.collect((t_start, t_built), t_done - t_built, df)
    layers["session.cleanup_s"] = cleanup_s
    layers["env.load_1m"] = os.getloadavg()[0]
    layers["env.steal_s"] = (s1 - s0) / os.sysconf("SC_CLK_TCK")
    layers["env.steal_share"] = (s1 - s0) / max(1, k1 - k0)
    rec["layers"] = layers
    return rec


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]

    import __spark_entry__ as entry

    queries = entry.queries()
    t0 = time.time()
    expected = oracle_results(wl.queries, entry.oracle_sql(), args.data)
    oracle_s = time.time() - t0

    from openplacereviews_db_spark.session import get_spark

    spark = get_spark("perfbench", sf_dir=args.data)
    spark.sparkContext.setLogLevel("ERROR")
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle
                  .current().pid())
    tracer = Tracer(spark, detailed=bool(args.trace))

    steal0, ticks0 = cpu_ticks()
    setup_s = time.time() - PROCESS_START - oracle_s
    requests = [run_request(spark, tracer, queries[name], name, args.data,
                            expected[name]) for name in wl.queries]
    timed_wall = sum(r["wall_s"] + r["layers"]["session.cleanup_s"]
                     for r in requests)
    if timed_wall < args.seconds:
        raise SystemExit(f"the timed pass took {timed_wall:.1f} s, less "
                         f"than --seconds {args.seconds}")
    failed = sum("error" in r for r in requests)
    steal1, ticks1 = cpu_ticks()
    mem_peak_mb = vm_hwm_mb(jvm_pid)
    info = regime(spark)
    batch_s = [b.get("durationMs", {}).get("triggerExecution", 0) / 1e3
               for b in tracer.stream.since(0)]
    tracer.close()
    spark.stop()

    lat = [r["latency_s"] for r in requests if "latency_s" in r]
    e2e = {
        "setup_s": setup_s,
        "throughput_qps": len(lat) / timed_wall,
        "latency_p50_s": statistics.median(lat) if lat else float("nan"),
        "latency_p90_s": percentile(lat, 0.9) if lat else float("nan"),
        "mem_peak_mb": mem_peak_mb,
        "error_rate": failed / len(requests),
    }
    if batch_s:
        e2e["microbatch_p50_s"] = statistics.median(batch_s)
    per_layer = {k: 0.0 for k in PER_LAYER}
    for r in requests:
        for k, v in r["layers"].items():
            per_layer[k] += v
    per_layer["env.load_1m"] /= len(requests)
    per_layer["env.steal_s"] = (steal1 - steal0) / os.sysconf("SC_CLK_TCK")
    per_layer["env.steal_share"] = (steal1 - steal0) / max(1, ticks1 - ticks0)
    per_layer["streaming.batch_p50_s"] = (statistics.median(batch_s)
                                          if batch_s else 0.0)
    for k in ("streaming.state_rows", "streaming.state_mem_bytes"):
        per_layer[k] = max(r["layers"][k] for r in requests)
    report = {
        "workload": wl.name,
        "trace": args.trace,
        "attempted": len(requests),
        "failed": failed,
        "timed_wall_s": timed_wall,
        "oracle_s": oracle_s,
        "regime": info,
        "end_to_end": e2e,
        "per_layer": per_layer if args.trace else None,
        "requests": requests,
    }
    with open(args.out, "w") as f:
        json.dump(report, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
