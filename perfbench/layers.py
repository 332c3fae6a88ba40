"""Per-layer metrics, read from outside the program.

Nothing here touches the package's code paths.  The client times its own
calls into ``plans`` (build, then collect) and, straight after each
request, reads:

- a private copy of Spark's status store (stages, jobs) and SQL status
  store (SQL metrics such as the Python-worker timings), fed by
  listeners this module registers on the live SparkContext with its own
  retention limits; the session's own store keeps only 50 stages and 8
  executions, so it cannot hold one heavy request;
- Catalyst phase timings from the final DataFrame's query execution;
- streaming progress from a registered ``StreamingQueryListener``;
- load average and hypervisor steal from ``/proc``.

The UI stays off.  A gap in the stage, job or execution ids of a
request's delta raises ``MetricsLost``, so a traced run never reports a
partial sum.
"""

from __future__ import annotations

import json
import re
import statistics
import threading
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

#: every per-layer metric, with its unit, in report order
PER_LAYER = {
    "plans.construct_s": "s",
    "plans.catalyst_analysis_s": "s",
    "plans.catalyst_optimization_s": "s",
    "plans.catalyst_planning_s": "s",
    "plans.eager_exec_s": "s",
    "plans.collect_s": "s",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.wait_s": "s",
    "exec.deser_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_write_bytes": "B",
    "exec.shuffle_read_bytes": "B",
    "exec.shuffle_records": "count",
    "exec.fetch_wait_s": "s",
    "exec.spill_bytes": "B",
    "exec.output_bytes": "B",
    "sources.input_bytes": "B",
    "sources.input_records": "count",
    "sources.files_read": "count",
    "sources.scan_s": "s",
    "operators.python_run_s": "s",
    "operators.python_start_s": "s",
    "operators.python_bytes_sent": "B",
    "operators.python_bytes_returned": "B",
    "streaming.batches": "count",
    "streaming.batch_s": "s",
    "streaming.batch_p50_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.commit_s": "s",
    "streaming.input_rows": "count",
    "streaming.state_rows": "count",
    "streaming.state_mem_bytes": "B",
    "session.cleanup_s": "s",
    "env.load_1m": "load",
    "env.steal_s": "s",
    "env.steal_share": "share",
}

#: counts that must repeat exactly between two traced runs at one seed
FINGERPRINT = ("exec.stages", "exec.tasks", "exec.shuffle_records",
               "streaming.batches")

#: SQL metric name -> per-layer metric
_SQL_METRICS = {
    "time to run Python workers": "operators.python_run_s",
    "time to start Python workers": "operators.python_start_s",
    "data sent to Python workers": "operators.python_bytes_sent",
    "data returned from Python workers": "operators.python_bytes_returned",
    "number of files read": "sources.files_read",
    "scan time": "sources.scan_s",
}

# Unit suffixes in SQL metric strings (Utils.msDurationToString and
# Utils.bytesToString); times are converted to seconds.
_SCALE = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "B": 1.0,
          "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40}
_VALUE = re.compile(r"^([\d,.]+)\s*([A-Za-z]*)")


class MetricsLost(RuntimeError):
    """A status record of the request was missing when read."""


def sql_metric_value(text: str) -> float:
    """Numeric total of a formatted SQL metric ("1,000", "148 ms",
    "total (min, med, max ...)\\n15.9 s (...)", "8.8 KiB")."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = _VALUE.match(line.strip())
    if not m:
        raise ValueError(f"unparsed SQL metric value {text!r}")
    return float(m.group(1).replace(",", "")) * _SCALE.get(m.group(2), 1.0)


def _epoch(ts: str | None) -> float | None:
    # v1 API dates look like "2026-10-17T03:32:39.690GMT"
    if not ts:
        return None
    return datetime.strptime(ts.replace("GMT", "+0000"),
                             "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def _covered(intervals: list[tuple[float, float]], lo: float,
             hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    spans = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, end = 0.0, lo
    for a, b in spans:
        if b <= max(a, end):
            continue
        total += b - max(a, end)
        end = b
    return total


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies summed over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


class _StreamEvents(StreamingQueryListener):
    """Keeps every micro-batch progress as parsed JSON."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        with self.lock:
            self.progress.append(p)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def since(self, start: int) -> list[dict]:
        with self.lock:
            return self.progress[start:]

    def count(self) -> int:
        with self.lock:
            return len(self.progress)


def streaming_metrics(batches: list[dict]) -> dict[str, float]:
    dur = [b.get("durationMs", {}) for b in batches]
    state = [b.get("stateOperators", []) for b in batches]
    trig = [d.get("triggerExecution", 0) / 1e3 for d in dur]
    return {
        "streaming.batches": len(batches),
        "streaming.batch_s": sum(trig),
        "streaming.batch_p50_s": statistics.median(trig) if trig else 0.0,
        "streaming.add_batch_s": sum(d.get("addBatch", 0) for d in dur) / 1e3,
        "streaming.query_planning_s":
            sum(d.get("queryPlanning", 0) for d in dur) / 1e3,
        "streaming.commit_s": sum(d.get("walCommit", 0)
                                  + d.get("commitOffsets", 0)
                                  for d in dur) / 1e3,
        "streaming.input_rows": sum(b.get("numInputRows", 0)
                                    for b in batches),
        "streaming.state_rows": max(
            (sum(op.get("numRowsTotal", 0) for op in ops) for ops in state),
            default=0),
        "streaming.state_mem_bytes": max(
            (sum(op.get("memoryUsedBytes", 0) for op in ops)
             for ops in state), default=0),
    }


class Tracer:
    """Collects the per-layer metrics of one request at a time.

    ``detailed=False`` registers only the streaming listener (for the
    end-to-end micro-batch latency); ``detailed=True`` adds the private
    status stores and Catalyst phases for the traced run.
    """

    def __init__(self, spark, detailed: bool) -> None:
        self.spark = spark
        self.detailed = detailed
        self.stream = _StreamEvents()
        spark.streams.addListener(self.stream)
        self._listeners = []
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        if not detailed:
            return
        jvm = sc._jvm
        conf = self._jsc.conf().clone()
        for key in ("spark.ui.retainedStages", "spark.ui.retainedJobs",
                    "spark.sql.ui.retainedExecutions"):
            conf.set(key, str(2**30))
        none = jvm.scala.Option.empty()
        status = jvm.org.apache.spark.status
        kv = status.ElementTrackingStore(
            jvm.org.apache.spark.util.kvstore.InMemoryStore(), conf)
        app = status.AppStatusListener(kv, conf, True, none, none)
        self.store = status.AppStatusStore(kv, jvm.scala.Option.apply(app),
                                           none)
        ui = jvm.org.apache.spark.sql.execution.ui
        kv_sql = status.ElementTrackingStore(
            jvm.org.apache.spark.util.kvstore.InMemoryStore(), conf)
        sql = ui.SQLAppStatusListener(conf, kv_sql, True)
        self.sql_store = ui.SQLAppStatusStore(kv_sql,
                                              jvm.scala.Option.apply(sql))
        for listener in (app, sql):
            self._jsc.addSparkListener(listener)
            self._listeners.append(listener)
        self._mapper = status.api.v1.JacksonMessageWriter().mapper()
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self._next_job = self._seen_execs = 0
        self._seen_stages: set[int] = set()

    def close(self) -> None:
        for listener in self._listeners:
            self._jsc.removeSparkListener(listener)
        self._listeners = []
        self.spark.streams.removeListener(self.stream)

    def drain(self) -> None:
        """Wait until every posted event reached the listeners."""
        self._jsc.listenerBus().waitUntilEmpty()

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def mark(self) -> None:
        """Skip everything that ran before the next measured request."""
        self.drain()
        self.stream_mark = self.stream.count()
        if not self.detailed:
            return
        self._new_stages(self._new_jobs())
        self._new_executions()

    def _new_jobs(self) -> list[dict]:
        """Every job with an id not read before."""
        out = []
        next_id = self._jsc.dagScheduler().nextJobId()
        next_id = next_id if isinstance(next_id, int) else next_id.get()
        for jid in range(self._next_job, next_id):
            try:
                out.append(self._json(self.store.job(jid)))
            except Exception as ex:  # py4j wraps NoSuchElementException
                raise MetricsLost(f"job {jid} missing from the status "
                                  f"store: {ex}") from None
        self._next_job = next_id
        return out

    def _new_stages(self, jobs: list[dict]) -> list[dict]:
        """Every attempt of the stages of ``jobs`` not read before."""
        out = []
        for sid in sorted({s for j in jobs for s in j["stageIds"]}
                          - self._seen_stages):
            try:
                out.extend(self._json(self.store.stageData(
                    sid, False, None, False, self._no_quantiles)))
            except Exception as ex:
                raise MetricsLost(f"stage {sid} missing from the status "
                                  f"store: {ex}") from None
            self._seen_stages.add(sid)
        return out

    def _new_executions(self) -> list[dict]:
        execs = self._json(self.sql_store.executionsList(self._seen_execs,
                                                         2**30))
        ids = [e["executionId"] for e in execs]
        if execs and ids != list(range(ids[0], ids[0] + len(ids))):
            raise MetricsLost(f"SQL execution ids not contiguous: {ids}")
        self._seen_execs += len(execs)
        return execs

    def collect(self, build: tuple[float, float], collect_s: float,
                df) -> dict[str, float]:
        """Per-layer metrics of the request that just returned.  ``build``
        is the wall interval of the plan-function call."""
        self.drain()
        batches = self.stream.since(self.stream_mark)
        out = streaming_metrics(batches)
        if not self.detailed:
            return out
        jobs = self._new_jobs()
        stages = [s for s in self._new_stages(jobs)
                  if s["status"] != "SKIPPED"]
        execs = self._new_executions()

        b0, b1 = build
        intervals = []
        for j in jobs:
            start = _epoch(j.get("submissionTime"))
            end = _epoch(j.get("completionTime"))
            if start is not None and end is not None:
                intervals.append((start, end))
        eager = _covered(intervals, b0, b1)
        out["plans.eager_exec_s"] = eager
        out["plans.construct_s"] = max(0.0, (b1 - b0) - eager)
        out["plans.collect_s"] = collect_s
        phases = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        if df is not None:
            it = df._jdf.queryExecution().tracker().phases().iterator()
            while it.hasNext():
                kv = it.next()
                # a memoized DataFrame keeps the phases of an earlier
                # request: count only phases that started in this one
                if kv._1() in phases and \
                        kv._2().startTimeMs() >= b0 * 1e3 - 1:
                    phases[kv._1()] = kv._2().durationMs() / 1e3
        out["plans.catalyst_analysis_s"] = phases["analysis"]
        out["plans.catalyst_optimization_s"] = phases["optimization"]
        out["plans.catalyst_planning_s"] = phases["planning"]

        def total(key: str) -> float:
            return float(sum(s.get(key, 0) for s in stages))

        run_s = total("executorRunTime") / 1e3
        cpu_s = total("executorCpuTime") / 1e9
        out.update({
            "exec.stages": len(stages),
            "exec.tasks": int(total("numCompleteTasks")
                              + total("numFailedTasks")
                              + total("numKilledTasks")),
            "exec.failed_tasks": int(total("numFailedTasks")),
            "exec.run_s": run_s,
            "exec.cpu_s": cpu_s,
            "exec.wait_s": run_s - cpu_s,
            "exec.deser_s": total("executorDeserializeTime") / 1e3,
            "exec.gc_s": total("jvmGcTime") / 1e3,
            "exec.shuffle_write_bytes": total("shuffleWriteBytes"),
            "exec.shuffle_read_bytes": total("shuffleReadBytes"),
            "exec.shuffle_records": int(total("shuffleWriteRecords")),
            "exec.fetch_wait_s": total("shuffleFetchWaitTime") / 1e3,
            "exec.spill_bytes": total("memoryBytesSpilled")
            + total("diskBytesSpilled"),
            "exec.output_bytes": total("outputBytes"),
            "sources.input_bytes": total("inputBytes"),
            "sources.input_records": int(total("inputRecords")),
        })
        for key in _SQL_METRICS.values():
            out[key] = 0.0
        for e in execs:
            values = e.get("metricValues") or {}
            # an adaptive re-plan lists a node's metrics again under the
            # same accumulator id: count each accumulator once
            named = {str(m["accumulatorId"]): _SQL_METRICS.get(m["name"])
                     for m in e.get("metrics", [])}
            for acc, key in named.items():
                if key and values.get(acc):
                    out[key] += sql_metric_value(values[acc])
        return out
