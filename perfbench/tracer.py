"""Per-layer tracing, measured from outside the engine.

Sources, all read from the benchmark process:

* timers around the public helpers ``engine.io.load``,
  ``engine.core.staged_build_once`` and ``engine.core.collect_model_artifact``,
  installed in every engine module namespace that binds them;
* Spark's core status store (jobs and stages) and SQL status store
  (Python-worker metrics of Python plan nodes);
* a Python ``StreamingQueryListener`` (microbatch progress);
* the block manager's RDD storage info (bytes of cached blocks);
* from ``run.py``: the CPU of the driver process and of the JVM's JIT
  compiler threads per pass, and the CPU of the first (cold) set-up.

Spans are kept in memory and written as JSON lines when the run ends.  The
span tree is op -> {build, action} -> job -> stage; every span of one op
execution shares a trace id.

Every metric is a total per pass of the timed window, except the peaks and
shares in ``_NOT_PER_PASS`` and ``core.staged_build_once_*``, which are
totals per set-up: staged sources are built during set-up, and the window
only finds them cached.
"""

from __future__ import annotations

import functools
import json
import re
import sys
import threading
import time

from workloads import LAYER_MODULES

_PY_NODE = re.compile(r"Python|Pandas|InArrow")
_PY_METRICS = {
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "data sent to Python workers": "python.data_sent_bytes",
    "data returned from Python workers": "python.data_returned_bytes",
    "number of output rows": "python.rows_returned",
}
_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
         "PiB": 2**50}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_STREAM_DURATIONS = {
    "triggerExecution": "streaming.trigger_s",
    "addBatch": "streaming.add_batch_s",
    "queryPlanning": "streaming.query_planning_s",
    "walCommit": "streaming.wal_commit_s",
    "commitOffsets": "streaming.commit_offsets_s",
}

# Every per-layer metric the traced run prints, with its unit.
LAYER_METRICS: dict[str, str] = {}
for _m in ("ops", *LAYER_MODULES):
    LAYER_METRICS[f"{_m}.build_s"] = "s"
    LAYER_METRICS[f"{_m}.action_s"] = "s"
LAYER_METRICS.update({
    "spark.driver_gap_s": "s",
    "spark.job_active_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.slot_busy_share": "share",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_fetch_wait_s": "s",
    "spark.spill_bytes": "bytes",
    "spark.gc_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.output_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "spark.input_records": "count",
    "spark.failed_tasks": "count",
    "python.run_s": "s",
    "python.boot_s": "s",
    "python.init_s": "s",
    "python.data_sent_bytes": "bytes",
    "python.data_returned_bytes": "bytes",
    "python.rows_returned": "count",
    "core.collect_model_artifact_s": "s",
    "core.collect_model_artifact_rows": "count",
    "core.staged_build_once_s": "s",
    "core.staged_build_once_calls": "count",
    "cache.persisted_bytes": "bytes",
    "streaming.microbatches": "count",
    "streaming.input_rows": "count",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.commit_offsets_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "bytes",
    "io.load_s": "s",
    "io.load_calls": "count",
    "host.steal_share": "share",
    "host.cpu_busy_share": "share",
    "trace.overhead_s": "s",
    "setup.cold_s": "s",
    "driver.cpu_s": "s",
    "jvm.jit_cpu_s": "s",
})
# Peaks and shares; every other metric is a total reported per pass.
_NOT_PER_PASS = {
    "spark.slot_busy_share", "cache.persisted_bytes",
    "streaming.state_memory_bytes", "host.steal_share", "host.cpu_busy_share",
}
_PER_SETUP = ("core.staged_build_once_s", "core.staged_build_once_calls")

# The per-layer metrics of the result line: every count, size and share,
# and the times that are above zero on every workload.  A time that only
# some workloads spend (``python.run_s``, ``streaming.trigger_s``, one
# module's ``build_s``) would read exactly 0 on every run of the others;
# those are printed on the human-readable lines and in the layers file.
REPORTED = [k for k, u in LAYER_METRICS.items() if u != "s"] + [
    "ops.build_s", "ops.action_s", "spark.driver_gap_s", "spark.job_active_s",
    "spark.executor_run_s", "spark.executor_cpu_s", "io.load_s",
    "trace.overhead_s", "setup.cold_s", "driver.cpu_s", "jvm.jit_cpu_s",
]


def parse_sql_metric(text: str) -> float:
    """Value of a formatted SQL metric ("1.8 s", "276.4 KiB", "10,000",
    or the multi-task "total (min, med, max ...)\\n<total> (...)" form),
    in seconds, bytes or a plain count."""
    line = text.strip().splitlines()[-1]
    head = line.split(" (", 1)[0].strip().replace(",", "")
    parts = head.split()
    value = float(parts[0])
    if len(parts) > 1:
        value *= _SIZE.get(parts[1], _TIME.get(parts[1], 1.0))
    return value


def _ms(opt_date) -> float | None:
    return opt_date.get().getTime() / 1000.0 if opt_date.isDefined() else None


def _union_s(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class Tracer:
    def __init__(self):
        self.active = False
        self._setup_totals: dict[str, float] = {}
        self.totals: dict[str, float] = {k: 0.0 for k in LAYER_METRICS}
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._span_id = 0
        self._progress: list = []
        self._lock = threading.Lock()

    # -- engine helper timers ------------------------------------------
    def _timed(self, fn, seconds_key: str, count_key: str, rows: bool = False):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                self.totals[seconds_key] += time.perf_counter() - t0
            self.totals[count_key] += len(out) if rows else 1
            return out

        return wrapper

    def install(self, engine) -> None:
        """Wrap the helpers in every engine module namespace binding them,
        and start timing them (set-ups included)."""
        core, io = engine.core, engine.io
        targets = [
            (io, "load", "io.load_s", "io.load_calls", False),
            (core, "staged_build_once", "core.staged_build_once_s",
             "core.staged_build_once_calls", False),
            (core, "collect_model_artifact", "core.collect_model_artifact_s",
             "core.collect_model_artifact_rows", True),
        ]
        mods = [m for name, m in sys.modules.items()
                if name == "engine" or name.startswith("engine.")]
        for owner, attr, skey, ckey, rows in targets:
            orig = getattr(owner, attr)
            wrapped = self._timed(orig, skey, ckey, rows)
            for mod in mods:
                if getattr(mod, attr, None) is orig:
                    setattr(mod, attr, wrapped)
        self.active = True

    # -- Spark sources -------------------------------------------------
    def attach(self, spark) -> None:
        """Bind to the session whose timed window is about to start."""
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                ops = p.stateOperators
                with tracer._lock:
                    tracer._progress.append((
                        p.numInputRows, dict(p.durationMs),
                        sum(o.numRowsTotal for o in ops),
                        sum(o.memoryUsedBytes for o in ops),
                    ))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._setup_totals = {k: self.totals[k] for k in _PER_SETUP}
        self.totals = {k: 0.0 for k in LAYER_METRICS}
        self._jsc = spark.sparkContext._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.nslots = spark.sparkContext.defaultParallelism
        spark.streams.addListener(_Listener())
        self._drain()
        self._next_job = max(spark.sparkContext.statusTracker()
                             .getJobIdsForGroup(), default=-1) + 1
        self._next_exec = self._sql.executionsCount()
        self._seen_stages: set[int] = set()
        self._cache_stop = threading.Event()
        self._cache_thread = threading.Thread(target=self._sample_cache,
                                              daemon=True)
        self._cache_thread.start()

    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty(30_000)

    def _sample_cache(self) -> None:
        while not self._cache_stop.is_set():
            try:
                infos = self._jsc.getRDDStorageInfo()
                used = sum(i.memSize() + i.diskSize() for i in infos)
            except Exception:  # session stopping; keep the peak so far
                return
            key = "cache.persisted_bytes"
            self.totals[key] = max(self.totals[key], used)
            self._cache_stop.wait(0.1)

    def detach(self) -> None:
        self.active = False
        self._cache_stop.set()
        self._cache_thread.join()

    # -- spans ---------------------------------------------------------
    def span(self, trace: str, parent: int | None, name: str,
             start: float, end: float, **attrs) -> int:
        self._span_id += 1
        self.spans.append({"trace": trace, "span": self._span_id,
                           "parent": parent, "name": name,
                           "start": start, "end": end, **attrs})
        return self._span_id

    def record_op(self, trace: str, op: str, module: str,
                  t0: float, t1: float, t2: float) -> None:
        """Spans and Spark counters for one op execution
        (build ``[t0, t1]``, action ``[t1, t2]``, wall-clock seconds)."""
        c0 = time.perf_counter()
        tot = self.totals
        op_id = self.span(trace, None, f"op:{op}", t0, t2, module=module)
        phases = [("build", t0, t1), ("action", t1, t2)]
        phase_ids = [self.span(trace, op_id, n, a, b) for n, a, b in phases]
        self._drain()
        intervals = []
        while True:
            try:
                job = self._store.job(self._next_job)
            except Exception:
                break
            self._next_job += 1
            start, end = _ms(job.submissionTime()), _ms(job.completionTime())
            if start is None or end is None:
                continue
            intervals.append((start, end))
            parent = op_id
            for pid, (_, a, b) in zip(phase_ids, phases):
                if a - 0.002 <= start and end <= b + 0.002:
                    parent = pid
            jid = self.span(trace, parent, f"job:{job.jobId()}", start, end)
            tot["spark.jobs"] += 1
            sids = job.stageIds()
            for i in range(sids.size()):
                self._record_stage(trace, jid, sids.apply(i))
        active = _union_s(intervals, t0, t2)
        tot["spark.job_active_s"] += active
        tot["spark.driver_gap_s"] += (t2 - t0) - active
        self._record_executions()
        self.overhead_s += time.perf_counter() - c0

    def _record_stage(self, trace: str, job_span: int, sid: int) -> None:
        if sid in self._seen_stages:
            return
        self._seen_stages.add(sid)
        try:
            st = self._store.lastStageAttempt(sid)
        except Exception:
            return
        if st.status().toString() == "SKIPPED":
            return
        tot = self.totals
        tot["spark.stages"] += 1
        tot["spark.tasks"] += st.numCompleteTasks()
        tot["spark.failed_tasks"] += st.numFailedTasks()
        tot["spark.executor_run_s"] += st.executorRunTime() / 1e3
        tot["spark.executor_cpu_s"] += st.executorCpuTime() / 1e9
        tot["spark.gc_s"] += st.jvmGcTime() / 1e3
        tot["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
        tot["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
        tot["spark.shuffle_fetch_wait_s"] += st.shuffleFetchWaitTime() / 1e3
        tot["spark.spill_bytes"] += (st.memoryBytesSpilled()
                                     + st.diskBytesSpilled())
        tot["spark.input_bytes"] += st.inputBytes()
        tot["spark.input_records"] += st.inputRecords()
        tot["spark.output_bytes"] += st.outputBytes()
        start = _ms(st.firstTaskLaunchedTime())
        end = _ms(st.completionTime())
        if start is not None and end is not None:
            self.span(trace, job_span, f"stage:{sid}", start, end)

    def _record_executions(self) -> None:
        n = self._sql.executionsCount()
        if n <= self._next_exec:
            return
        execs = self._sql.executionsList(self._next_exec, n - self._next_exec)
        self._next_exec = n
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                if not _PY_NODE.search(node.name()):
                    continue
                metrics = node.metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    key = _PY_METRICS.get(m.name())
                    v = values.get(m.accumulatorId())
                    if key and v.isDefined():
                        self.totals[key] += parse_sql_metric(v.get())

    def finish_streaming(self) -> None:
        """Fold the streaming listener's progress events into the totals."""
        self._drain()
        time.sleep(0.2)  # listener callbacks cross back over py4j
        tot = self.totals
        with self._lock:
            progress, self._progress = self._progress, []
        for rows, durations, state_rows, state_bytes in progress:
            tot["streaming.microbatches"] += 1
            tot["streaming.input_rows"] += rows
            tot["streaming.state_rows"] += state_rows
            tot["streaming.state_memory_bytes"] = max(
                tot["streaming.state_memory_bytes"], state_bytes)
            for name, key in _STREAM_DURATIONS.items():
                tot[key] += durations.get(name, 0) / 1e3

    # -- results -------------------------------------------------------
    def metrics(self, passes: int, setups: int, layer_s: dict,
                op_wall_s: float, host: dict,
                measured: dict[str, float]) -> dict[str, float]:
        """Every metric of ``LAYER_METRICS``, scaled as the module says;
        ``measured`` holds the ones ``run.py`` measured and scaled."""
        tot = dict(self.totals)
        tot.update(layer_s)
        for phase in ("build_s", "action_s"):
            tot[f"ops.{phase}"] = sum(tot[f"{m}.{phase}"]
                                      for m in LAYER_MODULES)
        tot["trace.overhead_s"] = self.overhead_s
        busy = tot["spark.executor_run_s"]
        tot["spark.slot_busy_share"] = busy / (op_wall_s * self.nslots)
        tot["host.steal_share"] = host["steal_share"]
        tot["host.cpu_busy_share"] = host["busy_share"]
        out = {k: (tot[k] if k in _NOT_PER_PASS else tot[k] / passes)
               for k in LAYER_METRICS}
        for k in _PER_SETUP:
            out[k] = self._setup_totals.get(k, 0.0) / setups
        out.update(measured)
        return out

    def write_spans(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
