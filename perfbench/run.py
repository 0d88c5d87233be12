"""Benchmark of the engine's registered queries, run as one closed-loop client.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload analytics_batch --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 12
    python3 perfbench/run.py --pin        # rewrite perfbench/expected.json

One run of one workload, in one fresh process:

1. Generate the corpus (``corpus.py``, fixed seed) under ``.perfbench/``.
2. Set up three times and report the median CPU seconds of the program
   (this driver process, the JVM and Python workers) as ``setup_s``; the
   wall time, and the first (cold) set-up on its own, are printed too.  A
   set-up creates a SparkSession at ``local[<cpus>]`` (the first one also
   starts the JVM and imports the engine), then runs every op of the
   workload once, collecting its output and checking it against its
   DuckDB oracle or pinned digest (``check.py``; the check itself is not
   timed).  Staged sources and scratch are cleared between set-ups.
3. One untimed warm pass, then the timed window: passes over the
   workload's ops, in an order permuted by ``--seed``, one op after another
   (closed loop, one client), ending on the pass boundary nearest to
   ``--seconds``; at least one pass.  An op is
   ``engine.QUERIES[key](spark, corpus)`` then a ``noop``-sink write.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
window with ``tracer.py`` attached, prints the per-layer metrics and writes
the span tree and every layer metric to ``.perfbench/traces/``.  Every
repetition is reported raw; nothing is retried, min-merged or written
outside ``.perfbench/``.  The last line of stdout is one JSON object; other
lines are for people.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import corpus  # noqa: E402
import host  # noqa: E402
from check import Checker, collect_sorted  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

CORPUS_SF = 0.01
CORPUS_SEED = 42
SETUPS = 3
# HotSpot's JIT compiler threads.  Their CPU is part of ``cpu_s_per_pass``
# (a change that defeats Spark's codegen cache shows up there), and is also
# reported on its own as ``jvm.jit_cpu_s``: it was about half of a
# window's CPU and its most variable part.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")
EXPECTED = os.path.join(HERE, "expected.json")

# The end-to-end metrics of the result line, which gate regressions.
# CPU seconds count the whole program: this process (the PySpark driver:
# query builders, py4j calls, driver-side loops), the JVM and the Python
# workers.  ``pass_s``, ``op_p50_s`` and ``op_p90_s`` are printed beside
# them, with their sample counts, but left out, and ``setup_s`` counts CPU
# seconds, not wall seconds: wall times follow the host's CPU steal, which
# moved between 5% and 31% from one run to the next on the 4-core host the
# benchmark was tuned on, and their run-to-run spread (0.35-0.46 of the
# median over ten seeds) was wider than the largest bound allowed.
END_TO_END = {
    "setup_s": "s",
    "cpu_s_per_pass": "s",
    "peak_rss_mb": "MB",
}


def _log(msg: str) -> None:
    print(msg, flush=True)


def _p90(values: list[float]) -> float:
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[-1]


def _memory_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 4096


class Run:
    """One workload in this process: set-ups, then the timed window."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 expected: str):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace = trace
        self.ops = list(WORKLOADS[workload]["ops"])
        with open(expected) as f:
            self.pinned = json.load(f)["ops"]
        self.work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
        self.corpus = os.path.join(self.work, "corpus")
        self.nslots = len(os.sched_getaffinity(0))
        self.spark = None
        self.attempted = self.failed = 0
        self.failures: dict[str, str] = {}

    # -- environment ---------------------------------------------------
    def prepare(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        corpus.generate(self.corpus, CORPUS_SF, CORPUS_SEED)
        for d in ("tmp", "stream", "local", "warehouse", "jtmp", "derby"):
            os.makedirs(os.path.join(self.work, d), exist_ok=True)
        # Staged sources, sink scratch, streaming checkpoints and Spark's
        # local dirs all go under the run's own directory; so do the JVM's
        # relative paths.  No JVM keeps a perf-data file in /tmp.  The
        # engine would put streaming checkpoints on /dev/shm when it has
        # room, but a run writes only inside its checkout, so they go to
        # the checkout's disk here.
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["SPARK_GRAFT_STREAM_SCRATCH"] = os.path.join(self.work,
                                                                "stream")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        import tempfile

        tempfile.tempdir = os.environ["TMPDIR"]
        os.chdir(self.work)

    def _clear_scratch(self) -> None:
        for d in ("tmp", "stream"):
            path = os.path.join(self.work, d)
            shutil.rmtree(path, ignore_errors=True)
            os.makedirs(path)

    def start_session(self):
        from pyspark.sql import SparkSession

        w = self.work
        mem_mb = min(2048, _memory_mb() // 4)
        spark = (
            SparkSession.builder.master(f"local[{self.nslots}]")
            .appName("perfbench")
            .config("spark.driver.memory", f"{mem_mb}m")
            # A fixed, pre-touched heap: peak_rss_mb then moves with native,
            # off-heap and Python-worker memory, not with when G1 decides
            # to grow the heap.  A fixed set of JIT compiler threads, so
            # that none exits with CPU the window cannot subtract.
            .config("spark.driver.extraJavaOptions",
                    f"-Xms{mem_mb}m -XX:+AlwaysPreTouch -XX:-UsePerfData "
                    "-XX:-UseDynamicNumberOfCompilerThreads "
                    f"-Djava.io.tmpdir={w}/jtmp -Dderby.system.home={w}/derby")
            .config("spark.sql.shuffle.partitions", str(self.nslots))
            .config("spark.sql.warehouse.dir", f"{w}/warehouse")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.ui.retainedJobs", "100000")
            .config("spark.ui.retainedStages", "100000")
            .config("spark.sql.ui.retainedExecutions", "100000")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop Spark and the JVM, wait for every child, drop scratch."""
        self.stop_session()
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        deadline = time.time() + 20
        while host.descendants(os.getpid()) and time.time() < deadline:
            time.sleep(0.1)
        for pid in host.descendants(os.getpid()):
            try:
                os.kill(pid, 9)
            except OSError:
                pass
        os.chdir(ROOT)
        shutil.rmtree(self.work, ignore_errors=True)

    # -- set-up --------------------------------------------------------
    def setup(self, checker) -> tuple[list[float], list[float]]:
        """Set up ``SETUPS`` times; returns each set-up's CPU seconds (this
        process, JVM and Python workers) and wall seconds."""
        cpus, walls = [], []
        me = os.getpid()
        for rep in range(SETUPS):
            if rep:
                self.stop_session()
                self._clear_scratch()
            t0 = time.perf_counter()
            cpu0 = host.tree_cpu_s(me) + host.self_cpu_s()
            self.spark = self.start_session()
            if rep == 0:
                import engine

                self.engine = engine
                checker.oracles = engine.ORACLES
                if self.trace:
                    self.tracer.install(engine)
            paused = paused_cpu = 0.0
            for op in self.ops:
                self.attempted += 1
                try:
                    df = self.engine.QUERIES[op](self.spark, self.corpus)
                    cols, rows = collect_sorted(df)
                    c0, s0 = time.perf_counter(), host.self_cpu_s()
                    reason = checker.check(op, cols, rows)
                    paused += time.perf_counter() - c0
                    paused_cpu += host.self_cpu_s() - s0
                except Exception as e:  # an op that raises is a failed op
                    reason = f"raised {type(e).__name__}: {str(e)[:200]}"
                if reason:
                    self.failures.setdefault(op, reason)
                    self.failed += 1
            walls.append(time.perf_counter() - t0 - paused)
            cpus.append(host.tree_cpu_s(me) + host.self_cpu_s() - cpu0
                        - paused_cpu)
            _log(f"# setup {rep + 1}/{SETUPS}: {cpus[-1]:.2f} s CPU, "
                 f"{walls[-1]:.3f} s wall")
        return cpus, walls

    # -- timed window --------------------------------------------------
    def run_op(self, op: str) -> tuple[float, float, float] | None:
        """Execute one op: the query function, then a ``noop``-sink write.
        Returns the wall-clock start, end of build and end of action, or
        None when it raised (counted as a failed op)."""
        self.attempted += 1
        t0 = time.time()
        try:
            df = self.engine.QUERIES[op](self.spark, self.corpus)
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
        except Exception as e:
            self.failed += 1
            self.failures.setdefault(
                op, f"raised {type(e).__name__}: {str(e)[:200]}")
            return None
        return t0, t1, time.time()

    def warm_pass(self) -> None:
        """One untimed pass of the window's ops.  The set-ups collect each
        op's output; the window's ``noop`` writes plan and generate other
        code, whose JIT compilation would otherwise fall in the first timed
        pass."""
        for op in self.ops:
            self.run_op(op)

    def window(self):
        rng = random.Random(self.seed)
        mods = {op: self.engine.QUERIES[op].__module__.rsplit(".", 1)[-1]
                for op in self.ops}
        layer_s: dict[str, float] = {}
        pass_s: list[float] = []
        per_op: dict[str, list[float]] = {op: [] for op in self.ops}
        me = os.getpid()
        if self.trace:
            self.tracer.attach(self.spark)
        cpu0, stat0 = host.tree_cpu_s(me), host.cpu_times()
        jvm0 = host.tree_cpu_s(me, JIT_THREADS)
        self0 = host.self_cpu_s()
        w0 = time.perf_counter()
        with host.RssSampler(me) as rss:
            while True:
                order = self.ops[:]
                rng.shuffle(order)
                p0 = time.perf_counter()
                for op in order:
                    times = self.run_op(op)
                    if times is None:
                        continue
                    t0, t1, t2 = times
                    per_op[op].append(t2 - t0)
                    m = mods[op]
                    layer_s[f"{m}.build_s"] = layer_s.get(f"{m}.build_s", 0) + t1 - t0
                    layer_s[f"{m}.action_s"] = layer_s.get(f"{m}.action_s", 0) + t2 - t1
                    if self.trace:
                        self.tracer.record_op(f"{len(pass_s)}:{op}", op, m,
                                              t0, t1, t2)
                pass_s.append(time.perf_counter() - p0)
                # End on the pass boundary nearest to ``seconds``.
                elapsed = time.perf_counter() - w0
                if elapsed + statistics.median(pass_s) / 2 >= self.seconds:
                    break
        window_s = time.perf_counter() - w0
        # This process's own CPU, less the RSS sampler's; in a traced run
        # it also holds the tracer's work.
        driver_s = host.self_cpu_s() - self0 - rss.cpu_s
        children_s = host.tree_cpu_s(me) - cpu0
        jit_s = children_s - (host.tree_cpu_s(me, JIT_THREADS) - jvm0)
        noise = host.cpu_shares(stat0, host.cpu_times())
        layers = None
        if self.trace:
            self.tracer.finish_streaming()
            self.tracer.detach()
            op_wall = sum(sum(ts) for ts in per_op.values())
            n = len(pass_s)
            layers = self.tracer.metrics(n, SETUPS, layer_s, op_wall, noise, {
                "setup.cold_s": self.cold_setup_s,
                "driver.cpu_s": driver_s / n,
                "jvm.jit_cpu_s": jit_s / n,
            })
        return {
            "per_op": per_op, "pass_s": pass_s,
            "cpu_s": children_s + driver_s, "jit_cpu_s": jit_s,
            "driver_cpu_s": driver_s,
            "peak_rss": rss.peak, "noise": noise, "window_s": window_s,
            "layers": layers,
        }

    def write_trace(self, w: dict) -> None:
        """Write the span tree and every per-layer metric under
        ``.perfbench/traces/``."""
        out = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(out, exist_ok=True)
        stem = os.path.join(out, f"{self.workload}-seed{self.seed}")
        self.tracer.write_spans(stem + ".spans.jsonl")
        with open(stem + ".layers.json", "w") as f:
            json.dump({"layers": w["layers"]}, f, indent=1, sort_keys=True)
        w["trace_path"] = os.path.relpath(stem, ROOT)

    def execute(self) -> dict:
        self.prepare()
        checker = Checker(self.corpus, corpus.TABLES, self.pinned)
        if self.trace:
            from tracer import Tracer

            self.tracer = Tracer()
        try:
            setup_cpu, setup_wall = self.setup(checker)
            self.cold_setup_s = setup_cpu[0]
            checker.close()  # frees DuckDB's memory before peak_rss_mb
            self.warm_pass()
            w = self.window()
            if self.trace:
                self.write_trace(w)
        finally:
            checker.close()
            self.shutdown()
        w["setup_cpu"], w["setup_wall"] = setup_cpu, setup_wall
        return w


def report(run: Run, w: dict) -> dict:
    lat = [t for ts in w["per_op"].values() for t in ts]
    passes = w["pass_s"]
    n_pass = len(passes)
    metrics = {
        "setup_s": statistics.median(w["setup_cpu"]),
        "pass_s": statistics.median(passes),
        "op_p50_s": statistics.median(lat) if lat else 0.0,
        "op_p90_s": _p90(lat) if lat else 0.0,
        "cpu_s_per_pass": w["cpu_s"] / n_pass,
        "peak_rss_mb": w["peak_rss"] / 2**20,
    }
    ratio = run.failed / max(run.attempted, 1)
    _log(f"# workload {run.workload} seed {run.seed}: {n_pass} passes of "
         f"{len(run.ops)} ops in {w['window_s']:.2f} s, local[{run.nslots}]")
    _log(f"#   setup_s        {metrics['setup_s']:.4f} s   CPU of driver + "
         f"JVM + Python workers, median of {len(w['setup_cpu'])} set-ups, "
         f"each {[round(x, 2) for x in w['setup_cpu']]}")
    _log(f"#   setup_cold_s   {w['setup_cpu'][0]:.4f} s   CPU of the first "
         f"set-up alone (JVM start, engine import, cold caches)")
    _log(f"#   setup_wall_s   {statistics.median(w['setup_wall']):.4f} s   "
         f"median of {len(w['setup_wall'])} set-ups, each "
         f"{[round(x, 3) for x in w['setup_wall']]}")
    _log(f"#   pass_s         {metrics['pass_s']:.4f} s   median of {n_pass} "
         f"passes, p90 {_p90(passes):.4f} s")
    _log(f"#   op_p50_s       {metrics['op_p50_s']:.4f} s   over {len(lat)} ops")
    _log(f"#   op_p90_s       {metrics['op_p90_s']:.4f} s   over {len(lat)} ops")
    _log(f"#   cpu_s_per_pass {metrics['cpu_s_per_pass']:.4f} s   driver + "
         f"JVM + Python workers, {w['cpu_s']:.2f} s over {n_pass} passes; "
         f"of it per pass: JIT compiler threads "
         f"{w['jit_cpu_s'] / n_pass:.4f} s, driver process "
         f"{w['driver_cpu_s'] / n_pass:.4f} s")
    _log(f"#   peak_rss_mb    {metrics['peak_rss_mb']:.1f} MB  driver + JVM + "
         f"Python workers, sampled every 0.1 s")
    _log(f"#   failed_op_ratio {ratio:.4f}   {run.failed} of {run.attempted} "
         f"attempted (checks + timed ops)")
    _log(f"#   host steal_share {w['noise']['steal_share']:.4f}  busy_share "
         f"{w['noise']['busy_share']:.4f}")
    for op, ts in w["per_op"].items():
        if ts:
            _log(f"#   op {op:34s} median {statistics.median(ts):.4f} s "
                 f"over {len(ts)}")
    for op, reason in sorted(run.failures.items()):
        _log(f"#   FAILED {op}: {reason}")
    if w["layers"] is not None:
        from tracer import LAYER_METRICS

        _log(f"#   spans and layers written to {w['trace_path']}.*")
        for name, value in w["layers"].items():
            _log(f"#   {name:34s} {value:.6g} {LAYER_METRICS[name]}")
    return metrics


def run_one(args) -> int:
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace),
              args.expected)
    w = run.execute()
    metrics = report(run, w)
    if args.trace:
        from tracer import LAYER_METRICS, REPORTED

        out = {k: {"value": w["layers"][k], "unit": LAYER_METRICS[k]}
               for k in REPORTED}
    else:
        out = {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": out,
    }), flush=True)
    return 0


def _child(workload: str, seed: int, seconds: float, trace: int,
           expected: str) -> tuple[dict, list[str]]:
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace), "--expected", expected]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"{workload} (trace {trace}) exited {proc.returncode}")
    return json.loads(lines[-1]), lines[:-1]


def _printed_pass_s(lines: list[str]) -> float:
    """The median ``pass_s`` a child run printed (it is not in the result
    line, whose metrics ``BENCHMARK.json`` fixes)."""
    return next(float(line.split()[2]) for line in lines
                if line.startswith("#   pass_s "))


def run_all(args) -> int:
    """Every workload, untraced then traced, each in a fresh process."""
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        plain, lines = _child(name, args.seed, args.seconds, 0, args.expected)
        traced, tlines = _child(name, args.seed, args.seconds, 1,
                                args.expected)
        for line in lines + tlines:
            _log(line)
        overhead = _printed_pass_s(tlines) - _printed_pass_s(lines)
        _log(f"# {name}: tracing overhead {overhead:+.4f} s per pass "
             f"(traced minus untraced pass_s)")
        for res in (plain, traced):
            total["correct"] &= res["correct"]
            total["attempted"] += res["attempted"]
            total["failed"] += res["failed"]
            for k, v in res["metrics"].items():
                total["metrics"][f"{name}.{k}"] = v
        total["metrics"][f"{name}.trace_overhead_s"] = {"value": overhead,
                                                         "unit": "s"}
    print(json.dumps(total), flush=True)
    return 0


def pin(args) -> int:
    """Record row counts and digests of the workloads' ops that have no
    oracle, from one execution over the benchmark corpus."""
    from check import digest

    run = Run(next(iter(WORKLOADS)), 0, 0, False, args.expected)
    run.prepare()
    try:
        run.spark = run.start_session()
        import engine

        pinned = {}
        for wl in WORKLOADS.values():
            for op in wl["ops"]:
                if op in engine.ORACLES:
                    continue
                cols, rows = collect_sorted(engine.QUERIES[op](run.spark,
                                                               run.corpus))
                pinned[op] = {"rows": len(rows), "digest": digest(cols, rows)}
                _log(f"# pinned {op}: {pinned[op]}")
    finally:
        run.shutdown()
    with open(EXPECTED, "w") as f:
        json.dump({"corpus": {"sf": CORPUS_SF, "seed": CORPUS_SEED},
                   "ops": pinned}, f, indent=2, sort_keys=True)
        f.write("\n")
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", default="all",
                    choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--expected", default=EXPECTED,
                    help="pinned digests for ops without an oracle")
    ap.add_argument("--pin", action="store_true",
                    help="rewrite the pinned digests and exit")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "engine", "__init__.py")):
        print(f"perfbench: no engine package under {ROOT}; run from the root "
              "of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.pin:
        return pin(args)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
