#!/usr/bin/env python
"""Per-key warm-session measurement + plan capture (guide §1).

Usage: python tools/measure_key.py key1 [key2 ...] [--runs 3] [--plan DIR]

One default-shaped session (same confs as bench.py), each key run
--runs times through the noop sink; prints per-run seconds and the
min of runs 1.. (run 0 absorbs Arrow/py-UDF warmup per BASELINE.md).
With --plan DIR, writes DIR/<key>.txt with .explain("formatted").
Cache is cleared between keys exactly as bench.py does.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# Sized from the host, as perfbench/run.py does: one task slot per
# usable CPU (an explicit SPARK_GRAFT_CPUS wins) and a driver heap of at
# most a quarter of physical memory.
CPUS = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


def _driver_memory_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024 // 4
    return 1024


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("keys", nargs="+")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--plan", default=None)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    import engine

    # Same spark.local.dir selection as bench.py ($SPARK_GRAFT_LOCAL_DIR
    # override, /dev/shm with a free-space guard) so measurements here
    # are comparable to bench anchors (r17 ADVICE: the old hard-coded
    # measure_key_shm.py copy is folded in here).
    from engine.core import _usable_tmpfs

    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR") or (
        "/dev/shm/spark_graft_local" if _usable_tmpfs("/dev/shm") else ""
    )
    builder = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("spark-graft-measure")
        .config("spark.sql.shuffle.partitions", str(CPUS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", f"{_driver_memory_mb()}m")
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    cache_mgr = spark._jsparkSession.sharedState().cacheManager()

    # session warmup (JVM + Arrow), mirrors bench.py
    engine.QUERIES["agg_groupby_pricing"](spark, SF_DIR).write.format(
        "noop").mode("overwrite").save()
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def _warm(s):
        return s

    spark.range(32).select(_warm("id")).write.format("noop").mode(
        "overwrite").save()

    for key in args.keys:
        if args.plan:
            os.makedirs(args.plan, exist_ok=True)
            df = engine.QUERIES[key](spark, SF_DIR)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"))
            with open(os.path.join(args.plan, f"{key}.txt"), "w") as f:
                f.write(plan)
            if not cache_mgr.isEmpty():
                spark.catalog.clearCache()
        runs = []
        for i in range(args.runs):
            spark.sparkContext.setJobDescription(f"{key} run{i}")
            t0 = time.perf_counter()
            engine.QUERIES[key](spark, SF_DIR).write.format("noop").mode(
                "overwrite").save()
            el = time.perf_counter() - t0
            runs.append(el)
            if not cache_mgr.isEmpty():
                spark.catalog.clearCache()
        warm = runs[1:] if len(runs) > 1 else runs
        print(
            f"RESULT {key}: runs={['%.2f' % r for r in runs]} "
            f"warm_min={min(warm):.3f}"
        )
        sys.stdout.flush()


if __name__ == "__main__":
    main()
