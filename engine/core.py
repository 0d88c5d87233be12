"""Operator registry — the single source of truth for the driver contract.

Each operator module registers its keys here via :func:`query`.  A key is
"declared" (visible to the driver through ``__spark_entry__.queries()``)
only when registered, and SURVEY.md §2's rule applies: register only after
the key hash-matches its DuckDB oracle locally (tests/test_oracle_parity.py).

Reference parity note: the reference repo (/root/reference, README.md:1-2)
contains no code; the inventory implemented here is the reconstructed
contract of SURVEY.md §2.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Dict, Set

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: Dict[str, QueryFn] = {}
ORACLES: Dict[str, str] = {}
ROWS_ONLY: Set[str] = set()


def query(key: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` as the implementation of operator ``key``.

    ``oracle`` is the DuckDB-runnable ANSI SQL twin (tables pre-registered
    as views: region nation customer supplier part orders lineitem events
    documents embeddings).  ``oracle=None`` declares a rows-only key
    (approx aggs, MinHash, streaming) — the driver then records the weaker
    rows-only check.
    """

    def deco(fn: QueryFn) -> QueryFn:
        if key in QUERIES:
            raise ValueError(f"duplicate operator key: {key}")
        QUERIES[key] = fn
        if oracle is not None:
            ORACLES[key] = oracle.strip()
        else:
            ROWS_ONLY.add(key)
        return fn

    return deco


import contextlib
import threading


@contextlib.contextmanager
def scoped_shuffle_partitions(spark: SparkSession, n: int):
    """Temporarily narrow spark.sql.shuffle.partitions around a
    driver-orchestrated job sequence (iterative loops, microbatch runs)
    whose per-stage data is tiny: 32 tasks per reduce stage is pure
    scheduling overhead when each stage carries a few thousand rows.
    Restores the caller's setting on exit; plans executed AFTER the
    block (e.g. the returned DataFrame's final action) see the original
    conf."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, prev)


@contextlib.contextmanager
def scoped_sql_conf(spark: SparkSession, confs: dict):
    """Temporarily set runtime SQL confs around an EAGERLY-EXECUTED job
    (a write, an iterative loop) — the generalization of
    :func:`scoped_shuffle_partitions`.  Plans that execute AFTER the
    block see the caller's settings, so any key using this must
    materialize inside the scope (sink-key shape: write, then return a
    read-back frame)."""
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, str(v))
    try:
        yield
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


_MODEL_ARTIFACT_MAX_ROWS = 4096


def collect_model_artifact(df: DataFrame, max_rows: int = _MODEL_ARTIFACT_MAX_ROWS):
    """Bounded driver-side materialization of a BOUNDED-BY-CONSTRUCTION
    frame — the one sanctioned exemption from the engine-wide
    no-collect rule
    (tests/test_plans.py::test_no_driver_side_collect_in_engine_source
    allow-lists exactly this call site).

    Two sanctioned patterns, both bounded independent of data volume:
    (a) TRAINED MODEL ARTIFACTS — codebooks / centroid tables (K·M
    rows by construction); (b) FIXED QUERY SETS — the handful of probe
    vectors a top-k search is evaluated against (e.g.
    ``sim_knn_topk_blocked``'s 5 query embeddings).  Anything
    data-sized is out of scope and the runtime guard below enforces it.

    Rationale: a trained codebook / centroid table is bounded BY
    CONSTRUCTION (K·M rows, independent of data volume), and the
    scale-correct way to hand it to an Arrow UDF is closure capture —
    cloudpickle ships it once per task.  The previous shape
    (``crossJoin(broadcast(packed_row))`` + a codebook column) was
    JVM-cheap but duplicated the ~16 KB artifact into EVERY ROW of
    every Arrow batch crossing into Python: ~32 MB redundant transfer
    at 2k vectors, unbounded at 10⁹.  A bounded collect is the lesser
    transfer by orders of magnitude.

    Guard: raises if ``df`` exceeds ``max_rows`` — this helper must
    never be pointed at a data-sized frame."""
    rows = df.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise RuntimeError(
            f"collect_model_artifact: frame exceeds {max_rows} rows — "
            "this helper is for bounded trained artifacts only"
        )
    return rows


def staged_build_once(base: str, name: str, sf_dir: str, build) -> str:
    """Build-once cache for deterministic staged directories (streaming
    replay sources, derived partitioned tables).

    The staged artifacts are pure functions of the immutable corpus, so
    rebuilding per invocation charges every bench/verify run pure
    staging cost.  A `_STAGING_DONE` marker is written only after
    ``build`` completes — partial stages are never reused — and
    `_`-prefixed files are invisible to Spark's parquet file source.
    Sinks and checkpoints must NOT be cached — only inputs.
    """
    import os
    import shutil
    import tempfile

    d = os.path.join(
        tempfile.gettempdir(),
        base,
        f"{name}_{os.path.basename(os.path.normpath(sf_dir))}",
    )
    # The corpus is immutable WITHIN a round but the driver regenerates
    # it BETWEEN rounds (r4 rolled events.ts from ns to µs) — a marker
    # that never expires would replay stale data.  Fingerprint the
    # source directory (name/size/mtime per file) into the marker and
    # rebuild on any mismatch.
    try:
        fp = ",".join(
            f"{f}:{st.st_size}:{st.st_mtime_ns}"
            for f in sorted(os.listdir(sf_dir))
            if (st := os.stat(os.path.join(sf_dir, f)))
        )
    except OSError:
        fp = "unknown"
    marker = os.path.join(d, "_STAGING_DONE")
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read() == fp:
                return d
    if os.path.exists(d):
        shutil.rmtree(d)
    os.makedirs(d, exist_ok=True)
    build(d)
    with open(marker, "w") as f:
        f.write(fp)
    return d


_SESSION_MEMO: dict = {}
_SESSION_MEMO_LOCK = threading.RLock()


def session_memo(spark: SparkSession, name: str, sf_dir: str, build):
    """Session-lifetime memo for an intermediate that several keys
    share (a trained model, a routing diamond, a graph partition) — the
    one way to hold frames across calls, so a long-lived session keeps
    ONE persisted copy instead of one per consuming key.

    ``build()`` returns ``(value, frames)``: ``frames`` are the
    persisted DataFrames behind ``value`` in lineage order, shallow to
    deep (``[]`` for a driver-side value).  The store is keyed on
    (applicationId, name, sf_dir) — never ``id(spark)``, which CPython
    reuses after GC — and entries of other applications are dropped.

    On a miss the deepest frame is counted once: a lazy persist that
    feeds several consumers gets raced and computes its subtree per
    consumer (r12 rule), and the deepest count fills the shallower
    caches through lineage.  On a hit every frame whose storage level
    was dropped (``spark.catalog.clearCache()``, mandated before
    plan-string tests) is re-persisted and the deepest LOST one counted
    — counting a deeper intact frame would read through its cache and
    leave the shallower lost one lazy (r16 rule).  Calls hold a lock,
    so threads sharing a session build each entry once."""
    app = spark.sparkContext.applicationId
    with _SESSION_MEMO_LOCK:
        for stale in [k for k in _SESSION_MEMO if k[0] != app]:
            del _SESSION_MEMO[stale]
        key = (app, name, sf_dir)
        hit = _SESSION_MEMO.get(key)
        if hit is None:
            value, frames = build()
            if frames:
                frames[-1].count()
            _SESSION_MEMO[key] = (value, frames)
            return value
        value, frames = hit
        lost = [
            df for df in frames
            if not (df.storageLevel.useMemory or df.storageLevel.useDisk)
        ]
        for df in lost:
            df.persist()
        if lost:
            lost[-1].count()
        return value
