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

import functools
from collections.abc import Callable
from typing import Dict, Set

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

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

    The key is registered (and bound in its module) as a wrapper that
    runs :func:`configure` first, so every key sees a configured session
    whichever keys ran before it on that session.
    """

    def deco(fn: QueryFn) -> QueryFn:
        if key in QUERIES:
            raise ValueError(f"duplicate operator key: {key}")

        @functools.wraps(fn)
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            configure(spark)
            return fn(spark, sf_dir)

        QUERIES[key] = run
        if oracle is not None:
            ORACLES[key] = oracle.strip()
        else:
            ROWS_ONLY.add(key)
        return run

    return deco


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable session tuning.

    The driver owns the SparkSession, so only dynamic SQL confs are used:
    - ``nanosAsLong``: events.ts is parquet timestamp[ns], which PySpark
      4.1.2 refuses to read natively (PARQUET_TYPE_ILLEGAL).
    - UTC session timezone: keeps collected timestamps equal to the stored
      wall-clock values DuckDB returns.
    - AQE + Arrow on; these are Spark-4 defaults but pinned defensively.

    Idempotence is probed from the session's own conf, NOT an id(spark)
    cache: CPython reuses id() after GC, so a fresh session could alias a
    dead one's cache entry and silently skip the nanosAsLong fix
    (ADVICE r2 #3 — same defect class as register_views).
    """
    if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None) == "true":
        return spark
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    # The driver hands us a DEFAULT session: shuffle.partitions=200.
    # 200 reduce tasks per stage over sf0.01-sf0.1 inputs is pure
    # scheduling overhead (measured: the all-key sf0.01 sweep drops
    # ~35% with 32) and directly burns the driver's verify budget.
    # Only the UNTOUCHED default is overridden: a session whose owner
    # set partitions explicitly (the 8-partition test fixture, a scoped
    # override already in effect) keeps its value.
    if spark.conf.get("spark.sql.shuffle.partitions") == "200":
        spark.conf.set("spark.sql.shuffle.partitions", "32")
    return spark


def pin(col: Column, scale) -> Column:
    """``col`` pinned to steps of ``1/scale``: ``floor(col*scale + 0.5) /
    scale`` — the one JVM-side spelling of the rule for a float that gets
    hash-compared.  Never ``ROUND()`` such a float: Spark and DuckDB
    resolve half-way ties differently, while these IEEE ops are
    bit-identical on both engines (tests/test_fp_pinning.py).  ``scale``
    is used as given, so ``100``, ``10000.0`` and ``1_000_000`` keep their
    literal types.  The SQL twin is :func:`pin_sql`."""
    return F.floor(col * scale + F.lit(0.5)) / scale


def pin_int(col: Column, scale) -> Column:
    """The integer form of :func:`pin`, ``CAST(FLOOR(col*scale + 0.5) AS
    BIGINT)`` — exact cents, basis points or e6 keys.  Scale 1 pins a
    value that is already scaled (``10000.0 * num / den``) and adds no
    multiply, so the caller's order of arithmetic is kept."""
    if scale != 1:
        col = col * scale
    return F.floor(col + F.lit(0.5)).cast("long")


def pin_sql(expr: str, scale) -> str:
    """SQL twin of :func:`pin` for oracle text built in Python."""
    return f"FLOOR(({expr}) * {scale} + 0.5) / {scale}"


import atexit
import contextlib
import os
import shutil
import tempfile
import threading


@contextlib.contextmanager
def scoped_sql_conf(spark: SparkSession, confs: dict):
    """Temporarily set runtime SQL confs around an EAGERLY-EXECUTED job
    (a write, an iterative loop, microbatch runs).  A typical use narrows
    spark.sql.shuffle.partitions around a driver-orchestrated job
    sequence whose per-stage data is tiny: 32 tasks per reduce stage is
    pure scheduling overhead when each stage carries a few thousand
    rows.  Plans that execute AFTER the block see the caller's settings,
    so any key using this must materialize inside the scope (sink-key
    shape: write, then return a read-back frame).  A key that was unset
    before the scope is unset again after it, so the caller's conf map
    comes back exactly as it was, also when the body raises."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, str(v))
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


_UNPROBED = object()


def fixpoint(spark: SparkSession, seed: DataFrame, step, *, max_iters: int,
             probe=None, probe_from: int = 0, what: str) -> DataFrame:
    """The one checkpointed driver loop: ``step`` applied from ``seed``
    until ``probe`` repeats, each round an eager ``localCheckpoint``.

    Rounds count from 0, the seed (never checkpointed).  ``probe(state)``
    (a tiny driver-side job) runs from round ``probe_from`` on, and the
    first round whose probe equals the last one probed is returned.
    ``probe=None`` runs exactly ``max_iters`` rounds.  At the cap it
    raises, naming ``what`` (the loop and its cap's constant), rather
    than return a state that has not converged.

    Rounds run under 8 shuffle partitions: their reduce stages carry a
    few thousand rows (connected components measured 8.3 s → 6.4 s at
    sf0.1 against 32).  A local checkpoint's blocks go only when the
    JVM's ContextCleaner happens to collect its RDD, so each round frees
    its predecessor's once its own has materialized, and the raise path
    frees the last.  The returned round's stays: the caller's frame
    reads it."""

    def release(df: DataFrame) -> None:
        df._jdf.queryExecution().analyzed().rdd().unpersist(True)

    state, last, kept = seed, _UNPROBED, None
    with scoped_sql_conf(spark, {"spark.sql.shuffle.partitions": 8}):
        try:
            for r in range(max_iters + 1):
                if r:
                    nxt = step(state).localCheckpoint(eager=True)
                    if kept is not None:
                        release(kept)
                    state = kept = nxt
                if probe is None or r < probe_from:
                    continue
                value = probe(state)
                if value == last:
                    return state
                last = value
            if probe is None:
                return state
            raise RuntimeError(
                f"{what} did not converge within {max_iters} rounds — "
                "raise its cap"
            )
        except BaseException:
            if kept is not None:
                release(kept)
            raise


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


def _usable_tmpfs(path: str, min_free_bytes: int = 2 * 1024**3) -> bool:
    """True when ``path`` is a writable dir with ≥ ``min_free_bytes``
    free (r17 ADVICE: many container runtimes cap /dev/shm at 64 MB —
    isdir+W_OK alone would route shuffle spills into ENOSPC there)."""
    if not (os.path.isdir(path) and os.access(path, os.W_OK)):
        return False
    try:
        st = os.statvfs(path)
    except OSError:
        return False
    return st.f_bavail * st.f_frsize >= min_free_bytes


def scratch_path(name: str) -> str:
    """Path of the scratch area ``name`` WITHOUT wiping it — for tests
    that inspect what a key just wrote, and for a key that must release
    a handle on the old area before :func:`scratch` wipes it.

    Scratch lives under a per-process root
    ``<base>/spark_graft_scratch/<pid>``.  ``<base>`` is
    $SPARK_GRAFT_STREAM_SCRATCH when set, else the RAM-backed /dev/shm
    when it has room, else tempfile.gettempdir(): checkpoint commits
    fsync many tiny files per microbatch, and on a disk-backed /tmp
    that I/O measured as a consistent per-key tax (r17 A/B minima,
    tmpfs vs disk: stream_stateful_counter 2.84 vs 3.54 s,
    stream_stream_left_outer 7.29 vs 8.69 s).  At production scale the
    same override points at the local SSD array."""
    base = os.environ.get("SPARK_GRAFT_STREAM_SCRATCH")
    if not base:
        base = "/dev/shm" if _usable_tmpfs("/dev/shm") else tempfile.gettempdir()
    return os.path.join(base, "spark_graft_scratch", str(os.getpid()), name)


@functools.cache
def _claim_scratch_root(root: str) -> None:
    """First use of ``root`` in this process: remove the roots of
    processes that are gone (a killed run never reaches its atexit),
    then register this root's own removal at exit."""
    parent = os.path.dirname(root)
    for pid in filter(str.isdigit, os.listdir(parent)):
        try:
            os.kill(int(pid), 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(parent, pid), ignore_errors=True)
        except PermissionError:
            pass  # alive, owned by another user
    atexit.register(shutil.rmtree, root, True)


def scratch(name: str) -> str:
    """Wipe and return the scratch area ``name`` (layout: see
    :func:`scratch_path`) — the one place the engine puts ephemeral
    output: sinks, checkpoints, WALs and state stores.

    The root is per process, so concurrent sessions (a bench run beside
    a pytest run) never share an area, and a fixed name per key means a
    repeat call replaces its previous area.  The root is created lazily,
    never at import (Python workers import engine), and on every call,
    because a caller may wipe the base between calls."""
    d = scratch_path(name)
    if os.path.exists(d):
        shutil.rmtree(d)
    os.makedirs(d, exist_ok=True)
    _claim_scratch_root(os.path.dirname(d))
    return d


def fingerprint(path: str) -> str:
    """``name:size:mtime_ns`` of ``path``, or of each entry of ``path``
    when it is a directory — the one corpus fingerprint.  The corpus is
    immutable WITHIN a round but the driver regenerates it BETWEEN rounds
    (r4 rolled events.ts from ns to µs), so everything resolved from it
    once (staged copies, registered views, loaded relations) is keyed on
    this and redone on any mismatch."""
    try:
        if os.path.isdir(path):
            names = sorted(os.listdir(path))
            stats = [os.stat(os.path.join(path, n)) for n in names]
        else:
            names, stats = [os.path.basename(path)], [os.stat(path)]
    except OSError:
        return "unknown"
    return ",".join(
        f"{n}:{st.st_size}:{st.st_mtime_ns}" for n, st in zip(names, stats)
    )


def staged_marker(d: str) -> str | None:
    """The ``_STAGING_DONE`` marker of staged directory ``d`` (the corpus
    fingerprint it was built from), or None while it is not built."""
    try:
        with open(os.path.join(d, "_STAGING_DONE")) as f:
            return f.read()
    except OSError:
        return None


def staged_build_once(name: str, sf_dir: str, build) -> str:
    """Build-once cache for deterministic staged directories (streaming
    replay sources, derived partitioned tables) under
    ``gettempdir()/spark_graft_staging`` — one directory for every
    module, so each ``name`` must be unique across the engine.

    The staged artifacts are pure functions of the immutable corpus, so
    rebuilding per invocation charges every bench/verify run pure
    staging cost.  ``build`` fills a private ``mkdtemp`` sibling that
    gets the `_STAGING_DONE` marker and is then renamed into place, so
    no process ever sees (or wipes) another's half-built directory; a
    builder that loses the rename discards its copy.  `_`-prefixed
    files are invisible to Spark's parquet file source.  Sinks and
    checkpoints must NOT be cached — only inputs (see :func:`scratch`).
    """
    base = os.path.join(tempfile.gettempdir(), "spark_graft_staging")
    d = os.path.join(base, f"{name}_{os.path.basename(os.path.normpath(sf_dir))}")
    # A marker that never expires would replay a regenerated corpus's
    # stale data: the marker holds the corpus fingerprint.
    fp = fingerprint(sf_dir)
    if staged_marker(d) == fp:
        return d
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f".{name}_", dir=base)
    try:
        build(tmp)
        with open(os.path.join(tmp, "_STAGING_DONE"), "w") as f:
            f.write(fp)
        if staged_marker(d) != fp and os.path.lexists(d):
            # A copy built from an older corpus: rename it aside first,
            # since a directory cannot be renamed over a non-empty one.
            stale = tempfile.mkdtemp(prefix=f".{name}_stale_", dir=base)
            with contextlib.suppress(OSError):
                os.rename(d, stale)
            shutil.rmtree(stale, ignore_errors=True)
        try:
            os.rename(tmp, d)
        except OSError:
            # Another builder renamed its complete copy in first.
            if staged_marker(d) != fp:
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return d


_SESSION_MEMO: dict = {}
_SESSION_MEMO_LOCK = threading.RLock()


def session_memo(spark: SparkSession, name: str, sf_dir: str, build, version=None):
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
    so threads sharing a session build each entry once.

    ``version`` names the state of the input the value was built from
    (a :func:`fingerprint`, a :func:`staged_marker`): an entry built
    from another version is unpersisted and rebuilt, so a regenerated
    input is read again."""
    app = spark.sparkContext.applicationId
    with _SESSION_MEMO_LOCK:
        for stale in [k for k in _SESSION_MEMO if k[0] != app]:
            del _SESSION_MEMO[stale]
        key = (app, name, sf_dir)
        hit = _SESSION_MEMO.get(key)
        if hit is not None and hit[2] != version:
            for df in hit[1]:
                df.unpersist()
            hit = None
        if hit is None:
            value, frames = build()
            if frames:
                frames[-1].count()
            _SESSION_MEMO[key] = (value, frames, version)
            return value
        value, frames, _ = hit
        lost = [
            df for df in frames
            if not (df.storageLevel.useMemory or df.storageLevel.useDisk)
        ]
        for df in lost:
            df.persist()
        if lost:
            lost[-1].count()
        return value
