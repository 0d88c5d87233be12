"""Structured Streaming operators (SURVEY.md §2.10, ``stream_*`` keys).

Every key runs its stream through :func:`_drain`, the one stream start
in the engine: an ``availableNow`` trigger drains what the source holds
at start in exactly-once microbatches, then stops — Structured
Streaming's run-once form of a stream as a bounded batch job (Armbrust
et al., SIGMOD 2018).  A drain whose only stateful operator is a
deduplication stops after its last data batch; every other drain keeps
Spark's trailing no-data batch, in which append-mode outer joins and
state timeouts emit.  Most keys replay the events parquet through
``readStream``; the rate key drains one batch of the built-in rate
source and the Python-source key one page per drain.  Keys whose
drained result is DETERMINISTIC regardless of microbatch split
(complete-mode aggs, exhaustive dedup, final state) carry full DuckDB
oracles — the streaming path is hash-verified; so do keys whose
watermark phasing is FIXED by explicit staged mtimes +
maxFilesPerTrigger (``stream_watermark_late``: the emitted append-mode
set is a pure function of the staging).  Keys whose output genuinely
depends on runtime batch boundaries stay rows-only; their gate is
tests/test_streaming.py, which asserts each result equals (or is the
watermark-consistent subset of) its batch twin from engine.events.

100 TB notes: the same code runs against a continuous file/Kafka source
by swapping the trigger; state stores (window aggs, dedup state) live on
executors and are bounded by the watermark horizon, not by stream length.

On-disk layout has two owners in engine.core.  Replay sources are
INPUTS, staged once per corpus fingerprint by :func:`_stage_phases`
(``staged_build_once`` underneath), one parquet file per phase with a
pinned phase mtime.  Checkpoints, WALs, state stores and file sinks are
SCRATCH from ``scratch(name)``: wiped per call, one area per key name (a
repeat call replaces its predecessor) under a per-process root removed
at exit.
"""

from __future__ import annotations

import os
import re
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.core import (
    pin_int,
    query,
    scoped_sql_conf,
    scratch,
    session_memo,
    staged_build_once,
    staged_marker,
)
from engine.io import load

# Stateful-streaming parallelism is fixed by spark.sql.shuffle.partitions
# at query start (recorded in the checkpoint).  The staged sources replay
# a handful of small files, so 32 state-store instances per microbatch
# are pure commit overhead — 8 measured 2-3× faster per stream key at
# sf0.1 (smoke 2.8 s → 0.9 s).  Most of that gap was process forks, not
# scheduling: on a JVM without libhadoop every state file a task creates
# or renames forks a `chmod` or `readlink`, so the count of forks scaled
# with the count of state stores.  In production this knob is sized to
# state volume; here every query starts on a fresh checkpoint, so the
# narrower setting never conflicts with stored state.
_STREAM_SHUFFLE_PARTITIONS = 8

_CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)

_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)

# Logical operators that keep state in a streaming plan (Spark's
# UnsupportedOperationChecker.isStatefulOperation, plus Distinct, which
# the optimizer rewrites into an Aggregate).  A stream-static Join is
# counted too, which at worst keeps a drain on Spark's default.
_DEDUP_NODES = frozenset({"Deduplicate", "DeduplicateWithinWatermark"})
_STATEFUL_NODES = _DEDUP_NODES | {
    "Aggregate", "Distinct", "Join", "FlatMapGroupsWithState",
    "FlatMapGroupsInPandasWithState", "TransformWithState",
    "TransformWithStateInPySpark",
}
# A node's name opens its line of the tree string, after the branch
# marks; a streaming node's name carries a "~" prefix.
_NODE_NAME = re.compile(r"^[\s:+\-~]*(\w+)", re.M)


def _state_is_dedup_only(df: DataFrame) -> bool:
    """True when every stateful operator of ``df``'s analyzed plan is a
    deduplication.  Such a drain needs no trailing no-data microbatch:
    that batch only evicts dedup state the watermark has passed, emits
    nothing, and the drain's checkpoint is thrown away after it."""
    tree = df._jdf.queryExecution().analyzed().toString()
    stateful = set(_NODE_NAME.findall(tree)) & _STATEFUL_NODES
    return bool(stateful) and stateful <= _DEDUP_NODES


def _drain(
    df: DataFrame,
    ckpt: str,
    mode: str = "append",
    sink="noop",
    name: str | None = None,
    rocksdb: bool = False,
):
    """Run the stream ``df`` to its end and return the terminated
    StreamingQuery — the only stream start in the engine
    (tests/test_plans.py guards it).  The trigger is always
    ``availableNow``: the query drains what its source holds at start in
    exactly-once microbatches, then stops.  ``sink`` is a sink format
    (``"noop"``, ``"memory"``) or a function run per microbatch
    (foreachBatch); ``name`` names the query (the memory sink's temp
    view).  ``ckpt`` is the caller's checkpoint (an
    ``engine.core.scratch`` area): without one Spark leaves a temp
    checkpoint under java.io.tmpdir.  A query still active when the
    await raises is stopped, so an op that fails leaves no stream
    running, and the caller's confs come back either way.

    Runtime SQL confs held while the query runs:

    - ``checkpointFileManagerClass`` = the FileSystem manager.  Every
      engine checkpoint lives under ``engine.core.scratch``, which is
      local disk or tmpfs, where its rename is one ``rename(2)``.  The
      default FileContext manager calls ``getFileLinkStatus`` on every
      rename, and a JVM without libhadoop forks a ``readlink`` for each
      (``stream_dedup_state``: 320 ``readlink`` and 96 ``chmod`` per
      call without this conf, 60 ``chmod`` with it).  A checkpoint on
      a remote store would keep Spark's default manager.
    - ``stateStore.unloadOnCommit`` = true.  Every drain starts on a
      fresh checkpoint, resumed at most inside the call that made it,
      so a state-store provider kept loaded after its commit only holds
      maps and threads (4 checksum-manager threads per provider, alive
      until the 60-s maintenance pass).
    - ``shuffle.partitions`` = min(8, default parallelism): the state
      tasks of a microbatch run in one wave.
    - ``noDataMicroBatches.enabled`` = false when
      :func:`_state_is_dedup_only`: no trailing microbatch (planning,
      state-store commits, offset and commit logs) that only evicts
      dedup state from a checkpoint the caller discards.  Every other
      plan keeps Spark's default: append-mode window aggregates, outer
      stream-stream joins and state timeouts emit in that batch.
    - ``rocksdb``: the RocksDB state-store provider.  The drain then
      raises unless the query's last progress reports RocksDB custom
      metrics, so a silently ignored provider conf cannot pass."""
    spark = df.sparkSession
    confs = {
        "spark.sql.streaming.checkpointFileManagerClass": _CHECKPOINT_FILE_MANAGER,
        "spark.sql.streaming.stateStore.unloadOnCommit": "true",
        "spark.sql.shuffle.partitions": min(
            _STREAM_SHUFFLE_PARTITIONS, spark.sparkContext.defaultParallelism
        ),
    }
    if _state_is_dedup_only(df):
        confs["spark.sql.streaming.noDataMicroBatches.enabled"] = "false"
    if rocksdb:
        confs["spark.sql.streaming.stateStore.providerClass"] = _ROCKSDB_PROVIDER
    with scoped_sql_conf(spark, confs):
        w = df.writeStream.outputMode(mode).option("checkpointLocation", ckpt)
        w = w.foreachBatch(sink) if callable(sink) else w.format(sink)
        if name is not None:
            w = w.queryName(name)
        q = w.trigger(availableNow=True).start()
        try:
            q.awaitTermination()
        finally:
            if q.isActive:
                q.stop()
    if rocksdb:
        _require_rocksdb(q)
    return q


def _require_rocksdb(q) -> None:
    """Raise unless ``q``'s last progress reports RocksDB custom
    metrics."""
    ops = (q.lastProgress or {}).get("stateOperators") or []
    metrics = {k for op in ops for k in (op.get("customMetrics") or {})}
    if not any("rocksdb" in m.lower() for m in metrics):
        raise RuntimeError(
            "RocksDB state store provider did not engage — no "
            f"rocksdb custom metrics in progress: {sorted(metrics)}"
        )


def _drain_to_memory(
    df: DataFrame, mode: str, name: str, rocksdb: bool = False
) -> DataFrame:
    """:func:`_drain` ``df`` into the memory sink ``name`` and return the
    sink as a batch frame.  The name is fixed per key, so a repeat call
    replaces the previous temp view and its checkpoint (``ckpt_<name>``):
    a long-lived session keeps at most one sink and one checkpoint per
    key.  A frame a caller already holds from an earlier call keeps
    reading the sink it was resolved against."""
    _drain(df, scratch(f"ckpt_{name}"), mode, "memory", name, rocksdb)
    return df.sparkSession.table(name)


_PHASE_EPOCH = 1_600_000_000  # fixed base for explicit phase mtimes


def _stamp_phase(src: str, phase: int, stamped: set[str]) -> None:
    """Pin a monotone mtime on each not-yet-stamped file under ``src``.

    The file source replays oldest-mtime-first; phase writes land
    milliseconds apart, so tie/granularity reordering could deliver the
    'late' batch early and make watermark semantics nondeterministic
    (ADVICE r2 #4).  An explicit utime per phase removes the race.
    """
    t = _PHASE_EPOCH + phase * 1000
    for name in os.listdir(src):
        p = os.path.join(src, name)
        if p not in stamped and os.path.isfile(p):
            os.utime(p, (t, t))
            stamped.add(p)


def _stage_phases(name: str, sf_dir: str, phases) -> str:
    """The staged replay source ``name``: ``phases()`` returns the phase
    frames in replay order, and each is written as one parquet file
    (``coalesce(1)``) whose mtime is pinned to its phase, so a stream
    with ``maxFilesPerTrigger=1`` reads phase ``i`` as microbatch ``i``.
    Built once per corpus through ``staged_build_once``, so ``phases``
    runs only on a staging miss."""

    def build(src: str) -> None:
        stamped: set[str] = set()
        for i, frame in enumerate(phases()):
            frame.coalesce(1).write.mode("append").parquet(src)
            _stamp_phase(src, i, stamped)

    return staged_build_once(name, sf_dir, build)


def _us_bounds(ev: DataFrame):
    """(min, max) of ``ev.ts`` in epoch µs — the span a phased replay
    splits."""
    return ev.agg(F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))).first()


def _stage_events_dir(spark: SparkSession, sf_dir: str) -> str:
    """The events table as a one-phase staged *directory* (the streaming
    file source requires a directory, and the corpus ships single files;
    a production deployment would already have a partitioned directory).
    The batch rewrite also bakes in the ns→µs timestamp normalization.
    Every consumer reads it in one batch."""
    return _stage_phases("src", sf_dir, lambda: [load(spark, sf_dir, "events")])


def _staged_schema(spark: SparkSession, src: str):
    """Schema of the staged directory ``src``, inferred once per session:
    a streaming file source needs it up front, and each inference is a
    Spark job over a directory that ``staged_build_once`` made immutable
    (until its marker changes)."""
    return session_memo(
        spark,
        "staged_schema",
        src,
        lambda: (spark.read.parquet(src).schema, []),
        version=staged_marker(src),
    )


def _events_stream(
    spark: SparkSession, src: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """readStream over a staged parquet directory.  Every staged source
    is written from an :func:`engine.io.load` frame, so ``ts`` is
    already a µs TimestampType and needs no fold here.

    ``max_files_per_trigger`` is a SOURCE option: it splits the replay
    into one microbatch per file (oldest mtime first), which is what
    lets the watermark advance between phases.
    """
    schema = _staged_schema(spark, src)
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(src)


@query(
    "stream_smoke_tumbling",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_value_cents
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_smoke_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """evt_tumbling_window executed via Structured Streaming: file-source
    replay → windowed agg → complete-mode memory sink.  After the
    availableNow drain the sink must equal the batch twin exactly
    (asserted in tests/test_streaming.py) — and because a complete-mode
    drain of a bounded replay is DETERMINISTIC regardless of microbatch
    split, the key carries a full DuckDB oracle (upgraded from
    rows-only, round 8): the streaming path itself is hash-verified,
    not merely row-counted."""
    src = _stage_events_dir(spark, sf_dir)
    agg = (
        _events_stream(spark, src)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(pin_int(F.col("value"), 100)).alias("sum_value_cents"),
        )
    )
    return _drain_to_memory(agg, "complete", "smoke_tumbling").select(
        F.col("w.start").alias("hour_start"), "event_type", "n", "sum_value_cents"
    )


@query(
    "stream_session_window",
    oracle="""
    WITH flagged AS (
        SELECT user_id, event_id, epoch_us(ts) AS us,
               CASE WHEN epoch_us(ts) - LAG(epoch_us(ts))
                        OVER (PARTITION BY user_id ORDER BY ts, event_id)
                        >= 1800000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WHERE user_id % 2 = 0
    ),
    sessions AS (
        SELECT user_id, us,
               SUM(new_session) OVER (PARTITION BY user_id
                                      ORDER BY us, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS session_idx
        FROM flagged
    )
    SELECT user_id,
           CAST(MIN(us) AS BIGINT) AS start_us,
           CAST(MAX(us) + 1800000000 AS BIGINT) AS window_end_us,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM sessions
    GROUP BY user_id, session_idx
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's native ``session_window`` as a STATEFUL streaming agg:
    file-source replay → per-user session windows (30-min gap) →
    complete-mode memory sink.  Session state merges windows across
    microbatches on the executors — the canonical dynamic-gap stateful
    operator.  After the availableNow drain the sink must equal the
    batch twin ``evt_session_native`` exactly (tests/test_streaming.py).
    """
    src = _stage_events_dir(spark, sf_dir)
    sdf = _events_stream(spark, src).filter(F.col("user_id") % 2 == 0)
    agg = (
        sdf.withWatermark("ts", "1 hour")
        .groupBy("user_id", F.session_window(F.col("ts"), "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
    )
    return _drain_to_memory(agg, "complete", "session_window").select(
        "user_id",
        F.unix_micros(F.col("w.start")).alias("start_us"),
        F.unix_micros(F.col("w.end")).alias("window_end_us"),
        "n_events",
    )


@query(
    "stream_watermark_late",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour_start,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    GROUP BY 1
    HAVING date_trunc('hour', ts) + INTERVAL 1 HOUR
           <= (SELECT MAX(ts) - INTERVAL 1 HOUR FROM events)
    """,
)
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark semantics on a 4-phase replay: three time-ordered batches
    advance the watermark; a fourth batch replays the FIRST quarter's
    events (late beyond the 1-hour watermark) — they must be dropped.

    Append mode emits only watermark-finalized windows — so the drained
    sink is a PURE FUNCTION of the staging (r11 oracle upgrade, the r8
    precedent): phases replay oldest-mtime-first with explicit monotone
    stamps and maxFilesPerTrigger=1, the final watermark is
    max(on-time ts) − 1h (the late replay never raises it — its events
    sit a quarter-span below), and the emitted set is exactly the hour
    windows whose END has been passed by that watermark, counted over
    the on-time phases (= all original events; phases 0-2 partition the
    corpus).  The late batch lands entirely below the then-current
    watermark and is dropped rowwise, so it contributes to no window —
    which is precisely what the oracle's ignore-the-replay form proves.
    The ≤-boundary convention is unobservable at µs timestamp
    precision (max ts on an exact hour boundary).
    """
    ev = load(spark, sf_dir, "events").select("event_id", "ts", "event_type")
    us = F.unix_micros(F.col("ts"))

    def phases():
        lo, hi = _us_bounds(ev)
        quarter = (hi - lo) // 4 + 1
        on_time = []
        for i in range(3):  # three in-order phases cover the full range
            phase_lo = lo + i * quarter
            phase_hi = lo + (i + 1) * quarter + (quarter * 2 if i == 2 else 0)
            on_time.append(ev.filter((us >= phase_lo) & (us < phase_hi)))
        # late phase: first-quarter events replayed with new ids
        late = ev.filter(us < lo + quarter).withColumn(
            "event_id", F.col("event_id") + 1_000_000
        )
        return on_time + [late]

    src = _stage_phases("watermark_late", sf_dir, phases)

    agg = (
        _events_stream(spark, src, max_files_per_trigger=1)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
    )
    return _drain_to_memory(agg, "append", "watermark_late").select(
        F.col("w.start").alias("hour_start"), "n"
    )


@query(
    "stream_dedup_state",
    oracle="""
    SELECT CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct_ids
    FROM events
    """,
)
def stream_dedup_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup: the source directory holds every event
    TWICE (two parquet copies); ``dropDuplicates`` on event_id with a
    watermark must emit each exactly once (state bounded by watermark;
    both copies arrive in one availableNow batch here, so the dedup is
    exhaustive and the expected count is exactly the distinct ids)."""
    ev = load(spark, sf_dir, "events").select("event_id", "ts", "event_type")

    src = _stage_phases("dedup_state", sf_dir, lambda: [ev, ev])

    deduped = (
        _events_stream(spark, src)
        .withWatermark("ts", "1 hour")
        .dropDuplicates(["event_id"])
    )
    return _drain_to_memory(deduped, "append", "dedup_state").agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("event_id").alias("n_distinct_ids"),
    )


@query(
    "stream_foreach_batch_sink",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_value_cents
    FROM events
    GROUP BY event_type
    """,
)
def stream_foreach_batch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming → foreachBatch → parquet sink: the escape hatch for sinks
    without native streaming writers (JDBC upserts, multi-table fanout).
    Final sink state must equal the batch source (asserted in tests)."""
    src = _stage_events_dir(spark, sf_dir)
    sink = scratch("foreach_batch_sink")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.select("event_id", "event_type", "value").write.mode(
            "append"
        ).parquet(sink)

    _drain(
        _events_stream(spark, src), os.path.join(sink, "_checkpoint"),
        sink=write_batch,
    )
    return (
        spark.read.parquet(sink)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(pin_int(F.col("value"), 100)).alias("sum_value_cents"),
        )
    )


@query(
    "stream_stateful_counter",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY user_id
    """,
)
def stream_stateful_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running event counts that survive across microbatches (the replay is
    split into two time-ordered batches, so state genuinely carries).

    This is the arbitrary-state API a custom streaming operator (session
    scoring, CDC merge, online feature update) builds on — the windowed
    aggs in the other keys only cover built-in state shapes.  Returns
    the final per-user totals (latest update per user), which must equal
    the batch groupBy count (asserted in tests/test_streaming.py).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = load(spark, sf_dir, "events").select("event_id", "ts", "user_id")

    def phases():
        lo, hi = _us_bounds(ev)
        mid = lo + (hi - lo) // 2
        us = F.unix_micros(F.col("ts"))
        return [ev.filter(us <= mid), ev.filter(us > mid)]

    src = _stage_phases("stateful_counter", sf_dir, phases)

    def count_events(key, pdfs, state: GroupState):
        # Bounded-bucket state (r10 rule; r17 opt — the
        # stream_match_recognize rationale): one Arrow batch + state
        # round-trip per BUCKET per microbatch instead of per user.
        # Emits one row per user that appeared in THIS batch (exactly
        # the per-user grouping's update-mode output); counts per user
        # are vectorized with np.unique.
        #
        # State-size model (r17 VERDICT #5 / ADVICE): the (uids, ns)
        # arrays hold every user EVER seen in the bucket and are
        # re-serialized whole each microbatch — O(distinct_users/64)
        # per bucket per batch, same TOTAL state as the per-user
        # layout but transferred as one row per bucket.  Running
        # totals are the declared semantics, so idle users cannot be
        # dropped (a re-seen user must resume its count, and NoTimeout
        # state has no eviction horizon); at unbounded user
        # cardinality the production form bounds this with the
        # stream_state_ttl pattern (EventTimeTimeout eviction) or more
        # buckets.  tests/test_streaming.py pins the model via the
        # state reader (64 state rows; stored uids == distinct users).
        import numpy as np

        if state.exists:
            uids, ns = state.get
            st = dict(zip(map(int, uids), map(int, ns)))
        else:
            st = {}
        seen: set[int] = set()
        for pdf in pdfs:
            u, c = np.unique(
                pdf["user_id"].to_numpy(dtype=np.int64), return_counts=True
            )
            for uid, n in zip(u.tolist(), c.tolist()):
                st[uid] = st.get(uid, 0) + n
                seen.add(uid)
        items = sorted(st.items())
        state.update((
            [u for u, _ in items], [n for _, n in items],
        ))
        if seen:
            out = sorted(seen)
            yield pd.DataFrame(
                {"user_id": out, "n_events": [st[u] for u in out]}
            )

    counted = (
        _events_stream(spark, src, max_files_per_trigger=1)
        .withColumn("bucket", F.col("user_id") % 64)
        .groupBy("bucket")
        .applyInPandasWithState(
            count_events,
            outputStructType="user_id long, n_events long",
            stateStructType="uids array<long>, ns array<long>",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    # update mode emits one row per (user, batch): the final state is the
    # max (counts are monotone).
    final = _drain_to_memory(counted, "update", "stateful_counter")
    return final.groupBy("user_id").agg(F.max("n_events").alias("n_events"))


@query(
    "stream_rocksdb_state",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_value_cents
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_rocksdb_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tumbling-window stateful agg re-run with the ROCKSDB state
    store (``spark.sql.streaming.stateStore.providerClass =
    RocksDBStateStoreProvider``) scoped on for the query.

    Why this matters at 100 TB: the default HDFS-backed provider keeps
    every state-store version ON THE EXECUTOR HEAP — state volume is
    capped by JVM memory and GC pauses scale with it.  RocksDB spills
    state to local SSD with a bounded block cache, so watermark-horizon
    state (sessionization over millions of users, stream-stream join
    buffers) scales with disk, not heap.  Same query code — the
    provider is pure configuration, which is exactly what this key
    proves: the sink must equal the HDFS-provider twin and the batch
    twin bit-for-bit (tests/test_streaming.py), and the key itself
    raises unless the run's progress reports RocksDB custom metrics
    (so a silently-ignored conf cannot pass).

    The provider conf is read at QUERY START (recorded per checkpoint),
    so the scoped set/restore cannot leak into other keys' running
    queries; fresh checkpoint per run keeps provider switches legal."""
    src = _stage_events_dir(spark, sf_dir)
    agg = (
        _events_stream(spark, src)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(pin_int(F.col("value"), 100)).alias("sum_value_cents"),
        )
    )
    return _drain_to_memory(agg, "complete", "rocksdb_state", rocksdb=True).select(
        F.col("w.start").alias("hour_start"),
        "event_type",
        "n",
        "sum_value_cents",
    )


@query(
    "stream_state_reader",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY user_id
    """,
)
def stream_state_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATE DATA SOURCE (Spark 4 ``format("statestore")``): read the
    checkpointed state of a streaming query back as a batch DataFrame —
    the ops surface for state inspection, debugging, and offline
    state migration/backfill that a production streaming deployment
    needs (is a key skewed? what does user X's state hold? seed a new
    query's state from the old checkpoint).

    The stateful query is a per-user running counter
    (applyInPandasWithState, user-declared state schema ``n long``) run
    to completion with an explicit checkpointLocation; the state source
    then reads that checkpoint's LATEST committed snapshot:
    key struct → user_id, value struct → n.  Because the drain
    processed every event exactly once, the final state must equal the
    batch groupBy count — a full DuckDB HASH verification of a
    streaming checkpoint's contents (rare for stream keys, possible
    here precisely because the state schema is user-declared).

    Scale: the state source reads state-store shards in parallel
    (one task per store partition) straight from the checkpoint —
    no replay of the source stream."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src = _stage_events_dir(spark, sf_dir)
    ckpt = scratch("state_reader_ckpt")

    def count_events(key, pdfs, state: GroupState):
        total = state.get[0] if state.exists else 0
        for pdf in pdfs:
            total += len(pdf)
        state.update((total,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [total]})

    counted = (
        _events_stream(spark, src)
        .groupBy("user_id")
        .applyInPandasWithState(
            count_events,
            outputStructType="user_id long, n_events long",
            stateStructType="n long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    _drain(counted, ckpt, "update")
    state = spark.read.format("statestore").load(ckpt)
    # applyInPandasWithState nests the user-declared state struct under
    # value.groupState (measured: value: struct<groupState: struct<n>>)
    return state.select(
        F.col("key.user_id").alias("user_id"),
        F.col("value.groupState.n").cast("long").alias("n_events"),
    )


@query(
    "stream_rocksdb_state_reader",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_value_cents
    FROM events
    GROUP BY user_id
    """,
)
def stream_rocksdb_state_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State source over a ROCKSDB-provider checkpoint — the join of the
    two round-8 keys: `stream_rocksdb_state` proved the provider swap is
    pure configuration; `stream_state_reader` proved checkpointed state
    reads back as a batch DataFrame.  This key proves both AT ONCE,
    which is the combination production actually runs: at 100 TB state
    lives in RocksDB (disk-backed, bounded heap), and the offline
    inspection / migration / backfill tooling must read THAT on-disk
    format (SST files + changelog, not the HDFS provider's snapshot
    layout) — an operator who validates the state reader only against
    the default provider has not validated their production path.

    The stateful query is a per-user (count, sum-of-cents) accumulator
    (applyInPandasWithState, user-declared two-field state struct, so
    the read-back schema is contract not internals); the run must
    report RocksDB custom metrics (a silently-ignored provider conf
    cannot pass), and the state source then reads the checkpoint's
    final snapshot: exact-integer cents, full DuckDB hash against the
    batch groupBy.

    Scale: state shards read in parallel straight from the checkpoint;
    no source replay, no raw-event shuffle."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src = _stage_events_dir(spark, sf_dir)
    ckpt = scratch("rocksdb_state_reader_ckpt")

    def accumulate(key, pdfs, state: GroupState):
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            cents += int((pdf["value"] * 100 + 0.5).floordiv(1).sum())
        state.update((n, cents))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n": [n], "cents": [cents]}
        )

    acc = (
        _events_stream(spark, src)
        .select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            accumulate,
            outputStructType="user_id long, n long, cents long",
            stateStructType="n long, cents long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    _drain(acc, ckpt, "update", rocksdb=True)
    state = spark.read.format("statestore").load(ckpt)
    return state.select(
        F.col("key.user_id").alias("user_id"),
        F.col("value.groupState.n").cast("long").alias("n_events"),
        F.col("value.groupState.cents").cast("long").alias("sum_value_cents"),
    )


@query(
    "stream_join_state_reader",
    oracle="""
    SELECT 'left' AS side,
           user_id,
           event_id,
           CAST(FLOOR(epoch_us(ts) / 1000000.0) AS BIGINT) AS ts_s
    FROM events WHERE event_type = 'click'
    UNION ALL
    SELECT 'right' AS side,
           user_id,
           event_id,
           CAST(FLOOR(epoch_us(ts) / 1000000.0) AS BIGINT) AS ts_s
    FROM events WHERE event_type = 'view'
    """,
)
def stream_join_state_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State source over a STREAM-STREAM JOIN checkpoint (``option(
    "joinSide", "left"/"right")``) — inspecting the join's buffered
    rows, the state that actually dominates streaming memory in
    production.  The join here deliberately has NO watermark: Spark
    permits an unwatermarked inner stream-stream join but must then
    buffer EVERY row of both sides forever — so after the availableNow
    drain, each side's state is exactly its full input, and the DuckDB
    oracle hash-verifies the buffer contents row-for-row (click rows
    left, view rows right).

    That unbounded buffer is precisely the anti-pattern the
    watermarked twins (stream_stream_join / _left_outer) exist to
    avoid at 100 TB — this key makes the cost VISIBLE: the state
    reader is the tool that tells an operator "your join is buffering
    the whole stream", before the executor OOMs.  Same reader +
    RocksDB provider (stream_rocksdb_state) is the remediation pair.

    Scale: state shards read in parallel from the checkpoint; no
    source replay."""
    src = _stage_events_dir(spark, sf_dir)
    ckpt = scratch("join_state_reader_ckpt")
    clicks = _events_stream(spark, src).filter(
        "event_type = 'click'"
    ).select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    )
    views = _events_stream(spark, src).filter(
        "event_type = 'view'"
    ).select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("v_ts"),
    )
    _drain(clicks.join(views, F.col("c_user") == F.col("v_user"), "inner"), ckpt)

    def side(name: str, user: str, eid: str, ts: str) -> DataFrame:
        st = (
            spark.read.format("statestore")
            .option("joinSide", name)
            .load(ckpt)
        )
        return st.select(
            F.lit(name).alias("side"),
            F.col(f"value.{user}").alias("user_id"),
            F.col(f"value.{eid}").alias("event_id"),
            F.floor(F.unix_micros(F.col(f"value.{ts}")) / 1_000_000.0)
            .cast("long")
            .alias("ts_s"),
        )

    return side("left", "c_user", "click_id", "c_ts").unionAll(
        side("right", "v_user", "view_id", "v_ts")
    )


@query(
    "stream_sliding_agg",
    oracle="""
    SELECT (epoch_us(e.ts) // 900000000 - s.k) * 900 AS win_start_s,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(e.value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_value_cents
    FROM events e, (SELECT unnest(range(0, 4)) AS k) s
    GROUP BY 1
    """,
)
def stream_sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """evt_sliding_window executed via Structured Streaming: file-source
    replay → overlapping 1-hour/15-minute windows → complete-mode memory
    sink.  Each event updates FOUR window states concurrently — the
    overlap-fanout stateful shape tumbling windows don't exercise.
    After the availableNow drain the sink must equal the batch twin
    exactly (asserted in tests/test_streaming.py)."""
    src = _stage_events_dir(spark, sf_dir)
    agg = (
        _events_stream(spark, src)
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(
            F.count("*").alias("n"),
            F.sum(pin_int(F.col("value"), 100)).alias("sum_value_cents"),
        )
    )
    return _drain_to_memory(agg, "complete", "sliding_agg").select(
        (F.unix_micros(F.col("w.start")) / 1_000_000).cast("long").alias(
            "win_start_s"
        ),
        "n",
        "sum_value_cents",
    )


@query(
    "stream_stream_join",
    # Full oracle since r12 (was rows-only): with time-ordered phases
    # and watermark lag (1 h) > join band (30 min), the append-mode
    # inner join emits EXACTLY the batch join — eviction only ever
    # removes rows past any possible match, and no phase delivers a
    # row below the prior phase's watermark (the r11 staged-mtime
    # determinism argument; equality to the batch twin was already
    # asserted in tests/test_streaming.py since r6).
    oracle="""
    SELECT l.user_id,
           l.event_id AS click_id,
           r.event_id AS purchase_id,
           (epoch_us(r.ts) - epoch_us(l.ts)) // 1000000 AS lag_s
    FROM events l JOIN events r
      ON l.user_id = r.user_id
     AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 30 MINUTE
    WHERE l.event_type = 'click' AND r.event_type = 'purchase'
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM inner join — the flagship Structured Streaming
    operator the windowed-agg keys don't exercise: correlate each click
    with the same user's purchases within the next 30 minutes, both
    sides unbounded streams.

    Both sides carry a 1-hour watermark and the join condition carries
    the time band, so Spark derives a state-eviction horizon for each
    side (left rows are held only until watermark > l_ts + 30 min) —
    WITHOUT the band + watermarks the state store would grow forever;
    with them state is bounded by (event rate × ~1.5 h) per side
    regardless of stream length.  The replay is phased 2 ways
    (maxFilesPerTrigger=1, monotone mtimes) so boundary-crossing pairs
    genuinely exercise cross-microbatch state: a click arriving in
    phase 0 matches a purchase arriving in phase 1 — the watermark
    lag keeps exactly those rows alive across the batch seam.  (2
    phases, not 3 — r18 opt: the emitted set is a pure function of
    time-ordered phasing + lag(1h) > band(30min), i.e. EQUAL to the
    batch join for ANY phase count ≥ 1, and per-microbatch fixed cost
    dominates this key — measured ~1.2-1.4 s/batch regardless of rows,
    66k-row and 0-row batches alike; one seam is the minimum that
    still proves cross-batch state.)

    The drained append-mode sink must equal the batch join exactly
    (tests/test_streaming.py: inline batch twin) — phases are
    time-ordered, so no on-time pair is ever evicted early.
    """
    ev = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    us = F.unix_micros(F.col("ts"))

    def phases():
        lo, hi = _us_bounds(ev)
        half = (hi - lo) // 2 + 1
        return [
            ev.filter((us >= lo + i * half) & (us < lo + (i + 1) * half))
            for i in range(2)
        ]

    # name bumped ss_join -> ss_join_2p: staged_build_once caches by
    # (name, corpus fingerprint) only — a build-fn change needs a new
    # name or stale 3-phase staging replays forever.
    src = _stage_phases("ss_join_2p", sf_dir, phases)

    def side(prefix: str, etype: str) -> DataFrame:
        return (
            _events_stream(spark, src, max_files_per_trigger=1)
            .filter(F.col("event_type") == etype)
            .select(
                F.col("event_id").alias(f"{prefix}_id"),
                F.col("ts").alias(f"{prefix}_ts"),
                F.col("user_id").alias(f"{prefix}_user"),
            )
            .withWatermark(f"{prefix}_ts", "1 hour")
        )

    joined = side("l", "click").join(
        side("r", "purchase"),
        F.expr(
            "l_user = r_user AND r_ts >= l_ts "
            "AND r_ts <= l_ts + INTERVAL 30 MINUTES"
        ),
    )
    # lag in whole seconds via integer div (both engines truncate
    # toward zero; the lag is non-negative by the join band) — the
    # double-division + ANSI-cast form this replaced was also exact
    # here but fails the never-round-a-hashed-float rule by shape.
    return _drain_to_memory(joined, "append", "ss_join").select(
        F.col("l_user").alias("user_id"),
        F.col("l_id").alias("click_id"),
        F.col("r_id").alias("purchase_id"),
        F.expr("(unix_micros(r_ts) - unix_micros(l_ts)) div 1000000").alias(
            "lag_s"
        ),
    )


@query(
    "stream_rate_source",
    oracle="""
    SELECT CAST(i % 10 AS INTEGER) AS residue,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(i) AS BIGINT) AS total
    FROM range(3000) t(i)
    GROUP BY i % 10
    """,
)
def stream_rate_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE rate-micro-batch source — the built-in generator a
    streaming deployment smoke-tests throughput with (no file staging at
    all).  Each microbatch emits exactly ``rowsPerBatch`` consecutive
    values, and an ``availableNow`` drain of this source runs exactly
    ONE batch (``RatePerMicroBatchStream`` supports the trigger), so the
    stream's content is one batch of 3000 rows, values 0..2999 — this
    is the ONE streaming key whose output is SQL-expressible, and its
    oracle is DuckDB ``range(3000)``.  The ``value < 3000`` filter
    states that range in the plan.  No batch-id loop and no wall-clock
    deadline: the drain ends by itself like every other engine stream.

    Scale design: the rate source partitions its value range across
    ``numPartitions``; the residue agg is map-side-combinable.
    """
    src = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 3000)
        .option("numPartitions", 4)
        .option("startTimestamp", 0)
        .option("advanceMillisPerBatch", 1000)
        .load()
    )
    agg = (
        src.filter(F.col("value") < 3000)
        .groupBy((F.col("value") % 10).cast("int").alias("residue"))
        .agg(
            F.count("*").alias("n"),
            F.sum("value").cast("long").alias("total"),
        )
    )
    _drain(agg, scratch("rate_source_ckpt"), "complete", "memory", "rate_source")
    return spark.table("rate_source")


@query(
    "stream_static_enrich",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(FLOOR(e.value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC join — the enrichment pattern every event pipeline
    runs: the unbounded stream joins a bounded dimension (here events ⋈
    customer on user_id→c_custkey) and aggregates revenue-weighted
    activity per market segment.  The static side is re-planned per
    microbatch and BROADCAST (it never holds watermark state — unlike
    the stream-stream key, no state store grows with the dim).

    After the availableNow drain the complete-mode sink must equal the
    batch twin exactly (asserted in tests/test_streaming.py).

    Scale design: the dim is loaded once per microbatch plan and
    broadcast to executors; at 100 TB the dim would be a compacted
    lookup table (or stream-stream with snapshot semantics if the dim
    itself churns).  The stream side carries only (user_id, cents) into
    the join — columns pruned before the broadcast probe."""
    src = _stage_events_dir(spark, sf_dir)
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    ev = _events_stream(spark, src).select(
        "user_id",
        pin_int(F.col("value"), 100).alias("cents"),
    )
    agg = (
        ev.join(F.broadcast(cust), "user_id")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("cents").alias("sum_cents"),
        )
    )
    return _drain_to_memory(agg, "complete", "static_enrich")


def stream_static_enrich_batch_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch equivalent of stream_static_enrich (test oracle)."""
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        pin_int(F.col("value"), 100).alias("cents"),
    )
    return (
        ev.join(F.broadcast(cust), "user_id")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("cents").alias("sum_cents"),
        )
    )


@query(
    "stream_stream_left_outer",
    # Full oracle since r12 (was rows-only): the flush phase parks the
    # final watermark 10 days − 1 h past all real data, so EVERY real
    # unmatched click's state expires and emits null-extended before
    # the drain ends — the emitted set is therefore exactly the batch
    # LEFT JOIN (matched pairs emit on match, by the inner key's
    # argument; unmatched emit on flush).  Deterministic by the r11
    # staged-mtime argument; both halves were already asserted against
    # inline batch twins in tests/test_streaming.py.
    oracle="""
    SELECT l.user_id,
           l.event_id AS click_id,
           r.event_id AS purchase_id,
           (epoch_us(r.ts) - epoch_us(l.ts)) // 1000000 AS lag_s,
           CAST(CASE WHEN r.event_id IS NULL THEN 1 ELSE 0 END AS INTEGER)
               AS unmatched
    FROM (SELECT * FROM events WHERE event_type = 'click') l
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
      ON l.user_id = r.user_id
     AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 30 MINUTE
    """,
)
def stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM LEFT OUTER join — the semantics inner joins can't
    show: a click with no purchase within 30 minutes must STILL emit
    (with nulls) once the watermark proves no match can arrive.  Outer
    results are watermark-DRIVEN: the row is held in state until both
    watermarks pass its join window, then released with null right side.

    The replay appends a FLUSH phase (far-future sentinel events,
    excluded from both join sides by event_type) whose only job is to
    advance the watermark past all real data — without it the last
    window's unmatched clicks sit in state forever and the drain is
    nondeterministic.  This is the standard production pattern for
    draining an outer join at stream end.

    Equality: matched pairs must equal the inner key's output; the
    unmatched set must equal the batch anti-join
    (tests/test_streaming.py asserts both against inline twins)."""
    ev = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    us = F.unix_micros(F.col("ts"))

    def phases():
        lo, hi = _us_bounds(ev)
        # 2 data phases, not 3 (r18 opt — the ss_join rationale: the
        # emitted set is phase-count-invariant under time-ordered
        # phasing + lag > band + the flush sentinel, and per-microbatch
        # fixed cost dominates; one seam proves cross-batch state).
        half = (hi - lo) // 2 + 1
        data = [
            ev.filter((us >= lo + i * half) & (us < lo + (i + 1) * half))
            for i in range(2)
        ]
        # flush phase: one sentinel per JOIN SIDE, 10 days past the
        # horizon, with the side's exact event_type so it SURVIVES the
        # side filter and reaches the watermark operator (a filtered-out
        # row advances nothing) — and an unmatchable negative user_id
        # pair (-1 vs -2) so it can never join.  The output projection
        # drops user_id < 0.  Without this phase the last window's
        # unmatched clicks sit in state forever.
        flush_us = hi + 10 * 86400 * 1_000_000
        flush = spark.createDataFrame(
            [(9_000_001, -1, "click"), (9_000_002, -2, "purchase")],
            "event_id long, user_id long, event_type string",
        ).select(
            "event_id",
            F.timestamp_micros(F.lit(flush_us)).alias("ts"),
            "user_id",
            "event_type",
        )
        return data + [flush]

    # name bumped (staged_build_once caches by name + corpus fingerprint)
    src = _stage_phases("ss_left_outer_2p", sf_dir, phases)

    def side(prefix: str, etype: str) -> DataFrame:
        # sentinels pass this filter by construction (exact event_type)
        return (
            _events_stream(spark, src, max_files_per_trigger=1)
            .filter(F.col("event_type") == etype)
            .select(
                F.col("event_id").alias(f"{prefix}_id"),
                F.col("ts").alias(f"{prefix}_ts"),
                F.col("user_id").alias(f"{prefix}_user"),
            )
            .withWatermark(f"{prefix}_ts", "1 hour")
        )

    joined = side("l", "click").join(
        side("r", "purchase"),
        F.expr(
            "l_user = r_user AND r_ts >= l_ts "
            "AND r_ts <= l_ts + INTERVAL 30 MINUTES"
        ),
        "left_outer",
    )
    # lag via integer div (truncation agrees across engines; NULL rides
    # through div for unmatched rows on both sides).
    sink = _drain_to_memory(joined, "append", "ss_left_outer")
    return sink.filter(F.col("l_user") >= 0).select(
        F.col("l_user").alias("user_id"),
        F.col("l_id").alias("click_id"),
        F.col("r_id").alias("purchase_id"),
        F.expr("(unix_micros(r_ts) - unix_micros(l_ts)) div 1000000").alias(
            "lag_s"
        ),
        F.when(F.col("r_id").isNull(), 1).otherwise(0).cast("int").alias(
            "unmatched"
        ),
    )



@query(
    "stream_checkpoint_recovery",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct_ids,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_value_cents
    FROM events GROUP BY event_type
    """,
)
def stream_checkpoint_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECKPOINT RECOVERY — exactly-once across a mid-replay crash, the
    one streaming semantics a production user hits that no happy-path
    key shows (r5 VERDICT #4).  The replay is two time-ordered half
    files (maxFilesPerTrigger=1 → two microbatches).  Run 1 is POISONED:
    its foreachBatch writes batch 0 normally, then on batch 1 writes a
    deliberately PARTIAL output and raises — simulating a
    crash after a torn sink write.  Run 2 restarts the SAME checkpoint
    dir with the poison removed: Spark's offset/commit logs show batch 0
    committed, so recovery re-executes ONLY batch 1, and the idempotent
    per-batch-id overwrite (the standard exactly-once foreachBatch
    discipline) replaces the torn partial output.

    Correctness gate (tests/test_streaming.py): the recovered sink must
    equal the batch aggregation of the full events table — wrong under
    every failure mode: no recovery → batch 1 missing or partial;
    checkpoint ignored → batch 0 double-planned under new ids; append
    instead of per-batch overwrite → the 40 torn rows double-count.

    100 TB: this is restart discipline, not a data-sized operator —
    checkpoint volume scales with source offsets + sink batch ids, not
    with data.  The same code path recovers a 1000-executor job whose
    driver died mid-batch.

    Full oracle since r12 (was rows-only): exactly-once recovery means
    the recovered sink IS the events table — the oracle aggregates the
    raw table, so every recovery failure mode (missing batch 1, torn
    40-row double count, batch 0 re-planned) is a driver hash
    mismatch, which is precisely the gate this key exists to arm."""
    from pyspark.errors import StreamingQueryException

    ev = load(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")
    us = F.unix_micros(F.col("ts"))

    def phases():
        lo, hi = _us_bounds(ev)
        mid = (lo + hi) // 2
        return [ev.filter(us < mid), ev.filter(us >= mid)]

    src = _stage_phases("ckpt_halves", sf_dir, phases)
    # Sink and checkpoint are NOT cached (staged_build_once is for
    # inputs only — engine.core contract): fresh scratch per invocation
    # so the crash/recover cycle is self-contained and repeatable.
    sink = scratch("ckpt_recovery_sink")
    ckpt = scratch("ckpt_recovery_ckpt")

    def writer(poison: bool):
        def write_batch(bdf: DataFrame, batch_id: int) -> None:
            out = os.path.join(sink, f"batch_id={batch_id}")
            if poison and batch_id >= 1:
                # torn write: a partial batch lands, then the "crash"
                bdf.limit(40).write.mode("overwrite").parquet(out)
                raise RuntimeError("spark_graft_injected_crash")
            bdf.write.mode("overwrite").parquet(out)

        return write_batch

    def run(poison: bool) -> None:
        _drain(
            _events_stream(spark, src, max_files_per_trigger=1).select(
                "event_id", "event_type", "value"
            ),
            ckpt,
            sink=writer(poison),
        )

    try:
        run(poison=True)
    except StreamingQueryException as e:
        if "spark_graft_injected_crash" not in str(e):
            raise
    else:
        raise RuntimeError(
            "stream_checkpoint_recovery: injected crash did not fire — "
            "the replay collapsed into one microbatch; recovery untested"
        )
    run(poison=False)

    recovered = spark.read.option("basePath", sink).parquet(
        os.path.join(sink, "batch_id=*")
    )
    return recovered.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.countDistinct("event_id").alias("n_distinct_ids"),
        F.sum(pin_int(F.col("value"), 100)).alias("sum_value_cents"),
    )


@query(
    "stream_rate_limit",
    # Full oracle since r12 (was rows-only): with one residue-class
    # file per phase, monotone mtimes, and maxFilesPerTrigger=1, the
    # availableNow drain schedules exactly batch b = residue-class b
    # oldest-first (the r11 staged-mtime determinism; exact 5-batch
    # split already pinned in tests/test_streaming.py) — so the ledger
    # is a pure function of the staging.
    oracle="""
    SELECT CAST(event_id % 5 AS BIGINT) AS batch_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM events GROUP BY 1
    """,
)
def stream_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-side BACKPRESSURE via ``maxFilesPerTrigger`` — the
    ops knob that keeps a file-source stream from swallowing a huge
    backlog in one microbatch (the file twin of Kafka's
    ``maxOffsetsPerTrigger``).  The events table is staged as FIVE
    residue files with monotone mtimes; with maxFilesPerTrigger=1 the
    availableNow drain MUST schedule five microbatches of one file
    each, oldest first.  foreachBatch records (batch_id, n_rows) per
    microbatch; the returned frame is that per-batch ledger, so the
    split is visible data, not a log line.  tests/test_streaming.py
    pins: exactly 5 batches, batch row counts == the residue-class
    sizes, total == the batch count(*).

    Scale: without a trigger limit, a recovered stream replays its
    whole backlog in one batch — state blowup and an hours-long
    straggler batch; with it, recovery is incremental and each batch's
    shuffle fits the sized state stores.  availableNow + rate limit is
    exactly the production catch-up configuration."""
    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "ts")

    src = _stage_phases(
        "rate_limit", sf_dir,
        lambda: [ev.filter(F.col("event_id") % 5 == r) for r in range(5)],
    )
    sink = scratch("rate_limit_ledger")

    def record_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.groupBy().agg(F.count("*").alias("n_rows")).select(
            F.lit(batch_id).cast("long").alias("batch_id"), "n_rows"
        ).write.mode("append").parquet(sink)

    _drain(
        _events_stream(spark, src, max_files_per_trigger=1),
        os.path.join(sink, "_checkpoint"),
        sink=record_batch,
    )
    return spark.read.parquet(sink).select("batch_id", "n_rows")


@query(
    "source_python_stream",
    # Full oracle since r13 (was rows-only "streaming mode"): the
    # stream_rate_limit precedent — staged paging is a PURE FUNCTION of
    # page size + offsets, so the drained sink replays as closed-form
    # ledger arithmetic.  Page k holds exactly seq ∈ [250k, 250(k+1)),
    # one page per availableNow run (r7 measured trap), one batch per
    # run → batch membership ≡ seq div 250, and COUNT(DISTINCT j//250)
    # replays n_batches without knowing the checkpoint's batch ids.
    oracle="""
    SELECT CAST(j % 7 AS BIGINT) AS grp,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM((j * 37) % 1000) AS BIGINT) AS sum_amount,
           CAST(COUNT(DISTINCT j // 250) AS BIGINT) AS n_batches
    FROM UNNEST(range(0, 500)) AS t(j)
    GROUP BY 1
    """,
)
def source_python_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 PYTHON STREAMING DATA SOURCE — the extension point that
    wraps an external feed (REST poll, message queue, CDC tail) as a
    first-class streaming source, with OFFSET TRACKING owned by the
    connector and COMMIT/RESTART owned by Spark's checkpoint.  The feed
    is a deterministic 500-row integer ledger paged 250 rows per
    ``read()`` call; a ``SimpleDataSourceStreamReader`` hands Spark
    (rows, next_offset) pages, and each ``availableNow`` run drains
    exactly one prefetched page — so the full drain takes TWO runs
    over ONE checkpoint, and the second MUST resume from the committed
    offset, not ``initialOffset``.  That restart continuation (the
    property a real connector lives or dies by) is what this key
    exercises; tests pin 2 distinct batch ids and the exact ledger
    totals, and since r13 the driver hash-proves them against the
    closed-form ledger oracle (see the decorator note).  (Two pages,
    not five: each restart pays ~2 s of Python data-source query
    spin-up — measured — and one restart already proves the
    contract.)

    Scale notes: the simple-reader variant reads on the driver (fine
    for control-plane-sized feeds; the partitioned
    ``streamReader``/``partitions()`` variant is the executor-parallel
    path, same API family as source_python_datasource).  The
    foreachBatch parquet sink is the same exactly-once idiom as
    stream_foreach_batch_sink."""
    from pyspark.sql.datasource import (
        DataSource,
        SimpleDataSourceStreamReader,
    )

    class _LedgerStreamReader(SimpleDataSourceStreamReader):
        def initialOffset(self):
            return {"i": 0}

        def read(self, start):
            i = int(start["i"])
            n = min(i + 250, 500)
            rows = iter(
                [(j, j % 7, (j * 37) % 1000) for j in range(i, n)]
            )
            return rows, {"i": n}

    class _LedgerStreamSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "synthetic_ledger_stream"

        def schema(self) -> str:
            return "seq long, grp long, amount long"

        def simpleStreamReader(self, schema):  # noqa: ANN001 — API sig
            return _LedgerStreamReader()

    session_memo(
        spark, "ds:synthetic_ledger_stream", "",
        lambda: (spark.dataSource.register(_LedgerStreamSource), []),
        version=spark,
    )
    sink = scratch("python_stream_sink")
    ckpt = os.path.join(sink, "_checkpoint")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.select(
            F.lit(batch_id).cast("long").alias("batch_id"),
            "seq", "grp", "amount",
        ).write.mode("append").parquet(sink)

    for _run in range(4):
        _drain(
            spark.readStream.format("synthetic_ledger_stream").load(), ckpt,
            sink=write_batch,
        )
        try:
            done = spark.read.parquet(sink).count() >= 500
        except Exception:
            done = False
        if done:
            break
    else:
        raise RuntimeError(
            "python stream source did not drain 500 rows in 4 "
            "availableNow runs — offset continuation broken"
        )
    return (
        spark.read.parquet(sink)
        .groupBy("grp")
        .agg(
            F.count("*").alias("n"),
            F.sum("amount").alias("sum_amount"),
            F.countDistinct("batch_id").alias("n_batches"),
        )
    )


@query(
    "stream_dropdup_within_watermark",
    oracle="""
    SELECT CAST(COUNT(DISTINCT event_id) + 1
                + (SELECT COUNT(DISTINCT event_id) FROM events
                   WHERE ts < TIMESTAMP '2024-01-02') AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT event_id) + 1 AS BIGINT) AS n_distinct_ids,
           (SELECT CAST(COUNT(DISTINCT event_id) AS BIGINT) FROM events
            WHERE ts < TIMESTAMP '2024-01-02') AS n_reemitted
    FROM events
    """,
)
def stream_dropdup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`dropDuplicatesWithinWatermark` — the BOUNDED-STATE dedup
    (Spark 3.5+) whose contract differs from plain `dropDuplicates`
    in exactly one way, and this key makes that difference VISIBLE
    DATA: a key may legitimately re-emit once the watermark passes its
    first sighting's event time + delay, because its state entry has
    been evicted.  That eviction is the feature — per-key state no
    longer grows with the keyspace forever (the unbounded-state
    anti-pattern `stream_join_state_reader` exposes), it is bounded by
    the keys seen per watermark horizon.

    Three deterministically ordered microbatches (monotone file
    mtimes, maxFilesPerTrigger=1): batch 1 replays the corpus TWICE in
    one file — every in-horizon duplicate is dropped, distinct ids
    emit exactly once; batch 2 is a single synthetic watermark-ADVANCER
    row (eviction runs at batch COMMIT, so a same-batch lookup still
    sees expired entries — measured here: without this batch the
    shifted replay emitted 0); batch 3 replays the day-1 subset
    shifted +40 days — every matching state entry was evicted at a
    prior commit, so each RE-EMITS.  Emitted total = distinct + 1 +
    |day-1 subset|, a closed form the DuckDB oracle states from the
    batch table alone — a full hash verification of eviction
    semantics.

    Scale: state is (key → expiry) pairs evicted by the watermark —
    the production dedup for at-least-once sources where `distinct`
    over all history is impossible."""
    ev = load(spark, sf_dir, "events").select("event_id", "ts", "event_type")

    def phases():
        # The closed-form oracle bakes in three corpus assumptions; a
        # regenerated testdata drop that violates any of them must fail
        # LOUDLY here (one bounded agg at build time), not as a silent
        # driver hash mismatch: (a) the advancer id is absent, (b) every
        # corpus ts precedes the advancer minus the 1h watermark delay
        # (so batch 2 evicts ALL batch-1 state), (c) the day-1 replay
        # subset is nonempty (so re-emission is actually observed).
        from engine.core import collect_model_artifact

        chk = collect_model_artifact(
            ev.agg(
                F.sum((F.col("event_id") == 100000000).cast("long"))
                .alias("adv"),
                F.max("ts").alias("max_ts"),
                F.sum(
                    (F.col("ts") < F.lit("2024-01-02").cast("timestamp"))
                    .cast("long")
                ).alias("day1"),
            )
        )[0]
        import datetime
        horizon = datetime.datetime(2024, 2, 1) - datetime.timedelta(hours=1)
        assert chk["adv"] == 0, "advancer event_id collides with corpus"
        assert chk["max_ts"] < horizon, (
            f"corpus max ts {chk['max_ts']} reaches the advancer horizon"
        )
        assert chk["day1"] > 0, "pre-2024-01-02 replay subset is empty"
        advancer = spark.range(1).select(
            F.lit(100000000).cast("long").alias("event_id"),
            F.lit("2024-02-01").cast("timestamp").alias("ts"),
            F.lit("advancer").alias("event_type"),
        )
        shifted = ev.filter(
            F.col("ts") < F.lit("2024-01-02").cast("timestamp")
        ).select(
            "event_id",
            (F.col("ts") + F.expr("INTERVAL 40 DAYS")).alias("ts"),
            "event_type",
        )
        return [ev.unionAll(ev), advancer, shifted]

    src = _stage_phases("dropdup_within_wm", sf_dir, phases)
    deduped = (
        _events_stream(spark, src, max_files_per_trigger=1)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    return _drain_to_memory(deduped, "append", "dropdup_within_wm").agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("event_id").alias("n_distinct_ids"),
        (F.count("*") - F.countDistinct("event_id")).alias("n_reemitted"),
    )


@query(
    "stream_listener_metrics",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_input_rows,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_state_rows,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clicks
    FROM events
    """,
)
def stream_listener_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`StreamingQueryListener` observability — the metrics bus a
    production streaming platform actually monitors (rows/sec, state
    size, watermark lag land in dashboards through QueryProgressEvent,
    not through ad-hoc lastProgress polling).  A listener subscribes
    BEFORE the query starts, accumulates every progress event's
    `numInputRows` and the final state operator's `numRowsTotal`, and
    the key RETURNS THE METRICS THEMSELVES, hash-verified: total input
    rows must equal the corpus row count exactly (availableNow drains
    exactly once), state rows must equal the group count, and a sink-
    side audit column (clicks counted in the sink table) pins that the
    metrics describe the same run the sink saw.

    Delivery discipline: progress events arrive on the listener bus
    ASYNCHRONOUSLY after awaitTermination — the key waits (≤15 s) on a
    condition the listener notifies when the terminal event lands, then
    unsubscribes inside a finally so no listener leaks into other keys'
    queries.

    Scale: listener cost is per-microbatch, not per-row — the
    observability path adds zero work to the data plane."""
    from pyspark.sql.streaming import StreamingQueryListener

    src = _stage_events_dir(spark, sf_dir)

    class _Capture(StreamingQueryListener):
        """Buffers EVERY progress event tagged by query id; the owner
        filters to its own id at READ time, after awaitTermination.
        Filtering at delivery time against a set populated post-start()
        raced a fast availableNow batch whose progress fired in the gap
        (r10 ADVICE) — buffer-then-filter cannot drop the owner's
        events, and other keys' concurrent queries are excluded by the
        read-time id filter instead."""

        def __init__(self):
            self.progress = []  # (query_id, numInputRows, max state rows)
            self.terminated_ids = set()
            self.terminated = threading.Condition()

        def onQueryStarted(self, event):
            # Deliberately empty (r9 ADVICE): subscribing here would
            # capture EVERY query started while the listener is live
            # (e.g. a parallel pytest session's), polluting the
            # metrics.  The read-time filter scopes to the owner's id.
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self.progress.append(
                (
                    str(p.id),
                    p.numInputRows,
                    max(
                        (op.numRowsTotal for op in p.stateOperators),
                        default=0,
                    ),
                )
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self.terminated:
                self.terminated_ids.add(str(event.id))
                self.terminated.notify_all()

    cap = _Capture()
    spark.streams.addListener(cap)
    try:
        agg = (
            _events_stream(spark, src)
            .groupBy("event_type")
            .agg(F.count("*").alias("n"))
        )
        q = _drain(
            agg, scratch("ckpt_listener_metrics"), "complete", "memory",
            "listener_metrics",
        )
        qid = str(q.id)
        with cap.terminated:
            seen = cap.terminated.wait_for(
                lambda: qid in cap.terminated_ids, timeout=15
            )
        if not seen:
            raise RuntimeError(
                "listener never observed QueryTerminatedEvent within 15 s"
            )
    finally:
        spark.streams.removeListener(cap)
    mine = [e for e in cap.progress if e[0] == qid]
    total_rows = sum(e[1] for e in mine)
    state_rows = max((e[2] for e in mine), default=0)
    sink = spark.table(q.name)
    clicks = sink.filter(F.col("event_type") == "click").select(
        F.sum("n").cast("long").alias("n_clicks")
    )
    return clicks.select(
        F.lit(total_rows).cast("long").alias("n_input_rows"),
        F.lit(state_rows).cast("long").alias("n_state_rows"),
        "n_clicks",
    )


from engine.events import MATCH_RECOGNIZE_ORACLE


@query("stream_match_recognize", oracle=MATCH_RECOGNIZE_ORACLE)
def stream_match_recognize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CEP: the `view click* purchase` row pattern of
    `evt_match_recognize` (engine/events.py) as a per-user state
    machine over real microbatches (applyInPandasWithState) — the
    Flink-CEP shape Spark has no native operator for.  State is the
    open 'view' candidate (id, ts, clicks-so-far); every non-click
    event either closes it (purchase → emit match, append mode) or
    replaces/clears it; clicks increment it.  The replay is split into
    two TIME-ORDERED microbatches (staged mtimes), so open candidates
    genuinely carry across a batch boundary — a match whose view and
    purchase land in different batches is emitted by batch 2 from
    state, which is the whole point of the key.

    Matches are EXACTLY the batch key's output (same greedy A B* C
    semantics, deterministic (ts, event_id) order), so the key carries
    the same full oracle — the hash compare proves the streaming state
    machine ≡ the batch window compilation.

    Scale: state is O(1) per user (3 longs), grouped per user like
    stream_stateful_counter (1500 groups × 2 batches at sf0.1 ≈ 2 s —
    bounded kernel calls; at higher user cardinality the bucket-state
    pattern in CLAUDE.md r10 applies); the kernel loop is per-event
    sequential BY NATURE (CEP is a per-key automaton), ~70 events/user."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )

    def phases():
        lo, hi = _us_bounds(ev)
        mid = lo + (hi - lo) // 2
        us = F.unix_micros(F.col("ts"))
        return [ev.filter(us <= mid), ev.filter(us > mid)]

    src = _stage_phases("match_recognize", sf_dir, phases)

    def detect(key, pdfs, state: GroupState):
        # BOUNDED-BUCKET state (r10 rule; r17 opt): grouping per USER
        # paid one Arrow batch + one Python call + one state round-trip
        # per user per batch (~3000 calls at sf0.1); 64 bucket groups
        # pay 128.  The bucket state holds every member user's open
        # automaton as parallel arrays; per-user semantics are
        # unchanged — rows sort by (ts_us, event_id) within the bucket,
        # which preserves each user's subsequence order, and each event
        # steps exactly its own user's automaton.  Closed automata
        # (open_id < 0, zero clicks) are dropped from the stored state:
        # absent ≡ the (-1, -1, 0) default, so output is identical and
        # state stays bounded by OPEN candidates, not by users seen.
        if state.exists:
            uids, oids, ouss, clks = state.get
            st = {
                int(u): [int(i), int(t), int(c)]
                for u, i, t, c in zip(uids, oids, ouss, clks)
            }
        else:
            st = {}
        out = []
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts_us", "event_id"])
            for uid, eid, t_us, etype in zip(
                pdf["user_id"], pdf["event_id"], pdf["ts_us"],
                pdf["event_type"],
            ):
                uid = int(uid)
                open_id, open_us, clicks = st.get(uid, (-1, -1, 0))
                if etype == "click":
                    if open_id >= 0:
                        st[uid] = [open_id, open_us, clicks + 1]
                    continue
                if open_id >= 0 and etype == "purchase":
                    out.append((uid, open_id, int(eid), clicks,
                                int(t_us) - open_us))
                if etype == "view":
                    st[uid] = [int(eid), int(t_us), 0]
                elif uid in st:
                    del st[uid]
        live = sorted((u, v) for u, v in st.items() if v[0] >= 0)
        state.update((
            [u for u, _ in live],
            [v[0] for _, v in live],
            [v[1] for _, v in live],
            [v[2] for _, v in live],
        ))
        if out:
            yield pd.DataFrame(
                out,
                columns=[
                    "user_id", "start_event_id", "end_event_id",
                    "n_clicks_between", "gap_us",
                ],
            )

    stream = _events_stream(spark, src, max_files_per_trigger=1).select(
        "event_id", "user_id", "event_type",
        F.unix_micros("ts").alias("ts_us"),
        (F.col("user_id") % 64).alias("bucket"),
    )
    matched = stream.groupBy("bucket").applyInPandasWithState(
        detect,
        outputStructType=(
            "user_id long, start_event_id long, end_event_id long, "
            "n_clicks_between long, gap_us long"
        ),
        stateStructType=(
            "uids array<long>, open_ids array<long>, "
            "open_uss array<long>, clickss array<long>"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _drain_to_memory(matched, "append", "match_recognize")


# -- state TTL / eviction audit (r16: surface EventTimeTimeout semantics
# -- as data — the state-lifecycle behavior every production stateful
# -- pipeline depends on but rarely pins) -----------------------------------


@query(
    "stream_state_ttl",
    oracle="""
    WITH b AS (
        SELECT MIN(epoch_us(ts)) AS lo, MAX(epoch_us(ts)) AS hi FROM events
    ),
    e AS (
        SELECT user_id, epoch_us(ts) AS us,
               CASE WHEN epoch_us(ts) < lo + (hi - lo) // 3
                    THEN CASE WHEN user_id % 3 = 0
                                   AND epoch_us(ts) >= lo + (hi - lo) // 6
                              THEN -1 ELSE 0 END
                    WHEN epoch_us(ts) < lo + (2 * (hi - lo)) // 3
                    THEN CASE WHEN user_id % 3 = 0 THEN -1 ELSE 1 END
                    ELSE CASE WHEN user_id % 5 = 0 THEN -1 ELSE 2 END
               END AS ph
        FROM events, b
    ),
    u AS (
        SELECT user_id,
               CAST(SUM(CASE WHEN ph = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
               CAST(SUM(CASE WHEN ph = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN ph = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
               MAX(CASE WHEN ph = 0 THEN us END) AS l0,
               MAX(CASE WHEN ph = 1 THEN us END) AS l1,
               MAX(CASE WHEN ph = 2 THEN us END) AS l2
        FROM e WHERE ph >= 0 GROUP BY user_id
    ),
    wm AS (
        SELECT MAX(CASE WHEN ph = 0 THEN us END) // 1000 AS wm0_ms,
               MAX(CASE WHEN ph IN (0, 1) THEN us END) // 1000 AS wm1_ms,
               MAX(us) // 1000 AS wm2_ms,
               ((SELECT (hi - lo) // 10 FROM b)) // 1000 AS ttl_ms
        FROM e WHERE ph >= 0
    ),
    ev1 AS (  -- batch-1/2 eviction verdicts per user (reused downstream)
        SELECT *,
               CASE WHEN e1 = 0 AND n2 = 0 AND (n0 > 0 OR n1 > 0)
                         AND alive_l // 1000 + ttl_ms <= wm1_ms
                    THEN 1 ELSE 0 END AS e2
        FROM (
            SELECT u.*, wm.wm0_ms, wm.wm1_ms, wm.wm2_ms, wm.ttl_ms,
                   CASE WHEN n1 = 0 AND n0 > 0
                             AND l0 // 1000 + ttl_ms <= wm0_ms
                        THEN 1 ELSE 0 END AS e1,
                   CASE WHEN n1 > 0 THEN n0 + n1 ELSE n0 END AS alive_n,
                   CASE WHEN n1 > 0 THEN l1 ELSE l0 END AS alive_l
            FROM u CROSS JOIN wm
        )
    )
    SELECT user_id, n0 AS n, l0 AS last_us, CAST(0 AS INTEGER) AS evicted
    FROM ev1 WHERE n0 > 0
    UNION ALL
    SELECT user_id, n0 + n1, l1, 0 FROM ev1 WHERE n1 > 0
    UNION ALL
    SELECT user_id, n0, l0, 1 FROM ev1 WHERE e1 = 1
    UNION ALL
    SELECT user_id,
           CASE WHEN n1 > 0 THEN n0 + n1 + n2
                WHEN e1 = 1 THEN n2 ELSE n0 + n2 END,
           l2, 0
    FROM ev1 WHERE n2 > 0
    UNION ALL
    SELECT user_id, alive_n, alive_l, 1 FROM ev1 WHERE e2 = 1
    UNION ALL
    -- final empty microbatch: availableNow runs one more batch after
    -- the last data so the watermark advance (to the global staged
    -- max) can fire remaining expired timeouts
    SELECT user_id,
           CASE WHEN n1 > 0 THEN n0 + n1 + n2
                WHEN e1 = 1 THEN n2 ELSE n0 + n2 END,
           l2, 1
    FROM ev1 WHERE n2 > 0 AND l2 // 1000 + ttl_ms <= wm2_ms
    UNION ALL
    SELECT user_id, alive_n, alive_l, 1 FROM ev1
    WHERE n2 = 0 AND e1 = 0 AND e2 = 0 AND (n0 > 0 OR n1 > 0)
      AND alive_l // 1000 + ttl_ms <= wm2_ms
    """,
)
def stream_state_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATE TTL / EVICTION AUDIT — ``applyInPandasWithState`` with
    ``EventTimeTimeout`` surfaced AS DATA: per-user counting state sets
    its timeout to (last event + TTL); when the event-time watermark
    passes an idle group's deadline, Spark hands the group one final
    ``hasTimedOut`` call — the kernel emits an eviction record (the
    state's count + last-seen) and removes the state, so a user re-seen
    later starts a FRESH epoch (the count visibly resets).  This is the
    state-lifecycle contract a 100 TB streaming job relies on to keep
    state bounded, pinned here end-to-end rather than assumed.

    Deterministic by the stream_watermark_late r11 precedent: the
    replay is three staged files with explicit monotone mtimes +
    maxFilesPerTrigger=1, so watermark progression — and therefore
    every eviction — is a PURE FUNCTION of the staged bytes.  The
    phases are engineered off the corpus time span (terciles; TTL =
    span/10): user_id%3==0 histories are truncated at span/6 and sit
    out phase 1, so their deadline expires ~2 days before the batch-1
    watermark (eviction GUARANTEED by construction, not distribution);
    user_id%5==0 sit out phase 2 and evict iff their phase-1 deadline
    predates the batch-2 watermark (condition-mirrored per user);
    %3-not-%5 users return in phase 2 and prove the post-eviction
    reset.  The full emission log (update + eviction rows) hash-checks
    against a DuckDB replay of the watermark/timeout arithmetic at
    Spark's millisecond timeout precision; a tripwire test asserts
    every deadline sits > 1 s from its watermark so the <=-vs-<
    operator choice and the µs→ms floor can never flip a verdict.

    Scale: state is one (long, long) per active user, TTL-bounded —
    eviction IS the mechanism that keeps the state store O(active
    users) instead of O(ever-seen users)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = load(spark, sf_dir, "events").select("ts", "user_id")
    lo, hi = _us_bounds(ev)
    b1 = lo + (hi - lo) // 3
    b2 = lo + (2 * (hi - lo)) // 3
    half0 = lo + (hi - lo) // 6
    ttl_ms = ((hi - lo) // 10) // 1000

    def phases():
        us = F.unix_micros(F.col("ts"))
        u3 = F.col("user_id") % 3 == 0
        return [
            ev.filter((us < b1) & ~(u3 & (us >= half0))),
            ev.filter((us >= b1) & (us < b2) & ~u3),
            ev.filter((us >= b2) & (F.col("user_id") % 5 != 0)),
        ]

    src = _stage_phases("state_ttl", sf_dir, phases)

    # Per-user grouping is the SEMANTICS here (EventTimeTimeout fires
    # per state row) — ~1500 kernel calls per microbatch are the price
    # of the contract.  The one cheap per-call cost is the emitted
    # 1-row DataFrame: building it from a single int64 ndarray measured
    # 2.6× cheaper than the dict-of-lists constructor (r18, §4.2 —
    # 0.34 → 0.13 ms/call × ~5k calls); Arrow casts the int64 columns
    # to the declared output schema, values unchanged.
    import numpy as np

    def _row(user_id, n, last_us, evicted):
        return pd.DataFrame(
            np.array([[user_id, n, last_us, evicted]], dtype=np.int64),
            columns=["user_id", "n", "last_us", "evicted"],
        )

    def ttl_count(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            n, last_us = state.get
            state.remove()
            yield _row(key[0], n, last_us, 1)
            return
        n, last_us = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            last_us = max(last_us, int(pdf["ts"].max().value) // 1000)
        state.update((n, last_us))
        state.setTimeoutTimestamp(last_us // 1000 + ttl_ms)
        yield _row(key[0], n, last_us, 0)

    stream = _events_stream(spark, src, max_files_per_trigger=1).withWatermark(
        "ts", "0 seconds"
    )
    audited = stream.groupBy("user_id").applyInPandasWithState(
        ttl_count,
        outputStructType="user_id long, n long, last_us long, evicted int",
        stateStructType="n long, last_us long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    return _drain_to_memory(audited, "update", "state_ttl").select(
        "user_id", "n", "last_us", "evicted"
    )


# -- streaming bloom ingest gate (r17: the dedup_bloom_seen_gate bit set
# -- probed and GROWN from applyInPandasWithState across staged
# -- microbatches — bounded-memory dedup without per-doc state) -------------

_SBI_NB = 32           # state buckets: pos % _SBI_NB (bounded groups, r10)
_SBI_RC1 = 400_000     # row-id offset: batch-1 re-crawls of %6==0 docs
_SBI_RC2 = 500_000     # row-id offset: batch-2 re-crawls of %6==1 docs
_SBI_RC3 = 600_000     # row-id offset: batch-2 SECOND re-crawl of %6==0


def _bloom_ingest_rows(d: DataFrame) -> DataFrame:
    """The deterministic 3-batch ingest log (row_id, batch_id, k) the
    staged stream AND the exact audit both derive from — one
    definition, so the replayed bytes and the oracle's view of them
    cannot drift.  Batch 0: doc_id%3==0 originals; batch 1: %3==1
    originals + verbatim re-crawls of %6==0 (their keys are already in
    the batch-0 bloom); batch 2: %3==2 originals + re-crawls of %6==1
    (batch-1 members) + a SECOND re-crawl of %6==0 (still flagged —
    the bit set only grows)."""
    key = F.conv(F.substring(F.md5("text"), 1, 15), 16, 10).cast("long")

    def part(flt, offset, batch):
        return d.filter(flt).select(
            (F.col("doc_id") + offset).cast("long").alias("row_id"),
            F.lit(batch).cast("long").alias("batch_id"),
            key.alias("k"),
        )

    m3, m6 = F.col("doc_id") % 3, F.col("doc_id") % 6
    parts = [
        part(m3 == 0, 0, 0),
        part(m3 == 1, 0, 1),
        part(m6 == 0, _SBI_RC1, 1),
        part(m3 == 2, 0, 2),
        part(m6 == 1, _SBI_RC2, 2),
        part(m6 == 0, _SBI_RC3, 2),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _sbi_oracle() -> str:
    from engine.dedup import _BG_A, _BG_B, _BG_K, _BG_M, _M31

    hashes = ", ".join(f"({j}, {_BG_A[j]}, {_BG_B[j]})" for j in range(_BG_K))
    return f"""
    WITH d AS (
        SELECT doc_id,
               CAST('0x' || substring(md5(text), 1, 15) AS BIGINT) AS k
        FROM documents
    ),
    ing AS (
        SELECT doc_id AS row_id, 0 AS batch_id, k FROM d WHERE doc_id % 3 = 0
        UNION ALL
        SELECT doc_id, 1, k FROM d WHERE doc_id % 3 = 1
        UNION ALL
        SELECT doc_id + {_SBI_RC1}, 1, k FROM d WHERE doc_id % 6 = 0
        UNION ALL
        SELECT doc_id, 2, k FROM d WHERE doc_id % 3 = 2
        UNION ALL
        SELECT doc_id + {_SBI_RC2}, 2, k FROM d WHERE doc_id % 6 = 1
        UNION ALL
        SELECT doc_id + {_SBI_RC3}, 2, k FROM d WHERE doc_id % 6 = 0
    ),
    h(j, a, b) AS (VALUES {hashes}),
    probes AS (
        SELECT i.row_id, i.batch_id, i.k, h.j,
               ((h.a * (i.k % {_M31}) + h.b) % {_M31}) % {_BG_M} AS pos
        FROM ing i CROSS JOIN h
    ),
    first_set AS (SELECT pos, MIN(batch_id) AS fb FROM probes GROUP BY pos),
    first_key AS (SELECT k, MIN(batch_id) AS fkb FROM ing GROUP BY k),
    agg AS (
        SELECT p.row_id, p.batch_id, p.k,
               CAST(SUM(CASE WHEN fs.fb < p.batch_id THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_prev_hits
        FROM probes p JOIN first_set fs ON fs.pos = p.pos
        GROUP BY p.row_id, p.batch_id, p.k
    ),
    flagged AS (
        SELECT a.row_id, a.batch_id, a.n_prev_hits,
               CASE WHEN fk.fkb < a.batch_id THEN 1 ELSE 0 END AS ex
        FROM agg a JOIN first_key fk ON fk.k = a.k
    )
    SELECT CAST(row_id AS BIGINT) AS row_id,
           CAST(batch_id AS BIGINT) AS batch_id,
           n_prev_hits,
           CAST(ex AS INTEGER) AS is_exact_prev,
           CASE WHEN n_prev_hits = {_BG_K} AND ex = 1 THEN 'dup'
                WHEN n_prev_hits = {_BG_K} THEN 'false_positive'
                WHEN ex = 1 THEN 'MISS_BUG'
                ELSE 'new' END AS label
    FROM flagged
    """


@query("stream_bloom_ingest", oracle=_sbi_oracle())
def stream_bloom_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING BLOOM INGEST GATE (r16 VERDICT #4) — the
    dedup_bloom_seen_gate bit set probed AND GROWN from
    ``applyInPandasWithState`` across real microbatches: the at-scale
    crawler-ingest shape where dedup memory stays bounded by the
    FILTER SIZE, not by per-document state.  The 65536-slot position
    space shards across 32 bucket groups (pos % _SBI_NB — bounded
    groups, one Arrow call per bucket per batch, the r10 rule); each
    group's state is the sorted position list its slot range has seen.
    Semantics are BATCH-SYNCHRONOUS (the Lambda-architecture bloom):
    every probe row is answered against the state BEFORE its own
    microbatch merges in, so a row's verdict depends only on strictly
    earlier batches — which is what makes the whole evolution a pure
    function of the staged bytes (3 single-file phases, explicit
    monotone mtimes, maxFilesPerTrigger=1) and therefore fully
    DuckDB-replayable via the first-seen-batch formulation
    (MIN(batch_id) per position < probe's batch).  Planted re-crawls
    (_bloom_ingest_rows — one shared ingest definition for staging and
    audit) hit all 3 probe positions ('dup'); the exact-membership
    join is the AUDIT that labels organic all-bits collisions
    'false_positive'; 'MISS_BUG' is impossible by construction (the
    bit set only grows) and a unit test pins its absence.

    Scale: state is ≤ 65536/NB positions per group REGARDLESS of
    corpus size — the bloom trade; the probe stream shuffles once on
    the bucket key; verdict assembly is one (row, batch) reduce of the
    emitted per-probe hits plus a key-partitioned audit join.  At
    100 TB the same topology runs with a bigger M and more buckets —
    memory per group stays M/NB bits."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from engine.dedup import _BG_A, _BG_B, _BG_K, _BG_M, _M31

    d = load(spark, sf_dir, "documents")
    ing = _bloom_ingest_rows(d)

    src = _stage_phases(
        "bloom_ingest", sf_dir,
        lambda: [ing.filter(F.col("batch_id") == b) for b in range(3)],
    )

    def gate(key, pdfs, state: GroupState):
        # Vectorized (r18, guide §4.2): probes answered with one
        # np.isin against the sorted stored positions and merged with
        # one np.union1d — the row-at-a-time Python loop + tuple list
        # this replaces was the §4.2 anti-pattern.  Verdicts are
        # identical by construction (hit ⇔ pos ∈ state BEFORE this
        # batch; the batch's own positions merge after).
        import numpy as np

        seen = (
            np.asarray(state.get[0], dtype=np.int64)
            if state.exists
            else np.empty(0, dtype=np.int64)
        )
        frames = [pdf for pdf in pdfs if len(pdf)]
        if not frames:
            state.update((seen.tolist(),))
            return
        rid = np.concatenate([p["row_id"].to_numpy(np.int64) for p in frames])
        bid = np.concatenate([p["batch_id"].to_numpy(np.int64) for p in frames])
        j = np.concatenate([p["j"].to_numpy(np.int32) for p in frames])
        pos = np.concatenate([p["pos"].to_numpy(np.int64) for p in frames])
        hit = np.isin(pos, seen).astype(np.int32)
        state.update((np.union1d(seen, pos).tolist(),))
        yield pd.DataFrame(
            {"row_id": rid, "batch_id": bid, "j": j, "hit": hit}
        )

    stream = _events_stream(spark, src, max_files_per_trigger=1)
    pos_of = [
        ((F.lit(_BG_A[j]) * (F.col("k") % _M31) + F.lit(_BG_B[j])) % _M31)
        % _BG_M
        for j in range(_BG_K)
    ]
    probes = stream.select(
        "row_id",
        "batch_id",
        F.posexplode(F.array(*pos_of)).alias("j", "pos"),
    ).select(
        "row_id", "batch_id", "j", "pos",
        (F.col("pos") % _SBI_NB).alias("bucket"),
    )
    gated = probes.groupBy("bucket").applyInPandasWithState(
        gate,
        outputStructType="row_id long, batch_id long, j int, hit int",
        stateStructType="seen array<long>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    hits = (
        _drain_to_memory(gated, "append", "bloom_ingest")
        .groupBy("row_id", "batch_id")
        .agg(F.sum("hit").cast("long").alias("n_prev_hits"))
    )
    first_key = ing.groupBy("k").agg(F.min("batch_id").alias("fkb"))
    audited = (
        ing.join(first_key, "k")
        .select(
            F.col("row_id").alias("a_rid"),
            F.col("batch_id").alias("a_bid"),
            (F.col("fkb") < F.col("batch_id")).cast("int").alias("is_exact_prev"),
        )
    )
    return (
        hits.join(
            audited,
            (F.col("row_id") == F.col("a_rid"))
            & (F.col("batch_id") == F.col("a_bid")),
        )
        .select(
            "row_id",
            "batch_id",
            "n_prev_hits",
            "is_exact_prev",
            F.when(
                (F.col("n_prev_hits") == _BG_K)
                & (F.col("is_exact_prev") == 1),
                F.lit("dup"),
            )
            .when(F.col("n_prev_hits") == _BG_K, F.lit("false_positive"))
            .when(F.col("is_exact_prev") == 1, F.lit("MISS_BUG"))
            .otherwise(F.lit("new"))
            .alias("label"),
        )
    )
