"""Streaming keys have no SQL oracle — their correctness gate is
equality with the batch twins (SURVEY.md §5 item 5)."""

from __future__ import annotations

from pyspark.sql import functions as F

import engine
from engine.io import load
from tests.conftest import SF_DIR


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_stream_smoke_tumbling_equals_batch(spark):
    stream = engine.QUERIES["stream_smoke_tumbling"](spark, SF_DIR)
    batch = engine.QUERIES["evt_tumbling_window"](spark, SF_DIR)
    cols = ["hour_start", "event_type", "n", "sum_value_cents"]
    assert _rows(stream, cols) == _rows(batch, cols)


def test_stream_rocksdb_state_equals_batch(spark):
    # Provider swap is pure config: the RocksDB-backed run must equal
    # the batch twin exactly (the key itself raises if the provider's
    # custom metrics are missing from the run's progress).
    stream = engine.QUERIES["stream_rocksdb_state"](spark, SF_DIR)
    batch = engine.QUERIES["evt_tumbling_window"](spark, SF_DIR)
    cols = ["hour_start", "event_type", "n", "sum_value_cents"]
    assert _rows(stream, cols) == _rows(batch, cols)


def test_stream_session_window_equals_batch(spark):
    # Native session_window: streaming state-merged sessions must equal
    # the batch twin exactly (complete mode + availableNow full drain).
    stream = engine.QUERIES["stream_session_window"](spark, SF_DIR)
    batch = engine.QUERIES["evt_session_native"](spark, SF_DIR)
    cols = ["user_id", "start_us", "window_end_us", "n_events"]
    assert _rows(stream, cols) == _rows(batch, cols)


def test_stream_watermark_late_drops_late_rows(spark):
    emitted = {
        (r.hour_start, r.n)
        for r in engine.QUERIES["stream_watermark_late"](spark, SF_DIR).collect()
    }
    assert emitted, "append-mode sink emitted nothing — watermark never advanced"
    # Batch truth over the ON-TIME phases only (the late replay must have
    # been dropped): per-hour counts of the original events.
    truth = {
        (r.hour_start, r.n)
        for r in load(spark, SF_DIR, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("hour_start"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    # Every emitted (finalized) window must match the no-late-data truth.
    assert emitted <= truth, f"late rows leaked into {sorted(emitted - truth)[:3]}"


def test_stream_dedup_state(spark):
    row = engine.QUERIES["stream_dedup_state"](spark, SF_DIR).first()
    n_events = load(spark, SF_DIR, "events").count()
    assert row.n_rows == row.n_distinct_ids == n_events


def _drained_batches(spark, monkeypatch, key):
    """The progress of every microbatch each of ``key``'s drains ran."""
    from engine import streaming

    drain, runs = streaming._drain, []

    def recording(*args, **kwargs):
        q = drain(*args, **kwargs)
        runs.append(q.recentProgress)
        return q

    monkeypatch.setattr(streaming, "_drain", recording)
    engine.QUERIES[key](spark, SF_DIR).collect()
    return runs


def test_dedup_drain_skips_the_trailing_batch(spark, monkeypatch):
    # A dedup-only drain stops after its data: no trailing no-data batch
    # whose only work is evicting the state of a discarded checkpoint.
    # An outer stream-stream join still gets its own: it is the batch
    # that emits the unmatched rows the final watermark closes.
    (dedup,) = _drained_batches(spark, monkeypatch, "stream_dedup_state")
    assert [p["numInputRows"] > 0 for p in dedup] == [True]
    (outer,) = _drained_batches(spark, monkeypatch, "stream_stream_left_outer")
    assert outer[-1]["numInputRows"] == 0
    assert all(p["numInputRows"] > 0 for p in outer[:-1])


def test_stream_foreach_batch_equals_batch(spark):
    sink = engine.QUERIES["stream_foreach_batch_sink"](spark, SF_DIR)
    batch = (
        load(spark, SF_DIR, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias(
                "sum_value_cents"
            ),
        )
    )
    cols = ["event_type", "n", "sum_value_cents"]
    assert _rows(sink, cols) == _rows(batch, cols)


def test_stream_stateful_counter_equals_batch(spark):
    stream = engine.QUERIES["stream_stateful_counter"](spark, SF_DIR)
    batch = (
        load(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"))
    )
    cols = ["user_id", "n_events"]
    assert _rows(stream, cols) == _rows(batch, cols)


def test_stream_stateful_counter_state_size_model(spark):
    """Pin the bucketed layout's state-size model (r17 VERDICT #5/#7):
    after the drain the checkpoint holds at most 64 state rows (one per
    bucket, NOT one per user) and the stored uid arrays cover every
    user ever seen — running-total semantics forbid dropping idle
    users, so stored-uids == distinct-users is the documented growth
    bound, O(distinct_users/64) per bucket row."""
    import os

    from engine.core import scratch_path

    engine.QUERIES["stream_stateful_counter"](spark, SF_DIR).collect()
    ckpt = scratch_path("ckpt_stateful_counter")
    assert os.path.isdir(ckpt), (
        "stateful_counter checkpoint not found on the scratch base"
    )
    state = spark.read.format("statestore").load(ckpt)
    # applyInPandasWithState nests the user-declared state struct under
    # value.groupState (the stream_state_reader key's measured layout)
    rows = state.select(
        F.col("key.bucket").alias("bucket"),
        F.size("value.groupState.uids").alias("n_uids"),
    ).collect()
    n_users = (
        load(spark, SF_DIR, "events").select("user_id").distinct().count()
    )
    assert len(rows) <= 64
    assert sum(r["n_uids"] for r in rows) == n_users
    # bucketing spreads users ~evenly: no bucket row holds more than a
    # small multiple of users/64 (the per-row transfer-size bound)
    assert max(r["n_uids"] for r in rows) <= 4 * (n_users // 64 + 1)


def test_stream_sliding_agg_equals_batch(spark):
    # Overlapping-window state fanout: every event updates four 1h/15min
    # windows; the drained sink must equal the same windows computed in
    # batch (inline twin — evt_sliding_window aggregates different
    # columns, so the comparison recomputes count + cents sum here).
    stream = engine.QUERIES["stream_sliding_agg"](spark, SF_DIR)
    batch = (
        load(spark, SF_DIR, "events")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias(
                "sum_value_cents"
            ),
        )
        .select(
            (F.unix_micros(F.col("w.start")) / 1_000_000).cast("long").alias(
                "win_start_s"
            ),
            "n",
            "sum_value_cents",
        )
    )
    cols = ["win_start_s", "n", "sum_value_cents"]
    assert _rows(stream, cols) == _rows(batch, cols)


def test_stream_stream_join_equals_batch(spark):
    # Stream-stream inner join with watermarks + time band: the drained
    # append sink must equal the same join computed in batch — including
    # the pairs that cross the 2-phase microbatch seam (cross-batch
    # join state), which the time-ordered replay must never evict early.
    stream = engine.QUERIES["stream_stream_join"](spark, SF_DIR)
    ev = load(spark, SF_DIR, "events")
    l = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("l_ts"),
        F.col("user_id").alias("user_id"),
    )
    r = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("r_ts"),
        F.col("user_id").alias("r_user"),
    )
    batch = (
        l.join(
            r,
            (F.col("user_id") == F.col("r_user"))
            & (F.col("r_ts") >= F.col("l_ts"))
            & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 30 MINUTES")),
        )
        .select(
            "user_id",
            "click_id",
            "purchase_id",
            ((F.unix_micros("r_ts") - F.unix_micros("l_ts")) / 1_000_000)
            .cast("long")
            .alias("lag_s"),
        )
    )
    cols = ["user_id", "click_id", "purchase_id", "lag_s"]
    assert _rows(stream, cols) == _rows(batch, cols)
    assert stream.count() > 0


def test_stream_static_enrich_equals_batch(spark):
    from engine.streaming import stream_static_enrich_batch_twin

    stream = engine.QUERIES["stream_static_enrich"](spark, SF_DIR)
    batch = stream_static_enrich_batch_twin(spark, SF_DIR)
    cols = ["c_mktsegment", "n_events", "sum_cents"]
    assert _rows(stream, cols) == _rows(batch, cols)
    assert stream.count() > 0


def test_stream_stream_left_outer_matches_and_drains(spark):
    """Matched pairs must equal the batch inner join; unmatched clicks
    (null right side, emitted on watermark expiry after the flush
    phase) must equal the batch anti-join — proving outer state drains
    deterministically and nothing real is lost or fabricated."""
    out = engine.QUERIES["stream_stream_left_outer"](spark, SF_DIR)
    ev = load(spark, SF_DIR, "events")
    l = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("l_ts"),
        F.col("user_id").alias("user_id"),
    )
    r = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("r_ts"),
        F.col("user_id").alias("r_user"),
    )
    cond = (
        (F.col("user_id") == F.col("r_user"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 30 MINUTES"))
    )
    batch_inner = l.join(r, cond).select(
        "user_id",
        "click_id",
        "purchase_id",
        ((F.unix_micros("r_ts") - F.unix_micros("l_ts")) / 1_000_000)
        .cast("long")
        .alias("lag_s"),
    )
    matched = out.filter("unmatched = 0").select(
        "user_id", "click_id", "purchase_id", "lag_s"
    )
    cols = ["user_id", "click_id", "purchase_id", "lag_s"]
    assert _rows(matched, cols) == _rows(batch_inner, cols)

    batch_unmatched = l.join(r, cond, "left_anti").select("click_id")
    got_unmatched = out.filter("unmatched = 1").select("click_id")
    assert _rows(got_unmatched, ["click_id"]) == _rows(
        batch_unmatched, ["click_id"]
    )
    assert out.filter("unmatched = 1").count() > 0


def test_stream_checkpoint_recovery_exactly_once(spark):
    # The key injects a crash on batch 1 (after a deliberate 40-row torn
    # write), restarts from the SAME checkpoint, and must converge to the
    # batch aggregation of the full table: wrong if recovery skipped the
    # batch, re-ran batch 0 under a new id, or left the torn rows behind.
    import os

    recovered = engine.QUERIES["stream_checkpoint_recovery"](spark, SF_DIR)
    batch = (
        load(spark, SF_DIR, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("event_id").alias("n_distinct_ids"),
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias(
                "sum_value_cents"
            ),
        )
    )
    cols = ["event_type", "n", "n_distinct_ids", "sum_value_cents"]
    assert _rows(recovered, cols) == _rows(batch, cols)
    # exactly two microbatches reached the sink — batch 0 from run 1,
    # batch 1 re-executed by the recovery run
    from engine.core import scratch_path

    sink = scratch_path("ckpt_recovery_sink")
    dirs = sorted(d for d in os.listdir(sink) if d.startswith("batch_id="))
    assert dirs == ["batch_id=0", "batch_id=1"]


def test_stream_rate_limit_splits_batches(spark):
    # maxFilesPerTrigger=1 over five staged residue files must yield
    # exactly five microbatches whose sizes equal the residue-class
    # sizes, oldest-stamped file first (batch_id 0 ↔ residue 0).
    ledger = engine.QUERIES["stream_rate_limit"](spark, SF_DIR)
    got = _rows(ledger, ["batch_id", "n_rows"])
    ev = load(spark, SF_DIR, "events")
    want = _rows(
        ev.groupBy((F.col("event_id") % 5).cast("long").alias("batch_id"))
        .agg(F.count("*").alias("n_rows")),
        ["batch_id", "n_rows"],
    )
    assert got == want
    assert len(got) == 5


def test_source_python_stream_offset_continuation(spark):
    # Two availableNow runs over one checkpoint must drain the 500-row
    # paged feed exactly once: per-group totals equal the closed form
    # and every group saw both pages' batch ids (the second run resumed
    # from the committed offset).
    out = engine.QUERIES["source_python_stream"](spark, SF_DIR)
    got = _rows(out, ["grp", "n", "sum_amount", "n_batches"])
    import collections
    agg = collections.defaultdict(lambda: [0, 0])
    for j in range(500):
        g = j % 7
        agg[g][0] += 1
        agg[g][1] += (j * 37) % 1000
    want = sorted((g, n, s, 2) for g, (n, s) in agg.items())
    assert got == want


def test_state_ttl_margins_and_lifecycle(spark):
    # (1) tripwire: every user's timeout deadline sits > 1 s away from
    # every watermark it is compared against, so the <=-vs-< operator
    # choice and the us->ms floor can never flip an eviction verdict
    # after a corpus regen; (2) lifecycle: guaranteed-eviction cohort
    # (user_id%3==0 truncated histories) all evict in batch 1, and a
    # re-seen-after-eviction user's count RESTARTS (fresh epoch < old)
    ev = load(spark, SF_DIR, "events").select("ts", "user_id")
    lo, hi = ev.agg(
        F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))
    ).first()
    b1 = lo + (hi - lo) // 3
    b2 = lo + (2 * (hi - lo)) // 3
    half0 = lo + (hi - lo) // 6
    ttl_ms = ((hi - lo) // 10) // 1000
    us = F.unix_micros(F.col("ts"))
    u3 = F.col("user_id") % 3 == 0
    staged = ev.select("user_id", us.alias("us")).filter(
        ((us < b1) & ~(u3 & (us >= half0)))
        | ((us >= b1) & (us < b2) & ~u3)
        | ((us >= b2) & (F.col("user_id") % 5 != 0))
    )
    rows = staged.collect()
    import collections
    last = collections.defaultdict(lambda: [None, None, None])
    nphase = collections.defaultdict(lambda: [0, 0, 0])
    wms = [None, None, None]
    for r in rows:
        ph = 0 if r.us < b1 else (1 if r.us < b2 else 2)
        u = last[r.user_id]
        u[ph] = r.us if u[ph] is None else max(u[ph], r.us)
        nphase[r.user_id][ph] += 1
        wms[ph] = r.us if wms[ph] is None else max(wms[ph], r.us)
    wm = [wms[0] // 1000, max(wms[0], wms[1]) // 1000,
          max(wms[0], wms[1], wms[2]) // 1000]
    for u, ls in last.items():
        for l in ls:
            if l is None:
                continue
            dl = l // 1000 + ttl_ms
            for w in wm:
                assert abs(dl - w) > 1000, (u, dl, w)
    out = engine.QUERIES["stream_state_ttl"](spark, SF_DIR).collect()
    byu = collections.defaultdict(list)
    for r in out:
        byu[r.user_id].append(r)
    saw_reset = 0
    for u, rs in byu.items():
        if u % 3 == 0 and last[u][0] is not None:
            # truncated history + absent phase 1 => batch-1 eviction
            assert any(
                r.evicted == 1 and r.last_us == last[u][0] for r in rs
            ), u
            if last[u][2] is not None and u % 5 != 0:
                fresh = [r for r in rs if r.evicted == 0
                         and r.last_us == last[u][2]]
                assert fresh, u
                # fresh epoch after eviction: count = phase-2 events ONLY
                assert fresh[0].n == nphase[u][2], u
                saw_reset += 1
    assert saw_reset > 0


def test_bloom_ingest_verdicts(spark):
    # Gate soundness: no false negatives ever (MISS_BUG absent by the
    # grows-only bit-set argument); every planted re-crawl (row_id >=
    # the offset plants) is labeled dup; batch-0 rows see an empty
    # filter (n_prev_hits == 0, all 'new'); hit counts stay in [0, K].
    from engine.dedup import _BG_K
    from engine.streaming import _SBI_RC1

    rows = engine.QUERIES["stream_bloom_ingest"](spark, SF_DIR).collect()
    assert rows
    assert all(0 <= r.n_prev_hits <= _BG_K for r in rows)
    assert not any(r.label == "MISS_BUG" for r in rows)
    for r in rows:
        if r.row_id >= _SBI_RC1:  # planted verbatim re-crawl
            assert r.label == "dup", r
        if r.batch_id == 0:
            assert r.n_prev_hits == 0 and r.label == "new", r


def test_bloom_ingest_offsets_cannot_alias(spark):
    # The planted row_id offsets are 100k apart, so two re-crawl
    # streams alias onto one row_id once doc_id reaches 100000 — the
    # Spark-side (row_id, batch_id) aggregation would then merge two
    # distinct keys' probe rows while the oracle (grouped by row_id,
    # batch_id, k) keeps them separate (r17 review).  Pin the corpus
    # precondition so a regen fails HERE with the real cause.
    from engine.streaming import _SBI_RC1, _SBI_RC2, _SBI_RC3

    gap = min(_SBI_RC2 - _SBI_RC1, _SBI_RC3 - _SBI_RC2, _SBI_RC1)
    max_doc = load(spark, SF_DIR, "documents").agg(
        F.max("doc_id")
    ).first()[0]
    assert max_doc < gap, (
        f"corpus max doc_id {max_doc} >= offset gap {gap}: "
        "stream_bloom_ingest row_ids alias — widen the _SBI_RC offsets"
    )
