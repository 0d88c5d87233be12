"""DataSketches-native sketch operators (Spark 4 theta / KLL families).

Completes the mergeable-sketch family next to HLL (`agg_hll_partitioned_
merge`), bitmap (`agg_bitmap_distinct`) and count-min (`agg_cms_heavy_
hitters`): Theta sketches add SET OPERATIONS on distinct-count state
(union / intersection / difference — HLL unions only), and KLL adds
mergeable quantiles.  Both ship in Spark 4.1 as native JVM aggregates
(`theta_sketch_agg`, `kll_sketch_agg_double`, …) backed by the Apache
DataSketches library — partial aggregation (map-side combine) applies,
so each 100 TB scan partition reduces to one fixed-size sketch blob
before the shuffle, and per-segment sketches roll up without rescans.

Determinism discipline: a theta sketch in EXACT MODE (retained entries
< nominal k, default lgK=12 → 4096) stores every distinct hash, so its
estimate IS the exact distinct count — and intersections/differences of
exact-mode sketches stay exact.  The corpus cardinalities here are
bounded BY CONSTRUCTION under k (≤150 users, ≤3600 user×hour cells at
any SF's per-group slice at the oracle gate), so the theta keys are
full-hash DuckDB-verified.  KLL is genuinely approximate at any size
(compaction is level-randomized) → declared rows-only with a pinned
rank-error floor in tests/test_unit_semantics.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.core import pin_int, query
from engine.io import load


@query(
    "sketch_theta_distinct",
    oracle="""
    WITH weekly AS (
        SELECT event_type,
               date_trunc('week', ts) AS wk,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wk_users
        FROM events
        GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_weeks,
           (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT)
            FROM events e WHERE e.event_type = weekly.event_type)
               AS users_union,
           CAST(SUM(wk_users) AS BIGINT) AS users_weekly_sum
    FROM weekly
    GROUP BY event_type
    """,
)
def sketch_theta_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch distinct counting with PARTITION MERGE: one sketch
    per (event_type, week) over user_id, weekly sketches rolled up per
    event_type via ``theta_union_agg`` — the incremental-refresh shape
    (per-day/week segment sketches persisted once, any window's distinct
    answered by merging blobs, no rescan).  ``users_weekly_sum`` (the
    naive per-week sum) is emitted next to ``users_union`` to expose
    exactly the double-counting a mergeable sketch exists to avoid.

    Exactness contract: per-group distinct ≤ 150 users ≪ 4096 nominal
    entries → every sketch is in exact mode and the estimate equals
    COUNT(DISTINCT); the DuckDB oracle hash-verifies it.  At 100 TB the
    same plan degrades gracefully to ±1.6% estimates while the shuffle
    still carries one ≤32 KB blob per (type, week) regardless of rows.

    Scale: theta_sketch_agg partial-aggregates (map-side combine) —
    the scan's shuffle output is sketch blobs, not user ids; the weekly
    rollup is a second tiny blob-merge agg."""
    ev = load(spark, sf_dir, "events")
    weekly = ev.groupBy(
        "event_type", F.date_trunc("week", F.col("ts")).alias("wk")
    ).agg(F.theta_sketch_agg("user_id").alias("sk"))
    return (
        weekly.groupBy("event_type")
        .agg(
            F.count("*").alias("n_weeks"),
            F.theta_sketch_estimate(F.theta_union_agg("sk"))
            .alias("users_union"),
            F.sum(F.theta_sketch_estimate("sk")).alias("users_weekly_sum"),
        )
        .select("event_type", "n_weeks", "users_union", "users_weekly_sum")
    )


@query(
    "sketch_theta_setops",
    oracle="""
    WITH cells AS (
        SELECT DISTINCT event_type,
               user_id * 24 + EXTRACT(hour FROM ts) AS cell
        FROM events
        WHERE event_type IN ('click', 'purchase', 'error')
    )
    SELECT
        CAST((SELECT COUNT(*) FROM cells WHERE event_type = 'click')
             AS BIGINT) AS n_click,
        CAST((SELECT COUNT(*) FROM cells WHERE event_type = 'purchase')
             AS BIGINT) AS n_purchase,
        CAST((SELECT COUNT(*) FROM (
              SELECT cell FROM cells WHERE event_type = 'click'
              INTERSECT
              SELECT cell FROM cells WHERE event_type = 'purchase'))
             AS BIGINT) AS n_click_and_purchase,
        CAST((SELECT COUNT(*) FROM (
              SELECT cell FROM cells WHERE event_type = 'click'
              EXCEPT
              SELECT cell FROM cells WHERE event_type = 'error'))
             AS BIGINT) AS n_click_not_error,
        CAST((SELECT COUNT(DISTINCT cell) FROM cells) AS BIGINT) AS n_any
    """,
)
def sketch_theta_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch SET OPERATIONS — the capability HLL lacks and the
    reason warehouses keep theta state: audience overlap ("users who
    clicked AND purchased in the same hour-of-day"), exclusion
    ("clicked but never errored there") and reach, all answered from
    three per-segment sketch blobs via ``theta_intersection`` /
    ``theta_difference`` / ``theta_union`` without touching raw ids
    again.  The entity is a user×hour cell (user_id·24 + hour, ≤3600
    distinct per segment — deliberately non-degenerate: at this corpus
    every user eventually fires every type, so raw user overlap would
    be trivially total) and stays under the 4096-entry exact-mode bound,
    so every set-op result is exact and DuckDB INTERSECT/EXCEPT
    hash-verifies it.

    Scale: one scan builds all three sketches (map-side combined,
    grouped by type); the set algebra then runs on three ≤32 KB blobs
    on a single row — the 100 TB overlap query that never re-shuffles
    ids."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase", "error")
    )
    cell = (F.col("user_id") * 24 + F.hour("ts")).alias("cell")
    sk = (
        ev.select("event_type", cell)
        .groupBy("event_type")
        .agg(F.theta_sketch_agg("cell").alias("sk"))
        .groupBy()
        .pivot("event_type", ["click", "purchase", "error"])
        .agg(F.first("sk"))
    )
    return sk.select(
        F.theta_sketch_estimate("click").alias("n_click"),
        F.theta_sketch_estimate("purchase").alias("n_purchase"),
        F.theta_sketch_estimate(
            F.theta_intersection("click", "purchase")
        ).alias("n_click_and_purchase"),
        F.theta_sketch_estimate(
            F.theta_difference("click", "error")
        ).alias("n_click_not_error"),
        F.theta_sketch_estimate(
            F.theta_union(F.theta_union("click", "purchase"), "error")
        ).alias("n_any"),
    )


@query("sketch_kll_quantiles", oracle=None)  # rows-only: KLL is randomized
def sketch_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL mergeable quantiles (Karnin-Lang-Liberty, the DataSketches
    successor to GK): one sketch per (event_type, day) over `value`,
    per-day blobs merged to per-type totals via ``kll_merge_agg_double``
    — the same persisted-segment rollup shape as the theta key, for
    percentiles.  Output carries the KLL p50/p90/p99 NEXT TO the exact
    percentiles and the absolute error, so the estimate quality is
    visible in the result itself; tests/test_unit_semantics.py pins the
    normalized RANK error of every estimate ≤ 3% (k=200's published
    ~1.65% single-sided bound with headroom), which is the guarantee
    KLL actually makes (rank space, not value space).

    Rows-only: KLL compaction discards by level-randomized coin flips —
    not SQL-reproducible by design.

    Scale: at 100 TB the exact-percentile audit columns would be
    dropped; what remains shuffles one ~O(k log n) blob per segment
    instead of sorting 10^12 doubles — the entire point of the sketch."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.kll_sketch_agg_double("value").alias("sk"))
    merged = daily.groupBy("event_type").agg(
        F.expr("kll_merge_agg_double(sk)").alias("sk"),
        F.count("*").alias("n_days"),
    )
    est = merged.select(
        "event_type",
        "n_days",
        F.expr("kll_sketch_get_n_double(sk)").alias("n"),
        F.expr("kll_sketch_get_quantile_double(sk, 0.5)").alias("p50_kll"),
        F.expr("kll_sketch_get_quantile_double(sk, 0.9)").alias("p90_kll"),
        F.expr("kll_sketch_get_quantile_double(sk, 0.99)").alias("p99_kll"),
    )
    exact = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("p50_exact"),
        F.expr("percentile(value, 0.9)").alias("p90_exact"),
        F.expr("percentile(value, 0.99)").alias("p99_exact"),
    )
    return (
        est.join(F.broadcast(exact), "event_type")
        .select(
            "event_type",
            "n_days",
            "n",
            "p50_kll",
            "p50_exact",
            "p90_kll",
            "p90_exact",
            "p99_kll",
            "p99_exact",
            # floor-pinned e6 (r9 VERDICT): every declared double in the
            # repo is pinned; keeps this key upgrade-ready should the
            # exact audit columns ever gain an oracle twin.
            pin_int(F.abs(F.col("p50_kll") - F.col("p50_exact")), 1000000)
            .alias("p50_abs_err_e6"),
        )
        .orderBy("event_type")
    )


# -- deterministic mergeable quantile histogram (r15: the hash-VERIFIED
# -- mergeable-quantile twin next to rows-only KLL — r14 VERDICT #3) --------
_QH_BIN_W = 64          # cents per bin (power of two; est error ≤ 64 cents)
_QH_QS = (50, 90, 99)   # queried percentiles


@query(
    "sketch_histogram_quantile_merge",
    oracle=f"""
    WITH c AS (
        SELECT event_type,
               CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
        FROM events
    ),
    -- the per-day partial stage is pure associativity: summing partial
    -- bin counts over days equals counting straight into bins, so the
    -- oracle collapses it (the Spark side keeps both stages to
    -- demonstrate the merge; a unit test pins the equality)
    merged AS (
        SELECT event_type, cents // {_QH_BIN_W} AS bin,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM c GROUP BY 1, 2
    ),
    cum AS (
        SELECT event_type, bin, cnt,
               SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum
        FROM merged
    ),
    tot AS (
        SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n
        FROM merged GROUP BY 1
    ),
    targets AS (
        SELECT t.event_type, t.n, q.q_pct,
               (t.n * q.q_pct + 99) // 100 AS target
        FROM tot t, (VALUES (50), (90), (99)) q(q_pct)
    ),
    chosen AS (
        SELECT t.event_type, t.q_pct, t.n, t.target,
               MIN(cu.bin) AS bin
        FROM targets t
        JOIN cum cu ON cu.event_type = t.event_type AND cu.cum >= t.target
        GROUP BY 1, 2, 3, 4
    ),
    est AS (
        SELECT ch.event_type, ch.q_pct, ch.n, ch.target,
               CAST(ch.bin * {_QH_BIN_W}
                    + ((ch.target - (cu.cum - cu.cnt)) * {_QH_BIN_W})
                      // cu.cnt AS BIGINT) AS est_cents
        FROM chosen ch
        JOIN cum cu ON cu.event_type = ch.event_type AND cu.bin = ch.bin
    ),
    vcum AS (
        SELECT event_type, cents,
               SUM(c) OVER (PARTITION BY event_type ORDER BY cents) AS cum
        FROM (SELECT event_type, cents, COUNT(*) AS c FROM c GROUP BY 1, 2)
    ),
    exact AS (
        SELECT t.event_type, t.q_pct, MIN(v.cents) AS exact_cents
        FROM targets t
        JOIN vcum v ON v.event_type = t.event_type AND v.cum >= t.target
        GROUP BY 1, 2
    )
    SELECT e.event_type,
           CAST(e.q_pct AS INTEGER) AS q_pct,
           e.n,
           e.est_cents,
           CAST(x.exact_cents AS BIGINT) AS exact_cents,
           CAST(ABS(e.est_cents - x.exact_cents) AS BIGINT) AS abs_err_cents
    FROM est e
    JOIN exact x ON x.event_type = e.event_type AND x.q_pct = e.q_pct
    """,
)
def sketch_histogram_quantile_merge(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DETERMINISTIC MERGEABLE QUANTILE HISTOGRAM — the hash-verified
    mergeable-quantile structure next to the declared-rows-only KLL
    (`sketch_kll_quantiles`): values quantize to exact integer cents,
    cents land in fixed power-of-two-width bins, and the sketch IS the
    int64 bin-count vector — merging two sketches is elementwise
    addition, so per-segment histograms roll up EXACTLY regardless of
    partitioning, arrival order, or merge tree shape (the property KLL
    only has approximately, with level-randomized compaction on top).

    The key runs the full two-phase life cycle the structure exists
    for: per-(event_type, day) PARTIAL histograms (the persisted
    per-segment sketches — map-side combinable), MERGE by bin-count
    sum, then three percentile queries (p50/p90/p99) answered by a
    cumulative walk with integer in-bin interpolation.  The exact
    rank-target value is computed alongside and the absolute error
    emitted — bounded ≤ bin width BY CONSTRUCTION (the target rank
    falls inside the chosen bin; pinned in tests together with
    partial-merge ≡ direct-count associativity).

    Scale: stage 1 reduces 100 TB to (types × days × ≤876 bins) rows
    with map-side combine; everything after is metadata-sized.  Two
    small exchanges ((type,day,bin) then (type,bin)) + per-type
    windows over bounded bin lists.  DuckDB twin collapses the
    partial stage by associativity — which is exactly the claim being
    verified."""
    from pyspark.sql import Window as W

    ev = load(spark, sf_dir, "events")
    cents = pin_int(F.col("value"), 100)
    base = ev.select(
        "event_type",
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
        cents.alias("cents"),
    )
    partial = (
        base.withColumn("bin", F.expr(f"cents div {_QH_BIN_W}"))
        .groupBy("event_type", "day", "bin")
        .agg(F.count("*").alias("cnt"))
    )
    # merged (≤ types × 876 bins) feeds cum AND tot AND, through
    # targets, the exact-rank join: persist the tiny frame or every
    # consumer re-runs the scan + both aggregation exchanges.  The
    # exact-rank side (vcum) deliberately RE-SCANS events instead of
    # caching `base`: at 100 TB a second columnar scan is the right
    # trade against pinning the whole fact table in executor memory.
    merged = (
        partial.groupBy("event_type", "bin")
        .agg(F.sum("cnt").alias("cnt"))
        .persist()
    )
    merged.count()
    wb = (
        W.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = merged.withColumn("cum", F.sum("cnt").over(wb))
    tot = merged.groupBy("event_type").agg(F.sum("cnt").alias("n"))
    targets = tot.select(
        "event_type",
        "n",
        F.explode(F.array(*[F.lit(q) for q in _QH_QS])).alias("q_pct"),
    ).withColumn("target", F.expr("(n * q_pct + 99) div 100"))
    cand = cum.join(targets, "event_type").filter(
        F.col("cum") >= F.col("target")
    )
    chosen = cand.groupBy("event_type", "q_pct", "n", "target").agg(
        F.min("bin").alias("bin"),
        F.min_by(F.struct("cnt", "cum"), "bin").alias("s"),
    )
    est = chosen.select(
        "event_type",
        "q_pct",
        "n",
        "target",
        F.expr(
            f"bin * {_QH_BIN_W}"
            f" + ((target - (s.cum - s.cnt)) * {_QH_BIN_W}) div s.cnt"
        ).alias("est_cents"),
    )
    vcum = (
        base.groupBy("event_type", "cents")
        .agg(F.count("*").alias("c"))
        .withColumn(
            "cum",
            F.sum("c").over(
                W.partitionBy("event_type")
                .orderBy("cents")
                .rowsBetween(W.unboundedPreceding, W.currentRow)
            ),
        )
    )
    exact = (
        vcum.join(
            targets.select("event_type", "q_pct", "target"), "event_type"
        )
        .filter(F.col("cum") >= F.col("target"))
        .groupBy("event_type", "q_pct")
        .agg(F.min("cents").alias("exact_cents"))
    )
    return est.join(exact, ["event_type", "q_pct"]).select(
        "event_type",
        "q_pct",
        "n",
        "est_cents",
        "exact_cents",
        F.abs(F.col("est_cents") - F.col("exact_cents")).alias(
            "abs_err_cents"
        ),
    )
