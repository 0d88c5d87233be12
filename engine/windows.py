"""Window-function operators (SURVEY.md §2.5) — all 9 keys.

Every window rides a deterministic total order: the ORDER BY always ends
in a unique key (o_orderkey / c_custkey / event_id / p_partkey), so
rank/lag/first/last are reproducible on both engines (SURVEY.md §7.4
rule 4).  Money sums inside frames use exact integer cents.

100 TB notes: a partitioned window is one shuffle on the partition key +
a per-partition sort — linear state.  The only global (unpartitioned)
window here is `win_moving_avg`, which runs over the ~2k-row *daily
aggregate*, never over raw facts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from engine.core import pin, pin_int, query
from engine.io import load


@query(
    "win_ranking",
    oracle="""
    SELECT * FROM (
        SELECT o_orderkey, o_orderstatus, o_totalprice,
               RANK()       OVER w AS rnk,
               DENSE_RANK() OVER w AS drnk,
               ROW_NUMBER() OVER w AS rn
        FROM orders
        WINDOW w AS (PARTITION BY o_orderstatus
                     ORDER BY o_totalprice DESC, o_orderkey ASC)
    ) WHERE o_orderkey % 3 = 0
    """,
)
def win_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Ranks are computed over ALL rows; the residue filter bounds only
    # the verified output, AFTER the window (engine/io.py note).
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.row_number().over(w).alias("rn"),
    ).filter(F.col("o_orderkey") % 3 == 0)


@query(
    "win_ntile_dist",
    oracle="""
    SELECT c_custkey, c_mktsegment, c_acctbal,
           NTILE(4)       OVER w AS quartile,
           PERCENT_RANK() OVER w AS pct_rank,
           CUME_DIST()    OVER w AS cume_d
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment
                 ORDER BY c_acctbal ASC, c_custkey ASC)
    """,
)
def win_ntile_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    # percent_rank = (rank-1)/(n-1), cume_dist = peers/n: integer-ratio
    # divisions of identical operands — bit-identical, no rounding needed.
    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.asc("c_acctbal"), F.asc("c_custkey")
    )
    return c.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume_d"),
    )


@query(
    "win_lag_lead",
    oracle="""
    SELECT * FROM (
        SELECT event_id, user_id,
               epoch_us(ts) - LAG(epoch_us(ts)) OVER w AS gap_us,
               LEAD(event_type) OVER w AS next_type
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ) WHERE event_id % 2 = 0
    """,
)
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Gaps in integer microseconds — exact; never subtract raw timestamps
    # into a float interval.
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    return ev.select(
        "event_id",
        "user_id",
        (us - F.lag(us).over(w)).alias("gap_us"),
        F.lead("event_type").over(w).alias("next_type"),
    ).filter(F.col("event_id") % 2 == 0)


@query(
    "win_running_sum",
    oracle="""
    SELECT * FROM (
        SELECT o_custkey, o_orderkey,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) OVER w AS BIGINT)
                   AS cum_spent_cents
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ) WHERE o_orderkey % 3 = 0
    """,
)
def win_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(pin_int(F.col("o_totalprice"), 100)).over(w).alias("cum_spent_cents"),
    ).filter(F.col("o_orderkey") % 3 == 0)


@query(
    "win_moving_avg",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS day_cents
        FROM orders
        GROUP BY 1
    )
    SELECT day, day_cents,
           CAST(SUM(day_cents) OVER w AS BIGINT) AS ma7_sum_cents,
           CAST(COUNT(*) OVER w AS BIGINT)       AS ma7_n,
           CAST(SUM(day_cents) OVER w AS DOUBLE) / (100.0 * COUNT(*) OVER w)
               AS ma7_avg
    FROM daily
    WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def win_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day moving average of daily order totals.  The global window is
    over the *daily rollup* (bounded: one row per calendar day), so the
    single-partition sort is safe at any fact scale.  The average is an
    exact-integer sum divided once — deterministic on both engines."""
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(pin_int(F.col("o_totalprice"), 100)).alias("day_cents")
    )
    w = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
    ma_sum = F.sum("day_cents").over(w)
    ma_n = F.count("*").over(w)
    return daily.select(
        "day",
        "day_cents",
        ma_sum.alias("ma7_sum_cents"),
        ma_n.alias("ma7_n"),
        (ma_sum.cast("double") / (100.0 * ma_n)).alias("ma7_avg"),
    )


@query(
    "win_range_frame",
    oracle="""
    SELECT * FROM (
        SELECT o_orderkey, o_orderstatus, o_totalprice,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) OVER w AS BIGINT)
                   AS band_sum_cents,
               CAST(COUNT(*) OVER w AS BIGINT) AS band_n
        FROM orders
        WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice
                     RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW)
    ) WHERE o_orderkey % 3 = 0
    """,
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Value-range frame: all orders within $1000 below the current price.
    # The frame is defined by comparisons on identical raw doubles —
    # deterministic; peers (equal prices) share one frame on both engines.
    o = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_orderstatus")
        .orderBy("o_totalprice")
        .rangeBetween(-1000, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.sum(pin_int(F.col("o_totalprice"), 100)).over(w).alias("band_sum_cents"),
        F.count("*").over(w).alias("band_n"),
    ).filter(F.col("o_orderkey") % 3 == 0)


@query(
    "win_first_last",
    oracle="""
    SELECT user_id, first_type, last_type, n_events
    FROM (
        SELECT user_id,
               FIRST_VALUE(event_type) OVER w AS first_type,
               LAST_VALUE(event_type)  OVER w AS last_type,
               CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_events,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    )
    WHERE rn = 1
    """,
)
def win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w_full = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    w_rn = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            "user_id",
            F.first("event_type").over(w_full).alias("first_type"),
            F.last("event_type").over(w_full).alias("last_type"),
            F.count("*").over(Window.partitionBy("user_id")).alias("n_events"),
            F.row_number().over(w_rn).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@query(
    "win_topk_per_group",
    oracle="""
    SELECT p_brand, p_partkey, p_retailprice, rn
    FROM (
        SELECT p_brand, p_partkey, p_retailprice,
               ROW_NUMBER() OVER (PARTITION BY p_brand
                                  ORDER BY p_retailprice DESC, p_partkey ASC) AS rn
        FROM part
    )
    WHERE rn <= 3
    """,
)
def win_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Top-k per group via row_number + filter: bounded per-group state,
    # no per-group full sort materialization — the scale idiom.
    p = load(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(
        F.desc("p_retailprice"), F.asc("p_partkey")
    )
    return (
        p.select(
            "p_brand",
            "p_partkey",
            "p_retailprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@query(
    "win_dedup_latest",
    oracle="""
    SELECT user_id, event_id, event_type, value
    FROM (
        SELECT user_id, event_id, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    )
    WHERE rn = 1
    """,
)
def win_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Latest-row-per-key: the dedup idiom dedup_exact builds on — keep
    # row_number()=1 over (key, recency-desc, unique-id-desc).
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.select(
            "user_id",
            "event_id",
            "event_type",
            "value",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@query(
    "win_rolling_zscore",
    oracle="""
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hour,
               CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY 1, 2
    ),
    win AS (
        SELECT event_type, hour, cents,
               COUNT(*) OVER w AS n,
               CAST(SUM(cents) OVER w AS BIGINT) AS s1,
               CAST(SUM(cents * cents) OVER w AS BIGINT) AS s2
        FROM hourly
        WINDOW w AS (PARTITION BY event_type ORDER BY hour
                     ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, hour, cents,
           CASE WHEN n * s2 - s1 * s1 > 0 THEN
               FLOOR((CAST(n AS DOUBLE) * cents - s1)
                     / SQRT(CAST(n AS DOUBLE) * (n * s2 - s1 * s1))
                     * 10000 + 0.5) / 10000
           END AS zscore
    FROM win WHERE n = 24
    """,
)
def win_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling anomaly score: each hour's value mass vs the trailing
    24-hour mean/std of its event type — the online complement of
    evt_anomaly_mad's global robust gate.

    Determinism design: windowed ``stddev`` would sum DOUBLES in
    engine-specific order (hash lottery) — instead the frame carries
    EXACT integer sums (Σx, Σx², both long: cents < 2^31, 24·cents²
    < 2^63) and the z-score is derived algebraically,
    z = (n·x − Σx) / sqrt(n·(n·Σx² − (Σx)²)), one double division and
    one correctly-rounded sqrt from exact integers → bit-identical,
    then fix4-pinned.  Warm-up rows (frame < 24h) are excluded on both
    sides; zero-variance frames yield NULL via the guard.

    Scale design: one rollup agg, then a single (type, hour) window
    partitioning carries all three frame sums."""
    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(
        F.sum(pin_int(F.col("value"), 100)).alias("cents")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(-23, Window.currentRow)
    )
    win = hourly.select(
        "event_type",
        "hour",
        "cents",
        F.count("*").over(w).alias("n"),
        F.sum("cents").over(w).cast("long").alias("s1"),
        F.sum(F.col("cents") * F.col("cents")).over(w).cast("long").alias("s2"),
    )
    disc = F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")
    z = (F.col("n").cast("double") * F.col("cents") - F.col("s1")) / F.sqrt(
        F.col("n").cast("double") * disc
    )
    return (
        win.filter(F.col("n") == 24)
        .select(
            "event_type",
            "hour",
            "cents",
            F.when(disc > 0, pin(z, 10000)).alias("zscore"),
        )
    )


@query(
    "win_pareto_abc",
    oracle="""
    WITH rev AS (
        SELECT c.c_mktsegment AS segment, c.c_custkey,
               CAST(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS rev_cents
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT segment, c_custkey, rev_cents,
               SUM(rev_cents) OVER (
                   PARTITION BY segment ORDER BY rev_cents DESC, c_custkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cents,
               SUM(rev_cents) OVER (PARTITION BY segment) AS tot_cents
        FROM rev
    )
    SELECT segment, c_custkey, rev_cents,
           CAST(FLOOR(10000.0 * cum_cents / tot_cents + 0.5) AS BIGINT)
               AS cum_share_bp,
           CASE WHEN FLOOR(10000.0 * cum_cents / tot_cents + 0.5) <= 8000
                THEN 'A'
                WHEN FLOOR(10000.0 * cum_cents / tot_cents + 0.5) <= 9500
                THEN 'B' ELSE 'C' END AS abc_class
    FROM ranked
    WHERE c_custkey % 3 = 0
    ORDER BY segment, cum_share_bp, c_custkey
    """,
)
def win_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC inventory classification: rank customers by revenue
    within their market segment, accumulate the running revenue share,
    and bucket A (first 80% of segment revenue), B (to 95%), C (tail) —
    the classic 80/20 report every revenue-ops workload runs.

    Determinism: revenue in exact integer cents; the running share is
    ONE IEEE division of exact longs per row, floor-pinned to basis
    points; the cumsum frame carries the unique custkey tiebreak so
    equal-revenue customers accumulate in a fixed order.

    Scale design: the heavy fact scan collapses to one row per
    (segment, customer) via a map-side-combinable agg BEFORE any window;
    both windows share the segment partitioning — one shuffle.  The
    windows partition by segment, never globally; at 100 TB with a
    single giant segment the two-pass form (range-bucket the revenue
    domain, cumsum bucket totals, add within-bucket offsets) replaces
    the per-partition sort.  Residue slice bounds verified rows."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    rev = (
        # customer is SF-linear: stats-driven broadcast locally, no
        # forced hint (r11 policy, engine/composite.py docstring).
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"), "c_custkey")
        .agg(
            F.sum(pin_int(F.col("o_totalprice"), 100))
            .alias("rev_cents")
        )
    )
    cum_w = (
        Window.partitionBy("segment")
        .orderBy(F.desc("rev_cents"), F.asc("c_custkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot_w = Window.partitionBy("segment")
    share_bp = pin_int(
        10000.0 * F.sum("rev_cents").over(cum_w) / F.sum("rev_cents").over(tot_w), 1
    )
    return (
        rev.select(
            "segment",
            "c_custkey",
            "rev_cents",
            share_bp.cast("long").alias("cum_share_bp"),
            F.when(share_bp <= 8000, "A")
            .when(share_bp <= 9500, "B")
            .otherwise("C")
            .alias("abc_class"),
        )
        .filter(F.col("c_custkey") % 3 == 0)
        .orderBy("segment", "cum_share_bp", "c_custkey")
    )


_TRAILING_HOUR_SQL = """
    SELECT * FROM (
        SELECT event_id, event_type, ts,
               CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) OVER w
                    AS BIGINT) AS trailing_1h_cents,
               CAST(COUNT(*) OVER w AS BIGINT) AS trailing_1h_n
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY ts
                     RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    ) WHERE event_id % 5 = 0
"""


@query(
    "win_range_interval_frame",
    oracle=_TRAILING_HOUR_SQL.replace("INTERVAL 1 HOUR", "INTERVAL '1' HOUR"),
)
def win_range_interval_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-INTERVAL range frame — the trailing-window aggregate ordered
    by EVENT TIME, not row position: each event sums the value mass of
    the preceding hour of ITS OWN type.  Distinct from win_range_frame
    (numeric range) and win_moving_avg (row frame over a daily rollup):
    the frame boundary is a timestamp subtraction, so ties and uneven
    event spacing are handled by VALUE, making the result independent
    of any row ordering — no tiebreak needed at all.

    The IDENTICAL window-SQL text runs on both engines (DuckDB needs
    the quoted INTERVAL '1' HOUR form; Spark accepts the bare literal).

    Scale design: one event_type-partitioned shuffle; range frames
    evaluate with a sliding two-pointer over the sorted partition —
    linear, no per-row rescan; the residue filter bounds only the
    verified output."""
    from engine.io import register_views

    register_views(spark, sf_dir)
    return spark.sql(_TRAILING_HOUR_SQL)


@query(
    "win_percent_rank_cume",
    oracle="""
    SELECT c_custkey,
           c_mktsegment,
           CAST(FLOOR(PERCENT_RANK() OVER w * 1000000 + 0.5) AS BIGINT)
               AS pct_rank_e6,
           CAST(FLOOR(CUME_DIST() OVER w * 1000000 + 0.5) AS BIGINT)
               AS cume_dist_e6
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal)
    """,
)
def win_percent_rank_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCENT_RANK + CUME_DIST — the relative-position pair that
    completes the ranking family (``win_ranking`` covers row_number /
    rank / dense_rank): where does each customer's balance sit within
    its market segment, as a [0,1] fraction.

    Determinism: both functions are RANK-based, so ties on c_acctbal
    get identical values in both engines regardless of physical row
    order — no unique-key tiebreak needed in the ORDER BY (unlike
    row_number).  The outputs are single IEEE divisions of exact
    integers ((rank-1)/(n-1), peaked_count/n) — identical bit patterns
    cross-engine — then e6-pinned per the float discipline.

    Scale: one shuffle on the partition key; within-partition sort per
    segment.  Same plan class as every ranking window — at 100 TB the
    partition key (segment/domain) bounds state, and skewed segments
    range-partition internally (Spark sorts spill-safely)."""
    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal")
    return c.select(
        "c_custkey",
        "c_mktsegment",
        pin_int(F.percent_rank().over(w), 1000000).alias("pct_rank_e6"),
        pin_int(F.cume_dist().over(w), 1000000).alias("cume_dist_e6"),
    )


@query(
    "win_gaps_islands",
    oracle="""
    WITH active AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    r AS (
        SELECT user_id, day,
               date_diff('day', DATE '1995-01-01', day)
                 - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
                 AS grp
        FROM active
    )
    SELECT user_id, MIN(day) AS start_day, MAX(day) AS end_day,
           CAST(COUNT(*) AS BIGINT) AS len_days
    FROM r GROUP BY user_id, grp
    """,
)
def win_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: maximal runs of CONSECUTIVE active days per
    user (the classic retention/streak primitive SQL folklore solves
    with the day − row_number() trick: consecutive days share a
    constant difference, so the difference IS the island id).

    Exactness: the island key is formed in pure integers — epoch-day
    number (datediff from a fixed anchor) minus the per-user
    row_number — never date-minus-interval arithmetic, whose result
    TYPE diverges across engines (the date_trunc trap class).
    ``evt_streaks`` pins per-event streak lengths; this key pins the
    island-level rollup (start/end/length per run), a different output
    grain.

    Scale: distinct(user, day) collapses the event stream map-side
    before anything else; ONE shuffle on user_id serves both the
    window and (via AQE partition reuse) the island groupBy — groups
    are (user × island), never global.  Day-grain distinct keeps
    window partitions at ≤ span-days rows per user regardless of
    event volume."""
    active = (
        load(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    grp = (
        F.datediff(F.col("day"), F.lit("1995-01-01").cast("date"))
        - F.row_number().over(w)
    )
    return (
        active.select("user_id", "day", grp.alias("grp"))
        .groupBy("user_id", "grp")
        .agg(
            F.min("day").alias("start_day"),
            F.max("day").alias("end_day"),
            F.count("*").alias("len_days"),
        )
        .drop("grp")
    )


@query(
    "win_reset_running_sum",
    oracle="""
    WITH e AS (
        SELECT user_id, event_id, ts, event_type,
               CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
        FROM events WHERE user_id % 3 = 0
    ),
    seg AS (
        SELECT user_id, event_id, cents,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS BIGINT) AS seg,
               ts
        FROM e
    )
    SELECT user_id, event_id, COALESCE(seg, 0) AS seg,
           CAST(SUM(cents) OVER (PARTITION BY user_id, COALESCE(seg, 0)
                                 ORDER BY ts, event_id) AS BIGINT)
               AS run_cents
    FROM seg
    """,
)
def win_reset_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total that RESETS after each trigger event (here: a
    user's spend accumulator restarting after every 'purchase') — the
    conditional-reset window device: the segment id is the count of
    TRIGGERS AMONG STRICT PREDECESSORS (rows-frame SUM ending at 1
    PRECEDING — the first event after a purchase opens segment n+1,
    the purchase row itself still closes segment n), and the running
    sum then windows within (user, segment).  No iteration, no UDF —
    two window passes express what looks like stateful code.

    The frame's first row yields NULL from the empty preceding frame
    (both engines) — COALESCE to segment 0 on both sides.  user_id
    modulo-residue input filter bounds verified rows (CLAUDE.md
    budget rule; resets depend only on the user's own stream, so
    pre-filtering users is semantics-preserving).

    Scale: first window shuffles on user_id; the second needs (user,
    seg) — rows within a user stay together (subset key), so AQE-era
    Spark plans it as a LOCAL sort without a second exchange when the
    first partitioning survives.  Ordering key ends in unique
    event_id: deterministic running values under timestamp ties."""
    e = load(spark, sf_dir, "events").filter(
        F.col("user_id") % 3 == 0
    ).select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        pin_int(F.col("value"), 100).alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seg = e.select(
        "user_id",
        "event_id",
        "ts",
        "cents",
        F.coalesce(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).over(w),
            F.lit(0),
        ).cast("long").alias("seg"),
    )
    w2 = Window.partitionBy("user_id", "seg").orderBy("ts", "event_id")
    return seg.select(
        "user_id",
        "event_id",
        "seg",
        F.sum("cents").over(w2).alias("run_cents"),
    )


@query(
    "win_sliding_median_exact",
    oracle="""
    WITH cents AS (
        SELECT user_id, ts, event_id,
               CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
        FROM events
    ),
    med AS (
        SELECT user_id, ts, event_id, cents,
               list_sort(list(cents) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)) AS win
        FROM cents
    )
    SELECT user_id, ts, event_id, cents,
           CAST(len(win) AS BIGINT) AS win_n,
           CAST(win[CAST((len(win) + 1) // 2 AS BIGINT)] AS BIGINT)
               AS med_cents
    FROM med
    WHERE user_id % 7 = 0
    """,
)
def win_sliding_median_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT SLIDING MEDIAN over a 5-row trailing frame — the robust
    smoother (spike rejection) that a moving AVERAGE key can't give
    you, and a shape Spark has no builtin window function for: median
    isn't an algebraic aggregate, so the frame is materialized with
    `collect_list` over ROWS BETWEEN 4 PRECEDING AND CURRENT ROW,
    sorted, and indexed at the LOWER-median position ⌈n/2⌉ (1-based) —
    integer-exact, no two-value averaging, tie-safe by construction.
    The oracle mirrors with DuckDB's `list(...) OVER frame` +
    `list_sort`.

    The constant frame width bounds per-row state at 5 elements, so the
    sort is O(1) per row and the whole operator is one shuffle on
    user_id + a per-partition sort — the same cost as any lag/lead.
    The residue filter sits POST-window (driver output bound) — every
    row still sees its true 5-row history.

    Scale: frame width is constant → no quadratic blowup; for wide
    frames (say 10k rows) the scale path is the two-heap / order-
    statistic-tree `applyInPandas` kernel, documented not built."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", pin_int(F.col("value"), 100).alias("cents")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, 0)
    )
    win = F.sort_array(F.collect_list("cents").over(w))
    out = ev.select(
        "user_id", "ts", "event_id", "cents",
        F.size(win).cast("long").alias("win_n"),
        F.element_at(
            win, F.floor((F.size(win) + 1) / 2).cast("int")
        ).alias("med_cents"),
    )
    return out.filter(F.col("user_id") % 7 == 0)


@query(
    "win_interval_merge",
    oracle="""
    WITH iv AS (
        SELECT user_id, event_id,
               epoch_us(ts) AS s,
               epoch_us(ts) + 600000000 AS e
        FROM events
    ),
    mk AS (
        SELECT user_id, s, e,
               CASE WHEN MAX(e) OVER (
                        PARTITION BY user_id ORDER BY s, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    IS NULL
                    OR s > MAX(e) OVER (
                        PARTITION BY user_id ORDER BY s, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               THEN 1 ELSE 0 END AS new_i,
               event_id
        FROM iv
    ),
    isl AS (
        SELECT user_id, s, e,
               SUM(new_i) OVER (
                   PARTITION BY user_id ORDER BY s, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS island
        FROM mk
    ),
    g AS (
        SELECT user_id, island,
               MAX(e) - MIN(s) AS cov_us,
               COUNT(*) AS n_iv
        FROM isl GROUP BY user_id, island
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT)    AS n_islands,
           CAST(SUM(cov_us) AS BIGINT) AS covered_us,
           CAST(MAX(n_iv) AS BIGINT)   AS max_merged
    FROM g GROUP BY user_id
    """,
)
def win_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OVERLAPPING-INTERVAL MERGE — the classic coalesce of per-entity
    time spans (each event opens a 10-minute activity interval; an
    interval that starts before the running maximum end of its
    predecessors extends the current merged span).  This is the
    gaps-and-islands pattern generalized to intervals: the
    new-island flag compares each start against MAX(end) OVER (rows
    UNBOUNDED PRECEDING .. 1 PRECEDING) — NOT against the previous
    row's end (lag alone under-merges when an earlier long interval
    spans past its successor).  Island id = running sum of flags;
    coverage per island = max(end) − min(start), exact in epoch
    MICROSECONDS end-to-end (`unix_micros` ⇔ `epoch_us`, both BIGINT —
    no float time math anywhere).

    Plan: ONE exchange on user_id serves both window passes AND both
    rollups — groupBy (user_id, island) and then (user_id) are
    supersets/subsets of the window partitioning (the r7 subset-
    distribution rule), so Spark plans no further shuffle; per-user
    output keeps the verified set bounded.

    Scale: per-partition sort + linear scan state — the merged-span
    count per user is the utilization/billing primitive (machine
    uptime, session coverage, SLA overlap) at any cardinality."""
    ev = load(spark, sf_dir, "events")
    s = F.unix_micros(F.col("ts"))
    base = ev.select(
        "user_id",
        "event_id",
        s.alias("s"),
        (s + F.lit(600000000)).alias("e"),
    )
    w = Window.partitionBy("user_id").orderBy("s", "event_id")
    prev_max_e = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    mk = base.select(
        "user_id", "s", "e",
        F.when(prev_max_e.isNull() | (F.col("s") > prev_max_e), 1)
        .otherwise(0)
        .alias("new_i"),
        "event_id",
    )
    isl = mk.select(
        "user_id", "s", "e",
        F.sum("new_i").over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("island"),
    )
    g = isl.groupBy("user_id", "island").agg(
        (F.max("e") - F.min("s")).alias("cov_us"),
        F.count("*").alias("n_iv"),
    )
    return g.groupBy("user_id").agg(
        F.count("*").alias("n_islands"),
        F.sum("cov_us").alias("covered_us"),
        F.max("n_iv").alias("max_merged"),
    )
