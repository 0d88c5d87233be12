"""Training-data feature engineering — the tabular-ML prep operators a
100 TB pipeline runs between raw facts and a trainer (beyond SURVEY §2,
same mandate as the dedup/similarity/packing families).

Three classics, each expressed as ONE fact scan plus tiny broadcast
state — never a per-row Python UDF, never a global sort:

- leave-one-out target encoding (`feat_target_encode_loo`): per-category
  sufficient statistics (sum, count) via a map-side-combinable groupBy,
  broadcast back to the fact rows; the per-row encode is pure JVM
  arithmetic.  The usual window-over-category formulation shuffles the
  whole fact table onto |categories| partitions (5 keys here — a skew
  cliff at 100 TB); the agg+broadcast shape keeps the fact scan
  shuffle-free.
- equal-frequency binning (`feat_quantile_binning`): decile EDGES from
  the exact `percentile` aggregate (map-side partials; the
  `agg_percentile` precedent hash-matches DuckDB's PERCENTILE_CONT
  bit-for-bit), broadcast as one 9-value row; bin assignment is a fixed
  chain of comparisons.  No global ntile — a window over an empty
  PARTITION BY collapses 100 TB onto one task.
- weight of evidence (`feat_woe_iv`): exact integer good/bad counts per
  category, closed with a FIXED sequence of IEEE ops (one division, one
  ln) so the doubles are bit-identical across engines, floor-pinned e6.

Determinism discipline (README "Design rules"): money pinned to integer
cents via floor(x*100+0.5); integer division is `div` (Spark) / `//`
(DuckDB) — both truncate toward zero and every dividend here is
provably non-negative; no float SUM ever crosses the hash gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from engine.core import pin, pin_int, query
from engine.io import load


@query(
    "feat_target_encode_loo",
    oracle="""
    WITH stats AS (
        SELECT o_orderpriority,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS grp_sum,
               CAST(COUNT(*) AS BIGINT) AS grp_n
        FROM orders GROUP BY o_orderpriority
    )
    SELECT o.o_orderkey,
           o.o_orderpriority,
           CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT) AS target_cents,
           s.grp_n,
           CASE WHEN s.grp_n > 1 THEN
               (s.grp_sum - CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT))
               // (s.grp_n - 1)
           END AS loo_cents
    FROM orders o JOIN stats s USING (o_orderpriority)
    WHERE o.o_orderkey % 37 = 0
    ORDER BY o.o_orderkey
    """,
)
def feat_target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of ``o_orderpriority`` against the
    order value: each row's encode is the category mean EXCLUDING the row
    itself — the standard leakage guard for mean/target encoding of a
    categorical feature.

    Scale shape: the category stats frame is |categories| rows (bounded
    by construction), broadcast to the fact scan — ONE shuffle total
    (the tiny groupBy), no window over a 5-key partitioning.  Exactness:
    encode = (S - x) div (n - 1) on integer cents; S ≥ x (cents are
    non-negative) so truncation-toward-zero equals floor on both
    engines; n = 1 degenerates to NULL, mirrored in the oracle.  The
    verified output is residue-bounded (o_orderkey % 37, oracle-mirrored)
    per the driver row-budget rule."""
    orders = load(spark, sf_dir, "orders")
    stats = orders.groupBy("o_orderpriority").agg(
        F.sum(pin_int(F.col("o_totalprice"), 100)).alias("grp_sum"),
        F.count(F.lit(1)).alias("grp_n"),
    )
    enc = orders.join(F.broadcast(stats), "o_orderpriority").select(
        "o_orderkey",
        "o_orderpriority",
        pin_int(F.col("o_totalprice"), 100).alias("target_cents"),
        "grp_n",
        F.when(
            F.col("grp_n") > 1,
            F.expr(
                "(grp_sum - CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))"
                " div (grp_n - 1)"
            ),
        ).alias("loo_cents"),
    )
    return enc.where(F.col("o_orderkey") % 37 == 0).orderBy("o_orderkey")


@query(
    "feat_quantile_binning",
    oracle="""
    WITH edges AS (
        SELECT
            PERCENTILE_CONT(0.1) WITHIN GROUP (ORDER BY c_acctbal) AS e1,
            PERCENTILE_CONT(0.2) WITHIN GROUP (ORDER BY c_acctbal) AS e2,
            PERCENTILE_CONT(0.3) WITHIN GROUP (ORDER BY c_acctbal) AS e3,
            PERCENTILE_CONT(0.4) WITHIN GROUP (ORDER BY c_acctbal) AS e4,
            PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY c_acctbal) AS e5,
            PERCENTILE_CONT(0.6) WITHIN GROUP (ORDER BY c_acctbal) AS e6,
            PERCENTILE_CONT(0.7) WITHIN GROUP (ORDER BY c_acctbal) AS e7,
            PERCENTILE_CONT(0.8) WITHIN GROUP (ORDER BY c_acctbal) AS e8,
            PERCENTILE_CONT(0.9) WITHIN GROUP (ORDER BY c_acctbal) AS e9
        FROM customer
    ),
    binned AS (
        SELECT CAST(1 + (c_acctbal > e1)::INT + (c_acctbal > e2)::INT
                      + (c_acctbal > e3)::INT + (c_acctbal > e4)::INT
                      + (c_acctbal > e5)::INT + (c_acctbal > e6)::INT
                      + (c_acctbal > e7)::INT + (c_acctbal > e8)::INT
                      + (c_acctbal > e9)::INT AS BIGINT) AS bin,
               CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents
        FROM customer CROSS JOIN edges
    )
    SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(bal_cents) AS BIGINT) AS min_cents,
           CAST(MAX(bal_cents) AS BIGINT) AS max_cents,
           CAST(SUM(bal_cents) AS BIGINT) AS sum_cents
    FROM binned GROUP BY bin ORDER BY bin
    """,
)
def feat_quantile_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency (decile) binning of account balance — the
    quantile-bucketing step of feature discretization — with per-bin
    audit stats.

    Scale shape: the 9 decile EDGES come from the exact ``percentile``
    aggregate (map-side-combinable; `agg_percentile` proves the
    interpolated doubles hash-match DuckDB's PERCENTILE_CONT), broadcast
    as ONE row; bin assignment is a fixed comparison chain per row.
    This is the distributed-safe formulation — `ntile(10)` over an
    unpartitioned window (the textbook version) collapses the whole
    table onto one task.  A value exactly equal to an edge lands in the
    lower bin on both engines (strict `>`)."""
    cust = load(spark, sf_dir, "customer")
    edges = cust.agg(
        *[
            F.percentile("c_acctbal", q / 10.0).alias(f"e{q}")
            for q in range(1, 10)
        ]
    )
    bin_col = F.lit(1)
    for q in range(1, 10):
        bin_col = bin_col + (F.col("c_acctbal") > F.col(f"e{q}")).cast("int")
    binned = cust.join(F.broadcast(edges)).select(
        bin_col.cast("long").alias("bin"),
        pin_int(F.col("c_acctbal"), 100).alias("bal_cents"),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("bal_cents").alias("min_cents"),
            F.max("bal_cents").alias("max_cents"),
            F.sum("bal_cents").alias("sum_cents"),
        )
        .orderBy("bin")
    )


@query(
    "feat_woe_iv",
    oracle="""
    WITH counts AS (
        SELECT o_orderpriority,
               CAST(SUM(CASE WHEN o_orderstatus <> 'F' THEN 1 ELSE 0 END)
                    AS BIGINT) AS good,
               CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                    AS BIGINT) AS bad
        FROM orders GROUP BY o_orderpriority
    ),
    tot AS (
        SELECT o_orderpriority, good, bad,
               SUM(good) OVER () AS g_tot, SUM(bad) OVER () AS b_tot
        FROM counts
    )
    SELECT o_orderpriority, good, bad,
           CASE WHEN good > 0 AND bad > 0 THEN
           CAST(FLOOR(LN((CAST(good * b_tot AS DOUBLE))
                         / (CAST(bad * g_tot AS DOUBLE))) * 1000000 + 0.5)
                AS BIGINT) END AS woe_e6,
           CASE WHEN good > 0 AND bad > 0 THEN
           CAST(FLOOR(((CAST(good AS DOUBLE) / g_tot)
                       - (CAST(bad AS DOUBLE) / b_tot))
                      * LN((CAST(good * b_tot AS DOUBLE))
                           / (CAST(bad * g_tot AS DOUBLE)))
                      * 1000000 + 0.5) AS BIGINT) END AS iv_contrib_e6
    FROM tot ORDER BY o_orderpriority
    """,
)
def feat_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight of evidence + information-value contribution per category
    — the classic credit-scoring feature-selection statistic for a
    categorical feature against a binary label (here label = order
    finalized, ``o_orderstatus = 'F'``).

    Exactness: good/bad are exact integer counts (one map-side-
    combinable scan); woe = ln(good·B / (bad·G)) is exact integer
    products closed by ONE division and ONE ln — a fixed IEEE sequence,
    bit-identical across engines (`agg_entropy` precedent), floor-pinned
    e6.  The iv contribution is likewise a fixed op chain per category;
    the across-category IV SUM is deliberately NOT emitted (a float sum
    over pinned terms would re-order).  The global totals window runs
    over the |categories|-row AGGREGATED frame, not the fact table."""
    orders = load(spark, sf_dir, "orders")
    counts = orders.groupBy("o_orderpriority").agg(
        F.sum(F.when(F.col("o_orderstatus") != "F", 1).otherwise(0))
        .cast("long")
        .alias("good"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
        .cast("long")
        .alias("bad"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy()
    tot = counts.select(
        "o_orderpriority",
        "good",
        "bad",
        F.sum("good").over(w).alias("g_tot"),
        F.sum("bad").over(w).alias("b_tot"),
    )
    woe = F.log(
        (F.col("good") * F.col("b_tot")).cast("double")
        / (F.col("bad") * F.col("g_tot")).cast("double")
    )
    iv = (
        F.col("good").cast("double") / F.col("g_tot")
        - F.col("bad").cast("double") / F.col("b_tot")
    ) * woe
    # Degenerate-category guard (r9 ADVICE): a category with zero good
    # or zero bad rows makes ln(0)/x·0 engine-divergent (Spark log
    # returns NULL, DuckDB LN(0) is -inf); emit NULL on both sides —
    # the den_sq>0 pattern from evt_autocorr_daily.
    defined = (F.col("good") > 0) & (F.col("bad") > 0)
    return tot.select(
        "o_orderpriority",
        "good",
        "bad",
        F.when(defined, pin_int(woe, 1000000))
        .alias("woe_e6"),
        F.when(defined, pin_int(iv, 1000000))
        .alias("iv_contrib_e6"),
    ).orderBy("o_orderpriority")


@query(
    "feat_standard_scaler",
    oracle="""
    WITH cents AS (
        SELECT c_custkey, c_mktsegment,
               CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents
        FROM customer
    ),
    stats AS (
        SELECT c_mktsegment,
               CAST(COUNT(*) AS BIGINT)        AS n,
               CAST(SUM(bal_cents) AS BIGINT)  AS s1,
               CAST(SUM(bal_cents * bal_cents) AS BIGINT) AS s2
        FROM cents GROUP BY c_mktsegment
    )
    SELECT c.c_custkey, c.c_mktsegment, c.bal_cents,
           CASE WHEN s.n > 1
                 AND (CAST(s.s2 AS DOUBLE)
                      - CAST(s.s1 AS DOUBLE) * CAST(s.s1 AS DOUBLE) / s.n)
                     / (s.n - 1) > 0
           THEN FLOOR((c.bal_cents - CAST(s.s1 AS DOUBLE) / s.n)
                      / SQRT((CAST(s.s2 AS DOUBLE)
                              - CAST(s.s1 AS DOUBLE) * CAST(s.s1 AS DOUBLE)
                                / s.n)
                             / (s.n - 1))
                      * 10000 + 0.5) / 10000
           END AS z
    FROM cents c JOIN stats s USING (c_mktsegment)
    """,
)
def feat_standard_scaler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STANDARD SCALER (z-score fit/transform) — the ML-preprocessing
    shape: FIT is one map-side-combinable groupBy producing per-segment
    sufficient statistics (n, Σx, Σx²) as exact integers over pinned
    cents; TRANSFORM broadcasts that |segments|-row artifact back and
    standardizes each row with pure JVM arithmetic.  Never a window
    over the fact table (the per-category window shuffles all facts
    onto |segments| partitions — the feat_target_encode_loo skew note).

    Exactness: the moments are exact longs (Σx² ≤ 1.2e12·n — inside
    int64 through SF ~10; Σx·Σx is closed in DOUBLE to dodge the ANSI
    int64 overflow at n ≥ ~3000); mean/var/σ/z are then a FIXED IEEE
    chain (mul/div/sub/sqrt are all correctly-rounded) — bit-identical
    across engines, floor-pinned e4 (agg_stats precedent).  Degenerate
    guard: a constant or singleton segment emits NULL z on both sides.

    Scale: one fact scan + one 5-row broadcast; the transform is
    embarrassingly map-side.  At 100 TB the fit is the only shuffle and
    it moves three longs per segment per partition."""
    cents = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", pin_int(F.col("c_acctbal"), 100).alias("bal_cents")
    )
    stats = cents.groupBy("c_mktsegment").agg(
        F.count("*").alias("n"),
        F.sum("bal_cents").alias("s1"),
        F.sum(F.col("bal_cents") * F.col("bal_cents")).alias("s2"),
    )
    s1d = F.col("s1").cast("double")
    var = (F.col("s2").cast("double") - s1d * s1d / F.col("n")) / (
        F.col("n") - 1
    )
    mu = s1d / F.col("n")
    z = (F.col("bal_cents") - mu) / F.sqrt(var)
    defined = (F.col("n") > 1) & (var > 0)
    return (
        cents.join(F.broadcast(stats), "c_mktsegment")
        .select(
            "c_custkey",
            "c_mktsegment",
            "bal_cents",
            F.when(defined, pin(z, 10000)).alias("z"),
        )
    )


@query(
    "feat_one_hot",
    oracle="""
    WITH seg_vocab AS (
        SELECT c_mktsegment AS cat,
               CAST(DENSE_RANK() OVER (ORDER BY c_mktsegment) - 1 AS BIGINT)
                   AS idx
        FROM (SELECT DISTINCT c_mktsegment FROM customer)
    ),
    n_seg AS (SELECT CAST(COUNT(*) AS BIGINT) AS offs FROM seg_vocab),
    nat_vocab AS (
        SELECT cat,
               (SELECT offs FROM n_seg)
               + CAST(DENSE_RANK() OVER (ORDER BY cat) - 1 AS BIGINT) AS idx
        FROM (SELECT DISTINCT n.n_name AS cat
              FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey)
    )
    SELECT c.c_custkey, f.feature, f.idx AS feature_idx,
           CAST(1 AS BIGINT) AS v
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN seg_vocab s ON c.c_mktsegment = s.cat
    JOIN nat_vocab nv ON n.n_name = nv.cat,
    LATERAL (VALUES ('seg=' || c.c_mktsegment, s.idx),
                    ('nat=' || n.n_name, nv.idx)) AS f(feature, idx)
    WHERE c.c_custkey % 3 = 0
    """,
)
def feat_one_hot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-HOT ENCODER over two categoricals with a shared feature
    namespace (the sklearn OneHotEncoder fit/transform shape): FIT
    derives each column's vocabulary from the data (distinct values,
    alphabetically dense-ranked) and offsets the second column's index
    space by the first's cardinality; TRANSFORM emits the LONG-FORM
    (row, feature, feature_idx, 1) encoding — the only formulation that
    scales (a wide 0/1 matrix materializes |vocab| columns per row and
    dies at real vocabularies; long form is exactly the sparse COO the
    trainer wants).

    The dense_rank windows run over the DISTINCT-VALUE frames (5 and
    ≤25 rows — bounded by construction), never over the fact table; the
    vocabularies and the offset row broadcast back, so the transform is
    one fact scan with map-side lookups and the verified output is
    residue-bounded (c_custkey % 3, oracle-mirrored).  Unseen-category
    behavior is inner-join drop, matching the oracle."""
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    w = Window.orderBy("cat")
    seg_vocab = (
        cust.select(F.col("c_mktsegment").alias("cat"))
        .distinct()
        .select("cat", (F.dense_rank().over(w) - 1).cast("long").alias("idx"))
    )
    n_seg = seg_vocab.agg(F.count("*").alias("offs"))
    nat_vocab = (
        cust.join(nation, cust.c_nationkey == nation.n_nationkey)
        .select(F.col("n_name").alias("cat"))
        .distinct()
        .select("cat", (F.dense_rank().over(w) - 1).cast("long").alias("ridx"))
        .crossJoin(F.broadcast(n_seg))
        .select("cat", (F.col("offs") + F.col("ridx")).alias("idx"))
    )
    enc = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(
            F.broadcast(seg_vocab.withColumnRenamed("idx", "seg_idx")),
            F.col("c_mktsegment") == F.col("cat"),
        )
        .drop("cat")
        .join(
            F.broadcast(nat_vocab.withColumnRenamed("idx", "nat_idx")),
            F.col("n_name") == F.col("cat"),
        )
        .select(
            "c_custkey",
            F.explode(
                F.array(
                    F.struct(
                        F.concat(F.lit("seg="), F.col("c_mktsegment")).alias(
                            "feature"
                        ),
                        F.col("seg_idx").alias("feature_idx"),
                    ),
                    F.struct(
                        F.concat(F.lit("nat="), F.col("n_name")).alias(
                            "feature"
                        ),
                        F.col("nat_idx").alias("feature_idx"),
                    ),
                )
            ).alias("f"),
        )
        .select(
            "c_custkey",
            F.col("f.feature").alias("feature"),
            F.col("f.feature_idx").alias("feature_idx"),
            F.lit(1).cast("long").alias("v"),
        )
    )
    return enc.where(F.col("c_custkey") % 3 == 0)


@query(
    "feat_robust_scaler",
    oracle="""
    WITH cents AS (
        SELECT o_orderkey, o_orderpriority,
               CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents
        FROM orders
    ),
    stats AS (
        SELECT o_orderpriority,
               PERCENTILE_CONT(0.25) WITHIN GROUP (ORDER BY price_cents) AS q1,
               PERCENTILE_CONT(0.5)  WITHIN GROUP (ORDER BY price_cents) AS med,
               PERCENTILE_CONT(0.75) WITHIN GROUP (ORDER BY price_cents) AS q3
        FROM cents GROUP BY o_orderpriority
    )
    SELECT c.o_orderkey, c.o_orderpriority, c.price_cents,
           FLOOR(s.med * 100 + 0.5) / 100 AS med_cents,
           FLOOR((s.q3 - s.q1) * 100 + 0.5) / 100 AS iqr_cents,
           CASE WHEN s.q3 > s.q1
                THEN FLOOR((c.price_cents - s.med) / (s.q3 - s.q1)
                           * 10000 + 0.5) / 10000
           END AS robust_z
    FROM cents c JOIN stats s USING (o_orderpriority)
    WHERE c.o_orderkey % 23 = 0
    """,
)
def feat_robust_scaler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROBUST SCALER (median/IQR fit + transform) — the outlier-immune
    sibling of `feat_standard_scaler` (sklearn RobustScaler shape):
    heavy-tailed value columns (doc lengths, prices, token counts) get
    scaled by quartiles, which a single planted outlier cannot move,
    where mean/σ scaling silently explodes.

    FIT computes per-category q1/median/q3 with Spark's EXACT
    ``percentile`` over pinned integer cents — one sort-based agg per
    group key, the `feat_quantile_binning`-proven twin of DuckDB's
    PERCENTILE_CONT (identical (n−1)·q linear interpolation on exact
    integer inputs); TRANSFORM broadcasts the |priorities|-row stats
    artifact back over the fact scan and standardizes row-side, never a
    window over the fact table.  A zero-IQR category (constant values)
    emits NULL on both engines — the degenerate-guard discipline.

    Scale: one fact scan + one 5-row broadcast; the fit's exact
    percentile is the only sort, and at 100 TB you'd swap it for
    approx_percentile with the same downstream algebra.  Verified
    output is residue-bounded (o_orderkey % 23, oracle-mirrored)."""
    cents = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        pin_int(F.col("o_totalprice"), 100).alias("price_cents"),
    )
    stats = cents.groupBy("o_orderpriority").agg(
        F.percentile("price_cents", 0.25).alias("q1"),
        F.percentile("price_cents", 0.5).alias("med"),
        F.percentile("price_cents", 0.75).alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    z = (F.col("price_cents") - F.col("med")) / iqr
    return (
        cents.join(F.broadcast(stats), "o_orderpriority")
        .where(F.col("o_orderkey") % 23 == 0)
        .select(
            "o_orderkey",
            "o_orderpriority",
            "price_cents",
            pin(F.col("med"), 100).alias("med_cents"),
            pin(iqr, 100).alias("iqr_cents"),
            F.when(
                F.col("q3") > F.col("q1"),
                pin(z, 10000),
            ).alias("robust_z"),
        )
    )
