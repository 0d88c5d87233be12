"""Aggregation operators (SURVEY.md §2.4).

Determinism discipline (SURVEY.md §7.4): every float aggregate is rounded
identically in the Spark query and the DuckDB oracle; integer counts/sums
are BIGINT on both sides; arg-extremes carry a unique-key tiebreak.

100 TB notes: every groupBy below compiles to partial (map-side) + final
hash aggregation — one shuffle on the group keys, no driver collection.
Approx sketches (HLL / Greenwald-Khanna) are the scale path for distincts
and percentiles; the exact variants are the oracle-checkable twins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from engine.core import pin, pin_int, query
from engine.io import load


@query(
    "agg_groupby_pricing",
    oracle="""
    SELECT l_returnflag,
           l_linestatus,
           FLOOR((SUM(l_quantity)) * 100 + 0.5) / 100                                 AS sum_qty,
           FLOOR((SUM(l_extendedprice)) * 100 + 0.5) / 100                            AS sum_base_price,
           FLOOR((SUM(l_extendedprice * (1 - l_discount))) * 100 + 0.5) / 100         AS sum_disc_price,
           FLOOR((SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax))) * 100 + 0.5) / 100 AS sum_charge,
           FLOOR((AVG(l_quantity)) * 10000 + 0.5) / 10000                                 AS avg_qty,
           FLOOR((AVG(l_extendedprice)) * 10000 + 0.5) / 10000                            AS avg_price,
           FLOOR((AVG(l_discount)) * 10000 + 0.5) / 10000                                 AS avg_disc,
           COUNT(*)                                                  AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def agg_groupby_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship (TPC-H Q1 shape): scan → filter → grouped sums/avgs/count.

    Catalyst plan: parquet scan with pushed l_shipdate filter → partial
    HashAggregate → shuffle on (l_returnflag, l_linestatus) [6 groups] →
    final HashAggregate.  At 100 TB the 6-group cardinality makes the
    shuffle tiny; all reduction happens map-side.
    """
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            pin(F.sum("l_quantity"), 100).alias("sum_qty"),
            pin(F.sum("l_extendedprice"), 100).alias("sum_base_price"),
            pin(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 100
            ).alias("sum_disc_price"),
            pin(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                100,
            ).alias("sum_charge"),
            pin(F.avg("l_quantity"), 10000).alias("avg_qty"),
            pin(F.avg("l_extendedprice"), 10000).alias("avg_price"),
            pin(F.avg("l_discount"), 10000).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "agg_global",
    oracle="""
    SELECT COUNT(*)                          AS n_rows,
           FLOOR((SUM(l_quantity)) * 100 + 0.5) / 100         AS sum_qty,
           FLOOR((AVG(l_extendedprice)) * 10000 + 0.5) / 10000    AS avg_price,
           FLOOR((MIN(l_extendedprice)) * 100 + 0.5) / 100    AS min_price,
           FLOOR((MAX(l_extendedprice)) * 100 + 0.5) / 100    AS max_price,
           COUNT(DISTINCT l_orderkey)        AS n_orders
    FROM lineitem
    """,
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("n_rows"),
        pin(F.sum("l_quantity"), 100).alias("sum_qty"),
        pin(F.avg("l_extendedprice"), 10000).alias("avg_price"),
        pin(F.min("l_extendedprice"), 100).alias("min_price"),
        pin(F.max("l_extendedprice"), 100).alias("max_price"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


@query(
    "agg_count_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )


@query(
    "agg_multi_distinct",
    oracle="""
    SELECT l_linestatus,
           COUNT(DISTINCT l_partkey)   AS n_parts,
           COUNT(DISTINCT l_orderkey)  AS n_orders,
           FLOOR((SUM(l_quantity)) * 100 + 0.5) / 100   AS sum_qty
    FROM lineitem
    GROUP BY l_linestatus
    """,
)
def agg_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Two distinct aggs + one plain → Catalyst Expand-based rewrite; keep
    # distinct-agg count ≤ 2 per query (SURVEY.md §4).
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        pin(F.sum("l_quantity"), 100).alias("sum_qty"),
    )


@query(
    "agg_filtered",
    oracle="""
    SELECT FLOOR((SUM(CASE WHEN p.p_type = 'PROMO'
                          THEN l.l_extendedprice * (1 - l.l_discount)
                          ELSE 0 END)) * 100 + 0.5) / 100                        AS promo_revenue,
           FLOOR((SUM(l.l_extendedprice * (1 - l.l_discount))) * 100 + 0.5) / 100 AS total_revenue,
           FLOOR((100.0 * SUM(CASE WHEN p.p_type = 'PROMO'
                                  THEN l.l_extendedprice * (1 - l.l_discount)
                                  ELSE 0 END)
                 / SUM(l.l_extendedprice * (1 - l.l_discount))) * 10000 + 0.5) / 10000 AS promo_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate <  TIMESTAMP '1997-07-01'
    """,
)
def agg_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 shape: conditional aggregation (promo revenue share)."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", revenue).otherwise(F.lit(0.0))
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-07-01").cast("timestamp"))
        )
        .join(part, li.l_partkey == part.p_partkey)
        .agg(
            pin(F.sum(promo), 100).alias("promo_revenue"),
            pin(F.sum(revenue), 100).alias("total_revenue"),
            pin(100.0 * F.sum(promo) / F.sum(revenue), 10000).alias("promo_pct"),
        )
    )


@query(
    "agg_having",
    oracle="""
    SELECT o_custkey, COUNT(*) AS n_orders, FLOOR((SUM(o_totalprice)) * 100 + 0.5) / 100 AS total_spent
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) > 12
    """,
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            pin(F.sum("o_totalprice"), 100).alias("total_spent"),
        )
        .filter(F.col("n_orders") > 12)
    )


@query(
    "agg_rollup",
    oracle="""
    SELECT r.r_name AS region_name,
           n.n_name AS nation_name,
           COUNT(c.c_custkey) AS n_customers,
           CAST(GROUPING(r.r_name) * 2 + GROUPING(n.n_name) AS BIGINT) AS gid
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return (
        joined.rollup(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
        .agg(
            F.count("c_custkey").alias("n_customers"),
            F.grouping_id().alias("gid"),
        )
        .withColumn("gid", F.col("gid").cast("long"))
    )


@query(
    "agg_cube",
    oracle="""
    SELECT l_returnflag,
           l_linestatus,
           COUNT(*) AS n,
           FLOOR((SUM(l_extendedprice)) * 100 + 0.5) / 100 AS sum_price,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n"),
            pin(F.sum("l_extendedprice"), 100).alias("sum_price"),
            F.grouping_id().alias("gid"),
        )
        .withColumn("gid", F.col("gid").cast("long"))
    )


@query(
    "agg_grouping_sets",
    oracle="""
    SELECT o_orderstatus,
           o_orderpriority,
           COUNT(*) AS n,
           FLOOR((SUM(o_totalprice)) * 100 + 0.5) / 100 AS sum_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SQL entry point (SURVEY.md §3 entry 2): syntax shared with the oracle.
    from engine.io import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderstatus,
               o_orderpriority,
               COUNT(*) AS n,
               FLOOR((SUM(o_totalprice)) * 100 + 0.5) / 100 AS sum_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@query(
    "agg_stats",
    oracle="""
    SELECT l_returnflag,
           FLOOR((STDDEV_SAMP(l_extendedprice)) * 10000 + 0.5) / 10000 AS sd_price,
           FLOOR((VAR_SAMP(l_quantity)) * 10000 + 0.5) / 10000         AS var_qty,
           FLOOR((CORR(l_extendedprice, l_quantity)) * 10000 + 0.5) / 10000 AS corr_pq,
           FLOOR((COVAR_SAMP(l_extendedprice, l_quantity)) * 10000 + 0.5) / 10000 AS covar_pq
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        pin(F.stddev_samp("l_extendedprice"), 10000).alias("sd_price"),
        pin(F.var_samp("l_quantity"), 10000).alias("var_qty"),
        pin(F.corr("l_extendedprice", "l_quantity"), 10000).alias("corr_pq"),
        pin(F.covar_samp("l_extendedprice", "l_quantity"), 10000).alias("covar_pq"),
    )


@query(
    "agg_percentile",
    oracle="""
    SELECT o_orderstatus,
           FLOOR((MEDIAN(o_totalprice)) * 10000 + 0.5) / 10000                          AS med_price,
           FLOOR((PERCENTILE_CONT(0.25) WITHIN GROUP (ORDER BY o_totalprice)) * 10000 + 0.5) / 10000 AS p25,
           FLOOR((PERCENTILE_CONT(0.75) WITHIN GROUP (ORDER BY o_totalprice)) * 10000 + 0.5) / 10000 AS p75,
           FLOOR((PERCENTILE_CONT(0.95) WITHIN GROUP (ORDER BY o_totalprice)) * 10000 + 0.5) / 10000 AS p95
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        pin(F.percentile("o_totalprice", 0.5), 10000).alias("med_price"),
        pin(F.percentile("o_totalprice", 0.25), 10000).alias("p25"),
        pin(F.percentile("o_totalprice", 0.75), 10000).alias("p75"),
        pin(F.percentile("o_totalprice", 0.95), 10000).alias("p95"),
    )


@query("agg_approx_quantile", oracle=None)  # rows-only: sketch ≠ DuckDB sketch
def agg_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greenwald-Khanna approximate percentiles — the 100 TB path where an
    exact sort-based percentile would be a full shuffle of the column."""
    orders = load(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        pin(F.percentile_approx("o_totalprice", 0.5, 10000), 10000).alias("med_approx"),
        pin(F.percentile_approx("o_totalprice", 0.95, 10000), 10000).alias(
            "p95_approx"
        ),
    )


@query("agg_approx_distinct", oracle=None)  # rows-only: HLL ≠ DuckDB HLL
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct users per event type — constant memory per
    group at any scale, vs the shuffle-heavy exact countDistinct."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.01).alias("n_users_approx"),
        F.count("*").alias("n_events"),
    )


@query(
    "agg_collect_sorted",
    oracle="""
    SELECT n.n_name AS nation_name,
           ARRAY_TO_STRING(LIST_SORT(ARRAY_AGG(s.s_name)), ',') AS supplier_names
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Array outputs crash the driver's canonicalizer (round-1 'unhashable
    # numpy.ndarray') — serialize to a CSV string on both sides.
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(
            F.array_join(F.sort_array(F.collect_list("s_name")), ",").alias(
                "supplier_names"
            )
        )
    )


@query(
    "agg_collect_set",
    oracle="""
    SELECT user_id,
           ARRAY_TO_STRING(LIST_SORT(LIST(DISTINCT event_type)), ',') AS event_types
    FROM events
    GROUP BY user_id
    """,
)
def agg_collect_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.array_join(F.sort_array(F.collect_set("event_type")), ",").alias(
            "event_types"
        )
    )


@query(
    "agg_min_max_by",
    oracle="""
    WITH ranked AS (
        SELECT c_mktsegment, c_name, c_acctbal,
               ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                  ORDER BY c_acctbal DESC, c_custkey DESC) AS rmax,
               ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                  ORDER BY c_acctbal ASC, c_custkey ASC)  AS rmin
        FROM customer
    )
    SELECT c_mktsegment,
           MAX(CASE WHEN rmax = 1 THEN c_name END) AS richest_customer,
           MAX(CASE WHEN rmin = 1 THEN c_name END) AS poorest_customer,
           FLOOR((MAX(c_acctbal)) * 100 + 0.5) / 100 AS max_bal
    FROM ranked
    GROUP BY c_mktsegment
    """,
)
def agg_min_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Tiebreak on unique c_custkey (SURVEY.md §7.4 rule 4); max_by over a
    # struct orders lexicographically, matching the oracle's window order.
    c = load(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.expr("max_by(c_name, struct(c_acctbal, c_custkey))").alias("richest_customer"),
        F.expr("min_by(c_name, struct(c_acctbal, c_custkey))").alias("poorest_customer"),
        pin(F.max("c_acctbal"), 100).alias("max_bal"),
    )


@query(
    "agg_pivot",
    oracle="""
    SELECT user_id,
           COUNT(*) FILTER (WHERE event_type = 'click')    AS click,
           COUNT(*) FILTER (WHERE event_type = 'error')    AS error,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           COUNT(*) FILTER (WHERE event_type = 'signup')   AS signup,
           COUNT(*) FILTER (WHERE event_type = 'view')     AS "view"
    FROM events
    GROUP BY user_id
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Explicit pivot value list → single-pass plan, no value-discovery job
    # (required at 100 TB; also keeps output schema stable).
    ev = load(spark, sf_dir, "events")
    piv = (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .count()
    )
    # pivot count yields nulls for empty cells; oracle FILTER yields 0
    return piv.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in ["click", "error", "purchase", "signup", "view"]],
    )


@query(
    "agg_unpivot",
    oracle="""
    WITH wide AS (
        SELECT l_returnflag,
               CAST(SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS qty_cents,
               CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS price_cents
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, 'qty_cents' AS metric, qty_cents AS val FROM wide
    UNION ALL
    SELECT l_returnflag, 'price_cents' AS metric, price_cents AS val FROM wide
    """,
)
def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshape via native ``unpivot`` (the melt/stack inverse of
    agg_pivot; round 3).  The reshape is a zero-shuffle per-row expansion
    of the tiny aggregate — at 100 TB the pattern turns per-partition
    metric columns into the long form a metrics store ingests."""
    li = load(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.sum(pin_int(F.col("l_quantity"), 100)).alias("qty_cents"),
        F.sum(pin_int(F.col("l_extendedprice"), 100)).alias("price_cents"),
    )
    return wide.unpivot(
        ["l_returnflag"], ["qty_cents", "price_cents"], "metric", "val"
    )


@query(
    "agg_histogram",
    oracle="""
    SELECT CAST(LEAST(FLOOR(value / 35.0), 9) AS BIGINT) AS bucket,
           COUNT(*) AS n,
           FLOOR((SUM(value)) * 100 + 0.5) / 100 AS sum_value
    FROM events
    GROUP BY 1
    """,
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 10 equal-width buckets over fixed bounds [0, 350); cap into bucket 9.
    ev = load(spark, sf_dir, "events")
    bucket = F.least(F.floor(F.col("value") / 35.0), F.lit(9)).cast("long")
    return ev.groupBy(bucket.alias("bucket")).agg(
        F.count("*").alias("n"),
        pin(F.sum("value"), 100).alias("sum_value"),
    )


@query(
    "agg_mode_deterministic",
    oracle="""
    WITH counts AS (
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
        FROM orders GROUP BY 1, 2
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY o_orderstatus
            ORDER BY cnt DESC, o_orderpriority ASC
        ) AS rn
        FROM counts
    )
    SELECT o_orderstatus, o_orderpriority AS mode_value, cnt AS mode_count
    FROM ranked WHERE rn = 1
    """,
)
def agg_mode_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group mode with a DETERMINISTIC tie-break (highest count,
    then smallest value) — Spark's native ``mode()`` and DuckDB's
    ``mode()`` both leave ties implementation-defined, so the portable
    form is count + rank, which also returns the count alongside.

    Scale design: the candidate relation after the first groupBy is
    |groups|×|distinct values| — tiny — so the ranking window costs
    nothing; the heavy input only pays one map-side-combinable count."""
    o = load(spark, sf_dir, "orders")
    counts = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("cnt")
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.desc("cnt"), F.asc("o_orderpriority")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("mode_value"),
            F.col("cnt").alias("mode_count"),
        )
    )


@query(
    "agg_corr_exact",
    oracle="""
    WITH s AS (
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n,
               SUM(CAST(FLOOR(l_quantity + 0.5) AS BIGINT)) AS sx,
               SUM(CAST(FLOOR(l_extendedprice + 0.5) AS BIGINT)) AS sy,
               SUM(CAST(FLOOR(l_quantity + 0.5) AS BIGINT)
                   * CAST(FLOOR(l_extendedprice + 0.5) AS BIGINT)) AS sxy,
               SUM(CAST(FLOOR(l_quantity + 0.5) AS BIGINT)
                   * CAST(FLOOR(l_quantity + 0.5) AS BIGINT)) AS sxx,
               SUM(CAST(FLOOR(l_extendedprice + 0.5) AS BIGINT)
                   * CAST(FLOOR(l_extendedprice + 0.5) AS BIGINT)) AS syy
        FROM lineitem GROUP BY l_returnflag, l_linestatus
    )
    SELECT l_returnflag, l_linestatus, CAST(n AS BIGINT) AS n,
           CAST(FLOOR(
               ((CAST(n AS DOUBLE) * sxy) - (CAST(sx AS DOUBLE) * sy))
               / SQRT(((CAST(n AS DOUBLE) * sxx) - (CAST(sx AS DOUBLE) * sx))
                      * ((CAST(n AS DOUBLE) * syy) - (CAST(sy AS DOUBLE) * sy)))
               * 10000 + 0.5) AS BIGINT) AS corr_e4,
           CAST(FLOOR(
               ((CAST(n AS DOUBLE) * sxy) - (CAST(sx AS DOUBLE) * sy))
               / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1))
               * 10000 + 0.5) AS BIGINT) AS cov_e4
    FROM s ORDER BY l_returnflag, l_linestatus
    """,
)
def agg_corr_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation + sample covariance of quantity vs price per
    (returnflag, linestatus) — computed from EXACT integer power sums,
    not the engines' native ``corr``/``covar_samp``.

    Why not F.corr: both engines implement streaming co-moment updates
    whose FP result depends on accumulation order — Spark's parallel
    partials and DuckDB's serial scan disagree in late ulps, a hash
    lottery.  Here the five power sums are longs (order-independent,
    exact — inputs are integral-valued after the half-up pin, bounded so
    no ANSI overflow: qty ≤ 50, whole-dollar price ≤ ~1.1e5, so syy per
    group stays < 2^63 up to ~sf100), and the closing corr/cov formulas
    are a FIXED sequence of IEEE double ops on identical exact inputs —
    bit-identical across engines, then floor-pinned to 1e-4.

    Scale design: one map-side-combinable aggregate over the fact scan;
    the closing math runs on |groups| rows.  This is the sufficient-
    statistics pattern every distributed stats engine uses (merge = add
    the power sums), the same shape a 1000-executor cluster wants."""
    li = load(spark, sf_dir, "lineitem")
    x = pin_int(F.col("l_quantity"), 1)
    y = pin_int(F.col("l_extendedprice"), 1)
    s = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
    )
    nd = F.col("n").cast("double")
    num = (nd * F.col("sxy")) - (F.col("sx").cast("double") * F.col("sy"))
    varx = (nd * F.col("sxx")) - (F.col("sx").cast("double") * F.col("sx"))
    vary = (nd * F.col("syy")) - (F.col("sy").cast("double") * F.col("sy"))
    return s.select(
        "l_returnflag",
        "l_linestatus",
        "n",
        pin_int(num / F.sqrt(varx * vary), 10000)
        .alias("corr_e4"),
        pin_int(num / (nd * (nd - F.lit(1.0))), 10000)
        .alias("cov_e4"),
    ).orderBy("l_returnflag", "l_linestatus")


@query(
    "agg_entropy",
    oracle="""
    WITH cell AS (
        SELECT event_type, EXTRACT(hour FROM ts) AS hr, COUNT(*) AS c
        FROM events GROUP BY 1, 2
    ),
    tot AS (
        SELECT event_type, SUM(c) AS n FROM cell GROUP BY 1
    ),
    term AS (
        SELECT cell.event_type, cell.c, tot.n,
               CAST(FLOOR(-LN(CAST(cell.c AS DOUBLE) / tot.n) * 10000 + 0.5)
                    AS BIGINT) AS nll_e4
        FROM cell JOIN tot ON cell.event_type = tot.event_type
    )
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n_events,
           COUNT(*) AS n_cells,
           CAST(FLOOR(CAST(SUM(c * nll_e4) AS DOUBLE) / MAX(n) + 0.5) AS BIGINT)
               AS entropy_e4
    FROM term GROUP BY event_type
    ORDER BY event_type
    """,
)
def agg_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (nats, ×1e4) of each event type's hour-of-day
    distribution — the information-theoretic uniformity score a data-
    quality pipeline uses to flag skewed traffic (entropy ≈ ln 24 ⇒
    evenly spread; ≈ 0 ⇒ single-hour spike).

    Determinism discipline: ln() is pinned per CELL to integer
    ten-thousandth-nats; Σ c·nll_e4 is exact long arithmetic
    (order-independent), and the close is one IEEE division of exact
    longs, floor-pinned — the same exact-sufficient-statistics pattern
    as agg_corr_exact / text_unigram_logprob.

    Scale design: two map-side-combinable counts (cells ≪ events); the
    entropy close runs on |types|×24 rows.  Mergeable across shards by
    adding cell counts — the sketch-free form of distributed entropy."""
    ev = load(spark, sf_dir, "events")
    cell = ev.groupBy("event_type", F.hour("ts").alias("hr")).agg(
        F.count("*").alias("c")
    )
    tot = cell.groupBy("event_type").agg(F.sum("c").alias("n"))
    term = cell.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "c",
        "n",
        pin_int(-F.log(F.col("c").cast("double") / F.col("n")), 10000)
        .alias("nll_e4"),
    )
    return (
        term.groupBy("event_type")
        .agg(
            F.max("n").alias("n_events"),
            F.count("*").alias("n_cells"),
            pin_int(F.sum(F.col("c") * F.col("nll_e4")).cast("double") / F.max("n"), 1)
            .alias("entropy_e4"),
        )
        .orderBy("event_type")
    )


@query(
    "agg_bitmap_distinct",
    oracle="""
    SELECT event_type,
           CAST(date_trunc('day', ts) AS DATE) AS day,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY event_type, CAST(date_trunc('day', ts) AS DATE)
    """,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitmap-accelerated exact distinct count (Spark 3.5 bitmap agg
    family) — the warehouse pattern for repeatable COUNT(DISTINCT) at
    scale: ids fold into fixed 4KB bucket bitmaps (bitmap_bucket_number
    / bitmap_bit_position / bitmap_construct_agg), and the final count
    is a SUM of per-bucket popcounts.  Unlike count_distinct's
    shuffle-every-id plan, the shuffle here carries at most one 4KB
    bitmap per (group, 32k-id bucket) REGARDLESS of row count — and the
    bitmaps are mergeable (bitmap_or_agg), so per-partition/per-day
    segments roll up without rescanning, the same associativity as the
    HLL key but EXACT.  Hash-verified against DuckDB COUNT(DISTINCT).

    Dialect trap: date_trunc('day') returns TIMESTAMP in Spark but DATE
    in DuckDB — cast on both sides."""
    ev = load(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    per_bucket = (
        ev.select(
            "event_type",
            day,
            F.expr("bitmap_bucket_number(user_id)").alias("bucket"),
            F.expr("bitmap_bit_position(user_id)").alias("pos"),
        )
        .groupBy("event_type", "day", "bucket")
        .agg(F.expr("bitmap_construct_agg(pos)").alias("bm"))
    )
    return per_bucket.groupBy("event_type", "day").agg(
        F.sum(F.expr("bitmap_count(bm)")).alias("n_users")
    )


_CMS_D = 4  # hash rows
_CMS_W = 512  # counters per row
_CMS_P = (1 << 31) - 1  # Mersenne prime for the universal family
_CMS_A = [(2654435761 * (2 * j + 1)) % _CMS_P or 1 for j in range(_CMS_D)]
_CMS_B = [(40503 * j * j + 987654321 + j) % _CMS_P for j in range(_CMS_D)]


def _cms_oracle() -> str:
    """DuckDB twin of agg_cms_heavy_hitters — exact because the whole
    sketch is the repo's deterministic universal-hash family (NOT
    xxhash): counters are plain grouped counts of ((a·(key%P)+b)%P)%W
    positions, and each point estimate is the MIN over the D counters
    its key probes.  a < 2³¹ and key%P < 2³¹ keep every product below
    2⁶² — BIGINT-safe on both engines."""
    hashes = ", ".join(
        f"({j}, {_CMS_A[j]}, {_CMS_B[j]})" for j in range(_CMS_D)
    )
    return f"""
    WITH keyed AS (
        SELECT CASE WHEN user_id % 10 = 0
                    THEN 1000000 + (user_id // 10) % 5
                    ELSE user_id END AS key
        FROM events
    ),
    h(j, a, b) AS (VALUES {hashes}),
    counters AS (
        SELECT h.j,
               ((h.a * (k.key % {_CMS_P}) + h.b) % {_CMS_P}) % {_CMS_W}
                   AS pos,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM keyed k CROSS JOIN h
        GROUP BY 1, 2
    ),
    exact AS (
        SELECT key, CAST(COUNT(*) AS BIGINT) AS exact_count
        FROM keyed GROUP BY key
    ),
    cand AS (
        SELECT * FROM exact WHERE key >= 1000000 OR key < 5
    ),
    est AS (
        SELECT c.key, c.exact_count,
               CAST(MIN(ct.cnt) AS BIGINT) AS est_count
        FROM cand c
        CROSS JOIN h
        JOIN counters ct
          ON ct.j = h.j
         AND ct.pos = ((h.a * (c.key % {_CMS_P}) + h.b) % {_CMS_P})
                      % {_CMS_W}
        GROUP BY c.key, c.exact_count
    )
    SELECT key, est_count, exact_count,
           CAST(est_count - exact_count AS BIGINT) AS overcount
    FROM est
    """


@query("agg_cms_heavy_hitters", oracle=_cms_oracle())
def agg_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy hitters — the third mergeable sketch next
    to HLL (distinct) and bitmap (exact distinct): frequency estimation
    in FIXED memory (4×512 counters = 16 KB) no matter how many rows or
    keys stream through.  Heavy keys are PLANTED deterministically
    (every 10th event folds to one of 5 synthetic ids at +1M, ~2000
    events each vs ≤ a few dozen for organic ids) so the sketch's
    point: heavy estimates must rank far above normal keys.

    Scale story: each input partition builds a LOCAL sketch in one
    Arrow batch pass (np.add.at scatter — no Python per-row loop);
    sketches MERGE by elementwise sum (groupBy(idx) — associative, like
    production CMS pipelines merging per-hour sketches); point queries
    probe D counters via the same universal hashes and take the min.
    Estimates are biased HIGH only (est ≥ true, overshoot ≤ εN w.h.p.)
    — both properties pinned against exact counts in
    tests/test_unit_semantics.py.

    HASH-VERIFIED since r15 (was declared rows-only r5-r14): unlike the
    xxhash sketches, this CMS's hash family is the repo's own universal
    polyhash — pure integer math a second engine CAN replay — and the
    merged counter table is partition-order-independent (counts are
    associative), so the full (key, est, exact, overcount) output
    carries an exact DuckDB oracle: the one sketch whose estimates are
    reproducible-by-construction rather than declared-approximate.
    Output: (key, est_count, exact_count, overcount) for the 5 planted
    heavies + 4 organic keys (user_id 0 satisfies %10==0 and folds into
    heavy 1000000, so the key<5 candidate residue yields {1,2,3,4} —
    9 rows)."""
    import numpy as np
    import pandas as pd

    ev = load(spark, sf_dir, "events")
    hh = F.when(
        F.col("user_id") % 10 == 0,
        F.lit(1_000_000) + F.expr("user_id div 10") % 5,
    ).otherwise(F.col("user_id"))
    keyed = ev.select(hh.alias("key"))

    # One kernel for the sketch build and the point queries, a closure
    # so the Python workers get it by value (they cannot import engine).
    def positions(keys):
        """(n,) int64 keys -> (n, D) int32 counter positions; pure integer
        math inside proven bit-widths (a·x + b < 2^62 + 2^31, ANSI-safe
        pattern shared with the MinHash family in engine/dedup.py)."""
        x = np.abs(keys.astype(np.int64)) % _CMS_P
        return np.stack(
            [
                ((_CMS_A[j] * x + _CMS_B[j]) % _CMS_P) % _CMS_W
                for j in range(_CMS_D)
            ],
            axis=1,
        )

    def build(batches):
        for pdf in batches:
            cnt = np.zeros((_CMS_D, _CMS_W), dtype=np.int64)
            pos = positions(pdf["key"].to_numpy())
            for j in range(_CMS_D):
                np.add.at(cnt[j], pos[:, j], 1)
            yield pd.DataFrame(
                {"idx": np.arange(_CMS_D * _CMS_W, dtype=np.int64),
                 "cnt": cnt.ravel()}
            )

    merged = (
        keyed.mapInPandas(build, schema="idx long, cnt long")
        .groupBy("idx")
        .agg(F.sum("cnt").alias("cnt"))
    )

    # Exact per-key counts (the verification column) double as the
    # candidate source: deriving the 10 probe keys from this aggregate
    # reuses its shuffle instead of paying a second full-scan distinct
    # over the same column (one whole stage saved; at 100 TB the
    # candidate generator would be the sketch itself or a prior round's
    # frequent-items output, never a rescan).
    exact = keyed.groupBy("key").agg(F.count("*").alias("exact_count"))
    cand = exact.filter((F.col("key") >= 1_000_000) | (F.col("key") < 5))

    @F.pandas_udf("array<int>")
    def cand_pos(keys):
        pos = positions(keys.to_numpy())
        base = np.arange(_CMS_D, dtype=np.int64) * _CMS_W
        return pd.Series(list((pos + base[None, :]).astype(np.int32)))

    probes = cand.select(
        "key",
        "exact_count",
        F.posexplode(cand_pos("key")).alias("j", "idx"),
    )
    return (
        probes.join(F.broadcast(merged), "idx")
        .groupBy("key", "exact_count")
        .agg(F.min("cnt").alias("est_count"))
        .select(
            "key",
            "est_count",
            "exact_count",
            (F.col("est_count") - F.col("exact_count")).alias("overcount"),
        )
    )


@query(
    "agg_listagg_ordered",
    oracle="""
    SELECT n_regionkey,
           CAST(COUNT(*) AS BIGINT) AS n_nations,
           string_agg(n_name, '|' ORDER BY n_name) AS nations
    FROM nation
    GROUP BY n_regionkey
    """,
)
def agg_listagg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation — Spark 4's native ``listagg`` with
    WITHIN GROUP ordering ↔ DuckDB ``string_agg(... ORDER BY)``: the
    report-formatting aggregate that is nondeterministic garbage without
    the explicit order (accumulation order is partition-arrival order).

    Scale design: delimiter-joined strings grow with group size, so this
    belongs on BOUNDED groups (here nations per region); unbounded
    groups should use agg_collect_sorted's array form + explicit
    truncation instead.  The WITHIN GROUP sort is per-group, inside the
    aggregation — no extra shuffle."""
    from engine.io import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT n_regionkey,
               COUNT(*) AS n_nations,
               listagg(n_name, '|') WITHIN GROUP (ORDER BY n_name) AS nations
        FROM nation
        GROUP BY n_regionkey
        """
    )


@query(
    "agg_exact_moments",
    oracle="""
    WITH c AS (
        -- HUGEINT, not BIGINT: the per-row cents^4 product is computed
        -- BEFORE the SUM, and max(cents)=56021 at sf0.1 gives
        -- cents^4 ~ 9.85e18 > int64 max — BIGINT would make DuckDB
        -- throw on any corpus with max(value) > ~549.  Spark side is
        -- already decimal(38,0); HUGEINT is the DuckDB twin.
        SELECT event_type,
               CAST(FLOOR(value * 100 + 0.5) AS HUGEINT) AS cents
        FROM events
    ),
    s AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(cents) AS DOUBLE) AS s1,
               CAST(SUM(cents * cents) AS DOUBLE) AS s2,
               CAST(SUM(cents * cents * cents) AS DOUBLE) AS s3,
               CAST(SUM(cents * cents * cents * cents) AS DOUBLE) AS s4
        FROM c GROUP BY event_type
    )
    SELECT event_type, n,
           CAST(FLOOR((s1 / n) * 10000 + 0.5) AS BIGINT) AS mean_e4,
           CAST(FLOOR((s2 / n - (s1 / n) * (s1 / n)) * 10000 + 0.5)
                AS BIGINT) AS var_e4,
           CAST(FLOOR(((s3 / n - 3 * (s1 / n) * (s2 / n)
                        + 2 * (s1 / n) * (s1 / n) * (s1 / n))
                       / POW(s2 / n - (s1 / n) * (s1 / n), 1.5))
                      * 10000 + 0.5) AS BIGINT) AS skew_e4,
           CAST(FLOOR(((s4 / n - 4 * (s1 / n) * (s3 / n)
                        + 6 * (s1 / n) * (s1 / n) * (s2 / n)
                        - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
                       / ((s2 / n - (s1 / n) * (s1 / n))
                          * (s2 / n - (s1 / n) * (s1 / n))) - 3.0)
                      * 10000 + 0.5) AS BIGINT) AS excess_kurt_e4
    FROM s
    """,
)
def agg_exact_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewness / excess kurtosis from EXACT integer power sums — the
    4th-order extension of agg_corr_exact's sufficient-statistics
    pattern: S1..S4 accumulate as exact integers (decimal(38,0) on
    Spark — cents^4 ≈ 10^16 per row overflows int64 over 10^5 rows;
    DuckDB's HUGEINT does the same job), and the float math happens
    ONCE per group on the exact sums, in an identical operation order
    on both engines, then e4-pins.  Spark's native skewness()/
    kurtosis() accumulate doubles in partition-arrival order — a hash
    lottery this formulation removes.

    Scale story: power sums are map-side-combinable and MERGEABLE
    (per-day S1..S4 roll up by addition, like every sketch here),
    so moments over any segment union come from stored sums without
    rescanning."""
    ev = load(spark, sf_dir, "events")
    cents = pin_int(F.col("value"), 100)
    dec = cents.cast("decimal(38,0)")
    s = ev.select("event_type", dec.alias("c")).groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("c").cast("double").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("double").alias("s2"),
        F.sum(F.col("c") * F.col("c") * F.col("c")).cast("double").alias("s3"),
        F.sum(F.col("c") * F.col("c") * F.col("c") * F.col("c"))
        .cast("double")
        .alias("s4"),
    )
    n = F.col("n")
    m = F.col("s1") / n
    m2 = F.col("s2") / n - m * m
    skew = (F.col("s3") / n - 3 * m * (F.col("s2") / n) + 2 * m * m * m) / F.pow(
        m2, 1.5
    )
    kurt = (
        F.col("s4") / n
        - 4 * m * (F.col("s3") / n)
        + 6 * m * m * (F.col("s2") / n)
        - 3 * m * m * m * m
    ) / (m2 * m2) - 3.0
    return s.select(
        "event_type",
        "n",
        pin_int(m, 10000).alias("mean_e4"),
        pin_int(m2, 10000).alias("var_e4"),
        pin_int(skew, 10000).alias("skew_e4"),
        pin_int(kurt, 10000).alias("excess_kurt_e4"),
    )


@query(
    "agg_frequent_items",
    oracle="""
    WITH tot AS (SELECT COUNT(*) AS total FROM events),
    cnt AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY user_id
    )
    SELECT c.user_id, c.cnt,
           CAST(c.cnt * 1000000 // t.total AS BIGINT) AS share_e6
    FROM cnt c, tot t
    WHERE c.cnt * 1000 > t.total
    """,
)
def agg_frequent_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT frequent items at a support threshold (count > 0.1% of the
    stream) — the hash-verified exact sibling of the CMS sketch key
    (``agg_cms_heavy_hitters``): same question, answered by full
    aggregation instead of fixed-memory estimation, so the two keys
    bracket the accuracy/memory trade a pipeline chooses between.

    Exactness discipline: the support predicate and the share are pure
    integer arithmetic (``cnt*1000 > total``; ``cnt*1000000 DIV
    total``) — no float division whose rounding could flip a borderline
    item between engines (DuckDB BIGINT/BIGINT `/` returns DOUBLE —
    use `//`; Spark `div` is the integer twin).

    Scale: one map-side-combinable count per key + a 1-row total
    broadcast; the support filter drops the long tail before anything
    else touches it.  At 100 TB this is the candidate generator that
    the CMS key pre-screens for in one pass."""
    ev = load(spark, sf_dir, "events")
    tot = ev.agg(F.count("*").alias("total"))
    cnt = ev.groupBy("user_id").agg(F.count("*").alias("cnt"))
    return (
        cnt.crossJoin(F.broadcast(tot))
        .filter(F.col("cnt") * 1000 > F.col("total"))
        .select(
            "user_id",
            "cnt",
            F.expr("cnt * 1000000 div total").cast("long").alias("share_e6"),
        )
    )


@query(
    "agg_weighted_stats",
    oracle="""
    WITH c AS (
        -- HUGEINT before multiplying: w*x^2 ~ 50 * (1e7)^2 = 5e15 per
        -- row is BIGINT-safe, but the SUM over 6e5 rows (~3e21) is not;
        -- mirror of the Spark side's decimal(38,0) sufficient stats.
        SELECT l_returnflag,
               CAST(CAST(FLOOR(l_quantity + 0.5) AS BIGINT) AS HUGEINT) AS w,
               CAST(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                    AS HUGEINT) AS x
        FROM lineitem
    ),
    s AS (
        SELECT l_returnflag,
               CAST(SUM(w) AS DOUBLE) AS sw,
               CAST(SUM(w * x) AS DOUBLE) AS s1,
               CAST(SUM(w * x * x) AS DOUBLE) AS s2
        FROM c GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(sw AS BIGINT) AS sum_w,
           CAST(FLOOR((s1 / sw) * 10000 + 0.5) AS BIGINT) AS wmean_e4,
           CAST(FLOOR((s2 / sw - (s1 / sw) * (s1 / sw)) * 10000 + 0.5)
                AS BIGINT) AS wvar_e4
    FROM s
    """,
)
def agg_weighted_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted mean / variance from EXACT integer sufficient statistics
    (Σw, Σw·x, Σw·x²) — the frequency-weighted member of the
    exact-moments family (``agg_corr_exact`` / ``agg_exact_moments``):
    weights are line quantities, values are price cents, sums accumulate
    as decimal(38,0) on Spark (w·x² ≈ 5e15 per row overflows int64 over
    6e5 rows) and HUGEINT in DuckDB, and the float math happens ONCE per
    group on the exact sums in identical operation order, then e4-pins.

    The weighted form is what a training pipeline computes over
    token-count-weighted document statistics: per-domain weighted
    quality means where long documents count proportionally.

    Scale: sufficient statistics are map-side-combinable and MERGEABLE
    (per-segment sums add), so weighted stats over any union of
    partitions come from stored sums without rescanning."""
    li = load(spark, sf_dir, "lineitem")
    dec = "decimal(38,0)"
    w = pin_int(F.col("l_quantity"), 1).cast(dec)
    x = (
        pin_int(F.col("l_extendedprice"), 100)
        .cast(dec)
    )
    s = li.groupBy("l_returnflag").agg(
        F.sum(w).cast("double").alias("sw"),
        F.sum(w * x).cast("double").alias("s1"),
        F.sum(w * x * x).cast("double").alias("s2"),
    )
    wm = F.col("s1") / F.col("sw")
    return s.select(
        "l_returnflag",
        F.col("sw").cast("long").alias("sum_w"),
        pin_int(wm, 10000).alias("wmean_e4"),
        pin_int(F.col("s2") / F.col("sw") - wm * wm, 10000).alias("wvar_e4"),
    )


@query(
    "agg_bool_predicates",
    oracle="""
    SELECT c_mktsegment,
           CAST(bool_and(c_acctbal > 0) AS INTEGER) AS all_positive,
           CAST(bool_or(c_acctbal < -900) AS INTEGER) AS any_deep_negative,
           CAST(count_if(c_acctbal > 5000) AS BIGINT) AS n_high_balance,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def agg_bool_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregate family — bool_and / bool_or / count_if: the
    data-quality assertion surface ("EVERY row in this segment has a
    positive balance", "ANY row breaches the floor", "how many
    exceed the threshold") that a pipeline's validation stage runs per
    partition before promoting data.  Outputs cast to INT per the
    driver-safe scalar discipline (no boolean columns — the r2 driver
    run died on the first boolean-output key).

    Scale: all three are map-side-combinable (AND/OR/ADD are
    associative-commutative monoids — the same mergeability argument
    as every sketch here); one shuffle on the group key."""
    c = load(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.expr("bool_and(c_acctbal > 0)").cast("int").alias("all_positive"),
        F.expr("bool_or(c_acctbal < -900)").cast("int").alias(
            "any_deep_negative"
        ),
        F.expr("count_if(c_acctbal > 5000)").alias("n_high_balance"),
        F.count("*").alias("n"),
    )


@query(
    "agg_salted_twophase",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT)      AS qty_cents,
           CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS price_cents,
           CAST(COUNT(*) AS BIGINT)                                                AS n_rows,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT)                              AS n_orders
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_salted_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SALTED TWO-PHASE AGGREGATION — the skew-mitigation pattern for a
    groupBy whose key cardinality is tiny (l_returnflag: 3 values → at
    most 3 reduce tasks do ALL the work on a 1000-executor cluster):
    phase 1 groups by (key, salt) with salt = pmod(hash(l_orderkey), 16)
    spreading each hot group over 16 partitions; phase 2 re-aggregates
    the 48 partials on the bare key.  Results are salt-INVARIANT because
    every aggregate here is decomposable:
    - sums/counts are associative — and kept in EXACT INTEGER CENTS, so
      the partial-then-final summation order cannot perturb a float
      hash (double partials would re-associate IEEE addition);
    - COUNT(DISTINCT l_orderkey) is additive across salts ONLY because
      the salt is a pure function of the distinct key itself — each
      orderkey lands in exactly one salt bucket.  Salting by anything
      else (or round-robin) silently double-counts; this key pins the
      rule.
    The oracle is the plain one-phase GROUP BY — bit-equality proves
    the rewrite is semantics-preserving.

    Plan: two exchanges ((key,salt) then key) but the second moves only
    |keys|·16 partial rows; map-side combine still happens in phase 1.
    Spark's own AQE skew handling covers JOIN skew, not reduce-side agg
    skew with countDistinct — this rewrite is how you do it by hand."""
    li = load(spark, sf_dir, "lineitem")
    qty_c = pin_int(F.col("l_quantity"), 100)
    price_c = pin_int(F.col("l_extendedprice"), 100)
    salt = F.pmod(F.hash("l_orderkey"), F.lit(16))
    partial = (
        li.select(
            "l_returnflag",
            salt.alias("salt"),
            qty_c.alias("qty_c"),
            price_c.alias("price_c"),
            "l_orderkey",
        )
        .groupBy("l_returnflag", "salt")
        .agg(
            F.sum("qty_c").alias("qty_cents"),
            F.sum("price_c").alias("price_cents"),
            F.count("*").alias("n_rows"),
            F.countDistinct("l_orderkey").alias("n_orders"),
        )
    )
    return partial.groupBy("l_returnflag").agg(
        F.sum("qty_cents").cast("long").alias("qty_cents"),
        F.sum("price_cents").cast("long").alias("price_cents"),
        F.sum("n_rows").cast("long").alias("n_rows"),
        F.sum("n_orders").cast("long").alias("n_orders"),
    )


@query("agg_quantile_drift", oracle=None)  # rows-only: sketch ≠ DuckDB sketch
def agg_quantile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPROX-vs-EXACT percentile DRIFT REPORT (r5 VERDICT #6): one pass
    computes, per event_type, the exact p50/p99 of `value` alongside the
    Greenwald-Khanna sketch at two accuracies (100 and 10000), the
    absolute drift of each (e6-scaled integers), and IN-BAND FLAGS
    checking the sketch's actual contract: GK with accuracy=A guarantees
    RANK error <= 1/A, so the approx p50 must land between the exact
    p48 and p52 quantiles for A=100 (1% rank guarantee + 1% float
    margin) and between p49.5/p50.5 for A=10000.  Value-space drift is
    reported but NOT asserted — it is unbounded on heavy tails, which
    is exactly what a user tuning the accuracy knob needs to see.

    tests/test_unit_semantics.py asserts every in-band flag is 1 and
    that the finer sketch never leaves the coarse band.

    Scale: this is the audit you run at sf0.001 before trusting
    approx_percentile at 100 TB — exact percentile is a full sort per
    group (only viable on the sample), the sketch is mergeable constant
    memory; the report quantifies what the downgrade costs."""
    ev = load(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.percentile("value", 0.5).alias("p50_exact"),
        F.percentile("value", 0.48).alias("p48"),
        F.percentile("value", 0.52).alias("p52"),
        F.percentile("value", 0.495).alias("p49_5"),
        F.percentile("value", 0.505).alias("p50_5"),
        F.percentile("value", 0.99).alias("p99_exact"),
        F.percentile_approx("value", 0.5, 100).alias("p50_lo"),
        F.percentile_approx("value", 0.5, 10000).alias("p50_hi"),
        F.percentile_approx("value", 0.99, 100).alias("p99_lo"),
        F.percentile_approx("value", 0.99, 10000).alias("p99_hi"),
    )
    return g.select(
        "event_type",
        "n",
        pin_int(F.col("p50_exact"), 1_000_000).alias("p50_exact_e6"),
        pin_int(F.abs(F.col("p50_lo") - F.col("p50_exact")), 1_000_000).alias("p50_drift_lo_e6"),
        pin_int(F.abs(F.col("p50_hi") - F.col("p50_exact")), 1_000_000).alias("p50_drift_hi_e6"),
        pin_int(F.abs(F.col("p99_lo") - F.col("p99_exact")), 1_000_000).alias("p99_drift_lo_e6"),
        pin_int(F.abs(F.col("p99_hi") - F.col("p99_exact")), 1_000_000).alias("p99_drift_hi_e6"),
        ((F.col("p50_lo") >= F.col("p48")) & (F.col("p50_lo") <= F.col("p52")))
        .cast("int")
        .alias("p50_lo_in_band"),
        (
            (F.col("p50_hi") >= F.col("p49_5"))
            & (F.col("p50_hi") <= F.col("p50_5"))
        )
        .cast("int")
        .alias("p50_hi_in_band"),
    )


@query(
    "agg_ks_drift",
    oracle="""
    WITH pv AS (
        SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS v,
               CAST(SUM(CASE WHEN o_orderdate < DATE '1995-01-01'
                             THEN 1 ELSE 0 END) AS BIGINT) AS na,
               CAST(SUM(CASE WHEN o_orderdate < DATE '1995-01-01'
                             THEN 0 ELSE 1 END) AS BIGINT) AS nb
        FROM orders
        GROUP BY 1
    ),
    tot AS (
        SELECT CAST(SUM(na) AS BIGINT) AS ta,
               CAST(SUM(nb) AS BIGINT) AS tb
        FROM pv
    ),
    c AS (
        SELECT v // 1048576 AS bucket,
               SUM(na) OVER (ORDER BY v) AS ca,
               SUM(nb) OVER (ORDER BY v) AS cb
        FROM pv
    )
    SELECT CAST(c.bucket AS BIGINT)                    AS bucket_id,
           CAST(COUNT(*) AS BIGINT)                    AS n_values,
           CAST(MAX(ABS(ca * tb - cb * ta)) AS BIGINT) AS ks_num
    FROM c, tot
    GROUP BY c.bucket
    """,
)
def agg_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KOLMOGOROV-SMIRNOV drift between order cohorts
    (orders before vs since 1995-01-01) — the distribution-shift
    monitor a data pipeline runs between crawl/snapshot generations.
    All-integer by cross-multiplication: at each observed price point
    the ECDF gap |F_a - F_b| = |ca·tb - cb·ta| / (ta·tb); we report the
    numerator (counts ≤ 150k ⇒ products ≤ 2.25e10 ≪ 2^63, ANSI-safe),
    maxed per value-bucket, so the driver hash-proves the entire ECDF
    chain, not just the final statistic.

    Scale — DISTRIBUTED ECDF via two-phase prefix sum: a global
    cumulative count needs a total order, which would be one
    single-partition window over the data.  Instead (1) per-value
    counts shuffle once on the value, (2) within-bucket cumsums
    (value div 2^20 cents) run partitioned by bucket — ONE bucket
    shuffle, then everything downstream reuses that partitioning:
    the per-bucket totals are just each bucket's LAST running sum
    (max of a non-decreasing cumsum = the bucket sum, no second
    shuffle of the value stream), the cross-bucket offsets take the
    only unpartitioned window over that BOUNDED rollup (price-domain-
    sized, ~60 rows regardless of data size), the grand totals are a
    1-row sum of the same rollup, and offset + local sum = exact
    global ECDF.  The cumsum frame is persisted (consumers: rollup and
    the final join); the final groupBy(bucket) reuses the window's
    partitioning — no extra exchange."""
    o = load(spark, sf_dir, "orders")
    a = (
        F.col("o_orderdate") < F.lit("1995-01-01").cast("date")
    ).cast("long")
    v = pin_int(F.col("o_totalprice"), 100)
    pv = (
        o.select(v.alias("v"), a.alias("a"))
        .groupBy("v")
        .agg(
            F.sum("a").alias("na"),
            (F.count("*") - F.sum("a")).alias("nb"),
        )
    )
    bucketed = pv.select(
        "v", "na", "nb", F.expr("v div 1048576").alias("bucket")
    )
    wv = (
        Window.partitionBy("bucket")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = bucketed.select(
        "bucket",
        "v",
        F.sum("na").over(wv).alias("ca_l"),
        F.sum("nb").over(wv).alias("cb_l"),
    ).persist()
    # Per-bucket totals from the cumsum itself (na/nb >= 0 so the
    # running sums are non-decreasing; their max is the bucket sum) —
    # reuses the bucket partitioning, no exchange.
    bk = cum.groupBy("bucket").agg(
        F.max("ca_l").alias("sa"), F.max("cb_l").alias("sb")
    )
    tot = bk.agg(F.sum("sa").alias("ta"), F.sum("sb").alias("tb"))
    # Cross-bucket offsets: unpartitioned window over the BOUNDED
    # bucket rollup (price-domain-sized, ~60 rows at any sf) — the
    # allow-listed exception class in test_plans.
    woff = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    off = bk.select(
        "bucket",
        F.coalesce(F.sum("sa").over(woff), F.lit(0)).alias("off_a"),
        F.coalesce(F.sum("sb").over(woff), F.lit(0)).alias("off_b"),
    )
    d = F.abs(
        (F.col("off_a") + F.col("ca_l")) * F.col("tb")
        - (F.col("off_b") + F.col("cb_l")) * F.col("ta")
    )
    return (
        cum.join(F.broadcast(off), "bucket")
        .crossJoin(F.broadcast(tot))
        .groupBy(F.col("bucket").alias("bucket_id"))
        .agg(
            F.count("*").alias("n_values"),
            F.max(d).alias("ks_num"),
        )
    )


@query(
    "agg_gini_concentration",
    oracle="""
    WITH r AS (
        SELECT source, n_chars,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY n_chars, doc_id) AS rk
        FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT)      AS n_docs,
           CAST(SUM(n_chars) AS BIGINT)  AS total_chars,
           CAST((2 * SUM(rk * n_chars) - (COUNT(*) + 1) * SUM(n_chars))
                * 1000000 // (COUNT(*) * SUM(n_chars)) AS BIGINT)
               AS gini_e6
    FROM r
    GROUP BY source
    """,
)
def agg_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GINI COEFFICIENT of per-source character mass — the corpus-
    balance diagnostic a training-data pipeline reads per source/domain
    (is one shard of a source contributing all its tokens?), computed
    EXACTLY from the rank identity G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx)
    over ascending-sorted values, all-integer cross-multiplied to e6
    (Σ i·x ≤ 5e3·5e3·1e3 ≈ 2.5e10; ×2e6 ≪ 2^63 — ANSI-safe).  Rank
    ties broken by doc_id so both engines sort identically.

    Scale: ONE shuffle — the rank window partitions by source and the
    closing groupBy(source) reuses that partitioning (subset rule, no
    second exchange); per-source sorting is the only per-group cost,
    and a skewed giant source sorts within its partition (salt + merge
    ranks if one source outgrows an executor)."""
    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    r = d.select(
        "source", "n_chars", F.row_number().over(w).alias("rk")
    )
    n = F.count("*")
    sx = F.sum("n_chars")
    srx = F.sum(F.col("rk").cast("long") * F.col("n_chars"))
    return r.groupBy("source").agg(
        n.cast("long").alias("n_docs"),
        sx.cast("long").alias("total_chars"),
        F.expr(
            "(2 * sum(CAST(rk AS BIGINT) * n_chars)"
            " - (count(*) + 1) * sum(n_chars)) * 1000000"
            " div (count(*) * sum(n_chars))"
        )
        .cast("long")
        .alias("gini_e6"),
    )


@query(
    "agg_apportion_slots",
    oracle="""
    WITH g AS (
        SELECT source, CAST(SUM(n_chars) AS BIGINT) AS mass
        FROM documents GROUP BY source
    ),
    q AS (
        SELECT source, mass,
               SUM(mass) OVER () AS total,
               1000 * mass // SUM(mass) OVER () AS base,
               1000 * mass - (1000 * mass // SUM(mass) OVER ())
                             * SUM(mass) OVER () AS rem
        FROM g
    ),
    r AS (
        SELECT *,
               ROW_NUMBER() OVER (ORDER BY rem DESC, source ASC) AS rk,
               1000 - SUM(base) OVER () AS leftover
        FROM q
    )
    SELECT source, mass,
           CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS slots
    FROM r
    """,
)
def agg_apportion_slots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LARGEST-REMAINDER (Hamilton) apportionment: distribute exactly
    1000 sampling slots across sources proportional to character mass
    — the exact-quota primitive behind per-source sampling budgets,
    shard assignment, and mixture weighting, where naive rounding
    over- or under-shoots the budget.  Base quota = floor-proportional
    share; the leftover slots go to the largest fractional remainders
    (ties by source name — both engines rank identically).  All
    integers: 1000·mass ≤ 1e3·5e6 ≪ 2^63, and Σ slots = 1000 exactly
    by construction — the hash check proves the full allocation.

    Scale: the heavy work is one combinable groupBy(source); every
    window after that runs on the SOURCE ROLLUP (one row per source —
    bounded by the domain, not the data), so the unpartitioned windows
    are bounded-input by construction (allow-listed in
    test_no_unpartitioned_window_over_unbounded_input)."""
    d = load(spark, sf_dir, "documents")
    g = d.groupBy("source").agg(F.sum("n_chars").alias("mass"))
    wall = Window.partitionBy()
    q = g.select(
        "source",
        "mass",
        F.sum("mass").over(wall).alias("total"),
    ).select(
        "source",
        "mass",
        "total",
        F.expr("1000 * mass div total").alias("base"),
        F.expr("1000 * mass - (1000 * mass div total) * total").alias(
            "rem"
        ),
    )
    wrk = Window.orderBy(F.desc("rem"), F.asc("source"))
    r = q.select(
        "source",
        "mass",
        "base",
        F.row_number().over(wrk).alias("rk"),
        (1000 - F.sum("base").over(wall)).alias("leftover"),
    )
    return r.select(
        "source",
        "mass",
        (
            F.col("base")
            + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("long")
        .alias("slots"),
    )


@query(
    "agg_weighted_median",
    oracle="""
    WITH v AS (
        SELECT l_returnflag AS flag,
               CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
               CAST(FLOOR(l_quantity) AS BIGINT) AS w
        FROM lineitem
    ),
    c AS (
        SELECT flag, cents, w,
               SUM(w) OVER (PARTITION BY flag ORDER BY cents
                            ROWS UNBOUNDED PRECEDING) AS cw,
               SUM(w) OVER (PARTITION BY flag) AS tw
        FROM v
    )
    SELECT flag,
           CAST(MAX(tw) AS BIGINT)  AS total_weight,
           CAST(MIN(CASE WHEN 2 * cw >= tw THEN cents END) AS BIGINT)
               AS wmedian_cents
    FROM c
    GROUP BY flag
    """,
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT WEIGHTED MEDIAN (price weighted by quantity) per return
    flag — the robust-center statistic percentile_approx cannot give
    you exactly and unweighted medians get wrong: the smallest value
    whose cumulative weight reaches half the total.  All integers
    (cents, integer-cast quantities), so the cross-engine comparison
    is exact with no interpolation-rule ambiguity (lower-weighted-
    median convention on both sides).

    Determinism under ties: cumulative weights are summed over
    DISTINCT (flag, cents) rows (pre-aggregated), so there is no
    equal-value permutation to worry about at all.

    Scale — the GIANT-GROUP problem solved, not footnoted: a naive
    per-flag ordered window sorts each flag's whole value stream in
    ONE task (3 flags ⇒ parallelism 3 over 600k rows here; a single
    hot group at 100 TB is a straggler).  This plan is the agg_ks_drift
    two-phase prefix sum instead: ONE repartition on (flag, bucket =
    cents div 2^20) spreads every flag across the cluster, the
    per-(flag,bucket,cents) weight rollup and the within-bucket cumsum
    reuse that partitioning (subset rule — bucket is in the group key),
    cross-bucket offsets and per-flag totals come from the BOUNDED
    (flag × price-domain-bucket) rollup and broadcast back, and the
    final groupBy(flag) is map-side combinable.  No step ever sorts
    more than one bucket of one flag in a task."""
    li = load(spark, sf_dir, "lineitem")
    v = li.select(
        F.col("l_returnflag").alias("flag"),
        pin_int(F.col("l_extendedprice"), 100)
        .alias("cents"),
        F.floor("l_quantity").cast("long").alias("w"),
    ).select("flag", "cents", "w", F.expr("cents div 1048576").alias("bkt"))
    pv = (
        v.repartition("flag", "bkt")
        .groupBy("flag", "bkt", "cents")
        .agg(F.sum("w").alias("w"))
    )
    wc = (
        Window.partitionBy("flag", "bkt")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = pv.select(
        "flag", "bkt", "cents", F.sum("w").over(wc).alias("cw_l")
    ).persist()
    roll = cum.groupBy("flag", "bkt").agg(F.max("cw_l").alias("sb"))
    woff = (
        Window.partitionBy("flag")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = roll.select(
        "flag",
        "bkt",
        F.coalesce(F.sum("sb").over(woff), F.lit(0)).alias("off_w"),
        F.sum("sb").over(Window.partitionBy("flag")).alias("tw"),
    )
    j = cum.join(F.broadcast(off), ["flag", "bkt"])
    return (
        j.filter(2 * (F.col("off_w") + F.col("cw_l")) >= F.col("tw"))
        .groupBy("flag")
        .agg(
            F.max("tw").alias("total_weight"),
            F.min("cents").alias("wmedian_cents"),
        )
    )


@query(
    "agg_regr_slope",
    oracle="""
    WITH s AS (
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT))
                   AS BIGINT) AS sx,
               CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
                   AS BIGINT) AS sy,
               CAST(SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)
                        * CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
                   AS BIGINT) AS sxy,
               CAST(SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)
                        * CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT))
                   AS BIGINT) AS sxx
        FROM lineitem
        GROUP BY l_returnflag
    )
    SELECT l_returnflag, n, sx, sy, sxy, sxx,
           CAST(FLOOR(
               (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               * 1000000 + 0.5) AS BIGINT) AS slope_e6
    FROM s
    """,
)
def agg_regr_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group LEAST-SQUARES SLOPE (price vs quantity) from EXACT
    integer moment sums — the distributed-regression pattern: the
    shuffle carries five combinable integers per group (n, Σx, Σy,
    Σxy, Σxx), never rows, and the slope is assembled from them in one
    final expression.  That is also why the result can be
    hash-compared at all: Spark's builtin ``regr_slope`` (and
    DuckDB's) accumulate FLOATING-POINT moments whose summation order
    varies per partitioning — same algorithm, unstable last bits.
    Fixed-point cents make every sum exact; the single double-typed
    combination at the end is the IDENTICAL expression tree on both
    engines (IEEE multiply/divide are correctly rounded —
    deterministic), floor-scaled per the repo's no-ROUND rule.

    Bit-width proof (ANSI mode throws on overflow): qty cents ≤ 5.1e3,
    price cents ≤ 1.2e7 → per-row xy ≤ 6.2e10; ≤ 6e6 rows/group at
    sf1 keeps Σxy < 4e17 < 2^63.  The exported sums double as the
    mergeable state for map-side partial aggregation.

    Scale: one combinable groupBy shuffle, |groups| rows out — the
    same plan at any sf."""
    li = load(spark, sf_dir, "lineitem")
    xc = pin_int(F.col("l_quantity"), 100)
    yc = pin_int(F.col("l_extendedprice"), 100)
    s = (
        li.select(
            "l_returnflag",
            xc.alias("xc"),
            yc.alias("yc"),
            (xc * yc).alias("xy"),
            (xc * xc).alias("xx"),
        )
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.sum("xc").alias("sx"),
            F.sum("yc").alias("sy"),
            F.sum("xy").alias("sxy"),
            F.sum("xx").alias("sxx"),
        )
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    slope = (nd * F.col("sxy").cast("double") - sxd * syd) / (
        nd * F.col("sxx").cast("double") - sxd * sxd
    )
    return s.select(
        "l_returnflag", "n", "sx", "sy", "sxy", "sxx",
        pin_int(slope, 1000000).alias("slope_e6"),
    )


@query(
    "agg_benford_firstdigit",
    oracle="""
    WITH digits AS (
        SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT)
                                AS VARCHAR), 1, 1) AS BIGINT) AS digit
        FROM orders
        WHERE o_totalprice >= 1.0
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM digits)
    SELECT d.digit,
           CAST(COUNT(*) AS BIGINT) AS n,
           FLOOR(CAST(COUNT(*) AS DOUBLE) / t.n_total * 10000 + 0.5)
               / 10000 AS observed_pct,
           FLOOR(log10(1.0 + 1.0 / d.digit) * 10000 + 0.5) / 10000
               AS benford_pct
    FROM digits d CROSS JOIN tot t
    GROUP BY d.digit, t.n_total
    """,
)
def agg_benford_firstdigit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENFORD'S-LAW first-digit audit — the forensic data-quality
    check (fraud screens, synthetic-data detection, ETL sanity) that
    compares the observed leading-digit distribution of a positive
    measure against log10(1 + 1/d).  Output: per digit, count,
    observed share, and the Benford expectation — an analyst eyeballs
    (or chi-squares) the gap.

    Determinism: the leading digit comes from exact integer string
    conversion (FLOOR → BIGINT → VARCHAR → first char), never from
    log-based digit math which could misplace values on power-of-ten
    boundaries; both shares are floor-pinned to 4 decimals (the log10
    constants land nowhere near a 1e-4 tie boundary — verified for
    d=1..9).

    Scale: one map-side-combinable 9-group aggregate over a pure
    per-row projection; the total arrives via a broadcast single-row
    cross join, not a second scan."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1.0)
    digits = o.select(
        F.substring(
            F.floor(F.col("o_totalprice")).cast("long").cast("string"), 1, 1
        )
        .cast("long")
        .alias("digit")
    )
    tot = digits.agg(F.count("*").cast("long").alias("n_total"))
    return (
        digits.crossJoin(F.broadcast(tot))
        .groupBy("digit", "n_total")
        .agg(F.count("*").alias("n"))
        .select(
            "digit",
            "n",
            pin(F.col("n").cast("double") / F.col("n_total"), 10000).alias(
                "observed_pct"
            ),
            pin(F.log10(1.0 + 1.0 / F.col("digit")), 10000).alias("benford_pct"),
        )
    )


@query(
    "agg_chi_square_independence",
    oracle="""
    WITH cells AS (
        SELECT c.c_mktsegment, o.o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment, o.o_orderpriority
    ),
    rowt AS (SELECT c_mktsegment, CAST(SUM(n) AS BIGINT) AS row_n
             FROM cells GROUP BY c_mktsegment),
    colt AS (SELECT o_orderpriority, CAST(SUM(n) AS BIGINT) AS col_n
             FROM cells GROUP BY o_orderpriority),
    gt AS (SELECT CAST(SUM(n) AS BIGINT) AS grand_n FROM cells)
    SELECT cells.c_mktsegment, cells.o_orderpriority, cells.n,
           FLOOR((CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE)
                  / CAST(grand_n AS DOUBLE)) * 10000 + 0.5) / 10000
               AS expected,
           FLOOR(((CAST(n AS DOUBLE)
                   - CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE)
                     / CAST(grand_n AS DOUBLE))
                  * (CAST(n AS DOUBLE)
                     - CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE)
                       / CAST(grand_n AS DOUBLE))
                  / (CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE)
                     / CAST(grand_n AS DOUBLE))) * 1000000 + 0.5) / 1000000
               AS chi2_term
    FROM cells
    JOIN rowt USING (c_mktsegment)
    JOIN colt USING (o_orderpriority)
    CROSS JOIN gt
    """,
)
def agg_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHI-SQUARE test of independence — the categorical-association
    screen (segment × priority here) behind every "is this dimension
    informative?" audit.  Emits the full contingency diagnostics: per
    cell, observed count, expected count under independence
    (row·col/grand), and the chi² contribution ((O−E)²/E); the analyst
    sums `chi2_term` against a χ² table with (R−1)(C−1) dof.

    Determinism: observed counts are exact BIGINTs; `expected` and
    `chi2_term` are single double expression trees written identically
    in both engines (IEEE multiply/divide are correctly rounded),
    floor-pinned to 4/6 decimals per the no-ROUND rule.

    Scale: the customer join broadcasts nothing here (both sides big)
    but shuffles once on the join key; the contingency table itself is
    bounded by the category-domain product (5×5), so the margin
    re-aggregations and joins below operate on ≤25 rows — broadcast
    joins over a persisted diamond (the re-derivation rule: `cells`
    feeds four consumers)."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    cells = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count("*").alias("n"))
        .persist()
    )
    rowt = cells.groupBy("c_mktsegment").agg(F.sum("n").alias("row_n"))
    colt = cells.groupBy("o_orderpriority").agg(F.sum("n").alias("col_n"))
    gt = cells.agg(F.sum("n").alias("grand_n"))
    exp = (
        F.col("row_n").cast("double")
        * F.col("col_n").cast("double")
        / F.col("grand_n").cast("double")
    )
    dev = F.col("n").cast("double") - exp
    return (
        cells.join(F.broadcast(rowt), "c_mktsegment")
        .join(F.broadcast(colt), "o_orderpriority")
        .crossJoin(F.broadcast(gt))
        .select(
            "c_mktsegment",
            "o_orderpriority",
            "n",
            pin(exp, 10000).alias("expected"),
            pin(dev * dev / exp, 1000000)
            .alias("chi2_term"),
        )
    )


@query(
    "agg_welch_ttest",
    oracle="""
    WITH m AS (
        SELECT CAST(COUNT(*) FILTER (o_orderpriority = '1-URGENT') AS BIGINT) AS n1,
               CAST(COUNT(*) FILTER (o_orderpriority = '5-LOW') AS BIGINT)    AS n2,
               CAST(SUM(CAST(FLOOR(o_totalprice) AS BIGINT))
                    FILTER (o_orderpriority = '1-URGENT') AS BIGINT) AS s1,
               CAST(SUM(CAST(FLOOR(o_totalprice) AS BIGINT))
                    FILTER (o_orderpriority = '5-LOW') AS BIGINT)    AS s2,
               CAST(SUM(CAST(FLOOR(o_totalprice) AS BIGINT)
                        * CAST(FLOOR(o_totalprice) AS BIGINT))
                    FILTER (o_orderpriority = '1-URGENT') AS BIGINT) AS q1,
               CAST(SUM(CAST(FLOOR(o_totalprice) AS BIGINT)
                        * CAST(FLOOR(o_totalprice) AS BIGINT))
                    FILTER (o_orderpriority = '5-LOW') AS BIGINT)    AS q2
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    )
    SELECT n1, n2, s1, s2, q1, q2,
           FLOOR(((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
                  / sqrt((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1)
                         / (n1 - 1) / n1
                         + (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2)
                           / (n2 - 1) / n2)) * 1000000 + 0.5) / 1000000
               AS t_stat,
           FLOOR((((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1)
                   / (n1 - 1) / n1
                   + (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2)
                     / (n2 - 1) / n2)
                  * ((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1)
                     / (n1 - 1) / n1
                     + (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2)
                       / (n2 - 1) / n2)
                  / ((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1)
                     / (n1 - 1) / n1
                     * ((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1)
                        / (n1 - 1) / n1) / (n1 - 1)
                     + (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2)
                       / (n2 - 1) / n2
                       * ((CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2)
                          / (n2 - 1) / n2) / (n2 - 1))) * 10000 + 0.5) / 10000
               AS welch_dof
    FROM m
    """,
)
def agg_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WELCH'S t-TEST (unequal-variance two-sample mean comparison) —
    the default A/B significance test — between URGENT and LOW
    priority order values, computed from a SINGLE conditional-
    aggregate scan (no self-join, no two passes): exact integer
    (whole-dollar) count/sum/sum-of-squares per arm cross the shuffle
    as six combinable BIGINTs, then one driver-free projection
    assembles t = (m̄₁−m̄₂)/√(v₁/n₁+v₂/n₂) and the Welch–Satterthwaite
    dof — both as IDENTICAL double expression trees in Spark and the
    oracle (floor-pinned e6/e4).

    Bit-width proof (ANSI throws on overflow): dollars ≤ 5e5 →
    square ≤ 2.5e11; Σ over ~3e5 rows/arm at sf100 ≈ 7.5e16 < 2^63 —
    safe through sf100; beyond that, center on an approximate mean
    first (documented scale path).

    Scale: one map-side-combinable global aggregate; output is one
    row."""
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    )
    d = F.floor(F.col("o_totalprice")).cast("long")
    arm1 = F.col("o_orderpriority") == "1-URGENT"
    arm2 = F.col("o_orderpriority") == "5-LOW"
    m = o.select(d.alias("d"), arm1.alias("a1"), arm2.alias("a2")).agg(
        F.count(F.when(F.col("a1"), 1)).alias("n1"),
        F.count(F.when(F.col("a2"), 1)).alias("n2"),
        F.sum(F.when(F.col("a1"), F.col("d"))).alias("s1"),
        F.sum(F.when(F.col("a2"), F.col("d"))).alias("s2"),
        F.sum(F.when(F.col("a1"), F.col("d") * F.col("d"))).alias("q1"),
        F.sum(F.when(F.col("a2"), F.col("d") * F.col("d"))).alias("q2"),
    )
    # per-arm mean-standard-error components, written ONCE and reused so
    # the Spark expression tree matches the oracle text token-for-token
    se1 = (
        (F.col("q1").cast("double") - F.col("s1").cast("double") * F.col("s1") / F.col("n1"))
        / (F.col("n1") - 1) / F.col("n1")
    )
    se2 = (
        (F.col("q2").cast("double") - F.col("s2").cast("double") * F.col("s2") / F.col("n2"))
        / (F.col("n2") - 1) / F.col("n2")
    )
    t = (
        F.col("s1").cast("double") / F.col("n1")
        - F.col("s2").cast("double") / F.col("n2")
    ) / F.sqrt(se1 + se2)
    dof = (se1 + se2) * (se1 + se2) / (
        se1 * se1 / (F.col("n1") - 1) + se2 * se2 / (F.col("n2") - 1)
    )
    return m.select(
        "n1", "n2", "s1", "s2", "q1", "q2",
        pin(t, 1000000).alias("t_stat"),
        pin(dof, 10000).alias("welch_dof"),
    )


@query(
    "agg_ols_two_feature",
    oracle="""
    WITH m AS (
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x1) AS BIGINT)      AS sx1,
               CAST(SUM(x2) AS BIGINT)      AS sx2,
               CAST(SUM(y) AS BIGINT)       AS sy,
               CAST(SUM(x1 * x1) AS BIGINT) AS s11,
               CAST(SUM(x2 * x2) AS BIGINT) AS s22,
               CAST(SUM(x1 * x2) AS BIGINT) AS s12,
               CAST(SUM(x1 * y) AS BIGINT)  AS s1y,
               CAST(SUM(x2 * y) AS BIGINT)  AS s2y
        FROM (
            SELECT l_returnflag,
                   CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)      AS x1,
                   CAST(FLOOR(l_discount * 10000 + 0.5) AS BIGINT)    AS x2,
                   CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
            FROM lineitem
        )
        GROUP BY l_returnflag
    )
    SELECT l_returnflag, n, sx1, sx2, sy,
           FLOOR((((CAST(s22 AS DOUBLE) - CAST(sx2 AS DOUBLE) * sx2 / n)
                   * (CAST(s1y AS DOUBLE) - CAST(sx1 AS DOUBLE) * sy / n)
                   - (CAST(s12 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sx2 / n)
                     * (CAST(s2y AS DOUBLE) - CAST(sx2 AS DOUBLE) * sy / n))
                  / ((CAST(s11 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sx1 / n)
                     * (CAST(s22 AS DOUBLE) - CAST(sx2 AS DOUBLE) * sx2 / n)
                     - (CAST(s12 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sx2 / n)
                       * (CAST(s12 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sx2 / n)))
                 * 1000000 + 0.5) / 1000000 AS b_qty_e6,
           FLOOR((((CAST(s11 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sx1 / n)
                   * (CAST(s2y AS DOUBLE) - CAST(sx2 AS DOUBLE) * sy / n)
                   - (CAST(s12 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sx2 / n)
                     * (CAST(s1y AS DOUBLE) - CAST(sx1 AS DOUBLE) * sy / n))
                  / ((CAST(s11 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sx1 / n)
                     * (CAST(s22 AS DOUBLE) - CAST(sx2 AS DOUBLE) * sx2 / n)
                     - (CAST(s12 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sx2 / n)
                       * (CAST(s12 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sx2 / n)))
                 * 1000000 + 0.5) / 1000000 AS b_disc_e6
    FROM m
    """,
)
def agg_ols_two_feature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTIVARIATE OLS via the 2×2 NORMAL EQUATIONS — per return
    flag, regress extended price (cents) on quantity (cents) and
    discount (basis points) jointly, the "does discount explain price
    after controlling for quantity" question `agg_regr_slope`'s single
    feature can't answer.  Nine exact integer moments (n, Σx₁, Σx₂,
    Σy, Σx₁², Σx₂², Σx₁x₂, Σx₁y, Σx₂y) are the complete combinable
    sufficient statistic crossing the shuffle; centered second moments
    and Cramer's-rule coefficients assemble in ONE double expression
    tree written identically in the oracle (cross-products like Σx₁²
    are centered in DOUBLE because (Σx₁)² overflows BIGINT — scalar
    post-aggregation math, fully deterministic).

    Bit-width proof: x₁ ≤ 5.1e3, x₂ ≤ 1e3, y ≤ 1.05e7 → x₁y ≤ 5.4e10,
    ≤ 2e6 rows/flag at sf1 keeps every Σ < 1.1e17 < 2^63 (safe ≤ sf50;
    beyond, pre-center on approximate means — documented scale path).

    Scale: one map-side-combinable groupBy; |flags| rows out; the same
    nine-moment pattern extends to k features as k(k+3)/2+1 sums."""
    li = load(spark, sf_dir, "lineitem")
    x1 = pin_int(F.col("l_quantity"), 100)
    x2 = pin_int(F.col("l_discount"), 10000)
    y = pin_int(F.col("l_extendedprice"), 100)
    m = (
        li.select(
            "l_returnflag", x1.alias("x1"), x2.alias("x2"), y.alias("y")
        )
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.sum("x1").alias("sx1"),
            F.sum("x2").alias("sx2"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x1") * F.col("x1")).alias("s11"),
            F.sum(F.col("x2") * F.col("x2")).alias("s22"),
            F.sum(F.col("x1") * F.col("x2")).alias("s12"),
            F.sum(F.col("x1") * F.col("y")).alias("s1y"),
            F.sum(F.col("x2") * F.col("y")).alias("s2y"),
        )
    )
    nd = F.col("n")
    c11 = F.col("s11").cast("double") - F.col("sx1").cast("double") * F.col("sx1") / nd
    c22 = F.col("s22").cast("double") - F.col("sx2").cast("double") * F.col("sx2") / nd
    c12 = F.col("s12").cast("double") - F.col("sx1").cast("double") * F.col("sx2") / nd
    c1y = F.col("s1y").cast("double") - F.col("sx1").cast("double") * F.col("sy") / nd
    c2y = F.col("s2y").cast("double") - F.col("sx2").cast("double") * F.col("sy") / nd
    det = c11 * c22 - c12 * c12
    b1 = (c22 * c1y - c12 * c2y) / det
    b2 = (c11 * c2y - c12 * c1y) / det
    return m.select(
        "l_returnflag", "n", "sx1", "sx2", "sy",
        pin(b1, 1000000).alias("b_qty_e6"),
        pin(b2, 1000000).alias("b_disc_e6"),
    )


@query(
    "agg_bitwise_reduce",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT)          AS n,
           CAST(BIT_AND(event_id) AS BIGINT) AS band,
           CAST(BIT_OR(event_id) AS BIGINT)  AS bor,
           CAST(BIT_XOR(event_id) AS BIGINT) AS bxor
    FROM events
    GROUP BY event_type
    """,
)
def agg_bitwise_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BITWISE aggregate reduction (BIT_AND / BIT_OR / BIT_XOR) — the
    flag-mask rollups behind permission-intersection, capability-union
    and parity-checksum audits.  All three are commutative/associative,
    so Spark plans them as partial+final hash aggregates (map-side
    combine) exactly like SUM; XOR additionally gives an
    order-independent set checksum (a⊕a=0 — the classic "find the
    unpaired id" trick).

    Scale: one combinable shuffle, |event_type| rows out, constant
    state per group — the cheapest aggregate family there is."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.bit_and("event_id").alias("band"),
        F.bit_or("event_id").alias("bor"),
        F.bit_xor("event_id").alias("bxor"),
    )


@query(
    "stat_crosstab_pairs",
    oracle="""
    SELECT o_orderpriority AS o_orderpriority_o_orderstatus,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                AS BIGINT) AS F,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
                AS BIGINT) AS O,
           CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)
                AS BIGINT) AS P
    FROM orders GROUP BY 1 ORDER BY 1
    """,
)
def stat_crosstab_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``df.stat.crosstab`` — the pandas-style contingency-table API
    (the `DataFrameStatFunctions` namespace, sibling of freqItems /
    approxQuantile / sampleBy, which have dedicated keys elsewhere).

    Semantics note: crosstab computes the pair counts DISTRIBUTEDLY
    (one groupBy over the scan) and materializes only the
    |levels_a| x |levels_b| table — bounded by construction (15 cells
    here), the same boundedness contract as `collect_model_artifact`.
    Column names are data values; the corpus pins them to F/O/P, and
    the oracle mirrors Spark's `<col1>_<col2>` header convention."""
    orders = load(spark, sf_dir, "orders")
    ct = orders.stat.crosstab("o_orderpriority", "o_orderstatus")
    return ct.select(
        "o_orderpriority_o_orderstatus",
        F.col("F").cast("long").alias("F"),
        F.col("O").cast("long").alias("O"),
        F.col("P").cast("long").alias("P"),
    ).orderBy("o_orderpriority_o_orderstatus")


@query(
    "agg_mann_whitney",
    oracle="""
    WITH pooled AS (
        SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c,
               CAST(event_type = 'click' AS INTEGER) AS is1
        FROM events WHERE event_type IN ('click', 'purchase')
    ),
    roll AS (
        SELECT c,
               CAST(SUM(is1) AS BIGINT) AS m1,
               CAST(COUNT(*) - SUM(is1) AS BIGINT) AS m2,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM pooled GROUP BY c
    ),
    ranked AS (
        SELECT *,
               COALESCE(SUM(cnt) OVER (ORDER BY c
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS nbefore
        FROM roll
    ),
    agg AS (
        SELECT CAST(SUM(m1) AS BIGINT) AS n1,
               CAST(SUM(m2) AS BIGINT) AS n2,
               CAST(SUM(m1 * (2 * nbefore + cnt + 1)) AS BIGINT) AS r1_x2,
               CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS tie_cubes
        FROM ranked
    )
    SELECT n1, n2,
           r1_x2 - n1 * (n1 + 1) AS u1_x2,
           tie_cubes,
           CAST(FLOOR(
               (CAST(r1_x2 - n1 * (n1 + 1) AS DOUBLE) / 2
                - CAST(n1 AS DOUBLE) * n2 / 2)
               / SQRT((CAST(n1 AS DOUBLE) * n2 / 12)
                      * ((n1 + n2 + 1)
                         - CAST(tie_cubes AS DOUBLE)
                           / ((n1 + n2) * (n1 + n2 - 1))))
               * 1000000 + 0.5) AS BIGINT) AS z_e6
    FROM agg
    """,
)
def agg_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANN-WHITNEY U (Wilcoxon rank-sum) between click and purchase
    event values — the nonparametric two-sample location test
    completing the hypothesis-test family (Welch t, chi-square, KS):
    no normality assumption, driven entirely by pooled ranks.

    Exact-integer ranks: with values pinned to cents, the doubled
    average rank of a tie group is 2·(#smaller) + cnt + 1 — an integer
    — so 2·R₁ = Σ m₁(v)·rank₂(v) and 2·U₁ = 2R₁ − n₁(n₁+1) are exact
    longs the driver hash-proves (r1_x2 ≤ n₁·2N ≈ 8e9 ≪ 2⁶³), along
    with the tie-correction power sum Σ(t³−t).  Only the closing
    normal-approximation z is floating point — one fixed IEEE chain
    from those integers, floor-pinned e6.

    Scale — the agg_ks_drift two-phase prefix sum: per-value counts
    shuffle once on the value, within-bucket cumsums partition by
    bucket (cents div 1024 — value-domain/1024 buckets), cross-bucket
    offsets take the only unpartitioned window over that BOUNDED
    rollup, and the final reduce is a 1-row aggregate.  No global
    sort ever touches the event stream."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    c = pin_int(F.col("value"), 100)
    roll = (
        ev.select(
            c.alias("c"),
            (F.col("event_type") == "click").cast("long").alias("is1"),
        )
        .groupBy("c")
        .agg(
            F.sum("is1").alias("m1"),
            (F.count("*") - F.sum("is1")).alias("m2"),
            F.count("*").alias("cnt"),
        )
        .select("c", "m1", "m2", "cnt", F.expr("c div 1024").alias("bucket"))
    )
    wv = (
        Window.partitionBy("bucket")
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = roll.select(
        "bucket",
        "c",
        "m1",
        "cnt",
        F.coalesce(F.sum("cnt").over(wv), F.lit(0)).alias("before_l"),
    ).persist()
    bk = cum.groupBy("bucket").agg(
        (F.max(F.col("before_l") + F.col("cnt"))).alias("bsum")
    )
    woff = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    off = bk.select(
        "bucket", F.coalesce(F.sum("bsum").over(woff), F.lit(0)).alias("off")
    )
    agg = (
        cum.join(F.broadcast(off), "bucket")
        .select(
            "m1",
            "cnt",
            (F.col("off") + F.col("before_l")).alias("nbefore"),
        )
        .agg(
            F.sum("m1").alias("n1"),
            (F.sum("cnt") - F.sum("m1")).alias("n2"),
            F.sum(
                F.col("m1") * (2 * F.col("nbefore") + F.col("cnt") + 1)
            ).alias("r1_x2"),
            F.sum(
                F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")
            ).alias("tie_cubes"),
        )
    )
    u1_x2 = F.col("r1_x2") - F.col("n1") * (F.col("n1") + 1)
    n1d = F.col("n1").cast("double")
    nn = F.col("n1") + F.col("n2")
    z = (
        u1_x2.cast("double") / 2 - n1d * F.col("n2") / 2
    ) / F.sqrt(
        (n1d * F.col("n2") / 12)
        * (
            (nn + 1)
            - F.col("tie_cubes").cast("double") / (nn * (nn - 1))
        )
    )
    return agg.select(
        "n1",
        "n2",
        u1_x2.alias("u1_x2"),
        "tie_cubes",
        pin_int(z, 1000000).alias("z_e6"),
    )
