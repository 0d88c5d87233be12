"""Join operators (SURVEY.md §2.3) — all 14 keys.

Determinism discipline (SURVEY.md §7.4): float money aggregates are summed
as exact integer cents (``floor(x*100 + 0.5)`` per row — bit-identical
IEEE double ops in Spark and DuckDB, then an exact integer SUM); raw
pass-through columns need no treatment; every ORDER BY feeding a limit
ends in a unique key.

100 TB notes per key are inline; the global rules:
- dims (region 5, nation 25, supplier, part) get explicit ``broadcast()``
  → BroadcastHashJoin, no shuffle of the fact side;
- fact⋈fact equi joins (orders⋈customer, lineitem⋈orders) shuffle on the
  key — the right plan at scale (sort-merge under AQE);
- the band self-join is bucket-blocked (equi key = 5-min bucket) so Spark
  executes a hash join, never a BroadcastNestedLoop over the fact table;
- the as-of join is a single window pass (one shuffle on user_id), not a
  per-row lookup join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from engine.core import pin_int, query
from engine.io import load


_CENTS_SQL = "CAST(FLOOR(({expr}) * 100 + 0.5) AS BIGINT)"


@query(
    "join_inner_equi",
    oracle="""
    SELECT o.o_orderkey, o.o_totalprice, c.c_custkey, c.c_name, c.c_mktsegment
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_orderkey % 3 = 0
    """,
)
def join_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Fact⋈dim equi join; at 100 TB both sides shuffle on custkey (SMJ) or
    # customer broadcasts if it fits — Catalyst/AQE picks per stats.
    # Residue filter bounds the verified output only (engine/io.py note).
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 3 == 0)
    c = load(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "o_totalprice", "c_custkey", "c_name", "c_mktsegment"
    )


@query(
    "join_multiway_star",
    oracle=f"""
    SELECT o.o_orderkey,
           CAST(o.o_orderdate AS DATE) AS order_date,
           CAST(SUM({_CENTS_SQL.format(expr="l.l_extendedprice * (1 - l.l_discount)")}) AS BIGINT)
               AS revenue_cents
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1997-07-01'
      AND l.l_shipdate  > TIMESTAMP '1997-07-01'
    GROUP BY o.o_orderkey, CAST(o.o_orderdate AS DATE)
    ORDER BY revenue_cents DESC, o.o_orderkey ASC
    LIMIT 10
    """,
)
def join_multiway_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-table star join, filtered both sides, grouped
    revenue, top-10.  Revenue as exact cents → integer ties → the
    (revenue, orderkey) order is total, so LIMIT is deterministic."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp")
    )
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-07-01").cast("timestamp")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", F.col("o_orderdate").cast("date").alias("order_date"))
        .agg(F.sum(pin_int(revenue, 100)).alias("revenue_cents"))
        .orderBy(F.desc("revenue_cents"), F.asc("o_orderkey"))
        .limit(10)
    )


@query(
    "join_broadcast_dims",
    oracle=f"""
    SELECT r.r_name AS region_name,
           n.n_name AS nation_name,
           COUNT(*) AS n_items,
           CAST(SUM({_CENTS_SQL.format(expr="l.l_extendedprice * (1 - l.l_discount)")}) AS BIGINT)
               AS revenue_cents
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
)
def join_broadcast_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Explicit broadcast of all three dims: the fact table never shuffles
    # for the joins (3 chained BroadcastHashJoins), then one tiny shuffle
    # for the 25-group aggregate — the canonical 100 TB star-join plan.
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
        .agg(
            F.count("*").alias("n_items"),
            F.sum(pin_int(revenue, 100)).alias("revenue_cents"),
        )
    )


@query(
    "join_left_outer",
    oracle="""
    SELECT d.doc_id, d.lang, e.label
    FROM documents d
    LEFT JOIN (SELECT * FROM embeddings WHERE vec_id % 3 <> 0) e
      ON d.doc_id = e.vec_id
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Embeddings filtered to vec_id % 3 != 0 so unmatched docs exist at
    # every sf (the raw tables fully overlap at sf0.01 — a full-match
    # left join would be indistinguishable from inner).
    d = load(spark, sf_dir, "documents")
    e = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 3 != 0)
    return d.join(e, d.doc_id == e.vec_id, "left").select("doc_id", "lang", "label")


@query(
    "join_right_outer",
    oracle="""
    SELECT c.c_custkey, c.c_name, o.o_orderkey
    FROM (SELECT * FROM orders
          WHERE o_orderdate >= TIMESTAMP '1997-01-01'
            AND o_orderdate <  TIMESTAMP '1997-04-01') o
    RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    c = load(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "right").select(
        "c_custkey", "c_name", "o_orderkey"
    )


@query(
    "join_full_outer",
    oracle="""
    WITH a AS (SELECT DISTINCT o_custkey AS custkey FROM orders
               WHERE o_orderdate >= TIMESTAMP '1996-01-01'
                 AND o_orderdate <  TIMESTAMP '1996-04-01'),
         b AS (SELECT DISTINCT o_custkey AS custkey FROM orders
               WHERE o_orderdate >= TIMESTAMP '1998-01-01'
                 AND o_orderdate <  TIMESTAMP '1998-04-01')
    SELECT COALESCE(a.custkey, b.custkey) AS custkey,
           CAST(a.custkey IS NOT NULL AS INTEGER) AS in_a,
           CAST(b.custkey IS NOT NULL AS INTEGER) AS in_b
    FROM a FULL OUTER JOIN b ON a.custkey = b.custkey
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")

    def keys(lo: str, hi: str) -> DataFrame:
        return (
            o.filter(
                (F.col("o_orderdate") >= F.lit(lo).cast("timestamp"))
                & (F.col("o_orderdate") < F.lit(hi).cast("timestamp"))
            )
            .select(F.col("o_custkey").alias("custkey"))
            .distinct()
        )

    a = keys("1996-01-01", "1996-04-01").alias("a")
    b = keys("1998-01-01", "1998-04-01").alias("b")
    return a.join(b, F.col("a.custkey") == F.col("b.custkey"), "full").select(
        F.coalesce(F.col("a.custkey"), F.col("b.custkey")).alias("custkey"),
        # int, not boolean: the driver canonicalizer has crashed on
        # non-scalar cell types before (r1 arrays); r2's run died exactly
        # at this key — the first with BOOLEAN output (VERDICT r2 #2).
        F.col("a.custkey").isNotNull().cast("int").alias("in_a"),
        F.col("b.custkey").isNotNull().cast("int").alias("in_b"),
    )


@query(
    "join_left_semi",
    oracle="""
    SELECT c.c_custkey, c.c_name, c.c_acctbal
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
    """,
)
def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    # left_semi: probe side streams, no row multiplication, build side
    # only needs the key column — the EXISTS plan at any scale.
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_acctbal"
    )


@query(
    "join_left_anti",
    oracle="""
    SELECT p.p_partkey, p.p_name
    FROM part p
    WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_partkey = p.p_partkey AND l.l_discount = 0)
    """,
)
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_discount") == 0)
    return p.join(li, p.p_partkey == li.l_partkey, "left_anti").select(
        "p_partkey", "p_name"
    )


@query(
    "join_cross",
    oracle="""
    SELECT r.r_name, n.n_name
    FROM region r CROSS JOIN nation n
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Cartesian is only sane on bounded dims (5 × 25); Spark plans a
    # BroadcastNestedLoopJoin — never do this on a fact table.
    r = load(spark, sf_dir, "region")
    n = load(spark, sf_dir, "nation")
    return r.crossJoin(n).select("r_name", "n_name")


@query(
    "join_theta_residual",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, p.p_partkey, l.l_quantity, p.p_size
    FROM part p JOIN lineitem l
      ON l.l_partkey = p.p_partkey AND l.l_quantity > p.p_size
    WHERE l.l_orderkey % 6 = 0
    """,
)
def join_theta_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Equi key + inequality residual: Spark hashes on the equi key and
    # applies the residual as a post-join filter — still a hash join, the
    # inequality never degrades the plan to nested-loop.
    # Residue filter bounds the verified output only (engine/io.py note).
    p = load(spark, sf_dir, "part")
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 6 == 0)
    return p.join(
        li,
        (li.l_partkey == p.p_partkey) & (li.l_quantity > p.p_size),
    ).select("l_orderkey", "l_linenumber", "p_partkey", "l_quantity", "p_size")


@query(
    "join_theta_pure",
    oracle="""
    SELECT n1.n_name AS nation_a, n2.n_name AS nation_b,
           n1.n_regionkey AS region_a, n2.n_regionkey AS region_b
    FROM nation n1 JOIN nation n2 ON n1.n_regionkey < n2.n_regionkey
    """,
)
def join_theta_pure(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pure inequality join → BroadcastNestedLoopJoin; acceptable only
    # because nation is a bounded 25-row dim.
    n1 = load(spark, sf_dir, "nation").alias("n1")
    n2 = load(spark, sf_dir, "nation").alias("n2")
    return n1.join(n2, F.col("n1.n_regionkey") < F.col("n2.n_regionkey")).select(
        F.col("n1.n_name").alias("nation_a"),
        F.col("n2.n_name").alias("nation_b"),
        F.col("n1.n_regionkey").alias("region_a"),
        F.col("n2.n_regionkey").alias("region_b"),
    )


_BAND_US = 300_000_000  # 5 minutes in microseconds


@query(
    "join_range_band",
    oracle=f"""
    SELECT e1.event_id AS click_id,
           e2.event_id AS purchase_id,
           epoch_us(e2.ts) - epoch_us(e1.ts) AS gap_us
    FROM events e1 JOIN events e2
      ON e1.user_id = e2.user_id
     AND e1.event_type = 'click' AND e2.event_type = 'purchase'
     AND epoch_us(e2.ts) >  epoch_us(e1.ts)
     AND epoch_us(e2.ts) <= epoch_us(e1.ts) + {_BAND_US}
    """,
)
def join_range_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band self-join (click → purchase within 5 min, same user),
    implemented with time-bucket blocking (SURVEY.md §1.3c).

    Each click is exploded into its bucket and the next (a (t, t+5min]
    window spans at most 2 buckets of width 5 min), and the join runs on
    the composite equi key (user_id, bucket) — a shuffled hash join whose
    per-bucket fan-out is bounded, instead of the per-user cross product
    a bare (user_id) equi join + residual would produce at 100 TB.
    """
    ev = load(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("click_id"),
            us.alias("us1"),
        )
        .withColumn(
            "bucket",
            F.explode(
                F.array(
                    F.floor(F.col("us1") / _BAND_US),
                    F.floor(F.col("us1") / _BAND_US) + 1,
                )
            ),
        )
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
        us.alias("us2"),
        F.floor(us / _BAND_US).alias("p_bucket"),
    )
    return (
        clicks.join(
            purchases,
            (clicks.user_id == purchases.p_user_id)
            & (clicks.bucket == purchases.p_bucket),
        )
        .filter(
            (F.col("us2") > F.col("us1"))
            & (F.col("us2") <= F.col("us1") + _BAND_US)
        )
        .select("click_id", "purchase_id", (F.col("us2") - F.col("us1")).alias("gap_us"))
    )


@query(
    "join_asof",
    oracle="""
    WITH u AS (
        SELECT user_id, ts, event_id, event_type,
               MAX(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS last_click_us
        FROM events
        WHERE event_type IN ('click', 'purchase')
    )
    SELECT event_id AS purchase_id, user_id, last_click_us
    FROM u
    WHERE event_type = 'purchase'
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (latest prior click per purchase) as a single window
    pass: union the two event streams, running MAX of click time over
    (user, time) order, keep purchases.  One shuffle on user_id — at
    100 TB this beats any per-row lookup join; (user_id, ts) is unique
    in the corpus so the order is total.

    PySpark has no native batch as-of (public API through 4.1); this
    union+window form is the standard composition.
    """
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_click = F.max(
        F.when(F.col("event_type") == "click", F.unix_micros(F.col("ts")))
    ).over(w)
    return (
        ev.withColumn("last_click_us", last_click)
        .filter(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("purchase_id"), "user_id", "last_click_us")
    )


@query(
    "join_existence_subquery",
    oracle="""
    WITH ranked AS (
        SELECT c_custkey,
               ROW_NUMBER() OVER (ORDER BY c_acctbal DESC, c_custkey ASC) AS rn,
               COUNT(*) OVER () AS cnt
        FROM customer
    )
    SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
    FROM orders o
    WHERE o.o_custkey IN (SELECT c_custkey FROM ranked WHERE rn <= cnt // 10)
    """,
)
def join_existence_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery shape: orders of top-decile-balance customers,
    manually decorrelated to derived-set + left_semi join.

    The decile is rank-based (row_number ≤ n/10 with unique tiebreak) —
    exactly reproducible in the oracle, unlike an interpolated
    percentile threshold.  The global row_number is computed WITHOUT a
    single-partition sort (VERDICT r2 "what's wrong" #4): rows are range-
    bucketed by floor(c_acctbal) — every row in a higher bucket strictly
    outranks every row in a lower one, so
        global_rn = (count of rows in higher buckets) + local_rn,
    where local_rn is a window partitioned BY BUCKET.  The only
    unpartitioned window left runs over the bucket aggregate, whose
    cardinality is the acctbal domain (~11k values) regardless of table
    size — scale-safe at 100 TB.
    """
    c = load(spark, sf_dir, "customer")
    b = c.select("c_custkey", "c_acctbal", F.floor("c_acctbal").alias("bucket"))
    # cumulative rows in strictly-higher buckets (tiny aggregate input)
    wb = Window.orderBy(F.desc("bucket")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        b.groupBy("bucket")
        .agg(F.count("*").alias("bn"))
        .select(
            "bucket",
            F.coalesce(F.sum("bn").over(wb), F.lit(0)).alias("offset"),
        )
    )
    wl = Window.partitionBy("bucket").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    ranked = b.join(F.broadcast(offsets), "bucket").select(
        "c_custkey",
        (F.col("offset") + F.row_number().over(wl)).alias("rn"),
    )
    cnt = c.agg(F.count("*").alias("cnt"))
    top = (
        ranked.join(F.broadcast(cnt))
        .filter(F.col("rn") <= F.expr("cnt div 10"))
        .select("c_custkey")
    )
    o = load(spark, sf_dir, "orders")
    return o.join(
        F.broadcast(top), o.o_custkey == top.c_custkey, "left_semi"
    ).select("o_orderkey", "o_custkey", "o_totalprice")


_SALT_BUCKETS = 16


@query(
    "join_skew_salted",
    oracle="""
    WITH fact AS (
        SELECT event_id,
               CASE WHEN event_id % 2 = 0 THEN 0 ELSE user_id END AS join_key,
               value
        FROM events
    ),
    dim AS (
        SELECT user_id AS join_key, COUNT(*) AS user_orders
        FROM events GROUP BY user_id
    )
    SELECT f.join_key,
           COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(f.value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents,
           CAST(MAX(d.user_orders) AS BIGINT) AS dim_val
    FROM fact f JOIN dim d ON f.join_key = d.join_key
    GROUP BY f.join_key
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant salted join.  The fact side is deliberately skewed
    (half of all rows share join_key 0 — the hot-key pathology that
    stalls one reducer at 100 TB).  The cure demonstrated here:

    - fact rows get a salt = event_id % 16, spreading the hot key over
      16 shuffle partitions;
    - the (small) dim side is exploded 16× so every (key, salt) pair
      finds its match;
    - the join runs on the composite (join_key, salt) — per-partition
      load is bounded by max_key_rows/16 instead of max_key_rows.

    Results are salt-invariant, so the oracle is the plain unsalted
    join.  (AQE's skewedJoin handles mid-size skew automatically; manual
    salting remains the tool when one key exceeds a whole executor.)
    """
    ev = load(spark, sf_dir, "events")
    fact = ev.select(
        "event_id",
        F.when(F.col("event_id") % 2 == 0, F.lit(0))
        .otherwise(F.col("user_id"))
        .alias("join_key"),
        "value",
        (F.col("event_id") % _SALT_BUCKETS).alias("salt"),
    )
    dim = (
        ev.groupBy(F.col("user_id").alias("join_key"))
        .agg(F.count("*").alias("user_orders"))
        .withColumn("salt", F.explode(F.array(*[F.lit(i) for i in range(_SALT_BUCKETS)])))
    )
    return (
        fact.join(dim, ["join_key", "salt"])
        .groupBy("join_key")
        .agg(
            F.count("*").alias("n"),
            F.sum(pin_int(F.col("value"), 100)).alias("sum_cents"),
            F.max("user_orders").alias("dim_val"),
        )
    )


@query(
    "join_null_safe_eq",
    oracle="""
    WITH fact AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 100 = 0 THEN NULL
                    ELSE c_mktsegment END AS seg
        FROM customer
    ),
    meta AS (
        SELECT DISTINCT c_mktsegment AS seg,
               'seg:' || c_mktsegment AS label
        FROM customer
        UNION ALL SELECT NULL, 'unknown'
    )
    SELECT f.c_custkey, f.seg, m.label
    FROM fact f JOIN meta m ON f.seg IS NOT DISTINCT FROM m.seg
    """,
)
def join_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (round 3): Spark ``eqNullSafe`` (<=>) ↔
    SQL ``IS NOT DISTINCT FROM``.  Rows whose join key is NULL match the
    dim's NULL sentinel row instead of silently dropping — the lookup
    semantics a dimension with an 'unknown' member needs.  NULL keys all
    hash to one value, so at scale a heavily-NULL fact side is a skew
    key; here the NULL population is 1% of the dim (bounded by design).
    """
    c = load(spark, sf_dir, "customer")
    fact = c.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 100 == 0, F.lit(None))
        .otherwise(F.col("c_mktsegment"))
        .alias("seg"),
    )
    meta = (
        c.select(F.col("c_mktsegment").alias("seg")).distinct()
        .select("seg", F.concat(F.lit("seg:"), F.col("seg")).alias("label"))
        .unionByName(
            spark.range(1).select(
                F.lit(None).cast("string").alias("seg"),
                F.lit("unknown").alias("label"),
            )
        )
    )
    return fact.join(
        F.broadcast(meta), fact["seg"].eqNullSafe(meta["seg"])
    ).select("c_custkey", fact["seg"].alias("seg"), "label")


_LATERAL_TOPK_SQL = """
    SELECT n.n_name AS nation,
           l.c_custkey AS c_custkey,
           CAST(FLOOR(l.c_acctbal * 100 + 0.5) AS BIGINT) AS acctbal_cents,
           l.rk AS rk
    FROM nation n,
    LATERAL (
        SELECT c_custkey, c_acctbal,
               CAST(ROW_NUMBER() OVER (ORDER BY c_acctbal DESC, c_custkey)
                    AS INTEGER) AS rk
        FROM customer c
        WHERE c.c_nationkey = n.n_nationkey
        ORDER BY c_acctbal DESC, c_custkey
        LIMIT 3
    ) l
"""


@query("join_lateral_topk", oracle=_LATERAL_TOPK_SQL)
def join_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery — the SQL-surface twin of
    win_topk_per_group: for each nation row, the lateral derived table
    re-evaluates with that row's key in scope (top-3 customers by
    balance, unique tiebreak).  The IDENTICAL SQL text runs on DuckDB.

    Scale design: Catalyst decorrelates the lateral into a ranked
    window + filter over ONE customer shuffle (plan-pinned in
    tests/test_plans.py: no nested-loop join, no per-outer-row re-scan)
    — the same physical shape the DataFrame top-k-per-group key gets,
    which is exactly the point: declarative lateral syntax, no
    execution penalty."""
    from engine.io import register_views

    register_views(spark, sf_dir)
    return spark.sql(_LATERAL_TOPK_SQL)


_IVL_BUCKET_DAYS = 7  # covering-bucket width for the interval join


@query(
    "join_interval_overlap",
    oracle="""
    WITH ords AS (
        SELECT o_orderkey,
               CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
               CAST(o_orderdate AS DATE) AS lo,
               CAST(o_orderdate AS DATE)
                   + CAST((o_orderkey % 30) AS INTEGER) AS hi
        FROM orders
    ),
    camps AS (
        SELECT n_nationkey AS camp_id,
               DATE '1995-01-01' + CAST((n_nationkey * 97) AS INTEGER) AS c_lo,
               DATE '1995-01-01' + CAST((n_nationkey * 97
                    + 10 + (n_nationkey * 13) % 31) AS INTEGER) AS c_hi
        FROM nation
    )
    SELECT c.camp_id AS camp_id,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(o.cents) AS BIGINT) AS sum_cents
    FROM camps c JOIN ords o
      ON o.lo <= c.c_hi AND o.hi >= c.c_lo
    GROUP BY c.camp_id
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL-OVERLAP join — the non-equi join Spark has no native
    operator for (validity windows × campaign windows, genomics ranges,
    config epochs).  The naive plan is a nested loop over every pair;
    the scale-safe plan decomposes each interval into its COVERING
    WEEK-BUCKETS (bounded fanout: interval length is bounded, ≤30 d
    order validity → ≤6 buckets), equi-joins on the bucket, re-checks
    the exact overlap residual, and de-dupes pairs that met in several
    buckets BEFORE aggregating — turning O(N·M) into a hash join whose
    cost tracks true overlap density.  Same blocking family as
    join_range_band (time buckets) and the LSH bands (hash buckets).

    The campaign side here is tiny and broadcasts, but the bucket
    decomposition is what survives when BOTH sides are large — the
    plan-pinned point is that no nested-loop join appears.

    Dialect pin: DuckDB DATE + INTEGER adds days; Spark uses
    date_add.  Campaign windows are derived deterministically from the
    nation table (25 campaigns, staggered starts, 10-40 d lengths)."""
    o = load(spark, sf_dir, "orders")
    ords = o.select(
        "o_orderkey",
        pin_int(F.col("o_totalprice"), 100)
        .alias("cents"),
        F.col("o_orderdate").cast("date").alias("lo"),
        F.date_add(
            F.col("o_orderdate").cast("date"),
            (F.col("o_orderkey") % 30).cast("int"),
        ).alias("hi"),
    )
    n = load(spark, sf_dir, "nation")
    camps = n.select(
        F.col("n_nationkey").alias("camp_id"),
        F.date_add(
            F.lit("1995-01-01").cast("date"),
            (F.col("n_nationkey") * 97).cast("int"),
        ).alias("c_lo"),
        F.date_add(
            F.lit("1995-01-01").cast("date"),
            (F.col("n_nationkey") * 97 + 10 + (F.col("n_nationkey") * 13) % 31)
            .cast("int"),
        ).alias("c_hi"),
    )
    day0 = F.lit("1992-01-01").cast("date")
    wk = lambda c: (F.datediff(c, day0) / _IVL_BUCKET_DAYS).cast("long")  # noqa: E731
    o_b = ords.select(
        "*",
        F.explode(F.sequence(wk(F.col("lo")), wk(F.col("hi")))).alias("bucket"),
    )
    c_b = camps.select(
        "*",
        F.explode(F.sequence(wk(F.col("c_lo")), wk(F.col("c_hi")))).alias(
            "bucket"
        ),
    )
    pairs = (
        o_b.join(F.broadcast(c_b), "bucket")
        .filter((F.col("lo") <= F.col("c_hi")) & (F.col("hi") >= F.col("c_lo")))
        .select("camp_id", "o_orderkey", "cents")
        .distinct()
    )
    return pairs.groupBy("camp_id").agg(
        F.count("*").alias("n_orders"),
        F.sum("cents").alias("sum_cents"),
    )


_BLOOM_M = 16_384  # bit-space for the two-hash bloom positions


@query(
    "join_bloom_prefilter",
    oracle="""
    SELECT l.l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_cents
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_size = 1
    GROUP BY l.l_returnflag
    """,
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit BLOOM-style pre-filter before a shuffle join — the
    technique that makes selective fact⋈dim joins survive 100 TB when
    the dim is too large to broadcast whole: the dim's join keys fold
    to TWO hash positions in a 16k slot space; the positions table
    (≤ 2·|dim| ints, independent of key width) broadcasts; the fact
    keeps only rows whose BOTH positions hit (fpr ≈ (2n/m)² ≈ 1e-4
    here) — pruned BEFORE the sort-merge shuffle, which is the point:
    the shuffle moves only probable matches, and the exact join then
    removes the rare false positives.  No false negatives by
    construction, so the result is IDENTICAL to the plain join — the
    oracle is exactly that plain join.

    The final join is hinted sort-merge deliberately: with a broadcast
    dim the prefilter would be redundant (Spark's own runtime bloom
    covers that case); the demonstrated shape is the one where both
    sides shuffle.  Plan test pins: two broadcast semi-joins, then one
    SortMergeJoin."""
    p = load(spark, sf_dir, "part")
    dim = p.filter(F.col("p_size") == 1).select("p_partkey")
    h = lambda col, seed: F.pmod(F.xxhash64(col, F.lit(seed)), F.lit(_BLOOM_M))  # noqa: E731
    pos = (
        dim.select(
            F.explode(
                F.array(h(F.col("p_partkey"), 1), h(F.col("p_partkey"), 2))
            ).alias("pos")
        )
        .distinct()
    )
    fact = load(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_returnflag",
        pin_int(F.col("l_extendedprice"), 100)
        .alias("cents"),
    )
    f1 = fact.join(
        F.broadcast(pos), h(F.col("l_partkey"), 1) == F.col("pos"), "left_semi"
    )
    f2 = f1.join(
        F.broadcast(pos), h(F.col("l_partkey"), 2) == F.col("pos"), "left_semi"
    )
    joined = f2.hint("merge").join(dim, F.col("l_partkey") == F.col("p_partkey"))
    return joined.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum("cents").alias("sum_cents"),
    )


# Runtime-bloom scope: Spark's InjectRuntimeFilter is ON by default but
# gated on a ≥10 GB application-side scan — correct at cluster scale,
# never reached by MB-scale test parquet, so the key lowers that gate
# (and disables auto-broadcast to model "dim too big to ship whole",
# the only regime where a runtime bloom filter exists at all).
_RUNTIME_BLOOM_CONFS = {
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter."
    "applicationSideScanSizeThreshold": "0",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


def _runtime_bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dim-filtered fact join `join_runtime_bloom` executes; shared
    with tests/test_plans.py, which pins the injected filter under
    :data:`_RUNTIME_BLOOM_CONFS`."""
    p = load(spark, sf_dir, "part")
    dim = p.filter(F.col("p_size") == 1).select("p_partkey", "p_brand")
    fact = load(spark, sf_dir, "lineitem").select(
        "l_partkey",
        pin_int(F.col("l_extendedprice"), 100)
        .alias("cents"),
    )
    return (
        fact.join(dim, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(F.count("*").alias("n"), F.sum("cents").alias("sum_cents"))
    )


@query(
    "join_runtime_bloom",
    oracle="""
    SELECT p.p_brand,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_cents
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_size = 1
    GROUP BY p.p_brand
    """,
)
def join_runtime_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RUNTIME bloom-filter pruned shuffle join (r9 VERDICT #5) — the
    AQE-era sibling of `join_bloom_prefilter`: instead of hand-building
    the filter, Spark's InjectRuntimeFilter rule plants a
    bloom_filter_agg subquery on the selective dim side and a
    might_contain predicate on the fact scan, so only probable matches
    cross the sort-merge shuffle.  The filter is an OPTIMIZATION with
    no false negatives, so the result is hash-identical to the plain
    join — which is exactly what the oracle checks.

    Execution discipline: runtime confs only govern plans optimized
    while set, and a returned DataFrame optimizes lazily at the
    driver's collect — so the key materializes INSIDE
    ``scoped_sql_conf`` (sink-key shape: write the joined aggregate,
    return the read-back), and other keys never see the lowered
    thresholds.  tests/test_plans.py pins might_contain +
    bloom_filter_agg in the optimized plan and the sort-merge shape.

    Scale: at 100 TB the DEFAULT gates (≥10 GB fact scan, ≤10 MB
    creation side) enable exactly this plan with no conf changes; the
    bloom build is one map-side aggregate over 38-of-2000 dim keys and
    the fact shuffle shrinks by ~the dim selectivity (~50×)."""
    from engine.core import scoped_sql_conf, scratch

    path = scratch("runtime_bloom")
    with scoped_sql_conf(spark, _RUNTIME_BLOOM_CONFS):
        _runtime_bloom_join(spark, sf_dir).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


_NEAREST_TOL_US = 30 * 60 * 1_000_000  # ±30 min tolerance


@query(
    "join_asof_nearest",
    oracle=f"""
    WITH clicks AS (
        SELECT user_id, event_id AS click_id, epoch_us(ts) AS c_us
        FROM events WHERE event_type = 'click' AND user_id % 3 = 0
    ),
    purchases AS (
        SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS p_us
        FROM events WHERE event_type = 'purchase'
    ),
    scored AS (
        SELECT c.user_id, c.click_id, c.c_us, p.purchase_id,
               ABS(p.p_us - c.c_us) AS dist_us,
               ROW_NUMBER() OVER (
                   PARTITION BY c.click_id
                   ORDER BY ABS(p.p_us - c.c_us), p.p_us, p.purchase_id
               ) AS rn
        FROM clicks c JOIN purchases p
          ON p.user_id = c.user_id
         AND ABS(p.p_us - c.c_us) <= {_NEAREST_TOL_US}
    )
    SELECT user_id, click_id,
           CAST(purchase_id AS BIGINT) AS nearest_purchase_id,
           CAST(dist_us AS BIGINT) AS dist_us
    FROM scored WHERE rn = 1
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-direction as-of join with tolerance — the third as-of
    flavor (join_asof = backward, join_range_band = forward window):
    each click pairs with the temporally CLOSEST purchase in either
    direction within ±30 min, ties broken toward the earlier purchase
    then its id.  pandas merge_asof(direction='nearest') semantics,
    stated relationally.

    Scale design: candidate pairs come from the same bounded
    time-bucket blocking as join_range_band (a ±tol window spans ≤ 3
    tol-width buckets, so each click explodes to exactly 3 composite
    keys — constant fanout); the per-click argmin is one bounded
    row_number window over the candidates.  No per-user cross product,
    no sort-merge over the full streams."""
    ev = load(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    b = lambda c: F.floor(c / _NEAREST_TOL_US)  # noqa: E731
    clicks = (
        ev.filter((F.col("event_type") == "click") & (F.col("user_id") % 3 == 0))
        .select("user_id", F.col("event_id").alias("click_id"), us.alias("c_us"))
        .withColumn(
            "bucket",
            F.explode(
                F.array(
                    b(F.col("c_us")) - 1, b(F.col("c_us")), b(F.col("c_us")) + 1
                )
            ),
        )
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        us.alias("p_us"),
        b(us).alias("bucket"),
    )
    dist = F.abs(F.col("p_us") - F.col("c_us"))
    cand = (
        clicks.join(
            purchases,
            (clicks.user_id == purchases.p_user)
            & (clicks.bucket == purchases.bucket),
        )
        .filter(dist <= _NEAREST_TOL_US)
        .select("user_id", "click_id", "c_us", "purchase_id", "p_us",
                dist.alias("dist_us"))
        .distinct()  # a pair can meet in up to 3 buckets
    )
    w = Window.partitionBy("click_id").orderBy(
        F.asc("dist_us"), F.asc("p_us"), F.asc("purchase_id")
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "click_id",
            F.col("purchase_id").alias("nearest_purchase_id"),
            "dist_us",
        )
    )


@query(
    "join_correlated_scalar",
    oracle="""
    WITH o AS (
        SELECT o_orderpriority, o_custkey,
               CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        FROM orders
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_above,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM o
    WHERE cents * (SELECT COUNT(*) FROM o o2
                   WHERE o2.o_custkey = o.o_custkey)
          > (SELECT SUM(o2.cents) FROM o o2
             WHERE o2.o_custkey = o.o_custkey)
    GROUP BY o_orderpriority
    """,
)
def join_correlated_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORRELATED SCALAR SUBQUERY in a predicate — the remaining
    subquery class next to EXISTS (``join_existence_subquery``): orders
    priced strictly above their own customer's average order value.
    Catalyst de-correlates both scalar subqueries into an aggregate on
    o_custkey joined back to the outer — the rewrite this key pins.

    Exactness: the avg comparison is multiplied out (``cents * n >
    sum_cents``, exact BIGINT ops — cents ≤ 6e7, n ≤ a few dozen, the
    product ≤ ~2e9) instead of ``cents > sum/n`` whose float division
    could flip borderline rows between engines.

    Scale: the de-correlated form is one groupBy(custkey) aggregate +
    one shuffle join on custkey — same cost class as a manual
    aggregate-join; the subquery syntax buys the optimizer freedom, not
    a nested loop."""
    from engine.io import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH o AS (
            SELECT o_orderpriority, o_custkey,
                   CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
            FROM orders
        )
        SELECT o_orderpriority,
               COUNT(*) AS n_above,
               SUM(cents) AS sum_cents
        FROM o
        WHERE cents * (SELECT COUNT(*) FROM o o2
                       WHERE o2.o_custkey = o.o_custkey)
              > (SELECT SUM(o2.cents) FROM o o2
                 WHERE o2.o_custkey = o.o_custkey)
        GROUP BY o_orderpriority
        """
    )


@query(
    "join_not_in_null_semantics",
    oracle="""
    WITH probe AS (
        SELECT CASE WHEN c_acctbal < 0 THEN NULL ELSE c_custkey END AS k
        FROM customer WHERE c_mktsegment = 'BUILDING'
    )
    SELECT
        CAST((SELECT COUNT(*) FROM orders
              WHERE o_custkey NOT IN (SELECT k FROM probe)) AS BIGINT)
            AS not_in_with_nulls,
        CAST((SELECT COUNT(*) FROM orders
              WHERE o_custkey NOT IN (SELECT k FROM probe
                                      WHERE k IS NOT NULL)) AS BIGINT)
            AS not_in_null_filtered,
        CAST((SELECT COUNT(*) FROM orders o
              WHERE NOT EXISTS (SELECT 1 FROM probe p
                                WHERE p.k = o.o_custkey)) AS BIGINT)
            AS not_exists_null_safe
    """,
)
def join_not_in_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN vs NOT EXISTS under NULLs — the classic three-valued-logic
    trap, pinned numerically: when the subquery column contains even one
    NULL, ``x NOT IN (...)`` can never be TRUE (x <> NULL is UNKNOWN),
    so the count collapses to 0; filtering the NULLs restores the
    expected anti-join count, and NOT EXISTS gives the same count
    because its predicate never compares against the NULL row.  All
    three counts in one row — an engine that "fixes" NOT IN to mean
    anti-join (a real bug class in homegrown planners) hash-mismatches
    immediately.

    Both engines implement ANSI three-valued logic; Spark plans the two
    NOT IN branches as ``BroadcastHashJoin [...] LeftAnti, BuildRight,
    true`` — the trailing flag is ``isNullAwareAntiJoin``, the
    null-aware LeftAnti variant (verified in this plan; the NOT EXISTS
    branch gets the same operator with the flag ``false``).

    Scale: each branch is an anti-join against a broadcast-sized probe;
    null-aware anti join is only supported with a broadcastable build
    side (single-column, BuildRight) — the extra null bookkeeping is
    the semantic cost of NOT IN and the reason production SQL style
    guides mandate NOT EXISTS.  ``join_not_in_nulls`` pins the dual
    corner: NULLs in the OUTER key, with row-level output."""
    from engine.io import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH probe AS (
            SELECT CASE WHEN c_acctbal < 0 THEN NULL ELSE c_custkey END AS k
            FROM customer WHERE c_mktsegment = 'BUILDING'
        )
        SELECT
            (SELECT COUNT(*) FROM orders
             WHERE o_custkey NOT IN (SELECT k FROM probe))
                AS not_in_with_nulls,
            (SELECT COUNT(*) FROM orders
             WHERE o_custkey NOT IN (SELECT k FROM probe
                                     WHERE k IS NOT NULL))
                AS not_in_null_filtered,
            (SELECT COUNT(*) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM probe p
                               WHERE p.k = o.o_custkey))
                AS not_exists_null_safe
        """
    )


@query(
    "join_point_in_time_scd2",
    oracle="""
    WITH e AS (
        SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
               CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
        FROM events WHERE user_id % 3 = 0
    ),
    ch AS (
        SELECT user_id, event_type, us, event_id,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY us, event_id) AS prev_type
        FROM e WHERE event_type <> 'purchase'
    ),
    seg AS (
        SELECT user_id, event_type AS segment, us AS valid_from_us, event_id
        FROM ch WHERE prev_type IS NULL OR prev_type <> event_type
    ),
    dim AS (
        SELECT user_id, segment, valid_from_us,
               LEAD(valid_from_us) OVER (PARTITION BY user_id
                                         ORDER BY valid_from_us, event_id)
                   AS valid_to_us
        FROM seg
    )
    SELECT d.segment,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(e.cents) AS BIGINT) AS sum_cents
    FROM e JOIN dim d
      ON d.user_id = e.user_id
     AND d.valid_from_us <= e.us
     AND (d.valid_to_us IS NULL OR e.us < d.valid_to_us)
    WHERE e.event_type = 'purchase'
    GROUP BY d.segment
    """,
)
def join_point_in_time_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME (temporal validity) join — the warehouse pattern
    SCD2 histories exist FOR: attribute each fact to the dimension row
    that was valid WHEN the fact happened (``valid_from ≤ t <
    valid_to``, open-ended current row), never to today's row.  Joining
    facts to a type-2 dimension on the key alone double-counts across
    versions; joining on key + validity interval is the correctness
    fix, and the half-open interval makes every fact match EXACTLY one
    version.

    Here the dimension is the user's ACTIVITY-STATE history derived
    from the non-purchase events (the ``evt_scd2_history`` derivation
    inlined over a disjoint event slice), and the facts are the
    purchase events — "revenue by the state the user was in at purchase
    time"; purchases before the user's first state row drop out of the
    inner join on both engines.

    Scale: the join is EQUI on user_id with the interval predicate as a
    residual filter — a hash join whose build side is the compacted
    history (≪ the event stream, one row per segment change), never a
    nested loop; exactly-one-match semantics keep the output row count
    equal to the fact count before aggregation."""
    ev = load(spark, sf_dir, "events").filter(F.col("user_id") % 3 == 0)
    us = F.unix_micros(F.col("ts"))
    e = ev.select(
        "user_id",
        "event_id",
        "event_type",
        us.alias("us"),
        pin_int(F.col("value"), 100).alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    seg = (
        e.filter(F.col("event_type") != "purchase")
        .withColumn("prev_type", F.lag("event_type").over(w))
        .filter(
            F.col("prev_type").isNull()
            | (F.col("prev_type") != F.col("event_type"))
        )
        .select(
            F.col("user_id").alias("d_user"),
            F.col("event_type").alias("segment"),
            F.col("us").alias("valid_from_us"),
            "event_id",
        )
    )
    w2 = Window.partitionBy("d_user").orderBy("valid_from_us", "event_id")
    dim = seg.select(
        "d_user",
        "segment",
        "valid_from_us",
        F.lead("valid_from_us").over(w2).alias("valid_to_us"),
    )
    joined = e.filter(F.col("event_type") == "purchase").join(
        dim,
        (F.col("user_id") == F.col("d_user"))
        & (F.col("valid_from_us") <= F.col("us"))
        & (F.col("valid_to_us").isNull() | (F.col("us") < F.col("valid_to_us"))),
    )
    return joined.groupBy("segment").agg(
        F.count("*").alias("n_purchases"),
        F.sum("cents").alias("sum_cents"),
    )


_SALT_JOIN_BUCKETS = 8


@query(
    "join_salted_replicate",
    oracle="""
    WITH dim AS (
        SELECT DISTINCT event_type,
               CAST(length(event_type) AS BIGINT) AS weight
        FROM events
    )
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(FLOOR(e.value * d.weight * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS weighted_cents
    FROM events e JOIN dim d ON e.event_type = d.event_type
    GROUP BY e.event_type
    """,
)
def join_salted_replicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted replicated join — the large⋈large skew idiom, proven
    hash-identical to the plain join it replaces.  The fact side
    (events) joins a keyed dim on event_type, a handful of hot keys
    that would land every row of a key on ONE reducer in a plain
    shuffle join.  Fix: fact rows get salt = pmod(xxhash64(event_id),
    B); the dim side is replicated ×B via explode(sequence) and the
    join runs on (key, salt) — each hot key now spreads over B tasks.
    The oracle is the UNSALTED join: salting must be a pure plan
    transformation, invisible in the result (the same guarantee
    agg_salted_twophase pins for aggregation — this key pins it for
    the join+agg composite).

    Here the dim is derived in-plan (distinct event_type + a
    deterministic weight) so the key is self-contained; at 100 TB the
    dim would be a real table too big to broadcast — exactly when
    salting is the only lever, since broadcast (the usual skew fix)
    is off the table.  Counts and weighted sums aggregate per
    (key, salt) first, then roll up — additive because salt is a
    function of the fact row, never of the aggregate.

    Cost note: replication multiplies the dim by B=8; choose B ≈ skew
    factor, not partition count.  AQE's skew-join split handles the
    sort-merge case adaptively, but salting also covers hash
    aggregation downstream and works under static planning."""
    # weight = length(event_type) is computable fact-side here, but the
    # POINT is the join: carry weight only on the dim side and pin
    # cents post-join, as a real keyed-dim lookup would.
    e = load(spark, sf_dir, "events").select(
        "event_id", "event_type", "value",
        F.pmod(F.xxhash64("event_id"), F.lit(_SALT_JOIN_BUCKETS))
        .cast("int")
        .alias("salt"),
    )
    dim = (
        load(spark, sf_dir, "events")
        .select("event_type")
        .distinct()
        .withColumn("weight", F.length("event_type").cast("long"))
        .withColumn(
            "salt",
            F.explode(F.sequence(F.lit(0), F.lit(_SALT_JOIN_BUCKETS - 1))),
        )
        .withColumn("salt", F.col("salt").cast("int"))
    )
    joined = e.join(dim, ["event_type", "salt"])
    per_salt = joined.groupBy("event_type", "salt").agg(
        F.count("*").alias("n"),
        F.sum(pin_int(F.col("value") * F.col("weight"), 100)).alias("wc"),
    )
    return per_salt.groupBy("event_type").agg(
        F.sum("n").alias("n_events"),
        F.sum("wc").alias("weighted_cents"),
    )


@query(
    "join_dq_orphans",
    oracle="""
    SELECT 'lineitem' AS rel, 'l_orderkey' AS fk,
           CAST(COUNT(*) AS BIGINT) AS n_orphans
    FROM lineitem WHERE NOT EXISTS
        (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
    UNION ALL
    SELECT 'lineitem', 'l_partkey', CAST(COUNT(*) AS BIGINT)
    FROM lineitem WHERE NOT EXISTS
        (SELECT 1 FROM part WHERE p_partkey = l_partkey)
    UNION ALL
    SELECT 'lineitem', 'l_suppkey', CAST(COUNT(*) AS BIGINT)
    FROM lineitem WHERE NOT EXISTS
        (SELECT 1 FROM supplier WHERE s_suppkey = l_suppkey)
    UNION ALL
    SELECT 'orders', 'o_custkey', CAST(COUNT(*) AS BIGINT)
    FROM orders WHERE NOT EXISTS
        (SELECT 1 FROM customer WHERE c_custkey = o_custkey)
    """,
)
def join_dq_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphan counts for every foreign
    key of the star schema (lineitem→orders/part/supplier,
    orders→customer), long-form (rel, fk, n_orphans) — the constraint
    check a warehouse runs after every load, and the null-result
    pin: an audit that CANNOT distinguish "no orphans" from "didn't
    run" is worthless, so zero-count rows must still appear (the
    aggregate runs over the anti-join result, never a groupBy that
    would drop empty groups).

    Scale: each check is a LEFT-ANTI join — dims (part, supplier,
    customer) broadcast; the orders side of the lineitem check
    shuffles on orderkey only if too big to broadcast (AQE decides);
    each anti join collapses immediately to a 1-row count (no orphan
    payload moves), and the four 1-row results union."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")

    def orphans(fact, keycol, dim, dimkey, rel):
        return (
            fact.select(keycol)
            .join(dim.select(dimkey), F.col(keycol) == F.col(dimkey), "left_anti")
            .agg(
                F.lit(rel).alias("rel"),
                F.lit(keycol).alias("fk"),
                F.count(F.lit(1)).alias("n_orphans"),
            )
        )

    checks = [
        orphans(li, "l_orderkey", o, "o_orderkey", "lineitem"),
        # part/supplier/customer are SF-LINEAR: no hard broadcast hint
        # (r11 policy, engine/composite.py module docstring) — stats
        # pick broadcast locally, shuffle anti-join at warehouse scale.
        orphans(li, "l_partkey",
                load(spark, sf_dir, "part"), "p_partkey",
                "lineitem"),
        orphans(li, "l_suppkey",
                load(spark, sf_dir, "supplier"), "s_suppkey",
                "lineitem"),
        orphans(o, "o_custkey",
                load(spark, sf_dir, "customer"), "c_custkey",
                "orders"),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


@query(
    "join_fuzzy_blocked",
    oracle="""
    WITH dirty AS (
        SELECT s_suppkey AS d_suppkey,
               substring(s_name, 1, CAST(s_suppkey % 10 AS INTEGER))
                 || substring(s_name, CAST(s_suppkey % 10 AS INTEGER) + 2)
                 AS d_name
        FROM supplier
    ),
    cand AS (
        SELECT d.d_suppkey, d.d_name, s.s_suppkey, s.s_name,
               CAST(levenshtein(d.d_name, s.s_name) AS BIGINT) AS dist
        FROM dirty d JOIN supplier s
          ON right(d.d_name, 4) = right(s.s_name, 4)
    )
    SELECT d_suppkey, d_name, s_suppkey, s_name, dist
    FROM cand WHERE dist <= 2
    """,
)
def join_fuzzy_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy (approximate-string) join — the entity-resolution
    workhorse: a dirty name column (here derived in-plan: one
    deterministic character deletion per supplier name, at position
    s_suppkey % 10 + 1) re-matched to its master table WITHOUT the
    quadratic all-pairs edit-distance scan.  Standard two-phase shape:
    an equality BLOCK (suffix-4 of the name — intact under the
    corruption model, as real blocking keys are chosen to be) turns
    the candidate generation into a hash join; the expensive
    levenshtein() verify then runs only on block-collisions.

    Dialect notes: both engines implement classic Levenshtein
    (DuckDB's levenshtein = editdist3; Spark's levenshtein) — integer
    distances, no float drift; substring is 1-based with identical
    2-arg tail semantics on both; the modulo deletion position is
    exact integer arithmetic.

    Scale: blocking is the entire game — at 10⁹ names all-pairs is
    10¹⁸ distance calls, while suffix blocks bound candidates per
    block; multi-pass blocking (prefix + suffix + phonetic) unions
    more candidate sets through the same verify, exactly this plan
    repeated."""
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    dirty = s.select(
        F.col("s_suppkey").alias("d_suppkey"),
        F.concat(
            F.expr("substring(s_name, 1, CAST(s_suppkey % 10 AS INT))"),
            F.expr("substring(s_name, CAST(s_suppkey % 10 AS INT) + 2)"),
        ).alias("d_name"),
    )
    cand = dirty.join(
        s, F.expr("right(d_name, 4)") == F.expr("right(s_name, 4)")
    ).select(
        "d_suppkey",
        "d_name",
        "s_suppkey",
        "s_name",
        F.levenshtein("d_name", "s_name").cast("long").alias("dist"),
    )
    return cand.filter(F.col("dist") <= 2)


@query(
    "join_snapshot_diff",
    oracle="""
    WITH prev AS (
        SELECT o_orderkey AS k,
               CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        FROM orders WHERE o_orderkey % 89 <> 0
    ),
    cur AS (
        SELECT o_orderkey AS k,
               CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                 + CASE WHEN o_orderkey % 13 = 0 THEN 1 ELSE 0 END AS cents
        FROM orders WHERE o_orderkey % 83 <> 0
    )
    SELECT COALESCE(prev.k, cur.k) AS o_orderkey,
           CASE WHEN prev.k IS NULL THEN 'added'
                WHEN cur.k  IS NULL THEN 'removed'
                ELSE 'changed' END AS change_type,
           prev.cents AS old_cents,
           cur.cents  AS new_cents
    FROM prev FULL OUTER JOIN cur ON prev.k = cur.k
    WHERE prev.k IS NULL OR cur.k IS NULL OR prev.cents <> cur.cents
    """,
)
def join_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNAPSHOT DIFF (CDC without a log): row-level added / removed /
    changed between two table versions — the reconciliation op behind
    incremental ingestion, backfill audits, and "what changed since the
    last crawl".  The two versions derive deterministically from
    orders: prev drops keys % 89 = 0 (so they appear as 'added'), cur
    drops keys % 83 = 0 ('removed') and bumps price by one cent on
    keys % 13 = 0 ('changed'); unchanged rows — the overwhelming bulk —
    are filtered out AFTER classification, so the output is the delta
    only.

    Scale: a co-partitioned FULL OUTER equi join on the snapshot key —
    both sides are table-sized, so neither broadcasts; the compare here
    is a single column, and at 100 TB you'd diff a precomputed row-hash
    column (xxhash64 over all payload fields) instead of field-by-field
    predicates, with exactly this join shape.  The unchanged-row filter
    cannot push below the join (it spans both sides), but the column
    pruning does — only (key, hash) cross the shuffle."""
    o = load(spark, sf_dir, "orders")
    cents = pin_int(F.col("o_totalprice"), 100)
    prev = o.filter(F.col("o_orderkey") % 89 != 0).select(
        F.col("o_orderkey").alias("pk"), cents.alias("old_cents")
    )
    cur = o.filter(F.col("o_orderkey") % 83 != 0).select(
        F.col("o_orderkey").alias("ck"),
        (
            cents
            + F.when(F.col("o_orderkey") % 13 == 0, 1).otherwise(0)
        ).alias("new_cents"),
    )
    j = prev.join(cur, prev.pk == cur.ck, "full_outer")
    return j.select(
        F.coalesce("pk", "ck").alias("o_orderkey"),
        F.when(F.col("pk").isNull(), "added")
        .when(F.col("ck").isNull(), "removed")
        .otherwise("changed")
        .alias("change_type"),
        "old_cents",
        "new_cents",
    ).filter(
        F.col("pk").isNull()
        | F.col("ck").isNull()
        | (F.col("old_cents") != F.col("new_cents"))
    )


@query(
    "graph_copurchase_lift",
    oracle="""
    WITH b AS (
        SELECT DISTINCT o_custkey AS c, l_partkey AS p
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    bc AS (
        SELECT c, p FROM (
            SELECT c, p,
                   ROW_NUMBER() OVER (PARTITION BY c ORDER BY p) AS rk
            FROM b
        ) WHERE rk <= 15
    ),
    n AS (SELECT CAST(COUNT(DISTINCT c) AS BIGINT) AS n_cust FROM bc),
    pc AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS pn FROM bc GROUP BY p),
    pairs AS (
        SELECT b1.p AS p1, b2.p AS p2, CAST(COUNT(*) AS BIGINT) AS n_co
        FROM bc b1 JOIN bc b2 ON b1.c = b2.c AND b1.p < b2.p
        GROUP BY 1, 2
        HAVING COUNT(*) >= 3
    )
    SELECT p1, p2, n_co,
           CAST(n_co * n_cust * 1000000 // (c1.pn * c2.pn) AS BIGINT)
               AS lift_e6
    FROM pairs
    CROSS JOIN n
    JOIN pc c1 ON pairs.p1 = c1.p
    JOIN pc c2 ON pairs.p2 = c2.p
    """,
)
def graph_copurchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MARKET-BASKET co-occurrence (bipartite projection with lift):
    part pairs bought by >= 3 common customers (within capped
    baskets), scored by lift =
    P(p1,p2) / (P(p1)·P(p2)) — the association-mining op behind
    related-items, query expansion, and co-occurrence embeddings.
    All-integer lift via cross-multiplication: n_co·n_cust·1e6 div
    (n_p1·n_p2) (≤ 1.5k·15k·1e6 ≈ 2e13 ≪ 2^63).

    Scale — the pair explosion is THE hazard here, and the cap is the
    fix, not a footnote: the uncapped op measured 21.6 s at sf0.1
    (12.7M-pair stream, nearly all unique, so the groupBy shuffle
    carries all of it; a 10⁵-part customer at 100 TB would emit 10¹⁰
    pairs).  Baskets are therefore CAPPED at 15 parts per customer
    (deterministic rank, mirrored in the oracle — the production move
    for heavy-hitter baskets), which bounds pairs at 105/customer and
    cut the stream 8×.  Plan: ONE shuffle on the customer key feeds
    everything — repartition(c) satisfies the (c,p) dedup and the
    ranking window via the subset-partitioning rule, and the self-join
    joins two reads of the SAME persisted c-partitioned frame with no
    further exchange; only the bounded pair aggregate and the tiny
    part-count rollup shuffle after that.  Part counts and the 1-row
    customer total broadcast into the surviving pairs."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    w = Window.partitionBy("c").orderBy("p")
    b = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .repartition("c")
        .dropDuplicates(["c", "p"])
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 15)
        .drop("rk")
        .persist()
    )
    b1 = b.select(F.col("c").alias("c1"), F.col("p").alias("p1"))
    b2 = b.select(F.col("c").alias("c2"), F.col("p").alias("p2"))
    pairs = (
        b1.join(b2, (F.col("c1") == F.col("c2")) & (F.col("p1") < F.col("p2")))
        .groupBy("p1", "p2")
        .agg(F.count("*").alias("n_co"))
        .filter(F.col("n_co") >= 3)
    )
    pc = b.groupBy("p").agg(F.count("*").alias("pn"))
    tot = b.agg(F.countDistinct("c").alias("n_cust"))
    c1 = pc.select(F.col("p").alias("j1"), F.col("pn").alias("pn1"))
    c2 = pc.select(F.col("p").alias("j2"), F.col("pn").alias("pn2"))
    return (
        pairs.join(F.broadcast(c1), F.col("p1") == F.col("j1"))
        .join(F.broadcast(c2), F.col("p2") == F.col("j2"))
        .crossJoin(F.broadcast(tot))
        .select(
            "p1",
            "p2",
            "n_co",
            F.expr("n_co * n_cust * 1000000 div (pn1 * pn2)")
            .cast("long")
            .alias("lift_e6"),
        )
    )


@query(
    "join_not_in_nulls",
    oracle="""
    SELECT o_orderkey,
           o_custkey,
           CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents
    FROM (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 7 = 0 THEN NULL
                    ELSE o_custkey END AS o_custkey,
               o_totalprice
        FROM orders
    )
    WHERE o_custkey NOT IN (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    )
    """,
)
def join_not_in_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``NOT IN (subquery)`` with a NULLABLE outer key — the three-valued
    -logic trap every SQL engine must honor: ``NULL NOT IN S`` is NULL
    (not TRUE), so rows with a NULL key are FILTERED, unlike the plain
    anti join a naive rewrite would produce.  Spark plans this as a
    NULL-AWARE ANTI JOIN (the `key = k OR (key = k) IS NULL` disjunct
    rewrites to a broadcast hash join in null-aware mode); DuckDB
    implements the same ANSI semantics natively, so the hash match
    proves the decorrelation end-to-end — including dropping the 1-in-7
    orders whose derived key is NULL.

    The outer key is made nullable on purpose (NULL when
    o_orderkey % 7 = 0): with a provably-non-null key Catalyst degrades
    this to an ordinary left_anti and the null path would go untested.
    Complement of ``join_not_in_null_semantics``, which pins the OTHER
    null corner — NULLs in the SUBQUERY column (NOT IN collapses to
    empty) — as aggregate counts; this key pins row-level output under
    outer-key NULLs.

    Scale: the subquery side (one segment of customers) broadcasts;
    null-aware anti join REQUIRES a broadcastable right side (the
    null-disjunct breaks hash partitioning).  When both sides are huge,
    production rewrites to a null-filtered left_anti plus an explicit
    `key IS NOT NULL` guard after PROVING the subquery has no NULLs —
    noted here, the broadcast form is the honest general plan."""
    o = load(spark, sf_dir, "orders")
    o.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(None).cast("long"))
        .otherwise(F.col("o_custkey"))
        .alias("o_custkey"),
        "o_totalprice",
    ).createOrReplaceTempView("nin_orders")
    load(spark, sf_dir, "customer").createOrReplaceTempView("nin_customer")
    return spark.sql(
        """
        SELECT o_orderkey,
               o_custkey,
               CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                   AS price_cents
        FROM nin_orders
        WHERE o_custkey NOT IN (
            SELECT c_custkey FROM nin_customer
            WHERE c_mktsegment = 'BUILDING'
        )
        """
    )


@query(
    "join_strategy_hints",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_price_cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def join_strategy_hints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN STRATEGY HINTS — the physical-plan steering wheel
    (`SHUFFLE_HASH` here; its siblings BROADCAST / MERGE /
    SHUFFLE_REPLICATE_NL share the same API).  A strategy hint
    overrides BOTH the optimizer's size-threshold broadcast choice and
    the sort-merge default: at this corpus size Spark would broadcast
    `customer` on its own, but the hinted plan builds a shuffled hash
    table instead — the right call when the "small" side exceeds the
    driver/executor broadcast budget yet one side still fits a
    per-partition hash map, because it skips BOTH sides' sorts that
    sort-merge would pay.  tests/test_plans.py pins `ShuffledHashJoin`
    in this plan AND result-equality against the `MERGE`-hinted twin —
    hints must never change semantics, only strategy.

    Scale: hints are per-query physical overrides, exactly what you
    reach for at 100 TB when AQE's estimates misfire (e.g. a filtered
    dimension the stats call big but runtime proves small, or a known
    skew the broadcast budget can't absorb)."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").hint("SHUFFLE_HASH")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(pin_int(F.col("o_totalprice"), 100)).alias("sum_price_cents"),
        )
    )


@query(
    "join_spatial_grid",
    oracle="""
    WITH pts AS (
        SELECT c_custkey AS key,
               40.0 + (c_custkey * 7919 % 1000) / 100.0 AS lat,
               (c_custkey * 104729 % 2000) / 100.0 AS lon
        FROM customer
    ),
    cells AS (
        SELECT key, lat, lon,
               CAST(FLOOR(lat / 0.6) AS BIGINT) AS cy,
               CAST(FLOOR(lon / 0.6) AS BIGINT) AS cx
        FROM pts
    ),
    probe AS (
        SELECT c.key, c.lat, c.lon,
               c.cy + dy.d AS cy, c.cx + dx.d AS cx
        FROM cells c
        CROSS JOIN (SELECT unnest([-1, 0, 1]) AS d) dy
        CROSS JOIN (SELECT unnest([-1, 0, 1]) AS d) dx
    ),
    pairs AS (
        SELECT p.key AS key_a, h.key AS key_b,
               p.lat AS lat_a, p.lon AS lon_a,
               h.lat AS lat_b, h.lon AS lon_b
        FROM probe p
        JOIN cells h ON p.cy = h.cy AND p.cx = h.cx AND p.key < h.key
    )
    SELECT key_a, key_b,
           CAST(FLOOR(2 * 6371.0088 * asin(sqrt(
                sin(radians(lat_b - lat_a) / 2) * sin(radians(lat_b - lat_a) / 2)
                + cos(radians(lat_a)) * cos(radians(lat_b))
                  * sin(radians(lon_b - lon_a) / 2)
                  * sin(radians(lon_b - lon_a) / 2)
           )) * 10000 + 0.5) AS BIGINT) AS dist_km_e4
    FROM pairs
    WHERE CAST(FLOOR(2 * 6371.0088 * asin(sqrt(
              sin(radians(lat_b - lat_a) / 2) * sin(radians(lat_b - lat_a) / 2)
              + cos(radians(lat_a)) * cos(radians(lat_b))
                * sin(radians(lon_b - lon_a) / 2)
                * sin(radians(lon_b - lon_a) / 2)
          )) * 10000 + 0.5) AS BIGINT) <= 400000
    """,
)
def join_spatial_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-bucketed spatial radius join — "all point pairs within
    40 km" answered WITHOUT the quadratic all-pairs cross join: each
    point hashes to a 0.6° grid cell, the probe side replicates to its
    3×3 cell neighborhood (a fixed ×9 fanout), and an ordinary EQUI
    join on (cell_y, cell_x) produces exactly the candidate set that
    can be within radius (0.6° ≥ 43 km ≥ radius at every latitude in
    the synthesized 40-50°N box, so no cross-cell pair escapes).  The
    haversine residual then keeps true neighbors.  Pair uniqueness is
    structural, not dedup'd: a pair meets once because the HOME side
    keeps its single true cell and `key_a < key_b` orients it.

    Coordinates derive from integer keys (key·prime mod range, one
    exact division — the fn_geo_haversine discipline) so both engines
    start from bit-identical doubles; the radius filter compares the
    FLOOR-PINNED e4 integer, not the raw double, keeping the predicate
    and the output value identically quantized.

    Scale: this is the standard planetary-scale spatial-join shape —
    shuffle on cell id (bounded ×9 replication), per-cell local pair
    generation bounded by cell density, never |points|² — and cell
    size vs radius is the documented knob trading replication against
    candidate count."""
    c = load(spark, sf_dir, "customer").select("c_custkey")
    pts = c.select(
        F.col("c_custkey").alias("key"),
        (F.lit(40.0) + (F.col("c_custkey") * 7919 % 1000) / 100.0).alias(
            "lat"
        ),
        ((F.col("c_custkey") * 104729 % 2000) / 100.0).alias("lon"),
    )
    cells = pts.select(
        "key", "lat", "lon",
        F.floor(F.col("lat") / 0.6).alias("cy"),
        F.floor(F.col("lon") / 0.6).alias("cx"),
    )
    off = F.array(F.lit(-1), F.lit(0), F.lit(1))
    probe = (
        cells.select(
            "key", "lat", "lon", "cy", "cx", F.explode(off).alias("dy")
        )
        .select(
            "key", "lat", "lon",
            (F.col("cy") + F.col("dy")).alias("cy"),
            "cx",
            F.explode(off).alias("dx"),
        )
        .select(
            F.col("key").alias("key_a"),
            F.col("lat").alias("lat_a"),
            F.col("lon").alias("lon_a"),
            "cy",
            (F.col("cx") + F.col("dx")).alias("cx"),
        )
    )
    home = cells.select(
        F.col("key").alias("key_b"),
        F.col("lat").alias("lat_b"),
        F.col("lon").alias("lon_b"),
        "cy", "cx",
    )
    pairs = probe.join(
        home,
        ["cy", "cx"],
    ).filter(F.col("key_a") < F.col("key_b"))
    dla = F.radians(F.col("lat_b") - F.col("lat_a"))
    dlo = F.radians(F.col("lon_b") - F.col("lon_a"))
    hav = (
        F.sin(dla / 2) * F.sin(dla / 2)
        + F.cos(F.radians("lat_a")) * F.cos(F.radians("lat_b"))
        * F.sin(dlo / 2) * F.sin(dlo / 2)
    )
    dist_e4 = (
        pin_int(2 * 6371.0088 * F.asin(F.sqrt(hav)), 10000)
    )
    return (
        pairs.select("key_a", "key_b", dist_e4.alias("dist_km_e4"))
        .filter(F.col("dist_km_e4") <= 400000)
    )


@query(
    "join_asof_forward",
    oracle="""
    WITH u AS (
        SELECT user_id, ts, event_id, event_type,
               MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
                   AS next_purchase_us
        FROM events
        WHERE event_type IN ('click', 'purchase')
    )
    SELECT event_id AS click_id, user_id, next_purchase_us,
           next_purchase_us - epoch_us(ts) AS wait_us
    FROM u
    WHERE event_type = 'click'
    """,
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join (earliest subsequent purchase per click, plus
    the time-to-convert delta) — the direction twin of ``join_asof``'s
    backward lookup and ``join_asof_nearest``: pandas
    ``merge_asof(direction='forward')`` semantics as a single window
    pass (running MIN of purchase time over the FOLLOWING frame), the
    attribution side that answers "how long until this click
    converted?".

    Same scale shape as the backward key: union the two event streams,
    ONE shuffle on user_id, no per-row lookup join; (user_id, ts,
    event_id) gives a total order so both engines agree exactly, and
    the microsecond epochs subtract as exact integers (unclicked
    converts stay NULL through both engines)."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    next_purchase = F.min(
        F.when(F.col("event_type") == "purchase", F.unix_micros(F.col("ts")))
    ).over(w)
    return (
        ev.withColumn("next_purchase_us", next_purchase)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            "next_purchase_us",
            (F.col("next_purchase_us") - F.unix_micros(F.col("ts")))
            .alias("wait_us"),
        )
    )
