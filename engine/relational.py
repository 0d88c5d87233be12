"""Projection / filter / sort / limit / set operators (SURVEY.md §2.2, §2.6, §2.7).

All keys are narrow transformations or single-shuffle sorts; Catalyst pushes
every filter below into the parquet scan (PushedFilters) and prunes columns
(ReadSchema).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from engine.core import pin, pin_int, query
from engine.io import load

# ---------------------------------------------------------------------------
# §2.2 projection / filter
# ---------------------------------------------------------------------------


@query(
    "project_arithmetic",
    oracle="""
    SELECT l_orderkey,
           l_linenumber,
           FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5) / 100 AS revenue,
           FLOOR(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100 + 0.5) / 100 AS charge,
           FLOOR(l_extendedprice / l_quantity * 10000 + 0.5) / 10000   AS unit_price
    FROM lineitem
    WHERE l_orderkey % 12 = 0
    """,
)
def project_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-row float rounding MUST be floor(x*scale + 0.5)/scale on both
    # sides: pure IEEE double ops with identical operand order are
    # bit-identical across engines, unlike ROUND whose half-way tie
    # resolution differs between Spark (decimal HALF_UP) and DuckDB
    # (binary FP) — the round-1 hash_match=false root cause.
    # residue filter bounds verified output only (see engine/io.py note)
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 12 == 0)
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        pin(revenue, 100).alias("revenue"),
        pin(revenue * (1 + F.col("l_tax")), 100).alias("charge"),
        pin(F.col("l_extendedprice") / F.col("l_quantity"), 10000).alias("unit_price"),
    )


@query(
    "project_case_when",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice < 50000  THEN 'small'
                WHEN o_totalprice < 150000 THEN 'medium'
                WHEN o_totalprice < 300000 THEN 'large'
                ELSE 'jumbo' END AS size_class,
           CASE o_orderstatus WHEN 'F' THEN 'finished'
                              WHEN 'O' THEN 'open'
                              ELSE 'pending' END AS status_name
    FROM orders
    WHERE o_orderkey % 3 = 0
    """,
)
def project_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 3 == 0)
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 150000, "medium")
        .when(F.col("o_totalprice") < 300000, "large")
        .otherwise("jumbo")
        .alias("size_class"),
        F.when(F.col("o_orderstatus") == "F", "finished")
        .when(F.col("o_orderstatus") == "O", "open")
        .otherwise("pending")
        .alias("status_name"),
    )


@query(
    "project_cast",
    oracle="""
    SELECT o_orderkey,
           CAST(TRUNC(o_totalprice) AS INTEGER) AS price_int,
           CAST(o_orderkey AS VARCHAR)          AS key_str,
           CAST(o_orderdate AS DATE)            AS order_date
    FROM orders
    WHERE o_orderkey % 3 = 0
    """,
)
def project_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Spark double→int truncates toward zero; DuckDB rounds — oracle uses
    # TRUNC to pin the shared semantics (SURVEY.md §7.3 item 3).
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 3 == 0)
    return o.select(
        "o_orderkey",
        F.col("o_totalprice").cast("int").alias("price_int"),
        F.col("o_orderkey").cast("string").alias("key_str"),
        F.col("o_orderdate").cast("date").alias("order_date"),
    )


@query(
    "filter_simple",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def filter_simple(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q6 predicate shape; all conjuncts reach PushedFilters.
    li = load(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.03, 0.07)
        & (F.col("l_quantity") < 24)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount")


@query(
    "filter_compound",
    oracle="""
    SELECT p_partkey, p_name, p_brand, p_type, p_size
    FROM part
    WHERE (p_size IN (1, 5, 10, 25, 50) OR p_type = 'PROMO')
      AND NOT (p_brand LIKE '%#1%')
      AND p_size <> 13
    """,
)
def filter_compound(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    return p.filter(
        (F.col("p_size").isin(1, 5, 10, 25, 50) | (F.col("p_type") == "PROMO"))
        & ~F.col("p_brand").like("%#1%")
        & (F.col("p_size") != 13)
    ).select("p_partkey", "p_name", "p_brand", "p_type", "p_size")


@query(
    "filter_null_handling",
    oracle="""
    SELECT c_custkey,
           NULLIF(c_mktsegment, 'BUILDING') AS seg_or_null,
           c_acctbal
    FROM customer
    WHERE NULLIF(c_mktsegment, 'BUILDING') IS NULL
       OR NULLIF(c_mktsegment, 'BUILDING') IS NOT DISTINCT FROM 'MACHINERY'
    """,
)
def filter_null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    seg = F.nullif(F.col("c_mktsegment"), F.lit("BUILDING"))
    return c.select(
        "c_custkey", seg.alias("seg_or_null"), "c_acctbal"
    ).filter(F.col("seg_or_null").isNull() | F.col("seg_or_null").eqNullSafe("MACHINERY"))


@query(
    "filter_regex",
    oracle="""
    SELECT p_partkey, p_name
    FROM part
    WHERE regexp_matches(p_name, '^(red|blue|green) (widget|bolt|gear)')
    """,
)
def filter_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rlike is unanchored substring-match, same as DuckDB regexp_matches.
    # Pattern chosen to match real p_name values (e.g. 'red widget',
    # 'blue bolt') — round 1's pattern matched 0 rows, a vacuous pass.
    p = load(spark, sf_dir, "part")
    return p.filter(F.col("p_name").rlike("^(red|blue|green) (widget|bolt|gear)")).select(
        "p_partkey", "p_name"
    )


@query(
    "distinct_rows",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def distinct_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


# ---------------------------------------------------------------------------
# §2.6 sort / limit / top-k / sampling
# ---------------------------------------------------------------------------


@query(
    "sort_multi_key",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE o_orderkey % 3 = 0
    ORDER BY o_orderstatus ASC, o_totalprice DESC, o_orderkey ASC
    """,
)
def sort_multi_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Total order (unique o_orderkey last) — range-partitioned sort at scale.
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 3 == 0)
    return o.select("o_orderkey", "o_orderstatus", "o_totalprice").orderBy(
        F.asc("o_orderstatus"), F.desc("o_totalprice"), F.asc("o_orderkey")
    )


@query(
    "sort_nulls_order",
    oracle="""
    SELECT c_custkey,
           CASE WHEN c_acctbal < 0 THEN NULL ELSE FLOOR((c_acctbal) * 100 + 0.5) / 100 END AS bal_or_null
    FROM customer
    ORDER BY bal_or_null ASC NULLS FIRST, c_custkey ASC
    LIMIT 100
    """,
)
def sort_nulls_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    bal = F.when(F.col("c_acctbal") < 0, F.lit(None)).otherwise(pin(F.col("c_acctbal"), 100))
    return (
        c.select("c_custkey", bal.alias("bal_or_null"))
        .orderBy(F.asc_nulls_first("bal_or_null"), F.asc("c_custkey"))
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Z-order clustering (beyond-contract: storage-layout optimization)
# ---------------------------------------------------------------------------

_Z_BITS = 16  # per-dimension field width; widen to 32 for production keys


def _morton(x, y):
    """Interleave the low _Z_BITS bits of two long Columns (Morton/Z-order
    code) — pure JVM bit ops, stays inside whole-stage codegen."""
    out = F.lit(0).cast("long")
    for i in range(_Z_BITS):
        out = out.bitwiseOR(
            F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
        )
        out = out.bitwiseOR(
            F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return out


def _morton_sql(x: str, y: str) -> str:
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " | ".join(terms) + ")"


_Z_DD_SQL = "date_diff('day', DATE '1992-01-01', o_orderdate)"


@query(
    "sort_zorder_cluster",
    oracle=f"""
    WITH z AS (
        SELECT {_morton_sql("CAST(o_custkey AS BIGINT)", _Z_DD_SQL)} AS morton,
               CAST(o_custkey AS BIGINT) AS ck,
               {_Z_DD_SQL} AS dd
        FROM orders
    )
    SELECT CAST(morton >> 20 AS BIGINT) AS bucket_id,
           CAST(COUNT(*) AS BIGINT)     AS n_rows,
           CAST(MIN(ck) AS BIGINT)      AS ck_min,
           CAST(MAX(ck) AS BIGINT)      AS ck_max,
           CAST(MIN(dd) AS BIGINT)      AS day_min,
           CAST(MAX(dd) AS BIGINT)      AS day_max
    FROM z
    GROUP BY morton >> 20
    """,
)
def sort_zorder_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER (Morton) clustering diagnostics — the multi-dimensional
    layout key behind Delta/Iceberg ``OPTIMIZE ZORDER BY``: interleaving
    the bits of (customer, order-day) makes equal-size code-prefix
    buckets that are SIMULTANEOUSLY narrow in both dimensions (~√range
    per dim), so parquet min/max footer stats skip files for predicates
    on EITHER column — a single-key sort bounds one dimension and leaves
    the other's span at full width in every file.

    Output: per 20-bit-prefix bucket, the row count and each dimension's
    min/max span — exactly the footer stats a scan planner would prune
    on; hash-comparable because the Morton code is pure integer bit
    arithmetic, identical on both engines.

    Scale: the code is computed map-side inside whole-stage codegen
    (32 unrolled shift/mask/or terms per dimension pair — no UDF); the
    only shuffle is the bucket groupBy (map-side combinable).  At
    100 TB you'd widen the fields to 32 bits (_Z_BITS), compute the same
    code, and ``repartitionByRange(morton)`` before the write so each
    output file owns one contiguous Z-range; the diagnostic here is the
    pruning-quality report of that layout.  Field width: 16 bits holds
    o_custkey to sf≈4 (65 536 customers) and the day offset for 179
    years — values past the width alias into neighbor buckets (layout
    quality degrades, correctness of downstream scans does not)."""
    o = load(spark, sf_dir, "orders")
    ck = F.col("o_custkey").cast("long")
    dd = F.datediff(
        F.col("o_orderdate"), F.to_date(F.lit("1992-01-01"))
    ).cast("long")
    z = o.select(_morton(ck, dd).alias("morton"), ck.alias("ck"), dd.alias("dd"))
    return z.groupBy(
        F.shiftright(F.col("morton"), 20).alias("bucket_id")
    ).agg(
        F.count("*").alias("n_rows"),
        F.min("ck").alias("ck_min"),
        F.max("ck").alias("ck_max"),
        F.min("dd").alias("day_min"),
        F.max("dd").alias("day_max"),
    )


@query(
    "limit_topk",
    oracle="""
    SELECT o_orderkey, o_custkey, FLOOR((o_totalprice) * 100 + 0.5) / 100 AS total_price
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 20
    """,
)
def limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Compiles to TakeOrderedAndProject: per-partition top-20 heaps merged
    # on the driver — no global sort, the right top-k plan at any scale.
    o = load(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", pin(F.col("o_totalprice"), 100).alias("total_price"))
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
    )


@query(
    "limit_offset_pagination",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 15 OFFSET 40
    """,
)
def limit_offset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyless PAGINATION — ``ORDER BY … LIMIT k OFFSET n`` (page 4 of
    a price-ranked listing, 15 rows/page).  The ORDER BY ends in the
    unique o_orderkey tiebreak per the repo rule, so every page is
    deterministic on both engines — OFFSET over a non-total order is
    the classic flaky-pagination bug this key pins against.

    Plan note: Spark executes this as a single-partition
    CollectLimit/GlobalLimit over the sorted stream — it must DISCARD
    n rows to serve k, so OFFSET cost grows linearly with page depth.
    That is inherent to offset pagination on any engine (DuckDB scans
    n+k too); at 100 TB production paginates by KEYSET instead
    (WHERE (price, key) < last_seen ORDER BY … LIMIT k — the
    win_topk_per_group / limit_topk plan shape), which this key's
    docstring exists to contrast."""
    o = load(spark, sf_dir, "orders")
    return (
        o.select(
            "o_orderkey",
            "o_custkey",
            pin_int(F.col("o_totalprice"), 100)
            .alias("price_cents"),
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .offset(40)
        .limit(15)
    )


@query(
    "limit_keyset_pagination",
    oracle="""
    WITH ranked AS (
        SELECT o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (ORDER BY o_totalprice DESC,
                                  o_orderkey ASC) AS rn
        FROM orders
    ),
    b AS (SELECT o_totalprice AS bp, o_orderkey AS bk FROM ranked
          WHERE rn = 40)
    SELECT o_orderkey, o_custkey,
           CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents
    FROM orders, b
    WHERE o_totalprice < bp OR (o_totalprice = bp AND o_orderkey > bk)
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 15
    """,
)
def limit_keyset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KEYSET pagination — the scale-safe sibling limit_offset_pagination's
    docstring promises: page 4 (rows 41-55) fetched as
    ``WHERE (price, key) < last_seen ORDER BY … LIMIT 15`` instead of
    discarding 40 rows through a single-partition offset stream.  The
    page boundary (the 40th row's (o_totalprice, o_orderkey)) is derived
    in-query from a bounded top-40 TakeOrderedAndProject (here it joins
    in via a 1-row broadcast, so the tuple predicate evaluates post-join
    — not at the scan).  In production the cursor is the caller-held
    LITERAL from the previous page, and then the range half
    (o_totalprice <= bp) does push to the parquet scan; either way the
    fetch cost is CONSTANT in page depth: a cheap filter plus a
    per-partition top-15 heap merge, never a global sort, never an
    offset discard.

    Hash-equal to OFFSET 40 LIMIT 15 by construction (the ORDER BY ends
    in the unique o_orderkey, so the tuple predicate slices the same
    total order the offset twin walks)."""
    o = load(spark, sf_dir, "orders")
    # last_seen cursor = the 40th row of the (price DESC, key ASC)
    # order: top-40 heap, then the 1-row reverse-order head of it.
    boundary = (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(40)
        .orderBy(F.asc("o_totalprice"), F.desc("o_orderkey"))
        .limit(1)
        .select(
            F.col("o_totalprice").alias("bp"),
            F.col("o_orderkey").alias("bk"),
        )
    )
    after_cursor = (F.col("o_totalprice") < F.col("bp")) | (
        (F.col("o_totalprice") == F.col("bp"))
        & (F.col("o_orderkey") > F.col("bk"))
    )
    return (
        o.crossJoin(F.broadcast(boundary))
        .filter(after_cursor)
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(15)
        .select(
            "o_orderkey",
            "o_custkey",
            pin_int(F.col("o_totalprice"), 100)
            .alias("price_cents"),
        )
    )


@query(
    "sample_deterministic",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n,
           FLOOR((SUM(l_extendedprice)) * 100 + 0.5) / 100 AS sum_price
    FROM lineitem
    WHERE l_orderkey % 20 = 0
    GROUP BY l_returnflag
    """,
)
def sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Deterministic key-mod sample (oracle-matchable, restart-stable),
    # NOT .sample() whose RNG is partition-layout-dependent.
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_orderkey") % 20 == 0)
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            pin(F.sum("l_extendedprice"), 100).alias("sum_price"),
        )
    )


# ---------------------------------------------------------------------------
# §2.7 set operations
# ---------------------------------------------------------------------------

_WINDOW_A = "o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'"
_WINDOW_B = "o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'"


def _custkeys(spark, sf_dir, window_sql):
    o = load(spark, sf_dir, "orders")
    return o.filter(window_sql).select(F.col("o_custkey").alias("custkey"))


@query(
    "set_union_all",
    oracle=f"""
    SELECT o_custkey AS custkey FROM orders WHERE {_WINDOW_A}
    UNION ALL
    SELECT o_custkey AS custkey FROM orders WHERE {_WINDOW_B}
    """,
)
def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _custkeys(spark, sf_dir, _WINDOW_A).unionByName(
        _custkeys(spark, sf_dir, _WINDOW_B)
    )


@query(
    "set_union_distinct",
    oracle=f"""
    SELECT o_custkey AS custkey FROM orders WHERE {_WINDOW_A}
    UNION
    SELECT o_custkey AS custkey FROM orders WHERE {_WINDOW_B}
    """,
)
def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _custkeys(spark, sf_dir, _WINDOW_A)
        .union(_custkeys(spark, sf_dir, _WINDOW_B))
        .distinct()
    )


@query(
    "set_intersect",
    oracle=f"""
    SELECT o_custkey AS custkey FROM orders WHERE {_WINDOW_A}
    INTERSECT
    SELECT o_custkey AS custkey FROM orders WHERE {_WINDOW_B}
    """,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _custkeys(spark, sf_dir, _WINDOW_A).intersect(
        _custkeys(spark, sf_dir, _WINDOW_B)
    )


@query(
    "set_except",
    oracle=f"""
    SELECT o_custkey AS custkey FROM orders WHERE {_WINDOW_A}
    EXCEPT
    SELECT o_custkey AS custkey FROM orders WHERE {_WINDOW_B}
    """,
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _custkeys(spark, sf_dir, _WINDOW_A).subtract(
        _custkeys(spark, sf_dir, _WINDOW_B)
    )


@query(
    "set_intersect_all",
    oracle=f"""
    SELECT o_custkey AS custkey FROM orders WHERE {_WINDOW_A}
    INTERSECT ALL
    SELECT o_custkey AS custkey FROM orders WHERE {_WINDOW_B}
    """,
)
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _custkeys(spark, sf_dir, _WINDOW_A).intersectAll(
        _custkeys(spark, sf_dir, _WINDOW_B)
    )


@query(
    "set_except_all",
    oracle=f"""
    SELECT o_custkey AS custkey FROM orders WHERE {_WINDOW_A}
    EXCEPT ALL
    SELECT o_custkey AS custkey FROM orders WHERE {_WINDOW_B}
    """,
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _custkeys(spark, sf_dir, _WINDOW_A).exceptAll(
        _custkeys(spark, sf_dir, _WINDOW_B)
    )


@query(
    "sample_stratified_mix",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN o_orderkey % (CASE o_orderstatus
                    WHEN 'F' THEN 5 WHEN 'O' THEN 20 ELSE 2 END) = 0
               THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN o_orderkey % (CASE o_orderstatus
                    WHEN 'F' THEN 5 WHEN 'O' THEN 20 ELSE 2 END) = 0
               THEN CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
               ELSE 0 END) AS BIGINT) AS kept_price_cents
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def sample_stratified_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified downsampling with per-stratum mixing weights — the
    domain-mixing primitive of a pretraining pipeline (keep 1/5 of
    stratum F, 1/20 of O, 1/2 of the rest).  Selection is key-mod, not
    `.sampleBy()`: restart-stable, partition-layout-independent, and
    exactly reproducible by the oracle — rates are approximate-per-
    stratum the same way hash sampling is at any scale.

    Scale design: a single map-side-combinable aggregate; the keep
    decision is per-row arithmetic (no window, no row_number sort, no
    shuffle beyond the 3-row agg).  An exact-rate variant would
    row_number() each stratum — rejected here: it single-partition-sorts
    every stratum at 100 TB for no statistical gain."""
    o = load(spark, sf_dir, "orders")
    rate = (
        F.when(F.col("o_orderstatus") == "F", 5)
        .when(F.col("o_orderstatus") == "O", 20)
        .otherwise(2)
    )
    keep = (F.col("o_orderkey") % rate) == 0
    cents = pin_int(F.col("o_totalprice"), 100)
    return o.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_total"),
        F.sum(F.when(keep, 1).otherwise(0)).alias("n_kept"),
        F.sum(F.when(keep, cents).otherwise(0)).alias("kept_price_cents"),
    )


@query(
    "sample_temperature_mixture",
    oracle="""
    WITH counts AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_lang,
               CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE))) AS BIGINT) AS iw
        FROM documents GROUP BY lang
    ),
    tot AS (
        SELECT CAST(SUM(iw) AS BIGINT) AS tw,
               CAST(SUM(n_lang) * 2 // 5 AS BIGINT) AS target
        FROM counts
    ),
    appo AS (
        SELECT lang, n_lang, iw,
               target * iw // tw AS base,
               target * iw % tw AS remainder,
               target, tw
        FROM counts, tot
    ),
    quota AS (
        SELECT lang, n_lang,
               base + CASE WHEN ROW_NUMBER() OVER (
                               ORDER BY remainder DESC, lang ASC)
                           <= target - SUM(base) OVER ()
                      THEN 1 ELSE 0 END AS quota
        FROM appo
    ),
    ranked AS (
        SELECT d.lang, d.doc_id, q.n_lang, q.quota,
               ROW_NUMBER() OVER (PARTITION BY d.lang
                                  ORDER BY md5(CAST(d.doc_id AS VARCHAR)),
                                           d.doc_id) AS rk
        FROM documents d JOIN quota q ON q.lang = d.lang
    )
    SELECT lang, doc_id, CAST(rk AS BIGINT) AS rk,
           n_lang, CAST(quota AS BIGINT) AS quota
    FROM ranked WHERE rk <= quota
    """,
)
def sample_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPERATURE-SCALED mixture sampling — the multilingual /
    multi-domain rebalancing canon (mT5 / UniMax): per-language
    sampling weights w_l ∝ n_l^τ with τ = 0.5, so high-resource
    languages are down-weighted and the tail is boosted, with an EXACT
    integer quota per stratum via largest-remainder (Hamilton)
    apportionment of a corpus-proportional target (40% of docs).

    Determinism discipline: the weight is floor(sqrt(n_l)) — one
    correctly-rounded SQRT of an exact integer, floored, so the whole
    apportionment (base = target·iw div Σiw, remainders compared as
    exact integers, lang tiebreak) is integer arithmetic both engines
    replay bit-for-bit; within a stratum docs rank by md5(doc_id) —
    restart-stable, partition-layout-independent (the
    sample_group_reservoir hash-rank idiom).

    Scale design: counts are one map-side-combinable agg; the quota
    table is strata-sized and joins back unhinted (AQE broadcasts).
    The per-stratum row_number is the EXACT-quota form — right when
    strata counts are bounded (languages, domains); for unbounded
    strata at 100 TB the hash-THRESHOLD form (sample_stratified_mix)
    trades exact quotas for no per-stratum sort."""
    d = load(spark, sf_dir, "documents").select("doc_id", "lang")
    counts = d.groupBy("lang").agg(F.count("*").alias("n_lang")).select(
        "lang",
        "n_lang",
        F.floor(F.sqrt(F.col("n_lang").cast("double"))).cast("long").alias("iw"),
    )
    tot = counts.agg(
        F.sum("iw").alias("tw"),
        F.expr("sum(n_lang) * 2 div 5").alias("target"),
    )
    appo = counts.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_lang",
        F.expr("target * iw div tw").alias("base"),
        (F.col("target") * F.col("iw") % F.col("tw")).alias("remainder"),
        "target",
    )
    wr = Window.orderBy(F.desc("remainder"), F.asc("lang"))
    quota = appo.select(
        "lang",
        "n_lang",
        (
            F.col("base")
            + F.when(
                F.row_number().over(wr)
                <= F.col("target") - F.sum("base").over(Window.partitionBy()),
                1,
            ).otherwise(0)
        ).alias("quota"),
    )
    wd = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.join(quota, "lang")
        .select(
            "lang",
            "doc_id",
            F.row_number().over(wd).cast("long").alias("rk"),
            "n_lang",
            F.col("quota").cast("long").alias("quota"),
        )
        .filter(F.col("rk") <= F.col("quota"))
    )


@query(
    "sample_group_reservoir",
    oracle="""
    WITH keyed AS (
        SELECT c_mktsegment, c_custkey, c_acctbal,
               md5(CAST(c_custkey AS VARCHAR)) AS hk
        FROM customer
    ),
    ranked AS (
        SELECT c_mktsegment, c_custkey, c_acctbal,
               ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                  ORDER BY hk, c_custkey) AS rn
        FROM keyed
    )
    SELECT c_mktsegment, c_custkey,
           CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS acctbal_cents,
           CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= 10
    ORDER BY c_mktsegment, rn
    """,
)
def sample_group_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-size per-group sample — exactly k rows per
    group, stable across restarts, partition layouts, and engines: the
    distributed stand-in for reservoir sampling that a training-data
    pipeline uses to pull balanced per-domain eval slices.  The "random"
    order is md5 of the unique key (proven cross-engine by fn_hash_md5),
    NOT .sample() whose RNG is partition-layout-dependent and not
    per-group exact.

    Scale design: rank-within-group is one shuffle on the group key; at
    100 TB the pre-filter `hk < bound` (a per-group quantile of the hash
    domain, computable from a count) drops ~all rows before the sort —
    the classic top-k-by-hash pushdown; Spark's partial TakeOrderedAndProject
    within partitions already bounds the per-partition sort to k."""
    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.md5(F.col("c_custkey").cast("string")), F.asc("c_custkey")
    )
    return (
        c.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 10)
        .select(
            "c_mktsegment",
            "c_custkey",
            pin_int(F.col("c_acctbal"), 100)
            .alias("acctbal_cents"),
            "rn",
        )
        .orderBy("c_mktsegment", "rn")
    )


@query(
    "sample_importance_weighted",
    oracle="""
    WITH h AS (
        SELECT doc_id, source, n_chars,
               LEAST(n_chars, 1000) AS weight,
               ((doc_id * 506952114 + 40503) % 2147483647) % 1000 AS bucket
        FROM documents
    )
    SELECT doc_id, source, n_chars,
           CAST(weight AS BIGINT) AS weight,
           CAST(bucket AS BIGINT) AS bucket
    FROM h
    WHERE bucket < weight
    """,
)
def sample_importance_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMPORTANCE-WEIGHTED deterministic sampling — each document kept
    with probability proportional to its weight (here length, capped at
    the modulus; in production a quality score): the corpus-mixing
    primitive that upsamples high-quality domains WITHOUT materializing
    per-row random numbers.  Keep iff ``uhash(doc_id) mod M < weight``
    — restart-stable, partition-layout-independent, exactly
    reproducible by the oracle, and the inclusion probability is
    weight/M by the universal-hash uniformity argument (same family as
    the MinHash seeds, engine/dedup.py: a·x+b mod P with P = 2³¹−1;
    doc_id·a ≤ ~2.5e12 ≪ 2⁶³, ANSI-safe).

    Unlike ``sample_stratified_mix`` (per-stratum fixed rates), the
    rate here varies CONTINUOUSLY per row with the weight column — the
    two keys are the discrete and continuous halves of the sampling
    surface.

    Scale: pure per-row arithmetic, no shuffle, no RNG state; the
    filter pushes to the scan.  Reweighting a 100 TB corpus is a single
    map pass, and the same hash re-draws consistently when weights
    change (doc keeps its uniform draw forever)."""
    d = load(spark, sf_dir, "documents")
    weight = F.least(F.col("n_chars"), F.lit(1000))
    bucket = ((F.col("doc_id") * 506952114 + 40503) % 2147483647) % 1000
    return (
        d.select(
            "doc_id",
            "source",
            "n_chars",
            weight.cast("long").alias("weight"),
            bucket.cast("long").alias("bucket"),
        )
        .filter(F.col("bucket") < F.col("weight"))
    )


@query(
    "sample_weighted_aes",
    oracle="""
    WITH keyed AS (
        SELECT o_orderkey,
               CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents,
               CAST(FLOOR(
                   LN(CAST((o_orderkey * 506952114 + 40503) % 2147483647 + 1
                           AS DOUBLE) / 2147483648)
                   / CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                   * 1000000000 + 0.5) AS BIGINT) AS key_e9
        FROM orders
    ),
    ranked AS (
        SELECT o_orderkey, price_cents, key_e9,
               ROW_NUMBER() OVER (ORDER BY key_e9 DESC, o_orderkey ASC) AS rn
        FROM keyed
    )
    SELECT o_orderkey, price_cents, key_e9, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= 100
    """,
)
def sample_weighted_aes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED sampling WITHOUT replacement via Efraimidis–Spirakis
    A-ES keys — the distributed answer to "draw k rows with probability
    proportional to weight, exactly once each": every row gets the key
    u^(1/w) (equivalently ln(u)/w, monotone for w>0) and the k LARGEST
    keys ARE the weighted sample — no sequential reservoir, no
    rejection loop, no RNG state.  u is a deterministic uniform from
    the repo's universal-hash family ((a·id+b) mod M, +1 over M+1 →
    (0,1]) — restart-stable and replayed exactly by the oracle; the
    weight is the order's price in cents.

    Determinism discipline: ln() is the single transcendental — each
    key is floor-pinned to e9 immediately (text_unigram_logprob
    precedent), ranking rides the pinned integer with an orderkey
    tiebreak, and the division's denominator is an exact integer.

    Scale shape: THE selling point — orderBy+limit plans
    TakeOrderedAndProject (plan-pinned), so every partition keeps only
    its local top-100 and the driver merges |partitions|·100 rows: a
    weighted sample of a 100 TB fact table moves ~nothing through the
    exchange.  The final row_number runs on the 100 surviving rows."""
    o = load(spark, sf_dir, "orders")
    cents = pin_int(F.col("o_totalprice"), 100)
    u = ((F.col("o_orderkey") * 506952114 + 40503) % 2147483647 + 1).cast(
        "double"
    ) / F.lit(2147483648.0)
    key_e9 = pin_int(F.log(u) / cents, 1000000000)
    top = (
        o.select(
            "o_orderkey",
            cents.alias("price_cents"),
            key_e9.alias("key_e9"),
        )
        .orderBy(F.desc("key_e9"), F.asc("o_orderkey"))
        .limit(100)
    )
    w = Window.orderBy(F.desc("key_e9"), F.asc("o_orderkey"))
    return top.withColumn("rn", F.row_number().over(w).cast("long"))


# Poisson(1) CDF scaled to the hash modulus 1_000_003 (thresholds at
# 1e6 precision): P(W < w) boundaries for the deterministic bootstrap
# weights below.  Same literals in the Spark CASE and the oracle SQL.
_BOOT_MOD = 1_000_003
_BOOT_CUM = (367879, 735759, 919699, 981012, 996340, 999406, 999917)
_BOOT_REPS = 20


def _boot_case_sql(h: str) -> str:
    branches = "".join(
        f" WHEN {h} < {c} THEN {w}" for w, c in enumerate(_BOOT_CUM)
    )
    return f"CASE{branches} ELSE 7 END"


@query(
    "sample_bootstrap_ci",
    oracle=f"""
    WITH w AS (
        SELECT t.rep,
               {_boot_case_sql(
                   "(CAST(o_orderkey AS BIGINT) * 2654435761"
                   " + (t.rep + 1) * 97003999) % " + str(_BOOT_MOD)
               )} AS wt,
               CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        FROM orders, range({_BOOT_REPS}) t(rep)
    )
    SELECT CAST(rep AS BIGINT)            AS rep,
           CAST(SUM(wt) AS BIGINT)        AS n_eff,
           CAST(SUM(wt * cents) AS BIGINT) AS total_cents
    FROM w
    GROUP BY rep
    """,
)
def sample_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC POISSON BOOTSTRAP — 20 resampling
    replicates of the order-total sum in ONE pass, the
    confidence-interval machinery for any distributed aggregate
    (Poisson bootstrap / Bag of Little Bootstraps family): replicate r
    weights each row by a Poisson(1)-distributed integer derived from
    hash(key, r), so E[replicate sum] = the true sum and the replicate
    spread estimates the sampling variance — no data is ever copied or
    re-shuffled per replicate.

    Determinism: the weight is a multiplicative-hash residue mapped
    through the integer-scaled Poisson(1) CDF (_BOOT_CUM) — identical
    integer arithmetic on both engines, so the driver hash-proves all
    20 resamples.  (key·2654435761 ≤ 6e6·2.7e9 ≈ 1.6e16 ≪
    2^63 — ANSI-safe.)

    Scale: the ×20 replicate expansion is MAP-SIDE (explode
    over a constant sequence) and collapses in the partial aggregate
    before the exchange — each partition emits ≤20 rows per replicate
    whatever its size, so the shuffle carries replicates, not data.
    The naive alternative (R shuffled samples) moves the table R
    times."""
    o = load(spark, sf_dir, "orders")
    cents = pin_int(F.col("o_totalprice"), 100)
    rows = o.select(
        F.col("o_orderkey").cast("long").alias("k"),
        cents.alias("cents"),
        F.explode(
            F.sequence(F.lit(0), F.lit(_BOOT_REPS - 1))
        ).alias("rep"),
    )
    h = (
        F.col("k") * F.lit(2654435761)
        + (F.col("rep") + 1) * F.lit(97003999)
    ) % _BOOT_MOD
    wt = F.lit(7).cast("long")
    for w, c in reversed(list(enumerate(_BOOT_CUM))):
        wt = F.when(h < c, w).otherwise(wt)
    return (
        rows.select(F.col("rep").cast("long").alias("rep"),
                    wt.cast("long").alias("wt"), "cents")
        .groupBy("rep")
        .agg(
            F.sum("wt").alias("n_eff"),
            F.sum(F.col("wt") * F.col("cents")).alias("total_cents"),
        )
    )


@query(
    "sample_aqp_estimate",
    oracle="""
    WITH s AS (
        SELECT o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS s_n,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS s_cents
        FROM orders
        WHERE (CAST(o_orderkey AS BIGINT) * 2654435761) % 1048576 < 10486
        GROUP BY o_orderstatus
    ),
    t AS (
        SELECT o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS t_n,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS t_cents
        FROM orders
        GROUP BY o_orderstatus
    )
    SELECT t.o_orderstatus AS status,
           t_n,
           CAST(s_n * 1048576 // 10486 AS BIGINT)          AS est_n,
           CAST(ABS(s_n * 1048576 // 10486 - t_n) * 1000000 // t_n
                AS BIGINT)                                  AS err_n_ppm,
           t_cents,
           CAST(s_cents * 1048576 // 10486 AS BIGINT)       AS est_cents,
           CAST(ABS(s_cents * 1048576 // 10486 - t_cents) * 1000000
                // t_cents AS BIGINT)                        AS err_cents_ppm
    FROM t LEFT JOIN s ON t.o_orderstatus = s.o_orderstatus
    """,
)
def sample_aqp_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPROXIMATE QUERY PROCESSING by deterministic hash sampling: a
    ~1% sample (multiplicative hash of the key into a 2^20 ring,
    keep < 10486) answers per-status COUNT and SUM, scaled back up in
    EXACT integer arithmetic, side-by-side with ground truth and the
    ppm error — the accuracy report that decides whether a dashboard
    can run on the sample.  Hash sampling (vs row-position TABLESAMPLE)
    is restart-stable and join-consistent: the same keys sample on
    every engine, which is what makes this oracle-provable at all.

    Overflow discipline: scale-up multiplies the SAMPLE aggregate
    (100× smaller than the total — s_cents·2^20 ≈ 8e16 ≪ 2^63 even at
    sf1); the naive total·2^20 would overflow first.

    Scale: two combinable aggregates over one scan pattern (Catalyst
    reads orders twice — at 100 TB you'd compute both from one pass
    with conditional aggregation; kept as two scans here so the sample
    predicate PUSHES DOWN and the sampled branch reads ~1% of rows,
    which is the entire point of AQP).  The final join is 3 rows."""
    o = load(spark, sf_dir, "orders")
    cents = pin_int(F.col("o_totalprice"), 100)
    in_sample = (
        F.col("o_orderkey").cast("long") * F.lit(2654435761)
    ) % 1048576 < 10486
    s = (
        o.filter(in_sample)
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("s_n"), F.sum(cents).alias("s_cents"))
    )
    t = o.groupBy("o_orderstatus").agg(
        F.count("*").alias("t_n"), F.sum(cents).alias("t_cents")
    )
    j = t.join(F.broadcast(s), "o_orderstatus", "left")
    est_n = F.expr("s_n * 1048576 div 10486")
    est_c = F.expr("s_cents * 1048576 div 10486")
    # integer div on both sides (ADVICE r5: '/'+cast truncates toward
    # zero, '//' floors — equivalent only for positive operands; keep
    # the engines structurally identical)
    return j.select(
        F.col("o_orderstatus").alias("status"),
        "t_n",
        est_n.cast("long").alias("est_n"),
        F.expr("abs(s_n * 1048576 div 10486 - t_n) * 1000000 div t_n")
        .cast("long")
        .alias("err_n_ppm"),
        "t_cents",
        est_c.cast("long").alias("est_cents"),
        F.expr(
            "abs(s_cents * 1048576 div 10486 - t_cents) * 1000000"
            " div t_cents"
        )
        .cast("long")
        .alias("err_cents_ppm"),
    )


@query(
    "set_union_by_name_evolve",
    oracle="""
    SELECT * FROM (
        SELECT c_custkey AS id,
               c_mktsegment AS segment,
               CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents,
               CAST(NULL AS BIGINT) AS order_cents
        FROM customer WHERE c_custkey % 7 = 0
        UNION ALL BY NAME
        SELECT o_custkey AS id,
               CAST(NULL AS VARCHAR) AS segment,
               CAST(NULL AS BIGINT) AS bal_cents,
               CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS order_cents
        FROM orders WHERE o_orderkey % 53 = 0
    )
    """,
)
def set_union_by_name_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCHEMA-EVOLVING UNION (`unionByName(allowMissingColumns=True)`)
    — combining relations whose column sets drifted (an old and a new
    snapshot of a feed): columns align BY NAME, not position, and each
    side's missing columns fill with NULL — the safe evolution
    semantics positional UNION silently corrupts (`set_union_all`
    would zip mismatched columns together).  Oracle is DuckDB's
    `UNION ALL BY NAME`, the same semantics; the Spark side passes two
    genuinely different schemas and lets the API do the padding.

    Scale: a union is plan-level concatenation — no shuffle, no data
    movement; the NULL padding is a projection on each side."""
    cust = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 7 == 0)
        .select(
            F.col("c_custkey").alias("id"),
            F.col("c_mktsegment").alias("segment"),
            pin_int(F.col("c_acctbal"), 100)
            .alias("bal_cents"),
        )
    )
    orders = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 53 == 0)
        .select(
            F.col("o_custkey").alias("id"),
            pin_int(F.col("o_totalprice"), 100)
            .alias("order_cents"),
        )
    )
    return cust.unionByName(orders, allowMissingColumns=True)
